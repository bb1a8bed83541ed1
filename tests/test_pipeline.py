"""Composition tests for pipeline.clean_corpus: the funnel's observed
counts must agree with running the stage operators independently, the
output must be redacted/split/deduped, and re-ingesting the same batch
must admit nothing (the index remembers)."""

from __future__ import annotations

from dbt_demo_spark.operators import dedup
from dbt_demo_spark.pipeline import clean_corpus
from dbt_demo_spark.queries.text_filters import repetition_filter
from dbt_demo_spark.sources.parquet import load_table
from tests.conftest import SF_GATE, file_scans_since, last_execution_id


def _run(df):
    df.write.format("noop").mode("overwrite").save()


def test_funnel_counts_and_output(spark, tmp_path):
    docs = load_table(spark, SF_GATE, "documents")
    idx = str(tmp_path / "idx")
    clean, obs = clean_corpus(docs, idx)
    _run(clean)
    counts = {k: o.get["rows"] for k, o in obs.items()}

    assert counts["ingested"] == docs.count()
    # stage-by-stage replication with the operators run independently
    keep = dedup.exact_dedup_keep_first(docs).count()
    assert counts["after_exact_dedup"] == keep
    assert counts["after_repetition"] <= counts["after_exact_dedup"]
    assert counts["accepted"] <= counts["after_repetition"]
    assert counts["accepted"] > 0

    rows = clean.collect()
    assert len(rows) == counts["accepted"]
    assert {r["split"] for r in rows} <= {"train", "val", "test"}
    # the 80/10/10 hash split should put the bulk in train
    n_train = sum(r["split"] == "train" for r in rows)
    assert 0.7 < n_train / len(rows) < 0.9


def test_reingest_is_inert(spark, tmp_path):
    docs = load_table(spark, SF_GATE, "documents").filter("doc_id < 200")
    idx = str(tmp_path / "idx")
    first, obs1 = clean_corpus(docs, idx)
    _run(first)
    again, obs2 = clean_corpus(docs, idx)
    _run(again)
    assert obs1["accepted"].get["rows"] > 0
    assert obs2["accepted"].get["rows"] == 0


def test_sampling_stage_composes(spark, tmp_path):
    docs = load_table(spark, SF_GATE, "documents")
    sources = [r["source"] for r in docs.select("source").distinct().collect()]
    rates = {s: 1.0 for s in sources}
    idx = str(tmp_path / "idx")
    clean, obs = clean_corpus(docs, idx, rates=rates)
    _run(clean)
    # rate 1.0 everywhere: the sampling stage must be a no-op
    assert (obs["after_sampling"].get["rows"]
            == obs["after_repetition"].get["rows"])


def test_decontamination_stage_composes(spark, tmp_path):
    """With an eval set drawn from the corpus itself, the decontamination
    stage must drop exactly the reported contaminated ids, and the funnel
    count must agree with running the operator independently."""
    from dbt_demo_spark.operators.decontaminate import contamination_report

    docs = load_table(spark, SF_GATE, "documents")
    ev = docs.filter("doc_id % 97 = 0")
    corpus = docs.filter("doc_id % 97 <> 0")
    idx = str(tmp_path / "idx")
    clean, obs = clean_corpus(corpus, idx, eval_docs=ev)
    _run(clean)
    n_after = obs["after_decontamination"].get["rows"]
    assert n_after <= obs["after_repetition"].get["rows"]

    # independent replication over the same upstream slice
    upstream = repetition_filter(
        corpus.join(dedup.exact_dedup_keep_first(corpus)
                    .selectExpr("keep_id as doc_id"), "doc_id", "left_semi"))
    bad = {r.doc_id for r in contamination_report(upstream, ev).collect()}
    assert n_after == upstream.count() - len(bad)


def test_batch_prefix_executes_once(spark, tmp_path):
    """One batch through every consumer of the row-local prefix — the
    decontamination report, the census ingest, the near-dup
    featurization and the final write — executes ONE plan that scans the
    batch's input file: the prefix is materialized once and each consumer
    reads that.  The eval set lives in its own file so its scans do not
    count."""
    from dbt_demo_spark.operators.quality_frozen import (
        FROZEN_QUALITY_BIAS, FROZEN_QUALITY_WEIGHTS)

    docs = load_table(spark, SF_GATE, "documents")
    batch = str(tmp_path / "batch.parquet")
    evf = str(tmp_path / "eval.parquet")
    docs.filter("doc_id % 97 <> 0").write.parquet(batch)
    docs.filter("doc_id % 97 = 0").write.parquet(evf)
    since = last_execution_id(spark)
    clean, obs = clean_corpus(
        spark.read.parquet(batch), str(tmp_path / "idx"),
        eval_docs=spark.read.parquet(evf), min_matched=50,
        quality_model=(list(FROZEN_QUALITY_WEIGHTS), FROZEN_QUALITY_BIAS),
        min_quality_margin=0.0,
        boilerplate_census_dir=str(tmp_path / "census"),
        boilerplate_batch_id=0)
    clean.write.parquet(str(tmp_path / "out"))
    plans = file_scans_since(spark, since)
    assert sum(any(loc.endswith(batch) for loc, _ in scans)
               for scans in plans) == 1
    counts = {k: o.get["rows"] for k, o in obs.items()}
    assert counts["ingested"] == spark.read.parquet(batch).count()
    assert counts["accepted"] == spark.read.parquet(
        str(tmp_path / "out")).count() > 0


def test_decontamination_sees_raw_text_before_redaction(spark, tmp_path):
    """A leaked eval span CONTAINING an email must still be caught: the
    funnel must decontaminate against raw n-grams before PII redaction
    rewrites them (redact-first would turn the leaked span's grams into
    '<EMAIL>' forms that no longer match the eval set)."""
    ev = spark.createDataFrame(
        [(1000, "contact admin@site.com now for help with billing", "en",
          "fx", 48)],
        "doc_id long, text string, lang string, source string, n_chars long")
    corpus = spark.createDataFrame(
        [(1, "please contact admin@site.com now for help with this", "en",
          "fx", 52),
         (2, "totally unrelated words about mountains and weather today",
          "en", "fx", 57)],
        "doc_id long, text string, lang string, source string, n_chars long")
    clean, _ = clean_corpus(corpus, str(tmp_path / "idx"), eval_docs=ev)
    kept = {r["doc_id"] for r in clean.collect()}
    assert kept == {2}


def test_filters_order_preserves_dedup_input(spark, tmp_path):
    """The repetition filter runs before near-dup: a doc dropped for
    repetition must not appear in the index (its fingerprints would
    otherwise shadow future legitimate docs)."""
    docs = load_table(spark, SF_GATE, "documents")
    survivors = repetition_filter(
        docs.join(
            dedup.exact_dedup_keep_first(docs)
            .selectExpr("keep_id as doc_id"), "doc_id", "left_semi"))
    idx = str(tmp_path / "idx")
    clean, _ = clean_corpus(docs, idx)
    _run(clean)
    from dbt_demo_spark.operators.dedup import read_index
    indexed = {r["doc_id"] for r in read_index(spark, idx)
               .select("doc_id").collect()}
    allowed = {r["doc_id"] for r in survivors.select("doc_id").collect()}
    assert indexed <= allowed


def test_passage_dedup_stage_composes(spark, tmp_path):
    """The optional passage stage rewrites docs to surviving passages,
    drops whole-duplicates, recomputes n_chars, and its funnel count
    replicates running passage_dedup independently on the stage input."""
    import pyspark.sql.functions as F

    w = dedup.PASSAGE_TOKENS
    boiler = " ".join(f"b{i}" for i in range(w))
    fresh_a = " ".join(f"x{i}" for i in range(w))
    fresh_b = " ".join(f"y{i}" for i in range(w))
    docs = spark.createDataFrame(
        [(0, f"{boiler} {fresh_a}", "en", "s0", 0),
         (1, f"{boiler} {fresh_b}", "en", "s0", 0),   # loses the boilerplate
         (2, boiler, "en", "s0", 0)],                 # whole-dup: dropped
        "doc_id long, text string, lang string, source string, n_chars long")

    clean, obs = clean_corpus(docs, str(tmp_path / "idx"),
                              dedup_passages=True,
                              # row-local hygiene would cut the tiny
                              # synthetic docs; neutralize those stages
                              max_dup_trigram_frac=1.0,
                              min_uniq_token_frac=0.0)
    rows = {r.doc_id: r for r in clean.collect()}
    counts = {k: o.get["rows"] for k, o in obs.items()}

    assert counts["after_passage_dedup"] == 2 == len(rows)
    assert rows[0].text == f"{boiler} {fresh_a}"
    assert rows[1].text == fresh_b                   # boilerplate removed
    assert 2 not in rows
    assert rows[1].n_chars == len(fresh_b)           # stat recomputed
    # stage replication: independent operator output agrees
    pd_ref = {r.doc_id: r.clean_text
              for r in dedup.passage_dedup(docs).collect() if r.n_kept > 0}
    assert {k: v.text for k, v in rows.items()} == pd_ref


def test_boilerplate_stage_composes_cross_batch(spark, tmp_path):
    """X109 funnel stage: the batch folds into the persisted hot-line
    census and is stripped against the UPDATED census — so a second
    batch loses chrome whose heat accumulated across BOTH batches, a
    cut the batch-scoped operators cannot make; boilerplate-only docs
    drop with a real funnel count; replaying a batch id is inert on the
    census."""
    import pyspark.sql.functions as F

    from dbt_demo_spark.operators.boilerplate import LineCensusIndex

    schema = ("doc_id long, text string, lang string, source string, "
              "n_chars long")
    mk = lambda rows: spark.createDataFrame(rows, schema)  # noqa: E731
    neutral = dict(max_dup_trigram_frac=1.0, min_uniq_token_frac=0.0)
    census_dir = str(tmp_path / "census")

    # batch 1: HEADER appears in 2 docs — below min_docs=3, nothing hot
    b1 = mk([(0, "HEADER\nalpha body text", "en", "s0", 0),
             (1, "HEADER\nbeta body text", "en", "s0", 0)])
    c1, obs1 = clean_corpus(b1, str(tmp_path / "idx1"),
                            boilerplate_census_dir=census_dir,
                            boilerplate_batch_id=0, **neutral)
    rows1 = {r.doc_id: r.text for r in c1.collect()}
    assert rows1[0] == "HEADER\nalpha body text"     # not hot yet

    # batch 2: one more HEADER doc tips the CROSS-BATCH count to 3 —
    # the new batch is stripped though HEADER appears once within it
    b2 = mk([(2, "HEADER\ngamma body text", "en", "s0", 0),
             (3, "HEADER", "en", "s0", 0)])          # boilerplate-only
    c2, obs2 = clean_corpus(b2, str(tmp_path / "idx2"),
                            boilerplate_census_dir=census_dir,
                            boilerplate_batch_id=1, **neutral)
    rows2 = {r.doc_id: r.text for r in c2.collect()}
    counts2 = {k: o.get["rows"] for k, o in obs2.items()}
    assert rows2[2] == "gamma body text"             # cross-batch cut
    assert 3 not in rows2                            # emptied doc drops
    assert counts2["after_boilerplate"] == 1
    assert {r.doc_id: r.n_chars for r in c2.collect()}[2] == \
        len("gamma body text")                       # stat recomputed

    # census replay: same batch id again leaves the census untouched
    before = sorted(map(tuple, spark.read.parquet(
        LineCensusIndex(census_dir).census_path).collect()))
    c3, _ = clean_corpus(b2, str(tmp_path / "idx3"),
                         boilerplate_census_dir=census_dir,
                         boilerplate_batch_id=1, **neutral)
    _run(c3)
    after = sorted(map(tuple, spark.read.parquet(
        LineCensusIndex(census_dir).census_path).collect()))
    assert after == before
    assert LineCensusIndex(census_dir).ingested_batches() == {0, 1}
