"""Differential + planted-fixture coverage for the corpus-hygiene filters
(queries/text_filters.py): same DuckDB-oracle gate the catalog queries get,
run both on the driver corpus and on a fixture that actually contains
repetition and PII; plus the row-local (zero-Exchange) plan claim."""

from __future__ import annotations

import os

import pytest

from dbt_demo_spark.queries.text_filters import (CORPUS_STATS_ORACLE,
                                                 CORPUS_WEIGHTED_SAMPLE_ORACLE,
                                                 HASH_P, PII_REDACT_ORACLE,
                                                 SAMPLE_GRAN,
                                                 TEXT_REPETITION_ORACLE,
                                                 _SAMPLE_MULT, corpus_stats,
                                                 corpus_weighted_sample,
                                                 pii_redact, repetition_filter,
                                                 source_weighted_sample,
                                                 text_repetition, vocab_topk)
from dbt_demo_spark.queries.text_filters import VOCAB_TOPK_ORACLE
from dbt_demo_spark.testing import compare, duckdb_connection
from tests.conftest import SF_GATE

FIXTURE_DOCS = [
    # (doc_id, text, lang, source, n_chars) — matches the driver's schema
    (0, "spam spam spam spam spam spam spam spam spam spam", "en", "fx", 49),
    (1, "the quick brown fox jumps over the lazy dog tonight", "en", "fx", 51),
    (2, "contact alice.smith+news@example.co.uk or bob@test.io today", "en", "fx", 59),
    (3, "server at 10.0.0.1 and 192.168.255.7 replied to user@10.0.0.1", "en", "fx", 61),
    (4, "one two three one two three one two three four five", "en", "fx", 51),
    (5, "no personal data here just plain words and numbers 42", "en", "fx", 53),
    # short docs: fewer tokens than the n-gram width must yield EMPTY n-gram
    # arrays (not a negative-length slice error) in BOTH engines
    (6, "", "en", "fx", 0),
    (7, "hello", "en", "fx", 5),
    (8, "hi there", "en", "fx", 8),
]


@pytest.fixture(scope="module")
def fixture_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("hygiene")
    df = spark.createDataFrame(
        FIXTURE_DOCS, "doc_id long, text string, lang string, source string, n_chars long")
    df.coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    return str(d)


@pytest.mark.parametrize("fn,oracle", [
    (text_repetition, TEXT_REPETITION_ORACLE),
    (pii_redact, PII_REDACT_ORACLE),
    (corpus_stats, CORPUS_STATS_ORACLE),
    (corpus_weighted_sample, CORPUS_WEIGHTED_SAMPLE_ORACLE),
    (vocab_topk, VOCAB_TOPK_ORACLE),
])
def test_matches_oracle_on_driver_corpus(spark, fn, oracle):
    con = duckdb_connection(SF_GATE)
    res = compare(fn.__name__, fn(spark, SF_GATE), con, oracle)
    assert res.ok, f"{fn.__name__}: {res.detail}"


@pytest.mark.parametrize("fn,oracle", [
    (text_repetition, TEXT_REPETITION_ORACLE),
    (pii_redact, PII_REDACT_ORACLE),
])
def test_matches_oracle_on_planted_fixture(spark, fixture_dir, fn, oracle):
    import duckdb

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{fixture_dir}/documents.parquet/*.parquet')")
    res = compare(fn.__name__, fn(spark, fixture_dir), con, oracle)
    assert res.ok, f"{fn.__name__}: {res.detail}"


def test_repetition_values(spark, fixture_dir):
    rows = {r["doc_id"]: r.asDict()
            for r in text_repetition(spark, fixture_dir).collect()}
    # doc 0 is one token repeated 10x: 1 distinct token, every bigram equal
    assert rows[0]["uniq_token_frac"] == 0.1
    assert rows[0]["dup_bigram_frac"] == 0.89  # round2(1 - 1/9)
    # doc 1 repeats only "the": no repeated bigrams at all
    assert rows[1]["dup_bigram_frac"] == 0.0
    assert rows[1]["dup_trigram_frac"] == 0.0
    # doc 4: "one two three" x3 + tail
    assert rows[4]["dup_trigram_frac"] > 0.2
    # short docs: no bigrams/trigrams exist -> NULL fractions, no crash
    for d in (6, 7):
        assert rows[d]["n_tokens"] == 1          # split('', ' ') == ['']
        assert rows[d]["dup_bigram_frac"] is None
        assert rows[d]["dup_trigram_frac"] is None
    assert rows[8]["n_tokens"] == 2
    assert rows[8]["dup_bigram_frac"] == 0.0     # exactly one bigram
    assert rows[8]["dup_trigram_frac"] is None


def test_repetition_arrow_twin_bit_identical_to_jvm(spark, fixture_dir):
    """The r14 Arrow serving path must equal the JVM HOF spec path to the
    BIT on every gate-corpus document AND on the degenerate fixture plus a
    NULL-text row (NULL stats, not NaN — the nullable-dtype trap)."""
    from dbt_demo_spark.queries.text_filters import (repetition_stats_arrow,
                                                     repetition_stats_jvm)
    from dbt_demo_spark.sources.parquet import load_table

    frames = [load_table(spark, SF_GATE, "documents"),
              load_table(spark, fixture_dir, "documents"),
              spark.createDataFrame(
                  [(100, None), (101, "a a"), (102, " leading space")],
                  "doc_id long, text string")]
    for docs in frames:
        jvm = sorted(map(tuple, repetition_stats_jvm(docs).collect()))
        arrow = sorted(map(tuple, repetition_stats_arrow(docs).collect()))
        assert jvm == arrow


def test_repetition_filter_keeps_short_docs(spark, fixture_dir):
    """One short/empty doc in an ingest batch must not kill the batch
    (ADVICE r4): short docs have nothing to repeat, so they pass."""
    from dbt_demo_spark.sources.parquet import load_table

    docs = load_table(spark, fixture_dir, "documents")
    kept = {r["doc_id"] for r in repetition_filter(docs).collect()}
    assert {6, 7, 8} <= kept


def test_repetition_filter_drops_boilerplate(spark, fixture_dir):
    from dbt_demo_spark.sources.parquet import load_table

    docs = load_table(spark, fixture_dir, "documents")
    kept = {r["doc_id"] for r in repetition_filter(docs).collect()}
    assert 0 not in kept          # pure repetition
    assert {1, 5} <= kept         # clean prose survives


def test_pii_values(spark, fixture_dir):
    rows = {r["doc_id"]: r.asDict()
            for r in pii_redact(spark, fixture_dir).collect()}
    assert rows[2]["emails_found"] == 2
    assert "<EMAIL>" in rows[2]["clean_text"]
    assert "example.co.uk" not in rows[2]["clean_text"]
    # user@10.0.0.1 is NOT an email (numeric TLD) — the IP pass catches it
    assert rows[3]["emails_found"] == 0
    assert rows[3]["ips_found"] == 3
    assert rows[3]["clean_text"].count("<IP>") == 3
    assert rows[5]["emails_found"] == 0 and rows[5]["ips_found"] == 0
    assert rows[5]["clean_text"].endswith("numbers 42")


def test_source_weighted_sample_exact_and_deterministic(spark):
    docs = spark.createDataFrame(
        [(i, "w", "en", "a_src", 1) for i in range(2000)]
        + [(i + 10_000, "w", "en", "b_src", 1) for i in range(2000)],
        "doc_id long, text string, lang string, source string, n_chars long")
    rates = {"a_src": 0.5, "b_src": 1.0}

    def bucket(doc_id):
        return ((doc_id % HASH_P) * _SAMPLE_MULT) % HASH_P % SAMPLE_GRAN

    expect_a = {i for i in range(2000) if bucket(i) < SAMPLE_GRAN // 2}
    got = source_weighted_sample(docs, rates).groupBy("source").count().collect()
    counts = {r["source"]: r["count"] for r in got}
    assert counts["b_src"] == 2000                      # rate 1.0 keeps all
    assert counts["a_src"] == len(expect_a)             # exact hash census
    assert 0.4 < counts["a_src"] / 2000 < 0.6           # and it is ~the rate
    # unlisted sources drop; re-run is bit-identical (no RNG anywhere)
    assert source_weighted_sample(docs, {"b_src": 1.0}).count() == 2000
    again = source_weighted_sample(docs, rates).groupBy("source").count().collect()
    assert {r["source"]: r["count"] for r in again} == counts


def test_row_local_plan_has_no_exchange(spark):
    """The filters must stay a narrow Scan->Project map: any Exchange here
    would shuffle 100 TB for per-row arithmetic.  text_repetition is allowed
    exactly ONE exchange — the `spread` repartition that fans the local
    single-row-group scan across the pool for its interpreted HOF folds
    (a no-op on cluster-width scans); everything above it must stay
    row-local."""
    for fn in (pii_redact, corpus_weighted_sample):
        plan = fn(spark, SF_GATE)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, f"{fn.__name__} shuffles:\n{plan}"
    plan = text_repetition(spark, SF_GATE)._jdf.queryExecution(
        ).executedPlan().toString()
    assert plan.count("Exchange") <= 1, f"text_repetition over-shuffles:\n{plan}"
    if "Exchange" in plan:
        assert "REPARTITION_BY_NUM" in plan, (
            f"text_repetition's exchange is not the spread repartition:\n{plan}")


def test_bm25_topk_matches_oracle_and_plan(spark):
    """X98/X104 BM25 top-k: DuckDB differential at the gate scale
    (identical rounded scores AND identical k-set under the
    rounded-score+doc_id order), plus the scale-shape asserts.  The
    catalog row serves stats from the persisted index as plan LITERALS
    (r13) — its plan must show no explode, no extra exchange at all
    (the stats pass is gone), and TakeOrdered."""
    from dbt_demo_spark.queries.text_filters import (CORPUS_BM25_ORACLE,
                                                     corpus_bm25_topk)

    con = duckdb_connection(SF_GATE)
    out = corpus_bm25_topk(spark, SF_GATE)
    res = compare("corpus_bm25_topk", out, con, CORPUS_BM25_ORACLE)
    assert res.ok, res.detail
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Generate" not in plan          # no explode
    assert "BroadcastExchange" not in plan  # stats are literals now
    assert "Exchange hashpartitioning" not in plan
    assert "TakeOrderedAndProject" in plan  # top-k, not global sort
    # larger scale too: same differential at sf0.1 for the catalog row
    con1 = duckdb_connection("/root/testdata/sf0.1")
    res1 = compare("corpus_bm25_topk_sf01",
                   corpus_bm25_topk(spark, "/root/testdata/sf0.1"),
                   con1, CORPUS_BM25_ORACLE)
    assert res1.ok, res1.detail


def test_lang_id_plan_is_row_local(spark):
    """r12: text_lang_id serves a zero-shuffle row-local vote
    (LANGID_RECEIPT.json, sf1 0.57 -> 0.26s) — no explode and no
    exchange.  Its rows are pinned by the DuckDB oracle
    (test_catalog_parity)."""
    from dbt_demo_spark.queries.llm_pipeline import text_lang_id

    plan = text_lang_id(spark, SF_GATE)._jdf.queryExecution(
        ).executedPlan().toString()
    assert "Exchange" not in plan and "Generate" not in plan
