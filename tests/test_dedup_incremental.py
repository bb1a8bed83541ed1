"""Cross-batch incremental MinHash dedup (operators/dedup.py
incremental_minhash_dedup): batch-split invariance against the one-shot
pipeline, first-batch bootstrap, and re-ingest idempotence."""

from __future__ import annotations

from dbt_demo_spark.operators import dedup
from dbt_demo_spark.sources.parquet import load_table
from tests.conftest import SF_GATE, file_scans_since, last_execution_id

THRESHOLD = 0.5


def test_read_index_reads_legacy_flat_layout(spark, tmp_path):
    """Indexes written before the atomic-directory commit kept part files at
    the index root; read_index (recursiveFileLookup) must read BOTH that
    flat layout and the batch_* subdirs, mixed in one dir."""
    import pyspark.sql.functions as F

    from dbt_demo_spark.operators.shingle_arrow import FEATURES_SCHEMA

    idx = str(tmp_path / "idx")
    row = spark.createDataFrame(
        [(1, [2, 3], [4, 5], 2)], FEATURES_SCHEMA)
    row.write.parquet(idx, mode="append")                     # legacy: root files
    row.select((F.col("doc_id") + 1).alias("doc_id"), "bks", "ss", "n") \
       .write.parquet(f"{idx}/batch_test")                    # new: batch dir
    got = {r.doc_id for r in dedup.read_index(spark, idx).collect()}
    assert got == {1, 2}


def _ids(df, col="doc_id"):
    return {r[col] for r in df.select(col).distinct().collect()}


def test_two_batch_ingest_equals_oneshot(spark, tmp_path):
    docs = load_table(spark, SF_GATE, "documents")
    # one-shot semantics: drop any doc that matches an earlier (lower-id) doc
    pairs = dedup.minhash_near_dups(docs, THRESHOLD)
    oneshot_kept = _ids(docs) - _ids(pairs, "d2")

    idx = str(tmp_path / "mh_index")
    cut = 250
    k1 = dedup.incremental_minhash_dedup(
        docs.filter(f"doc_id < {cut}"), idx, THRESHOLD)
    k2 = dedup.incremental_minhash_dedup(
        docs.filter(f"doc_id >= {cut}"), idx, THRESHOLD)
    assert _ids(k1) | _ids(k2) == oneshot_kept
    # sanity: the corpus has planted dups, so the operator actually dropped
    assert len(oneshot_kept) < docs.count()


def test_index_band_rows_scanned_once_per_batch(spark, tmp_path):
    """A batch against a non-empty index scans the index's band rows
    (its ``bks`` column) in ONE executed plan: the cross pairs are
    materialized once and feed both the already-ingested ids and the
    cross candidates."""
    docs = load_table(spark, SF_GATE, "documents")
    idx = str(tmp_path / "mh_index")
    dedup.incremental_minhash_dedup(docs.filter("doc_id < 250"), idx,
                                    THRESHOLD)
    since = last_execution_id(spark)
    kept = dedup.incremental_minhash_dedup(docs.filter("doc_id >= 250"),
                                           idx, THRESHOLD)
    plans = file_scans_since(spark, since)
    assert sum(any(loc.endswith(idx) and "bks:" in schema
                   for loc, schema in scans) for scans in plans) == 1
    assert 0 < kept.count() < docs.filter("doc_id >= 250").count()


def test_reingest_is_fully_dropped(spark, tmp_path):
    """Re-ingesting an already-indexed batch must admit nothing: every doc
    self-matches its own fingerprints at Jaccard 1.0."""
    docs = load_table(spark, SF_GATE, "documents").filter("doc_id < 100")
    idx = str(tmp_path / "mh_index")
    first = dedup.incremental_minhash_dedup(docs, idx, THRESHOLD)
    assert first.count() > 0
    again = dedup.incremental_minhash_dedup(docs, idx, THRESHOLD)
    assert again.count() == 0


def _mini_docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long")


def test_short_docs_indexed_and_replay_inert(spark, tmp_path):
    """Docs with < 3 tokens (no shingles) are kept on first ingest but
    STILL indexed via empty feature rows + identity sentinels, so a replay
    of the whole batch admits nothing — the r4 replay hole where short docs
    were re-kept and could clobber a batch partition (ADVICE)."""
    import os

    rows = [(1, "hi", "en", "s", 2), (2, "", "en", "s", 0),
            (3, "the quick brown fox jumps over the dog", "en", "s", 38),
            (4, "an entirely different longer sentence about spark", "en", "s", 49)]
    idx = str(tmp_path / "idx")
    first = dedup.incremental_minhash_dedup(_mini_docs(spark, rows), idx, THRESHOLD)
    assert _ids(first) == {1, 2, 3, 4}
    # replay the identical batch: every id self-matches via its sentinel
    again = dedup.incremental_minhash_dedup(_mini_docs(spark, rows), idx, THRESHOLD)
    assert again.count() == 0
    # the index holds each id exactly once (replay appended nothing) and no
    # staging residue survives the commit
    feats = dedup.read_index(spark, idx)
    counts = feats.groupBy("doc_id").count().collect()
    assert {r["doc_id"]: r["count"] for r in counts} == {1: 1, 2: 1, 3: 1, 4: 1}
    assert not [d for d in os.listdir(idx) if d.startswith("_staging")]


def test_non_monotonic_arrival_first_wins(spark, tmp_path):
    """Arrival-order semantics (documented): the indexed doc wins whatever
    its id.  A later batch carrying a LOWER id that near-dups an indexed
    doc is the one dropped — one-shot equivalence is only claimed for
    batches arriving in ascending id order."""
    text = "the quick brown fox jumps over the lazy dog again and again"
    other = "completely unrelated prose concerning distributed query engines"
    idx = str(tmp_path / "idx")
    b1 = _mini_docs(spark, [(100, text, "en", "s", len(text))])
    assert _ids(dedup.incremental_minhash_dedup(b1, idx, THRESHOLD)) == {100}
    b2 = _mini_docs(spark, [(5, text, "en", "s", len(text)),
                            (6, other, "en", "s", len(other))])
    kept = dedup.incremental_minhash_dedup(b2, idx, THRESHOLD)
    assert _ids(kept) == {6}  # 5 loses to the already-indexed 100


# ---------------------------------------------------------------------------
# Cross-batch passage dedup (X53 — the passage-hash index)
# ---------------------------------------------------------------------------


def _pd_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_incremental_passage_two_batches_equal_one_shot(spark, tmp_path):
    """Ascending-id batches through the passage index == one-shot
    passage_dedup over the union, doc for doc (the split-invariance
    contract the doc-level incremental dedup pins)."""
    from dbt_demo_spark.operators.dedup import (PASSAGE_TOKENS,
                                                incremental_passage_dedup,
                                                passage_dedup)

    w = PASSAGE_TOKENS
    boiler = " ".join(f"b{i}" for i in range(w))
    uniq = [" ".join(f"u{b}_{i}" for i in range(w)) for b in range(4)]
    b1 = [(0, f"{boiler} {uniq[0]}"), (1, f"{boiler} {uniq[1]}")]
    b2 = [(2, f"{boiler} {uniq[2]}"),     # boiler seen in batch 1 -> cut
          (3, uniq[1]),                   # whole passage seen -> NULL
          (4, f"{uniq[3]} fresh tail")]
    idx = str(tmp_path / "pidx")

    one_shot = {r.doc_id: (r.n_passages, r.n_kept, r.clean_text)
                for r in passage_dedup(_pd_docs(spark, b1 + b2)).collect()}
    inc1 = {r.doc_id: (r.n_passages, r.n_kept, r.clean_text)
            for r in incremental_passage_dedup(_pd_docs(spark, b1),
                                               idx).collect()}
    inc2 = {r.doc_id: (r.n_passages, r.n_kept, r.clean_text)
            for r in incremental_passage_dedup(_pd_docs(spark, b2),
                                               idx).collect()}
    assert {**inc1, **inc2} == one_shot
    assert inc2[3][2] is None             # cross-batch whole-dup


def test_incremental_passage_replay_is_inert(spark, tmp_path):
    """Re-ingesting a committed batch returns NOTHING (id sentinels), and
    the index gains no rows — the crash-after-commit replay story."""
    import os

    from dbt_demo_spark.operators.dedup import (incremental_passage_dedup,
                                                read_passage_index)

    idx = str(tmp_path / "pidx")
    batch = _pd_docs(spark, [(0, "alpha beta gamma"), (1, "delta words")])
    first = incremental_passage_dedup(batch, idx).collect()
    assert len(first) == 2
    n_rows = read_passage_index(spark, idx).count()
    n_dirs = len(os.listdir(idx))

    replay = incremental_passage_dedup(batch, idx).collect()
    assert replay == []
    # the replay commits only an (empty) batch dir — no new index keys
    assert read_passage_index(spark, idx).count() == n_rows
    assert len(os.listdir(idx)) == n_dirs + 1


def test_incremental_passage_reclaims_crashed_staging(spark, tmp_path):
    import os

    from dbt_demo_spark.operators.dedup import incremental_passage_dedup

    idx = str(tmp_path / "pidx")
    os.makedirs(os.path.join(idx, "_staging_deadbeef"))
    incremental_passage_dedup(_pd_docs(spark, [(0, "a b c")]), idx).collect()
    assert not [d for d in os.listdir(idx) if d.startswith("_staging_")]


def test_incremental_passage_sink_runs_before_commit(spark, tmp_path):
    """A sink that raises leaves the index untouched: the replay then
    reproduces the identical output (crash-BEFORE-commit story)."""
    import os

    import pytest

    from dbt_demo_spark.operators.dedup import incremental_passage_dedup

    idx = str(tmp_path / "pidx")
    batch = _pd_docs(spark, [(0, "some words here"), (1, "other words")])

    def bad_sink(kept):
        raise RuntimeError("sink crash")

    with pytest.raises(RuntimeError, match="sink crash"):
        incremental_passage_dedup(batch, idx, sink=bad_sink)
    assert not [d for d in os.listdir(idx) if d.startswith("batch_")]

    got = {r.doc_id: r.clean_text
           for r in incremental_passage_dedup(batch, idx).collect()}
    assert got == {0: "some words here", 1: "other words"}


def test_compact_passage_index_preserves_semantics(spark, tmp_path):
    """Compaction merges N batch dirs into one with the key set intact:
    the next batch dedups exactly as it would have against the
    uncompacted index."""
    import os

    from dbt_demo_spark.operators.dedup import (compact_passage_index,
                                                incremental_passage_dedup,
                                                read_passage_index)

    idx = str(tmp_path / "pidx")
    incremental_passage_dedup(_pd_docs(spark, [(0, "alpha beta")]),
                              idx).collect()
    incremental_passage_dedup(_pd_docs(spark, [(1, "gamma delta")]),
                              idx).collect()
    keys = {(r.kind, r.key) for r in read_passage_index(spark, idx).collect()}

    n = compact_passage_index(spark, idx)
    assert n == 2
    assert len([d for d in os.listdir(idx)
                if d.startswith("batch_")]) == 1
    assert {(r.kind, r.key)
            for r in read_passage_index(spark, idx).collect()} == keys

    # a replayed batch is still inert; a seen passage is still cut
    assert incremental_passage_dedup(_pd_docs(spark, [(0, "alpha beta")]),
                                     idx).collect() == []
    [r] = incremental_passage_dedup(
        _pd_docs(spark, [(2, "alpha beta")]), idx).collect()
    assert r.clean_text is None          # whole-dup across compaction

    assert compact_passage_index(spark, idx, min_dirs=99) == 0


# ---------------------------------------------------------------------------
# Cross-batch edit-distance dedup (X59)
# ---------------------------------------------------------------------------

_BASE = ("the quick brown fox jumps over the lazy dog near the old barn "
         "while the farmer watches from the creaky wooden porch at dusk")


def _ocr_corpus(spark):
    """Planted OCR-noise corpus: templated variants with small character
    damage (the case token-set measures under-read), plus distinct docs."""
    rows = [
        (0, _BASE),
        (1, _BASE.replace("quick", "qujck")),                # 1 edit of 0
        (2, _BASE.replace("lazy", "hazy").replace("dusk", "dawn")),  # 4 edits
        (3, "completely different text about catalyst plans and shuffle "
            "exchanges in a distributed analytics engine running at scale"),
        (4, _BASE.replace("brown", "btown").replace("barn", "bam ")),  # 3
        (5, "another unrelated document describing parquet footers and "
            "row group statistics used for data skipping during scans!!"),
        (6, _BASE.replace("farmer", "fanner")),              # 2 edits of 0
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_incremental_edit_distance_two_batches_equal_one_shot(
        spark, tmp_path):
    docs = _ocr_corpus(spark)
    k = 6
    pairs = dedup.edit_distance_near_dups_qchunk(docs, k)
    oneshot_kept = _ids(docs) - _ids(pairs, "d2")
    assert len(oneshot_kept) < docs.count()    # planted dups really drop

    idx = str(tmp_path / "ed_index")
    # q sized for the CORPUS length floor (the documented production
    # path): the first batch alone would pick a larger q that later,
    # shorter docs break — the param guard test pins that failure mode
    k1 = dedup.incremental_edit_distance_dedup(
        docs.filter("doc_id < 3"), idx, max_dist=k, q=16)
    k2 = dedup.incremental_edit_distance_dedup(
        docs.filter("doc_id >= 3"), idx)       # params come from _meta.json
    assert _ids(k1) | _ids(k2) == oneshot_kept


def test_incremental_edit_distance_replay_inert_and_sink_before_commit(
        spark, tmp_path):
    docs = _ocr_corpus(spark)
    idx = str(tmp_path / "ed_index")
    sunk = []
    first = dedup.incremental_edit_distance_dedup(
        docs, idx, max_dist=6, sink=lambda kept: sunk.append(_ids(kept)))
    assert sunk == [_ids(first)]               # sink saw the kept set
    n_batches = len([d for d in __import__("os").listdir(idx)
                     if d.startswith("batch_")])
    # replay: nothing admitted, nothing re-appended
    again = dedup.incremental_edit_distance_dedup(docs, idx)
    assert again.count() == 0
    assert len([d for d in __import__("os").listdir(idx)
                if d.startswith("batch_")]) == n_batches


def test_incremental_edit_distance_param_guards(spark, tmp_path):
    docs = _ocr_corpus(spark)
    idx = str(tmp_path / "ed_index")
    dedup.incremental_edit_distance_dedup(docs, idx, max_dist=6)
    import pytest

    with pytest.raises(ValueError, match="max_dist"):
        dedup.incremental_edit_distance_dedup(docs, idx, max_dist=3)
    # a later batch whose shortest doc breaks the pigeonhole bound raises
    shorty = spark.createDataFrame([(99, "tiny doc")],
                                   "doc_id long, text string")
    with pytest.raises(ValueError, match="pigeonhole"):
        dedup.incremental_edit_distance_dedup(shorty, idx)


# ---------------------------------------------------------------------------
# Cross-batch SimHash dedup (X63)
# ---------------------------------------------------------------------------


def test_simhash_block_pairs_complete_vs_bruteforce(spark):
    """The block-equality candidate join is COMPLETE for hamming <= k
    (pigeonhole): batch pair set == brute-force all-pairs hamming."""
    import pyspark.sql.functions as F

    docs = load_table(spark, SF_GATE, "documents").filter("doc_id < 400")
    k, n_bits = 3, 32
    got = {(r.d1, r.d2): r.hamming
           for r in dedup.simhash_near_dup_pairs(docs, k, n_bits).collect()}
    fps = dedup.simhash(docs, n_bits=n_bits)
    a, b = fps.alias("a"), fps.alias("b")
    want = {(r.d1, r.d2): r.h for r in
            a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
            .select(F.col("a.doc_id").alias("d1"),
                    F.col("b.doc_id").alias("d2"),
                    F.bit_count(F.col("a.simhash")
                                .bitwiseXOR(F.col("b.simhash"))).alias("h"))
            .filter(F.col("h") <= k).collect()}
    assert got == want
    assert want  # planted dups: the corpus really has close fingerprints


def test_incremental_simhash_two_batches_equal_one_shot(spark, tmp_path):
    docs = load_table(spark, SF_GATE, "documents").filter("doc_id < 400")
    k = 3
    pairs = dedup.simhash_near_dup_pairs(docs, k)
    oneshot_kept = _ids(docs) - _ids(pairs, "d2")
    assert len(oneshot_kept) < docs.count()

    idx = str(tmp_path / "sh_index")
    k1 = dedup.incremental_simhash_dedup(
        docs.filter("doc_id < 200"), idx, max_hamming=k)
    k2 = dedup.incremental_simhash_dedup(
        docs.filter("doc_id >= 200"), idx)      # params from _meta.json
    assert _ids(k1) | _ids(k2) == oneshot_kept


def test_incremental_simhash_replay_inert_and_guards(spark, tmp_path):
    import os

    import pytest

    docs = load_table(spark, SF_GATE, "documents").filter("doc_id < 100")
    idx = str(tmp_path / "sh_index")
    sunk = []
    first = dedup.incremental_simhash_dedup(
        docs, idx, max_hamming=3,
        sink=lambda kept: sunk.append(_ids(kept)))
    assert sunk == [_ids(first)]
    n = len([d for d in os.listdir(idx) if d.startswith("batch_")])
    again = dedup.incremental_simhash_dedup(docs, idx)
    assert again.count() == 0
    assert len([d for d in os.listdir(idx)
                if d.startswith("batch_")]) == n
    with pytest.raises(ValueError, match="max_hamming"):
        dedup.incremental_simhash_dedup(docs, idx, max_hamming=5)
