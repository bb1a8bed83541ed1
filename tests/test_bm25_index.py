"""Persisted BM25 corpus-stats index (operators/bm25.py, r13 — VERDICT
r12 item 6): served == the DuckDB oracle on the gate corpus; two-batch
incremental ingest reproduces one-shot stats bit-for-bit; absent terms
contribute zero."""

from __future__ import annotations

import pyspark.sql.functions as F

from dbt_demo_spark.operators.bm25 import (Bm25StatsIndex, bm25_topk_served,
                                           build_bm25_stats,
                                           ingest_bm25_stats)
from dbt_demo_spark.queries.text_filters import (BM25_QUERY_TERMS,
                                                 CORPUS_BM25_ORACLE)
from dbt_demo_spark.sources.parquet import load_table
from dbt_demo_spark.testing import compare, duckdb_connection
from tests.conftest import SF_GATE


def _docs(spark):
    return load_table(spark, SF_GATE, "documents").select("doc_id", "text")


def test_served_matches_inline_on_gate_corpus(spark, tmp_path):
    """The index-served scorer returns the identical ordered k-set and
    scores as the DuckDB oracle, which computes the stats inline from
    the raw table — the stats pass is replaced by a metadata-weight
    index read, nothing else changes."""
    docs = _docs(spark)
    idx = build_bm25_stats(docs, str(tmp_path / "bm25"))
    served = bm25_topk_served(spark, docs, idx, BM25_QUERY_TERMS)
    con = duckdb_connection(SF_GATE)
    res = compare("bm25_topk_served", served, con, CORPUS_BM25_ORACLE)
    assert res.ok, res.detail
    assert ([tuple(r) for r in served.collect()]
            == con.execute(CORPUS_BM25_ORACLE).fetchall())


def test_two_batch_ingest_equals_one_shot(spark, tmp_path):
    """Incremental maintenance: ingesting the corpus in two batches
    yields byte-identical stats to the one-shot build (df/N/sum_dl are
    integer partials under union), so the served scores cannot drift."""
    docs = _docs(spark)
    a = docs.filter(F.col("doc_id") % 2 == 0)
    b = docs.filter(F.col("doc_id") % 2 == 1)

    inc_path = str(tmp_path / "inc")
    ingest_bm25_stats(a, inc_path)     # first ingest = fresh build
    ingest_bm25_stats(b, inc_path)     # second folds the new batch in
    one_path = str(tmp_path / "one")
    build_bm25_stats(docs, one_path)

    inc, one = Bm25StatsIndex(inc_path), Bm25StatsIndex(one_path)
    assert (spark.read.parquet(inc.scalars_path).collect()
            == spark.read.parquet(one.scalars_path).collect())
    tdf = lambda i: sorted(map(tuple, spark.read.parquet(  # noqa: E731
        i.term_df_path).collect()))
    assert tdf(inc) == tdf(one)

    # and the incrementally-maintained index serves the oracle's top-k,
    # in the one-shot index's order
    served_inc = bm25_topk_served(spark, docs, inc, BM25_QUERY_TERMS)
    res = compare("bm25_topk_served_incremental", served_inc,
                  duckdb_connection(SF_GATE), CORPUS_BM25_ORACLE)
    assert res.ok, res.detail
    served_one = bm25_topk_served(spark, docs, one,
                                  BM25_QUERY_TERMS).collect()
    assert ([tuple(r) for r in served_inc.collect()]
            == [tuple(r) for r in served_one])


def test_absent_term_contributes_zero(spark, tmp_path):
    """A query term no document contains (df=0, tf=0 everywhere) leaves
    every score unchanged — the when(tf > 0) guard zeroes such a term
    exactly as the oracle's CASE does."""
    docs = _docs(spark)
    idx = build_bm25_stats(docs, str(tmp_path / "bm25"))
    base = bm25_topk_served(spark, docs, idx, BM25_QUERY_TERMS).collect()
    plus = bm25_topk_served(
        spark, docs, idx, BM25_QUERY_TERMS + ("zzzznotaterm",)).collect()
    assert [tuple(r) for r in plus] == [tuple(r) for r in base]

def test_streaming_maintenance_converges_and_replays(spark, tmp_path):
    """streaming/ingest.py bm25_stats_maintenance: micro-batches of
    landing documents fold into the persisted stats; the final index
    equals the one-shot build, and BOTH replay windows converge — a
    post-commit replay no-ops on its batch id (committed inside the
    staged swap), a pre-commit replay merges into an index that never
    counted the batch."""
    from dbt_demo_spark.operators.bm25 import ingest_bm25_stats
    from dbt_demo_spark.streaming.ingest import (bm25_stats_maintenance,
                                                 read_document_stream)

    docs = load_table(spark, SF_GATE, "documents")
    landing = str(tmp_path / "landing")
    a = docs.filter(F.col("doc_id") % 2 == 0)
    b = docs.filter(F.col("doc_id") % 2 == 1)
    a.write.parquet(landing + "/batch_a")
    b.write.parquet(landing + "/batch_b")

    idx_dir = str(tmp_path / "idx")
    stream = read_document_stream(spark, landing + "/*",
                                  max_files_per_trigger=1)
    q = (bm25_stats_maintenance(stream, idx_dir, str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    one = build_bm25_stats(docs.select("doc_id", "text"),
                           str(tmp_path / "one"))
    streamed = Bm25StatsIndex(idx_dir)
    assert (spark.read.parquet(streamed.scalars_path).collect()
            == spark.read.parquet(one.scalars_path).collect())
    assert len(streamed.ingested_batches()) >= 1

    # post-commit replay: re-invoking an already-committed batch id
    # leaves the stats byte-identical (no double count)
    before = spark.read.parquet(streamed.scalars_path).collect()
    replay_id = max(streamed.ingested_batches())
    ingest_bm25_stats(b, idx_dir, batch_id=replay_id)
    assert spark.read.parquet(streamed.scalars_path).collect() == before

    # pre-commit replay on the FIRST batch: a crash before the staged
    # swap leaves no index at all, so the replayed batch rebuilds to the
    # exact single-batch stats
    fresh = str(tmp_path / "fresh")
    ingest_bm25_stats(a, fresh, batch_id=0)
    once = spark.read.parquet(Bm25StatsIndex(fresh).scalars_path).collect()
    import shutil as _sh
    _sh.rmtree(fresh)                      # crash window: nothing swapped
    ingest_bm25_stats(a, fresh, batch_id=0)   # replay
    assert (spark.read.parquet(Bm25StatsIndex(fresh).scalars_path)
            .collect() == once)

def test_mid_commit_crash_recovers_from_backup(spark, tmp_path):
    """ADVICE r13 (low): the ingest commit is TWO renames (live→__old,
    stage→live); a crash between them leaves no index at ``path`` but
    the full prior index at ``path + '__old'``.  A replayed batch in
    that window must recover the backup and MERGE — the pre-r14 code
    hit the missing-index branch and silently rebuilt from the replayed
    batch alone, discarding all prior corpus stats.  Simulated by
    reproducing the exact crash-window filesystem state by hand."""
    import os
    import shutil as _sh

    docs = _docs(spark)
    a = docs.filter(F.col("doc_id") % 2 == 0)
    b = docs.filter(F.col("doc_id") % 2 == 1)

    path = str(tmp_path / "idx")
    ingest_bm25_stats(a, path, batch_id=0)

    # crash window: live moved to __old, stage (merged a+b) written but
    # never moved in — path is GONE, backup holds batch-a stats, and a
    # stale stage directory sits beside them
    _sh.copytree(path, path + "__stage")       # stand-in stale stage
    os.replace(path, path + "__old")
    assert not os.path.isdir(path)

    # the replayed batch must fold into the RESTORED backup
    ingest_bm25_stats(b, path, batch_id=1)

    one = build_bm25_stats(docs, str(tmp_path / "one"))
    got = spark.read.parquet(Bm25StatsIndex(path).scalars_path).collect()
    want = spark.read.parquet(one.scalars_path).collect()
    assert got == want
    tdf = lambda p: sorted(map(tuple, spark.read.parquet(  # noqa: E731
        Bm25StatsIndex(p).term_df_path).collect()))
    assert tdf(path) == tdf(str(tmp_path / "one"))
    # bookkeeping carried through the recovery: both batch ids present,
    # backup cleaned up by the completed commit
    assert Bm25StatsIndex(path).ingested_batches() == {0, 1}
    assert not os.path.isdir(path + "__old")


def test_ingest_associativity_property(spark, tmp_path):
    """Property (hypothesis): for ANY partition of the corpus into
    batches, sequential ingest reproduces the one-shot stats exactly —
    df/N/sum_dl are integer partials, so batch order and boundaries
    cannot matter."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    docs = _docs(spark).limit(60).cache()
    docs.count()
    one = build_bm25_stats(docs, str(tmp_path / "prop_one"))
    want_scalars = spark.read.parquet(one.scalars_path).collect()
    want_tdf = sorted(map(tuple,
                          spark.read.parquet(one.term_df_path).collect()))
    runs = [0]

    @settings(max_examples=5, deadline=None)
    @given(cuts=st.sets(st.integers(min_value=1, max_value=59),
                        max_size=3))
    def check(cuts):
        runs[0] += 1
        path = str(tmp_path / f"prop_{runs[0]}")
        bounds = sorted(cuts) + [60]
        lo = 0
        for hi in bounds:
            batch = docs.filter((F.col("doc_id") % 60 >= lo)
                                & (F.col("doc_id") % 60 < hi))
            ingest_bm25_stats(batch, path)
            lo = hi
        idx = Bm25StatsIndex(path)
        assert spark.read.parquet(idx.scalars_path).collect() \
            == want_scalars
        assert sorted(map(tuple, spark.read.parquet(
            idx.term_df_path).collect())) == want_tdf

    try:
        check()
    finally:
        docs.unpersist()
