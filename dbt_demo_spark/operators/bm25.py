"""Persisted BM25 corpus-statistics index (r13, VERDICT r12 item 6).

The catalog row ``corpus_bm25_topk`` (queries/text_filters.py, X98
[public knowledge: Robertson & Zaragoza 2009]) used to recompute the
corpus statistics — N, total token length, per-term document
frequencies — on every execution.  That is fine for a one-shot batch
query, but a
retrieval-scoring service queries the SAME corpus many times: the stats
deserve the train-once / serve-many lifecycle the IVF/PQ/LSH family and
the incremental dedup indexes already have (operators/ivf.py,
operators/dedup.py ``incremental_*``).

Index layout (all plain parquet under one directory):

  <path>/scalars   one row  — n_docs (BIGINT), sum_dl (BIGINT)
  <path>/term_df   (term STRING, df BIGINT) — FULL-VOCABULARY document
                   frequencies, so any future query term set is
                   servable, not just the one the gate row pins

100 TB shape:

  * build: one corpus scan; per-document DISTINCT tokens explode into a
    (term) groupBy — the one vocabulary-grain shuffle, paid at build.
    The vocabulary is orders of magnitude smaller than the corpus
    (Heaps' law [public knowledge]), so the shuffled frame is summary-
    sized, never fact-sized.
  * ingest (incremental maintenance): the NEW BATCH alone is scanned
    and aggregated; the existing index is read and sum-merged on the
    term key — a vocabulary-grain shuffle of index+batch-DF frames,
    never a corpus re-scan.  Scalars add.  The swap is staged
    (write-new-then-rename), so a reader never sees a half-written
    index.
  * serve: the scoring query reads ONLY its |query|-many term rows from
    term_df (predicate pushdown on the term column) plus the 1-row
    scalars — a metadata-weight read.  The per-document tf/dl work is
    row-local; only the stats pass is replaced.

Exactness: df/N/sum_dl are integer partials under union — a two-batch
ingest reproduces the one-shot build bit-for-bit (pinned in
tests/test_bm25_index.py), so the served scores equal the DuckDB
oracle's inline-stats scores on the same corpus.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..functions.numeric import round2
from ..functions.text import tokens


@dataclass(frozen=True)
class Bm25StatsIndex:
    """Handle to a persisted BM25 corpus-stats index directory."""
    path: str

    @property
    def scalars_path(self) -> str:
        return os.path.join(self.path, "scalars")

    @property
    def term_df_path(self) -> str:
        return os.path.join(self.path, "term_df")

    @property
    def batches_path(self) -> str:
        return os.path.join(self.path, "batches.json")

    def ingested_batches(self) -> set:
        """Batch ids already folded in — the exactly-once bookkeeping for
        the streaming maintenance path.  Lives INSIDE the index dir so
        the staged swap commits stats and bookkeeping atomically: a
        replayed micro-batch either sees its id here (post-commit
        replay, no-op) or sees an index that never counted it
        (pre-commit replay, identical merge).  Protocol:
        core/atomic.py (the ONE shared implementation)."""
        from ..core.atomic import read_batch_ids
        return read_batch_ids(self.batches_path)


def _batch_stats(docs: DataFrame, text_col: str):
    """(scalars_df, term_df_df) aggregated from one batch of documents."""
    toks = tokens(F.col(text_col))
    base = docs.select(F.size(toks).alias("__dl"),
                       F.array_distinct(toks).alias("__terms"))
    scalars = base.agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                       F.sum("__dl").cast("long").alias("sum_dl"))
    term_df = (base.select(F.explode("__terms").alias("term"))
               .groupBy("term")
               .agg(F.count(F.lit(1)).cast("long").alias("df")))
    return scalars, term_df


def _write_batches(idx: Bm25StatsIndex, ids: set) -> None:
    from ..core.atomic import write_batch_ids
    if not ids:
        return  # absent file == nothing ingested (non-streaming builds)
    write_batch_ids(idx.batches_path, ids)


def build_bm25_stats(docs: DataFrame, path: str, text_col: str = "text",
                     batch_id: int | None = None) -> Bm25StatsIndex:
    """Build the index from scratch (overwrites ``path``).  Staged like
    the ingest path so the FIRST streaming batch is also replay-safe: a
    crash mid-build leaves either the prior index or nothing — never a
    half-built index whose missing batch bookkeeping would let a replay
    double-count."""
    scalars, term_df = _batch_stats(docs, text_col)
    stage = path + "__stage"
    shutil.rmtree(stage, ignore_errors=True)
    sidx = Bm25StatsIndex(stage)
    scalars.write.mode("overwrite").parquet(sidx.scalars_path)
    term_df.write.mode("overwrite").parquet(sidx.term_df_path)
    _write_batches(sidx, set() if batch_id is None else {batch_id})
    shutil.rmtree(path, ignore_errors=True)
    os.replace(stage, path)
    return Bm25StatsIndex(path)


def ingest_bm25_stats(new_docs: DataFrame, path: str,
                      text_col: str = "text",
                      batch_id: int | None = None) -> Bm25StatsIndex:
    """Incrementally fold one NEW batch into an existing index (builds
    fresh if ``path`` has no index yet).  Only the batch is scanned;
    the merge is a vocabulary-grain sum on the term key.  Staged swap:
    the merged index is written beside the live one and renamed into
    place, so a concurrent reader never sees partial state.

    ``batch_id`` (the streaming maintenance path, streaming/ingest.py
    bm25_stats_maintenance): exactly-once under micro-batch replay.
    The id set rides INSIDE the swapped directory, so stats and
    bookkeeping commit together — a replay after the swap finds its id
    and no-ops; a replay after a crash BEFORE the swap merges against
    an index that never counted the batch, producing the identical
    result.  The commit itself is TWO renames (live→__old, stage→live),
    not one: a crash between them leaves no index at ``path`` but the
    full prior index at ``path + '__old'`` — the missing-index branch
    below recovers from that backup before merging (ADVICE r13), so a
    replay in that window still converges instead of silently
    rebuilding from the replayed batch alone.  Double-count remains
    impossible; the only non-replay-safe state would be losing BOTH
    directories at once, which no single crash point produces."""
    from ..core.atomic import restore_crashed_backup, swap_commit

    idx = Bm25StatsIndex(path)
    if not os.path.isdir(idx.scalars_path):
        # between-renames crash window: restore __old and fall through
        # to the normal merge (core/atomic.py documents the argument);
        # otherwise this is a genuine fresh build
        if not restore_crashed_backup(
                path, lambda b: os.path.isdir(
                    Bm25StatsIndex(b).scalars_path)):
            return build_bm25_stats(new_docs, path, text_col, batch_id)
    done = idx.ingested_batches()
    if batch_id is not None and batch_id in done:
        return idx  # post-commit replay: already counted
    spark = new_docs.sparkSession
    b_scalars, b_term_df = _batch_stats(new_docs, text_col)
    old_scalars = spark.read.parquet(idx.scalars_path)
    old_term_df = spark.read.parquet(idx.term_df_path)
    merged_scalars = (old_scalars.unionByName(b_scalars)
                      .agg(F.sum("n_docs").cast("long").alias("n_docs"),
                           F.sum("sum_dl").cast("long").alias("sum_dl")))
    merged_term_df = (old_term_df.unionByName(b_term_df)
                      .groupBy("term")
                      .agg(F.sum("df").cast("long").alias("df")))
    stage = path + "__stage"
    shutil.rmtree(stage, ignore_errors=True)
    sidx = Bm25StatsIndex(stage)
    merged_scalars.write.mode("overwrite").parquet(sidx.scalars_path)
    merged_term_df.write.mode("overwrite").parquet(sidx.term_df_path)
    _write_batches(sidx, done | ({batch_id} if batch_id is not None
                                 else set()))
    swap_commit(path, stage)
    return idx


def bm25_topk_served(spark: SparkSession, docs: DataFrame,
                     index: Bm25StatsIndex, terms: tuple[str, ...],
                     k: int = 20, k1: float = 1.2,
                     b: float = 0.75) -> DataFrame:
    """BM25 top-k over ``docs`` with corpus stats SERVED from the
    persisted index instead of recomputed: the stats read is
    |query|-many term_df rows (term-predicate pushdown) plus one scalar
    row — both bounded driver-side artifacts (same collect policy as
    the frozen IVF/PQ serving paths), embedded as plan literals so the
    scoring job is a single corpus scan with zero extra passes.  A term
    absent from the index has df=0 (its contribution uses the standard
    +0.5 smoothing, identical to the DuckDB oracle's treatment of a
    term no document contains)."""
    n_docs, sum_dl = spark.read.parquet(index.scalars_path).first()
    df_rows = (spark.read.parquet(index.term_df_path)
               .filter(F.col("term").isin(*terms)).collect())
    df_by_term = {r.term: r.df for r in df_rows}
    avgdl = float(sum_dl) / float(n_docs)

    toks = tokens(F.col("text"))

    def _tf(term: str):
        return F.size(F.filter(toks, lambda x: x == F.lit(term)))

    # The corpus stats are substituted as literals, but the score stays
    # a JVM expression in the oracle's order (F.log, then the same
    # divide chain) — a Python-side math.log would risk a last-ulp
    # divergence against the JVM's Math.log.
    contribs = None
    for t in terms:
        tf = _tf(t)
        dfv = float(df_by_term.get(t, 0))
        idf = F.log(F.lit((n_docs - dfv + 0.5) / (dfv + 0.5) + 1.0))
        c = F.when(tf > 0,
                   idf * (tf * (k1 + 1.0))
                   / (tf + k1 * (1.0 - b + b * F.size(toks) / F.lit(avgdl)))
                   ).otherwise(F.lit(0.0))
        contribs = c if contribs is None else contribs + c
    return (docs.select("doc_id", round2(contribs).alias("bm25"))
            .orderBy(F.desc("bm25"), F.asc("doc_id"))
            .limit(k))
