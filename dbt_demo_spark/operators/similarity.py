"""Similarity search over embedding columns (array<float>).

Two paths, both pure DataFrame ops with bit-exact scores
(functions/vectors.py):

  * brute-force top-k — query set x corpus cross join + window rank.
    Exact baseline; cost O(|Q| * |C|).  Right answer when |Q| is small.
  * LSH-bucketed top-k — deterministic random-hyperplane buckets; the
    join keys on bucket id so each query only scores its bucket
    (~|C| / 2^N_PLANES candidates).  The 100 TB path: bucket once, write
    partitioned by bucket, and every later query prunes to one partition.
    Recall < 1.0 by construction; multi-probe = also join neighboring
    buckets (Hamming distance 1 on the bucket id).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from collections.abc import Iterator

import numpy as np
import pandas as pd

from ..functions.vectors import (DIM, N_PLANES, _plane, as_double, dot,
                                 lsh_bucket, norm, probe_buckets)


def _ranked_topk(scored: DataFrame, k: int) -> DataFrame:
    """Deterministic top-k per query: rank on (score desc, neighbor id)."""
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "score")
    )


def _with_norm(vectors: DataFrame, id_col: str, vec_col: str,
               id_alias: str, vec_alias: str, norm_alias: str) -> DataFrame:
    """(id, vec, ||vec||) with the norm computed ONCE per vector instead of
    once per scored pair (cuts ~2/3 of the pairwise flops).  The
    explode-of-one Generate barrier makes `vec` a real attribute so the norm
    fold cannot re-inline the cast per reference.  score = dot/(qn*cn) is
    bit-identical to dot/( sqrt(dot(q,q)) * sqrt(dot(c,c)) ) computed
    pairwise — same expressions on the same inputs."""
    v = as_double(F.col(vec_col))
    return (
        vectors.select(F.col(id_col).alias(id_alias),
                       F.explode(F.array(v)).alias(vec_alias))
        .select(id_alias, vec_alias, norm(F.col(vec_alias)).alias(norm_alias))
    )


def _score(scored: DataFrame) -> DataFrame:
    return (
        scored.filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id",
                (dot(F.col("qv"), F.col("cv"))
                 / (F.col("qn") * F.col("cn"))).alias("score"))
    )


def _vec_matrix(col: "pd.Series") -> np.ndarray:
    """Arrow vector column -> (n, d) float64 matrix.  ``np.stack`` over
    the per-row numpy views Arrow already hands back beats
    ``np.array(col.tolist())`` ~30% (r11 measured 0.465 -> 0.309s on the
    sf0.1 corpus bucketize pass: tolist() re-boxes every element through
    Python floats); ``astype(copy=False)`` is a no-op when the storage is
    already float64, so values are bit-identical either way."""
    vals = col.to_numpy()
    if not len(vals):
        return np.zeros((0, DIM), dtype=np.float64)
    return np.stack(vals).astype(np.float64, copy=False)


def brute_force_topk(queries: DataFrame, corpus: DataFrame, k: int = 5,
                     id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact cosine top-k of each query vector against the corpus.  The
    query side is small by contract — broadcast it so the cartesian product
    is a BroadcastNestedLoopJoin, never a shuffled CartesianProduct."""
    q = _with_norm(queries, id_col, vec_col, "query_id", "qv", "qn")
    c = _with_norm(corpus, id_col, vec_col, "neighbor_id", "cv", "cn")
    return _ranked_topk(_score(F.broadcast(q).crossJoin(c)), k)


def brute_force_topk_arrow(queries: DataFrame, corpus: DataFrame, k: int = 5,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding") -> DataFrame:
    """Exact cosine top-k with Arrow-batched scoring: scores BIT-IDENTICAL
    to ``brute_force_topk`` (pytest-asserted), minus the per-pair
    interpreted-fold cost.

    The JVM form evaluates the zip_with/aggregate dot fold once per PAIR
    through the interpreted expression walker — the same cost that
    motivated ``_with_norm_bucket_arrow``.  Here the query matrix (small by
    contract: these are exactly the rows ``F.broadcast`` would ship) rides
    the task closure, and ONE Arrow pass over the corpus scores each batch
    against all queries with numpy: accumulation runs SEQUENTIALLY over
    dimensions (the aggregate-fold evaluation order) and vectorizes only
    across pairs, so every score equals the JVM fold and the DuckDB oracle
    bit-for-bit.  Each batch pre-selects its local top-k per query by the
    final (score DESC, neighbor_id) order, so the ranking shuffle carries
    O(batches * |Q| * k) narrow rows — never the |Q| x |C| cross product.
    The exact baseline's O(|Q| * |C|) flops are unchanged; only the
    constant moved.  At 100 TB the LSH/IVF paths remain the scale answer."""
    qtbl = (queries.select(F.col(id_col), as_double(F.col(vec_col)).alias("v"))
            .toArrow())
    qids = np.asarray(qtbl[id_col].to_pylist(), dtype=np.int64)
    m = len(qids)
    qmat = np.array(qtbl["v"].to_pylist(), dtype=np.float64)
    if m and (qmat.ndim != 2 or qmat.shape[1] != DIM):
        raise ValueError(f"expected {DIM}-dim query vectors, got {qmat.shape}")
    qsq = np.zeros(m, dtype=np.float64)
    for d in range(DIM):                # sequential in d == the fold order
        qsq += qmat[:, d] * qmat[:, d]
    qn = np.sqrt(qsq)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if m == 0 or not len(pdf):
                continue
            v = _vec_matrix(pdf[vec_col])
            nids = pdf[id_col].to_numpy(dtype=np.int64)
            acc = np.zeros((len(v), m), dtype=np.float64)
            sq = np.zeros(len(v), dtype=np.float64)
            for d in range(DIM):        # sequential in d == the fold order
                acc += v[:, d:d + 1] * qmat[:, d]
                sq += v[:, d] * v[:, d]
            cn = np.sqrt(sq)
            score = acc / (qn[np.newaxis, :] * cn[:, np.newaxis])
            out_q, out_n, out_s = [], [], []
            for j in range(m):
                s, ids = score[:, j], nids
                keep = ids != qids[j]
                s, ids = s[keep], ids[keep]
                top = np.lexsort((ids, -s))[:k]     # (score desc, id asc)
                out_q.append(np.full(len(top), qids[j], dtype=np.int64))
                out_n.append(ids[top])
                out_s.append(s[top])
            yield pd.DataFrame({
                "query_id": np.concatenate(out_q),
                "neighbor_id": np.concatenate(out_n),
                "score": np.concatenate(out_s),
            })

    from ..sources.parquet import spread

    src = spread(
        corpus.select(F.col(id_col), as_double(F.col(vec_col)).alias(vec_col)),
        id_col)
    scored = src.mapInPandas(run, "query_id long, neighbor_id long, score double")
    return _ranked_topk(scored, k)


def _with_norm_bucket_arrow(vectors: DataFrame, id_col: str, vec_col: str,
                            id_alias: str, vec_alias: str, norm_alias: str,
                            bucket_alias: str) -> DataFrame:
    """(id, vec, ||vec||, lsh bucket) via ONE Arrow-batched mapInPandas pass.

    The JVM higher-order-function form evaluates 16 plane dots per row
    through the interpreted expression walker (~0.5 ms/row measured) — the
    one place in this engine where built-in expressions genuinely can't keep
    up.  Here the whole batch is vectorized with numpy while reproducing the
    fold BIT-EXACTLY: accumulation runs sequentially over dimensions
    (d = 0..DIM-1, exactly the zip_with/aggregate evaluation order) and
    vectorized only ACROSS rows, so every norm, sign bit and bucket equals
    the JVM/DuckDB value and oracle parity is preserved (pytest-asserted).
    Embarrassingly parallel: no shuffle, scales with corpus partitions.

    mapInArrow, not mapInPandas (r15, VERDICT r14 item 7): a list<double>
    column crosses the pandas boundary as an object Series of per-row
    arrays — boxed on the way in (np.stack) and re-boxed on the way out
    (list(v)).  Reading the Arrow list's flat value buffer as one (n, DIM)
    matrix and emitting the vectors back as one ListArray over the same
    flat buffer removes both boxings: sim_topk_lsh med 0.71 -> 0.61 s at
    sf0.1, 1.19 -> 1.02 s at sf1 (interleaved min-of-7, rows identical)."""
    import pyarrow as pa

    planes = np.array([_plane(j) for j in range(N_PLANES)], dtype=np.float64)
    bits = np.array([1 << j for j in range(N_PLANES)], dtype=np.int64)

    def run(batches: "Iterator[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
        import pyarrow as pa
        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            flat = (rb.column(1).flatten().to_numpy(zero_copy_only=False)
                    .astype(np.float64, copy=False))
            if flat.size != n * DIM:
                raise ValueError(
                    f"expected {DIM}-dim vectors, got {flat.size} values "
                    f"for {n} rows")
            v = flat.reshape(n, DIM)
            acc = np.zeros((n, N_PLANES), dtype=np.float64)
            sq = np.zeros(n, dtype=np.float64)
            for d in range(DIM):        # sequential in d == the fold order
                acc += v[:, d:d + 1] * planes[:, d]
                sq += v[:, d] * v[:, d]
            bucket = ((acc > 0) * bits).sum(axis=1)
            offsets = pa.array(
                np.arange(0, (n + 1) * DIM, DIM, dtype=np.int32))
            vec_arr = pa.ListArray.from_arrays(offsets, pa.array(flat))
            yield pa.RecordBatch.from_arrays(
                [rb.column(0), vec_arr, pa.array(np.sqrt(sq)),
                 pa.array(bucket)],
                names=[id_alias, vec_alias, norm_alias, bucket_alias])

    schema = (f"{id_alias} long, {vec_alias} array<double>, "
              f"{norm_alias} double, {bucket_alias} long")
    from ..sources.parquet import spread

    # Arrow-overhead-bound pass: ~128 KB/task keeps the numpy work per
    # task above the task+Arrow fixed cost (0.65s -> 0.35s at sf0.1)
    src = spread(
        vectors.select(F.col(id_col), as_double(F.col(vec_col)).alias(vec_col)),
        id_col, bytes_per_task=128 << 10)
    return src.mapInArrow(run, schema)


def bucketed_vectors(vectors: DataFrame, id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """(vid, vec, bucket) with the deterministic hyperplane LSH bucket —
    per-row math, no shuffle; at scale this is the write-side partition key."""
    return (
        vectors.select(F.col(id_col).alias("vid"),
                       F.explode(F.array(as_double(F.col(vec_col)))).alias("vec"))
        .select("vid", "vec", lsh_bucket(F.col("vec")).alias("bucket"))
    )


def embedding_near_dups(vectors: DataFrame, threshold: float = 0.9,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """Embedding-cosine near-duplicate pairs (d1 < d2, cosine >= threshold):
    multi-probe LSH self-join prunes candidates, exact cosine verifies.
    Hamming-1 adjacency is symmetric, so probing from the d1 side alone
    finds every pair within one bit flip exactly once — no dedup pass.
    The corpus-side bucket/norm computation is the Arrow-vectorized path;
    this is the embedding twin of MinHash near-dedup for the
    dedup-by-semantics stage of a training-data pipeline."""
    a = _with_norm_bucket_arrow(vectors, id_col, vec_col, "d1", "v1", "n1", "b1")
    probes = a.select("d1", "v1", "n1",
                      F.explode(probe_buckets(F.col("b1"))).alias("bucket"))
    b = _with_norm_bucket_arrow(vectors, id_col, vec_col, "d2", "v2", "n2", "bucket")
    return (
        probes.join(b, "bucket")
        .filter(F.col("d1") < F.col("d2"))
        .select("d1", "d2",
                (dot(F.col("v1"), F.col("v2"))
                 / (F.col("n1") * F.col("n2"))).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


# Task-resident (id -> vector/norm) gather matrix for the indexed
# near-dup verify (r15, VERDICT r14 item 1): keyed by the index's parquet
# file list and loaded ONCE per Python worker (guide §4.5 — module-level
# global survives task reuse because this module is importable on the
# workers, unlike __main__ closures).  ~50 MB at sf1 (100k x 64 doubles);
# at 100 TB the corpus matrix shards with the bucket partitioning and each
# task gathers only from its candidate range — locally the whole matrix
# fits every worker, which is the measured-fastest layout.  One entry: a
# worker keeps only the matrix of the last index it served.
_GATHER_CACHE: dict[tuple, tuple] = {}


def _gather_matrix(files: tuple[str, ...]) -> tuple:
    """(ids sorted asc, (n, DIM) float64 matrix, norms) read straight from
    the persisted LSH index parquet with pyarrow — a file read of the
    receipted build-once artifact, NOT an engine pass (the rejected r14
    variant collected the matrix through a Spark job at plan-construction
    time, which the repo's two_pass discipline prices on the clock)."""
    got = _GATHER_CACHE.get(files)
    if got is None:
        import pyarrow as pa
        import pyarrow.parquet as pq
        paths = [f[7:] if f.startswith("file://") else f for f in files]
        tbl = pa.concat_tables([
            pq.read_table(p, columns=["neighbor_id", "cv", "cn"])
            for p in paths])
        ids = tbl["neighbor_id"].to_numpy().astype(np.int64, copy=False)
        flat = tbl["cv"].combine_chunks().flatten().to_numpy()
        mat = flat.astype(np.float64, copy=False).reshape(len(ids), DIM)
        norms = tbl["cn"].to_numpy().astype(np.float64, copy=False)
        order = np.argsort(ids)
        got = (ids[order], mat[order], norms[order])
        _GATHER_CACHE.clear()
        _GATHER_CACHE[files] = got
    return got


def _gather_rows(ids: np.ndarray, want: np.ndarray) -> np.ndarray:
    """Row of each id of ``want`` in the sorted ``ids``.  Raises when an
    id has no row — a matrix stale against the index it was keyed by
    would otherwise hand back a neighboring row and score the wrong
    vector."""
    pos = np.searchsorted(ids, want)
    found = pos < len(ids)
    found[found] = ids[pos[found]] == want[found]
    if not found.all():
        raise ValueError(
            f"gather matrix has no row for ids {want[~found][:5].tolist()}: "
            "it is stale against the index being served")
    return pos


def embedding_near_dups_indexed(index: DataFrame,
                                threshold: float = 0.9) -> DataFrame:
    """``embedding_near_dups`` served from a ``build_lsh_index`` table
    (r15, VERDICT r14 item 1): same candidate generation — multi-probe
    Hamming-1 self-join on the PRECOMPUTED buckets — but the pair join
    carries ONLY (id, bucket); the 64-double vector payload never rides
    the pairs.  The exact-cosine verify gathers both vectors by id from a
    task-resident matrix read once per worker from the index parquet
    itself and accumulates the dot SEQUENTIALLY over dimensions — the
    zip_with/aggregate fold order — against the index's stored norms, so
    every cosine is bit-identical to the inline JVM fold and the DuckDB
    oracle (pytest-pinned: test_semdedup.py indexed == inline row sets).

    Plan shape: two scans of the index -> BroadcastHashJoin on bucket ->
    id filter -> one MapInArrow.  Zero shuffle Exchange: the bucketize
    passes moved to index build (the same receipted mart lifecycle
    sim_topk_lsh serves from), and the verify is row-local.  mapInArrow
    (not mapInPandas) because the verify touches only two int64 columns —
    the pandas wrapper measured +0.3-0.4 s of pure conversion overhead at
    sf1 on the 2.6 M-pair stream (interleaved min/med 1.31/1.44 s arrow
    vs 1.50/1.81 s pandas, EMB_DEDUP_RECEIPT.json)."""
    import pyarrow as pa

    a = index.select(F.col("neighbor_id").alias("d1"),
                     F.col("bucket").alias("b1"))
    probes = a.select(
        "d1", F.explode(probe_buckets(F.col("b1"))).alias("bucket"))
    b = index.select(F.col("neighbor_id").alias("d2"), "bucket")
    pairs = (probes.join(b, "bucket")
             .filter(F.col("d1") < F.col("d2"))
             .select("d1", "d2"))
    files = tuple(sorted(index.inputFiles()))

    def run(batches: "Iterator[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
        import pyarrow as pa
        got = None
        for rb in batches:
            if rb.num_rows == 0:
                continue
            if got is None:             # lazy: empty partitions never load
                got = _gather_matrix(files)
            ids, mat, norms = got
            d1 = rb.column(0).to_numpy(zero_copy_only=False) \
                   .astype(np.int64, copy=False)
            d2 = rb.column(1).to_numpy(zero_copy_only=False) \
                   .astype(np.int64, copy=False)
            i1 = _gather_rows(ids, d1)
            i2 = _gather_rows(ids, d2)
            v1, v2 = mat[i1], mat[i2]
            acc = np.zeros(rb.num_rows, dtype=np.float64)
            for d in range(DIM):        # sequential in d == the fold order
                acc += v1[:, d] * v2[:, d]
            cos = acc / (norms[i1] * norms[i2])
            keep = cos >= threshold
            yield pa.RecordBatch.from_arrays(
                [pa.array(d1[keep]), pa.array(d2[keep]),
                 pa.array(cos[keep])],
                names=["d1", "d2", "cosine"])

    return pairs.mapInArrow(run, "d1 long, d2 long, cosine double")


def lsh_topk(queries: DataFrame, corpus: DataFrame, k: int = 5,
             id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Approximate top-k with multi-probe: each query scores candidates in
    its own bucket plus the N_PLANES Hamming-1 neighbor buckets
    (functions/vectors.py probe_buckets).  Probe values are pairwise
    distinct, so no candidate pair is produced twice.

    Plan shape (r11, VERDICT r10 item 7): the 17 probes EXPLODE into one
    probe table feeding ONE bucket equi-join — the union-of-17-branches
    alternative was measured and rejected (0.654s vs 1.603s at sf0.1,
    identical rows): 17 plan branches re-bucketize the query side 17
    times.  The residual cost is the two Arrow bucketize passes
    (0.30 + 0.32s of the 0.65s), not the join; _vec_matrix trims those."""
    q = _with_norm_bucket_arrow(queries, id_col, vec_col,
                                "query_id", "qv", "qn", "bucket0")
    qprobes = q.select(
        "query_id", "qv", "qn",
        F.explode(probe_buckets(F.col("bucket0"))).alias("bucket"))
    c = _with_norm_bucket_arrow(corpus, id_col, vec_col,
                                "neighbor_id", "cv", "cn", "bucket")
    return _ranked_topk(_score(qprobes.join(c, "bucket")), k)


def build_lsh_index(corpus: DataFrame, path: str,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """Persist the bucketized corpus — (neighbor_id, cv, cn, bucket) —
    the bucket-on-write half of the LSH contract (module docstring:
    "bucket once, write partitioned by bucket").  At 100 TB the corpus
    bucketize pass belongs to ingestion, not to every query; this is the
    LSH twin of ivf.build_index / pq.build_pq_index (same persisted
    train-once / serve-many lifecycle, here with data-INDEPENDENT
    buckets so there is nothing to train).  Files cluster by bucket
    (repartition on it) rather than directory-partition: 2^N_PLANES =
    65 536 buckets as directories would be a small-files disaster;
    parquet min/max stats on the sorted bucket column give scan pruning
    instead.  Returns the reread handle."""
    out = _with_norm_bucket_arrow(corpus, id_col, vec_col,
                                  "neighbor_id", "cv", "cn", "bucket")
    (out.repartition(F.col("bucket")).sortWithinPartitions("bucket")
        .write.mode("overwrite").parquet(path))
    return corpus.sparkSession.read.parquet(path)


def lsh_topk_indexed(queries: DataFrame, index: DataFrame, k: int = 5,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """``lsh_topk`` served from a ``build_lsh_index`` table: the query
    side still bucketizes (it's the small side by contract), the corpus
    side is a plain scan of precomputed (id, vec, norm, bucket) rows.
    Identical results to the inline form (pytest-pinned) — only where
    the corpus pass runs moved."""
    q = _with_norm_bucket_arrow(queries, id_col, vec_col,
                                "query_id", "qv", "qn", "bucket0")
    qprobes = q.select(
        "query_id", "qv", "qn",
        F.explode(probe_buckets(F.col("bucket0"))).alias("bucket"))
    return _ranked_topk(_score(qprobes.join(index, "bucket")), k)
