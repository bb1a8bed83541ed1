"""Deduplication operators for LLM-training-data pipelines.

Four families, all pure DataFrame compositions (no Python UDFs):

  * exact            — hash-groupBy on content (one shuffle on the content
                       hash; at 100 TB group by xxhash64(text) instead of
                       the raw text to keep shuffle keys small)
  * minhash_lsh      — shingle -> minhash signature -> band -> bucket-join
                       candidates -> exact (hashed-)shingle Jaccard verify
  * simhash          — position-insensitive 64-bit-ish fingerprint from
                       token-hash bit votes; near-dups share fingerprints
  * ngram_jaccard    — exact n-gram Jaccard via inverted-index join (the
                       verify path of minhash, usable standalone for small
                       query sets)

Every function takes a token-hash column builder so the portable
(oracle-checkable) char hash and the production `xxhash64` are
interchangeable.  Scale notes per function.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from ..functions.text import HASH_P, shingle_hashes, token_hashes

# MinHash parameters: K hash functions in BANDS bands of ROWS_PER_BAND.
# Fixed odd multipliers/offsets — deterministic, no RNG.
# 16 hashes / 4 bands of 4 rows: the banding s-curve midpoint is
# (1/BANDS)^(1/ROWS) ~= 0.71 similarity — a sensible operating point for the
# 0.5-Jaccard verify threshold (the round-1 2x4 config had midpoint ~0.84,
# i.e. real misses at 0.5-0.8 similarity).  The single-fold signature makes
# K=16 cost ~the same per row as K=8 did pre-fusion.
K_MINHASH = 16
BANDS = 4
ROWS_PER_BAND = K_MINHASH // BANDS
_A = [2654435761, 2246822519, 3266489917, 668265263,
      374761393, 2654435789, 2246822579, 3266489989,
      2654435767, 2246822531, 3266489921, 668265269,
      374761397, 2654435797, 2246822587, 3266489993]
_B = [1, 7, 31, 127, 8191, 131071, 524287, 2147483647,
      3, 11, 37, 131, 8209, 131101, 524309, 2147483659]


def exact_dedup_keep_first(docs: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id") -> DataFrame:
    """Exact dedup keeping the lowest id per distinct text.  The groupBy is
    the canonical exact-dedup shuffle; returns (keep_id, n_copies, text)."""
    return (
        docs.groupBy(text_col)
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("keep_id", "n_copies", F.col(text_col).alias("text"))
    )


def doc_shingles(docs: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id",
                 token_hash=token_hashes) -> DataFrame:
    """(doc_id, sh: array<long>) of hashed 3-token shingles; drops docs with
    < 3 tokens (no shingle exists, and Spark's `sequence` would run
    descending).

    ``token_hash`` selects the per-token hash column builder: the portable
    char hash (default, oracle-checkable) or
    functions.text.token_hashes_xxhash (production: cheaper, better mixed,
    Spark-only)."""
    from ..functions.text import tokens

    th = token_hash(F.col(text_col))
    return (
        # filter on the token count BEFORE hashing: the predicate then costs
        # one split() instead of re-running the whole char-hash pipeline
        docs.filter(F.size(tokens(F.col(text_col))) >= 3)
        .select(F.col(id_col).alias("doc_id"), th.alias("th"))
        .select("doc_id", shingle_hashes(F.col("th")).alias("sh"))
    )


def band_key_array(sh: Column) -> Column:
    """array<long> of BANDS band keys, computed from the shingle-hash array
    in ONE expression that references `sh` exactly once.

    The fold's merge step accumulates the K running minhash minima; the
    `finish` lambda turns the accumulator into per-band Horner keys — inside
    `finish` the accumulator is a bound lambda variable, so referencing it
    per band cannot re-inline the upstream pipeline.  K separate
    ``array_min(transform(sh, ...))`` columns would re-inline the whole
    token->shingle pipeline K times per row."""
    ab = F.array(*[
        F.struct(F.lit(a).cast("long").alias("a"), F.lit(b).cast("long").alias("b"))
        for a, b in zip(_A[:K_MINHASH], _B[:K_MINHASH])
    ])
    init = F.array(*[F.lit(HASH_P + 1).cast("long")] * K_MINHASH)
    return F.aggregate(
        sh, init,
        lambda acc, s: F.zip_with(
            acc, ab, lambda m, p: F.least(m, (s * p["a"] + p["b"]) % HASH_P)),
        lambda acc: F.transform(
            F.sequence(F.lit(0), F.lit(BANDS - 1)),
            lambda b: F.aggregate(
                F.slice(acc, b * ROWS_PER_BAND + 1, ROWS_PER_BAND),
                F.lit(0).cast("long"), lambda k, m: k * 31 + m)))


def band_rows(shingled: DataFrame) -> DataFrame:
    """(doc_id, band_id, band_key): one row per band, via the fused
    single-expression band key path (the token→shingle pipeline is
    evaluated once per row).  band_key packs the band's ROWS_PER_BAND
    minhash rows; equal keys -> LSH candidate bucket."""
    return (
        shingled.select("doc_id", band_key_array(F.col("sh")).alias("bks"))
        .select("doc_id", F.posexplode("bks").alias("band_id", "band_key"))
        .withColumn("band_id", F.col("band_id").cast("int"))
    )


def lsh_candidates(bands: DataFrame, max_bucket: int | None = None) -> DataFrame:
    """Distinct candidate pairs (d1 < d2) sharing any band bucket.

    Guarded (``max_bucket`` set): ONE shuffle gathers each bucket's members
    with collect_list, oversized buckets (boilerplate clusters colliding
    whole corpus shards) are dropped, and the <= max_bucket^2 pairs per
    bucket expand ROW-LOCALLY with a nested transform — no self-join, no
    guard-join-back; the only other exchange is the pair distinct.  A
    degenerate bucket does collect its full membership before the size
    filter drops it, but that state is one id array (a few MB even for a
    pathological million-member bucket) — the quadratic blow-up the guard
    exists for is the PAIR expansion, and that never materializes for
    dropped buckets.  Members of a dropped bucket can still pair through
    their other bands; truly degenerate clusters are better handled by
    exact dedup upstream (they are exact-ish duplicates by definition).

    Unguarded (``max_bucket=None``): the band self-join form — per-bucket
    output is unbounded, so pairs must stream through the join rather than
    build an n^2 in-row array."""
    if max_bucket is not None:
        buckets = (
            bands.groupBy("band_id", "band_key")
            .agg(F.collect_list("doc_id").alias("ids"))
            .filter((F.size("ids") > 1) & (F.size("ids") <= max_bucket))
        )
        ids = F.array_sort(F.col("ids"))
        pairs = F.flatten(F.transform(
            ids, lambda x: F.transform(
                ids, lambda y: F.struct(x.alias("d1"), y.alias("d2")))))
        return (
            buckets.select(F.explode(pairs).alias("p"))
            .filter(F.col("p.d1") < F.col("p.d2"))
            .select("p.d1", "p.d2")
            .distinct()
        )
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(b, (F.col("a.band_id") == F.col("b.band_id"))
               & (F.col("a.band_key") == F.col("b.band_key"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .distinct()
    )


def jaccard_verify(candidates: DataFrame, shingled: DataFrame,
                   threshold: float) -> DataFrame:
    """Exact Jaccard over distinct hashed shingles for candidate pairs;
    keeps pairs >= threshold.  Jaccard is a ratio of exact ints — engine
    independent."""
    # explode-of-one is a Generate barrier: `ss` becomes a real attribute, so
    # `n = size(ss)` cannot re-inline array_distinct(token->shingle pipeline)
    # a second time (CollapseProject/ColumnPruning stop at generators).
    sets = (
        shingled.select(
            "doc_id", F.explode(F.array(F.array_distinct("sh"))).alias("ss"))
        .select("doc_id", "ss", F.size("ss").alias("n"))
    )
    return jaccard_verify_sets(candidates, sets, threshold)


def jaccard_verify_sets(candidates: DataFrame, sets: DataFrame,
                        threshold: float) -> DataFrame:
    """Jaccard verification given a precomputed (doc_id, ss, n) set table
    (element order in ss is irrelevant — only intersection sizes matter)."""
    s1 = sets.alias("s1")
    s2 = sets.alias("s2")
    inter = F.size(F.array_intersect(F.col("s1.ss"), F.col("s2.ss")))
    jac = inter * 1.0 / (F.col("s1.n") + F.col("s2.n") - inter)
    return (
        candidates.join(s1, F.col("d1") == F.col("s1.doc_id"))
        .join(s2, F.col("d2") == F.col("s2.doc_id"))
        .select("d1", "d2", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def materialize_features(docs: DataFrame, path: str, text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """Persist the shingle/minhash FEATURE table (doc_id, bks, ss, n) as a
    corpus materialization: featurize ONCE per corpus snapshot, then every
    dedup-family consumer (``minhash_near_dups(features=...)``, repeated
    threshold sweeps, cluster-resolution reruns) reads the parquet instead
    of re-running the Arrow pass over the raw text.  This is the same
    table the incremental index persists per batch
    (``read_index`` — identical schema), promoted to a standalone
    build step: at 100 TB the corpus featurization is the dominant dedup
    cost, and it is a pure function of the text — exactly what a
    materialization is for.  Returns the read-back handle."""
    from . import shingle_arrow

    spark = docs.sparkSession
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    (shingle_arrow.shingle_features(docs, text_col, id_col)
     .repartition(n_shuffle, "doc_id")
     .write.mode("overwrite").parquet(path))
    return load_features(spark, path)


def load_features(spark, path: str) -> DataFrame:
    """Read a persisted feature table with the declared schema (no footer
    inference; empty dirs stay inert — same discipline as read_index)."""
    from . import shingle_arrow

    return spark.read.schema(shingle_arrow.FEATURES_SCHEMA).parquet(path)


def _minhash_from_features(feats: DataFrame, threshold: float,
                           max_bucket: int | None) -> DataFrame:
    """Candidate generation + exact verify over a (doc_id, bks, ss, n)
    feature table — the shared back half of the MinHash pipeline.

    FUSED verify (r6): the candidate PAIR list is guard-bounded and tiny
    (it IS the duplication), so it broadcasts as the build side of both
    set joins and the corpus feature table streams through two map-side
    probes hanging off its one ReuseExchange — no set row ever shuffles,
    no candidate-id semi-filter stages.  Replaces the previous
    semi-filter-then-join form: identical pairs, 17 -> 11 exchanges and
    2x on the catalog row at sf0.1 (measured r6); at scale the corpus
    moves zero extra bytes either way, this form just has fewer stages.
    No hint on the intermediate (candidates x first set): Catalyst's size
    estimate already keeps it the build side, AQE re-plans it at runtime
    on clusters, and an explicit hint was measured to force an extra
    broadcast materialization stage (0.45 -> 0.71s).

    The broadcast hint on the pair list is only safe because the guard
    bounds it: UNGUARDED (``max_bucket=None``) a degenerate bucket makes
    the pair list quadratic and a forced driver-side broadcast can OOM
    (ADVICE r6) — that path keeps the semi-filter form, which broadcasts
    only the strictly-smaller distinct candidate-id set and lets
    Catalyst/AQE pick the pair join's build side from runtime sizes."""
    from . import shingle_arrow

    cands = lsh_candidates(shingle_arrow.band_rows(feats), max_bucket)
    sets = feats.select("doc_id", "ss", "n")
    if max_bucket is None:
        cand_docs = (cands.select(F.col("d1").alias("doc_id"))
                     .union(cands.select(F.col("d2").alias("doc_id")))
                     .distinct())
        sets = sets.join(F.broadcast(cand_docs), "doc_id", "left_semi")
        return jaccard_verify_sets(cands, sets, threshold)
    s1 = sets.alias("s1")
    s2 = sets.alias("s2")
    return (
        F.broadcast(cands)
        .join(s1, F.col("d1") == F.col("s1.doc_id"))
        .select("d1", "d2", F.col("s1.ss").alias("ss1"),
                F.col("s1.n").alias("n1"))
        .join(s2, F.col("d2") == F.col("s2.doc_id"))
        .select("d1", "d2",
                (F.size(F.array_intersect(F.col("ss1"), F.col("s2.ss")))
                 * 1.0
                 / (F.col("n1") + F.col("s2.n")
                    - F.size(F.array_intersect(F.col("ss1"),
                                               F.col("s2.ss")))))
                .alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_near_dups(docs: DataFrame | None, threshold: float = 0.5,
                      text_col: str = "text", id_col: str = "doc_id",
                      token_hash=token_hashes,
                      max_bucket: int | None = None,
                      features: DataFrame | None = None) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: shingle -> signature -> bands ->
    candidates -> Jaccard >= threshold.  Returns (d1, d2, jaccard).

    ``token_hash``: portable char hash (default) or xxhash64 for production.
    ``max_bucket``: drop degenerate LSH buckets (see lsh_candidates).
    ``features``: a pre-built feature table (``materialize_features`` /
    ``load_features``) — skips featurization entirely, so threshold and
    guard sweeps over the same corpus pay the Arrow pass once
    (``docs`` may be None then; portable-hash features only).

    With the default portable hash the pipeline runs on the Arrow-vectorized
    feature pass (operators/shingle_arrow.py — integer-identical, ~3x
    faster); custom hashes keep the pure-JVM expression path.

    Recall is the banding's, not exact: a pair becomes a candidate only if
    all ROWS_PER_BAND minhashes of at least one of the BANDS bands agree,
    so a pair at shingle Jaccard J is missed with probability
    (1 - J**ROWS_PER_BAND)**BANDS — with 4 x 4, 1.4% at J = 0.90 and 9% at
    J = 0.82.  The verify is exact, so precision is."""
    if features is not None:
        if token_hash is not token_hashes:
            raise ValueError("features= carries portable-hash features; "
                             "custom token_hash needs the inline path")
        n_shuffle = int(features.sparkSession.conf.get(
            "spark.sql.shuffle.partitions"))
        # same ReuseExchange barrier as the inline path: the table feeds
        # five plan branches, one exchange serves them all
        return _minhash_from_features(
            features.repartition(n_shuffle, "doc_id"), threshold, max_bucket)
    if token_hash is token_hashes:
        from . import shingle_arrow

        # The feature table feeds FIVE plan branches (bucket-guard agg, both
        # sides of the band self-join, both sides of the Jaccard verify);
        # without a shuffle barrier each branch re-runs the Arrow corpus
        # pass (only exchanges are reused, not arbitrary subtrees).  The
        # explicit repartition(doc_id) makes every branch hang off ONE
        # identical exchange, so the corpus is scanned and featurized once
        # and the shuffle output is re-read (ReuseExchange; measured 2x at
        # sf0.1, and at 100 TB it converts N corpus scans into one).
        # fixed-N repartition: AQE would coalesce a bare repartition(col) of
        # this few-hundred-KB feature table to ONE partition, serializing
        # every downstream stage
        n_shuffle = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        feats = (shingle_arrow.shingle_features(docs, text_col, id_col)
                 .repartition(n_shuffle, "doc_id"))
        return _minhash_from_features(feats, threshold, max_bucket)
    shingled = doc_shingles(docs, text_col, id_col, token_hash)
    cands = lsh_candidates(band_rows(shingled), max_bucket)
    return jaccard_verify(cands, shingled, threshold)


def simhash(docs: DataFrame, n_bits: int = 16, text_col: str = "text",
            id_col: str = "doc_id", token_hash=token_hashes) -> DataFrame:
    """SimHash fingerprint: per bit position, tokens vote +1/-1 by their
    hash bit; the sign of the tally is the fingerprint bit.  Pure per-row
    array math.  Returns (doc_id, simhash).

    Single fold: one pass over the token-hash array accumulates all n_bits
    vote counters at once (accumulator = n_bits-vector), then one zip_with
    turns vote signs into the packed fingerprint.  The previous form built
    n_bits independent vote expressions, each re-inlining the full
    tokenize+hash pipeline (~16x per-row recompute — measured 3.6s vs 0.1s
    DuckDB at sf0.1).

    ``token_hash`` swaps the per-token hash (portable char hash vs
    xxhash64); bit votes read the low n_bits, which are well-mixed under
    either."""
    from ..sources.parquet import spread

    docs = spread(docs.select(id_col, text_col), id_col)
    th = token_hash(F.col(text_col))
    masks = F.array(*[F.lit(1 << b).cast("long") for b in range(n_bits)])
    zero = F.array(*[F.lit(0)] * n_bits)
    votes = F.aggregate(
        F.col("th"), zero,
        lambda acc, x: F.zip_with(
            acc, masks,
            lambda a, m: a + F.when(x.bitwiseAND(m) > 0, F.lit(1)).otherwise(F.lit(-1))))
    fp = F.aggregate(
        F.zip_with(F.col("votes"), masks,
                   lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"), lambda acc, v: acc + v)
    return (
        docs.select(F.col(id_col).alias("doc_id"), th.alias("th"))
        .select("doc_id", votes.alias("votes"))
        .select("doc_id", fp.alias("simhash"))
    )


def ngram_jaccard_pairs(query_docs: DataFrame | None,
                        corpus: DataFrame | None,
                        threshold: float,
                        max_doc_freq: int | None = None,
                        query_filter: Column | None = None,
                        features: DataFrame | None = None) -> DataFrame:
    """Exact shingle-Jaccard of each query doc against the corpus via an
    inverted-index join on shingle hash (explode -> join -> count), skipping
    the signature step entirely.  Right-sized when the query side is small
    (e.g. incremental ingest vs existing corpus); full-corpus N^2 is what
    minhash_lsh avoids.

    ``query_filter``: when the query set IS a corpus subset, pass its
    predicate (over corpus columns) instead of a ``query_docs`` frame — the
    query features are then FILTERED from the corpus feature exchange
    rather than re-featurized by a second Arrow pass (one corpus scan total;
    the r3 catalog query re-featurized the query 1/20th from scratch).

    ``max_doc_freq`` is the hot-shingle (stop-shingle) guard: shingles whose
    corpus document frequency exceeds it are dropped from the inverted index
    BEFORE the join — without it one boilerplate shingle joins every query
    against the whole corpus at scale.  Dropped shingles still count in
    qn/cn, so reported Jaccard becomes a conservative lower bound (a pair
    overlapping ONLY on boilerplate stops matching — usually the point).

    ``features``: a pre-built corpus feature table (materialize_features /
    load_features — portable-hash features only) replacing the corpus
    Arrow pass entirely; ``corpus`` may be None then.  Guard/threshold
    sweeps and repeated catalog runs over the same corpus snapshot pay
    featurization once (X29)."""
    from . import shingle_arrow

    # Arrow-vectorized distinct-shingle sets (integer-identical to the JVM
    # doc_shingles + array_distinct path; see operators/shingle_arrow.py)
    if features is not None:
        cf = features
    else:
        cf = shingle_arrow.shingle_features(corpus)
    if max_doc_freq is not None or query_filter is not None:
        # the corpus features feed several branches (doc-frequency
        # aggregation, join input, and the filtered query side); a
        # repartition barrier makes every branch hang off one exchange so
        # the Arrow corpus pass runs once (same ReuseExchange discipline as
        # minhash_near_dups — one corpus scan instead of two or three at
        # 100 TB).  Unguarded with a separate query frame, the features are
        # read once — no barrier.  (Fixed N: AQE would coalesce a bare
        # repartition(col) of the small feature table to one partition.)
        n_shuffle = int(cf.sparkSession.conf.get(
            "spark.sql.shuffle.partitions"))
        cf = cf.repartition(n_shuffle, "doc_id")
    if query_filter is not None:
        qf = cf.filter(query_filter)
    else:
        qf = shingle_arrow.shingle_features(query_docs)
    qx = qf.select(F.col("doc_id").alias("qid"), F.col("n").alias("qn"),
                   F.explode("ss").alias("h"))
    cx = cf.select(F.col("doc_id").alias("cid"), F.col("n").alias("cn"),
                   F.explode("ss").alias("h"))
    if max_doc_freq is not None:
        hot = (
            cx.groupBy("h").agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > max_doc_freq)
            .select("h")
        )
        # the hot set is vocabulary-bounded (stop-shingles), never
        # corpus-proportional — broadcast the anti join so the exploded
        # corpus index is never shuffled on h just to subtract it
        cx = cx.join(F.broadcast(hot), "h", "left_anti")
    return (
        # query side is small by contract (incremental ingest batch):
        # broadcast it so the exploded corpus never shuffles.  The hint is
        # explicit — join-call order alone does not pick the build side, and
        # at 100 TB relying on AQE auto-broadcast would let an oversized
        # ingest batch silently shuffle the exploded corpus.
        cx.join(F.broadcast(qx), "h")
        .filter(F.col("qid") != F.col("cid"))
        .groupBy("qid", "cid", "qn", "cn")
        .agg(F.count(F.lit(1)).alias("inter"))
        .select(
            "qid", "cid",
            (F.col("inter") * 1.0
             / (F.col("qn") + F.col("cn") - F.col("inter"))).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def read_index(spark, index_dir: str) -> DataFrame:
    """The persisted fingerprint index: every committed ``batch_*`` dir,
    listed recursively with a DECLARED schema.

    * explicit schema: a fresh index dir has no visible part files (staging
      is underscore-hidden) and a schema-declared read of it is a valid
      empty index rather than an inference error.  No head(1)-style
      emptiness probe: any limited action on the batch plan would poison
      upstream Observation metrics (pipeline.py) with the limited pass's
      row counts;
    * recursiveFileLookup: commits are ONE atomic directory rename per
      batch (``_staging_*`` -> ``batch_*``), so the index is a flat set of
      batch dirs; underscore-prefixed staging stays invisible to Spark's
      file listing."""
    from . import shingle_arrow

    return (spark.read.schema(shingle_arrow.FEATURES_SCHEMA)
            .option("recursiveFileLookup", "true").parquet(index_dir))


def _identity_bands(feats: DataFrame) -> DataFrame:
    """Sentinel band rows (doc_id, band_id=-1, band_key=doc_id): a bucket
    only the SAME doc_id can land in.  Real band_ids are >= 0, so sentinels
    never collide with content bands; joining index sentinels against batch
    sentinels detects "this doc_id was already ingested" exactly — content-
    free, so it works for short docs whose shingle sets are empty."""
    return feats.select(
        "doc_id",
        F.lit(-1).cast("int").alias("band_id"),
        F.col("doc_id").alias("band_key"))


def incremental_minhash_dedup(new_docs: DataFrame, index_dir: str,
                              threshold: float = 0.5,
                              text_col: str = "text", id_col: str = "doc_id",
                              max_bucket: int | None = None,
                              sink=None) -> DataFrame:
    """Cross-batch MinHash dedup against a persisted fingerprint index —
    the production shape for a corpus that grows: each ingest batch is
    deduped against everything ever seen WITHOUT re-featurizing the
    history.

    The index is the Arrow feature table (doc_id, bks, ss, n — band keys +
    distinct shingle hashes, operators/shingle_arrow.py) appended per batch;
    docs with < 3 tokens carry an EMPTY feature row, so EVERY ingested
    doc_id is represented.  Per batch:

      1. featurize the batch ONCE: the Arrow pass writes the feature table
         to a hidden staging dir inside the index (``_staging_*`` — Spark's
         listing skips underscore paths), and every downstream branch reads
         that parquet back — candidates, verify, and the final index commit
         all reuse one materialization instead of re-running the dominant
         row-local stage per action;
      2. within-batch candidates via LSH buckets (d1 < d2), PLUS cross
         candidates from joining the batch's band rows against the index's —
         the BATCH side is broadcast, so the historical index is only
         scanned, never shuffled (at 100 TB the index dwarfs any batch).
         Identity-sentinel bands (_identity_bands) ride along on both
         sides: a cross pair with d1 == d2 means the doc_id is ALREADY
         INGESTED (a replay, or a re-ingest of the same id) and is dropped
         unconditionally — no Jaccard needed, and it covers short docs
         whose empty shingle sets can never self-verify;
      3. exact Jaccard verify (cross pairs with d1 != d2 plus within-batch
         pairs) over the union of batch + index shingle sets, semi-filtered
         to candidate docs.  Only LSH candidates are verified, so near-dup
         recall is the banding's (as in ``minhash_near_dups``): a pair at
         shingle Jaccard J is missed with probability
         (1 - J**ROWS_PER_BAND)**BANDS — 1.4% at J = 0.90 and 9% at
         J = 0.82 with 4 bands x 4 rows — and its later doc is kept;
      4. drop a new doc iff it matches ANY doc ingested before it (lower id
         in-batch, or anything already indexed).  Arrival-order semantics:
         the indexed doc always wins, whatever its id — so multi-batch
         ingestion equals the one-shot pair set exactly WHEN batches arrive
         in ascending doc_id order (tested), and first-arrival-wins
         otherwise (tested: a later batch carrying a LOWER id than an
         indexed near-dup is the one dropped);
      5. commit the staged features into the index (dropped docs too:
         "earlier" includes them, keeping the semantics batch-split-
         invariant) — ONE atomic directory rename of the staging dir into a
         committed batch dir when no batch id was already indexed (the
         normal path: zero recompute, metadata-only), else a filtered
         re-append from the staged parquet that skips already-indexed ids
         (staged behind the same underscore veil, then one rename), so a
         replay never duplicates index entries.

    The cross pairs and the dropped id set are materialized
    (localCheckpoint) BEFORE the commit so no lazy plan can observe the
    batch's own fingerprints in the index.  The cross-pair materialization
    is the ONE scan of the index's band rows per batch: the
    already-ingested ids and the cross candidates both read it.  Inside
    clean_corpus, ``new_docs`` reads the funnel's materialized row-local
    prefix, so the featurization's two branches and the kept rows do not
    re-run the upstream funnel.

    ``sink``: optional callable invoked with the kept rows BEFORE the index
    commit — the exactly-once hook for streaming replay (streaming/
    ingest.py): a crash between sink and commit replays the batch against
    an index that never saw it, recomputing the identical kept set; a crash
    after the commit replays into a batch whose ids ALL self-match via the
    sentinels (short docs included), so the empty kept set touches nothing.
    The commit itself is a SINGLE same-filesystem directory rename —
    atomic at the POSIX level, so a crash leaves either the whole batch
    committed or none of it (no multi-file window); a table format with a
    transaction log is the production escape hatch for object stores
    where rename is not atomic.

    Returns the kept (accepted) rows of ``new_docs``.
    """
    import os
    import shutil
    import uuid

    from . import shingle_arrow

    spark = new_docs.sparkSession
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    os.makedirs(index_dir, exist_ok=True)
    # single-writer contract (a streaming query owns its index): any
    # _staging_* left behind by a crashed batch is an orphan — reclaim it
    for name in os.listdir(index_dir):
        if name.startswith("_staging_"):
            shutil.rmtree(os.path.join(index_dir, name), ignore_errors=True)
    staging = os.path.join(index_dir, f"_staging_{uuid.uuid4().hex}")

    # ONE featurization per batch: materialize features (plus empty rows
    # for <3-token docs, so every batch id is index-representable) to
    # staging, then hang the whole dedup DAG off the parquet read-back.
    short_stub = (
        new_docs.filter(F.size(F.split(F.col(text_col), " ")) < 3)
        .select(F.col(id_col).cast("long").alias("doc_id"),
                F.array().cast("array<long>").alias("bks"),
                F.array().cast("array<long>").alias("ss"),
                F.lit(0).cast("int").alias("n")))
    (shingle_arrow.shingle_features(new_docs, text_col, id_col)
     .repartition(n_shuffle, "doc_id")
     .unionByName(short_stub)
     .write.parquet(staging))
    feats_new = spark.read.schema(shingle_arrow.FEATURES_SCHEMA).parquet(staging)

    new_bands = shingle_arrow.band_rows(feats_new)
    cands = lsh_candidates(new_bands, max_bucket)
    old_feats = read_index(spark, index_dir)
    # the index's band rows are scanned ONCE per batch: the cross pairs
    # are materialized and both consumers (already-ingested ids, cross
    # candidates) read that one materialization
    cross = (
        shingle_arrow.band_rows(old_feats)
        .unionByName(_identity_bands(old_feats)).alias("o")
        .join(F.broadcast(new_bands.unionByName(_identity_bands(feats_new)))
              .alias("nw"),
              (F.col("o.band_id") == F.col("nw.band_id"))
              & (F.col("o.band_key") == F.col("nw.band_key")))
        .select(F.col("o.doc_id").alias("d1"),
                F.col("nw.doc_id").alias("d2"))
        .distinct()
        .localCheckpoint(eager=True))
    already = (cross.filter(F.col("d1") == F.col("d2"))
               .select(F.col("d2").alias(id_col)))
    cands = cands.unionByName(cross.filter(F.col("d1") != F.col("d2")))
    sets = (feats_new.select("doc_id", "ss", "n")
            .unionByName(old_feats.select("doc_id", "ss", "n")))
    cand_docs = (cands.select(F.col("d1").alias("doc_id"))
                 .union(cands.select(F.col("d2").alias("doc_id")))
                 .distinct())
    sets = sets.join(F.broadcast(cand_docs), "doc_id", "left_semi")
    dups = jaccard_verify_sets(cands, sets, threshold)
    # two separate anti-joins rather than a union of the two drop sets: a
    # Union of a fresh plan with a checkpointed LogicalRDD trips constraint
    # rewriting (key-not-found on the RDD's old attribute ids) in Spark 4
    dropped = (dups.select(F.col("d2").alias(id_col)).distinct()
               .localCheckpoint(eager=True))
    kept = (new_docs.join(dropped, id_col, "left_anti")
            .join(already, id_col, "left_anti"))
    if sink is not None:
        sink(kept)
    # Commit staged features into the index.  Normal path (no batch id was
    # already indexed): rename part files into place — metadata-only, no
    # second pass.  Replay/re-ingest path: re-append only the not-yet-
    # indexed ids from the staged PARQUET (no re-featurization), so the
    # index never accumulates duplicate doc_ids.
    if already.count() == 0:
        # ONE directory rename — atomic on a same-filesystem index, so a
        # crash leaves either the whole batch committed or none of it
        # (a per-FILE rename loop had a window where a replay saw part of
        # the batch indexed, recomputed a partial kept set, and the sink's
        # partition overwrite deleted the previously-accepted remainder).
        # read_index lists committed batch dirs recursively; the
        # underscore prefix keeps uncommitted staging invisible.
        os.rename(staging, os.path.join(index_dir,
                                        f"batch_{uuid.uuid4().hex}"))
    else:
        # replay path: stage the filtered re-append behind the same
        # underscore veil, then one atomic rename — a crash mid-write must
        # not leave a partially visible batch dir
        stage2 = os.path.join(index_dir, f"_staging_{uuid.uuid4().hex}")
        (feats_new.join(F.broadcast(already.withColumnRenamed(id_col, "doc_id")),
                        "doc_id", "left_anti")
         .write.parquet(stage2))
        os.rename(stage2, os.path.join(index_dir,
                                       f"batch_{uuid.uuid4().hex}"))
        shutil.rmtree(staging, ignore_errors=True)
    return kept


# ---------------------------------------------------------------------------
# Passage-level exact dedup (repeated-passage removal, X46)
# ---------------------------------------------------------------------------

PASSAGE_TOKENS = 20  # passage granularity: fixed windows of 20 tokens


def passage_dedup(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id",
                  width: int = PASSAGE_TOKENS) -> DataFrame:
    """Remove passages repeated ANYWHERE in the corpus, keeping the first
    occurrence (global order = (doc_id, passage index)) and reassembling
    each document from its surviving passages — the passage-granularity
    analog of ExactSubstr dedup (Lee et al. 2021, "Deduplicating Training
    Data Makes Language Models Better" [public knowledge]; a true
    suffix-array dedup is character-granular, this fixed-window form is
    the distributable approximation the big corpus pipelines actually run).

    Shape: tokenize -> fixed windows of `width` tokens (transform over a
    generated index range, row-local) -> posexplode -> ONE shuffle
    (row_number over the passage partition — high-cardinality key,
    skew-safe) -> group back by doc.  Returns (doc_id, n_passages,
    n_kept, clean_text); clean_text is NULL when every passage was a
    repeat (whole-doc duplicates).

    At 100 TB: the only wide ops are the passage-key shuffle and the
    doc_id regroup — both on high-cardinality keys; at that scale swap
    the raw-passage shuffle key for xxhash64(passage) and verify in-group
    (same trick as exact_dedup's content hash).
    """
    exploded = _passage_rows(docs, text_col, id_col, width)
    w = Window.partitionBy("passage").orderBy(id_col, "pidx")
    ranked = exploded.withColumn(
        "_keep_flag", F.row_number().over(w) == 1)
    return _reassemble_passages(ranked, id_col)


def _passage_rows(docs: DataFrame, text_col: str, id_col: str,
                  width: int) -> DataFrame:
    """(id, pidx, passage): fixed `width`-token windows, row-local."""
    from ..functions.text import tokens

    toks = tokens(F.col(text_col))
    n_pass = F.ceil(F.size(toks) / float(width)).cast("int")
    passages = F.transform(
        F.sequence(F.lit(0), n_pass - 1),
        lambda i: F.array_join(F.slice(toks, i * width + 1, width), " "))
    return (docs.select(id_col, passages.alias("_ps"))
            .select(id_col, F.posexplode("_ps").alias("pidx", "passage")))


def _reassemble_passages(flagged: DataFrame, id_col: str) -> DataFrame:
    """(id, pidx, passage, _keep_flag) -> (id, n_passages, n_kept,
    clean_text): stitch each doc back from its surviving passages in
    order; NULL clean_text when nothing survived."""
    kept_struct = F.when(F.col("_keep_flag"),
                         F.struct(F.col("pidx"), F.col("passage")))
    return (flagged.groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_passages"),
                 F.sum(F.when(F.col("_keep_flag"), 1).otherwise(0))
                  .cast("long").alias("n_kept"),
                 F.sort_array(F.collect_list(kept_struct)).alias("_keep"))
            .select(id_col, "n_passages", "n_kept",
                    F.when(F.col("n_kept") > 0,
                           F.array_join(F.transform("_keep",
                                                    lambda s: s.passage),
                                        " ")).alias("clean_text")))


# ---------------------------------------------------------------------------
# Cross-batch passage dedup against a persisted passage-hash index (X53)
# ---------------------------------------------------------------------------

# index rows: kind 0 = xxhash64 of a seen passage; kind 1 = an ingested
# doc_id (the replay sentinel — content-free, covers every batch id)
PASSAGE_INDEX_SCHEMA = "kind int, key long"


def read_passage_index(spark, index_dir: str) -> DataFrame:
    """Every committed ``batch_*`` dir of a passage-hash index, with a
    DECLARED schema (an empty/fresh index reads as a valid empty frame)
    and recursive lookup over the atomic batch-dir commits; underscore
    staging stays invisible (same layout discipline as read_index)."""
    return (spark.read.schema(PASSAGE_INDEX_SCHEMA)
            .option("recursiveFileLookup", "true").parquet(index_dir))


def incremental_passage_dedup(new_docs: DataFrame, index_dir: str,
                              width: int = PASSAGE_TOKENS,
                              text_col: str = "text",
                              id_col: str = "doc_id",
                              sink=None) -> DataFrame:
    """Cross-batch passage dedup: rewrite each ingest batch to the
    passages never seen in ANY earlier batch (then keep-first within the
    batch), against a persisted index of passage hashes — the growing-
    corpus production shape of ``passage_dedup``, mirroring
    ``incremental_minhash_dedup``'s index discipline:

      * passage identity is ``xxhash64(passage)`` — the index stores 8
        bytes per distinct passage, never text (at 20-token windows a
        collision needs ~2^32 distinct passages by birthday bound;
        text-exact verify within a batch is the spec twin, tested equal);
      * the historical index is SCANNED, never shuffled: batch-derived
        key sets are broadcast into both probe joins (the batch bounds
        them by contract);
      * the batch's matched-hash set and already-ingested-id set are
        localCheckpointed BEFORE the commit, so the returned (lazy) plan
        can never observe the batch's own keys in the index;
      * replay sentinels: every ingested doc_id is indexed as a kind=1
        row; a batch id already present is dropped wholesale, so a crash
        AFTER the commit replays into an empty output — touch nothing —
        while a crash BEFORE it replays against an index that never saw
        the batch and reproduces the identical output (``sink`` runs
        before the commit, the exactly-once hook);
      * the commit is ONE atomic same-filesystem directory rename of the
        staged (fresh passage hashes + id sentinels) parquet.

    Returns the ``passage_dedup``-shaped frame (id, n_passages, n_kept,
    clean_text) for the batch's NOT-previously-ingested docs.
    """
    import os
    import shutil
    import uuid

    spark = new_docs.sparkSession
    os.makedirs(index_dir, exist_ok=True)
    for name in os.listdir(index_dir):    # reclaim crashed staging
        if name.startswith("_staging_"):
            shutil.rmtree(os.path.join(index_dir, name), ignore_errors=True)

    idx = read_passage_index(spark, index_dir)
    # already-ingested ids (replay detection): batch side broadcast
    batch_ids = new_docs.select(F.col(id_col).alias("key")).distinct()
    already = (idx.filter(F.col("kind") == 1)
               .join(F.broadcast(batch_ids), "key").select("key")
               .localCheckpoint(eager=True))
    fresh_docs = new_docs.join(
        already.withColumnRenamed("key", id_col), id_col, "left_anti")

    p = (_passage_rows(fresh_docs, text_col, id_col, width)
         .withColumn("phash", F.xxhash64("passage")))
    # index probe: which batch hashes were seen before (batch broadcast)
    batch_hashes = p.select("phash").distinct()
    seen = (idx.filter(F.col("kind") == 0)
            .select(F.col("key").alias("phash"))
            .join(F.broadcast(batch_hashes), "phash").select("phash")
            .distinct()
            .localCheckpoint(eager=True))

    w = Window.partitionBy("phash").orderBy(id_col, "pidx")
    flagged = (p.join(F.broadcast(seen.withColumn("_seen", F.lit(True))),
                      "phash", "left")
               .withColumn("_keep_flag",
                           F.col("_seen").isNull()
                           & (F.row_number().over(w) == 1)))
    kept = _reassemble_passages(flagged, id_col)
    if sink is not None:
        sink(kept)

    # commit: fresh hashes (batch distinct minus seen) + id sentinels,
    # both derived from the pre-batch index state
    staging = os.path.join(index_dir, f"_staging_{uuid.uuid4().hex}")
    fresh_hashes = (batch_hashes.join(F.broadcast(seen), "phash",
                                      "left_anti")
                    .select(F.lit(0).alias("kind"),
                            F.col("phash").alias("key")))
    fresh_ids = (fresh_docs.select(F.col(id_col).alias("key")).distinct()
                 .select(F.lit(1).alias("kind"), "key"))
    (fresh_hashes.unionByName(fresh_ids)
     .select(F.col("kind").cast("int"), F.col("key").cast("long"))
     .write.parquet(staging))
    os.rename(staging, os.path.join(index_dir, f"batch_{uuid.uuid4().hex}"))
    return kept


# ---------------------------------------------------------------------------
# Edit-distance near-dup (X54): inverted-index candidates, levenshtein verify
# ---------------------------------------------------------------------------


def edit_distance_near_dups(docs: DataFrame, max_dist: int,
                            candidate_threshold: float = 0.2,
                            max_doc_freq: int | None = None,
                            text_col: str = "text",
                            id_col: str = "doc_id") -> DataFrame:
    """Pairs (d1 < d2, distance) whose texts are within ``max_dist``
    character edits — the fuzzy-dup family for OCR noise / templated
    variants, where token-set measures (Jaccard, minhash) under-read
    single-character damage spread across many tokens.

    Never all-pairs: candidates come from the existing shingle
    inverted-index join (ngram_jaccard_pairs, Jaccard >=
    ``candidate_threshold``), then Spark's JVM ``levenshtein`` verifies
    each candidate exactly.  Recall contract: a pair is findable iff it
    still shares a 3-token shingle — tiny edit distances on >3-token docs
    always do (an edit damages at most 3 shingles per token touched);
    adversarial ≤max_dist pairs with NO shared shingle are out of scope
    (the sound PassJoin-style substring blocking is the upgrade path).
    Verify cost is candidate-bounded; levenshtein is O(len²) per pair —
    cap document length upstream for pathological corpora.

    DuckDB twin (tests): brute-force O(n²) `levenshtein` cross join on a
    planted corpus — operator pairs must equal the oracle's exactly."""
    pairs = (ngram_jaccard_pairs(None, docs, candidate_threshold,
                                 max_doc_freq=max_doc_freq,
                                 query_filter=F.lit(True))
             .filter(F.col("qid") < F.col("cid"))
             .select(F.col("qid").alias("d1"), F.col("cid").alias("d2")))
    t = docs.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t"))
    return (pairs
            .join(t.withColumnRenamed("_id", "d1")
                   .withColumnRenamed("_t", "_t1"), "d1")
            .join(t.withColumnRenamed("_id", "d2")
                   .withColumnRenamed("_t", "_t2"), "d2")
            # sound length filter: edit distance >= |len1 - len2|, so the
            # verify never runs on pairs it cannot accept
            .filter(F.abs(F.length("_t1") - F.length("_t2")) <= max_dist)
            # thresholded levenshtein: banded O(k*len) DP instead of
            # O(len^2), returning -1 past the bound
            .withColumn("distance",
                        F.levenshtein("_t1", "_t2", max_dist))
            .filter(F.col("distance") >= 0)
            .select("d1", "d2", "distance"))


def compact_passage_index(spark, index_dir: str,
                          min_dirs: int = 2) -> int:
    """Merge the passage index's committed ``batch_*`` dirs into one —
    the maintenance pass for a long-running ingest stream, whose index
    otherwise accumulates one directory (and its tiny files) per batch
    and pays per-dir listing + per-file open on every probe.

    Safety argument (this is why the index can be compacted with plain
    renames at all): the index is a MEMBERSHIP SET — readers only ever
    ask "is this key present" via joins that bound/distinct their output
    — so a duplicated key is semantically inert.  The merge therefore
    needs no cross-directory atomicity: write the union to underscore
    staging, rename it in as a new batch dir (atomic), then delete the
    old dirs; a crash mid-delete leaves duplicate keys, which the next
    compaction (or nothing at all) cleans up.  Contrast the FEATURE
    index (incremental_minhash_dedup), where rows are per-doc payloads —
    its compaction would need the same merged-write but a
    dedup-on-doc_id read guard.

    Single-writer contract: run between batches (the ingest stream owns
    the index).  Returns the number of batch dirs merged (0 = below
    ``min_dirs``, nothing touched)."""
    import os
    import shutil
    import uuid

    dirs = [d for d in os.listdir(index_dir) if d.startswith("batch_")]
    if len(dirs) < min_dirs:
        return 0
    merged = (read_passage_index(spark, index_dir)
              .distinct()
              .coalesce(max(1, int(spark.conf.get(
                  "spark.sql.shuffle.partitions")) // 8)))
    staging = os.path.join(index_dir, f"_staging_{uuid.uuid4().hex}")
    merged.write.parquet(staging)
    os.rename(staging, os.path.join(index_dir,
                                    f"batch_{uuid.uuid4().hex}"))
    for d in dirs:
        shutil.rmtree(os.path.join(index_dir, d), ignore_errors=True)
    return len(dirs)


def edit_distance_near_dups_qchunk(docs: DataFrame, max_dist: int,
                                   q: int | None = None,
                                   text_col: str = "text",
                                   id_col: str = "doc_id") -> DataFrame:
    """SOUND edit-distance near-dup: every pair within ``max_dist`` is
    found, no shingle-survival assumption — the q-chunk filter of the
    PassJoin/Ed-Join family [public knowledge: Ukkonen's q-gram bound;
    Li, Deng, Feng, "PASS-JOIN", PVLDB 2011].

    Pigeonhole: transform a into b with <= k edits; each edit's aligned
    region intersects at most one of b's floor(|b|/q) FULL non-overlapping
    q-chunks, so at least m - k of them (m = floor(|b|/q)) appear VERBATIM
    as substrings of a, each displaced by at most k characters.  With
    floor(minlen/q) >= k+1 that is at least one chunk — so joining every
    doc's full q-chunks (as b) against every doc's q-grams (as a) on
    chunk text generates a complete candidate set, which two further
    SOUND filters then prune before the verify: the POSITION window
    (|gram offset - chunk offset| <= k) and the COUNT filter (>= m - k
    distinct chunks must match).  Verify is the same thresholded
    levenshtein; the hypothesis differential pins exact equality with
    brute force, so none of the three filters can silently over-prune.

    Cost shape: chunks ~ len/q rows per doc, grams ~ len rows per doc —
    the gram index is the big side; one shuffle joins them on gram text
    (at 100 TB hash the gram and pre-aggregate the gram side by doc to
    bound fan-out; boilerplate-heavy corpora want the same doc-frequency
    cutoff as ngram_jaccard, which TRADES the soundness guarantee and is
    therefore not applied here).

    ``q`` defaults to the largest sound value, floor(minlen/(k+1)),
    probed with one scalar aggregate (an index-build step, not per-row
    work); an explicit q is validated against the same bound."""
    lens = docs.select(F.min(F.length(text_col)).alias("mn")).collect()[0]
    if lens.mn is None:
        return docs.sparkSession.createDataFrame(
            [], "d1 long, d2 long, distance int")
    max_q = lens.mn // (max_dist + 1)
    if max_q < 1:
        raise ValueError(
            f"no sound q exists: min text length {lens.mn} needs "
            f"> {max_dist + 1} chars (floor(minlen/(k+1)) >= 1)")
    if q is None:
        q = max_q
    elif q > max_q:
        raise ValueError(f"q={q} unsound for min length {lens.mn} and "
                         f"k={max_dist}: need q <= {max_q}")

    t = docs.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t"))
    pairs = (
        _qchunk_rows(t, q).join(_qgram_rows(t, q), "g")
        .filter(F.col("cb") != F.col("ga"))
        # POSITION filter (sound): <= k edits shift an untouched chunk's
        # image in `a` by at most k characters, so a chunk at character
        # offset cpos*q can only match a gram within +-k of it
        .filter(F.abs(F.col("gpos") - F.col("cpos") * q) <= max_dist)
        # COUNT filter (sound): at least m - k of b's chunks survive the
        # edit script untouched, so a true pair matches that many
        # DISTINCT chunks — fewer means the pair cannot be within k
        .groupBy(F.col("cb"), F.col("ga"), F.col("m"))
        .agg(F.countDistinct("cpos").alias("_hits"))
        .filter(F.col("_hits") >= F.col("m") - max_dist)
        .select(F.least("cb", "ga").alias("d1"),
                F.greatest("cb", "ga").alias("d2"))
        .distinct())
    return _levenshtein_verify(pairs, t, max_dist)


def _qchunk_rows(t: DataFrame, q: int) -> DataFrame:
    """One row per FULL non-overlapping q-chunk of each doc: (cb=doc_id,
    m=floor(len/q) total chunks, cpos chunk ordinal, g chunk text).
    Requires every doc's length >= q (the callers' q-validation bound
    guarantees >= q*(k+1))."""
    n_chunks = F.floor(F.length("_t") / q).cast("int")
    return t.select(
        F.col("_id").alias("cb"),
        n_chunks.alias("m"),
        F.posexplode(F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.substring(F.col("_t"), i * q + 1, q)))
        .alias("cpos", "g"))


def _qgram_rows(t: DataFrame, q: int) -> DataFrame:
    """One row per sliding q-gram of each doc: (ga=doc_id, gpos 1-based
    character offset, g gram text) — the big side (~len rows/doc)."""
    n_grams = (F.length("_t") - q + 1).cast("int")
    return t.select(
        F.col("_id").alias("ga"),
        F.posexplode(F.transform(
            F.sequence(F.lit(1), n_grams),
            lambda i: F.substring(F.col("_t"), i, q))).alias("gpos", "g"))


def _levenshtein_verify(pairs: DataFrame, t: DataFrame,
                        max_dist: int) -> DataFrame:
    """Exact verify shared by the batch and incremental q-chunk paths:
    sound length prefilter, then thresholded (banded O(k*len)) JVM
    levenshtein."""
    return (pairs
            .join(t.withColumnRenamed("_id", "d1")
                   .withColumnRenamed("_t", "_t1"), "d1")
            .join(t.withColumnRenamed("_id", "d2")
                   .withColumnRenamed("_t", "_t2"), "d2")
            .filter(F.abs(F.length("_t1") - F.length("_t2")) <= max_dist)
            .withColumn("distance",
                        F.levenshtein("_t1", "_t2", max_dist))
            .filter(F.col("distance") >= 0)
            .select("d1", "d2", "distance"))


# ---------------------------------------------------------------------------
# Cross-batch edit-distance dedup (X59): persisted q-chunk index
# ---------------------------------------------------------------------------

EDIT_INDEX_META = "_meta.json"


def read_edit_index(spark, index_dir: str):
    """The committed (chunks, docs) tables of an edit-distance index —
    ``batch_*/chunks`` rows (doc_id, m, cpos, g) and ``batch_*/docs``
    rows (doc_id, text).  Underscore-prefixed staging stays invisible.
    Empty index -> empty DataFrames with the right schemas."""
    import os

    chunk_schema = "doc_id long, m int, cpos int, g string"
    doc_schema = "doc_id long, text string"
    dirs = sorted(d for d in os.listdir(index_dir)
                  if d.startswith("batch_")) if os.path.isdir(index_dir) else []
    if not dirs:
        return (spark.createDataFrame([], chunk_schema),
                spark.createDataFrame([], doc_schema))
    chunks = spark.read.schema(chunk_schema).parquet(
        *[os.path.join(index_dir, d, "chunks") for d in dirs])
    docs = spark.read.schema(doc_schema).parquet(
        *[os.path.join(index_dir, d, "docs") for d in dirs])
    return chunks, docs


def incremental_edit_distance_dedup(new_docs: DataFrame, index_dir: str,
                                    max_dist: int | None = None,
                                    q: int | None = None,
                                    text_col: str = "text",
                                    id_col: str = "doc_id",
                                    sink=None) -> DataFrame:
    """Cross-batch edit-distance dedup against a persisted q-chunk index —
    the X54 family's incremental twin (VERDICT r8 item 6), completing the
    pattern the doc-level (incremental_minhash_dedup) and passage-level
    (incremental_passage_dedup) paths established: each ingest batch is
    deduped against everything ever seen without re-processing history.

    INDEX PARAMETERS ARE FIXED AT CREATION (like the minhash band
    structure and the frozen IVF quantizer): the first batch records
    ``(q, max_dist)`` in ``_meta.json`` (q defaults to that batch's
    largest sound value, floor(minlen/(k+1))); every later batch
    validates its own minimum length against the stored q — a batch
    whose shortest doc breaks the pigeonhole bound raises rather than
    silently losing soundness.  Callers with a known corpus length floor
    pass an explicit q up front.

    Per batch:

      1. within-batch pairs via the SOUND q-chunk blocking
         (edit_distance_near_dups_qchunk — position + count filters,
         thresholded levenshtein verify);
      2. cross candidates: the INDEX'S chunk rows joined against the
         batch's broadcast q-gram rows on chunk text — history is
         SCANNED, never shuffled (the minhash posture; at 100 TB the
         index dwarfs any batch).  Soundness holds in this single
         direction: for any pair within k, at least m - k of the OLD
         doc's chunks appear verbatim (position-windowed) among the NEW
         doc's grams, because every indexed doc satisfies the q bound;
      3. exact verify over candidate texts (old text from the index's
         doc store, new from the batch) with the shared length prefilter
         + thresholded levenshtein;
      4. drop a new doc iff it matches ANY indexed doc or a lower-id
         doc within its own batch (arrival-order semantics: ascending-id
         batches equal the one-shot pair set exactly — pytest-pinned);
         a doc_id already indexed is a replay and is dropped
         unconditionally without re-appending (inert replays);
      5. ``sink`` (optional) receives the kept rows BEFORE the commit —
         the exactly-once hook (crash before commit: replay recomputes
         the identical kept set against an index that never saw the
         batch; crash after: every id self-identifies as ingested and
         the empty kept set touches nothing);
      6. commit = write chunks+docs under one underscore staging dir,
         then ONE atomic directory rename (dropped docs included:
         "earlier" covers them, keeping batch-split invariance).

    Index weight: ~len/q chunk rows + the doc text per doc — heavier
    than minhash fingerprints (text must persist for the levenshtein
    verify) but q-fold lighter than a gram index; the batch side carries
    the ~len-rows/doc gram explosion, which is batch-bounded and
    broadcast."""
    import json
    import os
    import shutil
    import uuid

    spark = new_docs.sparkSession
    os.makedirs(index_dir, exist_ok=True)
    for name in os.listdir(index_dir):
        if name.startswith("_staging_"):
            shutil.rmtree(os.path.join(index_dir, name), ignore_errors=True)

    t_new = new_docs.select(F.col(id_col).cast("long").alias("_id"),
                            F.col(text_col).alias("_t"))
    mn = t_new.select(F.min(F.length("_t")).alias("mn")).collect()[0].mn
    if mn is None:
        return new_docs  # empty batch: nothing to dedup or commit

    meta_path = os.path.join(index_dir, EDIT_INDEX_META)
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            meta = json.load(fh)
        if max_dist is not None and max_dist != meta["max_dist"]:
            raise ValueError(
                f"index {index_dir} was created with max_dist="
                f"{meta['max_dist']}; got {max_dist}")
        if q is not None and q != meta["q"]:
            raise ValueError(f"index {index_dir} was created with "
                             f"q={meta['q']}; got {q}")
        q, max_dist = meta["q"], meta["max_dist"]
    else:
        if max_dist is None:
            raise ValueError("first batch must declare max_dist")
        if q is None:
            q = mn // (max_dist + 1)
            if q < 1:
                raise ValueError(
                    f"no sound q: min text length {mn} with k={max_dist} "
                    f"needs length >= {max_dist + 1}")
        tmp = meta_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"q": q, "max_dist": max_dist}, fh)
        os.replace(tmp, meta_path)
    if mn < q * (max_dist + 1):
        raise ValueError(
            f"batch min text length {mn} breaks the index's pigeonhole "
            f"bound (q={q}, k={max_dist} requires length >= "
            f"{q * (max_dist + 1)}) — shorter docs need a new index with "
            "a smaller q")

    old_chunks, old_docs = read_edit_index(spark, index_dir)

    # replay detection: indexed ids in this batch (index scanned, batch
    # broadcast); materialized before the commit can change the index
    already = (old_docs.select("doc_id")
               .join(F.broadcast(t_new.select(F.col("_id").alias("doc_id"))),
                     "doc_id", "left_semi")
               .localCheckpoint(eager=True))

    within = edit_distance_near_dups_qchunk(
        t_new, max_dist, q=q, text_col="_t", id_col="_id")

    cross_cands = (
        old_chunks.join(F.broadcast(_qgram_rows(t_new, q)), "g")
        .filter(F.col("doc_id") != F.col("ga"))  # replayed id vs itself
        .filter(F.abs(F.col("gpos") - F.col("cpos") * q) <= max_dist)
        .groupBy(F.col("doc_id"), F.col("ga"), F.col("m"))
        .agg(F.countDistinct("cpos").alias("_hits"))
        .filter(F.col("_hits") >= F.col("m") - max_dist)
        .select(F.col("doc_id").alias("d1"), F.col("ga").alias("d2"))
        .distinct())
    texts = (old_docs.select(F.col("doc_id").alias("_id"),
                             F.col("text").alias("_t"))
             .unionByName(t_new))
    cross_dups = _levenshtein_verify(cross_cands, texts, max_dist)

    dropped = (within.select(F.col("d2").alias("_id"))
               .unionByName(cross_dups.select(F.col("d2").alias("_id")))
               .distinct()
               .localCheckpoint(eager=True))
    kept = (new_docs
            .join(dropped.withColumnRenamed("_id", id_col), id_col,
                  "left_anti")
            .join(already.withColumnRenamed("doc_id", id_col), id_col,
                  "left_anti"))
    if sink is not None:
        sink(kept)

    # commit: chunks + docs staged under one dir, filtered to ids not yet
    # indexed (a replay never duplicates index entries), one atomic rename
    fresh = t_new.join(F.broadcast(already), t_new._id == already.doc_id,
                       "left_anti")
    if fresh.limit(1).count() == 0:
        return kept  # full replay: nothing to append, no empty batch dir
    staging = os.path.join(index_dir, f"_staging_{uuid.uuid4().hex}")
    _qchunk_rows(fresh, q).select(
        F.col("cb").alias("doc_id"), "m", "cpos", "g") \
        .write.parquet(os.path.join(staging, "chunks"))
    fresh.select(F.col("_id").alias("doc_id"), F.col("_t").alias("text")) \
        .write.parquet(os.path.join(staging, "docs"))
    os.rename(staging, os.path.join(index_dir, f"batch_{uuid.uuid4().hex}"))
    return kept


# ---------------------------------------------------------------------------
# Cross-batch SimHash dedup (X63): persisted fingerprint index
# ---------------------------------------------------------------------------

SIMHASH_INDEX_META = "_meta.json"


def _simhash_block_rows(fps: DataFrame, n_bits: int, k: int,
                        id_alias: str) -> DataFrame:
    """(id, block_id, block_val) rows — the fingerprint split into k+1
    bit blocks.  Pigeonhole [public knowledge: Manku, Jain, Das Sarma,
    "Detecting Near-Duplicates for Web Crawling", WWW 2007]: two
    fingerprints within hamming distance k differ in at most k blocks,
    so they agree EXACTLY on at least one of the k+1 — a block-equality
    join is a complete candidate generator.  Blocks are derived from the
    stored fingerprint at probe time (cheap bit math on a scanned
    column) instead of materialized, keeping the index at one row per
    doc."""
    n_blocks = k + 1
    w = (n_bits + n_blocks - 1) // n_blocks
    blocks = F.array(*[
        F.struct(
            F.lit(b).alias("block_id"),
            F.shiftright(F.col("simhash"), b * w)
            .bitwiseAND(F.lit((1 << min(w, n_bits - b * w)) - 1).cast("long"))
            .alias("block_val"))
        for b in range(n_blocks)])
    return (fps.select(F.col("doc_id").alias(id_alias), "simhash",
                       F.explode(blocks).alias("b"))
            .select(id_alias, "simhash", "b.block_id", "b.block_val"))


def simhash_near_dup_pairs(docs: DataFrame, max_hamming: int,
                           n_bits: int = 32, text_col: str = "text",
                           id_col: str = "doc_id",
                           token_hash=token_hashes) -> DataFrame:
    """Batch-scoped SimHash near-dup pairs (d1 < d2, hamming): complete
    candidates from the block-equality self-join (see
    _simhash_block_rows), exact verify via bit_count(xor) — one shuffle
    on the block key, no all-pairs anywhere."""
    fps = simhash(docs, n_bits=n_bits, text_col=text_col, id_col=id_col,
                  token_hash=token_hash)
    a = _simhash_block_rows(fps, n_bits, max_hamming, "d1") \
        .withColumnRenamed("simhash", "h1")
    b = _simhash_block_rows(fps, n_bits, max_hamming, "d2") \
        .withColumnRenamed("simhash", "h2")
    return (a.join(b, ["block_id", "block_val"])
            .filter(F.col("d1") < F.col("d2"))
            .select("d1", "d2", "h1", "h2").distinct()
            .withColumn("hamming",
                        F.bit_count(F.col("h1").bitwiseXOR(F.col("h2"))))
            .filter(F.col("hamming") <= max_hamming)
            .select("d1", "d2", "hamming"))


def read_simhash_index(spark, index_dir: str) -> DataFrame:
    import os

    schema = "doc_id long, simhash long"
    dirs = sorted(d for d in os.listdir(index_dir)
                  if d.startswith("batch_")) if os.path.isdir(index_dir) else []
    if not dirs:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(
        *[os.path.join(index_dir, d) for d in dirs])


def incremental_simhash_dedup(new_docs: DataFrame, index_dir: str,
                              max_hamming: int | None = None,
                              n_bits: int | None = None,
                              text_col: str = "text",
                              id_col: str = "doc_id",
                              token_hash=token_hashes,
                              sink=None) -> DataFrame:
    """Cross-batch SimHash dedup against a persisted fingerprint index —
    completing the incremental pattern across ALL FOUR near-dup families
    (minhash X18, passage X53, edit-distance X59, simhash here): each
    ingest batch is deduped against everything ever seen at 8 bytes of
    index per historical doc.

    Index parameters (n_bits, max_hamming) freeze at creation
    (_meta.json) — block geometry must match across batches or the
    pigeonhole guarantee breaks.  Per batch: within-batch pairs via the
    block self-join; cross candidates from the INDEX's derived block
    rows joined against the batch's broadcast blocks (history SCANNED,
    never shuffled); exact hamming verify; replays (indexed doc_ids)
    dropped unconditionally and never re-appended; ``sink`` fires on the
    kept rows BEFORE the one atomic dir-rename commit (dropped docs'
    fingerprints committed too — batch-split invariance)."""
    import json
    import os
    import shutil
    import uuid

    spark = new_docs.sparkSession
    os.makedirs(index_dir, exist_ok=True)
    for name in os.listdir(index_dir):
        if name.startswith("_staging_"):
            shutil.rmtree(os.path.join(index_dir, name), ignore_errors=True)

    meta_path = os.path.join(index_dir, SIMHASH_INDEX_META)
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            meta = json.load(fh)
        for arg, key in ((max_hamming, "max_hamming"), (n_bits, "n_bits")):
            if arg is not None and arg != meta[key]:
                raise ValueError(f"index {index_dir} was created with "
                                 f"{key}={meta[key]}; got {arg}")
        max_hamming, n_bits = meta["max_hamming"], meta["n_bits"]
    else:
        if max_hamming is None:
            raise ValueError("first batch must declare max_hamming")
        n_bits = n_bits or 32
        tmp = meta_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"n_bits": n_bits, "max_hamming": max_hamming}, fh)
        os.replace(tmp, meta_path)

    fps_new = simhash(new_docs, n_bits=n_bits, text_col=text_col,
                      id_col=id_col, token_hash=token_hash) \
        .localCheckpoint(eager=True)  # fingerprint once, reuse 3 ways
    old = read_simhash_index(spark, index_dir)
    already = (old.select("doc_id")
               .join(F.broadcast(fps_new.select("doc_id")), "doc_id",
                     "left_semi")
               .localCheckpoint(eager=True))

    nb = _simhash_block_rows(fps_new, n_bits, max_hamming, "d2") \
        .withColumnRenamed("simhash", "h2")
    ob = _simhash_block_rows(old, n_bits, max_hamming, "d1") \
        .withColumnRenamed("simhash", "h1")
    cross = (ob.join(F.broadcast(nb), ["block_id", "block_val"])
             .filter(F.col("d1") != F.col("d2"))
             .select("d1", "d2", "h1", "h2").distinct()
             .filter(F.bit_count(F.col("h1").bitwiseXOR(F.col("h2")))
                     <= max_hamming))
    within = (nb.withColumnRenamed("d2", "d1")
              .withColumnRenamed("h2", "h1")
              .join(F.broadcast(nb), ["block_id", "block_val"])
              .filter(F.col("d1") < F.col("d2"))
              .select("d1", "d2", "h1", "h2").distinct()
              .filter(F.bit_count(F.col("h1").bitwiseXOR(F.col("h2")))
                      <= max_hamming))

    dropped = (within.select(F.col("d2").alias("doc_id"))
               .unionByName(cross.select(F.col("d2").alias("doc_id")))
               .distinct()
               .localCheckpoint(eager=True))
    kept = (new_docs
            .join(dropped.withColumnRenamed("doc_id", id_col), id_col,
                  "left_anti")
            .join(already.withColumnRenamed("doc_id", id_col), id_col,
                  "left_anti"))
    if sink is not None:
        sink(kept)

    fresh = fps_new.join(F.broadcast(already), "doc_id", "left_anti")
    if fresh.limit(1).count() == 0:
        return kept
    staging = os.path.join(index_dir, f"_staging_{uuid.uuid4().hex}")
    fresh.write.parquet(staging)
    os.rename(staging, os.path.join(index_dir, f"batch_{uuid.uuid4().hex}"))
    return kept
