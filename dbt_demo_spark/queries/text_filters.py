"""Corpus-hygiene filters for a training-data pipeline: n-gram repetition
stats (the Gopher/MassiveText-style repetition signals) and PII redaction.

Both are ROW-LOCAL — pure JVM expression work over each document, no
shuffle, no Python.  At 100 TB they are a narrow map over the scan: the
plan is Scan -> Project with zero Exchange (asserted in
tests/test_text_filters.py), so they parallelize embarrassingly and
pipeline into whatever shuffle the downstream operator needs.

These are pytest-differential operators (the driver catalog is capped at
50 entries); tests/test_text_filters.py runs the same DuckDB-oracle gate
the catalog queries get, plus planted-fixture checks on corpora that
actually contain repetition and PII (the synthetic corpus has neither in
interesting amounts).

Reference parity: the reference pipeline has no text-hygiene stage (its 4
models are relational, dbt-demo models/*.sql); these extend the engine the
way its users would for LLM corpus preparation.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..functions.numeric import round2, sql_round2
from ..functions.text import HASH_P, sql_tokens, tokens
from ..sources.parquet import (build_once, load_table, mart_cache_dir,
                               spread)
from .catalog import query

# ---------------------------------------------------------------------------
# Repetition stats
# ---------------------------------------------------------------------------


def _ngrams(toks, n_tokens, n: int):
    """array<string> of space-joined word n-grams via shifted-slice zip_with
    (same Catalyst-safe shape as functions/text.shingle_hashes: transform+
    element_at would re-inline the token array per element).

    The n-gram count is clamped at 0: a doc shorter than n tokens yields an
    EMPTY array (DuckDB's generate_series(1, len-k) does the same), where
    an unclamped negative slice length raises INVALID_PARAMETER_VALUE.LENGTH
    and kills the whole job — one 1-token doc in an ingest batch must not
    abort the stream (planted-fixture docs 6-8 pin this)."""
    m = F.greatest(n_tokens - (n - 1), F.lit(0))  # number of n-grams, >= 0
    out = F.slice(toks, 1, m)
    for i in range(1, n):
        out = F.zip_with(out, F.slice(toks, 1 + i, m),
                         lambda a, b: F.concat(a, F.lit(" "), b))
    return out


def _dup_frac(arr):
    """1 - distinct/total: the fraction of n-gram slots occupied by a repeat
    of an earlier n-gram.  NULL when the array is empty."""
    n = F.size(arr)
    return F.when(n > 0, 1.0 - F.size(F.array_distinct(arr)) * 1.0 / n)


TEXT_REPETITION_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id, {sql_tokens('text')} AS t FROM documents
    ), grams AS (
        SELECT doc_id, t,
               [t[i] || ' ' || t[i+1] for i in generate_series(1, len(t) - 1)] AS bi,
               [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                for i in generate_series(1, len(t) - 2)] AS tri
        FROM toks
    )
    SELECT doc_id,
           len(t) AS n_tokens,
           {sql_round2('len(list_distinct(t)) * 1.0 / len(t)')} AS uniq_token_frac,
           CASE WHEN len(bi) > 0 THEN
               {sql_round2('1.0 - len(list_distinct(bi)) * 1.0 / len(bi)')}
           END AS dup_bigram_frac,
           CASE WHEN len(tri) > 0 THEN
               {sql_round2('1.0 - len(list_distinct(tri)) * 1.0 / len(tri)')}
           END AS dup_trigram_frac
    FROM grams
"""


def repetition_stats_jvm(docs: DataFrame) -> DataFrame:
    """The JVM spec path for text_repetition (the catalog fn pre-r14):
    row-local higher-order-function folds.  Kept as the cross-engine
    reference — tests/test_text_filters.py pins the Arrow twin against it
    to the bit, degenerate docs included."""
    toks = tokens(F.col("text"))
    n = F.size(toks)
    bi = _ngrams(toks, n, 2)
    tri = _ngrams(toks, n, 3)
    return docs.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        round2(F.size(F.array_distinct(toks)) * 1.0 / n).alias("uniq_token_frac"),
        round2(_dup_frac(bi)).alias("dup_bigram_frac"),
        round2(_dup_frac(tri)).alias("dup_trigram_frac"),
    )


def repetition_stats_arrow(docs: DataFrame) -> DataFrame:
    """Arrow twin of ``repetition_stats_jvm`` — bit-identical outputs
    (pytest-pinned on the gate corpus + degenerate fixture), minus the
    interpreted-HOF cost.

    Every value reproduces the JVM expression exactly:

      * tokens: Python ``str.split(' ')`` == Java ``split`` with limit -1
        (leading/trailing/consecutive-space empties all kept);
      * distinct counts: ``set()`` over tokens / n-gram TUPLES — tokens
        cannot contain the separator, so tuple distinctness equals the
        JVM's joined-string distinctness;
      * fractions: the same IEEE double ops in the same order
        (count * 1.0 / total, 1.0 - frac), canonicalized with the same
        floor-trick round2;
      * NULL text -> NULL stats (size(split(NULL)) is NULL), and empty
        n-gram arrays -> NULL fractions, via pandas NULLABLE dtypes
        (Int64/Float64 — plain float64 would smuggle NaN where the JVM
        path yields NULL).

    Motivation (guide §4.2, measured interleaved min-of-3, noop sink):
    1.44 s -> 0.33 s at sf1 (4.4x), 0.35 -> 0.25 s at sf0.1 — the HOF
    fold is linear in corpus bytes, the Python-boundary constant is not."""
    from collections.abc import Iterator
    from math import floor

    import pandas as pd

    def r2(x: float) -> float:
        return floor(x * 100.0 + 0.5) / 100.0

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, nt, uq, db, dt = [], [], [], [], []
            for d, t in zip(pdf["doc_id"], pdf["text"]):
                ids.append(d)
                if t is None:
                    nt.append(None), uq.append(None)
                    db.append(None), dt.append(None)
                    continue
                toks = t.split(" ")
                n = len(toks)
                nt.append(n)
                uq.append(r2(len(set(toks)) * 1.0 / n))
                if n >= 2:
                    m = n - 1
                    db.append(r2(1.0 - len(set(zip(toks, toks[1:]))) * 1.0 / m))
                else:
                    db.append(None)
                if n >= 3:
                    m = n - 2
                    dt.append(r2(1.0 - len(set(zip(toks, toks[1:], toks[2:])))
                                 * 1.0 / m))
                else:
                    dt.append(None)
            yield pd.DataFrame({
                "doc_id": ids,
                "n_tokens": pd.array(nt, dtype="Int64"),
                "uniq_token_frac": pd.array(uq, dtype="Float64"),
                "dup_bigram_frac": pd.array(db, dtype="Float64"),
                "dup_trigram_frac": pd.array(dt, dtype="Float64"),
            })

    return (docs.select("doc_id", "text")
            .mapInPandas(run, "doc_id long, n_tokens long, "
                              "uniq_token_frac double, "
                              "dup_bigram_frac double, "
                              "dup_trigram_frac double"))


@query("text_repetition", oracle=TEXT_REPETITION_ORACLE,
       tags=("corpus", "hygiene", "repetition"))
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition signals: distinct-token fraction and the
    duplicated bigram/trigram fractions (high values flag boilerplate or
    degenerate generations; the classic cut is dup_trigram_frac > ~0.3).
    Driver-gated since r5 (displacing tpch_q19): the corpus-preparation
    funnel's hygiene stage is the repo's flagship surface and deserves a
    CORRECTNESS row.

    Served from the ARROW twin since r14 (guide §4.2): the JVM
    higher-order-function n-gram folds don't enter whole-stage codegen and
    walk the interpreted expression tree per token — linear in corpus
    bytes, 1.44 s at sf1, where the Python set/tuple pass reads 0.33 s
    with bit-identical output (repetition_stats_arrow docstring has the
    full measurement; repetition_stats_jvm stays as the pinned spec path).
    ``spread`` buys the worker pool past the one-task local scan (no-op at
    cluster scale where scans arrive wide)."""
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    return repetition_stats_arrow(docs)


def repetition_filter(docs: DataFrame, max_dup_trigram_frac: float = 0.3,
                      min_uniq_token_frac: float = 0.2) -> DataFrame:
    """The filter form: keep documents under the repetition thresholds.
    Composes as a plain narrow filter ahead of any dedup/shuffle stage."""
    toks = tokens(F.col("text"))
    n = F.size(toks)
    tri = _ngrams(toks, n, 3)
    uniq = F.size(F.array_distinct(toks)) * 1.0 / n
    dup_tri = F.coalesce(_dup_frac(tri), F.lit(0.0))
    return docs.filter((dup_tri <= max_dup_trigram_frac)
                       & (uniq >= min_uniq_token_frac))


# ---------------------------------------------------------------------------
# Eval-set decontamination (operators/decontaminate.py) under the driver
# gate: a ~1% deterministic slice of the documents table stands in for the
# held-out benchmark (doc_id % 97), the rest is the training corpus.
# ---------------------------------------------------------------------------

DECONTAM_EVAL_PRED = "doc_id % 97 = 0"
DECONTAM_CORPUS_PRED = "doc_id % 97 <> 0"


def _decontam_oracle() -> str:
    from ..operators.decontaminate import sql_contamination_report
    return sql_contamination_report(DECONTAM_EVAL_PRED, DECONTAM_CORPUS_PRED)


@query("corpus_decontamination", oracle=_decontam_oracle(),
       tags=("corpus", "decontamination"))
def corpus_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination report of the training slice against the eval slice
    (the n-gram overlap screen every LLM corpus runs before training).
    Driver-gated since r5, displacing tpch_q12 — see
    operators/decontaminate.py for the 100 TB shape (eval grams broadcast;
    corpus never shuffles before the semi join)."""
    from ..operators.decontaminate import contamination_report

    raw = load_table(spark, sf_dir, "documents")
    docs = spread(raw, "doc_id")
    # eval side from the UNSPREAD scan (r15, VERDICT r14 item 4): the
    # ~1% eval slice's JVM gram fold needs no worker-pool fan-out, and
    # spreading it cost the eval subtree its own exchange + stage
    # (measured with the no-distinct build side: sf0.1 0.64 -> 0.48 s,
    # sf1 1.09 -> 0.87 s interleaved min-of-7, rows identical)
    return contamination_report(docs.filter(DECONTAM_CORPUS_PRED),
                                raw.filter(DECONTAM_EVAL_PRED))


# ---------------------------------------------------------------------------
# Vocabulary
# ---------------------------------------------------------------------------

VOCAB_TOPK_ORACLE = f"""
    WITH toks AS (
        SELECT unnest({sql_tokens('text')}) AS tok FROM documents
    ), counts AS (
        SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok
    )
    SELECT tok, n, rank FROM (
        SELECT tok, n,
               ROW_NUMBER() OVER (ORDER BY n DESC, tok) AS rank
        FROM counts
    ) WHERE rank <= 100
"""


def vocab_topk(spark: SparkSession, sf_dir: str, k: int = 100) -> DataFrame:
    """Corpus token-frequency top-k (vocabulary head) with deterministic
    tie-break.  One shuffle on the token (explode feeds a partial-aggregated
    groupBy, so the map side combines before anything moves); the top-k is
    ``orderBy(...).limit(k)``, which Spark plans as TakeOrderedAndProject —
    each partition keeps only its local k, the driver merges k-sized heaps —
    so NO global sort ever runs even over a billions-of-tokens web-corpus
    vocabulary.  Only the k survivors pass through the ranking window (a
    k-row single-partition sort, constant-bounded); r4 ranked the FULL
    vocabulary through one partition, the scale defect this rewrite removes
    (tests/test_plan_quality.py asserts the TakeOrderedAndProject plan)."""
    docs = load_table(spark, sf_dir, "documents")
    counts = (docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
              .groupBy("tok").agg(F.count(F.lit(1)).alias("n")))
    top = counts.orderBy(F.desc("n"), F.asc("tok")).limit(k)
    from pyspark.sql import Window
    w = Window.orderBy(F.desc("n"), F.asc("tok"))
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


# ---------------------------------------------------------------------------
# Exact heavy hitters (Misra-Gries candidate pass + exact verify)
# ---------------------------------------------------------------------------

HEAVY_DENOM = 1000  # heavy = frequency >= 1/1000 of all bigram slots


@query(
    "text_heavy_hitters",
    oracle=f"""
        WITH d AS (SELECT string_split(text, ' ') AS t FROM documents),
        g AS (SELECT t[i] || ' ' || t[i + 1] AS bigram
              FROM d, unnest(generate_series(1, len(t) - 1)) AS s(i)),
        c AS (SELECT bigram, count(*) AS cnt FROM g GROUP BY bigram)
        SELECT bigram, cnt
        FROM c
        WHERE cnt * {HEAVY_DENOM} >= (SELECT count(*) FROM g)
    """,
    tags=("llm", "heavy-hitters", "X43"),
    # the MG candidate pass runs real Spark jobs at plan-construction time;
    # bench must time BOTH passes (rebuild in the timed region), matching
    # what the oracle's full GROUP BY pays every execution
    two_pass=True,
)
def text_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All corpus token-bigrams with frequency >= 1/HEAVY_DENOM — the
    boilerplate-phrase census a dedup guard or stop-phrase filter feeds on.

    EXACT output, size-routed (operators/heavy.py): at gate/bench scale
    the one-job naive aggregation answers directly; past the byte
    threshold the two-pass algorithm takes over — a map-side Misra-Gries
    pass bounds the candidate set (the corpus's long tail never
    shuffles), then a broadcast-semi-joined exact count applies the
    integer threshold ``cnt * denom >= N``.  Both routes are exact, so
    the oracle (naive GROUP BY + scalar-subquery HAVING) matches either
    way: all-integer threshold arithmetic, and the MG pass guarantees no
    false negatives (reference has no frequency operator; this is the
    §2-extension X43 row).  The scan is ``spread`` so the CPU-bound
    tokenize+explode isn't serialized on the test files' one row group."""
    from ..operators.heavy import heavy_hitters

    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    toks = tokens(F.col("text"))
    grams = docs.select(
        F.explode(_ngrams(toks, F.size(toks), 2)).alias("bigram"))
    return heavy_hitters(grams, "bigram", denom=HEAVY_DENOM, k=2048)


# ---------------------------------------------------------------------------
# Source-weighted sampling (mixture weighting)
# ---------------------------------------------------------------------------

_SAMPLE_MULT = 48271  # minstd multiplier — decorrelated from the split hash
SAMPLE_GRAN = 10_000  # rate resolution: 1/10000


def _sample_bucket(doc_id):
    """Deterministic [0, SAMPLE_GRAN) bucket from doc_id — same
    integer-arithmetic family as text_stable_split's hash, different
    multiplier so sampling is independent of the train/val/test split."""
    return ((doc_id % HASH_P) * _SAMPLE_MULT) % HASH_P % SAMPLE_GRAN


def _sql_sample_bucket(expr: str = "doc_id") -> str:
    return f"(({expr} % {HASH_P}) * {_SAMPLE_MULT}) % {HASH_P} % {SAMPLE_GRAN}"


def source_weighted_sample(docs: DataFrame,
                           rates: dict[str, float]) -> DataFrame:
    """Downsample each source to its mixture rate: keep a row iff its hash
    bucket clears floor(rate * GRAN).  Row-local filter — no shuffle, no
    RNG, stable under re-runs and repartitioning (the property random
    sample() lacks); unlisted sources are dropped (rate 0)."""
    rate_col = None
    for src, rate in sorted(rates.items()):
        # round, not truncate: rate often arrives as k/GRAN whose binary
        # float can sit one ulp under k, and int() would shift the threshold
        thresh = F.lit(int(round(rate * SAMPLE_GRAN)))
        rate_col = (F.when(F.col("source") == src, thresh) if rate_col is None
                    else rate_col.when(F.col("source") == src, thresh))
    rate_col = rate_col.otherwise(F.lit(0)) if rate_col is not None else F.lit(0)
    return docs.filter(_sample_bucket(F.col("doc_id")) < rate_col)


# Demo query shape: rates derived row-locally from the source name's last
# character — {0.25, 0.5, 0.75, 1.0} — so the oracle needs no rate table and
# the differential covers the full keep/drop arithmetic.
CORPUS_WEIGHTED_SAMPLE_ORACLE = f"""
    SELECT doc_id, source,
           CAST({_sql_sample_bucket()} AS BIGINT) AS sample_bucket
    FROM documents
    WHERE {_sql_sample_bucket()} <
          (ascii(substr(source, length(source), 1)) % 4 + 1) * {SAMPLE_GRAN // 4}
"""


def corpus_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sampler as a catalog-shaped query (rates keyed off the source
    name so both engines compute them row-locally)."""
    docs = load_table(spark, sf_dir, "documents")
    last_char = F.ascii(F.substring(F.col("source"), -1, 1))
    thresh = (last_char % 4 + 1) * (SAMPLE_GRAN // 4)
    bucket = _sample_bucket(F.col("doc_id"))
    return (docs.filter(bucket < thresh)
            .select("doc_id", "source",
                    bucket.cast("long").alias("sample_bucket")))


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

# Patterns restricted to syntax with identical semantics in Java regex
# (Spark) and RE2 (DuckDB): literal classes, bounded repeats, \b word
# boundaries.  No backrefs / lookaround (RE2 has neither).
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"

PII_REDACT_ORACLE = f"""
    SELECT doc_id,
           len(regexp_extract_all(text, '{EMAIL_RE}')) AS emails_found,
           len(regexp_extract_all(text, '{IPV4_RE}')) AS ips_found,
           regexp_replace(regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'),
                          '{IPV4_RE}', '<IP>', 'g') AS clean_text
    FROM documents
"""


# ---------------------------------------------------------------------------
# Corpus composition report
# ---------------------------------------------------------------------------

CORPUS_STATS_ORACLE = f"""
    SELECT source,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT lang) AS n_langs,
           CAST(SUM(len({sql_tokens('text')})) AS BIGINT) AS total_tokens,
           {sql_round2('SUM(n_chars) * 1.0 / COUNT(*)')} AS avg_chars,
           {sql_round2('quantile_cont(n_chars, 0.5)')} AS median_chars,
           {sql_round2('quantile_cont(n_chars, 0.9)')} AS p90_chars
    FROM documents
    GROUP BY source
"""


def corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus composition: doc/language counts, token volume and
    the char-length distribution — the mixing report a pretraining pipeline
    produces before weighting sources.

    One partial-aggregated shuffle on a low-cardinality key.  The exact
    interpolated ``percentile`` (== DuckDB ``quantile_cont``) keeps this
    oracle-checkable; it buffers each group's values, so at 100 TB swap in
    ``approx_percentile`` — the same mergeable-sketch escape hatch already
    shipped for countDistinct (functions/approx.py)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum(F.size(tokens(F.col("text")))).cast("long").alias("total_tokens"),
        round2(F.sum("n_chars") * 1.0 / F.count(F.lit(1))).alias("avg_chars"),
        round2(F.percentile("n_chars", 0.5)).alias("median_chars"),
        round2(F.percentile("n_chars", 0.9)).alias("p90_chars"),
    )


def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count and redact emails / IPv4 literals.  Emails first: a host that
    is itself an IP (user@10.0.0.1) fails the alpha-TLD email pattern and
    is caught by the IP pass — deterministically, in both engines."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(EMAIL_RE), F.lit(0)))
         .cast("long").alias("emails_found"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(IPV4_RE), F.lit(0)))
         .cast("long").alias("ips_found"),
        F.regexp_replace(
            F.regexp_replace(F.col("text"), EMAIL_RE, "<EMAIL>"),
            IPV4_RE, "<IP>").alias("clean_text"),
    )


# ---------------------------------------------------------------------------
# Corpus length quantiles (pytest-differential — the catalog is capped at
# 50 entries; tests/test_catalog_parity.py runs the same oracle gate)
# ---------------------------------------------------------------------------

CORPUS_LENGTH_QUANTILES_ORACLE = """
    SELECT lang,
           quantile_cont(n_chars, [0.25, 0.5, 0.9, 0.99]) AS q_chars,
           COUNT(*) AS n_docs
    FROM documents GROUP BY lang
"""


def corpus_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language document-length quantiles — the corpus-composition
    stat every training-mixture report carries.  EXACT interpolated
    percentiles: Spark's ``percentile`` and DuckDB's ``quantile_cont``
    both compute index = p*(n-1) linear interpolation over the sorted
    group, bit-identical on integer-valued data (the differential
    compares raw doubles, no rounding).  The exact form sorts per group —
    fine at report granularity; the one-pass 100 TB path is
    ``approx_percentile`` (Greenwald-Khanna sketch, mergeable across
    partitions), bound-tested in tests/test_operators.py."""
    docs = load_table(spark, sf_dir, "documents")
    return (docs.groupBy("lang")
            .agg(F.expr("percentile(n_chars, array(0.25, 0.5, 0.9, 0.99))")
                 .alias("q_chars"),
                 F.count(F.lit(1)).alias("n_docs")))


# ---------------------------------------------------------------------------
# Char-bigram LM quality scoring (X40 — promoted to the driver gate, r8)
# ---------------------------------------------------------------------------


def _lm_oracle() -> str:
    from ..operators import lm
    from ..operators.lm_frozen import FROZEN_LM_TABLE

    return lm.sql_bits_per_char_query(FROZEN_LM_TABLE, relation="documents")


@query(
    "text_lm_quality",
    oracle=_lm_oracle(),
    tags=("llm", "quality", "X40"),
)
def text_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity-proxy quality score: bits-per-char of every
    document under the FROZEN char-bigram LM (operators/lm_frozen.py,
    trained once by tools/freeze_lm.py — the train-once / score-many model
    lifecycle, same freeze pattern as sim_topk_ivf's centroids).  Scoring
    is pure lookup+add over pre-logged doubles, so the JVM fold, the Arrow
    twin, and the DuckDB oracle are BIT-IDENTICAL (tests/test_lm.py).

    Served from the ARROW twin since r14 (guide §4.2: per-character work
    belongs in vectorized native code, not an interpreted expression
    walker): the JVM higher-order-function fold evaluates ~3 Catalyst
    expression nodes per character through the interpreted evaluator —
    measured 1.35 s at sf0.1 vs 0.33 s for the numpy symbol-map +
    table-gather + cumsum pass over the same rows (interleaved min-of-5,
    noop sink; scores verified equal to the bit on all 5000 sf0.1 docs,
    and pinned by tests/test_lm.py::test_jvm_arrow_duckdb_score_bit_identical).
    Plan shape: Scan -> spread Exchange -> one MapInPandas node -> sink;
    only (doc_id, text) cross the Python boundary.  At 100 TB the pass is
    embarrassingly row-local either way; the Arrow form also moves 4x
    less CPU per byte, and the scan stays column-pruned (ReadSchema:
    doc_id, text — asserted in plans/r14/text_lm_quality_after.txt).

    Reference parity: the reference has no quality stage; this is the
    §2-extension X40 row (CCNet, Wenzek et al. 2020 [public knowledge])."""
    from ..operators import lm
    from ..operators.lm_frozen import FROZEN_LM_TABLE

    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    return lm.bits_per_char_arrow(docs, FROZEN_LM_TABLE)


# ---------------------------------------------------------------------------
# Hashed-token quality classifier (X110 — promoted to the driver gate, r14)
# ---------------------------------------------------------------------------


def _quality_oracle() -> str:
    from ..operators import quality
    from ..operators.quality_frozen import (FROZEN_QUALITY_BIAS,
                                            FROZEN_QUALITY_WEIGHTS)

    return quality.sql_quality_margin_query(
        list(FROZEN_QUALITY_WEIGHTS), FROZEN_QUALITY_BIAS,
        relation="documents")


@query(
    "corpus_quality_classifier",
    oracle=_quality_oracle(),
    tags=("llm", "quality", "X110"),
)
def corpus_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-3-style classifier quality score [public knowledge: Brown et
    al. 2020 filter the crawl with a logistic classifier trained on
    curated-vs-crawl text]: the margin of every document under the
    FROZEN hashed-token logistic model (operators/quality_frozen.py,
    trained once by tools/freeze_quality.py — the train-once /
    score-many lifecycle, same freeze pattern as the LM table).  Scoring
    is pure weight-lookup + left-fold add + one divide (the margin is
    monotone in the logistic probability, so no engine ever evaluates a
    sigmoid), so the JVM fold and the DuckDB oracle are BIT-IDENTICAL
    (tests/test_quality.py); the plan is Scan -> Project
    with zero Exchange after the local `spread`.  At 100 TB this is the
    classifier-filter pass that feeds the clean_corpus quality band
    (pipeline.py quality_model / min_quality_margin).

    Reference parity: the reference has no classifier stage; this is
    the §2-extension X110 row (slot funded by demoting tpch_q1 —
    queries/tpch.py docstring has the demotion note)."""
    from ..operators import quality
    from ..operators.quality_frozen import (FROZEN_QUALITY_BIAS,
                                            FROZEN_QUALITY_WEIGHTS)

    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    return quality.score_quality(docs, list(FROZEN_QUALITY_WEIGHTS),
                                 FROZEN_QUALITY_BIAS)


# ---------------------------------------------------------------------------
# Exact-k stratified sampling (pytest-differential — catalog capped at 50)
# ---------------------------------------------------------------------------

STRATIFIED_SAMPLE_ORACLE = f"""
    SELECT doc_id, lang
    FROM (
        SELECT doc_id, lang,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY {_sql_sample_bucket('doc_id')},
                                           doc_id) AS rn
        FROM documents
    )
    WHERE rn <= 20
"""


def corpus_stratified_sample(spark: SparkSession, sf_dir: str,
                             k: int = 20) -> DataFrame:
    """Exactly-k-per-stratum sampling (here: k docs per language) —
    the mixture op rate-based sampling (source_weighted_sample) can't
    express when the recipe demands exact counts.  Deterministic and
    engine/partitioning-stable: strata are ordered by the same integer
    hash family as the split/sampling buckets (doc_id tiebreak), so the
    chosen set is a pure function of the data — no RNG, reproducible
    across engines and re-runs, unlike ``df.sampleBy``.  One shuffle on
    the stratum key; rank-k via window (strata are few; for millions of
    strata swap to a bounded groupBy-top-k accumulation)."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        _sample_bucket(F.col("doc_id")), "doc_id")
    return (docs.select("doc_id", "lang",
                        F.row_number().over(w).alias("rn"))
            .filter(F.col("rn") <= k).select("doc_id", "lang"))


# ---------------------------------------------------------------------------
# BM25 relevance scoring (X98 — retrieval-style data selection)
# ---------------------------------------------------------------------------

# Fixed query term set, mixed document frequencies so the idf term does
# real work; scores are a pure function of the corpus (no RNG, no clock).
BM25_QUERY_TERMS = ("join", "hash", "broadcast", "shuffle", "pipeline")
BM25_K1 = 1.2
BM25_B = 0.75


def _bm25_sql_tf(term: str) -> str:
    return (f"len(list_filter({sql_tokens('text')}, "
            f"x -> x = '{term}'))")


def _bm25_oracle() -> str:
    tfs = ", ".join(f"{_bm25_sql_tf(t)} AS tf_{i}"
                    for i, t in enumerate(BM25_QUERY_TERMS))
    dfs = ", ".join(f"SUM(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}"
                    for i in range(len(BM25_QUERY_TERMS)))
    contribs = " + ".join(
        f"(CASE WHEN b.tf_{i} > 0 THEN "
        f"ln((s.n_docs - s.df_{i} + 0.5) / (s.df_{i} + 0.5) + 1.0) * "
        f"(b.tf_{i} * ({BM25_K1} + 1.0)) / "
        f"(b.tf_{i} + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * b.dl "
        f"/ (s.sum_dl * 1.0 / s.n_docs))) ELSE 0.0 END)"
        for i in range(len(BM25_QUERY_TERMS)))
    return f"""
        WITH base AS (
            SELECT doc_id,
                   len({sql_tokens('text')}) AS dl,
                   {tfs}
            FROM documents
        ), stats AS (
            SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl, {dfs} FROM base
        )
        SELECT b.doc_id AS doc_id,
               {sql_round2(contribs)} AS bm25
        FROM base b CROSS JOIN stats s
        ORDER BY bm25 DESC, doc_id
        LIMIT 20
    """


CORPUS_BM25_ORACLE = _bm25_oracle()


@build_once
def bm25_stats_index(spark: SparkSession, sf_dir: str):
    """Build-once BM25 corpus-stats index for this (session, corpus) —
    the X104 train-once/serve-many lifecycle applied to the gate row:
    the stats pass (one corpus scan + the vocabulary-grain shuffle) is
    paid once per session (`build_once`) under .mart_cache, and every
    retrieval query afterwards is a single corpus scan with the stats
    as plan literals."""
    from ..operators.bm25 import build_bm25_stats

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return build_bm25_stats(docs, mart_cache_dir(sf_dir, "bm25_stats"))


@query(
    "corpus_bm25_topk",
    oracle=CORPUS_BM25_ORACLE,
    tags=("X98", "X104", "retrieval", "bm25"),
)
def corpus_bm25_topk(spark: SparkSession, sf_dir: str,
                     k: int = 20) -> DataFrame:
    """BM25 top-k document retrieval against a fixed query term set
    (X98 [public knowledge: Robertson & Zaragoza 2009, the BM25
    probabilistic relevance function] — the scoring step of
    retrieval-based data selection), served from the PERSISTED stats
    index (X104, r13): the corpus statistics — N, total length,
    per-term df — come from the build-once index (|query|-many term
    rows + one scalar row, embedded as plan literals); the per-query
    cost is ONE corpus scan of row-local tf/dl work (one ``F.filter`` +
    ``size`` per query term, no explode, no shuffle) plus TakeOrdered.
    The DuckDB oracle still computes the stats inline from the raw
    table, so index vs raw can never diverge unnoticed
    (tests/test_bm25_index.py checks the served rows against it).  Both
    engines round the final score with the exact floor-trick
    (functions/numeric.round2) and order by the ROUNDED score with a
    doc_id tiebreak, so the returned k-set is identical even when raw
    doubles differ in the last ulp.  At 100 TB: the stats pass
    amortizes across every retrieval query, and streaming ingest keeps
    the index current (streaming/ingest.py bm25_stats_maintenance)."""
    from ..operators.bm25 import bm25_topk_served

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return bm25_topk_served(spark, docs, bm25_stats_index(spark, sf_dir),
                            BM25_QUERY_TERMS, k=k, k1=BM25_K1, b=BM25_B)
