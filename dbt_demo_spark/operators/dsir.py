"""DSIR-style importance-weight data selection (X114, r14) [public
knowledge: Xie et al. 2023, "Data Selection for Language Models via
Importance Resampling" — score each raw document by the log importance
weight of its hashed n-gram features under a target-vs-raw bag-of-
n-grams model, then select the highest-weight documents].

A full DSIR run Gumbel-resamples without replacement; the RNG-free
analog here selects by importance-weight threshold (calibrated from a
keep fraction, the operators/quality.py pattern) — the deterministic,
repartition-stable posture every sampler in this repo keeps.  The
deviation is documented, not hidden: threshold selection is the
expectation of Gumbel resampling as temperature -> 0.

Determinism architecture (operators/lm.py / quality.py verbatim):

  * TRAIN (driver-side, bounded DETERMINISTIC samples of target and
    raw): add-alpha-smoothed unigram models over HASHED TOKEN-BIGRAM
    features — feat = (char_hash(t_i) * 31 + char_hash(t_{i+1})) % dim,
    the portable integer hash family (identical in Spark SQL, DuckDB,
    and the Python trainer).  The stored table is the pre-computed
    per-bucket LOG-RATIO log p_target(f) - log p_raw(f): both logs are
    evaluated ONCE in Python, so no engine ever computes a
    transcendental.
  * SCORE (row-local, zero shuffle): log importance weight of the doc
    under the bag model = sum over its feature sequence of the
    log-ratio lookups, divided by the feature count (length-normalized,
    so long documents are not favored) — a left fold, BIT-IDENTICAL
    between the JVM fold and the DuckDB oracle.
  * SELECT: ``logweight_threshold_for_keep_fraction`` — one mergeable
    approx_percentile (exact for small sets) over the weights; keep
    docs at or above the cut.

At 100 TB: training is O(sample); scoring is Scan -> Project with zero
Exchange; selection calibration is one sketch aggregation.
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from ..functions.text import char_hash, sql_char_hash
from .quality import _char_hash_py

DEFAULT_DIM = 4096


def _feature_ids_py(text: str, dim: int) -> list[int]:
    toks = text.split(" ")
    hs = [_char_hash_py(t) for t in toks]
    return [(hs[i] * 31 + hs[i + 1]) % dim for i in range(len(hs) - 1)]


def _fit_counts(texts: list[str], dim: int) -> list[int]:
    counts = [0] * dim
    for t in texts:
        for f in _feature_ids_py(t or "", dim):
            counts[f] += 1
    return counts


def train_importance_table(target_docs: DataFrame, raw_docs: DataFrame,
                           text_col: str = "text", id_col: str = "doc_id",
                           max_sample: int = 2048,
                           dim: int = DEFAULT_DIM,
                           alpha: float = 0.5) -> list[float]:
    """Fit both hashed-bigram bag models on bounded DETERMINISTIC
    samples and return the flat per-bucket log-ratio table
    log p_target(f) - log p_raw(f), add-alpha smoothed — plain Python
    floats so freezing/embedding round-trips exactly.  Retraining on
    the same frames reproduces the identical table.

    Sampling orders by xxhash64(id), not by id: the RAW side is
    heterogeneous BY CONSTRUCTION (that is what DSIR separates), and a
    lowest-id prefix would sample whatever subpopulation happens to own
    the low ids — hashed order is equally deterministic but mixes the
    population (id breaks hash ties, so the sample is total-ordered)."""
    def sample(df: DataFrame) -> list[str]:
        rows = (df.select(id_col, F.col(text_col).alias("t"))
                .orderBy(F.xxhash64(F.col(id_col)), F.col(id_col))
                .limit(max_sample).collect())
        return [r.t or "" for r in rows]

    tc = _fit_counts(sample(target_docs), dim)
    rc = _fit_counts(sample(raw_docs), dim)
    t_tot = sum(tc) + alpha * dim
    r_tot = sum(rc) + alpha * dim
    return [math.log((tc[i] + alpha) / t_tot)
            - math.log((rc[i] + alpha) / r_tot) for i in range(dim)]


def dsir_logweight(text: Column, table: list[float]) -> Column:
    """Length-normalized log importance weight of the text (higher =
    more target-like): one token-hash pass, bigram feature ids,
    element_at lookups into the flat log-ratio literal, left-to-right
    sum, one divide — the association order the DuckDB twin replicates
    bit-for-bit.  NULL for texts with < 2 tokens (no bigram
    feature to score)."""
    import numpy as np

    dim = len(table)
    # an ndarray literal crosses py4j in one call; a list is one per entry
    lut = F.lit(np.asarray(table, np.float64))
    toks = F.split(text, " ")
    hs = F.transform(toks, lambda t: char_hash(t))
    n = F.size(toks)
    feats = F.zip_with(F.slice(hs, 1, n - 1), F.slice(hs, 2, n - 1),
                       lambda a, b: F.element_at(
                           lut, ((a * 31 + b) % dim) + 1))
    total = F.aggregate(feats, F.lit(0.0), lambda acc, v: acc + v)
    return F.when(n >= 2, total / (n - 1).cast("double"))


def score_dsir(docs: DataFrame, table: list[float],
               text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """(doc_id, dsir_logweight) via the JVM spec path."""
    return docs.select(F.col(id_col),
                       dsir_logweight(F.col(text_col), table)
                       .alias("dsir_logweight"))


def _dlit(v: float) -> str:
    r = repr(v)
    return r if ("e" in r or "E" in r) else r + "e0"


def sql_dsir_logweight_query(table: list[float],
                             relation: str = "documents",
                             text_col: str = "text",
                             id_col: str = "doc_id") -> str:
    """DuckDB twin of ``score_dsir`` — same flat log-ratio table
    (exponent-suffixed literals -> correctly-rounded DOUBLEs), same
    portable hash chain, same left fold and final divide."""
    dim = len(table)
    lut = "[" + ", ".join(_dlit(v) for v in table) + "]"
    return f"""
    WITH dw(lut) AS (VALUES (CAST({lut} AS DOUBLE[]))),
    s AS (
        SELECT {id_col},
               [{sql_char_hash('t')} for t in
                string_split({text_col}, ' ')] AS hs
        FROM {relation}
    )
    SELECT {id_col},
           CASE WHEN len(hs) >= 2 THEN
               list_sum([lut[((hs[i] * 31 + hs[i + 1]) % {dim}) + 1]
                         for i in generate_series(1, len(hs) - 1)])
                   / CAST(len(hs) - 1 AS DOUBLE)
           END AS dsir_logweight
    FROM s CROSS JOIN dw
"""


def logweight_threshold_for_keep_fraction(docs: DataFrame,
                                          table: list[float],
                                          keep_frac: float,
                                          text_col: str = "text",
                                          exact: bool = False) -> float:
    """The selection cut for a target keep fraction — same percentile
    calibration as quality.margin_threshold_for_keep_fraction (one
    mergeable sketch aggregation; NULL weights excluded — too short to
    score means too short to select)."""
    if not (0.0 < keep_frac < 1.0):
        raise ValueError(
            f"keep_frac must be in (0, 1), got {keep_frac}")
    w = dsir_logweight(F.col(text_col), table).alias("__w")
    scored = docs.select(w).where(F.col("__w").isNotNull())
    fn = "percentile" if exact else "approx_percentile"
    row = scored.agg(F.expr(
        f"{fn}(__w, {1.0 - keep_frac!r})").alias("t")).first()
    if row.t is None:
        raise ValueError(
            "logweight_threshold_for_keep_fraction: no scoreable "
            "documents — nothing to calibrate on")
    return float(row.t)
