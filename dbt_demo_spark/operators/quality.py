"""Model-based document-quality classifier scoring (X110, r14 — VERDICT
r13 item 3) — the GPT-3/LLaMA-style corpus filter [public knowledge:
Brown et al. 2020, "Language Models are Few-Shot Learners", filter the
crawl with a logistic classifier trained to distinguish curated text
from raw crawl; Touvron et al. 2023 describe the same fastText-shaped
filter].  A full fastText is out of scope; a logistic regression over
HASHED BAG-OF-TOKEN features captures the identical signal shape
(classifier margin over a linear model of token evidence) with an
engine-portable arithmetic core.

Determinism architecture (the operators/lm.py discipline verbatim):

  * TRAIN (driver-side, bounded deterministic samples of BOTH classes):
    full-batch gradient descent on mean-of-hashed-token features —
    plain-Python floats out, fixed epochs/lr/zero-init, so retraining
    reproduces the exact weights (pytest-pinned).
  * SCORE (row-local, zero shuffle): the classifier MARGIN
    w·x + b with x = mean one-hot over hashed token buckets, i.e.

        margin(doc) = bias + (sum_i w[feat(tok_i)]) / n_tokens

    a left fold over the tokens in document order.  The margin is
    MONOTONE in the logistic probability, so band filtering on it is
    identical to filtering on sigmoid(margin) — and skipping the
    sigmoid keeps the score transcendental-free: pure lookup + add +
    one divide, BIT-IDENTICAL between the JVM fold and the DuckDB
    oracle.
  * feat(tok) = char_hash(tok) % dim — the repo's portable token hash
    (functions/text.py: integer arithmetic over ascii/length/substr,
    identical in Spark SQL, DuckDB, and the Python trainer).  The
    weights ride the plan as ONE flat double-array literal (the
    lm.py F.lit(list) form — never a child-per-entry CreateArray).

At 100 TB: training cost is O(sample); scoring is embarrassingly
row-local (Scan -> Project, zero Exchange) and composes with the
clean_corpus funnel exactly like the LM band — drop the low-margin
tail before anything shuffles.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from ..functions.text import HASH_P, char_hash, sql_char_hash

DEFAULT_DIM = 1024


# ------------------------------------------------------------------ #
# feature hashing — Python twin of functions/text.char_hash          #
# ------------------------------------------------------------------ #

def _char_hash_py(tok: str) -> int:
    """Python twin of functions/text.char_hash: first/second/last char
    ascii + length, same constants — ascii('') is 0 in both engines and
    ord-of-missing maps to 0 here, so the trainer featurizes exactly as
    the scorers do."""
    first = ord(tok[0]) if len(tok) >= 1 else 0
    second = ord(tok[1]) if len(tok) >= 2 else 0
    last = ord(tok[-1]) if len(tok) >= 1 else 0
    return (first * 31 + second * 17 + last * 7 + len(tok) * 131) % HASH_P


def _features_py(text: str, dim: int) -> list[int]:
    return [_char_hash_py(t) % dim for t in text.split(" ")]


# ------------------------------------------------------------------ #
# training (driver-side, bounded, deterministic)                     #
# ------------------------------------------------------------------ #

def synthetic_negatives(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic gibberish twin of a corpus — every token rewritten
    to a pseudo-token from a vocabulary disjoint from real text
    ('zq' + digits), position-salted so the negative class has realistic
    token-count statistics but alien token identity.  RNG-free: the same
    input always yields the same negatives (the repo's repartition-
    stable/deterministic-sampling posture).  Stands in for the 'raw
    crawl' class when no curated negative set exists; real pipelines
    pass their own negatives to train_quality_classifier."""
    toks = F.split(F.col(text_col), " ")
    scrambled = F.array_join(
        F.transform(toks, lambda t, i:
                    F.concat(F.lit("zq"),
                             ((char_hash(t) * 31 + i) % 9973)
                             .cast("string"))), " ")
    return docs.withColumn(text_col, scrambled)


def train_quality_classifier(pos_docs: DataFrame, neg_docs: DataFrame,
                             text_col: str = "text",
                             id_col: str = "doc_id",
                             max_sample: int = 1024,
                             dim: int = DEFAULT_DIM,
                             epochs: int = 200,
                             lr: float = 2.0,
                             l2: float = 1e-4) -> tuple[list[float], float]:
    """Fit the logistic classifier on bounded DETERMINISTIC samples of
    each class (lowest ids — limit alone has no stable order under
    parallel scan; the train_char_bigram_lm discipline).  Full-batch
    gradient descent from zero init with fixed epochs/lr: retraining on
    the same frames reproduces the identical weights.  Returns
    ``(weights, bias)`` as plain Python floats so freezing/embedding
    round-trips exactly."""
    import numpy as np

    def sample(df: DataFrame) -> list[str]:
        rows = (df.select(id_col, F.col(text_col).alias("t"))
                .orderBy(id_col).limit(max_sample).collect())
        return [r.t or "" for r in rows]

    pos, neg = sample(pos_docs), sample(neg_docs)
    texts = pos + neg
    y = np.array([1.0] * len(pos) + [0.0] * len(neg))
    X = np.zeros((len(texts), dim))
    for i, t in enumerate(texts):
        feats = _features_py(t, dim)
        if feats:
            for f_ in feats:
                X[i, f_] += 1.0
            X[i] /= float(len(feats))
    w = np.zeros(dim)
    b = 0.0
    n = max(len(texts), 1)
    # elementwise products + numpy's pairwise sum, not BLAS matmuls:
    # BLAS's summation order depends on its thread count, and the
    # retrain must reproduce the frozen weights on any host
    for _ in range(epochs):
        z = (X * w).sum(axis=1) + b
        p = 1.0 / (1.0 + np.exp(-z))
        g = p - y
        w -= lr * ((X * g[:, None]).sum(axis=0) / n + l2 * w)
        b -= lr * float(g.mean())
    return [float(v) for v in w], float(b)


# ------------------------------------------------------------------ #
# scoring — JVM spec path, DuckDB twin                               #
# ------------------------------------------------------------------ #

def quality_margin(text: Column, weights: list[float],
                   bias: float) -> Column:
    """Classifier margin of the text (higher = more in-domain): one
    token pass, element_at lookups into the flat weight literal,
    left-to-right sum, one divide — the association order the DuckDB
    twin replicates bit-for-bit.  NULL for NULL/empty text
    (no tokens to score)."""
    import numpy as np

    dim = len(weights)
    # an ndarray literal crosses py4j in one call; a list is one per entry
    lut = F.lit(np.asarray(weights, np.float64))
    toks = F.split(text, " ")
    vals = F.transform(toks, lambda t: F.element_at(
        lut, (char_hash(t) % dim) + 1))
    total = F.aggregate(vals, F.lit(0.0), lambda acc, v: acc + v)
    n = F.size(toks)
    return F.when(text.isNotNull() & (F.length(text) > 0),
                  F.lit(float(bias)) + total / n.cast("double"))


def score_quality(docs: DataFrame, weights: list[float], bias: float,
                  text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """(doc_id, quality_margin) via the JVM spec path."""
    return docs.select(F.col(id_col),
                       quality_margin(F.col(text_col), weights, bias)
                       .alias("quality_margin"))


def _dlit(v: float) -> str:
    """Double literal for DuckDB: exponent-suffixed so it parses straight
    to a correctly-rounded DOUBLE, never through DECIMAL (operators/lm.py
    precedent)."""
    r = repr(v)
    return r if ("e" in r or "E" in r) else r + "e0"


def sql_quality_margin_query(weights: list[float], bias: float,
                             relation: str = "documents",
                             text_col: str = "text",
                             id_col: str = "doc_id") -> str:
    """DuckDB twin of ``score_quality`` — same flat weight table, same
    portable token hash (functions/text.sql_char_hash), same left fold
    and final divide."""
    dim = len(weights)
    lut = "[" + ", ".join(_dlit(v) for v in weights) + "]"
    feat = f"(({sql_char_hash('toks[i]')}) % {dim})"
    return f"""
    WITH qw(lut) AS (VALUES (CAST({lut} AS DOUBLE[]))),
    s AS (
        SELECT {id_col}, string_split({text_col}, ' ') AS toks,
               {text_col} AS raw FROM {relation}
    )
    SELECT {id_col},
           CASE WHEN raw IS NOT NULL AND length(raw) > 0 THEN
               {_dlit(float(bias))}
               + list_sum([lut[{feat} + 1]
                           for i in generate_series(1, len(toks))])
                   / CAST(len(toks) AS DOUBLE)
           END AS quality_margin
    FROM s CROSS JOIN qw
"""


def margin_threshold_for_keep_fraction(docs: DataFrame,
                                       weights: list[float], bias: float,
                                       keep_frac: float,
                                       text_col: str = "text",
                                       exact: bool = False) -> float:
    """Calibrate the band cut from a TARGET keep fraction — the 'keep
    the top X% by classifier score' form of the filter (the
    deterministic analog of GPT-3's score-based document selection
    [public knowledge: Brown et al. 2020 appendix A — documents kept by
    classifier score; LLaMA-style recipes quote keep fractions]):
    returns the margin at the (1 - keep_frac) quantile, so
    ``min_quality_margin=<returned>`` keeps ~keep_frac of scoreable
    docs.  One aggregation over the margins; ``exact=False`` (default)
    uses approx_percentile — the mergeable Greenwald-Khanna sketch, the
    100 TB path — while ``exact=True`` runs the exact percentile for
    small calibration sets.  NULL margins (no tokens) are excluded: the
    band drops them regardless of the cut."""
    if not (0.0 < keep_frac < 1.0):
        raise ValueError(
            f"keep_frac must be in (0, 1), got {keep_frac} — 1.0 means "
            "no filter, 0.0 keeps nothing")
    m = quality_margin(F.col(text_col), weights, bias).alias("__m")
    scored = docs.select(m).where(F.col("__m").isNotNull())
    q = 1.0 - keep_frac
    fn = "percentile" if exact else "approx_percentile"
    row = scored.agg(F.expr(f"{fn}(__m, {q!r})").alias("t")).first()
    if row.t is None:
        raise ValueError(
            "margin_threshold_for_keep_fraction: no scoreable documents "
            "(every text NULL/empty) — nothing to calibrate on")
    return float(row.t)
