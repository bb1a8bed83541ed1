"""Character-bigram language-model quality scoring — the perplexity-proxy
filter of the classic web-corpus pipelines (CCNet / RedPajama score
documents with a small LM and drop the worst tail [public knowledge:
Wenzek et al., "CCNet: Extracting High Quality Monolingual Datasets from
Web Crawl Data", 2020]).  A full KenLM is out of scope; a char-bigram
model captures the same signal shape (gibberish and boilerplate score
far from in-domain text) with an engine-portable arithmetic core.

Determinism architecture (same discipline as functions/vectors.py):

  * TRAIN (driver-side, bounded sample): add-alpha-smoothed bigram counts
    over a 28-symbol alphabet (a-z, space, other-bucket).  The table
    stores ALREADY-LOGGED probabilities computed in Python — neither
    engine evaluates a transcendental, so scoring is pure lookup + add
    and therefore BIT-IDENTICAL across Spark, DuckDB, and the Arrow path.
  * SCORE (row-local, zero shuffle): bits_per_char(doc) =
    -sum_i logp[sym(c_i), sym(c_{i+1})] / (len-1), a left fold over the
    text — JVM higher-order functions on the spec path, an Arrow-batched
    twin (same fold order) for the hot path, a DuckDB list-comprehension
    twin for differentials.
  * The table rides the plan as ONE flat 784-double literal (sym1*28 +
    sym2 indexing) — broadcast by value, small enough for codegen.

At 100 TB: training cost is O(sample); scoring is embarrassingly
row-local and composes with the clean_corpus funnel exactly like
text_quality (filter on a bits-per-char band, keep the middle).
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

ALPHA_SIZE = 28  # a-z, space, other
_SPACE_SYM = 26
_OTHER_SYM = 27


def _sym_py(ch: str) -> int:
    o = ord(ch)
    if 97 <= o <= 122:
        return o - 97
    if o == 32:
        return _SPACE_SYM
    return _OTHER_SYM


def train_char_bigram_lm(docs: DataFrame, text_col: str = "text",
                         max_sample: int = 2048,
                         alpha: float = 0.5) -> list[float]:
    """Fit the smoothed bigram table on a bounded, DETERMINISTIC sample
    (lowest doc_ids — limit alone has no stable order under parallel
    scan).  Returns the flat [sym1 * 28 + sym2] list of log
    probabilities, row-normalized with add-alpha smoothing; plain Python
    floats so freezing/embedding round-trips exactly."""
    rows = (docs.select("doc_id", F.col(text_col).alias("t"))
            .orderBy("doc_id").limit(max_sample).collect())
    counts = [[0] * ALPHA_SIZE for _ in range(ALPHA_SIZE)]
    for r in rows:
        t = r.t or ""
        for a, b in zip(t, t[1:]):
            counts[_sym_py(a)][_sym_py(b)] += 1
    table: list[float] = []
    for row in counts:
        denom = sum(row) + alpha * ALPHA_SIZE
        table.extend(math.log((c + alpha) / denom) for c in row)
    return table


def _sym_expr(ch: Column) -> Column:
    o = F.ascii(ch)
    return (F.when((o >= 97) & (o <= 122), o - 97)
            .when(o == 32, F.lit(_SPACE_SYM))
            .otherwise(F.lit(_OTHER_SYM)))


def bits_per_char(text: Column, table: list[float]) -> Column:
    """-mean bigram log-prob of the text (natural-log "bits", the
    CCNet-style document score; lower = more in-domain).  NULL for texts
    shorter than 2 chars (no bigram to score).  Pure JVM fold: one
    symbol-index pass, element_at lookups into the flat literal table,
    left-to-right sum — the association order the DuckDB and Arrow twins
    replicate bit-for-bit.

    The table rides as ONE array Literal, not a 784-child CreateArray:
    the child-per-entry form bloats the generated code (measured 0.90s
    -> 0.28s at sf0.1 for the whole scoring pass, scores bit-identical).
    It is built from a float64 ndarray, which crosses py4j in one call;
    ``F.lit(list)`` makes one call per entry."""
    import numpy as np

    lut = F.lit(np.asarray(table, np.float64))
    n = F.length(text)
    syms = F.transform(F.sequence(F.lit(1), n),
                       lambda i: _sym_expr(text.substr(i, F.lit(1))))
    lps = F.zip_with(F.slice(syms, 1, n - 1), F.slice(syms, 2, n - 1),
                     lambda a, b: F.element_at(lut, a * ALPHA_SIZE + b + 1))
    total = F.aggregate(lps, F.lit(0.0), lambda acc, v: acc + v)
    return F.when(n >= 2, -total / (n - 1).cast("double"))


def sql_bits_per_char_query(table: list[float],
                            relation: str = "documents",
                            text_col: str = "text",
                            id_col: str = "doc_id") -> str:
    """DuckDB twin of ``score_documents`` — same flat table (literals
    emitted exponent-suffixed so they parse straight to correctly-rounded
    DOUBLEs, never through DECIMAL), same symbol map, same left fold.
    A full SELECT with a CTE so the per-document symbol array is built
    once, not once per bigram."""
    def _dlit(v: float) -> str:
        r = repr(v)
        return r if ("e" in r or "E" in r) else r + "e0"

    lut = "[" + ", ".join(_dlit(v) for v in table) + "]"

    def sym(ch: str) -> str:
        return (f"(CASE WHEN ascii({ch}) BETWEEN 97 AND 122 "
                f"THEN ascii({ch}) - 97 "
                f"WHEN ascii({ch}) = 32 THEN {_SPACE_SYM} "
                f"ELSE {_OTHER_SYM} END)")

    return f"""
    WITH lm(lut) AS (VALUES (CAST({lut} AS DOUBLE[]))),
    s AS (
        SELECT {id_col},
               length({text_col}) AS n,
               [{sym(f'substr({text_col}, i, 1)')}
                for i in generate_series(1, length({text_col}))] AS sy
        FROM {relation}
    )
    SELECT {id_col},
           CASE WHEN n >= 2 THEN
               -list_sum([lut[sy[i] * {ALPHA_SIZE} + sy[i + 1] + 1]
                          for i in generate_series(1, n - 1)])
                   / CAST(n - 1 AS DOUBLE)
           END AS bits_per_char
    FROM s CROSS JOIN lm
"""


def bits_per_char_arrow(docs: DataFrame, table: list[float],
                        text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Arrow-batched twin for the hot path: numpy symbol mapping + table
    gather, with the per-document sum accumulated LEFT-TO-RIGHT via
    ``np.cumsum`` (strictly sequential accumulation, unlike ``np.sum``'s
    pairwise reduction) so scores are bit-identical to the JVM fold
    (pytest-asserted; r14 re-verified cumsum[-1] == the explicit Python
    left fold on every sf0.1 document before replacing the loop —
    ~2x per-doc, and the whole corpus scores in ~0.1s single-threaded).

    Texts decode through utf-32-le, one uint32 CODEPOINT per character —
    exactly the unit the JVM path's ``substr``/``ascii`` walks — so the
    twin agrees with the JVM fold on non-ASCII documents too (the
    previous utf-8 byte walk split a multibyte char into several
    other-bucket symbols AND disagreed with length(text)).  For ASCII
    corpora the two decodes are byte-identical."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    lut = np.array(table, dtype=np.float64)

    def score_batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for t in pdf[text_col]:
                if t is None or len(t) < 2:
                    out.append(None)
                    continue
                cp = np.frombuffer(t.encode("utf-32-le"),
                                   dtype=np.uint32).astype(np.int64)
                syms = np.where((cp >= 97) & (cp <= 122), cp - 97,
                                np.where(cp == 32, _SPACE_SYM, _OTHER_SYM))
                lps = lut[syms[:-1] * ALPHA_SIZE + syms[1:]]
                # cumsum accumulates sequentially left-to-right — the
                # JVM aggregate's association order, to the bit
                out.append(-lps.cumsum()[-1] / float(len(t) - 1))
            yield pd.DataFrame({id_col: pdf[id_col],
                                "bits_per_char": out})

    return (docs.select(id_col, text_col)
            .mapInPandas(score_batch,
                         f"{id_col} long, bits_per_char double"))


def score_documents(docs: DataFrame, table: list[float],
                    text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """(doc_id, bits_per_char) via the JVM spec path."""
    return docs.select(F.col(id_col),
                       bits_per_char(F.col(text_col), table)
                       .alias("bits_per_char"))
