"""Eval-set decontamination: flag/remove training documents that overlap a
held-out evaluation set by word n-grams.

The standard LLM pipeline step (the GPT-3 appendix-C / PaLM / Llama-style
"13-gram overlap" screen, here parameterized over the repo's portable
3-token shingles): a training doc is contaminated when it shares at least
``min_matched`` distinct n-grams with ANY eval document.

Spark-first shape, sized for a 100 TB corpus against a ~10k-doc eval set:

  * the EVAL side is tiny by construction (a benchmark), so its distinct
    n-gram hashes broadcast — the corpus is never shuffled to meet it;
  * the corpus side is Scan -> row-local shingle fold -> posexplode ->
    BroadcastHashJoin(LeftSemi) — a narrow pipeline with zero Exchange
    until AFTER the semi join has cut the stream down to matched grams
    only, so the one real shuffle (groupBy doc_id for the report) carries
    just the contaminated slice, not the corpus;
  * the filter form needs the contaminated-id set twice (once to compute,
    once to anti-join) — the id set is small, so it broadcasts into a
    left_anti against the corpus scan.

Reference parity: the reference (dbt-demo models/*.sql) has no
decontamination stage; this extends the engine the way its users would for
LLM corpus preparation.  Differential-tested against a same-semantics
DuckDB oracle (tests/test_decontaminate.py) plus planted fixtures.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..functions.numeric import round2, sql_round2
from ..functions.text import (shingle_hashes, sql_shingle_hashes,
                              sql_token_hashes, token_hashes)


def _doc_grams(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(doc_id, grams array<long>) — 3-token shingle hashes per doc; docs
    under 3 tokens get an EMPTY array (they cannot be contaminated), via a
    branch guard so the unclamped slice inside shingle_hashes never sees a
    negative length."""
    th = token_hashes(F.col(text_col))
    grams = F.when(F.size(th) >= 3, shingle_hashes(th)) \
             .otherwise(F.array().cast("array<long>"))
    return docs.select(F.col(id_col).alias("doc_id"), grams.alias("grams"))


def contamination_report(corpus: DataFrame, eval_docs: DataFrame,
                         text_col: str = "text", id_col: str = "doc_id",
                         ) -> DataFrame:
    """Per contaminated corpus doc: how many distinct n-grams it shares
    with the eval set and what fraction of its own n-grams that is.

    Columns: doc_id, n_grams (doc total, distinct), n_matched (distinct
    grams also in the eval set), matched_frac (round2).  Docs with zero
    matches are absent (at 100 TB the report must stay proportional to the
    contamination, not the corpus).

    The CORPUS side computes its distinct gram sets through the Arrow
    shingle pass (operators/shingle_arrow.shingle_sets) since r14: the JVM
    higher-order-function gram fold walks the interpreted expression tree
    per token and scales linearly with corpus bytes (guide §4.2) —
    measured 1.81 s -> 0.79 s at sf1 (interleaved min-of-5, noop sink,
    report rows identical), ~1:1 at sf0.1 where the Python boundary
    constant equals the interpreter cost.  Sets are integer-identical by
    construction (same char hash, same Horner shingle, same modulus); the
    EVAL side keeps the JVM fold — it is benchmark-sized by contract, so
    a Python boundary round-trip costs more than interpreting it."""
    from .shingle_arrow import shingle_sets

    feats = shingle_sets(corpus, text_col, id_col)
    exploded = feats.select(
        "doc_id", F.col("n").cast("long").alias("n_grams"),
        F.explode("ss").alias("gram"))
    # The semi join's build side needs NO distinct (r15, VERDICT r14
    # item 4): left_semi keeps a left row on >=1 key hit, so duplicate
    # eval grams in the broadcast hash relation cannot change any row —
    # and the distinct cost a whole shuffle stage (partial agg + Exchange
    # + final agg) on the eval subtree, ~0.1 s of the sf0.1 wall for a
    # benchmark-sized side where the dedup saves almost no broadcast
    # bytes.
    ev_grams = (_doc_grams(eval_docs, text_col, id_col)
                .select(F.explode("grams").alias("gram")))
    matched = exploded.join(F.broadcast(ev_grams), "gram", "left_semi")
    return (matched
            .groupBy("doc_id", "n_grams")
            .agg(F.count(F.lit(1)).alias("n_matched"))
            .select("doc_id", "n_grams", "n_matched",
                    round2(F.col("n_matched") * 1.0 / F.col("n_grams"))
                    .alias("matched_frac")))


def decontaminate(corpus: DataFrame, eval_docs: DataFrame,
                  text_col: str = "text", id_col: str = "doc_id",
                  min_matched: int = 1) -> DataFrame:
    """The filter form: corpus rows minus docs sharing >= ``min_matched``
    distinct n-grams with the eval set.  The contaminated-id set is small
    (it IS the contamination), so it broadcasts into the anti join — the
    corpus passes through in one narrow scan.

    The id set is materialized (``localCheckpoint``, same pattern as
    incremental_minhash_dedup's drop sets): the report subtree contains the
    whole upstream corpus plan, and leaving it lazy re-executes that
    upstream once per downstream REFERENCE per action — inside clean_corpus
    the near-dup stage references its input several times, which would
    multiply the report's corpus pass.  clean_corpus hands this function
    its materialized row-local prefix, so the report reads that shared
    materialization instead of re-running ingest and exact dedup."""
    bad = (contamination_report(corpus, eval_docs, text_col, id_col)
           .filter(F.col("n_matched") >= min_matched)
           .select(F.col("doc_id").alias(id_col))
           .localCheckpoint(eager=True))
    return corpus.join(F.broadcast(bad), id_col, "left_anti")


def sql_contamination_report(eval_pred: str, corpus_pred: str) -> str:
    """DuckDB twin of contamination_report over the ``documents`` view,
    with eval/corpus membership given as SQL predicates over its columns
    (e.g. ``doc_id % 97 = 0`` / ``doc_id % 97 <> 0``)."""
    grams = (f"list_distinct({sql_shingle_hashes(sql_token_hashes('text'))})")
    return f"""
        WITH ev AS (
            SELECT DISTINCT g.gram
            FROM (SELECT {grams} AS grams FROM documents
                  WHERE ({eval_pred}) AND len(string_split(text, ' ')) >= 3) d,
                 unnest(d.grams) AS g(gram)
        ),
        corpus AS (
            SELECT doc_id, {grams} AS grams FROM documents
            WHERE ({corpus_pred}) AND len(string_split(text, ' ')) >= 3
        ),
        m AS (
            SELECT c.doc_id, len(c.grams) AS n_grams,
                   COUNT(*) AS n_matched
            FROM corpus c, unnest(c.grams) AS g(gram)
            JOIN ev USING (gram)
            GROUP BY c.doc_id, len(c.grams)
        )
        SELECT doc_id, n_grams, CAST(n_matched AS BIGINT) AS n_matched,
               {sql_round2('n_matched * 1.0 / n_grams')} AS matched_frac
        FROM m
    """
