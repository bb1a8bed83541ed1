"""DSIR-style importance-weight data selection (operators/dsir.py,
X114).  What must hold:

  * training is deterministic (hashed-order bounded samples, pre-logged
    ratios) and the hashed sample order MIXES a heterogeneous raw
    population (the planted test would read all-zero ratios under a
    lowest-id prefix — the raw side's low ids are all clean docs);
  * the JVM fold and the DuckDB twin score every document
    BIT-IDENTICALLY (the table holds pre-computed log-ratios; no engine
    evaluates a transcendental);
  * the weight means something: in the DSIR setting (target = curated,
    raw = curated + junk) clean docs out-weigh their gibberish twins and
    threshold selection at the junk fraction recovers the clean half;
  * degenerate inputs (< 2 tokens) score NULL, not garbage.
"""

from __future__ import annotations

import statistics

import pyspark.sql.functions as F
import pytest

from dbt_demo_spark.operators import dsir
from dbt_demo_spark.operators.quality import synthetic_negatives
from dbt_demo_spark.sources.parquet import load_table
from tests.conftest import SF_GATE, SF_SMOKE


def _setting(spark, sf=SF_SMOKE, **kw):
    """The DSIR setting: target = clean docs, raw = clean + gibberish
    twins (disjoint ids)."""
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    neg = synthetic_negatives(docs).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000)
    raw = docs.unionByName(neg)
    kw.setdefault("max_sample", 256)
    kw.setdefault("dim", 512)
    return docs, neg, raw, dsir.train_importance_table(docs, raw, **kw)


def test_training_deterministic(spark):
    _, _, _, t1 = _setting(spark)
    _, _, _, t2 = _setting(spark)
    assert t1 == t2
    assert len(t1) == 512
    assert any(v != 0.0 for v in t1)


def test_jvm_arrow_duckdb_weight_bit_identical(spark):
    """The served JVM fold and the DuckDB twin must agree to the BIT on
    every gate-scale document — the lm/quality cross-engine contract."""
    import duckdb

    docs = load_table(spark, SF_GATE, "documents").select("doc_id", "text")
    neg = synthetic_negatives(docs).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000)
    table = dsir.train_importance_table(docs, docs.unionByName(neg),
                                        max_sample=512, dim=1024)
    jvm = {r.doc_id: r.dsir_logweight
           for r in dsir.score_dsir(docs, table).collect()}
    sql = dsir.sql_dsir_logweight_query(
        table, relation=f"read_parquet('{SF_GATE}/documents.parquet')")
    duck = dict(duckdb.sql(sql).fetchall())
    assert jvm == duck
    assert len(jvm) == docs.count()


def test_planted_separation_and_selection(spark):
    """Clean docs out-weigh gibberish; threshold selection at the junk
    fraction recovers (essentially) the clean half; and the hashed
    sample order is load-bearing — this exact frame reads all-zero
    ratios if the raw sample is a lowest-id prefix."""
    docs, neg, raw, table = _setting(spark)
    pos = [r.dsir_logweight for r in dsir.score_dsir(docs, table)
           .collect() if r.dsir_logweight is not None]
    gib = [r.dsir_logweight for r in dsir.score_dsir(neg, table)
           .collect() if r.dsir_logweight is not None]
    assert statistics.mean(pos) > statistics.mean(gib) + 0.5

    t = dsir.logweight_threshold_for_keep_fraction(raw, table, 0.5,
                                                   exact=True)
    kept = {r.doc_id for r in dsir.score_dsir(raw, table)
            .where(F.col("dsir_logweight") >= t).collect()}
    clean_frac = sum(1 for i in kept if i < 1_000_000) / len(kept)
    assert clean_frac > 0.95, clean_frac

    # sketch calibration lands near the exact cut's kept count
    t_a = dsir.logweight_threshold_for_keep_fraction(raw, table, 0.5)
    kept_a = dsir.score_dsir(raw, table).where(
        F.col("dsir_logweight") >= t_a).count()
    n = raw.count()
    assert abs(kept_a - 0.5 * n) / n < 0.1


def test_degenerate_and_errors(spark):
    docs, _, raw, table = _setting(spark)
    probe = spark.createDataFrame(
        [(1, None), (2, ""), (3, "one")],
        "doc_id long, text string")
    got = {r.doc_id: r.dsir_logweight
           for r in dsir.score_dsir(probe, table).collect()}
    # NULL text -> NULL; single token -> no bigram -> NULL; empty
    # string splits to one '' token -> NULL as well
    assert got[1] is None and got[2] is None and got[3] is None
    with pytest.raises(ValueError, match="keep_frac"):
        dsir.logweight_threshold_for_keep_fraction(raw, table, 0.0)
    with pytest.raises(ValueError, match="no scoreable"):
        dsir.logweight_threshold_for_keep_fraction(probe, table, 0.5)


def test_score_is_row_local_zero_exchange(spark):
    docs, _, _, table = _setting(spark)
    plan = (dsir.score_dsir(docs, table)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan, "scoring must not shuffle"


def test_clean_corpus_dsir_band_drops_junk(spark, tmp_path):
    """The funnel's DSIR band: with a calibrated cut the planted
    gibberish twins drop and (essentially all) clean docs survive, with
    a real Observation count; the model/cut arguments validate
    together."""
    from dbt_demo_spark.pipeline import clean_corpus

    docs, neg, raw, table = _setting(spark)
    t = dsir.logweight_threshold_for_keep_fraction(raw, table, 0.5,
                                                   exact=True)
    clean, obs = clean_corpus(raw, str(tmp_path / "idx"),
                              dsir_table=table, min_dsir_logweight=t,
                              max_dup_trigram_frac=1.0,
                              min_uniq_token_frac=0.0)
    kept = {r.doc_id for r in clean.collect()}
    junk_kept = sum(1 for i in kept if i >= 1_000_000)
    assert junk_kept / len(kept) < 0.05
    assert obs["after_dsir"].get["rows"] < obs["after_repetition"].get["rows"]

    with pytest.raises(ValueError, match="go\\s+together"):
        clean_corpus(raw, str(tmp_path / "i2"), dsir_table=table)
    with pytest.raises(ValueError, match="go\\s+together"):
        clean_corpus(raw, str(tmp_path / "i3"), min_dsir_logweight=0.0)
