"""Hashed-token logistic quality classifier (operators/quality.py, X110)
— the GPT-3-style classifier corpus filter.  What must hold:

  * training is deterministic (bounded lowest-id samples, zero init,
    fixed epochs) and the frozen artifact equals retraining;
  * the JVM fold and the DuckDB twin score every document
    BIT-IDENTICALLY (no transcendentals at score time — the
    margin is weight-lookup + left-fold add + one divide; the sigmoid
    is never evaluated by any engine);
  * the score means something: a planted separation test — in-domain
    text margins above the synthetic-gibberish twin — and degenerate
    inputs (NULL/empty text) score NULL, not garbage;
  * the clean_corpus band stage drops the planted low-quality doc with
    a real funnel count.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from dbt_demo_spark.operators import quality
from dbt_demo_spark.sources.parquet import load_table
from tests.conftest import SF_GATE, SF_SMOKE


def _train(spark, sf=SF_SMOKE, **kw):
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    kw.setdefault("max_sample", 256)
    kw.setdefault("dim", 256)
    kw.setdefault("epochs", 100)
    return docs, quality.train_quality_classifier(
        docs, quality.synthetic_negatives(docs), **kw)


def test_training_deterministic(spark):
    docs, (w1, b1) = _train(spark)
    _, (w2, b2) = _train(spark)
    assert w1 == w2 and b1 == b2
    assert len(w1) == 256
    assert any(v != 0.0 for v in w1)


def test_jvm_arrow_duckdb_margin_bit_identical(spark):
    """The served JVM fold and the DuckDB twin must agree to the BIT on
    every gate-scale document — the same cross-engine contract as the
    LM scorer."""
    import duckdb

    docs = load_table(spark, SF_GATE, "documents").select("doc_id", "text")
    w, b = quality.train_quality_classifier(
        docs, quality.synthetic_negatives(docs), max_sample=512, dim=512,
        epochs=100)

    jvm = {r.doc_id: r.quality_margin
           for r in quality.score_quality(docs, w, b).collect()}

    sql = quality.sql_quality_margin_query(
        w, b, relation=f"read_parquet('{SF_GATE}/documents.parquet')")
    duck = dict(duckdb.sql(sql).fetchall())
    assert jvm == duck
    assert len(jvm) == docs.count()


def test_planted_separation(spark):
    """In-domain documents must margin ABOVE their gibberish twins —
    mean separation and near-total per-document separation (the
    classifier was trained to make exactly this cut)."""
    docs, (w, b) = _train(spark)
    neg = quality.synthetic_negatives(docs)
    pos_scores = [r.quality_margin for r in
                  quality.score_quality(docs, w, b).collect()]
    neg_scores = [r.quality_margin for r in
                  quality.score_quality(neg, w, b).collect()]
    pos_mean = sum(pos_scores) / len(pos_scores)
    neg_mean = sum(neg_scores) / len(neg_scores)
    assert pos_mean > neg_mean + 1.0, (pos_mean, neg_mean)
    frac = (sum(p > 0 for p in pos_scores) / len(pos_scores)
            + sum(n < 0 for n in neg_scores) / len(neg_scores)) / 2
    assert frac > 0.95, f"separation accuracy {frac}"


def test_degenerate_inputs_null(spark):
    _, (w, b) = _train(spark)
    probe = spark.createDataFrame(
        [(1, None), (2, "")], "doc_id long, text string")
    got = {r.doc_id: r.quality_margin
           for r in quality.score_quality(probe, w, b).collect()}
    assert got[1] is None and got[2] is None


def test_score_is_row_local_zero_exchange(spark):
    docs, (w, b) = _train(spark)
    plan = (quality.score_quality(docs, w, b)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan, "scoring must not shuffle"


def test_clean_corpus_quality_band_drops_planted(spark, tmp_path):
    """The funnel's classifier band: a planted gibberish doc is dropped,
    in-domain docs survive, the stage Observation reports a real count,
    and the model/cut arguments validate together."""
    from dbt_demo_spark.pipeline import clean_corpus

    docs, (w, b) = _train(spark)
    gib = quality.synthetic_negatives(
        docs.filter(F.col("doc_id") == docs.agg(
            F.min("doc_id")).first()[0])).withColumn(
        "doc_id", F.lit(900001).cast("long"))
    corpus = docs.unionByName(gib)

    clean, obs = clean_corpus(corpus, str(tmp_path / "idx"),
                              quality_model=(w, b),
                              min_quality_margin=0.0,
                              max_dup_trigram_frac=1.0,
                              min_uniq_token_frac=0.0)
    kept = {r.doc_id for r in clean.collect()}
    assert 900001 not in kept
    assert len(kept) > 0
    n_before = obs["after_repetition"].get["rows"]
    n_after = obs["after_quality_classifier"].get["rows"]
    assert n_after < n_before

    with pytest.raises(ValueError, match="go\\s+together"):
        clean_corpus(corpus, str(tmp_path / "i2"), quality_model=(w, b))
    with pytest.raises(ValueError, match="go\\s+together"):
        clean_corpus(corpus, str(tmp_path / "i3"), min_quality_margin=0.0)


def test_frozen_weights_match_retraining(spark):
    """The committed frozen weights (operators/quality_frozen.py, the
    artifact the catalog row corpus_quality_classifier scores with) must
    equal retraining on the gate-scale corpus with the frozen
    hyperparameters — catches silent drift if the test data or the
    trainer changes without re-freezing."""
    from dbt_demo_spark.operators.quality_frozen import (
        FROZEN_QUALITY_BIAS, FROZEN_QUALITY_DIM, FROZEN_QUALITY_MAX_SAMPLE,
        FROZEN_QUALITY_WEIGHTS)

    docs = load_table(spark, SF_GATE, "documents").select("doc_id", "text")
    w, b = quality.train_quality_classifier(
        docs, quality.synthetic_negatives(docs),
        max_sample=FROZEN_QUALITY_MAX_SAMPLE, dim=FROZEN_QUALITY_DIM)
    assert list(FROZEN_QUALITY_WEIGHTS) == w
    assert FROZEN_QUALITY_BIAS == b


def test_keep_fraction_calibration(spark):
    """margin_threshold_for_keep_fraction: the exact-percentile cut
    keeps ~keep_frac of scoreable docs when applied as the band's
    min_quality_margin; the approx (sketch) cut lands within the
    sketch's tolerance; degenerate inputs fail loud."""
    docs, (w, b) = _train(spark)
    n = docs.count()
    for keep in (0.8, 0.5):
        t = quality.margin_threshold_for_keep_fraction(
            docs, w, b, keep, exact=True)
        kept = (quality.score_quality(docs, w, b)
                .where(F.col("quality_margin") >= t).count())
        # exact percentile: kept fraction within one doc of target
        # (ties on the cut value can only ADD docs)
        assert kept >= int(keep * n) - 1
        assert kept <= n
        t_approx = quality.margin_threshold_for_keep_fraction(
            docs, w, b, keep)
        kept_a = (quality.score_quality(docs, w, b)
                  .where(F.col("quality_margin") >= t_approx).count())
        assert abs(kept_a - keep * n) / n < 0.1

    with pytest.raises(ValueError, match="keep_frac"):
        quality.margin_threshold_for_keep_fraction(docs, w, b, 1.0)
    empty = spark.createDataFrame([(1, None)], "doc_id long, text string")
    with pytest.raises(ValueError, match="no scoreable"):
        quality.margin_threshold_for_keep_fraction(empty, w, b, 0.5)

    # composes with the funnel: the calibrated cut drives the band
    from dbt_demo_spark.pipeline import clean_corpus
    import tempfile

    t = quality.margin_threshold_for_keep_fraction(
        docs, w, b, 0.9, exact=True)
    with tempfile.TemporaryDirectory() as idx:
        clean, obs = clean_corpus(docs, idx, quality_model=(w, b),
                                  min_quality_margin=t,
                                  max_dup_trigram_frac=1.0,
                                  min_uniq_token_frac=0.0)
        clean.write.format("noop").mode("overwrite").save()
        frac = (obs["after_quality_classifier"].get["rows"]
                / obs["after_repetition"].get["rows"])
        assert 0.85 <= frac <= 0.95
