"""Runner.run's DAG scheduling (core/runner.py ``_build_loop``, shared
with Runner.build; ``threads`` is the dbt `threads` profile analog):
independent branches overlap wall-clock at threads>1, dependency order is
still honored, outputs are identical to the threads=1 run, and a failing
model or an unresolved ref raises at any thread count."""

from __future__ import annotations

import time

import pyspark.sql.functions as F
import pytest

from dbt_demo_spark.core.model import ModelRegistry
from dbt_demo_spark.core.runner import Runner


def _diamond_registry(sleep_sec: float, log: list | None = None):
    """src -> (left, right) -> joined: the classic diamond.  left/right
    sleep in the model fn so a parallel runner overlaps them."""
    reg = ModelRegistry()

    def mark(name):
        if log is not None:
            log.append((name, time.perf_counter()))

    @reg.model("left", deps=("src",))
    def left(refs):
        mark("left")
        time.sleep(sleep_sec)
        mark("left_end")
        return refs["src"].withColumn("l", F.col("k") * 2)

    @reg.model("right", deps=("src",))
    def right(refs):
        mark("right")
        time.sleep(sleep_sec)
        mark("right_end")
        return refs["src"].withColumn("r", F.col("k") * 3)

    @reg.model("joined", deps=("left", "right"), materialized="table")
    def joined(refs):
        mark("joined")
        return refs["left"].join(refs["right"], "k")

    return reg


def test_parallel_diamond_overlaps_and_matches_sequential(spark, tmp_path):
    src = spark.range(100).select(F.col("id").alias("k"))

    seq = Runner(spark, _diamond_registry(0.0),
                 warehouse_dir=str(tmp_path / "seq")).run({"src": src})
    want = sorted(map(tuple, seq["joined"].collect()))

    log: list = []
    par = Runner(spark, _diamond_registry(1.0, log),
                 warehouse_dir=str(tmp_path / "par")).run(
        {"src": src}, threads=4)

    # identical outputs
    assert sorted(map(tuple, par["joined"].collect())) == want
    # the two 1s sleeps OVERLAPPED: each branch started before the other
    # finished.  (Interval overlap, not a total-wall bound — a wall bound
    # flakes under ambient host load, which delays job submission but
    # cannot forge an overlap.)
    starts0 = dict()
    for name, t in log:
        starts0.setdefault(name, t)
    assert starts0["left"] < starts0["right_end"], log
    assert starts0["right"] < starts0["left_end"], log
    # dependency gate held: joined started after both branch fns began
    starts = dict()
    for name, t in log:
        starts.setdefault(name, t)
    assert starts["joined"] >= max(starts["left"], starts["right"])


def test_parallel_matches_sequential_on_fiction_bank_shapes(spark, tmp_path):
    """A wider registry: two independent staging views + two marts, one of
    them depending on both staging models."""
    reg = ModelRegistry()

    @reg.model("stg_a", deps=("raw_a",))
    def stg_a(refs):
        return refs["raw_a"].select("k", (F.col("k") + 1).alias("a"))

    @reg.model("stg_b", deps=("raw_b",))
    def stg_b(refs):
        return refs["raw_b"].select("k", (F.col("k") + 2).alias("b"))

    @reg.model("mart_a", deps=("stg_a",), materialized="table")
    def mart_a(refs):
        return refs["stg_a"].groupBy().agg(F.sum("a").alias("sa"))

    @reg.model("mart_ab", deps=("stg_a", "stg_b"), materialized="table")
    def mart_ab(refs):
        return refs["stg_a"].join(refs["stg_b"], "k")

    raw_a = spark.range(50).select(F.col("id").alias("k"))
    raw_b = spark.range(50).select(F.col("id").alias("k"))
    seq = Runner(spark, reg, warehouse_dir=str(tmp_path / "s")).run(
        {"raw_a": raw_a, "raw_b": raw_b})
    par = Runner(spark, reg, warehouse_dir=str(tmp_path / "p")).run(
        {"raw_a": raw_a, "raw_b": raw_b}, threads=3)
    for m in ("mart_a", "mart_ab"):
        assert sorted(map(tuple, par[m].collect())) == \
            sorted(map(tuple, seq[m].collect()))


def test_parallel_propagates_model_errors(spark, tmp_path):
    reg = ModelRegistry()

    @reg.model("ok", deps=("src",))
    def ok(refs):
        return refs["src"]

    @reg.model("boom", deps=("src",))
    def boom(refs):
        raise RuntimeError("model exploded")

    src = spark.range(3).select(F.col("id").alias("k"))
    # threads=1 is the sequential run, through the same loop as threads=2
    for threads in (1, 2):
        with pytest.raises(RuntimeError, match="model exploded"):
            Runner(spark, reg, warehouse_dir=str(tmp_path / str(threads))
                   ).run({"src": src}, threads=threads)


def test_parallel_unresolved_refs_raise(spark, tmp_path):
    reg = ModelRegistry()

    @reg.model("m", deps=("missing_src",))
    def m(refs):
        return refs["missing_src"]

    for threads in (1, 2):
        with pytest.raises(KeyError, match="missing_src"):
            Runner(spark, reg, warehouse_dir=str(tmp_path / str(threads))
                   ).run({}, threads=threads)


def test_run_rebuilds_a_model_passed_in_sources(spark, tmp_path):
    """run rebuilds every selected model, even one handed in as a source,
    and its dependents read the rebuilt relation at any thread count
    (build instead reuses such a relation — the retry seed)."""
    reg = ModelRegistry()

    @reg.model("stg", deps=("src",))
    def stg(refs):
        return refs["src"].withColumn("v", F.lit("rebuilt"))

    @reg.model("mart", deps=("stg",))
    def mart(refs):
        return refs["stg"]

    src = spark.range(2).select(F.col("id").alias("k"))
    stale = src.withColumn("v", F.lit("stale"))
    for threads in (1, 2):
        out = Runner(spark, reg, warehouse_dir=str(tmp_path / str(threads))
                     ).run({"src": src, "stg": stale}, threads=threads)
        assert {r.v for r in out["mart"].collect()} == {"rebuilt"}
