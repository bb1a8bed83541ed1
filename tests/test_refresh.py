"""refresh="changed" — source-file-watermark mart refresh (core/runner.py).

The contract: a materialized model rebuilds IFF anything in its upstream
cone changed — its fn's code, its materialization params, an upstream
model, or any file its sources scan.  Unknowable inputs (in-memory
sources) always rebuild; the default refresh="full" never skips.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from dbt_demo_spark.core.model import ModelRegistry
from dbt_demo_spark.core.runner import Runner
from tests.conftest import last_execution_id


def _write_src(spark, path: str, days):
    (spark.createDataFrame([(d, d * 10 + i) for d in days for i in range(3)],
                           "day int, v long")
     .coalesce(1).write.mode("overwrite").parquet(path))


def _registry():
    reg = ModelRegistry()

    @reg.model("stg_a", deps=("src_a",), materialized="view")
    def stg_a(refs):
        return refs["src_a"].filter(F.col("v") >= 0)

    @reg.model("mart_a", deps=("stg_a",), materialized="table")
    def mart_a(refs):
        return refs["stg_a"].groupBy("day").agg(F.sum("v").alias("total"))

    @reg.model("mart_b", deps=("src_b",), materialized="table")
    def mart_b(refs):
        return refs["src_b"].groupBy("day").agg(F.count(F.lit(1)).alias("n"))

    return reg


def _mtimes(path: str) -> dict[str, float]:
    return {f: os.path.getmtime(os.path.join(path, f))
            for f in os.listdir(path) if f.endswith(".parquet")}


def test_changed_refresh_skips_unchanged_and_rebuilds_touched(spark, tmp_path):
    src_a, src_b = str(tmp_path / "src_a"), str(tmp_path / "src_b")
    _write_src(spark, src_a, [1, 2])
    _write_src(spark, src_b, [1, 2, 3])
    wh = str(tmp_path / "wh")

    def sources():
        return {"src_a": spark.read.parquet(src_a),
                "src_b": spark.read.parquet(src_b)}

    r1 = Runner(spark, _registry(), wh)
    rel1 = r1.run(sources(), refresh="changed")
    assert set(r1.last_refresh_report["built"]) == {"stg_a", "mart_a", "mart_b"}
    assert r1.last_refresh_report["skipped"] == []
    before_a = _mtimes(os.path.join(wh, "mart_a"))
    before_b = _mtimes(os.path.join(wh, "mart_b"))
    want_a = {(r.day, r.total) for r in rel1["mart_a"].collect()}

    # nothing changed: a FRESH runner over the same warehouse skips both
    # marts (views are lazy plans, always "rebuilt" for free)
    r2 = Runner(spark, _registry(), wh)
    rel2 = r2.run(sources(), refresh="changed")
    assert set(r2.last_refresh_report["skipped"]) == {"mart_a", "mart_b"}
    assert _mtimes(os.path.join(wh, "mart_a")) == before_a
    assert _mtimes(os.path.join(wh, "mart_b")) == before_b
    assert {(r.day, r.total) for r in rel2["mart_a"].collect()} == want_a

    # touch ONE source: only its dependents rebuild
    _write_src(spark, src_b, [1, 2, 3, 4])
    r3 = Runner(spark, _registry(), wh)
    rel3 = r3.run(sources(), refresh="changed")
    assert "mart_b" in r3.last_refresh_report["built"]
    assert "mart_a" in r3.last_refresh_report["skipped"]
    assert _mtimes(os.path.join(wh, "mart_a")) == before_a
    assert {r.day for r in rel3["mart_b"].collect()} == {1, 2, 3, 4}


def test_changed_refresh_rebuilds_on_model_code_change(spark, tmp_path):
    """The fingerprint chains the model fn's SOURCE TEXT (dbt's
    state:modified checksum analog): redefining the model logic over the
    same warehouse and unchanged data must rebuild."""
    src = str(tmp_path / "src")
    _write_src(spark, src, [1, 2])
    wh = str(tmp_path / "wh")

    reg1 = ModelRegistry()

    @reg1.model("m", deps=("src",), materialized="table")
    def m_v1(refs):
        return refs["src"].groupBy("day").agg(F.sum("v").alias("total"))

    r1 = Runner(spark, reg1, wh)
    r1.run({"src": spark.read.parquet(src)}, refresh="changed")
    assert r1.last_refresh_report["built"] == ["m"]

    reg2 = ModelRegistry()

    @reg2.model("m", deps=("src",), materialized="table")
    def m_v2(refs):
        return refs["src"].groupBy("day").agg(F.max("v").alias("total"))

    r2 = Runner(spark, reg2, wh)
    rel = r2.run({"src": spark.read.parquet(src)}, refresh="changed")
    assert r2.last_refresh_report["built"] == ["m"]
    assert {(r.day, r.total) for r in rel["m"].collect()} == {(1, 12), (2, 22)}

    # and the SAME definition text skips again
    r3 = Runner(spark, reg2, wh)
    r3.run({"src": spark.read.parquet(src)}, refresh="changed")
    assert r3.last_refresh_report["skipped"] == ["m"]


def test_changed_refresh_never_skips_in_memory_sources(spark, tmp_path):
    reg = ModelRegistry()

    @reg.model("m", deps=("src",), materialized="table")
    def m(refs):
        return refs["src"].groupBy("day").agg(F.sum("v").alias("total"))

    wh = str(tmp_path / "wh")
    src = spark.createDataFrame([(1, 10)], "day int, v long")
    for _ in range(2):
        r = Runner(spark, reg, wh)
        r.run({"src": src}, refresh="changed")
        assert r.last_refresh_report == {"built": ["m"], "skipped": []}


def test_full_refresh_never_skips(spark, tmp_path):
    src = str(tmp_path / "src")
    _write_src(spark, src, [1])
    wh = str(tmp_path / "wh")
    reg = _registry()
    _write_src(spark, str(tmp_path / "src_b"), [1])
    srcs = {"src_a": spark.read.parquet(src),
            "src_b": spark.read.parquet(str(tmp_path / "src_b"))}
    Runner(spark, reg, wh).run(srcs, refresh="changed")
    r = Runner(spark, reg, wh)
    r.run(srcs)  # default refresh="full"
    assert r.last_refresh_report["skipped"] == []
    assert set(r.last_refresh_report["built"]) == {"stg_a", "mart_a", "mart_b"}


def test_changed_refresh_parallel_matches_sequential(spark, tmp_path):
    src_a, src_b = str(tmp_path / "src_a"), str(tmp_path / "src_b")
    _write_src(spark, src_a, [1, 2])
    _write_src(spark, src_b, [3])
    wh = str(tmp_path / "wh")
    srcs = lambda: {"src_a": spark.read.parquet(src_a),
                    "src_b": spark.read.parquet(src_b)}
    Runner(spark, _registry(), wh).run(srcs(), refresh="changed")
    r = Runner(spark, _registry(), wh)
    rel = r.run(srcs(), refresh="changed", threads=4)
    assert set(r.last_refresh_report["skipped"]) == {"mart_a", "mart_b"}
    assert {x.day for x in rel["mart_a"].collect()} == {1, 2}


def test_changed_refresh_rebuilds_on_source_plan_change(spark, tmp_path):
    """The fingerprint includes each source's CANONICALIZED plan, not just
    its files: re-filtering the same files is a changed source (r8
    self-review — file stats alone would stale-skip and serve wrong
    data)."""
    src = str(tmp_path / "src")
    _write_src(spark, src, [1, 2])
    wh = str(tmp_path / "wh")
    reg = ModelRegistry()

    @reg.model("m", deps=("src",), materialized="table")
    def m(refs):
        return refs["src"].groupBy("day").agg(F.sum("v").alias("total"))

    r1 = Runner(spark, reg, wh)
    r1.run({"src": spark.read.parquet(src).filter("v > 0")},
           refresh="changed")
    r2 = Runner(spark, reg, wh)
    rel = r2.run({"src": spark.read.parquet(src).filter("v > 11")},
                 refresh="changed")
    assert r2.last_refresh_report["built"] == ["m"]
    assert {r.day for r in rel["m"].collect()} == {1, 2}
    # identical plan text skips again
    r3 = Runner(spark, reg, wh)
    r3.run({"src": spark.read.parquet(src).filter("v > 11")},
           refresh="changed")
    assert r3.last_refresh_report["skipped"] == ["m"]


def test_changed_refresh_handles_percent_encoded_paths(spark, tmp_path):
    """inputFiles() returns percent-encoded URIs; a space in the source
    directory must not kill skipping (r8 self-review: os.stat on the raw
    encoded path failed and silently disabled the feature)."""
    src = str(tmp_path / "my dir" / "src")
    _write_src(spark, src, [1])
    wh = str(tmp_path / "wh")
    reg = ModelRegistry()

    @reg.model("m", deps=("src",), materialized="table")
    def m(refs):
        return refs["src"].groupBy("day").agg(F.sum("v").alias("total"))

    Runner(spark, reg, wh).run({"src": spark.read.parquet(src)},
                               refresh="changed")
    r = Runner(spark, reg, wh)
    r.run({"src": spark.read.parquet(src)}, refresh="changed")
    assert r.last_refresh_report["skipped"] == ["m"]


# --------------------------------------------------------------------------
# data-test outcome reuse: Runner.build(refresh="changed") serves the
# recorded PASSING outcomes of a node whose test digest is unchanged
# --------------------------------------------------------------------------

_SCHEMA = """
version: 2
models:
  - name: stg_orders
    columns:
      - name: order_id
        tests: [unique]
      - name: status
        tests:
          - accepted_values:
              values: {values}
  - name: stg_customers
    columns:
      - name: cust_id
        tests: [unique, not_null]
  - name: fct_orders
    columns:
      - name: order_id
        tests: [not_null]
      - name: cust_id
        tests:
          - relationships:
              to: source('raw', 'customers')
              field: cust_id
  - name: dim_customers
    columns:
      - name: cust_id
        tests: [unique]
"""


def _write_orders(spark, path: str, statuses=("F", "O")):
    (spark.createDataFrame(
        [(i, i % 3, statuses[i % len(statuses)]) for i in range(12)],
        "order_id long, cust_id long, status string")
     .coalesce(1).write.mode("overwrite").parquet(path))


def _write_customers(spark, path: str, ids=(0, 1, 2)):
    (spark.createDataFrame([(i, f"r{i}") for i in ids],
                           "cust_id long, region string")
     .coalesce(1).write.mode("overwrite").parquet(path))


def _tested_registry(tmp_path, values="['F', 'O']"):
    """Two staging views and two tables over two parquet sources; the
    generic tests come from schema.yml text, plus one singular SQL test
    on fct_orders."""
    from dbt_demo_spark.core.project import attach_properties
    from dbt_demo_spark.core.sqlmodel import register_test_dir

    reg = ModelRegistry()

    @reg.model("stg_orders", deps=("orders",), materialized="view")
    def stg_orders(refs):
        return refs["orders"].select("order_id", "cust_id", "status")

    @reg.model("stg_customers", deps=("customers",), materialized="view")
    def stg_customers(refs):
        return refs["customers"].select("cust_id", "region")

    @reg.model("fct_orders", deps=("stg_orders",), materialized="table")
    def fct_orders(refs):
        return refs["stg_orders"].filter(F.col("order_id") >= 0)

    @reg.model("dim_customers", deps=("stg_customers",),
               materialized="table")
    def dim_customers(refs):
        return refs["stg_customers"].dropDuplicates(["cust_id"])

    attach_properties(reg, _SCHEMA.format(values=values))
    tests_dir = tmp_path / "singular"
    tests_dir.mkdir(exist_ok=True)
    (tests_dir / "assert_orders_nonnegative.sql").write_text(
        "select * from {{ ref('fct_orders') }} where order_id < 0")
    register_test_dir(reg, str(tests_dir))
    return reg


def _tested_sources(spark, tmp_path):
    return {"orders": spark.read.parquet(str(tmp_path / "orders")),
            "customers": spark.read.parquet(str(tmp_path / "customers"))}


def _tested_project(spark, tmp_path):
    _write_orders(spark, str(tmp_path / "orders"))
    _write_customers(spark, str(tmp_path / "customers"))
    wh = str(tmp_path / "wh")
    res = Runner(spark, _tested_registry(tmp_path), wh).build(
        _tested_sources(spark, tmp_path))
    assert res.ok, res.to_json()
    return wh


def _reused(res) -> dict[str, bool]:
    return {t.name: t.reused for n in res.nodes.values() for t in n.tests}


def _count_jobs_since(spark, last_id: int) -> int:
    """SQL executions launched by ``count()`` after execution ``last_id``,
    read from the session's SQL status store."""
    it = (spark._jsparkSession.sharedState().statusStore()
          .executionsList().iterator())
    n = 0
    while it.hasNext():
        e = it.next()
        if e.executionId() > last_id and \
                e.description().startswith("count at"):
            n += 1
    return n


def test_noop_changed_build_reuses_every_test_with_zero_count_jobs(
        spark, tmp_path):
    import json

    wh = _tested_project(spark, tmp_path)
    with open(os.path.join(wh, "run_results.json")) as f:
        first = json.load(f)
    assert not any(t["reused"] for n in first["nodes"].values()
                   for t in n["tests"])

    # a NEW Runner over the same warehouse reuses, as it reuses skips
    r = Runner(spark, _tested_registry(tmp_path), wh)
    before = last_execution_id(spark)
    res = r.build(_tested_sources(spark, tmp_path), refresh="changed")
    assert _count_jobs_since(spark, before) == 0
    assert res.ok
    outcomes = [t for n in res.nodes.values() for t in n.tests]
    assert len(outcomes) == 8
    assert all(t.passed and t.reused for t in outcomes)
    assert sorted(r.last_refresh_report["tests_reused"]) == sorted(
        t.name for t in outcomes)
    assert set(r.last_refresh_report["skipped"]) == {"fct_orders",
                                                     "dim_customers"}
    with open(os.path.join(wh, "run_results.json")) as f:
        again = json.load(f)
    assert all(t["reused"] and t["passed"]
               for n in again["nodes"].values() for t in n["tests"])


def test_edited_accepted_values_rerun_under_the_same_test_name(
        spark, tmp_path):
    wh = _tested_project(spark, tmp_path)
    r = Runner(spark, _tested_registry(tmp_path, values="['F']"), wh)
    res = r.build(_tested_sources(spark, tmp_path), refresh="changed")
    (av,) = [t for t in res.nodes["stg_orders"].tests
             if t.name == "accepted_values__stg_orders__status"]
    assert not av.reused and not av.passed and av.violations == 6
    # per node: the unchanged sibling test on stg_orders re-runs too,
    # other nodes' tests are served
    assert not any(t.reused for t in res.nodes["stg_orders"].tests)
    assert res.nodes["stg_customers"].tests[0].reused


def test_touched_source_reruns_exactly_its_downstream_cone(spark, tmp_path):
    wh = _tested_project(spark, tmp_path)
    _write_orders(spark, str(tmp_path / "orders"), statuses=("O", "F"))
    r = Runner(spark, _tested_registry(tmp_path), wh)
    res = r.build(_tested_sources(spark, tmp_path), refresh="changed")
    assert res.ok
    cone = {"stg_orders", "fct_orders", "assert_orders_nonnegative"}
    for name, node in res.nodes.items():
        assert all(t.reused == (name not in cone) for t in node.tests), name
    assert set(r.last_refresh_report["tests_reused"]) == {
        t.name for n in ("stg_customers", "dim_customers")
        for t in res.nodes[n].tests}


def test_relationships_reruns_when_only_its_to_relation_changed(
        spark, tmp_path):
    wh = _tested_project(spark, tmp_path)
    _write_customers(spark, str(tmp_path / "customers"), ids=(0, 1))
    r = Runner(spark, _tested_registry(tmp_path), wh)
    res = r.build(_tested_sources(spark, tmp_path), refresh="changed")
    assert "fct_orders" in r.last_refresh_report["skipped"]
    rel = {t.name: t for t in res.nodes["fct_orders"].tests}[
        "relationships__fct_orders__cust_id__customers"]
    assert not rel.reused and not rel.passed and rel.violations == 4


def test_failing_warn_and_keyless_tests_rerun_every_refresh(spark, tmp_path):
    from dbt_demo_spark.core.datatests import DataTest, unique

    src = str(tmp_path / "src")
    _write_src(spark, src, [1, 2])           # 3 rows per day
    reg = ModelRegistry()

    @reg.model("failing", deps=("src",), materialized="table",
               tests=(unique("failing", ["day"]),))
    def failing(refs):
        return refs["src"]

    @reg.model("warning", deps=("src",), materialized="table",
               tests=(unique("warning", ["day"], severity="warn"),))
    def warning(refs):
        return refs["src"]

    @reg.model("keyless", deps=("src",), materialized="table",
               tests=(unique("keyless", ["v"]),
                      DataTest("no_key", lambda rel: rel["keyless"]
                               .filter(F.col("v") < 0))))
    def keyless(refs):
        return refs["src"]

    wh = str(tmp_path / "wh")
    for _ in range(3):
        r = Runner(spark, reg, wh)
        res = r.build({"src": spark.read.parquet(src)}, refresh="changed")
        assert r.last_refresh_report["tests_reused"] == []
        assert not any(_reused(res).values())
        assert res.nodes["failing"].status == "fail"
        (w,) = res.nodes["warning"].tests
        assert (w.passed, w.severity, w.violations) == (False, "warn", 2)
        assert res.nodes["keyless"].status == "success"


def test_full_refresh_empty_and_full_builds_never_reuse(spark, tmp_path):
    wh = _tested_project(spark, tmp_path)
    for kwargs in ({"refresh": "full"},
                   {"refresh": "changed", "full_refresh": True},
                   {"refresh": "changed", "empty": True}):
        r = Runner(spark, _tested_registry(tmp_path), wh)
        res = r.build(_tested_sources(spark, tmp_path), **kwargs)
        assert res.ok, kwargs
        assert r.last_refresh_report["tests_reused"] == [], kwargs
        assert not any(_reused(res).values()), kwargs
    # none of those dropped what the last real build recorded
    r = Runner(spark, _tested_registry(tmp_path), wh)
    res = r.build(_tested_sources(spark, tmp_path), refresh="changed")
    assert res.ok and all(_reused(res).values())


# --------------------------------------------------------------------------
# recorded build state: a skipped table is served with the schema its
# build read back, and only while its own files are the ones the build
# left behind
# --------------------------------------------------------------------------

def _job_ids(spark) -> set[int]:
    """Spark job ids the status tracker knows, once the listener bus has
    delivered every event posted so far."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup())


def test_noop_changed_build_launches_zero_spark_jobs_and_ledgers_reuse(
        spark, tmp_path):
    import json

    wh = _tested_project(spark, tmp_path)
    with open(os.path.join(wh, "run_results.json")) as f:
        first = json.load(f)["nodes"]
    tables = {"fct_orders", "dim_customers"}
    for name, node in first.items():
        if name in tables:
            assert not node["reused"] and node["files"] >= 1, name
            assert node["bytes"] == sum(
                os.path.getsize(os.path.join(wh, name, f))
                for f in os.listdir(os.path.join(wh, name))
                if f.startswith("part-")), name
        else:
            assert (node["reused"], node["files"], node["bytes"]) == (
                False, None, None), name

    r = Runner(spark, _tested_registry(tmp_path), wh)
    sources = _tested_sources(spark, tmp_path)
    before = _job_ids(spark)
    res = r.build(sources, refresh="changed")
    assert _job_ids(spark) - before == set()
    assert res.ok and set(r.last_refresh_report["skipped"]) == tables
    with open(os.path.join(wh, "run_results.json")) as f:
        again = json.load(f)["nodes"]
    for name in tables:
        assert again[name]["reused"] and res.nodes[name].reused
        assert (again[name]["files"], again[name]["bytes"]) == (
            first[name]["files"], first[name]["bytes"])
    assert res.relations["fct_orders"].count() == 12


def test_table_changed_outside_the_runner_rebuilds(spark, tmp_path):
    import json

    src_a, src_b = str(tmp_path / "src_a"), str(tmp_path / "src_b")
    _write_src(spark, src_a, [1, 2])
    _write_src(spark, src_b, [1, 2, 3])
    wh = str(tmp_path / "wh")

    def refresh():
        r = Runner(spark, _registry(), wh)
        rel = r.run({"src_a": spark.read.parquet(src_a),
                     "src_b": spark.read.parquet(src_b)}, refresh="changed")
        return r.last_refresh_report, rel

    _, rel = refresh()
    want_a = sorted(rel["mart_a"].collect())
    want_b = sorted(rel["mart_b"].collect())

    # a deleted part file: the table rebuilds and serves every row again
    part = sorted(f for f in os.listdir(os.path.join(wh, "mart_a"))
                  if f.startswith("part-"))[0]
    os.remove(os.path.join(wh, "mart_a", part))
    rep, rel = refresh()
    assert (rep["built"], rep["skipped"]) == (["stg_a", "mart_a"], ["mart_b"])
    assert sorted(rel["mart_a"].collect()) == want_a

    # a directory rewritten outside the runner: rebuilt, not served
    spark.createDataFrame([(9, 9)], "day int, n long").write \
        .mode("overwrite").parquet(os.path.join(wh, "mart_b"))
    rep, rel = refresh()
    assert (rep["built"], rep["skipped"]) == (["stg_a", "mart_b"], ["mart_a"])
    assert sorted(rel["mart_b"].collect()) == want_b

    # a legacy entry (a bare fingerprint) rebuilds once, then skips
    state_path = os.path.join(wh, "_build_state.json")
    with open(state_path) as f:
        state = json.load(f)
    with open(state_path, "w") as f:
        json.dump({k: v["fingerprint"] if k in ("mart_a", "mart_b") else v
                   for k, v in state.items()}, f)
    rep, _ = refresh()
    assert rep["skipped"] == []
    rep, rel = refresh()
    assert sorted(rep["skipped"]) == ["mart_a", "mart_b"]
    assert sorted(rel["mart_a"].collect()) == want_a


def test_partitioned_and_widened_incremental_skip_with_read_back_schema(
        spark, tmp_path):
    src = str(tmp_path / "src")
    (spark.createDataFrame([(k, k % 2, f"0{k % 3}") for k in range(8)],
                           "k long, p int, tag string")
     .coalesce(1).write.parquet(src))
    wh = str(tmp_path / "wh")

    def registry(widened: bool):
        reg = ModelRegistry()

        @reg.model("part", deps=("src",), materialized="table",
                   partition_by=("tag", "p"))
        def part(refs):
            return refs["src"].select("tag", "k", "p")

        if widened:
            @reg.model("inc", deps=("src",), materialized="incremental",
                       partition_by=("p",),
                       on_schema_change="append_new_columns")
            def inc(refs):
                return refs["src"].filter("p = 1").select(
                    "k", (F.col("k") * 10).alias("extra"), "p")
        else:
            @reg.model("inc", deps=("src",), materialized="incremental",
                       partition_by=("p",),
                       on_schema_change="append_new_columns")
            def inc(refs):
                return refs["src"].filter("p = 0").select("k", "p")
        return reg

    def refresh(widened: bool):
        r = Runner(spark, registry(widened), wh)
        rel = r.run({"src": spark.read.parquet(src)}, refresh="changed")
        return r.last_refresh_report, rel

    refresh(False)
    rep, built = refresh(True)
    assert rep["built"] == ["inc"] and rep["skipped"] == ["part"]
    rep, served = refresh(True)
    assert sorted(rep["skipped"]) == ["inc", "part"]
    inc_path = os.path.join(wh, "inc")
    merged = spark.read.option("mergeSchema", "true").parquet(inc_path)
    assert served["inc"].schema == built["inc"].schema == merged.schema
    assert merged.columns == ["k", "extra", "p"]
    assert sorted(served["inc"].collect()) == sorted(merged.collect())
    plain = spark.read.parquet(os.path.join(wh, "part"))
    assert served["part"].schema == plain.schema
    assert plain.columns == ["k", "tag", "p"]
    assert sorted(served["part"].collect()) == sorted(plain.collect())


# --------------------------------------------------------------------------
# in-process memo: a Runner that builds again serves the handles its own
# earlier passes made, once every refresh check has passed
# --------------------------------------------------------------------------

def _count_calls(monkeypatch, *keys: str) -> dict[str, int]:
    """Count the calls to ``spark.sql`` (``"sql"``),
    ``DataFrameReader.parquet`` (``"parquet"``) and
    ``DataFrame.createOrReplaceTempView`` (``"view"``), for the keys
    given; returns the live counters.  A classic session's handles are
    ``pyspark.sql.classic.dataframe.DataFrame``, which overrides the
    shared API class's ``createOrReplaceTempView``."""
    from pyspark.sql import DataFrameReader, SparkSession
    from pyspark.sql.classic.dataframe import DataFrame

    targets = {"sql": (SparkSession, "sql"),
               "parquet": (DataFrameReader, "parquet"),
               "view": (DataFrame, "createOrReplaceTempView")}
    calls = dict.fromkeys(keys, 0)

    def counting(key, fn):
        def wrapped(*args, **kwargs):
            calls[key] += 1
            return fn(*args, **kwargs)
        return wrapped

    for key in keys:
        cls, attr = targets[key]
        monkeypatch.setattr(cls, attr, counting(key, getattr(cls, attr)))
    return calls


def _sql_view_registry(tmp_path):
    """``_tested_registry`` plus a SQL-text view over ``stg_orders``."""
    from dbt_demo_spark.core.sqlmodel import register_sql_model

    reg = _tested_registry(tmp_path)
    register_sql_model(reg, "orders_by_status",
                       "select status, count(*) as n "
                       "from {{ ref('stg_orders') }} group by status")
    return reg


def test_second_noop_refresh_on_one_runner_serves_its_own_handles(
        spark, tmp_path, monkeypatch):
    wh = _tested_project(spark, tmp_path)
    reg = _sql_view_registry(tmp_path)
    models = {n for n in reg.names()
              if reg[n].materialized in ("table", "view")}
    assert models == {"stg_orders", "stg_customers", "orders_by_status",
                      "fct_orders", "dim_customers"}
    calls = _count_calls(monkeypatch, "parquet", "sql")
    r = Runner(spark, reg, wh)
    sources = _tested_sources(spark, tmp_path)
    first = r.build(sources, refresh="changed")
    report = dict(r.last_refresh_report)
    # a fresh Runner reads each skipped table and analyzes the SQL view
    assert calls["parquet"] >= 2 and calls["sql"] >= 1
    calls.update(parquet=0, sql=0)

    before = _job_ids(spark)
    second = r.build(sources, refresh="changed")
    assert _job_ids(spark) - before == set()
    assert calls == {"parquet": 0, "sql": 0}
    for name in models:
        assert second.relations[name] is first.relations[name], name
    assert r.last_refresh_report == report
    assert second.ok and second.to_json()["counts"] == \
        first.to_json()["counts"]
    assert sorted(second.relations["orders_by_status"].collect()) == [
        ("F", 6), ("O", 6)]


@pytest.mark.parametrize("case", ["deleted_part_file", "refiltered_source",
                                  "full_refresh", "empty", "post_hook"])
def test_one_runner_serves_rebuilt_rows_not_memoized_handles(
        spark, tmp_path, case):
    _write_orders(spark, str(tmp_path / "orders"))
    _write_customers(spark, str(tmp_path / "customers"))
    reg = _tested_registry(tmp_path)
    hook_calls = []

    def count_hook(spark, relations):
        hook_calls.append(relations["hooked_orders"])

    @reg.model("hooked_orders", deps=("stg_orders",), materialized="view",
               post_hook=(count_hook,))
    def hooked_orders(refs):
        return refs["stg_orders"].filter(F.col("status") == "F")

    tables, views = ("fct_orders", "dim_customers"), ("stg_orders",
                                                     "stg_customers")
    r = Runner(spark, reg, str(tmp_path / "wh"))
    sources = _tested_sources(spark, tmp_path)
    built = r.build(sources)
    served = r.build(sources, refresh="changed")
    assert built.ok and served.ok
    # the build seeded the memo: the first refresh serves its tables
    for t in tables:
        assert served.relations[t] is built.relations[t], t
    assert len(hook_calls) == 2

    if case == "deleted_part_file":
        path = os.path.join(str(tmp_path / "wh"), "fct_orders")
        for f in os.listdir(path):
            if f.startswith("part-"):
                os.remove(os.path.join(path, f))
        res = r.build(sources, refresh="changed")
        assert r.last_refresh_report["skipped"] == ["dim_customers"]
        fresh, kept = {"fct_orders"}, {"dim_customers", *views}
        want = {"fct_orders": 12}
    elif case == "refiltered_source":
        res = r.build(dict(sources, orders=spark.read.parquet(
            str(tmp_path / "orders")).filter("order_id < 6")),
            refresh="changed")
        assert r.last_refresh_report["skipped"] == ["dim_customers"]
        fresh = {"stg_orders", "fct_orders"}
        kept = {"stg_customers", "dim_customers"}
        want = {"stg_orders": 6, "fct_orders": 6}
    elif case == "full_refresh":
        res = r.build(sources, refresh="changed", full_refresh=True)
        assert r.last_refresh_report["skipped"] == []
        fresh, kept = {*tables, *views}, set()
        want = {"fct_orders": 12, "dim_customers": 3}
    elif case == "empty":
        res = r.build(sources, refresh="changed", empty=True)
        assert r.last_refresh_report["skipped"] == []
        fresh, kept = {*tables, *views}, set()
        want = dict.fromkeys((*tables, *views), 0)
        for n in want:
            assert res.relations[n].schema == served.relations[n].schema, n
    else:  # post_hook: a plain no-op refresh
        res = r.build(sources, refresh="changed")
        assert sorted(r.last_refresh_report["skipped"]) == sorted(tables)
        fresh, kept = set(), {*tables, *views}
        want = {"fct_orders": 12}

    assert res.ok, res.to_json()
    for n in fresh:
        assert res.relations[n] is not served.relations[n], (case, n)
    for n in kept:
        assert res.relations[n] is served.relations[n], (case, n)
    for n, rows in want.items():
        assert res.relations[n].count() == rows, (case, n)
    # the hooked view runs its fn and its hook on every pass
    assert len(hook_calls) == 3
    assert res.relations["hooked_orders"] is not \
        served.relations["hooked_orders"]
    assert hook_calls[-1] is res.relations["hooked_orders"]
    # the pass after: served again, with every row of the real data
    again = r.build(sources, refresh="changed")
    assert again.ok and len(hook_calls) == 4
    assert again.relations["fct_orders"].count() == 12


def test_first_noop_refresh_after_a_full_build_serves_every_handle(
        spark, tmp_path, monkeypatch):
    """A full build fills the view memo too, so the very first no-op
    refresh on the same Runner runs its checks and nothing else."""
    _write_orders(spark, str(tmp_path / "orders"))
    _write_customers(spark, str(tmp_path / "customers"))
    r = Runner(spark, _sql_view_registry(tmp_path), str(tmp_path / "wh"))
    sources = _tested_sources(spark, tmp_path)
    built = r.build(sources)
    assert built.ok, built.to_json()
    calls = _count_calls(monkeypatch, "parquet", "sql", "view")
    before = _job_ids(spark)
    served = r.build(sources, refresh="changed")
    assert _job_ids(spark) - before == set()
    assert calls == {"parquet": 0, "sql": 0, "view": 0}
    assert served.ok
    assert set(served.relations) == set(built.relations)
    for name, df in built.relations.items():
        assert served.relations[name] is df, name
    assert sorted(r.last_refresh_report["skipped"]) == ["dim_customers",
                                                        "fct_orders"]
    assert sorted(spark.table("orders_by_status").collect()) == [
        ("F", 6), ("O", 6)]


@pytest.mark.parametrize("case", ["noop", "other_runner", "dropped",
                                  "clean"])
def test_noop_refresh_registers_a_temp_view_only_when_the_session_lost_it(
        spark, tmp_path, monkeypatch, case):
    _write_orders(spark, str(tmp_path / "orders"))
    _write_customers(spark, str(tmp_path / "customers"))
    reg = _sql_view_registry(tmp_path)
    names = ["stg_orders", "stg_customers", "orders_by_status",
             "fct_orders", "dim_customers"]
    r = Runner(spark, reg, str(tmp_path / "wh"))
    sources = _tested_sources(spark, tmp_path)
    assert r.build(sources).ok
    served = r.build(sources, refresh="changed").relations

    if case == "other_runner":
        # another warehouse, the same model names, fewer orders
        other = Runner(spark, reg, str(tmp_path / "other_wh")).build(
            dict(sources, orders=spark.read.parquet(
                str(tmp_path / "orders")).filter("order_id < 6")))
        assert other.ok and spark.table("fct_orders").count() == 6
        lost = names
    elif case == "dropped":
        lost = ["stg_orders", "fct_orders"]
        for name in lost:
            assert spark.catalog.dropTempView(name)
    elif case == "clean":
        r.clean()
        lost = names
    else:
        lost = []

    calls = _count_calls(monkeypatch, "view")
    res = r.build(sources, refresh="changed")
    assert res.ok, res.to_json()
    # after clean() every node runs again, and each of the two SQL-text
    # nodes (orders_by_status, the singular test) binds its one ref
    # under a private view while its fn runs
    assert calls == {"view": len(lost) + (2 if case == "clean" else 0)}
    for name in names:
        if case != "clean":
            assert res.relations[name] is served[name], (case, name)
        assert sorted(spark.table(name).collect()) == \
            sorted(res.relations[name].collect()), (case, name)
    assert spark.table("fct_orders").count() == 12
    # registered again, the views are the Runner's own once more
    calls["view"] = 0
    assert r.build(sources, refresh="changed").ok
    assert calls == {"view": 0}


def test_parallel_passes_keep_every_build_record_and_view(
        spark, tmp_path, monkeypatch):
    """Eight threads on a smaller host with a short switch interval: every
    table's build record survives the concurrent state writes and every
    view its concurrent registration, so the next parallel no-op pass
    skips every table and registers no temp view."""
    import json
    import sys

    src = str(tmp_path / "src")
    _write_src(spark, src, [1, 2, 3])
    reg = ModelRegistry()
    for i in range(8):
        @reg.model(f"v{i}", deps=("src",), materialized="view")
        def view(refs, i=i):
            return refs["src"].filter(F.col("v") >= i)

        @reg.model(f"t{i}", deps=(f"v{i}",), materialized="table")
        def table(refs, i=i):
            return refs[f"v{i}"].groupBy("day").count()

    tables = sorted(f"t{i}" for i in range(8))
    wh = str(tmp_path / "wh")
    sources = {"src": spark.read.parquet(src)}
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        r = Runner(spark, reg, wh)
        assert r.build(sources, threads=8).ok
        calls = _count_calls(monkeypatch, "view")
        res = r.build(sources, threads=8, refresh="changed")
    finally:
        sys.setswitchinterval(old)
    assert res.ok and sorted(r.last_refresh_report["skipped"]) == tables
    assert calls == {"view": 0}
    with open(os.path.join(wh, "_build_state.json")) as f:
        assert set(json.load(f)) == set(tables)
    for name in tables:
        assert sorted(spark.table(name).collect()) == \
            sorted(res.relations[name].collect()), name
