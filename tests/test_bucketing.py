"""Bucketed table materialization (core/runner.py): same-key same-count
bucketed marts join with ZERO exchanges, contents round-trip exactly, and
the manifest carries the layout."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from dbt_demo_spark.core.model import ModelRegistry
from dbt_demo_spark.core.runner import Runner


@pytest.fixture
def bucketed_rels(spark, tmp_path):
    reg = ModelRegistry()

    @reg.model("fact_sales", deps=("src_sales",), materialized="table",
               bucket_by=("cust_id",), n_buckets=4)
    def fact_sales(refs):
        return refs["src_sales"]

    @reg.model("fact_visits", deps=("src_visits",), materialized="table",
               bucket_by=("cust_id",), n_buckets=4)
    def fact_visits(refs):
        return refs["src_visits"]

    sales = spark.range(2000).select(
        (F.col("id") % 500).alias("cust_id"), F.col("id").alias("amt"))
    visits = spark.range(3000).select(
        (F.col("id") % 500).alias("cust_id"), F.col("id").alias("visit"))
    runner = Runner(spark, reg, warehouse_dir=str(tmp_path))
    rels = runner.run({"src_sales": sales, "src_visits": visits})
    yield rels, sales, visits, reg
    for t in ("fact_sales", "fact_visits"):
        spark.sql(f"DROP TABLE IF EXISTS `{runner.catalog_name(t)}`")


def test_bucketed_join_has_no_exchange(spark, bucketed_rels):
    rels, sales, visits, _ = bucketed_rels
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = (rels["fact_sales"].join(rels["fact_visits"], "cust_id")
                  .groupBy("cust_id").agg(F.count(F.lit(1)).alias("n")))
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # the whole point of the layout: fact-to-fact join, zero shuffles
        # up to the join (the final single-key agg rides the same
        # clustering, so no exchange anywhere before the result)
        assert "Exchange" not in plan, plan
        # r15 (VERDICT r14 item 6): the marts are written ONE FILE PER
        # BUCKET and the session claims the on-disk sortBy order, so the
        # sort-merge join needs NO per-query Sort either — the serve plan
        # is scan -> join -> agg, nothing else
        import re
        assert not re.search(r"\bSort \[", plan), plan
        # and it computes the right thing: 4 sales x 6 visits per cust
        rows = {r.cust_id: r.n for r in joined.collect()}
        assert rows[0] == 24 and len(rows) == 500
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_write_is_one_file_per_bucket(spark, bucketed_rels, tmp_path):
    """The sorted-bucket layout is only trustable (and the Sort-free serve
    above only legal) when every bucket is a single file — pin the writer's
    repartition-on-bucket-keys discipline so a future multi-task write
    cannot silently bring the per-query Sorts back."""
    import glob
    import os
    rels, _, _, _ = bucketed_rels
    files = [f for f in rels["fact_sales"].inputFiles()]
    assert len(files) == 4, files          # n_buckets files, no more
    buckets = {f.rsplit("_", 1)[-1].split(".")[0] for f in files}
    assert len(buckets) == 4               # one file per distinct bucket id

    # partition_by + bucket_by: each write task still holds one bucket, but
    # writes one file per partition directory — so a bucket is one file per
    # directory.  The join stays exchange-free; the scan claims its sortBy
    # order only when pruning leaves one directory, so an unpruned read
    # keeps the per-query Sort.
    import re

    from dbt_demo_spark.sources.parquet import load_table
    from tests.conftest import SF_SMOKE

    reg = ModelRegistry()

    @reg.model("orders_pb", deps=("orders",), materialized="table",
               partition_by=("o_orderstatus",), bucket_by=("o_orderkey",),
               n_buckets=4)
    def orders_pb(refs):
        return refs["orders"].select("o_orderkey", "o_orderstatus")

    orders = load_table(spark, SF_SMOKE, "orders")
    n_dirs = orders.select("o_orderstatus").distinct().count()
    runner = Runner(spark, reg, warehouse_dir=str(tmp_path / "pb"))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        pb = runner.run({"orders": orders})["orders_pb"]
        ids_by_dir: dict[str, list[str]] = {}
        for f in pb.inputFiles():
            d, base = f.rsplit("/", 2)[-2:]
            ids_by_dir.setdefault(d, []).append(
                base.rsplit("_", 1)[-1].split(".")[0])
        assert len(ids_by_dir) == n_dirs > 1
        for d, ids in ids_by_dir.items():
            assert len(ids) == len(set(ids)) == 4, (d, ids)

        def join_plan(df):
            j = df.alias("a").join(df.alias("b"), "o_orderkey")
            return j._jdf.queryExecution().executedPlan().toString()

        plan = join_plan(pb)
        assert "Exchange" not in plan, plan
        assert re.search(r"\bSort \[", plan), plan
        pruned = join_plan(pb.filter(F.col("o_orderstatus") == "F"))
        assert "Exchange" not in pruned, pruned
        assert not re.search(r"\bSort \[", pruned), pruned
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        runner.clean()


def test_bucketed_contents_round_trip(spark, bucketed_rels):
    rels, sales, _, _ = bucketed_rels
    assert sorted(map(tuple, rels["fact_sales"].collect())) == \
        sorted(map(tuple, sales.collect()))


def test_manifest_carries_bucket_layout(bucketed_rels):
    _, _, _, reg = bucketed_rels
    node = reg.manifest()["nodes"]["fact_sales"]
    assert node["bucket_by"] == ["cust_id"] and node["n_buckets"] == 4


def test_bucketed_tpch_marts_join_differential(spark, tmp_path):
    """The layout on the real tables: orders and lineitem marts bucketed
    on the order key join with ONE exchange total (the final small
    group-by; the fact-to-fact join itself is exchange-free), and the
    result hash-matches a DuckDB oracle computing the same join from the
    raw tables."""
    from dbt_demo_spark.sources.parquet import load_table
    from dbt_demo_spark.testing import compare, duckdb_connection
    from tests.conftest import SF_GATE

    reg = ModelRegistry()

    @reg.model("mart_orders_b", deps=("orders",), materialized="table",
               bucket_by=("o_orderkey",), n_buckets=8)
    def mart_orders_b(refs):
        return refs["orders"].select("o_orderkey", "o_orderpriority")

    @reg.model("mart_lineitem_b", deps=("lineitem",), materialized="table",
               bucket_by=("l_orderkey",), n_buckets=8)
    def mart_lineitem_b(refs):
        return refs["lineitem"].select("l_orderkey", "l_quantity")

    runner = Runner(spark, reg, warehouse_dir=str(tmp_path / "wh"))
    try:
        rels = runner.run({
            "orders": load_table(spark, SF_GATE, "orders"),
            "lineitem": load_table(spark, SF_GATE, "lineitem"),
        })
        joined = (
            rels["mart_orders_b"].join(
                rels["mart_lineitem_b"],
                F.col("o_orderkey") == F.col("l_orderkey"))
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_items"),
                 F.sum(F.col("l_quantity").cast("long")).alias("total_qty")))
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert plan.count("Exchange") == 1, plan  # only the tiny agg
            res = compare(
                "bucketed_join", joined, duckdb_connection(SF_GATE),
                """
                SELECT o_orderpriority,
                       COUNT(*) AS n_items,
                       -- DuckDB SUM(BIGINT) widens to HUGEINT; pin BIGINT
                       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT)
                           AS total_qty
                FROM orders JOIN lineitem ON o_orderkey = l_orderkey
                GROUP BY 1
                """)
            assert res.ok, res.detail
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        runner.clean()
    assert not spark.catalog.tableExists(runner.catalog_name("mart_orders_b"))


def test_bucket_by_requires_n_buckets(spark, tmp_path):
    reg = ModelRegistry()

    @reg.model("bad", deps=("src",), materialized="table",
               bucket_by=("k",))
    def bad(refs):
        return refs["src"]

    runner = Runner(spark, reg, warehouse_dir=str(tmp_path))
    src = spark.range(3).select(F.col("id").alias("k"))
    with pytest.raises(ValueError, match="n_buckets"):
        runner.run({"src": src})


def test_n_buckets_without_bucket_by_rejected(spark, tmp_path):
    """The inverse typo must fail loudly too — silently materializing a
    plain table would leave every downstream join paying the shuffle the
    declared layout was supposed to eliminate."""
    reg = ModelRegistry()

    @reg.model("bad2", deps=("src",), materialized="table", n_buckets=8)
    def bad2(refs):
        return refs["src"]

    runner = Runner(spark, reg, warehouse_dir=str(tmp_path))
    src = spark.range(3).select(F.col("id").alias("k"))
    with pytest.raises(ValueError, match="bucket_by"):
        runner.run({"src": src})


def test_clean_drops_catalog_tables(spark, tmp_path):
    """clean() must drop the bucketed models' session-catalog entries along
    with the warehouse files — a stranded name would resolve to deleted
    paths."""
    reg = ModelRegistry()

    @reg.model("fact_clean_check", deps=("src",), materialized="table",
               bucket_by=("k",), n_buckets=2)
    def fact_clean_check(refs):
        return refs["src"]

    runner = Runner(spark, reg, warehouse_dir=str(tmp_path / "wh"))
    src = spark.range(10).select(F.col("id").alias("k"))
    runner.run({"src": src})
    cat = runner.catalog_name("fact_clean_check")
    assert spark.catalog.tableExists(cat)
    # name-based access still works through the temp-view alias
    assert spark.table("fact_clean_check").count() == 10
    runner.clean()
    assert not spark.catalog.tableExists(cat)


def test_two_runners_same_model_name_do_not_clobber(spark, tmp_path):
    """Catalog namespacing (ADVICE r6): two runners materializing a
    same-named bucketed model must not overwrite each other's session-
    catalog entry, and one runner's clean() must not drop the other's
    table."""
    def make(tag, wh):
        reg = ModelRegistry()

        @reg.model("fact_shared_name", deps=("src",), materialized="table",
                   bucket_by=("k",), n_buckets=2)
        def fact_shared_name(refs):
            return refs["src"]

        runner = Runner(spark, reg, warehouse_dir=str(wh))
        rels = runner.run({"src": spark.range(tag).select(
            F.col("id").alias("k"))})
        return runner, rels["fact_shared_name"]

    r1, df1 = make(10, tmp_path / "wh_a")
    r2, df2 = make(20, tmp_path / "wh_b")
    try:
        assert r1.catalog_name("fact_shared_name") != \
            r2.catalog_name("fact_shared_name")
        # both catalog entries alive, each serving its own contents
        assert spark.table(r1.catalog_name("fact_shared_name")).count() == 10
        assert spark.table(r2.catalog_name("fact_shared_name")).count() == 20
        r2.clean()
        # runner 1's table survives runner 2's clean
        assert spark.table(r1.catalog_name("fact_shared_name")).count() == 10
    finally:
        r1.clean()


def test_hourly_rollup_null_user_matches_count_distinct(spark, tmp_path):
    """ADVICE r13 (low): events with NULL user_id.  COUNT(DISTINCT
    user_id) ignores NULLs, so the mart-served n_users must count only
    non-NULL-user grain rows (count(user_id), not count(*)) — while
    the NULL-user EVENTS still land in n_events/total_value exactly as
    the oracle's COUNT(*)/SUM do.  Pre-r14 the serve counted every
    grain row, an off-by-one per (hour, type) wherever a NULL-user
    event exists."""
    import datetime as _dt
    import shutil as _sh

    from dbt_demo_spark.queries import CATALOG
    from dbt_demo_spark.queries.llm_pipeline import (
        events_hourly_rollup_rawscan)
    from dbt_demo_spark.sources.parquet import mart_cache_dir

    h = _dt.datetime(2024, 5, 1, 10)
    rows = [(1, h, 7, "view", 1.0, "{}"),
            (2, h, 8, "view", 2.0, "{}"),
            (3, h, None, "view", 4.0, "{}"),     # NULL-user event
            (4, h, None, "click", 8.0, "{}")]    # NULL-only group
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, "
              "event_type string, value double, props string")
    sf_dir = str(tmp_path / "sfnull")
    ev.coalesce(1).write.parquet(sf_dir + "/events.parquet")
    try:
        served = {(r.hour_start, r.event_type):
                  (r.n_events, r.n_users, r.total_value)
                  for r in CATALOG["events_hourly_rollup"]
                  .fn(spark, sf_dir).collect()}
        raw = {(r.hour_start, r.event_type):
               (r.n_events, r.n_users, r.total_value)
               for r in events_hourly_rollup_rawscan(spark, sf_dir)
               .collect()}
        assert served == raw
        # the NULL-user event counts in n_events/value but NOT n_users
        assert served[(h, "view")] == (3, 2, 7.0)
        # a group whose only event has NULL user: present, n_users 0
        assert served[(h, "click")] == (1, 0, 8.0)
    finally:
        _sh.rmtree(mart_cache_dir(sf_dir, "hourly_grain"),
                   ignore_errors=True)


def test_r13_mart_served_rows_match_rawscan_twins(spark):
    """r13 (VERDICT r12 items 1-2): events_hourly_rollup serves from the
    (hour,type,user) grain mart (Q11_HOURLY_RECEIPT.json) and
    sim_topk_lsh from the persisted LSH index; each raw-scan twin must
    produce identical rows at the gate scale — layout never changes
    answers.  The DuckDB oracle over raw tables remains the primary
    gate."""
    from dbt_demo_spark.queries import CATALOG
    from dbt_demo_spark.queries.llm_pipeline import (
        events_hourly_rollup_rawscan, sim_topk_lsh_inline)
    from tests.conftest import SF_GATE

    for name, raw in (
            ("events_hourly_rollup", events_hourly_rollup_rawscan),
            ("sim_topk_lsh", sim_topk_lsh_inline)):
        served = CATALOG[name].fn(spark, SF_GATE)
        twin = raw(spark, SF_GATE)
        assert served.columns == twin.columns, (name, raw.__name__)
        a = sorted(map(tuple, served.collect()))
        b = sorted(map(tuple, twin.collect()))
        assert a == b, (f"{name}: mart-served result diverged from "
                        f"{raw.__name__}")


def test_mart_buckets_env_override(monkeypatch):
    """VERDICT r13 item 6: the grain-mart bucket count is one shared,
    env-overridable constant (read at BUILD time), not an n_buckets=8
    literal per builder — the 100 TB deployment sets
    SPARK_GRAFT_MART_BUCKETS instead of editing four call sites."""
    from dbt_demo_spark.session import mart_buckets

    assert mart_buckets() == 8                      # local default
    monkeypatch.setenv("SPARK_GRAFT_MART_BUCKETS", "4096")
    assert mart_buckets() == 4096                   # cluster sizing
    monkeypatch.delenv("SPARK_GRAFT_MART_BUCKETS")
    assert mart_buckets() == 8
