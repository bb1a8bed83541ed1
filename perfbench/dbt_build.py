"""The dbt build of the ``workflows`` workload: the SQL project in
perfbench/dbt_project (eight staging views, eleven mart tables including
the monthly full-outer rollup, schema.yml tests) ported by ``core.project``
and built by ``core.runner.Runner.build`` into a fresh warehouse, then
rebuilt with ``refresh="changed"`` and no change, REFRESHES times; the
refresh time is the best of them (one ~3 s refresh reads a GC pause
whole).

Checks: every node succeeds and every test passes, each no-op refresh
skips every table model, and each mart's row count equals the count DuckDB
gets from the same SQL over the same parquet files (the built tables'
row counts are read from their parquet footers, not with Spark jobs).
"""

from __future__ import annotations

import os
import re
import time

import pyarrow.parquet as pq

import measure

PROJECT = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "dbt_project")
SOURCES = ("region", "nation", "customer", "supplier", "part", "orders",
           "lineitem", "events")
REFRESHES = 2
_JINJA = re.compile(
    r"\{\{\s*(?:ref\(\s*'(\w+)'\s*\)|source\(\s*'\w+'\s*,\s*'(\w+)'\s*\))"
    r"\s*\}\}")


def _duckdb_counts(data: str, order: list[str], tables: list[str]) -> dict:
    """Row count of each table model from DuckDB running the project's SQL
    with ref()/source() resolved to plain relation names."""
    import duckdb

    sql = {}
    for dirpath, _, files in os.walk(os.path.join(PROJECT, "models")):
        for f in files:
            if f.endswith(".sql"):
                with open(os.path.join(dirpath, f)) as fh:
                    sql[f[:-4]] = _JINJA.sub(
                        lambda m: m.group(1) or m.group(2), fh.read())
    con = duckdb.connect()
    try:
        for t in SOURCES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{data}/{t}.parquet')")
        for name in order:
            con.execute(f"CREATE VIEW {name} AS {sql[name]}")
        return {t: con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
                for t in tables}
    finally:
        con.close()


def run(run) -> dict:
    """Port, build, check, then the no-op refreshes; returns the build
    wall and the best refresh wall."""
    from dbt_demo_spark.core.datatests import run_data_tests
    from dbt_demo_spark.core.project import port_dbt_project
    from dbt_demo_spark.core.runner import Runner
    from dbt_demo_spark.sources.parquet import load_tables

    spark = run.spark
    t0 = time.perf_counter()
    with run.span("sources.load_tables"):
        sources = load_tables(spark, run.data, *SOURCES)
    # added to the funnel's table loads, which run first on this session
    measure.accumulate(run.layer,
                       {"sources.load_table_s": time.perf_counter() - t0})

    t0 = time.perf_counter()
    with run.span("core.port_dbt_project"):
        project = port_dbt_project(spark, PROJECT)
    run.layer["core.port_dbt_project_s"] = time.perf_counter() - t0
    registry = project.registry
    order = registry.topo_order()
    tables = [n for n in order if registry[n].materialized == "table"]

    profile = None
    if run.trace:
        profile = measure.PlanProfile(spark)
        profile.mark()
    warehouse = os.path.join(run.work, "warehouse")
    runner = Runner(spark, registry, warehouse_dir=warehouse)
    t0 = time.perf_counter()
    with run.span("core.Runner.build", key="full"):
        result = runner.build(sources, threads=run.cpus)
    build_s = time.perf_counter() - t0
    if profile is not None:
        measure.accumulate(run.layer, profile.collect())

    for name, node in result.nodes.items():
        run.attempted += 1 + len(node.tests)
        if node.status != "success":
            run.fail(f"node {name}: {node.status} {node.error or ''} "
                     f"{[t.name for t in node.tests if not t.passed]}")
        run.layer[f"core.node.{name}_s"] = node.seconds
    if sorted(result.nodes) != sorted(order):
        run.fail(f"built {sorted(result.nodes)}, project has {order}")

    with run.span("bench.check"):
        want = _duckdb_counts(run.data, order, tables)
        got = {t: pq.read_table(os.path.join(warehouse, t),
                                columns=[]).num_rows
               for t in tables if t in result.relations}
    run.attempted += len(tables)
    for t in tables:
        if got.get(t) != want[t]:
            run.fail(f"{t}: {got.get(t)} rows, DuckDB says {want[t]}")
    run.detail.update(rows=got, node_s={n: r.seconds
                                        for n, r in result.nodes.items()})

    if run.trace:
        tests = [t for n in order for t in registry[n].tests]
        t0 = time.perf_counter()
        with run.span("core.run_data_tests"):
            outcomes = run_data_tests(tests, result.relations)
        run.layer["core.datatests_s"] = time.perf_counter() - t0
        run.attempted += len(outcomes)
        for o in outcomes:
            if not o.passed:
                run.fail(f"test {o.name}: {o.violations} violations")

    walls = []
    for _ in range(REFRESHES):
        run.attempted += 1
        t0 = time.perf_counter()
        with run.span("core.Runner.build", key="refresh"):
            res = runner.build(sources, threads=run.cpus, refresh="changed")
        walls.append(time.perf_counter() - t0)
        skipped = set(runner.last_refresh_report["skipped"])
        if not res.ok or not set(tables) <= skipped:
            run.fail(f"no-op refresh rebuilt {sorted(set(tables) - skipped)}")
    refresh_s = min(walls)
    run.layer["core.refresh_skip_ratio"] = \
        len(skipped & set(tables)) / len(tables)
    run.layer["core.dag_build_s"] = build_s
    run.layer["core.dag_refresh_s"] = refresh_s
    run.detail.update(dag_build_s=build_s, dag_refresh_s=walls)
    runner.clean()
    return {"cold_s": build_s, "warm_s": refresh_s}
