"""``catalog`` workload: the serving path over a cut of the query catalog.

Phases, all on one session:
  sources  ``sources.parquet.load_tables`` over the fresh per-run data dir
  cold     construct every handle single-threaded; the first construction
           of an artifact-backed query builds its mart or index (cold_s)
  check    one sequential pass in seed-permuted order, each result
           collected as Arrow and compared with the query's DuckDB oracle
           (off the clock; it also compiles each query's generated code)
  serve    three sequential ``noop``-sunk passes in the same order; warm_s
           sums each query's best time
  loop     4 closed-loop clients for --seconds (ops_per_s)
A traced run adds one more serve pass with spans on and the plan-metric
read, for the per-query and per-layer numbers and the tracing overhead.
"""

from __future__ import annotations

import random
import statistics
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import datagen
import measure

# Catalog order.  Every query module is represented, with every
# build-once mart and index whose build fits the run budget (BUILDS).
# Left out: dedup_minhash_lsh_guarded (its corpus feature table alone
# builds for ~7 s), sim_topk_lsh (LSH index build ~4 s, the slowest
# serve), events_hourly_rollup (hourly grain, ~2 s a run) and the text
# rows whose serve alone exceeds 2 s.
QUERIES = (
    "fct_order_details", "agg_monthly_orders", "mart_month_pruned",
    "tpch_q3_shipping_priority", "tpch_q2_min_cost_supplier",
    "events_sessionization", "dedup_exact_keep_first", "text_lang_id",
    "corpus_bm25_topk", "events_gapfill_ffill",
)
BUILDS = ("agg_monthly_orders", "mart_month_pruned",
          "tpch_q2_min_cost_supplier", "corpus_bm25_topk")
# warm_s sums each query's best time over this many sequential passes: a
# single pass reads a GC pause or a late JIT compile as a slower query
SERVE_PASSES = 3
MODULES = ("reference_surface", "tpch", "tpch2", "windows", "llm_pipeline",
           "text_filters", "timeseries")


class _Collected:
    """An already-collected result handed to ``testing.compare``."""

    def __init__(self, table) -> None:
        self.table = table

    def toArrow(self):
        return self.table


def make_inputs(run) -> dict:
    return datagen.generate(run.data, run.seed)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run(run) -> None:
    from dbt_demo_spark.queries import CATALOG
    from dbt_demo_spark.sources.parquet import load_tables

    spark, sf = run.spark, run.data
    module = {n: CATALOG[n].fn.__module__.rsplit(".", 1)[1] for n in QUERIES}

    t0 = time.perf_counter()
    with run.span("sources.load_tables"):
        load_tables(spark, sf)
    run.layer["sources.load_table_s"] = time.perf_counter() - t0

    handles, build = {}, {}
    t0 = time.perf_counter()
    for name in QUERIES:
        run.attempted += 1
        t = time.perf_counter()
        try:
            with run.span(f"queries.{module[name]}.construct", key=name):
                handles[name] = CATALOG[name].fn(spark, sf)
        except Exception as e:
            run.fail(f"construct {name}: {e!r}")
        build[name] = time.perf_counter() - t
    run.e2e["cold_s"] = time.perf_counter() - t0
    for name in BUILDS:
        run.layer[f"build.{name}_s"] = build[name]
    run.layer["build.other_s"] = sum(
        v for k, v in build.items() if k not in BUILDS)

    run.detail["construct_s"] = build

    order = list(handles)
    random.Random(run.seed).shuffle(order)
    results = {}
    for name in order:
        run.attempted += 1
        try:
            with run.span(f"queries.{module[name]}.collect", key=name):
                results[name] = handles[name].toArrow()
        except Exception as e:
            run.fail(f"serve {name}: {e!r}")
    _check(run, results)

    passes = [serve_pass(run, handles, order, module, traced=False)
              for _ in range(SERVE_PASSES)]
    serve = {n: min(p[n] for p in passes) for n in order}
    run.e2e["warm_s"] = sum(serve.values())
    run.detail.update(serve_s=serve,
                      pass_s=[sum(p.values()) for p in passes])
    if run.trace:
        _traced_pass(run, handles, order, module, passes[-1])
    lat = closed_loop(run, handles, order)
    run.e2e["ops_per_s"] = lat["ops_per_s"]
    run.layer["queries.p50_s"] = lat["p50_s"]
    run.layer["queries.p75_s"] = lat["p75_s"]
    run.layer["queries.samples"] = lat["samples"]
    run.detail["closed_loop"] = lat


def _check(run, results: dict) -> None:
    """Each collected result against its DuckDB oracle, rows-only where
    the catalog has none; a mismatch is a failed operation."""
    from dbt_demo_spark.queries import CATALOG
    from dbt_demo_spark.testing import compare, duckdb_connection

    con = duckdb_connection(run.data)
    for name, table in results.items():
        spec = CATALOG[name]
        try:
            with run.span("bench.check", key=name):
                if spec.oracle is None:
                    ok, why = table.num_rows > 0, "no rows"
                else:
                    res = compare(name, _Collected(table), con, spec.oracle)
                    ok, why = res.ok, res.detail
            if not ok:
                run.fail(f"check {name}: {why[:200]}")
        except Exception as e:
            run.fail(f"check {name}: {e!r}")
    con.close()


def serve_pass(run, handles: dict, order: list, module: dict,
               traced: bool) -> dict:
    """One sequential ``noop``-sunk pass; seconds per query."""
    times = {}
    for name in order:
        run.attempted += 1
        t = time.perf_counter()
        try:
            if traced:
                with run.span(f"queries.{module[name]}.serve", key=name):
                    _noop(handles[name])
            else:
                _noop(handles[name])
        except Exception as e:
            run.fail(f"serve {name}: {e!r}")
        times[name] = time.perf_counter() - t
    return times


def _traced_pass(run, handles: dict, order: list, module: dict,
                 plain: dict) -> None:
    """Per-query serve times and plan metrics from a pass with spans on;
    its difference to the untraced pass just before it (``plain``) is the
    tracing overhead."""
    profile = measure.PlanProfile(run.spark)
    profile.mark()
    traced = serve_pass(run, handles, order, module, traced=True)
    measure.accumulate(run.layer, profile.collect())
    run.layer["trace.overhead_s"] = sum(traced.values()) - sum(plain.values())
    for name, s in traced.items():
        run.layer[f"serve.{name}_s"] = s
    for mod in MODULES:
        run.layer[f"queries.{mod}.serve_s"] = sum(
            s for n, s in traced.items() if module[n] == mod)


def closed_loop(run, handles: dict, order: list) -> dict:
    """``min(4, nproc)`` clients sharing one queue of whole passes over the
    queries, each pass in a new seed-permuted order; a client takes the
    next query as soon as its previous one returns.  Passes are queued
    until --seconds have passed and the last one is served in full, so
    every run serves the same mix of queries (a time cut would let the
    seed pick the mix).  The rate divides by client-seconds busy, so
    clients idling while the last queries drain do not count."""
    clients = min(4, run.cpus)
    rng = random.Random(run.seed)
    lock = threading.Lock()
    queue: list[str] = []
    lat: list[float] = []
    failures: list[str] = []
    start = time.perf_counter()
    deadline = start + run.seconds

    def take() -> str | None:
        with lock:
            if not queue:
                if time.perf_counter() >= deadline:
                    return None
                names = list(order)
                rng.shuffle(names)
                queue.extend(reversed(names))
            return queue.pop()

    def client() -> float:
        while (name := take()) is not None:
            t = time.perf_counter()
            try:
                _noop(handles[name])
            except Exception as e:
                failures.append(f"loop {name}: {e!r}")
            lat.append(time.perf_counter() - t)
        return time.perf_counter() - start

    with ThreadPoolExecutor(clients) as ex:
        busy = sum(f.result() for f in [ex.submit(client)
                                        for _ in range(clients)])
    run.attempted += len(lat)
    for f in failures:
        run.fail(f)
    q = statistics.quantiles(lat, n=4) if len(lat) > 1 else lat * 3
    return {"clients": clients, "samples": len(lat), "busy_s": busy,
            "ops_per_s": len(lat) * clients / busy,
            "p50_s": q[1], "p75_s": q[2]}
