"""sparkbank benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload catalog --seed 1 --seconds 3 --trace 0

Run from the root of a source checkout.  The benchmark generates its inputs
from the seed (perfbench/datagen.py) under ``.perfbench/`` in the checkout,
starts the engine's own session (``session.get_spark`` on ``local[nproc]``),
runs the workload in this one process, checks the outputs and removes every
file and artifact directory the run created.

Workloads (perfbench/README.md has the full metric map):
  catalog    cold build of the serving artifacts, a sequential serve pass
             and 4 closed-loop clients over a cut of the query catalog
  workflows  the product workflows: ``pipeline.clean_corpus`` into an empty
             fingerprint index (and, traced, a re-ingest against it), then
             a 19-model SQL dbt project ported and built by ``core`` and a
             no-op ``refresh="changed"`` build

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``:
end-to-end metrics with ``--trace 0``, per-layer metrics with ``--trace 1``.
The line before it carries the run's details (host-noise stamps, every
per-query or per-stage number, the metric names the workload defines).
A traced run also writes its spans to ``.perfbench/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import time

LAUNCH = time.perf_counter()

import argparse  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
import uuid  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import measure as tr  # noqa: E402

WORKLOADS = ("catalog", "workflows")
# engine artifact roots keyed by the data directory's basename
# (sources/parquet.py mart_cache_dir, queries/llm_pipeline.py _session_index)
ARTIFACT_ROOTS = (".mart_cache", ".lsh_index", ".ivf_index", ".pq_index",
                  ".pqr_index")
# session-wide by-products Spark drops into the working directory
SPARK_LEFTOVERS = ("spark-warehouse", "metastore_db", "derby.log")


class Run:
    """State one workload run shares with the harness."""

    def __init__(self, args, work: str, data: str, tracer: tr.Tracer):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.data = data
        self.span = tracer.span
        self.cpus = len(os.sched_getaffinity(0))
        self.spark = None
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.detail: dict = {}
        self.inputs: dict = {}    # what make_inputs generated, for checks
        self.attempted = 0
        self.failures: list[str] = []

    def fail(self, what: str) -> None:
        self.failures.append(what)
        print(f"perfbench: FAILED {what}", file=sys.stderr)


def _engine_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "dbt_demo_spark", "__init__.py"))


def _cleanup(work: str, tag: str, leftovers: list[str]) -> None:
    """Remove the run's work dir, the artifact dirs the engine keyed by the
    run's data-dir name, and Spark by-products this run created."""
    shutil.rmtree(work, ignore_errors=True)
    for root in ARTIFACT_ROOTS:
        base = os.path.join(ROOT, root)
        for path in glob.glob(os.path.join(base, f"{tag}-*")):
            shutil.rmtree(path, ignore_errors=True)
        if os.path.isdir(base) and not os.listdir(base):
            os.rmdir(base)
    for name in leftovers:
        path = os.path.join(ROOT, name)
        if os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)
        elif os.path.exists(path):
            os.remove(path)
    parent = os.path.dirname(work)
    if os.path.isdir(parent) and not os.listdir(parent):
        os.rmdir(parent)


def _setup(run: Run) -> None:
    """Launch -> engine session ready and its first job run."""
    from dbt_demo_spark.session import get_spark

    with run.span("session.get_spark"):
        t0 = time.perf_counter()
        run.spark = get_spark(app_name="perfbench")
        run.layer["session.get_spark_s"] = time.perf_counter() - t0
    with run.span("bench.warmup"):
        run.spark.range(1_000_000).selectExpr("sum(id)").write \
            .format("noop").mode("overwrite").save()


def _stop(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit
    (the Python workers are its children and exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    os.chdir(ROOT)
    if not _engine_present():
        print("perfbench: no dbt_demo_spark package next to perfbench/; "
              "run from the root of a full source checkout", file=sys.stderr)
        return 2

    tag = f"pb{os.getpid()}{uuid.uuid4().hex[:6]}"
    work = os.path.join(ROOT, ".perfbench", f"run-{tag}")
    data = os.path.join(work, tag)   # basename keys the engine's artifacts
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # the engine's sizing rule for shuffle partitions: 2-3x the cores
    os.environ["SPARK_GRAFT_SHUFFLE"] = str(2 * cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # the driver JVM would otherwise keep its perf-data file in /tmp
    os.environ["SPARK_SUBMIT_OPTS"] = \
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    sys.path.insert(0, ROOT)
    leftovers = [n for n in SPARK_LEFTOVERS
                 if not os.path.exists(os.path.join(ROOT, n))]

    import importlib

    workload = importlib.import_module(args.workload)
    tracer = tr.Tracer(bool(args.trace))
    run = Run(args, work, data, tracer)
    ok = False
    try:
        with tr.RssSampler() as rss:
            t0 = time.perf_counter()
            with run.span("bench.datagen"):
                run.detail["rows"] = workload.make_inputs(run)
            datagen_s = time.perf_counter() - t0
            load_before, cpu_before = tr.load1(), tr.cpu_ticks()
            _setup(run)
            run.e2e["setup_s"] = time.perf_counter() - LAUNCH - datagen_s
            probe_before = tr.speed_probe(run.spark)
            with run.span("bench." + args.workload):
                workload.run(run)
            probe_after = tr.speed_probe(run.spark)
            steal = tr.steal_share(cpu_before, tr.cpu_ticks())
            spark, run.spark = run.spark, None
            _stop(spark)
        host = {"host.peak_rss_mb": rss.peak / 2**20,
                "host.load1_before": load_before,
                "host.load1_after": tr.load1(),
                "host.probe_before_s": probe_before,
                "host.probe_after_s": probe_after,
                "host.steal_share": steal}
        run.layer.update(host)
        run.detail.update(host, datagen_s=datagen_s, cpus=run.cpus,
                          seed=args.seed, workload=args.workload,
                          failures=run.failures)
        if run.trace:
            run.layer.update({f"self.{k}_s": v
                              for k, v in tracer.self_times().items()})
            tracer.dump(os.path.join(
                ROOT, ".perfbench",
                f"trace-{args.workload}-{args.seed}.json"))
        ok = True
    except Exception:
        traceback.print_exc()
    finally:
        if run.spark is not None:
            _stop(run.spark)
        _cleanup(work, tag, leftovers)
    if not ok:
        return 1

    spec = _spec()
    if run.trace:
        metrics = {m["name"]: (run.layer.get(m["name"], 0.0), m["unit"])
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: (run.e2e[m["name"]], m["unit"])
                   for m in spec["end_to_end"]}
    print(json.dumps({"detail": run.detail, "e2e": run.e2e}, default=str))
    print(json.dumps({
        "correct": not run.failures,
        "attempted": max(1, run.attempted),
        "failed": len(run.failures),
        "metrics": {k: {"value": v, "unit": unit}
                    for k, (v, unit) in metrics.items()},
    }))
    return 0


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


if __name__ == "__main__":
    sys.exit(main())
