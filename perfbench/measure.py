"""Measurement plumbing shared by the workloads: spans, SQL plan metrics,
peak memory and host-noise stamps.

Spans are recorded by the benchmark around each call it makes into an
engine layer (never inside the engine).  They stay in memory and are
written out once, when the run ends.  Plan metrics are read after the
fact from Spark's SQL status store, which holds every executed plan's
SQL metrics even with the web UI disabled.
"""

from __future__ import annotations

import itertools
import json
import os
import re
import threading
import time
from contextlib import contextmanager

LAYERS = ("session", "sources", "queries", "operators", "pipeline", "core")


class Tracer:
    """Span recorder.  Disabled, ``span`` costs one attribute test."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._origin = time.perf_counter()
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, key: str | None = None):
        if not self.enabled:
            yield
            return
        parent = getattr(self._local, "current", None)
        sid = next(self._ids)
        self._local.current = sid
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._local.current = parent
            with self._lock:
                self.spans.append({
                    "id": sid, "parent": parent, "name": name, "key": key,
                    "start": start - self._origin,
                    "end": end - self._origin})

    def self_times(self) -> dict[str, float]:
        """Seconds per layer (first dotted component of the span name)
        not covered by a child span; spans outside the engine layers are
        the benchmark's own and land under ``bench``."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(
                    (s["start"], s["end"]))
        out = {layer: 0.0 for layer in (*LAYERS, "bench")}
        for s in self.spans:
            covered, reach = 0.0, s["start"]
            for a, b in sorted(children.get(s["id"], ())):
                a, b = max(a, reach), min(b, s["end"])
                if b > a:
                    covered += b - a
                    reach = b
            layer = s["name"].split(".", 1)[0]
            out[layer if layer in out else "bench"] += (
                s["end"] - s["start"] - covered)
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "self_s": self.self_times()},
                      fh, indent=1)


_VALUE = re.compile(r"([-\d.,]+)\s*([A-Za-z]*)")
_TIME_MS = {"ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6, "": 1.0}
_BYTES = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "": 1}


def parse_metric(text: str) -> float:
    """A status-store metric string -> number (ms for times, bytes for
    sizes).  Task-level metrics read ``total (min, med, max ...)\\n<total>
    (...)``; driver-level ones are the bare value."""
    m = _VALUE.match(text.split("\n")[-1].strip())
    if m is None:
        return 0.0
    num, unit = float(m.group(1).replace(",", "")), m.group(2)
    return num * _TIME_MS.get(unit, _BYTES.get(unit, 1.0))


# (node-name prefix or None for any node, metric name) -> per-layer metric
PLAN_METRICS = {
    (None, "scan time"): "sources.scan_ms",
    (None, "size of files read"): "sources.bytes_read",
    ("WholeStageCodegen", "duration"): "plan.codegen_ms",
    (None, "time in aggregation build"): "plan.agg_ms",
    (None, "sort time"): "plan.sort_ms",
    (None, "shuffle write time"): "plan.shuffle_write_ms",
    (None, "shuffle bytes written"): "plan.shuffle_bytes",
    ("BroadcastExchange", "time to collect"): "plan.broadcast_ms",
    ("BroadcastExchange", "time to build"): "plan.broadcast_ms",
    ("BroadcastExchange", "time to broadcast"): "plan.broadcast_ms",
    (None, "time to start Python workers"): "operators.python_boot_ms",
    (None, "time to initialize Python workers"): "operators.python_init_ms",
    (None, "time to run Python workers"): "operators.python_compute_ms",
    (None, "data sent to Python workers"): "operators.python_bytes_sent",
}
PLAN_KEYS = sorted({*PLAN_METRICS.values(), "plan.exchanges"})


class PlanProfile:
    """Sums SQL metrics of every execution that started after ``mark``."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext._jsc.sc()
        self.store = spark._jsparkSession.sharedState().statusStore()
        self.seen = -1

    def _ids(self) -> list[int]:
        it = self.store.executionsList().iterator()
        ids = []
        while it.hasNext():
            ids.append(int(it.next().executionId()))
        return ids

    def mark(self) -> None:
        self.seen = max(self._ids(), default=-1)

    def collect(self) -> dict[str, float]:
        """Totals since the last ``mark`` (which this call advances)."""
        self.sc.listenerBus().waitUntilEmpty(10_000)
        out = {k: 0.0 for k in PLAN_KEYS}
        new = [i for i in self._ids() if i > self.seen]
        for eid in new:
            values = self.store.executionMetrics(eid)
            nodes = self.store.planGraph(eid).allNodes().iterator()
            while nodes.hasNext():
                node = nodes.next()
                name = node.name()
                if name == "Exchange":
                    out["plan.exchanges"] += 1
                metrics = node.metrics().iterator()
                while metrics.hasNext():
                    m = metrics.next()
                    key = (PLAN_METRICS.get((None, m.name()))
                           or PLAN_METRICS.get((name.split(" ")[0], m.name())))
                    if key is None:
                        continue
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        out[key] += parse_metric(v.get())
        self.seen = max(new, default=self.seen)
        return out


def accumulate(into: dict, values: dict) -> None:
    for k, v in values.items():
        into[k] = into.get(k, 0.0) + v


def _descendants(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_peak_rss_bytes(root: int) -> int:
    """Sum of the kernel's peak resident size (``VmHWM``) over ``root``
    and every live process below it: the driver JVM and the Python
    workers are children of the benchmark process.  The per-process peak
    is exact, so sampling only has to catch which processes are alive."""
    total = 0
    for pid in _descendants(root):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            continue
    return total


class RssSampler:
    """Background thread keeping the peak of ``tree_peak_rss_bytes``."""

    def __init__(self, interval: float = 0.2) -> None:
        self.peak = 0
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_peak_rss_bytes(me))
            self._stop.wait(self._interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def load1() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def cpu_ticks() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(1, sum(delta))


def speed_probe(spark, rows: int = 50_000_000) -> float:
    """Fixed, data-independent JVM job (codegen'd sum over a range), best
    of two after one untimed call that compiles it: a host-speed
    reference taken before and after the measured phases, so a run on a
    contended host shows as a probe pair that disagrees instead of being
    averaged in silently."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(rows).selectExpr("sum(id)").write.format("noop") \
            .mode("overwrite").save()
        times.append(time.perf_counter() - t0)
    return min(times[1:])
