"""Closed-loop timing, latency summaries and the traced run's spans.

One ``Harness`` drives one workload. ``op(kind)`` times one operation of
the closed loop (its latency lands in ``samples[kind]``, and the latency
it would have on an unshared host in ``own[kind]``, see ``Clock``);
``call(name)`` marks a call into an engine layer inside that operation. With tracing on,
each call becomes a child span, the Spark jobs it ran become grandchild
spans, and the per-call counters are folded out of Spark's status store
after the operation ends, so the fold never sits inside a timed interval.
"""

from __future__ import annotations

import math
import re
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

TAIL_BEYOND = 10  # the tail percentile keeps at least this many samples above it


def host_ticks() -> tuple[int, int]:
    """(busy, stolen) CPU ticks of this machine since boot, summed over its
    CPUs (/proc/stat): busy is user, nice, system, irq and softirq time;
    stolen is the time the hypervisor ran other guests while a CPU of this
    machine had work to run (steal)."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    f += [0] * (8 - len(f))
    return f[0] + f[1] + f[2] + f[5] + f[6], f[7]


class Clock:
    """Times an interval. Besides its wall time, it gives the time the
    interval would take on an unshared host of the same CPUs: the wall
    time scaled by the share of this machine's runnable CPU time that the
    hypervisor did not give to other guests. On a shared host a run of
    this benchmark can lose a fifth of its CPU time to steal, and the
    unscaled latencies of one seed then spread by as much."""

    def __init__(self):
        self.t0 = time.perf_counter()
        self.ticks0 = host_ticks()

    def read(self) -> tuple[float, float]:
        """(wall, own) seconds since the clock started."""
        wall = time.perf_counter() - self.t0
        busy, stolen = (b - a for a, b in zip(self.ticks0, host_ticks()))
        return wall, own_time(wall, busy, stolen)


def own_time(wall: float, busy: int, stolen: int) -> float:
    return wall * busy / (busy + stolen) if busy + stolen > 0 else wall


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that still has
    ``TAIL_BEYOND`` samples beyond it: p75 at n=40, p90 at n=100. Below
    2*TAIL_BEYOND+1 samples no such percentile reaches the median, and the
    median is reported."""
    xs = sorted(samples)
    n = len(xs)
    if n < 2 * TAIL_BEYOND + 1:
        return statistics.median(xs), 50.0
    i = n - TAIL_BEYOND - 1
    return xs[i], 100.0 * (i + 1) / n


def median(samples: list[float]) -> float:
    return statistics.median(samples)


def geomean_of_medians(groups: list[list[float]]) -> float:
    """Geometric mean of each group's median: every query template weighs
    the same however often it ran and however far apart the templates'
    latencies lie (the TPC-H power-metric form)."""
    return math.exp(sum(math.log(median(g)) for g in groups) / len(groups))


class Harness:
    def __init__(self, seconds: float, trace: bool):
        self.seconds = seconds
        self.trace = trace
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.by_op: dict[tuple[str, str], list[float]] = defaultdict(list)
        # the same latencies on an unshared host (Clock)
        self.own: dict[str, list[float]] = defaultdict(list)
        self.own_by_op: dict[tuple[str, str], list[float]] = defaultdict(list)
        self.stolen_ms = 0.0  # wall less own time of the timed operations
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.spans: list[dict] = []
        self.layer: dict[str, float] = defaultdict(float)
        self.fold_s = 0.0  # status-store folds, between operations
        self.hook_s = 0.0  # tracing hooks inside timed operations
        self.timed_s = 0.0
        self.measuring = False  # set once set-up and warm-up are done
        self._op = None
        self._n_ops = 0
        self._pending: list[dict] = []
        self._probe: SparkProbe | None = None

    def attach(self, spark) -> None:
        """Trace Spark work once a session exists."""
        if self.trace:
            self._probe = SparkProbe(spark)

    def running(self) -> bool:
        """The loop measures ``seconds`` of timed operations; checks and
        input staging between operations do not count."""
        return self.timed_s < self.seconds

    @contextmanager
    def op(self, kind: str, name: str | None = None):
        """One closed-loop operation. An exception counts it failed, its
        latency as +inf (it misses every latency limit), and propagates:
        the workload's state is then unknown, so the loop ends."""
        if not self.measuring and kind != "setup":
            yield None  # an operation inside warm-up: not a sample
            return
        self._n_ops += 1
        span = self._span(name or kind, parent=None)
        self._op = span
        self.attempted += 1
        clock = Clock()
        try:
            yield span
        except Exception as exc:
            self.failed += 1
            self.errors.append(f"{span['name']}: {type(exc).__name__}: {exc}"[:500])
            self.samples[kind].append(math.inf)
            self.own[kind].append(math.inf)
            raise
        else:
            wall, own = clock.read()
            self.samples[kind].append(wall * 1000.0)
            self.by_op[(kind, span["name"])].append(wall * 1000.0)
            self.own[kind].append(own * 1000.0)
            self.own_by_op[(kind, span["name"])].append(own * 1000.0)
            if kind != "setup":
                self.stolen_ms += (wall - own) * 1000.0
        finally:
            if kind != "setup":
                self.timed_s += clock.read()[0]
            self._close(span)
            self._op = None
            self._fold()

    def check(self, ok: bool, what: str) -> bool:
        """Record an output check made outside the timed region; a failed
        check fails the operation it belongs to."""
        if not ok:
            self.failed += 1
            self.errors.append(f"check failed: {what}"[:500])
        return ok

    @contextmanager
    def call(self, name: str):
        """A call into one engine layer, e.g. ``delta_lite.merge``."""
        if not self.trace or (self._op is None and not self.measuring):
            yield None  # untraced, or inside warm-up
            return
        t0 = time.perf_counter()
        span = self._span(name, parent=self._op)
        if self._probe is not None:
            span["jobs0"] = self._probe.next_job_id()
            span["exec0"] = self._probe.sql_execution_count()
        t1 = time.perf_counter()
        try:
            yield span
        finally:
            t2 = time.perf_counter()
            self._close(span)
            if self._probe is not None:
                span["jobs1"] = self._probe.next_job_id()
            self._pending.append(span)
            if self.measuring:
                self.hook_s += (t1 - t0) + (time.perf_counter() - t2)

    # ------------------------------------------------------------ spans
    def _span(self, name: str, parent: dict | None) -> dict:
        span = {
            "id": len(self.spans),
            "name": name,
            "parent": None if parent is None else parent["id"],
            "op": self._n_ops,
            "start": time.time(),
            "end": None,
        }
        if self.trace:
            self.spans.append(span)
        return span

    @staticmethod
    def _close(span: dict) -> None:
        span["end"] = time.time()

    def _fold(self) -> None:
        """Fold each finished call's Spark work into per-layer counters."""
        if not self._pending:
            return
        t0 = time.perf_counter()
        for span in self._pending:
            name = span["name"]
            wall_ms = (span["end"] - span["start"]) * 1000.0
            self.layer[f"{name}.calls"] += 1
            self.layer[f"{name}.wall_ms"] += wall_ms
            if self._probe is None:
                continue
            work = self._probe.fold(span["jobs0"], span["jobs1"], span["start"], span["end"])
            for job in work["jobs"]:
                self.spans.append(
                    {"id": len(self.spans), "name": f"spark.job.{job['id']}",
                     "parent": span["id"], "op": span["op"],
                     "start": job["start"], "end": job["end"]}
                )
            busy_ms = work["busy_ms"]
            self.layer[f"{name}.jobs"] += len(work["jobs"])
            self.layer[f"{name}.driver_ms"] += max(0.0, wall_ms - busy_ms)
            self.layer[f"{name}.job_span_ms"] += work["job_span_ms"]
            self.layer[f"{name}.shuffle_write_bytes"] += work["shuffle_write_bytes"]
            self.layer["spark.jobs"] += len(work["jobs"])
            self.layer["spark.driver_ms"] += max(0.0, wall_ms - busy_ms)
            self.layer["spark.wall_ms"] += wall_ms
            for k in ("stages", "tasks", "executor_run_ms", "executor_cpu_ms", "gc_ms",
                      "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
                      "spill_bytes"):
                self.layer[f"spark.{k}"] += work[k]
            python = self._probe.python_metrics(span["exec0"])
            for k, v in python.items():
                self.layer[f"python.{k}"] += v
        self._pending.clear()
        self.fold_s += time.perf_counter() - t0


class SparkProbe:
    """Reads jobs, stages and SQL metrics out of Spark's live status store
    (the store is kept with the UI off). Job ids are allocated in order, so
    the jobs a call ran are the ids handed out while it was open; with one
    client and no background work there is no other source of jobs."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.jvm = self.sc._gateway.jvm
        self.gateway = self.sc._gateway

    def next_job_id(self) -> int:
        return int(self.jsc.dagScheduler().nextJobId())

    def sql_execution_count(self) -> int:
        return int(self.sql_store.executionsCount())

    @staticmethod
    def _ms(opt) -> float | None:
        return float(opt.get().getTime()) if opt.isDefined() else None

    def fold(self, j0: int, j1: int, start: float, end: float) -> dict:
        self.jsc.listenerBus().waitUntilEmpty()
        out = {k: 0.0 for k in ("stages", "tasks", "executor_run_ms", "executor_cpu_ms",
                                "gc_ms", "input_bytes", "shuffle_read_bytes",
                                "shuffle_write_bytes", "spill_bytes")}
        jobs, intervals = [], []
        empty_q = self.gateway.new_array(self.jvm.double, 0)
        for j in range(j0, j1):
            try:
                jd = self.store.job(j)
            except Py4JJavaError:  # evicted from the store's retained window
                continue
            js, je = self._ms(jd.submissionTime()), self._ms(jd.completionTime())
            if js is not None:
                jobs.append({"id": j, "start": js / 1000.0, "end": (je or js) / 1000.0})
            sids = jd.stageIds()
            for i in range(sids.size()):
                sid = sids.apply(i)
                sds = self.store.stageData(sid, False, self.jvm.java.util.ArrayList(),
                                           False, empty_q)
                for k in range(sds.size()):
                    sd = sds.apply(k)
                    if sd.status().toString() == "SKIPPED":
                        continue
                    out["stages"] += 1
                    out["tasks"] += sd.numCompleteTasks()
                    out["executor_run_ms"] += sd.executorRunTime()
                    out["executor_cpu_ms"] += sd.executorCpuTime() / 1e6
                    out["gc_ms"] += sd.jvmGcTime()
                    out["input_bytes"] += sd.inputBytes()
                    out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                    out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                    ss, se = self._ms(sd.submissionTime()), self._ms(sd.completionTime())
                    if ss is not None:
                        intervals.append((ss / 1000.0, (se or ss) / 1000.0))
        out["jobs"] = jobs
        out["busy_ms"] = _covered(intervals, start, end) * 1000.0
        out["job_span_ms"] = _covered(
            [(j["start"], j["end"]) for j in jobs], start, end
        ) * 1000.0
        return out

    _PY_NODE = re.compile(r"Python|Arrow|InPandas")

    def python_metrics(self, exec0: int) -> dict[str, float]:
        """Sum the Python-worker SQL metrics of every SQL execution started
        since ``exec0``: rows returned, bytes sent and worker run time."""
        out = {"rows_returned": 0.0, "bytes_sent": 0.0, "exec_ms": 0.0}
        n = self.sql_execution_count()
        if n <= exec0:
            return out
        execs = self.sql_store.executionsList(exec0, n - exec0)
        for i in range(execs.size()):
            ex = execs.apply(i)
            if not self._PY_NODE.search(ex.physicalPlanDescription() or ""):
                continue
            eid = ex.executionId()
            values = self.sql_store.executionMetrics(eid)
            nodes = self.sql_store.planGraph(eid).allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                if not self._PY_NODE.search(node.name()):
                    continue
                ms = node.metrics()
                for m in range(ms.size()):
                    metric = ms.apply(m)
                    key = {"number of output rows": "rows_returned",
                           "data sent to Python workers": "bytes_sent",
                           "time to run Python workers": "exec_ms"}.get(metric.name())
                    v = values.get(metric.accumulatorId())
                    if key and v.isDefined():
                        out[key] += parse_metric(v.get())
        return out


_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
          "ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000}


def parse_metric(text: str) -> float:
    """Parse Spark's rendered SQL metric ("1.9 s", "1602.3 KiB",
    "100,000", or a "total (min, med, max ...)" block) into bytes, ms or
    a count."""
    line = text.strip().splitlines()[-1] if "total (" in text else text.strip()
    m = re.match(r"([\d.,]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0
