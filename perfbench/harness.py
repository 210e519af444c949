"""Shared machinery of the benchmark: isolation, Spark session lifetime,
timing statistics, span tracing, Spark job accounting and peak RSS.

Nothing here imports pyspark or the engine at module level, so ``run.py``
can validate its checkout before the (slow) Spark import.
"""

from __future__ import annotations

import contextlib
import json
import os
import random
import signal
import statistics
import subprocess
import time
from dataclasses import dataclass, field

#: A tail percentile is the highest one with at least this many samples
#: beyond it.
TAIL_BEYOND = 10

#: Driver heap, fixed at start (-Xms = -Xmx) so that peak RSS does not
#: hinge on when the collector chose to grow the heap; small enough to
#: share the host, large enough for the benchmark's input sizes.
DRIVER_MEMORY = "1g"


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


# --- statistics ---------------------------------------------------------


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples) of the highest percentile with at least
    ``TAIL_BEYOND`` samples beyond it. With ``TAIL_BEYOND`` samples or
    fewer no percentile qualifies, and the maximum is reported as p100."""
    s = sorted(values)
    k = len(s) - TAIL_BEYOND - 1
    if k < 0:
        return s[-1], 100.0, len(s)
    return s[k], 100.0 * (k + 1) / len(s), len(s)


# --- tracing ------------------------------------------------------------


class Tracer:
    """In-memory spans around the benchmark's calls into each layer.

    A span is (name, start, end, parent index, request id); the layer is
    the name's prefix before the first dot. ``active`` switches recording
    per unit of work, so one run can interleave traced and untraced units.
    """

    def __init__(self) -> None:
        self.active = False
        self.request: str | None = None
        self.spans: list[list] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append([name, time.perf_counter(), None, parent, self.request])
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx][2] = time.perf_counter()

    def durations(self, name: str) -> list[float]:
        return [e - s for n, s, e, _, _ in self.spans if n == name]

    def self_times(self) -> dict[str, float]:
        """Layer -> summed self time (span minus its child spans)."""
        child = [0.0] * len(self.spans)
        for _, s, e, parent, _ in self.spans:
            if parent is not None:
                child[parent] += e - s
        out: dict[str, float] = {}
        for i, (name, s, e, _, _) in enumerate(self.spans):
            layer = name.split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (e - s) - child[i]
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for name, s, e, parent, req in self.spans:
                f.write(
                    json.dumps(
                        {"name": name, "start": s, "end": e,
                         "parent": parent, "request": req}
                    )
                    + "\n"
                )


class TracePlan:
    """Which timed units to trace. Untraced runs trace none. Traced runs
    run units in pairs, one untraced and one traced, in seeded random
    order, so the tracing overhead is a paired difference free of the
    warm-up and table-age trends between consecutive units."""

    def __init__(self, trace: bool, seed: int) -> None:
        self.trace = trace
        self._rng = random.Random(seed)
        self._i = 0
        self._traced_first = False
        self._pair: dict[bool, float] = {}

    def next(self) -> tuple[bool, bool]:
        """(trace this unit, this unit starts a new pair)."""
        if not self.trace:
            return False, True
        first = self._i % 2 == 0
        if first:
            self._traced_first = self._rng.random() < 0.5
            self._pair = {}
        self._i += 1
        return self._traced_first == first, first

    @property
    def mid_pair(self) -> bool:
        return self.trace and self._i % 2 == 1

    def record(self, traced: bool, seconds: float, out) -> None:
        if not self.trace:
            return
        self._pair[traced] = seconds
        if len(self._pair) == 2:
            out.trace_pairs.append((self._pair[False], self._pair[True]))


# --- Spark job accounting -----------------------------------------------


class JobAccount:
    """Attributes Spark jobs to calls: every accounted call runs under its
    own job group; jobs and tasks are read from ``statusTracker`` once the
    listener bus has drained."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.enabled = False
        self._n = 0

    @contextlib.contextmanager
    def group(self, label: str, into: list[str]):
        if not self.enabled:
            yield
            return
        self._n += 1
        gid = f"pb{self._n}-{label}"
        into.append(gid)
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(gid, label)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", prev)

    def drain(self) -> None:
        from py4j.protocol import Py4JError

        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Py4JError:  # no such JVM method: fall back to a grace period
            time.sleep(1.0)

    def jobs_tasks(self, groups: list[str]) -> tuple[int, int]:
        tracker = self.sc.statusTracker()
        jobs = tasks = 0
        stages: set[int] = set()
        for g in groups:
            for jid in tracker.getJobIdsForGroup(g):
                jobs += 1
                info = tracker.getJobInfo(jid)
                stages.update(info.stageIds if info else ())
        for sid in stages:
            st = tracker.getStageInfo(sid)
            if st is not None:
                tasks += st.numCompletedTasks
        return jobs, tasks


# --- plan walking -------------------------------------------------------


def _walk_plan(node, visit, seen: set) -> None:
    nid = node.id()
    if nid in seen:
        return
    seen.add(nid)
    name = node.getClass().getSimpleName()
    if name == "ReusedExchangeExec":
        return
    visit(name, node)
    if name == "AdaptiveSparkPlanExec":
        _walk_plan(node.executedPlan(), visit, seen)
        return
    if name.endswith("QueryStageExec"):
        _walk_plan(node.plan(), visit, seen)
    it = node.children().iterator()
    while it.hasNext():
        _walk_plan(it.next(), visit, seen)
    it = node.subqueries().iterator()
    while it.hasNext():
        _walk_plan(it.next(), visit, seen)


def scan_totals(df) -> dict[str, int]:
    """Files, bytes and rows read by the file scans of ``df``'s executed
    plan (call after an action ran that plan)."""
    acc = {"files": 0, "bytes": 0, "rows": 0}

    def visit(name, node):
        if name != "FileSourceScanExec":
            return
        m = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            m[kv._1()] = kv._2().value()
        acc["files"] += int(m.get("numFiles", 0))
        acc["bytes"] += int(m.get("filesSize", 0))
        acc["rows"] += int(m.get("numOutputRows", 0))

    _walk_plan(df._jdf.queryExecution().executedPlan(), visit, set())
    return acc


# --- digests ------------------------------------------------------------


def fold(df):
    """One-row action over every output column: row count plus an
    order-insensitive 64-bit digest (sums of the xxhash64 halves). No
    projection under test can be pruned away, and only one row returns.

    Counts and integral sums are order-irrelevant aggregates, under which
    the optimizer's EliminateSorts drops a global sort; the ``first``
    column is order-sensitive, so the sort under test stays in the plan
    (``order_ops`` checks that). It is not part of the digest."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(f"`{c}`") for c in df.columns]).alias("h")
    return df.select(h).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("h").bitwiseAND(F.lit(0xFFFFFFFF))).alias("lo"),
        F.sum(F.shiftrightunsigned("h", 32)).alias("hi"),
        F.first("h").alias("first"),
    )


def order_ops(df) -> dict[str, int]:
    """Sorts, top-k operators and range exchanges in ``df``'s physical
    plan (before adaptive re-planning)."""
    acc = {"SortExec": 0, "TakeOrderedAndProjectExec": 0, "RangeExchange": 0}

    def visit(name, node):
        if name in acc:
            acc[name] += 1
        elif name == "ShuffleExchangeExec":
            kind = node.outputPartitioning().getClass().getSimpleName()
            acc["RangeExchange"] += kind == "RangePartitioning"

    _walk_plan(df._jdf.queryExecution().executedPlan(), visit, set())
    return acc


def digest(row) -> tuple:
    return (row["n"], row["lo"], row["hi"])


# --- memory -------------------------------------------------------------


def reset_peak_rss(pids: list[int]) -> None:
    """Restart the kernel's peak-RSS counter (VmHWM) of each process."""
    for pid in pids:
        with contextlib.suppress(OSError):
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")


def peak_rss_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024.0


# --- session ------------------------------------------------------------


def start_session(app: str, work: str):
    """The engine's own session factory, on ``local[nproc]``, with every
    write it makes kept under ``work``."""
    from data_pipeline_spark_iceberg_dbt_airflow_spark.session import (
        get_spark_session,
    )

    cpus = cpu_count()
    tmp = os.path.join(work, "tmp")
    spark = get_spark_session(
        app,
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        driver_memory=DRIVER_MEMORY,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEMORY} -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
            ),
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int:
    return int(spark._jvm.ProcessHandle.current().pid())


def _children(pids: set[int]) -> set[int]:
    """Every live descendant of ``pids``."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            with contextlib.suppress(OSError, IndexError, ValueError):
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
                parent[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
    out: set[int] = set()
    frontier = set(pids)
    while frontier:
        kids = {p for p, pp in parent.items() if pp in frontier} - out
        out |= kids
        frontier = kids
    return out


def stop_session(spark, timeout: float = 30.0) -> None:
    """Stop Spark, close the JVM gateway and wait until the JVM and every
    process it started (Python workers) have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    procs = {proc.pid} if proc is not None else set()
    procs |= _children(procs)
    spark.stop()
    with contextlib.suppress(Exception):
        gateway.shutdown()
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + timeout
    while procs and time.monotonic() < deadline:
        procs = {p for p in procs if os.path.exists(f"/proc/{p}")}
        time.sleep(0.05)
    for p in procs:
        with contextlib.suppress(OSError):
            os.kill(p, signal.SIGKILL)
    SparkContext._gateway = None
    SparkContext._jvm = None


# --- results ------------------------------------------------------------


@dataclass
class Outcome:
    """What a workload reports."""

    unit: str  # what one latency sample is: query, cycle
    #: (request type, seconds) of every untraced timed unit
    latencies: list[tuple[str, float]] = field(default_factory=list)
    #: (untraced, traced) seconds of back-to-back runs of the same unit
    trace_pairs: list[tuple[float, float]] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    setup_ok: bool = True
    setup_s: float = 0.0
    peak_rss_mb: float = 0.0
    #: workload-specific end-to-end figures for the readable report:
    #: name -> (value, unit)
    extra: dict[str, tuple[float, str]] = field(default_factory=dict)
    #: per-layer metrics (traced runs): name -> value
    layers: dict[str, float] = field(default_factory=dict)
    notes: list[str] = field(default_factory=list)

    def fail(self, why: str) -> None:
        self.failed += 1
        if len(self.notes) < 20:
            self.notes.append(why)

    def type_medians(self) -> list[float]:
        """Median latency of each request type."""
        by: dict[str, list[float]] = {}
        for kind, sec in self.latencies:
            by.setdefault(kind, []).append(sec)
        return [statistics.median(v) for v in by.values()]
