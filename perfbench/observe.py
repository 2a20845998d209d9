"""Measurement helpers shared by the workloads.

Everything here watches the engine from outside: spans around calls into
the package's public functions, counters read from Spark's own status
stores, and the process tree's memory read from ``/proc``. Nothing is
patched inside ``highload_kafka_streams_spark``.
"""

from __future__ import annotations

import os
import re
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# Python-runner SQL metric names (PythonSQLMetrics) -> per-layer metric
PYWORKER_METRICS = {
    "time to start Python workers": "pyworker.start_s",
    "time to initialize Python workers": "pyworker.init_s",
    "time to run Python workers": "pyworker.run_s",
    "data sent to Python workers": "pyworker.bytes_sent",
    "data returned from Python workers": "pyworker.bytes_returned",
}

_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
}


@dataclass
class Ops:
    """Operations attempted and failed, with the first failures' reasons."""

    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 5:
            self.errors.append(what[:300])


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (q in [0, 100]) of a non-empty list."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values)


def cpu_ticks() -> list[int]:
    """The machine's CPU time counters from ``/proc/stat`` (user, nice,
    system, idle, iowait, irq, softirq, steal, ...), in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the CPU time between two ``cpu_ticks`` readings that the
    hypervisor gave to other guests (steal, the eighth counter)."""
    total = sum(after[:8]) - sum(before[:8])
    return (after[7] - before[7]) / total if total else 0.0


def host_probe(work_dir: str) -> dict[str, float]:
    """Controls for the host's speed, taken before and after a run: the
    median of five timings of a fixed pure-Python loop on one core
    (``cpu_s``) and of twenty 4 KiB writes each followed by ``fsync``
    (``fsync_ms``; the stream workload's state commits sync files). When a
    run's figures move and a probe moved with them, the host changed, not
    the engine."""
    def loop() -> float:
        t0 = time.perf_counter()
        x = 0
        for i in range(1_000_000):
            x += i * i
        return time.perf_counter() - t0

    def sync(fd: int) -> float:
        t0 = time.perf_counter()
        os.write(fd, b"x" * 4096)
        os.fsync(fd)
        return (time.perf_counter() - t0) * 1e3

    path = os.path.join(work_dir, "fsync-probe")
    fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC)
    try:
        fsync_ms = median([sync(fd) for _ in range(20)])
    finally:
        os.close(fd)
        os.remove(path)
    return {"cpu_s": median([loop() for _ in range(5)]), "fsync_ms": fsync_ms}


# ---------------------------------------------------------------------------
# Spans and counters
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans and counters; a disabled tracer records nothing.

    A span is ``(id, trace_id, parent_id, name, start, end)`` with times in
    seconds from ``time.perf_counter``. Every span opened while another is
    open becomes its child and shares its trace id, so all spans of one
    query or micro-batch share the id of their root."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counters: dict[str, float] = {}
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "trace": parent["trace"] if parent else len(self.spans),
            "parent": parent["id"] if parent else None,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def add_span(self, name: str, start: float, end: float, parent=None, **attrs) -> dict:
        """Record a span measured elsewhere (listener-reported phases)."""
        rec = {
            "id": len(self.spans),
            "trace": parent["trace"] if parent else len(self.spans),
            "parent": parent["id"] if parent else None,
            "name": name,
            "start": start,
            "end": end,
            **attrs,
        }
        self.spans.append(rec)
        return rec

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled:
            self.counters[name] = self.counters.get(name, 0) + n

    def self_times(self, traces: set[int] | None = None) -> dict[str, float]:
        """Seconds per span name, minus the time its child spans cover."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + (
                    s["end"] - s["start"]
                )
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None or (traces is not None and s["trace"] not in traces):
                continue
            own = (s["end"] - s["start"]) - child_time.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)


@contextmanager
def counting_py4j(spark, tracer: Tracer):
    """Count the py4j round trips to the JVM made inside the block.

    Swaps ``send_command`` on the process's one gateway client (py4j, not
    the engine) for the block only, so code outside it, and every untraced
    run, calls py4j unwrapped. Memory commands are skipped: they are sent
    when Python garbage-collects a JVM handle, so their number depends on
    GC timing."""
    if not tracer.enabled:
        yield
        return
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command

    def counted(command, *args, **kwargs):
        if not command.startswith("m\n"):
            tracer.count("plans.py4j_calls")
        return send(command, *args, **kwargs)

    client.send_command = counted
    try:
        yield
    finally:
        del client.send_command


# ---------------------------------------------------------------------------
# Spark status stores (work with spark.ui.enabled=false)
# ---------------------------------------------------------------------------


def flush_listener_bus(spark) -> None:
    """Wait until Spark's listener bus has delivered every queued event,
    so the status stores reflect all work started so far."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def jobs_submitted(spark) -> int:
    """Jobs submitted so far, read from the DAG scheduler's job counter.

    Unlike the status store, which the listener bus fills asynchronously,
    this counter is exact the moment a call returns, so a before/after
    difference around one builder call counts the jobs that call ran."""
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def _scala_iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def stage_totals(spark, min_stage_id: int) -> tuple[dict[str, float], int]:
    """Sum of stage metrics over stages with id >= ``min_stage_id``.

    Returns the totals and the next stage id, to use as the next window's
    lower bound."""
    sc = spark.sparkContext
    jvm = sc._jvm
    empty = jvm.java.util.ArrayList
    stages = sc._jsc.sc().statusStore().stageList(
        empty(), False, False, sc._gateway.new_array(jvm.double, 0), empty()
    )
    tot = {
        "spark.tasks": 0.0,
        "spark.executor_run_s": 0.0,
        "spark.executor_cpu_s": 0.0,
        "spark.gc_s": 0.0,
        "spark.input_bytes": 0.0,
        "spark.shuffle_read_bytes": 0.0,
        "spark.shuffle_write_bytes": 0.0,
        "spark.spill_bytes": 0.0,
    }
    next_id = 0
    for s in _scala_iter(stages):
        sid = s.stageId()
        next_id = max(next_id, sid + 1)
        if sid < min_stage_id:
            continue
        tot["spark.tasks"] += s.numCompleteTasks()
        tot["spark.executor_run_s"] += s.executorRunTime() / 1e3
        tot["spark.executor_cpu_s"] += s.executorCpuTime() / 1e9
        tot["spark.gc_s"] += s.jvmGcTime() / 1e3
        tot["spark.input_bytes"] += s.inputBytes()
        tot["spark.shuffle_read_bytes"] += s.shuffleReadBytes()
        tot["spark.shuffle_write_bytes"] += s.shuffleWriteBytes()
        tot["spark.spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
    return tot, next_id


def next_stage_id(spark) -> int:
    return stage_totals(spark, 1 << 62)[1]


def _parse_metric(text: str) -> float:
    """First figure of a formatted SQL metric, e.g. '3.5 s (802 ms, ...)'
    -> 3.5 (seconds) or '782.9 KiB (...)' -> bytes."""
    head = text.strip().split("\n")[-1].split("(")[0].strip()
    m = re.match(r"([-\d.,]+)\s*([A-Za-z]*)", head)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2), 1.0)


def pyworker_totals(spark, min_execution_id: int) -> dict[str, float]:
    """Python-runner SQL metrics summed over executions with id >= the bound."""
    store = spark._jsparkSession.sharedState().statusStore()
    tot = {v: 0.0 for v in PYWORKER_METRICS.values()}
    for ex in _scala_iter(store.executionsList()):
        eid = ex.executionId()
        if eid < min_execution_id:
            continue
        values = store.executionMetrics(eid)
        # one accumulator can appear under several plan nodes (AQE keeps
        # every re-planned version of an operator); count it once
        seen = set()
        for m in _scala_iter(ex.metrics()):
            key = PYWORKER_METRICS.get(m.name())
            if key is None or m.accumulatorId() in seen:
                continue
            seen.add(m.accumulatorId())
            v = values.get(m.accumulatorId())
            if v.isDefined():
                tot[key] += _parse_metric(v.get())
    return tot


def last_execution_id(spark) -> int:
    store = spark._jsparkSession.sharedState().statusStore()
    ids = [ex.executionId() for ex in _scala_iter(store.executionsList())]
    return max(ids) if ids else -1


def planning_phases(df) -> dict[str, float]:
    """Catalyst phase times (ms) of one DataFrame, planned to completion."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[f"spark.{phase}_ms"] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


# ---------------------------------------------------------------------------
# Process tree memory
# ---------------------------------------------------------------------------


def _process_table() -> dict[int, tuple[int, int]]:
    """pid -> (parent pid, start time in clock ticks) for every process."""
    table = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces; fields resume after ')'
        fields = stat.rsplit(")", 1)[1].split()
        table[int(entry)] = (int(fields[1]), int(fields[19]))
    return table


def descendants(pid: int, table: dict[int, tuple[int, int]] | None = None) -> list[int]:
    table = _process_table() if table is None else table
    kids: dict[int, list[int]] = {}
    for child, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(child)
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, ()):
            out.append(c)
            todo.append(c)
    return out


def _command(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (this process, the JVM, Python workers), sampled from /proc on a thread.

    A descendant counts from its second sample on: a child caught between
    fork and exec reports its parent's pages as its own, which would count
    the JVM twice."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.peak_by_command: dict[str, float] = {}
        self._seen: set[tuple[int, int]] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        table = _process_table()
        now = {(p, table[p][1]) for p in descendants(me, table)}
        sizes = {me: _rss_bytes(me)} | {p: _rss_bytes(p) for p, _ in now & self._seen}
        self._seen = now
        total = sum(sizes.values())
        if total > self.peak_bytes:
            self.peak_bytes = total
            self.peak_by_command = {}
            for p, size in sizes.items():
                name = _command(p)
                self.peak_by_command[name] = self.peak_by_command.get(name, 0) + size / 2**20

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        """End sampling; the peak stays as it was at this point."""
        if not self._stop.is_set():
            self._stop.set()
            self._thread.join()
            self._sample()

    def __exit__(self, *exc) -> None:
        self.stop()

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20
