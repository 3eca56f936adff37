"""Benchmark-side instruments: spans, Spark stage counters, RSS and
write-volume samplers.

Nothing here changes program code. Spans are recorded around the calls
the benchmark makes into each layer; counters are read from Spark's own
``AppStatusStore`` (populated with the UI off); RSS comes from ``/proc``
and write volume from walking an output directory.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

LAYERS = ["extract", "triples", "linking", "components", "graph", "dedup"]
COUNTERS = [
    "span_s", "busy_s", "rows_out", "tasks", "failed_tasks", "cpu_s",
    "offcpu_s", "py_cpu_s", "gc_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
]
MB = 1e6


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float | None
    parent: int | None
    run_id: str


@dataclass
class Tracer:
    """In-memory span recorder; one per benchmark run.

    ``enabled=False`` turns every ``span`` into a no-op so the untraced
    code path is the same function calls with nothing recorded.
    """

    run_id: str
    enabled: bool = True
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        s = Span(
            id=len(self.spans), name=name, start=time.perf_counter(), end=None,
            parent=self._stack[-1] if self._stack else None, run_id=self.run_id,
        )
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = _union_length([(c.start, c.end) for c in kids.get(s.id, [])])
        out[s.id] = (s.end - s.start) - covered
    return out


def check_spans(spans: list[Span]) -> list[str]:
    """Problems with span nesting; empty when well-formed."""
    by_id = {s.id: s for s in spans}
    bad = []
    for s in spans:
        if s.end is None or s.end < s.start:
            bad.append(f"span {s.id} {s.name} not closed or negative")
            continue
        if s.parent is not None:
            p = by_id.get(s.parent)
            if p is None or p.run_id != s.run_id:
                bad.append(f"span {s.id} {s.name} has no parent in its run")
            elif not (p.start <= s.start and s.end <= p.end):
                bad.append(f"span {s.id} {s.name} outside parent {p.name}")
    for sid, t in self_times(spans).items():
        if t < -1e-9:
            bad.append(f"span {sid} negative self time {t}")
    return bad


def _union_length(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ---------------------------------------------------------------------------
# Spark stage counters
# ---------------------------------------------------------------------------


class StageCounters:
    """Folds ``AppStatusStore`` stage data into per-layer counters.

    Layers are attributed either by job group (set around a layer call
    in the calling thread) or by submission-time window (for jobs that
    run on another thread, such as a stream's ``foreachBatch``).
    """

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc
        self._jvm = sc._jvm
        self._store = sc._jsc.sc().statusStore()
        self._conv = self._jvm.scala.jdk.javaapi.CollectionConverters

    @contextmanager
    def group(self, name: str):
        self._sc.setJobGroup(name, name)
        try:
            yield
        finally:
            self._sc._jsc.clearJobGroup()

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event posted so
        far, so that the status store holds the stages of finished jobs."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _stages(self) -> list:
        empty = self._jvm.java.util.ArrayList()
        quantiles = self._sc._gateway.new_array(self._jvm.double, 0)
        # Spark 4.1: stageList(statuses, details, withSummaries,
        # unsortedQuantiles, taskStatus)
        seq = self._store.stageList(empty, False, False, quantiles, empty)
        return [s for s in self._conv.asJava(seq) if s.status().toString() != "SKIPPED"
                and s.status().toString() != "PENDING"]

    def stage_ids_by_group(self) -> dict[str, set[int]]:
        out: dict[str, set[int]] = {}
        for j in self._conv.asJava(self._store.jobsList(None)):
            g = j.jobGroup()
            if g.isDefined():
                out.setdefault(g.get(), set()).update(
                    int(x) for x in self._conv.asJava(j.stageIds())
                )
        return out

    def fold_groups(self, groups: dict[str, str]) -> dict[str, dict]:
        """groups: job group -> layer. Returns layer -> counters."""
        self.settle()
        ids = self.stage_ids_by_group()
        want: dict[int, str] = {}
        for g, layer in groups.items():
            for sid in ids.get(g, ()):
                want[sid] = layer
        per_layer: dict[str, list] = {}
        for s in self._stages():
            layer = want.get(int(s.stageId()))
            if layer is not None:
                per_layer.setdefault(layer, []).append(_stage_row(s))
        return {layer: _fold(rows) for layer, rows in per_layer.items()}

    def fold_window(self, t0_ms: float, t1_ms: float) -> dict:
        """Counters of every stage submitted inside [t0_ms, t1_ms]."""
        self.settle()
        rows = [r for r in map(_stage_row, self._stages()) if t0_ms <= r["t0"] <= t1_ms]
        return _fold(rows)


def _stage_row(s) -> dict:
    sub, done = s.submissionTime(), s.completionTime()
    t0 = sub.get().getTime() if sub.isDefined() else 0
    t1 = done.get().getTime() if done.isDefined() else t0
    return {
        "t0": t0, "t1": t1,
        "rows_out": s.outputRecords(),
        "tasks": s.numTasks(),
        "failed_tasks": s.numFailedTasks(),
        "run_ms": s.executorRunTime(),
        "cpu_ns": s.executorCpuTime(),
        "gc_ms": s.jvmGcTime(),
        "shuffle_read": s.shuffleReadBytes(),
        "shuffle_write": s.shuffleWriteBytes(),
        "spill": s.diskBytesSpilled(),
    }


def _fold(rows: list[dict]) -> dict:
    def tot(k):
        return sum(r[k] for r in rows)

    cpu_s = tot("cpu_ns") / 1e9
    return {
        "busy_s": _union_length([(r["t0"], r["t1"]) for r in rows]) / 1e3,
        "rows_out": tot("rows_out"),
        "tasks": tot("tasks"),
        "failed_tasks": tot("failed_tasks"),
        "cpu_s": cpu_s,
        "offcpu_s": tot("run_ms") / 1e3 - cpu_s,
        "gc_s": tot("gc_ms") / 1e3,
        "shuffle_read_mb": tot("shuffle_read") / MB,
        "shuffle_write_mb": tot("shuffle_write") / MB,
        "spill_mb": tot("spill") / MB,
    }


# ---------------------------------------------------------------------------
# /proc samplers
# ---------------------------------------------------------------------------


def descendants(root: int) -> list[int]:
    """Pids of every live descendant of ``root`` (read from /proc)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Background thread summing the RSS of every descendant of this
    process (the driver JVM and its Python workers) every ``period``
    seconds; ``peak_mb`` is the largest sum since the last ``reset``."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)

    def sample(self) -> int:
        total = sum(_rss_bytes(p) for p in descendants(os.getpid()))
        with self._lock:
            self._peak = max(self._peak, total)
        return total

    def reset(self) -> None:
        with self._lock:
            self._peak = 0

    @property
    def peak_mb(self) -> float:
        with self._lock:
            return self._peak / MB

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()


def tree_cpu_s() -> float:
    """CPU seconds (user + system, including reaped children) used so far
    by this process and every live descendant: the driver, its JVM and
    the JVM's Python workers."""
    total = 0
    for pid in [os.getpid()] + descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime stime cutime cstime are fields 14-17 of /proc/pid/stat
        total += sum(int(x) for x in fields[11:15])
    return total / os.sysconf("SC_CLK_TCK")


def worker_cpu_s() -> float:
    """CPU seconds (including reaped children) used so far by the Python
    processes below the driver JVM: the PySpark daemon and its UDF
    workers. The JVM and this process are left out."""
    total = 0
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        name = stat[stat.index("(") + 1:stat.rindex(")")]
        if name.startswith("python"):
            total += sum(int(x) for x in stat.rsplit(")", 1)[1].split()[11:15])
    return total / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (user nice system idle
    iowait irq softirq steal ...)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def dir_files(path: str) -> dict[str, tuple[int, int]]:
    """Relative file path -> (size, mtime_ns) for every file under path."""
    out = {}
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            full = os.path.join(dirpath, f)
            try:
                st = os.stat(full)
            except FileNotFoundError:
                continue
            out[os.path.relpath(full, path)] = (st.st_size, st.st_mtime_ns)
    return out


def written_between(before: dict, after: dict) -> tuple[int, int]:
    """(bytes, files) of files new or changed from ``before`` to ``after``."""
    changed = [k for k, v in after.items() if before.get(k) != v]
    return sum(after[k][0] for k in changed), len(changed)
