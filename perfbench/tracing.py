"""Spans, Spark stage counters and process-tree memory, read from
outside the package.

- :class:`Tracer` records one span per call into a layer (name, start,
  end, parent, operation id) in memory and writes them all at the end.
  A disabled tracer records nothing and costs one branch per call.
- :class:`StageMeter` reads Spark's own per-stage metrics from the
  status store (works with the UI disabled) so a span can carry the
  executor run time, shuffle and spill bytes of the stages it caused.
- :class:`RssSampler` samples the resident memory of this process and
  all its descendants (the JVM and its Python workers) from ``/proc``.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import signal
import threading
import time
from dataclasses import asdict, dataclass, field

STAGE_FIELDS = (
    "executorRunTime",
    "shuffleWriteBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
    "numTasks",
    "inputBytes",
    "outputBytes",
)


class StageMeter:
    """Snapshots of the status store's stage list; the difference of two
    snapshots is what ran in between."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()  # noqa: SLF001
        self._jvm = sc._jvm  # noqa: SLF001
        self._gw = sc._gateway  # noqa: SLF001

    def snapshot(self) -> dict[tuple[int, int], tuple[int, ...]]:
        jvm = self._jvm
        stages = self._store.stageList(
            jvm.java.util.ArrayList(),
            False,
            False,
            self._gw.new_array(jvm.double, 0),
            jvm.java.util.ArrayList(),
        )
        snap = {}
        for i in range(stages.length()):
            s = stages.apply(i)
            snap[(s.stageId(), s.attemptId())] = tuple(
                int(getattr(s, f)()) for f in STAGE_FIELDS
            )
        return snap

    @staticmethod
    def delta(before: dict, after: dict) -> dict[str, int]:
        out = dict.fromkeys(STAGE_FIELDS, 0)
        for key, vals in after.items():
            prev = before.get(key, (0,) * len(STAGE_FIELDS))
            for f, v, p in zip(STAGE_FIELDS, vals, prev):
                out[f] += v - p
        return out


@dataclass
class Span:
    id: int
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, enabled: bool, meter: StageMeter | None = None):
        self.enabled = enabled
        self.meter = meter
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()  # per-thread span stack
        self._op = 0

    def new_op(self) -> int:
        self._op += 1
        return self._op

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None, **attrs):
        """Record a span around the block; the block may add counts to
        the yielded dict. With a meter, the stage deltas of the block are
        stored under ``attrs['stages']``. Spans of one operation share
        ``op`` (default: the latest :meth:`new_op`)."""
        if not self.enabled:
            yield {}
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1].id if stack else None
        op = self._op if op is None else op
        s = Span(next(self._ids), name, op, parent, time.time(), attrs=dict(attrs))
        stack.append(s)
        before = self.meter.snapshot() if self.meter else None
        try:
            yield s.attrs
        finally:
            if self.meter:
                s.attrs["stages"] = StageMeter.delta(before, self.meter.snapshot())
            s.end = time.time()
            stack.pop()
            self.spans.append(s)

    def record(
        self, name: str, start: float, end: float, op: int = 0, parent: int | None = None, **attrs
    ) -> int:
        """Add a span measured elsewhere (session start-up, a streaming
        batch from its progress report); returns its id."""
        s = Span(next(self._ids), name, op, parent, start, end, dict(attrs))
        if self.enabled:
            self.spans.append(s)
        return s.id

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id → duration minus the part of it covered by child spans."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, cur_end = 0.0, s["start"]
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], cur_end), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                cur_end = hi
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def _children_map() -> dict[int, list[int]]:
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
    return kids


def tree_pids(root: int) -> list[int]:
    kids, out, todo = _children_map(), [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def wait_gone(pids: list[int], timeout: float) -> None:
    """Wait until every process in ``pids`` has exited (or is a zombie
    awaiting its reaper); kill the ones still running at ``timeout``."""
    deadline = time.time() + timeout
    for pid in pids:
        while _running(pid):
            if time.time() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
                break
            time.sleep(0.05)


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _proc_kib(pid: int, name: str, field: str) -> int:
    """The ``field`` line (in KiB) of ``/proc/<pid>/<name>``, or 0."""
    try:
        with open(f"/proc/{pid}/{name}") as fh:
            for line in fh:
                if line.startswith(field):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _mem_kib(pid: int) -> int:
    """Resident memory of one process, counted so that a sum over the
    tree counts each page once: the proportional set size, which splits
    pages shared between processes (the forked Python workers) among
    them. The JVM shares nothing but its libraries, so its RSS is used
    instead: reading its PSS walks the page tables of its whole heap
    (about 10 ms, holding its memory-map lock), which stalls the JVM's
    own page faults and memory mappings while it lasts."""
    try:
        with open(f"/proc/{pid}/comm") as fh:
            is_jvm = fh.read().strip() == "java"
    except OSError:
        return 0
    if is_jvm:
        return _proc_kib(pid, "status", "VmRSS:")
    return _proc_kib(pid, "smaps_rollup", "Pss:")


class RssSampler(threading.Thread):
    """Peak resident memory (see :func:`_mem_kib`) of the process tree
    rooted at ``root``; ``peak_detail`` holds (pid, KiB) of each process
    at the peak. The tree is sampled twice a second: often enough for a
    heap that is never given back and Python workers that live for the
    whole run."""

    def __init__(self, root: int, interval: float = 0.5):
        super().__init__(name="rss-sampler", daemon=True)
        self.root, self.interval = root, interval
        self.peak_kib = 0
        self.peak_detail: list[tuple[int, int]] = []
        self._halt = threading.Event()

    def sample(self) -> None:
        detail = [(p, _mem_kib(p)) for p in tree_pids(self.root)]
        total = sum(k for _, k in detail)
        if total > self.peak_kib:
            self.peak_kib, self.peak_detail = total, detail

    def run(self) -> None:
        while not self._halt.wait(self.interval):
            self.sample()

    def stop(self) -> float:
        """Stop sampling; returns the peak in MiB."""
        self._halt.set()
        self.join(timeout=5)
        self.sample()
        return self.peak_kib / 1024


def process_start_time() -> float:
    """Wall-clock time at which this process started (from /proc)."""
    with open("/proc/self/stat") as fh:
        ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - (uptime - ticks / os.sysconf("SC_CLK_TCK"))


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def host_speed_s(n: int = 1_000_000) -> float:
    """Time of a fixed single-threaded Python loop: a slower host (other
    guests on the same cores) shows as a longer time in the record."""
    t = time.perf_counter()
    acc = 0
    for i in range(n):
        acc += i * i % 7
    return time.perf_counter() - t


def cpu_ticks() -> tuple[int, int, int]:
    """(total, idle, steal) clock ticks of all CPUs since boot; the steal
    share between two readings shows a host busy with other guests."""
    with open("/proc/stat") as fh:
        v = [int(x) for x in fh.readline().split()[1:]]
    return sum(v), v[3] + v[4], v[7]


def cpu_shares(before: tuple[int, int, int], after: tuple[int, int, int]) -> dict[str, float]:
    total = max(1, after[0] - before[0])
    return {
        "busy": 1 - (after[1] - before[1]) / total,
        "steal": (after[2] - before[2]) / total,
    }
