"""Measurement helpers shared by every workload: latency statistics, the
closed-loop op record, span tracing with self-time arithmetic, load
calibration and process memory.  Nothing here imports Spark, so the
helpers are unit-testable on their own (see test_harness.py)."""

from __future__ import annotations

import os
import statistics
import threading
import time
from dataclasses import dataclass, field
from typing import Any, Callable, Optional

TAIL_BEYOND = 10  # samples that must lie beyond the reported tail value


def p50(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least
    ``TAIL_BEYOND`` samples beyond it: the 11th largest sample, at
    percentile 100 * (n - 10) / n.  Below 2 * TAIL_BEYOND samples that
    percentile lies under the median, so there is no tail and (0, 0) is
    returned rather than a body value under a tail's name."""
    n = len(values)
    if n < 2 * TAIL_BEYOND:
        return 0.0, 0.0
    ordered = sorted(values)
    return ordered[n - TAIL_BEYOND - 1], 100.0 * (n - TAIL_BEYOND) / n


# --------------------------------------------------------------------------
# closed-loop op records
# --------------------------------------------------------------------------


@dataclass
class Op:
    """One closed-loop operation: ``run`` is timed, ``check`` validates the
    result afterwards (untimed) and returns an error string or None."""

    cls: str  # read | history | write | batch
    name: str
    run: Callable[[], Any]
    check: Callable[[Any], Optional[str]] = lambda _r: None
    tier: Optional[dict] = None  # driver-tier side, when the op has one


@dataclass
class OpRecord:
    idx: int
    cls: str
    name: str
    start: float
    end: float
    error: Optional[str] = None
    tier: Optional[dict] = None

    @property
    def wall(self) -> float:
        return self.end - self.start


@dataclass
class OpLog:
    records: list[OpRecord] = field(default_factory=list)

    def execute(self, op: Op, clock=time.perf_counter) -> OpRecord:
        """Run one op; an exception or a failed check counts as a failed
        op (and the latency still counts — a failed op is not free)."""
        err = None
        result = None
        t0 = clock()
        try:
            result = op.run()
        except Exception as ex:  # noqa: BLE001 — one failing op must not end the run
            err = f"{op.name}: {type(ex).__name__}: {str(ex)[:300]}"
        t1 = clock()
        if err is None:
            try:
                err = op.check(result)
            except Exception as ex:  # noqa: BLE001 — a crashing check is a failed op
                err = f"{op.name} check: {type(ex).__name__}: {str(ex)[:300]}"
        rec = OpRecord(len(self.records), op.cls, op.name, t0, t1, err, op.tier)
        self.records.append(rec)
        return rec

    @property
    def attempted(self) -> int:
        return len(self.records)

    @property
    def failed(self) -> int:
        return sum(1 for r in self.records if r.error is not None)

    def error_ratio(self) -> float:
        return self.failed / self.attempted if self.records else 0.0

    def walls_ms(self, cls: Optional[str] = None) -> list[float]:
        return [r.wall * 1e3 for r in self.records if cls is None or r.cls == cls]

    def class_stats(self) -> dict:
        out = {}
        for cls in sorted({r.cls for r in self.records}):
            w = self.walls_ms(cls)
            t, pct = tail(w)
            out[cls] = {"n": len(w), "p50_ms": p50(w), "tail_ms": t, "tail_pct": pct}
        return out


# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: Optional[int] = None
    op: Optional[int] = None
    leaf_s: float = 0.0  # time of aggregated leaf calls inside this span
    children: list[int] = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start


def covered(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Length of [start, end) covered by the union of ``intervals``."""
    clipped = sorted(
        (max(s, start), min(e, end)) for s, e in intervals if e > start and s < end
    )
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span: Span, spans: list[Span]) -> float:
    """A span's duration minus the part of it its child spans cover, minus
    the aggregated leaf calls made directly inside it."""
    kids = [(spans[i].start, spans[i].end) for i in span.children]
    return span.dur - covered(span.start, span.end, kids) - span.leaf_s


class Tracer:
    """In-memory span recorder.  ``span`` records a nested interval;
    ``leaf`` aggregates a hot call (too frequent for one span each) into
    the innermost open span, so self-time arithmetic stays exact.  Calls
    from threads other than the one that created the tracer pass through
    unrecorded: the benchmark client is single-threaded, and time the
    engine's own worker threads spend lands in the self time of the span
    open on the client thread.  Such calls made inside an op are counted
    in ``offthread_calls`` so that misattribution shows in the artifact."""

    def __init__(self, clock=time.perf_counter) -> None:
        self.clock = clock
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.op: Optional[int] = None
        self.leaves: dict[str, list[float]] = {}  # name -> [calls, seconds]
        self.counters: dict[str, float] = {}
        self.offthread_calls = 0
        self._thread = threading.get_ident()
        self._lock = threading.Lock()

    def active(self) -> bool:
        return threading.get_ident() == self._thread

    def recording(self) -> bool:
        """Whether a call made now is recorded: an op is open and the call
        is on the client thread (an off-thread call inside an op is
        counted)."""
        if self.op is None:
            return False
        if self.active():
            return True
        with self._lock:
            self.offthread_calls += 1
        return False

    def begin(self, name: str) -> int:
        idx = len(self.spans)
        parent = self.stack[-1] if self.stack else None
        self.spans.append(Span(name, self.clock(), parent=parent, op=self.op))
        if parent is not None:
            self.spans[parent].children.append(idx)
        self.stack.append(idx)
        return idx

    def end(self, idx: int) -> None:
        self.spans[idx].end = self.clock()
        popped = self.stack.pop()
        if popped != idx:
            raise RuntimeError(f"span nesting broken: closed {idx}, open {popped}")

    def add_leaf(self, name: str, seconds: float) -> None:
        acc = self.leaves.setdefault(name, [0, 0.0])
        acc[0] += 1
        acc[1] += seconds
        if self.stack:
            self.spans[self.stack[-1]].leaf_s += seconds

    def count(self, name: str, amount: float = 1.0) -> None:
        self.counters[name] = self.counters.get(name, 0.0) + amount

    def wrap(self, name: str, fn: Callable, leaf: bool = False, after=None):
        """A wrapper recording a span (or leaf) around ``fn``.  ``after``
        receives (tracer, args, kwargs, result) to record counts."""
        tracer = self

        def wrapped(*args, **kwargs):
            if not tracer.recording():
                return fn(*args, **kwargs)
            if leaf:
                t0 = tracer.clock()
                try:
                    out = fn(*args, **kwargs)
                finally:
                    tracer.add_leaf(name, tracer.clock() - t0)
            else:
                idx = tracer.begin(name)
                try:
                    out = fn(*args, **kwargs)
                finally:
                    tracer.end(idx)
            if after is not None:
                after(tracer, args, kwargs, out)
            return out

        wrapped.__wrapped__ = fn
        return wrapped

    def layer_self_times(self) -> dict[str, float]:
        """Self seconds per span name plus leaf seconds per leaf name."""
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + self_time(s, self.spans)
        for name, (_, secs) in self.leaves.items():
            out[name] = out.get(name, 0.0) + secs
        return out


def patch(target, attr: str, tracer: Tracer, name: str, leaf=False, after=None):
    """Replace ``target.attr`` with a traced wrapper; returns an undo."""
    orig = getattr(target, attr)
    setattr(target, attr, tracer.wrap(name, orig, leaf=leaf, after=after))
    return lambda: setattr(target, attr, orig)


# --------------------------------------------------------------------------
# host state
# --------------------------------------------------------------------------


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_ticks() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (user nice system idle
    iowait irq softirq steal ...), in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(start: list[int], end: list[int]) -> float:
    """Share of CPU time between two ``cpu_ticks`` readings that the
    hypervisor gave to other guests: on a shared VM the load average does
    not see them, so a run slowed by neighbours shows here instead."""
    d = [b - a for a, b in zip(start, end)]
    return d[7] / sum(d) if len(d) > 7 and sum(d) > 0 else 0.0


def vm_kb(pid: int, field_name: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field_name + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of regular files under ``path``."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            try:
                total += os.path.getsize(os.path.join(root, n))
                files += 1
            except OSError:
                pass
    return total, files


def file_sizes(path: str) -> dict[str, int]:
    out = {}
    for root, _dirs, names in os.walk(path):
        for n in names:
            p = os.path.join(root, n)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


class WriteMeter:
    """Bytes and files written under a set of directories, counted as the
    sizes of files that appear between two snapshots (the table and index
    layouts only ever add new files; rewrites land under new names)."""

    def __init__(self, *dirs: str) -> None:
        self.dirs = dirs
        self.seen: dict[str, int] = {}
        self.bytes_written = 0
        self.files_written = 0
        self.snapshot()

    def snapshot(self) -> tuple[int, int]:
        """Account files that appeared since the last snapshot; returns
        the (bytes, files) added by this step."""
        now: dict[str, int] = {}
        for d in self.dirs:
            now.update(file_sizes(d))
        new_b = new_f = 0
        for p, size in now.items():
            if self.seen.get(p) != size:
                new_b += size
                new_f += 1
        self.seen = now
        self.bytes_written += new_b
        self.files_written += new_f
        return new_b, new_f
