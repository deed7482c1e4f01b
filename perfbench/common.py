"""Pure-Python parts of the benchmark: statistics, failure accounting,
spans and the /proc process-tree sampler. Nothing here imports Spark, so
the unit tests in ``perfbench/tests`` run without a JVM."""

from __future__ import annotations

import json
import math
import os
import threading
import time
from contextlib import contextmanager

#: samples that must lie beyond a reported tail percentile
MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[rank - 1]


def tail_percentile(n: int) -> float | None:
    """The highest whole percentile from 99 down to 50 with at least
    MIN_BEYOND of the n samples beyond it, or None when even the median
    has too few."""
    for p in range(99, 49, -1):
        rank = max(1, math.ceil(p / 100.0 * n))
        if n - rank >= MIN_BEYOND:
            return float(p)
    return None


def latency_summary(samples: list[float]) -> dict:
    """Median, the tail percentile the sample supports, and the count."""
    n = len(samples)
    tail = tail_percentile(n)
    out = {"n": n, "p50": percentile(samples, 50.0) if n else None,
           "tail_pct": tail, "tail": None}
    if tail is not None:
        out["tail"] = percentile(samples, tail)
    return out


def record_latency(layers: dict, summary: dict) -> None:
    """The tail percentile, its value and the sample count, as layer
    metrics (0 when the sample supports no tail)."""
    layers["latency.samples"] = float(summary["n"])
    layers["latency.tail_pct"] = summary["tail_pct"] or 0.0
    layers["latency.tail_ms"] = summary["tail"] or 0.0


def named_latency(prefix: str, summary: dict) -> dict[str, list]:
    """The median, the tail percentile when the sample supports one, and
    the sample count, as [value, unit] pairs for the result's named line."""
    out = {f"{prefix}_p50_ms": [summary["p50"], "ms"]}
    if summary["tail"] is not None:
        out[f"{prefix}_p{summary['tail_pct']:g}_ms"] = [summary["tail"], "ms"]
    out["latency_samples"] = [summary["n"], "count"]
    return out


def latencies_ms(arrival_s: float, created_ms: list[float]) -> list[float]:
    """Latency of each output row of one sink delivery: the delivery's
    arrival (epoch seconds) minus the creation stamp (epoch ms) of the last
    event that contributed to the row."""
    arrival_ms = arrival_s * 1000.0
    return [arrival_ms - c for c in created_ms]


def median(values: list[float]) -> float:
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


class Tally:
    """Attempted and failed operations. A wrong answer is a failure."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def record(self, name: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{name}: {detail}" if detail else name)
        return ok


class Tracer:
    """In-memory spans (name, start, end, parent, trace id). Disabled, it
    records nothing and ``span`` only yields."""

    def __init__(self, enabled: bool, trace_id: str, on_enter=None):
        self.enabled = enabled
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        # called with the new span's id and name, e.g. to tag Spark jobs
        self._on_enter = on_enter

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "trace": self.trace_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        rec.update(attrs)
        self.spans.append(rec)
        self._stack.append(sid)
        if self._on_enter is not None:
            self._on_enter(sid, name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._on_enter is not None and self._stack:
                parent = self.spans[self._stack[-1]]
                self._on_enter(parent["id"], parent["name"])


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[str, float]:
    """Seconds of self time per layer (the span name's first dotted part):
    each span's duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp["parent"] is not None and sp["end"] is not None:
            children.setdefault(sp["parent"], []).append((sp["start"], sp["end"]))
    out: dict[str, float] = {}
    for sp in spans:
        if sp["end"] is None:
            continue
        dur = sp["end"] - sp["start"]
        own = dur - _union_length(children.get(sp["id"], []))
        layer = sp["name"].split(".", 1)[0]
        out[layer] = out.get(layer, 0.0) + max(0.0, own)
    return out


def _read_stat(pid: int) -> tuple[int, float] | None:
    """(parent pid, utime+stime+cutime+cstime in clock ticks)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2:].split()
    # fields[0] is state (stat field 3); utime..cstime are fields 14-17
    return int(fields[1]), float(sum(int(x) for x in fields[11:15]))


def _read_rss_kb(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided
    among its sharers, so a forked child (the JVM forks to run shell
    commands) does not count the parent's memory twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def process_tree(root: int) -> list[int]:
    """root and every live descendant, from /proc parent links."""
    parent_of: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _read_stat(int(name))
            if st is not None:
                parent_of[int(name)] = st[0]
    kids: dict[int, list[int]] = {}
    for pid, ppid in parent_of.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def adopt_orphans() -> None:
    """Make this process the child subreaper of its tree (Linux prctl), so a
    descendant whose parent exits first (a Python worker under the JVM, or
    the JVM of a killed child run) is re-parented here and stays visible
    to ``process_tree`` and ``end_descendants``."""
    import ctypes

    pr_set_child_subreaper = 36
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(pr_set_child_subreaper, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def _reap() -> None:
    """Collect every exited child without blocking."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def end_descendants(grace_s: float = 20.0, poll_s: float = 0.1) -> list[int]:
    """Wait until no descendant of this process is left, reaping each one.
    Those still running after ``grace_s`` get SIGTERM, and SIGKILL five
    seconds later. Returns the pids that had to be signalled; raises if
    any is still there five seconds after SIGKILL."""
    import signal

    me = os.getpid()
    signalled: list[int] = []
    deadline = time.monotonic() + grace_s
    signals = [signal.SIGTERM, signal.SIGKILL]
    while True:
        _reap()
        left = [p for p in process_tree(me) if p != me]
        if not left:
            return signalled
        if time.monotonic() >= deadline:
            if not signals:
                raise RuntimeError(f"processes {left} survived SIGKILL")
            sig = signals.pop(0)
            for p in left:
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
            signalled.extend(p for p in left if p not in signalled)
            deadline = time.monotonic() + 5.0
        time.sleep(poll_s)


class ProcSampler:
    """CPU seconds and peak resident memory (summed proportional set
    sizes) of a process tree: the benchmark process,
    the JVM it launches and the Python workers under the JVM. A finished
    child's CPU time is folded into its parent's cutime/cstime once it is
    reaped, so summing all four fields over the live tree counts it once.

    It samples once a second: reading ``smaps_rollup`` of a 1.2 GB JVM
    costs about 23 ms of kernel time under the JVM's memory-map lock."""

    def __init__(self, root: int | None = None, interval_s: float = 1.0):
        self.root = root or os.getpid()
        self.interval_s = interval_s
        self._tick = os.sysconf("SC_CLK_TCK")
        self._peak_kb = 0
        #: RSS in kB of each process of the tree at the peak
        self.peak_by_pid: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._steal0 = 0.0
        self.steal_s = 0.0
        self.loadavg: list[tuple[str, tuple[float, float, float]]] = []

    def cpu_seconds(self) -> float:
        total = 0.0
        for pid in process_tree(self.root):
            st = _read_stat(pid)
            if st is not None:
                total += st[1]
        return total / self._tick

    def _loop(self) -> None:
        while not self._stop.is_set():
            per = {p: _read_rss_kb(p) for p in process_tree(self.root)}
            kb = sum(per.values())
            if kb > self._peak_kb:
                self._peak_kb = kb
                self.peak_by_pid = per
            self._stop.wait(self.interval_s)

    def steal_seconds(self) -> float:
        """CPU time the hypervisor gave to other guests, all CPUs."""
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / self._tick if len(fields) > 8 else 0.0

    def start(self) -> None:
        self.loadavg.append(("before", os.getloadavg()))
        self._steal0 = self.steal_seconds()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self.loadavg.append(("after", os.getloadavg()))
        self.steal_s = self.steal_seconds() - self._steal0

    def reset_peak(self) -> None:
        self._peak_kb = 0

    @property
    def peak_rss_mb(self) -> float:
        return self._peak_kb / 1024.0


def log(msg: str) -> None:
    """Progress on stderr; stdout carries only the results."""
    import sys

    print(f"[{time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def result_line(tally: Tally, metrics: dict[str, tuple[float, str]]) -> str:
    """The benchmark's last stdout line."""
    return json.dumps({
        "correct": tally.failed == 0,
        "attempted": max(1, tally.attempted),
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    })
