"""Shared pieces of the benchmark: sample statistics, the host sampler
(peak RSS and steady time) and the in-memory span recorder."""

from __future__ import annotations

import bisect
import os
import statistics
import threading
import time
from contextlib import contextmanager


CANARY = "q2_filter_project"


def noop(df) -> None:
    """Run a DataFrame to completion through the noop sink."""
    df.write.format("noop").mode("overwrite").save()


def canary(spark, reg, sf_dir: str) -> float:
    """Seconds for one run of the fixed sub-second canary query: its
    spread within a run is the ambient-noise self-report."""
    t0 = time.perf_counter()
    noop(reg[CANARY].builder(spark, sf_dir))
    return time.perf_counter() - t0


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else float("nan")


def tail(xs: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that has at least
    ten samples beyond it. Below 22 samples that percentile would not
    exceed the median, so the maximum is reported (percentile 100)."""
    if not xs:
        return float("nan"), float("nan")
    s = sorted(xs)
    n = len(s)
    if n < 22:
        return s[-1], 100.0
    return s[n - 11], round(100.0 * (n - 10) / n, 1)


def timing(xs: list[float]) -> dict:
    """Median, tail and sample count of one timing series."""
    t, pct = tail(xs)
    return {"p50": median(xs), "tail": t, "tail_pct": pct, "n": len(xs)}


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/task/{p}/children") as f:
                kids = [int(k) for k in f.read().split()]
        except OSError:
            kids = []
        out.extend(kids)
        todo.extend(kids)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def cpu_ticks() -> list[int]:
    """Host-wide CPU time counters from /proc/stat (user ... steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_ticks`` readings: ambient noise no program change can cause."""
    d = [a - b for a, b in zip(after, before)]
    return d[7] / max(1, sum(d))


class HostSampler:
    """Samples the host from /proc on a daemon thread.

    - Peak resident memory of this process plus every descendant (the
      JVM and its Python workers).
    - The CPU time counters, so that any interval of the run can be
      measured as *steady time*: its wall time less the share of it the
      hypervisor stole from this VM's runnable vCPUs. Steal is CPU time
      the guest wanted and another guest got; no program change can
      cause it, yet it slows every stage's last task. On a host with no
      steal, steady time equals wall time.
    """

    def __init__(self, interval_s: float = 0.05, rss_every: int = 4):
        self.interval_s, self.rss_every = interval_s, rss_every
        self.peak = 0
        # (epoch s, busy ticks, stolen ticks), in time order
        self.ticks: list[tuple[float, int, int]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample_ticks(self) -> None:
        t = cpu_ticks()
        # user + nice + system + irq + softirq; idle and iowait excluded
        self.ticks.append((time.time(), t[0] + t[1] + t[2] + t[5] + t[6],
                           t[7]))

    def _sample_rss(self) -> None:
        me = os.getpid()
        total = sum(_rss_bytes(p) for p in [me, *_descendants(me)])
        self.peak = max(self.peak, total)

    def _run(self) -> None:
        k = 0
        while not self._stop.wait(self.interval_s):
            self._sample_ticks()
            k += 1
            if k % self.rss_every == 0:
                self._sample_rss()

    def start(self) -> "HostSampler":
        self._sample_ticks()
        self._sample_rss()
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; returns the peak RSS in MB."""
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample_ticks()
        self._sample_rss()
        return self.peak / 2**20

    def _at(self, t: float) -> tuple[float, float]:
        """(busy, stolen) ticks at epoch ``t``, linearly interpolated."""
        xs = self.ticks
        i = bisect.bisect_left(xs, (t,))
        if i == 0:
            return float(xs[0][1]), float(xs[0][2])
        if i == len(xs):
            return float(xs[-1][1]), float(xs[-1][2])
        (t0, b0, s0), (t1, b1, s1) = xs[i - 1], xs[i]
        w = (t - t0) / (t1 - t0) if t1 > t0 else 1.0
        return b0 + w * (b1 - b0), s0 + w * (s1 - s0)

    def stolen_share(self, a: float, b: float) -> float:
        """Share of the runnable CPU time in epoch interval [a, b] that
        the hypervisor stole."""
        b0, s0 = self._at(a)
        b1, s1 = self._at(b)
        runnable = (b1 - b0) + (s1 - s0)
        return (s1 - s0) / runnable if runnable > 0 else 0.0

    def steady(self, a: float, b: float) -> float:
        """Steady seconds of the epoch interval [a, b]."""
        return (b - a) * (1.0 - self.stolen_share(a, b))


class Tracer:
    """In-memory spans: name, start, end, parent span id and op id.

    Spans are recorded only when ``enabled``; an untraced run pays one
    attribute check per layer call. Parents are tracked per thread, so
    the stream reader's spans never nest under the generator's."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        rec = {"name": name, "op": op if op is not None else (
            parent["op"] if parent else None),
            "parent": parent["id"] if parent else None,
            "start": time.time(), "end": None}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, each span's duration minus the part of
        its interval that its children cover."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            covered = union_length([(c["start"], c["end"])
                                    for c in kids.get(s["id"], [])
                                    if c["end"] is not None],
                                   s["start"], s["end"])
            out[s["name"]] = out.get(s["name"], 0.0) + (
                s["end"] - s["start"] - covered)
        return out


def union_length(intervals: list[tuple[float, float]],
                 lo: float | None = None, hi: float | None = None) -> float:
    """Total length of the union of intervals, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
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
