"""Measurement arithmetic: the tail-percentile rule, open-loop latency
accounting and span self time. Pure functions, unit-tested in tests/."""

from __future__ import annotations

import math
import time
from dataclasses import dataclass, field

# candidate tail percentiles, highest last
TAIL_PERCENTILES = (50.0, 90.0, 99.0, 99.9)


def _rank(p: float, n: int) -> int:
    """1-based nearest rank of percentile ``p`` among ``n`` samples (the
    epsilon keeps e.g. 99.9% of 10000 at 9990 despite float rounding)."""
    return max(1, math.ceil(p / 100.0 * n - 1e-9))


def percentile(values, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of the
    samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    return xs[_rank(p, len(xs)) - 1]


def tail_percentile(n: int, min_beyond: int = 10) -> float | None:
    """The highest of ``TAIL_PERCENTILES`` with at least ``min_beyond`` of
    ``n`` samples strictly beyond it; None when even the median has fewer."""
    best = None
    for p in TAIL_PERCENTILES:
        if n - _rank(p, n) >= min_beyond:
            best = p
    return best


@dataclass
class OpenLoopResult:
    rate: float
    latency: list[float] = field(default_factory=list)   # finish - due
    service: list[float] = field(default_factory=list)   # finish - start
    wait: list[float] = field(default_factory=list)      # start - due, server busy
    lag: list[float] = field(default_factory=list)       # start - due, server idle

    @property
    def n(self) -> int:
        return len(self.latency)


def open_loop(serve, n: int, rate: float, clock=time.perf_counter,
              sleep=time.sleep) -> OpenLoopResult:
    """Issue requests ``0..n-1`` on a fixed schedule (request i is due at
    i / rate after the start) to one server that handles them in order.

    Latency is timed from the due time, so a stall delays every request
    queued behind it. A request that fell due while the server was still
    busy with an earlier one waited in the queue (``wait``); one the server
    was free for started late only by the generator's own lateness, e.g.
    oversleep (``lag``)."""
    res = OpenLoopResult(rate=rate)
    finish = -math.inf
    t0 = clock()
    for i in range(n):
        due = t0 + i / rate
        busy = finish > due
        now = clock()
        if now < due:
            sleep(due - now)
            now = clock()
        start = now
        serve(i)
        finish = clock()
        res.latency.append(finish - due)
        res.service.append(finish - start)
        (res.wait if busy else res.lag).append(start - due)
    return res


def span_self_times(spans) -> dict[int, float]:
    """span id -> self time: the span's duration minus the part of its
    interval covered by its direct children (child intervals are merged
    first, so overlapping children count once)."""
    kids: dict[int, list] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out: dict[int, float] = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for lo, hi in sorted(kids.get(s.sid, ())):
            lo, hi = max(lo, s.start), min(hi, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.sid] = (s.end - s.start) - covered
    return out


def self_times(spans) -> dict[str, tuple[float, int]]:
    """name -> (total self time, count) over ``span_self_times``."""
    per_span = span_self_times(spans)
    out: dict[str, tuple[float, int]] = {}
    for s in spans:
        tot, cnt = out.get(s.name, (0.0, 0))
        out[s.name] = (tot + per_span[s.sid], cnt + 1)
    return out
