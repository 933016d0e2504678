"""Pure helpers behind the benchmark's numbers: sampling, percentiles,
interval unions and open-loop latency. run.py does the I/O; everything
here is deterministic and covered by tests/test_bench_lib.py."""

import math
import random


def nearest_rank(sorted_vals, q):
    """Value at quantile q (0..1) of an ascending list, nearest-rank rule."""
    if not sorted_vals:
        raise ValueError("no samples")
    k = max(1, math.ceil(q * len(sorted_vals)))
    return sorted_vals[k - 1]


def median(vals):
    s = sorted(vals)
    n = len(s)
    if n == 0:
        raise ValueError("no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def tail(vals, beyond=10):
    """The highest percentile that still has at least `beyond` samples
    above it. Returns (value, percentile, n). With `beyond` or fewer
    samples there is no such percentile; the maximum is returned with
    percentile 100 so the caller can see the tail is unsupported."""
    s = sorted(vals)
    n = len(s)
    if n == 0:
        raise ValueError("no samples")
    if n <= beyond:
        return s[-1], 100.0, n
    k = n - beyond  # 1-based rank: exactly `beyond` samples lie above it
    return s[k - 1], 100.0 * k / n, n


def merge(intervals):
    """Sorted, disjoint intervals covering the same time as the input."""
    out = []
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [(s, e) for s, e in out]


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    return sum(e - s for s, e in merge(intervals))


def clip(intervals, lo, hi):
    """Intervals cut to the window [lo, hi]; empty pieces dropped."""
    return [(max(s, lo), min(e, hi)) for s, e in intervals
            if min(e, hi) > max(s, lo)]


def uncovered(outer, inner):
    """Time covered by `outer` but by none of `inner`. With job intervals
    as `outer` and task intervals as `inner` this is the scheduler gap:
    job wall time during which no task ran."""
    m = merge(outer)
    return sum((e - s) - union_length(clip(inner, s, e)) for s, e in m)


def self_times(layers, lo, hi):
    """Split the window [lo, hi] over layers given in precedence order.

    layers: list of (name, intervals). A layer's self time is the part of
    the window its intervals cover and no earlier layer covers, so the
    self times never overlap. Returns ({name: self time}, residual), the
    residual being the part of the window no layer covers."""
    covered, out = [], {}
    for name, intervals in layers:
        before = union_length(covered)
        covered += clip(intervals, lo, hi)
        out[name] = union_length(covered) - before
    return out, (hi - lo) - union_length(covered)


def stratified_sample(population, seed, quota):
    """Seeded stratified sample.

    population: iterable of (name, stratum) pairs.
    quota: {stratum: how many to draw from it}.
    Returns the drawn names in a seeded order. The same seed always gives
    the same list, and every seed draws exactly quota[s] from stratum s."""
    rng = random.Random(seed)
    by_stratum = {}
    for name, stratum in sorted(population):
        by_stratum.setdefault(stratum, []).append(name)
    picked = []
    for stratum in sorted(quota):
        members = by_stratum.get(stratum, [])
        if len(members) < quota[stratum]:
            raise ValueError(f"stratum {stratum} has {len(members)} members,"
                             f" quota {quota[stratum]}")
        picked += rng.sample(members, quota[stratum])
    rng.shuffle(picked)
    return picked


def due_time(i, t0, rate):
    """When row i of an open-loop feed is due: the generator's schedule,
    not the moment it was actually sent."""
    return t0 + i / rate


def epoch_latencies(epochs, t0, rate):
    """Open-loop latency per epoch: commit time minus the due time of the
    newest row the epoch carried. `epochs` holds (end_offset, commit_time)
    with end_offset exclusive; epochs that carried no rows are skipped."""
    out, prev_end = [], 0
    for end, commit in epochs:
        if end > prev_end:
            out.append(commit - due_time(end - 1, t0, rate))
        prev_end = max(prev_end, end)
    return out


def lateness(sent, t0, rate):
    """How late the generator sent each row against its schedule."""
    return [s - due_time(i, t0, rate) for i, s in enumerate(sent)]
