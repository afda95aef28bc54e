"""Arithmetic that turns one run's raw records into the reported metrics.

Kept free of I/O so test_metrics.py can pin every rule.
"""
import math
import re


def geomean(values):
    """Geometric mean of positive values."""
    if not values or any(v <= 0 for v in values):
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def tail(values, beyond=10):
    """The value at the highest percentile that still has at least
    `beyond` samples above it, with that percentile and the sample
    count: for n samples sorted ascending, the sample at index
    n - beyond - 1, i.e. percentile 100 * (n - beyond) / n.
    """
    n = len(values)
    if n <= beyond:
        raise ValueError(f"{n} samples leave fewer than {beyond} beyond any percentile")
    s = sorted(values)
    return s[n - beyond - 1], 100.0 * (n - beyond) / n, n


def busy_intervals(intervals, lo, hi):
    """Union of [start, end] intervals clipped to [lo, hi], merged and
    sorted."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if min(b, hi) > max(a, lo))
    merged = []
    for a, b in clipped:
        if merged and a <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], b)
        else:
            merged.append([a, b])
    return merged


def no_task_time(intervals, lo, hi):
    """Time within [lo, hi] during which no interval is open."""
    busy = sum(b - a for a, b in busy_intervals(intervals, lo, hi))
    return (hi - lo) - busy


_SITE = re.compile(r"\bat ([A-Za-z0-9_$]+\.scala):\d+")


def module_of(call_site, file_modules, bench_files):
    """The module that launched a job, from its call site ("collect at
    RangeJoin.scala:70"): the engine package directory holding that
    file, "bench" for the benchmark's own files, "other" otherwise.
    """
    m = _SITE.search(call_site or "")
    if not m:
        return "other"
    f = m.group(1)
    if f in bench_files:
        return "bench"
    return file_modules.get(f, "other")


def jobs_by_module(jobs, modules):
    """Job count and summed job seconds per module, from (module,
    seconds) pairs, for every name in `modules`; a module not in it
    counts as "other", which `modules` must hold."""
    out = {m: [0, 0.0] for m in modules}
    for m, secs in jobs:
        d = out[m if m in out else "other"]
        d[0] += 1
        d[1] += secs
    return out


def file_modules(paths):
    """Map each engine source file name to its module: the directory
    under graft/ (graft/operators/RangeJoin.scala -> "operators"), or
    "graft" for files of the root package."""
    out = {}
    for p in paths:
        parts = p.replace("\\", "/").split("/")
        if "graft" not in parts:
            continue
        i = len(parts) - 1 - parts[::-1].index("graft")
        rest = parts[i + 1:]
        out[rest[-1]] = rest[0] if len(rest) > 1 else "graft"
    return out
