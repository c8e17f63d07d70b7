"""Pure helpers of the benchmark: order statistics, interval arithmetic,
output checks and failure counting. No Spark, no I/O beyond reading the
files a check is given."""

import math
import os


def median(xs):
    """Median of a non-empty sequence (mean of the middle two when even)."""
    s = sorted(xs)
    if not s:
        raise ValueError("median of an empty sequence")
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def percentile(xs, p):
    """p-th percentile (0..100) with linear interpolation between closest
    ranks, the same rule as numpy's default."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of an empty sequence")
    if not 0 <= p <= 100:
        raise ValueError(f"percentile out of range: {p}")
    pos = (len(s) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of `intervals` (pairs of
    start, end; an end below its start counts as an empty interval)."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def driver_seconds(span_start, span_end, job_intervals):
    """Span wall time not covered by any running job: the time the driver
    spends planning, collecting and scheduling between jobs."""
    return (span_end - span_start) - covered(job_intervals, span_start, span_end)


def read_abundances(out_dir):
    """(tid, value) pairs from the `<id>, <abundance>` text files of a
    quantify output directory."""
    pairs = []
    for name in sorted(os.listdir(out_dir)):
        if name.startswith("part-"):
            with open(os.path.join(out_dir, name)) as f:
                for line in f:
                    if line.strip():
                        tid, _, value = line.rstrip("\n").rpartition(", ")
                        pairs.append((tid, float(value)))
    return pairs


def abundance_problems(pairs, tids, tolerance=1e-6):
    """Why a quantify output is wrong, or [] when it passes: exactly one
    line per annotated transcript, every value finite and >= 0, summing to
    1 within `tolerance`."""
    problems = []
    seen = [t for t, _ in pairs]
    if len(seen) != len(set(seen)):
        problems.append("duplicate transcript lines")
    missing, extra = set(tids) - set(seen), set(seen) - set(tids)
    if missing:
        problems.append(f"{len(missing)} annotated transcripts missing")
    if extra:
        problems.append(f"{len(extra)} unknown transcripts")
    values = [v for _, v in pairs]
    if any(not math.isfinite(v) or v < 0 for v in values):
        problems.append("non-finite or negative abundance")
    elif abs(math.fsum(values) - 1.0) > tolerance:
        problems.append(f"abundances sum to {math.fsum(values)!r}")
    return problems


def l1_distance(pairs, truth):
    """L1 distance between estimated and true relative abundances; a
    transcript absent from the estimate counts as 0."""
    est = dict(pairs)
    return math.fsum(abs(est.get(t, 0.0) - a) for t, a in truth.items())


def count_failures(ops):
    """(attempted, failed) over operation records. An operation fails when
    it raised (`ok` false) or when its output check found problems."""
    attempted = len(ops)
    failed = sum(1 for o in ops if not o.get("ok") or o.get("problems"))
    return attempted, failed
