"""Arithmetic that turns raw samples and spans into metrics."""
import statistics


def tail(samples):
    """The highest order statistic with at least ten samples beyond it.

    Returns (value, percentile, sample count). With fewer than eleven
    samples no value qualifies; the maximum is returned with percentile
    100 so the output still shows how thin the sample is.
    """
    s = sorted(samples)
    n = len(s)
    if n <= 10:
        return (s[-1] if s else None), 100.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n


def median(samples):
    return statistics.median(samples) if samples else None


def union_ms(intervals, start, end):
    """Length of the union of [a, b] intervals, clipped to [start, end]."""
    total, reach = 0.0, start
    for a, b in sorted((max(a, start), min(b, end)) for a, b in intervals):
        if b <= max(a, reach):
            continue
        total += b - max(a, reach)
        reach = b
    return total


def driver_s(span):
    """Span wall time outside every job that ran in it: planning and eager
    driver-side work."""
    wall = span["end_ms"] - span["start_ms"]
    return max(0.0, wall - union_ms(span["jobs"], span["start_ms"],
                                    span["end_ms"])) / 1e3


COUNTERS = ("s", "jobs", "stages", "tasks", "driver_s", "cpu_s",
            "shuffle_bytes", "gc_s")


def span_counters(spans):
    """Per-call means of the eight counters over spans of one layer; zeros
    when the layer did not run."""
    if not spans:
        return {c: 0.0 for c in COUNTERS}
    vals = {
        "s": [(x["end_ms"] - x["start_ms"]) / 1e3 for x in spans],
        "jobs": [len(x["jobs"]) for x in spans],
        "stages": [x["stages"] for x in spans],
        "tasks": [x["tasks"] for x in spans],
        "driver_s": [driver_s(x) for x in spans],
        "cpu_s": [x["cpu_s"] for x in spans],
        "shuffle_bytes": [x["shuffle_bytes"] for x in spans],
        "gc_s": [x["gc_s"] for x in spans],
    }
    return {c: statistics.fmean(v) for c, v in vals.items()}


def trace_overhead(ops):
    """Relative cost of tracing within one traced run: for each operation
    kind timed both traced and untraced, the ratio of the two medians;
    returns (median ratio - 1, kinds compared), or (None, 0)."""
    ratios = []
    for kind in sorted({o["kind"] for o in ops}):
        on = [o["seconds"] for o in ops if o["kind"] == kind and o["traced"]]
        off = [o["seconds"] for o in ops if o["kind"] == kind and not o["traced"]]
        if on and off:
            ratios.append(statistics.median(on) / statistics.median(off))
    if not ratios:
        return None, 0
    return statistics.median(ratios) - 1.0, len(ratios)
