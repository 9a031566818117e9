"""Arithmetic of the graft benchmark: percentiles, span self times, job
coverage and the per-layer aggregation of a traced run's records."""

import math
import statistics


def percentile(values, p):
    """The p-th percentile (0..100) of values, linear between closest
    ranks (numpy's default)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def typical_median(samples):
    """Each operation's median wall over its samples, combined over the
    operations by their geometric mean.  Samples are dicts with name and
    wall_s.  Unlike the median of the pooled walls, it does not jump
    from one operation's walls to the next one's when a mix of a few
    unlike operations shifts by a little."""
    walls = {}
    for s in samples:
        walls.setdefault(s["name"], []).append(s["wall_s"])
    if not walls:
        raise ValueError("typical median of no samples")
    logs = [math.log(statistics.median(w)) for w in walls.values()]
    return math.exp(statistics.fmean(logs))


def spread(values):
    """Distance between the first and third quartile as a share of the
    median, as statistics.quantiles(values, n=4) gives the quartiles."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of the intervals."""
    total, end = 0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans):
    """Span id -> its duration minus the part of its interval that its
    child spans cover.  Spans are dicts with id, parent, start_us and
    end_us."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [(c["start_us"], c["end_us"]) for c in children.get(s["id"], [])]
        out[s["id"]] = (s["end_us"] - s["start_us"]
                        - covered(kids, s["start_us"], s["end_us"]))
    return out


def self_seconds_by_name(spans):
    """Span name -> list of self times in seconds, one per span."""
    st = self_times(spans)
    out = {}
    for s in spans:
        out.setdefault(s["name"], []).append(st[s["id"]] / 1e6)
    return out


def spark_per_op(samples, jobs, stages, cores):
    """Spark's costs per operation, attributing each job and stage to
    the operation whose window holds its start (operations run one at a
    time).  Returns the per-layer spark.* metrics."""
    ops = [(s["start_us"] / 1000.0, s["end_us"] / 1000.0, s) for s in samples]
    per = {id(s): {"jobs": [], "stages": []} for _, _, s in ops}

    def owner(ms):
        for lo, hi, s in ops:
            if lo <= ms <= hi:
                return per[id(s)]
        return None

    for j in jobs:
        o = owner(j["start_ms"])
        if o is not None:
            o["jobs"].append(j)
    for st in stages:
        o = owner(st["submit_ms"])
        if o is not None:
            o["stages"].append(st)
    n = max(1, len(ops))
    mb = 1024.0 * 1024.0
    tot = dict.fromkeys(["jobs", "stages", "tasks", "busy", "wait", "input",
                         "sread", "swrite", "spill", "output", "failed",
                         "gap", "wall"], 0.0)
    skews = []
    for lo, hi, s in ops:
        o = per[id(s)]
        sts = o["stages"]
        tot["jobs"] += len(o["jobs"])
        tot["stages"] += len(sts)
        tot["wall"] += s["wall_s"]
        tot["gap"] += ((hi - lo) - covered(
            [(j["start_ms"], j["end_ms"]) for j in o["jobs"]], lo, hi)) / 1000.0
        for st in sts:
            tot["tasks"] += st["tasks"]
            tot["busy"] += st["busy_ms"] / 1000.0
            tot["wait"] += st["wait_ms"] / 1000.0
            tot["input"] += st["input_b"] / mb
            tot["sread"] += st["shuffle_read_b"] / mb
            tot["swrite"] += st["shuffle_write_b"] / mb
            tot["spill"] += st["spill_b"] / mb
            tot["output"] += st["output_b"] / mb
            tot["failed"] += st["failed"]
        if sts:
            longest = max(sts, key=lambda st: st["done_ms"] - st["submit_ms"])
            med = max(1, longest["median_task_ms"])
            skews.append(longest["max_task_ms"] / med)
    return {
        "spark.jobs_per_op": tot["jobs"] / n,
        "spark.stages_per_op": tot["stages"] / n,
        "spark.tasks_per_op": tot["tasks"] / n,
        "spark.driver_gap_s": tot["gap"] / n,
        "spark.input_mb": tot["input"] / n,
        "spark.task_busy_s": tot["busy"] / n,
        "spark.core_util": tot["busy"] / (tot["wall"] * cores) if tot["wall"] else 0.0,
        "spark.task_wait_s": tot["wait"] / n,
        "spark.task_skew": statistics.median(skews) if skews else 0.0,
        "spark.shuffle_read_mb": tot["sread"] / n,
        "spark.shuffle_write_mb": tot["swrite"] / n,
        "spark.spill_mb": tot["spill"] / n,
        "spark.output_mb": tot["output"] / n,
        "spark.failed_tasks": tot["failed"],
    }
