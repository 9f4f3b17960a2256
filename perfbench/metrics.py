"""Metric maths: turns one run's raw records (written by
`perfbench.Main`) into the end-to-end and per-layer metrics.

Percentiles use the nearest-rank rule: the p-th percentile of n sorted
samples is the ceil(p/100 * n)-th smallest, so it is always a measured
sample, and it is reported with n.
"""
import math
import statistics

# A pass whose canary time is this share off the run's median canary
# time is flagged as host noise.
DRIFT_FLAG = 0.25


def median(xs):
    if not xs:
        raise ValueError("median of no samples")
    return statistics.median(xs)


def percentile(xs, p):
    """Nearest-rank percentile; returns (value, sample count)."""
    if not xs:
        raise ValueError("percentile of no samples")
    s = sorted(xs)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[rank - 1], len(s)


def geomean(xs):
    if not xs or min(xs) <= 0:
        raise ValueError("geomean needs positive samples")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def per_query(executions):
    """{query: [seconds, ...]} in execution order."""
    out = {}
    for e in executions:
        out.setdefault(e["query"], []).append(e["s"])
    return out


def slowdowns(executions):
    """Each execution's latency divided by its query's median."""
    by_q = per_query(executions)
    meds = {q: median(v) for q, v in by_q.items()}
    return [e["s"] / meds[e["query"]] for e in executions]


def end_to_end(rec):
    """The end-to-end metrics of a run, from its untraced timed passes."""
    passes = [p for p in rec["passes"] if not p["traced"]]
    labels = {p["pass"] for p in passes}
    execs = [e for e in rec["executions"] if e["pass"] in labels]
    pass_s = median([p["wall_s"] for p in passes])
    p90, n = percentile(slowdowns(execs), 90)
    return {
        "setup_s": rec["setup_s"],
        "pass_s": pass_s,
        "rows_per_s": median([p["read_rows"] for p in passes]) / pass_s,
        "query_geomean_s": geomean(
            [median(v) for v in per_query(execs).values()]),
        "query_slowdown_p90": p90,
        "retained_mb": max(p["retained_mb"] for p in passes),
    }, {"slowdown_samples": n, "passes": len(passes)}


def canary_drift(passes):
    """Largest relative distance of a pass's canary time from the run's
    median canary time."""
    c = [p["canary_s"] for p in passes]
    m = median(c)
    return max(abs(x / m - 1.0) for x in c)


def drifting_passes(passes):
    """Passes whose canary time is more than DRIFT_FLAG off the
    median."""
    m = median([p["canary_s"] for p in passes])
    return [p["pass"] for p in passes
            if abs(p["canary_s"] / m - 1.0) > DRIFT_FLAG]


def per_layer(rec):
    """Per-layer metrics: medians over the traced passes, the function
    probes, host noise over all timed passes, and the tracing overhead
    (traced against untraced passes of the same run) and the share of
    traced query time the layers account for."""
    traced = [p for p in rec["passes"] if p["traced"]]
    plain = [p for p in rec["passes"] if not p["traced"]]
    keys = sorted({k for p in traced for k in p["layers"]})
    out = {k: median([p["layers"].get(k, 0.0) for p in traced])
           for k in keys if not k.startswith(("spark.skew_", "trace."))}
    cores = rec["cores"]
    out["spark.process_cpu_s"] = median([p["cpu_s"] for p in traced])
    out["spark.jit_s"] = median([p["jit_s"] for p in traced])
    out["spark.cpu_util"] = median(
        [p["layers"].get("spark.task_cpu_s", 0.0) / (p["wall_s"] * cores)
         for p in traced])
    out["spark.stage_skew"] = median(
        [p["layers"]["spark.skew_sum"] / p["layers"]["spark.skew_n"]
         for p in traced if p["layers"].get("spark.skew_n")] or [1.0])
    everything = rec["passes"]
    out["host.steal_frac"] = median([p["steal_frac"] for p in everything])
    out["host.load1"] = median([p["load1"] for p in everything])
    out["host.canary_drift"] = canary_drift(everything)
    out["trace.overhead_frac"] = (median([p["wall_s"] for p in traced]) /
                                  median([p["wall_s"] for p in plain]) - 1.0)
    attributed = sum(p["layers"].get("trace.attributed_s", 0.0)
                     for p in traced)
    wall = sum(p["layers"].get("trace.query_s", 0.0) for p in traced)
    out["trace.attributed_frac"] = attributed / wall if wall else 0.0
    out.update(rec["probes"])
    return out
