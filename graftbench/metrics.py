"""Metric math of the graft benchmark: percentiles, span self time, failure
share, and the reduction of one run's raw result to the end-to-end and
per-layer metrics named in BENCHMARK.json."""
import math
import statistics

# Candidate tail percentiles, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def rank(pct, n):
    """1-based nearest rank of percentile `pct` among n samples (rounded
    before the ceiling, so 99.9% of 10000 is rank 9990, not 9991)."""
    return max(1, math.ceil(round(pct * n / 100.0, 9)))


def nearest_rank(values, pct):
    """Nearest-rank percentile of a non-empty list."""
    s = sorted(values)
    return s[rank(pct, len(s)) - 1]


def tail(values):
    """The highest percentile (from TAIL_LADDER) that has at least ten
    samples beyond it, as (percentile, value); None when no candidate
    qualifies (fewer than 20 samples)."""
    n = len(values)
    for pct in TAIL_LADDER:
        if n - rank(pct, n) >= 10:
            return pct, nearest_rank(values, pct)
    return None


def union_length(intervals):
    """Total length covered by a set of [start, end) intervals, overlaps
    counted once."""
    total, cur_s, cur_e = 0, None, None
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


def self_times(spans):
    """Self time of every span: its duration minus the part of its interval
    its children cover (overlapping children count once). Spans are dicts
    with id, parent, start and end (ns); returns {id: self_ns}."""
    children = {}
    for sp in spans:
        children.setdefault(sp["parent"], []).append(sp)
    out = {}
    for sp in spans:
        s, e = sp["start"], sp["end"]
        covered = union_length([(max(c["start"], s), min(c["end"], e))
                                for c in children.get(sp["id"], [])
                                if min(c["end"], e) > max(c["start"], s)])
        out[sp["id"]] = (e - s) - covered
    return out


def failed_frac(ops, checks):
    """Failed operations and failed checks over everything attempted: a
    failed correctness check counts as a failure."""
    attempted = len(ops) + len(checks)
    failed = sum(1 for o in ops if not o["ok"]) + sum(1 for c in checks if not c["ok"])
    return attempted, failed, (failed / attempted if attempted else 1.0)


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def op_rates(ops):
    """Rows per second of each operation: the rows one run of it moves (on
    the ladders, across the tier's call boundary; for queries, through their
    scans) over its median run time (the median keeps a transient stall on
    the host out of the rate)."""
    p50 = op_p50s(ops)
    rows = {o["name"]: o["rows"] for o in ops}
    return {n: rows[n] / p50[n] for n in p50 if p50[n] > 0 and rows[n] > 0}


def op_p50s(ops):
    """Median latency of each operation (query) over its timed samples."""
    names = sorted({o["name"] for o in ops})
    return {n: statistics.median(o["s"] for o in ops if o["name"] == n) for n in names}


# Per-thread seconds of the calibration job (Calibration in Support.scala)
# on a quiet 4-core host: about the lowest value measured there.
CALIB_REF_S = 0.0133


def host_factor(ops):
    """Reference host speed over this run's: the calibration job runs on
    every core before each timed operation, so on a shared host it slows
    with the operations when a neighbour takes CPU. The run's median
    calibration time sets the factor."""
    return CALIB_REF_S / statistics.median(o["calib_s"] for o in ops)


def end_to_end(raw, extra_setup_s=0.0):
    """The end-to-end metrics of an untraced run, plus the details they were
    reduced from. Operation times are scaled to the reference host speed
    (host_factor); set-up time is not, as it runs before the calibrated
    loop."""
    f = host_factor(raw["ops"])
    ops = [dict(o, s=o["s"] * f) for o in raw["ops"]]
    setup = raw["setup"]
    setup_s = extra_setup_s + setup["context_s"] + statistics.median(setup["reps_s"]) \
        + setup["warmup_s"]
    rates = op_rates(ops)
    p50 = op_p50s(ops)
    metrics = {
        "setup_s": setup_s,
        "rows_per_s": geomean(list(rates.values())),
        "query_p50_s": geomean(list(p50.values())),
        "rss_peak_mb": raw["rss_peak_mb"],
    }
    lat = [o["s"] for o in ops]
    t = tail(lat)
    detail = {"op_rows_per_s": rates, "op_p50_s": p50, "samples": len(lat),
              "host_factor": f, "unscaled_query_p50_s": metrics["query_p50_s"] / f,
              "all_ops_p50_s": statistics.median(lat),
              "all_ops_tail": {"pct": t[0], "s": t[1]} if t else None}
    return metrics, detail


# Function classes a tier does not have, so no probe or query measures them.
ABSENT = {"codegen": ["table", "aggregate"], "columnar": ["table", "aggregate"],
          "wasm_batch": ["table", "aggregate"], "flight": ["aggregate"]}

STAGES = ("near_dedup", "lm_train", "lm_threshold", "clf_train", "flags", "span_dedup",
          "mix_pack")
SPARK = ("plan_s", "jobs", "tasks", "sched_wait_s", "task_busy_s", "task_cpu_s", "gc_s",
         "shuffle_bytes", "spill_bytes", "task_retries")
STAGE_COUNTERS = ("shuffle_bytes", "spill_bytes", "task_busy_s", "gc_s")
SELF_KINDS = ("op", "build", "execute", "stage", "probe")


def span_kind(name):
    return name.split(":", 1)[0]


def per_layer(raw, spans):
    """The per-layer metrics of a traced run."""
    tr = raw["trace"]
    traced = [o for o in raw["ops"] if o["traced"]]
    untraced = [o for o in raw["ops"] if not o["traced"]]
    n_ops = max(1, len(traced))
    m = {}

    # spark: counters scoped to the traced operations' job groups, per op
    for k in SPARK:
        m[f"spark.{k}"] = sum(c[k] for c in tr["op_counters"]) / n_ops

    # layer probes
    for k, v in tr["probes"].items():
        m[k] = v
    for k, xs in tr["samples"].items():
        m[f"{k}_p50"] = statistics.median(xs)
        t = tail(xs)
        m[f"{k}_tail"] = t[1] if t else max(xs)

    # ops: the funnel's stage walls, exact counts, per-stage spark counters
    funnel = tr["funnel"]
    for st in STAGES:
        m[f"ops.{st}_s"] = funnel["stages"][st]
    c = funnel["counts"]
    m["ops.dedup_survivor_ratio"] = c["dedup"] / c["n"]
    for g in ("c4", "gopher", "lm", "clf"):
        m[f"ops.gate_pass_ratio.{g}"] = c[g] / c["n"]
    m["ops.dup_pairs"] = c["n"] - c["dedup"]
    for st in STAGES:
        for k in STAGE_COUNTERS:
            m[f"ops.{st}.{k}"] = tr["stage_counters"][st][k]

    # tracing: overhead against the untraced rounds, span self time
    by_name = lambda ops: {n: statistics.mean(o["s"] for o in ops if o["name"] == n)
                           for n in {o["name"] for o in ops}}
    t_on, t_off = by_name(traced), by_name(untraced)
    common = [n for n in t_on if n in t_off]
    m["trace.overhead_s_per_op"] = (statistics.mean(t_on[n] - t_off[n] for n in common)
                                    if common else 0.0)
    m["trace.spans"] = len(spans)
    st = self_times(spans)
    for kind in SELF_KINDS:
        tot = sum(st[sp["id"]] for sp in spans if span_kind(sp["name"]) == kind)
        m[f"trace.self_s.{kind}"] = tot / 1e9 / (1 if kind == "probe" else n_ops)
    return m
