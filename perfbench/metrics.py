"""Metric arithmetic for the perfbench runner: percentiles, self time,
end-to-end and per-layer metrics from a run's raw record, and the rules
the compare tool applies. Pure functions, no I/O."""

import math
import statistics

END_TO_END = [
    # name, unit, better
    ("setup_s", "s", "lower"),
    ("op_p50_ms", "ms", "lower"),
    ("ops_per_s", "1/s", "higher"),
    ("held_heap_mb", "MB", "lower"),
]

READ_CLASSES = ["1hop", "2hop", "diamond", "edge_attr", "agg", "varlen",
                "view", "correlated", "relational"]
DML_KINDS = ["insert_edge", "delete_edge", "update", "insert_node"]

PER_LAYER = (
    [("lang.sql_ms", "ms", "lower"), ("lang.sql_self_ms", "ms", "lower"),
     ("lang.parse_ms", "ms", "lower"), ("planner.plan_ms", "ms", "lower"),
     ("stats.collect_s", "s", "lower"), ("graph.build_s", "s", "lower"),
     ("load.insert_s", "s", "lower")]
    + [(f"read.{c}_ms", "ms", "lower") for c in READ_CLASSES]
    + [("read.tail_ms", "ms", "lower"), ("read.tail_pct", "pct", "lower"),
       ("catalyst.analysis_ms", "ms", "lower"),
       ("catalyst.optimization_ms", "ms", "lower"),
       ("catalyst.planning_ms", "ms", "lower"),
       ("exec.jobs", "count", "lower"), ("exec.stages", "count", "lower"),
       ("exec.tasks", "count", "lower"), ("exec.task_run_ms", "ms", "lower"),
       ("exec.task_cpu_ms", "ms", "lower"), ("exec.gc_ms", "ms", "lower"),
       ("exec.task_wait_ms", "ms", "lower"),
       ("exec.shuffle_read_mb", "MB", "lower"),
       ("exec.shuffle_write_mb", "MB", "lower"),
       ("exec.spill_mb", "MB", "lower"), ("exec.failed_tasks", "count", "lower"),
       ("exec.stage_retries", "count", "lower"),
       ("storage.read_mb", "MB", "lower"), ("storage.write_mb", "MB", "lower"),
       ("storage.write_ops", "count", "lower"),
       ("storage.write_amp", "ratio", "lower")]
    + [(f"dml.{k}_ms", "ms", "lower") for k in DML_KINDS]
    + [("dml.write_p50_ms", "ms", "lower"), ("ddl.compact_s", "s", "lower"),
       ("ddl.store_mb", "MB", "lower"),
       ("ext.incremental_s", "s", "lower"), ("ext.append_s", "s", "lower"),
       ("ext.docs_per_s", "docs/s", "higher"), ("ext.index_mb", "MB", "lower"),
       ("ext.index_files", "count", "lower"), ("ext.kept_frac", "ratio", "lower"),
       ("ext.dedup_recall", "ratio", "higher"),
       ("driver.self_ms", "ms", "lower"), ("driver.collect_rows", "count", "lower"),
       ("driver.held_cache_mb", "MB", "lower"),
       ("driver.persisted_rdds", "count", "lower"),
       ("trace.overhead_pct", "pct", "lower")])

# per-op layer numbers from the traced ops: timings by median, work
# counts and bytes by mean per traced op
LAYER_MEDIAN = ["lang.sql_ms", "lang.parse_ms", "planner.plan_ms",
                "catalyst.analysis_ms", "catalyst.optimization_ms",
                "catalyst.planning_ms", "driver.held_cache_mb",
                "driver.persisted_rdds"]
LAYER_MEAN = ["exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_ms",
              "exec.task_cpu_ms", "exec.gc_ms", "exec.task_wait_ms",
              "exec.shuffle_read_mb", "exec.shuffle_write_mb", "exec.spill_mb",
              "exec.failed_tasks", "exec.stage_retries", "storage.read_mb",
              "storage.write_mb", "storage.write_ops", "driver.collect_rows"]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail_percentile(xs, candidates=(99, 95, 90, 75, 50), beyond=10):
    """The highest candidate percentile with at least `beyond` samples
    strictly above its rank, and its value (nearest-rank). Returns
    (pct, value); (0, 0.0) when even the median has fewer than `beyond`
    samples beyond it."""
    s = sorted(xs)
    n = len(s)
    for p in candidates:
        rank = max(1, math.ceil(p / 100.0 * n))  # 1-based nearest rank
        if n - rank >= beyond:
            return p, s[rank - 1]
    return 0, 0.0


def quartiles(xs):
    """(q1, median, q3) as statistics.quantiles(xs, n=4) gives them"""
    if len(xs) < 2:
        v = xs[0] if xs else 0.0
        return v, v, v
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    """distance between first and third quartile, as a share of the median"""
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / abs(q2) if q2 else math.inf


def union_us(intervals, lo, hi):
    """length of the union of [s, e] intervals clipped to [lo, hi]"""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
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


def self_times(spans):
    """span id -> self time in microseconds: the span's duration minus
    the part of it its child spans cover"""
    kids = {}
    for sp in spans:
        kids.setdefault(sp["parent"], []).append((sp["start_us"], sp["end_us"]))
    return {sp["id"]: (sp["end_us"] - sp["start_us"])
            - union_us(kids.get(sp["id"], []), sp["start_us"], sp["end_us"])
            for sp in spans}


def _read_wall(op):
    """a read's latency: the statement for graph workloads, the
    incremental curation (the index probe) for curation increments"""
    return op["phase"].get("ext.incremental", op["wall_ms"]) \
        if op["kind"] == "increment" else op["wall_ms"]


def end_to_end(raw):
    ops = [o for o in raw["ops"] if o["measured"]]
    return {
        "setup_s": median(raw["setup"]["setup_s"]),
        "op_p50_ms": median([o["wall_ms"] for o in ops]),
        "ops_per_s": len(ops) / raw["window_s"] if raw["window_s"] else 0.0,
        "held_heap_mb": raw["extra"]["held_heap_mb"],
    }


def per_layer(raw):
    ops = [o for o in raw["ops"] if o["measured"]]
    traced = [o for o in ops if o["traced"]]
    untraced = [o for o in ops if not o["traced"]]
    setup, extra = raw["setup"], raw["extra"]
    m = {name: 0.0 for name, _, _ in PER_LAYER}

    for k in LAYER_MEDIAN:
        m[k] = median([o["layer"][k] for o in traced if k in o["layer"]])
    for k in LAYER_MEAN:
        m[k] = sum(o["layer"].get(k, 0.0) for o in traced) / len(traced) if traced else 0.0
    for k in ("stats.collect_s", "graph.build_s", "load.insert_s"):
        m[k] = setup.get(k, 0.0)

    reads = [o for o in ops if o["kind"] == "read"]
    for c in READ_CLASSES:
        m[f"read.{c}_ms"] = median([o["wall_ms"] for o in reads if o["cls"] == c])
    m["read.tail_pct"], m["read.tail_ms"] = tail_percentile(
        [_read_wall(o) for o in ops if o["kind"] in ("read", "increment")])

    dml = [o for o in ops if o["kind"] == "write" and o["cls"] in DML_KINDS]
    for k in DML_KINDS:
        m[f"dml.{k}_ms"] = median([o["wall_ms"] for o in dml if o["cls"] == k])
    m["dml.write_p50_ms"] = median([o["wall_ms"] for o in dml])
    m["ddl.compact_s"] = median([o["wall_ms"] / 1000 for o in ops if o["cls"] == "compact"])
    m["ddl.store_mb"] = extra.get("store_mb", 0.0)
    m["storage.write_amp"] = extra.get("write_amp", 0.0)

    incs = [o for o in ops if o["kind"] == "increment"]
    m["ext.incremental_s"] = median([o["phase"]["ext.incremental"] / 1000 for o in incs])
    m["ext.append_s"] = median([o["phase"]["ext.append"] / 1000 for o in incs])
    inc_s = sum(o["wall_ms"] for o in incs) / 1000
    m["ext.docs_per_s"] = extra.get("docs_in", 0) / inc_s if inc_s else 0.0
    m["ext.index_mb"] = extra.get("index_mb", 0.0)
    m["ext.index_files"] = extra.get("index_files", 0)
    m["ext.kept_frac"] = (extra["docs_kept"] / extra["docs_in"]) if extra.get("docs_in") else 0.0
    m["ext.dedup_recall"] = extra.get("dedup_recall", 0.0)

    spans = raw["spans"]
    selfs = self_times(spans)
    m["driver.self_ms"] = median([selfs[s["id"]] / 1000 for s in spans if s["name"] == "op"])
    m["lang.sql_self_ms"] = median([selfs[s["id"]] / 1000 for s in spans if s["name"] == "lang.sql"])

    base = [_read_wall(o) for o in untraced if o["kind"] in ("read", "increment")]
    with_t = [_read_wall(o) for o in traced if o["kind"] in ("read", "increment")]
    if base and with_t:
        m["trace.overhead_pct"] = 100.0 * (median(with_t) - median(base)) / median(base)
    return m


def verdict(base, new, bound, better):
    """Compare two sets of runs of one metric. `base` and `new` are lists
    of values, paired by position. Returns (verdict, detail):
      "unresolved"  the base's own spread exceeds the bound and not every
                    new run beats every base run;
      "regression"  the new median is worse than the base median by more
                    than the bound;
      "gain"        the new side wins at least 9/10 of the pairs (ties
                    count for neither) and the medians differ by more
                    than the base's quartile distance;
      "no change"   otherwise."""
    sign = 1.0 if better == "higher" else -1.0
    mb, mn = median(base), median(new)
    q1, _, q3 = quartiles(base)
    rel = sign * (mn - mb) / abs(mb) if mb else 0.0  # > 0: better
    pairs = list(zip(base, new))
    wins = sum(1 for b, n in pairs if sign * (n - b) > 0)
    detail = {"base_median": mb, "new_median": mn, "change": rel,
              "base_spread": spread(base), "wins": wins, "pairs": len(pairs)}
    all_better = all(sign * (n - b) > 0 for b in base for n in new)
    if spread(base) > bound and not all_better:
        return "unresolved", detail
    if rel < -bound:
        return "regression", detail
    if pairs and wins >= 0.9 * len(pairs) and abs(mn - mb) > (q3 - q1):
        return "gain", detail
    return "no change", detail
