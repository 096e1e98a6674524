"""Metric arithmetic for the pipeline benchmark.

Pure functions over a run record (the JSON ``perfbench.Main`` writes):
the tail-percentile rule, self time of spans, attribution of Spark jobs
and write commands to spans, and the end-to-end and per-layer metrics.
"""
import math
import statistics

# the op kind whose latency op_p50_s / op_tail_s describe, per workload
OP_KIND = {"medallion_rebuild": "rebuild", "incremental_batches": "batch",
           "corpus_admission": "micro_batch"}
# the op kind whose rows rows_per_s counts, per workload
ROWS_KIND = {"medallion_rebuild": "rebuild", "incremental_batches": "batch",
             "corpus_admission": "report"}

SILVER_TABLES = {"dim_station", "dim_user", "dim_date", "fact_trips"}

CORE = ["busy_s", "jobs", "tasks", "shuffle_write_bytes", "spill_bytes",
        "bytes_written", "files_written", "rows_out", "result_bytes",
        "leaked_rdds"]
WRITES = CORE[:8]
EXT = CORE[:6]
# the per-layer metrics a traced run reports, layer -> metric names
LAYER_METRICS = {
    "tables": ["busy_s", "jobs", "tasks"],
    "bronze": CORE, "enrich": CORE, "silver": WRITES, "gold": WRITES,
    "plans": ["busy_s", "jobs", "tasks", "leaked_rdds"],
    "operators": CORE, "streaming": CORE,
    "ext.text": EXT, "ext.classifier": EXT, "ext.sketches": EXT,
    "ext.corpus": EXT, "ext.dedup": EXT, "ext.admission": CORE,
    "engine": CORE,
}
EXTRAS = ["engine.scheduler_delay_s", "engine.executor_run_s", "engine.gc_s",
          "operators.partitions_rewritten", "operators.partitions_total",
          "operators.bytes_written_per_delta_byte",
          "enrich.rows_inserted", "enrich.rows_offered",
          "streaming.trigger_s", "streaming.add_batch_s",
          "streaming.commit_s", "streaming.planning_s",
          "ext.admission.keep_ratio"]
UNITS = {"busy_s": "s", "jobs": "count", "tasks": "count",
         "shuffle_write_bytes": "bytes", "spill_bytes": "bytes",
         "bytes_written": "bytes", "files_written": "count",
         "rows_out": "rows", "result_bytes": "bytes", "leaked_rdds": "count"}
EXTRA_UNITS = {"engine.scheduler_delay_s": "s", "engine.executor_run_s": "s",
               "engine.gc_s": "s", "operators.partitions_rewritten": "count",
               "operators.partitions_total": "count",
               "operators.bytes_written_per_delta_byte": "ratio",
               "enrich.rows_inserted": "rows", "enrich.rows_offered": "rows",
               "streaming.trigger_s": "s", "streaming.add_batch_s": "s",
               "streaming.commit_s": "s", "streaming.planning_s": "s",
               "ext.admission.keep_ratio": "ratio"}
# per-layer values that are ratios, not per-step amounts
RATIOS = {"operators.bytes_written_per_delta_byte", "ext.admission.keep_ratio"}
STREAM_KEYS = {"streaming.trigger_s": "triggerExecution",
               "streaming.add_batch_s": "addBatch",
               "streaming.commit_s": "commitOffsets",
               "streaming.planning_s": "queryPlanning"}


def per_layer_names():
    """Every per-layer metric name with its unit, in report order."""
    out = [(f"{layer}.{m}", UNITS[m]) for layer, ms in LAYER_METRICS.items()
           for m in ms]
    return out + [(n, EXTRA_UNITS[n]) for n in EXTRAS]


# ------------------------------------------------------------ statistics

def tail(values, beyond=10):
    """The highest latency percentile with at least ``beyond`` samples
    above it, as (percentile, value).

    With n samples the percentile is floor(100 * (n - beyond) / n), read by
    nearest rank, so n - rank >= beyond. Runs with no more than ``beyond``
    samples have no such percentile; they report the maximum as p100.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    if n <= beyond:
        return 100, xs[-1]
    p = (100 * (n - beyond)) // n
    rank = max(1, math.ceil(p * n / 100))
    return p, xs[rank - 1]


def summary(values):
    """Median, first and third quartile and count of a sample."""
    xs = list(values)
    if len(xs) == 1:
        return {"median": xs[0], "q1": xs[0], "q3": xs[0], "n": 1}
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return {"median": statistics.median(xs), "q1": q1, "q3": q3, "n": len(xs)}


def spread(values):
    """Interquartile distance as a share of the median."""
    s = summary(values)
    return (s["q3"] - s["q1"]) / s["median"] if s["median"] else math.inf


# ------------------------------------------------------------ self time

def covered(interval, children):
    """Length of the union of ``children`` intervals clipped to ``interval``."""
    lo, hi = interval
    parts = sorted((max(lo, a), min(hi, b)) for a, b in children)
    total, cur_a, cur_b = 0, None, None
    for a, b in parts:
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


def self_times(spans):
    """Span id -> duration minus the time its children cover (ms)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"]) -
            covered((s["start"], s["end"]), kids.get(s["id"], []))
            for s in spans}


# ----------------------------------------------------------- attribution

def expand_spans(trace):
    """Bench spans plus the spans observed inside ``Pipeline.runFullEtl``.

    runFullEtl runs its silver and gold writes concurrently, so each write
    command becomes a child span of the layer its output table belongs to;
    the time before its first write starts is source resolution
    (``tables``), and the time from its last job end to its return is
    promotion, kept in ``plans``.
    """
    spans = [dict(s) for s in trace["spans"]]
    next_id = max([s["id"] for s in spans], default=0) + 1
    execs = [e for e in trace["executions"] if "start" in e and "end" in e]
    for s in [s for s in spans if s["name"] == "Pipeline.runFullEtl"]:
        inside = [e for e in execs if s["start"] <= e["start"] <= s["end"]]
        writes = [e for e in inside if e.get("output")]
        for e in writes:
            table = e["output"].rstrip("/").split("/")[-1]
            layer = "silver" if table in SILVER_TABLES else "gold"
            spans.append({"id": next_id, "parent": s["id"], "layer": layer,
                          "name": f"write {table}", "start": e["start"],
                          "end": e["end"], "leaked_rdds": 0, "exec": e["id"]})
            next_id += 1
        if inside:
            first = min(e["start"] for e in inside)
            spans.append({"id": next_id, "parent": s["id"], "layer": "tables",
                          "name": "source resolution", "start": s["start"],
                          "end": first, "leaked_rdds": 0})
            next_id += 1
        ends = [j["end"] for j in trace["jobs"]
                if s["start"] <= j["start"] <= s["end"] and j["end"]]
        if ends:
            spans.append({"id": next_id, "parent": s["id"], "layer": "plans",
                          "name": "promote", "start": max(ends),
                          "end": s["end"], "leaked_rdds": 0})
            next_id += 1
    return spans


def owner(spans, t, execution=None, by_exec=None):
    """The span a job or command belongs to: the observed span of its SQL
    execution if there is one, else the innermost span open at ``t``."""
    if execution is not None and by_exec and execution in by_exec:
        return by_exec[execution]
    best = None
    for s in spans:
        if s["start"] <= t <= s["end"] and "exec" not in s:
            if best is None or (s["start"], -s["end"]) >= (best["start"], -best["end"]):
                best = s
    return best


def layer_metrics(record):
    """Per-layer metrics of a traced run, {name: value}.

    Amounts are per traced step (one rebuild, one arrival batch, one
    admission cycle); ratios are over all traced steps.
    """
    trace = record["trace_record"]
    spans = expand_spans(trace)
    selfs = self_times(spans)
    by_exec = {}
    for s in spans:
        if "exec" in s:
            by_exec[s["exec"]] = s
    out = {n: 0.0 for n, _ in per_layer_names()}

    def add(layer, metric, v):
        key = f"{layer}.{metric}"
        if key in out:
            out[key] += v

    for s in spans:
        layer = s["layer"]
        if layer == "op":
            add("engine", "busy_s", (s["end"] - s["start"]) / 1000.0)
            add("engine", "leaked_rdds", s.get("leaked_rdds", 0))
            continue
        add(layer, "busy_s", selfs[s["id"]] / 1000.0)
        add(layer, "leaked_rdds", s.get("leaked_rdds", 0))
    for j in trace["jobs"]:
        s = owner(spans, j["start"], j.get("execution"), by_exec)
        if s is None:
            continue  # untimed housekeeping between steps
        fields = {"jobs": 1, "tasks": j["tasks"],
                  "shuffle_write_bytes": j["shuffle_write_bytes"],
                  "spill_bytes": j["spill_bytes"],
                  "bytes_written": j["bytes_written"],
                  "rows_out": j["rows_written"],
                  "result_bytes": j["result_bytes"]}
        for k, v in fields.items():
            if s["layer"] != "op":
                add(s["layer"], k, v)
            add("engine", k, v)
        out["engine.scheduler_delay_s"] += j["scheduler_delay_ms"] / 1000.0
        out["engine.executor_run_s"] += j["executor_run_ms"] / 1000.0
        out["engine.gc_s"] += j["gc_ms"] / 1000.0
    for e in trace["executions"]:
        if not e.get("output") or "start" not in e:
            continue
        s = owner(spans, e["start"], e["id"], by_exec)
        if s is None:
            continue
        if s["layer"] != "op":
            add(s["layer"], "files_written", e.get("files", 0))
        add("engine", "files_written", e.get("files", 0))
        if s["layer"] == "enrich" and e["output"].rstrip("/").endswith("/users"):
            out["enrich.rows_inserted"] += e.get("rows", 0)
    delta = 0.0
    for c in trace["counters"]:
        if c["name"] == "operators.delta_bytes":
            delta += c["value"]
        elif c["name"] in out:
            out[c["name"]] += c["value"]
    if delta:
        out["operators.bytes_written_per_delta_byte"] = \
            out["operators.bytes_written"] / delta
    for p in trace["streams"]:
        for name, key in STREAM_KEYS.items():
            out[name] += p["durations"].get(key, 0) / 1000.0
    steps = max(1, sum(1 for s in trace["spans"] if s["layer"] == "op"))
    return {k: v if k in RATIOS else v / steps for k, v in out.items()}


# ------------------------------------------------------------ end to end

def end_to_end(record, input_bytes, stored_bytes):
    """End-to-end metrics of an untraced run, {name: value}."""
    w = record["workload"]
    ok = [o for o in record["ops"] if o["ok"]]
    lat = [o["latency_s"] for o in ok if o["kind"] == OP_KIND[w]]
    moved = [o for o in ok if o["kind"] == ROWS_KIND[w]]
    if not lat or not moved:
        raise ValueError("the run completed no timed operation")
    return {
        "setup_s": record["setup_s"],
        "rows_per_s": sum(o["rows"] for o in moved) / sum(o["latency_s"] for o in moved),
        "op_p50_s": statistics.median(lat),
        "op_tail_s": tail(lat)[1],
        "bytes_stored_per_input_byte": stored_bytes / input_bytes,
        "peak_rss_mb": record["peak_rss_mb"],
    }
