"""Benchmark arithmetic: percentiles, interval unions, self time, per-op
attribution of engine records, and the metric sets of one run.

Kept free of I/O so `tests/test_metrics.py` can pin every rule.
"""
import re

MIN_BEYOND = 10

TEXTOPS_LABELS = [
    "curation: gates", "curation: funnel sink",
    "nd-probe: batch sketch", "nd-probe: pruned bands join",
    "nd-probe: corpus sets verify", "nd-keep: batch-internal verify",
    "nd-keep: cluster + policy", "nd-ingest: survivor rows + index append",
    "ng-probe: batch postings", "ng-probe: pruned postings join",
    "ng-probe: corpus sets verify", "ng-ingest: survivor rows + index append"]

SPARK_SUMS = ["stages", "tasks", "task_run_ms", "task_cpu_ms", "sched_delay_ms",
              "gc_ms", "shuffle_read_bytes", "shuffle_write_bytes",
              "spill_bytes", "input_bytes", "output_bytes", "failed_tasks"]

ETL_CHILDREN = ["etl.bronze", "etl.silver.cust", "etl.silver.prd",
                "etl.silver.sales", "etl.silver.erp", "etl.gold.dim_customers",
                "etl.gold.dim_products", "etl.gold.fact_sales"]


# Per-layer metrics of the benchmark of record, with units. The textops
# set applies to curation_ingest only, which runs outside the record's
# budget, so its metrics are reported by that workload alone.
PER_LAYER = (
    [("analytics.build_ms", "ms"), ("analytics.exec_ms", "ms"),
     ("catalyst.analysis_ms", "ms"), ("catalyst.optimize_ms", "ms"),
     ("catalyst.plan_ms", "ms"), ("codegen.compile_ms", "ms"),
     ("codegen.classes", "count"), ("spark.sql_executions", "count"),
     ("spark.jobs", "count")]
    + [(f"spark.{k}", "ms" if k.endswith("_ms") else "bytes" if k.endswith("_bytes")
        else "count") for k in SPARK_SUMS]
    + [("spark.driver_gap_ms", "ms"), ("etl.pipeline_ms", "ms")]
    + [(c + "_ms", "ms") for c in ETL_CHILDREN]
    + [("etl.audit_ms", "ms"), ("etl.reports_ms", "ms"), ("etl.rows_loaded", "count"),
       ("etl.dq_issues", "count"), ("warehouse.bytes_written", "bytes"),
       ("warehouse.files", "count"), ("warehouse.audit_files", "count"),
       ("warehouse.stale_dirs", "count"), ("written_bytes_per_input_byte", "ratio"),
       ("stored_bytes_per_input_byte", "ratio"), ("unattributed_ms", "ms"), ("trace.overhead_ms", "ms"),
       ("trace.breakdown_residual_ms", "ms")])


def sanitize(label):
    """A job description as a metric-name segment: runs of characters
    other than letters, digits, `_`, `.` and `-` become one `_`."""
    return re.sub(r"[^A-Za-z0-9_.-]+", "_", label).strip("_")


def quantile(values, q):
    """Linear-interpolated quantile, q in [0, 1]."""
    if not values:
        raise ValueError("quantile of no values")
    s = sorted(values)
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(values):
    return quantile(values, 0.5)


def tail(values, min_beyond=MIN_BEYOND):
    """The latency at the highest percentile that still has at least
    `min_beyond` samples above it: the (n - min_beyond)-th smallest value
    (nearest rank). Returns (value, percentile, n) or None when there are
    too few samples for any such percentile."""
    n = len(values)
    if n <= min_beyond:
        return None
    k = n - min_beyond - 1          # 0-based rank; n - 1 - k samples beyond it
    return sorted(values)[k], 100.0 * (k + 1) / n, n


def fail_ratio(attempted, failed):
    """Failed ops over attempted ops. `attempted` counts every op the
    timed window started, including the ones that threw."""
    if attempted < 1:
        raise ValueError("no ops attempted")
    if not 0 <= failed <= attempted:
        raise ValueError("failed ops must be between 0 and attempted")
    return failed / attempted


def union_length(intervals):
    """Total length covered by possibly overlapping [start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def self_times(spans):
    """Self time of each span: its duration minus the union of its
    children's intervals clipped to it. `spans` are dicts with id, parent,
    start_us, end_us. Returns {id: self_us}."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        ch = clip([(c["start_us"], c["end_us"]) for c in kids.get(s["id"], [])],
                  s["start_us"], s["end_us"])
        out[s["id"]] = (s["end_us"] - s["start_us"]) - union_length(ch)
    return out


def op_breakdown(op_span, spans):
    """Wall time of one op split by layer: self time per span name, plus
    `unattributed` (the op span's own self time). The parts sum to the op's
    wall time when sibling spans do not overlap; `residual_us` reports any
    difference."""
    tree = [op_span] + [s for s in spans if s["op"] == op_span["op"] and s["id"] != op_span["id"]]
    st = self_times(tree)
    parts = {}
    for s in tree[1:]:
        parts[s["name"]] = parts.get(s["name"], 0.0) + st[s["id"]]
    unattributed = st[op_span["id"]]
    wall = op_span["end_us"] - op_span["start_us"]
    return {"wall_us": wall, "layers_us": parts, "unattributed_us": unattributed,
            "residual_us": wall - unattributed - sum(parts.values())}


def _in_op(t_ms, ops):
    """The op whose [start, end] holds epoch-ms instant t, else None."""
    t = t_ms * 1000.0
    for o in ops:
        if o["start_us"] <= t <= o["end_us"]:
            return o["op"]
    return None


def attribute(ops, spans, jobs, events):
    """Per-op totals of engine records. Jobs map to ops through the span
    id the harness set as a local property; jobs without one, SQL
    executions, Catalyst phases and codegen compiles map by time."""
    span_op = {s["id"]: s["op"] for s in spans}
    per = {o["op"]: {"jobs": [], "events": []} for o in ops}
    for j in jobs:
        op = span_op.get(j["span"])
        if op is None:
            op = _in_op(j["start_ms"], ops)
        if op in per:
            per[op]["jobs"].append(j)
    for e in events:
        op = _in_op(e["start_ms"], ops)
        if op in per:
            per[op]["events"].append(e)
    return per


def spark_layer(op, rec):
    """Scheduler/executor and Catalyst/codegen metrics of one op."""
    m = {k: 0.0 for k in SPARK_SUMS}
    for j in rec["jobs"]:
        for k in SPARK_SUMS:
            m[k] += j[k]
    ivs = [(j["start_ms"] * 1000.0, (j["end_ms"] if j["end_ms"] >= 0 else j["start_ms"]) * 1000.0)
           for j in rec["jobs"]]
    wall = op["end_us"] - op["start_us"]
    out = {f"spark.{k}": v for k, v in m.items()}
    out["spark.jobs"] = float(len(rec["jobs"]))
    out["spark.driver_gap_ms"] = (wall - union_length(clip(ivs, op["start_us"], op["end_us"]))) / 1000.0
    ev = rec["events"]
    out["spark.sql_executions"] = float(sum(e["kind"] == "sql" for e in ev))
    for kind, name in [("analysis", "catalyst.analysis_ms"),
                       ("optimization", "catalyst.optimize_ms"),
                       ("planning", "catalyst.plan_ms")]:
        out[name] = float(sum(e["end_ms"] - e["start_ms"] for e in ev if e["kind"] == kind))
    cg = [e for e in ev if e["kind"] == "codegen"]
    out["codegen.compile_ms"] = float(sum(e["ms"] for e in cg))
    out["codegen.classes"] = float(len(cg))
    for label in TEXTOPS_LABELS:
        js = [j for j in rec["jobs"] if j["desc"] == label]
        key = f"textops.{sanitize(label)}"
        out[f"{key}.task_ms"] = float(sum(j["task_run_ms"] for j in js))
        out[f"{key}.jobs"] = float(len(js))
    return out


def textops_layer():
    out = [("textops.minhash.epoch_ms", "ms"), ("textops.exact.epoch_ms", "ms"),
           ("textops.compact_epoch_ms", "ms"), ("textops.steady_epoch_ms", "ms")]
    for label in TEXTOPS_LABELS:
        out += [(f"textops.{sanitize(label)}.task_ms", "ms"),
                (f"textops.{sanitize(label)}.jobs", "count")]
    return out + [("textops.kept_ratio", "ratio"), ("textops.index_bytes", "bytes"),
                  ("textops.index_files", "count")]


def mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0
