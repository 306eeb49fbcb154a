"""Metric arithmetic of the benchmark: percentiles, interval unions, and
the attribution of a traced op's wall time to layers.

Times are epoch milliseconds (floats) as the JVM side records them; the
functions return seconds where a name ends in `_s`.

Attribution of one op's wall time partitions it into buckets:
  * a layer L: instants where L's span is the innermost open span
    (L's self time: its span minus the union of its child spans);
  * `unattributed`: no layer span open, but a Spark job running;
  * `driver`: no layer span open and no job running.
So the per-layer self times plus `driver` plus `unattributed` add up to
the op's wall time exactly.
"""

import math

# The layers, named after the module whose public call the benchmark
# wraps in a span.
LAYERS = ["pipeline", "extraction", "mapping", "transforms", "aggregations",
          "tables", "sql", "gold", "curation", "dedup", "artifacts", "pq"]
LAYER_FIELDS = ["self_s", "jobs", "job_s", "task_run_s", "task_cpu_s",
                "gc_s", "shuffle_bytes", "input_bytes", "output_bytes"]
LADDER = (0.5, 0.75, 0.9, 0.95, 0.99, 0.999)


def median(values):
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("median of no values")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def nearest_rank(values, q):
    """The q-quantile by nearest rank: the smallest value with at least
    a share q of the values at or below it."""
    s = sorted(values)
    return s[max(0, math.ceil(round(q * len(s), 9)) - 1)]


def tail(values):
    """The highest percentile of LADDER with at least ten samples beyond
    it, as (value, q); never below the median. With fewer than 20
    samples no percentile qualifies; the maximum is reported then, as
    (value, 1.0)."""
    n = len(values)
    q = max([p for p in LADDER if n - math.ceil(round(p * n, 9)) >= 10],
            default=1.0)
    return max(nearest_rank(values, q), median(values)), q


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def clip(interval, lo, hi):
    return max(interval[0], lo), min(interval[1], hi)


def job_layer(job, spans_by_id):
    """The layer a job belongs to: that of the span open when it was
    submitted (the innermost one; the JVM side tags each job with it),
    or `unattributed` when no span was open."""
    span = spans_by_id.get(job["span"])
    return span["layer"] if span is not None else "unattributed"


def _depth(span, spans_by_id):
    d = 0
    while span["parent"] in spans_by_id:
        span = spans_by_id[span["parent"]]
        d += 1
    return d


def partition_op(t0, t1, spans, jobs):
    """Split the op interval [t0, t1] into buckets (see module doc).
    `spans` are the op's spans, `jobs` any jobs; both need t0/t1. Returns
    {bucket: milliseconds}."""
    by_id = {s["id"]: s for s in spans}
    depth = {s["id"]: _depth(s, by_id) for s in spans}
    job_ivs = [clip((j["t0"], j["t1"]), t0, t1) for j in jobs]
    job_ivs = [iv for iv in job_ivs if iv[1] > iv[0]]
    cuts = {t0, t1}
    for s in spans:
        cuts.update(x for x in clip((s["t0"], s["t1"]), t0, t1))
    for lo, hi in job_ivs:
        cuts.update((lo, hi))
    cuts = sorted(c for c in cuts if t0 <= c <= t1)
    out = {}
    for a, b in zip(cuts, cuts[1:]):
        mid = (a + b) / 2
        open_spans = [s for s in spans if s["t0"] <= mid < s["t1"]]
        if open_spans:
            bucket = max(open_spans, key=lambda s: depth[s["id"]])["layer"]
        elif any(lo <= mid < hi for lo, hi in job_ivs):
            bucket = "unattributed"
        else:
            bucket = "driver"
        out[bucket] = out.get(bucket, 0.0) + (b - a)
    return out


def _in_op(job, op):
    return op["t0"] <= job["t0"] <= op["t1"]


def layer_metrics(ops, spans, jobs, executions, counts):
    """Per-layer metrics over the traced ops, each averaged per op.

    `counts` carries the bases of the ratios that are not Spark task
    metrics: queries, appended_vectors, served_rows, and the mapping
    outputs (mapping_outputs, mapping_nonempty)."""
    n = len(ops)
    if n == 0:
        raise ValueError("no traced ops")
    by_id = {s["id"]: s for s in spans}
    m = {f"{l}.{f}": 0.0 for l in LAYERS for f in LAYER_FIELDS}
    for k in ("driver.self_s", "driver.gap_s", "driver.plan_s",
              "unattributed.self_s", "unattributed.jobs", "unattributed.job_s"):
        m[k] = 0.0
    wall = accounted = 0.0
    op_jobs_total = 0
    sums = {}
    for op in ops:
        op_spans = [s for s in spans if s["op"] == op["i"]]
        op_jobs = [j for j in jobs if _in_op(j, op)]
        op_jobs_total += len(op_jobs)
        parts = partition_op(op["t0"], op["t1"], op_spans, op_jobs)
        for bucket, ms in parts.items():
            m[f"{bucket}.self_s"] = m.get(f"{bucket}.self_s", 0.0) + ms / 1e3
            accounted += ms
        wall += op["t1"] - op["t0"]
        ivs = [clip((j["t0"], j["t1"]), op["t0"], op["t1"]) for j in op_jobs]
        m["driver.gap_s"] += (op["t1"] - op["t0"] - union_length(ivs)) / 1e3
        first = min((j["t0"] for j in op_jobs), default=op["t1"])
        m["driver.plan_s"] += max(0.0, min(first, op["t1"]) - op["t0"]) / 1e3
        per_layer = {}
        for j in op_jobs:
            per_layer.setdefault(job_layer(j, by_id), []).append(j)
        for layer, js in per_layer.items():
            m[f"{layer}.jobs"] = m.get(f"{layer}.jobs", 0.0) + len(js)
            m[f"{layer}.job_s"] = m.get(f"{layer}.job_s", 0.0) + union_length(
                [clip((j["t0"], j["t1"]), op["t0"], op["t1"]) for j in js]) / 1e3
            if layer == "unattributed":
                continue
            for j in js:
                m[f"{layer}.task_run_s"] += j["run_ms"] / 1e3
                m[f"{layer}.task_cpu_s"] += j["cpu_ns"] / 1e9
                m[f"{layer}.gc_s"] += j["gc_ms"] / 1e3
                m[f"{layer}.shuffle_bytes"] += j["shuffle_bytes"]
                m[f"{layer}.input_bytes"] += j["input_bytes"]
                m[f"{layer}.output_bytes"] += j["output_bytes"]
                for key in ("input_records", "output_records"):
                    sums[(layer, key)] = sums.get((layer, key), 0) + j[key]
    out = {k: v / n for k, v in m.items()}
    out["driver.jobs_per_op"] = op_jobs_total / n
    out["trace.accounted_share"] = accounted / wall if wall > 0 else 1.0

    def ratio(num, den):
        return num / den if den else 0.0

    out["extraction.rows_read_per_row_written"] = ratio(
        sums.get(("extraction", "input_records"), 0),
        sums.get(("extraction", "output_records"), 0))
    out["mapping.nonempty_join_ratio"] = ratio(
        counts.get("mapping_nonempty", 0), counts.get("mapping_outputs", 0))
    sql_spans = [s for s in spans if s["layer"] == "sql"]
    sql_execs = sum(1 for e in executions
                    if any(s["t0"] <= e["t"] <= s["t1"] for s in sql_spans))
    out["sql.executions_per_query"] = ratio(sql_execs, counts.get("queries", 0))
    out["artifacts.bytes_written_per_vector"] = ratio(
        m["artifacts.output_bytes"], counts.get("appended_vectors", 0))
    out["pq.rows_read_per_result"] = ratio(
        sums.get(("pq", "input_records"), 0), counts.get("served_rows", 0))
    return out


def fail_ratio(attempted, failed):
    """Failed or check-failing ops over attempted ops."""
    if attempted < 1:
        raise ValueError("no ops attempted")
    return failed / attempted
