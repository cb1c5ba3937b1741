"""Reducers: from the harness's raw record (spans, jobs, counters) to metrics.

Times in a record are wall-clock milliseconds; every metric is in the unit
its name says. A pass's per-layer totals are summed over the operations of
that pass; the reported per-layer value is the median over the warm passes,
and ``first.<name>`` is the cold pass's value.
"""
import statistics

MIB = 1024.0 * 1024.0


def median(xs):
    return statistics.median(xs)


def percentile(xs, p):
    """Nearest-rank percentile: the smallest sample with at least p% of the
    samples at or below it."""
    s = sorted(xs)
    k = max(1, -(-len(s) * p // 100))   # ceil(n * p / 100)
    return s[int(k) - 1]


def tail_percentile(xs, candidates=(99.9, 99, 90, 50), beyond=10):
    """The highest candidate percentile with at least ``beyond`` samples above
    it, as ``(p, value)``; ``None`` when even the median lacks them.

    With ten samples beyond, p90 needs 100 samples and p99 1000.
    """
    n = len(xs)
    for p in candidates:
        if n * (100 - p) / 100 >= beyond:
            return p, percentile(xs, p)
    return None


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
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


def self_time(start, end, children):
    """A span's duration minus the part of it its children cover (children
    are clipped to the span)."""
    clipped = [(max(s, start), min(e, end)) for s, e in children if e > start and s < end]
    return (end - start) - union_length(clipped)


def fail_count(attempted_ops, failed_ops, mismatched):
    """Failed operations: those that raised or timed out, plus every
    operation of a query whose checked output mismatched. ``attempted_ops``
    and ``failed_ops`` are sets of ``(op, pass)``; ``mismatched`` a set of op
    names. Each operation counts once."""
    bad = set(failed_ops) | {(op, p) for op, p in attempted_ops if op in mismatched}
    return len(bad & set(attempted_ops))


# ---------------------------------------------------------------- spans

def _dur(sp):
    return sp["end"] - sp["start"]


def ops_of(record):
    """The timed operations: query spans, or the ETL pipeline/sink spans."""
    return [sp for sp in record["spans"] if sp["kind"] in ("query", "etl")]


def op_latency_s(record, sp):
    """What a caller waits for: a query's build + execute (its reset is
    harness clean-up), or the whole ETL step."""
    if sp["kind"] == "etl":
        return _dur(sp) / 1000.0
    kids = [c for c in record["spans"] if c["parent"] == sp["id"] and c["kind"] in ("build", "execute")]
    return (max(c["end"] for c in kids) - min(c["start"] for c in kids)) / 1000.0


def passes(record):
    return sorted((sp for sp in record["spans"] if sp["kind"] == "pass"), key=lambda s: s["pass"])


def end_to_end(record, input_rows, input_bytes):
    """The user-visible metrics of one (untraced) run."""
    ps = passes(record)
    warm = [_dur(p) / 1000.0 for p in ps[1:]]
    lat = [op_latency_s(record, sp) for sp in ops_of(record) if sp["pass"] >= 1]
    disk = record["disk"]
    out = {
        "setup_s": median(record["setup_s"]),
        "first_pass_s": _dur(ps[0]) / 1000.0,
        "warm_pass_s": median(warm),
        "query_p50_s": median(lat),
        "rows_per_s": input_rows / median(warm),
        "retained_heap_mb": record["retained_heap_bytes"] / MIB,
        "storage_mb": (input_bytes + disk[1]["bytes"] - disk[0]["bytes"]) / MIB,
    }
    extra = {"query_samples": len(lat)}
    tail = tail_percentile(lat)
    if tail and tail[0] > 50:
        extra[f"query_p{tail[0]:g}_s"] = tail[1]
    return out, extra


# ---------------------------------------------------------------- layers

PER_PASS = [
    ("entry.build_s", "s"), ("entry.build_jobs", "count"), ("entry.reset_s", "s"),
    ("entry.cached_mb", "MiB"), ("entry.query_self_s", "s"),
    ("plans.analysis_s", "s"), ("plans.optimization_s", "s"), ("plans.planning_s", "s"),
    ("plans.rules_s", "s"),
    ("plans.executions", "count"), ("plans.share", "ratio"),
    ("functions.codegen_compile_s", "s"), ("functions.codegen_classes", "count"),
    ("ops.cc_rounds", "count"),
    ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.task_run_s", "s"), ("exec.task_cpu_s", "s"), ("exec.core_util", "ratio"),
    ("exec.driver_gap_s", "s"), ("exec.shuffle_write_mb", "MiB"), ("exec.shuffle_read_mb", "MiB"),
    ("exec.spill_mb", "MiB"), ("exec.input_rows", "count"), ("exec.failed_tasks", "count"),
    ("sources.bytes_written_mb", "MiB"), ("sources.files_written", "count"),
    ("etl.pipeline_s", "s"), ("etl.sink_s", "s"), ("etl.sink_driver_s", "s"), ("etl.output_mb", "MiB"),
    ("jvm.gc_s", "s"), ("jvm.jit_compile_s", "s"),
]
PER_RUN = [("jvm.cold_setup_s", "s"), ("trace.first_pass_s", "s"), ("trace.warm_pass_s", "s")]


def layer_units():
    """Every per-layer metric name with its unit, in report order."""
    return list(PER_PASS) + [("first." + n, u) for n, u in PER_PASS] + list(PER_RUN)


def _jobs_in(jobs, op_name, start, end):
    return [j for j in jobs if j["group"] == op_name and start <= j["start"] <= end]


def per_pass_layers(record, cpus):
    """One dict of per-layer totals per pass."""
    spans = record["spans"]
    kids = {}
    for sp in spans:
        kids.setdefault(sp["parent"], []).append(sp)
    jobs = [j for j in record["jobs"] if j["end"] >= 0]
    etl_bytes = [m.get("output_bytes", 0) for m in record.get("etl_metrics", [])]
    out = []
    for p in passes(record):
        v = {n: 0.0 for n, _ in PER_PASS}
        op_jobs = []
        for op in kids.get(p["id"], []):
            a = op["attrs"]
            js = _jobs_in(jobs, op["name"], op["start"], op["end"])
            op_jobs += js
            children = kids.get(op["id"], [])
            if op["kind"] == "query":
                v["entry.query_self_s"] += self_time(op["start"], op["end"],
                                                     [(c["start"], c["end"]) for c in children]) / 1000.0
                v["entry.cached_mb"] += a.get("cached_bytes", 0) / MIB
                v["ops.cc_rounds"] += a.get("cc_rounds", 0)
            for c in children:
                d = _dur(c) / 1000.0
                if c["kind"] == "build":
                    v["entry.build_s"] += d
                    v["entry.build_jobs"] += len([j for j in js if c["start"] <= j["start"] <= c["end"]])
                elif c["kind"] == "reset":
                    v["entry.reset_s"] += d
                elif c["kind"] == "execute":
                    v["exec.driver_gap_s"] += self_time(
                        c["start"], c["end"], [(j["start"], j["end"]) for j in js]) / 1000.0
            if op["kind"] == "reset":
                v["entry.reset_s"] += _dur(op) / 1000.0
            if op["kind"] == "etl":
                gap = self_time(op["start"], op["end"], [(j["start"], j["end"]) for j in js]) / 1000.0
                v["exec.driver_gap_s"] += gap
                if op["name"] == "etl.pipeline":
                    v["etl.pipeline_s"] += _dur(op) / 1000.0
                else:
                    v["etl.sink_s"] += _dur(op) / 1000.0
                    v["etl.sink_driver_s"] += gap
            for e in a.get("executions", []):
                ph = e.get("phases", {})
                v["plans.executions"] += 1
                v["plans.analysis_s"] += (ph.get("parsing", 0) + ph.get("analysis", 0)) / 1000.0
                v["plans.optimization_s"] += ph.get("optimization", 0) / 1000.0
                v["plans.planning_s"] += ph.get("planning", 0) / 1000.0
            v["plans.rules_s"] += a.get("rules_ns", 0) / 1e9
            v["functions.codegen_compile_s"] += a.get("codegen_ns", 0) / 1e9
            v["functions.codegen_classes"] += a.get("codegen_classes", 0)
            v["jvm.gc_s"] += a.get("gc_ms", 0) / 1000.0
            v["jvm.jit_compile_s"] += a.get("jit_ms", 0) / 1000.0
        for j in op_jobs:
            v["exec.jobs"] += 1
            v["exec.stages"] += j["stages"]
            v["exec.tasks"] += j["tasks"]
            v["exec.failed_tasks"] += j["failed_tasks"]
            v["exec.task_run_s"] += j["run_ms"] / 1000.0
            v["exec.task_cpu_s"] += j["cpu_ns"] / 1e9
            v["exec.shuffle_write_mb"] += j["shuffle_write"] / MIB
            v["exec.shuffle_read_mb"] += j["shuffle_read"] / MIB
            v["exec.spill_mb"] += j["spill"] / MIB
            v["exec.input_rows"] += j["input_rows"]
            v["sources.bytes_written_mb"] += j["output_bytes"] / MIB
        v["exec.core_util"] = v["exec.task_run_s"] / (_dur(p) / 1000.0 * cpus)
        busy = sum(op_latency_s(record, op) for op in kids.get(p["id"], []) if op["kind"] in ("query", "etl"))
        v["plans.share"] = (v["plans.analysis_s"] + v["plans.optimization_s"] + v["plans.planning_s"]) / busy
        i = p["pass"]
        v["sources.files_written"] = record["disk"][i + 1]["files"] - record["disk"][i]["files"]
        if i < len(etl_bytes):
            v["etl.output_mb"] = etl_bytes[i] / MIB
        out.append(v)
    return out


def per_layer(record, cpus):
    """The traced run's per-layer metrics: warm-pass medians, the cold
    pass's values and the traced pass times (for the tracing overhead)."""
    rows = per_pass_layers(record, cpus)
    out = {n: median([r[n] for r in rows[1:]]) for n, _ in PER_PASS}
    out.update({"first." + n: rows[0][n] for n, _ in PER_PASS})
    ps = passes(record)
    out["jvm.cold_setup_s"] = record["setup_s"][0]
    out["trace.first_pass_s"] = _dur(ps[0]) / 1000.0
    out["trace.warm_pass_s"] = median([_dur(p) / 1000.0 for p in ps[1:]])
    return out, rows
