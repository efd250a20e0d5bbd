"""Summary statistics, span self time, failure accounting and the metric
tables of the benchmark. Pure functions over the raw log the benchmark JVM
writes; run.py calls them and the self-tests in tests/ exercise them.
"""
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

# End-to-end metrics, measured with tracing off. Every workload reports all
# of them; "iteration" is one turn of the workload's closed loop.
END_TO_END = [
    # JVM start to main, median of the set-up repetitions (session start,
    # input generation, exact oracle), and the warm-up.
    ("setup_s", "s", "lower"),
    # Input rows divided by the median iteration time.
    ("rows_per_s", "rows/s", "higher"),
    # Median time of one read query: the flagship query, a site_cube rollup
    # over the stored sketches, or one gate.
    ("read_s_p50", "s", "lower"),
    # Median time of one iteration: one query, one site_cube build plus its
    # rollups, or one pass over every gate.
    ("suite_s_p50", "s", "lower"),
    # Operations that neither threw nor failed a check, over those attempted.
    ("ok_frac", "ratio", "higher"),
    # VmHWM of the benchmark JVM, which also runs the local executors.
    ("peak_rss_mb", "MB", "lower"),
]

# Gate name prefix -> per-module seconds metric of gate_suite.
GATE_MODULES = [
    ("q_ce_", "gates.ce_s"),
    ("q_bloom_", "gates.family_s"),
    ("q_dedup_", "ops.dedup_s"),
    ("q_ann_topk_ivf", "ops.ivf_s"),
    ("q_text_", "ops.text_s"),
    ("q_stream_", "streaming.restore_s"),
]

# Per-iteration listener and plan counters -> per-layer metric, unit, scale.
COUNTERS = [
    ("partial_agg_ms", "sql.partial_agg_ms", "ms", 1),
    ("final_agg_ms", "sql.final_agg_ms", "ms", 1),
    ("fallback_tasks", "sql.fallback_tasks", "count", 1),
    ("agg_spill_bytes", "sql.spill_bytes", "B", 1),
    ("scan_ms", "sources.scan_ms", "ms", 1),
    ("shuffle_write_bytes", "shuffle.write_bytes", "B", 1),
    ("shuffle_records", "shuffle.records", "count", 1),
    ("shuffle_fetch_wait_ms", "shuffle.fetch_wait_ms", "ms", 1),
    ("jobs", "spark.jobs", "count", 1),
    ("stages", "spark.stages", "count", 1),
    ("tasks", "spark.tasks", "count", 1),
    ("executor_cpu_ns", "spark.executor_cpu_s", "s", 1e-9),
    ("gc_ms", "spark.gc_ms", "ms", 1),
]

# Values the JVM measures directly (single-thread calls, ladder rungs,
# stored-sketch sizes).
DIRECT = [
    ("core.insert_hash_per_s", "1/s"),
    ("sql.hash_utf8_per_s", "1/s"),
    ("ladder.hash_insert_rows_per_s", "rows/s"),
    ("sources.scan_floor_rows_per_s", "rows/s"),
    ("spark.builtin_hllpp_rows_per_s", "rows/s"),
    ("sql.ce_global_rows_per_s", "rows/s"),
    ("sql.ce_grouped_rows_per_s", "rows/s"),
    ("ladder.hash_insert_frac", "ratio"),
    ("ladder.scan_floor_frac", "ratio"),
    ("ladder.builtin_hllpp_frac", "ratio"),
    ("ladder.ce_global_frac", "ratio"),
    ("ladder.ce_grouped_frac", "ratio"),
    ("spark.scale_eff_1_to_n", "ratio"),
    ("core.deserialize_per_s", "1/s"),
    ("core.merge_per_s", "1/s"),
    ("core.sketch_bytes_small", "B"),
    ("core.sketch_bytes_array", "B"),
    ("core.sketch_bytes_hll", "B"),
    ("core.stored_bytes_per_group", "B"),
]

# Per-layer metrics of the traced run, in BENCHMARK.json order. A workload
# that does not exercise a layer reports 0 for it.
PER_LAYER = (
    [(name, unit) for name, unit in DIRECT]
    + [("core.rel_error_max", "ratio")]
    + [(m, unit) for _, m, unit, _ in COUNTERS]
    + [("spark.op_self_ms", "ms"), ("spark.job_self_ms", "ms"), ("spark.stage_ms", "ms")]
    + [(m, "s") for m in dict.fromkeys(m for _, m in GATE_MODULES)]
    + [("gates.jobs_per_gate", "count"), ("trace.rows_per_s", "rows/s")]
)


def better(name, unit):
    """Direction of improvement of a per-layer metric: rates, ladder
    fractions and scaling efficiency are better higher; times, bytes, counts
    and errors lower."""
    higher = unit in ("1/s", "rows/s") or name.endswith("_frac") or name == "spark.scale_eff_1_to_n"
    return "higher" if higher else "lower"


def median(xs):
    return statistics.median(xs)


def quartiles(xs):
    """First quartile, median and third quartile, as
    statistics.quantiles(xs, n=4) gives them."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    """Interquartile distance as a share of the median."""
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of the intervals."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, end = 0.0, lo
    for a, b in clipped:
        a = max(a, end)
        if b > a:
            total += b - a
            end = b
    return total


def self_times(spans):
    """Span id -> duration minus the part of it its children cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    return {
        s["id"]: (s["end_ms"] - s["start_ms"])
        - covered(children.get(s["id"], []), s["start_ms"], s["end_ms"])
        for s in spans
    }


def per_iteration_self(spans):
    """Per iteration: self time of the operation spans directly under it
    (planning and result handling outside any Spark job), self time of their
    jobs, and total stage time, in ms. Returns three lists, one value per
    iteration."""
    own = self_times(spans)
    by_id = {s["id"]: s for s in spans}

    def iteration_of(s):
        while s is not None and s["kind"] != "iteration":
            s = by_id.get(s["parent"])
        return s["id"] if s is not None else None

    iters = [s["id"] for s in spans if s["kind"] == "iteration"]
    op = dict.fromkeys(iters, 0.0)
    job = dict.fromkeys(iters, 0.0)
    stage = dict.fromkeys(iters, 0.0)
    for s in spans:
        it = iteration_of(by_id.get(s["parent"]))
        if it is None:
            continue
        if s["kind"] == "job":
            job[it] += own[s["id"]]
        elif s["kind"] == "stage":
            stage[it] += s["end_ms"] - s["start_ms"]
        elif by_id[s["parent"]]["kind"] == "iteration":
            op[it] += own[s["id"]]
    return [op[i] for i in iters], [job[i] for i in iters], [stage[i] for i in iters]


def account(ops, failed_names=(), read_kinds=("query", "read", "gate")):
    """Failure accounting over the operation log.

    An operation fails if it threw, failed its own check, or belongs to a
    gate whose result failed the oracle (`failed_names`). Failed operations
    are never timing samples, and an iteration is a sample only when all its
    operations succeeded. Returns attempted, failed, iteration seconds, read
    seconds and the failure messages.
    """
    failed_names = set(failed_names)
    iters, errors = {}, []
    attempted = failed = 0
    reads = []
    for op in ops:
        attempted += 1
        ok = op["ok"] and op["name"] not in failed_names
        it = iters.setdefault(op["iter"], [0.0, True])
        if ok:
            it[0] += op["s"]
            if op["kind"] in read_kinds:
                reads.append(op["s"])
        else:
            failed += 1
            it[1] = False
            errors.append("%s#%d: %s" % (op["name"], op["iter"],
                                         op.get("error") or "failed the oracle check"))
    iter_s = [s for s, ok in iters.values() if ok]
    return attempted, failed, iter_s, reads, errors


def gate_module_seconds(ops):
    """Median over passes of the seconds each gate module took."""
    per_pass = {}
    for op in ops:
        if op["kind"] != "gate" or not op["ok"]:
            continue
        for prefix, metric in GATE_MODULES:
            if op["name"].startswith(prefix):
                d = per_pass.setdefault(op["iter"], {})
                d[metric] = d.get(metric, 0.0) + op["s"]
                break
    out = {}
    for _, metric in GATE_MODULES:
        vals = [d.get(metric, 0.0) for d in per_pass.values()]
        out[metric] = median(vals) if vals else 0.0
    return out


def end_to_end(raw, failed_names=()):
    attempted, failed, iter_s, reads, errors = account(raw["ops"], failed_names)
    if not iter_s or not reads:
        raise ValueError("no iteration without failures to time; first failures: %s" % errors[:3])
    p50 = median(iter_s)
    values = {
        "setup_s": raw["jvm_start_s"] + median(raw["setup_reps_s"]) + raw["warmup_s"],
        "rows_per_s": raw["input_rows"] / p50,
        "read_s_p50": median(reads),
        "suite_s_p50": p50,
        "ok_frac": (attempted - failed) / attempted,
        "peak_rss_mb": raw["peak_rss_mb"],
    }
    metrics = {name: {"value": values[name], "unit": unit} for name, unit, _ in END_TO_END}
    return attempted, failed, metrics, errors, iter_s


def per_layer(raw, failed_names=()):
    _, _, iter_s, _, _ = account(raw["ops"], failed_names)
    values = {name: 0.0 for name, _ in PER_LAYER}
    for name, _ in DIRECT:
        values[name] = float(raw["layer"].get(name, 0.0))
    values["core.rel_error_max"] = float(raw["inputs"].get("rel_error_max", 0.0))
    counters = raw["iter_counters"]
    if counters:
        for key, metric, _, scale in COUNTERS:
            values[metric] = median([c[key] for c in counters]) * scale
    op, job, stage = per_iteration_self(raw["spans"])
    if op:
        values["spark.op_self_ms"] = median(op)
        values["spark.job_self_ms"] = median(job)
        values["spark.stage_ms"] = median(stage)
    values.update(gate_module_seconds(raw["ops"]))
    gates = raw["inputs"].get("gates", 0)
    if counters and gates:
        values["gates.jobs_per_gate"] = median([c["jobs"] for c in counters]) / gates
    if iter_s:
        values["trace.rows_per_s"] = raw["input_rows"] / median(iter_s)
    return {name: {"value": values[name], "unit": unit} for name, unit in PER_LAYER}
