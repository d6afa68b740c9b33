"""Metric math for the benchmark: end-to-end metrics from a run's
`result.json`, per-layer metrics from its span file. Kept apart from the
runner so the tests can drive it on synthetic spans.
"""
import json
import statistics

E2E_UNITS = {"setup_s": "s", "pass_s": "s", "pass_cpu_s": "s"}

# The modules the workloads call. The other graft.ops and graft.llm modules
# (Graph, Quality; TextAnalysis, Bpe, CorpusStats, Packing, Similarity,
# Retrieval) are not run, so they have no metric (perfbench/README.md).
OPS_LAYERS = ["Relational", "Analytics", "Advanced", "EventAnalytics", "Stats",
              "Sketches"]
LLM_LAYERS = ["Dedup", "QualitySignals", "AnnIndex"]

# Per-layer metric -> unit, in report order. Busy and driver time are shares
# of the traced passes' wall time, so a layer a workload never calls reads 0.
LAYER_UNITS = {
    "pipeline.busy_frac": "ratio", "pipeline.driver_frac": "ratio",
    **{f"ops.{m}.busy_frac": "ratio" for m in OPS_LAYERS},
    "ops.driver_frac": "ratio",
    "plans.custom_nodes": "count",
    "functions.graft_exprs": "count", "functions.interpreted_exprs": "count",
    **{f"llm.{m}.busy_frac": "ratio" for m in LLM_LAYERS},
    "llm.driver_frac": "ratio",
    "llm.Dedup.pair_yield": "ratio", "llm.AnnIndex.scan_frac": "ratio",
    "llm.StandingIndex.files": "count", "llm.StandingIndex.live_mb": "MB",
    "llm.StandingIndex.compact_frac": "ratio",
    "streaming.busy_frac": "ratio", "streaming.batches": "count",
    "streaming.rows_per_batch": "count", "streaming.add_batch_frac": "ratio",
    "streaming.planning_frac": "ratio", "streaming.offset_frac": "ratio",
    "streaming.commit_frac": "ratio",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_run_s": "s", "spark.task_cpu_s": "s", "spark.task_wait_s": "s",
    "spark.cores_busy_frac": "ratio", "spark.driver_s": "s",
    "spark.shuffle_write_mb": "MB", "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB", "spark.scan_mb": "MB", "spark.write_mb": "MB",
    "spark.broadcast_mb": "MB", "spark.peak_exec_mem_mb": "MB",
    "spark.gc_s": "s", "spark.codegen_compile_ms": "ms",
    "fs.files_written": "count", "fs.bytes_written_mb": "MB", "fs.rewrite_mb": "MB",
    "trace.overhead_s": "s", "trace.accounted_frac": "ratio",
}

MB = 1024.0 * 1024.0
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(xs, p):
    s = sorted(xs)
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail(xs):
    """(percentile, value): the highest ladder percentile with at least ten
    samples beyond it; the median when there are too few samples."""
    n = len(xs)
    for p in TAIL_LADDER:
        if round(n * (100.0 - p), 6) >= 1000:
            return p, percentile(xs, p)
    return 50.0, percentile(xs, 50.0)


def end_to_end(result):
    """(metrics, report): the BENCHMARK.json end-to-end metrics, and the
    per-op latencies that go to the report line only: module calls, and on
    llm_data index probes, index mutations and stream micro-batches. Each
    latency is a median and the highest percentile with at least ten
    samples beyond it, with its sample count."""
    plain = [p for p in result["passes"] if not p["traced"]]
    metrics = {
        "setup_s": result["setup_s"],
        "pass_s": statistics.median(p["wall_s"] for p in plain),
        "pass_cpu_s": statistics.median(p["cpu_s"] for p in plain),
    }
    report = {"passes": len(plain), "window_s": result["window_s"],
              "peak_rss_mb": result["peak_rss_mb"],
              "retained_heap_mb": result["retained_heap_mb"],
              "session_s": result["session_s"]}
    lat = dict(result["op_ms"])
    if result["microbatch_ms"]:
        lat["microbatch"] = [float(x) for x in result["microbatch_ms"]]
    for kind, xs in sorted(lat.items()):
        p, v = tail(xs)
        report.update({f"{kind}_p50_ms": percentile(xs, 50.0), f"{kind}_tail_ms": v,
                       f"{kind}_tail_percentile": p, f"{kind}_samples": len(xs)})
    return metrics, report


def load_spans(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of `intervals`."""
    iv = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0, None, None
    for a, b in iv:
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


def span_tree(records):
    """Span records (pass, op, job, stage) keyed by id, each child clamped
    to its parent's interval: listener times have millisecond resolution,
    op times microsecond. Returns (spans, children, clamped count)."""
    spans = {r["id"]: dict(r, kind=r.get("kind", r["t"]))
             for r in records if r["t"] in ("span", "job", "stage")}
    children, clamped = {}, 0
    order = {"pass": 0, "op": 1, "job": 2, "stage": 3}
    for s in sorted(spans.values(), key=lambda s: order[s["kind"]]):
        p = spans.get(s["parent"])
        if p is None:
            continue
        a, b = max(s["start_us"], p["start_us"]), min(s["end_us"], p["end_us"])
        if (a, b) != (s["start_us"], s["end_us"]):
            clamped += 1
        s["start_us"], s["end_us"] = a, max(a, b)
        children.setdefault(p["id"], []).append(s)
    return spans, children, clamped


def self_times(spans, children):
    """Span id -> self time (us): wall minus the part its children cover."""
    return {i: (s["end_us"] - s["start_us"]) - covered(
        [(c["start_us"], c["end_us"]) for c in children.get(i, [])],
        s["start_us"], s["end_us"]) for i, s in spans.items()}


def per_layer(records, result):
    spans, children, clamped = span_tree(records)
    selfs = self_times(spans, children)
    passes = [s for s in spans.values() if s["kind"] == "pass"]
    ops = [s for s in spans.values() if s["kind"] == "op"]
    jobs = [s for s in spans.values() if s["kind"] == "job"]
    stages = [r for r in records if r["t"] == "stage"]
    plans = [r for r in records if r["t"] == "plan"]
    prog = [r for r in records if r["t"] == "progress"]
    op_by_id = {o["id"]: o for o in ops}
    wall_us = sum(p["end_us"] - p["start_us"] for p in passes) or 1
    npass = max(1, len(passes))
    wall_s = wall_us / 1e6

    def busy(pred):
        return sum(o["end_us"] - o["start_us"] for o in ops if pred(o["layer"])) / wall_us

    def driver(pred):
        return sum(selfs[o["id"]] for o in ops if pred(o["layer"])) / wall_us

    m = {"pipeline.busy_frac": busy(lambda l: l == "pipeline"),
         "pipeline.driver_frac": driver(lambda l: l == "pipeline")}
    for x in OPS_LAYERS:
        m[f"ops.{x}.busy_frac"] = busy(lambda l, x=x: l == f"ops.{x}")
    m["ops.driver_frac"] = driver(lambda l: l.startswith("ops."))
    for x in LLM_LAYERS:
        m[f"llm.{x}.busy_frac"] = busy(lambda l, x=x: l == f"llm.{x}")
    m["llm.driver_frac"] = driver(lambda l: l.startswith("llm."))
    m["streaming.busy_frac"] = busy(lambda l: l.startswith("streaming."))

    def plan_sum(key, pred=lambda o: True):
        return sum(p.get(key, 0) for p in plans
                   if p["parent"] in op_by_id and pred(op_by_id[p["parent"]]))

    m["plans.custom_nodes"] = plan_sum("custom") / npass
    m["functions.graft_exprs"] = plan_sum("graft_exprs") / npass
    m["functions.interpreted_exprs"] = plan_sum("interpreted") / npass
    dedup_calls = lambda o: o["layer"] == "llm.Dedup" and o["name"].startswith("q_")
    join_rows = plan_sum("join_rows", dedup_calls)
    m["llm.Dedup.pair_yield"] = plan_sum("out_rows", dedup_calls) / join_rows if join_rows else 0.0

    census = result.get("census") or {}
    index_rows = census.get("index_rows", {})

    def scan_frac(table, name):
        probes = [o for o in ops if o["name"] == name]
        total = index_rows.get(table, 0)
        if not probes or not total:
            return 0.0
        read = plan_sum(f"scan:{table}", lambda o: o["name"] == name)
        return read / (len(probes) * total)

    m["llm.AnnIndex.scan_frac"] = scan_frac("/ivf/cells", "ann_probe")
    m["llm.StandingIndex.files"] = census.get("index_files", 0)
    m["llm.StandingIndex.live_mb"] = census.get("index_bytes", 0) / MB
    m["llm.StandingIndex.compact_frac"] = sum(
        o["end_us"] - o["start_us"] for o in ops if o["name"].startswith("compact_")) / wall_us

    trig = sum(p["trigger_ms"] for p in prog)
    m["streaming.batches"] = len(prog) / npass
    m["streaming.rows_per_batch"] = sum(p["rows"] for p in prog) / len(prog) if prog else 0.0
    for key, name in (("add_ms", "add_batch"), ("plan_ms", "planning"),
                      ("offset_ms", "offset"), ("commit_ms", "commit")):
        m[f"streaming.{name}_frac"] = sum(p[key] for p in prog) / trig if trig else 0.0

    def st(key):
        return sum(s.get(key, 0) for s in stages)

    m["spark.jobs"] = len(jobs) / npass
    m["spark.stages"] = len(stages) / npass
    m["spark.tasks"] = st("tasks") / npass
    m["spark.task_run_s"] = st("run_ms") / 1e3 / npass
    m["spark.task_cpu_s"] = st("cpu_ns") / 1e9 / npass
    m["spark.task_wait_s"] = st("wait_ms") / 1e3 / npass
    m["spark.cores_busy_frac"] = st("run_ms") / 1e3 / (wall_s * result["cpus"])
    job_cover = sum(covered([(j["start_us"], j["end_us"]) for j in jobs],
                            p["start_us"], p["end_us"]) for p in passes)
    m["spark.driver_s"] = (wall_us - job_cover) / 1e6 / npass
    for key, name in (("shuffle_write", "shuffle_write_mb"), ("shuffle_read", "shuffle_read_mb"),
                      ("spill", "spill_mb"), ("scan", "scan_mb"), ("write", "write_mb")):
        m[f"spark.{name}"] = st(key) / MB / npass
    m["spark.broadcast_mb"] = plan_sum("broadcast") / MB / npass
    m["spark.peak_exec_mem_mb"] = max((s.get("peak_mem", 0) for s in stages), default=0) / MB
    traced = [p for p in result["passes"] if p["traced"]]
    m["spark.gc_s"] = sum(p["gc_s"] for p in traced) / max(1, len(traced))
    m["spark.codegen_compile_ms"] = result["codegen_ms"]
    m["fs.files_written"] = sum(o.get("files_written", 0) for o in ops) / npass
    m["fs.bytes_written_mb"] = sum(o.get("bytes_written", 0) for o in ops) / MB / npass
    m["fs.rewrite_mb"] = sum(o.get("bytes_written", 0) for o in ops
                             if o["name"].startswith("compact_")) / MB / npass
    plain = [p["wall_s"] for p in result["passes"] if not p["traced"]]
    m["trace.overhead_s"] = (statistics.median(p["wall_s"] for p in traced)
                             - statistics.median(plain)) if traced and plain else 0.0
    # Layer self time plus the job-covered time inside ops should account
    # for the pass wall; the remainder is the benchmark's own loop.
    in_ops = sum(selfs[o["id"]] + covered(
        [(j["start_us"], j["end_us"]) for j in children.get(o["id"], [])],
        o["start_us"], o["end_us"]) for o in ops)
    m["trace.accounted_frac"] = in_ops / wall_us
    report = {"spans": len(spans), "clamped_spans": clamped, "traced_passes": len(passes)}
    return m, report
