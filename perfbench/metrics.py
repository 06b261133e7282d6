"""Turns one driver result into the benchmark's metrics.

End-to-end metrics come from the untraced passes. Per-layer metrics come
from the traced passes of a `--trace 1` run: spans recorded around the
driver's calls into each layer, with Spark task, job and query events
attributed to the spans whose interval holds them. Time and count metrics
are per traced pass.
"""
import statistics

MODULES = ["Dedup", "TextAnalysis", "Similarity", "Multimodal", "Retrieval"]
STAR_OUTPUTS = ["dim_customer", "dim_product", "dim_territory", "dim_date",
                "fact_sales_detail", "fact_sales_agg_daily_product"]
TIERS = ["tf", "term_stats"]
COMPACTED = ["tf"]
LAYERS = ["jobs", "sources", "operators", "CacheLifecycle", "streaming"]

END_TO_END = [("pass_cpu_s", "s"), ("setup_s", "s")]

PER_LAYER = (
    [("jobs.IngestJob.s", "s"), ("jobs.TransformJob.s", "s")]
    + [(f"jobs.TransformJob.{o}.s", "s") for o in STAR_OUTPUTS]
    + [("jobs.driver_gap_s", "s"), ("jobs.slot_util", "ratio"),
       ("sources.ParquetSink.write_s", "s"), ("sources.ParquetSink.bytes", "bytes"),
       ("sources.ParquetSink.files", "count")]
    + [(f"operators.{m}.{k}", u) for m in MODULES for k, u in
       [("build_s", "s"), ("build_jobs", "count"), ("run_s", "s"), ("run_jobs", "count"),
        ("task_s", "s"), ("driver_gap_s", "s"), ("shuffle_bytes", "bytes")]]
    + [("operators.slot_util", "ratio"),
       ("CacheLifecycle.frames_pinned", "count"), ("CacheLifecycle.cache_scans", "count"),
       ("CacheLifecycle.hit_ratio", "ratio"), ("CacheLifecycle.reset_s", "s"),
       ("CacheLifecycle.pinned_bytes", "bytes"), ("mem.live_heap_mb", "MB"),
       ("mem.peak_rss_mb", "MB"),
       ("plans.codegen_classes", "count"), ("plans.codegen_compile_s", "s"),
       ("plans.setup_codegen_classes", "count"), ("plans.optimize_s", "s"),
       ("plans.planning_s", "s")]
    + [(f"streaming.{t}.{k}", u) for t in TIERS for k, u in
       [("fold_s", "s"), ("erase_s", "s"), ("state_files", "count"),
        ("state_bytes", "bytes")]]
    + [(f"streaming.{t}.compact_s", "s") for t in COMPACTED]
    + [("streaming.seed_s", "s"), ("streaming.serve_s", "s"), ("streaming.asof_s", "s"),
       ("streaming.fold_p50_s", "s"), ("streaming.serve_p50_s", "s"),
       ("streaming.driver_gap_s", "s"), ("streaming.slot_util", "ratio"),
       ("fs.bytes_read", "bytes"), ("fs.bytes_written", "bytes"),
       ("spark.jobs", "count"), ("spark.tasks", "count"), ("spark.task_s", "s"),
       ("spark.shuffle_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
       ("pass.driver_gap_s", "s"), ("pass.slot_util", "ratio")]
    + [(f"self_s.{layer}", "s") for layer in LAYERS + ["driver"]]
    + [("trace.overhead_ratio", "ratio"), ("trace.traced_pass_s", "s"),
       ("trace.untraced_pass_s", "s"), ("setup.wall_s", "s")]
)


class Window:
    """Task, job and query events inside a set of spans."""

    def __init__(self, spans, tasks, jobs, queries):
        iv = [(s["start_us"], s["end_us"]) for s in spans]

        def inside(t_us):
            return any(a <= t_us <= b for a, b in iv)
        self.tasks = [t for t in tasks if inside(t[0] * 1000)]
        self.jobs = [j for j in jobs if inside(j[1] * 1000)]
        self.queries = [q for q in queries if inside(q[0] * 1000)]
        self.wall = sum(b - a for a, b in iv) / 1e6
        covered = 0.0
        for a, b in iv:
            segs = sorted((max(t[0] * 1000, a), min(t[1] * 1000, b)) for t in self.tasks
                          if t[0] * 1000 < b and t[1] * 1000 > a)
            end = a
            for s, e in segs:
                if e > end:
                    covered += e - max(s, end)
                    end = e
        self.gap = max(self.wall - covered / 1e6, 0.0)
        self.task_s = sum(t[2] for t in self.tasks) / 1000.0
        self.shuffle = sum(t[4] + t[5] for t in self.tasks)
        self.spill = sum(t[6] for t in self.tasks)

    def util(self, cpus):
        return self.task_s / (self.wall * cpus) if self.wall > 0 else 0.0


def _self_times(spans):
    """Per-layer self time: span duration minus the part its children cover."""
    child = {}
    for s in spans:
        if s["parent"] >= 0:
            child[s["parent"]] = child.get(s["parent"], 0) + s["end_us"] - s["start_us"]
    out = {}
    for s in spans:
        layer = s["name"].split(".")[0]
        out[layer] = out.get(layer, 0.0) + (s["end_us"] - s["start_us"]
                                             - child.get(s["id"], 0)) / 1e6
    return out


def _per_layer(res, cpus, traced, untraced):
    n = max(len(traced), 1)
    ids = {p["pass"] for p in traced}
    spans = [s for s in res["spans"] if s["pass"] in ids]
    tasks, jobs, queries = res["spark"]["tasks"], res["spark"]["jobs"], res["queries"]

    def win(pred):
        return Window([s for s in spans if pred(s["name"])], tasks, jobs, queries)

    def wall(name):
        return sum(s["end_us"] - s["start_us"] for s in spans if s["name"] == name) / 1e6 / n

    m = {}
    m["jobs.IngestJob.s"] = wall("jobs.IngestJob")
    m["jobs.TransformJob.s"] = wall("jobs.TransformJob")
    for o in STAR_OUTPUTS:
        m[f"jobs.TransformJob.{o}.s"] = wall(f"jobs.TransformJob.{o}")
    w = win(lambda s: s in ("jobs.IngestJob", "jobs.TransformJob"))
    m["jobs.driver_gap_s"] = w.gap / n
    m["jobs.slot_util"] = w.util(cpus)
    m["sources.ParquetSink.write_s"] = wall("sources.ParquetSink.write")
    m["sources.ParquetSink.bytes"] = sum(int(p.get("sink_bytes", 0)) for p in traced) / n
    m["sources.ParquetSink.files"] = sum(int(p.get("sink_files", 0)) for p in traced) / n
    for mod in MODULES:
        b = win(lambda s: s == f"operators.{mod}.build")
        r = win(lambda s: s == f"operators.{mod}.run")
        m[f"operators.{mod}.build_s"] = b.wall / n
        m[f"operators.{mod}.build_jobs"] = len(b.jobs) / n
        m[f"operators.{mod}.run_s"] = r.wall / n
        m[f"operators.{mod}.run_jobs"] = len(r.jobs) / n
        m[f"operators.{mod}.task_s"] = (b.task_s + r.task_s) / n
        m[f"operators.{mod}.driver_gap_s"] = (b.gap + r.gap) / n
        m[f"operators.{mod}.shuffle_bytes"] = (b.shuffle + r.shuffle) / n
    m["operators.slot_util"] = win(lambda s: s.startswith("operators.")).util(cpus)
    pinned = sum(int(p.get("frames_pinned", 0)) for p in traced) / n
    passes = win(lambda s: True)
    scans = sum(q[3] for q in passes.queries) / n
    m["CacheLifecycle.frames_pinned"] = pinned
    m["CacheLifecycle.cache_scans"] = scans
    m["CacheLifecycle.hit_ratio"] = scans / (scans + pinned) if scans + pinned else 0.0
    m["CacheLifecycle.reset_s"] = wall("CacheLifecycle.reset")
    m["CacheLifecycle.pinned_bytes"] = sum(int(p["pinned_bytes"]) for p in traced) / n
    m["mem.live_heap_mb"] = sum(int(p["live_heap_bytes"]) for p in traced) / n / 2**20
    m["mem.peak_rss_mb"] = res["vm_hwm_kb"] / 1024.0
    marks = res["marks"]
    n_all = max(len(res["passes"]), 1)

    def compiled_ms(mark):
        c = marks[mark]["codegen"]
        return c["count"] * (c["mean_ms"] or 0.0)
    m["plans.codegen_classes"] = (marks["end"]["codegen"]["count"]
                                  - marks["ready"]["codegen"]["count"]) / n_all
    # the compile-time histogram keeps a sample reservoir, so this is an estimate
    m["plans.codegen_compile_s"] = max(compiled_ms("end") - compiled_ms("ready"), 0.0) / 1e3 / n_all
    m["plans.setup_codegen_classes"] = (marks["ready"]["codegen"]["count"]
                                        - marks["session"]["codegen"]["count"])
    m["plans.optimize_s"] = sum(q[1] for q in passes.queries) / 1e3 / n
    m["plans.planning_s"] = sum(q[2] for q in passes.queries) / 1e3 / n
    for t in TIERS:
        m[f"streaming.{t}.fold_s"] = wall(f"streaming.{t}.fold")
        m[f"streaming.{t}.erase_s"] = wall(f"streaming.{t}.erase")
        for k in ("state_files", "state_bytes"):
            vals = [int(p.get(f"{t}.{k}", 0)) for p in untraced + traced]
            m[f"streaming.{t}.{k}"] = statistics.median(vals) if vals else 0
    for t in COMPACTED:
        m[f"streaming.{t}.compact_s"] = wall(f"streaming.{t}.compact")
    m["streaming.seed_s"] = wall("streaming.seed")
    m["streaming.serve_s"] = wall("streaming.serve")
    m["streaming.asof_s"] = wall("streaming.asof")
    timed = [o for o in res["ops"] if o["pass"] >= 0]
    for kind in ("fold", "serve"):
        v = [o["seconds"] for o in timed if o["kind"] == kind]
        m[f"streaming.{kind}_p50_s"] = statistics.median(v) if v else 0.0
    w = win(lambda s: s.startswith("streaming."))
    m["streaming.driver_gap_s"] = w.gap / n
    m["streaming.slot_util"] = w.util(cpus)
    fs0, fs1 = marks["ready"]["fs"], marks["end"]["fs"]
    for k in ("bytes_read", "bytes_written"):
        m[f"fs.{k}"] = (fs1[k] - fs0[k]) / n_all
    # whole traced passes: the span covering each pass is its wall clock
    starts = {}
    for s in spans:
        a, b = starts.get(s["pass"], (s["start_us"], s["end_us"]))
        starts[s["pass"]] = (min(a, s["start_us"]), max(b, s["end_us"]))
    pass_spans = [{"start_us": a, "end_us": b} for a, b in starts.values()]
    pw = Window(pass_spans, tasks, jobs, queries)
    m["spark.jobs"] = len(pw.jobs) / n
    m["spark.tasks"] = len(pw.tasks) / n
    m["spark.task_s"] = pw.task_s / n
    m["spark.shuffle_bytes"] = pw.shuffle / n
    m["spark.spill_bytes"] = pw.spill / n
    m["pass.driver_gap_s"] = pw.gap / n
    m["pass.slot_util"] = pw.util(cpus)
    self_t = _self_times(spans)
    for layer in LAYERS:
        m[f"self_s.{layer}"] = self_t.get(layer, 0.0) / n
    top = sum(s["end_us"] - s["start_us"] for s in spans if s["parent"] < 0) / 1e6
    m["self_s.driver"] = max(sum(p["seconds"] for p in traced) - top, 0.0) / n
    t_med = statistics.median(p["seconds"] for p in traced) if traced else 0.0
    u_med = statistics.median(p["seconds"] for p in untraced) if untraced else 0.0
    m["trace.traced_pass_s"] = t_med
    m["trace.untraced_pass_s"] = u_med
    m["trace.overhead_ratio"] = t_med / u_med if u_med else 0.0
    return m


def _op_summary(ops):
    kinds = {}
    for o in ops:
        kinds.setdefault((o["pass"] >= 0, o["kind"]), []).append(o["seconds"])
    return {("" if timed else "warmup:") + k: {"n": len(v), "median_s": statistics.median(v)}
            for (timed, k), v in sorted(kinds.items())}


def compute(res, checks, setup_s, setup_cpu_s, cpus, trace):
    # a traced run's settling pass counts on neither side of the overhead
    untraced = [p for p in res["passes"] if not p["traced"] and not p["settle"]]
    traced = [p for p in res["passes"] if p["traced"]]
    m = {
        "pass_s": statistics.median(p["seconds"] for p in untraced),
        "pass_cpu_s": statistics.median(float(p["cpu_seconds"]) for p in untraced),
        # set-up is timed in CPU seconds: its wall time follows hypervisor steal
        "setup_s": setup_cpu_s,
        "setup_wall_s": setup_s,
    }
    if trace:
        m.update(_per_layer(res, cpus, traced, untraced))
        m["setup.wall_s"] = setup_s
    failed_ops = sum(1 for o in res["ops"] if not o["ok"])
    failed_checks = sum(1 for c in checks if not c["ok"])
    return {
        "metrics": m,
        "attempted": len(res["ops"]) + len(checks),
        "failed": failed_ops + failed_checks,
        "op_summary": _op_summary(res["ops"]),
        "passes": [{k: p[k] for k in ("pass", "traced", "settle", "seconds", "cpu_seconds")}
                   for p in res["passes"]],
        "checks": checks,
        "heap_max_bytes": res["heap_max_bytes"],
        "peak_rss_mb": res["vm_hwm_kb"] / 1024.0,
    }
