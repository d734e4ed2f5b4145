"""End-to-end and per-layer metrics from one harness run.

End-to-end metrics come from an untraced run; per-layer metrics from a
traced run, where every timed op is traced. The tracing overhead compares
each traced op with the same op of an untraced run of the same plan.
"""
import statistics

from pb.stats import percentile, self_ms, union_ms

END_TO_END = {"setup_s": "s", "read_p50_ms": "ms", "read_p90_ms": "ms",
              "ops_per_s": "1/s"}

PER_LAYER = {
    "frontdoor.self_ms": "ms",
    "ddl.stmt_ms": "ms", "ddl.jobs_per_stmt": "count",
    "ddl.bytes_written": "bytes", "ddl.write_amp": "ratio",
    "mv.refresh_ms": "ms", "mv.rewrite_ratio": "ratio",
    "catalyst.parse_ms": "ms", "catalyst.analyze_ms": "ms",
    "catalyst.optimize_ms": "ms", "catalyst.plan_ms": "ms",
    "catalyst.qe_per_op": "count",
    "codegen.compile_ms": "ms", "codegen.classes_per_op": "count",
    "codegen.miss_op_share": "ratio",
    "sched.jobs_per_op": "count", "sched.stages_per_op": "count",
    "sched.tasks_per_op": "count", "sched.job_busy_ms": "ms",
    "sched.driver_gap_ms": "ms", "sched.task_overhead_ms": "ms",
    "io.input_bytes": "bytes", "io.shuffle_bytes": "bytes",
    "io.spill_bytes": "bytes", "io.output_bytes": "bytes",
    "stage.build_ms": "ms", "stage.build_op_share": "ratio",
    "jvm.gc_ms": "ms", "jvm.heap_peak_mb": "MB",
    "setup.session_ms": "ms", "setup.engine_ms": "ms",
    "setup.prep_ms": "ms", "setup.warmup_ms": "ms",
    "write.p50_ms": "ms", "write.p90_ms": "ms",
    "prop.compiles_share": "ratio", "prop.stage_build_share": "ratio",
    "prop.jobs_gt5_share": "ratio", "prop.mv_served_share": "ratio",
    "trace.overhead_ratio": "ratio", "trace.ops": "count",
}

PHASES = {"catalyst.parse_ms": "catalyst.parse",
          "catalyst.analyze_ms": "catalyst.analyze",
          "catalyst.optimize_ms": "catalyst.optimize",
          "catalyst.plan_ms": "catalyst.plan"}


def _mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _share(flags):
    flags = list(flags)
    return sum(1 for f in flags if f) / len(flags) if flags else 0.0


def end_to_end(run, meta):
    reads = [o["wall_ms"] for o in run["ops"] if meta[o["id"]]["cls"] == "read"]
    ok = sum(1 for o in run["ops"] if o["ok"])
    return {
        "setup_s": run["setup"]["total_ms"] / 1000.0,
        "read_p50_ms": statistics.median(reads),
        "read_p90_ms": percentile(reads, 90),
        "ops_per_s": ok / (run["loop_ms"] / 1000.0),
    }


def per_layer(run, meta, rows_changed, base):
    """rows_changed: op id -> rows a DML statement changed (from the
    DuckDB replay), for the write amplification; base: the untraced run
    of the same plan, for the tracing overhead."""
    counts = {int(k): v for k, v in run.get("counts", {}).items()}
    spans = {}
    for op, name, a, b in run.get("spans", []):
        spans.setdefault(op, {}).setdefault(name, []).append((a, b))
    walls = {o["id"]: o["wall_ms"] for o in run["ops"]}
    ops = [o["id"] for o in run["ops"]]
    traced = [i for i in ops if "op" in spans.get(i, {})]
    cls = {i: meta[i]["cls"] for i in ops}
    reads = [i for i in traced if cls[i] == "read"]
    writes = [i for i in ops if cls[i] == "write"]
    dml = [i for i in traced
           if cls[i] == "write" and meta[i]["key"] != "refresh_mv"]
    refresh = [i for i in traced if meta[i]["key"] == "refresh_mv"]

    def c(i, k):
        return counts.get(i, {}).get(k, 0.0)

    def jobs_union(i):
        (op_span,) = spans[i]["op"]
        clipped = [(max(a, op_span[0]), min(b, op_span[1]))
                   for a, b in spans[i].get("job", [])]
        return union_ms([(a, b) for a, b in clipped if b > a])

    def phase_ms(i, name):
        return sum(b - a for a, b in spans[i].get(name, []))

    m = {}
    fronts = []
    for i in reads:
        for f in spans[i].get("frontdoor", []):
            kids = spans[i].get("catalyst.parse", []) + \
                spans[i].get("catalyst.analyze", [])
            fronts.append(self_ms(f, kids))
    m["frontdoor.self_ms"] = _mean(fronts)
    m["ddl.stmt_ms"] = _mean(walls[i] for i in dml)
    m["ddl.jobs_per_stmt"] = _mean(c(i, "jobs") for i in dml)
    m["ddl.bytes_written"] = _mean(c(i, "output_bytes") for i in dml)
    changed = sum(rows_changed.get(i, 0) for i in dml)
    m["ddl.write_amp"] = (sum(c(i, "output_records") for i in dml) / changed
                          if changed else 0.0)
    m["mv.refresh_ms"] = _mean(walls[i] for i in refresh)
    eligible = [i for i in reads if meta[i].get("mv_eligible")]
    m["mv.rewrite_ratio"] = _share(c(i, "mv_scans") > 0 for i in eligible)
    for k, name in PHASES.items():
        m[k] = _mean(phase_ms(i, name) for i in reads)
    m["catalyst.qe_per_op"] = _mean(c(i, "qe") for i in reads)
    m["codegen.compile_ms"] = _mean(c(i, "compile_ns") / 1e6 for i in reads)
    m["codegen.classes_per_op"] = _mean(c(i, "classes") for i in reads)
    m["codegen.miss_op_share"] = _share(c(i, "classes") >= 1 for i in reads)
    m["sched.jobs_per_op"] = _mean(c(i, "jobs") for i in reads)
    m["sched.stages_per_op"] = _mean(c(i, "stages") for i in reads)
    m["sched.tasks_per_op"] = _mean(c(i, "tasks") for i in reads)
    m["sched.job_busy_ms"] = _mean(jobs_union(i) for i in reads)
    m["sched.driver_gap_ms"] = _mean(
        (spans[i]["op"][0][1] - spans[i]["op"][0][0]) - jobs_union(i)
        for i in reads)
    m["sched.task_overhead_ms"] = _mean(
        c(i, "task_wall_ms") - c(i, "task_run_ms") for i in reads)
    for k in ("input", "shuffle", "spill", "output"):
        m[f"io.{k}_bytes"] = _mean(c(i, f"{k}_bytes") for i in reads)
    m["stage.build_ms"] = _mean(c(i, "stage_build_ms") for i in reads)
    m["stage.build_op_share"] = _share(c(i, "stage_build_ms") > 0
                                       for i in reads)
    m["jvm.gc_ms"] = run["gc_ms"] / max(1, len(ops))
    m["jvm.heap_peak_mb"] = run["heap_peak_mb"]
    for k in ("session", "engine", "prep", "warmup"):
        m[f"setup.{k}_ms"] = run["setup"][f"{k}_ms"]
    w = [walls[i] for i in writes]
    m["write.p50_ms"] = statistics.median(w) if w else 0.0
    m["write.p90_ms"] = percentile(w, 90) if w else 0.0
    m["prop.compiles_share"] = _share(c(i, "classes") >= 1 for i in traced)
    m["prop.stage_build_share"] = _share(c(i, "stage_build_ms") > 0
                                         for i in traced)
    m["prop.jobs_gt5_share"] = _share(c(i, "jobs") > 5 for i in traced)
    m["prop.mv_served_share"] = _share(
        cls[i] == "read" and c(i, "mv_scans") > 0 for i in traced)
    m["trace.overhead_ratio"] = overhead(run, base)
    m["trace.ops"] = float(len(traced))
    return m


def overhead(traced, untraced):
    """Median over the ops both runs completed of traced wall / untraced
    wall, minus 1. Both runs execute the same plan, so an op id names the
    same statement with the same inputs in each."""
    base = {o["id"]: o["wall_ms"] for o in untraced["ops"] if o["ok"]}
    ratios = [o["wall_ms"] / base[o["id"]] for o in traced["ops"]
              if o["ok"] and base.get(o["id"])]
    return statistics.median(ratios) - 1.0 if ratios else 0.0
