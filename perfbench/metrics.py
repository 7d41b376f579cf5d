"""Turns the raw samples of one run into the benchmark's metrics.

End-to-end metrics come from untraced passes, per-layer metrics from the
traced passes of a ``--trace 1`` run (median over those passes).
"""
import statistics

END_TO_END_UNITS = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "pass_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "ops_per_s": "1/s",
    "peak_heap_mb": "MB",
}

MODULES = ("graph", "text", "dedup", "similarity", "operators", "core",
           "streaming")
STAGES = ("curate", "mix", "pack")

# Per-layer metrics summed over the operations of a pass, straight from
# the listener counters.
SUMMED = (
    "catalyst.analysis_ms", "catalyst.optimizer_ms", "catalyst.planning_ms",
    "catalyst.plan_nodes",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.task_s", "exec.cpu_s",
    "exec.gc_s", "exec.driver_gap_s",
    "shuffle.write_mb", "shuffle.read_mb", "shuffle.fetch_wait_s",
    "spill.mem_mb", "spill.disk_mb", "io.input_mb", "io.output_mb",
    "stream.batches", "stream.trigger_s", "stream.add_batch_s",
    "stream.query_planning_s", "stream.wal_commit_s",
    "stream.state_commit_s", "stream.state_rows",
)


def _unit(name):
    for suffix, unit in (("_ms", "ms"), ("_mb", "MB"), ("_s", "s")):
        if name.endswith(suffix) or name.endswith("." + suffix[1:]):
            return unit
    return "count"


PER_LAYER_UNITS = {k: _unit(k) for k in (
    ("queries.build_s", "exec.materialize_s") + SUMMED
    + ("shuffle.peak_stage_mb", "cache.residual_rdds", "cache.peak_storage_mb")
    + tuple(f"{m}.{p}_s" for m in MODULES for p in ("build", "exec"))
    + tuple(f"{s}.{k}" for s in STAGES
            for k in ("s", "shuffle_mb", "peak_stage_mb"))
    + ("stream.probe_s", "trace.overhead_s"))}


def tail(samples, beyond=10):
    """The highest percentile with at least `beyond` samples above it, but
    never below the median.

    Returns (value, percentile, n). With n sorted samples, the value at
    index i has n - 1 - i samples beyond it, so the tail is the sample at
    index n - 1 - beyond, reported as the percentile 100 * (i + 1) / n.
    With fewer than 2 * beyond + 1 samples that percentile would lie at or
    below the median, so the median is returned, labelled 50.
    """
    s = sorted(samples)
    n = len(s)
    if n == 0:
        raise ValueError("no samples")
    i = n - 1 - beyond
    if 100.0 * (i + 1) / n <= 50.0:
        return statistics.median(s), 50.0, n
    return s[i], 100.0 * (i + 1) / n, n


def op_wall(op):
    return op["build_s"] + op["exec_s"]


def pass_wall(p):
    return sum(op_wall(op) for op in p["ops"])


def steady_ops(passes):
    """Each operation's steady time: its fastest across the given passes.
    Outside load only ever slows an operation, and later passes are still
    warming up, so the minimum is the steadiest estimate (graft.Bench takes
    min-of-N for the same reason)."""
    by_op = {}
    for p in passes:
        for op in p["ops"]:
            by_op.setdefault(op["name"], []).append(op_wall(op))
    return [min(v) for v in by_op.values()]


def steady_pass(passes):
    """A steady pass: the sum of the operations' steady times."""
    return sum(steady_ops(passes))


def _layers_of_pass(p):
    """Per-layer values of one traced pass."""
    out = {k: 0.0 for k in PER_LAYER_UNITS}
    for op in p["ops"]:
        lay = op.get("layers", {})
        for k in SUMMED:
            out[k] += lay.get(k, 0.0)
        out["shuffle.peak_stage_mb"] = max(out["shuffle.peak_stage_mb"],
                                           lay.get("shuffle.peak_stage_mb",
                                                   0.0))
        out["queries.build_s"] += op["build_s"]
        out["exec.materialize_s"] += op["exec_s"]
        out["cache.residual_rdds"] += op["residual_rdds"]
        if op["module"] in MODULES:
            out[f"{op['module']}.build_s"] += op["build_s"]
            out[f"{op['module']}.exec_s"] += op["exec_s"]
        if op["name"] in STAGES:
            out[f"{op['name']}.s"] += op_wall(op)
            out[f"{op['name']}.shuffle_mb"] += lay.get("shuffle.write_mb", 0.0)
            out[f"{op['name']}.peak_stage_mb"] = max(
                out[f"{op['name']}.peak_stage_mb"],
                lay.get("shuffle.peak_stage_mb", 0.0))
    out["cache.peak_storage_mb"] = p.get("peak_storage_mb", 0.0)
    return out


def record(raw, trace):
    passes = raw["passes"]
    cold = [p for p in passes if p["cold"]]
    steady = [p for p in passes if not p["cold"] and not p["traced"]]
    traced = [p for p in passes if p["traced"]]
    ops = [op for p in passes for op in p["ops"]]
    if raw.get("final_check") is not None:
        # the check of the last pass's outputs counts as one operation
        ops.append(dict(raw["final_check"], name="final_check"))
    failures = sorted({(op["name"], op.get("error", "")) for op in ops
                       if op["ok"] is not True})
    attempted, failed = len(ops), sum(op["ok"] is not True for op in ops)

    op_samples = steady_ops(steady)
    tail_v, tail_pct, n = tail(op_samples)
    pass_s = sum(op_samples)
    e2e = {
        "setup_s": statistics.median(raw["setup_s"]),
        "cold_pass_s": pass_wall(cold[0]),
        "pass_s": pass_s,
        "op_p50_s": statistics.median(op_samples),
        "op_tail_s": tail_v,
        "ops_per_s": len(op_samples) / pass_s,
        "peak_heap_mb": max(p["heap_mb"] for p in passes),
    }
    rec = {
        "workload": raw["workload"],
        "seed": raw["seed"],
        "cores": raw["cores"],
        "trace": int(trace),
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "fail_frac": failed / attempted,
        "failures": [{"op": o, "error": e} for o, e in failures],
        "op_tail": {"percentile": tail_pct, "samples": n},
        "steady_passes": len(steady),
        "samples": {
            "setup_s": raw["setup_s"],
            "pass_s": [pass_wall(p) for p in steady],
            "op_s": op_samples,
            "heap_mb": [p["heap_mb"] for p in passes],
        },
        "context": raw["context"],
        "end_to_end": e2e,
    }
    if int(raw["input_docs"]) > 0:
        rec["docs_per_s"] = int(raw["input_docs"]) / pass_s
        rec["input_docs"] = int(raw["input_docs"])
    if trace:
        per = [_layers_of_pass(p) for p in traced]
        layers = {k: statistics.median(x[k] for x in per)
                  for k in PER_LAYER_UNITS}
        layers["stream.probe_s"] = raw["stream_probe_s"]
        layers["trace.overhead_s"] = steady_pass(traced) - pass_s
        rec["per_layer"] = layers
        rec["per_op_layers"] = {
            op["name"]: op.get("layers", {}) for op in traced[-1]["ops"]}
        rec["metrics"] = {k: {"value": layers[k], "unit": PER_LAYER_UNITS[k]}
                          for k in PER_LAYER_UNITS}
    else:
        rec["metrics"] = {k: {"value": e2e[k], "unit": END_TO_END_UNITS[k]}
                          for k in END_TO_END_UNITS}
    return rec


def summary_lines(rec):
    lines = [f"workload {rec['workload']} seed {rec['seed']} "
             f"cores {rec['cores']} trace {rec['trace']}: "
             f"{rec['attempted']} ops, {rec['failed']} failed "
             f"(fail_frac {rec['fail_frac']:.4f})"]
    for f in rec["failures"]:
        lines.append(f"  FAILED {f['op']}: {f['error']}")
    for k, m in rec["metrics"].items():
        extra = ""
        if k == "op_tail_s":
            t = rec["op_tail"]
            extra = f"  (p{t['percentile']:.1f} of {t['samples']} samples)"
        lines.append(f"  {k} = {m['value']:.6g} {m['unit']}{extra}")
    if "docs_per_s" in rec and not rec["trace"]:
        lines.append(f"  docs_per_s = {rec['docs_per_s']:.6g} 1/s "
                     f"(k-copy corpus of {rec['input_docs']} documents)")
    c = rec["context"]
    lines.append(f"  context: loadavg {c['loadavg_1m']['start']:.2f} -> "
                 f"{c['loadavg_1m']['end']:.2f}, calibration "
                 f"{c['calibration_s']['start']:.3f} -> "
                 f"{c['calibration_s']['end']:.3f} s")
    return lines
