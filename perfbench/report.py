"""Per-layer metrics from a traced run, and the printed table.

Time metrics are seconds per op, averaged over every op of the traced
window.  Count metrics (jobs, stages, tasks, plan nodes) are per op over the
first cycle of the window, whose op sequence depends only on the seed, so
they repeat exactly across runs with the same seed.
"""

from __future__ import annotations

import statistics

from spans import WRITE_FUNCS

FAMILIES = (
    "dedup", "relational", "similarity", "text", "corpus", "sampling",
    "analytics", "governance", "io", "multimodal", "streaming",
)
KINDS = ("infer_ddl", "ingest_evolve", "dedup_corpus", "registry_mix")
LOAD_FUNCS = ("io.load_file", "io.read_")

LAYER_UNITS = {
    "session.start_s": "s",
    "io.load_s": "s",
    "io.load_jobs": "count",
    "io.write_s": "s",
    "io.write_mb": "MB",
    "ingest.append_s": "s",
    "ingest.write_mb": "MB/MB",
    "inference.self_s": "s",
    "inference.jobs": "count",
    "inference.rows_per_s": "1/s",
    "ddl.self_s": "s",
    "diff.self_s": "s",
    "diff.jobs": "count",
    "catalog.self_s": "s",
    "catalog.jobs": "count",
    "core.self_s": "s",
    "ops.self_s": "s",
    "streaming.self_s": "s",
    "op.construct_s": "s",
    "op.construct_jobs": "count",
    "op.action_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.stages_skipped": "count",
    "spark.tasks": "count",
    "plan.exchanges": "count",
    "plan.python_nodes": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "cache.persisted_peak": "count",
    "cache.mem_mb": "MB",
    "cache.leaked": "count",
    "streaming.batches": "count",
    "streaming.batch_p50_ms": "ms",
    "streaming.active_after_release": "count",
    **{f"family.{f}.self_s": "s" for f in FAMILIES},
    **{f"kind.{k}.p50_s": "s" for k in KINDS},
    "trace.overhead_frac": "frac",
    "failed_frac": "frac",
}


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(rec: dict) -> dict[str, float]:
    ops = rec["traced"]["ops"]
    n = len(ops)
    first = {o["op"] for o in ops[: rec["traced"]["cycle_len"]]}
    spans = rec["spans"]
    out = {k: 0.0 for k in LAYER_UNITS}
    out["session.start_s"] = rec["setup"]["session_s"]

    def span_sum(pred, key, counted_only=False):
        return sum(
            s[key] for s in spans if pred(s) and (not counted_only or s["op"] in first)
        )

    def per_op(total):
        return total / n if n else 0.0

    def per_first(total):
        return total / len(first) if first else 0.0

    is_load = lambda s: s["layer"] == "io" and s["name"].startswith(LOAD_FUNCS)  # noqa: E731
    is_write = lambda s: s["layer"] == "io" and s["name"].startswith(WRITE_FUNCS)  # noqa: E731
    out["io.load_s"] = per_op(span_sum(is_load, "self_s"))
    out["io.load_jobs"] = per_first(span_sum(is_load, "self_jobs", True))
    out["io.write_s"] = per_op(span_sum(is_write, "self_s"))
    # MB each call of a package io writer wrote (Spark's output metrics)
    calls = sum(o.get("io_writes", 0) for o in ops)
    out["io.write_mb"] = sum(o.get("io_write_mb", 0.0) for o in ops) / calls if calls else 0.0
    # the benchmark's own append of each ingest batch (no package function)
    out["ingest.append_s"] = per_op(span_sum(lambda s: s["name"] == "ingest.append", "dur_s"))
    written = sum(o.get("bytes_written", 0) for o in ops)
    user = sum(o.get("bytes_in", 0) for o in ops if "bytes_written" in o)
    out["ingest.write_mb"] = written / user if user else 0.0
    for layer in ("inference", "ddl", "diff", "catalog", "core", "ops", "streaming"):
        out[f"{layer}.self_s"] = per_op(span_sum(lambda s, L=layer: s["layer"] == L, "self_s"))
    for layer in ("inference", "diff", "catalog"):
        out[f"{layer}.jobs"] = per_first(
            span_sum(lambda s, L=layer: s["layer"] == L, "self_jobs", True)
        )
    # rows per second of inference: rows of the inferred inputs over the
    # inclusive time of the top-level inference calls
    infer_top = [
        s for s in spans if s["layer"] == "inference" and s["name"] == "inference.infer_table_schema"
    ]
    rows = sum(o.get("rows", 0) for o in ops if any(s["op"] == o["op"] for s in infer_top))
    t_inf = sum(s["dur_s"] for s in infer_top)
    out["inference.rows_per_s"] = rows / t_inf if t_inf else 0.0

    out["op.construct_s"] = _mean(o["construct_s"] for o in ops)
    out["op.action_s"] = _mean(o["action_s"] for o in ops)
    counted = [o for o in ops if o["op"] in first]
    for key, name in (
        ("construct_jobs", "op.construct_jobs"),
        ("jobs", "spark.jobs"),
        ("stages", "spark.stages"),
        ("stages_skipped", "spark.stages_skipped"),
        ("tasks", "spark.tasks"),
        ("exchanges", "plan.exchanges"),
        ("python_nodes", "plan.python_nodes"),
    ):
        out[name] = _mean(o.get(key, 0) for o in counted)
    for key in (
        "executor_run_s", "executor_cpu_s", "gc_s",
        "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
    ):
        out[f"spark.{key}"] = _mean(o.get(key, 0.0) for o in ops)
    for phase in ("analysis", "optimization", "planning"):
        out[f"catalyst.{phase}_ms"] = _mean(o.get(f"{phase}_ms", 0.0) for o in ops)
    out["cache.persisted_peak"] = max((o.get("persisted", 0) for o in ops), default=0)
    out["cache.mem_mb"] = max((o.get("cache_mem_mb", 0.0) for o in ops), default=0.0)
    out["cache.leaked"] = sum(o.get("leaked", 0) for o in ops)
    out["streaming.active_after_release"] = sum(o.get("streams_active", 0) for o in ops)
    batches = rec.get("stream_batches", [])
    out["streaming.batches"] = per_op(len(batches))
    out["streaming.batch_p50_ms"] = statistics.median(batches) if batches else 0.0
    for fam in FAMILIES:
        lat = [o["latency_s"] for o in ops if o.get("family") == fam]
        out[f"family.{fam}.self_s"] = _mean(lat)
    for kind in KINDS:
        lat = [o["latency_s"] for o in rec["untraced"]["ops"] if o["kind"] == kind]
        out[f"kind.{kind}.p50_s"] = statistics.median(lat) if lat else 0.0
    u, t = rec["untraced"], rec["traced"]
    ops_u = len(u["ops"]) / u["wall_s"]
    ops_t = len(t["ops"]) / t["wall_s"]
    out["trace.overhead_frac"] = ops_u / ops_t - 1.0
    out["failed_frac"] = rec["failed_frac"]
    return out


def print_table(rec, e2e, layers, failed_ops, attempted) -> None:
    import run

    tail = rec["op_tail"]
    print(
        f"perfbench {rec['workload']}  seed={rec['seed']}  local[{rec['cores']}]"
        f"  shuffle.partitions={rec['cores']}  sf={rec['sf']}  spark={rec['spark']}"
        f"  jdk={rec['jdk']}  trace={rec['trace']}"
    )
    print(
        f"  setup: session {rec['setup']['session_s']:.2f} s, inputs "
        f"{rec['setup']['inputs_s']:.2f} s, warm-up {rec['setup']['warmup_s']:.2f} s "
        f"in {len(rec['setup']['passes_s'])} passes "
        f"({', '.join(f'{p:.2f}' for p in rec['setup']['passes_s'])} s)"
    )
    w = rec["untraced"]
    print(
        f"  window: {len(w['ops'])} ops in {w['wall_s']:.2f} s, "
        f"{w['steal_s']:.2f} CPU-s stolen by other guests"
    )
    print(f"  {'metric':34s} {'value':>14s}  unit")
    for k, v in e2e.items():
        extra = ""
        if k == "op_tail_s":
            extra = f"  (p{tail['percentile']:.1f}, {tail['samples_beyond']} of {tail['samples']} samples beyond)"
        print(f"  {k:34s} {v:14.6g}  {run.END_TO_END[k]}{extra}")
    print(f"  {'failed_frac':34s} {rec['failed_frac']:14.6g}  frac  ({len(failed_ops)} of {attempted} ops)")
    for k, v in layers.items():
        print(f"  {k:34s} {v:14.6g}  {LAYER_UNITS[k]}")
    for o in failed_ops[:10]:
        print(f"  FAILED op {o['op']} {o['kind']}/{o['name']}: {o.get('reason')}")
