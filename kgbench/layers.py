"""Per-layer metrics of the traced run and the per-layer report.

Every traced run reports every metric in ``UNITS``; a layer the workload
does not touch reads 0 (the "bypassed by" prediction is no change).
"""

from __future__ import annotations

from kgbench.trace import OP_GROUP

STAGES = ("merged_ontology", "metadata", "annotation_subset", "constructed_edges",
          "logic_subset", "full_graph", "owlnets")
POOL_STAGES = ("metadata", "annotation_subset", "constructed_edges")

UNITS: dict[str, str] = {}
for _stage in STAGES:
    UNITS.update({f"checkpoint.{_stage}.s": "s", f"checkpoint.{_stage}.rows": "count",
                  f"checkpoint.{_stage}.jobs": "count"})
UNITS.update({
    "full_build.pool_s": "s",
    "full_build.pool_parallelism": "ratio",
    "owlnets.decode_roots.s": "s",
    "owlnets.assign_forests.s": "s",
    "owlnets.assign_forests.jobs": "count",
    "owlnets.decode_forests.s": "s",
    "owlnets.decode_forests.rows": "count",
    "owlnets.make_graph_connected.s": "s",
    "owlnets.make_graph_connected.jobs": "count",
    "owlnets.union_members_dropped": "count",
    "mentions.extract_and_detect.s": "s",
    "mentions.extract_and_detect.rows": "count",
    "mentions.extract_and_detect.task_cpu_s": "s",
    "canonicalize.build_canonical_map.s": "s",
    "canonicalize.build_canonical_map.jobs": "count",
    "linking.link_mentions.s": "s",
    "pipeline.derive_comention_edges.s": "s",
    "pipeline.derive_comention_edges.rows": "count",
    "pipeline.derive_comention_edges.shuffle_write_mb": "MB",
    "constructors.construct_edges.s": "s",
    "constructors.construct_edges.rows": "count",
    "sinks.write_ntriples.s": "s",
    "sinks.write_ntriples.mb": "MB",
    "dedup.embedding_near_duplicates.s": "s",
    "dedup.embedding_near_duplicates.rows": "count",
    "similarity.semantic_dedup.s": "s",
    "similarity.semantic_dedup.task_cpu_s": "s",
    "session.get_spark.s": "s",
    "spark.jobs": "count",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "trace.op_s": "s",
    "trace.plain_op_s": "s",
    "trace.overhead_s": "s",
    "trace.span_coverage": "ratio",
})


def _critical_path(op_spans) -> float:
    """merged_ontology → slowest pool stage → logic_subset → full_graph →
    owlnets: the stage spans that block the build's result."""
    def dur(stage):
        return sum(t1 - t0 for n, t0, t1, _ in op_spans if n == f"checkpoint.{stage}")
    return (dur("merged_ontology") + max(dur(s) for s in POOL_STAGES)
            + dur("logic_subset") + dur("full_graph") + dur("owlnets"))


def per_layer(workload, tracer, folded, op_spans, get_spark_s, traced_s, plain_s):
    """All per-layer metrics. ``op_spans`` are the spans of the traced op
    (the kg_build OWL-NETS step spans come after it and are excluded from
    the op's engine totals and coverage)."""
    m = {name: 0.0 for name in UNITS}

    def group(name, key):
        return folded.get(name, {}).get(key, 0)

    for name in {n for n, *_ in tracer.spans}:
        if f"{name}.s" in m:
            m[f"{name}.s"] = tracer.seconds(name)
        if f"{name}.jobs" in m:
            m[f"{name}.jobs"] = group(name, "jobs")
        if f"{name}.task_cpu_s" in m:
            m[f"{name}.task_cpu_s"] = group(name, "task_cpu_s")
        if f"{name}.shuffle_write_mb" in m:
            m[f"{name}.shuffle_write_mb"] = group(name, "shuffle_write_mb")
    for key, value in tracer.counts.items():
        if key in m:
            m[key] = value
    if workload == "kg_build":
        pool = [(t0, t1) for n, t0, t1, _ in op_spans
                if n in {f"checkpoint.{s}" for s in POOL_STAGES}]
        wall = max(t1 for _, t1 in pool) - min(t0 for t0, _ in pool)
        m["full_build.pool_s"] = wall
        m["full_build.pool_parallelism"] = sum(t1 - t0 for t0, t1 in pool) / wall
        covered = _critical_path(op_spans)
    else:
        covered = sum(t1 - t0 for _, t0, t1, _ in op_spans)
    op_groups = {OP_GROUP} | {n for n, *_ in op_spans}
    for key in ("jobs", "task_run_s", "task_cpu_s", "shuffle_write_mb", "spill_mb"):
        m[f"spark.{key}"] = sum(group(g, key) for g in op_groups)
    m["session.get_spark.s"] = get_spark_s
    m["trace.op_s"] = traced_s
    m["trace.plain_op_s"] = plain_s
    m["trace.overhead_s"] = traced_s - plain_s
    m["trace.span_coverage"] = covered / traced_s if traced_s else 0.0
    return m


def report(op_spans, traced_s: float, plain_s: float) -> dict:
    """Self time, count and share of the traced op's wall time per layer
    span. No span nests inside another (the pool stages overlap in time
    but run on separate threads), so a span's self time is its duration."""
    out: dict[str, dict] = {}
    for name, t0, t1, _ in op_spans:
        r = out.setdefault(name, {"self_s": 0.0, "count": 0})
        r["self_s"] += t1 - t0
        r["count"] += 1
    for r in out.values():
        r["share"] = r["self_s"] / traced_s if traced_s else 0.0
    return {"layers": out, "traced_op_s": traced_s, "plain_op_s": plain_s,
            "overhead_s": traced_s - plain_s}
