"""The per-layer metrics a traced run reports, and how they are read off
the attributed spans.

Every traced run prints every metric below; a layer the workload does
not enter reads 0.
"""

from __future__ import annotations

from workloads import CURATION_STAGES, PIPELINE_LAYERS

STAGE_METRICS = {
    "wall_s": "s",
    "driver_s": "s",
    "task_run_s": "s",
    "task_cpu_s": "s",
    "gc_s": "s",
    "blocked_s": "s",
    "shuffle_bytes": "B",
    "spill_bytes": "B",
    "output_bytes": "B",
    "jobs": "count",
    "stages": "count",
}
REDISCOVER_METRICS = {"wall_s": "s", "driver_s": "s", "task_cpu_s": "s", "jobs": "count"}
CURATION_METRICS = {
    "wall_s": "s",
    "task_cpu_s": "s",
    "blocked_s": "s",
    "shuffle_bytes": "B",
    "jobs": "count",
}
WEB_METRICS = {
    "plan_s": "s",
    "plan_jobs": "count",
    "exec_s": "s",
    "task_cpu_s": "s",
    "blocked_s": "s",
    "records_in": "count",
    "rows_out": "count",
}
# metrics where a larger value is the better one
HIGHER_IS_BETTER = {"records_in", "rows_out", "labelled_share"}


def spec() -> dict[str, str]:
    """Per-layer metric name → unit, in the order they are printed."""
    out = {"session.start_s": "s", "session.warmup_s": "s"}
    for layer in PIPELINE_LAYERS.values():
        out.update({f"{layer}.{m}": u for m, u in STAGE_METRICS.items()})
    out.update({f"pipeline.rediscover.{m}": u for m, u in REDISCOVER_METRICS.items()})
    out.update({"orchestration.task_attempts": "count", "orchestration.overhead_s": "s"})
    out["quality_model.train_s"] = "s"
    for stage in CURATION_STAGES:
        out.update({f"curation.{stage}.{m}": u for m, u in CURATION_METRICS.items()})
    out.update({"curation.stage_sum_s": "s", "curation.fused_s": "s"})
    for shape in ("indexed", "glob"):
        out.update({f"web.{shape}.{m}": u for m, u in WEB_METRICS.items()})
    out.update({"trace.wall_s": "s", "trace.overhead_s": "s", "trace.labelled_share": "ratio"})
    return out


def values(layers: dict[str, dict], timings: dict, facts: dict) -> dict[str, float]:
    """Per-layer metric values from per-layer span sums (``spans.by_layer``),
    set-up timings and workload facts. Absent layers read 0."""

    def get(layer, metric):
        return layers.get(layer, {}).get(metric, 0)

    out = {}
    for name in spec():
        layer, metric = name.rsplit(".", 1)
        out[name] = timings.get(name, facts.get(name, get(layer, metric)))
    out["orchestration.overhead_s"] = get("orchestration", "self_s")
    out["curation.stage_sum_s"] = sum(get(f"curation.{s}", "wall_s") for s in CURATION_STAGES)
    out["curation.fused_s"] = get("curation.fused", "wall_s")
    for shape in ("indexed", "glob"):
        plan, run = f"web.{shape}.plan", f"web.{shape}.exec"
        out[f"web.{shape}.plan_s"] = get(plan, "wall_s")
        out[f"web.{shape}.plan_jobs"] = get(plan, "jobs")
        out[f"web.{shape}.exec_s"] = get(run, "wall_s")
        for m in ("task_cpu_s", "blocked_s"):
            out[f"web.{shape}.{m}"] = get(plan, m) + get(run, m)
    return out
