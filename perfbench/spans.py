"""Spans around calls into the package, attributed to the Spark work
they caused.

A span wraps one call into a layer of the package (a CLI subcommand, one
curation stage, one ingest plan build). While it is open, Spark jobs
submitted from this thread carry a job group unique to the span, so the
AppStatusStore can say afterwards which jobs, and through them which
stages and task metrics, belong to which span. Spans nest: closing an
inner span restores the outer span's group. Nothing is read from Spark
while spans are open; the store is read once, after the traced work,
and serialized on the JVM side in one call.

Everything above :class:`StatusStore` is plain Python over the store's
JSON records (the shapes of Spark's REST API), so it is tested without
a session.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass

# stage-record field → (metric, scale to seconds or bytes)
STAGE_SUMS = {
    "executorRunTime": ("task_run_s", 1e-3),
    "executorCpuTime": ("task_cpu_s", 1e-9),
    "jvmGcTime": ("gc_s", 1e-3),
    "shuffleWriteBytes": ("shuffle_bytes", 1),
    "diskBytesSpilled": ("spill_bytes", 1),
    "outputBytes": ("output_bytes", 1),
}
# stage attempts that never ran a task carry no metrics worth counting
_NOT_RUN = ("SKIPPED", "PENDING")


@dataclass
class Span:
    layer: str
    start: float
    end: float
    group: str
    parent: int | None = None  # index of the enclosing span


def union_s(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_time_s(start: float, end: float, children) -> float:
    """Span duration minus the part of it that ``children`` cover."""
    clipped = [
        (max(s, start), min(e, end)) for s, e in children if e > start and s < end
    ]
    return (end - start) - union_s(clipped)


def _job_interval(job: dict) -> tuple[float, float] | None:
    start, end = job.get("submissionTime"), job.get("completionTime")
    if start is None or end is None:
        return None
    return start / 1000.0, end / 1000.0


def stage_owners(jobs: list[dict]) -> dict[int, dict]:
    """Stage id → the job that ran it. A later job lists a reused
    shuffle stage among its own stage ids (as skipped); the stage was
    run by the earliest job that lists it."""
    owners: dict[int, dict] = {}
    for job in sorted(jobs, key=lambda j: j["jobId"]):
        for sid in job["stageIds"]:
            owners.setdefault(sid, job)
    return owners


def _stage_totals(stage_list: list[dict]) -> dict[str, float]:
    out = {m: 0.0 for m, _ in STAGE_SUMS.values()}
    out["stages"] = 0
    for st in stage_list:
        if st["status"] in _NOT_RUN:
            continue
        out["stages"] += 1
        for field, (metric, scale) in STAGE_SUMS.items():
            out[metric] += st[field] * scale
    return out


def attribute(spans: list[Span], jobs: list[dict], stages: list[dict]) -> list[dict]:
    """Per-span metrics: wall, self time (minus child spans), driver time
    (minus child spans and the span's own jobs), job count, and the
    summed task metrics of the stages its jobs ran."""
    owners = stage_owners(jobs)
    by_group: dict[str, list[dict]] = {}
    for job in jobs:
        if job.get("jobGroup"):
            by_group.setdefault(job["jobGroup"], []).append(job)
    stages_by_group: dict[str, list[dict]] = {}
    for st in stages:
        owner = owners.get(st["stageId"])
        if owner is not None and owner.get("jobGroup"):
            stages_by_group.setdefault(owner["jobGroup"], []).append(st)
    out = []
    for i, sp in enumerate(spans):
        kids = [(c.start, c.end) for c in spans if c.parent == i]
        own_jobs = by_group.get(sp.group, [])
        job_iv = [iv for iv in map(_job_interval, own_jobs) if iv is not None]
        rec = {
            "layer": sp.layer,
            "start": sp.start,
            "end": sp.end,
            "wall_s": sp.end - sp.start,
            "self_s": self_time_s(sp.start, sp.end, kids),
            "driver_s": self_time_s(sp.start, sp.end, kids + job_iv),
            "jobs": len(own_jobs),
        }
        rec.update(_stage_totals(stages_by_group.get(sp.group, [])))
        rec["blocked_s"] = max(rec["task_run_s"] - rec["task_cpu_s"] - rec["gc_s"], 0.0)
        out.append(rec)
    return out


def by_layer(span_metrics: list[dict]) -> dict[str, dict[str, float]]:
    """Sum span metrics per layer (a layer may be entered more than once)."""
    out: dict[str, dict[str, float]] = {}
    for rec in span_metrics:
        acc = out.setdefault(rec["layer"], {})
        for k, v in rec.items():
            if k not in ("layer", "start", "end"):
                acc[k] = acc.get(k, 0) + v
    return out


def labelled_share(
    spans: list[Span], jobs: list[dict], stages: list[dict], t0: float, t1: float
) -> float:
    """Share of the task run time of jobs submitted in [t0, t1] that
    belongs to a span. 1.0 means no job escaped labelling."""
    groups = {sp.group for sp in spans}
    owners = stage_owners(jobs)
    labelled = total = 0.0
    for st in stages:
        owner = owners.get(st["stageId"])
        if owner is None or st["status"] in _NOT_RUN:
            continue
        iv = _job_interval(owner)
        if iv is None or not (t0 <= iv[0] <= t1):
            continue
        total += st["executorRunTime"]
        if owner.get("jobGroup") in groups:
            labelled += st["executorRunTime"]
    return labelled / total if total else 1.0


class StatusStore:
    """Job and stage records of the live AppStatusStore (works with the
    UI disabled), as the REST API's JSON."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        self._jvm = sc._jvm
        self._gw = sc._gateway
        scala = self._jvm.com.fasterxml.jackson.module.scala
        self._mapper = self._jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(getattr(getattr(scala, "DefaultScalaModule$"), "MODULE$"))

    def jobs(self) -> list[dict]:
        return json.loads(self._mapper.writeValueAsString(self._store.jobsList(None)))

    def stages(self) -> list[dict]:
        lst = self._store.stageList(
            self._jvm.java.util.ArrayList(),
            False,
            False,
            self._gw.new_array(self._jvm.double, 0),
            self._jvm.java.util.ArrayList(),
        )
        return json.loads(self._mapper.writeValueAsString(lst))


class Tracer:
    """Records spans. ``Tracer(None)`` is the untraced form: its spans
    set nothing and record nothing. Job groups are named after span
    indices, so a session has one traced Tracer."""

    def __init__(self, spark=None):
        self._sc = spark.sparkContext if spark is not None else None
        self.spans: list[Span] = []
        self._stack: list[int] = []
        # time spent opening and closing spans: the tracing overhead
        self.overhead_s = 0.0

    @property
    def enabled(self) -> bool:
        return self._sc is not None

    def _set_group(self, group: str | None, layer: str | None) -> None:
        if group is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(group, layer)

    @contextmanager
    def span(self, layer: str):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sp = Span(layer, time.time(), 0.0, f"perfbench-span-{idx}", parent)
        self.spans.append(sp)
        self._stack.append(idx)
        self._set_group(sp.group, layer)
        self.overhead_s += time.perf_counter() - t0
        try:
            yield
        finally:
            t1 = time.perf_counter()
            sp.end = time.time()
            self._stack.pop()
            if self._stack:
                outer = self.spans[self._stack[-1]]
                self._set_group(outer.group, outer.layer)
            else:
                self._set_group(None, None)
            self.overhead_s += time.perf_counter() - t1
