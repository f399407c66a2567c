"""Span arithmetic and attribution, on synthetic spans and store records."""

import pytest

from spans import Span, attribute, by_layer, labelled_share, self_time_s, stage_owners, union_s


def test_union_merges_overlaps_and_keeps_gaps():
    assert union_s([]) == 0
    assert union_s([(0, 1), (2, 3)]) == 2
    assert union_s([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_s([(1, 4), (0, 2), (2, 3)]) == 4


def test_self_time_subtracts_covered_part_only():
    assert self_time_s(0, 10, []) == 10
    assert self_time_s(0, 10, [(1, 3), (2, 5)]) == 6
    # children outside the span, or sticking out of it, count only inside
    assert self_time_s(0, 10, [(-5, 2), (8, 20), (30, 40)]) == 6
    assert self_time_s(0, 10, [(0, 10)]) == 0


def _job(jid, group, sub, done, stages):
    return {
        "jobId": jid,
        "jobGroup": group,
        "submissionTime": sub * 1000,
        "completionTime": done * 1000,
        "stageIds": stages,
    }


def _stage(sid, run_ms, cpu_ms, gc_ms=0, status="COMPLETE", shuffle=0, spill=0, out=0):
    return {
        "stageId": sid,
        "status": status,
        "executorRunTime": run_ms,
        "executorCpuTime": cpu_ms * 1_000_000,
        "jvmGcTime": gc_ms,
        "shuffleWriteBytes": shuffle,
        "diskBytesSpilled": spill,
        "outputBytes": out,
    }


def test_reused_stage_belongs_to_the_job_that_ran_it():
    jobs = [_job(2, "b", 5, 6, [1, 2]), _job(1, "a", 1, 2, [1])]
    owners = stage_owners(jobs)
    assert owners[1]["jobId"] == 1
    assert owners[2]["jobId"] == 2


def test_attribute_sums_stage_metrics_and_driver_time():
    spans = [
        Span("outer", 0.0, 10.0, "g0"),
        Span("inner", 2.0, 6.0, "g1", parent=0),
    ]
    jobs = [
        _job(0, "g0", 0.5, 1.5, [0]),
        _job(1, "g1", 3.0, 5.0, [1, 0]),
        _job(2, None, 7.0, 8.0, [2]),
    ]
    stages = [
        _stage(0, 1000, 400, gc_ms=100, shuffle=7),
        _stage(0, 0, 0, status="SKIPPED"),
        _stage(1, 3000, 1000, spill=5, out=9),
        _stage(2, 500, 500),
    ]
    outer, inner = attribute(spans, jobs, stages)
    assert outer["wall_s"] == 10 and outer["self_s"] == 6
    # outer's own job covers 1 s of the 6 s not covered by its child
    assert outer["driver_s"] == pytest.approx(5)
    assert outer["jobs"] == 1 and outer["stages"] == 1
    assert outer["task_run_s"] == pytest.approx(1.0)
    assert outer["task_cpu_s"] == pytest.approx(0.4)
    assert outer["gc_s"] == pytest.approx(0.1)
    assert outer["blocked_s"] == pytest.approx(0.5)
    assert outer["shuffle_bytes"] == 7
    assert inner["driver_s"] == pytest.approx(2)
    assert inner["task_run_s"] == pytest.approx(3.0)
    assert inner["spill_bytes"] == 5 and inner["output_bytes"] == 9
    # the unlabelled job's stage belongs to no span
    assert outer["task_run_s"] + inner["task_run_s"] == pytest.approx(4.0)


def test_by_layer_adds_repeated_layers():
    recs = [
        {"layer": "x", "start": 0, "end": 1, "wall_s": 1.0, "jobs": 2},
        {"layer": "x", "start": 2, "end": 4, "wall_s": 2.0, "jobs": 1},
        {"layer": "y", "start": 0, "end": 1, "wall_s": 1.0, "jobs": 0},
    ]
    assert by_layer(recs) == {"x": {"wall_s": 3.0, "jobs": 3}, "y": {"wall_s": 1.0, "jobs": 0}}


def test_labelled_share_counts_only_jobs_in_the_window():
    spans = [Span("a", 0.0, 5.0, "g0")]
    jobs = [
        _job(0, "g0", 1, 2, [0]),
        _job(1, None, 3, 4, [1]),
        _job(2, None, 50, 51, [2]),  # outside the window
    ]
    stages = [_stage(0, 300, 0), _stage(1, 100, 0), _stage(2, 10_000, 0)]
    assert labelled_share(spans, jobs, stages, 0, 10) == pytest.approx(0.75)
    assert labelled_share(spans, jobs, stages, 100, 200) == 1.0
