"""BENCHMARK.json and the code that fills it agree."""

import json
import os

import layers
import run

BENCHMARK = os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")


def _bench():
    with open(BENCHMARK) as f:
        return json.load(f)


def test_per_layer_metrics_match_benchmark_json():
    spec = layers.spec()
    listed = _bench()["per_layer"]
    assert [m["name"] for m in listed] == list(spec)
    assert len(listed) <= 128
    for m in listed:
        assert m["unit"] == spec[m["name"]]
        leaf = m["name"].rsplit(".", 1)[1]
        assert m["better"] == ("higher" if leaf in layers.HIGHER_IS_BETTER else "lower")


def test_end_to_end_metrics_match_benchmark_json():
    listed = {m["name"]: m["unit"] for m in _bench()["end_to_end"]}
    assert listed == run.END_TO_END


def test_workloads_match_benchmark_json():
    from workloads import WORKLOADS

    assert [w["name"] for w in _bench()["workloads"]] == list(WORKLOADS)


def test_values_fill_every_metric_and_zero_absent_layers():
    out = layers.values(
        {"pipeline.validate": {"wall_s": 2.0, "jobs": 3}, "curation.dedup": {"wall_s": 1.5}},
        {"session.start_s": 4.0},
        {"trace.labelled_share": 1.0},
    )
    assert set(out) == set(layers.spec())
    assert out["pipeline.validate.wall_s"] == 2.0
    assert out["pipeline.validate.jobs"] == 3
    assert out["pipeline.discover.wall_s"] == 0
    assert out["curation.stage_sum_s"] == 1.5
    assert out["session.start_s"] == 4.0
    assert out["trace.labelled_share"] == 1.0
