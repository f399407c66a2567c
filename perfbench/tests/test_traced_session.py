"""In a live session, every job a span's call submits is labelled: the
per-span task run time adds up to the store's total for the window
within 1%, broadcast, shuffle and Python-worker jobs included."""

import os
import shutil
import time

import pytest

import spans


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("session"))
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    from imitation_learning_data_pipeline_spark.session import get_spark

    s = get_spark(
        "perfbench-test",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    yield s
    s.stop()
    shutil.rmtree(work, ignore_errors=True)


def _total_run_s(stages):
    return sum(st["executorRunTime"] for st in stages if st["status"] not in ("SKIPPED", "PENDING")) / 1e3


def test_spans_cover_all_task_time(spark):
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    def plus_one(s):
        return s + 1

    udf = pandas_udf(plus_one, "long")
    store = spans.StatusStore(spark)
    before = _total_run_s(store.stages())
    tracer = spans.Tracer(spark)
    t0 = time.time()
    with tracer.span("outer"):
        spark.range(200_000).groupBy((F.col("id") % 97).alias("k")).count().collect()
        with tracer.span("inner"):
            small = spark.range(50).withColumnRenamed("id", "k")
            big = spark.range(100_000).select((F.col("id") % 50).alias("k"))
            big.join(F.broadcast(small), "k").agg(F.sum("k")).collect()
        spark.range(10_000).repartition(4).select(udf("id").alias("v")).agg(F.sum("v")).collect()
    t1 = time.time()
    jobs, stages = store.jobs(), store.stages()
    recs = spans.attribute(tracer.spans, jobs, stages)
    layers = spans.by_layer(recs)
    labelled = sum(r["task_run_s"] for r in recs)
    total = _total_run_s(stages) - before
    assert total > 0
    assert labelled == pytest.approx(total, rel=0.01)
    assert spans.labelled_share(tracer.spans, jobs, stages, t0, t1) == pytest.approx(1.0)
    assert layers["inner"]["jobs"] >= 1 and layers["outer"]["jobs"] >= 2
    assert layers["outer"]["self_s"] < layers["outer"]["wall_s"]
    # outside any span, jobs carry no group again
    spark.range(10).count()
    assert max(store.jobs(), key=lambda j: j["jobId"])["jobGroup"] is None
