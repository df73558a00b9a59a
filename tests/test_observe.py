"""The engine's metrics collector: ``observe.span`` readouts of a known
write, nesting under a caller's job group, and plan-choice decisions."""

from __future__ import annotations

from geospatial_store_siting_spark import observe
from geospatial_store_siting_spark.operators import plan_choice


def test_write_jobs_and_partition_rows(spark, tmp_path):
    path = str(tmp_path / "out")
    with observe.span(spark, "write") as sp:
        spark.range(1000).repartition(3).mapInPandas(lambda it: it, "id long").write.parquet(path)
    assert sp["jobs"] == len(sp["job_ids"]) >= 1
    assert len(sp["partition_rows"]) == 3
    assert sum(sp["partition_rows"]) == spark.read.parquet(path).count() == 1000
    assert sp["operators"]["scan"]["rows"] == 1000  # the Range source
    assert sp["operators"]["exchange"]["rows"] == 1000
    python = sp["operators"]["python"]  # the Arrow boundary: rows, bytes, time
    assert python["nodes"] == 1 and python["rows"] == 1000 and python["bytes"] > 0
    assert sp["python_ms"] > 0
    assert sp["stages"] == len(sp["per_stage"]) and sp["tasks"] >= 3
    assert sp["wall_s"] > 0 and sp["task_s"] > 0


def test_span_inside_job_group_leaves_group_jobs(spark):
    sc = spark.sparkContext
    sc.setJobGroup("observe-outer", "observe-outer")
    try:
        with observe.span(spark, "outer") as outer:
            with observe.span(spark, "inner") as inner:
                spark.range(10).count()
            spark.range(5).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    group = set(sc.statusTracker().getJobIdsForGroup("observe-outer"))
    assert inner["job_ids"] and set(inner["job_ids"]) < set(outer["job_ids"])
    assert set(outer["job_ids"]) <= group


def test_size_gate_decision_recorded(geo):
    plan_choice.small(geo, "competitors", "sites")  # no span open: nothing to log
    with observe.span(geo, "outer") as outer:
        with observe.span(geo, "gate") as sp:
            fits = plan_choice.small(geo, "competitors", "sites")
    rows = getattr(geo, plan_choice._ROWS_ATTR)
    decision = {
        "tables": ["competitors", "sites"],
        "rows": rows["competitors"] + rows["sites"],
        "limit": plan_choice.DIM_LIMIT,
        "small": fits,
    }
    assert sp["decisions"] == outer["decisions"] == [decision]
    assert sp["job_ids"] == []  # manifest-backed counts: the gate runs no job
