"""Committed-snapshot reads: the manifest's recorded schema replaces
parquet schema inference, so a warm read launches no Spark job.  The one
stage commit path: its key forms are pinned, and its warm path calls no
producing callable."""

from __future__ import annotations

import hashlib
import json
import os

import pytest

from geospatial_store_siting_spark import observe
from geospatial_store_siting_spark.sources import iceberg, snapshots


def _frame(spark):
    return spark.range(6).selectExpr(
        "id AS site_id",
        "CAST(id AS string) AS note",
        "CAST(id * 0.5 AS double) AS score",
        "array(CAST(id AS int), 7) AS sig",
        "named_struct('a', id, 'b', 'x') AS rec",
    )


def test_read_committed_matches_inference_without_a_job(spark, tmp_path):
    path = str(tmp_path / "snap")
    snapshots.commit(spark, lambda: _frame(spark), path)
    with observe.span(spark, "warm") as sp:
        got = snapshots.read_committed(spark, path)
    assert sp["job_ids"] == []
    inferred = spark.read.parquet(path)
    assert got.schema == inferred.schema
    assert sorted(got.collect()) == sorted(inferred.collect())


def test_read_committed_infers_without_a_recorded_schema(spark, tmp_path):
    path = str(tmp_path / "snap")
    snapshots.commit(spark, lambda: _frame(spark), path)
    manifest = os.path.join(path, "_manifest.json")
    with open(manifest) as f:
        meta = json.load(f)
    del meta["schema"]
    with open(manifest, "w") as f:
        json.dump(meta, f)
    got = snapshots.read_committed(spark, path)
    assert got.schema == spark.read.parquet(path).schema
    assert got.count() == 6


def test_warm_stage_reads_launch_no_job(spark, tmp_path):
    """Every warm reader of a committed snapshot goes through
    read_committed: the stage fast lane, a stage re-commit and a
    snapshot_table reuse."""
    root = str(tmp_path)
    sf_dir = "warm-read-test"
    iceberg.write_stage(spark, _frame(spark), "warm", sf_dir, content_key="k", root=root)
    sql = "SELECT id AS site_id, CAST(id AS string) AS note FROM range(4)"
    snapshots.snapshot_table(spark, "warm_sql", sql, sf_dir, root=root)
    with observe.span(spark, "warm") as sp:
        fast = iceberg.write_stage(spark, _boom, "warm", sf_dir, content_key="k", root=root)
        again = iceberg.write_stage(
            spark, _frame(spark), "warm", sf_dir, content_key="k", root=root
        )
        snap = snapshots.snapshot_table(spark, "warm_sql", sql, sf_dir, root=root)
    assert sp["job_ids"] == []
    assert fast.schema == again.schema
    assert fast.dtypes == _frame(spark).dtypes
    assert snap.columns == ["site_id", "note"]


def _boom():
    raise AssertionError("plan constructed on the warm path")


def test_stage_key_forms_are_pinned():
    """Both key forms of a stage: the fallback directory name and the
    Iceberg ``gss.content-key`` value.  A change to either cold-starts
    every committed stage, so they are golden here."""
    digest = hashlib.md5(b"/x/sf0.01|stg|k").hexdigest()[:12]
    path = iceberg.stage_path(None, "stg", "/x/sf0.01", "k")
    assert os.path.basename(path) == "sf0.01_stg_" + digest
    assert iceberg._table_key("/x/sf0.01", "k") == "/x/sf0.01|k"
    assert iceberg._table_key("/x/sf0.01", "k", ("fp", 4)) == "/x/sf0.01|k|bucket:fpx4"


def _plain(spark, build, root, monkeypatch):
    return iceberg.write_stage(spark, build, "plain", "warm-path", content_key="k", root=root)


def _bucketed(spark, build, root, monkeypatch):
    return iceberg.write_stage(
        spark, build, "bkt", "warm-path", content_key="k", root=root, bucket=("site_id", 4)
    )


def _view(spark, build, root, monkeypatch):
    # a view's producer is spark.sql(defining_sql): ``build`` stands in for it
    monkeypatch.setattr(spark, "sql", lambda _sql: build())
    return snapshots.snapshot_table(spark, "view", "SELECT 1", "warm-path", root=root)


@pytest.mark.parametrize("commit", [_plain, _bucketed, _view], ids=["plain", "bucketed", "view"])
def test_warm_commit_builds_nothing(spark, tmp_path, monkeypatch, commit):
    """A second commit of the same key returns the committed reader
    without calling the producer and without launching a job."""
    root = str(tmp_path)
    cold = commit(spark, lambda: _frame(spark), root, monkeypatch)
    with observe.span(spark, "warm") as sp:
        warm = commit(spark, _boom, root, monkeypatch)
    assert sp["job_ids"] == []
    monkeypatch.undo()
    assert warm.schema == cold.schema
    assert sorted(warm.collect()) == sorted(cold.collect())
    if commit is _bucketed:
        plan = (
            warm.groupBy("site_id").count()._jdf.queryExecution()  # noqa: SLF001
            .executedPlan().toString()
        )
        assert "Bucketed: true" in plan
