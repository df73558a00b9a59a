"""Committed-snapshot reads: the manifest's recorded schema replaces
parquet schema inference, so a warm read launches no Spark job."""

from __future__ import annotations

import json
import os

from geospatial_store_siting_spark.sources import iceberg, snapshots
from tests.conftest import launched_jobs


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
    snapshots.commit_dataframe(spark, _frame(spark), path)
    with launched_jobs(spark) as jobs:
        got = snapshots.read_committed(spark, path)
    assert jobs == []
    inferred = spark.read.parquet(path)
    assert got.schema == inferred.schema
    assert sorted(got.collect()) == sorted(inferred.collect())


def test_read_committed_infers_without_a_recorded_schema(spark, tmp_path):
    path = str(tmp_path / "snap")
    snapshots.commit_dataframe(spark, _frame(spark), path)
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
    with launched_jobs(spark) as jobs:
        fast = iceberg.read_stage_committed(spark, "warm", sf_dir, "k", root=root)
        again = iceberg.write_stage(
            spark, _frame(spark), "warm", sf_dir, content_key="k", root=root
        )
        snap = snapshots.snapshot_table(spark, "warm_sql", sql, sf_dir, root=root)
    assert jobs == []
    assert fast.schema == again.schema
    assert fast.dtypes == _frame(spark).dtypes
    assert snap.columns == ["site_id", "note"]
