"""Pipeline DAG tests: checkpoint/resume semantics + lineage/metrics
manifests; Arrow kernel parity with the SQL codec path."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from geospatial_store_siting_spark.functions import kernels
from geospatial_store_siting_spark.plans import pipeline
from geospatial_store_siting_spark.sources import tables
from tests.conftest import SF_DIR, launched_jobs


def _run_at(spark, root):
    old_root = pipeline.STAGE_ROOT
    pipeline.STAGE_ROOT = root
    try:
        return pipeline.run_pipeline(spark, SF_DIR)
    finally:
        pipeline.STAGE_ROOT = old_root


@pytest.fixture(scope="module")
def cold_run(geo, tmp_path_factory):
    """One cold pipeline run into a fresh stage root: (root, report)."""
    root = str(tmp_path_factory.mktemp("stages"))
    return root, _run_at(geo, root)


def test_pipeline_runs_and_resumes(geo, cold_run):
    root, report1 = cold_run
    assert [s["stage"] for s in report1["stages"]] == [
        "dev_signals_by_h3",
        "doc_tiles",
        "training_corpus",
        "location_features",
        "hotspot_scores",
        "huff_features",
        "scored_locations",
        "site_detail",
    ]
    assert all(not s["resumed"] for s in report1["stages"])
    for s in report1["stages"]:
        assert s["rows"] > 0
        assert s["rows_per_sec"] is None or s["rows_per_sec"] > 0
        assert sum(s["partition_rows"]) == s["rows"]  # per-partition lineage
        assert s["lineage"]["inputs"]
    # second run: every stage resumes from its committed snapshot
    report2 = _run_at(geo, root)
    assert all(s["resumed"] for s in report2["stages"])
    assert [s["rows"] for s in report2["stages"]] == [
        s["rows"] for s in report1["stages"]
    ]


def test_resume_launches_no_jobs_beyond_base_reads(geo, cold_run):
    """Over fully committed stages, the only jobs a run launches are the
    base tables' schema inference: geo/dev view snapshots and gold
    stages are read with their manifests' schemas."""
    root, _ = cold_run
    with launched_jobs(geo) as jobs:
        report = _run_at(geo, root)
    assert all(s["resumed"] for s in report["stages"])
    base = sum(
        os.path.exists(os.path.join(SF_DIR, f"{t}.parquet")) for t in tables.BASE_TABLES
    )
    assert len(jobs) <= base


def test_arrow_kernel_matches_sql_codec(geo):
    """G1 kernel (Arrow pandas UDF) is bit-identical to the SQL-expression
    codec that the oracle checks."""
    sites = geo.table("sites").select("site_id", "lat", "lon", "h3_res8")
    enc = kernels.make_encode_udf(8)
    out = sites.withColumn("kernel_cell", enc(F.col("lat"), F.col("lon")))
    bad = out.filter(F.col("kernel_cell") != F.col("h3_res8")).count()
    assert bad == 0
    # string rendering round-trip + validity
    s = out.withColumn("hex_str", kernels.make_cell_to_string_udf()(F.col("kernel_cell")))
    assert s.filter(~F.col("hex_str").rlike("^[0-9a-f]{15}$")).count() == 0


def test_kring_kernel_sizes(geo):
    sites = geo.table("sites").limit(50)
    ringed = sites.withColumn("ring", kernels.make_kring_udf(1)(F.col("h3_res8")))
    sizes = ringed.select(F.size("ring").alias("n")).distinct().collect()
    assert [r["n"] for r in sizes] == [7]


def test_corpus_tiles_reuse_committed_stage(geo, cold_run):
    """After a pipeline run commits doc_tiles, the tile-sharded corpus
    writer joins the committed parquet (read-from-gold) instead of
    re-deriving the geotagged-span extraction — and the written corpus is
    identical either way."""
    from geospatial_store_siting_spark.sources import documents

    root, _ = cold_run
    tables.load_all(geo, SF_DIR)  # unpublish stage views from earlier tests
    try:
        fresh = documents.corpus_tile_assignments(geo)
        assert "min_by" in fresh._jdf.queryExecution().optimizedPlan().toString()
        before = {r["doc_id"]: r["tile"] for r in fresh.select("doc_id", "tile").collect()}

        _run_at(geo, root)
        assert tables.stage_view(geo, "doc_tiles") is not None
        gold = documents.corpus_tile_assignments(geo)
        plan = gold._jdf.queryExecution().optimizedPlan().toString()
        assert "min_by" not in plan  # assignment read from the stage, not re-derived
        after = {r["doc_id"]: r["tile"] for r in gold.select("doc_id", "tile").collect()}
        assert after == before
    finally:
        tables.load_all(geo, SF_DIR)  # unpublish stage views for later tests
