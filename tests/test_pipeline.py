"""Pipeline DAG tests: checkpoint/resume semantics + lineage/metrics
manifests; SQL codec parity with the numpy hex codec."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from geospatial_store_siting_spark import observe
from geospatial_store_siting_spark.functions import hexgrid
from geospatial_store_siting_spark.operators import rings
from geospatial_store_siting_spark.plans import pipeline
from geospatial_store_siting_spark.sources import tables
from tests.conftest import SF_DIR


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
    with observe.span(geo, "resume") as sp:
        report = _run_at(geo, root)
    assert all(s["resumed"] for s in report["stages"])
    base = sum(
        os.path.exists(os.path.join(SF_DIR, f"{t}.parquet")) for t in tables.BASE_TABLES
    )
    assert len(sp["job_ids"]) <= base


def test_arrow_kernel_matches_sql_codec(geo):
    """G1: the SQL-expression codec that the oracle checks is
    bit-identical to the numpy codec (encode + string rendering)."""
    rows = (
        geo.table("sites")
        .select("lat", "lon", "h3_res8", F.lower(F.lpad(F.hex("h3_res8"), 15, "0")).alias("s"))
        .toPandas()
    )
    cells = hexgrid.latlng_to_cell(
        rows["lat"].to_numpy(dtype=np.float64), rows["lon"].to_numpy(dtype=np.float64), 8
    )
    assert np.array_equal(cells, rows["h3_res8"].to_numpy(dtype=np.int64))
    strs = hexgrid.cell_to_string(cells)
    assert list(strs) == list(rows["s"])
    assert all(len(x) == 15 and all(c in "0123456789abcdef" for c in x) for x in strs)


def test_kring_kernel_sizes(geo):
    """G3: the SQL ring explode emits exactly the numpy k-ring (7 cells)."""
    sites = geo.table("sites").limit(50)
    got = {}
    for r in rings.ring_pairs(geo, sites, 1, extra_cols=["h3_res8"]).collect():
        got.setdefault((r["site_id"], r["h3_res8"]), []).append(r["neighbor_h3"])
    assert got
    for (_, cell), ring in got.items():
        assert len(ring) == 7
        assert sorted(ring) == sorted(hexgrid.k_ring(np.array([cell]), 1)[0].tolist())


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
