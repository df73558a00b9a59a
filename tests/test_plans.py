"""Physical-plan assertions: the properties the engine promises at scale
must be visible in the executed plans, not just intended."""

from __future__ import annotations

import re

from geospatial_store_siting_spark.operators import features, knn, plan_choice, scoring


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_distance_join_broadcasts_dims(geo):
    plan = _plan(features.competition_distance(geo))
    assert "BroadcastHashJoin" in plan  # dims broadcast, no shuffle of probe
    assert "BroadcastNestedLoopJoin" not in plan


def test_ring_expansion_is_generator_not_join(geo):
    plan = _plan(features.demographics_ring(geo, 1))
    assert "Generate explode" in plan  # ring offsets explode in-line
    assert "BroadcastNestedLoopJoin" not in plan


def test_no_python_in_hot_paths(geo):
    """The feature pipeline must be pure JVM (no Python eval nodes)."""
    for df in (
        features.location_features(geo),
        knn.knn_competitors(geo),
        scoring.score_candidates(geo),
    ):
        plan = _plan(df)
        assert not re.search(r"BatchEvalPython|ArrowEvalPython", plan)


def test_scoring_has_no_global_single_partition_window(geo):
    """percent_rank is the distributed two-pass rank, not WindowExec over
    a global (empty-partition-spec) ordering."""
    plan = _plan(scoring.score_candidates(geo))
    # Window over __pid partitions is fine; a global window shows as
    # 'Window [...], [ordercols ASC...]' with no PartitionBy — detect via
    # the telltale single-partition exchange Spark inserts for it
    assert "Exchange SinglePartition" not in plan


def test_parquet_filter_pushdown_reaches_scan(geo):
    from pyspark.sql import functions as F

    df = geo.table("lineitem").filter(F.col("l_orderkey") == 42).select("l_quantity")
    plan = _plan(df)
    assert re.search(r"PushedFilters: \[.*EqualTo\(l_orderkey,42\)", plan)
    assert re.search(r"ReadSchema: struct<l_orderkey:bigint,l_quantity:double>", plan)


def test_gold_feature_contract_complete(geo):
    """The assembly carries the reference's full NUMERIC_FEATURES contract
    (`/root/reference/notebooks/_config.py:95-124`), repo naming."""
    contract = {
        # demographic
        "population_1ring", "median_income_1ring", "target_demo_pct_1ring",
        "daytime_pop_1ring", "college_pct_1ring",
        # traffic
        "max_pedestrian_traffic", "avg_transit_score", "foot_traffic_sum",
        # competition
        "competitors_1ring", "competitors_3ring", "nearest_competitor_miles",
        "nearest_same_category_dist", "competitive_intensity",
        # poi
        "anchor_poi_1ring", "office_poi_count_1ring", "school_count_2ring",
        "total_foot_traffic_1ring",
        # property
        "drive_thru_capable_flag", "parking_spaces", "square_feet",
        "rent_per_sqft",
        # derived
        "trade_area_quality", "cannibalization_risk", "market_saturation",
        "huff_market_share", "huff_expected_demand",
    }
    cols = set(features.location_features(geo).columns)
    missing = contract - cols
    assert not missing, f"gold contract columns missing: {sorted(missing)}"


def test_distance_broadcast_is_size_gated(geo, monkeypatch):
    """Above the gate, the blocked distance join must not force-broadcast
    the competitor table; the windowed variant never broadcasts a table
    (its only broadcast is the literal ring-offsets dimension)."""
    from geospatial_store_siting_spark.operators import features as feats_mod

    monkeypatch.setattr(plan_choice, "DIM_LIMIT", 0)
    gated = feats_mod.competition_distance(geo)
    assert "ResolvedHint" not in gated._jdf.queryExecution().logical().toString()
    monkeypatch.undo()

    windowed = feats_mod.competition_distance_windowed(geo)
    plan = _plan(windowed)
    # candidate generation is a hash join on the coarse cell, not a
    # broadcast of the competitor table
    assert "BroadcastNestedLoopJoin" not in plan
    assert windowed.count() > 0


def test_py_files_zip_covers_every_module():
    """The spark-submit zip must never go stale: packaging picks up every
    .py under the package (new operator modules included) — asserted
    against the live source tree, not a hardcoded list."""
    import os
    import zipfile

    import tools.package as pkg

    # build into the real dist/ (idempotent, gitignored) and compare
    out = pkg.main()
    names = set(zipfile.ZipFile(out).namelist())
    for root, _, files in os.walk(os.path.join(pkg.REPO, pkg.PKG)):
        for f in files:
            if f.endswith(".py"):
                rel = os.path.relpath(os.path.join(root, f), pkg.REPO)
                assert rel in names, f"missing from gss.zip: {rel}"
