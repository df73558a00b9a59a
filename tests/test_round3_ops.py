"""Round-3 operators: as-of join, exact embedding near-dup baseline,
oracle'd Huff-β calibration, dim-cache invalidation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from geospatial_store_siting_spark.operators import dedup, events_ops, ml, plan_choice
from geospatial_store_siting_spark.sources import tables
from tests.conftest import SF_DIR


def _mk_events(spark, rows):
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    )
    df.createOrReplaceTempView("events")
    return df


def test_asof_strictly_before_and_most_recent(spark):
    import datetime as dt

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0) + dt.timedelta(seconds=s)  # noqa: E731
    _mk_events(
        spark,
        [
            # user 1: two views before the purchase -> most recent (id 2) wins
            (1, t(10), 1, "view", 1.0, "{}"),
            (2, t(20), 1, "view", 2.0, "{}"),
            (3, t(30), 1, "purchase", 9.0, "{}"),
            # user 2: view AT the purchase instant -> NOT matched (strict <)
            (4, t(40), 2, "view", 3.0, "{}"),
            (5, t(40), 2, "purchase", 8.0, "{}"),
            # user 3: view only AFTER the purchase -> no match
            (6, t(50), 3, "purchase", 7.0, "{}"),
            (7, t(60), 3, "view", 4.0, "{}"),
        ],
    )
    try:
        out = {
            r["purchase_event_id"]: r
            for r in events_ops.asof_last_view(spark).collect()
        }
        assert out[3]["view_event_id"] == 2
        assert out[3]["micros_since"] == 10_000_000
        assert out[5]["view_event_id"] is None
        assert out[6]["view_event_id"] is None
    finally:
        # restore the real events view for later session-scoped tests
        from conftest import SF_DIR
        from geospatial_store_siting_spark.sources import tables

        tables.register_tables(spark, SF_DIR)


def test_asof_single_shuffle_no_range_join(geo):
    plan = (
        events_ops.asof_last_view(geo)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the classic failure mode would be a nested-loop / cartesian range join
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_embedding_near_dup_exact_is_superset_of_lsh(geo):
    lsh = {
        (r["a"], r["b"]) for r in dedup.embedding_near_dup(geo).collect()
    }
    exact = {
        (r["a"], r["b"])
        for r in dedup.embedding_near_dup(geo, exact=True).collect()
    }
    assert lsh <= exact  # LSH finds only true pairs (refined), never extras
    assert len(exact) >= len(lsh)


def test_huff_beta_calibration_argmax_unique(geo):
    rows = ml.calibrate_huff_beta(geo).collect()
    assert len(rows) == 9
    assert sum(1 for r in rows if r["is_best"]) == 1
    best = max(rows, key=lambda r: (r["corr_with_sales"], -r["beta"]))
    assert next(r for r in rows if r["is_best"])["beta"] == best["beta"]


def test_dim_cache_invalidation(geo):
    """register_tables resets the plan-choice row map: counts of the
    views it replaces cannot outlive them."""
    saved = dict(getattr(geo, plan_choice._ROWS_ATTR))
    try:
        plan_choice.record_table_rows(geo, {**saved, "documents": 10 ** 9})
        assert not plan_choice.small(geo, "documents")
        tables.register_tables(geo, SF_DIR)
        assert getattr(geo, plan_choice._ROWS_ATTR) == {}
    finally:
        plan_choice.record_table_rows(geo, saved)


def test_interval_join_is_bucketed_hash_join(geo):
    df = events_ops.interval_join(geo)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # every matched event really falls inside its window
    bad = df.filter(
        (F.col("offset_sec") < 0)
        | (F.col("offset_sec") >= events_ops.INTERVAL_LEN_SEC)
    ).count()
    assert bad == 0
    assert df.count() > 0


def test_cogroup_supply_balance(geo):
    from geospatial_store_siting_spark.operators import grouped

    rows = {r["metro"]: r for r in grouped.metro_supply_balance(geo).collect()}
    assert len(rows) == 5
    for r in rows.values():
        assert r["n_stores"] > 0 and r["n_competitors"] > 0
        assert r["median_store_sales"] is not None
        assert abs(
            r["stores_per_competitor"] - r["n_stores"] / r["n_competitors"]
        ) < 1e-3


def test_iceberg_adapter_falls_back_to_snapshots(geo, tmp_path):
    import os

    from geospatial_store_siting_spark.sources import iceberg, snapshots

    assert iceberg.iceberg_available(geo) is False  # no catalog in sandbox
    os.environ["SPARK_GRAFT_SNAPSHOT_DIR"] = str(tmp_path)
    old_root = snapshots.DEFAULT_ROOT
    snapshots.DEFAULT_ROOT = str(tmp_path)
    try:
        df = geo.table("sites").select("site_id", "metro").limit(50)
        out = iceberg.write_stage(geo, df, "t_stage", "/root/testdata/sf0.001")
        assert out.count() == 50
        # committed manifest exists and a re-call reuses the snapshot
        again = iceberg.write_stage(geo, df, "t_stage", "/root/testdata/sf0.001")
        assert again.count() == 50
        manifests = [
            p for p, _, fs in os.walk(tmp_path) for f in fs if f == "_manifest.json"
        ]
        assert manifests
        with pytest.raises(NotImplementedError):
            iceberg.read_stage_version(geo, "t_stage", 1)
    finally:
        snapshots.DEFAULT_ROOT = old_root
        os.environ.pop("SPARK_GRAFT_SNAPSHOT_DIR", None)


def test_aqe_splits_skewed_join(spark):
    """Runtime skew handling evidence (complements the explicit salting of
    operators/skew.py): a join with one hot key must come out of AQE as a
    skew-split sort-merge join, not one straggler partition."""
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "65536",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "65536",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        left = (
            spark.range(400000)
            .withColumn(
                "k",
                F.when(F.col("id") % 100 < 99, F.lit(0)).otherwise(F.col("id")),
            )
            .withColumn("pad", F.md5(F.col("id").cast("string")))
        )
        right = spark.range(2000).select(F.col("id").alias("k"), F.lit("x").alias("v"))
        j = left.join(right, "k")
        assert j.collect() is not None
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
