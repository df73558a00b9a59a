"""Catalog: base parquet tables + derived geospatial views.

``register_tables`` loads the shared parquet tables of a scale-factor dir
and registers them as temp views.  ``register_geo_views`` layers the
deterministic geospatial world on top (sites / competitors / poi / hex
grid) using the dialect-neutral SQL of functions/hex_sql.py — the same
text a DuckDB oracle runs, so tile assignments agree bit-for-bit.

Scale posture: base tables are parquet scans (columnar, predicate/column
pushdown); derived views are pure projections over them, so Catalyst fuses
the synthesis arithmetic into the scan stage — no extra shuffle, no
materialization.  At 100 TB these views would be written once as
bucketed-by-cell_id tables via snapshots.py instead.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..functions import hex_sql
from ..operators import plan_choice

BASE_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def register_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    # the plan-choice row map describes the views being replaced: reset it
    plan_choice.record_table_rows(spark, {})
    out = {}
    for name in BASE_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            df = spark.read.parquet(path)
            df.createOrReplaceTempView(name)
            out[name] = df
    return out


def _dev_views() -> dict:
    from ..operators.dev_signals import DEV_VIEWS

    return DEV_VIEWS


GEO_VIEWS = {
    "sites": hex_sql.sites_sql,
    "competitors": hex_sql.competitors_sql,
    "poi": hex_sql.poi_sql,
    "hex_grid": hex_sql.grid_sql,
}


def all_views() -> dict:
    return {**GEO_VIEWS, **_dev_views()}


def register_geo_views(
    spark: SparkSession, sf_dir: str | None = None, materialize: bool = True
) -> dict[str, DataFrame]:
    """Create sites/competitors/poi/hex_grid temp views (requires base views).

    By default the derived tables are materialized once via the snapshot
    layer (sources/snapshots.py) and the views read the committed parquet:
    they are dim-table-scale yet feed 6+ feature families, and inlining the
    synthesis expression tree into every consumer plan costs seconds of
    Catalyst planning + janino codegen per query (and at 100 TB would
    re-scan the base tables per consumer).  ``materialize=False`` falls
    back to cached logical views (used when sf_dir is unknown).
    """
    from . import snapshots

    # base inputs are being (re)registered: any gold stage view published
    # by an earlier pipeline run in this session derives from the OLD
    # inputs — serving it would silently mix provenance (even at the same
    # sf_dir, e.g. a harness swapping a base temp view in-session), so
    # drop unconditionally; the pipeline republish runs after load_all
    _drop_stage_views(spark)
    out = {}
    rows: dict[str, int] = {}
    for name, sql_fn in all_views().items():
        if materialize and sf_dir:
            df = snapshots.snapshot_table(spark, name, sql_fn(), sf_dir)
            meta = snapshots.read_manifest(sf_dir, name, sql_fn())
            if meta and "rows" in meta:
                rows[name] = int(meta["rows"])
        else:
            df = spark.sql(sql_fn()).cache()
        df.createOrReplaceTempView(name)
        out[name] = df
    # manifest stats feed the size gates (operators/plan_choice.py):
    # deciding broadcast-vs-windowed never runs a count() job over
    # snapshot-backed tables.  Replaced wholesale per registration, so a
    # re-load at another scale factor can't leave stale counts behind.
    plan_choice.record_table_rows(spark, rows)
    return out


def load_all(spark: SparkSession, sf_dir: str, materialize: bool = True) -> dict[str, DataFrame]:
    # stage views are dropped inside register_geo_views (unconditional:
    # base inputs are being re-registered)
    tables = register_tables(spark, sf_dir)
    tables.update(register_geo_views(spark, sf_dir, materialize=materialize))
    return tables


# ---------------------------------------------------------------------------
# Committed pipeline-stage views (gold tables)
# ---------------------------------------------------------------------------
# The pipeline (plans/pipeline.py) registers each committed stage table as a
# temp view; interactive consumers (app queries, dev_signal_ring, scoring)
# resolve these FIRST and only fall back to recomputing the full plan when no
# committed stage exists — the reference app reads gold.location_features,
# it does not re-derive it per request.

_STAGE_SF_ATTR = "_gss_stage_sf"
_STAGE_NAMES_ATTR = "_gss_stage_names"


def register_stage_view(spark: SparkSession, name: str, df: DataFrame, sf_dir: str) -> None:
    """Publish a committed stage table for interactive consumers."""
    df.createOrReplaceTempView(name)
    setattr(spark, _STAGE_SF_ATTR, sf_dir)
    names = getattr(spark, _STAGE_NAMES_ATTR, None)
    if names is None:
        names = set()
        setattr(spark, _STAGE_NAMES_ATTR, names)
    names.add(name)


def stage_view(spark: SparkSession, name: str) -> DataFrame | None:
    """The committed stage table, or None if no current pipeline run has
    published it in this session."""
    if name in (getattr(spark, _STAGE_NAMES_ATTR, None) or ()):
        return spark.table(name)
    return None


def _drop_stage_views(spark: SparkSession) -> None:
    """Unpublish every stage view in this session: called whenever base
    tables are (re)registered — a consumer must never read gold tables
    derived from inputs that are no longer the registered ones."""
    for name in getattr(spark, _STAGE_NAMES_ATTR, None) or set():
        spark.catalog.dropTempView(name)
    setattr(spark, _STAGE_NAMES_ATTR, set())
    setattr(spark, _STAGE_SF_ATTR, None)
