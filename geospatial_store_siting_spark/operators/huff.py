"""Huff gravity model — market share + demand capture, distributed.

Reference semantics: ``/root/reference/notebooks/10_feature_engineering.py``
L562-679 (distributed market-share/demand exprs) and L469-549 (the β
calibration the reference runs as nested Python loops on the driver —
here a distributed grid search via array+explode, M4 in SURVEY §2.10).

Model: for a site s and each hex h in its trade area (k=2 disk),
    g(x, h) = 1 / max(d(x, h), 0.05 mi)^β
    share(s, h) = g(s, h) / Σ_{supply j within 3 mi of h} g(j, h)
                  [+ g(s,h) in the denominator when s is a candidate —
                   an open candidate adds itself to the market]
    huff_market_share(s) = mean_h share(s, h)
    huff_demand(s)       = Σ_h share(s, h) · population(h)

Scale design: the hex×supply denominator is computed ONCE per distinct hex
(not per site-hex pair) with a metro-blocked join, then equi-joined back —
at 100 TB the block key becomes the coarse res-7 parent prefix and hot
urban cells are salted (operators/skew.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DISTANCE_FLOOR_MILES, TRADE_AREA_RADIUS_MILES
from ..functions import hex_sql
from ..functions.exprs import dround
from . import plan_choice, rings
from .features import haversine_col

MILES = TRADE_AREA_RADIUS_MILES
FLOOR = DISTANCE_FLOOR_MILES


def _dist2_miles(lat1, lon1, lat2, lon2):
    """Planar squared distance in miles² — equirectangular with a fixed
    meridian factor (the reference's own driver-side shortcut,
    `notebooks/10_feature_engineering.py:465-467`).  Pure multiply/add:
    bit-identical across engines, unlike libm trig, which the β=2 gravity
    kernel would amplify ~10^4× near the distance floor."""
    dlat = (lat2 - lat1) * F.lit(69.0)
    dlon = (lon2 - lon1) * F.lit(54.6)
    return dlat * dlat + dlon * dlon


def _gravity2(d2):
    """β=2 gravity from squared distance: 1/max(d², floor²)."""
    return F.lit(1.0) / F.greatest(d2, F.lit(FLOOR * FLOOR))


def supply_df(spark: SparkSession) -> DataFrame:
    """supply = own stores ∪ competitors (reference L450,581 unionByName)."""
    stores = (
        spark.table("sites")
        .filter(F.col("site_type") == "store")
        .select(
            F.concat(F.lit("S"), F.col("site_id")).alias("supply_id"),
            "metro",
            "lat",
            "lon",
        )
    )
    comp = spark.table("competitors").select(
        F.concat(F.lit("C"), F.col("competitor_id")).alias("supply_id"),
        "metro",
        "lat",
        "lon",
    )
    return stores.unionByName(comp)


def hex_denominators(spark: SparkSession) -> DataFrame:
    """Per-hex total supply gravity (the Huff denominator).

    While the supply dim (own stores ∪ competitors) fits the dim gate as
    ONE broadcast: metro-blocked join with it broadcast (the reference
    notes ~376 supply rows, L639-646).  Above it:
    the windowed cell-prefix plan — pairwise exact w.r.t. the 3-mile
    radius filter (the ring window strictly contains it), with the same
    metro-key caveat as the distance families: the window ignores metro
    assignment, so a cross-metro supply point inside the radius counts
    here and not in the blocked form (identical results whenever metros
    are farther apart than the radius, as in any real layout and this
    data)."""
    if not plan_choice.small(spark, "competitors", "sites"):
        return hex_denominators_windowed(spark)
    cells = spark.table("hex_grid").select(
        "cell_id", "metro", "centroid_lat", "centroid_lon", "population"
    )
    sup = supply_df(spark).select(
        F.col("metro").alias("s_metro"),
        F.col("lat").alias("s_lat"),
        F.col("lon").alias("s_lon"),
    )
    pairs = cells.join(F.broadcast(sup), cells.metro == sup.s_metro, "inner")
    d2 = _dist2_miles(
        F.col("centroid_lat"), F.col("centroid_lon"), F.col("s_lat"), F.col("s_lon")
    )
    pairs = pairs.withColumn("dist2", d2).filter(F.col("dist2") <= MILES * MILES)
    return pairs.groupBy("cell_id").agg(F.sum(_gravity2(F.col("dist2"))).alias("denom"))


def hex_denominators_windowed(spark: SparkSession) -> DataFrame:
    """The at-scale denominator: each SUPPLY point (the small side) is
    ring-expanded at the coarse res and equi-joined to the cell's coarse
    parent — a high-cardinality hash join, no metro block, no broadcast.
    Exact (see hex_denominators): the window ⊃ the 3-mile radius filter."""
    from .features import _coarse_ring_pairs

    sup = supply_df(spark).select("supply_id", "lat", "lon")
    cells = spark.table("hex_grid").select(
        "cell_id",
        F.col("centroid_lat").alias("c_lat"),
        F.col("centroid_lon").alias("c_lon"),
    )
    cand = _coarse_ring_pairs(
        spark, sup, cells, ["cell_id", "c_lat", "c_lon"], id_col="supply_id"
    )
    d2 = _dist2_miles(F.col("lat"), F.col("lon"), F.col("c_lat"), F.col("c_lon"))
    pairs = cand.withColumn("dist2", d2).filter(F.col("dist2") <= MILES * MILES)
    return pairs.groupBy("cell_id").agg(F.sum(_gravity2(F.col("dist2"))).alias("denom"))


def huff_features(spark: SparkSession) -> DataFrame:
    """huff_market_share + huff_demand per site."""
    sites = spark.table("sites")
    cells = spark.table("hex_grid").select(
        "cell_id", "centroid_lat", "centroid_lon", "population"
    )
    trade = rings.ring_pairs(
        spark, sites, k=2, extra_cols=["lat", "lon", "site_type"]
    )
    j = trade.join(cells, trade.neighbor_h3 == cells.cell_id, "inner")
    d2 = _dist2_miles(F.col("lat"), F.col("lon"), F.col("centroid_lat"), F.col("centroid_lon"))
    j = j.withColumn("g_site", _gravity2(d2))
    # denominators are |distinct cells| rows (grid-scale, not pair-scale):
    # broadcast while the grid is provably small so the pair side never
    # shuffles; above the gate a grid-scale table must NOT ship to every
    # executor — the plain equi-join shuffles both sides on the
    # high-cardinality cell key instead
    denom = hex_denominators(spark)
    denom = F.broadcast(denom) if plan_choice.small(spark, "hex_grid") else denom
    j = j.join(denom, "cell_id", "left")
    share = F.col("g_site") / (
        F.coalesce(F.col("denom"), F.lit(0.0))
        + F.when(F.col("site_type") == "candidate", F.col("g_site")).otherwise(F.lit(0.0))
    )
    j = j.withColumn("share", share)
    return j.groupBy("site_id").agg(
        dround(F.avg("share"), 6).alias("huff_market_share"),
        dround(F.sum(F.col("share") * F.col("population")), 4).alias("huff_demand"),
    )


def _dist2_sql(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    return (
        f"((({lat2}) - ({lat1})) * 69.0 * ((({lat2}) - ({lat1})) * 69.0)"
        f" + (({lon2}) - ({lon1})) * 54.6 * ((({lon2}) - ({lon1})) * 54.6))"
    )


def _gravity2_sql(d2: str) -> str:
    return f"(1.0 / GREATEST({d2}, {FLOOR * FLOOR}))"


def huff_features_oracle_sql() -> str:
    w = hex_sql.sites_sql()
    c = hex_sql.competitors_sql()
    g = hex_sql.grid_sql()
    ring = rings.ring_pairs_oracle_sql(
        "SELECT site_id, lat, lon, site_type, q, r FROM sites",
        2,
        extra_cols=["lat", "lon", "site_type"],
    )
    d2_denom = _dist2_sql("h.centroid_lat", "h.centroid_lon", "u.lat", "u.lon")
    d2_site = _dist2_sql("t.lat", "t.lon", "h.centroid_lat", "h.centroid_lon")
    return f"""
WITH sites AS ({w}), competitors AS ({c}), hex_grid AS ({g}),
supply AS (
  SELECT 'S' || CAST(site_id AS VARCHAR) AS supply_id, metro, lat, lon
  FROM sites WHERE site_type = 'store'
  UNION ALL
  SELECT 'C' || CAST(competitor_id AS VARCHAR) AS supply_id, metro, lat, lon
  FROM competitors
),
denoms AS (
  SELECT cell_id, SUM({_gravity2_sql("dist2")}) AS denom
  FROM (
    SELECT h.cell_id, {d2_denom} AS dist2
    FROM hex_grid h JOIN supply u ON h.metro = u.metro
  ) __p
  WHERE dist2 <= {MILES * MILES}
  GROUP BY cell_id
),
trade AS ({ring}),
pairs AS (
  SELECT t.site_id, t.site_type, h.cell_id, h.population,
         {_gravity2_sql(d2_site)} AS g_site
  FROM trade t JOIN hex_grid h ON t.neighbor_h3 = h.cell_id
),
shares AS (
  SELECT p.site_id,
         p.g_site / (COALESCE(d.denom, 0.0)
                     + CASE WHEN p.site_type = 'candidate' THEN p.g_site ELSE 0.0 END)
             AS share,
         p.population
  FROM pairs p LEFT JOIN denoms d ON p.cell_id = d.cell_id
)
SELECT site_id,
       (FLOOR((AVG(share)) * 1000000.0 + 0.5) / 1000000.0) AS huff_market_share,
       (FLOOR((SUM(share * population)) * 10000.0 + 0.5) / 10000.0) AS huff_demand
FROM shares
GROUP BY site_id"""
