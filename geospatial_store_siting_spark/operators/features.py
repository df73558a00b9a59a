"""Feature engineering — the core of the reference pipeline.

Re-expresses ``/root/reference/notebooks/10_feature_engineering.py`` as
pure DataFrame transforms over the hex index:

- k-ring neighborhood aggregation (demographics/traffic)  — L126-197
- competitive features: in-ring counts, nearest-distance, gravity
  intensity via metro-blocked distance join                — L209-283
- POI features (anchor counts)                             — L292-324
- cannibalization vs own stores                            — L379-406
- final assembly: left-join families onto the site base,
  null-fill contract (numeric features never null)         — L759-803

Every family also has an ``*_oracle_sql()`` twin producing ANSI SQL for
DuckDB over the same parquet tables, via the shared dialect-neutral
synthesis CTEs — the correctness gate.

Scale design (100 TB posture):
- ring expansion is a generator explode over a literal offsets array — no
  join, no shuffle, stays inside whole-stage codegen;
- the grid join shuffles on cell_id: high-cardinality, near-uniform key
  (urban-core skew handled by operators/skew.py salting when a cell's
  entity list explodes);
- distance families dispatch on the dim gate (operators/plan_choice.py):
  metro-blocked broadcast joins below it (exact, and fastest while the
  dim ships), the windowed cell-prefix plans above it (dim-side ring
  explode + high-cardinality hash join — the only plan whose pair count
  grows linearly when BOTH sides grow; measured in BENCH/feature_scale.py);
- every table these gates ask about has a snapshot-manifest row count, so
  deciding a feature plan never runs a count() job;
- aggregations are single-pass partial+final hash aggs (map-side combine;
  no COUNT(DISTINCT) where join pairs are provably unique per group —
  DISTINCT would add an Expand replica of the pair table per aggregate);
- every float output is rounded at the end (oracle-stable), never mid-chain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DISTANCE_FLOOR_MILES, GRAVITY_EPS, TRADE_AREA_RADIUS_MILES
from ..functions import hex_sql
from ..functions.exprs import dround
from . import plan_choice, rings

MILES = TRADE_AREA_RADIUS_MILES


def haversine_col(lat1, lon1, lat2, lon2):
    """Native-expression haversine (reference's explicit no-UDF kernel,
    `notebooks/10_feature_engineering.py:235-243`)."""
    dlat = F.radians(lat2 - lat1)
    dlon = F.radians(lon2 - lon1)
    a = (
        F.pow(F.sin(dlat / 2), 2)
        + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2)) * F.pow(F.sin(dlon / 2), 2)
    )
    return F.lit(7917.511798) * F.asin(F.sqrt(a))


# ---------------------------------------------------------------------------
# Family 1: ring demographics (J1 + A1/A2)
# ---------------------------------------------------------------------------

def demographics_ring(spark: SparkSession, k: int = 1) -> DataFrame:
    """Population + weighted demographic means over the k-ring.

    Reference `notebooks/10_feature_engineering.py:126-144` (k=1) and
    L162-173 (k=2 daytime population).  Weighted mean = SUM(x*w)/SUM(w) in
    one pass (A2).
    """
    sites = spark.table("sites")
    grid = spark.table("hex_grid")
    pairs = rings.ring_pairs(spark, sites, k)
    joined = pairs.join(grid, pairs.neighbor_h3 == grid.cell_id, "inner")
    pop = F.sum("population")
    return (
        joined.groupBy("site_id")
        .agg(
            pop.alias(f"population_{k}ring"),
            dround(F.sum(F.col("median_income") * F.col("population")) / pop, 4).alias(
                f"median_income_{k}ring"
            ),
            dround(F.sum(F.col("target_demo_pct") * F.col("population")) / pop, 6).alias(
                f"target_demo_pct_{k}ring"
            ),
            dround(F.sum(F.col("college_pct") * F.col("population")) / pop, 6).alias(
                f"college_pct_{k}ring"
            ),
            F.count(F.lit(1)).alias("n_cells"),
        )
    )


def demographics_ring_oracle_sql(k: int = 1) -> str:
    w = hex_sql.sites_sql()
    g = hex_sql.grid_sql()
    ring = rings.ring_pairs_oracle_sql("SELECT site_id, q, r FROM sites", k)
    return f"""
WITH sites AS ({w}), hex_grid AS ({g}), ring AS ({ring})
SELECT site_id,
       SUM(population) AS population_{k}ring,
       (FLOOR((SUM(median_income * population) / SUM(population)) * 10000.0 + 0.5) / 10000.0) AS median_income_{k}ring,
       (FLOOR((SUM(target_demo_pct * population) / SUM(population)) * 1000000.0 + 0.5) / 1000000.0) AS target_demo_pct_{k}ring,
       (FLOOR((SUM(college_pct * population) / SUM(population)) * 1000000.0 + 0.5) / 1000000.0) AS college_pct_{k}ring,
       COUNT(*) AS n_cells
FROM ring JOIN hex_grid ON ring.neighbor_h3 = hex_grid.cell_id
GROUP BY site_id"""


# ---------------------------------------------------------------------------
# Family 1b: daytime population (demographics + commute flows)
# ---------------------------------------------------------------------------

def daytime_population_ring(spark: SparkSession, k: int = 1) -> DataFrame:
    """Daytime population = SUM(population + commute_inflow - commute_outflow)
    over the k-ring (`notebooks/10_feature_engineering.py:156-173`)."""
    sites = spark.table("sites")
    grid = spark.table("hex_grid")
    pairs = rings.ring_pairs(spark, sites, k)
    joined = pairs.join(grid, pairs.neighbor_h3 == grid.cell_id, "inner")
    daytime = (
        F.col("population")
        + F.coalesce(F.col("commute_inflow"), F.lit(0.0))
        - F.coalesce(F.col("commute_outflow"), F.lit(0.0))
    )
    return joined.groupBy("site_id").agg(
        dround(F.sum(daytime), 4).alias(f"daytime_pop_{k}ring")
    )


def daytime_population_ring_oracle_sql(k: int = 1) -> str:
    w = hex_sql.sites_sql()
    g = hex_sql.grid_sql()
    ring = rings.ring_pairs_oracle_sql("SELECT site_id, q, r FROM sites", k)
    return f"""
WITH sites AS ({w}), hex_grid AS ({g}), ring AS ({ring})
SELECT site_id,
       (FLOOR((SUM(population + COALESCE(commute_inflow, 0.0) - COALESCE(commute_outflow, 0.0)))
              * 10000.0 + 0.5) / 10000.0) AS daytime_pop_{k}ring
FROM ring JOIN hex_grid ON ring.neighbor_h3 = hex_grid.cell_id
GROUP BY site_id"""


# ---------------------------------------------------------------------------
# Family 2: ring traffic (A3/A4)
# ---------------------------------------------------------------------------

def traffic_ring(spark: SparkSession, k: int = 1) -> DataFrame:
    """Max pedestrian / mean transit over the ring
    (`notebooks/10_feature_engineering.py:184-197`)."""
    sites = spark.table("sites")
    grid = spark.table("hex_grid")
    pairs = rings.ring_pairs(spark, sites, k)
    joined = pairs.join(grid, pairs.neighbor_h3 == grid.cell_id, "inner")
    return (
        joined.groupBy("site_id")
        .agg(
            dround(F.max("pedestrian_traffic"), 4).alias("max_pedestrian_traffic"),
            dround(F.avg("transit_score"), 4).alias("avg_transit_score"),
            dround(F.sum("foot_traffic"), 4).alias("foot_traffic_sum"),
        )
    )


def traffic_ring_oracle_sql(k: int = 1) -> str:
    w = hex_sql.sites_sql()
    g = hex_sql.grid_sql()
    ring = rings.ring_pairs_oracle_sql("SELECT site_id, q, r FROM sites", k)
    return f"""
WITH sites AS ({w}), hex_grid AS ({g}), ring AS ({ring})
SELECT site_id,
       (FLOOR((MAX(pedestrian_traffic)) * 10000.0 + 0.5) / 10000.0) AS max_pedestrian_traffic,
       (FLOOR((AVG(transit_score)) * 10000.0 + 0.5) / 10000.0) AS avg_transit_score,
       (FLOOR((SUM(foot_traffic)) * 10000.0 + 0.5) / 10000.0) AS foot_traffic_sum
FROM ring JOIN hex_grid ON ring.neighbor_h3 = hex_grid.cell_id
GROUP BY site_id"""


# ---------------------------------------------------------------------------
# Family 3: in-ring competition counts (J2 left join + A6/A7)
# ---------------------------------------------------------------------------

def competition_ring(spark: SparkSession, k: int = 1) -> DataFrame:
    """Competitor counts within the k-ring — left join because hexes may
    hold no competitor (`notebooks/10_feature_engineering.py:209-229`);
    conditional distinct counts (A7) for per-category columns."""
    sites = spark.table("sites")
    comp = spark.table("competitors").select(
        F.col("h3_res8").alias("c_cell"), "competitor_id", "category"
    )
    pairs = rings.ring_pairs(spark, sites, k)
    joined = pairs.join(comp, pairs.neighbor_h3 == comp.c_cell, "left")
    return (
        joined.groupBy("site_id")
        .agg(
            F.countDistinct("competitor_id").alias(f"competitors_{k}ring"),
            F.countDistinct(
                F.when(F.col("category") == "QSR_Burger", F.col("competitor_id"))
            ).alias(f"burger_competitors_{k}ring"),
            F.countDistinct(
                F.when(F.col("category") == "Coffee", F.col("competitor_id"))
            ).alias(f"coffee_competitors_{k}ring"),
        )
    )


def competition_ring_oracle_sql(k: int = 1) -> str:
    w = hex_sql.sites_sql()
    c = hex_sql.competitors_sql()
    ring = rings.ring_pairs_oracle_sql("SELECT site_id, q, r FROM sites", k)
    return f"""
WITH sites AS ({w}), competitors AS ({c}), ring AS ({ring})
SELECT site_id,
       COUNT(DISTINCT competitor_id) AS competitors_{k}ring,
       COUNT(DISTINCT CASE WHEN category = 'QSR_Burger' THEN competitor_id END)
           AS burger_competitors_{k}ring,
       COUNT(DISTINCT CASE WHEN category = 'Coffee' THEN competitor_id END)
           AS coffee_competitors_{k}ring
FROM ring LEFT JOIN competitors ON ring.neighbor_h3 = competitors.h3_res8
GROUP BY site_id"""


# ---------------------------------------------------------------------------
# Family 4: distance features via metro-blocked join (J4 + A3 min)
# ---------------------------------------------------------------------------

def competition_distance(
    spark: SparkSession, sites_df: DataFrame | None = None
) -> DataFrame:
    """Nearest-competitor distance + gravity intensity.

    The blocked θ-join of `notebooks/10_feature_engineering.py:246-283`:
    equi-join on the metro block key bounds the cross product; haversine is
    a native column expression; aggregation folds ~|sites|×|competitors per
    metro| pairs into one row per site.  At 100 TB the block key becomes a
    coarse-cell prefix (operators/knn.py).
    """
    sites = (sites_df if sites_df is not None else spark.table("sites")).select(
        "site_id", "metro", "lat", "lon"
    )
    comp = spark.table("competitors").select(
        F.col("metro").alias("c_metro"),
        F.col("lat").alias("c_lat"),
        F.col("lon").alias("c_lon"),
        "competitor_id",
        "category",
    )
    # broadcast only while the dim is provably small; above the gate the
    # blocked join shuffles both sides (the assembly switches to
    # competition_distance_windowed instead — cell-prefix candidates, no
    # metro block; see location_features)
    comp = F.broadcast(comp) if plan_choice.small(spark, "competitors") else comp
    pairs = sites.join(comp, sites.metro == F.col("c_metro"), "inner")
    d = haversine_col(F.col("lat"), F.col("lon"), F.col("c_lat"), F.col("c_lon"))
    pairs = pairs.withColumn("dist_miles", d)
    in_radius = F.col("dist_miles") <= MILES
    # competitors_3mi: plain conditional COUNT, not countDistinct — the
    # blocked join emits exactly one row per (site, competitor), so
    # DISTINCT is a semantic no-op but forces a partial agg keyed on
    # (site, competitor): a full shuffle of the PAIR table (billions of
    # rows at scale) instead of map-side collapse to one row per site.
    # The oracle keeps COUNT(DISTINCT ...) and the hash check proves
    # equality.
    return (
        pairs.groupBy("site_id")
        .agg(
            dround(F.min("dist_miles"), 4).alias("nearest_competitor_miles"),
            dround(
                F.min(F.when(F.col("category") == "QSR_Burger", F.col("dist_miles"))), 4
            ).alias("nearest_same_category_dist"),
            dround(
                F.sum(
                    F.when(
                        in_radius,
                        1.0 / (F.col("dist_miles") * F.col("dist_miles") + F.lit(GRAVITY_EPS)),
                    ).otherwise(0.0)
                ),
                4,
            ).alias("competitive_intensity"),
            F.count(F.when(in_radius, F.col("competitor_id"))).alias(
                "competitors_3mi"
            ),
        )
    )


def competition_distance_oracle_sql() -> str:
    w = hex_sql.sites_sql()
    c = hex_sql.competitors_sql()
    hav = hex_sql.haversine_miles_sql("s.lat", "s.lon", "c.lat", "c.lon")
    return f"""
WITH sites AS ({w}), competitors AS ({c}),
pairs AS (
  SELECT s.site_id, {hav} AS dist_miles, c.competitor_id, c.category
  FROM sites s JOIN competitors c ON s.metro = c.metro
)
SELECT site_id,
       (FLOOR((MIN(dist_miles)) * 10000.0 + 0.5) / 10000.0) AS nearest_competitor_miles,
       (FLOOR((MIN(CASE WHEN category = 'QSR_Burger' THEN dist_miles END)) * 10000.0 + 0.5) / 10000.0)
           AS nearest_same_category_dist,
       (FLOOR((SUM(CASE WHEN dist_miles <= {MILES}
                      THEN 1.0 / (dist_miles * dist_miles + {GRAVITY_EPS})
                      ELSE 0.0 END)) * 10000.0 + 0.5) / 10000.0) AS competitive_intensity,
       COUNT(DISTINCT CASE WHEN dist_miles <= {MILES} THEN competitor_id END)
           AS competitors_3mi
FROM pairs
GROUP BY site_id"""


WINDOW_RING_K = 5  # res-7 ring radius for windowed distance features
                   # (5 rings × ~1.7 km center spacing covers > 3 mi)


def _coarse_ring_pairs(
    spark: SparkSession, left: DataFrame, right: DataFrame, right_cols: list,
    id_col: str = "site_id",
) -> DataFrame:
    """Cell-prefix candidate generation (the 100-TB distance-join plan):
    ring-K of the left side's coarse res-7 cell equi-joined to the right
    side's coarse cell — a hash join on a high-cardinality uniform key.
    No metro blocking, no broadcast of a full table.  ``right_cols`` is
    [id, lat, lon, ...] of the right side; the left side must carry
    (id_col, lat, lon)."""
    from .knn import COARSE_RES, _with_coarse_qr

    l = _with_coarse_qr(left).withColumnRenamed("cq", "q").withColumnRenamed("cr", "r")
    r = _with_coarse_qr(right, lat=right_cols[1], lon=right_cols[2]).select(
        *right_cols,
        rings.neighbor_cell_col(F.col("cq"), F.col("cr"), COARSE_RES).alias("r_coarse"),
    )
    ring = rings.ring_pairs(
        spark, l, WINDOW_RING_K, id_col=id_col, extra_cols=["lat", "lon"], res=COARSE_RES
    )
    return ring.join(r, ring.neighbor_h3 == r.r_coarse, "inner")


def _window_candidates(
    spark: SparkSession, probe: DataFrame, dim: DataFrame, dim_cols: list
) -> DataFrame:
    """Candidate pairs for the windowed distance families, with the ring
    explode on the DIM side: hex ring distance is symmetric, so expanding
    the dim's coarse cell by ring-K and equi-joining the PROBE's own
    coarse cell yields exactly the candidate set of expanding the probe —
    but the x(1+3K(K+1)) generator explode runs over |dim| rows instead of
    |probe| rows.  At 1M probe sites the probe-side explode (91M exploded
    rows per family) dominated the windowed assembly; dim-side explode is
    |dim|x91 (measured: cannibalization family 131 s -> dim-side form cuts
    the explode 3-15x).  ``dim_cols`` is [id, lat, lon, ...] of the dim;
    the probe must carry (site_id, lat, lon)."""
    from .knn import COARSE_RES, _with_coarse_qr

    d = (
        _with_coarse_qr(dim, lat=dim_cols[1], lon=dim_cols[2])
        .withColumnRenamed("cq", "q")
        .withColumnRenamed("cr", "r")
    )
    ring = rings.ring_pairs(
        spark, d, WINDOW_RING_K, id_col=dim_cols[0],
        extra_cols=dim_cols[1:], res=COARSE_RES,
    )
    p = _with_coarse_qr(probe)
    p = p.select(
        *[c for c in probe.columns],
        rings.neighbor_cell_col(F.col("cq"), F.col("cr"), COARSE_RES).alias("p_coarse"),
    )
    return p.join(ring, p.p_coarse == ring.neighbor_h3, "inner")


def competition_distance_windowed(spark: SparkSession) -> DataFrame:
    """competition_distance without the full-table broadcast: candidates
    from the coarse-cell ring window.  competitive_intensity and
    competitors_3mi are exact w.r.t. the 3-mile radius (the window
    strictly contains it); the nearest-distance columns are window-bounded
    (NULL when no competitor inside the window), and the window carries NO
    metro key — a cross-metro competitor inside the radius counts here and
    is excluded by the blocked form (see cannibalization_windowed for why
    the windowed semantics is the honest one) — the documented at-scale
    contract, same as operators/knn.py."""
    comp = spark.table("competitors").select(
        "competitor_id",
        F.col("lat").alias("c_lat"), F.col("lon").alias("c_lon"),
        "category",
    )
    cand = _window_candidates(
        spark,
        spark.table("sites").select("site_id", "lat", "lon"),
        comp,
        ["competitor_id", "c_lat", "c_lon", "category"],
    )
    d = haversine_col(F.col("lat"), F.col("lon"), F.col("c_lat"), F.col("c_lon"))
    pairs = cand.withColumn("dist_miles", d)
    in_radius = F.col("dist_miles") <= MILES
    # plain COUNT (not DISTINCT): a competitor's single coarse cell matches
    # exactly one ring offset of a site, so (site, competitor) candidate
    # pairs are unique — see competition_distance for the shuffle cost a
    # redundant DISTINCT adds
    return pairs.groupBy("site_id").agg(
        dround(F.min("dist_miles"), 4).alias("nearest_competitor_miles"),
        dround(
            F.min(F.when(F.col("category") == "QSR_Burger", F.col("dist_miles"))), 4
        ).alias("nearest_same_category_dist"),
        dround(
            F.sum(
                F.when(
                    in_radius,
                    1.0 / (F.col("dist_miles") * F.col("dist_miles") + F.lit(GRAVITY_EPS)),
                ).otherwise(0.0)
            ),
            4,
        ).alias("competitive_intensity"),
        F.count(F.when(in_radius, F.col("competitor_id"))).alias("competitors_3mi"),
    )


def competition_distance_windowed_oracle_sql() -> str:
    from .knn import COARSE_RES, _coarse_encode_subquery

    sites_enc = _coarse_encode_subquery(
        f"SELECT site_id, lat, lon FROM ({hex_sql.sites_sql()}) __s",
        keep=["site_id", "lat", "lon"],
    )
    comp_enc = _coarse_encode_subquery(
        f"SELECT competitor_id, category, lat AS c_lat, lon AS c_lon, lat, lon "
        f"FROM ({hex_sql.competitors_sql()}) __c",
        keep=["competitor_id", "category", "c_lat", "c_lon"],
    )
    ring = rings.ring_pairs_oracle_sql(
        f"SELECT site_id, lat, lon, cq AS q, cr AS r FROM ({sites_enc}) __se",
        WINDOW_RING_K,
        extra_cols=["lat", "lon"],
        res=COARSE_RES,
    )
    hav = hex_sql.haversine_miles_sql("rg.lat", "rg.lon", "co.c_lat", "co.c_lon")
    return f"""
WITH comp AS (SELECT competitor_id, category, c_lat, c_lon, coarse_cell FROM ({comp_enc}) __ce),
ring AS ({ring}),
pairs AS (
  SELECT rg.site_id, co.competitor_id, co.category, {hav} AS dist_miles
  FROM ring rg JOIN comp co ON rg.neighbor_h3 = co.coarse_cell
)
SELECT site_id,
       (FLOOR((MIN(dist_miles)) * 10000.0 + 0.5) / 10000.0) AS nearest_competitor_miles,
       (FLOOR((MIN(CASE WHEN category = 'QSR_Burger' THEN dist_miles END)) * 10000.0 + 0.5) / 10000.0)
           AS nearest_same_category_dist,
       (FLOOR((SUM(CASE WHEN dist_miles <= {MILES}
                      THEN 1.0 / (dist_miles * dist_miles + {GRAVITY_EPS})
                      ELSE 0.0 END)) * 10000.0 + 0.5) / 10000.0) AS competitive_intensity,
       COUNT(DISTINCT CASE WHEN dist_miles <= {MILES} THEN competitor_id END) AS competitors_3mi
FROM pairs
GROUP BY site_id"""


# ---------------------------------------------------------------------------
# Family 5: POI features (J2 + A7 conditional distinct)
# ---------------------------------------------------------------------------

def poi_ring(spark: SparkSession, k: int = 1) -> DataFrame:
    """Anchor/total POI counts in the ring
    (`notebooks/10_feature_engineering.py:292-324`)."""
    sites = spark.table("sites")
    poi = spark.table("poi").select(
        F.col("h3_res8").alias("p_cell"), "poi_id", "size_class", "category",
        "foot_traffic_index",
    )
    pairs = rings.ring_pairs(spark, sites, k)
    joined = pairs.join(poi, pairs.neighbor_h3 == poi.p_cell, "left")
    return (
        joined.groupBy("site_id")
        .agg(
            F.countDistinct("poi_id").alias(f"poi_{k}ring"),
            F.countDistinct(
                F.when(F.col("size_class") == "anchor", F.col("poi_id"))
            ).alias(f"anchor_poi_{k}ring"),
            F.countDistinct(
                F.when(F.col("category") == "office", F.col("poi_id"))
            ).alias(f"office_poi_count_{k}ring"),
            dround(
                F.sum(F.coalesce(F.col("foot_traffic_index"), F.lit(0.0))), 4
            ).alias(f"total_foot_traffic_{k}ring"),
        )
    )


def poi_ring_oracle_sql(k: int = 1) -> str:
    w = hex_sql.sites_sql()
    p = hex_sql.poi_sql()
    ring = rings.ring_pairs_oracle_sql("SELECT site_id, q, r FROM sites", k)
    return f"""
WITH sites AS ({w}), poi AS ({p}), ring AS ({ring})
SELECT site_id,
       COUNT(DISTINCT poi_id) AS poi_{k}ring,
       COUNT(DISTINCT CASE WHEN size_class = 'anchor' THEN poi_id END) AS anchor_poi_{k}ring,
       COUNT(DISTINCT CASE WHEN category = 'office' THEN poi_id END) AS office_poi_count_{k}ring,
       (FLOOR((SUM(COALESCE(foot_traffic_index, 0.0))) * 10000.0 + 0.5) / 10000.0)
           AS total_foot_traffic_{k}ring
FROM ring LEFT JOIN poi ON ring.neighbor_h3 = poi.h3_res8
GROUP BY site_id"""


def school_ring(spark: SparkSession, k: int = 2) -> DataFrame:
    """School count over the k=2 ring
    (`notebooks/10_feature_engineering.py:311-321`)."""
    sites = spark.table("sites")
    poi = spark.table("poi").select(
        F.col("h3_res8").alias("p_cell"), "poi_id", "category"
    )
    pairs = rings.ring_pairs(spark, sites, k)
    joined = pairs.join(poi, pairs.neighbor_h3 == poi.p_cell, "left")
    return joined.groupBy("site_id").agg(
        F.countDistinct(
            F.when(F.col("category") == "school", F.col("poi_id"))
        ).alias(f"school_count_{k}ring")
    )


def school_ring_oracle_sql(k: int = 2) -> str:
    w = hex_sql.sites_sql()
    p = hex_sql.poi_sql()
    ring = rings.ring_pairs_oracle_sql("SELECT site_id, q, r FROM sites", k)
    return f"""
WITH sites AS ({w}), poi AS ({p}), ring AS ({ring})
SELECT site_id,
       COUNT(DISTINCT CASE WHEN category = 'school' THEN poi_id END) AS school_count_{k}ring
FROM ring LEFT JOIN poi ON ring.neighbor_h3 = poi.h3_res8
GROUP BY site_id"""


# ---------------------------------------------------------------------------
# Family 5b: property features with per-metro median imputation (J14 + A9)
# ---------------------------------------------------------------------------

def property_features(spark: SparkSession) -> DataFrame:
    """Property columns with per-metro median fill from candidates
    (`notebooks/10_feature_engineering.py:334-364`): stores carry NULL
    parking/rent, imputed from the candidate medians of their metro.
    The 5-row medians dim is broadcast — no shuffle of the site side."""
    sites = spark.table("sites")
    med = (
        sites.filter(F.col("site_type") == "candidate")
        .groupBy("metro")
        .agg(
            F.expr("percentile(parking_spaces, 0.5)").alias("med_parking"),
            F.expr("percentile(rent_per_sqft, 0.5)").alias("med_rent"),
        )
    )
    return sites.join(F.broadcast(med), "metro", "left").select(
        "site_id",
        F.when(F.col("drive_thru") > 0, 1.0).otherwise(0.0).alias("drive_thru_capable_flag"),
        F.coalesce(F.col("parking_spaces"), F.floor(F.col("med_parking")).cast("double")).alias(
            "parking_spaces"
        ),
        F.col("square_feet"),
        dround(F.coalesce(F.col("rent_per_sqft"), F.col("med_rent")), 4).alias("rent_per_sqft"),
    )


def property_features_oracle_sql() -> str:
    return f"""
WITH sites AS ({hex_sql.sites_sql()}),
med AS (
  SELECT metro,
         QUANTILE_CONT(parking_spaces, 0.5) AS med_parking,
         QUANTILE_CONT(rent_per_sqft, 0.5) AS med_rent
  FROM sites WHERE site_type = 'candidate' GROUP BY metro
)
SELECT s.site_id,
       CAST(CASE WHEN s.drive_thru > 0 THEN 1.0 ELSE 0.0 END AS DOUBLE) AS drive_thru_capable_flag,
       COALESCE(s.parking_spaces, CAST(FLOOR(m.med_parking) AS DOUBLE)) AS parking_spaces,
       s.square_feet,
       (FLOOR((COALESCE(s.rent_per_sqft, m.med_rent)) * 10000.0 + 0.5) / 10000.0) AS rent_per_sqft
FROM sites s LEFT JOIN med m ON s.metro = m.metro"""


# ---------------------------------------------------------------------------
# Family 6: cannibalization vs own stores (J6 theta join, self-exclusion)
# ---------------------------------------------------------------------------

def cannibalization(
    spark: SparkSession, sites_df: DataFrame | None = None
) -> DataFrame:
    """Gravity-weighted own-store pressure within 3 miles, excluding self
    (`notebooks/10_feature_engineering.py:379-406`)."""
    sites = (sites_df if sites_df is not None else spark.table("sites")).select(
        "site_id", "metro", "lat", "lon"
    )
    stores = (
        spark.table("sites")
        .filter(F.col("site_type") == "store")
        .select(
            F.col("site_id").alias("store_id"),
            F.col("metro").alias("cb_metro"),
            F.col("lat").alias("s_lat"),
            F.col("lon").alias("s_lon"),
        )
    )
    stores = F.broadcast(stores) if plan_choice.small(spark, "sites") else stores
    pairs = sites.join(stores, sites.metro == F.col("cb_metro"), "inner").filter(
        F.col("site_id") != F.col("store_id")
    )
    d = haversine_col(F.col("lat"), F.col("lon"), F.col("s_lat"), F.col("s_lon"))
    pairs = pairs.withColumn("dist_miles", d)
    return (
        pairs.groupBy("site_id")
        .agg(
            dround(
                F.sum(
                    F.when(
                        F.col("dist_miles") <= MILES,
                        1.0 / (F.col("dist_miles") * F.col("dist_miles") + F.lit(GRAVITY_EPS)),
                    ).otherwise(0.0)
                ),
                4,
            ).alias("cannibalization_risk"),
            dround(F.min("dist_miles"), 4).alias("nearest_own_store_miles"),
        )
    )


def cannibalization_oracle_sql() -> str:
    w = hex_sql.sites_sql()
    hav = hex_sql.haversine_miles_sql("s.lat", "s.lon", "t.lat", "t.lon")
    return f"""
WITH sites AS ({w}),
pairs AS (
  SELECT s.site_id, {hav} AS dist_miles
  FROM sites s JOIN sites t
    ON s.metro = t.metro AND t.site_type = 'store' AND s.site_id <> t.site_id
)
SELECT site_id,
       (FLOOR((SUM(CASE WHEN dist_miles <= {MILES}
                      THEN 1.0 / (dist_miles * dist_miles + {GRAVITY_EPS})
                      ELSE 0.0 END)) * 10000.0 + 0.5) / 10000.0) AS cannibalization_risk,
       (FLOOR((MIN(dist_miles)) * 10000.0 + 0.5) / 10000.0) AS nearest_own_store_miles
FROM pairs
GROUP BY site_id"""


def cannibalization_windowed(spark: SparkSession) -> DataFrame:
    """cannibalization without the metro block / full-store broadcast:
    own-store candidates from the coarse-cell ring window, self-excluded —
    the at-scale twin the assembly uses above the dim gate.

    cannibalization_risk is exact w.r.t. the 3-mile radius (the ring
    window strictly contains it); nearest_own_store_miles is
    window-bounded (NULL → 0 after the assembly null-fill when no own
    store lies inside the window).  One further contract difference from
    the blocked form: the window has NO metro key, so a store within the
    window but assigned to a DIFFERENT metro counts here and not there —
    the metro block is itself a geography assumption (no cross-metro
    neighbor within the radius), which holds for real metro layouts and
    for this data; adjacent-metro datasets should treat the windowed
    semantics as the ground truth.  Same contract as
    competition_distance_windowed."""
    stores = (
        spark.table("sites")
        .filter(F.col("site_type") == "store")
        .select(
            F.col("site_id").alias("store_id"),
            F.col("lat").alias("s_lat"),
            F.col("lon").alias("s_lon"),
        )
    )
    cand = _window_candidates(
        spark,
        spark.table("sites").select("site_id", "lat", "lon"),
        stores,
        ["store_id", "s_lat", "s_lon"],
    ).filter(F.col("site_id") != F.col("store_id"))
    d = haversine_col(F.col("lat"), F.col("lon"), F.col("s_lat"), F.col("s_lon"))
    pairs = cand.withColumn("dist_miles", d)
    return pairs.groupBy("site_id").agg(
        dround(
            F.sum(
                F.when(
                    F.col("dist_miles") <= MILES,
                    1.0 / (F.col("dist_miles") * F.col("dist_miles") + F.lit(GRAVITY_EPS)),
                ).otherwise(0.0)
            ),
            4,
        ).alias("cannibalization_risk"),
        dround(F.min("dist_miles"), 4).alias("nearest_own_store_miles"),
    )


def cannibalization_windowed_oracle_sql() -> str:
    from .knn import COARSE_RES, _coarse_encode_subquery

    sites_enc = _coarse_encode_subquery(
        f"SELECT site_id, lat, lon FROM ({hex_sql.sites_sql()}) __s",
        keep=["site_id", "lat", "lon"],
    )
    store_enc = _coarse_encode_subquery(
        f"SELECT site_id AS store_id, lat AS s_lat, lon AS s_lon, lat, lon "
        f"FROM ({hex_sql.sites_sql()}) __t WHERE site_type = 'store'",
        keep=["store_id", "s_lat", "s_lon"],
    )
    ring = rings.ring_pairs_oracle_sql(
        f"SELECT site_id, lat, lon, cq AS q, cr AS r FROM ({sites_enc}) __se",
        WINDOW_RING_K,
        extra_cols=["lat", "lon"],
        res=COARSE_RES,
    )
    hav = hex_sql.haversine_miles_sql("rg.lat", "rg.lon", "st.s_lat", "st.s_lon")
    return f"""
WITH stores AS (SELECT store_id, s_lat, s_lon, coarse_cell FROM ({store_enc}) __ce),
ring AS ({ring}),
pairs AS (
  SELECT rg.site_id, st.store_id, {hav} AS dist_miles
  FROM ring rg JOIN stores st ON rg.neighbor_h3 = st.coarse_cell
  WHERE rg.site_id <> st.store_id
)
SELECT site_id,
       (FLOOR((SUM(CASE WHEN dist_miles <= {MILES}
                      THEN 1.0 / (dist_miles * dist_miles + {GRAVITY_EPS})
                      ELSE 0.0 END)) * 10000.0 + 0.5) / 10000.0) AS cannibalization_risk,
       (FLOOR((MIN(dist_miles)) * 10000.0 + 0.5) / 10000.0) AS nearest_own_store_miles
FROM pairs
GROUP BY site_id"""


# ---------------------------------------------------------------------------
# Assembly (J9 chained left joins + null-fill contract)
# ---------------------------------------------------------------------------

# the reference null-fills EVERY numeric feature with 0
# (`notebooks/10_feature_engineering.py:786-789`)
FILL_ZERO = [
    "population_1ring",
    "median_income_1ring",
    "target_demo_pct_1ring",
    "daytime_pop_1ring",
    "college_pct_1ring",
    "max_pedestrian_traffic",
    "avg_transit_score",
    "foot_traffic_sum",
    "competitors_1ring",
    "burger_competitors_1ring",
    "coffee_competitors_1ring",
    "competitors_3ring",
    "nearest_competitor_miles",
    "nearest_same_category_dist",
    "competitive_intensity",
    "competitors_3mi",
    "poi_1ring",
    "anchor_poi_1ring",
    "office_poi_count_1ring",
    "school_count_2ring",
    "total_foot_traffic_1ring",
    "parking_spaces",
    "square_feet",
    "rent_per_sqft",
    "cannibalization_risk",
    "nearest_own_store_miles",
    "huff_market_share",
    "huff_expected_demand",
]


def _cell_families(spark: SparkSession) -> DataFrame:
    """Every cell-keyed family in ONE ring-3 pass: demographics/traffic/
    daytime + Huff (grid rows, ring ≤ 1 / ≤ 2), competition ring counts
    (ring ≤ 1 / ≤ 3) and poi/school counts (ring ≤ 1 / ≤ 2) over a single
    unioned cell-keyed dim (grid ∪ competitors ∪ poi, tagged by ``src``).

    One ring explode of the site base (37 offsets, carrying lat/lon/
    site_type once) + ONE join on the high-cardinality cell key + ONE
    site-keyed hash agg replace three explodes (19+37+19 offsets), three
    joins and three aggs — at scale that is one shuffle of the pair table
    instead of three, and two fewer site-keyed assembly joins (guide
    §2.4).  Every aggregate keeps the EXACT text of its unfused twin,
    restricted by ring_k (ring-1/2 conditions — identical row sets, since
    ring-1 ⊂ ring-2 ⊂ ring-3 offsets) and, for counts, by ``src`` (sum/
    avg/min/max aggregates skip the other sources' NULL attributes on
    their own; conditional COUNTs must not count foreign rows).  Adding
    rows that contribute NULL (skipped) or an explicit 0.0 term cannot
    change any aggregate value, so the fused output is bit-identical —
    oracle-checked against the unfused per-family SQL."""
    from .huff import _dist2_sql, _gravity2_sql, hex_denominators

    sites = spark.table("sites")
    pairs = rings.ring_pairs(
        spark, sites, 3, extra_cols=["lat", "lon", "site_type"], with_ring=True
    )
    nd, nl, ns = "CAST(NULL AS DOUBLE)", "CAST(NULL AS BIGINT)", "CAST(NULL AS STRING)"
    grid_attr_cols = [
        "population", "median_income", "target_demo_pct", "college_pct",
        "commute_inflow", "commute_outflow", "pedestrian_traffic",
        "transit_score", "foot_traffic", "centroid_lat", "centroid_lon",
    ]
    dim = (
        spark.table("hex_grid").selectExpr(
            "cell_id AS d_cell", "'g' AS src", *grid_attr_cols,
            f"{nl} AS entity_id", f"{ns} AS category", f"{ns} AS size_class",
            f"{nd} AS foot_traffic_index",
        )
        .unionByName(
            spark.table("competitors").selectExpr(
                "h3_res8 AS d_cell", "'c' AS src",
                *[f"{nd} AS {c}" for c in grid_attr_cols],
                "competitor_id AS entity_id", "category",
                f"{ns} AS size_class", f"{nd} AS foot_traffic_index",
            )
        )
        .unionByName(
            spark.table("poi").selectExpr(
                "h3_res8 AS d_cell", "'p' AS src",
                *[f"{nd} AS {c}" for c in grid_attr_cols],
                "poi_id AS entity_id", "category", "size_class",
                "foot_traffic_index",
            )
        )
    )
    denom = hex_denominators(spark)
    denom = F.broadcast(denom) if plan_choice.small(spark, "hex_grid") else denom
    joined = pairs.join(dim, pairs.neighbor_h3 == dim.d_cell, "left").join(
        denom, pairs.neighbor_h3 == denom.cell_id, "left"
    )
    # same expression texts as the unfused families (see their comments on
    # why plain conditional COUNTs replace DISTINCT and why the agg list is
    # server-parsed strings)
    r1 = lambda c: f"CASE WHEN ring_k <= 1 THEN {c} END"  # noqa: E731
    dr = lambda x, n: f"FLOOR(({x}) * 1e{n} + 0.5) / 1e{n}"  # noqa: E731
    g_site = _gravity2_sql(_dist2_sql("lat", "lon", "centroid_lat", "centroid_lon"))
    share = (
        f"({g_site}) / (COALESCE(denom, 0.0)"
        f" + CASE WHEN site_type = 'candidate' THEN ({g_site}) ELSE 0.0 END)"
    )
    # src = 'g' is REQUIRED here, not just tidy: for non-grid rows the
    # NULL centroid makes d2 NULL and GREATEST(NULL, floor²) = floor²
    # (GREATEST skips NULLs), so share would evaluate to a real number —
    # with a 0.0 divisor for non-candidate sites (ANSI DIVIDE_BY_ZERO)
    r2share = f"CASE WHEN ring_k <= 2 AND src = 'g' THEN {share} END"
    pop1 = "SUM(" + r1("population") + ")"
    wsum = lambda c, n: dr("SUM(" + r1(c + " * population") + ") / " + pop1, n)  # noqa: E731
    daytime = "population + COALESCE(commute_inflow, 0.0) - COALESCE(commute_outflow, 0.0)"
    aggs = [
        # grid families (attribute aggregates skip non-grid rows via NULLs)
        pop1 + " AS population_1ring",
        wsum("median_income", 4) + " AS median_income_1ring",
        wsum("target_demo_pct", 6) + " AS target_demo_pct_1ring",
        wsum("college_pct", 6) + " AS college_pct_1ring",
        "COUNT(CASE WHEN ring_k <= 1 AND src = 'g' THEN 1 END) AS n_cells",
        dr("MAX(" + r1("pedestrian_traffic") + ")", 4) + " AS max_pedestrian_traffic",
        dr("AVG(" + r1("transit_score") + ")", 4) + " AS avg_transit_score",
        dr("SUM(" + r1("foot_traffic") + ")", 4) + " AS foot_traffic_sum",
        dr("SUM(" + r1(daytime) + ")", 4) + " AS daytime_pop_1ring",
        dr(f"AVG({r2share})", 6) + " AS huff_market_share",
        dr(f"SUM(({r2share}) * population)", 4) + " AS huff_expected_demand",
        # competition rings
        "COUNT(CASE WHEN ring_k <= 1 AND src = 'c' THEN entity_id END)"
        " AS competitors_1ring",
        "COUNT(CASE WHEN ring_k <= 1 AND src = 'c' AND category = 'QSR_Burger'"
        " THEN entity_id END) AS burger_competitors_1ring",
        "COUNT(CASE WHEN ring_k <= 1 AND src = 'c' AND category = 'Coffee'"
        " THEN entity_id END) AS coffee_competitors_1ring",
        "COUNT(CASE WHEN src = 'c' THEN entity_id END) AS competitors_3ring",
        # poi + school rings
        "COUNT(CASE WHEN ring_k <= 1 AND src = 'p' THEN entity_id END) AS poi_1ring",
        "COUNT(CASE WHEN ring_k <= 1 AND src = 'p' AND size_class = 'anchor'"
        " THEN entity_id END) AS anchor_poi_1ring",
        "COUNT(CASE WHEN ring_k <= 1 AND src = 'p' AND category = 'office'"
        " THEN entity_id END) AS office_poi_count_1ring",
        "FLOOR((SUM(CASE WHEN ring_k <= 1 AND src = 'p'"
        " THEN COALESCE(foot_traffic_index, 0.0)"
        " ELSE 0.0 END)) * 1e4 + 0.5) / 1e4 AS total_foot_traffic_1ring",
        "COUNT(CASE WHEN ring_k <= 2 AND src = 'p' AND category = 'school'"
        " THEN entity_id END) AS school_count_2ring",
    ]
    return joined.groupBy("site_id").agg(*[F.expr(a) for a in aggs])


def _metro_families(spark: SparkSession) -> DataFrame:
    """competition_distance + cannibalization fused into ONE metro-blocked
    broadcast pass (below-gate assembly form only): the two dims union
    into one broadcast (competitors ∪ own stores, tagged by ``src``), the
    haversine evaluates once per pair, and one site-keyed agg emits all
    six distance columns.  Aggregate texts match the unfused twins with
    src (and self-exclusion, for the store side) folded into each CASE:
    foreign-source rows contribute NULL (MIN/COUNT skip) or an explicit
    0.0 sum term — values identical, one broadcast join + one shuffle
    instead of two of each."""
    comp = spark.table("competitors").selectExpr(
        "metro AS d_metro", "lat AS d_lat", "lon AS d_lon",
        "competitor_id AS entity_id", "category", "'c' AS src",
    )
    stores = (
        spark.table("sites")
        .filter(F.col("site_type") == "store")
        .selectExpr(
            "metro AS d_metro", "lat AS d_lat", "lon AS d_lon",
            "site_id AS entity_id", "CAST(NULL AS STRING) AS category",
            "'s' AS src",
        )
    )
    sites = spark.table("sites").select("site_id", "metro", "lat", "lon")
    pairs = sites.join(
        F.broadcast(comp.unionByName(stores)), sites.metro == F.col("d_metro"), "inner"
    ).withColumn(
        "dist_miles",
        haversine_col(F.col("lat"), F.col("lon"), F.col("d_lat"), F.col("d_lon")),
    )
    dr = lambda x, n: f"FLOOR(({x}) * 1e{n} + 0.5) / 1e{n}"  # noqa: E731
    grav = f"1.0 / (dist_miles * dist_miles + {GRAVITY_EPS})"
    own = "src = 's' AND site_id <> entity_id"
    aggs = [
        dr("MIN(CASE WHEN src = 'c' THEN dist_miles END)", 4)
        + " AS nearest_competitor_miles",
        dr("MIN(CASE WHEN src = 'c' AND category = 'QSR_Burger'"
           " THEN dist_miles END)", 4) + " AS nearest_same_category_dist",
        dr(f"SUM(CASE WHEN src = 'c' AND dist_miles <= {MILES}"
           f" THEN {grav} ELSE 0.0 END)", 4) + " AS competitive_intensity",
        f"COUNT(CASE WHEN src = 'c' AND dist_miles <= {MILES}"
        " THEN entity_id END) AS competitors_3mi",
        dr(f"SUM(CASE WHEN {own} AND dist_miles <= {MILES}"
           f" THEN {grav} ELSE 0.0 END)", 4) + " AS cannibalization_risk",
        dr(f"MIN(CASE WHEN {own} THEN dist_miles END)", 4)
        + " AS nearest_own_store_miles",
    ]
    return pairs.groupBy("site_id").agg(*[F.expr(a) for a in aggs])


# assembly output order — frozen (the oracle compares schema; the fused
# assembly must emit exactly the pre-fusion column sequence)
_ASSEMBLY_COLS = [
    "site_id", "metro", "site_type", "drive_thru", "h3_res8",
    # grid families
    "population_1ring", "median_income_1ring", "target_demo_pct_1ring",
    "college_pct_1ring", "n_cells", "max_pedestrian_traffic",
    "avg_transit_score", "foot_traffic_sum", "daytime_pop_1ring",
    "huff_market_share", "huff_expected_demand",
    # competition rings
    "competitors_1ring", "burger_competitors_1ring",
    "coffee_competitors_1ring", "competitors_3ring",
    # distance family
    "nearest_competitor_miles", "nearest_same_category_dist",
    "competitive_intensity", "competitors_3mi",
    # poi + school
    "poi_1ring", "anchor_poi_1ring", "office_poi_count_1ring",
    "total_foot_traffic_1ring", "school_count_2ring",
    # property
    "drive_thru_capable_flag", "parking_spaces", "square_feet",
    "rent_per_sqft",
    # cannibalization
    "cannibalization_risk", "nearest_own_store_miles",
]


def location_features(spark: SparkSession, dev_signals: bool = False) -> DataFrame:
    """gold.location_features: the FULL reference NUMERIC_FEATURES contract
    (`notebooks/_config.py:95-124`): demographic (incl. daytime pop),
    traffic, competition (1-ring, 3-ring, nearest any/same-category,
    intensity), POI (anchor/office/school/foot-traffic), property
    (imputed parking/rent + sqft), cannibalization, and Huff market
    share/expected demand — all families left-joined onto the site base
    and null-filled (`notebooks/10_feature_engineering.py:759-789`), plus
    the derived trade_area_quality / market_saturation columns (L791-803).

    Assembly plan (r6): ALL cell-keyed families run as ONE ring-3 pass
    (_cell_families) and, below the broadcast gate, both metro-blocked
    distance families run as ONE broadcast pass (_metro_families) — two
    family joins instead of six.  Property columns ride the base
    projection directly (the 5-row medians dim broadcasts on metro, so
    folding them in removes a site_id shuffle + join outright).  The base
    is repartitioned on site_id once; each family aggregate is already
    hash-partitioned on site_id by its groupBy, so the family left joins
    reuse that partitioning (scale-invariant: partition count follows
    spark.sql.shuffle.partitions)."""
    sites = spark.table("sites")
    med = (
        sites.filter(F.col("site_type") == "candidate")
        .groupBy("metro")
        .agg(
            F.expr("percentile(parking_spaces, 0.5)").alias("med_parking"),
            F.expr("percentile(rent_per_sqft, 0.5)").alias("med_rent"),
        )
    )
    # property columns fold into the base projection (identical exprs to
    # property_features — the broadcast med join adds no shuffle)
    base = (
        sites.select(
            "site_id", "metro", "site_type", "drive_thru", "h3_res8",
            "parking_spaces", "square_feet", "rent_per_sqft",
        )
        .join(F.broadcast(med), "metro", "left")
        .select(
            "site_id", "metro", "site_type", "drive_thru", "h3_res8",
            F.when(F.col("drive_thru") > 0, 1.0).otherwise(0.0).alias(
                "drive_thru_capable_flag"
            ),
            F.coalesce(
                F.col("parking_spaces"), F.floor(F.col("med_parking")).cast("double")
            ).alias("parking_spaces"),
            F.col("square_feet"),
            dround(F.coalesce(F.col("rent_per_sqft"), F.col("med_rent")), 4).alias(
                "rent_per_sqft"
            ),
        )
        .repartition("site_id")
    )
    # Distance families: the fused metro-blocked broadcast pass only while
    # its ONE broadcast (competitors ∪ own stores) fits the dim gate (block
    # key has ~5 distinct values — a skew/parallelism ceiling if it ever
    # shuffles); above it the assembly switches to the windowed cell-prefix
    # plans (high-cardinality hash joins, no metro key, no full-table
    # broadcast).
    dist_families = (
        [_metro_families(spark)]
        if plan_choice.small(spark, "competitors", "sites")
        else [competition_distance_windowed(spark), cannibalization_windowed(spark)]
    )
    out = base.join(_cell_families(spark), "site_id", "left")
    for fam in dist_families:
        out = out.join(fam, "site_id", "left")
    dev_cols: list[str] = []
    if dev_signals:
        # optional Phase-3 module (reference DEV_SIGNALS_ENABLED gate,
        # `notebooks/10_feature_engineering.py:703-745`); when enabled the
        # dev columns join NUMERIC_FEATURES and get the same null-fill
        from .dev_signals import dev_signal_ring

        ring = dev_signal_ring(spark, 1)
        dev_cols = [c for c in ring.columns if c != "site_id"]
        out = out.join(ring, "site_id", "left")
    # ONE selectExpr for the null-fill contract + derived features: a
    # withColumn per filled column is ~30 py4j round trips and 30 stacked
    # Project nodes for the analyzer; the string list parses server-side
    # in a single call with identical arithmetic (derived formulas inline
    # the COALESCE exactly as the oracle SQL does — L791-803)
    # CAST(... AS DOUBLE): a bare 0.0 parses as DECIMAL(1,1) in Spark SQL
    # (unlike F.lit(0.0)) and COALESCE(BIGINT, DECIMAL) silently widens the
    # count columns to DECIMAL — the oracle compares them as DOUBLE
    fill = set(FILL_ZERO + dev_cols)
    cols = [
        f"CAST(COALESCE({c}, 0.0) AS DOUBLE) AS {c}" if c in fill else c
        for c in _ASSEMBLY_COLS + dev_cols
    ]
    taq = (
        "FLOOR((COALESCE(median_income_1ring, 0.0) / 100000.0 * 0.3"
        " + COALESCE(max_pedestrian_traffic, 0.0) / 100000.0 * 0.3"
        " + COALESCE(population_1ring, 0.0) / 50000.0 * 0.4) * 1e6 + 0.5) / 1e6"
        " AS trade_area_quality"
    )
    ms = (
        "FLOOR((CASE WHEN COALESCE(population_1ring, 0.0) > 0"
        " THEN COALESCE(competitors_3ring, 0.0) / population_1ring * 10000.0"
        " ELSE 0.0 END) * 1e6 + 0.5) / 1e6 AS market_saturation"
    )
    return out.selectExpr(*cols, taq, ms)


def gold_features(
    spark: SparkSession,
    features_df: DataFrame | None = None,
    dev_signals: bool = False,
) -> DataFrame:
    """Resolve gold.location_features the way the reference app does:
    an explicit DataFrame wins, else the pipeline's COMMITTED stage table
    (plans/pipeline.py publishes it via sources/tables.register_stage_view),
    else recompute the feature plan (ad-hoc sessions with no pipeline run).

    The stage table is built without dev signals, so a dev_signals=True
    request always recomputes."""
    if features_df is not None:
        return features_df
    if not dev_signals:
        from ..sources.tables import stage_view

        staged = stage_view(spark, "location_features")
        if staged is not None:
            return staged
    return location_features(spark, dev_signals=dev_signals)


def location_features_oracle_sql() -> str:
    from .huff import huff_features_oracle_sql

    fills = {
        "population_1ring": "d.population_1ring",
        "median_income_1ring": "d.median_income_1ring",
        "target_demo_pct_1ring": "d.target_demo_pct_1ring",
        "daytime_pop_1ring": "dp.daytime_pop_1ring",
        "college_pct_1ring": "d.college_pct_1ring",
        "max_pedestrian_traffic": "t.max_pedestrian_traffic",
        "avg_transit_score": "t.avg_transit_score",
        "foot_traffic_sum": "t.foot_traffic_sum",
        "competitors_1ring": "cr.competitors_1ring",
        "burger_competitors_1ring": "cr.burger_competitors_1ring",
        "coffee_competitors_1ring": "cr.coffee_competitors_1ring",
        "competitors_3ring": "c3.competitors_3ring",
        "nearest_competitor_miles": "cd.nearest_competitor_miles",
        "nearest_same_category_dist": "cd.nearest_same_category_dist",
        "competitive_intensity": "cd.competitive_intensity",
        "competitors_3mi": "cd.competitors_3mi",
        "poi_1ring": "p.poi_1ring",
        "anchor_poi_1ring": "p.anchor_poi_1ring",
        "office_poi_count_1ring": "p.office_poi_count_1ring",
        "school_count_2ring": "sc.school_count_2ring",
        "total_foot_traffic_1ring": "p.total_foot_traffic_1ring",
        "parking_spaces": "pr.parking_spaces",
        "square_feet": "pr.square_feet",
        "rent_per_sqft": "pr.rent_per_sqft",
        "cannibalization_risk": "cb.cannibalization_risk",
        "nearest_own_store_miles": "cb.nearest_own_store_miles",
        "huff_market_share": "hf.huff_market_share",
        "huff_expected_demand": "hf.huff_demand",
    }
    fill_cols = ",\n       ".join(
        f"COALESCE({src}, 0.0) AS {name}" for name, src in fills.items()
    )
    return f"""
WITH demo AS ({demographics_ring_oracle_sql(1)}),
daytime AS ({daytime_population_ring_oracle_sql(1)}),
traffic AS ({traffic_ring_oracle_sql(1)}),
compring AS ({competition_ring_oracle_sql(1)}),
compring3 AS ({competition_ring_oracle_sql(3)}),
compdist AS ({competition_distance_oracle_sql()}),
poif AS ({poi_ring_oracle_sql(1)}),
school AS ({school_ring_oracle_sql(2)}),
prop AS ({property_features_oracle_sql()}),
cannib AS ({cannibalization_oracle_sql()}),
hufff AS ({huff_features_oracle_sql()}),
base AS (SELECT site_id, metro, site_type, drive_thru, h3_res8
         FROM ({hex_sql.sites_sql()}) __sites)
SELECT b.site_id, b.metro, b.site_type, b.drive_thru, b.h3_res8,
       d.n_cells,
       pr.drive_thru_capable_flag,
       {fill_cols},
       (FLOOR((COALESCE(d.median_income_1ring, 0.0) / 100000.0 * 0.3
             + COALESCE(t.max_pedestrian_traffic, 0.0) / 100000.0 * 0.3
             + COALESCE(d.population_1ring, 0.0) / 50000.0 * 0.4) * 1000000.0 + 0.5) / 1000000.0)
           AS trade_area_quality,
       (FLOOR((CASE WHEN COALESCE(d.population_1ring, 0.0) > 0
                    THEN COALESCE(c3.competitors_3ring, 0.0) / d.population_1ring * 10000.0
                    ELSE 0.0 END) * 1000000.0 + 0.5) / 1000000.0)
           AS market_saturation
FROM base b
LEFT JOIN demo d ON b.site_id = d.site_id
LEFT JOIN daytime dp ON b.site_id = dp.site_id
LEFT JOIN traffic t ON b.site_id = t.site_id
LEFT JOIN compring cr ON b.site_id = cr.site_id
LEFT JOIN compring3 c3 ON b.site_id = c3.site_id
LEFT JOIN compdist cd ON b.site_id = cd.site_id
LEFT JOIN poif p ON b.site_id = p.site_id
LEFT JOIN school sc ON b.site_id = sc.site_id
LEFT JOIN prop pr ON b.site_id = pr.site_id
LEFT JOIN cannib cb ON b.site_id = cb.site_id
LEFT JOIN hufff hf ON b.site_id = hf.site_id"""


def location_features_dev_oracle_sql() -> str:
    """Oracle for the dev-signals-enabled assembly: the base gold table
    left-joined with the 8 DEV_SIGNAL ring means, null-filled like every
    other numeric feature."""
    from .dev_signals import dev_signal_ring_oracle_sql

    dev_names = [
        "avg_home_value_1ring",
        "avg_home_value_growth_1yr_1ring",
        "avg_rent_index_1ring",
        "avg_rent_growth_1yr_1ring",
        "avg_permit_momentum_1ring",
        "avg_multifamily_pipeline_1ring",
        "avg_commercial_starts_1ring",
        "avg_infra_investment_1ring",
    ]
    dev_cols = ",\n       ".join(
        f"COALESCE(dv.{c}, 0.0) AS {c}" for c in dev_names
    )
    return f"""
WITH goldbase AS ({location_features_oracle_sql()}),
devring AS ({dev_signal_ring_oracle_sql(1)})
SELECT g.*,
       {dev_cols}
FROM goldbase g LEFT JOIN devring dv ON g.site_id = dv.site_id"""
