"""The interactive query surface — the reference's 18 FastAPI endpoints
(`/root/reference/app/main.py`) re-expressed as engine functions.

The HTTP layer is out of scope (SURVEY §7.4); what matters is the QUERY
semantics each endpoint issues to the warehouse, plus the Python
post-processing some endpoints do in the app process — both become
DataFrame programs here:

- ``scored_locations``      : dynamic WHERE builder (P13) + ORDER BY/LIMIT
                              (`app/main.py:146-167`)
- ``location_detail``       : point lookup (J11, `app/main.py:179-192`) and
  ``compare_sites``           its 1-4 site IN-list twin, both served from
                              the committed ``site_detail`` gold stage
                              (features ⋈ scores, joined once by the
                              pipeline): one filtered scan per request,
                              resolved by ``site_detail``
- ``competition_heatmap``   : bbox prefilter (P8) + per-hex counts (A5)
                              (`app/main.py:375-406,446-463`)
- ``similar_locations``     : cosine kNN over standardized feature vectors
                              — the app-process Python loop at
                              `app/main.py:603-647` made distributed (G6)
- ``daypart_trade_area``    : site hex ∪ exploded k-ring → semi join →
                              trade-area means (J18/U2, `app/main.py:756-774`)
- ``flag_site``/``flagged`` : write-back sink; UPDATE semantics without a
                              transactional store = append + latest-wins
                              window view (S8, `app/main.py:804-868`)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..functions.exprs import dround
from . import rings
from .scoring import scored_view


def scored_locations(
    spark: SparkSession,
    metro: str | None = None,
    tier: str | None = None,
    limit: int = 500,
) -> DataFrame:
    """Dynamic filter assembly — only requested predicates enter the plan,
    so partition pruning / pushdown see literal filters (P13)."""
    df = scored_view(spark)
    if metro is not None:
        df = df.filter(F.col("metro") == metro)
    if tier is not None:
        df = df.filter(F.col("tier") == tier)
    return df.orderBy(F.desc("predicted_annual_sales"), F.asc("site_id")).limit(limit)


def app_metros(spark: SparkSession) -> DataFrame:
    """Startup metro discovery (`/root/reference/app/main.py:111-119`):
    SELECT DISTINCT metro FROM scored_locations ORDER BY metro — reads the
    committed scored stage when one exists (scored_view)."""
    return scored_view(spark).select("metro").distinct().orderBy("metro")


def app_metros_oracle_sql() -> str:
    from .scoring import score_candidates_oracle_sql

    return f"""
SELECT DISTINCT metro FROM ({score_candidates_oracle_sql()}) __s ORDER BY metro"""


def score_feature_record(spark: SparkSession, features: dict) -> DataFrame:
    """Real-time scoring proxy (`/root/reference/app/main.py:244-261`,
    `notebooks/12_deploy_endpoint.py:41-93`): the endpoint takes one
    feature record and returns the model's prediction.  The serving
    plumbing (HTTP model endpoint) stays out of scope (SURVEY §7.4); the
    SEMANTICS — feature record in, prediction out, the same model the
    batch scorer applies — run engine-side over a one-row frame using the
    deterministic scorer shared with gold.scored_locations
    (operators/scoring.predicted_sales_col).  The trained-GBT variant is
    operators/ml.model_predictions (rows-only, iterative)."""
    from .scoring import SCORE_WEIGHTS, predicted_sales_col

    # the record is built JVM-side, as in flag_site: createDataFrame(list)
    # would route the row through a Python RDD
    row = spark.range(1, numPartitions=1).select(*[
        F.lit(float(features.get(n, 0.0))).cast("double").alias(n)
        for n, _ in SCORE_WEIGHTS
    ])
    return row.select(predicted_sales_col().alias("predicted_annual_sales"))


def score_feature_record_oracle_sql(features: dict) -> str:
    from .scoring import SCORE_INTERCEPT, SCORE_WEIGHTS

    score = " + ".join(
        [repr(SCORE_INTERCEPT)]
        + [
            f"({float(features.get(n, 0.0))!r} * {w!r})"
            for n, w in SCORE_WEIGHTS
        ]
    )
    return f"""
SELECT (FLOOR(({score}) * 10000.0 + 0.5) / 10000.0) AS predicted_annual_sales"""


# the demo serving payload both the query and its oracle score
DEMO_SCORE_RECORD = {
    "population_1ring": 12500.0,
    "target_demo_pct_1ring": 0.31,
    "anchor_poi_1ring": 2.0,
    "max_pedestrian_traffic": 1800.0,
    "competitive_intensity": 4.25,
    "cannibalization_risk": 1.5,
    "drive_thru": 1.0,
}


def _site_in(site_ids: list[int]) -> Column:
    """``site_id IN (site_ids)`` that compiles once for every site.
    Generated code embeds a bigint literal's value, so ``site_id = <id>``
    compiles new whole-stage classes for each site looked up; an array
    literal is passed to the generated code by reference.  The cost is
    parquet pushdown (``array_contains`` is not a source filter)."""
    ids = F.array(*[F.lit(int(i)).cast("long") for i in site_ids])
    return F.array_contains(ids, F.col("site_id"))


# the scored-side columns the J11 lookup keeps, after the feature columns
DETAIL_SCORE_COLS = ["site_id", "predicted_annual_sales", "percentile", "tier"]


def site_detail(
    spark: SparkSession,
    site_ids: list[int] | None = None,
    features_df: DataFrame | None = None,
) -> DataFrame:
    """Resolve gold.site_detail — features ⋈ scored, left, on ``site_id``
    (J11) — for ``site_ids`` (every site when None), the way
    features.gold_features and scoring.scored_view resolve their tables:

    - an explicit ``features_df`` wins: the join runs over it;
    - else the pipeline's committed ``site_detail`` stage: one
      ``_site_in``-filtered scan, no join, no exchange;
    - else the join over the resolved feature and score tables.

    A joining lookup filters BOTH inputs: the session turns constraint
    propagation off (session.py), so Catalyst never copies the
    features-side filter across the join, and an unfiltered scored side
    would broadcast every scored row per lookup.  The pipeline's
    ``site_detail`` stage is this function with no site ids."""
    hit = None if site_ids is None else _site_in(site_ids)
    if features_df is None:
        from ..sources.tables import stage_view

        staged = stage_view(spark, "site_detail")
        if staged is not None:
            return staged if hit is None else staged.filter(hit)
    from .features import gold_features

    feats = gold_features(spark, features_df)
    scored = scored_view(spark).select(*DETAIL_SCORE_COLS)
    if hit is not None:
        feats, scored = feats.filter(hit), scored.filter(hit)
    return feats.join(scored, "site_id", "left")


def location_detail(
    spark: SparkSession, site_id: int, features_df: DataFrame | None = None
) -> DataFrame:
    """Point lookup: the site's feature row with its prediction,
    percentile and tier (J11), resolved by ``site_detail``: a scan of
    the committed ``site_detail`` stage when the pipeline published one —
    the reference app queries gold tables, it does not join or re-derive
    them per request (`app/main.py:179-192`).  The site filter is
    ``_site_in``, so a new site compiles no class."""
    return site_detail(spark, [site_id], features_df)


def competition_heatmap(
    spark: SparkSession,
    lat_lo: float,
    lat_hi: float,
    lon_lo: float,
    lon_hi: float,
    limit: int = 2000,
) -> DataFrame:
    """Per-hex competitor density inside a bounding box: sargable BETWEEN
    prefilter (P8) then hash agg on the cell (A5)."""
    comp = spark.table("competitors").filter(
        F.col("lat").between(lat_lo, lat_hi) & F.col("lon").between(lon_lo, lon_hi)
    )
    return (
        comp.groupBy("h3_res8")
        .agg(
            F.count(F.lit(1)).alias("n_competitors"),
            F.countDistinct("category").alias("n_categories"),
        )
        .orderBy(F.desc("n_competitors"), F.asc("h3_res8"))
        .limit(limit)
    )


FEATURE_VEC_COLS = [
    "population_1ring",
    "median_income_1ring",
    "competitive_intensity",
    "anchor_poi_1ring",
    "max_pedestrian_traffic",
]


def similar_locations(
    spark: SparkSession, site_id: int, k: int = 15,
    features_df: DataFrame | None = None,
) -> DataFrame:
    """Top-k feature-space cosine neighbors of a site.

    The reference collects every feature row into the app process and
    loops in Python (`app/main.py:603-647`); here: global standardization
    stats (one agg), z-scored vectors, the probe row broadcast, cosine as
    a native expression, top-k via TakeOrderedAndProject.  The probe and
    the ``!=`` cut filter through ``_site_in``, so a new site compiles no
    class; the stage scan loses parquet pushdown of the probe filter."""
    from .features import gold_features

    feats = gold_features(spark, features_df).select("site_id", "metro", *FEATURE_VEC_COLS)
    stats = feats.agg(
        *[F.avg(c).alias(f"mu_{c}") for c in FEATURE_VEC_COLS],
        *[F.stddev(c).alias(f"sd_{c}") for c in FEATURE_VEC_COLS],
    )
    z = feats.crossJoin(F.broadcast(stats))
    for c in FEATURE_VEC_COLS:
        z = z.withColumn(
            f"z_{c}",
            (F.col(c) - F.col(f"mu_{c}")) / F.coalesce(
                F.nullif(F.col(f"sd_{c}"), F.lit(0.0)), F.lit(1.0)
            ),
        )
    zcols = [f"z_{c}" for c in FEATURE_VEC_COLS]
    probe = z.filter(_site_in([site_id])).select(
        *[F.col(c).alias(f"p_{c}") for c in zcols]
    )
    paired = z.filter(~_site_in([site_id])).crossJoin(F.broadcast(probe))
    dot = sum(F.col(c) * F.col(f"p_{c}") for c in zcols)
    norm_a = F.sqrt(sum(F.col(c) * F.col(c) for c in zcols))
    norm_b = F.sqrt(sum(F.col(f"p_{c}") * F.col(f"p_{c}") for c in zcols))
    cos = dot / (norm_a * norm_b)
    return (
        paired.select("site_id", "metro", dround(cos, 6).alias("similarity"))
        .orderBy(F.desc("similarity"), F.asc("site_id"))
        .limit(k)
    )


def daypart_trade_area(spark: SparkSession, site_id: int) -> DataFrame:
    """Trade-area hex semantics of the daypart endpoint: the site's hex ∪
    its k-ring (U2 union of the exploded ring), left-semi joined against
    the grid, then means (J18 → semi join against an exploded ring frame).
    The site filter is ``_site_in``, so a new site compiles no class; the
    ``sites`` scan loses parquet pushdown of it."""
    site = spark.table("sites").filter(_site_in([site_id]))
    ring = rings.ring_pairs(spark, site, k=1).select(
        F.col("neighbor_h3").alias("cell_id")
    )
    own = site.select(F.col("h3_res8").alias("cell_id"))
    cells = own.union(ring).distinct()
    grid = spark.table("hex_grid")
    in_area = grid.join(cells, "cell_id", "left_semi")
    return in_area.agg(
        F.count(F.lit(1)).alias("n_cells"),
        dround(F.sum("population"), 4).alias("total_population"),
        dround(F.avg("pedestrian_traffic"), 4).alias("avg_pedestrian"),
        dround(F.avg("transit_score"), 4).alias("avg_transit"),
    )


# ---------------------------------------------------------------------------
# Oracle twins for the deterministic app-query surface
# ---------------------------------------------------------------------------

def scored_locations_oracle_sql(metro: str, limit: int) -> str:
    from .scoring import score_candidates_oracle_sql

    return f"""
SELECT * FROM ({score_candidates_oracle_sql()}) __sc
WHERE metro = '{metro}'
ORDER BY predicted_annual_sales DESC, site_id ASC
LIMIT {limit}"""


def competition_heatmap_oracle_sql(
    lat_lo: float, lat_hi: float, lon_lo: float, lon_hi: float, limit: int = 2000
) -> str:
    from ..functions import hex_sql

    return f"""
SELECT h3_res8,
       COUNT(*) AS n_competitors,
       COUNT(DISTINCT category) AS n_categories
FROM ({hex_sql.competitors_sql()}) __c
WHERE lat BETWEEN {lat_lo} AND {lat_hi} AND lon BETWEEN {lon_lo} AND {lon_hi}
GROUP BY h3_res8
ORDER BY n_competitors DESC, h3_res8 ASC
LIMIT {limit}"""


def similar_locations_oracle_sql(site_id: int, k: int = 15) -> str:
    from .features import location_features_oracle_sql

    cols = FEATURE_VEC_COLS
    mu_sd = ", ".join(
        f"AVG({c}) AS mu_{c}, STDDEV_SAMP({c}) AS sd_{c}" for c in cols
    )
    zc = ", ".join(
        f"(({c}) - mu_{c}) / COALESCE(NULLIF(sd_{c}, 0.0), 1.0) AS z_{c}" for c in cols
    )
    dot = " + ".join(f"(z.z_{c} * p.z_{c})" for c in cols)
    na = " + ".join(f"(z.z_{c} * z.z_{c})" for c in cols)
    nb = " + ".join(f"(p.z_{c} * p.z_{c})" for c in cols)
    return f"""
WITH feats AS (SELECT site_id, metro, {', '.join(cols)}
               FROM ({location_features_oracle_sql()}) __f),
stats AS (SELECT {mu_sd} FROM feats),
z AS (SELECT site_id, metro, {zc} FROM feats CROSS JOIN stats),
p AS (SELECT * FROM z WHERE site_id = {site_id}),
scored AS (
  SELECT z.site_id, z.metro,
         (FLOOR((({dot}) / (SQRT({na}) * SQRT({nb}))) * 1000000.0 + 0.5) / 1000000.0)
             AS similarity
  FROM z CROSS JOIN p
  WHERE z.site_id <> {site_id}
)
SELECT site_id, metro, similarity FROM scored
ORDER BY similarity DESC, site_id ASC
LIMIT {k}"""


def daypart_trade_area_oracle_sql(site_id: int) -> str:
    from ..functions import hex_sql
    from . import rings

    ring = rings.ring_pairs_oracle_sql(
        f"SELECT site_id, q, r FROM sites WHERE site_id = {site_id}", 1
    )
    return f"""
WITH sites AS ({hex_sql.sites_sql()}),
hex_grid AS ({hex_sql.grid_sql()}),
cells AS (
  SELECT DISTINCT neighbor_h3 AS cell_id FROM ({ring}) __r
  UNION
  SELECT h3_res8 AS cell_id FROM sites WHERE site_id = {site_id}
)
SELECT COUNT(*) AS n_cells,
       (FLOOR((SUM(population)) * 10000.0 + 0.5) / 10000.0) AS total_population,
       (FLOOR((AVG(pedestrian_traffic)) * 10000.0 + 0.5) / 10000.0) AS avg_pedestrian,
       (FLOOR((AVG(transit_score)) * 10000.0 + 0.5) / 10000.0) AS avg_transit
FROM hex_grid g
WHERE EXISTS (SELECT 1 FROM cells c WHERE c.cell_id = g.cell_id)"""


# ---------------------------------------------------------------------------
# Write-back sink: flagged sites (S8) — append + latest-wins view
# ---------------------------------------------------------------------------

# the flag event log's schema: the writer casts to it, the reader declares it
FLAG_SCHEMA = StructType([
    StructField("site_id", LongType()),
    StructField("status", StringType()),
    StructField("note", StringType()),
    StructField("seq", LongType()),
])


def flag_site(
    spark: SparkSession,
    path: str,
    site_id: int,
    status: str,
    note: str = "",
    seq: int | None = None,
) -> None:
    """Append a flag event.  UPDATE semantics without a transactional
    table = event append; readers resolve latest-wins (below).  ``seq`` is
    the ordering key (monotonic writer sequence; reference uses
    current_timestamp at `app/main.py:822` — injectable here so tests are
    deterministic).

    The row is built JVM-side as literals over a one-partition range, so
    the append is one job of one task.  ``createDataFrame(list)`` would
    ship the row through ``parallelize`` into a Python RDD, running the
    write's tasks in Python workers."""
    values = (int(site_id), status, note, int(seq if seq is not None else 0))
    row = spark.range(1, numPartitions=1).select(*[
        F.lit(v).cast(f.dataType).alias(f.name)
        for v, f in zip(values, FLAG_SCHEMA.fields)
    ])
    row.write.mode("append").parquet(path)


def flagged_sites(spark: SparkSession, path: str) -> DataFrame:
    """Latest-wins resolution of the flag event log (U4: row_number over
    (site, seq desc) == 1 — the MERGE-less UPDATE).  The log is read with
    the declared ``FLAG_SCHEMA``, so a read-back launches no
    schema-inference job over the log's files."""
    log = spark.read.schema(FLAG_SCHEMA).parquet(path)
    w = Window.partitionBy("site_id").orderBy(F.desc("seq"))
    return (
        log.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def flagged_with_scores(spark: SparkSession, path: str) -> DataFrame:
    """Presentation join (J12): flagged ⋉ scored, left."""
    return flagged_sites(spark, path).join(
        scored_view(spark).select("site_id", "predicted_annual_sales", "tier"),
        "site_id",
        "left",
    )


# ---------------------------------------------------------------------------
# Huff what-if cannibalization (app/main.py:415-573) — distributed
# ---------------------------------------------------------------------------

def whatif_cannibalization(spark: SparkSession, site_id: int) -> DataFrame:
    """Simulate opening candidate ``site_id``: per impacted own store,
    Huff share before/after the new supply point and the demand delta.

    The reference's endpoint collects nearby stores + competitors into the
    app process and loops in Python; here every step is a DataFrame op:
    the 1-row site is broadcast, supply (stores ∪ competitors within
    2×radius of the site — superset of anything within radius of an
    impacted store) is broadcast, per-store gravity sums are one hash agg.
    The gravity kernel is the repo's trig-free planar ``1/max(d², floor²)``
    (operators/huff.py) so the oracle matches bit-for-bit.  The site
    filter is ``_site_in``, so a new site compiles no class; the ``sites``
    scan loses parquet pushdown of it."""
    from ..config import TRADE_AREA_RADIUS_MILES
    from .huff import _dist2_miles, _gravity2

    R2 = TRADE_AREA_RADIUS_MILES * TRADE_AREA_RADIUS_MILES
    sites = spark.table("sites")
    attract = F.col("square_feet") * (
        1.0 + F.when(F.col("drive_thru") > 0, 0.3).otherwise(0.0)
    )
    site = sites.filter(_site_in([site_id])).select(
        F.col("metro").alias("n_metro"),
        F.col("lat").alias("n_lat"),
        F.col("lon").alias("n_lon"),
        attract.alias("n_attract"),
    )
    stores = (
        sites.filter(F.col("site_type") == "store")
        .select(
            F.col("site_id").alias("store_id"), "metro", "lat", "lon",
            "annual_sales", attract.alias("s_attract"),
        )
        .join(F.broadcast(site), F.col("metro") == F.col("n_metro"))
        .withColumn(
            "d2_new", _dist2_miles(F.col("lat"), F.col("lon"), F.col("n_lat"), F.col("n_lon"))
        )
        .filter(F.col("d2_new") <= R2)
    )
    supply = (
        supply_points(spark)
        .join(F.broadcast(site), F.col("metro") == F.col("n_metro"))
        .withColumn(
            "d2_site", _dist2_miles(F.col("lat"), F.col("lon"), F.col("n_lat"), F.col("n_lon"))
        )
        .filter(F.col("d2_site") <= 4.0 * R2)
        .select("supply_id", F.col("lat").alias("u_lat"), F.col("lon").alias("u_lon"),
                F.col("u_attract"))
    )
    pairs = stores.join(F.broadcast(supply), how="cross")
    d2 = _dist2_miles(F.col("lat"), F.col("lon"), F.col("u_lat"), F.col("u_lon"))
    pairs = pairs.withColumn("d2", d2).filter(F.col("d2") <= R2)
    g = F.col("u_attract") * _gravity2(F.col("d2"))
    own = F.col("supply_id") == F.concat(F.lit("S"), F.col("store_id"))
    agg = pairs.groupBy(
        "store_id", "annual_sales", "d2_new", "n_attract"
    ).agg(
        F.sum(g).alias("total_before"),
        F.sum(F.when(own, g).otherwise(0.0)).alias("own_gravity"),
    )
    g_new = F.col("n_attract") * _gravity2(F.col("d2_new"))
    out = (
        agg.withColumn("total_after", F.col("total_before") + g_new)
        .withColumn("share_before", F.col("own_gravity") / F.col("total_before"))
        .withColumn("share_after", F.col("own_gravity") / F.col("total_after"))
        .withColumn(
            "impact_pct",
            (F.col("share_before") - F.col("share_after")) / F.col("share_before"),
        )
    )
    return out.select(
        "store_id",
        dround(F.sqrt("d2_new"), 4).alias("distance_mi"),
        F.col("annual_sales").alias("current_sales"),
        dround(F.col("share_before"), 6).alias("share_before"),
        dround(F.col("share_after"), 6).alias("share_after"),
        dround(F.col("impact_pct"), 6).alias("impact_pct"),
        dround(F.col("annual_sales") * F.col("impact_pct"), 4).alias("impacted_sales"),
    )


def supply_points(spark: SparkSession) -> DataFrame:
    """stores ∪ competitors with Huff attractiveness (competitors get the
    reference's assumed 2200 sqft, `app/main.py:497-504`)."""
    sites = spark.table("sites")
    stores = sites.filter(F.col("site_type") == "store").select(
        F.concat(F.lit("S"), F.col("site_id")).alias("supply_id"),
        "metro", "lat", "lon",
        (
            F.col("square_feet")
            * (1.0 + F.when(F.col("drive_thru") > 0, 0.3).otherwise(0.0))
        ).alias("u_attract"),
    )
    comp = spark.table("competitors").select(
        F.concat(F.lit("C"), F.col("competitor_id")).alias("supply_id"),
        "metro", "lat", "lon",
        F.lit(2200.0).alias("u_attract"),
    )
    return stores.unionByName(comp)


def whatif_cannibalization_oracle_sql(site_id: int) -> str:
    from ..config import TRADE_AREA_RADIUS_MILES
    from ..functions import hex_sql
    from .huff import _dist2_sql, _gravity2_sql

    R2 = TRADE_AREA_RADIUS_MILES * TRADE_AREA_RADIUS_MILES
    d2_new = _dist2_sql("s.lat", "s.lon", "n.n_lat", "n.n_lon")
    d2_site = _dist2_sql("u.lat", "u.lon", "n.n_lat", "n.n_lon")
    d2_pair = _dist2_sql("st.lat", "st.lon", "u.u_lat", "u.u_lon")
    return f"""
WITH sites AS ({hex_sql.sites_sql()}),
competitors AS ({hex_sql.competitors_sql()}),
newsite AS (
  SELECT metro AS n_metro, lat AS n_lat, lon AS n_lon,
         square_feet * (1.0 + CASE WHEN drive_thru > 0 THEN 0.3 ELSE 0.0 END) AS n_attract
  FROM sites WHERE site_id = {site_id}
),
stores AS (
  SELECT s.site_id AS store_id, s.lat, s.lon, s.annual_sales,
         n.n_attract, {d2_new} AS d2_new
  FROM sites s JOIN newsite n ON s.metro = n.n_metro
  WHERE s.site_type = 'store' AND {d2_new} <= {R2}
),
supply AS (
  SELECT 'S' || CAST(s.site_id AS STRING) AS supply_id,
         s.lat AS u_lat, s.lon AS u_lon,
         s.square_feet * (1.0 + CASE WHEN s.drive_thru > 0 THEN 0.3 ELSE 0.0 END) AS u_attract
  FROM sites s JOIN newsite n ON s.metro = n.n_metro
  WHERE s.site_type = 'store' AND {d2_site.replace('u.lat', 's.lat').replace('u.lon', 's.lon')} <= {4.0 * R2}
  UNION ALL
  SELECT 'C' || CAST(c.competitor_id AS STRING) AS supply_id,
         c.lat AS u_lat, c.lon AS u_lon, 2200.0 AS u_attract
  FROM competitors c JOIN newsite n ON c.metro = n.n_metro
  WHERE {d2_site.replace('u.lat', 'c.lat').replace('u.lon', 'c.lon')} <= {4.0 * R2}
),
agg AS (
  SELECT st.store_id, st.annual_sales, st.d2_new, st.n_attract,
         SUM(u.u_attract * {_gravity2_sql(f"({d2_pair})")}) AS total_before,
         SUM(CASE WHEN u.supply_id = 'S' || CAST(st.store_id AS STRING)
                  THEN u.u_attract * {_gravity2_sql(f"({d2_pair})")} ELSE 0.0 END) AS own_gravity
  FROM stores st CROSS JOIN supply u
  WHERE {d2_pair} <= {R2}
  GROUP BY st.store_id, st.annual_sales, st.d2_new, st.n_attract
)
SELECT store_id,
       (FLOOR(SQRT(d2_new) * 10000.0 + 0.5) / 10000.0) AS distance_mi,
       annual_sales AS current_sales,
       (FLOOR((own_gravity / total_before) * 1000000.0 + 0.5) / 1000000.0) AS share_before,
       (FLOOR((own_gravity / (total_before + n_attract * {_gravity2_sql('d2_new')})) * 1000000.0 + 0.5) / 1000000.0)
           AS share_after,
       (FLOOR(((own_gravity / total_before - own_gravity / (total_before + n_attract * {_gravity2_sql('d2_new')}))
               / (own_gravity / total_before)) * 1000000.0 + 0.5) / 1000000.0) AS impact_pct,
       (FLOOR((annual_sales * ((own_gravity / total_before - own_gravity / (total_before + n_attract * {_gravity2_sql('d2_new')}))
               / (own_gravity / total_before))) * 10000.0 + 0.5) / 10000.0) AS impacted_sales
FROM agg"""


# ---------------------------------------------------------------------------
# Confidence intervals from similar stores (app/main.py:688-747)
# ---------------------------------------------------------------------------

CI_FEATURES = [
    "population_1ring",
    "median_income_1ring",
    "target_demo_pct_1ring",
    "daytime_pop_1ring",
    "max_pedestrian_traffic",
    "avg_transit_score",
    "competitors_1ring",
    "competitors_3ring",
    "nearest_competitor_miles",
    "competitive_intensity",
    "anchor_poi_1ring",
    "school_count_2ring",
    "trade_area_quality",
    "cannibalization_risk",
    "market_saturation",
    "huff_market_share",
    "huff_expected_demand",
]
CI_TOP_K = 15


def confidence_intervals(
    spark: SparkSession, site_id: int, features_df: DataFrame | None = None
) -> DataFrame:
    """Sales percentile CI over the K most feature-similar existing stores.

    The reference collects all store feature rows and loops in Python
    (`app/main.py:714-733`); here the candidate row is broadcast, the
    normalized feature distance is a native expression, top-K is a
    row_number cut, and the percentiles are one exact-percentile agg.
    Ranking uses the squared distance (sqrt is monotonic) with a site_id
    tiebreak so the cut is engine-deterministic.  The candidate filter is
    ``_site_in``, so a new site compiles no class; the feature scan loses
    parquet pushdown of it."""
    from .features import gold_features

    feats = gold_features(spark, features_df)
    cand = feats.filter(_site_in([site_id])).select(
        *[F.col(c).alias(f"c_{c}") for c in CI_FEATURES]
    )
    stores = (
        feats.filter(F.col("site_type") == "store")
        .join(
            spark.table("sites").select("site_id", "annual_sales"), "site_id"
        )
        .crossJoin(F.broadcast(cand))
    )
    def _term(c):
        r = (F.col(c) - F.col(f"c_{c}")) / F.greatest(
            F.abs(F.col(c)), F.abs(F.col(f"c_{c}")), F.lit(1.0)
        )
        return r * r  # x*x, not POWER: pow may route through exp/ln libm

    d2 = sum(_term(c) for c in CI_FEATURES)
    # top-K via orderBy+limit → TakeOrderedAndProject (distributed top-k;
    # a global row_number window would single-partition the sort)
    ranked = (
        stores.select("site_id", "annual_sales", d2.alias("d2"))
        .orderBy(F.asc("d2"), F.asc("site_id"))
        .limit(CI_TOP_K)
    )
    return ranked.agg(
        dround(F.expr("percentile(annual_sales, 0.10)"), 4).alias("p10"),
        dround(F.expr("percentile(annual_sales, 0.25)"), 4).alias("p25"),
        dround(F.expr("percentile(annual_sales, 0.50)"), 4).alias("p50"),
        dround(F.expr("percentile(annual_sales, 0.75)"), 4).alias("p75"),
        dround(F.expr("percentile(annual_sales, 0.90)"), 4).alias("p90"),
        F.count(F.lit(1)).alias("sample_size"),
    )


def confidence_intervals_oracle_sql(site_id: int) -> str:
    from ..functions import hex_sql
    from .features import location_features_oracle_sql

    d2 = " + ".join(
        f"(((s.{c} - c.c_{c}) / GREATEST(ABS(s.{c}), ABS(c.c_{c}), 1.0))"
        f" * ((s.{c} - c.c_{c}) / GREATEST(ABS(s.{c}), ABS(c.c_{c}), 1.0)))"
        for c in CI_FEATURES
    )
    c_cols = ", ".join(f"{c} AS c_{c}" for c in CI_FEATURES)
    return f"""
WITH feats AS ({location_features_oracle_sql()}),
cand AS (SELECT {c_cols} FROM feats WHERE site_id = {site_id}),
sites_t AS ({hex_sql.sites_sql()}),
ranked AS (
  SELECT s.site_id, st.annual_sales
  FROM feats s
  JOIN sites_t st ON s.site_id = st.site_id
  CROSS JOIN cand c
  WHERE s.site_type = 'store'
  ORDER BY ({d2}) ASC, s.site_id ASC
  LIMIT {CI_TOP_K}
)
SELECT (FLOOR(QUANTILE_CONT(annual_sales, 0.10) * 10000.0 + 0.5) / 10000.0) AS p10,
       (FLOOR(QUANTILE_CONT(annual_sales, 0.25) * 10000.0 + 0.5) / 10000.0) AS p25,
       (FLOOR(QUANTILE_CONT(annual_sales, 0.50) * 10000.0 + 0.5) / 10000.0) AS p50,
       (FLOOR(QUANTILE_CONT(annual_sales, 0.75) * 10000.0 + 0.5) / 10000.0) AS p75,
       (FLOOR(QUANTILE_CONT(annual_sales, 0.90) * 10000.0 + 0.5) / 10000.0) AS p90,
       COUNT(*) AS sample_size
FROM ranked"""


# ---------------------------------------------------------------------------
# Thin listing / map-layer / compare endpoints (app/main.py:198-413,653-686)
# ---------------------------------------------------------------------------

def existing_stores(spark: SparkSession, metro: str | None = None) -> DataFrame:
    """Existing-store listing ordered by sales (`app/main.py:198-219`)."""
    df = spark.table("sites").filter(F.col("site_type") == "store")
    if metro is not None:
        df = df.filter(F.col("metro") == metro)
    return df.select(
        "site_id", "metro", "lat", "lon", "annual_sales", "square_feet", "drive_thru"
    ).orderBy(F.desc("annual_sales"), F.asc("site_id"))


def existing_stores_oracle_sql(metro: str | None = None) -> str:
    from ..functions import hex_sql

    where = f"AND metro = '{metro}'" if metro is not None else ""
    return f"""
SELECT site_id, metro, lat, lon, annual_sales, square_feet, drive_thru
FROM ({hex_sql.sites_sql()}) __s
WHERE site_type = 'store' {where}
ORDER BY annual_sales DESC, site_id ASC"""


def competitors_layer(spark: SparkSession, metro: str | None = None) -> DataFrame:
    """Competitor map layer (`app/main.py:307-330`)."""
    df = spark.table("competitors")
    if metro is not None:
        df = df.filter(F.col("metro") == metro)
    return df.select("competitor_id", "category", "lat", "lon", "metro").orderBy(
        "category", "competitor_id"
    )


def competitors_layer_oracle_sql(metro: str | None = None) -> str:
    from ..functions import hex_sql

    where = f"WHERE metro = '{metro}'" if metro is not None else ""
    return f"""
SELECT competitor_id, category, lat, lon, metro
FROM ({hex_sql.competitors_sql()}) __c
{where}
ORDER BY category, competitor_id"""


def poi_layer(
    spark: SparkSession,
    metro: str | None = None,
    poi_type: str | None = None,
    limit: int = 3000,
) -> DataFrame:
    """POI map layer with optional type filter (`app/main.py:336-359`)."""
    df = spark.table("poi")
    if metro is not None:
        df = df.filter(F.col("metro") == metro)
    if poi_type is not None:
        df = df.filter(F.col("category") == poi_type)
    return (
        df.select("poi_id", F.col("category").alias("poi_type"), "lat", "lon", "metro")
        .orderBy("poi_id")
        .limit(limit)
    )


def poi_layer_oracle_sql(
    metro: str | None = None, poi_type: str | None = None, limit: int = 3000
) -> str:
    from ..functions import hex_sql

    conds = []
    if metro is not None:
        conds.append(f"metro = '{metro}'")
    if poi_type is not None:
        conds.append(f"category = '{poi_type}'")
    where = f"WHERE {' AND '.join(conds)}" if conds else ""
    return f"""
SELECT poi_id, category AS poi_type, lat, lon, metro
FROM ({hex_sql.poi_sql()}) __p
{where}
ORDER BY poi_id
LIMIT {limit}"""


HEATMAP_METRICS = {
    "demand": "population",
    "income": "median_income",
    "traffic": "pedestrian_traffic",
}


def heatmap(
    spark: SparkSession, metric: str, metro: str, limit: int = 2000
) -> DataFrame:
    """Multi-metric H3 heatmap (`app/main.py:360-413`): demand / income /
    traffic read the grid directly; competition aggregates competitors."""
    if metric == "competition":
        comp = spark.table("competitors").filter(F.col("metro") == metro)
        return (
            comp.groupBy(F.col("h3_res8").alias("h3_index"))
            .agg(F.count(F.lit(1)).alias("value"))
            .orderBy(F.desc("value"), F.asc("h3_index"))
            .limit(limit)
        )
    col = HEATMAP_METRICS[metric]
    grid = spark.table("hex_grid").filter(F.col("metro") == metro)
    return (
        grid.select(
            F.col("cell_id").alias("h3_index"),
            F.col(col).alias("value"),
            dround(F.col("centroid_lat"), 6).alias("lat"),
            dround(F.col("centroid_lon"), 6).alias("lon"),
        )
        .orderBy(F.desc("value"), F.asc("h3_index"))
        .limit(limit)
    )


def heatmap_oracle_sql(metric: str, metro: str, limit: int = 2000) -> str:
    from ..functions import hex_sql

    if metric == "competition":
        return f"""
SELECT h3_res8 AS h3_index, COUNT(*) AS value
FROM ({hex_sql.competitors_sql()}) __c
WHERE metro = '{metro}'
GROUP BY h3_res8
ORDER BY value DESC, h3_index ASC
LIMIT {limit}"""
    col = HEATMAP_METRICS[metric]
    return f"""
SELECT cell_id AS h3_index, {col} AS value,
       (FLOOR(centroid_lat * 1000000.0 + 0.5) / 1000000.0) AS lat,
       (FLOOR(centroid_lon * 1000000.0 + 0.5) / 1000000.0) AS lon
FROM ({hex_sql.grid_sql()}) __g
WHERE metro = '{metro}'
ORDER BY value DESC, h3_index ASC
LIMIT {limit}"""


def compare_sites(
    spark: SparkSession, site_ids: list[int], features_df: DataFrame | None = None
) -> DataFrame:
    """Batch compare (`app/main.py:282-305`): the J11 rows of an IN-list
    of 1-4 sites (P7), resolved like location_detail by ``site_detail``,
    so a published stage serves them from one filtered scan."""
    if not site_ids or len(site_ids) > 4:
        raise ValueError("Provide 1-4 site_ids")
    return site_detail(spark, site_ids, features_df).orderBy("site_id")


def compare_sites_oracle_sql(site_ids: list[int]) -> str:
    from .features import location_features_oracle_sql
    from .scoring import score_candidates_oracle_sql

    ids = ", ".join(str(i) for i in site_ids)
    return f"""
WITH feats AS ({location_features_oracle_sql()}),
scored AS ({score_candidates_oracle_sql()})
SELECT f.*, s.predicted_annual_sales, s.percentile, s.tier
FROM feats f LEFT JOIN (SELECT site_id, predicted_annual_sales, percentile, tier FROM scored) s
  ON f.site_id = s.site_id
WHERE f.site_id IN ({ids})
ORDER BY f.site_id"""


def scoring_features(
    spark: SparkSession, site_id: int, features_df: DataFrame | None = None
) -> DataFrame:
    """Model-ready feature vector in the persisted training column order
    (`app/main.py:653-686`): the feature row UNPIVOTED through
    gold.model_feature_columns so serving order == training order.  The
    site filter is ``_site_in``, so a new site compiles no class; the
    feature scan loses parquet pushdown of it."""
    from .encode import model_feature_columns, model_feature_column_names, one_hot_features
    from .features import gold_features

    feats = gold_features(spark, features_df).filter(_site_in([site_id]))
    # drop drive_thru from the one-hot side: the assembly base already
    # carries it and a duplicate name breaks the unpivot reference
    feats = feats.join(one_hot_features(spark).drop("drive_thru"), "site_id", "left")
    names = model_feature_column_names()
    stack = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(n).alias("feature_name"),
                    F.col(n).cast("double").alias("value"),
                )
                for n in names
            ]
        )
    )
    long = feats.select(stack.alias("fv")).select("fv.feature_name", "fv.value")
    return (
        long.join(F.broadcast(model_feature_columns(spark)), "feature_name")
        .select("feature_name", "feature_index", dround(F.col("value"), 6).alias("value"))
        .orderBy("feature_index")
    )


def scoring_features_oracle_sql(site_id: int) -> str:
    from .encode import (
        model_feature_columns_oracle_sql,
        model_feature_column_names,
        one_hot_features_oracle_sql,
    )
    from .features import location_features_oracle_sql

    case_val = " ".join(
        f"WHEN '{n}' THEN CAST(f.{n} AS DOUBLE)" for n in model_feature_column_names()
    )
    return f"""
WITH featbase AS ({location_features_oracle_sql()}),
onehot_all AS ({one_hot_features_oracle_sql()}),
onehot AS (SELECT * EXCLUDE (drive_thru) FROM onehot_all),
f AS (SELECT * FROM featbase LEFT JOIN onehot USING (site_id) WHERE site_id = {site_id}),
m AS ({model_feature_columns_oracle_sql()})
SELECT m.feature_name, m.feature_index,
       (FLOOR((CASE m.feature_name {case_val} END) * 1000000.0 + 0.5) / 1000000.0) AS value
FROM m CROSS JOIN f
ORDER BY m.feature_index"""
