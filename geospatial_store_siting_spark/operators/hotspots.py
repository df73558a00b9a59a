"""Spatial-statistics layer over the hex lattice.

The reference ranks candidate cells by raw feature values
(`/root/reference/notebooks/13_score_candidates.py` percentile tiers); a
siting analyst's next questions are *where the signal clusters
spatially* and *where it is trending* — the classic spatial-statistics
toolbox, all pure lattice relational plans (no spatial library, no
Python in the hot path):

- ``hotspot_gi`` / ``hotspot_gi_docs``: Getis-Ord Gi* over each cell's
  k=1 disk (center included — the * variant), on grid population and on
  geotagged-span density. Spark plan: codegen disk-push generator + ONE
  map-side-combining hash agg + existence join on the agg's partitioning
  (see ``_gi_from_frame``; 1.6× over the explode-join form on Z-ordered
  input, the Gi* section of the BENCH/BASELINE.md history).
- ``hotspot_clusters``: DBSCAN-on-grid — dense cells under ring-1
  adjacency → the dedup loop's hash-min + pointer-doubling CC.
- ``moran_i`` / ``moran_bivariate``: global spatial autocorrelation per
  metro (uni- and cross-variable), DECIMAL(38,0) accumulation.
- ``lisa_clusters``: Anselin local Moran's I with HH/LL/HL/LH quadrants
  from integer sign comparisons.
- ``emerging_hotspots``: daily space-time bins → ring-neighborhood
  series → per-cell Mann-Kendall trend (tie-corrected variance,
  continuity-corrected z).
- ``st_gi_bins``: space-time Gi* (ring × day±1 neighborhoods over the
  dense cube).

Determinism contract (the oracle gate): every aggregation input is an
exact integer — BIGINT where products stay under 2^63, DECIMAL(19,0)
pairwise products summed as DECIMAL(38,0) where they may not — so sums
are order-independent; only the final z / I ratio is double, computed by
ONE shared expression text, floor-rounded to 6 dp, with tier/quadrant
labels derived from rounded values or integer signs (a 1-ulp wobble can
never flip a label).

Scale posture (100 TB): linear plans — generator explodes, cell-keyed
hash joins/aggs, 1-row moments broadcasts; no all-pairs anywhere (MK is
T²/2 per cell with T = bounded time slices). Corpus-fed inputs
materialize ONCE before multi-reference stats texts (Catalyst inlines
deterministic CTEs — measured 76 event scans without the boundary;
plan-asserted single scan with it). The CC loop pins SHUFFLE_HASH and
commits per-round durable stages.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import RES_TRADE_AREA
from ..functions import hex_sql

# density threshold for cluster membership: population is uniform on
# [500, 5500) (hash-derived, hex_sql.grid_attrs_sql), so ≥ 4500 keeps the
# top ~20% of cells — sparse enough that adjacency is informative, dense
# enough that multi-cell clusters exist at every SF
DENSE_POP = 4500

# Gi* significance thresholds (two-sided normal 95% / 99%)
_Z95 = "CAST(1.645 AS DOUBLE)"
_Z99 = "CAST(2.576 AS DOUBLE)"

def _x_cte(grid_src: str) -> str:
    """The integer-valued analysis frame: population is integral by
    construction, so BIGINT-casting it makes every downstream SUM exact
    and order-independent (the oracle-determinism rule)."""
    return f"""
x AS (SELECT cell_id, q, r, CAST(population AS BIGINT) AS pop
      FROM ({grid_src}) __g)"""


def _hotspot_sql(grid_src: str) -> str:
    """Shared Spark/DuckDB SQL for Gi* (binary weights over the k=1 disk,
    center included).

    z_i = (W_i − x̄·m_i) / (S·sqrt((n·m_i − m_i²)/(n−1))) with
    W_i = Σ_{j∈disk(i)} x_j, m_i = |disk(i) ∩ grid| (edge cells have
    fewer present neighbors), x̄ and S the global mean/std. n, m, W, Σx
    are exact BIGINTs and Σx² an exact DECIMAL(38,0) (overflow headroom
    for count-valued surfaces); the z text is evaluated once per row from
    those exact inputs, so both engines produce bit-identical doubles;
    the reported z is floor-rounded to 6 dp (``hex_sql.round_sql``) and
    the significance tier is derived from the ROUNDED value so a 1-ulp
    wobble can never flip a tier across engines. The rounded value is
    CAST back to DOUBLE in the shared text: Spark types FLOOR(double) as
    BIGINT and BIGINT ÷ decimal-literal as a DECIMAL division (scale 9,
    lands in pandas as object), while DuckDB stays DOUBLE throughout —
    both sides of the cast are the correctly-rounded double of the same
    exact rational, so parity is preserved bit-for-bit."""
    nbr = hex_sql.cell_id_from_qr_sql("x.q + __o.dq", "x.r + __o.dr", RES_TRADE_AREA)
    xbar = "(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))"
    # S² = Σx²/n − x̄²; the grid is hash-uniform so S > 0 at every SF, but
    # the crafted-fixture guard keeps a constant surface well-defined
    s2 = f"(CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE) - {xbar} * {xbar})"
    denom = (
        f"(SQRT({s2}) * SQRT((CAST(n AS DOUBLE) * CAST(m AS DOUBLE)"
        f" - CAST(m AS DOUBLE) * CAST(m AS DOUBLE))"
        f" / (CAST(n AS DOUBLE) - CAST(1.0 AS DOUBLE))))"
    )
    z = (
        f"CASE WHEN {s2} <= CAST(0.0 AS DOUBLE) OR n <= 1 THEN CAST(0.0 AS DOUBLE)"
        f" ELSE (CAST(wsum AS DOUBLE) - {xbar} * CAST(m AS DOUBLE)) / {denom} END"
    )
    return f"""
WITH {_x_cte(grid_src)},
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(pop) AS BIGINT) AS sx,
         SUM(CAST(pop AS DECIMAL(19,0)) * CAST(pop AS DECIMAL(19,0))) AS sxx
  FROM x),
ring AS (
  SELECT x.cell_id, {nbr} AS nbr
  FROM x CROSS JOIN {hex_sql.ring_offsets_values_sql(1)} __o),
w AS (
  SELECT r.cell_id,
         CAST(COUNT(*) AS BIGINT) AS m,
         CAST(SUM(x2.pop) AS BIGINT) AS wsum
  FROM ring r JOIN x x2 ON r.nbr = x2.cell_id
  GROUP BY r.cell_id),
scored AS (
  SELECT w.cell_id, w.m, w.wsum,
         CAST({hex_sql.round_sql(z, 6)} AS DOUBLE) AS gi_z
  FROM w CROSS JOIN stats)
SELECT cell_id,
       m AS n_present,
       wsum AS ring_pop,
       gi_z,
       CASE WHEN gi_z >= {_Z99} THEN 'hot99'
            WHEN gi_z >= {_Z95} THEN 'hot95'
            WHEN gi_z <= -{_Z99} THEN 'cold99'
            WHEN gi_z <= -{_Z95} THEN 'cold95'
            ELSE 'ns' END AS tier
FROM scored"""


def _gi_from_frame(spark: SparkSession, x: DataFrame) -> DataFrame:
    """The Gi* DataFrame plan over an analysis frame (cell_id, q, r, pop).

    Spark-side plan, tuned from the Gi* scaling section of the
    BENCH/BASELINE.md history: instead of exploding every cell's DISK and joining
    the 7×|grid| ring table against the grid (a 7× shuffle into a join
    build), each cell PUSHES its value to its 7 disk members — the ring-1
    disk is symmetric, so Σ_{j∈disk(i)} x_j == Σ_{j: i∈disk(j)} x_j — and
    one hash aggregation with map-side partial combine collapses the
    generator output before the single shuffle. Phantom targets (disk
    members outside the grid) drop in the existence join, which reuses
    the aggregation's hash partitioning on the join key (no second
    shuffle of the aggregated side). The generator is a codegen explode
    over a literal array (a CROSS JOIN VALUES would plan
    BroadcastNestedLoopJoin and fall out of whole-stage codegen —
    `rings.ring_pairs`). Same exact-integer inputs, same shared z text as
    the oracle ⇒ bit-identical values."""
    from .rings import ring_pairs

    contrib = ring_pairs(
        spark, x, k=1, id_col="cell_id", res=RES_TRADE_AREA, extra_cols=["pop"]
    ).select(F.col("neighbor_h3").alias("cell_id"), "pop")
    sums = contrib.groupBy("cell_id").agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum("pop").cast("long").alias("wsum"),
    )
    w = sums.join(x.select("cell_id"), "cell_id")
    # sxx accumulates as DECIMAL(38,0): the doc-density variant's per-cell
    # counts can square past BIGINT at corpus scale (the moran_i posture);
    # the z text CASTs it to DOUBLE, so downstream is unchanged
    stats = x.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("pop").cast("long").alias("sx"),
        F.sum(
            F.col("pop").cast("decimal(19,0)") * F.col("pop").cast("decimal(19,0)")
        ).alias("sxx"),
    )
    xbar = "(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))"
    s2 = f"(CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE) - {xbar} * {xbar})"
    denom = (
        f"(SQRT({s2}) * SQRT((CAST(n AS DOUBLE) * CAST(m AS DOUBLE)"
        f" - CAST(m AS DOUBLE) * CAST(m AS DOUBLE))"
        f" / (CAST(n AS DOUBLE) - CAST(1.0 AS DOUBLE))))"
    )
    z = (
        f"CASE WHEN {s2} <= CAST(0.0 AS DOUBLE) OR n <= 1 THEN CAST(0.0 AS DOUBLE)"
        f" ELSE (CAST(wsum AS DOUBLE) - {xbar} * CAST(m AS DOUBLE)) / {denom} END"
    )
    scored = w.crossJoin(F.broadcast(stats)).select(
        "cell_id",
        F.col("m").alias("n_present"),
        F.col("wsum").alias("ring_pop"),
        F.expr(f"CAST({hex_sql.round_sql(z, 6)} AS DOUBLE)").alias("gi_z"),
    )
    tier = (
        f"CASE WHEN gi_z >= {_Z99} THEN 'hot99'"
        f" WHEN gi_z >= {_Z95} THEN 'hot95'"
        f" WHEN gi_z <= -{_Z99} THEN 'cold99'"
        f" WHEN gi_z <= -{_Z95} THEN 'cold95'"
        f" ELSE 'ns' END"
    )
    return scored.select(
        "cell_id", "n_present", "ring_pop", "gi_z", F.expr(tier).alias("tier")
    )


def hotspot_gi(spark: SparkSession) -> DataFrame:
    """Gi* hotspot z-scores of grid population over ring-1 neighborhoods."""
    x = spark.table("hex_grid").select(
        "cell_id", "q", "r", F.col("population").cast("long").alias("pop")
    )
    return _gi_from_frame(spark, x)


def hotspot_gi_oracle_sql() -> str:
    return _hotspot_sql(hex_sql.grid_sql())


# ---------------------------------------------------------------------------
# Density clusters (DBSCAN-on-grid): dense cells ∪ ring-1 adjacency → CC
# ---------------------------------------------------------------------------


def _dense_edges_sql(grid_src: str) -> str:
    """Shared SQL: adjacency edges (a, b) between dense cells — each dense
    cell exploded into its 6 ring-1 neighbors (center excluded), kept when
    the neighbor is itself dense. Both directions emerge naturally (every
    dense pair is seen from each endpoint), so the edge list is already
    symmetric."""
    nbr = hex_sql.cell_id_from_qr_sql("d.q + __o.dq", "d.r + __o.dr", RES_TRADE_AREA)
    return f"""
WITH {_x_cte(grid_src)},
dense AS (SELECT cell_id, q, r FROM x WHERE pop >= {DENSE_POP}),
ring AS (
  SELECT d.cell_id AS a, {nbr} AS nbr
  FROM dense d CROSS JOIN {hex_sql.ring_offsets_values_sql(1)} __o
  WHERE NOT (__o.dq = 0 AND __o.dr = 0))
SELECT r.a, d2.cell_id AS b
FROM ring r JOIN dense d2 ON r.nbr = d2.cell_id"""


def hotspot_clusters(
    spark: SparkSession,
    sf_dir: str | None = None,
    grid_df: DataFrame | None = None,
) -> DataFrame:
    """(cell_id, cluster_id, cluster_size) for every dense cell; the
    cluster id is the MIN cell id of the component (deterministic), and
    isolated dense cells are their own singleton cluster.

    ``grid_df`` lets the crafted-fixture tests run the same plan over a
    hand-built lattice; production reads the ``hex_grid`` view."""
    from .dedup import _content_key, connected_components

    g = (spark.table("hex_grid") if grid_df is None else grid_df).select(
        "cell_id", "q", "r", F.col("population").cast("long").alias("pop")
    )
    from .rings import ring_pairs

    dense = g.filter(F.col("pop") >= DENSE_POP).select("cell_id", "q", "r")
    nbr = (
        ring_pairs(
            spark, dense, k=1, id_col="cell_id", res=RES_TRADE_AREA,
            with_ring=True,
        )
        .filter(F.col("ring_k") > 0)  # exclude the center (self-loops)
        .select(F.col("cell_id").alias("a"), F.col("neighbor_h3").alias("nbr"))
    )
    edges = nbr.join(
        dense.select(F.col("cell_id").alias("b")), nbr.nbr == F.col("b")
    ).select("a", "b")
    key = None
    if sf_dir is not None and grid_df is None:
        key = _content_key(
            "hotspot_cluster_edges|" + _dense_edges_sql(hex_sql.grid_sql()),
            code=(hotspot_clusters,),
        )
    # assume_small=False: the dense-cell table is grid-scale (no small-side
    # guarantee at census scale) — pin the CC loop's joins to SHUFFLE_HASH
    labels = connected_components(
        spark, edges, sf_dir=sf_dir if grid_df is None else None,
        content_key=key, assume_small=False,
    )
    d2 = dense.select("cell_id")
    out = d2.join(labels, d2["cell_id"] == labels["node"], "left").select(
        d2["cell_id"].alias("cell_id"),
        F.coalesce(F.col("label"), d2["cell_id"]).alias("cluster_id"),
    )
    from pyspark.sql import Window

    return out.select(
        "cell_id",
        "cluster_id",
        F.count(F.lit(1))
        .over(Window.partitionBy("cluster_id"))
        .cast("long")
        .alias("cluster_size"),
    )


# ---------------------------------------------------------------------------
# GWR-lite: local regression over each cell's disk neighborhood
# ---------------------------------------------------------------------------

_LR_RING = 2  # 19-cell disk: enough points for a stable local OLS


def _local_reg_exprs() -> tuple[str, str]:
    """Shared (slope, intercept) texts from exact disk sums
    (m, sx, sy, sxy, sxx): the local OLS closed form
    β = (m·Σxy − Σx·Σy)/(m·Σx² − (Σx)²), α = (Σy − β·Σx)/m.
    Integer numerators/denominators (values are bounded closed-form
    attributes, so products stay far under 2^63 regardless of grid
    size); one double division each, floor-rounded to 6 dp."""
    det = "(m * sxx - sx * sx)"
    slope = (
        f"CASE WHEN {det} = 0 THEN CAST(0.0 AS DOUBLE)"
        f" ELSE CAST(m * sxy - sx * sy AS DOUBLE) / CAST({det} AS DOUBLE) END"
    )
    intercept = (
        f"((CAST(sy AS DOUBLE) - ({slope}) * CAST(sx AS DOUBLE))"
        f" / CAST(m AS DOUBLE))"
    )
    return slope, intercept


def _local_regression_sql(grid_src: str) -> str:
    """DuckDB twin in the pull form: each cell's ring-2 disk gathered by
    neighbor-id join, then the closed-form OLS per cell."""
    nbr = hex_sql.cell_id_from_qr_sql("x.q + __o.dq", "x.r + __o.dr", RES_TRADE_AREA)
    slope, intercept = _local_reg_exprs()
    return f"""
WITH x AS (
  SELECT cell_id, q, r,
         CAST(population AS BIGINT) AS xv,
         CAST(foot_traffic AS BIGINT) AS yv
  FROM ({grid_src}) __g),
ring AS (
  SELECT x.cell_id, {nbr} AS nbr
  FROM x CROSS JOIN {hex_sql.ring_offsets_values_sql(_LR_RING)} __o),
s AS (
  SELECT r.cell_id,
         CAST(COUNT(*) AS BIGINT) AS m,
         CAST(SUM(n.xv) AS BIGINT) AS sx,
         CAST(SUM(n.yv) AS BIGINT) AS sy,
         CAST(SUM(n.xv * n.yv) AS BIGINT) AS sxy,
         CAST(SUM(n.xv * n.xv) AS BIGINT) AS sxx
  FROM ring r JOIN x n ON r.nbr = n.cell_id
  GROUP BY r.cell_id)
SELECT cell_id, m AS n_disk,
       CAST({hex_sql.round_sql(slope, 6)} AS DOUBLE) AS slope,
       CAST({hex_sql.round_sql(intercept, 6)} AS DOUBLE) AS intercept
FROM s"""


def local_regression(spark: SparkSession) -> DataFrame:
    """GWR-lite: per-cell OLS of foot traffic against population over the
    ring-2 disk — the local market-elasticity surface (where does an
    extra resident buy the most footfall). Spark plan is the disk-push
    shape (``_gi_from_frame``): every cell pushes its (x, y, xy, x²)
    moment vector to its symmetric 19-cell disk, ONE map-side-combining
    hash agg gathers them, and the existence join drops phantom
    targets."""
    from .rings import ring_pairs

    x = spark.table("hex_grid").select(
        "cell_id",
        "q",
        "r",
        F.col("population").cast("long").alias("xv"),
        F.col("foot_traffic").cast("long").alias("yv"),
    )
    contrib = ring_pairs(
        spark, x, k=_LR_RING, id_col="cell_id", res=RES_TRADE_AREA,
        extra_cols=["xv", "yv"],
    ).select(F.col("neighbor_h3").alias("cell_id"), "xv", "yv")
    sums = contrib.groupBy("cell_id").agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum("xv").cast("long").alias("sx"),
        F.sum("yv").cast("long").alias("sy"),
        F.sum(F.col("xv") * F.col("yv")).cast("long").alias("sxy"),
        F.sum(F.col("xv") * F.col("xv")).cast("long").alias("sxx"),
    )
    s = sums.join(x.select("cell_id"), "cell_id")
    slope, intercept = _local_reg_exprs()
    return s.select(
        "cell_id",
        F.col("m").alias("n_disk"),
        F.expr(f"CAST({hex_sql.round_sql(slope, 6)} AS DOUBLE)").alias("slope"),
        F.expr(
            f"CAST({hex_sql.round_sql(intercept, 6)} AS DOUBLE)"
        ).alias("intercept"),
    )


def local_regression_oracle_sql() -> str:
    return _local_regression_sql(hex_sql.grid_sql())


def _moran_biv_sql(grid_src: str) -> str:
    """Shared SQL for per-metro BIVARIATE Moran's I — does variable x
    co-locate with its neighbors' variable y? (population × pedestrian
    traffic: does demand sit next to footfall.) With symmetric binary
    weights the statistic is symmetric in (x, y):

      I_xy = (n/W) · Σ_{ij adjacent} cx_i·cy_j / sqrt(Σcx² · Σcy²)

    with the same n-scaled integer centering as ``moran_i`` (cx = n·x−Σx,
    cy = n·y−Σy; the 1/n factors cancel against the σ normalizations).
    Both value surfaces are integral by construction
    (`hex_sql.grid_attrs_sql`), every accumulator is DECIMAL(38,0), and
    only the final ratio is double (floor-rounded 6 dp)."""
    nbr = hex_sql.cell_id_from_qr_sql("c.q + __o.dq", "c.r + __o.dr", RES_TRADE_AREA)
    i_expr = (
        "CASE WHEN CAST(dx AS DOUBLE) <= CAST(0.0 AS DOUBLE)"
        " OR CAST(dy AS DOUBLE) <= CAST(0.0 AS DOUBLE)"
        " OR COALESCE(w_pairs, 0) = 0 THEN CAST(0.0 AS DOUBLE)"
        " ELSE (CAST(n AS DOUBLE) / CAST(w_pairs AS DOUBLE))"
        " * (CAST(num AS DOUBLE)"
        " / SQRT(CAST(dx AS DOUBLE) * CAST(dy AS DOUBLE))) END"
    )
    return f"""
WITH x AS (
  SELECT metro, cell_id, q, r,
         CAST(population AS BIGINT) AS xv,
         CAST(pedestrian_traffic AS BIGINT) AS yv
  FROM ({grid_src}) __g),
m AS (
  SELECT metro, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(xv) AS BIGINT) AS sx, CAST(SUM(yv) AS BIGINT) AS sy
  FROM x GROUP BY metro),
c AS (
  SELECT x.metro, x.cell_id, x.q, x.r,
         CAST(m.n * x.xv - m.sx AS DECIMAL(19,0)) AS cx,
         CAST(m.n * x.yv - m.sy AS DECIMAL(19,0)) AS cy
  FROM x JOIN m ON x.metro = m.metro),
ring AS (
  SELECT c.metro, c.cell_id, {nbr} AS nbr, c.cx
  FROM c CROSS JOIN {hex_sql.ring_offsets_values_sql(1)} __o
  WHERE NOT (__o.dq = 0 AND __o.dr = 0)),
num_agg AS (
  SELECT r.metro,
         CAST(COUNT(*) AS BIGINT) AS w_pairs,
         SUM(r.cx * c2.cy) AS num
  FROM ring r JOIN c c2 ON r.nbr = c2.cell_id AND r.metro = c2.metro
  GROUP BY r.metro),
den_agg AS (
  SELECT metro, SUM(cx * cx) AS dx, SUM(cy * cy) AS dy
  FROM c GROUP BY metro)
SELECT m.metro, m.n AS n_cells,
       COALESCE(num_agg.w_pairs, CAST(0 AS BIGINT)) AS w_pairs,
       CAST({hex_sql.round_sql(i_expr, 6)} AS DOUBLE) AS moran_xy
FROM m
LEFT JOIN num_agg ON m.metro = num_agg.metro
JOIN den_agg ON m.metro = den_agg.metro"""


def moran_bivariate(spark: SparkSession) -> DataFrame:
    """Per-metro bivariate Moran's I: population × pedestrian traffic."""
    return spark.sql(
        _moran_biv_sql(
            "SELECT metro, cell_id, q, r, population, pedestrian_traffic"
            " FROM hex_grid"
        )
    )


def moran_bivariate_oracle_sql() -> str:
    return _moran_biv_sql(hex_sql.grid_sql())


# ---------------------------------------------------------------------------
# LISA: local Moran's I with cluster/outlier quadrants
# ---------------------------------------------------------------------------


def _lisa_sql(grid_src: str) -> str:
    """Shared SQL for per-cell local Moran's I (Anselin LISA) over the
    whole grid: I_i = n · c_i · Σ_{j∈ring1} c_j / Σ_k c_k² with the same
    n-scaled integer centering as the global statistic (the 1/n factors
    cancel). c_i and the ring sum are exact BIGINTs; their product and
    the denominator accumulate as DECIMAL(38,0) (the ``moran_i`` overflow
    posture); the quadrant label (HH/LL/HL/LH cluster-vs-outlier map)
    comes from INTEGER sign comparisons, so it can never flip on a float
    wobble, and only the final I ratio is double (floor-rounded 6 dp)."""
    nbr = hex_sql.cell_id_from_qr_sql("c.q + __o.dq", "c.r + __o.dr", RES_TRADE_AREA)
    i_expr = (
        "CASE WHEN CAST(den AS DOUBLE) <= CAST(0.0 AS DOUBLE)"
        " THEN CAST(0.0 AS DOUBLE)"
        " ELSE CAST(n AS DOUBLE) * (CAST(num AS DOUBLE) / CAST(den AS DOUBLE)) END"
    )
    return f"""
WITH x AS (
  SELECT cell_id, q, r, CAST(population AS BIGINT) AS pop
  FROM ({grid_src}) __g),
m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(pop) AS BIGINT) AS sx FROM x),
c AS (
  SELECT x.cell_id, x.q, x.r, CAST(m.n * x.pop - m.sx AS BIGINT) AS cv
  FROM x CROSS JOIN m),
ring AS (
  SELECT c.cell_id, {nbr} AS nbr
  FROM c CROSS JOIN {hex_sql.ring_offsets_values_sql(1)} __o
  WHERE NOT (__o.dq = 0 AND __o.dr = 0)),
rs AS (
  SELECT r.cell_id,
         CAST(COUNT(*) AS BIGINT) AS n_ring,
         CAST(SUM(c2.cv) AS BIGINT) AS ring_cv
  FROM ring r JOIN c c2 ON r.nbr = c2.cell_id
  GROUP BY r.cell_id),
den_agg AS (SELECT SUM(CAST(cv AS DECIMAL(19,0)) * CAST(cv AS DECIMAL(19,0))) AS den FROM c),
scored AS (
  SELECT c.cell_id, c.cv, rs.n_ring, rs.ring_cv,
         CAST(c.cv AS DECIMAL(19,0)) * CAST(rs.ring_cv AS DECIMAL(19,0)) AS num
  FROM c JOIN rs ON c.cell_id = rs.cell_id)
SELECT s.cell_id, s.n_ring,
       CAST({hex_sql.round_sql(i_expr, 6)} AS DOUBLE) AS lisa_i,
       CASE WHEN s.cv > 0 AND s.ring_cv > 0 THEN 'HH'
            WHEN s.cv < 0 AND s.ring_cv < 0 THEN 'LL'
            WHEN s.cv > 0 AND s.ring_cv < 0 THEN 'HL'
            WHEN s.cv < 0 AND s.ring_cv > 0 THEN 'LH'
            ELSE 'zero' END AS quadrant
FROM scored s CROSS JOIN m CROSS JOIN den_agg"""


def lisa_clusters(
    spark: SparkSession, grid_df: DataFrame | None = None
) -> DataFrame:
    """Anselin local Moran's I cluster/outlier map over grid population.

    Cells with no present ring neighbor are excluded (no local term);
    the HL/LH quadrants are the spatial-outlier cells a siting analyst
    flags for manual review. ``grid_df`` lets the crafted-fixture tests
    run the same text over a hand-built lattice."""
    if grid_df is not None:
        grid_df.createOrReplaceTempView("__lisa_grid")
        return spark.sql(
            _lisa_sql("SELECT cell_id, q, r, population FROM __lisa_grid")
        )
    return spark.sql(_lisa_sql("SELECT cell_id, q, r, population FROM hex_grid"))


def lisa_clusters_oracle_sql() -> str:
    return _lisa_sql(hex_sql.grid_sql())


def _doc_density_sql(spans_src: str) -> str:
    """Per-cell geotagged-span density in the Gi* input shape (the
    integral 'population' is the span count)."""
    return f"""
SELECT hex_id AS cell_id, q, r, CAST(COUNT(*) AS BIGINT) AS population
FROM ({spans_src}) __sp GROUP BY hex_id, q, r"""


def hotspot_gi_docs(spark: SparkSession) -> DataFrame:
    """Gi* over the interleaved corpus: where geotagged document activity
    clusters spatially — the same statistic as ``hotspot_gi`` applied to
    span density instead of population (one extraction pass feeds the
    identical downstream plan; the corpus is scanned once)."""
    from ..sources.documents import geotagged_spans

    geotagged_spans(spark).createOrReplaceTempView("__gi_doc_spans")
    # materialize the per-cell density before the Gi* text: Catalyst
    # inlines the CTE once per downstream reference (stats + ring + the
    # neighborhood join = 3 corpus extraction passes otherwise); the
    # density frame is |active cells| rows — negligible next to the corpus
    dens = spark.sql(
        _doc_density_sql("SELECT hex_id, q, r FROM __gi_doc_spans")
    ).localCheckpoint(eager=True)
    return _gi_from_frame(
        spark,
        dens.select("cell_id", "q", "r", F.col("population").alias("pop")),
    )


def hotspot_gi_docs_oracle_sql() -> str:
    from ..sources.documents import geotagged_spans_oracle_sql

    return _hotspot_sql(_doc_density_sql(geotagged_spans_oracle_sql()))


# ---------------------------------------------------------------------------
# Global spatial autocorrelation: Moran's I per metro
# ---------------------------------------------------------------------------


def _moran_sql(grid_src: str) -> str:
    """Shared SQL for per-metro Moran's I (binary ring-1 weights, no
    self-loops): I = (n/W) · Σ_{ij adjacent} c_i c_j / Σ_i c_i² with the
    n-scaled centering c_i = n·x_i − Σx, which keeps every accumulator an
    exact integer (the n² factors cancel in the ratio).

    Overflow posture: c ~ n·x_max, so c² overflows BIGINT once a metro
    holds ~10⁵ cells — the cross-product terms are therefore computed and
    summed as DECIMAL(38,0) (exact 128-bit accumulation in BOTH engines;
    Spark's SUM(DECIMAL) and DuckDB's agree digit-for-digit, and the
    final decimal→double conversion of identical integers is correctly
    rounded on each side). Expected value under the null is −1/(n−1);
    both ratios floor-rounded to 6 dp."""
    nbr = hex_sql.cell_id_from_qr_sql("c.q + __o.dq", "c.r + __o.dr", RES_TRADE_AREA)
    i_expr = (
        "CASE WHEN CAST(den AS DOUBLE) <= CAST(0.0 AS DOUBLE)"
        " OR COALESCE(w_pairs, 0) = 0 THEN CAST(0.0 AS DOUBLE)"
        " ELSE (CAST(n AS DOUBLE) / CAST(w_pairs AS DOUBLE))"
        " * (CAST(num AS DOUBLE) / CAST(den AS DOUBLE)) END"
    )
    e_expr = "(CAST(-1.0 AS DOUBLE) / (CAST(n AS DOUBLE) - CAST(1.0 AS DOUBLE)))"
    return f"""
WITH x AS (
  SELECT metro, cell_id, q, r, CAST(population AS BIGINT) AS pop
  FROM ({grid_src}) __g),
m AS (
  SELECT metro, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(pop) AS BIGINT) AS sx
  FROM x GROUP BY metro),
c AS (
  SELECT x.metro, x.cell_id, x.q, x.r,
         CAST(m.n * x.pop - m.sx AS DECIMAL(19,0)) AS cv
  FROM x JOIN m ON x.metro = m.metro),
ring AS (
  SELECT c.metro, c.cell_id, {nbr} AS nbr, c.cv
  FROM c CROSS JOIN {hex_sql.ring_offsets_values_sql(1)} __o
  WHERE NOT (__o.dq = 0 AND __o.dr = 0)),
num_agg AS (
  SELECT r.metro,
         CAST(COUNT(*) AS BIGINT) AS w_pairs,
         SUM(r.cv * c2.cv) AS num
  FROM ring r JOIN c c2 ON r.nbr = c2.cell_id AND r.metro = c2.metro
  GROUP BY r.metro),
den_agg AS (SELECT metro, SUM(cv * cv) AS den FROM c GROUP BY metro)
SELECT m.metro, m.n AS n_cells,
       COALESCE(num_agg.w_pairs, CAST(0 AS BIGINT)) AS w_pairs,
       CAST({hex_sql.round_sql(i_expr, 6)} AS DOUBLE) AS moran_i,
       CAST({hex_sql.round_sql(e_expr, 6)} AS DOUBLE) AS expected_i
FROM m
LEFT JOIN num_agg ON m.metro = num_agg.metro
JOIN den_agg ON m.metro = den_agg.metro"""


def moran_i(spark: SparkSession) -> DataFrame:
    """Per-metro Moran's I of grid population under ring-1 adjacency."""
    return spark.sql(_moran_sql("SELECT metro, cell_id, q, r, population FROM hex_grid"))


def moran_i_oracle_sql() -> str:
    return _moran_sql(hex_sql.grid_sql())


# ---------------------------------------------------------------------------
# Emerging hotspots: space-time cube + per-cell Mann-Kendall trend
# ---------------------------------------------------------------------------
# The ESRI "emerging hot spot analysis" shape re-expressed relationally:
# bin events into (cell, day) space-time bins, sum each bin's ring-1
# neighborhood (the spatial smoothing Gi* applies), then test each cell's
# neighborhood series for a monotone trend with the Mann-Kendall S
# statistic (tie-corrected variance, continuity-corrected z). Events gain
# geography through their user's site cell (events.user_id is a customer
# key and site_id = c_custkey — the engine's one user↔location link).
#
# Determinism: bins, ring sums, S, the tie term, and every variance input
# are exact BIGINTs; sign() comparisons happen on integers, so no float
# order-dependence can flip a pair. Only the final z is double — one
# shared expression over identical integers, floor-rounded to 6 dp, tier
# derived from the rounded value (same discipline as Gi* above).
#
# Scale: the cube is |active cells| × T rows (T = bounded time slices),
# the ring sum is one generator explode + (cell, day)-keyed hash join,
# and the MK self-join is T²/2 pairs PER CELL — linear in cells, constant
# in data volume once binned. No driver involvement anywhere. The event
# corpus is scanned exactly ONCE (the binning agg); the cells/days dims
# derive from the aggregated bins, not from re-reads of the corpus —
# Spark inlines deterministic CTEs, so a dim written as DISTINCT-over-ev
# would silently re-run the corpus join per reference.


def _st_day_expr(dialect: str) -> str:
    """Day bin from a timestamp — the one dialect-split expression
    (DuckDB EPOCH vs Spark unix_timestamp; nested-floor identity makes
    the two second→day paths agree)."""
    if dialect == "spark":
        return "CAST(FLOOR(unix_timestamp(ts) / 86400.0) AS BIGINT)"
    return "CAST(FLOOR(EPOCH(ts) / 86400.0) AS BIGINT)"


def _bins_sql(sites_src: str, dialect: str) -> str:
    """Stage 1: the space-time bins — ONE pass over the event corpus."""
    return f"""
SELECT cell_id, q, r, day, CAST(COUNT(*) AS BIGINT) AS n
FROM (
  SELECT s.h3_res8 AS cell_id, s.q, s.r, {_st_day_expr(dialect)} AS day
  FROM events e JOIN ({sites_src}) s ON e.user_id = s.site_id) __ev
GROUP BY cell_id, q, r, day"""


def _wseries_sql(bins_src: str) -> str:
    """Stage 2: dense cube + ring-1 neighborhood sums over the bins."""
    nbr = hex_sql.cell_id_from_qr_sql("c.q + __o.dq", "c.r + __o.dr", RES_TRADE_AREA)
    return f"""
WITH counts AS ({bins_src}),
cells AS (SELECT DISTINCT cell_id, q, r FROM counts),
days AS (SELECT DISTINCT day FROM counts),
cube0 AS (
  SELECT c.cell_id, c.q, c.r, d.day, COALESCE(n.n, CAST(0 AS BIGINT)) AS n
  FROM cells c CROSS JOIN days d
  LEFT JOIN counts n ON n.cell_id = c.cell_id AND n.day = d.day),
ring AS (
  SELECT c.cell_id, c.day, {nbr} AS nbr
  FROM cube0 c CROSS JOIN {hex_sql.ring_offsets_values_sql(1)} __o)
SELECT r2.cell_id, r2.day, CAST(SUM(x.n) AS BIGINT) AS wn
FROM ring r2 JOIN cube0 x ON r2.nbr = x.cell_id AND r2.day = x.day
GROUP BY r2.cell_id, r2.day"""


def _stgi_sql(bins_src: str) -> str:
    """Space-time Gi* over the dense cube: each (cell, day) bin's
    neighborhood is its ring-1 disk × day−1..day+1 (21 bins, self
    included) — the ESRI space-time hot spot statistic proper. Global
    moments run over the DENSE cube (zeros included: N = |cells|·T), all
    sums exact BIGINT; same rounded-z/tier discipline as ``hotspot_gi``.
    Edge bins (first/last day, lattice border) simply see fewer present
    neighbors — m is carried per bin, exactly as the spatial Gi* does."""
    nbr = hex_sql.cell_id_from_qr_sql("c.q + __o.dq", "c.r + __o.dr", RES_TRADE_AREA)
    offs = ", ".join(
        f"({dq}, {dr}, {dd})"
        for dq, dr in hex_sql.ring_offsets(1)
        for dd in (-1, 0, 1)
    )
    xbar = "(CAST(sx AS DOUBLE) / CAST(nn AS DOUBLE))"
    s2 = f"(CAST(sxx AS DOUBLE) / CAST(nn AS DOUBLE) - {xbar} * {xbar})"
    denom = (
        f"(SQRT({s2}) * SQRT((CAST(nn AS DOUBLE) * CAST(m AS DOUBLE)"
        f" - CAST(m AS DOUBLE) * CAST(m AS DOUBLE))"
        f" / (CAST(nn AS DOUBLE) - CAST(1.0 AS DOUBLE))))"
    )
    z = (
        f"CASE WHEN {s2} <= CAST(0.0 AS DOUBLE) OR nn <= 1 THEN CAST(0.0 AS DOUBLE)"
        f" ELSE (CAST(wsum AS DOUBLE) - {xbar} * CAST(m AS DOUBLE)) / {denom} END"
    )
    return f"""
WITH counts AS ({bins_src}),
cells AS (SELECT DISTINCT cell_id, q, r FROM counts),
days AS (SELECT DISTINCT day FROM counts),
cube0 AS (
  SELECT c.cell_id, c.q, c.r, d.day, COALESCE(n.n, CAST(0 AS BIGINT)) AS n
  FROM cells c CROSS JOIN days d
  LEFT JOIN counts n ON n.cell_id = c.cell_id AND n.day = d.day),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS nn,
         CAST(SUM(n) AS BIGINT) AS sx,
         SUM(CAST(n AS DECIMAL(19,0)) * CAST(n AS DECIMAL(19,0))) AS sxx
  FROM cube0),
ring AS (
  SELECT c.cell_id, c.day, {nbr} AS nbr, c.day + __o.dd AS nbr_day
  FROM cube0 c
  CROSS JOIN (SELECT * FROM (VALUES {offs}) AS __st(dq, dr, dd)) __o),
w AS (
  SELECT r2.cell_id, r2.day,
         CAST(COUNT(*) AS BIGINT) AS m,
         CAST(SUM(x.n) AS BIGINT) AS wsum
  FROM ring r2 JOIN cube0 x ON r2.nbr = x.cell_id AND r2.nbr_day = x.day
  GROUP BY r2.cell_id, r2.day),
scored AS (
  SELECT w.cell_id, w.day, w.m, w.wsum,
         CAST({hex_sql.round_sql(z, 6)} AS DOUBLE) AS gi_z
  FROM w CROSS JOIN stats)
SELECT cell_id, day,
       m AS n_present,
       wsum AS nbhd_events,
       gi_z,
       CASE WHEN gi_z >= {_Z99} THEN 'hot99'
            WHEN gi_z >= {_Z95} THEN 'hot95'
            WHEN gi_z <= -{_Z99} THEN 'cold99'
            WHEN gi_z <= -{_Z95} THEN 'cold95'
            ELSE 'ns' END AS tier
FROM scored"""


def st_gi_bins(spark: SparkSession) -> DataFrame:
    """Space-time Gi* per (cell, day) bin — the same materialized-bins
    posture as ``emerging_hotspots`` (one corpus scan, plan-asserted)."""
    bins = spark.sql(
        _bins_sql("SELECT site_id, h3_res8, q, r FROM sites", dialect="spark")
    ).localCheckpoint(eager=True)
    bins.createOrReplaceTempView("__stgi_bins")
    return spark.sql(_stgi_sql("SELECT cell_id, q, r, day, n FROM __stgi_bins"))


def st_gi_bins_oracle_sql() -> str:
    return _stgi_sql(_bins_sql(hex_sql.sites_sql(), dialect="duckdb"))


def _mk_sql(w_src: str, days_src: str) -> str:
    """Stage 3: Mann-Kendall S + tie-corrected z per cell's series."""
    sqrt_v = (
        "SQRT((CAST(t AS DOUBLE) * (CAST(t AS DOUBLE) - 1.0)"
        " * (2.0 * CAST(t AS DOUBLE) + 5.0)"
        " - CAST(tie_term AS DOUBLE)) / CAST(18.0 AS DOUBLE))"
    )
    # continuity-corrected z; all-tied series (V = 0) are flat by definition
    z = (
        f"CASE WHEN {sqrt_v} <= CAST(0.0 AS DOUBLE) THEN CAST(0.0 AS DOUBLE)"
        f" WHEN s_mk > 0 THEN (CAST(s_mk AS DOUBLE) - 1.0) / {sqrt_v}"
        f" WHEN s_mk < 0 THEN (CAST(s_mk AS DOUBLE) + 1.0) / {sqrt_v}"
        f" ELSE CAST(0.0 AS DOUBLE) END"
    )
    return f"""
WITH w AS ({w_src}),
tcnt AS (SELECT CAST(COUNT(DISTINCT day) AS BIGINT) AS t FROM ({days_src}) __d),
pairs AS (
  SELECT a.cell_id,
         CASE WHEN b.wn > a.wn THEN 1 WHEN b.wn < a.wn THEN -1 ELSE 0 END AS sgn
  FROM w a JOIN w b ON a.cell_id = b.cell_id AND b.day > a.day),
s AS (
  SELECT cell_id, CAST(SUM(sgn) AS BIGINT) AS s_mk,
         CAST(COUNT(*) AS BIGINT) AS n_pairs
  FROM pairs GROUP BY cell_id),
ties AS (
  SELECT cell_id,
         CAST(SUM(g * (g - 1) * (2 * g + 5)) AS BIGINT) AS tie_term
  FROM (SELECT cell_id, wn, CAST(COUNT(*) AS BIGINT) AS g
        FROM w GROUP BY cell_id, wn) __g
  GROUP BY cell_id),
scored AS (
  SELECT s.cell_id, s.s_mk, s.n_pairs,
         CAST({hex_sql.round_sql(z, 6)} AS DOUBLE) AS z_mk
  FROM s JOIN ties ON s.cell_id = ties.cell_id CROSS JOIN tcnt)
SELECT cell_id, s_mk, n_pairs, z_mk,
       CASE WHEN z_mk >= {_Z95} THEN 'rising'
            WHEN z_mk <= -{_Z95} THEN 'falling'
            ELSE 'flat' END AS trend
FROM scored"""


def emerging_hotspots(spark: SparkSession) -> DataFrame:
    """Per-cell Mann-Kendall trend of ring-1 neighborhood event activity
    over daily space-time bins.

    Materialization boundary: Catalyst INLINES deterministic CTEs, so a
    single SQL text would re-run the corpus-binning join once per
    downstream reference (measured: 76 physical event scans). The Spark
    plan therefore eagerly materializes ONE small aggregate — the bins
    (≤ |active cells|·T rows) — and runs everything downstream against
    the materialized frame: the corpus is scanned exactly once
    (plan-asserted). The neighborhood series (wseries) is NOT separately
    checkpointed (r6): its three MK references re-derive it from the
    materialized bins inside one fused query — three bins-scale ring
    aggregations cost ~0.6 s more executor work at sf0.1 but drop a
    whole materialization barrier and its cold codegen/AQE round
    (measured: 4.7 s -> 2.0 s cold, 1.53 s -> 1.40 s warm), and at scale
    the recomputed input is bins-sized, never corpus-sized.
    localCheckpoint is the right tool for the bins (unlike the CC loop's
    durable stages): the frame is tiny relative to the corpus,
    single-shot, and an executor loss merely recomputes one
    deterministic pass."""
    bins = spark.sql(
        _bins_sql("SELECT site_id, h3_res8, q, r FROM sites", dialect="spark")
    ).localCheckpoint(eager=True)
    bins.createOrReplaceTempView("__st_bins")
    return spark.sql(
        _mk_sql(
            _wseries_sql("SELECT cell_id, q, r, day, n FROM __st_bins"),
            "SELECT day FROM __st_bins",
        )
    )


def emerging_hotspots_oracle_sql() -> str:
    bins = _bins_sql(hex_sql.sites_sql(), dialect="duckdb")
    return _mk_sql(_wseries_sql(bins), bins)


def hotspot_clusters_oracle_sql() -> str:
    """DuckDB twin: recursive min-label reachability over the same dense
    adjacency (the fixpoint the hash-min loop converges to)."""
    edges = _dense_edges_sql(hex_sql.grid_sql())
    dense_src = f"""
WITH {_x_cte(hex_sql.grid_sql())}
SELECT cell_id FROM x WHERE pop >= {DENSE_POP}"""
    return f"""
WITH RECURSIVE e AS ({edges}),
nodes AS ({dense_src}),
reach(node, r) AS (
  SELECT cell_id, cell_id FROM nodes
  UNION
  SELECT reach.node, e.b FROM reach JOIN e ON reach.r = e.a
),
lab AS (SELECT node AS cell_id, MIN(r) AS cluster_id FROM reach GROUP BY node)
SELECT cell_id, cluster_id,
       CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
FROM lab"""
