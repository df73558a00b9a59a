"""Distributed k-ring expansion.

Replaces the reference's driver-side ``h3.grid_disk`` loop
(``/root/reference/notebooks/10_feature_engineering.py:77-116`` — collect
5,350 sites to the driver, expand in Python, createDataFrame back) with a
fully distributed expansion: each site row explodes a literal array of
the 7/19/37 k-disk offsets (no join, no exchange) and the neighbor
cell id is closed-form bigint arithmetic — so the expansion runs JVM-side
inside whole-stage codegen, scales linearly with sites, and never touches
the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import AXIS_OFFSET, AXIS_SHIFT, RES_CODE_SHIFT
from ..functions import hex_sql


def neighbor_cell_col(q, r, res: int = 8):
    """Neighbor cell id from axial coords + offsets — pure bigint arithmetic."""
    return (
        F.lit(res - 6).cast("long") * F.lit(RES_CODE_SHIFT)
        + (q + F.lit(AXIS_OFFSET)).cast("long") * F.lit(AXIS_SHIFT)
        + (r + F.lit(AXIS_OFFSET)).cast("long")
    )


def hex_distance(dq: int, dr: int) -> int:
    """Hex grid distance of an axial offset."""
    return (abs(dq) + abs(dr) + abs(dq + dr)) // 2


def ring_pairs(
    spark: SparkSession,
    points: DataFrame,
    k: int,
    id_col: str = "site_id",
    res: int = 8,
    extra_cols: list[str] | None = None,
    with_ring: bool = False,
) -> DataFrame:
    """(id, neighbor_h3) pair table for the k-disk around each point.

    ``points`` must carry axial coords ``q``/``r`` (from the encoder).
    Output cardinality = |points| * (1+3k(k+1)) — 7/19/37 per site, matching
    the reference's ring tables (`notebooks/10_feature_engineering.py:116`).

    Implementation: ``explode`` over a literal offsets array — stays inside
    whole-stage codegen as a generator, no join at all (a crossJoin against
    the offsets dimension would plan as BroadcastNestedLoopJoin and fall
    out of codegen).
    """
    cols = [id_col, *(extra_cols or [])]
    # one F.expr call, not 37×(struct+3 lits) Column ops: each Column op is
    # a py4j round trip (~0.3 ms) — the string form parses server-side and
    # cut ring_pairs construction from ~0.5 s to ~5 ms (same logical plan)
    items = ", ".join(
        f"struct({int(dq)} as dq, {int(dr)} as dr, {hex_distance(dq, dr)} as ring_k)"
        for dq, dr in hex_sql.ring_offsets(k)
    )
    offs_array = F.expr(f"array({items})")
    exploded = points.select(*cols, "q", "r", F.explode(offs_array).alias("o"))
    ring_extra = [F.col("o.ring_k").alias("ring_k")] if with_ring else []
    return exploded.select(
        *cols,
        neighbor_cell_col(
            F.col("q") + F.col("o.dq"), F.col("r") + F.col("o.dr"), res
        ).alias("neighbor_h3"),
        *ring_extra,
    )


def ring_pairs_oracle_sql(src_sql: str, k: int, id_col: str = "site_id",
                          extra_cols: list[str] | None = None, res: int = 8) -> str:
    """Oracle-side equivalent of ``ring_pairs`` over a source subquery that
    exposes (id_col, q, r)."""
    cols = ", ".join([f"p.{c}" for c in [id_col, *(extra_cols or [])]])
    neigh = hex_sql.cell_id_from_qr_sql("p.q + o.dq", "p.r + o.dr", res)
    return (
        f"SELECT {cols}, {neigh} AS neighbor_h3 "
        f"FROM ({src_sql}) p CROSS JOIN {hex_sql.ring_offsets_values_sql(k)} o"
    )


# ---------------------------------------------------------------------------
# H3-parity cell geometry APIs: cell_to_boundary and grid_distance
# ---------------------------------------------------------------------------

def _cell_boundary_sql(src_sql: str) -> str:
    """Shared Spark/DuckDB SQL: distinct cells of ``src`` × the 6-corner
    offsets relation → one row per (cell, corner) with exact coordinates.

    H3 ``cell_to_boundary`` analogue over the from-scratch lattice; the
    corner offsets are the same sin/cos literals the numpy codec uses
    (``pip._cell_corners``), so all three formulations agree bit-for-bit.
    """
    from ..config import HEX_SIZE_DEG, RES_TRADE_AREA

    # every literal CAST to DOUBLE: bare decimal literals parse as DECIMAL
    # in Spark SQL (exact-decimal arithmetic, 1-ulp off the IEEE path
    # DuckDB and the numpy codec take); op order mirrors _cell_corners
    s = f"CAST({HEX_SIZE_DEG[RES_TRADE_AREA]!r} AS DOUBLE)"
    sqrt3 = f"CAST({hex_sql.SQRT3} AS DOUBLE)"
    clat = f"(CAST(r AS DOUBLE) * CAST(1.5 AS DOUBLE) * {s})"
    clon = f"((CAST(q AS DOUBLE) + CAST(r AS DOUBLE) / CAST(2.0 AS DOUBLE)) * {sqrt3} * {s})"
    return f"""
SELECT cell_id, corner,
       ({clat} + {s} * CAST(uy AS DOUBLE)) AS corner_lat,
       ({clon} + {s} * CAST(ux AS DOUBLE)) AS corner_lon
FROM (SELECT DISTINCT h3_res8 AS cell_id, q, r FROM ({src_sql}) __src) __cells
CROSS JOIN {hex_sql.corner_offsets_values_sql()}"""


def cell_boundaries(spark: SparkSession) -> DataFrame:
    """Boundary polygons (6 corners) of every distinct site cell."""
    return spark.sql(_cell_boundary_sql("SELECT h3_res8, q, r FROM sites"))


def cell_boundaries_oracle_sql() -> str:
    return _cell_boundary_sql(hex_sql.sites_sql())


def _metro_center_distance_sql(src_sql: str) -> str:
    """Shared SQL: per-site hex grid distance (ring count) from the site's
    cell to its metro center's cell.  The site's (q, r) are RE-DERIVED from
    the packed cell id via ``decode_qr_sql`` — exercising the decode as the
    exact inverse of the encode in both engines — and the center cells are
    driver-side numpy encodes inlined as literals (dim-scale constants)."""
    import numpy as np

    from ..config import METROS, RES_TRADE_AREA
    from ..functions import hexgrid

    lats = np.array([m[1] for m in METROS])
    lons = np.array([m[2] for m in METROS])
    cq, cr = hexgrid.latlng_to_qr(lats, lons, RES_TRADE_AREA)
    q_case = " ".join(
        f"WHEN '{m[0]}' THEN {int(q)}" for m, q in zip(METROS, cq)
    )
    r_case = " ".join(
        f"WHEN '{m[0]}' THEN {int(r)}" for m, r in zip(METROS, cr)
    )
    dq, dr = hex_sql.decode_qr_sql("h3_res8")
    dist = hex_sql.grid_distance_sql(
        dq, dr, f"(CASE metro {q_case} END)", f"(CASE metro {r_case} END)"
    )
    return f"""
SELECT site_id, metro, {dist} AS ring_steps
FROM ({src_sql}) __sites"""


def metro_center_distance(spark: SparkSession) -> DataFrame:
    """H3 ``grid_distance`` analogue: ring count from each site's cell to
    its metro center's cell — integer-exact, decode-validated."""
    return spark.sql(
        _metro_center_distance_sql("SELECT site_id, metro, h3_res8 FROM sites")
    )


def metro_center_distance_oracle_sql() -> str:
    return _metro_center_distance_sql(hex_sql.sites_sql())


def _parent_rollup_sql(grid_sql_src: str) -> str:
    """Shared SQL: res-8 grid cells rolled up to their res-7 parents
    (H3 ``cell_to_parent`` analogue: parent = encode(centroid(cell)) at
    the coarser res — the lattice isn't subdivision-nested, so parenthood
    is centroid re-encode, same contract as ``hexgrid.cell_to_parent``).

    All-DOUBLE casts keep the centroid arithmetic on the IEEE path in
    both engines (bare decimals parse as DECIMAL in Spark SQL)."""
    from ..config import HEX_SIZE_DEG, RES_MARKET, RES_TRADE_AREA

    s8 = f"CAST({HEX_SIZE_DEG[RES_TRADE_AREA]!r} AS DOUBLE)"
    sqrt3 = f"CAST({hex_sql.SQRT3} AS DOUBLE)"
    clat = f"(CAST(r AS DOUBLE) * CAST(1.5 AS DOUBLE) * {s8})"
    clon = f"((CAST(q AS DOUBLE) + CAST(r AS DOUBLE) / CAST(2.0 AS DOUBLE)) * {sqrt3} * {s8})"
    inner = f"""
SELECT cell_id, population, median_income, {clat} AS clat, {clon} AS clon
FROM ({grid_sql_src}) __grid8"""
    enc = hex_sql.encode_select_sql(
        inner,
        lat="clat",
        lon="clon",
        res=RES_MARKET,
        keep_cols=["cell_id", "population", "median_income"],
        cell_alias="parent_cell",
    )
    return f"""
SELECT parent_cell,
       CAST(COUNT(*) AS BIGINT) AS n_children,
       CAST(SUM(population) AS DOUBLE) AS sum_population,
       CAST(SUM(median_income) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_income
FROM ({enc}) __enc7
GROUP BY parent_cell"""


def parent_rollup(spark: SparkSession) -> DataFrame:
    """Market-resolution rollup of the demographics grid (res 8 → res 7)."""
    return spark.sql(
        _parent_rollup_sql("SELECT cell_id, q, r, population, median_income FROM hex_grid")
    )


def parent_rollup_oracle_sql() -> str:
    return _parent_rollup_sql(hex_sql.grid_sql())


# ---------------------------------------------------------------------------
# H3-parity hierarchy APIs: child_cells and compact_cells
# ---------------------------------------------------------------------------
# The lattice is not subdivision-nested (parenthood = centroid re-encode,
# same contract as hexgrid.cell_to_parent / parent_rollup), so a parent's
# child set is irregular — it is DERIVED, not indexed: enumerate res-8
# candidates in a small ring around the re-encoded parent center and keep
# those whose centroid re-encodes back to the parent.  s7/s8 = 0.012/0.0045
# ≈ 2.67 ⇒ ~7.1 children per parent (aperture-7-like); every child center
# lies within 0.012° of the parent center = < 2 res-8 rings, so a ring-3
# candidate disk is exhaustive with margin (asserted by the completeness
# test: every grid cell appears among its own parent's children).

_CHILD_RING = 3


def _centroid_double_sql(q: str, r: str, res: int) -> tuple[str, str]:
    """Cell-centroid (lat, lon) with every literal CAST AS DOUBLE — bare
    decimals parse as DECIMAL in Spark SQL but DOUBLE in DuckDB, and the
    hierarchy encodes round near cell boundaries, so the un-cast
    ``hex_sql.centroid_sql`` form diverges between engines here (same
    pitfall `_parent_rollup_sql` documents)."""
    from ..config import HEX_SIZE_DEG

    s = f"CAST({HEX_SIZE_DEG[res]!r} AS DOUBLE)"
    sqrt3 = f"CAST({hex_sql.SQRT3} AS DOUBLE)"
    lat = f"(CAST({r} AS DOUBLE) * CAST(1.5 AS DOUBLE) * {s})"
    lon = (
        f"((CAST({q} AS DOUBLE) + CAST({r} AS DOUBLE) / CAST(2.0 AS DOUBLE))"
        f" * {sqrt3} * {s})"
    )
    return lat, lon


def _children_sql(parents_src: str) -> str:
    """(parent_cell, child_cell) for every res-8 child of each parent in
    ``parents_src`` (a relation exposing parent_cell) — H3 ``child_cells``
    analogue, same text in both engines."""
    q7, r7 = hex_sql.decode_qr_sql("parent_cell")
    plat, plon = _centroid_double_sql(q7, r7, 7)
    anchor = hex_sql.encode_select_sql(
        f"SELECT parent_cell, {plat} AS plat, {plon} AS plon"
        f" FROM ({parents_src}) __par",
        lat="plat",
        lon="plon",
        res=8,
        keep_cols=["parent_cell"],
        cell_alias="anchor_cell",
        q_alias="aq",
        r_alias="ar",
    )
    cand = (
        f"SELECT parent_cell, aq + dq AS cq, ar + dr AS cr"
        f" FROM ({anchor}) __anch"
        f" CROSS JOIN {hex_sql.ring_offsets_values_sql(_CHILD_RING)} o"
    )
    c8lat, c8lon = _centroid_double_sql("cq", "cr", 8)
    checked = hex_sql.encode_select_sql(
        f"SELECT parent_cell, cq, cr, {c8lat} AS c8lat, {c8lon} AS c8lon"
        f" FROM ({cand}) __cand",
        lat="c8lat",
        lon="c8lon",
        res=7,
        keep_cols=["parent_cell", "cq", "cr"],
        cell_alias="enc_parent",
        q_alias="eq",
        r_alias="er",
    )
    child = hex_sql.cell_id_from_qr_sql("cq", "cr", 8)
    return (
        f"SELECT parent_cell, {child} AS child_cell"
        f" FROM ({checked}) __chk WHERE enc_parent = parent_cell"
    )


def _cell_children_sql(grid_src: str) -> str:
    """child_cells over the parents of the inhabited grid."""
    clat, clon = _centroid_double_sql("q", "r", 8)
    par = hex_sql.encode_select_sql(
        f"SELECT cell_id, {clat} AS c8lat, {clon} AS c8lon"
        f" FROM ({grid_src}) __g8",
        lat="c8lat",
        lon="c8lon",
        res=7,
        keep_cols=["cell_id"],
        cell_alias="parent_cell",
        q_alias="pq",
        r_alias="pr",
    )
    return _children_sql(f"SELECT DISTINCT parent_cell FROM ({par}) __pp")


def cell_children(spark: SparkSession) -> DataFrame:
    """H3 ``child_cells`` analogue: the full child set of every res-7
    parent seen by the demographics grid.  Dim-scale generative plan: the
    per-parent ring-candidate explode runs JVM-side over |parents| rows;
    at any data scale this is a derived dimension, never a corpus scan."""
    return spark.sql(_cell_children_sql("SELECT cell_id, q, r FROM hex_grid"))


def cell_children_oracle_sql() -> str:
    return _cell_children_sql(hex_sql.grid_sql())


def _compact_sql(cover_src: str) -> str:
    """H3 ``compact_cells`` analogue over a res-8 cover: parents whose
    ENTIRE child set is present collapse to one res-7 row; all other
    cover cells pass through at res 8.  Shared text in both engines."""
    q8, r8 = hex_sql.decode_qr_sql("cell_id")
    clat, clon = _centroid_double_sql(q8, r8, 8)
    par = hex_sql.encode_select_sql(
        f"SELECT cell_id, {clat} AS c8lat, {clon} AS c8lon FROM cov",
        lat="c8lat",
        lon="c8lon",
        res=7,
        keep_cols=["cell_id"],
        cell_alias="parent_cell",
        q_alias="pq",
        r_alias="pr",
    )
    children = _children_sql("SELECT DISTINCT parent_cell FROM par")
    return f"""
WITH cov AS (SELECT DISTINCT cell_id FROM ({cover_src}) __cov),
par AS ({par}),
cnt AS (
  SELECT parent_cell, CAST(COUNT(*) AS BIGINT) AS n_present
  FROM par GROUP BY parent_cell
),
ch AS (
  SELECT parent_cell, CAST(COUNT(*) AS BIGINT) AS n_children
  FROM ({children}) __ch GROUP BY parent_cell
),
fullp AS (
  SELECT cnt.parent_cell
  FROM cnt JOIN ch ON ch.parent_cell = cnt.parent_cell
  WHERE cnt.n_present = ch.n_children
)
SELECT parent_cell AS cell_out, 7 AS res FROM fullp
UNION ALL
SELECT p.cell_id AS cell_out, 8 AS res
FROM par p LEFT JOIN fullp f ON f.parent_cell = p.parent_cell
WHERE f.parent_cell IS NULL"""


# ---------------------------------------------------------------------------
# H3-parity grid_path: cells along the line between two cells
# ---------------------------------------------------------------------------


def _grid_path_sql(src_sql: str, seq_dialect: str) -> str:
    """(site_id, step_i, path_cell): the H3 ``grid_path_cells`` analogue —
    cells along the straight line from each site's cell to its metro
    center's cell, one per grid-distance step (cube-lerp + round).

    The lattice centroid map is LINEAR in (q, r), so the cube-space lerp
    equals a lat/lon lerp of the endpoint centroids re-encoded at res 8 —
    which lets the path reuse the one shared encode text
    (``hex_sql.encode_select_sql``) instead of a second rounding kernel.
    H3's own grid_path does the same lerp with a +eps tiebreak; ours
    needs no eps because both engines evaluate the identical double
    arithmetic (all literals CAST AS DOUBLE).

    ``seq_dialect``: only the integer-step generator differs by engine —
    'spark' uses ``explode(sequence(...))``, 'duckdb' uses
    ``UNNEST(generate_series(...))`` (the fast-vs-portable hash split
    precedent: value-identical, dialect-specific spelling).

    ``src_sql`` must expose (site_id, metro, h3_res8)."""
    import numpy as np

    from ..config import METROS, RES_TRADE_AREA
    from ..functions import hexgrid

    lats = np.array([m[1] for m in METROS])
    lons = np.array([m[2] for m in METROS])
    cq, cr = hexgrid.latlng_to_qr(lats, lons, RES_TRADE_AREA)
    q_case = " ".join(
        f"WHEN '{m[0]}' THEN {int(q)}" for m, q in zip(METROS, cq)
    )
    r_case = " ".join(
        f"WHEN '{m[0]}' THEN {int(r)}" for m, r in zip(METROS, cr)
    )
    q0, r0 = hex_sql.decode_qr_sql("h3_res8")
    dist = hex_sql.grid_distance_sql(
        q0, r0, f"(CASE metro {q_case} END)", f"(CASE metro {r_case} END)"
    )
    ends = f"""
SELECT site_id,
       {q0} AS q0, {r0} AS r0,
       (CASE metro {q_case} END) AS q1,
       (CASE metro {r_case} END) AS r1,
       {dist} AS steps
FROM ({src_sql}) __sites"""
    if seq_dialect == "spark":
        stepped = (
            f"SELECT site_id, q0, r0, q1, r1, steps, i"
            f" FROM ({ends}) __e"
            f" LATERAL VIEW explode(sequence(0, steps)) AS i"
        )
    else:
        stepped = (
            f"SELECT site_id, q0, r0, q1, r1, steps,"
            f" UNNEST(generate_series(0, steps)) AS i"
            f" FROM ({ends}) __e"
        )
    # fractional axial lerp → centroid lat/lon (linear map, so this IS the
    # cube lerp) → shared encode
    t = (
        "CASE WHEN steps = 0 THEN CAST(0.0 AS DOUBLE)"
        " ELSE CAST(i AS DOUBLE) / CAST(steps AS DOUBLE) END"
    )
    qf = f"(CAST(q0 AS DOUBLE) + ({t}) * (CAST(q1 AS DOUBLE) - CAST(q0 AS DOUBLE)))"
    rf = f"(CAST(r0 AS DOUBLE) + ({t}) * (CAST(r1 AS DOUBLE) - CAST(r0 AS DOUBLE)))"
    plat, plon = _centroid_double_sql(qf, rf, 8)
    lerped = (
        f"SELECT site_id, i AS step_i, {plat} AS plat, {plon} AS plon"
        f" FROM ({stepped}) __st"
    )
    enc = hex_sql.encode_select_sql(
        lerped,
        lat="plat",
        lon="plon",
        res=8,
        keep_cols=["site_id", "step_i"],
        cell_alias="path_cell",
        q_alias="gq",
        r_alias="gr",
    )
    return (
        f"SELECT site_id, CAST(step_i AS BIGINT) AS step_i, path_cell"
        f" FROM ({enc}) __path"
    )


def grid_path_cells(spark: SparkSession) -> DataFrame:
    """H3 ``grid_path_cells`` analogue: the corridor of cells from each
    site to its metro center (one cell per grid-distance step).  Fully
    generative: a codegen sequence-explode over |sites| rows — no joins,
    no shuffle; output is |sites| × (steps+1) rows."""
    return spark.sql(
        _grid_path_sql(
            "SELECT site_id, metro, h3_res8 FROM sites", seq_dialect="spark"
        )
    )


def grid_path_cells_oracle_sql() -> str:
    return _grid_path_sql(hex_sql.sites_sql(), seq_dialect="duckdb")


def _corridor_demand_sql(src_sql: str, seq_dialect: str) -> str:
    """Per-site corridor rollup over the center path: cell count, demand
    along the corridor, and summed closed-form terrain cost — the
    'what does the commute corridor look like' siting feature."""
    path = _grid_path_sql(src_sql, seq_dialect)
    pop = hex_sql.grid_attrs_sql("path_cell")["population"]
    cost = "(CAST(1 AS BIGINT) + ((path_cell) % 5))"
    return f"""
SELECT site_id,
       CAST(COUNT(*) AS BIGINT) AS n_path_cells,
       SUM({pop}) AS corridor_pop,
       CAST(SUM({cost}) AS BIGINT) AS corridor_cost
FROM ({path}) __p
GROUP BY site_id"""


def corridor_demand(spark: SparkSession) -> DataFrame:
    """Demand and terrain cost along each site's center corridor — the
    grid_path consumer (generative + one hash agg, no joins)."""
    return spark.sql(
        _corridor_demand_sql(
            "SELECT site_id, metro, h3_res8 FROM sites", seq_dialect="spark"
        )
    )


def corridor_demand_oracle_sql() -> str:
    return _corridor_demand_sql(hex_sql.sites_sql(), seq_dialect="duckdb")


def _cover_values_sql() -> str:
    """The synthetic layer's polyfill cover (operators/pip.polygon_cell_cover)
    as a VALUES literal — pure deterministic Python, inlined identically
    into both engines (the pip oracles inline the polygons the same way)."""
    from .pip import polygon_cell_cover

    cells = sorted({r["cell"] for r in polygon_cell_cover()})
    rows = ", ".join(f"({c})" for c in cells)
    return f"(SELECT * FROM (VALUES {rows}) AS __cv(cell_id))"


def compact_cover(spark: SparkSession) -> DataFrame:
    """compact_cells over the trade-zone polyfill cover: interior blocks
    of contiguous covers collapse to res-7 cells (the H3 compact/uncompact
    storage optimization for polygon covers)."""
    return spark.sql(_compact_sql(_cover_values_sql()))


def compact_cover_oracle_sql() -> str:
    return _compact_sql(_cover_values_sql())


def uncompact_cover(spark: SparkSession) -> DataFrame:
    """H3 ``uncompact_cells`` analogue — and the roundtrip contract as a
    driver-checked query: expand the compacted cover's res-7 rows through
    the children enumeration, pass res-8 rows through.  The ORACLE is the
    original cover literal itself, so the driver's value hash proves
    uncompact(compact(cover)) == cover with no shared code between the
    two sides."""
    compact = _compact_sql(_cover_values_sql())
    kids = _children_sql("SELECT cell_out AS parent_cell FROM cpt WHERE res = 7")
    return spark.sql(
        f"""
WITH cpt AS ({compact})
SELECT child_cell AS cell_id FROM ({kids}) __kids
UNION
SELECT cell_out AS cell_id FROM cpt WHERE res = 8"""
    )


def uncompact_cover_oracle_sql() -> str:
    return f"SELECT cell_id FROM {_cover_values_sql()} __c"
