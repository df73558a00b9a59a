"""Point-in-polygon trade-area joins: one join over a hex-cell cover.

North-star requirement (absent in the reference, which substitutes hex
membership for PIP — SURVEY §2.9 G7): join points against census/boundary
polygons through a cell-bucketed index, never per-row Python.

``pip_join`` is the one PIP join.  Each polygon's res-8 cover is built
once (``polygon_cell_cover``: convex or concave rings, with holes); a
cover cell is INTERIOR (the hex lies wholly inside the polygon, so the
cell equi-join alone decides membership) or BOUNDARY (the exact test
decides).  Points join the cover on their ``h3_res8`` cell, and the
first accepted candidate in priority order (cores before areas, then
``poly_id``) wins.  Where the cover lives follows from the type of the
polygon input:

- a ``list`` (or ``None``: the synthetic layer) is polyfilled on the
  driver and broadcast — Scan → BroadcastHashJoin → Project, no Exchange
  and no Python;
- a ``DataFrame`` (the ``polygons_df`` contract, census-scale layers) is
  polyfilled across executors (``polyfill_distributed``) and joined by a
  shuffle hash join, resolved by one ``min(struct)`` aggregate.

The exact test is one rule, even-odd ray casting over every ring: SQL in
the broadcast branch (``_ray_cast_sql``), an Arrow/numpy kernel over the
boundary candidates only in the shuffle branch (``_ray_cast_rings``).
The two agree bit for bit.  The half-plane CASE (``pip_zone_case_sql``)
survives only as the oracle twin in DuckDB-checkable SQL.

The synthetic boundary layer (one polygon per metro ring) is the
"boundary" table of BASELINE.json's "synthetic POI+boundary" posture.
"""

from __future__ import annotations

import math

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import HEX_SIZE_DEG, METROS, RES_TRADE_AREA
from ..functions import hexgrid, hex_sql

# Synthetic boundary layer: for each metro, 2 concentric hexagonal zones
# (inner trade core, outer trade area), vertex radius in degrees.
ZONE_RADII = [0.08, 0.2]


def synthetic_polygons() -> list[dict]:
    """Deterministic polygon set: regular hexagons around metro centers.

    Vertices at angles 30°+60°k — flat-top hexes, convex, closed rings.
    """
    polys = []
    pid = 0
    for name, clat, clon in METROS:
        for zi, rad in enumerate(ZONE_RADII):
            verts = []
            for k in range(6):
                ang = math.radians(30 + 60 * k)
                verts.append((clat + rad * math.sin(ang), clon + rad * math.cos(ang)))
            polys.append(
                {
                    "poly_id": pid,
                    "metro": name,
                    "zone": "core" if zi == 0 else "area",
                    "verts": verts,
                }
            )
            pid += 1
    return polys


# ---------------------------------------------------------------------------
# The exact test: even-odd ray casting (numpy kernel and its SQL twin)
# ---------------------------------------------------------------------------

def _rings(p: dict) -> list[np.ndarray]:
    """Outer ring + any hole rings of a polygon record."""
    return [np.asarray(p["verts"], dtype=np.float64)] + [
        np.asarray(h, dtype=np.float64) for h in p.get("holes", [])
    ]


def _ray_cast_rings(lat: np.ndarray, lon: np.ndarray, rings: list[np.ndarray]) -> np.ndarray:
    """Even-odd membership over a polygon with holes: XOR across rings
    (inside the outer ring and outside every hole)."""
    inside = np.zeros(len(np.asarray(lat)), dtype=bool)
    for ring in rings:
        inside ^= _ray_cast(lat, lon, ring)
    return inside


def _ray_cast(lat: np.ndarray, lon: np.ndarray, verts: np.ndarray) -> np.ndarray:
    """Vectorized even-odd ray casting (x=lon, y=lat)."""
    x, y = lon, lat
    n = len(verts)
    inside = np.zeros(len(x), dtype=bool)
    for i in range(n):
        y1, x1 = verts[i]
        y2, x2 = verts[(i + 1) % n]
        crosses = ((y1 > y) != (y2 > y)) & (
            x < (x2 - x1) * (y - y1) / (y2 - y1 + 1e-300) + x1
        )
        inside ^= crosses
    return inside


def _dbl(v: float) -> str:
    """A DOUBLE literal: a bare ``-87.7`` parses as DECIMAL in Spark SQL."""
    return f"{float(v)!r}D"


def _ray_cast_sql(rings: list[np.ndarray], lat: str, lon: str) -> str:
    """``_ray_cast_rings`` as one SQL predicate, bit for bit: one crossing
    term per ring edge in the kernel's operation order (same ``+ 1e-300``
    denominator), inside when the crossing count is odd."""
    terms = []
    for ring in rings:
        n = len(ring)
        for i in range(n):
            y1, x1 = map(_dbl, ring[i])
            y2, x2 = map(_dbl, ring[(i + 1) % n])
            terms.append(
                f"IF((({y1} > {lat}) != ({y2} > {lat})) AND {lon} < "
                f"({x2} - {x1}) * ({lat} - {y1}) / ({y2} - {y1} + 1e-300D) + {x1}, 1, 0)"
            )
    return f"(({' + '.join(terms)}) % 2 = 1)"


# ---------------------------------------------------------------------------
# Oracle twin: convex half-plane PIP in portable SQL
# ---------------------------------------------------------------------------

def _halfplane_conds(verts: list[tuple[float, float]], lat: str, lon: str) -> str:
    """Point-left-of-every-edge test for a CCW convex ring (x=lon, y=lat)."""
    conds = []
    n = len(verts)
    for i in range(n):
        y1, x1 = verts[i]
        y2, x2 = verts[(i + 1) % n]
        # cross((v2-v1), (p-v1)) >= 0
        conds.append(
            f"(({x2!r} - {x1!r}) * (({lat}) - {y1!r})"
            f" - ({y2!r} - {y1!r}) * (({lon}) - {x1!r})) >= 0"
        )
    return "(" + " AND ".join(conds) + ")"


def pip_zone_case_sql(lat: str, lon: str) -> tuple[str, str]:
    """(poly_id_expr, zone_expr): first-match CASE over core-then-area
    polygons — the oracle twin of ``pip_join``'s first-hit rule, which
    tries candidates in the same core-then-area priority order."""
    polys = synthetic_polygons()
    ordered = sorted(polys, key=lambda p: (p["zone"] != "core", p["poly_id"]))
    id_whens, zone_whens = [], []
    for p in ordered:
        cond = _halfplane_conds(p["verts"], lat, lon)
        id_whens.append(f"WHEN {cond} THEN {p['poly_id']}")
        zone_whens.append(f"WHEN {cond} THEN '{p['zone']}'")
    return (
        f"CASE {' '.join(id_whens)} ELSE -1 END",
        f"CASE {' '.join(zone_whens)} ELSE NULL END",
    )


def pip_convex_join(spark: SparkSession) -> DataFrame:
    """Sites × boundary zones: ``pip_join`` rolled up per (site metro, zone)."""
    sites = spark.table("sites").select("site_id", "metro", "lat", "lon", "h3_res8")
    return (
        pip_join(spark, points=sites)
        .groupBy("metro", F.col("poly_zone").alias("zone"))
        .agg(F.count(F.lit(1)).alias("n_sites"), F.min("site_id").alias("first_site"))
    )


def pip_convex_join_oracle_sql() -> str:
    pid, zone = pip_zone_case_sql("lat", "lon")
    return f"""
SELECT metro, {zone} AS zone,
       COUNT(*) AS n_sites, MIN(site_id) AS first_site
FROM ({hex_sql.sites_sql()}) __sites
GROUP BY 1, 2"""


def pip_assignments_oracle_sql() -> str:
    """Oracle for every ``pip_join`` placement: the synthetic polygons are
    convex and disjoint-per-priority (core before area), so the first-hit
    ray cast == the ordered half-plane CASE."""
    pid, zone = pip_zone_case_sql("lat", "lon")
    return f"""
SELECT site_id, CAST({pid} AS BIGINT) AS poly_id, {zone} AS poly_zone
FROM ({hex_sql.sites_sql()}) __sites"""


# ---------------------------------------------------------------------------
# Polygon -> cell cover (polyfill)
# ---------------------------------------------------------------------------
#
# Each polygon's hex-cell cover is computed once, in numpy, and every cover
# cell is classified INTERIOR (hex fully inside the polygon -- membership
# decided by the cell equi-join alone, no per-point geometry) or BOUNDARY
# (hex meets a ring edge -- refine with the exact ray cast).  Only the thin
# boundary ring pays per-point math.

_HEX_CORNER_ANGLES = [math.radians(30 + 60 * k) for k in range(6)]


def _ccw(verts: np.ndarray) -> np.ndarray:
    """Return the ring in CCW orientation (x=lon, y=lat)."""
    y, x = verts[:, 0], verts[:, 1]
    area2 = np.sum(x * np.roll(y, -1) - np.roll(x, -1) * y)
    return verts if area2 >= 0 else verts[::-1]


def _cell_corners(q: np.ndarray, r: np.ndarray, res: int) -> tuple[np.ndarray, np.ndarray]:
    """(n, 6) corner lat / lon arrays for pointy-top hexes of the lattice."""
    s = HEX_SIZE_DEG[res]
    clat = r * 1.5 * s
    clon = (q + r / 2.0) * hexgrid.SQRT3 * s
    sin = np.array([math.sin(a) for a in _HEX_CORNER_ANGLES])
    cos = np.array([math.cos(a) for a in _HEX_CORNER_ANGLES])
    return clat[:, None] + s * sin[None, :], clon[:, None] + s * cos[None, :]


def _convex_hull(verts: np.ndarray) -> np.ndarray:
    """Monotone-chain convex hull, CCW, in (lat, lon) rows (x=lon, y=lat)."""
    pts = verts[np.lexsort((verts[:, 0], verts[:, 1]))]  # sort by lon, lat

    def half(seq):
        out: list[np.ndarray] = []
        for p in seq:
            while len(out) >= 2:
                o, a = out[-2], out[-1]
                if (a[1] - o[1]) * (p[0] - o[0]) - (a[0] - o[0]) * (p[1] - o[1]) <= 0:
                    out.pop()
                else:
                    break
            out.append(p)
        return out

    lower = half(pts)
    upper = half(pts[::-1])
    return np.asarray(lower[:-1] + upper[:-1], dtype=np.float64)


def _segments_cross(
    a_lat: np.ndarray, a_lon: np.ndarray, b_lat: np.ndarray, b_lon: np.ndarray,
    c: tuple[float, float], d: tuple[float, float],
) -> np.ndarray:
    """Vectorized segment intersection: hex edges (a->b, arrays) vs one
    polygon edge (c->d). Touching counts as crossing (conservative: a
    touched cell is demoted from interior to boundary, never the reverse)."""
    cy, cx = c
    dy, dx = d

    def orient(py, px, qy, qx, ry, rx):
        return (qx - px) * (ry - py) - (qy - py) * (rx - px)

    o1 = orient(a_lat, a_lon, b_lat, b_lon, cy, cx)
    o2 = orient(a_lat, a_lon, b_lat, b_lon, dy, dx)
    o3 = orient(cy, cx, dy, dx, a_lat, a_lon)
    o4 = orient(cy, cx, dy, dx, b_lat, b_lon)
    return (o1 * o2 <= 0) & (o3 * o4 <= 0)


def polygon_cell_cover(polys: list[dict] | None = None) -> list[dict]:
    """Polyfill: every res-8 cell whose hex may meet each polygon.

    Rows: {cell, poly_id, metro, zone, priority, interior}; polygons are
    any simple rings, convex or not, with optional holes.  ``None`` means
    the synthetic boundary layer.

    Interior = all 6 hex corners inside (even-odd ray cast over outer +
    hole rings) AND no ring edge crosses any hex edge AND no hole sits
    wholly inside the hex — together that means the hex is fully
    contained.  Candidate cells are pruned with a separating-axis test
    against the OUTER ring's convex hull (sound: hex∩P ⊆ hex∩hull);
    surviving non-interior cells are boundary — a conservative superset
    (cells in a concavity notch or inside a hole route to the exact
    ray cast and resolve to no-hit there), which costs refine work, never
    correctness.  Polygons may carry ``holes``: a list of interior rings
    (census tracts with excluded enclaves, water bodies, ...).

    Completeness: any point p inside P lies in a cell whose center is
    within one circumradius of p, hence inside bbox(P) expanded by one
    cell -- exactly the lattice rectangle enumerated here.  This is the
    H3 ``polygon_to_cells`` analogue over the from-scratch lattice.
    """
    if polys is None:
        polys = synthetic_polygons()
    res = RES_TRADE_AREA
    s = HEX_SIZE_DEG[res]
    ordered = sorted(polys, key=lambda p: (p.get("zone") != "core", p["poly_id"]))
    rows: list[dict] = []
    for i, p in enumerate(ordered):
        # explicit priorities let the polyfill run distributed over polygon
        # partitions (a per-batch enumerate would collide across tasks)
        prio = p.get("priority", i)
        rings = _rings(p)
        vs = rings[0]  # bbox/hull from the outer ring; holes lie inside it
        hull = _ccw(_convex_hull(vs))
        lat_lo, lon_lo = vs.min(axis=0)
        lat_hi, lon_hi = vs.max(axis=0)
        r_lo = math.floor((lat_lo - s) / (1.5 * s)) - 1
        r_hi = math.ceil((lat_hi + s) / (1.5 * s)) + 1
        q_lo = math.floor((lon_lo - s) / (hexgrid.SQRT3 * s) - r_hi / 2.0) - 1
        q_hi = math.ceil((lon_hi + s) / (hexgrid.SQRT3 * s) - r_lo / 2.0) + 1
        qq, rr = np.meshgrid(np.arange(q_lo, q_hi + 1), np.arange(r_lo, r_hi + 1))
        q, r = qq.ravel().astype(np.int64), rr.ravel().astype(np.int64)
        clat, clon = _cell_corners(q, r, res)  # (n, 6)

        # prune with SAT: the hull's edge normals + the hex's 3 axes
        separated = np.zeros(len(q), dtype=bool)
        axes = []
        for i in range(len(hull)):
            y1, x1 = hull[i]
            y2, x2 = hull[(i + 1) % len(hull)]
            axes.append((-(y2 - y1), x2 - x1))
        for a in (30, 90, 150):
            axes.append((math.cos(math.radians(a)), math.sin(math.radians(a))))
        for ax, ay in axes:
            ph = clon * ax + clat * ay
            pp = hull[:, 1] * ax + hull[:, 0] * ay
            separated |= (ph.max(axis=1) < pp.min()) | (ph.min(axis=1) > pp.max())
        hit = ~separated
        q, r, clat, clon = q[hit], r[hit], clat[hit], clon[hit]

        # all corners inside the actual (possibly concave, holed) polygon
        corners_in = _ray_cast_rings(clat.ravel(), clon.ravel(), rings).reshape(clat.shape)
        inside_all = corners_in.all(axis=1)

        # any ring edge (outer or hole) crossing any hex edge?
        crossed = np.zeros(len(q), dtype=bool)
        nxt = np.roll(np.arange(6), -1)
        b_lat, b_lon = clat[:, nxt], clon[:, nxt]
        for ring in rings:
            for i in range(len(ring)):
                c_v = tuple(ring[i])
                d_v = tuple(ring[(i + 1) % len(ring)])
                crossed |= _segments_cross(clat, clon, b_lat, b_lon, c_v, d_v).any(axis=1)

        # a hole wholly inside the hex leaves no corner/crossing trace:
        # demote any hex containing a hole vertex
        hole_in_hex = np.zeros(len(q), dtype=bool)
        for ring in rings[1:]:
            for vy, vx in ring:
                # CCW hex half-plane test (corners at angles 30+60k are CCW)
                cross = (b_lon - clon) * (vy - clat) - (b_lat - clat) * (vx - clon)
                hole_in_hex |= (cross >= 0).all(axis=1)

        interior = inside_all & ~crossed & ~hole_in_hex
        for cell, is_int in zip(hexgrid.qr_to_cell(q, r, res), interior):
            rows.append(
                {
                    "cell": int(cell),
                    "poly_id": p["poly_id"],
                    "metro": p.get("metro"),
                    "zone": p.get("zone"),
                    "priority": prio,
                    "interior": bool(is_int),
                }
            )
    return rows


# ---------------------------------------------------------------------------
# The join
# ---------------------------------------------------------------------------

def _pack_cover(spark: SparkSession, rows: list[dict]) -> DataFrame:
    """One row per cover cell, candidates pre-sorted by priority in an
    array column so the probe side resolves first-match without a groupBy."""
    by_cell: dict[int, list[dict]] = {}
    for r in rows:
        by_cell.setdefault(r["cell"], []).append(r)
    packed = [
        (
            cell,
            [
                (c["priority"], c["poly_id"], c["zone"], c["metro"], c["interior"])
                for c in sorted(cands, key=lambda c: c["priority"])
            ],
        )
        for cell, cands in by_cell.items()
    ]
    return spark.createDataFrame(
        packed,
        schema=(
            "cell bigint, cands array<struct<priority:int,poly_id:bigint,"
            "zone:string,metro:string,interior:boolean>>"
        ),
    )


def pip_join(
    spark: SparkSession,
    points: DataFrame | None = None,
    polys: list[dict] | DataFrame | None = None,
) -> DataFrame:
    """Points → the first polygon (priority order) containing each point.

    ``points`` needs ``lat``, ``lon`` and its res-8 cell ``h3_res8``
    (default: the sites).  ``polys`` is a list of polygon records
    (default: the synthetic layer), polyfilled on the driver and
    broadcast: the result is the point columns plus ``poly_id`` (bigint,
    -1 for no hit), ``poly_metro`` and ``poly_zone``; boundary candidates
    run ``_ray_cast_sql`` inside an array lambda, so the plan is Scan →
    BroadcastHashJoin → Project with no Python.  A ``DataFrame`` in the
    ``polygons_df`` layout is a layer too big to broadcast: distributed
    polyfill, shuffle hash cover join, Arrow ray cast over the boundary
    candidates only, and one ``min(struct)`` per ``site_id``; the result
    is ``site_id, poly_id, poly_metro, poly_zone``.
    """
    pts = (
        points
        if points is not None
        else spark.table("sites").select("site_id", "lat", "lon", "h3_res8")
    )
    if isinstance(polys, DataFrame):
        return _pip_join_shuffled(spark, pts, polys)
    if polys is None:
        polys = synthetic_polygons()
    cover = _pack_cover(spark, polygon_cell_cover(polys))
    refine = " ".join(
        f"WHEN {p['poly_id']} THEN {_ray_cast_sql(_rings(p), 'lat', 'lon')}" for p in polys
    )
    hit = F.expr(
        f"get(filter(cands, x -> x.interior OR CASE x.poly_id {refine} ELSE false END), 0)"
    )
    joined = pts.join(F.broadcast(cover), pts["h3_res8"] == cover["cell"], "left")
    return joined.select(*pts.columns, hit.alias("__hit")).select(
        *pts.columns,
        F.coalesce(F.col("__hit.poly_id"), F.lit(-1).cast("long")).alias("poly_id"),
        F.col("__hit.metro").alias("poly_metro"),
        F.col("__hit.zone").alias("poly_zone"),
    )


def doc_zone_counts(spark: SparkSession) -> DataFrame:
    """Corpus x boundary layer: geotagged document spans assigned to trade
    zones by ``pip_join``, rolled up per (metro, zone).

    The interleaved-docs side of the north star meets the PIP side: span
    extraction already attaches the res-8 hex_id, so zone assignment is
    the same shuffle-free broadcast cover join the sites use -- the only
    shuffle in this plan is the final rollup's hash agg.
    """
    from ..sources.documents import geotagged_spans

    g = geotagged_spans(spark)
    pts = g.select("doc_id", "lat", "lon", F.col("hex_id").alias("h3_res8"))
    return (
        pip_join(spark, points=pts)
        .filter(F.col("poly_id") >= 0)
        .groupBy(F.col("poly_metro").alias("metro"), F.col("poly_zone").alias("zone"))
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_spans"),
        )
    )


# ---------------------------------------------------------------------------
# Census-scale layers: distributed polyfill + shuffle cover join
# ---------------------------------------------------------------------------
#
# A broadcast cover assumes a dim-scale polygon layer (the cover fits one
# executor and the refine CASE fits one expression).  A census-scale layer
# (10^5+ polygons, cover in the 10^8-cell range) fits neither: the polyfill
# runs distributed over polygon partitions, the cover join is a shuffle
# hash join on cell, and the boundary-ring ray cast runs as an Arrow kernel
# over ONLY the boundary candidates (cover rows carry their ring geometry,
# so no second join).  Priority resolution is one hash agg — min(struct)
# per point — so the whole plan is two shuffles and zero driver-side
# geometry.

# geometry rides as a JSON string of rings (outer first, then holes):
# deeply-nested list columns (array<array<array<double>>>) segfault this
# environment's pyarrow->pandas input conversion inside mapInPandas, and a
# few hundred bytes of JSON per BOUNDARY row is noise next to the ray-cast
_COVER_GEOM_SCHEMA = (
    "cell bigint, poly_id bigint, zone string, metro string, priority int, "
    "interior boolean, rings_json string"
)


def polygons_df(spark: SparkSession, polys: list[dict] | None = None) -> DataFrame:
    """A polygon layer as a DataFrame (the big-layer input contract):
    (poly_id, zone, metro, priority, rings_json)."""
    import json

    if polys is None:
        polys = synthetic_polygons()
    ordered = sorted(polys, key=lambda p: (p.get("zone") != "core", p["poly_id"]))
    rows = [
        (
            p["poly_id"],
            p.get("zone"),
            p.get("metro"),
            prio,
            json.dumps(
                [[[float(a), float(b)] for a, b in p["verts"]]]
                + [[[float(a), float(b)] for a, b in h] for h in p.get("holes", [])]
            ),
        )
        for prio, p in enumerate(ordered)
    ]
    return spark.createDataFrame(
        rows,
        schema="poly_id bigint, zone string, metro string, priority int, rings_json string",
    )


def polyfill_distributed(spark: SparkSession, polys: DataFrame | None = None) -> DataFrame:
    """Distributed polyfill: one Arrow batch of polygons in, cover cells
    out.  Scales with |polygons| across executors — no driver geometry,
    no broadcast.  Boundary rows carry their ring geometry so the
    downstream refine needs no join back to the layer."""
    pdf_in = polys if polys is not None else polygons_df(spark)

    def kernel(batches):
        import json

        import pandas as pd

        for pdf in batches:
            recs = []
            raw = {}
            for row in pdf.itertuples():
                rings = json.loads(row.rings_json)
                raw[int(row.poly_id)] = row.rings_json
                recs.append(
                    {
                        "poly_id": int(row.poly_id),
                        "zone": row.zone,
                        "metro": row.metro,
                        "priority": int(row.priority),
                        "verts": [tuple(v) for v in rings[0]],
                        "holes": [[tuple(v) for v in h] for h in rings[1:]],
                    }
                )
            cov = polygon_cell_cover(recs)
            out = pd.DataFrame.from_records(cov) if cov else pd.DataFrame(
                columns=["cell", "poly_id", "metro", "zone", "priority", "interior"]
            )
            out["rings_json"] = [
                None if i else raw[pid]
                for pid, i in zip(out["poly_id"], out["interior"])
            ]
            yield out[
                ["cell", "poly_id", "zone", "metro", "priority", "interior",
                 "rings_json"]
            ]

    return pdf_in.mapInPandas(kernel, schema=_COVER_GEOM_SCHEMA)


def _pip_join_shuffled(spark: SparkSession, pts: DataFrame, polys: DataFrame) -> DataFrame:
    """``pip_join``'s shuffle branch: points ⇄ cover SHUFFLE_HASH join on
    cell (AQE handles the urban-core cell skew), a mapInPandas ray cast
    over ONLY the boundary candidate rows (~10% of cover), then a hash agg
    on ``site_id``.  Interior candidates and cover misses never touch
    Python."""
    cover = polyfill_distributed(spark, polys)
    cand = pts.join(
        cover.hint("shuffle_hash"), pts["h3_res8"] == cover["cell"], "left"
    ).select(
        "site_id", "lat", "lon", "poly_id", "zone", "metro", "priority", "interior",
        "rings_json",
    )

    easy = cand.filter(F.col("interior").isNull() | F.col("interior")).select(
        "site_id", "poly_id", "zone", "metro", "priority",
        F.coalesce(F.col("interior"), F.lit(False)).alias("accepted"),
    )

    hard_in = cand.filter(~F.col("interior"))
    key_type = pts.schema["site_id"].dataType.simpleString()
    refine_schema = (
        f"site_id {key_type}, poly_id bigint, zone string, metro string, "
        "priority int, accepted boolean"
    )

    def refine(batches):
        import json

        for pdf in batches:
            for pid, grp in pdf.groupby("poly_id", sort=False):
                rings = [
                    np.asarray(ring, dtype=np.float64)
                    for ring in json.loads(grp.iloc[0]["rings_json"])
                ]
                acc = _ray_cast_rings(
                    grp["lat"].values.astype(np.float64),
                    grp["lon"].values.astype(np.float64),
                    rings,
                )
                out = grp[["site_id", "poly_id", "zone", "metro", "priority"]].copy()
                out["accepted"] = acc
                yield out

    hard = hard_in.mapInPandas(refine, schema=refine_schema)

    resolved = (
        easy.unionByName(hard)
        .groupBy("site_id")
        .agg(
            F.min(
                F.when(
                    F.col("accepted"),
                    F.struct(
                        F.col("priority"), F.col("poly_id"), F.col("zone"), F.col("metro")
                    ),
                )
            ).alias("__hit")
        )
    )
    return resolved.select(
        "site_id",
        F.coalesce(F.col("__hit.poly_id"), F.lit(-1).cast("long")).alias("poly_id"),
        F.col("__hit.metro").alias("poly_metro"),
        F.col("__hit.zone").alias("poly_zone"),
    )


def _pip_field_case_sql(lat: str, lon: str, field: str) -> str:
    """First-match CASE emitting a polygon attribute (zone/metro)."""
    polys = synthetic_polygons()
    ordered = sorted(polys, key=lambda p: (p["zone"] != "core", p["poly_id"]))
    whens = [
        f"WHEN {_halfplane_conds(p['verts'], lat, lon)} THEN '{p[field]}'"
        for p in ordered
    ]
    return f"CASE {' '.join(whens)} ELSE NULL END"


def doc_zone_counts_oracle_sql() -> str:
    from ..sources.documents import geotagged_spans_oracle_sql

    zone = _pip_field_case_sql("lat", "lon", "zone")
    metro = _pip_field_case_sql("lat", "lon", "metro")
    return f"""
SELECT metro, zone,
       COUNT(DISTINCT doc_id) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_spans
FROM (
  SELECT doc_id, {metro} AS metro, {zone} AS zone
  FROM ({geotagged_spans_oracle_sql()}) __g
) __assigned
WHERE zone IS NOT NULL
GROUP BY 1, 2"""
