"""Hex codec unit/property tests (SURVEY §5: no h3 oracle offline — golden
vectors + property tests + cross-engine parity)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from geospatial_store_siting_spark.config import HEX_SIZE_DEG
from geospatial_store_siting_spark.functions import hex_sql, hexgrid

LATS = st.floats(min_value=-60, max_value=60, allow_nan=False)
LONS = st.floats(min_value=-179, max_value=179, allow_nan=False)


def test_ring_sizes_match_reference():
    # reference ring tables: 7/19/37 at k=1/2/3
    # (/root/reference/notebooks/10_feature_engineering.py:116)
    for k, n in [(1, 7), (2, 19), (3, 37)]:
        assert len(hex_sql.ring_offsets(k)) == n
        assert hexgrid.ring_offsets(k).shape == (n, 2)


@settings(max_examples=200, deadline=None)
@given(LATS, LONS)
def test_centroid_reencodes_to_same_cell(lat, lon):
    for res in (7, 8, 9):
        cell = hexgrid.latlng_to_cell(np.array([lat]), np.array([lon]), res)
        clat, clon = hexgrid.cell_to_latlng(cell)
        again = hexgrid.latlng_to_cell(clat, clon, res)
        assert cell[0] == again[0]


@settings(max_examples=100, deadline=None)
@given(LATS, LONS)
def test_point_within_cell_radius(lat, lon):
    """The assigned cell's centroid is within one hex size of the point
    (containment — cube rounding picks the nearest center)."""
    for res in (7, 8, 9):
        cell = hexgrid.latlng_to_cell(np.array([lat]), np.array([lon]), res)
        clat, clon = hexgrid.cell_to_latlng(cell)
        s = HEX_SIZE_DEG[res]
        # Euclidean distance in the lattice's own (lon, lat) plane
        d = np.hypot(clat[0] - lat, clon[0] - lon)
        assert d <= s * 1.0000001


def test_ring_symmetry():
    rng = np.random.default_rng(42)
    lat = rng.uniform(-50, 50, 50)
    lon = rng.uniform(-170, 170, 50)
    cells = hexgrid.latlng_to_cell(lat, lon, 8)
    for k in (1, 2):
        rings_ = hexgrid.k_ring(cells, k)
        for i, c in enumerate(cells):
            for n in rings_[i]:
                back = hexgrid.k_ring(np.array([n]), k)
                assert c in back[0]  # b in ring(a) <=> a in ring(b)


def test_parent_child_consistency():
    rng = np.random.default_rng(7)
    lat = rng.uniform(-50, 50, 1000)
    lon = rng.uniform(-170, 170, 1000)
    child = hexgrid.latlng_to_cell(lat, lon, 9)
    parent = hexgrid.cell_to_parent(child, 7)
    # parent centroid within res-7 size of child centroid
    plat, plon = hexgrid.cell_to_latlng(parent)
    clat, clon = hexgrid.cell_to_latlng(child)
    d = np.hypot(plat - clat, plon - clon)
    assert (d <= HEX_SIZE_DEG[7] * 1.0000001).all()


def test_string_codec_roundtrip_and_validity():
    rng = np.random.default_rng(1)
    lat = rng.uniform(-50, 50, 500)
    lon = rng.uniform(-170, 170, 500)
    cells = hexgrid.latlng_to_cell(lat, lon, 8)
    s = hexgrid.cell_to_string(cells)
    # reference's H3 validity contract: 15 lowercase hex chars
    # (/root/reference/notebooks/00_quality_checks.py:91-98)
    import re

    for x in s:
        assert re.fullmatch(r"[0-9a-f]{15}", x)
    back = hexgrid.string_to_cell(s)
    assert (back == cells).all()


def test_numpy_matches_sql_spark_and_duckdb(geo, duck):
    """Three-way parity: numpy codec == Spark SQL == DuckDB SQL."""
    import pandas as pd

    q = f"""
    {hex_sql.encode_select_sql("SELECT c_custkey AS k, "
        + hex_sql.latlon_sql("c_custkey")[0] + " AS lat, "
        + hex_sql.latlon_sql("c_custkey")[1] + " AS lon FROM customer",
        lat="lat", lon="lon", res=8, keep_cols=["k", "lat", "lon"])}
    """
    sp = geo.sql(q).toPandas().sort_values("k", ignore_index=True)
    dk = duck.execute(q).df().sort_values("k", ignore_index=True)
    np_cells = hexgrid.latlng_to_cell(sp["lat"].values, sp["lon"].values, 8)
    assert (sp["cell_id"].values == dk["cell_id"].values).all()
    assert (sp["cell_id"].values == np_cells).all()


def test_kring_matches_sql_offsets():
    offs_np = {tuple(x) for x in hexgrid.ring_offsets(2)}
    offs_sql = set(hex_sql.ring_offsets(2))
    assert offs_np == offs_sql


def test_child_cells_invariants(geo):
    """Every inhabited grid cell must appear among its own parent's
    children (catches an insufficient candidate-ring radius), and child
    counts must track the s7²/s8² ≈ 7.1 area ratio."""
    from geospatial_store_siting_spark.operators import rings

    pairs = rings.cell_children(geo).collect()
    children = {}
    for row in pairs:
        children.setdefault(row.parent_cell, set()).add(row.child_cell)
    # completeness vs the grid's own parent assignment (parent_rollup path)
    grid = geo.sql(
        "SELECT cell_id, q, r FROM hex_grid"
    ).collect()
    from geospatial_store_siting_spark.functions import hexgrid
    import numpy as np

    cells = np.array([r.cell_id for r in grid])
    parents = hexgrid.cell_to_parent(cells, 7)
    for row, parent in zip(grid, parents.tolist()):
        assert row.cell_id in children[parent], (row.cell_id, parent)
    counts = [len(v) for v in children.values()]
    avg = sum(counts) / len(counts)
    assert 5.0 <= avg <= 9.0, avg
    assert min(counts) >= 3 and max(counts) <= 12, (min(counts), max(counts))


def test_compact_cover_roundtrip(geo):
    """uncompact(compact(cover)) == cover, emitted parents are complete,
    and compaction genuinely compacts (res-7 rows exist for the
    contiguous polyfill cover)."""
    from geospatial_store_siting_spark.operators import rings
    from geospatial_store_siting_spark.operators.pip import polygon_cell_cover

    cover = {r["cell"] for r in polygon_cell_cover()}
    out = rings.compact_cover(geo).collect()
    parents7 = [r.cell_out for r in out if r.res == 7]
    cells8 = {r.cell_out for r in out if r.res == 8}
    assert parents7, "no parent collapsed — cover should have interior blocks"
    assert len(parents7) == len(set(parents7))
    # expand the res-7 rows via the children enumeration and reassemble
    vals = ", ".join(f"({c})" for c in sorted(parents7))
    expanded = geo.sql(
        rings._children_sql(
            f"SELECT cell_id AS parent_cell FROM (VALUES {vals}) AS __p(cell_id)"
        )
    ).collect()
    reassembled = cells8 | {r.child_cell for r in expanded}
    assert reassembled == cover
    # completeness: every expanded child was in the original cover
    for row in expanded:
        assert row.child_cell in cover


def test_grid_path_invariants(geo):
    """H3 grid_path contract: starts at the site's cell, ends at the
    metro center cell, emits exactly grid_distance+1 cells, and every
    consecutive pair is lattice-adjacent."""
    from geospatial_store_siting_spark.operators import rings

    paths = {}
    for row in rings.grid_path_cells(geo).collect():
        paths.setdefault(row.site_id, {})[row.step_i] = row.path_cell
    sites = {
        r.site_id: (r.h3_res8, r.metro)
        for r in geo.sql("SELECT site_id, h3_res8, metro FROM sites").collect()
    }
    dists = {
        r.site_id: r.ring_steps
        for r in rings.metro_center_distance(geo).collect()
    }

    def qr(cell):
        rem = cell % (1 << 50)
        return rem // (1 << 25) - (1 << 24), rem % (1 << 25) - (1 << 24)

    assert set(paths) == set(sites)
    for sid, steps in paths.items():
        n = dists[sid]
        assert sorted(steps) == list(range(n + 1)), sid
        assert steps[0] == sites[sid][0], sid
        for i in range(n):
            q0, r0 = qr(steps[i])
            q1, r1 = qr(steps[i + 1])
            dq, dr = q1 - q0, r1 - r0
            assert (abs(dq) + abs(dr) + abs(dq + dr)) // 2 == 1, (sid, i)
    # all paths to the same metro converge on one center cell
    by_metro = {}
    for sid, steps in paths.items():
        by_metro.setdefault(sites[sid][1], set()).add(steps[max(steps)])
    for metro, ends in by_metro.items():
        assert len(ends) == 1, (metro, ends)
