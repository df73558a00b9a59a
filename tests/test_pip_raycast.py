"""PIP ray-cast tests — including a NON-convex polygon, which the
convex-oracle query can't cover (the ray-casting rule is general)."""

from __future__ import annotations

import numpy as np

from geospatial_store_siting_spark.operators import pip


def test_ray_cast_nonconvex_l_shape():
    # L-shaped polygon (lat, lon): notch at the top-right
    verts = np.array(
        [(0.0, 0.0), (0.0, 4.0), (2.0, 4.0), (2.0, 2.0), (4.0, 2.0), (4.0, 0.0)],
        dtype=np.float64,
    )
    pts_in = [(1.0, 1.0), (1.0, 3.0), (3.0, 1.0), (1.9, 3.9)]
    pts_out = [(3.0, 3.0), (5.0, 1.0), (-0.5, 1.0), (2.5, 2.5)]
    lat = np.array([p[0] for p in pts_in + pts_out])
    lon = np.array([p[1] for p in pts_in + pts_out])
    hit = pip._ray_cast(lat, lon, verts)
    assert hit[: len(pts_in)].all()
    assert not hit[len(pts_in):].any()


def test_bucketed_index_matches_direct_raycast(spark):
    import pandas as pd

    from geospatial_store_siting_spark.functions import hexgrid

    polys = pip.synthetic_polygons()
    rng = np.random.default_rng(3)
    # points scattered around the first metro center
    lat = 41.88 + rng.uniform(-0.3, 0.3, 500)
    lon = -87.63 + rng.uniform(-0.3, 0.3, 500)
    pts = spark.createDataFrame(pd.DataFrame({
        "site_id": np.arange(500), "lat": lat, "lon": lon,
        "h3_res8": hexgrid.latlng_to_cell(lat, lon, 8)}))
    got = (
        pip.pip_join(spark, points=pts).toPandas()
        .set_index("site_id").sort_index()["poly_id"].values
    )
    # direct (unbucketed) first-hit reference
    want = np.full(len(lat), -1, dtype=np.int64)
    for i, p in enumerate(polys):
        vs = np.asarray(p["verts"], dtype=np.float64)
        hit = pip._ray_cast(lat, lon, vs)
        sel = hit & (want == -1)
        want[sel] = i
    assert (got == want).all()
    assert (got >= 0).sum() > 50  # the sample actually hits polygons


def test_ray_cast_sql_matches_kernel_bitwise(spark):
    """The SQL ray cast the broadcast join refines with equals the numpy
    kernel on points one ulp either side of ring edges and on vertex
    latitudes — where DECIMAL literals (a bare ``-87.7``) flip results."""
    import pandas as pd
    from pyspark.sql import functions as F

    rng = np.random.default_rng(17)
    donut = {
        "poly_id": 3,
        "verts": [(41.80, -87.70), (41.80, -87.54), (41.96, -87.54), (41.96, -87.70)],
        "holes": [[(41.85, -87.65), (41.85, -87.59), (41.91, -87.59), (41.91, -87.65)]],
    }
    for poly in [donut] + pip.synthetic_polygons()[:2]:
        rings = pip._rings(poly)
        outer = rings[0]
        n = 3000
        e = rng.integers(0, len(outer), n)
        (y1, x1), (y2, x2) = outer[e].T, outer[(e + 1) % len(outer)].T
        lat = y1 + rng.uniform(0, 1, n) * (y2 - y1)
        lon = (x2 - x1) * (lat - y1) / (y2 - y1 + 1e-300) + x1
        lon = np.nextafter(lon, lon + rng.choice([-1.0, 0.0, 1.0], n))
        lat[: n // 4] = rng.choice(np.concatenate(rings)[:, 0], n // 4)
        pdf = pd.DataFrame({"i": np.arange(n), "lat": lat, "lon": lon})
        got = (
            spark.createDataFrame(pdf)
            .select("i", F.expr(pip._ray_cast_sql(rings, "lat", "lon")).alias("hit"))
            .toPandas().sort_values("i")["hit"].values
        )
        assert (got == pip._ray_cast_rings(lat, lon, rings)).all()
