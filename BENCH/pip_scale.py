"""PIP at scale: ``pip_join``'s two cover placements, on the sites table
replicated REPL× (~3.8M points at sf0.1 with the default 256).

- broadcast: the synthetic polygon list, polyfilled on the driver and
  broadcast; per-point work is O(candidates-in-cell), the boundary ring
  is refined by the SQL ray cast, and the plan has no Exchange and no
  Python at all;
- shuffled: the same layer replicated POLY_REPL× with shifted longitudes
  (new geography, constant density) as a ``polygons_df`` DataFrame, the
  census-scale input: distributed polyfill + SHUFFLE_HASH cover join.

Both produce the assignment the declared queries check against one
oracle at sf0.01 (``pip_assignments_oracle_sql``).

    PIP_SCALE_REPL=32 PIP_SCALE_POLY_REPL=64 SPARK_GRAFT_CPUS=4 \
        python BENCH/pip_scale.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from geospatial_store_siting_spark.operators import pip  # noqa: E402
from geospatial_store_siting_spark.session import get_spark  # noqa: E402
from geospatial_store_siting_spark.sources import tables  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    repl = int(os.environ.get("PIP_SCALE_REPL", "256"))  # ~3.8M points at sf0.1
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(app_name="pip-scale", cores=cores, shuffle_partitions=64)

    tables.load_all(spark, sf_dir)
    big_path = os.path.join(REPO, ".snapshots", f"pip_scale_sites_x{repl}")
    if not os.path.exists(os.path.join(big_path, "_SUCCESS")):
        reps = spark.range(repl).select(F.col("id").alias("rep"))
        (
            spark.table("sites")
            .select("site_id", "lat", "lon", "h3_res8")
            .crossJoin(reps)
            .withColumn("site_id", F.col("site_id") * repl + F.col("rep"))
            .drop("rep")
            .repartition(64)
            .write.mode("overwrite")
            .parquet(big_path)
        )
    pts = spark.read.parquet(big_path)
    n_pts = pts.count()

    def run(fn):
        fn().write.mode("overwrite").format("noop").save()  # warm
        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            fn().write.mode("overwrite").format("noop").save()
            d = time.perf_counter() - t0
            best = d if best is None else min(best, d)
        return best

    t_bcast = run(
        lambda: pip.pip_join(spark, points=pts).select("site_id", "poly_id", "poly_zone")
    )

    # --- big-layer regime: a polygon layer too big to broadcast, points
    # shifted like the polygons — pip_join's DataFrame input: distributed
    # polyfill + SHUFFLE_HASH cover join, no driver geometry, no broadcast.
    poly_repl = int(os.environ.get("PIP_SCALE_POLY_REPL", "512"))
    base_polys = pip.synthetic_polygons()
    big_layer = [
        dict(p, poly_id=p["poly_id"] + 100 * k,
             verts=[(la, lo + 0.7 * k) for la, lo in p["verts"]])
        for k in range(poly_repl)
        for p in base_polys
    ]
    layer_df = pip.polygons_df(spark, big_layer).repartition(64)
    big_pts = (
        pts.withColumn("shift", F.pmod(F.col("site_id"), F.lit(poly_repl)))
        .withColumn("lon", F.col("lon") + F.col("shift") * F.lit(0.7))
        .drop("shift")
    )
    from geospatial_store_siting_spark.operators.knn import _with_coarse_qr  # noqa: E402
    from geospatial_store_siting_spark.operators.rings import neighbor_cell_col  # noqa: E402

    big_pts = _with_coarse_qr(big_pts.drop("h3_res8"), res=8)
    big_pts = big_pts.withColumn(
        "h3_res8", neighbor_cell_col(F.col("cq"), F.col("cr"), 8)
    ).drop("cq", "cr")
    n_polys = layer_df.count()
    t0 = time.perf_counter()
    pip.pip_join(spark, points=big_pts, polys=layer_df) \
        .write.mode("overwrite").format("noop").save()
    t_dist = time.perf_counter() - t0

    result = {
        "points": n_pts,
        "broadcast_join_sec": round(t_bcast, 2),
        "broadcast_join_rows_per_sec": round(n_pts / t_bcast, 1),
        "big_layer": {
            "polygons": n_polys,
            "distributed_join_sec": round(t_dist, 2),
            "distributed_rows_per_sec": round(n_pts / t_dist, 1),
        },
        "cores": cores,
    }
    print(json.dumps(result))

    from _md import replace_section

    replace_section(
        os.path.join(REPO, "BENCH", "BASELINE.md"),
        "\n## PIP at scale",
        (
            f"\n## PIP at scale — `pip_join`, {n_pts:,} points, local[{cores}]\n\n"
            f"| polygon input | cover placement | polygons | wall | rows/s |\n"
            f"|---|---|---|---|---|\n"
            f"| list (synthetic layer) | driver polyfill, broadcast "
            f"| {len(base_polys)} "
            f"| {result['broadcast_join_sec']} s "
            f"| {result['broadcast_join_rows_per_sec']:,.0f} |\n"
            f"| `polygons_df` DataFrame | distributed polyfill, SHUFFLE_HASH join "
            f"| {result['big_layer']['polygons']:,} "
            f"| {result['big_layer']['distributed_join_sec']} s "
            f"| {result['big_layer']['distributed_rows_per_sec']:,.0f} |\n\n"
            f"The broadcast plan is Scan→BroadcastHashJoin→Project with no Exchange\n"
            f"and no Python: interior cells are decided by the cell join, boundary\n"
            f"cells by the even-odd ray cast in SQL.  The DataFrame plan keeps the\n"
            f"layer off the driver and out of any broadcast; only its boundary\n"
            f"candidates cross into the Arrow ray-cast kernel.  The broadcast wall is\n"
            f"the best of 2 warm runs; the shuffled wall is one run including its\n"
            f"distributed polyfill.\n"
        ),
    )
    spark.stop()


if __name__ == "__main__":
    main()
