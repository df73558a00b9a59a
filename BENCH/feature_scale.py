"""Feature-join throughput at scaled input: the headline hex-feature-join
over the sites table replicated REPL× (default 64 → ~1M sites at sf0.1),
measuring steady-state rows/sec at full parallelism.

This is the "would it still work at 1000×" evidence for the feature join
itself (BENCH/scaling.py covers N→4N core scaling of the distance
kernels): the plan is identical to production — only the probe-side row
count grows; dim tables (grid/competitors/poi) stay fixed.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from geospatial_store_siting_spark.operators import features, plan_choice, scoring  # noqa: E402
from geospatial_store_siting_spark.session import get_spark  # noqa: E402
from geospatial_store_siting_spark.sources import tables  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    repl = int(os.environ.get("FEATURE_SCALE_REPL", "64"))
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(app_name="feature-scale", cores=cores, shuffle_partitions=64)

    tables.load_all(spark, sf_dir)
    big_path = os.path.join("/root/repo/.snapshots", f"feature_scale_sites_cand_x{repl}")
    if not os.path.exists(os.path.join(big_path, "_SUCCESS")):
        reps = spark.range(repl).select(F.col("id").alias("rep"))
        # replicate CANDIDATES only: in a real siting workload the candidate
        # universe scales with data volume; the open-store network does not.
        # Replicating stores too makes the metro-blocked cannibalization
        # join quadratic (x64 replication -> 16.7G pairs — measured, and
        # exactly the case the cell-prefix kNN path exists for).
        (
            spark.table("sites")
            .crossJoin(reps)
            .withColumn("site_id", F.col("site_id") * repl + F.col("rep"))
            .withColumn(
                "site_type",
                F.when(F.col("rep") == 0, F.col("site_type")).otherwise(
                    F.lit("candidate")
                ),
            )
            .drop("rep")
            .repartition(64, "site_id")
            .write.mode("overwrite")
            .parquet(big_path)
        )
    spark.read.parquet(big_path).createOrReplaceTempView("sites")
    # the replicated view replaced the snapshot-backed one: drop the stale
    # manifest row counts so the size gates decide from real counts
    plan_choice.record_table_rows(spark, {})

    def run(fn):
        fn(spark).write.mode("overwrite").format("noop").save()  # warm
        best, df = None, None
        for _ in range(2):
            # construction is inside the timed cycle: operators that
            # eagerly materialize (the scoring rank's localCheckpoint) do
            # their real work at plan-build time
            t0 = time.perf_counter()
            df = fn(spark)
            df.write.mode("overwrite").format("noop").save()
            d = time.perf_counter() - t0
            best = d if best is None else min(best, d)
        return best, df.count()

    skip_base = bool(os.environ.get("FEATURE_SCALE_DIMS_ONLY"))
    t_feat = n_feat = t_win = n_win = t_score = n_score = None
    if not skip_base:
        t_feat, n_feat = run(features.location_features)

    # the WINDOWED assembly on the SAME input (what runs above
    # the dim gate): with dims this small the broadcast-blocked plan
    # is rightly faster — the gate picks it — but the windowed plan must
    # stay within a small factor here because it is the only feasible plan
    # once dims outgrow broadcast (next section)
    old_limit = plan_choice.DIM_LIMIT
    if not skip_base:
        plan_choice.DIM_LIMIT = 0
        try:
            t_win, n_win = run(features.location_features)
        finally:
            plan_choice.DIM_LIMIT = old_limit
        t_score, n_score = run(lambda s: scoring.score_candidates(s))

    # --- constant-density volume growth: BOTH sides x{repl}, each replica
    # shifted in longitude so density stays realistic (new area, not x64
    # density in one bbox).  This is the regime the windowed plans exist
    # for: the metro block key stops bounding the blocked join (pairs =
    # |sites| x |competitors| / 5 metros — computed below, not run), while
    # windowed candidate volume stays |sites| x density x window area.
    def shifted(df, id_col):
        reps = spark.range(repl).select(F.col("id").alias("rep"))
        return (
            df.crossJoin(reps)
            .withColumn(id_col, F.col(id_col) * repl + F.col("rep"))
            .withColumn("lon", F.col("lon") + F.col("rep") * F.lit(0.7))
            .drop("rep")
        )

    tables.load_all(spark, sf_dir)  # restore the real views first
    big_sites2 = os.path.join("/root/repo/.snapshots", f"feature_scale_sites_shift_x{repl}")
    big_comp = os.path.join("/root/repo/.snapshots", f"feature_scale_comp_shift_x{repl}")
    if not os.path.exists(os.path.join(big_sites2, "_SUCCESS")):
        shifted(spark.table("sites"), "site_id").repartition(64, "site_id") \
            .write.mode("overwrite").parquet(big_sites2)
    if not os.path.exists(os.path.join(big_comp, "_SUCCESS")):
        shifted(spark.table("competitors"), "competitor_id").repartition(64) \
            .write.mode("overwrite").parquet(big_comp)
    spark.read.parquet(big_sites2).createOrReplaceTempView("sites")
    spark.read.parquet(big_comp).createOrReplaceTempView("competitors")
    plan_choice.record_table_rows(spark, {})
    n_sites2 = spark.table("sites").count()
    n_comp2 = spark.table("competitors").count()
    blocked_pairs = n_sites2 * (n_comp2 // 5)  # per-metro block, 5 metros
    plan_choice.DIM_LIMIT = 0  # dims grew with volume: gate shut
    try:
        # single timed run (the warm inside run() would triple a minutes-
        # long job); first-run JIT is a small share at this wall time
        t0 = time.perf_counter()
        df2 = features.location_features(spark)
        df2.write.mode("overwrite").format("noop").save()
        t_win2 = time.perf_counter() - t0
        n_win2 = n_sites2  # the assembly emits one row per site — a
        # count() here would re-execute the whole minutes-long plan
    finally:
        plan_choice.DIM_LIMIT = old_limit

    print(
        json.dumps(
            {
                "repl": repl,
                "sites": n_feat,
                "feature_join_sec": round(t_feat, 2) if t_feat else None,
                "feature_join_rows_per_sec": round(n_feat / t_feat, 1) if t_feat else None,
                "windowed_assembly_sec": round(t_win, 2) if t_win else None,
                "windowed_assembly_rows_per_sec": round(n_win / t_win, 1) if t_win else None,
                "scoring_sec": round(t_score, 2) if t_score else None,
                "scoring_rows_per_sec": round(n_score / t_score, 1) if t_score else None,
                "dims_scaled": {
                    "sites": n_sites2,
                    "competitors": n_comp2,
                    "blocked_join_pairs_infeasible": blocked_pairs,
                    "windowed_assembly_sec": round(t_win2, 2),
                    "windowed_assembly_rows_per_sec": round(n_win2 / t_win2, 1),
                },
                "cores": cores,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
