"""SparkSession factory tuned for the engine.

Local-mode testing posture: one JVM, N threads. Cluster posture: the same
configs apply; AQE + adaptive skew-join are the runtime safety net for the
urban-core hex skew the salting helpers (operators/skew.py) address
explicitly.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from . import config


def get_spark(
    app_name: str = "geospatial_store_siting_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cores = cores or config.DEFAULT_CPUS
    shuffle = shuffle_partitions or max(cores, config.SHUFFLE_PARTITIONS)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "48g")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Constraint propagation is O(constraints²) optimizer work and
        # halves cold planning on the wide feature/assembly plans
        # (measured r6: hex_feature_join first run 6.6 s -> 3.2 s; warm
        # unchanged).  Nothing here needs the inferred predicates: every
        # join key in the engine is non-null by construction (synthesized
        # ids / closed-form cell ids), and the one measured case where an
        # INFERRED IsNotNull reached a scan it hurt correctness-adjacent
        # behavior (sources/documents.geotagged_spans CAST guard).  Not
        # scale-dependent: the same plans ship to the cluster, minus
        # redundant optimizer passes.  Overridable via extra_conf.
        .config("spark.sql.constraintPropagation.enabled", "false")
        # local-mode split sizing, scaled to the session's cores: bench
        # corpora are O(1 GB) in ~30 MB files, and a FIXED split size
        # serves only one parallelism level — 128 MB packs them into ~11
        # scan tasks (local[16]+ idles cores on every corpus scan,
        # measured in the r6 ingest profile; re-measure with
        # tools/layer_profile.py), while a flat 32 MB gave local[4] 4x
        # the tasks with no idle cores to feed and measurably slowed it
        # (BENCH/scaling.py r5: 79 s -> 97 s at N=4).
        # 512 MB/cores targets ~cores splits per ~0.5 GB scan at every
        # level, floored at 32 MB; a real cluster submit overrides this
        # for 100-TB inputs with large files.
        .config(
            "spark.sql.files.maxPartitionBytes",
            str(max(32 * 1024 * 1024, (512 * 1024 * 1024) // cores)),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
