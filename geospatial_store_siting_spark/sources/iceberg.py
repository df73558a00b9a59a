"""Iceberg table adapter — real Iceberg when the runtime carries it,
manifest-snapshot fallback otherwise.

The north rule targets Iceberg tables with per-stage snapshot checkpoints.
This sandbox's Spark distribution ships no ``iceberg-spark-runtime`` jar,
so the engine's stage checkpointing runs on sources/snapshots.py (same
commit protocol: write → atomic publish → manifest last).  On a cluster
with Iceberg on the classpath, this module swaps the real thing in without
touching any operator:

    spark-submit \
      --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver> \
      --conf spark.sql.catalog.gss=org.apache.iceberg.spark.SparkCatalog \
      --conf spark.sql.catalog.gss.type=hadoop \
      --conf spark.sql.catalog.gss.warehouse=<warehouse-uri> \
      --py-files dist/gss.zip job.py

Write side uses ``writeTo(...).createOrReplace()`` (an atomic Iceberg
snapshot commit — readers see the old snapshot until the metadata swap);
time travel reads use ``VERSION AS OF``.  Everything degrades to the
parquet+manifest snapshot layer when no Iceberg catalog resolves, so the
SAME pipeline code runs in both environments.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

CATALOG = os.environ.get("SPARK_GRAFT_ICEBERG_CATALOG", "gss")


def iceberg_available(spark: SparkSession) -> bool:
    """True iff an Iceberg SparkCatalog is configured AND its classes load
    (checking the conf alone would pass on a misconfigured cluster and
    fail at first write with a ClassNotFoundException)."""
    impl = spark.conf.get(f"spark.sql.catalog.{CATALOG}", None)
    if not impl:
        return False
    try:
        spark._jvm.java.lang.Class.forName(impl)  # noqa: SLF001
        return True
    except Exception:  # noqa: BLE001  (py4j wraps ClassNotFoundException)
        return False


def write_stage(
    spark: SparkSession,
    df: DataFrame,
    name: str,
    sf_dir: str,
    namespace: str = "stages",
    content_key: str | None = None,
    root: str | None = None,
    force: bool = False,
) -> DataFrame:
    """Checkpoint a stage table atomically; return a reader of the
    committed data.

    Iceberg path: ``createOrReplace`` commits ONE new table snapshot —
    concurrent readers keep the previous snapshot until the metadata
    pointer swaps, and a crashed writer publishes nothing.  The content
    key rides on the table as a property (``gss.content-key``) so a
    matching committed table is REUSED without re-executing the plan —
    the same resume/warm-reuse contract the parquet fallback gets from
    its content-keyed directory (without this, every call would recompute
    and commit a fresh snapshot).  ``force=True`` always recomputes.
    Fallback: the rename+manifest protocol of sources/snapshots.py (same
    guarantee on a posix/rename filesystem)."""
    if iceberg_available(spark):
        ident = f"{CATALOG}.{namespace}.{name}"
        key = f"{sf_dir}|{content_key if content_key is not None else _plan_key(df)}"
        if not force and _iceberg_key_matches(spark, ident, key):
            return spark.table(ident)
        (
            df.writeTo(ident)
            .using("iceberg")
            .tableProperty("gss.content-key", key)
            .createOrReplace()
        )
        return spark.table(ident)
    from . import snapshots

    if force:
        import shutil

        shutil.rmtree(stage_path(df, name, sf_dir, content_key, root=root),
                      ignore_errors=True)
    path = stage_path(df, name, sf_dir, content_key, root=root)
    return snapshots.commit_dataframe(spark, df, path)


def read_stage_committed(
    spark: SparkSession,
    name: str,
    sf_dir: str,
    content_key: str,
    namespace: str = "stages",
    root: str | None = None,
) -> DataFrame | None:
    """Reader of an ALREADY-committed stage, or None — the warm-path fast
    lane: resolves the same content-keyed identity as ``write_stage`` but
    never needs the producing DataFrame, so a caller can skip building
    the (possibly expensive) plan entirely when the stage is committed.
    Returns exactly what write_stage's warm branch returns."""
    if iceberg_available(spark):
        ident = f"{CATALOG}.{namespace}.{name}"
        if _iceberg_key_matches(spark, ident, f"{sf_dir}|{content_key}"):
            return spark.table(ident)
        return None
    from . import snapshots

    path = stage_path(None, name, sf_dir, content_key, root=root)
    if not os.path.exists(os.path.join(path, "_manifest.json")):
        return None
    return snapshots.read_committed(spark, path)


def read_stage_bucketed_committed(
    spark: SparkSession,
    name: str,
    sf_dir: str,
    content_key: str,
    bucket_col: str,
    n_buckets: int = 32,
    namespace: str = "stages",
    root: str | None = None,
) -> DataFrame | None:
    """``read_stage_committed`` for bucketed probe stages: the committed
    bucketed reader (exchange-free scan side) or None, without building
    the producing plan."""
    if iceberg_available(spark):
        ident = f"{CATALOG}.{namespace}.{name}"
        key = f"{sf_dir}|{content_key}|bucket:{bucket_col}x{n_buckets}"
        if _iceberg_key_matches(spark, ident, key):
            return spark.table(ident)
        return None
    from . import snapshots

    path = stage_path(None, name, sf_dir, content_key, root=root)
    manifest = os.path.join(path, "_manifest.json")
    if not os.path.exists(manifest):
        return None
    snapshots.touch_manifest(manifest)
    return snapshots.read_bucketed(spark, path)


def write_stage_bucketed(
    spark: SparkSession,
    df: DataFrame,
    name: str,
    sf_dir: str,
    bucket_col: str,
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
    namespace: str = "stages",
    content_key: str | None = None,
    root: str | None = None,
    force: bool = False,
) -> DataFrame:
    """write_stage for a corpus-sized PROBE table: committed hash-bucketed
    on its join key so every later batch-vs-corpus join reads the corpus
    side pre-partitioned (no corpus shuffle per batch — the O(batch)
    ingest posture).

    Iceberg path: ``partitionedBy(bucket(n, col))`` — with
    ``spark.sql.sources.v2.bucketing.enabled`` (storage-partitioned
    joins) the same exchange elision applies on a real cluster.
    Fallback: a Spark-native bucketed parquet table committed under the
    rename+manifest protocol and re-declared via DDL per session
    (sources/snapshots.commit_bucketed)."""
    if iceberg_available(spark):
        from pyspark.sql.functions import bucket

        ident = f"{CATALOG}.{namespace}.{name}"
        key = f"{sf_dir}|{content_key if content_key is not None else _plan_key(df)}"
        key += f"|bucket:{bucket_col}x{n_buckets}"
        if not force and _iceberg_key_matches(spark, ident, key):
            return spark.table(ident)
        (
            df.writeTo(ident)
            .using("iceberg")
            .tableProperty("gss.content-key", key)
            .partitionedBy(bucket(n_buckets, bucket_col))
            .createOrReplace()
        )
        return spark.table(ident)
    from . import snapshots

    path = stage_path(df, name, sf_dir, content_key, root=root)
    if force:
        import shutil

        shutil.rmtree(path, ignore_errors=True)
    return snapshots.commit_bucketed(
        spark, df, path, [bucket_col], n_buckets=n_buckets, sort_cols=sort_cols
    )


def _plan_key(df: DataFrame) -> str:
    return str(df._jdf.queryExecution().analyzed().semanticHash())  # noqa: SLF001


def _iceberg_key_matches(spark: SparkSession, ident: str, key: str) -> bool:
    try:
        props = {
            r["key"]: r["value"]
            for r in spark.sql(f"SHOW TBLPROPERTIES {ident}").collect()
        }
        return props.get("gss.content-key") == key
    except Exception:  # noqa: BLE001  (table absent / first run)
        return False


def append_stage_bucketed(
    spark: SparkSession,
    df: DataFrame,
    name: str,
    sf_dir: str,
    namespace: str = "stages",
    content_key: str | None = None,
    root: str | None = None,
) -> int:
    """Append rows to a committed bucketed stage — the incremental index
    maintenance path (novel arrivals extend the corpus probe index
    in place instead of forcing a rebuild).  Iceberg: ``writeTo.append``
    commits one new snapshot (readers keep the previous one until the
    pointer swaps; time travel covers the pre-append state).  Fallback:
    a per-bucket parquet append + manifest lineage
    (sources/snapshots.append_bucketed).  Returns appended row count."""
    if iceberg_available(spark):
        ident = f"{CATALOG}.{namespace}.{name}"
        n = df.count()
        if n:
            df.writeTo(ident).append()
        return n
    from . import snapshots

    path = stage_path(df, name, sf_dir, content_key, root=root)
    return snapshots.append_bucketed(spark, df, path)


def stage_path(
    df: DataFrame | None,
    name: str,
    sf_dir: str,
    content_key: str | None = None,
    root: str | None = None,
) -> str:
    """Fallback snapshot directory for a stage table.

    Content key: pass a stable ``content_key`` (the defining SQL plus a
    digest of the producing code, as operators/dedup._stage_or_checkpoint
    does) — that is what makes CROSS-SESSION reuse work and invalidation
    track code changes.  The ``semanticHash`` default is the no-key
    fallback: measured NOT stable across sessions (exprIds leak into the
    analyzed-plan hash), so it only dedupes within a session — callers
    wanting durable reuse must supply a key."""
    from . import snapshots

    if content_key is None:
        content_key = _plan_key(df)
    return os.path.join(
        root or snapshots.DEFAULT_ROOT,
        snapshots._key(sf_dir, name, content_key),  # noqa: SLF001
    )


def read_stage_version(
    spark: SparkSession,
    name: str,
    version: int,
    namespace: str = "stages",
    sf_dir: str | None = None,
    root: str | None = None,
) -> DataFrame:
    """Time travel: read an earlier committed snapshot of a stage table —
    the audit/replay path for pipeline debugging.

    Iceberg path: ``VERSION AS OF`` with a real snapshot id.  Parquet
    fallback (requires ``sf_dir``): ``version`` is an ordinal index into
    the stage's commit history (0 = oldest; negative Python indexing, so
    -1 = latest; -2 = the snapshot before the last plan/code change) —
    every content-keyed commit is a retained version
    (sources/snapshots.stage_versions), and retention is
    ``snapshots.prune(keep_latest_per_stage=N)``, the fallback's
    ``expire_snapshots``.  The two version vocabularies differ (snapshot
    id vs ordinal) — callers doing cross-environment replay should
    resolve versions via ``stage_history`` first."""
    if iceberg_available(spark):
        return spark.read.option("versionAsOf", version).table(
            f"{CATALOG}.{namespace}.{name}"
        )
    if sf_dir is None:
        raise NotImplementedError(
            "parquet-fallback time travel needs sf_dir to locate the "
            "stage's commit history"
        )
    from . import snapshots

    versions = snapshots.stage_versions(
        name, sf_dir, root=root or snapshots.DEFAULT_ROOT
    )
    if not versions:
        raise FileNotFoundError(f"no committed snapshots for stage {name!r}")
    try:
        entry = versions[version]
    except IndexError:
        raise IndexError(
            f"stage {name!r} has {len(versions)} committed version(s); "
            f"requested {version}"
        ) from None
    # an audit read: no use stamp, so prune still ranks by live reads
    return snapshots.read_committed(spark, entry["path"], touch=False)


def stage_history(
    spark: SparkSession,
    name: str,
    namespace: str = "stages",
    sf_dir: str | None = None,
    root: str | None = None,
) -> list[dict]:
    """The stage's committed-snapshot log, oldest first.  Iceberg:
    queried from the table's ``.snapshots`` metadata table (snapshot_id
    becomes the ``version`` to pass to read_stage_version).  Fallback:
    the content-keyed commit history (ordinal index = version)."""
    if iceberg_available(spark):
        rows = (
            spark.sql(
                f"SELECT snapshot_id, committed_at FROM "
                f"{CATALOG}.{namespace}.{name}.snapshots ORDER BY committed_at"
            ).collect()
        )
        return [
            {"version": r["snapshot_id"], "committed_at": r["committed_at"]}
            for r in rows
        ]
    if sf_dir is None:
        raise NotImplementedError("fallback stage history needs sf_dir")
    from . import snapshots

    versions = snapshots.stage_versions(
        name, sf_dir, root=root or snapshots.DEFAULT_ROOT
    )
    return [
        {"version": i, "committed_at": e["committed_at"], "rows": e["rows"],
         "path": e["path"]}
        for i, e in enumerate(versions)
    ]
