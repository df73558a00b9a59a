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

One commit path: ``write_stage`` is the only way a stage is committed or
found again — pipeline stages, operator intermediates and the bucketed
ingest probe index all go through it.  It takes the producing DataFrame
or a zero-argument callable; a stage already committed under its key is
returned without calling the callable (the warm path builds no plan and
runs no job).  A stage's identity is (name, sf_dir, content key): the
fallback directory is ``stage_path`` (``snapshots._key`` of the three),
the Iceberg table carries ``_table_key`` as its ``gss.content-key``
property.  The bucket layout (``bucket=(col, n)``) goes into the Iceberg
key and into the fallback manifest, not into the directory name.

Write side uses ``writeTo(...).createOrReplace()`` (an atomic Iceberg
snapshot commit — readers see the old snapshot until the metadata swap);
time travel reads use ``VERSION AS OF``.  Everything degrades to the
parquet+manifest snapshot layer when no Iceberg catalog resolves, so the
SAME pipeline code runs in both environments.
"""

from __future__ import annotations

import os
from collections.abc import Callable

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
    df: DataFrame | Callable[[], DataFrame],
    name: str,
    sf_dir: str,
    content_key: str | None = None,
    root: str | None = None,
    force: bool = False,
    bucket: tuple[str, int] | None = None,
) -> DataFrame:
    """Checkpoint a stage table atomically, or find it again; return a
    reader of the committed data.  The one stage commit path.

    ``df`` may be a zero-argument callable: when the stage is already
    committed under its key (and not ``force``), the committed reader is
    returned without calling it, so no plan is built and no job runs.
    ``force=True`` always rebuilds.  ``bucket=(col, n)`` commits the
    table hash-bucketed on ``col`` into ``n`` buckets (sorted on ``col``),
    so a later batch-vs-table join reads this side pre-partitioned: the
    reader scans it bucketed, with no exchange.

    Iceberg path: ``createOrReplace`` commits ONE new table snapshot
    (``partitionedBy(bucket(n, col))`` when bucketed; with
    ``spark.sql.sources.v2.bucketing.enabled`` the same exchange elision
    applies) — concurrent readers keep the previous snapshot until the
    metadata pointer swaps, and a crashed writer publishes nothing.  The key rides on the table
    as the ``gss.content-key`` property, so a matching table is reused.
    Fallback: the write→rename→manifest protocol of
    ``sources/snapshots.commit`` under the content-keyed ``stage_path``
    directory (same guarantee on a posix/rename filesystem)."""
    if content_key is None:
        # the plan-hash key needs the plan: no warm path without a key
        df = df() if callable(df) else df
        content_key = _plan_key(df)
    build = df if callable(df) else (lambda: df)
    if iceberg_available(spark):
        ident = _ident(name)
        key = _table_key(sf_dir, content_key, bucket)
        if force or not _iceberg_key_matches(spark, ident, key):
            writer = (
                build().writeTo(ident)
                .using("iceberg")
                .tableProperty("gss.content-key", key)
            )
            if bucket:
                from pyspark.sql.functions import bucket as bucket_by

                writer = writer.partitionedBy(bucket_by(bucket[1], bucket[0]))
            writer.createOrReplace()
        return spark.table(ident)
    from . import snapshots

    path = stage_path(None, name, sf_dir, content_key, root=root)
    if force:
        import shutil

        shutil.rmtree(path, ignore_errors=True)
    return snapshots.commit(spark, build, path, bucket=bucket)


def _table_key(sf_dir: str, content_key: str, bucket: tuple[str, int] | None = None) -> str:
    """The Iceberg ``gss.content-key`` value.  The bucket layout is part
    of it: a re-bucketed table must not match the old one.  (The
    fallback's directory name is ``snapshots._key`` and leaves the layout
    out, because callers locate stage directories by name and key.)"""
    key = f"{sf_dir}|{content_key}"
    return key + f"|bucket:{bucket[0]}x{bucket[1]}" if bucket else key


def _ident(name: str) -> str:
    return f"{CATALOG}.stages.{name}"


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
        n = df.count()
        if n:
            df.writeTo(_ident(name)).append()
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
        return spark.read.option("versionAsOf", version).table(_ident(name))
    from . import snapshots

    versions = stage_history(spark, name, sf_dir=sf_dir, root=root)
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
                f"{_ident(name)}.snapshots ORDER BY committed_at"
            ).collect()
        )
        return [
            {"version": r["snapshot_id"], "committed_at": r["committed_at"]}
            for r in rows
        ]
    if sf_dir is None:
        raise NotImplementedError(
            "the parquet fallback needs sf_dir to locate the stage's commit history"
        )
    from . import snapshots

    versions = snapshots.stage_versions(
        name, sf_dir, root=root or snapshots.DEFAULT_ROOT
    )
    return [
        {"version": i, "committed_at": e["committed_at"], "rows": e["rows"],
         "path": e["path"]}
        for i, e in enumerate(versions)
    ]
