"""The stage DAG: bronze synthesis → feature engineering → huff → scoring,
with per-stage snapshot checkpoints, lineage, and rows/sec metrics.

Mirrors the reference's job DAG (`resources/phase2_ml_pipeline.yml:10-80`:
validate → features → train → score → summary) re-expressed as a
checkpointed Spark pipeline per the north rule:

- each stage is ONE sources/iceberg.write_stage call, keyed on the stage
  name, with the stage function passed as a callable: a real Iceberg
  ``createOrReplace`` snapshot when a catalog resolves, else the atomic
  parquet+manifest protocol of sources/snapshots.commit.  A crashed run
  RESUMES through write_stage's warm path: a committed stage is read
  back without calling its function (no plan, no job), only the
  remainder re-executes; ``--force`` rebuilds every stage.  The
  pipeline's own resume bookkeeping is the run report next to the
  commit: a stage whose ``_stage_report.json`` is present counts as
  resumed;
- each cold stage runs in one ``observe.span``; its run report records
  ``stage``, ``lineage`` (input stage names), ``rows``, ``wall_sec``,
  ``rows_per_sec``, the commit write's per-partition row counts
  (``partitions``, ``partition_rows``, ``partition_skew``: the skew
  fingerprint, from task metrics, so no extra job), ``resumed``, and
  ``spark``: the rest of the span readout (jobs, tasks, task and Python
  time, shuffle, spill, peak memory, rows and bytes per operator kind,
  size-gate decisions).  A resumed stage returns its committed report;
- committed stages are published as session views
  (sources/tables.register_stage_view) so the interactive app surface and
  dev_signal_ring read the gold tables instead of recomputing them; the
  last stage, ``site_detail``, is the app's point-lookup join (features ⋈
  scores) committed once, so a lookup is a filtered scan of one table;
- the module is a spark-submit entry point:
    spark-submit --py-files gss.zip -m geospatial_store_siting_spark.plans.pipeline
  (or `python -m ... --sf-dir /root/testdata/sf0.01`).

Run `python -m geospatial_store_siting_spark.plans.pipeline --help`.
"""

from __future__ import annotations

import argparse
import json
import os
from collections import namedtuple
from contextlib import nullcontext

from pyspark.sql import DataFrame, SparkSession

from .. import observe
from ..sources import iceberg, snapshots, tables

STAGE_ROOT = os.environ.get("SPARK_GRAFT_STAGE_DIR", "/root/repo/.snapshots/stages")


Stage = namedtuple("Stage", "name fn inputs")


def _doc_tiles_stage(spark: SparkSession) -> DataFrame:
    from ..sources.documents import doc_tiles

    return doc_tiles(spark)


def _training_corpus_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import training_corpus

    return training_corpus(spark, sf_dir=sf_dir)


def _hotspot_stage(spark: SparkSession) -> DataFrame:
    from ..operators.hotspots import hotspot_gi

    return hotspot_gi(spark)


def run_pipeline(spark: SparkSession, sf_dir: str, force: bool = False) -> dict:
    """Execute the DAG with checkpoint/resume; returns the run report."""
    from ..operators import app_queries, dev_signals, features, huff, scoring

    tables.load_all(spark, sf_dir)

    stages = [
        Stage(
            "dev_signals_by_h3",
            dev_signals.dev_signals_by_h3,
            ["zips", "zillow_home_values", "zillow_rental_index",
             "zcta_county_rel", "building_permits_county"],
        ),
        # tile assignment for the interleaved corpus: committed as gold so
        # the tile-sharded corpus write (sources/documents.write_corpus_tiles)
        # and tile-local readers reuse it instead of re-deriving the
        # geotagged-span extraction
        Stage("doc_tiles", _doc_tiles_stage, ["documents"]),
        # the cleaned-corpus gold table (quality gate → exact dedup →
        # near-dup component drop → PII scrub).  Its own expensive
        # intermediates (distinct shingles, packed minhash signatures,
        # per-round CC labels) are committed content-keyed stages inside
        # the operator (operators/dedup._stage_or_checkpoint), so a
        # resumed or repeated run re-reads them instead of recomputing —
        # the pipeline commits only the final doc-level result
        Stage(
            "training_corpus",
            lambda sp: _training_corpus_stage(sp, sf_dir),
            ["documents"],
        ),
        Stage("location_features", features.location_features, ["sites", "hex_grid", "competitors", "poi"]),
        # the spatial-statistics gold layer: Gi* tiers are a committed
        # table the app/heatmap surface reads, not an ad-hoc query — the
        # analyst's hotspot map is pipeline output like every feature
        Stage("hotspot_scores", _hotspot_stage, ["hex_grid"]),
        Stage("huff_features", huff.huff_features, ["sites", "hex_grid", "competitors"]),
        # consumes the COMMITTED feature snapshot (registered as a view by
        # the previous stage) — resuming after a crash re-reads parquet,
        # never recomputes upstream
        Stage(
            "scored_locations",
            lambda sp: scoring.score_candidates(sp, features_df=sp.table("location_features")),
            ["location_features"],
        ),
        # the app's point-lookup table (J11): committed features ⋈ committed
        # scores, joined once here, so location_detail/compare_sites are a
        # site-filtered scan of one table instead of a join per request
        Stage("site_detail", app_queries.site_detail, ["location_features", "scored_locations"]),
    ]

    use_iceberg = iceberg.iceberg_available(spark)
    report: dict = {"sf_dir": sf_dir, "stages": []}
    for st in stages:
        # content key = stage name: fixed path per (sf, stage), the resume
        # contract (a crashed run picks up committed stages; --force
        # recomputes).  The run report rides NEXT TO the commit manifest
        # ("_"-prefixed so Spark's FileIndex ignores it): a stage whose
        # report is present was committed by an earlier run
        report_path = None
        if not use_iceberg:
            path = iceberg.stage_path(None, st.name, sf_dir, st.name, root=STAGE_ROOT)
            report_path = os.path.join(path, "_stage_report.json")
        resumed = not force and report_path is not None and os.path.exists(report_path)
        # a resumed stage takes no readout: its committed report stands
        with nullcontext() if resumed else observe.span(spark, st.name) as sp:
            committed = iceberg.write_stage(
                spark, lambda: st.fn(spark), st.name, sf_dir,
                content_key=st.name, root=STAGE_ROOT, force=force,
            )
        tables.register_stage_view(spark, st.name, committed, sf_dir)
        if resumed:
            with open(report_path) as f:
                meta = json.load(f)
            meta["resumed"] = True
            report["stages"].append(meta)
            continue

        parts = sp["partition_rows"]
        # no write task: committed by a run that died before its report
        rows = sum(parts) if parts else committed.count()
        wall = sp["wall_s"]
        meta = {
            "stage": st.name,
            "lineage": {"inputs": st.inputs, "sf_dir": sf_dir},
            "rows": rows,
            "wall_sec": round(wall, 3),
            "rows_per_sec": round(rows / wall, 1) if wall > 0 else None,
            "partitions": len(parts),
            "partition_rows": parts,
            "partition_skew": round(max(parts) / (sum(parts) / len(parts)), 3)
            if parts and sum(parts)
            else None,
            "resumed": False,
            "spark": {
                k: v for k, v in sp.items()
                if k not in ("name", "wall_s", "job_ids", "per_stage", "partition_rows")
            },
        }
        if report_path is not None:
            snapshots.write_json(report_path, meta)
        report["stages"].append(meta)

    return report


def main() -> None:
    ap = argparse.ArgumentParser(description="run the siting feature pipeline")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    ap.add_argument("--cores", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    ap.add_argument("--force", action="store_true", help="recompute committed stages")
    ap.add_argument(
        "--prune",
        action="store_true",
        help="after the run, GC stale content-keyed snapshot dirs "
        "(keep the latest committed snapshot per stage)",
    )
    args = ap.parse_args()

    from ..session import get_spark

    spark = get_spark(app_name="gss-pipeline", cores=args.cores)
    report = run_pipeline(spark, args.sf_dir, force=args.force)
    if args.prune:
        gc = snapshots.prune()
        gc_stages = snapshots.prune(root=STAGE_ROOT)
        report["pruned"] = {
            "removed": len(gc["removed"]) + len(gc_stages["removed"]),
            "kept": len(gc["kept"]) + len(gc_stages["kept"]),
        }
    print(json.dumps(report))
    spark.stop()


if __name__ == "__main__":
    main()
