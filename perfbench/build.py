"""One-time build of the benchmark's state inside the checkout.

Runs the engine once cold over the shipped sf0.01 tables: the geo and dev
views are materialized as snapshots, the gold pipeline commits every
stage, and the ingest-dedup probe index is committed (with a pristine copy
that each traced run restores before it appends to the index).  Workloads
start from this state (the app reads the gold stages; the pipeline resumes
them).  Idempotent: a finished build leaves ``build.json``, keyed on the
engine's source, and later calls with the same source return at once.

    python3 perfbench/build.py
"""

from __future__ import annotations

import fcntl
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.getcwd())
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402


def _build(root: str, work: str, key: str) -> dict:
    t0 = time.perf_counter()
    for d in ("snap", "oracle", "ingest_pristine"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    common.engine_env(work, "build")
    import layers
    from geospatial_store_siting_spark.operators import dedup, scoring
    from geospatial_store_siting_spark.plans import pipeline
    from oracle import Oracle

    sf = common.sf_dir()
    spark = common.start_spark(common.package(root), "perfbench-build")
    t1 = time.perf_counter()
    report = pipeline.run_pipeline(spark, sf, force=True)
    t2 = time.perf_counter()
    dedup.ingest_probe_index(spark, sf, force=True)
    t3 = time.perf_counter()
    common.stop_spark(spark)
    for name, path in layers.ingest_index_dirs(sf).items():
        shutil.copytree(path, os.path.join(work, "ingest_pristine", name))
    shutil.rmtree(os.environ["SPARK_LOCAL_DIRS"], ignore_errors=True)
    scored = Oracle(sf, os.path.join(work, "oracle")).expected(scoring.score_candidates_oracle_sql())
    return {
        "source_key": key,
        # the app's candidate sites: every site the oracle scores
        "candidates": sorted(int(s) for s in scored["site_id"]),
        "start_s": t1 - t0,
        "pipeline_cold_s": t2 - t1,
        "ingest_index_s": t3 - t2,
        "stages": {s["stage"]: s["wall_sec"] for s in report["stages"]},
    }


def ensure(root: str, work: str) -> dict:
    os.makedirs(work, exist_ok=True)
    marker = os.path.join(work, "build.json")
    key = common.source_key(root)
    with open(os.path.join(work, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(marker):
            with open(marker) as f:
                meta = json.load(f)
            if meta.get("source_key") == key:
                return meta
        meta = _build(root, work, key)
        with open(marker + ".tmp", "w") as f:
            json.dump(meta, f, indent=1)
        os.rename(marker + ".tmp", marker)
        return meta


if __name__ == "__main__":
    root = os.getcwd()
    print(json.dumps(ensure(root, common.work_dir(root))))
