"""Layered profile of the gold pipeline and the bench leaves.

    python tools/layer_profile.py [--reps N] [--explain DIR]

Runs the gold pipeline cold, then every ``bench.BENCH_QUERIES`` leaf set
up as ``bench.py`` sets it up (``$SPARK_GRAFT_SF_DIR``,
``local[$SPARK_GRAFT_CPUS]``), each under one ``observe.span``, and
prints one JSON line per pipeline stage (``"kind": "stage"``: the stage
report, span readout under ``spark``) and per leaf (``"kind": "leaf"``:
``build_s`` of driver-side plan construction, ``exec_s`` of the noop-sink
execution, then the span readout; the fastest of ``--reps`` runs).
Every snapshot and stage is committed under a fresh temporary directory,
removed at exit, so the pipeline is cold and the repo's snapshots stay
untouched.
``--explain DIR`` writes each leaf's ``explain("formatted")`` plan to
``DIR/<leaf>.txt``.
"""
from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _leaf(spark, name: str, fn) -> tuple[dict, object]:
    import bench
    from geospatial_store_siting_spark import observe

    with observe.span(spark, name) as sp:
        t0 = time.perf_counter()
        df = fn(spark)
        t1 = time.perf_counter()
        bench.force(df)
        t2 = time.perf_counter()
    return {"kind": "leaf", "build_s": t1 - t0, "exec_s": t2 - t1, **sp}, df


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--reps", type=int, default=1, help="runs per leaf; the fastest is printed")
    ap.add_argument("--explain", metavar="DIR", help="write each leaf's formatted plan here")
    args = ap.parse_args(argv)

    with tempfile.TemporaryDirectory(prefix="gss-profile-") as scratch:
        os.environ["SPARK_GRAFT_SNAPSHOT_DIR"] = scratch
        os.environ["SPARK_GRAFT_STAGE_DIR"] = os.path.join(scratch, "stages")
        import bench
        from geospatial_store_siting_spark.plans import pipeline
        from geospatial_store_siting_spark.session import get_spark

        spark = get_spark(app_name="profile", cores=bench.CPUS)
        for stage in pipeline.run_pipeline(spark, bench.SF_DIR)["stages"]:
            print(json.dumps({"kind": "stage", **stage}), flush=True)
        bench.prepare(spark)  # reloads the catalog: leaves read no stage view
        for name, fn in bench.BENCH_QUERIES.items():
            runs = [_leaf(spark, name, fn) for _ in range(args.reps)]
            rec, df = min(runs, key=lambda r: r[0]["build_s"] + r[0]["exec_s"])
            print(json.dumps(rec), flush=True)
            if args.explain:
                os.makedirs(args.explain, exist_ok=True)
                with open(os.path.join(args.explain, f"{name}.txt"), "w") as f:
                    f.write(df._sc._jvm.PythonSQLUtils.explainString(
                        df._jdf.queryExecution(), "formatted"))
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.path.insert(0, REPO)
    sys.exit(main())
