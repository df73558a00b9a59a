"""Third N→4N scaling datapoint: incremental ingest dedup.

The steady-state corpus workload is not full-corpus pair-finding (that
runs once) but classify-new-batch-vs-corpus: exact fingerprint probe +
LSH banding of the arrivals against the committed signature stage.
This harness replicates documents ×REPL (same textually-distinct
replica snapshot dedup_scale.py builds), commits the packed-signature
stage UNTIMED (disclosed as cold_stage_sec), then times
dedup.dedup_incremental — the warm, stage-reading service path — at
local[4] vs local[16], min-of-6 reps per worker, workers interleaved.
Throughput is arrivals classified per second; task-seconds come from the
best rep's ``observe.span``.  Writes its own BASELINE.md section only at
the default ``SPARK_GRAFT_SF_DIR`` and ``DEDUP_SCALE_REPL``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORKER = r"""
import json, os, sys, time
sys.path.insert(0, %(repo)r)
sys.path.insert(0, os.path.join(%(repo)r, "BENCH"))
from dedup_scale import replica_docs
from geospatial_store_siting_spark import observe
from geospatial_store_siting_spark.session import get_spark
from geospatial_store_siting_spark.operators import dedup
from geospatial_store_siting_spark.sources import tables

cores = int(sys.argv[1]); repl = int(sys.argv[2]); sf_dir = sys.argv[3]
spark = get_spark(app_name=f"ingest-scaling-{cores}", cores=cores,
                  shuffle_partitions=32,
                  extra_conf={"spark.sql.adaptive.coalescePartitions.enabled": "false"})
tables.register_tables(spark, sf_dir)
big_path = replica_docs(spark, repl)  # the corpus dedup_scale.py replicates
spark.read.parquet(big_path).createOrReplaceTempView("documents")
n_docs = spark.table("documents").count()
from geospatial_store_siting_spark.operators.sampling import _u_col
n_batch = spark.table("documents").filter(
    _u_col(key="doc_id", seed=dedup.INGEST_SEED) < dedup.INGEST_FRACTION).count()

# commit the packed-signature stage AND the bucketed corpus probe index
# untimed (the service posture: built once per corpus, every ingest
# reads them) — disclosed, not hidden
t0 = time.perf_counter()
dedup._packed_signatures(spark, sf_dir=big_path).write.mode(
    "overwrite").format("noop").save()
for idx in dedup.ingest_probe_index(spark, big_path):
    idx.count()
cold_stage = time.perf_counter() - t0

def workload():
    with observe.span(spark, "dedup_incremental") as sp:
        df = dedup.dedup_incremental(spark, sf_dir=big_path)
        df.write.mode("overwrite").format("noop").save()
    return sp

workload()  # warm: JIT + codegen
# 6 reps, keep the min: this sandbox's hypervisor windows swing identical
# reps 4–57 s (measured r6); best-of-2 was routinely unlucky
runs = [workload() for _ in range(6)]
best = min(runs, key=lambda r: r["wall_s"])
spark.stop()

# data-path decomposition: executor task-seconds of the best timed run —
# the work the CLUSTER does, vs wall - task/cores = orchestration floor
dt = best["wall_s"]
task_sec = round(best["task_s"], 3)
print(json.dumps({"cores": cores, "sec": round(dt, 3), "docs": n_docs,
                  "arrivals": n_batch,
                  "arrivals_per_sec": round(n_batch / dt, 1),
                  "task_sec": task_sec,
                  "orchestration_sec": round(max(dt - task_sec / cores, 0.0), 3),
                  "cold_stage_sec": round(cold_stage, 3)}))
""" % {"repo": REPO}


def run(cores: int, repl: int, sf_dir: str) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", WORKER, str(cores), str(repl), sf_dir],
        capture_output=True, text=True, timeout=1800, check=False,
    )
    # settle: let the dying JVM's teardown finish before the next timed run
    import time as _t

    _t.sleep(20)
    for line in out.stdout.strip().splitlines()[::-1]:
        if line.startswith("{"):
            return json.loads(line)
    raise RuntimeError(f"worker failed: {out.stderr[-2000:]}")


DEFAULT_SF_DIR = "/root/testdata/sf0.1"
DEFAULT_REPL = 128


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    repl = int(os.environ.get("DEDUP_SCALE_REPL", DEFAULT_REPL))
    from _host import cpu_control, mem_control

    host = {**cpu_control(), **mem_control()}
    print(json.dumps({"host_control": host}))
    runs4 = [run(4, repl, sf_dir)]
    runs16 = [run(16, repl, sf_dir)]
    runs4.append(run(4, repl, sf_dir))
    runs16.append(run(16, repl, sf_dir))
    rN = min(runs4, key=lambda r: r["sec"])
    r4N = min(runs16, key=lambda r: r["sec"])
    eff = (r4N["arrivals_per_sec"] / rN["arrivals_per_sec"]) / 4.0
    # data-path task-second ratio: on ideal hardware the executor
    # task-seconds the workload costs are core-count invariant (ratio 1);
    # <1 quantifies concurrent-execution inflation (memory / shuffle-disk
    # contention at higher parallelism) — the residual after the
    # orchestration constant, which does not shrink with cores and
    # amortizes with batch size instead
    eff_dp = (
        round(rN["task_sec"] / r4N["task_sec"], 3)
        if rN.get("task_sec") and r4N.get("task_sec") else None
    )
    result = {"localN": rN, "local4N": r4N, "scaling_efficiency": round(eff, 3),
              "data_path_efficiency": eff_dp}
    print(json.dumps(result))
    if (sf_dir, repl) != (DEFAULT_SF_DIR, DEFAULT_REPL):
        return  # a smoke run at another scale must not replace the record
    from _md import replace_section

    replace_section(
        os.path.join(REPO, "BENCH", "BASELINE.md"),
        "\n## Incremental ingest dedup scaling",
        (
            f"\n## Incremental ingest dedup scaling — arrivals vs docs ×{repl} corpus at {sf_dir}\n\n"
            f"| metric | value | config |\n|---|---|---|\n"
            f"| arrivals/sec @ local[4] (N) | {rN['arrivals_per_sec']} | {rN['arrivals']} arrivals vs {rN['docs']}-doc corpus in {rN['sec']} s |\n"
            f"| arrivals/sec @ local[16] (4N) | {r4N['arrivals_per_sec']} | same input, same plan |\n"
            f"| scaling efficiency N→4N (wall) | **{round(eff, 3)}** | min-of-6 reps, interleaved workers |\n"
            f"| data-path task-seconds N / 4N | {rN.get('task_sec')} / {r4N.get('task_sec')} | executor task time of the timed run (observe.span) |\n"
            f"| data-path task-second ratio N/4N | **{result['data_path_efficiency']}** | <1 quantifies concurrent-execution inflation (memory/shuffle contention), the residual after the orchestration constant |\n"
            f"| orchestration floor (wall − task/cores) | {rN.get('orchestration_sec')} s @N / {r4N.get('orchestration_sec')} s @4N | per-stage scheduling constant: does NOT shrink with cores, amortizes with batch size |\n"
            f"| signature-stage + probe-index cold build (untimed service setup) | {r4N['cold_stage_sec']} s @ local[16] | committed once per corpus, every ingest reads it |\n"
            f"| host parallel-capacity control (pure-CPU, no JVM) | {host['parallel_capacity']} | per-proc {host['per_proc_sec_4']} s @4-way vs {host['per_proc_sec_16']} s @16-way; <0.85 = degraded window |\n"
            f"| host MEMORY-BANDWIDTH control (numpy DRAM streaming) | **{host['mem_parallel_capacity']}** | per-proc {host['mem_per_proc_sec_4']} s @4-way vs {host['mem_per_proc_sec_16']} s @16-way — the bus ceiling any memory-bound stage inherits |\n\n"
            f"The timed path is the steady-state ingest service: exact fingerprint\n"
            f"probe + LSH banding of the arrival batch against the COMMITTED BUCKETED\n"
            f"corpus probe index (ingest_fp_idx / ingest_band_idx / ingest_sig_idx,\n"
            f"each clustered on its probe join key) — per-ingest work is O(batch):\n"
            f"the corpus side is scanned pre-partitioned with zero exchange\n"
            f"(plan-asserted in tests/test_round5_ops.py::TestIngestProbeIndex) and\n"
            f"only batch-derived sides shuffle; every probe join builds the batch\n"
            f"side (shuffle-hash, batch x corpus only — never corpus x corpus).\n"
        ),
    )


if __name__ == "__main__":
    main()
