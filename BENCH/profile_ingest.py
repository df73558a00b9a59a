"""Phase breakdown of the incremental ingest-dedup timed region.

The ×512 scaling run shows efficiency 0.638 N→4N with a fitted ~5 s
serial component (T = F + W/cores across local[4]/local[16]).  This
harness splits the timed region into (a) driver-side plan construction
(dedup_incremental call — pure Catalyst/py4j, no jobs), (b) execution
of the noop write, and (c) per-probe sub-plans executed alone, at one
parallelism level, to locate the serial floor before optimizing it.
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
from pyspark.sql import functions as F
from geospatial_store_siting_spark.session import get_spark
from geospatial_store_siting_spark.operators import dedup, plan_choice
from geospatial_store_siting_spark.sources import tables

cores = int(sys.argv[1]); repl = int(sys.argv[2]); sf_dir = sys.argv[3]
spark = get_spark(app_name=f"ingest-profile-{cores}", cores=cores,
                  shuffle_partitions=32,
                  extra_conf={"spark.sql.adaptive.coalescePartitions.enabled": "false"})
tables.register_tables(spark, sf_dir)
big_path = os.path.join("/root/repo/.snapshots", f"dedup_scale_docs_x{repl}")
assert os.path.exists(os.path.join(big_path, "_SUCCESS")), "corpus missing; run ingest_scale.py first"
spark.read.parquet(big_path).createOrReplaceTempView("documents")

# service setup (untimed)
dedup._packed_signatures(spark, sf_dir=big_path).write.mode(
    "overwrite").format("noop").save()
for idx in dedup.ingest_probe_index(spark, big_path):
    idx.count()

def timed(fn):
    t0 = time.perf_counter(); r = fn(); return time.perf_counter() - t0, r

# warm everything once
df = dedup.dedup_incremental(spark, sf_dir=big_path)
df.write.mode("overwrite").format("noop").save()

out = {"cores": cores}
# (a) plan construction only
t, df = timed(lambda: dedup.dedup_incremental(spark, sf_dir=big_path))
out["plan_construct_sec"] = round(t, 3)
# analysis/optimization via explain to a sink
t, _ = timed(lambda: df._jdf.queryExecution().executedPlan())
out["optimize_sec"] = round(t, 3)
# (b) full execution
t, _ = timed(lambda: df.write.mode("overwrite").format("noop").save())
out["exec_sec"] = round(t, 3)
sc = spark.sparkContext
t, _ = timed(lambda: df.write.mode("overwrite").format("noop").save())
out["exec2_sec"] = round(t, 3)

# (c) sub-plans alone (fresh plan each, warm caches)
from geospatial_store_siting_spark.operators.sampling import _u_col
incoming = _u_col(key="doc_id", seed=dedup.INGEST_SEED) < F.lit(dedup.INGEST_FRACTION)
docs = spark.table("documents").select("doc_id", F.md5("text").alias("fp"),
                                       incoming.alias("incoming"))
t, _ = timed(lambda: docs.filter(F.col("incoming")).select("doc_id", "fp")
             .write.mode("overwrite").format("noop").save())
out["batch_fp_scan_sec"] = round(t, 3)

packed = dedup._packed_signatures(spark, big_path)
marked = packed.withColumn("incoming", incoming)
t, _ = timed(lambda: marked.filter(F.col("incoming")).select("doc_id", "sig")
             .write.mode("overwrite").format("noop").save())
out["batch_sig_scan_sec"] = round(t, 3)

batch_sigs = marked.filter(F.col("incoming")).select("doc_id", "sig")
t, _ = timed(lambda: dedup._band_buckets(batch_sigs)
             .write.mode("overwrite").format("noop").save())
out["batch_band_explode_sec"] = round(t, 3)

fp_idx, band_idx, sig_idx = dedup.ingest_probe_index(spark, big_path)
small = plan_choice.small(spark, "documents")
bfp = docs.filter(F.col("incoming")).select("doc_id", "fp")
t, _ = timed(lambda: plan_choice.scale_hint(bfp, small).join(fp_idx, "fp")
             .select("doc_id", "exact_match")
             .write.mode("overwrite").format("noop").save())
out["exact_probe_sec"] = round(t, 3)

bb = dedup._band_buckets(batch_sigs)
t, _ = timed(lambda: plan_choice.scale_hint(bb, small).join(band_idx, ["bkey"])
             .select("doc_id", "cdoc").distinct()
             .write.mode("overwrite").format("noop").save())
out["band_probe_sec"] = round(t, 3)

print(json.dumps(out))
spark.stop()
""" % {"repo": REPO}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    repl = int(os.environ.get("DEDUP_SCALE_REPL", "512"))
    for cores in (4, 16):
        out = subprocess.run(
            [sys.executable, "-c", WORKER, str(cores), str(repl), sf_dir],
            capture_output=True, text=True, timeout=1800, check=False,
        )
        line = [l for l in out.stdout.strip().splitlines() if l.startswith("{")]
        if not line:
            print("FAILED", out.stderr[-2000:])
            sys.exit(1)
        print(line[-1])


if __name__ == "__main__":
    main()
