"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload site_lookup --seed 1 --seconds 20 --trace 0

Run from the root of a checkout of the engine.  The first run in a checkout,
and the first after the engine's source changed, builds the gold stages
(perfbench/build.py); every run then starts the engine in
a fresh ``local[nproc]`` JVM, resumes the gold pipeline (the app's
catalog), drives the workload for ``--seconds`` from one client thread,
checks every reply against the DuckDB oracle (untimed), and prints one JSON
object as its last line: ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones, after a pass over the layers the workloads do not reach
(perfbench/layers.py).  Exit status is 0 only when every check passed.  See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import common  # noqa: E402
import observe  # noqa: E402


def _setup(py_files, sf, tracer):
    """What the app does before its first request: start the session and
    run the pipeline, which loads the catalog and resumes every committed
    gold stage.  Returns (spark, phase seconds)."""
    from geospatial_store_siting_spark.plans import pipeline
    from geospatial_store_siting_spark.sources import tables

    t0 = time.perf_counter()
    spark = common.start_spark(py_files, "perfbench")
    tracer.spark = spark
    t1 = time.perf_counter()
    with observe.timed(tables, "load_all") as load, \
            tracer.span("plans.pipeline.run_pipeline", spark_group=True):
        report = pipeline.run_pipeline(spark, sf)
    t2 = time.perf_counter()
    if not all(s.get("resumed") for s in report["stages"]):
        raise RuntimeError("gold stages were not all committed by the build")
    return spark, {
        "get_spark_s": t1 - t0,
        "load_all_s": load["s"],
        "resume_s": t2 - t1 - load["s"],
        "setup_s": t2 - t0,
    }


def _per_layer(spans, setup, host, peak_rss, cpu, n, traced, untraced):
    calls = [s for s in spans if s["name"].startswith("operators.app_queries.")]
    sp = [s["spark"] for s in calls]
    # a request is location_detail, or flag_site plus its read-back; its
    # latency is the sum of its calls' own times, Spark readout excluded
    requests = {}
    for s in calls:
        requests[s["request"]] = requests.get(s["request"], 0.0) + s["end"] - s["start"]

    def mean(k):
        return sum(x[k] for x in sp) / len(sp)

    return {
        "session.get_spark_s": (setup["get_spark_s"], "s"),
        "sources.tables.load_all_s": (setup["load_all_s"], "s"),
        "plans.pipeline.resume_s": (setup["resume_s"], "s"),
        "request_p50_ms": (1e3 * statistics.median(requests.values()), "ms"),
        "plan.build_s": (statistics.median(s["build_s"] for s in calls if "build_s" in s), "s"),
        "spark.optimizer_ms": (
            statistics.mean(s["optimizer_ms"] for s in calls if s.get("optimizer_ms") is not None), "ms"),
        "spark.jobs": (mean("jobs"), "count"),
        "spark.tasks": (mean("tasks"), "count"),
        "spark.tasks_failed": (sum(x["tasks_failed"] for x in sp), "count"),
        "spark.task_s": (mean("task_s"), "s"),
        "spark.task_utilization": (
            sum(x["task_s"] for x in sp) / (sum(x["wall_s"] for x in sp) * common.cores()), "ratio"),
        "spark.exchange.bytes": (mean("shuffle_bytes"), "B"),
        "spark.exchange.records": (mean("shuffle_records"), "count"),
        "spark.spill_bytes": (sum(x["spill_bytes"] for x in sp), "B"),
        "spark.agg.peak_mem_bytes": (max(x["peak_mem_bytes"] for x in sp), "B"),
        "peak_rss_mb": (peak_rss, "MiB"),
        "jvm.work_cpu_ms_per_request": (1e3 * cpu["work_s"] / n, "ms"),
        "jvm.service_cpu_ms_per_request": (1e3 * cpu["service_s"] / n, "ms"),
        "driver.cpu_ms_per_request": (1e3 * cpu["driver_s"] / n, "ms"),
        "host.cpu_control_s": (host["cpu_control_s"], "s"),
        "host.dram_control_s": (host["dram_control_s"], "s"),
        "host.steal_frac": (host["steal_frac"], "ratio"),
        "trace.overhead_ms": (1e3 * (statistics.median(traced) - statistics.median(untraced)), "ms"),
    }


def _endpoints(spans):
    """Median own time of each app endpoint, over the timed phase and the
    layer pass."""
    times = {}
    for s in spans:
        if s["name"].startswith("operators.app_queries."):
            times.setdefault(s["name"], []).append(1e3 * (s["end"] - s["start"]))
    return {f"{name}_ms": (statistics.median(v), "ms") for name, v in times.items()}


def run(args) -> int:
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, common.PKG)):
        print(f"perfbench: no {common.PKG}/ here; run from the root of a checkout", file=sys.stderr)
        return 2
    work = common.work_dir(root)
    subprocess.run([sys.executable, os.path.join(HERE, "build.py")], cwd=root, check=True,
                   stdout=subprocess.DEVNULL)
    with open(os.path.join(work, "build.json")) as f:
        build = json.load(f)
    host = observe.host_record()
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    # the engine reads its snapshot and stage roots at import time
    common.engine_env(work, run_id)
    sys.path.insert(0, root)
    import apps
    import layers
    from oracle import Oracle

    run_dir = os.environ["SPARK_LOCAL_DIRS"]
    sf = common.sf_dir()
    oracle = Oracle(sf, os.path.join(work, "oracle"))
    tracer = observe.Tracer(enabled=bool(args.trace))
    rng = random.Random(args.seed)
    flags = apps.FlagLog(os.path.join(run_dir, "flags"))

    spark, setup = _setup(common.package(root), sf, tracer)
    jvm = common.jvm_pid(spark)
    jvm_cpu = common.JvmCpu(jvm)
    kind = common.WORKLOADS[args.workload]
    lat, traced, untraced, replies, write_replies, errors = [], [], [], [], [], []
    attempted = failed = 0
    cpu0 = None
    ticks0 = observe.cpu_ticks()
    tracer.enabled = False
    deadline = time.perf_counter() + args.seconds
    # at least two requests: the first is cold, and the traced run needs
    # a traced and an untraced one
    while attempted < 2 or time.perf_counter() < deadline:
        site = rng.choice(build["candidates"])
        # the traced run traces every other request: the untraced half
        # gives the tracing overhead
        tracer.enabled = bool(args.trace) and not tracer.enabled
        attempted += 1
        tracer.request = attempted
        t0 = time.perf_counter()
        try:
            out, state = apps.serve(spark, tracer, kind, site, flags, rng)
        except Exception as e:  # noqa: BLE001 - a failed request is counted, not fatal
            failed += 1
            errors.append(f"{kind}({site}): {type(e).__name__}: {str(e)[:300]}")
            continue
        dt = time.perf_counter() - t0
        lat.append(dt)
        if cpu0 is None:
            # CPU per request counts from the end of the first (cold) one
            cpu0 = jvm_cpu.read(), time.thread_time()
        if args.trace:
            (traced if tracer.enabled else untraced).append(dt)
        if kind == "read":
            replies.append((site, out))
        else:
            write_replies.append((state, out))
    tracer.enabled = False
    cpu1 = jvm_cpu.read(), time.thread_time()
    jvm_cpu.close()
    host["steal_frac"] = observe.steal_frac(ticks0, observe.cpu_ticks())
    peak_rss = common.vm_hwm_mb(jvm)
    loop_spans = list(tracer.spans)
    layer_metrics = {}
    if args.trace:
        # after the timed phase: one traced call into each layer the
        # workloads do not reach (perfbench/layers.py)
        layer_metrics, ops, msgs = layers.layer_pass(
            spark, tracer, sf, work, run_dir, oracle, build["candidates"],
            random.Random(f"layers-{args.seed}"))
        attempted += ops
        failed += len(msgs)
        errors += msgs
    common.stop_spark(spark)

    check_failed, msgs = apps.check_replies(oracle, build["candidates"], replies, write_replies)
    failed += check_failed
    errors += msgs
    for m in errors:
        print(f"perfbench: FAIL {m}", file=sys.stderr)
    cpu0 = cpu0 or cpu1
    cpu = {k: cpu1[0][k] - cpu0[0][k] for k in cpu0[0]}
    cpu["driver_s"] = cpu1[1] - cpu0[1]
    warm = max(1, len(lat) - 1)
    print(f"perfbench: setup {setup} cpu {cpu} host {host} latency_s {[round(x, 3) for x in lat]}", file=sys.stderr)

    if args.trace:
        metrics = _per_layer(loop_spans, setup, host, peak_rss, cpu, warm, traced, untraced)
        metrics.update(layer_metrics)
        metrics.update(_endpoints(tracer.spans))
    else:
        metrics = {
            "setup_s": (setup["setup_s"], "s"),
            "request_cpu_ms": (1e3 * (cpu["work_s"] + cpu["driver_s"]) / warm, "ms"),
        }
    records = os.path.join(work, "records")
    os.makedirs(records, exist_ok=True)
    with open(os.path.join(records, run_id + ".json"), "w") as f:
        json.dump({"host": host, "setup": setup, "cpu": cpu, "latency_s": lat, "peak_rss_mb": peak_rss,
                   "build_pipeline_stage_s": build["stages"], "errors": errors}, f)
    if args.trace:
        tracer.dump(os.path.join(records, run_id + ".spans.json"))
    shutil.rmtree(run_dir, ignore_errors=True)
    correct = failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(common.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return run(ap.parse_args(argv))


if __name__ == "__main__":
    sys.exit(main())
