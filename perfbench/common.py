"""Paths, engine environment and Spark session shared by the benchmark's
build step and its workloads.

Everything the benchmark writes lives under one work directory inside the
checkout: ``$CARGO_TARGET_DIR/perfbench`` (``.bench_build/perfbench`` when
unset).  The engine is pointed at it through ``SPARK_GRAFT_SNAPSHOT_DIR``
and ``SPARK_GRAFT_STAGE_DIR``, which the engine reads at import time, so
``engine_env`` must run before any ``geospatial_store_siting_spark`` import.
"""

from __future__ import annotations

import hashlib
import os
import subprocess
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
PKG = "geospatial_store_siting_spark"
# workload -> request kind (perfbench/apps.py serves them)
WORKLOADS = {"site_lookup": "read", "flag_review": "write"}


def work_dir(root: str) -> str:
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR") or ".bench_build", "perfbench")


def sf_dir() -> str:
    """The shared sf0.01 test tables (seed 42), shipped with the benchmark
    so a checkout holds its own inputs."""
    return os.path.join(HERE, "data", "sf0.01")


def source_key(root: str) -> str:
    """Digest of the engine package and the build script: a build made
    from other sources is stale."""
    h = hashlib.sha1()
    files = [os.path.join(HERE, "build.py")]
    for d, _, names in os.walk(os.path.join(root, PKG)):
        files += [os.path.join(d, n) for n in names if n.endswith(".py")]
    for path in sorted(files):
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def cores() -> int:
    return len(os.sched_getaffinity(0))


def engine_env(work: str, run_id: str) -> None:
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["SPARK_GRAFT_SNAPSHOT_DIR"] = os.path.join(work, "snap")
    os.environ["SPARK_GRAFT_STAGE_DIR"] = os.path.join(work, "snap", "stages")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp", run_id)
    os.makedirs(os.environ["SPARK_LOCAL_DIRS"], exist_ok=True)


def package(root: str) -> str:
    """Build the ``--py-files`` archive of a spark-submit deployment
    (tools/package.py, once per run, untimed) and return its path."""
    subprocess.run([sys.executable, os.path.join("tools", "package.py")], cwd=root,
                   check=True, stdout=subprocess.DEVNULL)
    return os.path.join(root, "dist", "gss.zip")


def start_spark(py_files: str, app_name: str):
    """``local[nproc]`` engine session with the package shipped to its
    Python workers, as ``spark-submit --py-files`` does."""
    from geospatial_store_siting_spark.session import get_spark

    spark = get_spark(
        app_name=app_name,
        cores=cores(),
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.addPyFile(py_files)
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def jvm_pid(spark) -> int:
    """The JVM the session launched (spark-submit execs into java)."""
    return spark.sparkContext._gateway.proc.pid


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


# JVM service threads whose CPU is JIT compilation or garbage collection
_JVM_SERVICE = ("C1 CompilerThre", "C2 CompilerThre", "GC Thread", "G1 ", "VM Thread", "Sweeper")


def _stat_cpu_s(path: str) -> float:
    with open(path) as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


class JvmCpu:
    """CPU seconds of a JVM, split into its JIT/GC service threads and the
    rest (driver, scheduler and task threads: the engine's own work).

    The process total from ``/proc/<pid>/stat`` also counts threads that
    have exited, such as idle task-pool threads.  HotSpot also stops idle
    compiler threads, so a background sampler keeps the last reading of
    every service thread it has seen; an idle thread's last reading is its
    total.  Time the hypervisor steals from the guest is not counted."""

    def __init__(self, pid: int, interval_s: float = 0.25):
        self.pid = pid
        self._service: dict[str, float] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._sample()
        self._sampler = threading.Thread(target=self._poll, args=(interval_s,), daemon=True)
        self._sampler.start()

    def _sample(self) -> None:
        task_dir = f"/proc/{self.pid}/task"
        for tid in os.listdir(task_dir):
            try:
                with open(f"{task_dir}/{tid}/comm") as f:
                    if f.read().startswith(_JVM_SERVICE):
                        cpu = _stat_cpu_s(f"{task_dir}/{tid}/stat")
                        with self._lock:
                            self._service[tid] = cpu
            except OSError:  # the thread exited meanwhile
                continue

    def _poll(self, interval_s: float) -> None:
        while not self._stop.wait(interval_s):
            self._sample()

    def read(self) -> dict:
        self._sample()
        with self._lock:
            service = sum(self._service.values())
        return {"work_s": _stat_cpu_s(f"/proc/{self.pid}/stat") - service, "service_s": service}

    def close(self) -> None:
        self._stop.set()
        self._sampler.join()
