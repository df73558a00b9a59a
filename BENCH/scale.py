"""Scale table: the gold pipeline and the bench leaves over key-shifted
replicas of the base tables, at N and 4N cores.

    python BENCH/scale.py SCRATCH_ROOT

Builds a key-shifted ×k copy of every base table of ``bench.SF_DIR``
(``$SPARK_GRAFT_SF_DIR``, sf0.1 by default) once under
``SCRATCH_ROOT/replicas``, then runs ``tools/layer_profile.py`` (the cold
gold pipeline, then the 15 ``bench.BENCH_QUERIES`` leaves, each under
``observe.span``) as a worker on each replica: ×1, ×4 and ×8 at
4N = ``nproc`` cores, and ×8 again at N = ``nproc // 4`` cores, the two
×8 levels interleaved twice with the faster run kept per level.  Each
run has a timeout; a run that times out keeps the records it printed and
its missing rows read ``timeout``.  The result replaces the
``## Scale table`` section of ``BENCH/BASELINE.md``, together with the
pure-CPU and DRAM-streaming host controls at the same N and 4N.  Every
file a worker writes (snapshots, stages, shuffle, Spark warehouse) lives
under a per-run directory in SCRATCH_ROOT, removed after the run.
"""

from __future__ import annotations

import hashlib
import inspect
import json
import multiprocessing as mp
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BASELINE = os.path.join(REPO, "BENCH", "BASELINE.md")
MARKER = "\n## Scale table"
REPLICAS = (1, 4, 8)
TIMEOUT_S = 1800

# ---------------------------------------------------------------------------
# Replica builder
# ---------------------------------------------------------------------------

SINGLE = ("region", "nation")  # dimension tables: one copy at every ×k
# table -> (its key column, {foreign key column: the table it points at});
# a table's offset is its key's maximum + 1, so copy r of every row lives
# r offsets up, and each foreign key moves with its target table
SHIFT = {
    "customer": ("c_custkey", {}),
    "supplier": ("s_suppkey", {}),
    "part": ("p_partkey", {}),
    "orders": ("o_orderkey", {"o_custkey": "customer"}),
    "lineitem": (None, {"l_orderkey": "orders", "l_partkey": "part", "l_suppkey": "supplier"}),
    # user_id joins site_id, which is c_custkey
    "events": ("event_id", {"user_id": "customer"}),
    "documents": ("doc_id", {}),
    "embeddings": ("vec_id", {}),
}


def _suffix_tokens(text: pa.Array, r: int) -> pa.Array:
    """Every space-separated token with ``_r`` appended: a copy's texts
    differ from the original's, so near-duplicate structure grows with the
    corpus instead of becoming ×k exact duplicates in one LSH bucket."""
    tokens = pc.split_pattern(text, " ")
    flat = pc.binary_join_element_wise(pc.list_flatten(tokens), f"_{r}", "")
    return pc.binary_join(pa.ListArray.from_arrays(tokens.offsets, flat), " ")


def _shifted(tb: pa.Table, table: str, r: int, offsets: dict[str, int]) -> pa.Table:
    """Copy ``r`` of ``tb``: keys and foreign keys shifted by ``r`` times
    their table's offset; documents get suffixed tokens and a recomputed
    ``n_chars``."""
    if r == 0:
        return tb
    key, fks = SHIFT[table]
    targets = {**fks, **({key: table} if key else {})}
    cols = {}
    for name in tb.column_names:
        col = tb[name].combine_chunks()
        if name in targets:
            col = pc.add(col, pa.scalar(r * offsets[targets[name]], col.type))
        cols[name] = col
    if table == "documents":
        cols["text"] = _suffix_tokens(cols["text"], r)
        cols["n_chars"] = pc.cast(pc.utf8_length(cols["text"]), tb.schema.field("n_chars").type)
    return pa.table(cols, schema=tb.schema)


def builder_digest(sf_dir: str) -> str:
    """Digest of the builder's source and its input directory: a changed
    builder never reuses a replica an older one wrote."""
    src = "".join(inspect.getsource(f) for f in (_suffix_tokens, _shifted, build_replica))
    blob = f"{os.path.realpath(sf_dir)}|{SINGLE}|{SHIFT}|{src}"
    return hashlib.sha256(blob.encode()).hexdigest()[:12]


def build_replica(sf_dir: str, k: int, root: str) -> str:
    """Directory of the key-shifted ×``k`` copy of ``sf_dir``'s base
    tables under ``root``, written once: into a temporary directory that
    is renamed when every table is written."""
    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(root, f"{sf_tag}_x{k}_{builder_digest(sf_dir)}")
    if os.path.isdir(path):
        return path
    tmp = f"{path}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    src = {t: os.path.join(sf_dir, f"{t}.parquet") for t in (*SINGLE, *SHIFT)}
    src = {t: p for t, p in src.items() if os.path.exists(p)}
    offsets = {
        t: pc.max(pq.read_table(src[t], columns=[key])[key]).as_py() + 1
        for t, (key, _) in SHIFT.items() if key and t in src
    }
    for table, p in src.items():
        tb = pq.read_table(p)
        tb = tb.replace_schema_metadata(None)  # pandas index metadata of the source
        with pq.ParquetWriter(os.path.join(tmp, f"{table}.parquet"), tb.schema) as w:
            for r in range(1 if table in SINGLE else k):
                w.write_table(_shifted(tb, table, r, offsets))
    os.rename(tmp, path)
    return path


# ---------------------------------------------------------------------------
# Host controls: the same pure-CPU loop / DRAM-streaming reduction in N and
# in 4N processes.  capacity = per-process time at N / at 4N; ≈ 1.0 when the
# host delivers 4N-way parallelism, lower when the N→4N ratio understates
# the engine (shared-hypervisor windows, a saturated memory bus).
# ---------------------------------------------------------------------------

def _burn(n: int) -> float:
    t0 = time.perf_counter()
    x = 0
    for i in range(n):
        x += i * i
    return time.perf_counter() - t0


def _stream(nbytes: int) -> float:
    import numpy as np

    a = np.ones(nbytes // 8, dtype=np.float64)  # far beyond L3: DRAM-bound
    t0 = time.perf_counter()
    for _ in range(8):
        a.sum()
    return time.perf_counter() - t0


def host_controls(low: int, high: int) -> dict:
    out = {}
    for kind, fn, arg in (("cpu", _burn, 20_000_000), ("dram", _stream, 256 * 2**20)):
        for procs in (low, high):
            with mp.get_context("spawn").Pool(procs) as p:
                times = p.map(fn, [arg] * procs)
            out[f"{kind}_s_{procs}"] = round(sum(times) / procs, 3)
        out[f"{kind}_capacity"] = round(out[f"{kind}_s_{low}"] / out[f"{kind}_s_{high}"], 3)
    return out


# ---------------------------------------------------------------------------
# Worker runs
# ---------------------------------------------------------------------------

def profile(sf_dir: str, cores: int, root: str, label: str) -> dict:
    """One ``tools/layer_profile.py`` run: ``{"status", "records"}`` with
    the records by stage or leaf name; status is ``ok``, ``timeout`` (the
    process group is killed, printed records kept) or ``failed``."""
    run_dir = tempfile.mkdtemp(prefix=f"run-{label}-", dir=root)
    env = {**os.environ, "SPARK_GRAFT_SF_DIR": sf_dir, "SPARK_GRAFT_CPUS": str(cores),
           "TMPDIR": run_dir, "SPARK_LOCAL_DIRS": run_dir}
    log = os.path.join(root, f"{label}.log")
    with open(log, "w") as err, subprocess.Popen(
        [sys.executable, os.path.join(REPO, "tools", "layer_profile.py")],
        cwd=run_dir, env=env, stdout=subprocess.PIPE, stderr=err, text=True,
        start_new_session=True,  # the JVM and Python workers share its group
    ) as p:
        try:
            out, _ = p.communicate(timeout=TIMEOUT_S)
            status = "ok" if p.returncode == 0 else "failed"
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            out, _ = p.communicate()
            status = "timeout"
    shutil.rmtree(run_dir, ignore_errors=True)
    records = {}
    for line in out.splitlines():
        if line.startswith("{"):
            rec = json.loads(line)
            if rec["kind"] == "stage":  # stage and leaf names overlap
                rec = {"name": f"pipeline/{rec['stage']}", "wall_s": rec["wall_sec"], **rec["spark"]}
            records[rec["name"]] = rec
    print(json.dumps({"run": label, "status": status, "records": len(records)}), flush=True)
    return {"status": status, "records": records}


def _total(run: dict) -> tuple:
    """Sort key of a run: finished first, then most records, then wall."""
    recs = run["records"].values()
    return (run["status"] != "ok", -len(recs), sum(r["wall_s"] for r in recs))


# ---------------------------------------------------------------------------
# The section
# ---------------------------------------------------------------------------

def _wall(run: dict, name: str) -> str:
    rec = run["records"].get(name)
    return f"{rec['wall_s']:.2f}" if rec else run["status"]


def _ratio(a, b) -> str:
    return f"{a / b:.2f}" if a is not None and b else "–"


def _flips(base: dict | None, rec: dict | None) -> str:
    """Gates whose ``small`` answer differs from the ×1 run's."""
    if not base or not rec:
        return ""

    def answers(r):
        out: dict = {}
        for d in r.get("decisions", []):
            out.setdefault("+".join(d["tables"]), []).append(d)
        return out

    was, now = answers(base), answers(rec)
    flips = []
    for gate, ds in now.items():
        if {d["small"] for d in ds} != {d["small"] for d in was.get(gate, [])}:
            d = ds[-1]
            flips.append(f"{gate} {'small' if d['small'] else 'large'} "
                         f"({d['rows']:,} rows, limit {d['limit']:,})")
    return "; ".join(flips)


def section(sf_dir: str, n: int, n4: int, host: dict, runs: dict, sizes: dict) -> str:
    names = []
    for run in runs.values():
        names += [k for k in run["records"] if k not in names]
    base, x4, x8, x8n = runs["x1"], runs["x4"], runs["x8"], runs["x8_N"]
    rows = []
    for name in names:
        b, r4, r8, rn = (x["records"].get(name) for x in (base, x4, x8, x8n))
        wb, w4, w8, wn = (x["wall_s"] if x else None for x in (b, r4, r8, rn))
        eff = f"{wn / w8 / (n4 / n):.2f}" if wn and w8 else "–"
        task = f"{rn['task_s']:.1f} / {r8['task_s']:.1f}" if rn and r8 else "–"
        floor = (f"{max(wn - rn['task_s'] / n, 0):.2f} / {max(w8 - r8['task_s'] / n4, 0):.2f}"
                 if rn and r8 else "–")
        jobs = " / ".join(str(x["jobs"]) if x else "–" for x in (b, r4, r8))
        joins = _ratio(r8 and r8["operators"]["join"]["rows"], b and b["operators"]["join"]["rows"])
        flips = "; ".join(f"×{k}: {f}" for k, f in ((4, _flips(b, r4)), (8, _flips(b, r8))) if f)
        rows.append(
            f"| {name} | {_wall(base, name)} | {_wall(x4, name)} ({_ratio(w4, wb)}) "
            f"| {_wall(x8, name)} ({_ratio(w8, wb)}) | {_wall(x8n, name)} | {eff} "
            f"| {task} | {_ratio(rn and rn['task_s'], r8 and r8['task_s'])} | {floor} "
            f"| {jobs} | {joins} | {flips or '–'} |"
        )
    status = ", ".join(f"{k} {v['status']}" for k, v in runs.items())
    size = ", ".join(f"×{k}: {v['sites']:,} sites / {v['lineitem']:,} lineitem rows"
                     for k, v in sizes.items())
    git = ["git", "-C", REPO]
    commit = subprocess.run([*git, "rev-parse", "--short", "HEAD"],
                            capture_output=True, text=True).stdout.strip()
    tree = f"commit `{commit}`"
    if subprocess.run([*git, "status", "--porcelain", "--", "geospatial_store_siting_spark",
                       "tools", "bench.py", "BENCH/scale.py"], capture_output=True, text=True).stdout:
        tree += " plus uncommitted changes to the code it runs"
    return f"""{MARKER} — key-shifted ×1/×4/×8 replicas of {os.path.basename(sf_dir.rstrip('/'))}, N={n} / 4N={n4} cores

Generated by `python BENCH/scale.py <scratch-root>` at {tree}
({time.strftime('%Y-%m-%d')}); runs: {status}.  Each run is one
`tools/layer_profile.py` worker: the cold gold pipeline (`pipeline/`
rows), then the 15 `bench.py` leaves, each under `observe.span`.  Replicas copy
every base table except `region` and `nation` k times, each copy's keys
and foreign keys shifted by their table's key range ({size}).  Walls are
span seconds at 4N unless marked N; ×8 keeps the faster of 2 interleaved
runs per level.  Efficiency = (wall at N / wall at 4N) / {n4 // n}; the
floor is wall − task_s / cores, the orchestration time no core count
removes; the task-s ratio N/4N is < 1 when concurrent tasks inflate each
other (the ingest decomposition is the `dedup_incremental` row).  Join
rows ×8/×1 is the growth of rows out of every join (8.00 = linear).
Gate flips list each `plan_choice.small` answer that differs from ×1.

| host control (per-process s at N / 4N) | capacity N→4N |
|---|---|
| pure-CPU loop: {host[f'cpu_s_{n}']} / {host[f'cpu_s_{n4}']} | **{host['cpu_capacity']}** |
| DRAM streaming: {host[f'dram_s_{n}']} / {host[f'dram_s_{n4}']} | **{host['dram_capacity']}** |

| stage or leaf | ×1 s | ×4 s (/×1) | ×8 s (/×1) | ×8 s @N | eff N→4N | task_s N / 4N | task-s ratio N/4N | floor s N / 4N | jobs ×1/×4/×8 | join rows ×8/×1 | gate flips vs ×1 |
|---|---|---|---|---|---|---|---|---|---|---|---|
""" + "\n".join(rows) + "\n"


def replace_section(path: str, marker: str, body: str) -> None:
    """Replace the section starting at ``marker`` up to the next ``## ``
    heading with ``body``."""
    text = open(path).read()
    start = text.index(marker)
    end = text.find("\n## ", start + 1)
    with open(path, "w") as f:
        f.write(text[:start] + body + (text[end:] if end >= 0 else ""))


def _sizes(path: str) -> dict:
    return {"sites": pq.ParquetFile(os.path.join(path, "customer.parquet")).metadata.num_rows,
            "lineitem": pq.ParquetFile(os.path.join(path, "lineitem.parquet")).metadata.num_rows}


def main(argv: list[str]) -> int:
    if len(argv) != 1:
        print(__doc__.strip().splitlines()[2].strip(), file=sys.stderr)
        return 2
    root = os.path.abspath(argv[0])
    sys.path.insert(0, REPO)
    import bench

    sf_dir = bench.SF_DIR
    n4 = len(os.sched_getaffinity(0))  # nproc
    n = max(1, n4 // 4)
    replicas = {k: build_replica(sf_dir, k, os.path.join(root, "replicas")) for k in REPLICAS}
    host = host_controls(n, n4)
    print(json.dumps({"host": host}), flush=True)
    runs = {f"x{k}": profile(replicas[k], n4, root, f"x{k}") for k in (1, 4)}
    x8 = {"x8": [], "x8_N": []}
    for i in range(2):
        x8["x8"].append(profile(replicas[8], n4, root, f"x8-{i}"))
        x8["x8_N"].append(profile(replicas[8], n, root, f"x8_N-{i}"))
    runs.update({k: min(v, key=_total) for k, v in x8.items()})
    sizes = {k: _sizes(replicas[k]) for k in REPLICAS}
    replace_section(BASELINE, MARKER, section(sf_dir, n, n4, host, runs, sizes))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
