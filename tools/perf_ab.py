"""Interleaved A/B of the app benchmark between two checkouts.

    python3 tools/perf_ab.py BASE_DIR CHANGE_DIR --workload site_lookup --seeds 101-110

Each checkout is a full tree of the engine, for example a
``git archive <parent> | tar -x -C <dir>`` extract as BASE_DIR and the
working tree as CHANGE_DIR.  For every seed the tool runs

    python3 perfbench/run.py --workload W --seed S --seconds T --trace 0

once in each checkout, one run at a time, alternating which side runs
first from one seed to the next.  The run length T and the end-to-end
metrics are the ones CHANGE_DIR's ``BENCHMARK.json`` declares, followed by
the run's two host controls (``cpu_control_s``, ``steal_frac``, parsed
from the ``host {...}`` record ``perfbench/run.py`` prints to stderr), so
a host-speed swing shows beside the pair it hits.  It prints every run,
each side's median and quartiles of each metric, and how many pairs the
change wins.  Exit status is 1 if any run is not ``correct`` (or
prints no result), else 0.
"""

from __future__ import annotations

import argparse
import ast
import json
import os
import statistics
import re
import subprocess
import sys

HOST_CONTROLS = [{"name": "cpu_control_s", "unit": "s", "better": "lower"},
                 {"name": "steal_frac", "unit": "ratio", "better": "lower"}]


def _seeds(spec: str) -> list[int]:
    """``101-110`` or ``101,105,107``."""
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def _run(checkout: str, workload: str, seed: int, seconds: float) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    try:
        res = json.loads(p.stdout.strip().splitlines()[-1])
    except (IndexError, json.JSONDecodeError):
        res = {"correct": False, "attempted": 0, "failed": 0, "metrics": {},
               "error": (p.stderr or p.stdout)[-2000:]}
    host = re.search(r" host (\{.*?\}) latency_s ", p.stderr)
    for k, v in (ast.literal_eval(host.group(1)) if host else {}).items():
        res.setdefault("metrics", {})[k] = {"value": v}
    return res


def _summary(values: list[float]) -> tuple[float, float, float]:
    """(median, first quartile, third quartile)."""
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q2, q1, q3


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("base", help="checkout of the parent")
    ap.add_argument("change", help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 101-110 or 101,104,107")
    args = ap.parse_args(argv)

    sides = {"base": os.path.abspath(args.base), "change": os.path.abspath(args.change)}
    with open(os.path.join(sides["change"], "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics = bench["end_to_end"] + HOST_CONTROLS
    runs, ok = [], True
    for i, seed in enumerate(_seeds(args.seeds)):
        order = ["base", "change"] if i % 2 == 0 else ["change", "base"]
        for side in order:
            res = _run(sides[side], args.workload, seed, bench["run_seconds"])
            vals = {m["name"]: res["metrics"].get(m["name"], {}).get("value") for m in metrics}
            runs.append({"seed": seed, "side": side, "values": vals})
            ok &= bool(res.get("correct"))
            shown = "  ".join(
                f"{k}={v:.4g}" if v is not None else f"{k}=-" for k, v in vals.items())
            print(f"seed {seed}  {side:<6} (first: {order[0]:<6})  correct={res.get('correct')}  "
                  f"attempted={res.get('attempted')}  failed={res.get('failed')}  {shown}",
                  flush=True)
            if "error" in res:
                print(res["error"], file=sys.stderr)

    print(f"\n{args.workload}: {len(runs) // 2} pairs")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        by = {s: {r["seed"]: r["values"][name] for r in runs if r["side"] == s} for s in sides}
        paired = [s for s in by["base"] if by["base"][s] is not None and by["change"].get(s) is not None]
        if not paired:
            print(f"  {name}: no values")
            continue
        wins = sum(by["change"][s] < by["base"][s] if lower else by["change"][s] > by["base"][s]
                   for s in paired)
        stats = {s: _summary([by[s][k] for k in paired]) for s in sides}
        (bm, bq1, bq3), (cm, cq1, cq3) = stats["base"], stats["change"]
        print(f"  {name} ({m['unit']}, {m['better']} is better)")
        print(f"    base   median {bm:.4g}  quartiles {bq1:.4g}-{bq3:.4g}")
        print(f"    change median {cm:.4g}  quartiles {cq1:.4g}-{cq3:.4g}")
        pct = f"{100 * (cm - bm) / bm:+.1f}%" if bm else "-"
        print(f"    change {pct}, wins {wins}/{len(paired)}, "
              f"|median gap| {abs(cm - bm):.4g} vs base IQR {bq3 - bq1:.4g}")
    if not ok:
        print("perf_ab: at least one run was not correct", file=sys.stderr)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
