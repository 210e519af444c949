"""Steadiness check: do two sets of runs of the same code agree?

    python3 perfbench/steady.py                         # every workload
    python3 perfbench/steady.py --workloads elt_hourly

Two sets of ten runs per workload, each run ``run_seconds`` of
BENCHMARK.json long with its own seed (seeds 1-20). For every end-to-end
metric of every workload it reports, per set, the median and the spread
(inter-quartile range as a share of the median, from
``statistics.quantiles(values, n=4)``) against the metric's bound in
BENCHMARK.json, and how far the second set's median moved from the
first's in the metric's worse direction. Raw values go to
``.perfbench_out/steady-<time>.json``. Exits 1 when any check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETS = 2
RUNS = 10


def one_run(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.monotonic()
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True, check=False)
    wall = time.monotonic() - t0
    if p.returncode != 0:
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    res = json.loads(p.stdout.strip().splitlines()[-1])
    res["wall_s"] = wall
    vals = " ".join(f"{k}={m['value']:.4g}" for k, m in res["metrics"].items())
    print(f"    {workload} seed {seed}: wall {wall:.1f}s "
          f"{res['attempted']} attempted, {res['failed']} failed, {vals}",
          flush=True)
    return res


def spread(values: list[float]) -> float:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    args = ap.parse_args()
    seconds = spec["run_seconds"]
    metrics = spec["end_to_end"]
    raw: dict = {}
    ok = True
    for w in args.workloads.split(","):
        sets = []
        for k in range(SETS):
            runs = [one_run(w, 1 + k * RUNS + j, seconds) for j in range(RUNS)]
            sets.append(runs)
            walls = [r["wall_s"] for r in runs]
            bad = sum(not r["correct"] for r in runs)
            print(f"{w} set {k + 1}: {RUNS} runs, wall median "
                  f"{statistics.median(walls):.1f}s max {max(walls):.1f}s, "
                  f"{bad} incorrect", flush=True)
            ok &= bad == 0
        raw[w] = sets
        for m in metrics:
            name, bound = m["name"], m["bound"]
            cols = [[r["metrics"][name]["value"] for r in runs] for runs in sets]
            meds = [statistics.median(c) for c in cols]
            sprs = [spread(c) for c in cols]
            line = (f"  {name:16s} bound {bound:.2f}  median "
                    + " / ".join(f"{v:.4g}" for v in meds)
                    + "  spread " + " / ".join(f"{s:.3f}" for s in sprs))
            if max(sprs) > bound:
                ok = False
                line += "  SPREAD>BOUND"
            elif max(sprs) > bound / 3:
                line += "  (spread above a third of the bound)"
            sign = 1 if m["better"] == "lower" else -1
            drift = sign * (meds[1] - meds[0]) / meds[0]
            line += f"  drift {drift:+.3f}"
            if drift > bound:
                ok = False
                line += "  DRIFT>BOUND"
            print(line, flush=True)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"steady-{int(time.time())}.json")
    with open(path, "w") as f:
        json.dump(raw, f, indent=1)
    print(f"{'PASS' if ok else 'FAIL'} (raw values: {path})")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
