"""Steadiness check: run every workload as two sets of seeded runs and
compare them against the bounds in BENCHMARK.json.

    python3 perfbench/steady.py [--runs 10] [--seed0 1000]

For each workload and end-to-end metric it reports, per set, the median
and the spread (distance between the first and third quartile as a share
of the median).  A metric passes when each set's spread is within its
bound and the second set's median is not worse
than the first's by more than the bound.  Each run uses its own seed;
workloads are interleaved so that a slow spell of the machine hits all
of them.  Exit status 1 when any check fails.
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


def spread(values) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def worse_by(first: float, second: float, better: str) -> float:
    """How much worse ``second`` is than ``first``, as a share of ``first``."""
    change = (second - first) / first
    return change if better == "lower" else -change


def run_once(bench: dict, workload: str, seed: int, trace: int) -> dict:
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]), "--trace", str(trace)]
    t = time.monotonic()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.monotonic() - t
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    out["wall_s"] = wall
    return out


def evaluate(bench: dict, sets: list[dict]) -> tuple[list[str], bool]:
    lines, ok = [], True
    for w in [w["name"] for w in bench["workloads"]]:
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            cols, meds = [], []
            for runs in sets:
                vals = [r["metrics"][name]["value"] for r in runs[w]]
                sp, med = spread(vals), statistics.median(vals)
                meds.append(med)
                flag = "" if sp <= bound else " SPREAD>BOUND"
                ok &= not flag
                cols.append(f"median={med:.4g} spread={sp:.3f}{flag}")
            d = worse_by(meds[0], meds[1], m["better"])
            drift = f" second-vs-first={d:+.3f}" + (" WORSE>BOUND" if d > bound else "")
            ok &= d <= bound
            lines.append(f"{w:14s} {name:12s} bound={bound:.2f} | " + " | ".join(cols) + drift)
    return lines, ok


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10, help="runs per workload per set")
    ap.add_argument("--seed0", type=int, default=1000)
    args = ap.parse_args(argv)
    if args.runs < 2:
        ap.error("--runs must be at least 2 to give a spread")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    workloads = [w["name"] for w in bench["workloads"]]
    sets: list[dict] = []
    for s in range(2):
        runs: dict = {w: [] for w in workloads}
        for i in range(args.runs):
            seed = args.seed0 + s * args.runs + i
            for w in workloads:
                r = run_once(bench, w, seed, 0)
                runs[w].append(r)
                print(f"set {s} seed {seed} {w}: wall={r['wall_s']:.1f}s correct={r['correct']} "
                      + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
                      flush=True)
        sets.append(runs)
    out = os.path.join(ROOT, ".perfbench_out", "steady.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as fh:
        json.dump(sets, fh)
    lines, ok = evaluate(bench, sets)
    print("\n".join(lines))
    incorrect = sum(not r["correct"] for runs in sets for rs in runs.values() for r in rs)
    print(f"{'STEADY' if ok else 'NOT STEADY'}; runs with failed checks: {incorrect}")
    return 0 if ok and not incorrect else 1


if __name__ == "__main__":
    sys.exit(main())
