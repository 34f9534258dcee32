"""Benchmark entry point.

    python3 perfbench/run.py --workload {profile,interactive} \\
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout.  The run generates the workload's inputs
from the seed under ``.perfbench_work/`` (not timed), computes expected
outputs with DuckDB (not timed), then measures in a fresh child process
(``child.py``) on ``local[4]``:

- ``profile``: the process runs the profile pipeline once, cold;
- ``interactive``: the process runs a cold round over the call mix, then
  ``child.WARM_UP_ROUNDS`` untimed rounds (skipped when traced) and
  ``child.WARM_ROUNDS`` timed warm rounds.

The measured work is fixed, not a time window, so that per-layer totals
compare across commits.  On a 4-core host it takes longer than
``--seconds`` (about 27 s for profile, 50 s for interactive); the run
logs on stderr when it measured less than ``--seconds``.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics, or with ``--trace 1``
the per-layer metrics of a traced process plus the tracing overhead).
A readable report goes to stderr.  Exit status is 0 only when the run
completed; a failed output check is reported in ``failed``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("profile", "interactive")
MASTER = "local[4]"
CORES = 4
DRIVER_MEMORY = "1g"
# one run, all child processes included, ends within this many seconds
RUN_BUDGET_S = 170
JVM_EXIT_WAIT_S = 20
END_TO_END_UNITS = {
    "setup_s": "s",
    "job_s": "s",
    "rows_per_s": "rows/s",
    "call_p50_s": "s",
    "call_p90_s": "s",
    "peak_rss_mb": "MiB",
}


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _require_program() -> None:
    """Fail unless the program's sources sit next to the benchmark: the
    benchmark measures the checkout it lives in, never an installed copy."""
    pkg = os.path.join(ROOT, "anovos_spark", "__init__.py")
    if not os.path.isfile(pkg):
        raise SystemExit(f"perfbench: no anovos_spark package at {ROOT}; "
                         "run from a full checkout")


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().split(")")[-1].split()[0] != "Z"
    except OSError:
        return False


def _wait_gone(pid: int | None, grace_s: float) -> None:
    """Wait up to ``grace_s`` for a child's JVM to exit, then kill it."""
    if not pid:
        return
    deadline = time.monotonic() + grace_s
    while _alive(pid) and time.monotonic() < deadline:
        time.sleep(0.1)
    if _alive(pid):
        os.kill(pid, signal.SIGKILL)
        while _alive(pid):
            time.sleep(0.05)


def _read_pid(path: str) -> int | None:
    try:
        with open(path) as fh:
            return int(fh.read())
    except (OSError, ValueError):
        return None


def run_child(spec: dict, work: str, tag: str, deadline: float) -> dict:
    spec_path = os.path.join(work, f"{tag}.spec.json")
    result_path = os.path.join(work, f"{tag}.result.json")
    log_path = os.path.join(work, f"{tag}.log")
    env = dict(os.environ, TMPDIR=os.path.join(work, "tmp"), PYTHONHASHSEED="0",
               PYSPARK_PYTHON=sys.executable, PYSPARK_DRIVER_PYTHON=sys.executable,
               SPARK_LAUNCHER_OPTS="-XX:-UsePerfData")
    spec["spawned_at"] = time.monotonic()
    with open(spec_path, "w") as fh:
        json.dump(spec, fh)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "child.py"), spec_path, result_path],
            cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
        )
        finished = False
        try:
            proc.wait(timeout=max(1.0, deadline - time.monotonic()))
            finished = True
        except subprocess.TimeoutExpired:
            pass
        finally:  # also on SIGTERM: leave no child or JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
            _wait_gone(_read_pid(result_path + ".jvm_pid"), JVM_EXIT_WAIT_S if finished else 0)
    res = {}
    if os.path.exists(result_path):
        with open(result_path) as fh:
            res = json.load(fh)
    if "setup_s" not in res or "job_s" not in res:
        with open(log_path) as fh:
            tail = fh.read()[-3000:]
        raise RuntimeError(f"child {tag} did not finish (exit {proc.returncode}):\n"
                           f"{res.get('crash', '')}\n{tail}")
    return res


def measure(args, base_spec: dict, work: str, trace: bool, deadline: float) -> dict:
    """Run the workload in one fresh child process."""
    tag = "traced" if trace else "plain"
    spec = dict(base_spec, trace=trace, run_id=f"{args.workload}-s{args.seed}-{tag}")
    return run_child(spec, work, tag, deadline)


def call_latencies(result: dict) -> list[float]:
    """One latency per call of the mix: its median over the measured
    rounds, so a slow spell of the host during one round does not move
    the percentiles."""
    return [statistics.median(col) for col in zip(*result["rounds"])]


def end_to_end(result: dict, input_rows: int) -> dict:
    from perfbench.stats import percentile

    calls = call_latencies(result)
    values = {
        "setup_s": result["setup_s"],
        "job_s": result["job_s"],
        "rows_per_s": input_rows / result["job_s"],
        "call_p50_s": statistics.median(calls),
        "call_p90_s": percentile(calls, 90),
        "peak_rss_mb": result["driver_hwm_mb"] + result["jvm_hwm_mb"],
    }
    return {k: (values[k], unit) for k, unit in END_TO_END_UNITS.items()}


def per_layer(plain: dict, traced: dict) -> dict:
    from perfbench.trace import PER_LAYER_UNITS

    layers = traced["layers"]
    out = {name: (float(layers.get(name, 0.0)), unit) for name, unit in PER_LAYER_UNITS.items()
           if not name.startswith("trace.")}
    out["trace.overhead_s"] = (traced["job_s"] - plain["job_s"], "s")
    return out


def report(args, results, manifest, expect_s) -> None:
    from perfbench.stats import summary

    s = summary([c for r in results for rnd in r["rounds"] for c in rnd])
    _log(f"perfbench {args.workload} seed={args.seed} processes={len(results)} "
         f"inputs={ {k: v['rows'] for k, v in manifest.items()} } "
         f"digests={ {k: v['sha256_16'] for k, v in manifest.items()} } expect_s={expect_s:.2f}")
    tail = "-" if s["tail"] is None else f"{s['tail']:.4f}s"
    _log(f"  all call samples: n={s['n']} median={s['p50']:.4f}s p{s['tail_p'] or 0:g}={tail} "
         "(highest percentile with >= 10 samples beyond)")
    attempted = sum(r["attempted"] for r in results)
    failed = sum(r["failed"] for r in results)
    _log(f"  error_rate={failed / attempted:.4f} ({failed} of {attempted} operations failed)")
    if args.workload == "interactive" and results[0]["rounds"]:
        from perfbench.calls import MIX

        meds = call_latencies(results[0])
        _log("  call medians: " + " ".join(f"{c.name}={m:.3f}" for c, m in zip(MIX, meds)))
    for r in results:
        _log(f"  process: setup={r['setup_s']:.3f}s (jvm {r['jvm_start_s']:.3f}, workers "
             f"{r['worker_warm_s']:.3f}) job={r['job_s']:.3f}s attempted={r['attempted']} "
             f"failed={r['failed']} rss={r['driver_hwm_mb'] + r['jvm_hwm_mb']:.0f}MiB")
        for p in r["problems"]:
            _log(f"  CHECK FAILED: {p}")
        if r["measured_s"] < args.seconds:
            _log(f"  note: the fixed work measured {r['measured_s']:.1f}s, "
                 f"less than --seconds {args.seconds:g}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    deadline = time.monotonic() + RUN_BUDGET_S
    _require_program()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    sys.path.insert(0, ROOT)
    from perfbench import expect
    from perfbench.gen import generate

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    os.makedirs(out_dir, exist_ok=True)
    try:
        manifest = generate(args.workload, args.seed, os.path.join(work, "data"))
        t = time.perf_counter()
        expected = expect.for_workload(args.workload, manifest)
        expect_s = time.perf_counter() - t
        base_spec = {
            "root": ROOT, "workload": args.workload, "seed": args.seed,
            "tables": manifest, "expect": expected,
            "work_dir": work, "out_dir": out_dir, "master": MASTER, "cores": CORES,
            "driver_memory": DRIVER_MEMORY,
        }
        # with --trace 1 the untraced process only gives the job_s the tracing
        # overhead is measured against, which keeps the run inside its budget
        plain = measure(args, dict(base_spec, job_only=bool(args.trace)), work, False, deadline)
        results = [plain]
        if args.trace:
            results.append(measure(args, dict(base_spec, job_only=False), work, True, deadline))
        report(args, results, manifest, expect_s)
        input_rows = sum(v["rows"] for v in manifest.values())
        metrics = per_layer(*results) if args.trace else end_to_end(plain, input_rows)
        attempted = sum(r["attempted"] for r in results)
        failed = sum(r["failed"] for r in results)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    out = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
