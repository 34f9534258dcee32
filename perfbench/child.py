"""One measured process: start a session, run one workload's job, check
its outputs, report.

Run as ``python3 perfbench/child.py <spec.json> <result.json>`` from the
checkout root; ``run.py`` starts it so that every measurement begins in a
fresh interpreter and a fresh JVM.  The spec holds the workload, the
generated tables, the expected values, the time the parent started this
process (``CLOCK_MONOTONIC`` is shared by all processes) and whether to
trace.  The result holds timings, call latencies, counts and, when
traced, the per-layer metrics.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback
from contextlib import nullcontext

# rounds after the cold one: fixed numbers, so that the per-layer totals of
# a traced run cover the same work on every commit.  Per-call latency
# still falls by about a fifth over the first rounds after the cold one,
# while the JVM compiles the call paths, and how fast it falls varies from
# process to process; the warm-up rounds are run and checked, not timed.
# A traced process skips them, so that a traced run stays inside its budget.
WARM_UP_ROUNDS = 2
WARM_ROUNDS = 3


def _session(spec: dict):
    from anovos_spark.core.session import get_session

    work = spec["work_dir"]
    conf = {
        "spark.driver.memory": spec["driver_memory"],
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.local.dir": os.path.join(work, "spark-local"),
        # keep the JVM's temp files (and its perf-data file) inside the checkout
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # the traced run reads every job of the run back from the status store
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }
    return get_session("perfbench", master=spec["master"], extra_conf=conf)


def _span(tracer, name, layer=None, kind="phase"):
    return tracer.span(name, layer, kind) if tracer is not None else nullcontext()


# --------------------------------------------------------------------------- #
# pipelines
# --------------------------------------------------------------------------- #
def _frame_layer(name: str) -> str:
    from perfbench.pipelines import STATS_METRICS

    if name.startswith("quality."):
        return "operators.quality"
    if name in STATS_METRICS:
        return "operators.stats"
    if name in ("correlation_matrix", "iv_calculation", "ig_calculation"):
        return "operators.association"
    if name == "variable_clustering":
        return "operators.varclus"
    if name == "drift_statistics":
        return "operators.drift"
    return "plans.report_frames"


def run_profile(spark, spec, tracer) -> dict:
    """The client hands the config to run_pipeline, then collects every
    analytical frame; the job ends when the last output exists."""
    from anovos_spark.plans.pipeline import run_pipeline
    from perfbench import pipelines as P

    store = P.RecordingStore(spark)
    calls, outputs = [], {}
    t0 = time.perf_counter()
    with _span(tracer, "job"):
        result = run_pipeline(spark, P.profile_config(spec["tables"]), store)
        calls.append(time.perf_counter() - t0)
        frames = dict(store.frames)
        frames.update({f"quality.{k}": v for k, v in result.quality_reports.items()})
        for name, df in frames.items():
            t = time.perf_counter()
            layer = _frame_layer(name)
            with _span(tracer, f"{layer}.force.{name}", layer, "force"):
                outputs[name] = [r.asDict() for r in df.collect()]
            calls.append(time.perf_counter() - t)
    job_s = time.perf_counter() - t0
    problems = P.check_profile(outputs, spec["expect"])
    return {"job_s": job_s, "measured_s": job_s, "rounds": [calls], "attempted": 1,
            "failed": int(bool(problems)), "problems": problems}


# --------------------------------------------------------------------------- #
# interactive
# --------------------------------------------------------------------------- #
def run_interactive(spark, spec, tracer) -> dict:
    """Closed loop, one client: one cold round over the call mix (the
    job), ``WARM_UP_ROUNDS`` untimed rounds (none when traced), then
    ``WARM_ROUNDS`` warm rounds, so that each call's median over the
    rounds is robust to one slow round."""
    from perfbench.calls import MIX, check

    tables = {k: spark.read.parquet(v["path"]) for k, v in spec["tables"].items()}
    rows = {k: v["rows"] for k, v in spec["tables"].items()}
    out = os.path.join(spec["work_dir"], "written")
    attempted, problems = 0, []

    def one(call):
        nonlocal attempted
        attempted += 1
        t, lat = time.perf_counter(), None
        try:
            with _span(tracer, f"call.{call.name}"):
                df = call.build(tables, out)
                with _span(tracer, f"{call.layer}.force.{call.name}", call.layer, "force"):
                    got = df.collect()
            lat = time.perf_counter() - t
            bad = check(call, df.columns, got, rows, spec["expect"])
        except Exception as e:  # a failing call is counted, never dropped
            if lat is None:
                lat = time.perf_counter() - t
            bad = f"{call.name}: {type(e).__name__}: {str(e)[:200]}"
        if bad:
            problems.append(bad)
        return lat

    t0 = time.perf_counter()
    with _span(tracer, "job"):
        for call in MIX:
            one(call)
    job_s = time.perf_counter() - t0
    # an untraced process of a traced run only measures the cold job
    warm_up = 0 if spec["job_only"] or tracer is not None else WARM_UP_ROUNDS
    warm = 0 if spec["job_only"] else WARM_ROUNDS
    for _ in range(warm_up):
        for call in MIX:
            one(call)
    with _span(tracer, "warm"):
        rounds = [[one(call) for call in MIX] for _ in range(warm)]
    measured_s = time.perf_counter() - t0
    written = [os.path.join(out, f) for f in (os.listdir(out) if os.path.isdir(out) else ())
               if f.endswith(".parquet")]
    return {"job_s": job_s, "measured_s": measured_s, "rounds": rounds, "attempted": attempted,
            "failed": len(problems), "problems": problems,
            "write_bytes_per_row": sum(map(os.path.getsize, written)) / rows["lineitem"]}


# --------------------------------------------------------------------------- #
# traced-run report
# --------------------------------------------------------------------------- #
def _descendants(spans, root_name):
    roots = [s for s in spans if s.name == root_name and s.kind == "phase"]
    ids = {s.id for s in roots}
    out = list(roots)
    for s in spans:  # spans are stored in start order, parents first
        if s.parent in ids:
            ids.add(s.id)
            out.append(s)
    return out


def traced_report(spark, tracer, counters0, spec, res) -> dict:
    from perfbench.trace import (
        LAYERS, attribute_jobs, drain_listener_bus, jvm_counters, layer_report, rest,
        self_times, stage_owner,
    )

    counters1 = jvm_counters(spark)
    drain_listener_bus(spark)
    sc = spark.sparkContext
    jobs = rest(sc, "jobs")
    stages = rest(sc, "stages")
    attribute_jobs(tracer.spans, jobs)
    owner = stage_owner(jobs)
    by_job: dict[int, list] = {}
    for st in stages:
        if st["stageId"] in owner:
            by_job.setdefault(owner[st["stageId"]], []).append(st)

    def totals(span_set):
        job_ids = {j for s in span_set for j in s.jobs}
        sts = [st for j in job_ids for st in by_job.get(j, ())]
        return job_ids, {
            "tasks": sum(st.get("numCompleteTasks", 0) for st in sts),
            "run_s": sum(st.get("executorRunTime", 0) for st in sts) / 1000.0,
            "shuffle_write": sum(st.get("shuffleWriteBytes", 0) for st in sts),
            "spill": sum(st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
                         for st in sts),
            "input_records": sum(st.get("inputRecords", 0) for st in sts),
            "result_bytes": sum(st.get("resultSize", 0) for st in sts),
        }

    job_spans = _descendants(tracer.spans, "job")
    _, t = totals(job_spans)
    input_rows = sum(v["rows"] for v in spec["tables"].values())
    m = layer_report(tracer.spans, LAYERS)
    selfs = self_times(tracer.spans)
    m["plans.pipeline.self_s"] = sum(selfs[s.id] for s in tracer.spans
                                     if s.name == "plans.pipeline.run_pipeline")
    m["core.session.jvm_start_s"] = res["jvm_start_s"]
    m["core.session.worker_warm_s"] = res["worker_warm_s"]
    m["jvm.jit_s"] = counters1["jit_s"] - counters0["jit_s"]
    m["spark.gc_s"] = counters1["gc_s"] - counters0["gc_s"]
    m["codegen.compile_s"] = counters1["codegen_compile_s"] - counters0["codegen_compile_s"]
    m["codegen.classes"] = counters1["codegen_classes"] - counters0["codegen_classes"]
    m["spark.tasks"] = t["tasks"]
    m["spark.executor_run_s"] = t["run_s"]
    m["spark.slot_util"] = t["run_s"] / (res["job_s"] * spec["cores"])
    m["spark.shuffle_write_bytes"] = t["shuffle_write"]
    m["spark.spill_bytes"] = t["spill"]
    m["spark.scan_amplification"] = t["input_records"] / input_rows
    # per client call: the warm calls on interactive, the job's calls on pipelines
    call_root = "warm" if spec["workload"] == "interactive" else "job"
    call_spans = _descendants(tracer.spans, call_root)
    job_ids, ct = totals(call_spans)
    if spec["workload"] == "interactive":
        n_calls = sum(1 for s in call_spans if s.name.startswith("call."))
    else:
        n_calls = len(res["rounds"][0])
    m["spark.jobs_per_call"] = len(job_ids) / n_calls
    m["spark.driver_result_bytes"] = ct["result_bytes"] / n_calls
    m["sources.io.write_bytes_per_row"] = res.get("write_bytes_per_row", 0.0)
    return m


# --------------------------------------------------------------------------- #
def main(spec_path: str, result_path: str) -> int:
    with open(spec_path) as fh:
        spec = json.load(fh)
    sys.path.insert(0, spec["root"])
    res: dict = {"pid": os.getpid()}
    tracer = None
    if spec["trace"]:
        from perfbench.trace import Tracer

        tracer = Tracer(spec["run_id"])
    spark = None
    try:
        t = time.perf_counter()
        with _span(tracer, "core.session.get_session", "core.session", "call"):
            spark = _session(spec)
        res["jvm_start_s"] = time.perf_counter() - t
        from perfbench.trace import jvm_pid

        res["jvm_pid"] = jvm_pid(spark)
        with open(result_path + ".jvm_pid", "w") as fh:  # lets the parent stop a stuck JVM
            fh.write(str(res["jvm_pid"]))
        sc = spark.sparkContext
        sc.setLogLevel("ERROR")
        t = time.perf_counter()
        with _span(tracer, "core.session.worker_warm", "core.session", "call"):
            if tracer is not None:
                tracer.sc = sc
                sc.setJobGroup(tracer.spans[-1].id, "warm")
            sc.parallelize(range(spec["cores"]), spec["cores"]).map(lambda x: x).count()
        res["worker_warm_s"] = time.perf_counter() - t
        res["setup_s"] = time.monotonic() - spec["spawned_at"]
        counters0 = None
        if tracer is not None:
            from perfbench.trace import instrument, jvm_counters

            instrument(tracer)
            counters0 = jvm_counters(spark)
        if spec["workload"] == "interactive":
            res.update(run_interactive(spark, spec, tracer))
        else:
            res.update(run_profile(spark, spec, tracer))
        from perfbench.stats import vm_hwm_mb

        res["driver_hwm_mb"] = vm_hwm_mb(os.getpid())
        res["jvm_hwm_mb"] = vm_hwm_mb(res["jvm_pid"])
        if tracer is not None:
            res["layers"] = traced_report(spark, tracer, counters0, spec, res)
            tracer.dump(os.path.join(spec["out_dir"], f"{spec['run_id']}.spans.json"),
                        {"workload": spec["workload"], "seed": spec["seed"]})
    except Exception:
        res["crash"] = traceback.format_exc()
    finally:
        if spark is not None:
            spark.stop()
    with open(result_path, "w") as fh:
        json.dump(res, fh)
    return 0 if "crash" not in res else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
