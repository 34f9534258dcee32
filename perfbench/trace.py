"""Traced runs: spans around each layer's public functions, Spark jobs
attributed to spans through job groups, and JVM counter deltas.

Spans are recorded from the benchmark's side only: ``instrument`` swaps
each public function of a layer module for a ``TracedFn`` that opens a
span named ``<layer>.<function>`` and tags the Spark jobs it launches
with ``setJobGroup(<span id>)``.  Nothing in the program changes; calls
made through a module attribute (``quality.outlier_detection(...)`` or
``getattr(stats, name)``) are traced, calls through a reference bound
before ``instrument`` ran are not.

Spans stay in memory until ``Tracer.dump`` writes them as JSON.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import os
import sys
import time
import urllib.request
from dataclasses import asdict, dataclass, field

# the layers, by module, in the order reports list them
LAYERS = (
    "core.session",
    "sources.io",
    "operators.ingest",
    "operators.quality",
    "operators.stats",
    "operators.transformers",
    "operators.transformers_ml",
    "operators.association",
    "operators.varclus",
    "operators.drift",
    "plans.report_frames",
    "plans.pipeline",
    "operators.text",
    "operators.dedup",
    "operators.similarity",
    "operators.temporal",
    "operators.datetime_ops",
    "operators.geospatial",
    "operators.timeseries",
)
PACKAGE = "anovos_spark"

# every per-layer metric a traced run reports, with its unit
PER_LAYER_UNITS = {
    **{f"{layer}.{m}": u for layer in LAYERS
       for m, u in (("busy_s", "s"), ("call_s", "s"), ("jobs", "count"), ("errors", "count"))},
    "plans.pipeline.self_s": "s",
    "core.session.jvm_start_s": "s",
    "core.session.worker_warm_s": "s",
    "jvm.jit_s": "s",
    "codegen.compile_s": "s",
    "codegen.classes": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.slot_util": "ratio",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.scan_amplification": "ratio",
    "spark.jobs_per_call": "count",
    "spark.driver_result_bytes": "bytes",
    "sources.io.write_bytes_per_row": "bytes",
    "trace.overhead_s": "s",
}
ROOT_GROUP = "perfbench-root"


@dataclass
class Span:
    id: str
    name: str
    layer: str | None
    kind: str  # "call" (until the call returns), "force" or "phase"
    start: float
    end: float | None = None
    parent: str | None = None
    run_id: str = ""
    error: str | None = None
    jobs: list = field(default_factory=list)

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


class Tracer:
    """Records spans for one run.  Spans opened before ``sc`` (a
    SparkContext) is set carry no job group."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.sc = None
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._pid = os.getpid()

    def _set_group(self, group: str) -> None:
        if self.sc is not None:
            self.sc.setJobGroup(group, group)

    def open(self, name: str, layer: str | None, kind: str) -> Span:
        span = Span(
            id=f"{self.run_id}:{len(self.spans)}", name=name, layer=layer, kind=kind,
            start=time.perf_counter(),
            parent=self._stack[-1].id if self._stack else None, run_id=self.run_id,
        )
        self.spans.append(span)
        self._stack.append(span)
        self._set_group(span.id)
        return span

    def close(self, span: Span, error: BaseException | None = None) -> None:
        span.end = time.perf_counter()
        if error is not None:
            span.error = type(error).__name__
        if not self._stack or self._stack[-1] is not span:
            raise RuntimeError(f"span {span.name} closed out of order")
        self._stack.pop()
        self._set_group(self._stack[-1].id if self._stack else ROOT_GROUP)

    def span(self, name: str, layer: str | None = None, kind: str = "phase"):
        return _SpanContext(self, name, layer, kind)

    def dump(self, path: str, extra: dict | None = None) -> None:
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": [asdict(s) for s in self.spans],
                       **(extra or {})}, fh)


class _SpanContext:
    def __init__(self, tracer, name, layer, kind):
        self.args = (tracer, name, layer, kind)

    def __enter__(self) -> Span:
        tracer, name, layer, kind = self.args
        self.span = tracer.open(name, layer, kind)
        return self.span

    def __exit__(self, exc_type, exc, tb):
        self.args[0].close(self.span, exc)
        return False


class TracedFn:
    """A layer function that records a call span around each call made
    in the tracing process.  Pickles as the module attribute it
    replaced, so a worker process receives the plain function."""

    def __init__(self, fn, tracer: Tracer, layer: str, module: str, name: str):
        functools.update_wrapper(self, fn)
        self._fn, self._tracer, self._layer = fn, tracer, layer
        self._module, self._name = module, name

    def __call__(self, *args, **kwargs):
        if os.getpid() != self._tracer._pid:
            return self._fn(*args, **kwargs)
        span = self._tracer.open(f"{self._layer}.{self._name}", self._layer, "call")
        try:
            out = self._fn(*args, **kwargs)
        except BaseException as e:
            self._tracer.close(span, e)
            raise
        self._tracer.close(span)
        return out

    def __reduce__(self):
        return getattr, (sys.modules[self._module], self._name)


def instrument(tracer: Tracer, layers=LAYERS) -> None:
    """Wrap every public function defined in each layer module, for the
    rest of the process."""
    for layer in layers:
        modname = f"{PACKAGE}.{layer}"
        mod = importlib.import_module(modname)
        for name, fn in list(vars(mod).items()):
            if name.startswith("_") or not inspect.isfunction(fn) or fn.__module__ != modname:
                continue
            setattr(mod, name, TracedFn(fn, tracer, layer, modname, name))


# --------------------------------------------------------------------------- #
# span arithmetic
# --------------------------------------------------------------------------- #
def _union_length(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans) -> dict[str, float]:
    """Span id -> its duration minus the part of its interval that its
    direct children cover."""
    children: dict[str, list] = {}
    for s in spans:
        if s.parent is not None and s.end is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        if s.end is None:
            continue
        covered = _union_length(
            (max(c.start, s.start), min(c.end, s.end))
            for c in children.get(s.id, ()) if min(c.end, s.end) > max(c.start, s.start)
        )
        out[s.id] = s.duration - covered
    return out


def outermost(spans, layer: str):
    """Spans of ``layer`` whose ancestors are all of other layers, so
    that a layer calling itself is not counted twice."""
    by_id = {s.id: s for s in spans}

    def nested(s):
        p = by_id.get(s.parent)
        while p is not None:
            if p.layer == layer:
                return True
            p = by_id.get(p.parent)
        return False

    return [s for s in spans if s.layer == layer and s.end is not None and not nested(s)]


def attribute_jobs(spans, jobs) -> dict[str, list]:
    """Assign Spark jobs (REST ``JobData`` dicts) to the span whose id is
    their job group; return span id -> job ids.  Jobs of other groups
    are returned under their group name."""
    ids = {s.id for s in spans}
    out: dict[str, list] = {}
    for j in jobs:
        group = j.get("jobGroup")
        out.setdefault(group if group in ids else f"other:{group}", []).append(j["jobId"])
    for s in spans:
        s.jobs = sorted(out.get(s.id, []))
    return out


def stage_owner(jobs) -> dict[int, int]:
    """Stage id -> the first job listing it, which is the one that ran
    it: later jobs reusing the shuffle output skip the stage."""
    owner: dict[int, int] = {}
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        for sid in j.get("stageIds", ()):
            owner.setdefault(sid, j["jobId"])
    return owner


def layer_report(spans, layers=LAYERS) -> dict[str, float]:
    """<layer>.busy_s / call_s / jobs / errors for every layer."""
    out = {}
    for layer in layers:
        top = outermost(spans, layer)
        out[f"{layer}.busy_s"] = sum(s.duration for s in top)
        out[f"{layer}.call_s"] = sum(s.duration for s in top if s.kind == "call")
        out[f"{layer}.errors"] = sum(1 for s in top if s.error)
        out[f"{layer}.jobs"] = sum(len(s.jobs) for s in spans if s.layer == layer)
    return out


# --------------------------------------------------------------------------- #
# Spark status REST API and JVM MXBeans
# --------------------------------------------------------------------------- #
def rest(sc, path: str):
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
    with urllib.request.urlopen(url, timeout=30) as resp:
        return json.load(resp)


def drain_listener_bus(spark) -> None:
    """Wait until the status store has seen every finished job."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def jvm_counters(spark) -> dict[str, float]:
    """JIT, GC and whole-stage-codegen counters of the driver JVM."""
    jvm = spark.sparkContext._jvm
    mf = jvm.java.lang.management.ManagementFactory
    gc_ms = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    cg = jvm.org.apache.spark.metrics.source.CodegenMetrics
    hist = cg.METRIC_COMPILATION_TIME()
    return {
        "jit_s": mf.getCompilationMXBean().getTotalCompilationTime() / 1000.0,
        "gc_s": gc_ms / 1000.0,
        # the histogram keeps a sample of compile times: count x mean
        "codegen_compile_s": hist.getCount() * hist.getSnapshot().getMean() / 1000.0,
        "codegen_classes": float(cg.METRIC_GENERATED_CLASS_BYTECODE_SIZE().getCount()),
    }


def jvm_pid(spark) -> int:
    name = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getName()
    return int(str(name).split("@")[0])
