import pickle
import sys
import types

from pyspark import cloudpickle

from perfbench.trace import (
    Span,
    TracedFn,
    Tracer,
    attribute_jobs,
    layer_report,
    outermost,
    self_times,
    stage_owner,
)


def sp(id, start, end, parent=None, layer=None, kind="call", name=None):
    return Span(id=id, name=name or id, layer=layer, kind=kind, start=start, end=end,
                parent=parent)


def test_self_time_subtracts_union_of_children():
    spans = [
        sp("root", 0.0, 10.0, kind="phase"),
        sp("a", 1.0, 4.0, "root"),
        sp("b", 3.0, 6.0, "root"),  # overlaps a: union 1..6
        sp("c", 8.0, 12.0, "root"),  # runs past the parent's end: clipped to 8..10
        sp("a1", 1.5, 2.0, "a"),  # grandchild: counted against a only
    ]
    st = self_times(spans)
    assert st["root"] == 10.0 - 5.0 - 2.0
    assert st["a"] == 3.0 - 0.5
    assert st["b"] == 3.0
    assert st["a1"] == 0.5


def test_outermost_skips_a_layer_calling_itself():
    spans = [
        sp("p", 0, 10, layer="plans.pipeline"),
        sp("q", 1, 5, "p", layer="operators.quality"),
        sp("s", 2, 3, "q", layer="operators.stats"),
        sp("s2", 2.2, 2.8, "s", layer="operators.stats"),
        sp("s3", 6, 7, "p", layer="operators.stats"),
    ]
    assert [s.id for s in outermost(spans, "operators.stats")] == ["s", "s3"]
    rep = layer_report(spans, ("operators.stats", "operators.quality"))
    assert rep["operators.stats.busy_s"] == 2.0
    assert rep["operators.quality.busy_s"] == 4.0


def test_jobs_go_to_the_span_named_by_their_group():
    spans = [sp("r:0", 0, 5, layer="operators.stats"), sp("r:1", 1, 2, "r:0", layer="sources.io")]
    jobs = [
        {"jobId": 0, "jobGroup": "r:0", "stageIds": [0, 1]},
        {"jobId": 1, "jobGroup": "r:1", "stageIds": [1, 2]},
        {"jobId": 2, "jobGroup": "r:0", "stageIds": [3]},
        {"jobId": 3, "jobGroup": "elsewhere", "stageIds": [4]},
    ]
    groups = attribute_jobs(spans, jobs)
    assert spans[0].jobs == [0, 2] and spans[1].jobs == [1]
    assert groups["other:elsewhere"] == [3]
    rep = layer_report(spans, ("operators.stats", "sources.io"))
    assert rep["operators.stats.jobs"] == 2 and rep["sources.io.jobs"] == 1
    # stage 1 ran in job 0; job 1 reused its output and skipped it
    assert stage_owner(jobs) == {0: 0, 1: 0, 2: 1, 3: 2, 4: 3}


def test_tracer_nests_spans_and_records_errors():
    tr = Tracer("run")
    with tr.span("job") as job:
        with tr.span("inner", "operators.text", "call"):
            pass
        try:
            with tr.span("bad", "operators.text", "call"):
                raise ValueError("boom")
        except ValueError:
            pass
    inner, bad = tr.spans[1], tr.spans[2]
    assert inner.parent == job.id and bad.parent == job.id
    assert bad.error == "ValueError" and inner.error is None
    assert layer_report(tr.spans, ("operators.text",))["operators.text.errors"] == 1


def _double(x):
    return 2 * x


def test_traced_fn_records_and_pickles_as_the_original():
    mod = types.ModuleType("perfbench_fake_layer")
    mod.double = _double
    sys.modules[mod.__name__] = mod
    try:
        tr = Tracer("run")
        wrapped = TracedFn(_double, tr, "operators.fake", mod.__name__, "double")
        assert wrapped(4) == 8
        assert [s.name for s in tr.spans] == ["operators.fake.double"]
        assert wrapped.__name__ == "_double"
        # a closure shipped to a worker carries the plain function, not the tracer
        back = pickle.loads(cloudpickle.dumps(wrapped))
        assert back is _double
    finally:
        del sys.modules[mod.__name__]
