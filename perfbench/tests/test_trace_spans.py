"""Span arithmetic on synthetic spans, and the tracer's patching and
job-group handling with a stand-in SparkContext."""

import pytest

from perfbench.trace import UNATTRIBUTED, Span, Tracer, critical_path, self_times


def _pipeline_spans():
    # Root op 0..10 on main.  Main-thread children: a 0..2, b 2..5, c 6..9.
    # Worker thread: w1 1..4 overlaps a and b (never waited on); w2 4..7
    # is waited on during the main-thread gap 5..6.  9..10 is driver glue.
    return [
        Span("op", 0.0, 10.0, "main", None),
        Span("a", 0.0, 2.0, "main", 0),
        Span("b", 2.0, 5.0, "main", 0),
        Span("w1", 1.0, 4.0, "worker", None),
        Span("w2", 4.0, 7.0, "worker", None),
        Span("c", 6.0, 9.0, "main", 0),
        Span("c.inner", 6.5, 7.5, "main", 5),
    ]


def test_self_time_subtracts_children():
    st = self_times(_pipeline_spans())
    assert st[0] == pytest.approx(10.0 - 8.0)  # a, b, c cover 8 of 10
    assert st[5] == pytest.approx(3.0 - 1.0)
    assert st[6] == pytest.approx(1.0)
    assert st[3] == pytest.approx(3.0)  # worker spans have no children


def test_self_time_merges_overlapping_children():
    spans = [
        Span("p", 0.0, 4.0, "t", None),
        Span("x", 0.0, 2.0, "t", 0),
        Span("y", 1.0, 3.0, "t", 0),
    ]
    assert self_times(spans)[0] == pytest.approx(1.0)


def test_critical_path_charges_overlapped_worker_only_for_waits():
    cp = critical_path(_pipeline_spans(), 0)
    assert cp["a"] == pytest.approx(2.0)
    assert cp["b"] == pytest.approx(3.0)
    assert cp["c"] == pytest.approx(3.0)
    assert "w1" not in cp  # fully overlapped with main-thread work
    assert cp["w2"] == pytest.approx(1.0)  # the 5..6 wait
    assert cp[UNATTRIBUTED] == pytest.approx(1.0)
    assert "c.inner" not in cp  # nested spans are inside their parent
    assert sum(cp.values()) == pytest.approx(10.0)


def test_critical_path_splits_a_wait_between_concurrent_workers():
    spans = [
        Span("op", 0.0, 4.0, "main", None),
        Span("m", 0.0, 2.0, "main", 0),
        Span("x", 1.0, 4.0, "w1", None),
        Span("y", 2.0, 3.0, "w2", None),
    ]
    cp = critical_path(spans, 0)
    assert cp["x"] == pytest.approx(0.5 + 1.0)
    assert cp["y"] == pytest.approx(0.5)
    assert sum(cp.values()) == pytest.approx(4.0)


class FakeContext:
    def __init__(self):
        self.props = {}
        self.history = []

    def getLocalProperty(self, key):
        return self.props.get(key)

    def setLocalProperty(self, key, value):
        self.props[key] = value
        self.history.append(value)


class Model:
    @classmethod
    def fit(cls, x):
        return ("fit", cls.__name__, x)

    def stage(self, name):
        return name


def test_span_sets_and_restores_job_group():
    sc = FakeContext()
    tr = Tracer(sc)
    with tr.span("outer"):
        with tr.span("inner"):
            assert sc.getLocalProperty("spark.jobGroup.id") == "inner"
        assert sc.getLocalProperty("spark.jobGroup.id") == "outer"
    assert sc.getLocalProperty("spark.jobGroup.id") is None
    assert [s.parent for s in tr.spans] == [None, 0]


def test_span_restores_job_group_when_the_call_raises():
    sc = FakeContext()
    tr = Tracer(sc)
    with pytest.raises(ValueError):
        with tr.span("x"):
            raise ValueError
    assert sc.getLocalProperty("spark.jobGroup.id") is None
    assert tr.spans[0].end is not None


def test_wrap_and_uninstall_restore_methods_and_classmethods():
    tr = Tracer(FakeContext())
    fit, stage = Model.__dict__["fit"], Model.__dict__["stage"]
    tr.wrap(Model, "fit", "fit")
    tr.wrap(Model, "stage", lambda _self, name: name)
    assert Model.fit(3) == ("fit", "Model", 3)
    assert Model().stage("scored_pairs") == "scored_pairs"
    assert [s.name for s in tr.spans] == ["fit", "scored_pairs"]
    tr.uninstall()
    assert Model.__dict__["fit"] is fit and Model.__dict__["stage"] is stage
    Model.fit(1)
    assert len(tr.spans) == 2
