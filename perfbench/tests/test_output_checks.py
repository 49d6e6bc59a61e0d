"""Output checks: a digest mismatch or an exception is a failed op, counted
and never retried; digests ignore row order; ER quality is the quality
script's pair F1."""

import pandas as pd

from perfbench.run import Runner
from perfbench.workloads import ErBatch, digest_frame


class FakeWorkload:
    """Op i returns a two-row table; ``bad`` ops return a changed table,
    ``boom`` ops raise.  Two input keys alternate, like stream batches."""

    def __init__(self, bad=(), boom=()):
        self.bad, self.boom = set(bad), set(boom)
        self.qualities = []

    def key(self, i):
        return i % 2

    def op(self, i):
        if i in self.boom:
            raise RuntimeError("executor lost")
        rows = [("a", self.key(i)), ("b", 1)]
        if i in self.bad:
            rows[1] = ("b", 2)
        return pd.DataFrame(rows[::-1] if i % 3 else rows, columns=["name", "entity_key"])

    def digest(self, i, out):
        return digest_frame(out)

    def quality(self, i, out):
        self.qualities.append(i)
        return 1.0


def test_clean_runs_pass():
    r = Runner(FakeWorkload())
    for i in range(6):
        r.run(i)
    assert (r.attempted, r.failed, r.errors) == (6, 0, [])
    assert set(r.baseline) == {0, 1} and len(r.quality) == 2


def test_injected_mismatch_fails_the_op():
    w = FakeWorkload(bad={4})
    r = Runner(w)
    for i in range(6):
        r.run(i)
    assert r.attempted == 6 and r.failed == 1
    assert "op 4" in r.errors[0] and "digest" in r.errors[0]


def test_exception_is_counted_not_retried():
    r = Runner(FakeWorkload(boom={3}))
    results = [r.run(i) for i in range(5)]
    assert r.attempted == 5 and r.failed == 1
    assert results[3][1] is None
    assert "RuntimeError" in r.errors[0]


def test_digest_ignores_row_order_but_not_values():
    a = pd.DataFrame({"k": ["x", "y"], "v": [1, 2]})
    assert digest_frame(a) == digest_frame(a.iloc[::-1])
    assert digest_frame(a) != digest_frame(a.assign(v=[1, 3]))


def test_er_quality_is_the_pair_f1_of_the_quality_script(monkeypatch):
    # set first, so importing the script does not set a 24g driver default
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "1g")
    import scripts.er_quality_at_scale as q

    calls = []

    def pair_f1(spark, resolved, truth_path):
        calls.append((spark, resolved, truth_path))
        return {"pair_recall": 1.0, "pair_precision": 0.6, "pair_f1": 0.75}

    monkeypatch.setattr(q, "pair_f1", pair_f1)

    class Ckpt:
        def read(self, stage):
            return f"<{stage}>"

    class Pipe:
        ckpt = Ckpt()

    w = ErBatch("<spark>", 1, "<work>")
    w.truth_path = "<truth.parquet>"
    assert w.quality(0, (Pipe(), None)) == 0.75
    assert calls == [("<spark>", "<resolved_conversations>", "<truth.parquet>")]
