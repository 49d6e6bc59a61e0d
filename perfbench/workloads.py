"""The benchmark's workloads.

Each workload prepares its inputs in :meth:`load` (repeatable set-up),
runs one timed operation in :meth:`op`, and turns an operation's output
into a digest in :meth:`digest`; the driver loop in ``run.py`` compares
every digest against the first one for the same input.  :meth:`instrument`
installs the workload's spans on a :class:`~perfbench.trace.Tracer` and
:meth:`layers` turns a traced run into per-layer metrics.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import time

import numpy as np
import pandas as pd

from perfbench import inputs
from perfbench.eventlog import total
from perfbench.metrics import DEDUP_PHASES, ER_STAGES, KERNELS
from perfbench.trace import Tracer, critical_path

MB = 1e6


def digest_frame(df: pd.DataFrame) -> str:
    """Order-independent digest of a result table."""
    rows = sorted(map(tuple, df.astype(str).itertuples(index=False)))
    return hashlib.sha256(repr(rows).encode()).hexdigest()


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _artifacts():
    """(model_json, tfidf_json) loaded from disk, bypassing the parse cache."""
    from name_matching_spark.model import train

    train._ARTIFACT_CACHE.clear()
    model, tfidf = train.load_artifacts()
    return model.to_json(), tfidf.to_json()


class Workload:
    name = ""
    op_span = ""  # the root span of a traced operation
    warmup = (2, 4)  # (at least, at most) warm-up rounds of n_keys runs
    min_ops = 2  # measured operations, however short --seconds is
    n_keys = 1  # distinct inputs the operations cycle through

    def __init__(self, spark, seed: int, work: str):
        self.spark = spark
        self.seed = seed
        self.work = work

    def load(self) -> None:
        raise NotImplementedError

    def op(self, i: int):
        raise NotImplementedError

    def digest(self, i: int, out) -> str:
        raise NotImplementedError

    def key(self, i: int):
        """Operations with equal keys must produce equal digests."""
        return 0

    def quality(self, i: int, out) -> float:
        raise NotImplementedError

    def prime(self) -> None:
        """One untimed, unchecked run on a small slice of the input, so the
        JVM compiles and the Python workers start before full-size runs."""

    def release(self, out) -> None:
        pass

    def instrument(self, tracer) -> None:
        pass

    def begin_traced(self) -> None:
        """Called inside the operation's root span, before a traced op."""

    def end_traced(self) -> None:
        """Called inside the operation's root span, after a traced op."""

    def counts(self, outs) -> dict[str, float]:
        """Per-layer counts from the traced ops' outputs (ER keeps only the
        last), taken while Spark is still up."""
        return {}

    def layers(self, tracer, roots, groups, counts) -> dict[str, float]:
        """Per-layer metrics from the traced ops' root spans and the
        event-log groups (complete only once Spark has stopped)."""
        return dict(counts)


def _group_means(groups, names, n):
    m = total(groups, names)
    return {
        "cpu_s": m.cpu_s / n,
        "python_s": m.python_s / n,
        "arrow_mb": m.arrow_bytes / MB / n,
        "shuffle_mb": m.shuffle_bytes / MB / n,
        "spill_mb": m.spill_bytes / MB / n,
        "out_mb": m.out_bytes / MB / n,
        "jobs": m.jobs / n,
        "tasks": m.tasks / n,
    }


class ErBatch(Workload):
    """``EntityResolutionPipeline.run`` into a fresh warehouse."""

    name = "er_batch"
    op_span = "er.run"

    def load(self) -> None:
        d = inputs.er_batch(self.seed)
        self.transcripts = self.spark.read.parquet(os.path.join(d, "transcripts.parquet"))
        self.truth_path = os.path.join(d, "truth.parquet")
        _artifacts()  # the pipeline constructor reuses the parsed artifacts

    def op(self, i: int):
        from name_matching_spark.pipeline import EntityResolutionPipeline

        pipe = EntityResolutionPipeline(self.spark, os.path.join(self.work, f"wh{i}"))
        return pipe, pipe.run(self.transcripts)

    def digest(self, i, out) -> str:
        pipe, _ = out
        ents = pipe.ckpt.read("entities").select("name", "entity_key").toPandas()
        return digest_frame(ents)

    def quality(self, i, out) -> float:
        from scripts.er_quality_at_scale import pair_f1

        pipe, _ = out
        resolved = pipe.ckpt.read("resolved_conversations")
        return pair_f1(self.spark, resolved, self.truth_path)["pair_f1"]

    def release(self, out) -> None:
        shutil.rmtree(out[0].ckpt.warehouse, ignore_errors=True)

    def instrument(self, tracer) -> None:
        from name_matching_spark.functions.tfidf import HashedTfidfModel, TfidfModel
        from name_matching_spark.io.checkpoint import CheckpointManager

        tracer.wrap(CheckpointManager, "stage", lambda _self, name, *a, **k: name)
        tracer.wrap(TfidfModel, "fit_spark", "tfidf")
        tracer.wrap(HashedTfidfModel, "fit_spark", "tfidf")

    def layers(self, tracer, roots, groups, counts) -> dict[str, float]:
        n = len(roots)
        spans = tracer.spans
        out: dict[str, float] = {}
        crit = [critical_path(spans, r) for r in roots]
        for st in ER_STAGES:
            walls = [
                sum(s.duration for s in spans if s.name == st and r0 <= s.start <= r1)
                for r0, r1 in ((spans[r].start, spans[r].end) for r in roots)
            ]
            g = _group_means(groups, {st}, n)
            out[f"{st}.wall_s"] = _median(walls)
            out[f"{st}.critical_s"] = _median([c.get(st, 0.0) for c in crit])
            for f in ("cpu_s", "shuffle_mb", "spill_mb", "out_mb"):
                out[f"{st}.{f}"] = g[f]
        sc = _group_means(groups, {"scored_pairs"}, n)
        out["scored_pairs.python_s"] = sc["python_s"]
        out["scored_pairs.arrow_mb"] = sc["arrow_mb"]
        busy = sc["cpu_s"] + sc["python_s"]
        out["scored_pairs.pairs_per_cpu_s"] = (
            counts["candidate_pairs.rows"] / busy if busy else 0.0
        )
        out.update(counts)
        return out

    def counts(self, outs) -> dict[str, float]:
        from pyspark.sql import functions as F

        pipe = outs[-1][0]
        rows = {st: pipe.ckpt.stored_rows(st) or 0 for st in ER_STAGES}
        matches = pipe.ckpt.read("scored_pairs").where(F.col("prediction") == 1).count()
        comps = (
            pipe.ckpt.read("components")
            .groupBy("component")
            .count()
            .agg(F.count("*").alias("n"), F.max("count").alias("mx"))
            .first()
        )
        out = {
            "conversations.rows": rows["conversations"],
            "names.rows": rows["names"],
            "candidate_pairs.rows": rows["candidate_pairs"],
            "scored_pairs.matches": matches,
            "blocking.pair_yield": matches / max(rows["candidate_pairs"], 1),
            "components.count": comps["n"] or 0,
            "components.max_size": comps["mx"] or 0,
        }
        out.update(kernel_breakdown(pipe, self.seed))
        return out


KERNEL_PAIRS = 5000  # candidate pairs in the kernel-breakdown sample


def kernel_breakdown(pipe, seed: int) -> dict[str, float]:
    """Single-core ``build_features`` + ``predict_margin`` over a seeded
    sample of the run's candidate pairs, with a timer around each public
    kernel ``build_features`` calls; seconds scaled to 20k pairs.  Only the
    outermost timed kernel on the stack is charged, so nested kernel calls
    are not counted twice and the remainder is ``kernel.unattributed``."""
    from name_matching_spark.functions import features, similarity
    from name_matching_spark.functions.tfidf import TfidfModel
    from name_matching_spark.model.gbm import GBMClassifier

    with open(os.path.join(pipe.ckpt.warehouse, "tfidf.json")) as f:
        tfidf = TfidfModel.from_json(f.read())
    model = GBMClassifier.from_json(pipe._model_json)
    pairs = pipe.ckpt.read("candidate_pairs").select("name_x", "name_y").toPandas()
    pairs = pairs.sort_values(["name_x", "name_y"]).reset_index(drop=True)
    rng = np.random.default_rng([seed, 20_000])
    take = rng.choice(len(pairs), size=min(KERNEL_PAIRS, len(pairs)), replace=False)
    xs = pairs.name_x.to_numpy()[take].tolist()
    ys = pairs.name_y.to_numpy()[take].tolist()

    spent = dict.fromkeys(KERNELS, 0.0)
    depth = [0]

    def timer(name):
        def make(fn):
            def timed(*args, **kwargs):
                depth[0] += 1
                t0 = time.perf_counter()
                try:
                    return fn(*args, **kwargs)
                finally:
                    depth[0] -= 1
                    if depth[0] == 0:
                        spent[name] += time.perf_counter() - t0

            return timed

        return make

    patches = Tracer()
    for k in KERNELS:
        if k == "cosine_pairs":
            patches.patch(TfidfModel, k, timer(k))
        else:
            patches.patch(features if k in vars(features) else similarity, k, timer(k))
    try:
        t0 = time.perf_counter()
        X = features.build_features(xs, ys, tfidf)
        t_feat = time.perf_counter() - t0
    finally:
        patches.uninstall()
    t0 = time.perf_counter()
    model.predict_margin(X)
    t_gbm = time.perf_counter() - t0
    scale = 20_000 / max(len(xs), 1)
    out = {f"kernel.{k}.s_per_20k": v * scale for k, v in spent.items()}
    out["kernel.unattributed.s_per_20k"] = (t_feat - sum(spent.values())) * scale
    out["kernel.total.s_per_20k"] = t_feat * scale
    out["gbm.predict_margin.s_per_20k"] = t_gbm * scale
    return out


class StreamAssign(Workload):
    """Closed loop, one caller: ``assign_stream_batch`` on 500-name
    micro-batches against a prebuilt ``EntityTokenIndex``."""

    name = "stream_assign"
    op_span = "stream.batch"
    # Batches keep getting faster for a dozen runs (C2 compiles of Spark's
    # per-batch paths): after six warm-up batches two runs read 1.26 s and
    # 0.95 s per batch, after eighteen the same two inputs read alike.
    warmup = (4, 6)
    min_ops = 3

    def load(self) -> None:
        from pyspark.sql import functions as F

        from name_matching_spark.functions.normalize import normalize_text_col
        from name_matching_spark.streaming import stream_resolve

        d = inputs.stream_assign(self.seed)
        self.model_json, self.tfidf_json = _artifacts()
        table = self.spark.read.parquet(os.path.join(d, "entities.parquet")).select(
            normalize_text_col(F.col("alias"), upper=True).alias("name"),
            F.col("entity_id").cast("string").alias("entity_key"),
            normalize_text_col(F.col("full_name"), upper=True).alias("resolved_name"),
        )
        # A name that normalizes to several entities has no right answer:
        # keep only unambiguous member names, so the index is deterministic.
        unique = (
            table.groupBy("name")
            .agg(F.countDistinct("entity_key").alias("k"))
            .where("k = 1")
            .select("name")
        )
        self.index = stream_resolve.EntityTokenIndex(table.join(unique, "name"))
        b = pd.read_parquet(os.path.join(d, "batches.parquet"))
        self.n_keys = int(b["batch"].max()) + 1
        self.batches = []
        self.truth = {}
        for k in range(self.n_keys):
            part = b[b["batch"] == k]
            df = self.spark.createDataFrame(part[["conv_id", "alias"]]).select(
                "conv_id", normalize_text_col(F.col("alias"), upper=True).alias("name")
            )
            self.batches.append(df)
            self.truth[k] = dict(zip(part.conv_id, part.entity_id.astype(str)))

    def key(self, i: int):
        return i % self.n_keys

    def op(self, i: int):
        from name_matching_spark.streaming import stream_resolve

        return stream_resolve.assign_stream_batch(
            self.batches[self.key(i)], self.index, self.model_json, self.tfidf_json
        ).toPandas()

    def digest(self, i, out) -> str:
        return digest_frame(out[["conv_id", "name", "entity_key", "status"]])

    def quality(self, i, out) -> float:
        truth = self.truth[self.key(i)]
        ok = sum(
            1
            for c, e in zip(out.conv_id, out.entity_key)
            if e is not None and truth.get(c) == e
        )
        return ok / len(truth)

    def instrument(self, tracer) -> None:
        from name_matching_spark.streaming import stream_resolve

        tracer.wrap(stream_resolve.EntityTokenIndex, "__init__", "streaming.index_build")
        tracer.wrap(stream_resolve, "assign_stream_batch", "streaming.assign_plan")

    def counts(self, outs) -> dict[str, float]:
        names = [nm for o in outs for nm in o["name"]]
        members = set(self.index.members.toPandas()["name"])
        return {
            "streaming.exact_share": sum(nm in members for nm in names) / max(len(names), 1),
            "streaming.pending_share": sum((o["status"] == "pending").sum() for o in outs)
            / max(len(names), 1),
        }

    def layers(self, tracer, roots, groups, counts) -> dict[str, float]:
        g = _group_means(groups, {self.op_span, "streaming.assign_plan"}, len(roots))
        return {
            "streaming.index_build_s": _median(
                [s.duration for s in tracer.spans if s.name == "streaming.index_build"]
            ),
            "streaming.batch_cpu_s": g["cpu_s"],
            "streaming.batch_python_s": g["python_s"],
            "streaming.batch_jobs": g["jobs"],
            "streaming.batch_tasks": g["tasks"],
            **counts,
        }


class TurnDedup(Workload):
    """``dedup_pipeline`` over every transcript turn; the drop list is
    collected to the driver (every run's output is checked)."""

    name = "turn_dedup"
    op_span = "dedup.op"

    def load(self) -> None:
        d = inputs.turn_dedup(self.seed)
        path = os.path.join(d, "docs.parquet")
        self.docs = self.spark.read.parquet(path)
        pdocs = pd.read_parquet(path)
        keep = pdocs.groupby("text")["doc_id"].transform("min")
        self.exact_ref = set(pdocs.doc_id[pdocs.doc_id != keep])
        self.max_group = int(pdocs.groupby("text").size().max())
        self.n_docs = len(pdocs)

    def op(self, i: int, docs=None):
        from name_matching_spark.operators import dedup

        return dedup.dedup_pipeline(self.docs if docs is None else docs).toPandas()

    def prime(self) -> None:
        self.op(-1, self.docs.where(f"doc_id < {self.n_docs // 10}"))

    def digest(self, i, out) -> str:
        return digest_frame(out[["key", "reason"]])

    def quality(self, i, out) -> float:
        """F1 of the ``exact_dup`` drops against a pandas reference."""
        got = set(out.key[out.reason == "exact_dup"])
        tp = len(got & self.exact_ref)
        if not tp:
            return 0.0
        p, r = tp / len(got), tp / len(self.exact_ref)
        return 2 * p * r / (p + r)

    def instrument(self, tracer) -> None:
        from name_matching_spark.operators import dedup

        self._phases = phases = _Phases(tracer, [f"dedup.{p}" for p in DEDUP_PHASES])

        def entering(k):
            def make(fn):
                def switched(*args, **kwargs):
                    phases.enter(k)
                    return fn(*args, **kwargs)

                return switched

            return make

        tracer.patch(dedup, "_floor_parallelism", entering(1))
        tracer.patch(dedup, "ngram_jaccard_pairs", entering(2))

    def begin_traced(self) -> None:
        self._phases.enter(0)

    def end_traced(self) -> None:
        self._phases.reset()

    def counts(self, outs) -> dict[str, float]:
        """Survivor, LSH-candidate and verified-pair counts, recomputed with
        ``dedup_pipeline``'s default parameters."""
        from pyspark.sql import functions as F

        from name_matching_spark.operators import dedup

        survivors = (
            self.docs.groupBy("text").agg(F.min("doc_id").alias("doc_id")).localCheckpoint()
        )
        cands = dedup.minhash_lsh_pairs(survivors).localCheckpoint()
        n_cands = cands.count()
        n_verified = dedup.ngram_jaccard_pairs(cands, survivors).count()
        return {
            "dedup.survivors": survivors.count(),
            "dedup.lsh_pairs": n_cands,
            "dedup.verify_yield": n_verified / max(n_cands, 1),
            "dedup.max_group_size": self.max_group,
        }

    def layers(self, tracer, roots, groups, counts) -> dict[str, float]:
        n = len(roots)
        out = dict(counts)
        for ph in DEDUP_PHASES:
            name = f"dedup.{ph}"
            g = _group_means(groups, {name}, n)
            out[f"{name}.wall_s"] = sum(s.duration for s in tracer.spans if s.name == name) / n
            out[f"{name}.cpu_s"] = g["cpu_s"]
            out[f"{name}.shuffle_mb"] = g["shuffle_mb"]
        return out


class _Phases:
    """Sequential phase spans inside one operation: entering phase k closes
    the open phase span and opens span k (phases only move forward)."""

    def __init__(self, tracer, names):
        self.tracer = tracer
        self.names = names
        self.current = -1
        self._cm = None

    def enter(self, k: int) -> None:
        if k <= self.current:
            return
        self.close()
        self.current = k
        self._cm = self.tracer.span(self.names[k])
        self._cm.__enter__()

    def close(self) -> None:
        if self._cm is not None:
            self._cm.__exit__(None, None, None)
            self._cm = None

    def reset(self) -> None:
        self.close()
        self.current = -1


WORKLOADS = {w.name: w for w in (ErBatch, StreamAssign, TurnDedup)}
