"""The end-to-end entity-resolution pipeline (batch, resumable).

Re-architects the reference's 10-stage pandas flow
(entity_resolution.py:368-433 in vietexob/name-matching) as checkpointed
Spark stages:

  transcripts --canonicalize--> conversations (turn collapse + mention)
              --names---------> distinct normalized names
              --block---------> candidate pairs (token/phonetic/LSH keys)
              --score---------> features + probability + decision @0.85
              --cluster-------> connected components over matched edges
              --resolve-------> entity table + resolved conversations

Every stage lands in the warehouse with a manifest (rows, per-partition
lineage, timing); a rerun resumes from the last complete stage.  Shuffle
boundaries: the canonicalize groupBy, the blocking key exchange, the pair
dedup, and the CC iterations — everything else is narrow.
"""

from __future__ import annotations

import hashlib
import time
import traceback

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import json
import os

from name_matching_spark.functions.tfidf import ADAPTIVE_VOCAB_CEILING, TfidfModel
from name_matching_spark.io.checkpoint import CheckpointManager
from name_matching_spark.model.train import load_artifacts, load_train_corpus
from name_matching_spark.operators.blocking import (
    block_stats,
    candidate_pairs,
    materialized_blocking_keys,
)
from name_matching_spark.operators.canonicalize import canonicalize
from name_matching_spark.operators.clustering import (
    EVIDENCE_MAX_ALIGN,
    EVIDENCE_MIN_COSINE,
    connected_components,
    refined_components,
    subsumption_aware_components,
)
from name_matching_spark.operators.resolve import entity_table, resolve_records
from name_matching_spark.operators.scoring import score_pairs


class EntityResolutionPipeline:
    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        threshold: float = 0.85,
        max_block: int = 100,
        run_id: str | None = None,
        keep_features: bool = False,
        clustering: str = "cc",
        refine_max_component: int | str | None = "auto",
        refine_ladder: tuple[float, ...] = (
            0.92, 0.96, 0.99, 0.995, 0.999, 0.9999, 0.99999,
        ),
        refine_evidence_min_size: int | None = 2,
        tfidf_mode: str = "adaptive",
        tfidf_n_buckets: int = 1 << 20,
        subsume_attach: bool = True,
        overlap_tfidf: bool = True,
    ):
        self.spark = spark
        self.ckpt = CheckpointManager(spark, warehouse, run_id)
        self.threshold = threshold
        self.max_block = max_block
        # "cc" (default): distributed connected components — the north
        # rule's transitive clustering.  "louvain": the reference's exact
        # community semantics (driver-side, size-gated; operators/louvain.py).
        self.clustering = clustering
        # Components larger than refine_max_component NAMES are re-clustered
        # on their internal edges up the threshold ladder (clustering.py:
        # refined_components) — the guard against transitive mega-merges at
        # corpus scale.  None disables (pure CC at the base threshold).
        # Default "auto" derives the cap from the corpus's distinct-name
        # count AND the ladder shape (clustering.resolve_auto_cap).  The
        # default LADDER now ends in two margin rungs (0.9999 / 0.99999 —
        # above 0.999 a rung compares the GBM's raw log-odds margin against
        # logit(t), because the 4dp probability saturates there), and under
        # it the three-scale sweep (scripts/cluster_knob_sweep.py,
        # BENCH/QUALITY.md) measures the F1-best cap as SCALE-INVARIANT at
        # 4 (~ one entity's alias fan-out): F1 .852/.734/.763 at
        # 31k/307k/927k distinct names vs .851/.720/.704 for the previous
        # short-ladder scale-adaptive cap — the margin rungs buy the
        # discriminating power that larger caps used to.  With a legacy
        # short ladder (no rung above 0.999) "auto" falls back to the
        # piecewise log-linear anchors measured for it (4/6/~12).  Recall
        # is cap-invariant at every scale (the attach recovers whatever a
        # tighter cap sheds), so the cap buys precision only.
        if isinstance(refine_max_component, str) and refine_max_component != "auto":
            raise ValueError(
                "refine_max_component must be an int, None, or the string "
                f"'auto'; got {refine_max_component!r}"
            )
        self.refine_max_component = refine_max_component
        self.refine_ladder = tuple(refine_ladder)
        # Size at which the EVIDENCE rung applies (None = the ladder cap;
        # default 2 = every multi-name component).  The measured FP mass at
        # fixture scale sits in SMALL mixed clusters (3-5 names) glued by
        # evidence-free 0.95-0.99 edges the ladder never sees; pruning any
        # glue edge that carries neither a shared informative token nor a
        # near-exact string relation is the best measured precision/recall
        # trade at BOTH quality scales (10k F1 0.793 -> 0.826, 100k
        # 0.704 -> 0.736 — BENCH/QUALITY.md sweep).
        self.refine_evidence_min_size = refine_evidence_min_size
        # "adaptive": corpus-adaptive vocabulary (every term, 1M ceiling).
        # "hashed": hashing-trick TF-IDF — O(n_buckets) memory regardless
        # of corpus term diversity; the fit for corpora past the ceiling.
        self.tfidf_mode = tfidf_mode
        self.tfidf_n_buckets = int(tfidf_n_buckets)
        # Route subsumption match edges (initial/diminutive extension
        # forms — clustering.subsumption_edge_cond) through post-cluster
        # ATTACHMENT instead of transitive gluing.  Default ON: this is
        # the guard whose value GROWS with corpus size — measured pair
        # precision at 100k entities is 0.66 with it and 0.13 without
        # (ambiguous initial forms weld 800-name mega-clusters), while at
        # 10k it costs a few precision/recall points against the pure
        # ladder (BENCH/QUALITY.md knob sweep, both scales).
        self.subsume_attach = bool(subsume_attach)
        # keep_features=True persists every per-pair feature column in the
        # scored_pairs checkpoint (debugging/analysis); default off — at
        # scale it multiplies the Arrow + parquet volume ~15x.
        self.keep_features = keep_features
        # Run the TF-IDF fit concurrently with the blocking stages (both
        # depend only on the names checkpoint — guide §2.6).  False forces
        # the sequential order (A/B measurement, debugging).
        self.overlap_tfidf = bool(overlap_tfidf)
        model, _ = load_artifacts()
        self._model_json = model.to_json()
        self.timings: dict[str, float] = {}

    def _stage(self, name: str, fn, inputs=None, params=None) -> DataFrame:
        t0 = time.time()
        out = self.ckpt.stage(name, fn, inputs=inputs, params=params)
        self.timings[name] = round(time.time() - t0, 3)
        return out

    def _tfidf_stage(self, names: DataFrame, fp: dict) -> tuple[str, dict]:
        """Fit (or resume) the corpus-adaptive TF-IDF; returns (json, meta).

        The sidecar ``tfidf.json.meta`` records the input fingerprint and a
        hash of the training corpus the vocabulary was fitted over; a
        resume serves the stored vocabulary ONLY when both match (the same
        param-aware rule every table stage follows).  Existence alone is
        not enough: resuming an existing warehouse against a different
        transcripts table (or a retrained corpus artifact) must refit, not
        silently score with the old vocabulary.  The meta file is written
        LAST and binds the json CONTENT by hash — a crash between the two
        writes (new json, old meta) therefore reads as a mismatch and
        refits, never as a valid pair.
        """
        path = os.path.join(self.ckpt.warehouse, "tfidf.json")
        meta_path = path + ".meta"
        corpus = load_train_corpus()
        fingerprint = {
            **fp,
            "corpus_md5": hashlib.md5(
                json.dumps(corpus, sort_keys=True).encode()
            ).hexdigest(),
            # fit config is part of the identity so a mode/cap change
            # invalidates the sidecar — derived from the REAL parameter
            # values, never literals, so changing n_buckets or the adaptive
            # ceiling cannot silently serve a stale vocabulary on resume
            "fit_cfg": (
                f"hashed-{self.tfidf_n_buckets}"
                if self.tfidf_mode == "hashed"
                else f"adaptive-{ADAPTIVE_VOCAB_CEILING}"
            ),
        }
        if os.path.exists(path) and os.path.exists(meta_path):
            try:
                with open(meta_path) as f:
                    stored = json.load(f)
                with open(path) as f:
                    stored_json = f.read()
            except Exception:
                stored = stored_json = None
            if (
                stored is not None
                and {k: stored.get(k) for k in fingerprint}
                == json.loads(json.dumps(fingerprint))
                and stored.get("json_md5")
                == hashlib.md5(stored_json.encode()).hexdigest()
            ):
                return stored_json, stored
        t0 = time.time()
        if self.tfidf_mode == "hashed":
            from name_matching_spark.functions.tfidf import HashedTfidfModel

            tfidf = HashedTfidfModel.fit_spark(
                names,
                name_col="name",
                extra_corpus=corpus,
                n_buckets=self.tfidf_n_buckets,
            )
        else:
            tfidf = TfidfModel.fit_spark(
                names, name_col="name", extra_corpus=corpus, max_features=None
            )
        payload = tfidf.to_json()
        meta = {
            **fingerprint,
            "json_md5": hashlib.md5(payload.encode()).hexdigest(),
            # EFFECTIVE fit (may differ from the requested fit_cfg: the
            # adaptive fit auto-switches to hashed past its term ceiling).
            # Deterministic in (corpus, input, fit_cfg) — all compared
            # fingerprint keys — so serving a stored artifact is safe;
            # recorded for observability and flows into the scored_pairs
            # fingerprint via json_md5 (a mode flip re-scores).
            "effective_fit": (
                f"hashed-{tfidf.n_buckets}"
                if hasattr(tfidf, "n_buckets")
                else f"adaptive-{len(tfidf.vocab)}"
            ),
        }
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            f.write(payload)
        os.replace(tmp, path)  # resume must never see a torn artifact
        tmp = meta_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, meta_path)
        self.timings["tfidf"] = round(time.time() - t0, 3)
        return payload, meta

    def run(
        self, transcripts: DataFrame, embeddings: DataFrame | None = None
    ) -> dict[str, DataFrame]:
        """``embeddings``: optional (name, embedding array) table of
        PRE-COMPUTED vectors for (a subset of) normalized names — the
        reference's sentence-embedding F7 channel without the model
        dependency.  Joined per pair side before scoring; pairs whose
        vectors reach the scorer's ``emb_threshold`` cosine match even
        with zero lexical overlap (operators/scoring.py).  Names without
        a vector fall back to the string decision alone."""
        # Input fingerprint: the normalized-plan hash of the input table.
        # Recorded in every stage manifest so a resume against a different
        # transcripts table (or different stage parameters) recomputes
        # instead of silently serving stale results.
        in_fp = {"input": transcripts.semanticHash()}
        conv = self._stage(
            "conversations", lambda: canonicalize(transcripts), params=in_fp
        )
        names = self._stage(
            "names",
            lambda: conv.where(
                F.col("name").isNotNull() & (F.length("name") > 0)
            )
            .select("name")
            .distinct(),
            inputs=["conversations"],
            params=in_fp,
        )
        block_params = {**in_fp, "max_block": self.max_block}
        # candidate_pairs and block_metrics consume the SAME blocking-key
        # table (metaphone UDF + MinHash signatures over every name — the
        # expensive part of blocking).  Materialize it lazily, on first
        # use: if both stages resume from checkpoint the keys are never
        # computed at all; if either recomputes, the other reuses the
        # same localCheckpoint instead of re-running the key pass.
        _keys_cache: list = []

        def blocking_keys_once():
            if not _keys_cache:
                _keys_cache.append(materialized_blocking_keys(names))
            return _keys_cache[0]

        # Corpus-adaptive TF-IDF: distributed fit over training ∪ resolution
        # names (checkpointed like any stage — only the 10k-term vocab is
        # collected/stored, never the name table).  The fit and the blocking
        # stages both depend ONLY on the materialized names checkpoint and
        # neither reads the other's output, so the fit runs on a worker
        # thread while blocking runs on this one (guide §2.6 overlap
        # independent jobs): both are driver-coordination-bound at bench
        # scale and neither saturates the executor, so the scheduler
        # interleaves their jobs instead of idling between round trips.
        # Results are unchanged by construction — each thread's computation
        # is internally deterministic and reads only the shared immutable
        # checkpoint — and the future is joined (exceptions re-raised)
        # before anything downstream consumes the vocabulary.
        from concurrent.futures import ThreadPoolExecutor

        _pool = ThreadPoolExecutor(max_workers=1)
        background = []
        try:
            if self.overlap_tfidf:
                tfidf_future = _pool.submit(self._tfidf_stage, names, in_fp)
                background.append(tfidf_future)
            else:
                tfidf_json, tfidf_meta = self._tfidf_stage(names, in_fp)
            pairs = self._stage(
                "candidate_pairs",
                lambda: candidate_pairs(
                    names, max_block=self.max_block, keys=blocking_keys_once()
                ),
                inputs=["names"],
                params=block_params,
            )

            def _block_metrics_stage():
                return self._stage(
                    "block_metrics",
                    lambda: block_stats(
                        names, max_block=self.max_block, keys=blocking_keys_once()
                    ),
                    inputs=["names"],
                    params=block_params,
                )

            if self.overlap_tfidf:
                # The metrics side-output is consumed by nothing downstream;
                # run it on the worker once the fit has returned, so it
                # overlaps the scorer stage instead of sitting between
                # candidate_pairs and scored_pairs on the critical path (and
                # a failed fit never starts it).  candidate_pairs has
                # already populated the keys cache on this thread, so the
                # worker only reads the materialized frame (no keys race).
                # The pool is NOT a context manager here: its shutdown join
                # happens in the finally below, so the metrics job keeps
                # running while the main thread proceeds into the scorer.
                tfidf_json, tfidf_meta = tfidf_future.result()
                block_future = _pool.submit(_block_metrics_stage)
                background.append(block_future)
            else:
                _block_metrics_stage()
            # Repartition before the Arrow-UDF scorer: the checkpointed pair
            # table is small on disk and AQE would coalesce it to a few
            # partitions, starving the (CPU-bound) scorer of parallelism.
            # 1x parallelism, not 2x: each task pays a Python-worker Arrow
            # round-trip, and the measured sweet spot is one ~20k-row Arrow
            # batch per core (32 parts 3.10s / 64 parts 3.29s / 128 parts
            # 4.27s on the 230k-pair bench stage).
            n_part = self.spark.sparkContext.defaultParallelism
            # Artifact identity rides in the params: a scored_pairs checkpoint
            # produced with an older model or TF-IDF vocabulary must not be
            # served after either artifact changes.
            score_params = {
                **block_params,
                "threshold": self.threshold,
                "keep_features": self.keep_features,
                "model_md5": hashlib.md5(self._model_json.encode()).hexdigest(),
                "tfidf": tfidf_meta,
                # plan-hash of the optional embedding channel: a changed or
                # newly-supplied vector table must invalidate scored_pairs
                "embeddings": embeddings.semanticHash() if embeddings is not None else None,
            }

            def _score_stage():
                p = pairs.repartition(n_part)
                if embeddings is not None:
                    from name_matching_spark.operators.similarity_search import (
                        embedding_candidates,
                    )

                    e = embeddings.select(
                        F.col("name"), F.col("embedding").alias("_v")
                    )
                    dim_row = embeddings.select(
                        F.size("embedding").alias("d")
                    ).first()
                    # Zero-lexical-overlap aliases never co-block on strings:
                    # the semantic channel contributes its own LSH candidates.
                    sem = embedding_candidates(
                        embeddings, dim=int(dim_row["d"]) if dim_row else 32
                    )
                    p = p.unionByName(sem).dropDuplicates(["name_x", "name_y"])
                    p = (
                        p.join(
                            e.withColumnRenamed("name", "name_x").withColumnRenamed(
                                "_v", "emb_x"
                            ),
                            "name_x",
                            "left",
                        ).join(
                            e.withColumnRenamed("name", "name_y").withColumnRenamed(
                                "_v", "emb_y"
                            ),
                            "name_y",
                            "left",
                        )
                    )
                scored = score_pairs(
                    p,
                    self._model_json,
                    tfidf_json,
                    threshold=self.threshold,
                    keep_features=self.keep_features,
                )
                # vectors themselves never persist into the checkpoint — only
                # their cosine and the decision they influenced
                return scored.drop("emb_x", "emb_y")

            scored = self._stage(
                "scored_pairs",
                _score_stage,
                inputs=["candidate_pairs", "tfidf"],
                params=score_params,
            )
            if self.overlap_tfidf:
                block_future.result()  # surface worker failures; completes ~with scorer
            matches = scored.where(F.col("prediction") == 1)
            # Resolve the scale-adaptive ladder cap once, against the
            # checkpointed names table, so the resolved value (not the "auto"
            # marker) lands in the components-stage fingerprint — a corpus
            # grown across a cap boundary invalidates the stage on resume.
            refine_cap = self.refine_max_component
            if refine_cap == "auto":
                if self.clustering == "louvain":
                    # Louvain ignores the ladder cap — don't spend a count()
                    # job or record a misleading resolved value in the manifest.
                    refine_cap = None
                else:
                    from name_matching_spark.operators.clustering import resolve_auto_cap

                    # the names stage manifest already paid for this count
                    n_names = self.ckpt.stored_rows("names")
                    if n_names is None:
                        n_names = names.count()
                    refine_cap = resolve_auto_cap(n_names, self.refine_ladder)
            if self.clustering == "louvain":
                from name_matching_spark.operators.louvain import louvain_communities

                def cluster_fn():
                    return louvain_communities(
                        matches.select(
                            F.col("name_x").alias("src"), F.col("name_y").alias("dst")
                        )
                    )

            elif refine_cap is not None:

                def cluster_fn():
                    # cosine_sim / align_edit / token_weakest_link ride along
                    # for the evidence rung and subsumption split (score_pairs
                    # always emits them, keep_features or not).  An
                    # embedding-verified edge (semantic channel) counts as
                    # near-exact evidence: without this the evidence rung would
                    # cut exactly the zero-lexical-overlap matches the channel
                    # exists to keep.
                    align = F.col("align_edit")
                    if "emb_cosine" in matches.columns:
                        align = F.when(
                            F.coalesce(F.col("emb_cosine"), F.lit(-1.0)) >= 0.95,
                            F.lit(0.0),
                        ).otherwise(align)
                    m = matches.select(
                        F.col("name_x").alias("src"),
                        F.col("name_y").alias("dst"),
                        "probability",
                        "cosine_sim",
                        align.alias("align_edit"),
                        "token_weakest_link",
                        # raw margin (when the checkpoint carries it): ladder
                        # rungs above 0.999 and attach tie-breaks rank with it
                        # where the 4dp probability has saturated
                        *(["margin"] if "margin" in matches.columns else []),
                    )
                    if self.subsume_attach:
                        # Subsumption edges (initial/diminutive/prefix-
                        # extension forms) are pair-level matches but ambiguous
                        # CLUSTER evidence: they attach to a cluster, never
                        # glue two (isolated all-subsumption families still
                        # cluster among themselves under the same cap).
                        return subsumption_aware_components(
                            m,
                            max_component=refine_cap,
                            ladder=self.refine_ladder,
                            evidence_min_size=self.refine_evidence_min_size,
                        )
                    return refined_components(
                        m,
                        max_component=refine_cap,
                        ladder=self.refine_ladder,
                        evidence_min_size=self.refine_evidence_min_size,
                    )

            else:

                def cluster_fn():
                    return connected_components(
                        matches.select(
                            F.col("name_x").alias("src"), F.col("name_y").alias("dst")
                        )
                    )

            cluster_params = {
                **score_params,
                "clustering": self.clustering,
                "refine_max_component": refine_cap,
                "refine_cap_mode": "auto" if self.refine_max_component == "auto" else "fixed",
                "refine_ladder": list(self.refine_ladder),
                "refine_final_louvain": True,
                "refine_evidence_rung": f"cos{EVIDENCE_MIN_COSINE}|align{EVIDENCE_MAX_ALIGN}",
                "refine_evidence_min_size": self.refine_evidence_min_size,
                "refine_subsumption_attach": self.subsume_attach,
            }
            components = self._stage(
                "components",
                cluster_fn,
                inputs=["scored_pairs"],
                params=cluster_params,
            )
            # Downstream-of-clustering stages must carry the clustering choice in
            # their params too: otherwise a resume with clustering='louvain'
            # recomputes components but silently serves stale entities/resolved
            # tables built from the old CC components.
            entities = self._stage(
                "entities",
                lambda: entity_table(components, names),
                inputs=["components", "names"],
                params=cluster_params,
            )
            resolved = self._stage(
                "resolved_conversations",
                lambda: resolve_records(conv, entities, ["name"]),
                inputs=["conversations", "entities"],
                params=cluster_params,
            )
            return {
                "conversations": conv,
                "names": names,
                "candidate_pairs": pairs,
                "scored_pairs": scored,
                "components": components,
                "entities": entities,
                "resolved_conversations": resolved,
            }
        except BaseException as exc:
            # Cancel queued work, wait for running work, and attach every
            # background failure to the error being raised: a worker's
            # exception is otherwise never read, and can be the root cause.
            _pool.shutdown(wait=True, cancel_futures=True)
            for fut in background:
                err = None if fut.cancelled() else fut.exception()
                if err is not None and err is not exc:
                    exc.add_note(
                        "background stage failed too:\n"
                        + "".join(traceback.format_exception(err))
                    )
            raise
        finally:
            _pool.shutdown(wait=True)


def run_pipeline(
    spark: SparkSession,
    transcripts_path: str,
    warehouse: str,
    threshold: float = 0.85,
    max_block: int = 100,
) -> dict[str, DataFrame]:
    """spark-submit entry: read the transcript table, run, return stages."""
    transcripts = spark.read.parquet(transcripts_path)
    pipe = EntityResolutionPipeline(
        spark, warehouse, threshold=threshold, max_block=max_block
    )
    return pipe.run(transcripts)


if __name__ == "__main__":
    import argparse

    from name_matching_spark.session import get_spark

    ap = argparse.ArgumentParser()
    ap.add_argument("transcripts", help="path to transcripts parquet")
    ap.add_argument("warehouse", help="warehouse directory for stage checkpoints")
    ap.add_argument("--threshold", type=float, default=0.85)
    ap.add_argument("--max-block", type=int, default=100)
    ap.add_argument("--master", default=None)
    args = ap.parse_args()
    spark = get_spark(master=args.master)
    stages = run_pipeline(
        spark, args.transcripts, args.warehouse, args.threshold, args.max_block
    )
    ents = stages["entities"]
    print(f"entities: {ents.select('entity_key').distinct().count()}")
    spark.stop()
