"""Metric names, units and better-directions (BENCHMARK.json mirrors these;
``tests/test_spec.py`` keeps the two in step)."""

from __future__ import annotations

# (name, unit, better).  Every workload reports every end-to-end metric;
# what "one op" and "quality" mean per workload is in README.md.
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("op_p50_s", "s", "lower"),
    ("op_cpu_s", "s", "lower"),
    ("quality", "ratio", "higher"),
    ("peak_rss_mb", "MB", "lower"),
    ("success_rate", "ratio", "higher"),
]

ER_STAGES = (
    "conversations",
    "names",
    "tfidf",
    "candidate_pairs",
    "block_metrics",
    "scored_pairs",
    "components",
    "entities",
    "resolved_conversations",
)
STAGE_FIELDS = (
    ("wall_s", "s"),
    ("critical_s", "s"),
    ("cpu_s", "s"),
    ("shuffle_mb", "MB"),
    ("spill_mb", "MB"),
    ("out_mb", "MB"),
)
KERNELS = (
    "jaccard_batch",
    "cosine_pairs",
    "ratio_batch",
    "sorted_token_ratio_batch",
    "token_set_ratio_batch",
    "partial_ratio_reference_batch",
    "ngram_cosine_batch",
    "len_diff_batch",
    "jaro_winkler_batch",
    "monge_elkan_jw_batch",
    "core_ratio_batch",
    "align_edit_batch",
    "idf_evidence_batch",
    "initial_conflict_batch",
    "kind_initial_batch",
)
DEDUP_PHASES = ("exact", "lsh", "verify")


def _layer() -> list[tuple[str, str, str]]:
    out = []
    for st in ER_STAGES:
        out += [(f"{st}.{f}", u, "lower") for f, u in STAGE_FIELDS]
    out += [
        ("scored_pairs.python_s", "s", "lower"),
        ("scored_pairs.arrow_mb", "MB", "lower"),
        ("scored_pairs.pairs_per_cpu_s", "1/s", "higher"),
        ("conversations.rows", "count", "lower"),
        ("names.rows", "count", "lower"),
        ("candidate_pairs.rows", "count", "lower"),
        ("scored_pairs.matches", "count", "higher"),
        ("blocking.pair_yield", "ratio", "higher"),
        ("components.count", "count", "lower"),
        ("components.max_size", "count", "lower"),
    ]
    out += [(f"kernel.{k}.s_per_20k", "s", "lower") for k in KERNELS]
    out += [
        ("kernel.unattributed.s_per_20k", "s", "lower"),
        ("kernel.total.s_per_20k", "s", "lower"),
        ("gbm.predict_margin.s_per_20k", "s", "lower"),
        ("streaming.index_build_s", "s", "lower"),
        ("streaming.batch_cpu_s", "s", "lower"),
        ("streaming.batch_python_s", "s", "lower"),
        ("streaming.batch_jobs", "count", "lower"),
        ("streaming.batch_tasks", "count", "lower"),
        ("streaming.exact_share", "ratio", "higher"),
        ("streaming.pending_share", "ratio", "lower"),
    ]
    for ph in DEDUP_PHASES:
        out += [
            (f"dedup.{ph}.wall_s", "s", "lower"),
            (f"dedup.{ph}.cpu_s", "s", "lower"),
            (f"dedup.{ph}.shuffle_mb", "MB", "lower"),
        ]
    out += [
        ("dedup.survivors", "count", "lower"),
        ("dedup.lsh_pairs", "count", "lower"),
        ("dedup.verify_yield", "ratio", "higher"),
        ("dedup.max_group_size", "count", "lower"),
        ("session.start_s", "s", "lower"),
        ("artifacts.load_s", "s", "lower"),
        ("mem.jvm_peak_mb", "MB", "lower"),
        ("mem.pyworkers_peak_mb", "MB", "lower"),
        ("spark.jobs", "count", "lower"),
        ("spark.tasks", "count", "lower"),
        ("spark.failed_tasks", "count", "lower"),
        ("trace.overhead_s", "s", "lower"),
    ]
    return out


PER_LAYER = _layer()
UNITS = {n: u for n, u, _ in END_TO_END + PER_LAYER}
