"""Dedup / similarity-search / text-analysis / multimodal operators."""

import random

import pytest
from pyspark.sql import functions as F

from name_matching_spark.operators import dedup as dd
from name_matching_spark.operators import text_analysis as ta
from name_matching_spark.operators.multimodal import extract_features, make_media_fixture
from name_matching_spark.operators.similarity_search import brute_force_topk, lsh_topk


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),          # exact dup of 0
        (2, "the quick brown fox leaps over the lazy dog"),          # near dup
        (3, "completely different content about spark pipelines"),
        (4, "der hund läuft durch die stadt und ist nicht müde"),
        (5, "a b"),                                                   # short
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup(docs):
    out = {r["doc_id"]: r["dup_count"] for r in dd.exact_dedup(docs).collect()}
    assert out[0] == 2          # doc 0 and 1 collapse, min id wins
    assert 1 not in out
    assert out[3] == 1


def test_minhash_near_dup(docs):
    pairs = {
        (r["key_x"], r["key_y"])
        for r in dd.minhash_lsh_pairs(docs, bands=8, rows_per_band=2).collect()
    }
    assert (0, 1) in pairs      # identical docs always collide
    assert (0, 2) in pairs      # near dup: most shingles shared
    assert (0, 3) not in pairs


def test_lsh_bucket_cap_star_pairs(spark):
    """max_bucket: an over-cap (boilerplate) bucket must emit LINEAR star
    pairs — every member linked to the bucket min — not the quadratic
    dense join; under-cap buckets keep exact dense semantics."""
    boiler = [(i, "common boilerplate header repeated verbatim always") for i in range(40)]
    uniq = [(100 + i, f"distinct payload number {i} with words {i * 7}") for i in range(5)]
    docs = spark.createDataFrame(boiler + uniq, ["doc_id", "text"])
    dense = dd.minhash_lsh_pairs(docs).collect()
    capped = dd.minhash_lsh_pairs(docs, max_bucket=10).collect()
    # dense: the 40-doc boilerplate bucket alone gives C(40,2) = 780 pairs
    assert len(dense) >= 780
    # capped: 39 star pairs for the big bucket (+ any small-bucket pairs)
    star = {(r["key_x"], r["key_y"]) for r in capped}
    assert {(0, i) for i in range(1, 40)} <= star
    assert len(capped) < 100
    # connectivity preserved: every boilerplate member reachable from min
    covered = {y for x, y in star if x == 0}
    assert covered >= set(range(1, 40))
    # no-cap path unchanged (the oracle contract)
    again = dd.minhash_lsh_pairs(docs).collect()
    assert sorted(map(tuple, dense)) == sorted(map(tuple, again))


def test_simhash_null_text_emits_no_row(spark):
    """NULL-text docs produce NO output row (parity with the old
    explode-based plan and the DuckDB oracle, where unnest over no tokens
    yields no group) — not a (key, NULL-simhash) row."""
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    schema = StructType(
        [StructField("doc_id", IntegerType()), StructField("text", StringType())]
    )
    d = spark.createDataFrame([(0, "alpha beta"), (1, None), (2, "alpha beta")], schema)
    out = {r["key"]: r["simhash"] for r in dd.simhash(d, bits=16).collect()}
    assert set(out) == {0, 2}
    assert out[0] == out[2] and out[0] is not None


def test_simhash_hamming(docs):
    sims = {r["key"]: r["simhash"] for r in dd.simhash(docs, bits=32).collect()}
    assert sims[0] == sims[1]
    ham_near = bin(sims[0] ^ sims[2]).count("1")
    ham_far = bin(sims[0] ^ sims[3]).count("1")
    assert ham_near < ham_far


def test_simhash_auto_width_rule(docs):
    """The measured width/cap discipline (BENCH/SF10.md) as code: 32 bits
    to the 50k saturation boundary, +16/decade rounded to the next 8,
    capped at 64; corpus_size_hint applies it and switches the star cap
    on past the boundary without changing results at fixture scale."""
    assert dd.simhash_auto_bits(1_000) == 32
    assert dd.simhash_auto_bits(50_000) == 32  # boundary: still 32
    assert dd.simhash_auto_bits(50_001) == 40  # past it: only ever errs WIDE
    assert dd.simhash_auto_bits(158_000) == 40
    assert dd.simhash_auto_bits(500_000) == 48
    assert dd.simhash_auto_bits(5_000_000) == 64
    assert dd.simhash_auto_bits(10**9) == 64  # capped: one long
    # hint never LOWERS an explicit width; results match the explicit call
    hinted = dd.simhash_pairs(docs, corpus_size_hint=500_000)
    explicit = dd.simhash_pairs(docs, bits=48, max_bucket=200)
    got_h = {(r["key_x"], r["key_y"]) for r in hinted.collect()}
    got_e = {(r["key_x"], r["key_y"]) for r in explicit.collect()}
    assert got_h == got_e


def test_ngram_jaccard_pairs(spark, docs):
    pairs = spark.createDataFrame([(0, 1), (0, 2), (0, 3)], ["key_x", "key_y"])
    out = {(r["key_x"], r["key_y"]): r["jaccard"] for r in dd.ngram_jaccard_pairs(pairs, docs).collect()}
    assert out[(0, 1)] == 1.0
    assert out[(0, 2)] > out[(0, 3)]


def _column_minhash_reference(docs, num_hashes=16, n=3):
    """minhash_signatures spelled as Column trees from Python lambdas —
    the reference the SQL-string build must match value for value."""
    toks = F.split(F.col("text"), " ")
    k = F.size(toks)
    shingles = F.array_distinct(
        F.when(
            k >= n,
            F.transform(
                F.sequence(F.lit(0), k - n),
                lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
            ),
        ).otherwise(F.array(F.array_join(toks, " ")))
    )
    base = F.transform(
        shingles, lambda s: F.conv(F.substring(F.md5(s), 1, 7), 16, 10).cast("long")
    )
    d = docs.select(F.col("doc_id").alias("key"), base.alias("_hs"))

    def lane(a, b):
        return F.array_min(F.transform(F.col("_hs"), lambda v: (v * a + b) % dd._MERSENNE31))

    lanes = [lane(a, b) for a, b in dd._MH[:num_hashes]]
    return d.select("key", F.array(*lanes).alias("sig"))


def _seeded_corpus(spark, seed, n_docs, dup_every=0):
    """Texts of 0-9 words from a small vocabulary (so short texts and
    shared shingles occur); every ``dup_every``-th doc repeats an earlier
    text verbatim or with one word swapped."""
    rng = random.Random(seed)
    vocab = "alpha beta gamma delta eps zeta eta theta iota kappa lam mu".split()
    texts = []
    for i in range(n_docs):
        if dup_every and i and i % dup_every == 0:
            words = texts[rng.randrange(i)].split(" ")
            if rng.random() < 0.5 and len(words) > 3:
                words[rng.randrange(len(words))] = rng.choice(vocab)
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(vocab) for _ in range(rng.randrange(10))))
    return spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])


@pytest.mark.parametrize("num_hashes,n", [(16, 3), (4, 2)])
def test_minhash_signatures_match_column_reference(spark, num_hashes, n):
    docs = _seeded_corpus(spark, seed=5, n_docs=300)
    assert docs.where(F.size(F.split("text", " ")) < n).count() > 0
    got = dict(dd.minhash_signatures(docs, num_hashes=num_hashes, shingle_n=n).collect())
    ref = dict(_column_minhash_reference(docs, num_hashes, n).collect())
    assert len(got) == 300 and got == ref


def test_dedup_pipeline_drop_list_matches_composition(spark):
    """The composed drop list equals exact_dedup + minhash_lsh_pairs +
    ngram_jaccard_pairs(>= 0.5) run one after the other."""
    docs = _seeded_corpus(spark, seed=11, n_docs=400, dup_every=3)
    got = {tuple(r) for r in dd.dedup_pipeline(docs).collect()}

    survivors = dd.exact_dedup(docs).select("doc_id", "text").localCheckpoint()
    kept = {r["doc_id"] for r in survivors.collect()}
    exact = {(r["doc_id"], "exact_dup") for r in docs.collect() if r["doc_id"] not in kept}
    verified = dd.ngram_jaccard_pairs(
        dd.minhash_lsh_pairs(survivors), survivors, min_jaccard=0.5
    )
    near = {(r["key_y"], "near_dup") for r in verified.collect()}
    assert exact and near
    assert got == exact | near


def test_dedup_pipeline_jaccard_runs_on_every_core(spark, monkeypatch):
    """AQE coalesces the small candidate-pair checkpoint to one partition;
    the pairs the Jaccard verification streams must still come in
    >= defaultParallelism partitions (one task per core)."""
    parts = []
    real = dd.ngram_jaccard_pairs

    def spy(pairs, *a, **kw):
        parts.append(pairs.rdd.getNumPartitions())
        return real(pairs, *a, **kw)

    monkeypatch.setattr(dd, "ngram_jaccard_pairs", spy)
    docs = _seeded_corpus(spark, seed=11, n_docs=400, dup_every=3)
    dd.dedup_pipeline(docs).collect()
    n = spark.sparkContext.defaultParallelism
    assert n > 1 and len(parts) == 1
    assert parts[0] >= n


@pytest.fixture(scope="module")
def emb(spark):
    import numpy as np

    rng = np.random.default_rng(0)
    rows = []
    for i in range(200):
        v = rng.standard_normal(16)
        rows.append((i, [float(x) for x in v]))
    # vec 100 = near-copy of vec 0
    base = rows[0][1]
    rows[100] = (100, [x + 0.01 for x in base])
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_brute_force_topk_self_and_near(emb):
    q = emb.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = brute_force_topk(emb, q, k=3).collect()
    assert out[0]["vec_id"] == 0 and out[0]["rank"] == 1
    assert abs(out[0]["cosine"] - 1.0) < 1e-6
    assert out[1]["vec_id"] == 100          # the planted near-copy


def test_lsh_topk_recall(emb):
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = brute_force_topk(emb, q, k=5)
    approx = lsh_topk(emb, q, k=5, dim=16, bits=4, tables=6)
    E = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    A = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    recall = len(E & A) / len(E)
    assert recall >= 0.5, f"LSH recall {recall}"
    # self-match always lands in its own bucket
    assert all((i, i) in A for i in range(5))


def test_text_analysis(docs):
    tc = {r["key"]: r for r in ta.token_count(docs).collect()}
    assert tc[0]["n_tokens"] == 9
    q = {r["key"]: r for r in ta.quality_score(docs).collect()}
    assert all(0.0 <= r["quality"] <= 1.0 for r in q.values())
    assert q[0]["stopword_ratio"] > 0
    lang = {r["key"]: r["lang"] for r in ta.lang_id(docs).collect()}
    assert lang[0] == "en"
    assert lang[4] == "de"
    fp = {r["key"]: r["fingerprint"] for r in ta.fingerprint(docs).collect()}
    assert fp[0] == fp[1]
    assert fp[0] != fp[3]


def test_simhash_plan_zero_shuffle(spark):
    """Regression lock for the round-2 d3 regression: the signature must
    be a pure narrow map — one per-row array aggregate, NO exchange (the
    old explode -> 32 per-bit sums -> re-aggregate plan shuffled)."""
    from name_matching_spark.operators.dedup import simhash

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    plan = simhash(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "Python" not in plan, plan  # JVM-side end to end


def test_multimodal_real_decode(spark):
    media = make_media_fixture(spark, n=12)
    out = {r["media_id"]: r for r in extract_features(media).collect()}
    assert len(out) == 12
    fixture = {r["media_id"]: r for r in media.collect()}
    for mid, r in out.items():
        kind = r["kind"]
        assert r["n_bytes"] > 0
        if kind == "video" and fixture[mid]["width"] is None:
            # the opaque (compressed-codec stand-in) payload: declared
            # fallback — null feature, no abort
            assert r["feature"] is None
            continue
        assert r["feature"] is not None and len(r["feature"]) == 16
        if kind == "video":
            # real AVI decode: n_frames/fps/width/height from the container
            assert (
                abs(r["feature"][0] * 1000 / r["feature"][1] - fixture[mid]["duration_ms"])
                < 1.0
            )
            assert int(r["feature"][2]) == fixture[mid]["width"]
            assert int(r["feature"][3]) == fixture[mid]["height"]
            assert all(0.0 <= v <= 1.0 for v in r["feature"][5:13])
        if kind == "image":
            # features 0/1 are the REAL decoded width/height — must match
            # the metadata the fixture wrote
            assert int(r["feature"][0]) == fixture[mid]["width"]
            assert int(r["feature"][1]) == fixture[mid]["height"]
            # channel means are normalized pixels
            assert all(0.0 <= v <= 1.0 for v in r["feature"][3:6])
        if kind == "audio":
            # feature 0 is the decoded duration in seconds
            assert abs(r["feature"][0] * 1000 - fixture[mid]["duration_ms"]) < 1.0
            assert 0.0 < r["feature"][1] <= 1.0  # rms of the sine fixture
    # empty payload -> null feature, not a batch abort
    from name_matching_spark.operators.multimodal import MEDIA_SCHEMA

    bad = spark.createDataFrame(
        [("x", "image", b"", "image/png", None, None, None)], MEDIA_SCHEMA
    )
    row = extract_features(bad).collect()[0]
    assert row["feature"] is None


def test_corrupt_video_payload_null_feature(spark):
    """A malformed AVI (truncated strf -> struct-level parse failure) must
    become a null feature like any other bad payload, not a batch abort."""
    import struct

    from name_matching_spark.operators.multimodal import MEDIA_SCHEMA

    bad_avi = (
        b"RIFF" + struct.pack("<I", 16) + b"AVI " + b"strf" + struct.pack("<I", 4) + b"\x00" * 4
    )
    bad = spark.createDataFrame(
        [("v", "video", bad_avi, "video/avi", None, None, None)], MEDIA_SCHEMA
    )
    row = extract_features(bad).collect()[0]
    assert row["feature"] is None


def test_ivf_topk_empty_corpus(spark):
    """Degenerate empty corpus: same empty answer (and schema) as
    brute_force_topk — not a numpy AxisError from the quantizer."""
    from pyspark.sql.types import (
        ArrayType,
        FloatType,
        LongType,
        StructField,
        StructType,
    )

    from name_matching_spark.operators.similarity_search import ivf_topk

    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
        ]
    )
    emb = spark.createDataFrame([], schema)
    q = spark.createDataFrame(
        [(1, [0.1, 0.2])],
        StructType(
            [
                StructField("query_id", LongType()),
                StructField("embedding", ArrayType(FloatType())),
            ]
        ),
    )
    out = ivf_topk(emb, q, k=3)
    assert out.count() == 0
    assert out.columns == ["query_id", "vec_id", "cosine", "rank"]


def test_ann3_ivf_recall_at_k(spark):
    """IVF-flat quality gate: recall@5 vs the exact brute force on the
    driver's embeddings table, with the exact parameters ann3_ivf_topk
    uses (mean recall >= 0.9), plus determinism of the seeded quantizer."""
    from name_matching_spark.operators.similarity_search import ivf_topk, recall_at_k

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = brute_force_topk(emb, q, k=5)
    # n_probe=12/16 on the driver table: its embeddings are ISOTROPIC noise
    # (within-label mean cosine 0.002), where IVF recall ~ probe fraction
    # by nature — clustered-data behavior is asserted below
    approx = ivf_topk(emb, q, k=5, n_lists=16, n_probe=12)
    rows = recall_at_k(approx, exact, k=5).collect()
    assert len(rows) == 10
    mean_recall = sum(r["recall"] for r in rows) / len(rows)
    assert mean_recall >= 0.9, f"IVF mean recall {mean_recall}"
    # deterministic: same seed -> identical result set
    again = ivf_topk(emb, q, k=5, n_lists=16, n_probe=12)
    a = sorted(map(tuple, approx.collect()))
    b = sorted(map(tuple, again.collect()))
    assert a == b


def test_ann3_ivf_recall_on_clustered_data(spark):
    """On data with genuine cluster structure — the case IVF exists for —
    a 4/16-list probe (25% of the corpus) must recover the exact top-k
    near-perfectly."""
    import numpy as np

    from name_matching_spark.operators.similarity_search import ivf_topk, recall_at_k

    rng = np.random.default_rng(0)
    centers = rng.standard_normal((10, 64))
    X = np.repeat(centers, 50, axis=0) + 0.25 * rng.standard_normal((500, 64))
    cdf = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(500)], ["vec_id", "embedding"]
    )
    q = cdf.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = brute_force_topk(cdf, q, k=5)
    approx = ivf_topk(cdf, q, k=5, n_lists=16, n_probe=4)
    rows = recall_at_k(approx, exact, k=5).collect()
    mean_recall = sum(r["recall"] for r in rows) / len(rows)
    assert mean_recall >= 0.95, f"clustered IVF mean recall {mean_recall}"


def test_ann2_recall_at_k_on_driver_fixture(spark):
    """The falsifiable ANN quality gate: recall@5 of the LSH path vs the
    exact brute force on the driver's embeddings table, with the exact
    parameters ann2_lsh_topk uses (mean recall >= 0.9)."""
    from name_matching_spark.operators.similarity_search import recall_at_k

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = brute_force_topk(emb, q, k=5)
    approx = lsh_topk(emb, q, k=5, dim=64, bits=3, tables=8)
    rows = recall_at_k(approx, exact, k=5).collect()
    assert len(rows) == 10
    mean_recall = sum(r["recall"] for r in rows) / len(rows)
    assert mean_recall >= 0.9, f"ANN mean recall {mean_recall}"


def test_lsh_plan_node_count_flat_in_dim(spark):
    """Hyperplanes/centroids must ride as ONE broadcast constant, not
    per-element literals: at dim 384 (real sentence-embedding width) the
    optimized plan must have the same tree shape as at dim 8 — the old
    per-literal construction put tables*bits*dim Literal nodes in the
    projection and fell over exactly here."""
    import numpy as np

    from name_matching_spark.operators.similarity_search import ivf_topk

    rng = np.random.default_rng(7)

    def mk(dim):
        rows = [(i, rng.standard_normal(dim).tolist()) for i in range(40)]
        return spark.createDataFrame(rows, ["vec_id", "embedding"])

    plans = {}
    for dim in (8, 384):
        emb = mk(dim)
        q = emb.limit(3).withColumnRenamed("vec_id", "query_id")
        approx = lsh_topk(emb, q, k=5, dim=dim, bits=6, tables=4)
        plans[dim] = approx._jdf.queryExecution().optimizedPlan().numberedTreeString()
    n8, n384 = (len(plans[d].splitlines()) for d in (8, 384))
    assert n384 == n8, f"plan lines grew with dim: {n8} -> {n384}"

    # and the result is still correct at dim 384: self-query rank 1 = self
    emb = mk(384)
    q = emb.limit(3).withColumnRenamed("vec_id", "query_id")
    top1 = {
        r["query_id"]: r["vec_id"]
        for r in lsh_topk(emb, q, k=1, dim=384, bits=4, tables=6).collect()
    }
    assert all(qid == vid for qid, vid in top1.items())

    # same property for the IVF centroid expression
    iplans = {}
    for dim in (8, 384):
        emb = mk(dim)
        q = emb.limit(3).withColumnRenamed("vec_id", "query_id")
        out = ivf_topk(emb, q, k=5, n_lists=8, n_probe=8)
        iplans[dim] = out._jdf.queryExecution().optimizedPlan().numberedTreeString()
    i8, i384 = (len(iplans[d].splitlines()) for d in (8, 384))
    assert i384 == i8, f"ivf plan lines grew with dim: {i8} -> {i384}"
