"""Corpus-scale deduplication operators (documents table).

The operators a large-scale training-data pipeline needs, each expressed
Spark-first (native expressions wherever possible, hash functions chosen so
a DuckDB oracle can reproduce them bit-for-bit):

* :func:`exact_dedup`       — hash-groupBy exact duplicate removal;
* :func:`minhash_signatures`/:func:`minhash_lsh_pairs` — MinHash over word
  shingles with md5-derived hashes (md5 exists in Spark AND DuckDB, so the
  whole LSH path is oracle-checkable), banded into LSH buckets, candidate
  pairs from the bucket self-join;
* :func:`simhash`           — 32-bit SimHash over token md5s (majority bit
  vote); :func:`simhash_pairs` — near-dup pairs at Hamming distance <= k
  via bit-band bucketing (Manku et al., WWW 2007);
* :func:`ngram_jaccard_pairs` — character-n-gram Jaccard for candidate
  pairs (verification step after LSH);
* :func:`embedding_cosine_pairs` — exact cosine near-dup over an embedding
  column (see similarity_search.py for the ANN path).

Scale notes: every operator is a (narrow map) -> (explode) -> (hash
aggregate / hash join) plan — no windows over global orderings, no driver
collection.  The LSH band join is the standard sub-quadratic near-dup
strategy: candidates ~ O(docs x bands), never O(n^2).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _md5_long(col: Column) -> Column:
    """Stable 60-bit integer from md5 — identical in Spark and DuckDB
    (``conv(substr(md5(x),1,15),16,10)``)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _floor_parallelism(df: DataFrame, probe: DataFrame | None = None) -> DataFrame:
    """Round-robin repartition when the frame has fewer partitions than
    the session's parallelism (guide §2.5).  Two sources of too few
    partitions: a scan of one small file is one task, and AQE's
    byte-based coalescing shrinks a small shuffle to 1-2 partitions.
    Either serializes the CPU-heavy per-row expressions above it on one
    core (measured: the d6 LSH stage from a 1-partition survivor
    checkpoint runs 3.0s vs 1.7s floored).  The partition count is probed
    on ``probe`` (default ``df``), which MUST be a materialized frame
    (checkpoint/scan): probing ``.rdd`` on an un-executed AQE plan forces
    its shuffle stages to run at plan-construction time.  At production
    volumes the input has >= cores partitions and this is a no-op: no
    shuffle is added."""
    n = df.sparkSession.sparkContext.defaultParallelism
    if (probe if probe is not None else df).rdd.getNumPartitions() < n:
        return df.repartition(n)
    return df


def exact_dedup(docs: DataFrame, text_col: str = "text", key_col: str = "doc_id") -> DataFrame:
    """Keep the smallest key per identical text (deterministic winner)."""
    return (
        docs.groupBy(text_col)
        .agg(F.min(key_col).alias(key_col), F.count("*").alias("dup_count"))
        .select(key_col, text_col, "dup_count")
    )


_MERSENNE31 = (1 << 31) - 1
# Fixed affine constants (a_k, b_k) for the md5-seeded MinHash family.
_MH = [(2 * k + 3, 7 * k + 1) for k in range(64)]


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """(key, sig: array<long>) — MinHash signature per document.

    Shingles: distinct word n-grams, split on the single-space delimiter
    (inputs are whitespace-normalized documents) so the DuckDB oracle's
    ``string_split(text, ' ')`` is byte-equivalent; a text of fewer than
    ``shingle_n`` tokens is one shingle.  Base hash = 28-bit md5 prefix
    of the shingle (oracle-reproducible); family members are affine
    rehashes mod the Mersenne prime 2^31-1 — 28-bit base x tiny a_k keeps
    everything overflow-free under ANSI int64 arithmetic in both engines.

    Both projections are SQL strings, one ``F.expr`` each: the same
    Catalyst expressions as Column trees built from Python lambdas, but
    one JVM parse instead of ~200 py4j round trips per plan."""
    toks = f"split(`{text_col}`, ' ')"
    n = shingle_n
    shingles = (
        f"array_distinct(CASE WHEN size({toks}) >= {n} "
        f"THEN transform(sequence(0, size({toks}) - {n}), "
        f"i -> array_join(slice({toks}, i + 1, {n}), ' ')) "
        f"ELSE array(array_join({toks}, ' ')) END)"
    )
    base = f"transform({shingles}, s -> CAST(conv(substring(md5(s), 1, 7), 16, 10) AS BIGINT))"
    # Two-step shape: the md5 base array is BOUND to a named column and the
    # K lanes are separate array_min(transform(...)) reads of it.  K lane
    # expressions over the raw `base` would re-inline (and re-md5) the
    # array K times — but a bound non-cheap column referenced K times is
    # exactly what CollapseProject refuses to inline, so the base is
    # evaluated once and each lane is a flat int transform + min.  ~15%
    # faster than the previous single aggregate fold, which allocated a
    # K-wide candidate array + zip_with accumulator per shingle
    # (interpreted higher-order funcs, no codegen).  Identical values.
    d = docs.select(F.col(key_col).alias("key"), F.expr(base).alias("_hs"))
    lanes = ", ".join(
        f"array_min(transform(_hs, v -> (v * {a} + {b}) % {_MERSENNE31}))"
        for a, b in (_MH[k] for k in range(num_hashes))
    )
    return d.select("key", F.expr(f"array({lanes})").alias("sig"))


def _bucket_pairs(band_rows: DataFrame, max_bucket: int | None) -> DataFrame:
    """(key_x < key_y) pairs from bucket collisions.  ``band_rows`` must be
    materialized (both join sides reference it).

    ``max_bucket`` guards the quadratic failure mode of LSH at corpus
    scale: a boilerplate-duplicate cluster puts 10^5+ near-identical docs
    into ONE bucket, and the dense self-join emits O(n^2) pairs for it.
    Buckets over the cap emit STAR pairs instead — every member paired
    with the bucket's min key.  For dedup that is tight in practice:
    over-cap buckets collide on a full band signature (near-identical
    boilerplate), so verification passes for essentially every
    (min, member) pair and the drop rule (drop key_y) removes the
    members transitively — linear in bucket size.  It IS an
    approximation, not lossless: a member pair (B, C) that would verify
    while BOTH its star pairs (min, B) and (min, C) fail at the
    verification margin is emitted by dense mode but not by star mode,
    and cap truncation likewise relaxes ``simhash_pairs``' pigeonhole
    completeness guarantee on the affected buckets.  ``None`` (default)
    keeps the exact dense semantics."""
    if max_bucket is None:
        a, b_ = band_rows.alias("a"), band_rows.alias("b")
        return (
            a.join(b_, "bucket")
            .where(F.col("a.key") < F.col("b.key"))
            .select(F.col("a.key").alias("key_x"), F.col("b.key").alias("key_y"))
            .dropDuplicates(["key_x", "key_y"])
        )
    from pyspark.sql.window import Window

    w = Window.partitionBy("bucket")
    sized = band_rows.select(
        "key",
        "bucket",
        F.count("*").over(w).alias("bs"),
        F.min("key").over(w).alias("mn"),
    ).localCheckpoint()
    small = sized.where(F.col("bs") <= max_bucket).select("key", "bucket")
    a, b_ = small.alias("a"), small.alias("b")
    dense = (
        a.join(b_, "bucket")
        .where(F.col("a.key") < F.col("b.key"))
        .select(F.col("a.key").alias("key_x"), F.col("b.key").alias("key_y"))
    )
    star = sized.where(
        (F.col("bs") > max_bucket) & (F.col("key") != F.col("mn"))
    ).select(F.col("mn").alias("key_x"), F.col("key").alias("key_y"))
    return dense.unionByName(star).dropDuplicates(["key_x", "key_y"])


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    bands: int = 4,
    rows_per_band: int = 4,
    shingle_n: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs (key_x < key_y) whose signatures collide in
    at least one LSH band.  ``max_bucket`` switches over-cap buckets to
    linear star pairs (see :func:`_bucket_pairs`) — set it at corpus scale
    where boilerplate clusters make single buckets quadratic."""
    sigs = minhash_signatures(
        docs, text_col, key_col, num_hashes=bands * rows_per_band, shingle_n=shingle_n
    )
    # ONE materialized signature per doc, then all band keys exploded from
    # it in a single pass.  (A per-band union of selects over the
    # unmaterialized projection re-executes the md5 + K-hash aggregate once
    # per band — Catalyst does not CSE across union branches.)
    bands_sql = ", ".join(
        f"concat_ws('_', {b}, "
        + ", ".join(f"CAST(sig[{b * rows_per_band + r}] AS STRING)" for r in range(rows_per_band))
        + ")"
        for b in range(bands)
    )
    bucket_arr = F.expr(f"array({bands_sql})")
    # Materialize the banded table once: the self-join references it on
    # BOTH sides, and an unmaterialized projection would re-run the md5 +
    # K-hash signature aggregate per side.  (At scale this table is the
    # thing you persist/bucket anyway.)
    band_rows = sigs.select(
        "key", F.explode(bucket_arr).alias("bucket")
    ).localCheckpoint()
    return _bucket_pairs(band_rows, max_bucket)


def simhash(docs: DataFrame, text_col: str = "text", key_col: str = "doc_id", bits: int = 32) -> DataFrame:
    """(key, simhash: long) — majority-vote bit signature over token md5s.

    Native ZERO-shuffle plan: per row, a single higher-order ``aggregate``
    over the distinct-token array folds every token's ±1 bit votes into one
    array<long> accumulator, then a second fold turns the vote signs into
    the packed signature.  (The previous explode -> 32 per-bit sum columns
    -> re-aggregate version carried a shuffle plus 32-wide aggregation
    state; this one is a narrow map — nothing to spill, nothing to
    exchange, and at 100 TB the signature costs exactly one corpus scan.)
    """
    toks = F.array_distinct(F.split(F.col(text_col), r"\s+"))
    hashes = F.transform(toks, lambda t: _md5_long(t))
    init = F.array(*[F.lit(0).cast("long")] * bits)

    def step(acc, h):
        vote = F.array(
            *[
                (F.shiftright(h, i).bitwiseAND(F.lit(1)) * 2 - 1).cast("long")
                for i in range(bits)
            ]
        )
        return F.zip_with(acc, vote, lambda a, v: a + v)

    sums = F.aggregate(hashes, init, step)
    weights = F.array(*[F.lit(1 << i).cast("long") for i in range(bits)])
    sim = F.aggregate(
        F.zip_with(
            sums,
            weights,
            lambda s, w: F.when(s > 0, w).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    # NULL text emits NO row (matching the previous explode-based plan and
    # the SQL oracle, where unnest over no tokens yields no group) — not a
    # (key, NULL) row, which would also herd every NULL-sig doc into the
    # same few bands in simhash_pairs.
    return docs.where(F.col(text_col).isNotNull()).select(
        F.col(key_col).alias("key"), sim.alias("simhash")
    )


def simhash_auto_bits(corpus_size: int) -> int:
    """Signature width for a corpus size, from MEASURED saturation points
    (BENCH/SF10.md): 16-bit saturated at 50k docs (86M bogus pairs), 32-bit
    GC-thrashed at 500k, 48-bit + star cap healthy at 500k.  Fit:
    32 bits at <= 50k, +16 bits per decade beyond, rounded up to the next
    8, capped at 64 (the signature lives in one long).  Past ~5M docs the
    cap binds — widen ``bands`` / lower ``max_bucket`` instead."""
    import math

    n = max(int(corpus_size), 1)
    if n <= 50_000:
        return 32
    need = 32.0 + 16.0 * math.log10(n / 50_000)
    return min(64, int(math.ceil(need / 8.0)) * 8)


def simhash_pairs(
    docs: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 3,
    max_bucket: int | None = None,
    corpus_size_hint: int | None = None,
) -> DataFrame:
    """(key_x, key_y, hamming) — near-dup pairs at Hamming distance <=
    ``max_hamming`` over the SimHash, via bit-band bucketing (the
    block-permutation scheme of Manku, Jain & Sarma, "Detecting
    Near-Duplicates for Web Crawling", WWW 2007): split the signature into
    ``bands`` contiguous bit blocks; by pigeonhole any pair with fewer
    than ``bands`` differing bits collides in at least one block, so the
    bucket self-join is complete for ``max_hamming < bands``; exact
    Hamming (``bit_count(xor)``) then verifies each candidate.

    Scale notes: block width ``bits/bands`` bounds bucket count per block
    at ``2^(bits/bands)``; at corpus scale use a wide signature (64-bit,
    16-bit blocks -> 65k buckets/table per the paper) so per-bucket
    populations — and therefore the within-bucket join — stay small; and
    set ``max_bucket`` so boilerplate mega-buckets emit linear star pairs
    instead of a quadratic self-join — noting the cap truncation trades
    the pigeonhole completeness guarantee for linearity on exactly those
    buckets (see :func:`_bucket_pairs`).

    ``corpus_size_hint``: when supplied, the signature width is raised to
    :func:`simhash_auto_bits` for that size (never lowered below an
    explicit ``bits``) and, at sizes past the 50k saturation boundary, the
    star cap defaults ON (``max_bucket=200``, the value measured healthy
    at 500k docs) unless the caller set one."""
    if corpus_size_hint is not None:
        bits = max(bits, simhash_auto_bits(corpus_size_hint))
        if max_bucket is None and corpus_size_hint > 50_000:
            max_bucket = 200
    assert max_hamming < bands, "completeness requires max_hamming < bands"
    # signature materialized ONCE: banding reads it, and the Hamming
    # verify joins it back on both pair sides
    sig = simhash(docs, text_col, key_col, bits=bits).localCheckpoint()
    width = bits // bands
    mask = (1 << width) - 1
    band_arr = F.array(
        *[
            F.concat_ws(
                "_",
                F.lit(b),
                F.shiftright(F.col("simhash"), b * width)
                .bitwiseAND(F.lit(mask))
                .cast("string"),
            )
            for b in range(bands)
        ]
    )
    banded = sig.select("key", F.explode(band_arr).alias("bucket"))
    pairs = _bucket_pairs(banded, max_bucket)
    sx = sig.select(F.col("key").alias("key_x"), F.col("simhash").alias("hx"))
    sy = sig.select(F.col("key").alias("key_y"), F.col("simhash").alias("hy"))
    ham = F.bit_count(F.col("hx").bitwiseXOR(F.col("hy"))).cast("int")
    return (
        pairs.join(sx, "key_x")
        .join(sy, "key_y")
        .where(ham <= max_hamming)
        .select("key_x", "key_y", ham.alias("hamming"))
    )


def char_ngrams(col: Column, n: int = 3) -> Column:
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(col) - (n - 1), F.lit(1))),
            lambda i: col.substr(i, F.lit(n)),
        )
    )


def ngram_jaccard_pairs(
    pairs: DataFrame,
    docs: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    n: int = 3,
    min_jaccard: float = 0.0,
) -> DataFrame:
    """Verify candidate pairs with exact char-n-gram Jaccard (set semantics).

    Gram computation is bounded to keys that actually appear in ``pairs``
    (semi-join first) and materialized ONCE: at scale candidates are a tiny
    fraction of the corpus, and the gram table is referenced by BOTH join
    sides — unmaterialized, Catalyst would re-run the full-corpus gram
    projection per side (no CSE across subplans)."""
    cand_keys = (
        pairs.select(F.col("key_x").alias("key"))
        .unionByName(pairs.select(F.col("key_y").alias("key")))
        .distinct()
    )
    d = (
        docs.select(F.col(key_col).alias("key"), F.col(text_col).alias("__t"))
        .join(cand_keys, "key")
        .select("key", char_ngrams(F.col("__t"), n).alias("grams"))
        .localCheckpoint()
    )
    out = (
        pairs.join(d.withColumnRenamed("key", "key_x").withColumnRenamed("grams", "gx"), "key_x")
        .join(d.withColumnRenamed("key", "key_y").withColumnRenamed("grams", "gy"), "key_y")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("gx", "gy"))
                / F.size(F.array_union("gx", "gy")),
                6,
            ),
        )
        .select("key_x", "key_y", "jaccard")
    )
    return out.where(F.col("jaccard") >= min_jaccard)


def dedup_pipeline(
    docs: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    bands: int = 4,
    rows_per_band: int = 4,
    shingle_n: int = 3,
    min_jaccard: float = 0.5,
    verify_ngram_n: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """The composed training-data dedup flow: exact dedup -> MinHash-LSH
    candidates over the exact survivors -> char-n-gram Jaccard
    verification -> the drop list.

    Output: (key, reason) — ``exact_dup`` for every non-minimal member of
    an identical-text group, ``near_dup`` for the larger member of each
    verified near-duplicate pair among the survivors.  Every stage is a
    hash aggregate / bucketed join (sub-quadratic end to end).

    ``shingle_n`` is the MinHash WORD-shingle size; ``verify_ngram_n`` is
    the CHAR-n-gram size of the Jaccard verification step — unrelated
    knobs, kept separate so tuning the LSH stage never silently changes
    verification semantics.

    Plan shape: one hash aggregate per identical-text group carrying the
    winner and the member-key list, materialized ONCE — the drop branch
    explodes the member lists, the survivor branch projects the winners.
    (An unmaterialized groupBy referenced by two branches re-runs the
    aggregate AND the corpus scan per branch: Catalyst does not CSE
    across subplans, cf. blocking.py.)  A hash aggregate beats the
    previous per-text window-min, which sorted every shuffle partition by
    the full document text (measured ~5% of the pipeline); the per-group
    member list is the same per-key row set the window buffered, just
    held as ids, not full rows."""
    groups = docs.groupBy(text_col).agg(
        F.min(key_col).alias("__keep"),
        F.collect_list(key_col).alias("__ks"),
    ).localCheckpoint()
    exact_drops = (
        groups.select(F.explode("__ks").alias("key"), "__keep")
        .where(F.col("key") != F.col("__keep"))
        .select("key", F.lit("exact_dup").alias("reason"))
    )
    survivors = _floor_parallelism(
        groups.select(F.col("__keep").alias(key_col), F.col(text_col)),
        probe=groups,
    )
    # Materialize the candidate pairs: both the gram table's semi-join
    # bound (cand_keys) AND the final verification join consume them —
    # unmaterialized, the banded self-join + pair dedup execute twice
    # (once inside the gram job, again in the final job).  Measured
    # med 3.49 -> 3.02 s on the sf0.1 bench query, output identical.
    cands = minhash_lsh_pairs(
        survivors,
        text_col,
        key_col,
        bands=bands,
        rows_per_band=rows_per_band,
        shingle_n=shingle_n,
        max_bucket=max_bucket,
    ).localCheckpoint()
    # Floor the pairs too: AQE coalesces the small pair table to one
    # partition, and the Jaccard above the (broadcast) gram joins then
    # runs as one task (measured: 1.4-1.7 s on 27k pairs at local[4] on a
    # 4-vCPU host, three cores idle).
    verified = ngram_jaccard_pairs(
        _floor_parallelism(cands),
        survivors,
        text_col,
        key_col,
        n=verify_ngram_n,
        min_jaccard=min_jaccard,
    )
    near_drops = (
        verified.select(F.col("key_y").alias("key"))
        .distinct()
        .withColumn("reason", F.lit("near_dup"))
    )
    return exact_drops.unionByName(near_drops)


def embedding_cosine_pairs(
    emb: DataFrame,
    pairs: DataFrame,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine for given candidate pairs over an array<float> column —
    native ``zip_with``/``aggregate``, JVM-side."""
    def norm(c: Column) -> Column:
        return F.sqrt(F.aggregate(c, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v))

    def dot(a: Column, b: Column) -> Column:
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    e = emb.select(F.col(key_col).alias("key"), F.col(vec_col).alias("v"))
    return (
        pairs.join(e.withColumnRenamed("key", "key_x").withColumnRenamed("v", "vx"), "key_x")
        .join(e.withColumnRenamed("key", "key_y").withColumnRenamed("v", "vy"), "key_y")
        .withColumn(
            "cosine",
            F.round(dot(F.col("vx"), F.col("vy")) / (norm(F.col("vx")) * norm(F.col("vy"))), 6),
        )
        .select("key_x", "key_y", "cosine")
    )
