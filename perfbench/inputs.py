"""Seeded workload inputs, generated by ``name_matching_spark.datagen`` and
cached under ``perfbench/.cache`` keyed by workload, seed and a digest of
``datagen.py``, this file and the workload's size parameters (a changed
generator or size never serves an old table)."""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")

# er_batch: the whole ER pipeline on a corpus of ~500 conversations.
ER_BATCH = {"n_entities": 100, "convs_per_entity": 5}
# turn_dedup: many conversations over few entities, so most turn texts are
# exact duplicates in a few hot identical-text groups.
TURN_DEDUP = {"n_entities": 20, "convs_per_entity": 250}
# stream_assign: the known-entity table and the micro-batches drawn from it.
STREAM = {"n_entities": 300, "batch_names": 500, "distinct_batches": 3}


def input_digest(params: dict) -> str:
    h = hashlib.sha256(repr(sorted(params.items())).encode())
    for path in (os.path.join(ROOT, "name_matching_spark", "datagen.py"), __file__):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _cached(workload: str, seed: int, params: dict, build) -> str:
    """Directory holding ``build(tmp_dir)``'s files for (workload, seed)."""
    out = os.path.join(CACHE, f"{workload}-s{seed}-{input_digest(params)}")
    if not os.path.exists(os.path.join(out, "_DONE")):
        tmp = out + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        build(tmp)
        open(os.path.join(tmp, "_DONE"), "w").close()
        shutil.rmtree(out, ignore_errors=True)
        os.replace(tmp, out)
    return out


def er_batch(seed: int) -> str:
    """transcripts.parquet + truth.parquet."""
    from name_matching_spark.datagen import write_fixture

    return _cached(
        "er_batch", seed, ER_BATCH, lambda d: write_fixture(d, seed=seed, **ER_BATCH)
    )


def turn_dedup(seed: int) -> str:
    """docs.parquet: (doc_id, text), one row per transcript turn."""
    from name_matching_spark.datagen import generate_transcripts

    def build(d):
        tr, _ = generate_transcripts(seed=seed, **TURN_DEDUP)
        docs = pd.DataFrame({"doc_id": np.arange(len(tr), dtype=np.int64), "text": tr["text"]})
        docs.to_parquet(os.path.join(d, "docs.parquet"), index=False)

    return _cached("turn_dedup", seed, TURN_DEDUP, build)


def typo(rng: np.random.Generator, name: str) -> str:
    """One substituted letter, never on a space or a one-letter token."""
    spots = [
        i
        for i, c in enumerate(name)
        if c != " "
        and not (
            (i == 0 or name[i - 1] == " ") and (i + 1 == len(name) or name[i + 1] == " ")
        )
    ]
    if not spots:
        return name
    i = spots[int(rng.integers(0, len(spots)))]
    letters = [c for c in "ABCDEFGHIJKLMNOPQRSTUVWXYZ" if c != name[i]]
    return name[:i] + letters[int(rng.integers(0, len(letters)))] + name[i + 1 :]


def stream_assign(seed: int) -> str:
    """entities.parquet: (alias, entity_id, full_name) for every alias of
    every generated entity; batches.parquet: (batch, conv_id, alias,
    entity_id, variant) -- half the names of each batch are aliases drawn
    from the table, half are single-typo variants of drawn aliases.  Each
    half draws person and organization aliases in the generator's 70/30
    entity mix, so batches differ in which names they hold, not in how many
    of each kind (organization names share kind words with many entities
    and cost the scorer the most)."""
    from name_matching_spark.datagen import generate_entities

    def build(d):
        ents = generate_entities(STREAM["n_entities"], seed)
        table = ents.explode("aliases").rename(columns={"aliases": "alias"})
        table = table[["alias", "entity_id", "full_name", "ent_type"]].reset_index(drop=True)
        table[["alias", "entity_id", "full_name"]].to_parquet(
            os.path.join(d, "entities.parquet"), index=False
        )
        by_type = [np.flatnonzero(table.ent_type == t) for t in ("PERS", "ORGA")]
        rng = np.random.default_rng([seed, 1])
        half = STREAM["batch_names"] // 2
        n_pers = round(0.7 * half)
        rows = []
        for b in range(STREAM["distinct_batches"]):
            for variant in (False, True):
                picks = np.concatenate(
                    [
                        rng.choice(by_type[0], n_pers),
                        rng.choice(by_type[1], half - n_pers),
                    ]
                )
                for j in picks:
                    alias = table.alias[j]
                    rows.append(
                        {
                            "batch": b,
                            "conv_id": f"b{b}-{len(rows):05d}",
                            "alias": typo(rng, alias) if variant else alias,
                            "entity_id": int(table.entity_id[j]),
                            "variant": variant,
                        }
                    )
        pd.DataFrame(rows).to_parquet(os.path.join(d, "batches.parquet"), index=False)

    return _cached("stream_assign", seed, STREAM, build)
