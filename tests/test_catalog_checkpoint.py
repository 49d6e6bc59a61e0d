"""The DataSourceV2 `writeTo` / `read.table` checkpoint branch.

On a cluster with the Iceberg runtime jar + a configured catalog this
branch writes real Iceberg tables; the sandbox ships no Iceberg jar
(`iceberg_available` is the documented probe), so the same code path is
exercised against the built-in session catalog with the parquet provider —
the write/read/resume semantics are identical."""

import os

import pytest
from pyspark.sql import functions as F

from name_matching_spark.io.checkpoint import CheckpointManager, iceberg_available


def test_iceberg_probe_documents_runtime(spark):
    # The sandbox has no iceberg-spark-runtime jar; on a real cluster this
    # flips to True and CheckpointManager defaults to the iceberg provider.
    assert iceberg_available(spark) is False


def test_catalog_table_checkpoint_roundtrip(spark, tmp_path):
    wh = str(tmp_path / "wh_cat")
    ckpt = CheckpointManager(
        spark, wh, table_format="catalog", namespace="default",
        table_provider="parquet",
    )
    calls = {"n": 0}

    def make():
        calls["n"] += 1
        return spark.range(10).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )

    out = ckpt.stage("cat_stage", make, params={"p": 1})
    assert calls["n"] == 1
    assert out.count() == 10
    # stored through the catalog, readable via spark.read.table
    assert spark.read.table("default.cat_stage").count() == 10
    assert os.path.exists(ckpt.manifest_path("cat_stage"))

    # resume: no recompute
    again = ckpt.stage("cat_stage", make, params={"p": 1})
    assert calls["n"] == 1
    assert again.count() == 10

    # param change -> recompute through the same writeTo path (exercises
    # the replace/drop-create branch on a pre-existing table)
    ckpt.stage("cat_stage", make, params={"p": 2})
    assert calls["n"] == 2
    spark.sql("DROP TABLE IF EXISTS default.cat_stage")


def test_catalog_replace_is_snapshot_not_append(spark, tmp_path):
    """The semantics CheckpointManager assumes of a catalog (and that a
    real Iceberg catalog provides via REPLACE TABLE): re-running a stage
    REPLACES the table wholesale — a reader after the rerun sees only the
    new snapshot's rows, never a union with the old ones, and a changed
    schema lands intact (the drop+create fallback must behave identically
    to Iceberg's atomic replace at this contract surface)."""
    wh = str(tmp_path / "wh_snap")
    ckpt = CheckpointManager(
        spark, wh, table_format="catalog", namespace="default",
        table_provider="parquet",
    )
    ckpt.stage(
        "snap_stage",
        lambda: spark.range(5).select(F.col("id").alias("k")),
        params={"v": 1},
    )
    assert spark.read.table("default.snap_stage").count() == 5
    # rerun with different params: fewer rows AND a different schema
    out = ckpt.stage(
        "snap_stage",
        lambda: spark.range(3).select(
            F.col("id").alias("k"), F.lit("x").alias("extra")
        ),
        params={"v": 2},
    )
    got = spark.read.table("default.snap_stage")
    assert got.count() == 3, "replace appended instead of snapshotting"
    assert set(got.columns) == {"k", "extra"}, "replace kept the old schema"
    assert out.count() == 3
    spark.sql("DROP TABLE IF EXISTS default.snap_stage")


def test_catalog_manifest_is_the_commit_marker(spark, tmp_path):
    """A table WITHOUT its manifest is an uncommitted snapshot: a crash
    between the table write and the manifest write must read as
    incomplete and recompute (never serve the torn result as settled)."""
    wh = str(tmp_path / "wh_torn")
    ckpt = CheckpointManager(
        spark, wh, table_format="catalog", namespace="default",
        table_provider="parquet",
    )
    calls = {"n": 0}

    def make():
        calls["n"] += 1
        return spark.range(4).select(F.col("id").alias("k"))

    ckpt.stage("torn_stage", make, params={"v": 1})
    assert calls["n"] == 1
    # simulate the crash: table committed, manifest never written
    os.remove(ckpt.manifest_path("torn_stage"))
    assert ckpt.is_complete("torn_stage") is False
    ckpt.stage("torn_stage", make, params={"v": 1})
    assert calls["n"] == 2, "torn write was served as a completed stage"
    spark.sql("DROP TABLE IF EXISTS default.torn_stage")


@pytest.mark.parametrize("table_format", ["parquet", "catalog"])
def test_crashed_rerun_leaves_no_stale_manifest(
    spark, tmp_path, monkeypatch, table_format
):
    """A params-B run that dies after overwriting the table but before its
    manifest lands must not leave params-A's manifest beside B's rows: a
    params-A rerun then recomputes instead of serving B's rows as A's."""
    ckpt = CheckpointManager(
        spark, str(tmp_path / "wh_stale"), table_format=table_format,
        namespace="default", table_provider="parquet",
    )

    def make(v):
        return lambda: spark.range(3).select(F.lit(v).alias("v"))

    ckpt.stage("stale_stage", make("A"), params={"p": "A"})

    def crash(*a, **kw):
        raise RuntimeError("crashed after the table write")

    monkeypatch.setattr(ckpt, "_partition_lineage", crash)
    with pytest.raises(RuntimeError, match="crashed"):
        ckpt.stage("stale_stage", make("B"), params={"p": "B"})
    monkeypatch.undo()
    out = ckpt.stage("stale_stage", make("A"), params={"p": "A"})
    assert {r["v"] for r in out.collect()} == {"A"}
    spark.sql("DROP TABLE IF EXISTS default.stale_stage")
