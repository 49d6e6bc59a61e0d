"""The Python-worker daemon: worker tasks stop re-reading zip directories,
and an archive that really changed is still re-read."""

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.sql import functions as F

from name_matching_spark import pyworker_daemon, session

needs_patch = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="CPython >= 3.12 does not re-read zips"
)


def _zip_reads(fn):
    """Archive paths whose zip directory was read while ``fn()`` ran."""
    real = zipimport._read_directory
    reads = []

    def counting(path):
        reads.append(path)
        return real(path)

    zipimport._read_directory = counting
    try:
        fn()
    finally:
        zipimport._read_directory = real
    return reads


@needs_patch
def test_worker_task_rereads_no_zip_directory(spark):
    """Every Python-UDF task calls importlib.invalidate_caches() (pyspark's
    setup_spark_files); in a worker forked from the daemon that costs no
    zip directory read, although the worker imports pyspark from zips."""

    @F.pandas_udf("reads long, zip_importers long")
    def probe(s: pd.Series) -> pd.DataFrame:
        # (self-contained: the worker cannot import this test module)
        import importlib
        import sys
        import zipimport

        real = zipimport._read_directory
        reads = []
        zipimport._read_directory = lambda path: reads.append(path) or real(path)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        zips = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        return pd.DataFrame({"reads": [len(reads)] * len(s), "zip_importers": [zips] * len(s)})

    n_part = spark.sparkContext.defaultParallelism
    got = (
        spark.range(4 * n_part)
        .repartition(n_part)
        .select(probe("id").alias("p"))
        .select("p.*")
        .distinct()
        .collect()
    )
    assert {r.reads for r in got} == {0}
    assert min(r.zip_importers for r in got) > 0


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, body in modules.items():
            z.writestr(f"{name}.py", body)


@needs_patch
def test_rewritten_zip_on_sys_path_is_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"nms_zip_a": "X = 1\n"})
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        pyworker_daemon._make_invalidate(zipimport.zipimporter.invalidate_caches),
    )
    monkeypatch.syspath_prepend(archive)
    for mod in ("nms_zip_a", "nms_zip_b"):
        monkeypatch.delitem(sys.modules, mod, raising=False)
    assert importlib.import_module("nms_zip_a").X == 1
    first = _zip_reads(importlib.invalidate_caches).count(archive)
    unchanged = _zip_reads(importlib.invalidate_caches).count(archive)
    assert (first, unchanged) == (1, 0)  # read once to stamp, then trusted

    _write_zip(archive, {"nms_zip_a": "X = 1\n", "nms_zip_b": "Y = 2\n"})
    assert _zip_reads(importlib.invalidate_caches).count(archive) == 1
    assert importlib.import_module("nms_zip_b").Y == 2


class _RecordingBuilder:
    """Stands in for SparkSession.builder: records the conf, starts no JVM."""

    def __init__(self):
        self.conf = {}

    def appName(self, name):
        return self

    def master(self, master):
        self.conf["master"] = master
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self.conf


@pytest.mark.parametrize(
    "master, patched",
    [
        ("local", True),
        ("local[8]", True),
        ("local[*]", True),
        ("spark://h:7077", False),
        ("yarn", False),
        ("local-cluster[2,1,1024]", False),
    ],
)
def test_get_spark_sets_daemon_only_on_local_master(monkeypatch, master, patched):
    """Off a local master the package reaches executors as --py-files, which
    the daemon cannot import before it forks: keep the stock daemon there."""

    class FakeSession:
        builder = _RecordingBuilder()

    monkeypatch.setattr(session, "SparkSession", FakeSession)
    conf = session.get_spark(master=master)
    assert conf["master"] == master
    assert "spark.executorEnv.PYTHONPATH" not in conf
    if patched:
        assert conf["spark.python.daemon.module"] == "name_matching_spark.pyworker_daemon"
    else:
        assert "spark.python.daemon.module" not in conf
