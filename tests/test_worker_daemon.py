"""readability_spark.worker_daemon: the decision that takes Spark's
pyspark/py4j archives off a worker's ``sys.path`` (a pure function, then
the same decision on real archives and directories), and a local session
whose tasks run in workers forked from the daemon."""

from __future__ import annotations

import os
import sys
import zipfile
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from readability_spark import worker_daemon  # noqa: E402
from readability_spark.spark.session import get_spark  # noqa: E402
from readability_spark.worker_daemon import drop_archives  # noqa: E402

V1 = b"__version__ = '1'\n"
V2 = b"__version__ = '2'\n"
PYSPARK_ZIP = "/spark/python/lib/pyspark.zip"
PY4J_ZIP = "/spark/python/lib/py4j-src.zip"
CORE_JAR = "/spark/jars/spark-core.jar"
SPARK_PATH = ["/work", PYSPARK_ZIP, PY4J_ZIP, CORE_JAR, "/lib/python3.11", "/site-packages"]
ARCHIVED = {PYSPARK_ZIP: {"pyspark": V1}, PY4J_ZIP: {"py4j": V1}, CORE_JAR: {}}
CACHE = {e: object() for e in SPARK_PATH}


class TestDropArchives:
    def test_matching_versions_drop_archives_and_cache_keys(self):
        path, cache = drop_archives(SPARK_PATH, CACHE, ARCHIVED, {"pyspark": V1, "py4j": V1})
        assert path == ["/work", "/lib/python3.11", "/site-packages"]
        assert set(cache) == set(path)
        assert all(cache[k] is CACHE[k] for k in cache)

    def test_installed_pyspark_absent_keeps_path(self):
        path, cache = drop_archives(SPARK_PATH, CACHE, ARCHIVED, {"pyspark": None, "py4j": V1})
        assert path is SPARK_PATH and cache is CACHE

    def test_installed_py4j_absent_keeps_path(self):
        path, cache = drop_archives(SPARK_PATH, CACHE, ARCHIVED, {"pyspark": V1, "py4j": None})
        assert path is SPARK_PATH and cache is CACHE

    def test_pyspark_version_differs_keeps_path(self):
        path, cache = drop_archives(SPARK_PATH, CACHE, ARCHIVED, {"pyspark": V2, "py4j": V1})
        assert path is SPARK_PATH and cache is CACHE

    def test_first_archive_on_path_sets_the_version(self):
        second = "/other/pyspark.zip"
        path = SPARK_PATH + [second]
        archived = {**ARCHIVED, second: {"pyspark": V2}}
        installed = {"pyspark": V1, "py4j": V1}
        assert drop_archives(path, CACHE, archived, installed)[0] == [
            "/work", "/lib/python3.11", "/site-packages"
        ]
        assert drop_archives(path, CACHE, archived, {**installed, "pyspark": V2})[0] is path

    def test_archive_without_version_keeps_path(self):
        archived = {**ARCHIVED, PYSPARK_ZIP: {"pyspark": None}}
        path, _ = drop_archives(SPARK_PATH, CACHE, archived, {"pyspark": V1, "py4j": V1})
        assert path is SPARK_PATH

    def test_no_archives_keeps_path(self):
        path = ["/work", "/site-packages"]
        assert drop_archives(path, {}, {}, {"pyspark": V1, "py4j": V1})[0] is path


def _zip(path, files):
    with zipfile.ZipFile(path, "w") as zf:
        for name, data in files.items():
            zf.writestr(name, data)
    return str(path)


def _package(root, name, version):
    pkg = root / name
    pkg.mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    (pkg / "version.py").write_bytes(version)


class TestUseInstalledPackages:
    """The same decision on real files: archives scanned with zipfile,
    installed packages found by the path finder."""

    @pytest.fixture
    def layout(self, tmp_path, monkeypatch):
        archives = [
            _zip(tmp_path / "pyspark.zip", {"pyspark/__init__.py": "", "pyspark/version.py": V1}),
            _zip(tmp_path / "py4j-src.zip", {"py4j/__init__.py": "", "py4j/version.py": V1}),
            _zip(tmp_path / "spark-core.jar", {"org/apache/spark/A.class": b"\0"}),
        ]
        user_zips = [
            _zip(tmp_path / "mylib.zip", {"mylib/__init__.py": ""}),
            _zip(tmp_path / "compiled.zip", {"compiled.pyc": b"\0"}),
        ]
        site = tmp_path / "site"
        site.mkdir()
        path = [str(tmp_path / "work"), *archives, *user_zips, str(site)]
        monkeypatch.setattr(sys, "path", list(path))
        monkeypatch.setattr(sys, "path_importer_cache", {})
        return path, archives, site

    def test_drops_spark_archives_only(self, layout):
        path, archives, site = layout
        _package(site, "pyspark", V1)
        _package(site, "py4j", V1)
        assert worker_daemon.use_installed_packages() == archives
        assert sys.path == [e for e in path if e not in archives]
        assert not set(archives) & set(sys.path_importer_cache)

    @pytest.mark.parametrize("pyspark_version", [None, V2])
    def test_missing_or_other_pyspark_keeps_path(self, layout, pyspark_version):
        path, _, site = layout
        if pyspark_version is not None:
            _package(site, "pyspark", pyspark_version)
        _package(site, "py4j", V1)
        assert worker_daemon.use_installed_packages() == []
        assert sys.path == path


@pytest.fixture(scope="module")
def spark():
    spark = get_spark(app_name="worker-daemon-tests", master="local[2]", shuffle_partitions=2)
    yield spark
    spark.stop()


def test_tasks_start_from_the_daemon(spark):
    assert spark.conf.get("spark.python.daemon.module") == "readability_spark.worker_daemon"

    def probe(batches):
        preloaded = [m for m in ("pandas", "readability_spark.pipeline") if m in sys.modules]
        import gc

        import pandas as pd
        import pyspark

        for _ in batches:
            pass
        yield pd.DataFrame(
            {
                "pyspark_file": [pyspark.__file__],
                "file_entries": [",".join(e for e in sys.path if os.path.isfile(e))],
                "preloaded": [",".join(preloaded)],
                "frozen": [gc.get_freeze_count()],
            }
        )

    rows = (
        spark.range(0, 8, numPartitions=4)
        .mapInPandas(probe, "pyspark_file string, file_entries string, preloaded string, frozen long")
        .collect()
    )
    assert len(rows) == 4
    for row in rows:
        assert os.path.isfile(row.pyspark_file), row.pyspark_file
        assert row.file_entries == ""
        assert row.preloaded == "pandas,readability_spark.pipeline"
        assert row.frozen > 0
