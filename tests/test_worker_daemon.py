"""The engine's Python worker daemon: workers fork from it, import pyspark
from site-packages and hold no zipimporter; the drop rule as pure
functions over temporary archives."""

import os
import zipfile

import pandas as pd
import pytest

from joint_entity_and_relation_extraction_spark import worker_daemon as WD

VERSION = b'__version__: str = "4.1.2"\n'


def test_workers_import_pyspark_from_site_packages(spark):
    def worker_facts(batches):  # nested: pickled by value
        import sys
        import zipimport

        import pyspark

        for _ in batches:
            pass
        yield pd.DataFrame({
            "main": [sys.modules["__main__"].__spec__.name],
            "zipimporters": [sum(isinstance(f, zipimport.zipimporter)
                                 for f in sys.path_importer_cache.values())],
            "pyspark_file": [pyspark.__file__]})

    row, = spark.range(1, numPartitions=1).mapInPandas(
        worker_facts, "main string, zipimporters long, pyspark_file string"
    ).collect()
    assert row.main == "joint_entity_and_relation_extraction_spark.worker_daemon"
    assert row.zipimporters == 0
    assert os.path.isfile(row.pyspark_file), row.pyspark_file


def _zip(path, members):
    with zipfile.ZipFile(path, "w") as z:
        for name, data in members.items():
            z.writestr(name, data)
    return str(path)


@pytest.fixture
def spark_path(tmp_path):
    """A worker path: cwd, pyspark/py4j source zips, a jar, site-packages."""
    site = tmp_path / "site-packages"
    for pkg in ("pyspark", "py4j"):
        (site / pkg).mkdir(parents=True)
        (site / pkg / "version.py").write_bytes(VERSION)

    def build(pyspark_version=VERSION, jar_members=None):
        return [
            str(tmp_path),
            _zip(tmp_path / "pyspark.zip", {"pyspark/__init__.py": b"",
                                            "pyspark/version.py": pyspark_version}),
            _zip(tmp_path / "py4j-src.zip", {"py4j/__init__.py": b"",
                                             "py4j/version.py": VERSION}),
            _zip(tmp_path / "spark-core.jar",
                 jar_members or {"org/apache/spark/SparkContext.class": b""}),
            str(site),
        ]
    return build


def test_identical_versions_drop_archives_and_purge_cache(spark_path):
    path = spark_path()
    cwd, pyspark_zip, py4j_zip, jar, site = path
    cache = {cwd: "finder", pyspark_zip: "zip",
             os.path.join(pyspark_zip, "pyspark", "sql"): "zip",
             py4j_zip: "zip", jar: "zip", site: "finder"}
    assert WD.drop_archives(path, cache) == [pyspark_zip, py4j_zip, jar]
    assert path == [cwd, site]
    assert cache == {cwd: "finder", site: "finder"}


def test_differing_pyspark_version_leaves_path_untouched(spark_path):
    path = spark_path(pyspark_version=b'__version__: str = "4.0.0"\n')
    before = list(path)
    cache = {p: "zip" for p in path}
    assert WD.drop_archives(path, cache) == []
    assert path == before
    assert cache == {p: "zip" for p in before}


def test_jar_holding_python_is_kept(spark_path):
    path = spark_path(jar_members={"org/Foo.class": b"", "lib/helper.py": b""})
    cwd, pyspark_zip, py4j_zip, jar, site = path
    assert WD.drop_archives(path, {}) == [pyspark_zip, py4j_zip]
    assert path == [cwd, jar, site]
