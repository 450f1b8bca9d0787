"""The local-master worker daemon: which archives it drops from the
worker path, that workers then import pyspark from its directory, and
that only local masters get it."""

import os
import sys

from tsc_spark.pydaemon import kept_entries

JAR = "/spark/jars/spark-core_2.13-4.1.2.jar"
PYSPARK_ZIP = "/spark/python/lib/pyspark.zip"
PY4J_ZIP = "/spark/python/lib/py4j-0.10.9.9-src.zip"
PATH = ["", PYSPARK_ZIP, PY4J_ZIP, JAR, "/app", "/usr/lib/python3.11"]


def test_jar_always_dropped():
    for installed, py4j in ((None, False), ("4.1.2", True), ("4.0.0", False)):
        assert JAR not in kept_entries(PATH, "4.1.2", installed, py4j)


def test_archives_dropped_when_installed_match():
    assert kept_entries(PATH, "4.1.2", "4.1.2", True) == ["", "/app", "/usr/lib/python3.11"]


def test_pyspark_zip_kept_unless_same_version_installed():
    assert PYSPARK_ZIP in kept_entries(PATH, "4.1.2", "4.0.0", True)
    assert PYSPARK_ZIP in kept_entries(PATH, "4.1.2", None, True)
    assert PYSPARK_ZIP not in kept_entries(PATH, "4.1.2", "4.1.2", True)


def test_py4j_zip_kept_when_py4j_not_installed():
    assert PY4J_ZIP in kept_entries(PATH, "4.1.2", "4.1.2", False)
    assert PY4J_ZIP not in kept_entries(PATH, "4.1.2", "4.1.2", True)


def test_only_local_masters_get_the_daemon(monkeypatch):
    from pyspark.sql import SparkSession

    from tsc_spark.session import get_spark

    # stop at the builder: return its options instead of a session
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda self: dict(self._options))
    key = "spark.python.daemon.module"
    for master in ("spark://host:7077", "yarn", "local-cluster[2,1,1024]"):
        assert key not in get_spark(master=master)
    for master in ("local", "local[2]", "local[*]"):
        assert get_spark(master=master)[key] == "tsc_spark.pydaemon"


def test_local_master_threads_size_shuffle_partitions(monkeypatch):
    from pyspark.sql import SparkSession

    from tsc_spark.session import get_spark

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda self: dict(self._options))
    key = "spark.sql.shuffle.partitions"
    # local[N,F] is local[N] with F task attempts: N threads either way
    for master in ("local[12]", "local[12,2]"):
        assert get_spark(master=master)[key] == "12", master
    host = str(max(os.cpu_count(), 8))
    for master in ("local[*]", "local[*,3]", "yarn"):
        assert get_spark(master=master)[key] == host, master


def test_workers_import_pyspark_from_its_directory(spark):
    def probe(batches):
        import zipimport

        import pyarrow as pa
        import pyspark

        zips = [k for k, v in sys.path_importer_cache.items()
                if isinstance(v, zipimport.zipimporter)]
        for _ in batches:
            yield pa.RecordBatch.from_arrays(
                [pa.array([pyspark.__file__]), pa.array([len(zips)])],
                names=["file", "zipimporters"],
            )

    rows = spark.range(4, numPartitions=2).mapInArrow(
        probe, "file string, zipimporters long"
    ).collect()
    assert rows
    for r in rows:
        assert ".zip" not in r.file and ".jar" not in r.file, r.file
        assert r.zipimporters == 0
