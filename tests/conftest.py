import os
import sys

import pytest
from pyspark.sql.types import StructType

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Python UDF workers import the package too, and the Spark JVM launched by
# the session below hands them this environment's PYTHONPATH: put the
# checkout under test first, so the tests run from any working directory
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, (ROOT, os.environ.get("PYTHONPATH"))))

import rasgoql_spark as rql

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    spark = rql.default_spark(app_name="rasgoql_spark_tests", shuffle_partitions=4,
                              master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    yield spark


@pytest.fixture(scope="session")
def session(spark):
    return rql.RasgoSession(spark, data_dir=SF_DIR)


@pytest.fixture(scope="session")
def drop_table(spark):
    """Drop a catalog table and remove its directory under the session's
    warehouse, so a test can re-create a managed table from any working
    directory."""
    import shutil
    from urllib.parse import urlparse

    root = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path

    def drop(name):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(os.path.join(root, name), ignore_errors=True)

    return drop


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: multi-scale sweeps / renderer replays excluded from the "
        "default gate run (see tests/slow_tests.txt)",
    )


def _slow_entries():
    path = os.path.join(os.path.dirname(__file__), "slow_tests.txt")
    exact, prefixes = set(), []
    with open(path) as fh:
        for line in fh:
            line = line.strip()
            if not line or line.startswith("#"):
                continue
            if line.endswith("*"):
                prefixes.append(line[:-1])
            else:
                exact.add(line)
    return exact, prefixes


def pytest_collection_modifyitems(config, items):
    exact, prefixes = _slow_entries()
    slow = pytest.mark.slow
    for item in items:
        nid = item.nodeid
        if nid in exact or any(nid.startswith(p) for p in prefixes):
            item.add_marker(slow)


class _IndexArtifacts:
    """Helpers for the persisted-index artifact tests."""

    @staticmethod
    def rows(df):
        """The frame's rows as a sorted list of tuples: an order-free
        identity to compare a saved and a loaded frame by."""
        return sorted(tuple(r) for r in df.collect())

    @staticmethod
    def params(spark, path):
        return spark.read.parquet(f"{path}/params").first().asDict()

    @staticmethod
    def drop_params(spark, path, *cols):
        """Rewrite ``{path}/params`` without ``cols``: the layout an
        artifact saved before those columns existed has on disk."""
        prm = spark.read.parquet(f"{path}/params")
        row = prm.first().asDict()
        schema = StructType([f for f in prm.schema if f.name not in cols])
        spark.createDataFrame(
            [tuple(row[f.name] for f in schema)], schema
        ).write.mode("overwrite").parquet(f"{path}/params")


@pytest.fixture(scope="session")
def index_artifacts():
    return _IndexArtifacts
