import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from geospatial_studio_pipelines_spark.session import spark_session


@pytest.fixture(scope="session")
def spark():
    s = spark_session(app_name="gsp-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def on_index_read(monkeypatch):
    """``arm(path, action)``: run ``action()`` once, just before the first
    parquet read of the index data under ``path`` (sidecars excluded). In a
    compaction that is the moment between its file snapshot and its rewrite
    read — where a concurrent append lands in the race under test."""
    from pyspark.sql.readwriter import DataFrameReader

    real = DataFrameReader.parquet

    def arm(path, action):
        root = os.path.abspath(path)

        def parquet(self, *paths, **kw):
            hits = [str(p) for p in paths if "/_gsp_" not in str(p)]
            if any(p.rstrip("/").endswith(root) or root + "/" in p for p in hits):
                monkeypatch.setattr(DataFrameReader, "parquet", real)
                action()
            return real(self, *paths, **kw)

        monkeypatch.setattr(DataFrameReader, "parquet", parquet)

    return arm
