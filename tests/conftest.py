from __future__ import annotations

import os
import tempfile

import duckdb
import pytest

from flink_streaming_example_spark.session import get_spark
from flink_streaming_example_spark.testing import register_duckdb_views

# The driver's correctness gate runs at sf0.01; default tests to the same
# scale so a green suite is a faithful preview.
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")
SF_SMOKE_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session", autouse=True)
def _mkdtemp_under_basetemp(tmp_path_factory):
    """Point ``tempfile`` at a dir under pytest's basetemp for the
    session, so the checkpoints and shard dirs tests ``mkdtemp`` land
    where pytest rotates them away instead of piling up in the system
    temp dir."""
    old = tempfile.tempdir
    tempfile.tempdir = str(tmp_path_factory.mktemp("mkdtemp"))
    yield
    tempfile.tempdir = old


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("flink-streaming-example-spark-tests")
    yield spark


@pytest.fixture(scope="session", autouse=True)
def _events_ts_canary(spark):
    """Fail the whole suite fast if the events timestamp read path is
    poisoned (the round-3 fixture regeneration changed the parquet unit
    and every event-time query silently collapsed to 1970).  One cheap
    aggregate here beats 121 parity keys burning minutes on a broken
    source."""
    from flink_streaming_example_spark.sources.tables import load_table

    bad = (
        load_table(spark, SF_DIR, "events")
        .filter("ts <= timestamp'1971-01-01'")
        .count()
    )
    assert bad == 0, (
        f"{bad} events at/before 1971 — the loader's timestamp-unit "
        f"handling no longer matches the fixture (see sources/tables.py)"
    )


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    register_duckdb_views(con, SF_DIR)
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
