"""Shared fixtures: one SparkSession + one DuckDB connection per run."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pydra_map_reduce_spark import session_cache as SC  # noqa: E402
from pydra_map_reduce_spark.session import get_spark  # noqa: E402
from pydra_map_reduce_spark.sources.tables import TABLES  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.01")


def stored_rdds(spark) -> set[int]:
    """The ids of the RDDs that have blocks in storage."""
    return {r.id() for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def reads(df) -> set[int]:
    """The ids of the checkpoint RDDs ``df``'s plan reads."""
    return {r.id() for r in SC._checkpoint_rdds(df)}


def held_by_session_caches(spark) -> set[int]:
    """The RDDs session-cache entries hold: the checkpoints their frames
    read and the cached buffers of their persisted frames."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    ids = set()
    for entry in SC._ENTRIES.values():
        ids |= reads(entry.value)
        for df in SC._frames(entry.value):
            cached = cache.lookupCachedData(df._jdf)
            if cached.isDefined():
                builder = cached.get().cachedRepresentation().cacheBuilder()
                if builder.isCachedColumnBuffersLoaded():
                    ids.add(builder.cachedColumnBuffers().id())
    return ids


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="pydra-tests")
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()
