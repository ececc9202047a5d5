"""The checkpointed-rounds helper (``pydra_map_reduce_spark.iterate``):
which rounds stay stored after a full loop, a ``break`` and a failing
step, and that the caller's seed is never released; then the kernels
built on it, which must leave no superseded round stored, and the
connected-components operators' non-convergence paths."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from pydra_map_reduce_spark import session_cache as SC
from pydra_map_reduce_spark.iterate import checkpointed_rounds
from pydra_map_reduce_spark.operators import dedup as ops
from pydra_map_reduce_spark.plans import REGISTRY
from pydra_map_reduce_spark.session_cache import session_cached

from .conftest import SF_DIR, held_by_session_caches, reads, stored_rdds

_SF0001_DIR = os.path.join(os.path.dirname(SF_DIR), "sf0.001")


def _inc(df, _r):
    return df.select((F.col("id") + 1).alias("id"))


def _ids(df) -> list[int]:
    return sorted(r.id for r in df.collect())


def test_only_the_last_round_stays_stored(spark):
    seed = spark.range(10)
    base = stored_rdds(spark)
    prev = seed
    for state in checkpointed_rounds(seed, _inc, 5):
        # the round a state was computed from is still readable here
        assert _ids(state) == [i + 1 for i in _ids(prev)]
        prev = state
    assert stored_rdds(spark) - base == reads(state)
    assert _ids(state) == list(range(5, 15))


def test_break_keeps_only_the_round_it_left_at(spark):
    base = stored_rdds(spark)
    for r, state in enumerate(checkpointed_rounds(spark.range(10), _inc, 5), 1):
        if r == 2:
            break
    assert stored_rdds(spark) - base == reads(state)
    assert _ids(state) == list(range(2, 12))


def test_failing_step_leaves_no_round_stored(spark):
    def step(df, r):
        if r == 3:
            raise RuntimeError("round 3 failed")
        return _inc(df, r)

    base = stored_rdds(spark)
    with pytest.raises(RuntimeError, match="round 3 failed"):
        for _state in checkpointed_rounds(spark.range(10), step, 5):
            pass
    assert not stored_rdds(spark) - base


@session_cached("region")
def _region_checkpointed(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/region.parquet").localCheckpoint(eager=True)


def test_seed_over_a_session_cache_keeps_its_blocks(spark, tmp_path):
    """A seed that is a lazy projection over a cached checkpoint is
    never released, so the cache's next hit is served from its blocks
    without a job."""
    shutil.copy(f"{SF_DIR}/region.parquet", tmp_path / "region.parquet")
    d = str(tmp_path)
    cached = _region_checkpointed(spark, d)
    try:
        seed = cached.select(F.col("r_regionkey").cast("bigint").alias("id"))
        for state in checkpointed_rounds(seed, _inc, 3):
            pass
        SC.release(state)
        assert reads(cached) <= stored_rdds(spark)
        sc = spark.sparkContext
        sc.setJobGroup("rounds-seed-hit", "cache hit after rounds")
        try:
            assert _region_checkpointed(spark, d) is cached
            assert sc.statusTracker().getJobIdsForGroup("rounds-seed-hit") == []
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
    finally:
        name = f"{__name__}._region_checkpointed"
        for k in [k for k in SC._ENTRIES if k[0] == name]:
            SC.release(SC._ENTRIES.pop(k).value)


@pytest.mark.parametrize(
    "name",
    [
        "pagerank",
        "lpa_communities",
        "kcore_decompose",
        "random_walks",
        "dedup_clusters_star",
        "pca_top2_components",
    ],
)
def test_kernel_leaves_no_superseded_round_stored(spark, name):
    """Every RDD a call adds to storage is read by its returned frame or
    held by a session-cache entry."""
    base = stored_rdds(spark)
    df = REGISTRY[name].fn(spark, _SF0001_DIR)
    assert df.collect()
    left = stored_rdds(spark) - base - reads(df) - held_by_session_caches(spark)
    assert not left, f"{name} left {len(left)} superseded RDD(s) stored"


def _path_pairs(spark, n_nodes: int):
    return spark.createDataFrame(
        [(i, i + 1) for i in range(n_nodes - 1)], "doc_a long, doc_b long"
    )


@pytest.mark.parametrize(
    "cc, max_iter",
    [(ops.dedup_clusters, 3), (ops.dedup_clusters_star, 1)],
    ids=["dedup_clusters", "dedup_clusters_star"],
)
def test_non_convergence_warns_and_labels_every_node_once(spark, cc, max_iter):
    with pytest.warns(UserWarning, match="did not converge"):
        rows = cc(_path_pairs(spark, 40), max_iter=max_iter).collect()
    assert sorted(r["doc_id"] for r in rows) == list(range(40))
