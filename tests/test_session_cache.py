"""The session-cache helper (``pydra_map_reduce_spark.session_cache``):
key, sweep, LRU bound, release and lost-block recovery, on toy
builders and on the engine's own cached builders."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import tempfile
import types

import pytest

from pydra_map_reduce_spark import session_cache as SC
from pydra_map_reduce_spark.plans import REGISTRY
from pydra_map_reduce_spark.session_cache import session_cached

from .conftest import SF_DIR, held_by_session_caches, reads, stored_rdds

_BUILDS: list[str] = []


@pytest.fixture(autouse=True)
def _no_toy_entries():
    """Each test starts and ends without entries of this file's toy
    builders."""

    def clear():
        for k in [k for k in SC._ENTRIES if k[0].startswith(__name__ + ".")]:
            SC.release(SC._ENTRIES.pop(k).value)

    clear()
    yield
    clear()


@session_cached("region")
def _region_persisted(spark, sf_dir):
    _BUILDS.append(sf_dir)
    return spark.read.parquet(f"{sf_dir}/region.parquet").persist()


@session_cached("region")
def _region_checkpointed(spark, sf_dir):
    _BUILDS.append(sf_dir)
    return spark.read.parquet(f"{sf_dir}/region.parquet").localCheckpoint(eager=True)


@session_cached("region")
def _region_plain(spark, sf_dir):
    _BUILDS.append(sf_dir)
    return {"dir": sf_dir}


def _fixture_dirs(tmp_path, n: int) -> list[str]:
    dirs = []
    for i in range(n):
        d = tmp_path / f"fx{i}"
        d.mkdir()
        shutil.copy(f"{SF_DIR}/region.parquet", d / "region.parquet")
        dirs.append(str(d))
    return dirs


def _bump(path: str) -> None:
    st = os.stat(path)
    os.utime(path, (st.st_atime, st.st_mtime + 10))


def _entry_dirs(builder) -> list[str]:
    name = f"{builder.__module__}.{builder.__qualname__}"
    return [k[2] for k in SC._ENTRIES if k[0] == name]


@pytest.mark.parametrize("size", list(SC.Size), ids=lambda s: s.name)
def test_materialize_stores_by_size_class(spark, size):
    """``SMALL`` is computed at once and kept in memory, ``CONSIST`` at
    once on disk, ``WIDE`` and ``CORPUS`` at the first action (on disk,
    in memory); ``release`` frees each of them."""
    base = stored_rdds(spark)
    n = 1000 + list(SC.Size).index(size)  # one plan per class: no shared cache entry
    df = SC.materialize(spark.range(n).selectExpr("id", "id * 2 AS x"), size)
    if size in (SC.CORPUS, SC.WIDE):
        assert stored_rdds(spark) == base
        assert df.count() == n
    (info,) = [
        r for r in spark.sparkContext._jsc.sc().getRDDStorageInfo() if r.id() not in base
    ]
    if size in (SC.SMALL, SC.CORPUS):
        assert info.memSize() > 0 and info.diskSize() == 0
    else:
        assert info.memSize() == 0 and info.diskSize() > 0
    assert df.count() == n
    SC.release(df)
    assert stored_rdds(spark) == base


def test_stale_fixture_key_evicts_and_releases(spark, tmp_path):
    (d,) = _fixture_dirs(tmp_path, 1)
    base = stored_rdds(spark)
    old = _region_checkpointed(spark, d)
    old_rdds = stored_rdds(spark) - base
    assert old_rdds
    assert _region_checkpointed(spark, d) is old
    _bump(f"{d}/region.parquet")
    new = _region_checkpointed(spark, d)
    assert new is not old
    assert not old_rdds & stored_rdds(spark)
    assert _entry_dirs(_region_checkpointed) == [d]
    assert sorted(new.collect()) == sorted(spark.read.parquet(f"{d}/region.parquet").collect())


def test_fourth_dir_evicts_least_recently_used(spark, tmp_path):
    d1, d2, d3, d4 = _fixture_dirs(tmp_path, 4)
    frames = {d: _region_persisted(spark, d) for d in (d1, d2, d3)}
    _region_persisted(spark, d1)  # a hit: d2 is now the least recent
    _region_persisted(spark, d4)
    assert _entry_dirs(_region_persisted) == [d3, d1, d4]
    assert not frames[d2].is_cached
    assert frames[d1].is_cached and frames[d3].is_cached
    assert SC.MAX_LIVE_DIRS == 3


def test_dead_session_entry_is_dropped(spark, tmp_path):
    (d,) = _fixture_dirs(tmp_path, 1)
    name = f"{__name__}._region_plain"
    dead = SC._Entry(types.SimpleNamespace(_jsc=None), {"dir": "old"}, [])
    SC._ENTRIES[(name, "stopped-app", d, None)] = dead
    _region_plain(spark, d)
    assert not [k for k in SC._ENTRIES if k[1] == "stopped-app"]


def test_plain_value_entry_keeps_lru_order(spark, tmp_path):
    d1, d2, d3, d4 = _fixture_dirs(tmp_path, 4)
    for d in (d1, d2, d3):
        _region_plain(spark, d)
    _BUILDS.clear()
    assert _region_plain(spark, d1) == {"dir": d1}
    _region_plain(spark, d4)
    assert _BUILDS == [d4]
    assert _entry_dirs(_region_plain) == [d3, d1, d4]


def test_cache_hits_launch_no_job(spark, tmp_path):
    """A hit costs no Spark job, on a persist-backed and on a
    checkpoint-backed entry (its lost-block check is a driver-side
    lookup)."""
    (d,) = _fixture_dirs(tmp_path, 1)
    _region_persisted(spark, d).count()
    _region_checkpointed(spark, d)
    sc = spark.sparkContext
    sc.setJobGroup("session-cache-hit", "cache hits")
    try:
        _BUILDS.clear()
        _region_persisted(spark, d)
        _region_checkpointed(spark, d)
        assert not _BUILDS
        assert sc.statusTracker().getJobIdsForGroup("session-cache-hit") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_lost_checkpoint_block_rebuilds(spark):
    """Unpersisting the RDD behind a cached ``localCheckpoint`` loses
    its blocks; the next call rebuilds instead of serving a frame that
    can only fail."""
    from pydra_map_reduce_spark.plans.vectors import _exact_topk8_cached

    t = _exact_topk8_cached(spark, SF_DIR)
    rows = sorted(t.collect())
    t._jdf.logicalPlan().rdd().unpersist(False)
    t2 = _exact_topk8_cached(spark, SF_DIR)
    assert t2 is not t
    assert sorted(t2.collect()) == rows


def test_regenerated_fixture_returns_storage_to_baseline(spark, tmp_path):
    """Rebuilding after a fixture regeneration frees every RDD the first
    build stored: checkpoint-backed (exact top-k truth), persist-backed
    (lang-id features, Gopher flags), the IVF index (persisted
    projection plus checkpointed centroids and assignment) and
    apriori_triples' basket frame."""
    from pydra_map_reduce_spark.plans.mleval import (
        _gopher_flags_cached,
        _langid_features,
    )
    from pydra_map_reduce_spark.plans.vectors import _exact_topk8_cached, _ivf_index

    d = str(tmp_path / "sf")
    shutil.copytree(os.path.join(os.path.dirname(SF_DIR), "sf0.001"), d)

    def build():
        _exact_topk8_cached(spark, d)
        for f in (*_langid_features(spark, d), _gopher_flags_cached(spark, d)):
            f.count()
        _ivf_index(spark, d)
        return sorted(REGISTRY["apriori_triples"].fn(spark, d).collect())

    base = stored_rdds(spark)
    triples = build()
    first = stored_rdds(spark) - base
    assert len(first) >= 7
    for t in ("documents", "embeddings", "lineitem"):
        _bump(f"{d}/{t}.parquet")
    assert build() == triples
    assert not first & stored_rdds(spark)


def test_rewritten_fixture_is_not_served_from_a_stale_persist(spark, tmp_path):
    """A fixture rewritten at the same path is not served from the frames
    stored from the old file: the session-cached n-gram index is
    rebuilt under the new fixture key, and the query matches the oracle
    on the new file."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pydra_map_reduce_spark.sources.tables import TABLES

    from .test_correctness import canon_rows

    d = str(tmp_path / "sf")
    shutil.copytree(os.path.join(os.path.dirname(SF_DIR), "sf0.001"), d)
    q = REGISTRY["ngram_jaccard_neardup"]

    def spark_rows():
        df = q.fn(spark, d)
        return canon_rows(df.columns, df.collect())

    old = spark_rows()
    path = f"{d}/documents.parquet"
    t = pq.read_table(path)
    for c in ("text", "n_chars"):  # each document takes the next one's text
        col = t.column(c).combine_chunks()
        rotated = pa.concat_arrays([col.slice(1), col.slice(0, 1)])
        t = t.set_column(t.schema.get_field_index(c), t.schema.field(c), rotated)
    pq.write_table(t, path)
    _bump(path)
    con = duckdb.connect()
    for name in TABLES:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{d}/{name}.parquet')")
    cur = con.execute(q.oracle)
    new = canon_rows([c[0] for c in cur.description], cur.fetchall())
    con.close()
    assert new != old
    assert spark_rows() == new


@pytest.mark.parametrize(
    "name",
    [
        "ngram_jaccard_neardup",
        "ngram_jaccard_capped",
        "containment_neardup",
        "dedup_cluster_stats",
        "minhash_lsh_neardup",
        "minhash_lsh_portable",
        "lsh_recall",
        "duplicate_spans",
        "span_scrub",
    ],
)
def test_dedup_query_stores_only_session_cached_frames(spark, name):
    """A cold call, then a warm one: every RDD a dedup query adds to
    storage is read by a frame it returned or held by a session cache,
    so no frame stays stored that only Spark's CacheManager holds."""
    d = os.path.join(os.path.dirname(SF_DIR), "sf0.001")
    dedup = "pydra_map_reduce_spark.plans.dedup."
    for k in [k for k in SC._ENTRIES if k[0].startswith(dedup) and k[2] == d]:
        SC.release(SC._ENTRIES.pop(k).value)
    base, returned = stored_rdds(spark), set()
    for call in ("cold", "warm"):
        df = REGISTRY[name].fn(spark, d)
        assert df.collect()
        returned |= reads(df)
        left = stored_rdds(spark) - base - returned - held_by_session_caches(spark)
        assert not left, f"{call} {name} left {len(left)} RDD(s) no session cache holds"


def test_streaming_late_drop_leaves_no_temp_dir(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    rows = REGISTRY["streaming_late_drop"].fn(spark, SF_DIR).collect()
    assert [tuple(r) for r in rows] == [("2024-01-01 10:00:00", 2)]
    assert os.listdir(tmp_path) == []


def test_io_temp_root_removed_at_exit(tmp_path):
    """The per-process root behind ``io._tmp`` (round-trip files and the
    multi-batch events split) is gone once the interpreter exits."""
    code = (
        "import os, tempfile, sys\n"
        f"tempfile.tempdir = {str(tmp_path)!r}\n"
        "from pydra_map_reduce_spark.plans.io import _tmp\n"
        "p = _tmp('x')\n"
        "os.makedirs(p)\n"
        "open(os.path.join(p, 'f'), 'w').close()\n"
        "print(len(os.listdir(tempfile.tempdir)))\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=repo, capture_output=True, text=True,
        check=True,
    )
    assert out.stdout.strip() == "1"
    assert os.listdir(tmp_path) == []
