"""Session caches: a value built once per (session, fixture) and served
to every query that needs it (a shingle index, a trained IVF index,
model tables).

A session cache is the only way a frame is shared between calls. A
consumer reads the cached value itself; no plan relies on Spark's
CacheManager matching its plan to a frame another call stored, and no
plan calls a builder only for its side effect.

``@session_cached("documents", ...)`` wraps a builder
``build(spark, sf_dir, *args)`` and owns the whole lifecycle:

- **Key.** (builder, applicationId, ``sf_dir``, the ``_fixture_key`` of
  each declared table, the builder's extra args). A stopped session's
  frames are never served to a new one, and a fixture regenerated
  mid-process rebuilds instead of serving the old data.
- **Hit.** The entry moves to the tail of the LRU order. An entry
  that reads ``localCheckpoint`` blocks is checked first: if the first
  block of a checkpoint is no longer registered with the block manager
  (executor churn, an explicit unpersist), the entry is released and
  rebuilt instead of serving a frame that can only fail. The check is
  a driver-side lookup, so no hit launches a Spark job; a
  ``persist``-backed entry recomputes lost blocks from its lineage.
- **Miss.** Before the build, the builder's entries are swept: those of
  stopped sessions are dropped, those for the same (application, dir)
  with another key (an older fixture, other args) are released, and
  the least recently used live dirs are released until at most
  ``MAX_LIVE_DIRS - 1`` remain. Sweeping before the build also stops
  CacheManager from substituting a stale persisted frame into the new
  build's identical plan.
- **Release.** Every DataFrame in the value (a frame, a tuple, a list
  or a NamedTuple such as ``IvfIndex``) is unpersisted, and so is the
  RDD behind each checkpoint it reads: ``DataFrame.unpersist()`` does
  not free ``localCheckpoint`` blocks. A builder that pins several
  dependent frames returns them as one value, so they are evicted
  together.

Plain Python values (a fitted piece table) keep the same key, sweep and
LRU order; they hold no Spark storage to release or probe.

``materialize(df, size)`` is the one place engine code stores a frame.
The caller names how big the frame is; the class picks the storage:

- ``SMALL``: bounded by model dimensions, node count or result rows (a
  vocabulary, centroids, a weight vector, per-node iterative state, a
  report). An eager ``localCheckpoint`` in memory: computed once, and
  its lineage is cut, so plans built on it (every round of
  ``iterate.checkpointed_rounds``) stay flat.
- ``CORPUS``: a narrow frame (ids and a few numbers) that grows with
  the corpus. A lazy ``persist(MEMORY_AND_DISK)``: the lineage stays,
  so a lost block is recomputed instead of failing the query. A site
  that needs the frame computed before it returns runs one action
  itself and says why.
- ``WIDE``: a corpus-scaling text or array frame (the apriori rule: a
  heap-pinned pair frame of this kind once exhausted a 1 GB heap). A
  lazy ``persist(DISK_ONLY)``.
- ``CONSIST``: a sampled or non-deterministic frame that two consumers
  must see as one materialization (``corpus.stable_row_ids``). An eager
  ``localCheckpoint`` on disk: never recomputed, so a lost block fails
  loudly instead of yielding different rows.

``release`` frees the storage of every class.
"""

from __future__ import annotations

import functools
from enum import Enum
from typing import Any, Callable, NamedTuple

from py4j.protocol import Py4JError
from pyspark import StorageLevel
from pyspark.sql import DataFrame

from .sources.tables import _fixture_key

# Live fixture dirs kept per builder and application: the local
# differential's sf0.001/0.01/0.1 sweep runs without thrash, and a
# session sweeping many dirs pins at most this many copies.
MAX_LIVE_DIRS = 3


class _Entry(NamedTuple):
    sc: Any  # the SparkContext the value was built in
    value: Any
    blocks: list[Any]  # the first block of each checkpoint the value reads


_ENTRIES: dict[tuple, _Entry] = {}


def _frames(value: Any) -> list[DataFrame]:
    if isinstance(value, DataFrame):
        return [value]
    if isinstance(value, (tuple, list)):
        return [f for v in value for f in _frames(v)]
    return []


def _checkpoint_rdds(value: Any) -> list[Any]:
    """The RDDs of the ``localCheckpoint``s the frames in ``value``
    read: the checkpointed ``LogicalRDD`` leaves of their plans."""
    rdds = []
    for df in _frames(value):
        leaves = df._jdf.logicalPlan().collectLeaves()
        for leaf in (leaves.apply(i) for i in range(leaves.size())):
            if leaf.getClass().getSimpleName() == "LogicalRDD":
                rdds.append(leaf.rdd())
    return [r for r in rdds if r.isCheckpointed()]


class Size(Enum):
    """A frame's size class (module docstring); its value is how the
    frame is stored: (local checkpoint?, storage level)."""

    SMALL = (True, None)
    CORPUS = (False, StorageLevel.MEMORY_AND_DISK)
    WIDE = (False, StorageLevel.DISK_ONLY)
    CONSIST = (True, StorageLevel.DISK_ONLY)


SMALL, CORPUS, WIDE, CONSIST = Size


def materialize(df: DataFrame, size: Size) -> DataFrame:
    """Store ``df`` as its size class says; see the module docstring."""
    checkpoint, level = size.value
    if checkpoint:
        return df.localCheckpoint(eager=True, storageLevel=level)
    return df.persist(level)


def release(value: Any) -> None:
    """Free the Spark storage of every DataFrame in ``value``: its
    persisted blocks and the blocks of each checkpoint it reads."""
    for df in _frames(value):
        df.unpersist()
    for rdd in _checkpoint_rdds(value):
        rdd.unpersist(False)


def _first_blocks(sc, value: Any) -> list[Any]:
    block_id = sc._jvm.org.apache.spark.storage.RDDBlockId
    return [
        block_id(r.id(), 0) for r in _checkpoint_rdds(value) if r.getNumPartitions()
    ]


def _blocks_present(entry: _Entry) -> bool:
    """Whether each checkpoint's first block is still registered with
    the driver's block manager: a lookup, not a Spark job. It is the
    block a ``head(1)`` probe would read first."""
    if not entry.blocks:
        return True
    try:
        master = entry.sc._jsc.sc().env().blockManager().master()
        return all(master.contains(b) for b in entry.blocks)
    except Py4JError:  # the block-manager lookup failed: rebuild
        return False


def _sweep(key: tuple) -> None:
    name, app, sf_dir = key[:3]
    for k in [k for k in _ENTRIES if k[0] == name]:
        if _ENTRIES[k].sc._jsc is None:  # stopped: its storage is gone
            del _ENTRIES[k]
        elif k[1:3] == (app, sf_dir):
            release(_ENTRIES.pop(k).value)
    live = [k for k in _ENTRIES if k[:2] == (name, app)]
    for k in live[: max(0, len(live) - (MAX_LIVE_DIRS - 1))]:
        release(_ENTRIES.pop(k).value)


def session_cached(*tables: str) -> Callable[[Callable], Callable]:
    """Cache ``build(spark, sf_dir, *args)`` per session, fixture
    state of ``tables`` and ``args``; see the module docstring."""

    def wrap(build: Callable) -> Callable:
        name = f"{build.__module__}.{build.__qualname__}"

        @functools.wraps(build)
        def cached(spark, sf_dir: str, *args):
            sc = spark.sparkContext
            key = (
                name,
                sc.applicationId,
                sf_dir,
                *(_fixture_key(f"{sf_dir}/{t}.parquet") for t in tables),
                *args,
            )
            entry = _ENTRIES.pop(key, None)
            if entry is not None:
                if _blocks_present(entry):
                    _ENTRIES[key] = entry
                    return entry.value
                release(entry.value)
            _sweep(key)
            value = build(spark, sf_dir, *args)
            _ENTRIES[key] = _Entry(sc, value, _first_blocks(sc, value))
            return value

        return cached

    return wrap
