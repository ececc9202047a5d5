"""Declared schemas + loaders for the fixture tables.

Schemas are fixed StructTypes (SURVEY.md §1.4): asserted against the
parquet footer at load so drift fails fast instead of silently casting.
At 100 TB the same loader works unchanged — `spark.read.parquet` on a
directory of files; predicate pushdown / column pruning happen in the
scan, so callers should `.select()` early and filter with Column exprs.
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_L = T.LongType()
_I = T.IntegerType()
_D = T.DoubleType()
_S = T.StringType()
_TS = T.TimestampType()


def _st(*fields: tuple[str, T.DataType]) -> T.StructType:
    return T.StructType([T.StructField(n, t, True) for n, t in fields])


SCHEMAS: dict[str, T.StructType] = {
    "region": _st(("r_regionkey", _I), ("r_name", _S)),
    "nation": _st(("n_nationkey", _I), ("n_name", _S), ("n_regionkey", _I)),
    "customer": _st(
        ("c_custkey", _L),
        ("c_name", _S),
        ("c_nationkey", _I),
        ("c_acctbal", _D),
        ("c_mktsegment", _S),
    ),
    "supplier": _st(
        ("s_suppkey", _L), ("s_name", _S), ("s_nationkey", _I), ("s_acctbal", _D)
    ),
    "part": _st(
        ("p_partkey", _L),
        ("p_name", _S),
        ("p_brand", _S),
        ("p_type", _S),
        ("p_size", _I),
        ("p_retailprice", _D),
    ),
    "orders": _st(
        ("o_orderkey", _L),
        ("o_custkey", _L),
        ("o_orderstatus", _S),
        ("o_totalprice", _D),
        ("o_orderdate", _TS),
        ("o_orderpriority", _S),
    ),
    "lineitem": _st(
        ("l_orderkey", _L),
        ("l_partkey", _L),
        ("l_suppkey", _L),
        ("l_linenumber", _I),
        ("l_quantity", _D),
        ("l_extendedprice", _D),
        ("l_discount", _D),
        ("l_tax", _D),
        ("l_returnflag", _S),
        ("l_linestatus", _S),
        ("l_shipdate", _TS),
    ),
    "events": _st(
        ("event_id", _L),
        ("ts", _TS),
        ("user_id", _L),
        ("event_type", _S),
        ("value", _D),
        ("props", _S),
    ),
    # Some fixture generations store events.ts as TIMESTAMP(NANOS),
    # which Spark's parquet reader rejects ([PARQUET_TYPE_ILLEGAL]).
    # For those files we read ts as raw nanos (legacy.parquet.
    # nanosAsLong) and convert to TimestampType with integer division
    # (ns div 1000 -> µs), matching DuckDB's ns->µs truncation exactly.
    # The loader probes the footer and picks the right path per file;
    # µs/ms footers are read directly with the public schema above.
    "_events_raw": _st(
        ("event_id", _L),
        ("ts", _L),
        ("user_id", _L),
        ("event_type", _S),
        ("value", _D),
        ("props", _S),
    ),
    "documents": _st(
        ("doc_id", _L),
        ("text", _S),
        ("lang", _S),
        ("source", _S),
        ("n_chars", _L),
    ),
    "embeddings": _st(
        ("vec_id", _L),
        ("embedding", T.ArrayType(T.FloatType())),
        ("label", _I),
    ),
}

TABLES = tuple(n for n in SCHEMAS if not n.startswith("_"))


def _fixture_key(path: str) -> tuple[str, int, float]:
    """(first part file, part count, max part mtime) identity for a
    fixture at this instant. Keying caches on the WHOLE part-file set
    — not the first file alone — means a regeneration that rewrites
    only later part files (or adds/removes parts) still invalidates
    every cached probe instead of being trusted from a stale entry.
    The footer probe itself still reads the first file; fixtures are
    written by one engine per table, so footer homogeneity across
    parts is the fixture contract (a heterogeneous directory would be
    a corrupt fixture, not a probe bug)."""
    import os

    if os.path.isdir(path):
        # ONE directory listing for both the first-part resolution and
        # the part-set identity (listing twice — once here, once via
        # _part_file — opened a window where the two halves of the key
        # described different fixture generations)
        parts = sorted(
            os.path.join(path, p)
            for p in os.listdir(path)
            if p.endswith(".parquet") and not p.startswith(("_", "."))
        )
        if not parts:
            raise FileNotFoundError(f"no parquet part files under {path}")
        return (parts[0], len(parts), max(os.path.getmtime(p) for p in parts))
    return (path, 1, os.path.getmtime(path))


_TS_UNIT_CACHE: dict[tuple[str, int, float], str] = {}


def events_ts_unit(path: str, key: tuple[str, int, float] | None = None) -> str:
    """Physical unit of events.ts ('ns'/'us'/'ms'/'s'), probed from the
    parquet footer via pyarrow — metadata-only (no data scan) and
    independent of any Spark session conf, so the probe result is the
    same no matter what was pinned earlier. Drives the loader's branch
    between the direct TimestampType read (µs/ms footers) and the
    legacy nanosAsLong + div-1000 path (ns footers). ``key`` lets
    load_table pass its already-computed fixture key so the schema
    assert and the unit probe are keyed to the SAME fixture generation
    (recomputing here reopened the regeneration race this key closes)."""
    if key is None:
        key = _fixture_key(path)
    if key not in _TS_UNIT_CACHE:
        import pyarrow.parquet as pq

        t = pq.read_schema(key[0]).field("ts").type
        unit = getattr(t, "unit", None)
        if unit is None:
            raise ValueError(
                f"events.ts at {key[0]} has parquet type {t}; expected a "
                "timestamp (any unit). Fixture layout changed in a way the "
                "loader does not recognize — update SCHEMAS/load_table."
            )
        _TS_UNIT_CACHE[key] = unit
    return _TS_UNIT_CACHE[key]


def _assert_schema(spark: SparkSession, path: str, name: str) -> None:
    """Fail fast when the parquet footer drifts from the declared schema.

    ``spark.read.schema(S)`` alone would silently NULL-fill missing
    columns; comparing the inferred footer schema first makes drift an
    immediate, descriptive error. Footer inference reads metadata only
    (no data scan), so this is cheap even on a 100 TB directory.
    """
    actual = spark.read.parquet(path).schema
    declared = SCHEMAS[name]

    def norm(t: str) -> str:
        # fixtures store naive timestamps (isAdjustedToUTC=false), which
        # infer as timestamp_ntz; with the session pinned to UTC they are
        # value-identical to TimestampType, so treat them as equal here.
        return "timestamp" if t == "timestamp_ntz" else t

    got = [(f.name, norm(f.dataType.simpleString())) for f in actual.fields]
    want = [(f.name, norm(f.dataType.simpleString())) for f in declared.fields]
    if got != want:
        raise ValueError(
            f"schema drift for table {name!r} at {path}:\n"
            f"  declared: {want}\n  footer:   {got}"
        )


# footer-verified fixtures, keyed on (file, part_count, max_mtime) so a
# regeneration mid-process invalidates the cache instead of passing
# silently
_VERIFIED: set[tuple[str, int, float]] = set()

# the fixture key each path was last loaded with in this process
_LOADED: dict[str, tuple[str, int, float]] = {}

# Session confs load_table pins (documented public side effect, see
# load_table docstring). Previous values are remembered per session the
# first time each key is pinned so callers can undo the pins. The
# ledger keys on the SESSION OBJECT via weak references: applicationId
# was the old key, but sibling sessions from spark.newSession() SHARE
# an applicationId (each with its own SQLConf), so the first session to
# pin a key owned the saved slot and restore on one session could
# replay another's prior values (r8 io review). Weak keys drop a dead
# session's entries with the object itself — no id-recycling hazard
# (the entry is gone before the id can be reused) and no leak when
# restore is never called.
_SAVED_CONFS: "weakref.WeakKeyDictionary[SparkSession, dict[str, str | None]]" = (
    weakref.WeakKeyDictionary()
)


def _pin_conf(spark: SparkSession, key: str, value: str) -> None:
    saved = _SAVED_CONFS.setdefault(spark, {})
    if key not in saved:
        try:
            saved[key] = spark.conf.get(key)
        except Exception:
            saved[key] = None
    spark.conf.set(key, value)


def restore_session_confs(spark: SparkSession) -> None:
    """Undo every session-conf pin load_table applied to ``spark``
    (restores the pre-pin values, unsetting keys that had none). Call
    this if the session is shared with non-engine work that relies on
    a different timezone or parquet nanos handling."""
    for key, prev in _SAVED_CONFS.pop(spark, {}).items():
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def convert_events_ts(raw: DataFrame) -> DataFrame:
    """Convert events.ts from raw nanos (read via nanosAsLong) to
    TimestampType: integer `div 1000` matches DuckDB's ns→µs
    truncation bit-for-bit. Shared by the batch loader and the
    streaming source so the two paths cannot drift."""
    return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))


def load_table(
    spark: SparkSession, sf_dir: str, name: str, *, verify: bool = True
) -> DataFrame:
    """Read one fixture table with its declared schema.

    Passing the schema (rather than relying on footer inference) keeps
    the analyzed plan stable across data revisions and lets Catalyst
    prune/push down against known column types. The footer is checked
    against the declared schema once per (path, table) per process.

    PUBLIC SIDE EFFECT: this call pins confs on the caller's session —
    ``spark.sql.session.timeZone=UTC`` (event-time semantics must agree
    with the ANSI/DuckDB oracle regardless of host TZ) and, only when
    the ``events`` footer stores TIMESTAMP(NANOS),
    ``spark.sql.legacy.parquet.nanosAsLong=true``. The pins persist
    because Spark reads confs at *execution* time — restoring them on
    return would silently break the very DataFrames this function
    handed out. Prior values are saved; call
    :func:`restore_session_confs` to undo.

    The events timestamp handling is FOOTER-ADAPTIVE: the fixture has
    shipped both TIMESTAMP(NANOS) (legacy) and TIMESTAMP(MICROS,
    isAdjustedToUTC=false) layouts, so the loader probes the footer
    (metadata-only, cached per (file, mtime)) and branches — µs/ms
    footers read directly with the public schema; ns footers take the
    nanosAsLong + div-1000 path. Unknown layouts still fail fast.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    _pin_conf(spark, "spark.sql.session.timeZone", "UTC")
    path = f"{sf_dir}/{name}.parquet"
    key = _fixture_key(path)
    if _LOADED.setdefault(path, key) != key:
        # regenerated since the last load: CacheManager would serve a
        # persisted frame over the old files to any identical new plan
        # (operator-internal persists that no session cache releases)
        spark.catalog.refreshByPath(path)
        _LOADED[path] = key
    if name == "events" and events_ts_unit(path, key) == "ns":
        # legacy layout: ts is TIMESTAMP(NANOS) on disk; see _events_raw.
        _pin_conf(spark, "spark.sql.legacy.parquet.nanosAsLong", "true")
        if verify and key not in _VERIFIED:
            _assert_schema(spark, path, "_events_raw")
            _VERIFIED.add(key)
        raw = spark.read.schema(SCHEMAS["_events_raw"]).parquet(path)
        return convert_events_ts(raw)
    if verify and key not in _VERIFIED:
        _assert_schema(spark, path, name)
        _VERIFIED.add(key)
    return spark.read.schema(SCHEMAS[name]).parquet(path)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view (for the SQL API)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
