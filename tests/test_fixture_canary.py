"""Fixture-drift canary: one cheap test per (table, sf) that probes the
parquet footer through the ADAPTIVE loader and asserts the public schema.

Purpose: when the driver silently regenerates /root/testdata (it did,
between rounds 4 and 5, flipping events.ts from TIMESTAMP(NANOS) to
TIMESTAMP(MICROS)), drift should surface as ONE clear failing test that
names the table — not as 22 cascading runtime errors across the query
suite. The assertion is against the loader's *acceptance* (any footer
layout load_table knows how to read, normalized to the public schema),
not one frozen physical layout.

Metadata-only: schema probe + footer assert, no data scan, so covering
all tables × all three sfs stays fast.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pydra_map_reduce_spark.sources.tables import (
    SCHEMAS,
    TABLES,
    events_ts_unit,
    load_table,
)

_SF_DIRS = [
    d for d in ("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")
    if os.path.isdir(d)
]


@pytest.mark.parametrize("sf_dir", _SF_DIRS, ids=os.path.basename)
@pytest.mark.parametrize("table", TABLES)
def test_fixture_loads_with_public_schema(spark, sf_dir, table):
    """load_table accepts the current footer and yields the public schema."""
    df = load_table(spark, sf_dir, table)  # verify=True footer-asserts
    got = [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
    want = [(f.name, f.dataType.simpleString()) for f in SCHEMAS[table].fields]
    assert got == want, (
        f"fixture drift for {table} at {sf_dir}: loader produced {got}, "
        f"public schema is {want}"
    )


def test_retyped_column_fails_fast_naming_table(spark, tmp_path):
    """The drift check's failure path: a footer whose column type
    differs from the declared schema raises at load time, naming the
    table, instead of reading the column under the declared type."""
    region = pa.table(
        {"r_regionkey": pa.array(["0", "1"]), "r_name": pa.array(["AFRICA", "ASIA"])}
    )
    pq.write_table(region, tmp_path / "region.parquet")
    with pytest.raises(ValueError, match="schema drift for table 'region'"):
        load_table(spark, str(tmp_path), "region")


@pytest.mark.parametrize("sf_dir", _SF_DIRS, ids=os.path.basename)
def test_events_ts_unit_is_known(sf_dir):
    """The events timestamp unit is one the loader has a branch for.

    A brand-new unit (or a non-timestamp ts) fails HERE with the unit
    named, before any query dies mid-plan.
    """
    unit = events_ts_unit(f"{sf_dir}/events.parquet")
    assert unit in ("ns", "us", "ms"), (
        f"events.ts at {sf_dir} has unhandled unit {unit!r}; "
        "extend load_table's footer branch"
    )


@pytest.mark.parametrize("sf_dir", _SF_DIRS, ids=os.path.basename)
def test_embeddings_have_positive_norm(sf_dir):
    """The vector operators' input contract (similarity.py module
    docstring): every embedding is NON-ZERO. A zero-norm vector makes
    cosine 0/0, where Spark (NULL, sorts last) and DuckDB (NaN, sorts
    FIRST) diverge structurally — a regenerated fixture that ships one
    must fail HERE with the offending row named, not as an opaque
    top-k hash mismatch."""
    import duckdb

    with duckdb.connect() as con:
        # COALESCE(...) = 0 OR IS NULL: a NULL or EMPTY embedding sums
        # to NULL, and `NULL = 0` is NULL — the un-coalesced predicate
        # silently passed exactly the degenerate rows this canary
        # exists to name (r10 review)
        bad = con.execute(
            f"""
            SELECT vec_id FROM read_parquet('{sf_dir}/embeddings.parquet')
            WHERE embedding IS NULL
               OR coalesce(list_aggregate(
                      [x * x for x in CAST(embedding AS DOUBLE[])], 'sum'),
                  0) = 0
            LIMIT 5
            """
        ).fetchall()
    assert not bad, f"zero-norm/NULL/empty embeddings at {sf_dir}: {bad}"
