"""Order-insensitive answers of the DuckDB oracle, for the output check.

Both sides canonicalise rows with ``tests/test_correctness.py::canon_rows``
(the engine's own differential test) and reduce them to sorted column
names, a row count and a value hash, so the check compares three small
values per query.
"""

from __future__ import annotations

import hashlib
import json
import os


def answer(cols, rows) -> dict:
    from tests.test_correctness import canon_rows

    canon = canon_rows(cols, rows)
    return {
        "cols": sorted(cols),
        "rows": len(canon),
        "hash": hashlib.sha1(repr(canon).encode()).hexdigest(),
    }


def oracle_answers(tier: str, names, cache_dir: str, engine_digest: str) -> dict:
    """Answer of each query's oracle SQL over ``tier``; None for a query
    without an oracle (it is checked against its own first answer).
    Answers are kept under ``cache_dir``, keyed by the tier's files, the
    query names and the engine source (which holds the oracle SQL), so a
    later run on the same tier and engine skips DuckDB."""
    key = hashlib.sha1(f"{engine_digest}:{','.join(names)}".encode())
    for f in sorted(os.listdir(tier)):
        st = os.stat(os.path.join(tier, f))
        key.update(f"{f}:{st.st_size}:{st.st_mtime_ns}".encode())
    cached = os.path.join(cache_dir, f"{key.hexdigest()}.json")
    if os.path.exists(cached):
        with open(cached) as f:
            return json.load(f)

    import duckdb

    from pydra_map_reduce_spark.plans import REGISTRY
    from pydra_map_reduce_spark.sources.tables import TABLES

    con = duckdb.connect()
    try:
        for t in TABLES:
            if os.path.exists(f"{tier}/{t}.parquet"):  # a corpus tier has two tables
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tier}/{t}.parquet')")
        out = {}
        for name in names:
            sql = REGISTRY[name].oracle
            if sql is None:
                out[name] = None
                continue
            res = con.execute(sql)
            out[name] = answer([d[0] for d in res.description], res.fetchall())
        os.makedirs(cache_dir, exist_ok=True)
        with open(cached + ".tmp", "w") as f:
            json.dump(out, f)
        os.replace(cached + ".tmp", cached)
        return out
    finally:
        con.close()
