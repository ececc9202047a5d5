"""Input tiers of the benchmark.

The inputs are the engine's own fixture tables, shipped under
``perfbench/fixture/`` (copies of the seed-42 fixture tiers the engine's
tests use): ``sf0.001`` and ``sf0.01`` whole, and the ``documents`` and
``embeddings`` corpus of ``sf0.1``. The 10x relational tier is derived
from one of them with the key-shift rules of
``tools/build_stress_tier.py`` (every key shifted per copy, document
tokens suffixed per copy, embeddings offset per copy, nation/region
fixed) and is reused only after its row counts check out.
"""

from __future__ import annotations

import contextlib
import importlib.util
import os
import shutil
import sys

import pyarrow.parquet as pq

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixture")
FIXED = ("nation", "region")  # tables the shift rules do not replicate


def _rows(path: str) -> int:
    return pq.ParquetFile(path).metadata.num_rows


def _tables(d: str) -> list[str]:
    return sorted(f[: -len(".parquet")] for f in os.listdir(d) if f.endswith(".parquet"))


def fixture(name: str) -> str:
    return os.path.join(FIXTURE, name)


def ensure_shifted(root: str, work: str, base: str, copies: int) -> str:
    """The ``copies``-fold key-shifted tier of fixture ``base``, built
    under ``work/tiers`` unless one with the right row counts exists."""
    src = fixture(base)
    out = os.path.join(work, "tiers", f"{base}x{copies}")
    want = {t: _rows(f"{src}/{t}.parquet") * (1 if t in FIXED else copies) for t in _tables(src)}
    try:
        if {t: _rows(f"{out}/{t}.parquet") for t in want} == want:
            return out
    except OSError:
        pass
    shutil.rmtree(out, ignore_errors=True)
    spec = importlib.util.spec_from_file_location(
        "build_stress_tier", os.path.join(root, "tools", "build_stress_tier.py")
    )
    tool = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tool)
    tool.SRC = src
    tmp = out + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    argv = sys.argv
    sys.argv = ["build_stress_tier.py", tmp, str(copies)]
    try:
        with contextlib.redirect_stdout(sys.stderr):
            tool.main()
    finally:
        sys.argv = argv
    got = {t: _rows(f"{tmp}/{t}.parquet") for t in want}
    if got != want:
        raise RuntimeError(f"shifted tier row counts {got} != {want}")
    os.rename(tmp, out)
    return out
