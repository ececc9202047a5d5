"""The benchmark's workloads: which registry queries run on which tier.

Each workload is a closed loop with one client: a single driver process
submits the queries back to back on ``local[nproc]``.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    queries: tuple[str, ...]
    tables: tuple[str, ...]  # scanned once during set-up (reader warm-up)
    base: str  # fixture tier under perfbench/fixture/
    copies: int  # key-shifted copies of the base tier (1 = the base itself)


WORKLOADS: dict[str, Workload] = {
    # scan, shuffle and join execution over the 10x key-shifted tier
    # (600 k lineitem rows); plan build is small and no operator, session
    # cache or Python worker is used
    "relational_x10": Workload(
        queries=(
            "pricing_summary",  # relational: full lineitem scan + aggregate
            "join_inner",  # joins
            "window_running_sum",  # windows
            "sessionization",  # events
        ),
        tables=("lineitem", "orders", "customer", "events"),
        base="sf0.01",
        copies=10,
    ),
    # the in-memory sf0.1 corpus (5 k documents, 2 k vectors): driver-side
    # plan build, session-cache builds, per-job overhead, eager
    # write-then-read and the Arrow Python-worker tier
    "llm_corpus": Workload(
        queries=(
            "cosine_topk",  # vectors: exact top-k against one query vector
            "exact_dedup",  # dedup
            "compression_ratio_quality",  # text; no oracle, so checked pass to pass
            "corpus_pipeline",  # corpus
            "linear_quality_score",  # mleval
            "text_scan",  # io: writes and re-reads text files in the plan build
            "mr_flatmap",  # mapreduce: Python flatMap over the corpus
        ),
        tables=("documents", "embeddings"),
        base="sf0.1",
        copies=1,
    ),
}
