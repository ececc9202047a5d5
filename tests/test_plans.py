"""Physical-plan assertions — the 100 TB posture checks (SURVEY.md §4).

These lock in the *plan shape*, not just the answer: broadcast joins
stay broadcast, filters stay pushed to the parquet scan, projections
prune columns, and top-k never global-sorts. A regression here is a
performance bug even when correctness still passes.
"""

from __future__ import annotations

import contextlib
import io

import pytest

from pydra_map_reduce_spark.plans import REGISTRY

from .conftest import SF_DIR
# smallest-scale sibling of the configured fixture root (the sweep
# only needs the cheapest data; hardcoding /root/testdata broke the
# SPARK_GRAFT_TEST_SF override)
import os as _os

_SF0001_DIR = _os.path.join(_os.path.dirname(SF_DIR.rstrip("/")), "sf0.001")


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _final_plan(plan: str) -> str:
    """The plan tree without its '== Initial Plan ==' sections.

    A query served from a session cache embeds the cached relation's
    ALREADY-EXECUTED AdaptiveSparkPlan, which renders its subtree twice
    (under '== Final Plan ==' AND '== Initial Plan ==', one FileScan each),
    so a raw substring count over the full string double-counts every
    node of the cached build (the r14 driver verify caught
    test_gopher_rules failing exactly this way once the suite had
    warmed the flags cache). A nested cached plan's marker drops only
    its own section, up to the next line that is not nested deeper; the
    top-level marker (column 0) or the end of the tree (the blank line
    before ``explain("formatted")``'s node details) ends the text.
    Cutting at the FIRST marker instead ended the text inside a nested
    cached plan whenever the top level was not yet executed, so every
    operator rendered after it went uncounted and a '== 1' count could
    pass vacuously."""
    out, cut_depth = [], None
    for line in plan.splitlines():
        if not line.strip() or line.startswith("+- == Initial Plan =="):
            break
        node = line.lstrip(" :|")
        depth = len(line) - len(node)
        if cut_depth is not None and depth > cut_depth:
            continue
        cut_depth = depth if node.startswith("+- == Initial Plan ==") else None
        if cut_depth is None:
            out.append(line)
    return "\n".join(out)


def test_final_plan_on_captured_formatted_plan():
    """A formatted plan captured from Spark (a query over a cached
    relation whose AQE build has run): the nested initial plan and the
    node-detail section after the tree are not counted."""
    with open(_os.path.join(_os.path.dirname(__file__), "..", "plans", "r14",
                            "linear_quality_score_after.txt")) as f:
        plan = f.read()
    final = _final_plan(plan)
    assert final.count("Scan parquet") == 1, final
    assert "Initial Plan" not in final and "(3) Scan parquet" not in final, final


def test_final_plan_keeps_operators_after_a_nested_cached_plan(spark):
    """A live plan joining a cached, already-built relation to a second
    scan: the second scan renders AFTER the cached plan's initial
    section and is counted, before and after the top level runs."""
    cached = spark.read.parquet(f"{SF_DIR}/nation.parquet").groupBy(
        "n_regionkey"
    ).count().cache()
    try:
        cached.count()
        region = spark.read.parquet(f"{SF_DIR}/region.parquet")
        df = cached.join(region, cached.n_regionkey == region.r_regionkey)
        before = _executed(df)
        assert before.count("Initial Plan") == 1, before
        assert _final_plan(before).count("FileScan parquet") == 2, before
        df.collect()
        after = _executed(df)
        assert after.startswith("AdaptiveSparkPlan isFinalPlan=true"), after
        assert _final_plan(after).count("FileScan parquet") == 2, after
    finally:
        cached.unpersist()


def test_dim_joins_broadcast(spark):
    """customer→nation→region must be two BroadcastHashJoins (the
    fact side never shuffles for the join)."""
    df = REGISTRY["join_broadcast_dims"].fn(spark, SF_DIR)
    plan = _executed(df)
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan, plan


def test_filter_pushdown_reaches_scan(spark):
    df = REGISTRY["filter_predicates"].fn(spark, SF_DIR)
    plan = _formatted(df)
    assert "PushedFilters: [" in plan
    # every conjunct should push: status IN, totalprice bounds, LIKE-contains
    for frag in ["In(o_orderstatus", "GreaterThanOrEqual(o_totalprice", "StringContains(o_orderpriority"]:
        assert frag in plan, f"missing pushed filter {frag}\n{plan}"


def test_column_pruning(spark):
    """A 2-column projection must not read the other lineitem columns."""
    df = REGISTRY["pricing_summary"].fn(spark, SF_DIR)
    plan = _formatted(df)
    scan = plan[plan.index("ReadSchema") :].splitlines()[0]
    assert "l_partkey" not in scan and "l_suppkey" not in scan, scan


def test_topk_uses_take_ordered(spark):
    """orderBy+limit must compile to TakeOrderedAndProject (per-
    partition heaps), not a global Sort + Limit."""
    df = REGISTRY["top_k"].fn(spark, SF_DIR)
    plan = _executed(df)
    assert "TakeOrderedAndProject" in plan, plan


def test_pergroup_topk_group_limit(spark):
    """rank<=k filter should trigger WindowGroupLimit so only k rows
    per key survive the exchange."""
    df = REGISTRY["pergroup_topk"].fn(spark, SF_DIR)
    plan = _executed(df)
    assert "WindowGroupLimit" in plan, plan


def test_wordcount_partial_agg(spark):
    """The word-count agg must be partial+final (map-side combine)."""
    df = REGISTRY["word_count"].fn(spark, SF_DIR)
    plan = _executed(df)
    assert plan.count("HashAggregate") >= 2, plan


def test_lexicon_join_broadcast(spark):
    df = REGISTRY["sentiment_lexicon"].fn(spark, SF_DIR)
    plan = _executed(df)
    assert "BroadcastHashJoin" in plan, plan


def test_bucketed_join_no_shuffle(spark):
    """Bucketed tables joined on the bucket key must not exchange —
    the co-located fact-join pattern for recurring joins at scale."""
    df = REGISTRY["join_bucketed"].fn(spark, SF_DIR)
    plan = _executed(df)
    assert "SortMergeJoin" in plan, plan[:3000]
    # everything below the SMJ (its inputs) must read aligned buckets
    # with no exchange; the only allowed Exchange is the post-join agg
    # ABOVE the SMJ.
    below = plan[plan.index("SortMergeJoin") :]
    assert "Exchange hashpartitioning" not in below, below[:3000]
    assert "Bucketed: true" in below, below[:3000]


def test_lsh_allpairs_no_theta_join(spark):
    """The banded-LSH similarity join must generate candidates via an
    equi-join — no cartesian product / nested-loop theta join anywhere
    (the exact `allpairs_similarity` baseline keeps that role)."""
    df = REGISTRY["lsh_allpairs_cosine"].fn(spark, SF_DIR)
    plan = _executed(df)
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:3000]


def test_profile_approx_single_scan_no_expand(spark):
    """Approx profiling must stay one scan + one agg: no Expand
    (exact multi-column distinct) and exactly one parquet FileScan."""
    df = REGISTRY["profile_table_approx"].fn(spark, SF_DIR)
    plan = _executed(df)
    assert "Expand" not in plan, plan[:3000]
    assert plan.count("FileScan parquet") == 1, plan[:3000]


def test_pii_redact_jvm_side_single_scan(spark):
    """Regex redaction must stay JVM-side codegen: one parquet scan,
    map-side partial agg, and zero Python evaluation nodes."""
    df = REGISTRY["pii_redact"].fn(spark, SF_DIR)
    plan = _executed(df)
    assert plan.count("FileScan parquet") == 1, plan[:3000]
    assert plan.count("HashAggregate") >= 2, plan[:3000]
    assert "EvalPython" not in plan, plan[:3000]


def test_doc_chunks_no_shuffle(spark):
    """Chunking is a narrow per-row pass (generate offsets + substring)
    — there must be no Exchange in the plan at all."""
    df = REGISTRY["doc_chunks"].fn(spark, SF_DIR)
    plan = _executed(df)
    assert "Exchange" not in plan, plan[:3000]


def test_heavy_hitters_group_limit(spark):
    """The rk<=5 filter must push into WindowGroupLimit so only 5 rows
    per source survive the window exchange."""
    df = REGISTRY["heavy_hitters"].fn(spark, SF_DIR)
    plan = _executed(df)
    assert "WindowGroupLimit" in plan, plan[:3000]


def test_unicode_normalize_arrow_batched(spark):
    """The NFC normalizer must run as a vectorized Arrow pandas_udf
    (ArrowEvalPython), never row-at-a-time (BatchEvalPython)."""
    df = REGISTRY["unicode_normalize"].fn(spark, SF_DIR)
    plan = _executed(df)
    assert "ArrowEvalPython" in plan, plan[:3000]
    assert "BatchEvalPython" not in plan, plan[:3000]


def test_partitioned_shard_pack_parallel_window(spark):
    """The scale-path shard packer must run its window after a hash
    exchange on writer_id — N parallel packers, never the global
    single-partition window of the oracle-anchor `shard_pack`."""
    df = REGISTRY["shard_pack_partitioned"].fn(spark, SF_DIR)
    plan = _executed(df)
    assert "hashpartitioning(writer_id" in plan, plan[:3000]


def test_dynamic_partition_pruning(spark):
    """The filtered-dim join over the partitioned fact must inject a
    dynamicpruning expression into the fact scan's partition filters —
    scan elimination driven by the dim's data, not a literal."""
    df = REGISTRY["join_partition_pruned"].fn(spark, SF_DIR)
    plan = _formatted(df)
    assert "dynamicpruning" in plan.lower(), plan[:4000]


def test_corpus_pipeline_one_scan_two_exchanges(spark):
    """The end-to-end corpus-prep chain must stay ONE fused plan:
    a single parquet scan, exactly two exchanges (fingerprint window +
    final rollup), and no Python evaluation anywhere."""
    df = REGISTRY["corpus_pipeline"].fn(spark, SF_DIR)
    plan = _executed(df)
    assert plan.count("FileScan parquet") == 1, plan[:3000]
    assert plan.count("Exchange") <= 2, plan[:3000]
    assert "EvalPython" not in plan, plan[:3000]


def test_corpus_shuffle_limit_below_window(spark):
    """The pos<=100 filter must push below the global row_number
    window as TakeOrderedAndProject (per-partition heaps), so the
    single-partition window only ever receives 100 rows — without
    this, a global window at corpus scale is a one-executor sort."""
    df = REGISTRY["corpus_shuffle"].fn(spark, SF_DIR)
    plan = _executed(df)
    assert "TakeOrderedAndProject(limit=100" in plan, plan[:3000]


def test_salted_join_spreads_key(spark):
    """Salted join: the salt must be part of the SHUFFLE KEY — i.e.
    appear inside a hashpartitioning(...) clause — not merely exist as
    a projected column (a bare `'salt' in plan` is tautologically true
    for any plan of this query and would pass even if the salt fell
    out of the join keys, putting the hot key back on one reducer)."""
    import re

    df = REGISTRY["join_salted_skew"].fn(spark, SF_DIR)
    plan = _executed(df)
    assert re.search(r"hashpartitioning\([^)]*salt", plan), plan[:3000]


# Queries allowed to carry a GLOBAL (partition-less, ordered) window,
# each with a documented reason its window input is small or guarded:
#   shard_pack             oracle-checkable anchor; the graded scale path is
#                          shard_pack_partitioned (per-writer windows after a
#                          hash exchange) — see its docstring contract
#   corpus_shuffle         TakeOrderedAndProject pushes limit=100 below the
#                          window, so the single partition sees <=100 rows
#                          (asserted by test_corpus_shuffle_limit_below_window)
#   vocab_coverage         window input is the aggregated VOCABULARY (distinct
#                          words), orders of magnitude smaller than the corpus
_GLOBAL_WINDOW_ALLOWED = {
    "shard_pack",
    "corpus_shuffle",
    "vocab_coverage",
    # LIMIT-bounded: the rank window runs over the TakeOrdered 50-row
    # sample, never base rows (the rrf_fusion class; docstring)
    "weighted_sample_aes",
    # domain-bounded: prefix sums + the bin-grid joins run over the
    # <=100-row percent-bin aggregate, never base rows (docstring)
    "isotonic_calibration",
    # documented global sort: exact equal-frequency binning IS a total
    # order by definition — the query's docstring names the
    # approx-boundary broadcast path as the 100 TB twin and certifies
    # the exact semantics here
    "quantile_bucketize",
    # vocab-bounded: the rank-frequency window orders the DISTINCT-word
    # aggregate (vocab-sized, orders of magnitude below corpus rows;
    # at extreme vocabs the rank would range-partition — docstring)
    "zipf_fit",
    # domain-bounded: running max over the DISTINCT p_size aggregate
    # (~50 rows at any corpus scale), not over base rows
    "pareto_frontier",
    # domain-bounded: cumulative counts over the DISTINCT score-value
    # grid (2dp-bounded domain), not over base rows — the rank-sum
    # ranks derive from the grid, so the global window is constant-size
    "auc_score",
    # two windows, both bounded: the sample rank runs over the
    # LIMIT-bounded 512-row md5 reservoir (weighted_sample_aes class)
    # and the exact CDF over the DISTINCT 2dp-price value grid
    # (auc_score class) — never base rows (docstring)
    "quantile_sketch",
    # domain-bounded: cumulative bin counts over the fixed-width bin
    # table (~value_range/width rows at any corpus scale)
    "percentile_binned",
    # domain-bounded: share-of-total + rank over the NATION aggregate
    # (25 rows at any corpus scale), never base rows
    "revenue_share",
    # domain-bounded for the same reason as revenue_share: the
    # unpartitioned total runs over the 25-row nation aggregate (the
    # old first-arg regex missed this ordering-less spec entirely; the
    # balanced-paren parser sees it — documented in the query's
    # docstring since round 7)
    "nation_revenue_decimal",
    # domain-bounded: the cumulative token/vocab accumulation runs
    # over the ten decile-checkpoint rows (fixed by construction),
    # never base rows — documented in the query's docstring
    "vocab_growth",
    # domain-bounded: the order statistics rank the 32-row replicate
    # frame (constant by construction), never base rows
    "bootstrap_ci",
    # LIMIT-bounded: both fusion legs TakeOrdered-cut to 20 rows
    # BEFORE their rank window, so each global window ranks a
    # 20-row frame at any corpus scale (documented in the docstring)
    "rrf_fusion",
    # partition-count-bounded: the prefix-sum offsets window runs over
    # one row PER PARTITION (~hundreds at any corpus scale), never base
    # rows — that bound is the query's entire design (docstring)
    "stable_row_ids",
    # beam-fanout-bounded: the per-step rank window orders width ×
    # continuation-fanout candidate rows (the decode state), never
    # base rows — the corpus only ever feeds the checkpointed LM
    # tables (docstring)
    "beam_decode",
    # fanout-bounded for the same reason: the inverse-CDF cumsum runs
    # over ONE token's observed continuations per step (docstring)
    "temperature_sample_decode",
}


def test_no_undocumented_global_windows(spark):
    """Sweep EVERY batch query plan for partition-less ordered windows
    (single-partition WindowExec = one-executor sort at 100 TB). Any
    query not in the documented allowlist that grows one fails here —
    the guard VERDICT r4 asked for, generalized to the whole surface.

    Detection: parse each windowspecdefinition's TOP-LEVEL argument
    list with a balanced-paren scan (a first-arg-up-to-comma regex
    missed any ordering whose expression itself contains a comma, e.g.
    round(x, 2) ASC). Partition columns are the top-level args before
    the first ordering (ASC/DESC) arg; a spec is GLOBAL when it has no
    partition args — or when every partition arg is a bare literal
    (PARTITION BY lit(1) is a single partition wearing a disguise).
    Runs at sf0.001 — plan shape is scale-independent and some queries
    eager-execute on build.
    """
    offenders = {}
    for name, entry in REGISTRY.items():
        if name.startswith("streaming_"):
            continue  # streaming plans drain eagerly; no global windows by design
        df = entry.fn(spark, _SF0001_DIR)
        plan = _executed(df)
        bad = [
            spec
            for spec in _window_spec_args(plan)
            if _is_global_spec(spec)
        ]
        if bad and name not in _GLOBAL_WINDOW_ALLOWED:
            offenders[name] = bad
    assert not offenders, (
        "undocumented global (single-partition) windows found — either "
        f"repartition the window or add a documented allowlist entry: {offenders}"
    )


def _window_spec_args(plan: str) -> list[list[str]]:
    """Top-level comma-split args of every windowspecdefinition(...) in
    the plan text, via balanced-paren scan."""
    out = []
    i = 0
    marker = "windowspecdefinition("
    while True:
        j = plan.find(marker, i)
        if j < 0:
            return out
        k = j + len(marker)
        depth, cur, args = 1, "", []
        while k < len(plan) and depth > 0:
            ch = plan[k]
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0:
                    break
            if ch == "," and depth == 1:
                args.append(cur.strip())
                cur = ""
            else:
                cur += ch
            k += 1
        args.append(cur.strip())
        out.append(args)
        i = k


def _is_global_spec(args: list[str]) -> bool:
    """True when the spec has no real partition columns. Top-level args
    run [partition..., ordering..., frame]; orderings carry ASC/DESC,
    the frame is specifiedwindowframe(...)."""
    parts = []
    for a in args:
        if a.startswith("specifiedwindowframe"):
            break
        if " ASC" in a or " DESC" in a:
            break
        parts.append(a)
    if not parts:
        return True
    # literal-only partition == one partition in disguise: attribute
    # references always print with a #id suffix, so ANY partition arg
    # without '#' is a literal/foldable expression (numeric, string,
    # cast-of-literal alike) — the bare-isdigit form missed lit('all')
    return all("#" not in a for a in parts)


def test_bloom_filter_injection(spark):
    """Runtime row-level filtering must inject a bloom probe into the
    fact side of join_bloom_pruned once both gates pass. The
    application-side scan gate is pinned by the query itself; the
    creation-side broadcastability gate can't pass at fixture scale,
    so it is scoped here: disable auto-broadcast, assert the rewrite,
    restore. Results are never affected by the filter (the oracle is
    the plain join), so this is purely a plan-shape guarantee."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = REGISTRY["join_bloom_pruned"].fn(spark, SF_DIR)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan, plan[:3000]
        assert "bloom_filter_agg" in plan.lower() or "BloomFilterAggregate" in plan, plan[:3000]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_cbo_stats_estimation(spark):
    """join_cbo_stats' underlying join must produce an optimized plan
    whose statistics carry a row-count estimate (only possible when
    ANALYZE column stats + spark.sql.cbo.enabled are both in effect —
    size-only estimation has sizeInBytes but no rowCount). Uses the
    lazy cbo_stats_plan helper: the registered query materializes
    eagerly so it can drop its catalog tables before returning."""
    from pydra_map_reduce_spark.plans.joins import cbo_stats_plan

    df, names = cbo_stats_plan(spark, SF_DIR)
    try:
        st = df._jdf.queryExecution().optimizedPlan().stats().toString()
        assert "rowCount" in st, st
    finally:
        for name in names:
            spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_scan_agg_pushdown(spark):
    """scan_agg_pushdown must answer COUNT/MIN/MAX from parquet footer
    statistics: the V2 scan carries a PushedAggregation clause (scoped
    to the query's own newSession, so no other query's scan path
    changes)."""
    df = REGISTRY["scan_agg_pushdown"].fn(spark, SF_DIR)
    plan = _formatted(df)
    assert "PushedAggregation" in plan, plan[:3000]


def test_compaction_reduces_file_count(spark):
    """compact_small_files must actually change the layout: the
    fragmented dir holds 64 part files, the compacted dir 4. (The
    data-identity half of the contract is the differential oracle.)"""
    import glob

    from pydra_map_reduce_spark.plans.io import _tmp

    REGISTRY["compact_small_files"].fn(spark, SF_DIR).collect()
    n_frag = len(glob.glob(_tmp("orders_fragmented") + "/part-*"))
    n_comp = len(glob.glob(_tmp("orders_compacted") + "/part-*"))
    assert n_frag == 64 and n_comp == 4, (n_frag, n_comp)


def test_point_in_time_join_no_nested_loop(spark):
    """The SCD-2 point-in-time join must plan as a hash join on the
    equi key with the interval predicate as residual — never an
    interval nested-loop."""
    df = REGISTRY["join_point_in_time"].fn(spark, SF_DIR)
    plan = _executed(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan[:3000]
    assert "CartesianProduct" not in plan, plan[:3000]


def test_label_noise_detect_no_cross_join(spark):
    """The r9 rework's contract: the kNN neighborhood search is routed
    through the IVF index (probe fan-out + inverted-list equi-joins) —
    the corpus×corpus crossJoin scorer must never come back."""
    df = REGISTRY["label_noise_detect"].fn(spark, SF_DIR)
    plan = _executed(df)
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:3000]


def test_span_scrub_keyed_anti_join(spark):
    """Span removal must be the keyed (doc, pos) equi anti-join the
    docstring promises — a positional BETWEEN range join would plan a
    nested loop and die at corpus scale."""
    df = REGISTRY["span_scrub"].fn(spark, SF_DIR)
    plan = _executed(df)
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:3000]


def test_interval_overlap_join_no_nested_loop(spark):
    """The day-bucketed interval overlap join must be an equi-join on
    the bucket day (that is its whole point) — no theta/nested-loop."""
    df = REGISTRY["join_interval_overlap"].fn(spark, SF_DIR)
    plan = _executed(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan[:3000]
    assert "CartesianProduct" not in plan, plan[:3000]


def test_data_quality_report_single_scan(spark):
    """All per-column metrics must come from ONE table scan (wide agg
    + stack), never one scan per column."""
    df = REGISTRY["data_quality_report"].fn(spark, SF_DIR)
    plan = _executed(df)
    assert plan.count("FileScan parquet") == 1, plan[:3000]


def test_time_rollup_reuses_minute_grain(spark):
    """The hour/day grains must read the persisted minute grain
    (InMemoryTableScan), not recompute it from parquet per branch."""
    df = REGISTRY["time_rollup_hierarchy"].fn(spark, SF_DIR)
    df.count()  # materialize the cache
    plan = _executed(df)
    assert plan.count("InMemoryTableScan") >= 3, plan[:3000]


def test_zorder_layout_pure_codegen(spark):
    """Bit interleaving must stay whole-stage-codegen integer math —
    no Python evaluation anywhere."""
    df = REGISTRY["zorder_layout"].fn(spark, SF_DIR)
    plan = _executed(df)
    assert "EvalPython" not in plan, plan[:3000]


def test_ivf_assignment_arrow_batched(spark):
    """The k-means assignment must run as an Arrow-batched pandas_udf
    (ArrowEvalPython), never row-at-a-time (BatchEvalPython)."""
    df = REGISTRY["ivf_ann_topk"].fn(spark, SF_DIR)
    plan = _executed(df)
    assert "ArrowEvalPython" in plan, plan[:3000]
    assert "BatchEvalPython" not in plan, plan[:3000]


def test_ks_drift_grid_broadcasts(spark):
    """ks_drift's value grid and scalar count must broadcast (the
    only SortMergeJoin-eligible join is the per-source/value left
    join, which stays keyed); no cartesian product anywhere."""
    df = REGISTRY["ks_drift"].fn(spark, SF_DIR)
    plan = _executed(df)
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") <= 2, plan  # tiny grid + 1-row scalar only


def test_rolling_active_users_no_range_join(spark):
    """The rolling distinct is the 7-day EXPANSION + keyed agg form —
    no nested-loop range join, no cartesian; the real-days semi-join
    broadcasts."""
    df = REGISTRY["rolling_active_users"].fn(spark, SF_DIR)
    plan = _executed(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def _subtree_lines(plan: str, needle: str) -> list[str]:
    """Lines of the subtree rooted at the first line containing
    ``needle`` in a toString() plan tree — children are the following
    lines whose branch-marker (+-/:-) sits deeper than the root's."""
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if needle in ln:
            root_depth = max(ln.find("+-"), ln.find(":-"), 0)
            out = []
            for child in lines[i + 1 :]:
                d = max(child.find("+-"), child.find(":-"))
                if d >= 0 and d <= root_depth:
                    break
                out.append(child)
            return out
    return []


def test_pareto_frontier_window_on_aggregate(spark):
    """The skyline's ordered window must run over the distinct-size
    aggregate (domain-bounded), NOT over base part rows: a
    HashAggregate must sit in the Window's INPUT SUBTREE (a flat
    substring-after-index check was satisfiable by an aggregate in a
    sibling join branch printed later), and thresholds broadcast
    back."""
    df = REGISTRY["pareto_frontier"].fn(spark, SF_DIR)
    plan = _executed(df)
    assert "BroadcastHashJoin" in plan, plan
    below_window = _subtree_lines(plan, "Window")
    assert any("HashAggregate" in ln for ln in below_window), plan


def test_chunk_dedup_ratio_keyed_join(spark):
    """Chunk-frequency credit-back is an equi-join on fp — never a
    nested loop; chunking itself is narrow (Generate under the scan,
    no exchange before the first aggregate)."""
    df = REGISTRY["chunk_dedup_ratio"].fn(spark, SF_DIR)
    plan = _executed(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan
    assert "Generate" in plan, plan


def test_ewma_is_single_window_pass(spark):
    """All 10 EWMA lag terms must fold into ONE window operator over
    one user_id exchange — not 10 stacked windows."""
    df = REGISTRY["ewma_smooth"].fn(spark, SF_DIR)
    plan = _executed(df)
    assert plan.count("Window") == 1, plan
    assert plan.count("Exchange") <= 2, plan  # one hash partition + AQE read


def test_waiting_suppliers_hash_joins_only(spark):
    """Q21's EXISTS/NOT-EXISTS pair must lower to LeftSemi/LeftAnti
    HASH joins on l_orderkey (inequalities as residual conditions) —
    a nested-loop here is quadratic per order at corpus scale."""
    df = REGISTRY["waiting_suppliers"].fn(spark, SF_DIR)
    plan = _executed(df)
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:3000]
    assert "LeftSemi" in plan, plan[:3000]
    assert "LeftAnti" in plan, plan[:3000]


def test_bracket_revenue_brand_pushdown(spark):
    """Q19's disjunction must not block pushdown: the part scan sees
    the brand IN-set (per-side residue of the OR), and the join stays
    a broadcast hash join on partkey."""
    df = REGISTRY["bracket_revenue"].fn(spark, SF_DIR)
    plan = _formatted(df)
    assert "BroadcastHashJoin" in plan, plan[:4000]
    # no whole-plan fallback: 'Brand#12' always appears in the join's
    # Filter text, so falling back would pass exactly in the pushdown
    # regression this test guards against
    assert "part.parquet" in plan, plan[:4000]
    scan_part = plan[plan.index("part.parquet") :][:2000]
    assert "Brand#12" in scan_part, scan_part[:2000]


def test_small_quantity_threshold_computed_once(spark):
    """Q17's correlated avg must decorrelate: the per-part threshold
    aggregate runs ONCE (≤2 lineitem scans total: main + threshold),
    never per outer row."""
    df = REGISTRY["small_quantity_revenue"].fn(spark, SF_DIR)
    plan = _formatted(df)
    assert plan.count("lineitem.parquet") <= 2, plan[:3000]
    assert "CartesianProduct" not in plan, plan[:3000]


def test_customer_distribution_preserves_outer(spark):
    """Q13's zero-order customers must survive: the plan keeps a
    LeftOuter join (an inner join would silently drop the c_count=0
    bucket)."""
    df = REGISTRY["customer_distribution"].fn(spark, SF_DIR)
    plan = _executed(df)
    assert "LeftOuter" in plan, plan[:3000]


def test_min_cost_supplier_argmin_decorrelated(spark):
    """Q2's correlated min must be a keyed aggregate + join-back —
    no nested loop, supplier/nation/region broadcast."""
    df = REGISTRY["min_cost_supplier"].fn(spark, SF_DIR)
    plan = _executed(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan[:3000]
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "BroadcastHashJoin" in plan, plan[:3000]


def test_order_priority_check_semi_join(spark):
    """Q4's EXISTS must lower to a LeftSemi hash join (stops at first
    matching lineitem — no row blow-up from multi-line orders)."""
    df = REGISTRY["order_priority_check"].fn(spark, SF_DIR)
    plan = _executed(df)
    assert "LeftSemi" in plan, plan[:3000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:3000]


def test_volume_shipping_dims_broadcast(spark):
    """Q7's supplier dim and both nation roles must broadcast — only
    the fact-side joins (lineitem-orders-customer) may shuffle."""
    df = REGISTRY["volume_shipping"].fn(spark, SF_DIR)
    plan = _executed(df)
    assert plan.count("BroadcastHashJoin") >= 3, plan[:3000]


def test_idle_customers_anti_join(spark):
    """Q22's NOT EXISTS must be a LeftAnti hash join against the
    date-filtered orders; the scalar-avg threshold broadcasts."""
    df = REGISTRY["idle_customers"].fn(spark, SF_DIR)
    plan = _executed(df)
    assert "LeftAnti" in plan, plan[:3000]
    assert "CartesianProduct" not in plan, plan[:3000]


def test_top_supplier_revenue_view_bounded_scans(spark):
    """Q15's revenue view feeds both the max and the filter — at most
    two lineitem scans (view + scalar max), never one per comparison."""
    df = REGISTRY["top_supplier"].fn(spark, SF_DIR)
    plan = _formatted(df)
    assert plan.count("lineitem.parquet") <= 2, plan[:3000]


def test_auc_score_single_scan_jvm_side(spark):
    """The rank-sum AUC must stay one events scan, no Python eval —
    the grid aggregation and window are all codegen."""
    df = REGISTRY["auc_score"].fn(spark, SF_DIR)
    plan = _formatted(df)
    assert plan.count("events.parquet") == 1, plan[:3000]
    assert "EvalPython" not in plan, plan[:3000]


def test_gopher_rules_single_scan_jvm_side(spark):
    """The rule gate is split/contains/length expressions — one
    documents scan, keyed agg, zero Python evaluation nodes."""
    df = REGISTRY["gopher_rules"].fn(spark, SF_DIR)
    plan = _executed(df)
    assert _final_plan(plan).count("FileScan parquet") == 1, plan[:3000]
    assert "EvalPython" not in plan, plan[:3000]


def test_knn_classify_group_limit_vote(spark):
    """The k-NN vote must keep only k rows per query via the rank
    filter (WindowGroupLimit) before the vote aggregate, and stay
    JVM-side end to end."""
    df = REGISTRY["knn_classify"].fn(spark, SF_DIR)
    plan = _executed(df)
    assert "WindowGroupLimit" in plan, plan[:3000]
    assert "EvalPython" not in plan, plan[:3000]


def test_table_checksum_partial_aggregation(spark):
    """The checksum must map-side combine: two HashAggregate phases
    around one exchange, one scan."""
    df = REGISTRY["table_checksum"].fn(spark, SF_DIR)
    plan = _executed(df)
    assert plan.count("HashAggregate") >= 2, plan[:3000]
    assert plan.count("FileScan parquet") == 1, plan[:3000]


def test_decimal_q1_pushdown_and_hash_agg(spark):
    """The exact-decimal Q1 must keep the double flagship's plan
    shape: shipdate filter pushed to the parquet scan, unused columns
    pruned, and a partial+final HashAggregate (decimal sums at this
    precision stay on the fast long-backed path — no sort-based or
    object-hash fallback)."""
    df = REGISTRY["pricing_summary_decimal"].fn(spark, SF_DIR)
    plan = _formatted(df)
    assert "PushedFilters: [" in plan and "LessThanOrEqual(l_shipdate" in plan
    scan = plan[plan.index("ReadSchema") :].splitlines()[0]
    assert "l_partkey" not in scan and "l_orderkey" not in scan, scan
    ex = _executed(df)
    assert "HashAggregate" in ex, ex
    assert "ObjectHashAggregate" not in ex and "SortAggregate" not in ex, ex


def test_ivf_distributed_no_nlj_no_cartesian(spark):
    """The distributed-centroid IVF must pair points with cells via
    equi hash joins only — the explode(sequence)+join fan-out and the
    constant-key query joins must all plan as BroadcastHashJoin, with
    no cartesian product or nested-loop join anywhere, and the
    centroid state must appear only as the bounded checkpointed frame
    (no corpus-sized local relation)."""
    df = REGISTRY["ivf_ann_topk_distributed"].fn(spark, SF_DIR)
    plan = _executed(df)
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:3000]
    assert "BroadcastHashJoin" in plan, plan[:3000]


def test_ivf_serve_no_nlj_no_cartesian(spark):
    """The serving path (cached trained index, probe + rescore only)
    must keep training's join discipline: every 1-row-query-frame
    join rides the non-foldable pmod constant key onto
    BroadcastHashJoin — no cartesian, no nested loop."""
    df = REGISTRY["ivf_ann_serve"].fn(spark, SF_DIR)
    plan = _executed(df)
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:3000]
    assert "BroadcastHashJoin" in plan, plan[:3000]


def test_ivf_serve_absent_query_id_raises(spark):
    """Serving an id that is not in the corpus must raise the same
    named error as ivf_topk, not silently return an empty top-k."""
    import pytest as _pytest

    from pydra_map_reduce_spark.operators import similarity as ops
    from pydra_map_reduce_spark.plans.vectors import _ivf_index

    idx = _ivf_index(spark, SF_DIR)
    with _pytest.raises(ValueError, match="not present in the corpus"):
        ops.ivf_serve_distributed(idx, 10**9, n_probe=4, k=5)


def test_ivf_serve_reuses_trained_index(spark):
    """Two serves in one session hit the same trained index (the cache
    is the point of the split), and repeat results are identical."""
    from pydra_map_reduce_spark.plans.vectors import _ivf_index

    a = [tuple(r) for r in REGISTRY["ivf_ann_serve"].fn(spark, SF_DIR).collect()]
    idx = _ivf_index(spark, SF_DIR)
    b = [tuple(r) for r in REGISTRY["ivf_ann_serve"].fn(spark, SF_DIR).collect()]
    assert _ivf_index(spark, SF_DIR) is idx
    assert a == b and len(a) == 5


def test_xxhash_entry_pins_shingles_and_cand(spark):
    """The xxhash entry holds the two frames minhash_lsh_neardup reads,
    the shingles and the band candidates, so one LRU position and one
    release cover both; the signatures are not stored."""
    from pydra_map_reduce_spark.plans.dedup import _xxhash_shingles_cand

    entry = _xxhash_shingles_cand(spark, SF_DIR)
    assert len(entry) == 2 and all(df.is_cached for df in entry)
    assert _xxhash_shingles_cand(spark, SF_DIR) is entry


def test_session_caches_use_the_one_helper():
    """Session caches under plans/ go through session_cache.session_cached:
    no module-level *_CACHE dict, and no import of the removed
    hand-rolled lifecycle functions."""
    import ast
    import os

    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "pydra_map_reduce_spark",
        "plans",
    )
    removed = {"session_cache_hit", "prune_stale_session_entries"}
    bad = []
    for fn in sorted(os.listdir(root)):
        if not fn.endswith(".py"):
            continue
        tree = ast.parse(open(os.path.join(root, fn)).read())
        for node in tree.body:
            targets = []
            if isinstance(node, ast.Assign):
                targets = node.targets
            elif isinstance(node, ast.AnnAssign):
                targets = [node.target]
            for t in targets:
                if isinstance(t, ast.Name) and t.id.endswith("_CACHE"):
                    bad.append(f"{fn}: module-level {t.id}")
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom):
                for alias in node.names:
                    if alias.name in removed:
                        bad.append(f"{fn}: imports {alias.name}")
    assert not bad, bad


@pytest.mark.parametrize("over_limit", [False, True], ids=["broadcast", "merge"])
def test_link_prediction_broadcasts_node_degrees(spark, monkeypatch, over_limit):
    """The degree join builds its hash relation from the |V|-row
    (node, degree) frame, never from the Σdeg-row exploded adjacency,
    whose size Spark's explode estimate does not scale (at sf0.1 that
    side is a 128 MB broadcast of 2.39 M rows). Above the node limit
    both sides sort-merge."""
    import re

    from pydra_map_reduce_spark.plans import graph as G

    if over_limit:
        monkeypatch.setattr(G, "_LP_BCAST_NODES", 0)
    plans = []
    materialize = G.materialize

    def spy(df, size):
        out = materialize(df, size)
        plans.append(_executed(df))
        return out

    monkeypatch.setattr(G, "materialize", spy)
    REGISTRY["link_prediction_capped"].fn(spark, SF_DIR)
    plan = _final_plan(plans[-1])
    joins = re.findall(r"(\w+Join) \[(\w+)#\d+L\], \[x_n#\d+L\], Inner(, Build\w+)?", plan)
    want = ("SortMergeJoin", "x", "") if over_limit else ("BroadcastHashJoin", "x", ", BuildRight")
    assert joins == [want], plan


def test_semantic_dedup_equi_joins_only(spark):
    """Cluster-blocked dedup must pair vectors via the cid equi-join —
    no cartesian or nested-loop join anywhere (the blocking IS the
    point; an NLJ would mean the planner degraded to all-pairs)."""
    df = REGISTRY["semantic_dedup"].fn(spark, SF_DIR)
    plan = _executed(df)
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:3000]


def test_linear_quality_score_broadcast_weights(spark):
    """Model inference must broadcast the dim-bounded weight table —
    the corpus side never shuffles for the join (one keyed exchange
    for the per-doc aggregate only)."""
    df = REGISTRY["linear_quality_score"].fn(spark, SF_DIR)
    plan = _executed(df)
    assert "BroadcastHashJoin" in plan, plan[:3000]
    assert "SortMergeJoin" not in plan, plan[:3000]
    assert _final_plan(plan).count("FileScan parquet") == 1, plan[:3000]


def test_decimal_running_total_single_keyed_exchange(spark):
    """The decimal ledger window must be one hash exchange on
    o_custkey + one in-partition sort — no global sort, no extra
    shuffles; the scan reads only the four needed columns."""
    df = REGISTRY["decimal_running_total"].fn(spark, SF_DIR)
    plan = _executed(df)
    assert plan.count("Exchange hashpartitioning(o_custkey") == 1, plan[:3000]
    assert "Exchange rangepartitioning" not in plan, plan[:3000]
    scan = _formatted(df)
    scan_line = scan[scan.index("ReadSchema") :].splitlines()[0]
    assert "o_comment" not in scan_line and "o_clerk" not in scan_line, scan_line


def test_sequence_pack_parallel_window(spark):
    """Packing must parallelize per source: the position window and
    the aggregate both key on source, so no single-partition window
    (the global-stream formulation would serialize the corpus through
    one task)."""
    df = REGISTRY["sequence_pack"].fn(spark, SF_DIR)
    plan = _executed(df)
    assert "Exchange SinglePartition" not in plan, plan[:3000]
    assert "Exchange hashpartitioning(source" in plan, plan[:3000]


def test_shuffle_hash_hint_engages(spark):
    """hint('SHUFFLE_HASH') must actually produce a ShuffledHashJoin —
    not fall back to sort-merge, and not get upgraded to broadcast
    (hints are requests; a silently-ignored one is an invisible perf
    regression)."""
    df = REGISTRY["join_hint_shuffle_hash"].fn(spark, SF_DIR)
    plan = _executed(df)
    assert "ShuffledHashJoin" in plan, plan[:3000]
    assert "SortMergeJoin" not in plan, plan[:3000]
    assert "BroadcastHashJoin" not in plan, plan[:3000]


def test_incremental_dedup_statuses_all_fire(spark):
    """Falsifiability anchor: the fixture's texts are unique, so the
    query injects re-crawls and within-batch copies — if that
    injection (or the classifier) silently breaks, dup_index /
    dup_batch collapse to zero and a no-op 'classifier' would pass
    the oracle. Also pins the plan: equi-joins only, no nested-loop."""
    df = REGISTRY["incremental_dedup"].fn(spark, SF_DIR)
    plan = _executed(df)
    assert "BroadcastNestedLoop" not in plan and "Cartesian" not in plan, plan[:3000]
    import pyspark.sql.functions as F

    tot = df.agg(
        F.sum("n_kept").alias("k"),
        F.sum("n_dup_index").alias("i"),
        F.sum("n_dup_batch").alias("b"),
    ).first()
    assert tot["k"] > 0 and tot["i"] > 0 and tot["b"] > 0, tuple(tot)


def test_ivf_serve_batch_and_probe_curve_join_discipline(spark):
    """The batched multi-query serve and the probe-curve sweep must
    keep the IVF family's join discipline: centroid fan-out rides the
    non-foldable pmod constant key onto BroadcastHashJoin; candidate
    fetch and query attachment are hash joins on real columns — no
    cartesian, no nested loop anywhere in either plan."""
    from pydra_map_reduce_spark.operators import similarity as ops
    from pydra_map_reduce_spark.plans import REGISTRY
    from pydra_map_reduce_spark.plans.vectors import _ivf_index

    idx = _ivf_index(spark, SF_DIR)
    batch_plan = _executed(ops.ivf_serve_batch(idx, 8, n_probe=4, k=5))
    assert "CartesianProduct" not in batch_plan, batch_plan[:3000]
    assert "BroadcastNestedLoopJoin" not in batch_plan, batch_plan[:3000]
    assert "BroadcastHashJoin" in batch_plan, batch_plan[:3000]
    # ann_probe_curve eagerly checkpoints its candidate pool and exact
    # top-k at build time, so the TERMINAL plan contains only windows
    # over LogicalRDDs — its join discipline is the ivf_serve_batch
    # construction asserted above plus batch_cosine_topk's deliberate
    # 8-row-broadcast fan-out. The terminal plan must still be free of
    # unbroadcast cartesians.
    curve_plan = _executed(REGISTRY["ann_probe_curve"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in curve_plan, curve_plan[:3000]


def test_ivf_pq_serve_join_discipline(spark):
    """IVF-PQ serving must stay on hash/broadcast joins end-to-end:
    the centroid fan-out rides the non-foldable pmod key (a lit-key
    join would constant-fold to BroadcastNestedLoopJoin), the probe
    and LUT frames broadcast, and the candidate/code fetches are
    keyed — no cartesian, no nested loop anywhere."""
    df = REGISTRY["ivf_pq_serve"].fn(spark, SF_DIR)
    plan = _executed(df)
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:3000]
    assert "BroadcastHashJoin" in plan, plan[:3000]


def test_pq_recall_plan_shape(spark):
    """The PQ evaluation's only nested-loop joins are the two
    deliberate 8-row broadcast fan-outs (LUT and query block); the
    encode/LUT projections are constant-folded codebook literals, so
    nothing may fall out of codegen into Python eval."""
    df = REGISTRY["pq_recall"].fn(spark, SF_DIR)
    plan = _executed(df)
    assert "CartesianProduct" not in plan, plan[:3000]
    assert plan.count("BroadcastNestedLoopJoin") <= 2, plan[:3000]
    assert "BatchEvalPython" not in plan, plan[:3000]


def test_perplexity_gate_stats_broadcast(spark):
    """The per-lang frequency table and totals must broadcast onto
    the token stream (the unigram_perplexity discipline, keyed by
    lang) — a shuffled vocab join would re-shuffle the corpus-sized
    token stream twice."""
    df = REGISTRY["perplexity_gate"].fn(spark, SF_DIR)
    plan = _executed(df)
    assert plan.count("BroadcastHashJoin") >= 2, plan[:3000]
    assert "CartesianProduct" not in plan, plan[:3000]


def test_pr_curve_no_nested_loop(spark):
    """The threshold sweep is a projection fan-out (explode of nine
    literals), NOT a join — and the gate/score doc join stays keyed."""
    df = REGISTRY["pr_curve"].fn(spark, SF_DIR)
    plan = _executed(df)
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:3000]


def test_vocab_growth_cuts_broadcast(spark):
    """The decile-cutoff row rides a 1-row broadcast onto the token
    stream and the doc frame (the length_deciles pattern); only those
    two single-row fan-outs may be nested-loop."""
    df = REGISTRY["vocab_growth"].fn(spark, SF_DIR)
    plan = _executed(df)
    assert "CartesianProduct" not in plan, plan[:3000]
    assert plan.count("BroadcastNestedLoopJoin") <= 2, plan[:3000]


def test_round11_sweeps_no_cartesian(spark):
    """The round-11 sweep/diagnostic family must fan out via
    broadcast-sized explodes or keyed joins, never a cartesian:
    lsh_band_sweep (4 bandings over checkpointed signatures),
    span_width_sweep (4 widths over one lead pass), knn_k_sweep
    (per-k prefix re-vote), bm25_param_sweep (config explode over the
    rare-term-bounded scored frame), jm_lambda_sweep (config explode
    over the component frame)."""
    for name in (
        "lsh_band_sweep", "span_width_sweep", "knn_k_sweep",
        "bm25_param_sweep", "jm_lambda_sweep",
    ):
        plan = _executed(REGISTRY[name].fn(spark, _SF0001_DIR))
        assert "CartesianProduct" not in plan, (name, plan[:3000])


def test_negative_sample_anti_join_keyed(spark):
    """The positive-exclusion must be a keyed anti join (broadcast or
    shuffled), and the only nested-loop is the broadcast of the
    8-row query block."""
    df = REGISTRY["negative_sample"].fn(spark, _SF0001_DIR)
    plan = _executed(df)
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "LeftAnti" in plan, plan[:3000]


def test_mr_cogroup_join_uses_cogroup(spark):
    """The two-sided grouped map must plan as FlatMapCoGroupsInPandas
    (the real cogroup operator), not a join the pandas fn re-does."""
    df = REGISTRY["mr_cogroup_join"].fn(spark, _SF0001_DIR)
    plan = _executed(df)
    assert "FlatMapCoGroupsInPandas" in plan, plan[:3000]


def test_ivf_cell_profile_broadcast_centroids(spark):
    """The 64-row centroid frame must broadcast onto the corpus side;
    the flat join stays keyed."""
    df = REGISTRY["ivf_cell_profile"].fn(spark, _SF0001_DIR)
    plan = _executed(df)
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "BroadcastHashJoin" in plan, plan[:3000]


def test_doc_keywords_df_broadcast(spark):
    """The vocab-sized df table and the 1-row stats frame broadcast;
    the tf side is pruned by the doc_id predicate at the scan."""
    df = REGISTRY["doc_keywords"].fn(spark, _SF0001_DIR)
    plan = _executed(df)
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "BroadcastHashJoin" in plan, plan[:3000]
    fmt = _formatted(df)
    assert "doc_id" in fmt and "PushedFilters" in fmt, fmt[:2000]


def test_round12_additions_no_cartesian(spark):
    """The round-12 family must fan out via broadcast-sized frames or
    keyed joins, never a cartesian: quality_classifier_gate (broadcast
    weight/stat frames per GD round), rocchio_expansion (broadcast
    query/expansion term sets over the keyed tf exchange),
    bigram_greedy_decode and beam_decode (1-row/width-row broadcast
    steps into the checkpointed LM tables), pca_top2_components
    (d-row broadcast matvecs + rank-one deflation joins)."""
    for name in (
        "quality_classifier_gate", "rocchio_expansion",
        "bigram_greedy_decode", "beam_decode", "pca_top2_components",
    ):
        plan = _executed(REGISTRY[name].fn(spark, _SF0001_DIR))
        assert "CartesianProduct" not in plan, (name, plan[:3000])


def test_quality_classifier_gate_broadcast_weights(spark):
    """Each GD round's 17-row weight vector must broadcast onto the
    feature frame (a shuffled weight join would exchange the corpus
    once per round)."""
    df = REGISTRY["quality_classifier_gate"].fn(spark, _SF0001_DIR)
    plan = _executed(df)
    assert "BroadcastHashJoin" in plan, plan[:3000]


def test_streaming_dedup_batch_keyed_distinct(spark):
    """The batch dedup twin must plan the survivor count as a keyed
    (hash) aggregate over event_id — never a nested-loop pairing."""
    df = REGISTRY["streaming_dedup_batch"].fn(spark, _SF0001_DIR)
    plan = _executed(df)
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "HashAggregate" in plan, plan[:3000]


def test_round13_additions_no_cartesian(spark):
    """The round-13 family must stay keyed/broadcast: the minhash
    pipeline composition (banded equi-joins + CC label joins), tf-idf
    posting self-join (term-keyed), isotonic's bin-grid joins
    (range-predicate over a <=100-row bin frame is broadcast-sized,
    never corpus-sided), robust scaling (broadcast 25-row quantile
    frame), and the unigram trainer (map-literal lookups — no joins
    against the piece table at all)."""
    for name in (
        "dedup_clusters_minhash", "tfidf_doc_similarity",
        "char_entropy_gate", "cond_entropy_profile",
        "mi_feature_ranking", "robust_scale_features",
        "quantile_bucketize", "unigram_lm_tokens",
    ):
        plan = _executed(REGISTRY[name].fn(spark, _SF0001_DIR))
        assert "CartesianProduct" not in plan, (name, plan[:3000])


def test_robust_scale_quantiles_broadcast(spark):
    """The 25-row per-nation quantile frame must broadcast back onto
    customers (shuffling the fact side for a dim-sized join is the
    exact anti-pattern this query documents against)."""
    plan = _executed(REGISTRY["robust_scale_features"].fn(spark, _SF0001_DIR))
    assert "BroadcastHashJoin" in plan, plan[:3000]


def test_isotonic_rate_is_nondecreasing(spark):
    """The PAV fit must be monotone non-decreasing in the score bin —
    the defining property of isotonic regression (if this breaks, the
    max-min grid is indexed wrong, even if the differential happens
    to agree because the oracle is wrong the same way)."""
    rows = (
        REGISTRY["isotonic_calibration"]
        .fn(spark, _SF0001_DIR)
        .orderBy("bin")
        .collect()
    )
    assert len(rows) >= 2
    iso = [r["rate_iso"] for r in rows]
    assert all(a <= b + 1e-12 for a, b in zip(iso, iso[1:])), iso
    # and it must actually differ from the raw rates somewhere
    # (otherwise the fixture exercises nothing)
    assert any(r["rate_iso"] != r["rate_raw"] for r in rows)


def test_unigram_lm_probabilities_normalize(spark):
    """The trained unigram LM must be a probability distribution over
    the candidate pool (top-20 shown; the full pool sums to ~1 — the
    top-20 alone must sum to <= 1 + rounding slack) and every piece
    must be a substring the corpus actually contains."""
    rows = REGISTRY["unigram_lm_tokens"].fn(spark, _SF0001_DIR).collect()
    assert len(rows) == 20
    total = sum(r["p"] for r in rows)
    assert 0.0 < total <= 1.0 + 1e-4, total
    assert all(1 <= len(r["piece"]) <= 4 for r in rows)
    # ranks are 1..20 in p-descending order
    ps = [r["p"] for r in sorted(rows, key=lambda r: r["rank"])]
    assert all(a >= b for a, b in zip(ps, ps[1:])), ps


def test_dedup_clusters_minhash_books_balance(spark):
    """Per-source bookkeeping must balance (raw = dropped + retained)
    and the composed pipeline must agree with its own stages: total
    dropped = (cluster members - clusters) over the portable minhash
    pair graph that dedup_clusters also consumes."""
    from pyspark.sql import functions as F

    rows = REGISTRY["dedup_clusters_minhash"].fn(spark, _SF0001_DIR).collect()
    assert all(r["n_raw"] == r["n_dropped"] + r["n_retained"] for r in rows)
    total_dropped = sum(r["n_dropped"] for r in rows)
    clusters = REGISTRY["dedup_clusters"].fn(spark, _SF0001_DIR).collect()
    expected = sum(r["n_members"] - 1 for r in clusters)
    assert total_dropped == expected, (total_dropped, expected)


# ---------------------------------------------------------------------------
# Storage lint: ``session_cache.materialize`` is the one place engine code
# stores a frame, and each call names one of its size classes (defined in
# the ``session_cache`` module docstring).
_RAW_STORAGE_CALLS = {"localCheckpoint", "checkpoint", "persist", "cache"}


def test_storage_goes_through_materialize():
    """No engine module but ``session_cache`` calls a storage method, and
    every ``materialize`` call passes a size class by name: a string or
    any other expression fails, so no site can pick its own storage."""
    import ast
    import glob

    from pydra_map_reduce_spark import session_cache

    classes = {s.name for s in session_cache.Size}
    root = _os.path.dirname(session_cache.__file__)
    raw, unclassed, sites = [], [], 0
    for path in glob.glob(_os.path.join(root, "**", "*.py"), recursive=True):
        rel = _os.path.relpath(path, root)
        for node in ast.walk(ast.parse(open(path).read())):
            if not isinstance(node, ast.Call):
                continue
            func = node.func
            if isinstance(func, ast.Attribute) and func.attr in _RAW_STORAGE_CALLS:
                if rel != "session_cache.py":
                    raw.append(f"{rel}:{node.lineno} .{func.attr}(")
            elif getattr(func, "id", getattr(func, "attr", None)) == "materialize":
                sites += 1
                args = [*node.args, *(k.value for k in node.keywords)]
                size = args[1] if len(args) == 2 else None
                if getattr(size, "id", getattr(size, "attr", None)) not in classes:
                    unclassed.append(f"{rel}:{node.lineno}")
    assert sites, "no materialize call found: the scan is stale"
    assert not raw, f"store through session_cache.materialize: {sorted(raw)}"
    assert not unclassed, f"materialize needs a size class by name: {sorted(unclassed)}"


# Bucket self-join lint: ``operators.dedup.bucket_pairs`` is the one engine
# function that orders the ids of two join sides. A function below still
# compares two sides' columns itself, for the reason given.
_ID_ORDER_ALLOWED = {
    # payload: the chunk columns c0..c3 ride the band join into the
    # hamming rescore, then the pairs are deduplicated
    ("operators/dedup.py", "hamming_band_pairs"),
    # not a join: compares the two set sizes to name the contained side
    ("operators/dedup.py", "index_containment_pairs"),
    # keyless: the exact all-pairs baseline lsh_allpairs_cosine must equal
    ("operators/similarity.py", "allpairs_cosine"),
    # payload: the vector columns ride the in-cell join into the cosine
    ("operators/similarity.py", "semantic_dedup"),
    # payload: p_name rides the (brand, size) block join into levenshtein
    ("plans/joins.py", "fuzzy_blocked_join"),
    # keyless: every pair of the p_partkey < 300 sample is the ground truth
    ("plans/joins.py", "blocking_quality"),
    # keyless: every pair of the same sample is scored
    ("plans/joins.py", "fellegi_sunter_scores"),
    # payload: the tf-idf weights ride the join into the dot product
    ("plans/text.py", "tfidf_doc_similarity"),
    # payload: per-source copy counts ride the join into sum(na * nb)
    ("plans/dedup.py", "cross_source_dups"),
    # payload: per-language bin probabilities ride the join into the divergence
    ("plans/text.py", "lang_trigram_divergence"),
}


def _id_order_compares(tree):
    """(function, line) of each ``F.col(x) < F.col(y)`` (or ``>``) whose
    two columns are one name on two join sides: ``a.c`` and ``b.c``, or
    a side suffix or prefix (``doc_a`` and ``doc_b``, ``aid`` and
    ``bid``)."""
    import ast

    def col(node):
        if (
            isinstance(node, ast.Call)
            and getattr(node.func, "attr", None) == "col"
            and len(node.args) == 1
            and isinstance(node.args[0], ast.Constant)
            and isinstance(node.args[0].value, str)
        ):
            return node.args[0].value
        return None

    def two_sides(x, y):
        xs, ys = x.split("."), y.split(".")
        if len(xs) == len(ys) == 2:
            return xs[1] == ys[1] and xs[0] != ys[0]
        ends = {x[-2:], y[-2:]} == {"_a", "_b"} and x[:-2] == y[:-2]
        starts = {x[:1], y[:1]} == {"a", "b"} and x[1:] == y[1:]
        return ends or starts

    hits = []

    class Visitor(ast.NodeVisitor):
        fn = ["<module>"]

        def visit_FunctionDef(self, node):
            self.fn.append(node.name)
            self.generic_visit(node)
            self.fn.pop()

        def visit_Compare(self, node):
            if len(node.ops) == 1 and isinstance(node.ops[0], (ast.Lt, ast.Gt)):
                x, y = col(node.left), col(node.comparators[0])
                if x and y and two_sides(x, y):
                    hits.append((self.fn[-1], node.lineno))
            self.generic_visit(node)

    Visitor().visit(tree)
    return hits


def test_bucket_self_joins_go_through_bucket_pairs():
    """No engine function but ``operators.dedup.bucket_pairs`` orders the
    ids of a self-join (``a.id < b.id``) unless ``_ID_ORDER_ALLOWED``
    names it with its reason; an allowlist entry that matches nothing
    fails too, so the list cannot go stale."""
    import ast
    import glob

    from pydra_map_reduce_spark import session_cache

    root = _os.path.dirname(session_cache.__file__)
    found = set()
    bad = []
    for path in glob.glob(_os.path.join(root, "**", "*.py"), recursive=True):
        rel = _os.path.relpath(path, root)
        for fn, line in _id_order_compares(ast.parse(open(path).read())):
            found.add((rel, fn))
            if (rel, fn) not in _ID_ORDER_ALLOWED:
                bad.append(f"{rel}:{line} {fn}")
    assert not bad, f"pair ids through operators.dedup.bucket_pairs: {sorted(bad)}"
    stale = _ID_ORDER_ALLOWED - found
    assert not stale, f"allowlist entries that match nothing: {sorted(stale)}"


def test_no_session_cached_builder_called_for_its_side_effect():
    """No engine module calls a ``session_cached`` builder as a bare
    statement that discards its value: a pre-pin that only stores frames
    for another plan to match. A consumer reads the cached value."""
    import ast
    import glob

    from pydra_map_reduce_spark import session_cache

    root = _os.path.dirname(session_cache.__file__)
    trees = {
        _os.path.relpath(p, root): ast.parse(open(p).read())
        for p in glob.glob(_os.path.join(root, "**", "*.py"), recursive=True)
    }

    def name(func):
        return getattr(func, "id", getattr(func, "attr", None))

    builders = {
        node.name
        for tree in trees.values()
        for node in ast.walk(tree)
        if isinstance(node, ast.FunctionDef)
        and any(
            isinstance(d, ast.Call) and name(d.func) == "session_cached"
            for d in node.decorator_list
        )
    }
    assert builders, "no session_cached builder found: the scan is stale"
    bare = [
        f"{rel}:{node.lineno} {name(node.value.func)}("
        for rel, tree in trees.items()
        for node in ast.walk(tree)
        if isinstance(node, ast.Expr)
        and isinstance(node.value, ast.Call)
        and name(node.value.func) in builders
    ]
    assert not bare, f"read the session-cached value, do not pre-pin: {sorted(bare)}"


def test_r15_session_cached_queries_warm_call_identical(spark):
    """Session-cached consumers (the r15 bigram-LM decoder model tables,
    trainer feature frames and association-rule basket sets; the dedup
    stages) must leave every consumer's SECOND call row-identical to its
    first — the warm path reads the cached frames, the cold path builds
    them, and both must produce the same result (the differential suite
    only calls each query once per session, so the hit path needs this
    explicit cover). The warm pass runs after the whole cold pass and
    must rebuild no entry: the n-gram consumers interleave max_df=100
    and max_df=5, so a cache keyed by the cap would show up here."""
    from pydra_map_reduce_spark import session_cache as SC
    from pydra_map_reduce_spark.plans import REGISTRY as R

    names = (
        "bigram_greedy_decode",
        "temperature_sample_decode",
        "lang_id_train",
        "quality_classifier_gate",
        "association_rules",
        "apriori_triples",
        # _exact_topk8_cached consumers: the k=3 projection contract,
        # the k=10 full-depth reader, and the cross-module consumer
        "ann_batch_topk",
        "ndcg_eval",
        "negative_sample",
        # dedup stages: the n-gram index (max_df 100, 5, 100), the
        # xxhash and portable shingle/candidate frames, the dup windows
        "ngram_jaccard_neardup",
        "ngram_jaccard_capped",
        "containment_neardup",
        "minhash_lsh_neardup",
        "minhash_lsh_portable",
        "lsh_recall",
        "duplicate_spans",
        "span_scrub",
    )

    def rows(name):
        return sorted([tuple(r) for r in R[name].fn(spark, SF_DIR).collect()], key=repr)

    cold = {name: rows(name) for name in names}
    held = {k: e.value for k, e in SC._ENTRIES.items() if k[2] == SF_DIR}
    for name in names:
        assert cold[name] and rows(name) == cold[name], name
    rebuilt = [k[0] for k, v in held.items() if getattr(SC._ENTRIES.get(k), "value", None) is not v]
    assert not rebuilt, f"the warm pass rebuilt {rebuilt}"
