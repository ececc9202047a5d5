"""Iterative graph analytics. SURVEY.md §2.11 (map-reduce flagship family).

PageRank is THE canonical iterative map-reduce algorithm (the original
MapReduce/Pregel showcase); connected components (the other member of
the family) lives with the dedup operators. Iterative fixpoint loops
are the one shape Catalyst can't express declaratively, so these are
driver-side loops over keyed joins/aggs — each round's plan is fully
distributed, and the per-round driver sync is bounded (a fixed
iteration count here; a 1-row convergence check in dedup_clusters).

Oracle note: DuckDB's recursive CTEs forbid aggregation inside the
recursive term, but a FIXED iteration count needs no recursion at all —
the oracle below UNROLLS the 10 rounds as chained CTEs (c1/r1 … c10/
r10), each one round of contribution-sum + damped update. The graph
(bipartite supplier↔part with both edge directions) has no dangling
nodes — every node appears as a src — so the engine's dangling-mass
term is exactly 0.0 and the oracle omits it. The local suite
additionally anchors the rank-sum invariant (tests/test_clusters.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..iterate import checkpointed_rounds
from ..operators import graph as graph_ops
from ..operators.dedup import bucket_pairs
from ..session_cache import CORPUS, SMALL, WIDE, materialize, release, session_cached
from ..sources.tables import load_table
from .registry import query


# The supplier↔part bipartite graph as oracle CTE text (namespaced
# nodes, symmetrized edges) — ONE definition interpolated into BOTH
# the pagerank and BFS oracles, mirroring the engine's single
# _supplier_part_edges; a graph-definition change can then never land
# in one oracle and not the other.
_GRAPH_EDGE_CTES = """sp AS (
        SELECT DISTINCT 's' || l_suppkey AS src, 'p' || l_partkey AS dst
        FROM lineitem
    ),
    edges AS (
        SELECT src, dst FROM sp UNION SELECT dst, src FROM sp
    )"""


def _pagerank_oracle(n_iter: int = 10, damping: float = 0.85) -> str:
    """Unrolled fixed-iteration PageRank as ANSI SQL (see module doc)."""
    steps = []
    prev = "r0"
    for k in range(1, n_iter + 1):
        steps.append(
            f"""
    c{k} AS (
        SELECT e.dst, sum(r.rank / d.deg) AS in_sum
        FROM edges e JOIN {prev} r ON e.src = r.node JOIN deg d ON e.src = d.src
        GROUP BY e.dst
    ),
    r{k} AS (
        SELECT n.node, {1 - damping} + {damping} * COALESCE(c.in_sum, 0) AS rank
        FROM nodes n LEFT JOIN c{k} c ON n.node = c.dst
    )"""
        )
        prev = f"r{k}"
    return f"""
    WITH {_GRAPH_EDGE_CTES},
    deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
    nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
    r0 AS (SELECT node, 1.0 AS rank FROM nodes),{",".join(steps)}
    SELECT node, rank
    FROM (SELECT node, floor(rank * 1000000 + 0.5) / 1000000 AS rank FROM {prev})
    ORDER BY rank DESC, node LIMIT 10
    """


def _supplier_part_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed bipartite graph from lineitem: supplier→part plus the
    reverse edge (strongly connected, so no rank sink at either side).
    Node ids are namespaced strings ('s'||k, 'p'||k) — supplier and
    part key spaces overlap."""
    li = load_table(spark, sf_dir, "lineitem")
    # distinct on the RAW ints, strings built after (guide §2.3,
    # narrower types): the corpus-sized distinct exchange carries two
    # longs instead of two ~8-char strings; concat is injective over
    # the namespaced key spaces, so the edge set is row-identical
    kp = li.select("l_suppkey", "l_partkey").distinct()
    sp = kp.select(
        F.concat(F.lit("s"), F.col("l_suppkey")).alias("src"),
        F.concat(F.lit("p"), F.col("l_partkey")).alias("dst"),
    )
    return sp.unionByName(sp.select(F.col("dst").alias("src"), F.col("src").alias("dst")))


# Session caches for the two graph edge frames (the portable-minhash
# pair-graph discipline, r13): 5 supplier↔part consumers (pagerank,
# bfs_hops, lpa_communities, kcore_decompose, random_walks) and 2
# co-purchase consumers (triangle_count, link_prediction_capped) each
# rebuilt the lineitem scan + self-join + distinct per call.
# The oracles always rebuild — the differentials keep certifying the
# machinery, not the cache.
@session_cached("lineitem")
def _sp_edges_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Hash-partitioned by src BEFORE the persist (guide §2.4: two
    # operations keyed the same way share one exchange): every
    # iterative consumer aggregates per-round on the src side —
    # lpa's neighbor-label counts, kcore's surviving-degree
    # counts, random_walks' adjacency build, pagerank's
    # distinct/out-degree — so establishing hashpartitioning(src)
    # once at cache build removes the per-round Exchange from all
    # of them (their round joins broadcast the node-sized frame,
    # which preserves the streamed side's partitioning). Column
    # form (no explicit N) keeps the partition count at
    # spark.sql.shuffle.partitions locally and AQE-coalescible,
    # i.e. scale-adaptive rather than tuned to either tier.
    e = materialize(_supplier_part_edges(spark, sf_dir).repartition("src"), WIDE)
    # materialize NOW: until the cached AQE plan is final, its
    # outputPartitioning reads as unknown and the first consumer
    # round plans with the very exchanges the repartition exists
    # to remove (observed: round-1 of a cold lpa call kept both
    # per-round exchanges; rounds 2+ planned exchange-free)
    e.count()
    return e


@session_cached("lineitem")
def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical (u < v) distinct co-purchase part-pair edges."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    # one groupBy + array pair expansion instead of the orderkey
    # self-join (guide §2.1: the join shuffled lineitem TWICE and
    # sort-merged it; this shuffles it once). collect_set + sorted
    # array + i<j combinations emits exactly the self-join's
    # distinct-per-order (u < v) pairs: strict < never paired
    # equal partkeys, and md-order duplicates collapse in the set.
    # Per-order arrays are order-sized (≤7 lines), never
    # corpus-sized.
    parts = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("ps")
    )
    pair_arrays = F.flatten(
        F.transform(
            "ps",
            lambda x, i: F.transform(
                F.slice(F.col("ps"), i + 2, F.size("ps") - i - 1),
                lambda y: F.struct(x.alias("u"), y.alias("v")),
            ),
        )
    )
    return materialize(
        parts.select(F.explode(pair_arrays).alias("p"))
        .select("p.u", "p.v")
        .distinct(),
        WIDE,
    )


@query(
    "pagerank",
    oracle=_pagerank_oracle(),  # fixed iterations unrolled as chained CTEs
    section="2.11 PageRank (iterative map-reduce flagship)",
)
def pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 suppliers/parts by PageRank over the supplier↔part
    graph, 10 fixed rounds, damping 0.85. See operators/graph.py for
    the per-round shuffle accounting.

    The top-10 cut is made on the 6dp-ROUNDED rank with a node
    tie-break (in both engine and oracle): float accumulation order
    differs between Spark and DuckDB, so near-tied full-precision
    ranks at the #10/#11 boundary could otherwise flip membership
    between the two engines. Rounding first makes the cut
    engine-stable; round_half_up keeps the rounding itself portable."""
    from ..operators.textops import round_half_up

    # n_iter/damping EXPLICIT: the unrolled-CTE oracle hard-codes 10
    # rounds at 0.85 — relying on the operator's defaults would let a
    # defaults tune silently skew this graded pairing
    ranks = graph_ops.pagerank(
        _sp_edges_cached(spark, sf_dir), damping=0.85, n_iter=10
    )
    return (
        ranks.select("node", round_half_up(F.col("rank"), 6).alias("rank"))
        .orderBy(F.col("rank").desc(), "node")
        .limit(10)
    )


@query(
    "triangle_count",
    oracle="""
    WITH e AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    )
    SELECT (SELECT count(*) FROM e)     AS n_edges,
           count(*)                     AS n_triangles
    FROM e e1
    JOIN e e2 ON e1.v = e2.u
    JOIN e e3 ON e1.u = e3.u AND e2.v = e3.v
    """,
    section="2.11 triangle counting (co-purchase graph, oriented wedge join)",
)
def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The third classic distributed-graph kernel (with PageRank and
    connected components): triangles in the part co-purchase graph
    (parts sharing an order). Edges are kept in canonical u<v
    orientation, so each triangle is generated exactly once as a
    wedge (u→v→w) closed by the (u,w) edge — the orientation trick
    that keeps wedge generation near-linear in edges instead of
    Σ deg². At 100 TB, orient by (degree, id) instead of raw id so
    high-degree hubs sit on the narrow side of every wedge; the edge
    list is persisted once and reused by all three join roles."""

    # session-cached canonical edge frame (``WIDE``: ~12M rows at the
    # 10x tier, and a heap pin of it plus the join hash maps below
    # OOM'd even a 4 GB driver at sf1 in the r14 whole-window sweep)
    e = _copurchase_edges(spark, sf_dir)
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    # SHUFFLE_HASH, never broadcast: every join side here is the
    # corpus-sized edge list — at sf1 Catalyst broadcast it (a
    # ~1.5 GB hashed relation) and killed even a 4 GB heap; the
    # partitioned build keeps per-task hash maps at |E|/partitions
    # while the wedge stream (Σ in·out rows) stays pipelined,
    # never materialized
    tri = (
        e1.join(e2.hint("shuffle_hash"), F.col("e1.v") == F.col("e2.u"))
        .join(
            e3.hint("shuffle_hash"),
            (F.col("e1.u") == F.col("e3.u")) & (F.col("e2.v") == F.col("e3.v")),
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return materialize(
        e.agg(F.count(F.lit(1)).alias("n_edges"))
        .crossJoin(F.broadcast(tri)),
        SMALL,
    )


def _bfs_oracle(n_rounds: int = 3) -> str:
    """Unrolled fixed-round BFS as chained CTEs (same trick as the
    PageRank oracle: a fixed iteration count needs no recursion)."""
    steps = []
    prev = "d0"
    for k in range(1, n_rounds + 1):
        steps.append(
            f"""
    f{k} AS (
        SELECT e.dst AS node, {k} AS dist
        FROM edges e JOIN {prev} d ON e.src = d.node
    ),
    d{k} AS (
        SELECT node, min(dist) AS dist
        FROM (SELECT * FROM {prev} UNION ALL SELECT * FROM f{k})
        GROUP BY node
    )"""
        )
        prev = f"d{k}"
    return f"""
    WITH {_GRAPH_EDGE_CTES},
    d0 AS (SELECT 's1' AS node, 0 AS dist),{",".join(steps)}
    SELECT CAST(dist AS BIGINT) AS dist, count(*) AS n_nodes,
           min(node) AS first_node, max(node) AS last_node
    FROM {prev} GROUP BY dist
    """


_BFS_ROUNDS = 3  # shared by the oracle unroll and the engine loop


@query(
    "bfs_hops",
    # n_rounds passed EXPLICITLY from the shared constant (the
    # pagerank registration's convention): the engine loop below
    # derives its bound from the same name, so retuning the depth
    # cannot land one-sided
    oracle=_bfs_oracle(n_rounds=_BFS_ROUNDS),
    section="2.11 BFS shortest hops (fixed-round frontier expansion)",
)
def bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source BFS over the supplier↔part graph, 3 fixed
    rounds from node 's1': each round joins the reached set to the
    edge list and keeps the min distance per node — the Pregel
    frontier-expansion shape, every round a keyed join + keyed min,
    nothing driver-side but the loop counter. Output is the per-level
    histogram with min/max node anchors (per-node dist is checked
    implicitly: a single wrong dist moves a node across levels and
    breaks the count AND the anchors). The reached set carries the
    explicit broadcast hint: it is bounded by the node domain while
    the edge list is corpus-sized, so the edge side must always be
    the streamed probe side — without the hint, Catalyst's size
    estimate of the edge AGGREGATE can fall under the 32 MB
    threshold and broadcast a million-row hash relation per round
    (observed OOM at sf0.1 in a 1 GB driver). Rounds reuse the
    session-cached edge frame (`_sp_edges_cached`, DISK_ONLY); the
    result is localCheckpointed (cutting the lineage back to the small
    reached set, the pagerank pattern)."""
    edges = _sp_edges_cached(spark, sf_dir)
    dist = spark.createDataFrame([("s1", 0)], "node string, dist int")
    for k in range(1, _BFS_ROUNDS + 1):
        frontier = (
            F.broadcast(dist).join(edges, dist.node == edges.src)
            .select(F.col("dst").alias("node"), F.lit(k).alias("dist"))
        )
        dist = dist.unionByName(frontier).groupBy("node").agg(
            F.min("dist").alias("dist")
        )
    return materialize(
        dist.groupBy(F.col("dist").cast("bigint").alias("dist"))
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("node").alias("first_node"),
            F.max("node").alias("last_node"),
        ),
        SMALL,
    )


# The recursive-CTE reachability as TWO shared SQL texts: the edge
# derivation and the recursion. Both engines run the identical
# recursion text (so the pair grades the two recursive-CTE
# implementations against each other); the engine materializes the
# dim-sized edge frame FIRST because Spark re-executes a
# non-recursive CTE referenced inside the recursive step at EVERY
# iteration level — with the corpus-sized lead() window inlined that
# meant one full events window per depth level (measured 2.5 s warm
# at sf0.1; ~0.6 s with the edges checkpointed). DuckDB materializes
# CTEs, so the oracle keeps the one-statement form composed from the
# same two texts.
_REC_EDGES_SQL = """
        SELECT DISTINCT event_type AS src,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS dst
        FROM {tbl}
"""
_REC_HOPS_SQL = """
    WITH RECURSIVE hops(event_type, h) AS (
        SELECT 'view', 0
        UNION ALL
        SELECT e.dst, h.h + 1
        FROM hops h JOIN {edges} e ON e.src = h.event_type
        WHERE h.h < 4 AND e.dst IS NOT NULL
    )
    SELECT event_type,
           CAST(min(h) AS INT)      AS min_hops,
           CAST(count(*) AS BIGINT) AS n_paths
    FROM hops GROUP BY event_type
"""


@query(
    "recursive_cte_hops",
    oracle=_REC_HOPS_SQL.format(edges="edges").replace(
        "WITH RECURSIVE",
        f"WITH RECURSIVE edges AS ({_REC_EDGES_SQL.format(tbl='events')}    ),",
        1,
    ),
    section="2.3/2.11 recursive CTE (declarative iteration, Spark 4 WITH RECURSIVE)",
)
def recursive_cte_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative graph reachability written DECLARATIVELY: Spark 4's
    `WITH RECURSIVE` runs the same anchor + self-referencing step the
    driver-side loops in `bfs_hops`/`pagerank` unroll by hand, but
    inside one SQL statement the engine iterates itself — min hops
    from 'view' over the observed event-transition graph, plus a
    bounded path census (every walk of length ≤ 4). The recursion
    text is shared verbatim with the DuckDB oracle (module constants
    above), so this row grades the two engines' recursive-CTE
    semantics against each other directly.

    Scale shape: the corpus-sized work is the one lead() window that
    derives the DISTINCT transition edges (|event_types|² rows —
    dim-sized no matter the corpus, the transition_matrix argument),
    materialized ONCE by an eager localCheckpoint before the
    recursion (see the constants' comment: Spark re-runs inner
    non-recursive CTEs per iteration level); the recursion then
    iterates over that dim-sized graph only, with the depth guard
    h < 4 bounding the walk census the way _BFS_ROUNDS bounds the
    unrolled loop."""
    # Unique per-call view names (the _drain pattern): session-global
    # fixed names would race/clobber under concurrent query execution
    # in one SparkSession. spark.sql() analyzes eagerly — the returned
    # plan holds the resolved relation, not the view name — so both
    # views are dropped in the finally and nothing leaks into the
    # catalog.
    import uuid as _uuid

    tag = _uuid.uuid4().hex[:12]
    ev_name, edge_name = f"events_rec_{tag}", f"edges_rec_{tag}"
    load_table(spark, sf_dir, "events").createOrReplaceTempView(ev_name)
    try:
        edges = materialize(spark.sql(_REC_EDGES_SQL.format(tbl=ev_name)), SMALL)
        edges.createOrReplaceTempView(edge_name)
        return spark.sql(_REC_HOPS_SQL.format(edges=edge_name))
    finally:
        spark.catalog.dropTempView(ev_name)
        spark.catalog.dropTempView(edge_name)


@query(
    "link_prediction_jaccard",
    oracle="""
    WITH li AS (
        SELECT l_orderkey, l_partkey FROM lineitem WHERE l_partkey < 300
    ), e AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), nbr AS (
        SELECT u AS node, v AS nb FROM e UNION ALL SELECT v, u FROM e
    ), deg AS (
        SELECT node, count(*) AS d FROM nbr GROUP BY node
    ), wedge AS (
        SELECT a.node AS x, b.node AS y, count(*) AS common
        FROM nbr a JOIN nbr b ON a.nb = b.nb AND a.node < b.node
        GROUP BY a.node, b.node
    ), cand AS (
        SELECT w.x, w.y, w.common
        FROM wedge w
        WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.u = w.x AND e.v = w.y)
    )
    SELECT x, y, CAST(c.common AS BIGINT) AS common,
           floor(c.common * 1.0 / (dx.d + dy.d - c.common) * 10000 + 0.5)
               / 10000 AS jaccard
    FROM cand c
    JOIN deg dx ON dx.node = c.x
    JOIN deg dy ON dy.node = c.y
    ORDER BY c.common * 1.0 / (dx.d + dy.d - c.common) DESC, x, y
    LIMIT 20
    """,
    section="2.11 link prediction (neighborhood-Jaccard over the co-purchase graph)",
)
def link_prediction_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph link prediction by neighborhood Jaccard (Liben-Nowell &
    Kleinberg 2003, public): for part pairs NOT yet co-purchased,
    score |N(x) ∩ N(y)| / |N(x) ∪ N(y)| over the co-purchase graph
    and surface the top-20 — the "frequently bought together"
    candidate generator, and the fourth graph kernel beside PageRank,
    CC, and triangles. Candidates come from the wedge join on the
    symmetrized adjacency (x<y canonical, each common neighbor counts
    once); existing edges drop via an anti-join; the score is a ratio
    of exact integers (identical doubles both engines), ordered on
    the RAW ratio with (x, y) tie-break. Scale: wedge growth is
    Σ deg² — at 100 TB orient wedges by (degree, id) and cap hub
    degrees exactly as triangle_count documents; everything after the
    wedge count is key-value joins on node ids. Bounded-subgraph
    posture: the fixture's co-purchase graph is near-uniformly DENSE
    (median degree ~90-120 at every SF — sum(deg^2) hits 3e8 wedges
    at sf0.1, and no hub/tail split exists for degree-capping to
    exploit), so the graded query scores the p_partkey < 300 node
    sample exactly — the blocking_quality/lsh_recall
    sample-the-truth rule: certify exact semantics on a bounded
    subgraph; at production scale wedge generation gets the
    degree-orientation + cap treatment regardless of engine."""
    from ..operators.textops import round_half_up

    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .filter(F.col("l_partkey") < 300)
    )
    e = materialize(
        bucket_pairs(li, "l_partkey", "l_orderkey").select(
            F.col("id_a").alias("u"), F.col("id_b").alias("v")
        ),
        CORPUS,
    )  # consumed by nbr (x2) + the anti-join
    nbr = e.select(F.col("u").alias("node"), F.col("v").alias("nb")).unionAll(
        e.select(F.col("v").alias("node"), F.col("u").alias("nb"))
    )
    deg = nbr.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    # wedges: node pairs with a common neighbor as the bucket
    wedge = bucket_pairs(nbr, "node", "nb").select(
        F.col("id_a").alias("x"), F.col("id_b").alias("y"), F.col("n").alias("common")
    )
    cand = wedge.join(
        e,
        (F.col("x") == F.col("u")) & (F.col("y") == F.col("v")),
        "left_anti",
    )
    dx = deg.select(F.col("node").alias("x"), F.col("d").alias("dx"))
    dy = deg.select(F.col("node").alias("y"), F.col("d").alias("dy"))
    j = F.col("common") * F.lit(1.0) / (F.col("dx") + F.col("dy") - F.col("common"))
    return (
        cand.join(dx, "x")
        .join(dy, "y")
        .orderBy(j.desc(), "x", "y")
        .limit(20)
        .select(
            "x", "y",
            F.col("common").cast("bigint").alias("common"),
            round_half_up(j, 4).alias("jaccard"),
        )
    )


# Per-center oriented-neighbor cap + candidate support floor
# (production-tunable pair). CAP=16 bounds candidate generation at
# C(16,2)·|V| wedge pairs (~2.4M at sf0.1) — sized so the map-side
# partial-agg hash maps of 32 concurrent tasks fit the 1 GB default
# driver heap (CAP=32 quadrupled the volume and OOM'd it). SUP=2 is
# the monotonicity-style prune (the apriori_triples pattern) that
# bounds the exact-rescore stage: only pairs with >= 2 independent
# capped wedges are rescored (64k of 2.2M raw candidate pairs at
# sf0.1).
_LP_CAP = 16
_LP_SUP = 2
# Largest |V| whose (node, degree) frame is broadcast. Its hash
# relation takes about 56 bytes a node (24-byte row, link, key slot),
# so 500 k nodes build about 28 MB, under session.py's 32 MB broadcast
# threshold. Above it both sides of that join sort-merge.
_LP_BCAST_NODES = 500_000


@query(
    "link_prediction_capped",
    oracle=f"""
    WITH e AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), nbr AS (
        SELECT u AS node, v AS nb FROM e UNION ALL SELECT v, u FROM e
    ), deg AS (
        SELECT node, count(*) AS d FROM nbr GROUP BY node
    ), ornt AS (
        SELECT n.node AS z, n.nb AS x, dx.d AS dx
        FROM nbr n
        JOIN deg dz ON dz.node = n.node
        JOIN deg dx ON dx.node = n.nb
        WHERE dz.d < dx.d OR (dz.d = dx.d AND n.node < n.nb)
    ), capped AS (
        SELECT z, x FROM (
            SELECT z, x,
                   row_number() OVER (PARTITION BY z ORDER BY dx, x) AS rk
            FROM ornt)
        WHERE rk <= {_LP_CAP}
    ), candpairs AS (
        SELECT a.x AS x, b.x AS y, count(*) AS cc
        FROM capped a JOIN capped b ON a.z = b.z AND a.x < b.x
        GROUP BY a.x, b.x
    ), cand AS (
        SELECT c.x, c.y FROM candpairs c
        WHERE cc >= {_LP_SUP}
          AND NOT EXISTS (SELECT 1 FROM e WHERE e.u = c.x AND e.v = c.y)
    ), rescored AS (
        SELECT c.x, c.y, count(*) AS common
        FROM cand c
        JOIN nbr a ON a.node = c.x
        JOIN nbr b ON b.node = c.y AND b.nb = a.nb
        GROUP BY c.x, c.y
    )
    SELECT x, y, CAST(c.common AS BIGINT) AS common,
           floor(c.common * 1.0 / (dx.d + dy.d - c.common) * 10000 + 0.5)
               / 10000 AS jaccard
    FROM rescored c
    JOIN deg dx ON dx.node = c.x
    JOIN deg dy ON dy.node = c.y
    ORDER BY c.common * 1.0 / (dx.d + dy.d - c.common) DESC, x, y
    LIMIT 20
    """,
    section="2.11 link prediction at scale (oriented capped candidates + exact rescore, full graph)",
)
def link_prediction_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`link_prediction_jaccard`'s production path (r13 verdict next
    #2), on the FULL co-purchase graph — no node-sample bound. The
    shape is the engine's standard candidate-generation + exact-verify
    split (the minhash-band / ngram-inverted-index rule, applied to
    graphs):

    1. **Candidate generation — degree-oriented capped wedges.** A
       wedge x–z–y is generated only from centers z with (deg, id)
       lexicographically below both endpoints, and each center
       contributes at most _LP_CAP oriented neighbors (deterministic
       rank: (deg(nb), nb) ascending). Cost is Σ min(|out(z)|, CAP)²
       ≤ CAP²·|V| — LINEAR in nodes, vs the Σ deg² of exact wedge
       counting (~3e8 at sf0.1, intractable in the 1 GB local heap
       and hub-quadratic on power-law graphs).
    2. **Support prune.** Only pairs with ≥ _LP_SUP independent
       capped wedges advance (the apriori monotonicity-prune shape) —
       64k of 2.2M raw candidates at sf0.1.
    3. **Exact rescore, array-native.** The full adjacency is pinned
       ONCE as sorted int arrays; each surviving pair's `common` is
       the EXACT neighborhood intersection (`array_intersect` of two
       ~120-element lists — exact integer set ops, identical in both
       engines), degrees are `size(...)` of the same arrays, and
       existing edges drop via `array_contains` — so the reported
       scores are never approximate; only the candidate DOMAIN is
       capped. (A row-level rescore join was tried first: its 8.5M-row
       sort-merge tripped the 1 GB heap's GCLocker floor; the array
       form moves three orders of magnitude less data.)

    Completeness is MEASURED, not claimed (tests/test_clusters.py):
    on a hub-structured (Zipf-popularity) co-purchase graph — the
    shape the cap exists for, and the realistic 100 TB case — the
    top-20 matches the exact uncapped ranking 18/20 at CAP=16.
    On THIS fixture's graph the measured top-20 recall is ~2/20:
    the fixture is near-uniformly dense (deg ≈ 119 median, 222 max,
    at every SF — no hub/tail split), so the informative witnesses
    of top pairs rank ~80-160 in every oriented out-list and no
    sub-Σdeg² candidate generator can surface them; the exact anchor
    for this graph shape stays `link_prediction_jaccard` (uncapped
    semantics on the bounded subgraph). Both measurements are
    asserted in the suite so a semantics change that degrades either
    shape fails loudly. Scale: the edge, adjacency, and capped
    frames are corpus-sized (``WIDE``); the adjacency joins are hinted
    MERGE so no corpus-sized broadcast hash relation can enter the plan
    at any stats estimate (the r13 broadcast-exchange heap gotcha)."""
    from pyspark.sql.window import Window

    from ..operators.textops import round_half_up

    # session-cached canonical edge frame, consumed by both nbr
    # directions (shared with triangle_count)
    e = _copurchase_edges(spark, sf_dir)
    nbr = e.select(
        F.col("u").alias("node"), F.col("v").alias("nb")
    ).unionAll(e.select(F.col("v").alias("node"), F.col("u").alias("nb")))
    # ONE corpus-sized pinned frame carries the whole downstream:
    # the full adjacency as sorted int arrays. Degrees derive from
    # it (size), the existing-edge filter derives from it
    # (array_contains), and the exact rescore derives from it
    # (array_intersect) — no second corpus-wide shuffle.
    adj = materialize(
        nbr.groupBy("node")
        .agg(F.sort_array(F.collect_list("nb")).alias("ns")),
        WIDE,
    )
    try:
        # Scale-adaptive slice count for the capped-wedge stage
        # (guide §2.6: derive partitioning from input size, not a
        # constant tuned to one tier). The count also materializes
        # the adjacency pin it reads anyway one line later. Wedge
        # pairs ≤ C(CAP,2)·|V|; sizing slices to ~100k pair-keys per
        # task bounds the (x,y) partial-agg hash map at any |V| (the
        # old fixed 256 was tuned to ~sf1, where 32 fat partitions
        # blew the 1 GB heap's GCLocker floor — at sf1's |V|≈200k
        # this formula reproduces ~240 slices; at sf0.1's |V|≈20k it
        # stays at defaultParallelism instead of paying 256 tiny
        # tasks per stage).
        n_nodes = adj.count()
        max_pairs = n_nodes * (_LP_CAP * (_LP_CAP - 1) // 2)
        slices = max(
            spark.sparkContext.defaultParallelism,
            min(4096, max_pairs // 100_000 + 1),
        )
        # z's degree rides ALONG with the adjacency row (size(ns)) —
        # exploding the pinned adjacency replaces the old
        # nbr ⋈ deg(z) join outright (guide §2.1: one less
        # corpus-sized shuffle); only the NEIGHBOR's degree still
        # needs a join. Its build side is chosen from the node count,
        # not left to the planner: Spark's size estimate for explode
        # does not grow with the arrays, so AQE could build the hash
        # relation from the Σdeg-row exploded side instead (2.39 M
        # rows, a 128 MB broadcast at sf0.1, which a 1 GB heap
        # fragmented by long-lived humongous arrays failed to place:
        # notEnoughMemoryToBuildAndBroadcastTable in bench.py).
        dxn = adj.select(
            F.col("node").alias("x_n"), F.size("ns").alias("dx")
        )
        dxn = (
            F.broadcast(dxn) if n_nodes <= _LP_BCAST_NODES else dxn.hint("merge")
        )
        ornt = (
            adj.select(
                F.col("node").alias("z"),
                F.size("ns").alias("dz"),
                F.explode("ns").alias("x"),
            )
            .join(dxn, F.col("x") == F.col("x_n"))
            .filter(
                (F.col("dz") < F.col("dx"))
                | ((F.col("dz") == F.col("dx")) & (F.col("z") < F.col("x")))
            )
            .select("z", "x", "dx")
        )
        # Repartitioned FINE on z BEFORE the window: the window's
        # clusterBy(z) requirement is satisfied by this exchange (no
        # second shuffle), and the ≤CAP-per-z groupBy below reuses the
        # same partitioning exchange-free. The wedge pairs are then
        # expanded IN-ROW from each center's ≤CAP sorted value array
        # (all i<j combinations ≡ the old capped⋈capped self-join on
        # a.z=b.z AND a.x<b.x, row for row) — the self-join, its
        # DISK_ONLY pin of the capped frame, and its per-partition
        # sort/hash machinery disappear; per-row state is ≤CAP²
        # structs, bounded at any |V|, and the (x,y) partial agg still
        # holds one hash map per 256-slice task (at ~sf1, 24M wedge
        # pairs over 32 fat partitions blew the 1 GB heap's GCLocker
        # floor; the scale-adaptive slice count above keeps per-task
        # state bounded).
        capped_vs = (
            ornt.repartition(slices, "z")
            .withColumn(
                "rk",
                F.row_number().over(
                    Window.partitionBy("z").orderBy("dx", "x")
                ),
            )
            .filter(F.col("rk") <= _LP_CAP)
            .groupBy("z")
            .agg(F.array_sort(F.collect_list("x")).alias("vs"))
        )
        wedge_pairs = F.flatten(
            F.transform(
                "vs",
                lambda x, i: F.transform(
                    F.slice(F.col("vs"), i + 2, F.size("vs") - i - 1),
                    lambda y: F.struct(x.alias("x"), y.alias("y")),
                ),
            )
        )
        cand = (
            capped_vs.select(F.explode(wedge_pairs).alias("p"))
            .groupBy(F.col("p.x").alias("x"), F.col("p.y").alias("y"))
            .agg(F.count(F.lit(1)).alias("cc"))
            .filter(F.col("cc") >= _LP_SUP)
            .select("x", "y")
        )
        ax = adj.select(F.col("node").alias("x"), F.col("ns").alias("xs"))
        ay = adj.select(F.col("node").alias("y"), F.col("ns").alias("ys"))
        scored = (
            cand.join(ax.hint("merge"), "x")
            # existing co-purchase pairs drop via adjacency
            # membership — the anti-join, for free
            .filter(~F.array_contains(F.col("xs"), F.col("y")))
            .join(ay.hint("merge"), "y")
            .select(
                "x",
                "y",
                F.size(F.array_intersect("xs", "ys")).alias("common"),
                F.size("xs").alias("dxd"),
                F.size("ys").alias("dyd"),
            )
        )
        j = (
            F.col("common")
            * F.lit(1.0)
            / (F.col("dxd") + F.col("dyd") - F.col("common"))
        )
        return materialize(
            scored.orderBy(j.desc(), "x", "y")
            .limit(20)
            .select(
                "x",
                "y",
                F.col("common").cast("bigint").alias("common"),
                round_half_up(j, 4).alias("jaccard"),
            ),
            # 20 rows — pin the result so the corpus-sized
            # frames below can be released before returning
            SMALL,
        )
    finally:
        adj.unpersist()


_LPA_ROUNDS = 4  # synchronous rounds (unrolled in the oracle)


def _lpa_oracle(n_rounds: int = _LPA_ROUNDS) -> str:
    """Unrolled fixed-round synchronous LPA as chained CTEs (the
    pagerank-oracle trick: a fixed iteration count needs no recursion).
    Each round: count neighbor labels per node, adopt the most
    frequent, ties to the lexicographically smallest label."""
    steps = []
    prev = "l0"
    for k in range(1, n_rounds + 1):
        steps.append(
            f"""
    c{k} AS (
        SELECT e.dst AS node, p.lbl, count(*) AS c
        FROM edges e JOIN {prev} p ON e.src = p.node
        GROUP BY e.dst, p.lbl
    ),
    l{k} AS (
        SELECT node, lbl FROM (
            SELECT node, lbl,
                   row_number() OVER (PARTITION BY node ORDER BY c DESC, lbl)
                       AS rk
            FROM c{k})
        WHERE rk = 1
    )"""
        )
        prev = f"l{k}"
    return f"""
    WITH {_GRAPH_EDGE_CTES},
    l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM edges),{",".join(steps)}
    SELECT lbl AS community, CAST(count(*) AS BIGINT) AS n_nodes
    FROM {prev}
    GROUP BY lbl
    ORDER BY n_nodes DESC, community
    LIMIT 20
    """


@query(
    "lpa_communities",
    oracle=_lpa_oracle(),
    section="2.11 label-propagation community detection (synchronous, deterministic ties)",
)
def lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007, public) over the supplier↔part graph — the fifth
    graph kernel beside PageRank, connected components, triangles,
    and link prediction (r13 verdict next #7), and a DIFFERENT
    computation from the min-label propagation in the dedup CC
    operators: each round every node adopts the label that is MOST
    FREQUENT among its neighbors (ties to the lexicographically
    smallest label — the determinism rule that makes synchronous LPA
    portable; the textbook random tie-break is not reproducible).
    Initial label = own node id, so round 1 degenerates to
    min-neighbor-id and structure emerges from round 2 on. Fixed
    _LPA_ROUNDS rounds, unrolled in the oracle exactly like the
    pagerank CTE chain. Output: the 20 largest communities by member
    count. Scale: per round one edge⋈labels join, one (node, label)
    count shuffle, and one node-partitioned rank window — all keyed
    on node ids; the label frame is node-sized and localCheckpointed
    per round (bounded, model-class state like pagerank's ranks —
    never corpus-row-sized); the edge frame is the session-cached
    DISK_ONLY supplier↔part graph (`_sp_edges_cached`)."""

    edges = _sp_edges_cached(spark, sf_dir)

    def propagate(labels: DataFrame, _r: int) -> DataFrame:
        # label frame is node-sized — broadcast it (the bfs
        # reached-set rule) so the corpus-sized edge frame is always
        # the streamed probe side. The edge frame is SYMMETRIC (every
        # (a,b) has its (b,a) twin by construction), so joining the
        # labels on DST and grouping by SRC is row-for-row identical
        # to the src-join/dst-group form — and it keys both
        # aggregations on src, the cached frame's partitioning, so
        # the whole round plans with ZERO exchanges (guide §2.4;
        # before: 2 exchanges/round, see plans/r14/
        # lpa_communities_before.txt).
        cnt = (
            edges.join(F.broadcast(labels), edges["dst"] == labels["node"])
            .groupBy(F.col("src").alias("node"), "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        # argmax(c) with smallest-label ties as min(struct(-c, lbl))
        # — field-lexicographic struct comparison ≡ the oracle's
        # (c DESC, lbl ASC) row_number rule. Measured against the
        # one-shot mode(lbl, deterministic=true) aggregate, which is
        # semantically identical here: mode's object-hash-agg buffer
        # (a per-group hash map) was SLOWER (warm 3.3–4.7 s vs
        # 2.3–2.8 s), so the two-step count+min(struct) form stays.
        return (
            cnt.groupBy("node")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("c")).alias("nc"), F.col("lbl").alias("lbl")
                    )
                ).alias("m")
            )
            .select("node", F.col("m.lbl").alias("lbl"))
        )

    # symmetrized graph: every node appears as src
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("lbl"))
    )
    for labels in checkpointed_rounds(labels, propagate, _LPA_ROUNDS):
        pass
    top = materialize(
        labels.groupBy(F.col("lbl").alias("community"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
        .orderBy(F.col("n_nodes").desc(), "community")
        .limit(20),
        SMALL,
    )
    release(labels)
    return top


_KCORE_ROUNDS = 5  # fixed peeling rounds (unrolled in the oracle)


def _kcore_oracle(n_rounds: int = _KCORE_ROUNDS) -> str:
    """Unrolled fixed-round k-core peeling as chained CTEs. k is
    data-driven: floor(|E_sym| / |V|) — the mean degree — so the peel
    bites at every SF without a per-fixture constant."""
    steps = []
    prev = "a0"
    for r in range(1, n_rounds + 1):
        steps.append(
            f"""
    d{r} AS (
        SELECT e.src AS node, count(*) AS c
        FROM edges e
        JOIN {prev} x ON e.src = x.node
        JOIN {prev} y ON e.dst = y.node
        GROUP BY e.src
    ),
    a{r} AS (SELECT node FROM d{r}, kv WHERE c >= kv.k)"""
        )
        prev = f"a{r}"
    counts = " UNION ALL ".join(
        f"SELECT {r} AS round, (SELECT count(*) FROM a{r}) AS n_alive"
        for r in range(1, n_rounds + 1)
    )
    return f"""
    WITH {_GRAPH_EDGE_CTES},
    a0 AS (SELECT DISTINCT src AS node FROM edges),
    kv AS (
        SELECT CAST((SELECT count(*) FROM edges)
                    / (SELECT count(*) FROM a0) AS BIGINT) AS k
    ),{",".join(steps)}
    SELECT CAST(round AS INT) AS round, CAST(n_alive AS BIGINT) AS n_alive
    FROM ({counts}) ORDER BY round
    """


@query(
    "kcore_decompose",
    oracle=_kcore_oracle(),
    section="2.11 k-core decomposition (iterative peel, data-driven k, bounded rounds)",
)
def kcore_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling (Seidman 1983, public) over the supplier↔part
    graph: repeatedly drop nodes whose degree WITHIN the surviving
    subgraph falls below k, here k = floor(mean degree) so the
    threshold is data-driven at every SF instead of a per-fixture
    constant. The k-core is the standard graph-cleaning gate before
    embedding training (random-walk corpora over peripheral
    degree-1 tendrils waste epochs) and the sixth graph kernel.
    Output: survivors per peel round — the convergence profile, which
    certifies every intermediate round rather than only the fixpoint.
    Determinism: k is exact integer division of exact counts; each
    round is a counting join. Scale: per round one edges⋈alive⋈alive
    semi-join-shaped count keyed on node ids (the alive frame is
    node-sized iterative state, localCheckpointed per round —
    pagerank's NODE class); _KCORE_ROUNDS is fixed so the plan is
    deterministic, the dedup_clusters 1-row-driver-check pattern
    being the convergence alternative."""

    edges = _sp_edges_cached(spark, sf_dir)

    def peel(alive: DataFrame, _r: int) -> DataFrame:
        ax = alive.select(F.col("node").alias("x_n"))
        ay = alive.select(F.col("node").alias("y_n"))
        # both alive sides are node-sized — broadcast them (the bfs
        # reached-set rule); the edge frame streams
        deg = (
            edges.join(F.broadcast(ax), edges["src"] == ax["x_n"])
            .join(F.broadcast(ay), edges["dst"] == ay["y_n"])
            .groupBy("src")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        return deg.filter(F.col("c") >= k).select(F.col("src").alias("node"))

    alive = edges.select(F.col("src").alias("node")).distinct()
    # bounded driver scalars (exact ints — identical floor division
    # in the oracle); the ivf seed-collect precedent
    k = edges.count() // alive.count()
    out_rows = []
    for r, alive in enumerate(
        checkpointed_rounds(alive, peel, _KCORE_ROUNDS), start=1
    ):
        out_rows.append((r, alive.count()))
    release(alive)
    return spark.createDataFrame(
        out_rows, "round int, n_alive bigint"
    ).orderBy("round")


_RW_STEPS = 4  # walk length (unrolled in the oracle)


def _random_walks_oracle(n_steps: int = _RW_STEPS) -> str:
    """Unrolled deterministic random walks, indexed-adjacency form: at
    step t the walk started at `start` moves to
    ns[ h(start|t) mod deg(cur) ] where ns is cur's SORTED adjacency
    list and h is the md5-prefix integer draw — one O(1) pick per
    walk per step (the alias-table shape distributed node2vec uses),
    never a per-neighbor candidate set."""
    steps = []
    prev = "w0"
    for t in range(1, n_steps + 1):
        steps.append(
            f"""
    w{t} AS (
        SELECT w.start,
               list_extract(
                   a.ns,
                   CAST(CAST(('0x' || substr(md5(w.start || '|{t}'), 1, 8))
                             AS BIGINT) % len(a.ns) AS INT) + 1
               ) AS cur
        FROM {prev} w JOIN adj a ON a.src = w.cur
    )"""
        )
        prev = f"w{t}"
    visits = " UNION ALL ".join(
        f"SELECT cur FROM w{t}" for t in range(1, n_steps + 1)
    )
    return f"""
    WITH {_GRAPH_EDGE_CTES},
    adj AS (SELECT src, list(dst ORDER BY dst) AS ns FROM edges GROUP BY src),
    w0 AS (SELECT src AS start, src AS cur FROM adj),{",".join(steps)}
    SELECT cur AS node, CAST(count(*) AS BIGINT) AS visits
    FROM ({visits})
    GROUP BY cur
    ORDER BY visits DESC, node
    LIMIT 20
    """


@query(
    "random_walks",
    oracle=_random_walks_oracle(),
    section="2.11 random-walk corpus generation (DeepWalk-style, deterministic md5 draws)",
)
def random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DeepWalk/node2vec-style walk corpus generation (Perozzi et al.
    2014, public) — the data-prep step that turns a graph into
    skip-gram training sequences: one walk of _RW_STEPS steps per
    node over the supplier↔part graph. Transitions are the
    INDEXED-ADJACENCY form distributed walk engines use: each node's
    neighbors are collected ONCE into a sorted array, and step t of
    the walk started at `start` moves to ns[h(start|t) mod deg(cur)]
    with h the md5-prefix integer draw (the corpus_shuffle
    determinism convention) — one O(1) array pick per walk per step,
    reproducible across engines, epochs, and retries. The first-cut
    per-neighbor argmin joined every walk against its full neighbor
    set: on even steps the bipartite walk sits on ~460-degree
    supplier hubs and that join exploded to ~12M rows at sf0.1
    (16-22 s/step, and GCLocker-floor pressure at the 1 GB heap);
    the indexed form does |walks|-row joins per step. Graded output:
    the 20 most-visited nodes with visit counts across all walk
    steps — a Σ-over-walks reduction that certifies every step's
    transition choice (one wrong pick anywhere shifts a count).
    Scale: the adjacency-array frame is ``WIDE`` for the step loop
    (released before return); the walk
    frontier (one row per walk) carries the broadcast hint — bounded
    by the chosen walk count, the bfs reached-set rule — so the
    array frame is always the streamed probe side."""
    edges = _sp_edges_cached(spark, sf_dir)
    adj = materialize(
        edges.groupBy("src")
        .agg(F.sort_array(F.collect_list("dst")).alias("ns")),
        WIDE,
    )

    def walk(walks: DataFrame, t: int) -> DataFrame:
        h = F.conv(
            F.substring(F.md5(F.concat(F.col("start"), F.lit(f"|{t}"))), 1, 8),
            16,
            10,
        ).cast("bigint")
        return (
            F.broadcast(walks)
            .join(adj, walks["cur"] == adj["src"])
            .select(
                "start",
                "visited",
                F.element_at("ns", (h % F.size("ns")).cast("int") + 1).alias("cur"),
            )
            .withColumn("visited", F.concat("visited", F.array("cur")))
        )

    try:
        # each walk carries the nodes it visited, so only the current
        # round is live; the edge frame is symmetric, so no walk ends
        # early and the array holds exactly one node per step
        walks = adj.select(
            F.col("src").alias("start"),
            F.col("src").alias("cur"),
            F.array().cast("array<string>").alias("visited"),
        )
        for walks in checkpointed_rounds(walks, walk, _RW_STEPS):
            pass
        top = materialize(
            walks.select(F.explode("visited").alias("node"))
            .groupBy("node")
            .agg(F.count(F.lit(1)).cast("bigint").alias("visits"))
            .orderBy(F.col("visits").desc(), "node")
            .limit(20),
            SMALL,
        )
        release(walks)
        return top
    finally:
        adj.unpersist()
