"""Generic vector-similarity operators (schema-agnostic).

Cosine math stays JVM-side. The flat-column trick matters: inside an
O(n²) join, per-pair array access falls out of whole-stage codegen;
64 primitive double columns keep it in (measured ~7× at 2M pairs).

Input contract: vectors are NON-ZERO. A zero-norm vector makes cosine
0/0, where the engines diverge structurally — under Spark 4's
default ANSI mode the division RAISES DIVIDE_BY_ZERO mid-query,
while DuckDB's list_cosine_similarity quietly yields NaN (which then
sorts FIRST and passes thresholds) — so no guard short of filtering
both sides could keep the differential honest. The contract is
enforced where it belongs: the fixture canary asserts every embedding
has positive norm (tests/test_fixture_canary), the same strategy
vector_quantize documents for its scale column.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..iterate import checkpointed_rounds
from ..session_cache import CORPUS, SMALL, materialize
from .dedup import bucket_pairs
from .textops import (
    round_half_up,
    signed_round_half_up,
    signed_round_half_up_sql,
)


def as_double(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (bit-identical to a SQL oracle that
    also folds left-to-right)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v)


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def rank_key(cos: Column) -> Column:
    """THE rank key for cosine-ordered top-k: the cosine floor-rounded
    half-up at 9dp (mirrored verbatim in every SQL oracle's ORDER BY).
    Ranking on the RAW float is the one cross-engine fragility left in
    a top-k plan — the engine computes dot/(√(a·a)·√(b·b)) while
    DuckDB's list_cosine_similarity fuses dot/√(na·nb), and
    √a·√b ≠ √(a·b) in IEEE, so two near-tied cosines can order
    oppositely and flip a rank or the k/k+1 boundary. 9dp absorbs ulp
    noise while separating genuinely distinct neighbors (the same
    pinning knn_classify got after the r6 advisor note; negative
    midpoints round toward +inf identically in both engines)."""
    return F.floor(cos * 1e9 + 0.5) / 1e9


def _flatten(
    df: DataFrame, id_col: str, vec_col: str, dim: int, prefix: str,
    *, check: bool = True,
) -> DataFrame:
    # dim-mismatch guard (one point lookup, the ivf_serve isEmpty
    # precedent): the norm column covers the FULL vector while the
    # flat dot covers only v0..v{dim-1}, so a wrong dim would deflate
    # every cosine (dim too small) or NULL them all out via
    # element_at past the end (dim too large) — silently, in both
    # cases. Fail loud with the actual size named instead.
    # sample a non-NULL vector so a leading NULL row can't masquerade
    # as a dim mismatch (size(NULL) is NULL, and NULL != dim would
    # raise a misleading 'caller said dim=…' here). Callers that
    # flatten the SAME frame twice (both sides of a self-join) pass
    # check=False on the second call — the guard job need only run
    # once per input.
    if check:
        first = (
            df.filter(F.col(vec_col).isNotNull())
            .select(F.size(vec_col).alias("n"))
            .first()
        )
        if first is not None and first["n"] is not None and first["n"] != dim:
            raise ValueError(
                f"vector column {vec_col!r} has {first['n']} elements but "
                f"caller said dim={dim}; the flat-column cosine would be "
                "silently wrong"
            )
    e = df.select(F.col(id_col).alias(f"{prefix}id"), as_double(vec_col).alias("_v"))
    return e.select(
        f"{prefix}id",
        F.sqrt(dot(F.col("_v"), F.col("_v"))).alias(f"{prefix}norm"),
        *[F.element_at("_v", i + 1).alias(f"{prefix}{i}") for i in range(dim)],
    )


def _flat_cosine(prefix_a: str, prefix_b: str, dim: int) -> Column:
    terms = [F.col(f"{prefix_a}{i}") * F.col(f"{prefix_b}{i}") for i in range(dim)]
    d = terms[0]
    for t in terms[1:]:
        d = d + t
    return d / (F.col(f"{prefix_a}norm") * F.col(f"{prefix_b}norm"))


def cosine_topk(
    df: DataFrame, id_col: str, vec_col: str, query_id: int, k: int = 10
) -> DataFrame:
    """Brute-force top-k neighbors of one stored vector: broadcast the
    1-row query side; TakeOrdered per-partition heaps, no global sort."""
    e = df.select(F.col(id_col).alias("vec_id"), as_double(vec_col).alias("emb"))
    q = e.filter(F.col("vec_id") == query_id).select(F.col("emb").alias("qv"))
    if q.isEmpty():
        # fail loud at the API edge (the ivf_serve_distributed
        # contract): an absent query id would otherwise return an
        # empty top-k indistinguishable from an empty corpus
        raise ValueError(f"query_id={query_id} not present in the corpus")
    return (
        e.filter(F.col("vec_id") != query_id)
        .crossJoin(F.broadcast(q))
        .select("vec_id", cosine(F.col("emb"), F.col("qv")).alias("cos_raw"))
        .orderBy(rank_key(F.col("cos_raw")).desc(), F.col("vec_id"))
        .limit(k)
        .select("vec_id", signed_round_half_up("cos_raw", 4).alias("cos"))
    )


def batch_cosine_topk(
    df: DataFrame, id_col: str, vec_col: str, *, n_queries: int, k: int
) -> DataFrame:
    """Top-k neighbors for EVERY query in a batch (ids < n_queries) in
    one pass: broadcast the query block, per-(query, candidate) cosine,
    then a per-query window rank — the batched serving shape (one
    scan of the corpus amortized over the whole query batch, vs one
    corpus scan per query with repeated cosine_topk).

    The corpus side partitions on vec_id and never re-shuffles: the
    rank window partitions by query_id AFTER the broadcast fan-out, so
    the only exchange is the corpus-sized (query_id, cos) stream into
    the window — k·n_queries rows survive. At 100 TB swap the
    brute-force fan-out for the IVF cell router (ivf_topk) and keep
    this window top-k as the merge step."""
    from pyspark.sql.window import Window

    e = df.select(F.col(id_col).alias("vec_id"), as_double(vec_col).alias("emb"))
    q = e.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qv")
    )
    # fail loud on absent query ids (the ivf_serve_batch contract): a
    # missing id would silently drop that query's group and every
    # recall/accuracy metric downstream would divide by the wrong
    # denominator. One eager count for the whole batch.
    n_found = q.count()
    if n_found != n_queries:
        raise ValueError(
            f"batch expects query ids 0..{n_queries - 1} in the corpus "
            f"but only {n_found} are present"
        )
    w = Window.partitionBy("query_id").orderBy(
        rank_key(F.col("cos_raw")).desc(), "vec_id"
    )
    return (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", cosine(F.col("emb"), F.col("qv")).alias("cos_raw"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "vec_id",
            signed_round_half_up("cos_raw", 4).alias("cos"),
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


def allpairs_cosine(
    df: DataFrame, id_col: str, vec_col: str, *, dim: int, threshold: float
) -> DataFrame:
    """Exact all-pairs ≥ threshold with flat-column codegen dot.

    Exact baseline for thresholded similarity joins; at 100 TB feed
    the same rescore from LSH-bucket candidates instead of the n²
    generator.

    The threshold compares the cosine floor-rounded half-up at 6dp
    (mirrored verbatim in the shared all-pairs oracle), not the raw
    float: the engine folds dot/(√(a·a)·√(b·b)) while DuckDB fuses
    dot/√(na·nb), and a pair within an ulp of the cut would otherwise
    flip membership between the engines — the exact hazard
    semantic_dedup pins the same way."""
    spark = df.sparkSession
    ncores = spark.sparkContext.defaultParallelism
    a = _flatten(df, id_col, vec_col, dim, "a").repartition(ncores)
    b = _flatten(df, id_col, vec_col, dim, "b", check=False)
    cos = _flat_cosine("a", "b", dim)
    return (
        a.join(b, F.col("aid") < F.col("bid"))
        .withColumn("cos_raw", cos)
        .filter(round_half_up(F.col("cos_raw"), 6) >= threshold)
        .select(
            F.col("aid").alias("id_a"),
            F.col("bid").alias("id_b"),
            signed_round_half_up("cos_raw", 4).alias("cos"),
        )
    )


def _hyperplanes(n_planes: int, dim: int, seed: int = 7) -> list[list[float]]:
    """Deterministic pseudo-random hyperplane normals in [-1, 1].

    Fixed seed ⇒ identical signatures across runs/sessions (the
    determinism contract every graded query keeps)."""
    import random

    rng = random.Random(seed)
    return [[rng.uniform(-1.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def lsh_allpairs_cosine(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    dim: int,
    threshold: float,
    bands: int = 32,
    rows_per_band: int = 2,
) -> DataFrame:
    """All-pairs cosine ≥ threshold with a banded-LSH candidate
    generator: random-hyperplane sign bits → (band, sig) equi-join →
    exact flat-column rescore. Same output contract as
    :func:`allpairs_cosine`, but the generator is an equi-join
    (:func:`~.dedup.bucket_pairs`), never a cartesian/theta self-join.

    Recall math: a pair at angle θ agrees with one hyperplane with
    p = 1 − θ/π; it escapes every band with (1 − p^r)^b. At the
    registered threshold 0.4 (θ/π ≈ 0.369, p ≈ 0.631) the defaults
    b=32, r=2 give a per-pair miss ≤ (1 − 0.631²)³² ≈ 1.1e-7 —
    recall is exact at fixture scale (verified equal to the exact
    join at sf0.001/0.01/0.1). Honest scale note: 0.4 is below
    sign-LSH's *pruning* sweet spot (random pairs still collide in
    some band with prob ≈ 1), so at this threshold the win is the
    join SHAPE; at production thresholds (≥ 0.7, p ≥ 0.77) the same
    operator prunes hard (r=8, b=16 ⇒ random-pair collision ≈ 2%)."""
    n_planes = bands * rows_per_band
    planes = _hyperplanes(n_planes, dim)
    # 2-D literal of plane normals: CreateArray-of-literals is foldable,
    # so Catalyst collapses it to ONE constant — per-row work is the
    # higher-order transform/aggregate, not a 4096-node expression tree
    # (a flat per-plane column expansion OOMs codegen at this width).
    planes_lit = F.array(*[F.array(*[F.lit(w) for w in row]) for row in planes])
    e = df.select(F.col(id_col).alias("vid"), as_double(vec_col).alias("emb"))
    sig_bits = F.transform(
        planes_lit,
        lambda p: F.aggregate(
            F.zip_with(F.col("emb"), p, lambda x, w: x * w), F.lit(0.0), lambda s, v: s + v
        )
        > 0,
    )
    band_structs = [
        F.struct(
            F.lit(bi).alias("band"),
            sum(
                (
                    F.when(
                        F.element_at("_bits", bi * rows_per_band + r + 1), F.lit(1 << r)
                    ).otherwise(F.lit(0))
                    for r in range(rows_per_band)
                ),
                F.lit(0),
            ).alias("sig"),
        )
        for bi in range(bands)
    ]
    # signature rows carry the id ONLY — vectors never ride the
    # candidate shuffle
    bnd = (
        e.select("vid", sig_bits.alias("_bits"))
        .select("vid", F.explode(F.array(*band_structs)).alias("bs"))
        .select("vid", "bs.band", "bs.sig")
    )
    cand = bucket_pairs(bnd, "vid", ["band", "sig"]).select(
        F.col("id_a").alias("cand_a"), F.col("id_b").alias("cand_b")
    )
    fa = _flatten(df, id_col, vec_col, dim, "a")
    fb = _flatten(df, id_col, vec_col, dim, "b", check=False)
    cos = _flat_cosine("a", "b", dim)
    return (
        cand.join(fa, F.col("cand_a") == F.col("aid"))
        .join(fb, F.col("cand_b") == F.col("bid"))
        .withColumn("cos_raw", cos)
        # pinned-6dp threshold, same rationale as allpairs_cosine —
        # the LSH twin's contract is byte-identical output
        .filter(round_half_up(F.col("cos_raw"), 6) >= threshold)
        .select(
            F.col("aid").alias("id_a"),
            F.col("bid").alias("id_b"),
            signed_round_half_up("cos_raw", 4).alias("cos"),
        )
    )


def signbit_lsh_topk(
    df: DataFrame, id_col: str, vec_col: str, query_id: int, *, bits: int = 4, k: int = 5
) -> DataFrame:
    """ANN: sign-bit (hyperplane) bucket on the first `bits` dims, then
    exact cosine rescore inside the query's bucket (~n/2^bits
    candidates)."""
    vec = F.col("_v")
    bucket = sum(
        (
            F.when(vec.getItem(i) > 0, F.lit(1 << (bits - 1 - i))).otherwise(F.lit(0))
            for i in range(bits)
        ),
        F.lit(0),
    )
    sig = df.select(
        F.col(id_col).alias("vec_id"), as_double(vec_col).alias("_v")
    ).select("vec_id", F.col("_v").alias("emb"), bucket.alias("bucket"))
    q = sig.filter(F.col("vec_id") == query_id).select(
        F.col("emb").alias("qv"), F.col("bucket").alias("qb")
    )
    if q.isEmpty():
        # same fail-loud serving contract as cosine_topk/ivf_serve
        raise ValueError(f"query_id={query_id} not present in the corpus")
    return (
        sig.crossJoin(F.broadcast(q))
        .filter((F.col("bucket") == F.col("qb")) & (F.col("vec_id") != query_id))
        .select("vec_id", cosine(F.col("emb"), F.col("qv")).alias("cos_raw"))
        .orderBy(rank_key(F.col("cos_raw")).desc(), F.col("vec_id"))
        .limit(k)
        .select("vec_id", signed_round_half_up("cos_raw", 4).alias("cos"))
    )


def group_centroids(df: DataFrame, group_col: str, vec_col: str) -> DataFrame:
    """Per-group per-dimension centroid via posexplode: shuffles
    (group, dim, partial-sum), never whole vectors."""
    return (
        df.select(F.col(group_col).alias("label"), F.posexplode(as_double(vec_col)).alias("pos", "v"))
        .groupBy("label", (F.col("pos") + 1).cast("int").alias("dim"))
        .agg(signed_round_half_up(F.avg("v"), 6).alias("centroid_v"), F.count(F.lit(1)).alias("n_vecs"))
    )


def ivf_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_id: int,
    *,
    n_clusters: int = 8,
    lloyd_iters: int = 3,
    n_probe: int = 2,
    k: int = 5,
) -> DataFrame:
    """IVF approximate nearest neighbors: k-means coarse quantizer +
    probe-the-nearest-cells exact rescore.

    Training is deterministic (seeds = the n_clusters lowest-id
    vectors, then `lloyd_iters` Lloyd rounds). Centroid state is
    BOUNDED (n_clusters × dim doubles), so each round syncs it to the
    driver and embeds it as literals — the MLlib-KMeans pattern. That
    makes assignment a PURE PROJECTION (n_clusters squared-distance
    expressions + a least-struct argmin, all codegen): no crossJoin
    fan-out, no groupBy keyed on the vector array, no per-round wide
    shuffle. The only per-round exchange is the (cid, dim,
    partial-sum) centroid update — n_clusters·dim rows. (The first
    form of this operator kept centroids in a DataFrame and paid a
    corpus×n_clusters crossJoin + array-keyed groupBy per round: ~3×
    the bench cost for identical output.) At query time only the
    `n_probe` nearest cells (~n_probe/n_clusters of the data) are
    rescored exactly — the inverted-file pruning that makes
    billion-vector search tractable."""
    e = df.select(F.col(id_col).alias("vec_id"), as_double(vec_col).alias("emb"))

    # deterministic seeds: the n_clusters lowest-id vectors, keyed 0..n-1
    # (TakeOrdered of a handful of rows — bounded driver transfer)
    seed_rows = e.orderBy("vec_id").limit(n_clusters).collect()
    if len(seed_rows) < n_clusters:
        # fewer vectors than cells: the dead-cell fallback would index
        # past the seed list — name the misconfiguration instead
        raise ValueError(
            f"corpus has only {len(seed_rows)} vectors but n_clusters="
            f"{n_clusters}; IVF needs at least one seed per cell"
        )
    # centroid state keyed by LIVE cid (a dict, not a dense list):
    # a cell that loses all members DROPS from the state, exactly as
    # the unrolled-Lloyd oracle's per-round c{i} CTE only carries cids
    # present in the assignment. (The first form kept a dead cell's
    # stale centroid competing in later rounds — a latent engine/
    # oracle divergence the moment a regenerated fixture empties a
    # cell; the distributed variant already had the drop semantics.)
    cents: dict[int, list[float]] = {
        i: list(r["emb"]) for i, r in enumerate(seed_rows)
    }

    def with_cid(points: DataFrame) -> DataFrame:
        """(vec_id, emb, cid): nearest centroid by squared L2, as an
        Arrow-batched pandas_udf over the bounded centroid matrix —
        numpy broadcasting does (batch × k × dim) in one vectorized
        shot. The pure-SQL alternatives both lose here: zip_with/
        aggregate HOFs evaluate interpreted per element (~1 s/pass),
        and a flat 8×64-term codegen expression blows up Catalyst
        analysis (~35 s). argmin over the SORTED live-cid matrix
        returns the first minimum = lowest live cid, mirroring the
        oracle's (d2, cid)-ordered row_number pick."""
        cid_list = sorted(cents)  # live cids, ascending for tie-break
        C = np.asarray([cents[c] for c in cid_list])  # (live, dim)
        cid_arr = np.asarray(cid_list)

        @F.pandas_udf("int")
        def assign_udf(emb: pd.Series) -> pd.Series:
            M = np.vstack(emb.to_numpy())  # (batch, dim)
            d2 = ((M[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            # 9dp half-up pin before the argmin — the oracle's d2 is
            # now floor-rounded at 9dp, and an unrounded numpy argmin
            # could pick the OTHER cell of an ulp-near-tie (numpy's
            # pairwise-blocked sum vs SQL row-sum order); the pin makes
            # ties resolve by cid identically on both sides
            d2 = np.floor(d2 * 1e9 + 0.5) / 1e9
            return pd.Series(cid_arr[d2.argmin(axis=1)])

        return points.select(
            "vec_id", "emb", assign_udf(F.col("emb")).cast("int").alias("cid")
        )

    for _ in range(lloyd_iters):
        means = (
            with_cid(e)
            .select("cid", F.posexplode("emb").alias("pos", "v"))
            .groupBy("cid", "pos")
            .agg(F.avg("v").alias("m"))
            .collect()
        )
        by_cid: dict[int, dict[int, float]] = {}
        for r in means:
            by_cid.setdefault(r["cid"], {})[r["pos"]] = r["m"]
        # dead cells DROP (see the state comment above)
        cents = {
            cid: [vals[p] for p in sorted(vals)] for cid, vals in by_cid.items()
        }

    assigned = with_cid(e)

    # fetch the query from the PLAIN projection — only the vector is
    # needed, and filtering `assigned` would drag the pandas-UDF
    # assignment pass into a point lookup (r9 review)
    q_rows = e.filter(F.col("vec_id") == query_id).collect()
    if not q_rows:
        # an absent query id previously surfaced as a bare
        # StopIteration from next() — name the actual problem
        raise ValueError(f"query_id={query_id} not present in the corpus")
    qv = list(q_rows[0]["emb"])
    # n_probe nearest cells to the query vector — pure driver math on
    # the bounded centroid state
    def d2_to_q(cv: list[float]) -> float:
        acc = 0.0
        for a, b in zip(cv, qv):
            acc += (a - b) * (a - b)
        # same 9dp pin as the assignment and the oracle's probe ORDER BY
        import math

        return math.floor(acc * 1e9 + 0.5) / 1e9

    probe = sorted(cents, key=lambda i: (d2_to_q(cents[i]), i))[:n_probe]
    qlit = F.array(*[F.lit(x) for x in qv])
    # qv is already on the driver: fold its norm ONCE in Python (the
    # same left-to-right order dot()'s aggregate would use, and
    # math.sqrt is correctly rounded in both runtimes — bit-identical)
    # instead of paying an interpreted 64-element HOF per rescored row
    import math

    qacc = 0.0
    for x in qv:
        qacc += x * x
    qnorm = F.lit(math.sqrt(qacc))
    cos = dot(F.col("emb"), qlit) / (
        F.sqrt(dot(F.col("emb"), F.col("emb"))) * qnorm
    )
    return (
        assigned.filter(F.col("cid").isin(*probe) & (F.col("vec_id") != query_id))
        .select("vec_id", cos.alias("cos_raw"))
        .orderBy(rank_key(F.col("cos_raw")).desc(), "vec_id")
        .limit(k)
        .select("vec_id", signed_round_half_up("cos_raw", 4).alias("cos"))
    )


def sq_dist_sql(a_prefix: str, b_prefix: str, dim: int) -> str:
    """Squared-L2 as a flat dim-term codegen chain over primitive
    prefixed columns — ONE definition for the trainer's assignment,
    the serve path's centroid ranking, and every multi-query probe
    (symmetric, so argument order is cosmetic)."""
    return " + ".join(
        f"({a_prefix}{i} - {b_prefix}{i}) * ({a_prefix}{i} - {b_prefix}{i})"
        for i in range(dim)
    )


def cosine_sql(a_prefix: str, b_prefix: str, dim: int) -> str:
    """Raw cosine as the left-to-right flat chain every SQL oracle's
    list_cosine_similarity folds — ONE definition for serve rescore,
    semantic-dedup rescore, and the IVF-blocked kNN."""
    dot = " + ".join(f"{a_prefix}{i} * {b_prefix}{i}" for i in range(dim))
    an = " + ".join(f"{a_prefix}{i} * {a_prefix}{i}" for i in range(dim))
    bn = " + ".join(f"{b_prefix}{i} * {b_prefix}{i}" for i in range(dim))
    return f"(({dot}) / (sqrt({an}) * sqrt({bn})))"


class IvfIndex(NamedTuple):
    """A trained distributed IVF index: the flat corpus projection
    (vec_id, v0..v{dim-1}), the trained centroid frame
    (cid, m0..m{dim-1}), and the inverted assignment (vec_id, cid).
    Built once by ``ivf_train_distributed``, queried many times by
    ``ivf_serve_distributed`` — the train-once / serve-many split
    production ANN actually runs (the index is built offline and
    persisted; each query pays probe + rescore only)."""

    flat: DataFrame
    cents: DataFrame
    assigned: DataFrame
    dim: int
    # the trained cell count: consumers that fan queries across cells
    # (multi-query probes) must derive their fan bound from HERE, not
    # re-state the trainer's default — a re-tuned n_clusters would
    # otherwise silently leave cells unprobed (r9 review finding)
    n_clusters: int


def ivf_train_distributed(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    dim: int,
    n_clusters: int = 64,
    lloyd_iters: int = 2,
    pin: bool = False,
) -> IvfIndex:
    """Train the distributed-centroid IVF index — the large-k ceiling
    lift for `ivf_topk`, whose driver-synced centroid matrix stops
    scaling when n_clusters·dim is large (documented there).
    ``pin=True`` pins the index executor-side (corpus projection
    ``CORPUS``, assignment ``SMALL``) so
    subsequent serves touch no training lineage at all.

    Centroids live in a DataFrame for the entire run; nothing
    corpus-sized OR centroid-sized ever touches the Python driver
    (`.collect()`-free by construction). Each Lloyd round is:

    1. assignment — fan each point out to the live cells with an
       `explode(sequence(0, k-1))` + EQUI BroadcastHashJoin on cid
       (never a cross/nested-loop join: the constant fan-out key
       keeps the planner on the hash path), squared-L2 as a flat
       dim-term codegen chain over primitive v·/m· columns (the
       allpairs flat-column trick — the expression is O(dim),
       independent of k, because centroid values arrive as JOIN
       columns, not literals; the literal formulation at k·dim terms
       is the one that blew up Catalyst analysis ~35 s), projected
       straight down to (vec_id, cid, d2) and argmin'd with a
       3-column min-struct aggregate (map-side partials — one
       combined row per point crosses the shuffle);
    2. update — the narrow assignment joins back to the flat corpus
       on vec_id (one keyed exchange per round; its bytes equal the
       corpus vectors crossing once), then a per-cell per-dim avg:
       one partial+final HashAggregate straight to the next flat
       centroid frame (no posexplode, no pivot). A cell losing all
       members DROPS from the frame (its fan-out rows vanish in the
       inner join next round) — mirroring the unrolled-Lloyd oracle.
       The bounded (≤ n_clusters × dim) result is one
       ``checkpointed_rounds`` round (localCheckpoint'd to cut the
       per-round lineage, the superseded round freed) — executor-side
       state, the distributed analogue of ivf_topk's driver sync.

    Query time lives in ``ivf_serve_distributed``: cell ranking and
    the final rescore join the 1-row query frame on a constant key
    (BroadcastHashJoin, not a cross join); only the `n_probe` nearest
    cells rescore exactly, with the cosine as the same left-to-right
    flat chain the SQL oracle's
    list_cosine_similarity folds. At 100 TB: corpus stays put, the
    per-round exchanges are one combined row per point (assignment)
    and k·dim partials (update) — no state bottleneck at any k."""
    from pyspark.sql.window import Window

    # Expression-building note (measured): the first form of this
    # operator built every flat column / distance term as a Python
    # Column object — thousands of py4j round-trips, ~3 s of pure
    # plan-construction overhead per call. String-built selectExpr /
    # F.expr expressions parse in ONE JVM call each; together with the
    # narrow-argmin rewrite below the warm end-to-end cost dropped
    # 7.4 s → 3.4 s at sf0.1.
    e = df.select(F.col(id_col).alias("vec_id"), as_double(vec_col).alias("emb"))
    flat = e.selectExpr(
        "vec_id", *[f"element_at(emb, {i + 1}) AS v{i}" for i in range(dim)]
    )
    if pin:
        # serve-many: the flat projection is read by every Lloyd round,
        # the final assignment, AND every future serve's rescore —
        # persist it before the first action so one scan feeds them all
        flat = materialize(flat, CORPUS)

    # deterministic seeds: the n_clusters lowest-id vectors, cid 0..n-1
    # (single-partition window is safe: the frame is limit()-bounded)
    seed = e.orderBy("vec_id").limit(n_clusters)
    # same named guard as ivf_topk (a short limit() would otherwise
    # silently train fewer cells than requested); the count is a
    # bounded scalar action — ≤ n_clusters rows, not centroid state
    n_seeds = seed.count()
    if n_seeds < n_clusters:
        raise ValueError(
            f"corpus has only {n_seeds} vectors but n_clusters="
            f"{n_clusters}; IVF needs at least one seed per cell"
        )
    cents = (
        seed
        .select(
            (F.row_number().over(Window.orderBy("vec_id")) - 1).alias("cid"), "emb"
        )
        .selectExpr(
            "cid", *[f"element_at(emb, {i + 1}) AS m{i}" for i in range(dim)]
        )
    )

    d2_sql = sq_dist_sql("v", "m", dim)

    def assign(cents_df: DataFrame) -> DataFrame:
        """(vec_id, cid): narrow argmin — the fan-out rows project
        straight down to (vec_id, cid, d2) before the aggregate, so
        the min-struct agg is 3 columns wide regardless of dim (the
        first form carried all dim vector columns through 1+dim
        aggregate functions — most of the old checkpoint cost was
        analyzing/codegening that wide aggregate)."""
        fan = flat.withColumn(
            "cid", F.explode(F.sequence(F.lit(0), F.lit(n_clusters - 1)))
        )
        return (
            fan.join(F.broadcast(cents_df), "cid")  # inner: dead cells drop
            .selectExpr(
                "vec_id", "cid", f"floor(({d2_sql}) * 1e9 + 0.5) / 1e9 AS d2"
            )
            .groupBy("vec_id")
            .agg(F.min(F.struct("d2", "cid")).getField("cid").alias("cid"))
        )

    def lloyd(cents_df: DataFrame, _r: int) -> DataFrame:
        # update joins the narrow assignment back to the flat corpus on
        # vec_id — one keyed exchange per round whose bytes equal the
        # corpus vectors crossing once (the same traffic the wide-agg
        # form paid inside its shuffle), then a dim-wide avg straight
        # to the next flat centroid frame
        return (
            assign(cents_df)
            .join(flat, "vec_id")
            .groupBy("cid")
            .agg(*[F.expr(f"avg(v{i})").alias(f"m{i}") for i in range(dim)])
        )

    for cents in checkpointed_rounds(cents, lloyd, lloyd_iters):
        pass
    assigned = assign(cents)
    if pin:
        # cut ALL training lineage: the inverted lists become
        # executor-side state (eager localCheckpoint runs the final
        # assignment now — and, flowing through `flat`, fills its
        # cache), so serves replay probe + rescore only
        assigned = materialize(assigned, SMALL)
    return IvfIndex(
        flat=flat, cents=cents, assigned=assigned, dim=dim, n_clusters=n_clusters
    )


def ivf_serve_distributed(
    index: IvfIndex,
    query_id: int,
    *,
    n_probe: int = 4,
    k: int = 5,
) -> DataFrame:
    """Serve one ANN query from a trained ``IvfIndex``: rank the
    centroids against the query vector, rescore exactly inside the
    ``n_probe`` nearest cells, return the top-k by cosine. This is
    the per-query cost of production IVF — probe + rescore over
    ~n_probe/n_clusters of the corpus — with zero training work
    (contrast ``ivf_topk_distributed``, which retrains per call for
    oracle parity). Join shapes are pinned by the same no-NLJ plan
    test as training: every 1-row-frame join rides a non-foldable
    pmod constant key on the BroadcastHashJoin path."""
    flat, cents, assigned, dim = (
        index.flat, index.cents, index.assigned, index.dim,
    )

    # constant-key equi joins for the 1-row query frame: the key must
    # be NON-FOLDABLE (pmod of a column, always 0) — a lit(1)=lit(1)
    # condition constant-folds to `true` and the planner degrades the
    # join to BroadcastNestedLoopJoin; pmod keeps it on the
    # BroadcastHashJoin path the plan test pins. (vec_id/cid are
    # non-null by the fixture contract; pmod null-propagates.)
    qf = flat.filter(F.col("vec_id") == query_id).selectExpr(
        "CAST(pmod(vec_id, 1) AS INT) AS jk",
        *[f"v{i} AS q{i}" for i in range(dim)],
    )
    # same named guard as ivf_topk: an absent id would make every
    # downstream query join empty and return 0 rows — indistinguishable
    # from a legitimate empty top-k. Cost: one eager limit(1) job at
    # call-construction time — a vec_id point lookup with filter
    # pushdown on the (persisted, in the serve-cache path) corpus
    # projection, the same lookup qf's join pays anyway; accepted as
    # the serving contract (fail loud at the API edge, not after the
    # full probe+rescore ran empty).
    if qf.isEmpty():
        raise ValueError(f"query_id={query_id} not present in the corpus")
    qd2_sql = sq_dist_sql("m", "q", dim)
    probe = (
        cents.withColumn("jk", F.expr("CAST(pmod(cid, 1) AS INT)"))
        .join(F.broadcast(qf), "jk")
        .selectExpr("cid", f"floor(({qd2_sql}) * 1e9 + 0.5) / 1e9 AS qd2")
        .orderBy("qd2", "cid")
        .limit(n_probe)
        .select("cid")
    )

    return (
        assigned.join(F.broadcast(probe), "cid")
        .filter(F.col("vec_id") != query_id)
        .join(flat, "vec_id")  # narrow assignment → fetch vectors to rescore
        .withColumn("jk", F.expr("CAST(pmod(vec_id, 1) AS INT)"))
        .join(F.broadcast(qf), "jk")
        .selectExpr(
            "vec_id",
            f"{cosine_sql('v', 'q', dim)} AS cos_raw",
        )
        .orderBy(rank_key(F.col("cos_raw")).desc(), "vec_id")
        .limit(k)
        .selectExpr(
            "vec_id",
            # shared signed half-up form — an inline copy here is how a
            # rounding-convention change lands one-sided (textops warning)
            f"{signed_round_half_up_sql('cos_raw', 4)} AS cos",
        )
    )


def ivf_serve_batch(
    index: IvfIndex,
    n_queries: int,
    *,
    n_probe: int = 4,
    k: int = 5,
) -> DataFrame:
    """(query_id, vec_id, cos): serve ALL queries with vec_id <
    ``n_queries`` from a trained ``IvfIndex`` in ONE plan — the
    multi-query generalization of ``ivf_serve_distributed``.

    A Python loop of single serves (ann_recall's original shape) pays
    per query: an eager existence probe, a centroid-ranking job, and a
    probe+rescore subtree, all unioned into one wide plan — 8 queries
    meant 8 corpus-touching subtrees and 8 driver round-trips. Here
    the whole batch is two windowed ranks: every (query, centroid)
    distance in one broadcast join (n_queries·n_clusters rows), probe
    cells per query by windowed rank, then one candidate join and one
    windowed cosine rank — the corpus is touched once, and per-query
    work still scales with ~n_probe/n_clusters of the corpus. Ranking
    keys (floored-1e9 d2 asc + cid; floored-1e9 cosine desc + vec_id)
    are byte-identical to the single serve and to the multi-query SQL
    oracles. The centroid fan-out joins on the non-foldable pmod
    constant key (lit-key joins constant-fold to BNLJ); the probe and
    query frames are broadcast (n_queries·n_probe and n_queries rows),
    candidate fetch is a hash join on vec_id."""
    from pyspark.sql.window import Window

    flat, cents, assigned, dim = (
        index.flat, index.cents, index.assigned, index.dim,
    )
    qf = flat.filter(F.col("vec_id") < n_queries).selectExpr(
        "vec_id AS query_id",
        "CAST(pmod(vec_id, 1) AS INT) AS jk",
        *[f"v{i} AS q{i}" for i in range(dim)],
    )
    # one eager guard for the whole batch (vs one isEmpty per query):
    # a missing query id would silently drop that query's rows
    n_found = qf.count()
    if n_found != n_queries:
        raise ValueError(
            f"batch expects query ids 0..{n_queries - 1} in the corpus "
            f"but only {n_found} are present"
        )
    qd2_sql = sq_dist_sql("m", "q", dim)
    wprobe = Window.partitionBy("query_id").orderBy("qd2", "cid")
    probe = (
        cents.withColumn("jk", F.expr("CAST(pmod(cid, 1) AS INT)"))
        .join(F.broadcast(qf), "jk")
        .selectExpr("query_id", "cid", f"floor(({qd2_sql}) * 1e9 + 0.5) / 1e9 AS qd2")
        .withColumn("rn", F.row_number().over(wprobe))
        .filter(F.col("rn") <= n_probe)
        .select("query_id", "cid")
    )
    wrank = Window.partitionBy("query_id").orderBy(
        rank_key(F.col("cos_raw")).desc(), "vec_id"
    )
    return (
        assigned.join(F.broadcast(probe), "cid")
        .filter(F.col("vec_id") != F.col("query_id"))
        .join(flat, "vec_id")  # narrow assignment → fetch vectors to rescore
        .join(F.broadcast(qf.drop("jk")), "query_id")
        .selectExpr(
            "query_id",
            "vec_id",
            f"{cosine_sql('v', 'q', dim)} AS cos_raw",
        )
        .withColumn("rn", F.row_number().over(wrank))
        .filter(F.col("rn") <= k)
        .selectExpr(
            "query_id",
            "vec_id",
            # shared signed half-up form — an inline copy here is how a
            # rounding-convention change lands one-sided (textops warning)
            f"{signed_round_half_up_sql('cos_raw', 4)} AS cos",
        )
    )


def ivf_topk_distributed(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_id: int,
    *,
    dim: int,
    n_clusters: int = 64,
    lloyd_iters: int = 2,
    n_probe: int = 4,
    k: int = 5,
) -> DataFrame:
    """Train + serve in one call — the oracle-parity form (the
    unrolled-Lloyd SQL oracle recomputes training every run, so this
    entry point does too). Production / bench serving goes through
    ``ivf_train_distributed(pin=True)`` once and
    ``ivf_serve_distributed`` per query."""
    index = ivf_train_distributed(
        df, id_col, vec_col, dim=dim, n_clusters=n_clusters,
        lloyd_iters=lloyd_iters,
    )
    return ivf_serve_distributed(index, query_id, n_probe=n_probe, k=k)


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    dim: int,
    n_clusters: int = 16,
    lloyd_iters: int = 2,
    threshold: float = 0.4,
    index: IvfIndex | None = None,
) -> DataFrame:
    """SemDeDup-shaped semantic deduplication: k-means cells as the
    BLOCKING structure (train via ``ivf_train_distributed``), exact
    cosine rescore strictly WITHIN each cell, min-id survivor rule.
    Returns one row per cell: (cid, n_vectors, n_dropped, n_kept).

    This is the third near-dup blocking family next to the shingle
    inverted index (ngram_jaccard) and hyperplane banding
    (lsh_allpairs): cluster-blocked comparison is how embedding-level
    dedup runs at corpus scale — pairwise work is O(Σ|cell|²), and
    because ``n_clusters`` scales with the corpus, |cell| stays
    bounded, so cost is linear in rows at fixed cell size (the same
    argument as the df-capped posting lists). Pairs crossing a cell
    boundary are out of scope BY DESIGN — k-means co-locates
    near-duplicates far more reliably than random banding at high
    thresholds, and the miss class is the algorithm's documented
    recall trade, not an engine shortcut.

    Determinism end to end: seeded deterministic training, the exact
    within-cell cosine floor-rounded half-up at 6dp BEFORE the
    threshold compare (both engines compute k·1e-6 identically —
    raw-float thresholding is where fused-vs-folded cosine ulp flips
    pair membership), and the drop rule "any smaller-id neighbor
    ≥ threshold" — non-iterative, so it is exactly expressible in
    the unrolled-Lloyd SQL oracle (contrast greedy SemDeDup, whose
    keep-set depends on scan order). All joins are equi (cid /
    vec_id): no NLJ, no cartesian, plan-asserted."""
    # A caller-supplied trained index (e.g. the session's ANN serving
    # index) makes dedup a pure probe workload — the SemDeDup paper's
    # own shape, where ONE clustering serves both search and dedup.
    # Otherwise train here with pin: the flat projection feeds
    # every Lloyd round, BOTH sides of the in-cell self-join, and the
    # final aggregate — the persisted corpus scans once instead of
    # five times; assigned comes back eagerly checkpointed, its three
    # downstream branches replaying executor-side state. Nothing
    # releases the internal index (the registered plan query avoids
    # this path by passing the session-cached serving index): a caller
    # that wants it released trains explicitly and releases
    # index.flat itself.
    if index is None:
        index = ivf_train_distributed(
            df, id_col, vec_col, dim=dim, n_clusters=n_clusters,
            lloyd_iters=lloyd_iters, pin=True,
        )
    elif index.dim != dim:
        # a supplied index REPLACES df/id_col/vec_col (dedup runs over
        # the index's corpus) — the one cross-check available is dim;
        # a mismatch means the caller paired the wrong index with this
        # call, which would otherwise dedup the wrong corpus silently
        raise ValueError(
            f"supplied index has dim={index.dim} but caller said dim={dim}; "
            "semantic_dedup dedups the INDEX's corpus — pass the index's dim"
        )
    dim = index.dim  # the flat columns are the index's, not the arg's
    assigned = index.assigned
    av = assigned.join(index.flat, "vec_id")
    left = av.selectExpr(
        "cid", "vec_id AS id_a", *[f"v{i} AS a{i}" for i in range(dim)]
    )
    right = av.selectExpr(
        "cid", "vec_id AS id_b", *[f"v{i} AS b{i}" for i in range(dim)]
    )
    dropped = (
        left.join(right, "cid")
        .filter(F.col("id_a") < F.col("id_b"))
        .selectExpr(
            "id_b",
            f"floor({cosine_sql('a', 'b', dim)}"
            " * 1e6 + 0.5) / 1e6 AS cos_r",
        )
        .filter(F.col("cos_r") >= threshold)
        .select("id_b")
        .distinct()
    )
    return (
        assigned.join(dropped, assigned.vec_id == dropped.id_b, "left")
        .groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.count("id_b").alias("n_dropped"),
            (F.count(F.lit(1)) - F.count("id_b")).alias("n_kept"),
        )
        .orderBy("cid")
    )


def knn_classify(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    *,
    n_queries: int,
    k: int,
) -> DataFrame:
    """k-NN label transfer: rows with id < ``n_queries`` are held-out
    queries; each receives the majority label of its k nearest corpus
    neighbors by cosine (vote tie → smaller label, deterministic).
    Returns (query_id, true_label, pred_label, correct).

    Same one-corpus-pass shape as batch_cosine_topk — query block
    broadcast, per-query window rank (WindowGroupLimit keeps k rows
    per query) — plus a vote aggregate over k·n_queries rows. At
    100 TB swap the brute fan-out for the IVF cell router and keep
    the vote layer unchanged."""
    from pyspark.sql.window import Window

    e = df.select(
        F.col(id_col).alias("vec_id"),
        F.col(label_col).alias("label"),
        as_double(vec_col).alias("emb"),
    )
    q = e.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("true_label"),
        F.col("emb").alias("qv"),
    )
    # fail loud on absent query ids (batch_cosine_topk contract): a
    # silently-dropped query group skews the accuracy denominator
    n_found = q.count()
    if n_found != n_queries:
        raise ValueError(
            f"batch expects query ids 0..{n_queries - 1} in the corpus "
            f"but only {n_found} are present"
        )
    # the shared 9dp rank key (rank_key) — an inline copy of the floor
    # form here is exactly how a convention change lands one-sided
    cos_r = rank_key(cosine(F.col("emb"), F.col("qv")))
    w = Window.partitionBy("query_id").orderBy(F.col("cos_r").desc(), "vec_id")
    scored = (
        e.filter(F.col("vec_id") >= n_queries)
        .crossJoin(F.broadcast(q))
        .select(
            "query_id",
            "true_label",
            "label",
            "vec_id",
            cos_r.alias("cos_r"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
    votes = scored.groupBy("query_id", "true_label", "label").agg(
        F.count(F.lit(1)).alias("n_votes")
    )
    vw = Window.partitionBy("query_id").orderBy(F.col("n_votes").desc(), "label")
    return (
        votes.withColumn("vr", F.row_number().over(vw))
        .filter(F.col("vr") == 1)
        .select(
            "query_id",
            "true_label",
            F.col("label").alias("pred_label"),
            (F.col("label") == F.col("true_label")).alias("correct"),
        )
    )
