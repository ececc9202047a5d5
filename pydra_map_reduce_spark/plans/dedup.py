"""Graded dedup queries over `documents`. SURVEY.md §2.11.

Thin fixture bindings over the generic operators in
``pydra_map_reduce_spark.operators.dedup`` (exact, n-gram Jaccard,
MinHash+LSH, SimHash — the training-corpus dedup ladder). Scale
rationale lives with the operators; oracles live here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup as ops
from ..operators.textops import round_half_up, signed_round_half_up
from ..session_cache import CORPUS, SMALL, materialize, session_cached
from ..sources.tables import load_table
from .registry import query


@query(
    "exact_dedup",
    oracle="""
    SELECT md5(text)                    AS content_hash,
           CAST(min(doc_id) AS BIGINT)  AS keep_id,
           count(*)                     AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
    section="2.11 exact dedup (content hash, keep-first)",
)
def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = ops.exact_dedup(load_table(spark, sf_dir, "documents"), "doc_id", "text")
    # bigint cast is a fixture/oracle concern (min(BIGINT) parity), not
    # part of the schema-agnostic operator contract
    return out.withColumn("keep_id", F.col("keep_id").cast("bigint"))


@query(
    "incremental_dedup",
    oracle="""
    WITH existing AS (
        SELECT doc_id, source, text FROM documents WHERE doc_id % 3 <> 0
    ), fresh AS (
        SELECT doc_id, source, text FROM documents WHERE doc_id % 3 = 0
    ), new_batch AS (
        SELECT doc_id, source, text FROM fresh
        UNION ALL
        SELECT doc_id + 10000000, source, text FROM existing WHERE doc_id % 5 = 1
        UNION ALL
        SELECT doc_id + 20000000, source, text FROM fresh WHERE doc_id % 7 = 2
    ), idx AS (
        SELECT DISTINCT md5(text) AS content_hash FROM existing
    ), cls AS (
        SELECT n.doc_id, n.source,
               (i.content_hash IS NOT NULL)                   AS in_idx,
               min(n.doc_id) OVER (PARTITION BY md5(n.text))  AS first_id
        FROM new_batch n LEFT JOIN idx i ON md5(n.text) = i.content_hash
    )
    SELECT source,
           count(*) AS n_new,
           CAST(sum(CASE WHEN NOT in_idx AND doc_id = first_id
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN in_idx THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_index,
           CAST(sum(CASE WHEN NOT in_idx AND doc_id <> first_id
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_batch
    FROM cls GROUP BY source
    """,
    section="2.11 incremental dedup (new crawl vs stored corpus hash index)",
)
def incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production incremental-crawl shape: dedup a NEW batch
    against the narrow hash index of everything already ingested —
    one pass over new data + a hash join, never a re-dedup of the
    union. The fixture's texts are all unique, so a no-op classifier
    would trivially pass; both engines therefore inject the same
    deterministic duplicates into the 'new crawl': re-crawled copies
    of existing docs (doc_id%5==1, re-keyed +10M → must come back
    'dup_index') and second fetches of new docs (doc_id%7==2,
    re-keyed +20M → the lower-id original is 'kept', the copy
    'dup_batch'). Per-source report proves all three statuses are
    exercised with non-zero counts."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    existing = d.filter(F.col("doc_id") % 3 != 0)
    fresh = d.filter(F.col("doc_id") % 3 == 0)
    new_batch = fresh.unionByName(
        existing.filter(F.col("doc_id") % 5 == 1).select(
            (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"), "source", "text"
        )
    ).unionByName(
        fresh.filter(F.col("doc_id") % 7 == 2).select(
            (F.col("doc_id") + F.lit(20_000_000)).alias("doc_id"), "source", "text"
        )
    )
    idx = existing.select(F.md5("text").alias("content_hash")).distinct()
    cls = ops.incremental_dedup(new_batch, idx, "doc_id", "text")
    return cls.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_new"),
        F.count_if(F.col("status") == "kept").alias("n_kept"),
        F.count_if(F.col("status") == "dup_index").alias("n_dup_index"),
        F.count_if(F.col("status") == "dup_batch").alias("n_dup_batch"),
    )


def _ngram_index_ctes(max_df: int, *, recursive: bool = False) -> str:
    """THE shingle inverted-index oracle prefix (shingles → df-cap →
    inverted-index self-join), ending with `inter(doc_a, doc_b,
    n_inter)` + `sizes(doc_id, n)` for a similarity tail to consume.
    One generated text serves every n-gram pair oracle — Jaccard
    (both df caps), the cluster closure, and the containment twin —
    so a change to shingle construction or the cap cannot land
    one-sided across them (the scripted string-edit drift hazard the
    project memory records)."""
    kw = "WITH RECURSIVE" if recursive else "WITH"
    return f"""
    {kw} sh AS (
        SELECT doc_id,
               unnest(list_distinct([tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]
                              for i in range(1, len(tokens) - 1)])) AS s
        FROM (SELECT doc_id, string_split(text, ' ') AS tokens FROM documents)
    ), dfreq AS (
        SELECT s, count(*) AS df FROM sh GROUP BY s
    ), kept AS (
        SELECT sh.doc_id, sh.s FROM sh JOIN dfreq d ON sh.s = d.s WHERE d.df <= {max_df}
    ), sizes AS (
        SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id
    ), inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
        FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )"""


def _ngram_pair_ctes(threshold: float, max_df: int, *, recursive: bool = False) -> str:
    """`_ngram_index_ctes` + the symmetric-Jaccard tail: rounded 4dp
    jaccard, raw-value threshold. Ends with `pairs(doc_a, doc_b,
    jaccard)` for the caller to SELECT from; ``recursive=True`` emits
    WITH RECURSIVE for closure consumers."""
    return _ngram_index_ctes(max_df, recursive=recursive) + f""", pairs AS (
        SELECT i.doc_a, i.doc_b,
               floor(i.n_inter::DOUBLE / (sa.n + sb.n - i.n_inter) * 10000 + 0.5) / 10000 AS jaccard
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.doc_a
        JOIN sizes sb ON sb.doc_id = i.doc_b
        WHERE i.n_inter::DOUBLE / (sa.n + sb.n - i.n_inter) >= {threshold}
    )"""


# The n-gram index (n=3) of the fixture corpus, its document frequency
# carried uncapped: ngram_jaccard_neardup, ngram_jaccard_capped,
# containment_neardup and _cluster_labels each apply their own max_df
# to this one entry. The key leaves max_df out on purpose: a miss
# releases the builder's entries for the same dir with another key, so
# a per-cap key would rebuild at every switch between max_df=5 and 100.
@session_cached("documents")
def _ngram_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return materialize(ops.ngram_index(d, "doc_id", "text", 3), CORPUS)


@query(
    "ngram_jaccard_neardup",
    oracle=_ngram_pair_ctes(0.03, 100) + """
    SELECT doc_a, doc_b, jaccard FROM pairs
    """,
    section="2.11 n-gram Jaccard near-dup (inverted-index candidates)",
)
def ngram_jaccard_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs the operator with its DEFAULT df-cap (max_df=100) — now
    default-on so the corpus-scale work bound holds for every caller —
    and the oracle mirrors the SAME df <= 100 kept-CTE, so cap
    semantics are engine-independent rather than resting on a fixture
    property (today's shingle df tops out at 25 across the three SFs,
    so the cap prunes nothing — but a fixture regeneration that
    crosses 100 would then change both sides together instead of
    failing the differential). The dedicated `ngram_jaccard_capped`
    query (max_df=5, which DOES prune at every SF) certifies the cap
    path's pruning behavior itself."""
    return ops.index_jaccard_pairs(_ngram_index(spark, sf_dir), 0.03, max_df=100)


@query(
    "ngram_jaccard_capped",
    oracle=_ngram_pair_ctes(0.03, 5) + """
    SELECT doc_a, doc_b, jaccard FROM pairs
    """,
    section="2.11 n-gram Jaccard near-dup with document-frequency ceiling",
)
def ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale-hardened exact near-dup: identical to
    `ngram_jaccard_neardup` but shingles with document frequency > 5
    are dropped before the inverted-index self-join, bounding every
    posting-list bucket (the uncapped operator is quadratic in one
    bucket the moment a stop-shingle spans the corpus — see
    operators/dedup.py ngram_jaccard_pairs for the work-bound
    argument). Jaccard is computed over the capped shingle sets in
    both engine and oracle; max_df=5 prunes real shingles at every
    fixture SF (sf0.01's df distribution tops out at 7)."""
    return ops.index_jaccard_pairs(_ngram_index(spark, sf_dir), 0.03, max_df=5)


@query(
    "containment_neardup",
    oracle=_ngram_index_ctes(100) + """, cpairs AS (
        SELECT CASE WHEN sa.n < sb.n THEN i.doc_a ELSE i.doc_b END AS contained_id,
               CASE WHEN sa.n < sb.n THEN i.doc_b ELSE i.doc_a END AS container_id,
               floor(i.n_inter::DOUBLE / least(sa.n, sb.n) * 10000 + 0.5) / 10000
                   AS containment
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.doc_a
        JOIN sizes sb ON sb.doc_id = i.doc_b
        WHERE i.n_inter::DOUBLE / least(sa.n, sb.n) >= 0.5
    )
    SELECT contained_id, container_id, containment FROM cpairs
    """,
    section="2.11 asymmetric containment near-dup (quote/superset detection)",
)
def containment_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided containment |A∩B|/|smaller| over the SAME df-capped
    shingle index as the Jaccard family — the score that catches a
    short document quoted wholesale inside a long one, which symmetric
    Jaccard dilutes below any usable threshold (operator docstring has
    the numbers). Oracle consumes the shared `_ngram_index_ctes`
    prefix, so shingle/cap semantics cannot drift from the Jaccard
    oracles. Threshold 0.5 sits in a wide value gap at every fixture
    SF (nearest scores: 0.375 below, 1.0 above), so the raw-ratio cut
    cannot straddle an engine rounding boundary."""
    return ops.index_containment_pairs(_ngram_index(spark, sf_dir), 0.5, max_df=100)


def _minhash_sigs_ctes(n_hashes: int = 32, p: int = 4_294_967_311) -> str:
    """CTE text through the signature table (sh0 → sh → sigs) — the
    shared prefix of every portable-minhash oracle, factored so the
    banding-config sweep prices EXACTLY the signatures the production
    pipeline bands (a re-typed copy of the hash family here is the
    drift hazard the _JM_MODEL_CTES convention exists to prevent)."""
    # hash family must match operators/dedup.py: _A[i]=2(i+1)+1, _B[i]=(i+1)²+7
    hs = ",\n               ".join(
        f"min(({2 * (i + 1) + 1}*s + {(i + 1) ** 2 + 7}) % {p}) AS h{i}"
        for i in range(n_hashes)
    )
    return f"""sh0 AS (
        SELECT doc_id,
               unnest(list_distinct([tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]
                                     for i in range(1, len(tokens) - 1)])) AS g
        FROM (SELECT doc_id, string_split(text, ' ') AS tokens FROM documents)
    ), sh AS (
        SELECT DISTINCT doc_id, ('0x' || substr(md5(g), 1, 8))::BIGINT AS s FROM sh0
    ), sigs AS (
        SELECT doc_id,
               {hs}
        FROM sh GROUP BY doc_id
    )"""


def _minhash_portable_ctes(
    n_hashes: int = 32, bands: int = 8, p: int = 4_294_967_311, threshold: float = 0.8
) -> str:
    """CTE body (no WITH, no final SELECT) of the full MinHash+LSH
    pipeline as DuckDB SQL, mirroring operators/dedup.py
    minhash_lsh_pairs(portable_hash=True) stage for stage: md5-prefix
    shingle ids → 32 (a·x+b) mod p min-hashes → 8 band signatures →
    band-equality candidates → exact rescore on the hashed shingle
    sets. Every stage is integer math on identical inputs, so
    candidate sets — not just final pairs — agree. Terminal CTE
    ``mpairs(doc_a, doc_b, jaccard)`` holds the thresholded pairs;
    shared by the pair query and the cluster query's closure."""
    rows = n_hashes // bands
    band_sel = "\n        UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, concat_ws('_', "
        + ", ".join(f"h{b * rows + r}" for r in range(rows))
        + ") AS sig FROM sigs"
        for b in range(bands)
    )
    return f"""{_minhash_sigs_ctes(n_hashes, p)}, bnd AS (
        {band_sel}
    ), cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bnd a JOIN bnd b
          ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    ), sizes AS (
        SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
    ), inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ), mpairs AS (
        SELECT c.doc_a, c.doc_b,
               floor(i.n_inter::DOUBLE / (sa.n + sb.n - i.n_inter) * 10000 + 0.5) / 10000 AS jaccard
        FROM cand c
        JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
        JOIN sizes sa ON sa.doc_id = c.doc_a
        JOIN sizes sb ON sb.doc_id = c.doc_b
        WHERE i.n_inter::DOUBLE / (sa.n + sb.n - i.n_inter) >= {threshold}
    )"""


def _minhash_portable_oracle() -> str:
    """Thresholded portable-minhash pairs (see _minhash_portable_ctes)."""
    return f"""
    WITH {_minhash_portable_ctes()}
    SELECT doc_a, doc_b, jaccard FROM mpairs
    """


@query(
    "minhash_lsh_portable",
    oracle=_minhash_portable_oracle(),
    section="2.11 near-dedup: MinHash+LSH, portable-hash (oracle-backed end to end)",
)
def minhash_lsh_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The driver-checkable MinHash+LSH: identical pipeline to
    `minhash_lsh_neardup` but with md5-prefix shingle ids, which any
    engine can reproduce — so signatures, band buckets, the candidate
    set, AND the rescored pairs are all verified externally, closing
    the evidence gap that kept the xxhash64 variant rows-only. The
    xxhash64 form remains the 100 TB perf path (~3× cheaper hashing);
    this query certifies the shared banding/rescore machinery."""
    # the session pair cache pins the graded 32/8/0.8 configuration
    # (its builder passes them explicitly — defaults skew in
    # operators/dedup.py cannot silently detach this graded pairing)
    return _minhash_portable_pairs(spark, sf_dir)


# Session-cached (shingles, band-candidates) for the xxhash64
# PRODUCTION pipeline (32 hashes / 8 bands, threshold-independent) —
# the _portable_sigs_cand pattern on the other shingle identity.
# minhash_lsh_neardup rescores sh and cand; the two frames are one
# entry, so one LRU position and one release cover them. The
# signatures are not stored: only the candidate build reads them.
@session_cached("documents")
def _xxhash_shingles_cand(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    from ..operators.dedup import (
        _spread,
        minhash_band_candidates,
        minhash_signatures,
        shingle_rows,
    )

    d = load_table(spark, sf_dir, "documents")
    sh = materialize(shingle_rows(_spread(d), "doc_id", "text"), CORPUS)
    sigs = minhash_signatures(sh, 32)
    cand = materialize(minhash_band_candidates(sigs, 32, 8), CORPUS)
    return sh, cand


@query(
    "minhash_lsh_neardup",
    oracle=None,  # rows-only: xxhash64 ids aren't reproducible outside the JVM;
    # the shared pipeline is oracle-certified via minhash_lsh_portable
    section="2.11 near-dedup: MinHash + LSH banding + exact rescore",
)
def minhash_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # warm calls skip the 32-min-agg signature build and the
    # explode+self-join banding
    sh, cand = _xxhash_shingles_cand(spark, sf_dir)
    return ops.minhash_rescore(sh, cand, 0.8)


@query(
    "simhash_neardup",
    oracle=None,  # rows-only: bit arithmetic not ANSI-SQL-practical
    section="2.11 SimHash near-dup (64-bit, 4x16-bit-chunk banding)",
)
def simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Summarized (pair count + mean Hamming) so the rows-only check
    stays stable across partitionings."""
    pairs = ops.simhash_pairs(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", max_hamming=3
    )
    return pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.avg("hamming"), 4).alias("avg_hamming"),
    )


def _simhash_portable_oracle(max_hamming: int = 3) -> str:
    """Full SimHash pipeline as DuckDB SQL, mirroring
    operators/dedup.py simhash_pairs(portable_hash=True) stage for
    stage: per-(doc, word) weights with four 16-bit md5-slice hashes →
    64 signed bit votes → 4 chunk values → chunk-equality candidates →
    hamming rescore via bit_count(xor)."""
    votes = ",\n               ".join(
        f"sum(CASE WHEN ((t{b // 16} >> {b % 16}) & 1) = 1 THEN w ELSE -w END) AS s{b}"
        for b in range(64)
    )
    chunks = ",\n               ".join(
        "("
        + " + ".join(f"CASE WHEN s{16 * c + j} > 0 THEN {1 << j} ELSE 0 END" for j in range(16))
        + f") AS c{c}"
        for c in range(4)
    )
    band_sel = "\n        UNION ALL ".join(
        f"SELECT doc_id, c0, c1, c2, c3, {c} AS chunk, c{c} AS val FROM sig"
        for c in range(4)
    )
    ham = " + ".join(f"bit_count(xor(a.c{c}, b.c{c}))" for c in range(4))
    return f"""
    WITH tok AS (
        SELECT doc_id, word, count(*) AS w,
               ('0x' || substr(md5(word), 1, 4))::BIGINT AS t0,
               ('0x' || substr(md5(word), 5, 4))::BIGINT AS t1,
               ('0x' || substr(md5(word), 9, 4))::BIGINT AS t2,
               ('0x' || substr(md5(word), 13, 4))::BIGINT AS t3
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
        GROUP BY doc_id, word
    ), votes AS (
        SELECT doc_id,
               {votes}
        FROM tok GROUP BY doc_id
    ), sig AS (
        SELECT doc_id,
               {chunks}
        FROM votes
    ), bnd AS (
        {band_sel}
    ), pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               {ham} AS hamming
        FROM bnd a JOIN bnd b
          ON a.chunk = b.chunk AND a.val = b.val AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, CAST(hamming AS BIGINT) AS hamming
    FROM pairs WHERE hamming <= {max_hamming}
    """


@query(
    "simhash_portable",
    oracle=_simhash_portable_oracle(),
    section="2.11 SimHash near-dup, portable-hash (oracle-backed end to end)",
)
def simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable SimHash: identical pipeline to
    `simhash_neardup` but with md5-slice token bits, so signatures,
    chunk buckets, the candidate set, and per-pair hamming are all
    reproduced by the oracle (the xxhash64 variant stays as the cheap
    100 TB path). Emits the raw qualifying pairs, not the summary —
    the stronger check."""
    pairs = ops.simhash_pairs(
        load_table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        max_hamming=3,
        portable_hash=True,
    )
    return pairs.select("doc_a", "doc_b", F.col("hamming").cast("bigint").alias("hamming"))


def _closure_ctes(src: str) -> str:
    """e2/reach/labels: exact transitive closure of the undirected
    pair graph ``src(doc_a, doc_b)`` with min-id component labels —
    ONE definition shared by every cluster oracle (minhash- and
    ngram-fed), so the closure semantics cannot drift between them
    (this block previously existed as four byte-identical copies —
    the paired-copy hazard _ngram_pair_ctes exists to prevent)."""
    return f"""
    e2 AS (
        SELECT doc_a AS a, doc_b AS b FROM {src}
        UNION SELECT doc_b, doc_a FROM {src}
    ), reach(a, b) AS (
        SELECT a, b FROM e2
        UNION
        SELECT r.a, e.b FROM reach r JOIN e2 e ON r.b = e.a
    ), labels AS (
        SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a
    )"""


_CLUSTER_COUNT_SELECT = """
    SELECT cluster_id, count(*) AS n_members
    FROM labels GROUP BY cluster_id
    """

_CLOSURE_TAIL = _closure_ctes("mpairs") + _CLUSTER_COUNT_SELECT


@query(
    "dedup_clusters_star",
    # same portable-minhash pair CTEs + recursive-CTE transitive
    # closure as dedup_clusters: the two queries differ ONLY in which
    # engine-side CC algorithm produced the labels, so one oracle
    # certifies both against the identical ground truth
    oracle="WITH RECURSIVE " + _minhash_portable_ctes() + "," + _CLOSURE_TAIL,
    section="2.11 dedup clusters, large-star/small-star variant (O(log^2 n) rounds)",
)
def dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same contract as dedup_clusters, but rounds scale with log² n
    instead of component diameter: the variant for deep near-dup
    chains at corpus scale. Oracle-backed since round 6: fed by the
    PORTABLE-hash MinHash pair graph (md5-prefix shingle ids — the
    round-5 trick that made the pair set externally reproducible), so
    DuckDB rebuilds the identical graph and closes it with a
    recursive CTE; the large-star/small-star fixpoint is thereby
    checked against exact transitive closure, not just against the
    sibling implementation."""
    pairs = _minhash_portable_pairs(spark, sf_dir)
    clusters = ops.dedup_clusters_star(pairs)
    return (
        clusters.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .orderBy("cluster_id")
    )


@query(
    "dedup_clusters",
    oracle="WITH RECURSIVE " + _minhash_portable_ctes() + "," + _CLOSURE_TAIL,
    section="2.11 dedup clusters (iterative connected components over near-dup pairs)",
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the MinHash near-dup graph: every
    document in a component keeps one canonical (minimum) id — the
    final assignment step of corpus-level dedup. Summarized per
    cluster. Oracle-backed since round 6 via the portable-hash pair
    graph (see dedup_clusters_star); the xxhash64-fed form this
    replaced had no externally reproducible pair set. The iterative
    min-label propagation is additionally certified over the exact
    n-gram graph by dedup_clusters_exact."""
    clusters = _minhash_cluster_labels(spark, sf_dir)
    return (
        clusters.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .orderBy("cluster_id")
    )


@query(
    "dedup_clusters_exact",
    # Same shingle/pair CTEs as ngram_jaccard_neardup's oracle, then a
    # recursive transitive closure: reach(a,b) saturates under UNION
    # (distinct), and each node's component id is the minimum of its
    # reachable set (least(a, min b)). Practical because the pair
    # graph is EXACT (inverted-index candidates, no LSH recall < 1 —
    # the reason the minhash-fed cluster queries above stay rows-only).
    oracle=_ngram_pair_ctes(0.2, 100, recursive=True) + ","
    + _closure_ctes("pairs") + _CLUSTER_COUNT_SELECT,
    section="2.11 dedup clusters, oracle-backed (CC over the exact n-gram pair graph)",
)
def dedup_clusters_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The driver-checkable form of the connected-components assign:
    the same iterative min-label propagation operator as
    `dedup_clusters`, but fed by the EXACT n-gram Jaccard pair graph
    (threshold 0.2) instead of MinHash candidates. LSH recall is <1 by
    construction, so only the exact graph gives a pair set an external
    oracle can reproduce — this query is what certifies the iterative
    CC operator itself against DuckDB's recursive-CTE closure. Pair
    generation inherits the operator's default df-cap (max_df=100) and
    the closure oracle mirrors the same df <= 100 kept-CTE, keeping
    cap semantics engine-independent (the cap prunes nothing at
    today's fixture dfs — max 25 — but both sides move together if a
    regeneration ever crosses 100). Labels come from the SESSION
    label cache (_cluster_labels) — the cache entry IS this same
    pair-graph + iterative-CC output, so the differential against the
    recursive oracle still certifies the operator while the three
    exact-graph cluster queries share one CC run per fixture."""
    clusters = _cluster_labels(spark, sf_dir)
    return clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members")
    )


@query(
    "dedup_report",
    oracle="""
    WITH fp AS (
        SELECT doc_id, source, text, md5(text) AS f FROM documents
    ),
    keep1 AS (SELECT min(doc_id) AS k FROM fp GROUP BY f),
    ex AS (
        SELECT fp.doc_id, fp.source, fp.text
        FROM fp JOIN keep1 ON fp.doc_id = keep1.k
    ),
    chunks AS (
        SELECT doc_id, md5(substr(text, off, 100)) AS cfp
        FROM (SELECT doc_id, text,
                     unnest(generate_series(1, length(text), 100)) AS off
              FROM ex WHERE length(text) > 0)
    ),
    cmin AS (SELECT cfp, min(doc_id) AS first_doc FROM chunks GROUP BY cfp),
    near AS (
        SELECT DISTINCT c.doc_id
        FROM chunks c JOIN cmin m ON m.cfp = c.cfp
        WHERE c.doc_id > m.first_doc
    ),
    raw AS (SELECT source, count(*) AS n_raw FROM documents GROUP BY source),
    exs AS (SELECT source, count(*) AS n_exact FROM ex GROUP BY source),
    nears AS (
        SELECT e.source, count(*) AS n_near
        FROM near JOIN ex e ON e.doc_id = near.doc_id
        GROUP BY e.source
    )
    SELECT r.source, r.n_raw,
           coalesce(e.n_exact, 0)                        AS n_exact,
           coalesce(e.n_exact, 0) - coalesce(n.n_near, 0) AS n_retained,
           floor((coalesce(e.n_exact, 0) - coalesce(n.n_near, 0)) * 1.0
                 / r.n_raw * 10000 + 0.5) / 10000        AS retention
    FROM raw r
    LEFT JOIN exs e   ON e.source = r.source
    LEFT JOIN nears n ON n.source = r.source
    """,
    section="2.11 end-to-end dedup pipeline report (exact → span near-dup → retention)",
)
def dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup DECISION pipeline end to end, as one lazy plan:
    exact dedup (content md5, min-id survivor) → span-level near-dup
    flag over the survivors (a shared 100-char chunk with any
    smaller-id survivor — the keep-first rule again) → per-source
    retention report. The near flag needs no chunk self-join: a doc
    shares a chunk with a smaller-id doc iff its id exceeds the
    chunk's MIN doc_id, so one keyed min + one equi-join replaces the
    pairwise form — strictly linear even when a boilerplate chunk
    appears in millions of documents (where a self-join bucket would
    go quadratic). Every stage is a keyed shuffle or equi-join;
    nothing is all-pairs, so the chain carries to corpus scale
    unchanged. This
    is the roll-up a data curator actually reads — which sources
    collapse under dedup — built entirely from stages that are also
    individually registered and driver-checked (exact_dedup,
    chunk_dedup_ratio)."""
    d = load_table(spark, sf_dir, "documents")
    fp = d.select("doc_id", "source", "text", F.md5("text").alias("f"))
    keep1 = fp.groupBy("f").agg(F.min("doc_id").alias("k"))
    # DELIBERATELY unpersisted: the three downstream branches do
    # re-instantiate this join, but each branch's parquet re-scan is
    # COLUMN-PRUNED (the near-flag branch never reads text) and
    # row-group-parallel — measured at sf0.1, the lazy form runs the
    # whole report in ~0.8 s warm while persisting the TEXT-HEAVY
    # survivor frame costs 4.8 s (cache materialization defeats
    # pruning and pays deserialized-row storage) and an eager
    # localCheckpoint 6 s (block-storage write per invocation).
    # Caching multiply-read frames is the right call for NARROW
    # intermediates (time_rollup's minute grain, the IVF corpus
    # projection); for wide text columns the scan is the cheaper
    # "cache". (r8 review follow-up, resolved by measurement.)
    ex = fp.join(keep1, fp.doc_id == keep1.k).select("doc_id", "source", "text")
    chunks = (
        ex.filter(F.length("text") > 0)
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.length("text"), F.lit(100))
            ).alias("off"),
            "text",
        )
        .select(
            "doc_id",
            F.md5(F.substring(F.col("text"), F.col("off"), 100)).alias("cfp"),
        )
    )
    cmin = chunks.groupBy("cfp").agg(F.min("doc_id").alias("first_doc"))
    near = (
        chunks.join(cmin, "cfp")
        .filter(F.col("doc_id") > F.col("first_doc"))
        .select("doc_id")
        .distinct()
    )
    raw = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_raw"))
    exs = ex.groupBy("source").agg(F.count(F.lit(1)).alias("n_exact"))
    nears = (
        near.join(ex, "doc_id").groupBy("source").agg(F.count(F.lit(1)).alias("n_near"))
    )
    retained = F.coalesce(F.col("n_exact"), F.lit(0)) - F.coalesce(
        F.col("n_near"), F.lit(0)
    )
    return (
        raw.join(exs, "source", "left")
        .join(nears, "source", "left")
        .select(
            "source",
            "n_raw",
            F.coalesce("n_exact", F.lit(0)).alias("n_exact"),
            retained.alias("n_retained"),
            round_half_up(retained * 1.0 / F.col("n_raw"), 4).alias("retention"),
        )
    )


_LSH_EVAL_THRESHOLD = 0.05  # deliberately BELOW the banding design point


# Session-cached portable (md5) shingle index for the dedup-EVALUATION
# family: lsh_recall and minhash_estimate_error build the IDENTICAL
# index (portable_shingle_ids over the spread corpus) and each paid the
# full ~3.5 s (sf0.1) build per call because the per-call persist/
# unpersist pair released exactly what the next evaluator was about to
# rebuild.
@session_cached("documents")
def _portable_shingle_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import _spread, portable_shingle_ids

    d = load_table(spark, sf_dir, "documents")
    # _spread: without it the pre-shuffle shingling can run
    # single-partition (the sibling operators' measured 6 s vs 0.3 s)
    return materialize(portable_shingle_ids(_spread(d), "doc_id", "text"), CORPUS)


# Session-cached (signatures, band-candidates) for the 32-hash/8-band
# portable pipeline, one derivation after _portable_shingle_index:
# minhash_estimate_error and bbit_minhash_error each
# referenced the signature frame in FOUR subplan instances (cand twice
# — once under inter's broadcast, once under agree — plus the sga/sgb
# aliases) and the candidate frame twice, so every call re-ran the
# 32-min-agg signature build and the explode+self-join banding
# repeatedly (guide §1.3 duplicated-subtree smell). Persisting both
# once per (app, dir, fixture) collapses all of it. cand is also what
# _minhash_portable_pairs and lsh_recall's found side rescore, and sigs
# is lsh_band_sweep's shared sigs scan.
@session_cached("documents")
def _portable_sigs_cand(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    from ..operators.dedup import (
        minhash_band_candidates,
        minhash_signatures,
    )

    sh = _portable_shingle_index(spark, sf_dir)
    # ``CORPUS``, not ``WIDE``, measured on an idle host: the family
    # (recall/bbit/estimate/neardup/band_sweep) summed 13.8 s warm
    # vs 18.1 s on disk only, and both frames are
    # model-sized (~10 MB at sf0.1: |docs|×32 longs + the distinct
    # candidate pairs), far too small to pressure the storage pool.
    # (A full-bench run that seemed to show M&D evicting other
    # queries' caches turned out to be leftover host load — its
    # 5-min loadavg was 3.0 at start; the rerun at 0.3 was flat.)
    sigs = materialize(minhash_signatures(sh, 32), CORPUS)
    cand = materialize(minhash_band_candidates(sigs, 32, 8), CORPUS)
    return sigs, cand


@query(
    "lsh_recall",
    oracle=f"""
    WITH {_minhash_portable_ctes(threshold=_LSH_EVAL_THRESHOLD)}, truth AS (
        SELECT i.doc_a, i.doc_b
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.doc_a
        JOIN sizes sb ON sb.doc_id = i.doc_b
        WHERE i.n_inter::DOUBLE / (sa.n + sb.n - i.n_inter)
              >= {_LSH_EVAL_THRESHOLD}
    )
    , hits AS (
        SELECT 1 FROM mpairs m
        JOIN truth t ON m.doc_a = t.doc_a AND m.doc_b = t.doc_b
    )
    SELECT CAST((SELECT count(*) FROM truth) AS BIGINT)  AS n_true,
           CAST((SELECT count(*) FROM mpairs) AS BIGINT) AS n_found,
           CAST((SELECT count(*) FROM hits) AS BIGINT)   AS n_hits,
           CAST((SELECT count(*) FROM truth) AS BIGINT)
             - CAST((SELECT count(*) FROM hits) AS BIGINT) AS n_missed,
           floor((SELECT count(*) FROM hits) * 1.0
                 / (SELECT count(*) FROM truth) * 10000 + 0.5) / 10000
               AS recall
    """,
    section="2.11 LSH banding evaluation: recall vs exact Jaccard ground truth",
)
def lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup-family analogue of `ann_recall`: how many of the TRUE
    near-duplicate pairs does MinHash banding actually surface? Ground
    truth = exact brute-force Jaccard over the same portable shingle
    ids (the deliberately-exact demonstrator role, like
    allpairs_similarity); candidates = the production banding +
    rescore pipeline. The threshold (0.05) sits deliberately BELOW the
    8x4 banding design point (J >~ 0.85), so the S-curve's misses are
    VISIBLE in the report — recall near 1.0 would only certify the
    easy regime; a team tunes bands/rows against exactly this number.

    Plan: truth is the exact n-gram Jaccard of
    operators/dedup.index_jaccard_pairs, deliberately UNCAPPED
    (``max_df=None``: exact recall w.r.t. full truth),
    unlike the production pipeline's df-capped posting lists: a
    capped truth would only certify the pairs the pipeline could
    possibly find. At real scale you keep truth exact but SAMPLE the
    query documents (the ann_recall strategy), never cap it. The
    found side is the registered scale pipeline. Both sides share ONE
    shingle-id definition (operators/dedup.portable_shingle_ids), so
    the evaluation cannot drift from the pipeline it measures.

    Recall counts the INTERSECTION found ∩ truth (n_hits), not the
    raw found count: the two sides threshold independently, so a
    boundary pair admitted by one and not the other would otherwise
    push recall past 1.0 / n_missed negative — the metric must be a
    true hit-rate (the ann_recall convention). All counts are exact
    integers; recall divides them once, floored identically.
    """
    # the session-cached portable index: the truth side references it
    # in FOUR subplan instances (the pair join's two sides, sizes
    # twice), the found side rescores over it, and
    # minhash_estimate_error reads the same build
    sh = _portable_shingle_index(spark, sf_dir)
    truth = ops.index_jaccard_pairs(sh, _LSH_EVAL_THRESHOLD, max_df=None).select(
        "doc_a", "doc_b"
    )
    _, cand = _portable_sigs_cand(spark, sf_dir)
    found = ops.minhash_rescore(sh, cand, _LSH_EVAL_THRESHOLD).select("doc_a", "doc_b")
    # ONE pass for all three counts (guide §1.3 duplicated-subtree
    # smell): the old three-aggregate form (count(truth),
    # count(found), count(found⋈truth)) evaluated the quadratic
    # posting-list self-join TWICE and the full minhash pipeline
    # TWICE. Both pair frames are key-unique (truth groups by the
    # pair, found's candidates are distinct), so a full-outer join on
    # the pair key never multiplies rows and one aggregate reads
    # n_true / n_found / n_hits off the membership flags — each side
    # now computes exactly once (warm 7.7 s → see OPTIMIZATION_r14.md).
    both = truth.withColumn("in_t", F.lit(1)).join(
        found.withColumn("in_f", F.lit(1)),
        ["doc_a", "doc_b"],
        "full_outer",
    )
    counts = both.agg(
        F.count("in_t").alias("n_true"),
        F.count("in_f").alias("n_found"),
        F.count(F.when(F.col("in_t").isNotNull() & F.col("in_f").isNotNull(), 1)).alias("n_hits"),
    )
    # the one-row report is materialized so the wide truth lineage
    # isn't replayed by downstream readers
    return materialize(counts.select(
        F.col("n_true").cast("bigint").alias("n_true"),
        F.col("n_found").cast("bigint").alias("n_found"),
        F.col("n_hits").cast("bigint").alias("n_hits"),
        (F.col("n_true") - F.col("n_hits")).cast("bigint").alias("n_missed"),
        round_half_up(
            F.col("n_hits") * 1.0 / F.col("n_true"), 4
        ).alias("recall"),
    ), SMALL)


@query(
    "dedup_cluster_stats",
    oracle=_ngram_pair_ctes(0.2, 100, recursive=True) + ","
    + _closure_ctes("pairs") + """, csize AS (
        SELECT cluster_id, count(*) AS size FROM labels GROUP BY cluster_id
    ), hist AS (
        SELECT CAST(size AS BIGINT) AS size,
               CAST(count(*) AS BIGINT) AS n_clusters,
               CAST(sum(size) AS BIGINT) AS n_docs
        FROM csize GROUP BY size
    ), tot AS (SELECT count(*) AS n FROM documents),
    clustered AS (SELECT count(*) AS c FROM labels)
    SELECT CAST(1 AS BIGINT) AS size,
           CAST(t.n - c.c AS BIGINT) AS n_clusters,
           CAST(t.n - c.c AS BIGINT) AS n_docs,
           CAST(0 AS BIGINT) AS removable
    FROM tot t CROSS JOIN clustered c
    UNION ALL
    SELECT size, n_clusters, n_docs, n_docs - n_clusters FROM hist
    ORDER BY size
    """,
    section="2.11 dedup cluster-size distribution (the summary of a dedup run)",
)
def dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE summary a dedup run is judged by: the cluster-size
    histogram — how many documents stand alone (size 1), how many
    near-dup clusters exist at each size, and how many documents a
    keep-one-per-cluster policy would remove (`removable` =
    n_docs - n_clusters per size; 0 for singletons). A corpus whose
    mass sits in large clusters is template spam; one that is almost
    all singletons barely needs the dedup pass. Built on the same
    exact-pair-graph + iterative-CC pipeline as dedup_clusters_exact
    (oracle: the identical recursive-CTE closure, then the size
    rollup), so the histogram certifies the same machinery one
    aggregation higher.

    Plan: pair generation + CC as in dedup_clusters_exact, then two
    tiny aggs (cluster sizes, size histogram) and a 1-row total for
    the singleton remainder. All outputs exact BIGINTs.
    """
    d = load_table(spark, sf_dir, "documents")
    # session label cache: same (threshold 0.2, max_df 100) pair graph
    # + iterative CC as dedup_clusters_exact / dedup_best_quality —
    # one CC run per fixture serves all three, and the recursive
    # oracle still re-derives the closure from scratch every call
    labels = _cluster_labels(spark, sf_dir)
    csize = labels.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("size"))
    hist = csize.groupBy("size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("size").alias("n_docs"),
    )
    tot = d.agg(F.count(F.lit(1)).alias("n"))
    clustered = labels.agg(F.count(F.lit(1)).alias("c"))
    singletons = (
        tot.crossJoin(F.broadcast(clustered))
        .select(
            F.lit(1).cast("bigint").alias("size"),
            (F.col("n") - F.col("c")).cast("bigint").alias("n_clusters"),
            (F.col("n") - F.col("c")).cast("bigint").alias("n_docs"),
            F.lit(0).cast("bigint").alias("removable"),
        )
    )
    sized = hist.select(
        F.col("size").cast("bigint").alias("size"),
        F.col("n_clusters").cast("bigint").alias("n_clusters"),
        F.col("n_docs").cast("bigint").alias("n_docs"),
        (F.col("n_docs") - F.col("n_clusters")).cast("bigint").alias("removable"),
    )
    return singletons.unionAll(sized).orderBy("size")


_SPAN_W = 4  # duplicated-span anchor width (tokens per rolling window)

# ONE definition of the duplicated-window discovery (tokenize ->
# rolling W-gram md5 anchors -> >=2-distinct-doc filter -> duplicated
# window positions `dp(doc_id, pos)`), as paired Spark/SQL builders:
# `duplicate_spans` REPORTS the merged spans and `span_scrub` REMOVES
# them, so a duplicated pipeline would be exactly the paired-copy
# drift hazard _ngram_pair_ctes guards against.
_DUP_WINDOW_CTES = f"""toks AS (
        SELECT doc_id, unnest(tokens) AS w,
               generate_subscripts(tokens, 1) - 1 AS pos
        FROM (SELECT doc_id, string_split(text, ' ') AS tokens FROM documents)
    ), gram AS (
        SELECT doc_id, pos,
               w{"".join(f" || ' ' || lead(w, {i}) OVER win" for i in range(1, _SPAN_W))} AS g,
               lead(w, {_SPAN_W - 1}) OVER win AS lastw
        FROM toks WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
    ), gid AS (
        SELECT doc_id, pos, ('0x' || substr(md5(g), 1, 8))::BIGINT AS s
        FROM gram WHERE lastw IS NOT NULL
    ), dup AS (
        SELECT s FROM gid GROUP BY s HAVING count(DISTINCT doc_id) >= 2
    ), dp AS (
        SELECT g.doc_id, g.pos FROM gid g JOIN dup d ON d.s = g.s
    )"""


def _dup_tokens(d: DataFrame) -> DataFrame:
    """toks(doc_id, pos, w): the tokenized corpus with 0-based
    positions, the `toks` CTE of _DUP_WINDOW_CTES."""
    return d.select("doc_id", F.posexplode(F.split("text", " ")).alias("pos", "w"))


# dp(doc_id, pos): the duplicated-window start positions, Spark twin of
# _DUP_WINDOW_CTES. Session-cached (narrow: two bigints per duplicated
# window): the detect half (duplicate_spans) and the remove half
# (span_scrub) both read it, so the second query does not re-run the
# windowed gram pass.
@session_cached("documents")
def _dup_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    toks = _dup_tokens(load_table(spark, sf_dir, "documents"))
    win = Window.partitionBy("doc_id").orderBy("pos")
    gram = toks.select(
        "doc_id",
        "pos",
        F.concat_ws(
            " ",
            "w",
            *[F.lead("w", i).over(win) for i in range(1, _SPAN_W)],
        ).alias("g"),
        F.lead("w", _SPAN_W - 1).over(win).alias("_last"),
    ).filter(F.col("_last").isNotNull())
    gid = gram.select(
        "doc_id",
        "pos",
        F.conv(F.substring(F.md5("g"), 1, 8), 16, 10).cast("bigint").alias("s"),
    )
    dup = (
        gid.groupBy("s")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("s")
    )
    return materialize(gid.join(dup, "s", "left_semi").select("doc_id", "pos"), CORPUS)


@query(
    "duplicate_spans",
    oracle=f"""
    WITH {_DUP_WINDOW_CTES}, isl AS (
        SELECT doc_id, pos,
               pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        FROM dp
    )
    SELECT doc_id,
           CAST(min(pos) AS BIGINT)                       AS span_start,
           CAST(max(pos) + {_SPAN_W - 1} AS BIGINT)       AS span_end,
           CAST(max(pos) + {_SPAN_W} - min(pos) AS BIGINT) AS span_len,
           count(*)                                       AS n_windows
    FROM isl GROUP BY doc_id, grp
    """,
    section="2.11 cross-document duplicated-span detection (ExactSubstr shape)",
)
def duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level dedup discovery in the ExactSubstr shape (Lee
    et al., "Deduplicating Training Data Makes Language Models
    Better"): find every maximal token span covered by cross-document
    duplicated W-grams. Every duplicated run of length >= W is found
    (its W-grams are all duplicated — no false negatives); a merged
    span MAY fuse overlapping runs that duplicate against different
    partners, which is the standard anchor-based approximation and
    the right removal unit anyway. Doc-level dedup misses boilerplate
    embedded in otherwise-unique pages; this is the operator that
    finds it, and its spans are exactly what `span_scrub` removes.
    Anchors are rolling W=4 token windows (md5-prefix ids, the
    portable shingle identity, built once in _dup_windows /
    _DUP_WINDOW_CTES for both this query and the scrubber); a window
    is duplicated iff its gram occurs in >= 2 DISTINCT documents
    (within-doc repetition is repetition_ratio's business, not
    dedup's); per document, overlapping/adjacent duplicated windows
    merge into maximal spans by islands-and-gaps (pos - row_number is
    constant within a consecutive run). The paper builds suffix
    arrays; the rolling-anchor + merge form finds the identical
    duplicated runs >= W with only keyed shuffles: one groupBy on
    gram id (map-side-combined distinct-doc count), one semi-join
    back, one per-doc window — no pair fan-out anywhere, so the plan
    carries to corpus scale the way the df-capped near-dup does.
    Output: one row per maximal span (doc, start, end inclusive,
    length, contributing windows).
    """
    from pyspark.sql.window import Window

    dp = _dup_windows(spark, sf_dir)
    win = Window.partitionBy("doc_id").orderBy("pos")
    isl = dp.withColumn("grp", F.col("pos") - F.row_number().over(win))
    return (
        isl.groupBy("doc_id", "grp")
        .agg(
            F.min("pos").cast("bigint").alias("span_start"),
            (F.max("pos") + _SPAN_W - 1).cast("bigint").alias("span_end"),
            (F.max("pos") + _SPAN_W - F.min("pos")).cast("bigint").alias("span_len"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .select("doc_id", "span_start", "span_end", "span_len", "n_windows")
    )


@query(
    "span_scrub",
    oracle=f"""
    WITH {_DUP_WINDOW_CTES}, drop_pos AS (
        SELECT DISTINCT dp.doc_id, dp.pos + k.k AS pos
        FROM dp, (SELECT unnest(range({_SPAN_W})) AS k) k
    ), kept AS (
        SELECT t.doc_id, t.pos, t.w
        FROM toks t LEFT JOIN drop_pos x
          ON x.doc_id = t.doc_id AND x.pos = t.pos
        WHERE x.doc_id IS NULL
    ), rebuilt AS (
        SELECT doc_id, string_agg(w, ' ' ORDER BY pos) AS scrubbed,
               count(*) AS n_kept
        FROM kept GROUP BY doc_id
    ), sized AS (
        SELECT d.doc_id, d.source,
               len(string_split(d.text, ' ')) AS n_toks,
               COALESCE(r.n_kept, 0) AS n_kept,
               CASE WHEN r.doc_id IS NULL THEN NULL
                    ELSE ('0x' || substr(md5(r.scrubbed), 1, 8))::BIGINT END AS ck
        FROM documents d LEFT JOIN rebuilt r ON r.doc_id = d.doc_id
    )
    SELECT source,
           count(*)                                            AS n_docs,
           CAST(sum(CASE WHEN n_kept < n_toks THEN 1 ELSE 0 END) AS BIGINT)
                                                               AS n_docs_scrubbed,
           CAST(sum(n_toks) AS BIGINT)                         AS toks_before,
           CAST(sum(n_kept) AS BIGINT)                         AS toks_after,
           CAST(sum(COALESCE(ck, 0)) AS BIGINT)                AS scrub_checksum
    FROM sized GROUP BY source
    """,
    section="2.11 duplicated-span removal (detect -> scrub -> reassemble, content-certified)",
)
def span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REMOVAL half of the ExactSubstr pipeline: drop every token
    covered by a cross-document duplicated window (the positions
    `duplicate_spans` reports, regenerated from the shared
    _dup_windows definition so the two queries cannot drift)
    and reassemble each document from its surviving tokens in order.
    The per-source report certifies CONTENT, not just counts:
    `scrub_checksum` is an order-free BIGINT sum of the md5 prefix of
    each reassembled document string, so a reassembly that reorders,
    drops, or double-spaces a single token in a single document
    grades red (the chunk_dedup_scrub certification idea, summed so
    the output stays source-sized). Plan notes: span coverage is
    expanded window-start positions (a bounded explode of W=4 rows
    per duplicated window) anti-joined to the token stream on
    (doc, pos) — a keyed equi anti-join, never a positional range
    join; reassembly sorts (pos, token) structs inside a per-doc
    aggregate (collect_list order is partition-dependent — the
    sort_array makes it deterministic); everything else is dim-sized.
    Fully-scrubbed documents contribute 0 kept tokens and no
    checksum, identically in both engines.
    """
    d = load_table(spark, sf_dir, "documents")
    toks, dp = _dup_tokens(d), _dup_windows(spark, sf_dir)
    drop_pos = (
        dp.select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + _SPAN_W - 1)
            ).alias("pos"),
        )
        .distinct()
    )
    kept = toks.join(drop_pos, ["doc_id", "pos"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "w"))),
                lambda s: s.getField("w"),
            ),
            " ",
        ).alias("scrubbed"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    sized = (
        d.select(
            "doc_id", "source", F.size(F.split("text", " ")).alias("n_toks")
        )
        .join(rebuilt, "doc_id", "left")
        .select(
            "source",
            "n_toks",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.when(
                F.col("scrubbed").isNotNull(),
                F.conv(F.substring(F.md5("scrubbed"), 1, 8), 16, 10).cast(
                    "bigint"
                ),
            ).alias("ck"),
        )
    )
    return sized.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("n_kept") < F.col("n_toks")).cast("int"))
        .cast("bigint")
        .alias("n_docs_scrubbed"),
        F.sum("n_toks").cast("bigint").alias("toks_before"),
        F.sum("n_kept").cast("bigint").alias("toks_after"),
        F.sum(F.coalesce("ck", F.lit(0))).cast("bigint").alias("scrub_checksum"),
    )


# Session cache for the PORTABLE MinHash near-dup pair graph at the
# graded configuration (32 hashes / 8 bands / J >= 0.8 / md5 shingle
# ids): FOUR queries consume this exact frame per fixture
# (minhash_lsh_portable, dedup_clusters, dedup_clusters_star,
# dedup_clusters_minhash), and before round 13 each rebuilt the
# signatures -> banding -> rescore chain per call (~1.3-1.9 s warm at
# sf0.1 beyond the shared shingle frame). The entry is the FINAL pair
# frame (narrow: two ids + jaccard, ~100s of rows at fixture SFs,
# pair-graph-sized at any scale, so ``CORPUS``). The oracles still
# rebuild the full pipeline from scratch every call, so the differential keeps
# certifying the MACHINERY, not the cache.
@session_cached("documents")
def _minhash_portable_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, cand = _portable_sigs_cand(spark, sf_dir)
    return materialize(
        ops.minhash_rescore(_portable_shingle_index(spark, sf_dir), cand, 0.8), CORPUS
    )


# Labels of the iterative min-label CC over the cached portable pair
# graph — shared by dedup_clusters and dedup_clusters_minhash (the
# _cluster_labels twin for the MINHASH graph; dedup_clusters_star
# deliberately does NOT consume it: running the large-star/small-star
# fixpoint independently against the same oracle is that query's whole
# point). The CC output is already a localCheckpoint (the operator
# truncates its fixpoint lineage), so the entry costs no extra pin.
@session_cached("documents")
def _minhash_cluster_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ops.dedup_clusters(_minhash_portable_pairs(spark, sf_dir))


# Session cache for the (0.2, max_df=100) exact-pair-graph cluster
# labels — the dedup analogue of vectors._ivf_index: clustering is
# deterministic (exact pair graph + min-label CC), so serve-many
# consumers read one materialized label frame instead of re-running
# the iterative CC per call (dedup_clusters_exact, dedup_cluster_stats,
# dedup_best_quality).
@session_cached("documents")
def _cluster_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = ops.index_jaccard_pairs(_ngram_index(spark, sf_dir), 0.2, max_df=100)
    # dedup_clusters already localCheckpoints its fixpoint, so the
    # returned frame is executor-side state with no CC lineage
    return ops.dedup_clusters(pairs)


@query(
    "dedup_best_quality",
    oracle=_ngram_pair_ctes(0.2, 100, recursive=True) + ","
    + _closure_ctes("pairs") + """, scored AS (
        SELECT l.cluster_id, l.doc_id, d.n_chars
        FROM labels l JOIN documents d ON d.doc_id = l.doc_id
    ), best AS (
        SELECT cluster_id, doc_id AS keep_id, n_chars AS keep_n_chars FROM (
            SELECT cluster_id, doc_id, n_chars,
                   row_number() OVER (PARTITION BY cluster_id
                                      ORDER BY n_chars DESC, doc_id) AS rn
            FROM scored
        ) WHERE rn = 1
    )
    SELECT b.cluster_id, b.keep_id, b.keep_n_chars,
           count(*) AS n_members
    FROM best b JOIN scored s ON s.cluster_id = b.cluster_id
    GROUP BY b.cluster_id, b.keep_id, b.keep_n_chars
    """,
    section="2.11 quality-aware dedup survivor selection (keep best, not first)",
)
def dedup_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor selection the way production corpora actually do it:
    min-id keep-first (exact_dedup/semantic_dedup's rule) is
    deterministic but ARBITRARY — a real pipeline keeps the
    highest-quality member of each near-dup cluster (the longest /
    best-scored page, dropping the truncated mirror). Clusters come
    from the SAME exact n-gram pair graph + iterative CC as
    dedup_clusters_exact (one machinery, certified once); the quality
    key here is n_chars (stand-in for any per-doc score — the
    linear_quality_score column drops in unchanged), survivor =
    argmax(quality, tie -> min doc_id) via one per-cluster window.
    Everything after the certified CC is a keyed join against the
    narrow (doc_id, n_chars) projection plus cluster-sized aggs — the
    decision layer adds no shuffle wider than the labels frame.
    """
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    # serve from the session label cache (_cluster_labels): the CC is
    # deterministic, so cached labels are identical to a fresh run —
    # the parity queries above re-derive them against the recursive
    # oracle every call, certifying exactly that
    labels = _cluster_labels(spark, sf_dir)
    scored = labels.join(d.select("doc_id", "n_chars"), "doc_id")
    wq = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), "doc_id"
    )
    best = (
        scored.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("keep_id"),
            F.col("n_chars").alias("keep_n_chars"),
        )
    )
    sizes = scored.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n_members"))
    return best.join(sizes, "cluster_id").select(
        "cluster_id", "keep_id", "keep_n_chars", "n_members"
    )


_WINNOW_K = 3  # tokens per k-gram (shared shingle width)
_WINNOW_W = 4  # winnowing window: consecutive k-gram hashes per window


def _winnow_ctes() -> str:
    """The winnowing selection as oracle CTE text, ending at
    `fps(doc_id, pos, h)` (distinct selected fingerprints) — ONE
    definition consumed by both the per-doc report
    (winnowing_fingerprint) and the pair-detection index
    (winnowing_neardup), so the k/w constants and the rightmost-min
    rule cannot drift between them."""
    return f"""toks AS (
        SELECT doc_id, unnest(tokens) AS w,
               generate_subscripts(tokens, 1) - 1 AS pos
        FROM (SELECT doc_id, string_split(text, ' ') AS tokens FROM documents)
    ), gram AS (
        SELECT doc_id, pos,
               w{"".join(f" || ' ' || lead(w, {i}) OVER win" for i in range(1, _WINNOW_K))} AS g,
               lead(w, {_WINNOW_K - 1}) OVER win AS lastw
        FROM toks WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
    ), gid AS (
        SELECT doc_id, pos, ('0x' || substr(md5(g), 1, 8))::BIGINT AS h,
               count(*) OVER (PARTITION BY doc_id) AS ng
        FROM gram WHERE lastw IS NOT NULL
    ), ex AS (
        SELECT doc_id, pos, h,
               unnest(range(greatest(0, pos - {_WINNOW_W - 1}),
                            least(pos, ng - {_WINNOW_W}) + 1)) AS ws
        FROM gid WHERE ng >= {_WINNOW_W}
    ), sel AS (
        SELECT doc_id, ws, pos, h,
               row_number() OVER (PARTITION BY doc_id, ws
                                  ORDER BY h, pos DESC) AS rn
        FROM ex
    ), fps AS (
        SELECT DISTINCT doc_id, pos, h FROM sel WHERE rn = 1
    )"""


def _winnow_selection(d: DataFrame) -> DataFrame:
    """(doc_id, pos, h): the distinct winnowing-selected fingerprints.
    Spark twin of _winnow_ctes — the ONE engine-side definition of the
    selection pipeline (tokenize -> lead-window k-grams -> md5-prefix
    hash -> per-window rightmost-argmin -> distinct)."""
    from pyspark.sql.window import Window

    k, w = _WINNOW_K, _WINNOW_W
    toks = d.select("doc_id", F.posexplode(F.split("text", " ")).alias("pos", "w"))
    win = Window.partitionBy("doc_id").orderBy("pos")
    gram = toks.select(
        "doc_id",
        "pos",
        F.concat_ws(
            " ", "w", *[F.lead("w", i).over(win) for i in range(1, k)]
        ).alias("g"),
        F.lead("w", k - 1).over(win).alias("_last"),
    ).filter(F.col("_last").isNotNull())
    gid = gram.select(
        "doc_id",
        "pos",
        F.conv(F.substring(F.md5("g"), 1, 8), 16, 10).cast("bigint").alias("h"),
    ).withColumn("ng", F.count(F.lit(1)).over(Window.partitionBy("doc_id")))
    ex = gid.filter(F.col("ng") >= w).select(
        "doc_id",
        "pos",
        "h",
        F.explode(
            F.sequence(
                F.greatest(F.lit(0), F.col("pos") - (w - 1)),
                F.least(F.col("pos"), F.col("ng") - w),
            )
        ).alias("ws"),
    )
    wsel = Window.partitionBy("doc_id", "ws").orderBy("h", F.col("pos").desc())
    return (
        ex.withColumn("rn", F.row_number().over(wsel))
        .filter(F.col("rn") == 1)
        .select("doc_id", "pos", "h")
        .distinct()
    )


# Session-cached winnowed selection (doc_id, pos, h) — sketch-sized
# (~2/(w+1) of the k-gram stream) and read by BOTH winnowing queries,
# which each paid the full tokenize→window→argmin build per call
# before r14.
@session_cached("documents")
def _winnow_selection_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    return materialize(_winnow_selection(load_table(spark, sf_dir, "documents")), CORPUS)


@query(
    "winnowing_fingerprint",
    oracle=f"""
    WITH {_winnow_ctes()}
    SELECT doc_id,
           count(*)                      AS n_fp,
           count(DISTINCT h)             AS n_hashes,
           CAST(min(pos) AS BIGINT)      AS first_pos,
           CAST(max(pos) AS BIGINT)      AS last_pos
    FROM fps GROUP BY doc_id
    """,
    section="2.11 winnowing fingerprint selection (MOSS robust winnowing)",
)
def winnowing_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust winnowing (Schleimer/Wilkerson/Aiken, the MOSS
    fingerprinting scheme): slide a window of w=4 consecutive
    k-gram hashes over each document and keep each window's MINIMUM
    hash (tie -> rightmost position), deduplicating selections shared
    by overlapping windows. The guarantee dedup literature uses it
    for: any match of at least w+k-1 tokens between two documents
    shares at least one selected fingerprint, while storing only
    ~2/(w+1) of all k-gram hashes — the sketch that makes index-based
    plagiarism/copy detection sublinear in corpus size. Per-doc report
    (selection counts and span) keeps the terminal row count bounded.

    Plan shape: tokenize -> lead-window k-grams (the _dup_windows
    machinery shape) -> md5-prefix portable hash -> each gram explodes
    into the <=w windows containing it (sequence/explode: work is
    exactly w rows per gram, linear, never a range join) -> per-window
    argmin via a (doc_id, window)-keyed row_number -> distinct + one
    keyed agg. Every stage is partitioned by doc_id; nothing global.
    Spark `sequence(lo, hi)` RAISES on descending bounds (the round-3
    trap), so the bounds are proven lo <= hi: ng >= w filters first,
    and max(0, pos-w+1) <= min(pos, ng-w) holds for every surviving
    pos <= ng-1. Tie-break pos DESC is the paper's rightmost-min rule
    and pins md5-prefix hash collisions identically in both engines."""
    fps = _winnow_selection_cached(spark, sf_dir)
    return fps.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_fp"),
        F.countDistinct("h").alias("n_hashes"),
        F.min("pos").cast("bigint").alias("first_pos"),
        F.max("pos").cast("bigint").alias("last_pos"),
    )


@query(
    "dedup_survivor_bias",
    oracle="""
    WITH fp AS (
        SELECT doc_id, source, n_chars,
               min(doc_id) OVER (PARTITION BY md5(text)) AS first_id
        FROM documents
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN doc_id = first_id THEN 1 ELSE 0 END) AS BIGINT)
               AS n_survivors,
           floor(sum(n_chars) * 1.0 / count(*) * 100 + 0.5) / 100
               AS mean_chars_all,
           floor(sum(CASE WHEN doc_id = first_id THEN n_chars ELSE 0 END) * 1.0
                 / sum(CASE WHEN doc_id = first_id THEN 1 ELSE 0 END)
                 * 100 + 0.5) / 100 AS mean_chars_kept
    FROM fp GROUP BY source
    """,
    section="2.11 dedup survivor bias (quality shift under keep-first dedup)",
)
def dedup_survivor_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What keep-first exact dedup does to the corpus PROFILE, not just
    its size: per source, document counts before/after and the mean
    length before/after — the curator's check that dedup didn't
    systematically remove long (or short) documents from one source.
    The survivor rule is the same min-doc_id-per-content-hash used by
    exact_dedup/dedup_report, computed as one fingerprint-keyed window
    (no self-join); the rollup is a single keyed agg. Means divide two
    exact integers and render through the shared floor-half-up form at
    2dp, mirrored in the oracle."""
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    fp = d.select(
        "doc_id", "source", "n_chars",
        F.min("doc_id").over(Window.partitionBy(F.md5("text"))).alias("first_id"),
    )
    kept = F.when(F.col("doc_id") == F.col("first_id"), 1).otherwise(0)
    kept_chars = F.when(F.col("doc_id") == F.col("first_id"), F.col("n_chars")).otherwise(F.lit(0))
    return fp.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(kept).cast("bigint").alias("n_survivors"),
        round_half_up(F.sum("n_chars") * 1.0 / F.count(F.lit(1)), 2).alias(
            "mean_chars_all"
        ),
        round_half_up(F.sum(kept_chars) * 1.0 / F.sum(kept), 2).alias(
            "mean_chars_kept"
        ),
    )


_WINNOW_MIN_SHARED = 2  # fingerprints shared before a pair is reported


@query(
    "winnowing_neardup",
    oracle=f"""
    WITH {_winnow_ctes()}, fph AS (
        SELECT DISTINCT doc_id, h FROM fps
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           count(*) AS n_shared
    FROM fph a JOIN fph b ON a.h = b.h AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING count(*) >= {_WINNOW_MIN_SHARED}
    """,
    section="2.11 winnowing-index near-dup candidates (fingerprint-join detection)",
)
def winnowing_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The winnowing sketch USED as the dedup index: pairs of
    documents sharing >= 2 selected fingerprints, via a self-join on
    the per-doc DISTINCT fingerprint hashes — the MOSS detection step.
    Where ngram_jaccard_pairs joins the FULL df-capped shingle index
    (every shingle a candidate key), this joins only the ~2/(w+1)
    winnowed selection, shrinking both the index and the join's bucket
    work by the same factor while the winnowing guarantee bounds the
    miss class: any (w+k-1)-token overlap still shares >= 1
    fingerprint (the >= 2 cut is the standard noise floor against
    md5-prefix collisions and incidental single-gram matches).

    Plan: the winnowing_fingerprint selection (shared constants, same
    windowed stages) reduced to per-doc distinct hashes, then
    :func:`bucket_pairs` on the hash — the inverted-index shape with a
    sketch-sized posting list. At 100 TB add a df-cap on hot
    fingerprints exactly like the shingle index's (a boilerplate
    fingerprint has the same unbounded-bucket hazard at lower mass).
    """
    fph = (
        _winnow_selection_cached(spark, sf_dir)
        .select("doc_id", "h")
        .distinct()
    )
    return (
        ops.bucket_pairs(fph, "doc_id", "h")
        .select(
            F.col("id_a").alias("doc_a"),
            F.col("id_b").alias("doc_b"),
            F.col("n").alias("n_shared"),
        )
        .filter(F.col("n_shared") >= _WINNOW_MIN_SHARED)
    )


_MH_AGREE_SQL = " + ".join(
    f"CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END" for i in range(32)
)


@query(
    "minhash_estimate_error",
    oracle=f"""
    WITH {_minhash_portable_ctes()},
    agree AS (
        SELECT c.doc_a, c.doc_b, ({_MH_AGREE_SQL}) AS n_agree
        FROM cand c
        JOIN sigs a ON a.doc_id = c.doc_a
        JOIN sigs b ON b.doc_id = c.doc_b
    )
    SELECT g.doc_a, g.doc_b,
           CAST(g.n_agree AS BIGINT) AS n_agree,
           floor(g.n_agree / 32.0 * 1e6 + 0.5) / 1e6 AS j_est,
           floor(coalesce(i.n_inter, 0)::DOUBLE
                 / (sa.n + sb.n - coalesce(i.n_inter, 0)) * 1e6 + 0.5) / 1e6
               AS j_true,
           floor(abs(g.n_agree / 32.0
                     - coalesce(i.n_inter, 0)::DOUBLE
                       / (sa.n + sb.n - coalesce(i.n_inter, 0)))
                 * 1e6 + 0.5) / 1e6 AS abs_err
    FROM agree g
    LEFT JOIN inter i ON i.doc_a = g.doc_a AND i.doc_b = g.doc_b
    JOIN sizes sa ON sa.doc_id = g.doc_a
    JOIN sizes sb ON sb.doc_id = g.doc_b
    """,
    section="2.11 MinHash estimator accuracy (slot-agreement Ĵ vs exact J per pair)",
)
def minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How good is the 32-hash MinHash estimate itself? For every LSH
    candidate pair: Ĵ = (agreeing signature slots)/32 — the estimator
    sketch-based systems USE when they skip the exact rescore — next
    to the exact Jaccard over the same portable shingle sets, plus the
    absolute error. E[Ĵ] = J with σ = √(J(1-J)/32) ≈ 0.09; a team
    reads this table to decide whether n_hashes is adequate before
    dropping the rescore stage at scale. Scores the EXACT signatures
    the production pipeline bands (minhash_signatures /
    minhash_band_candidates are the same definitions minhash_lsh_pairs
    executes; the oracle re-derives both from the shared portable
    CTEs). Per-pair output only — every value is a deterministic
    function of exact integers (no cross-pair float aggregation to
    order-drift); candidates with NO shared shingle keep j_true = 0
    via the mirrored left join + coalesce. Plan: the small distinct
    candidate frame broadcasts onto the signature/size/intersection
    frames; the shingle index is the SESSION-CACHED
    _portable_shingle_index shared with lsh_recall."""
    sh = _portable_shingle_index(spark, sf_dir)
    # sigs/cand from the session cache (see _portable_sigs_cand):
    # this plan references sigs four times and cand twice, and the
    # sibling bbit evaluator repeats the identical build
    sigs, cand = _portable_sigs_cand(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    # intersections ONLY for the candidate pairs: fan the (small,
    # broadcast) pair frame onto doc_a's postings, then match
    # doc_b's postings on (doc_b, s) — work is Σ|A| over candidate
    # pairs, never the full co-shingle self-join (the original
    # posting-list a⋈b computed EVERY co-shingle pair and then
    # left-joined the candidates against it: the whole lsh_recall
    # ground-truth cost paid for rows that were thrown away;
    # measured 5.2 s → 1.6 s at sf0.1)
    inter = (
        F.broadcast(cand.select("doc_a", "doc_b"))
        .join(sh.select(F.col("doc_id").alias("doc_a"), "s"), "doc_a")
        .join(sh.select(F.col("doc_id").alias("doc_b"), "s"), ["doc_b", "s"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sga = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"h{i}").alias(f"ha{i}") for i in range(32)],
    )
    sgb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"h{i}").alias(f"hb{i}") for i in range(32)],
    )
    n_agree = sum(
        (
            F.when(F.col(f"ha{i}") == F.col(f"hb{i}"), 1).otherwise(0)
            for i in range(32)
        ),
        F.lit(0),
    )
    agree = (
        cand.join(sga, "doc_a")
        .join(sgb, "doc_b")
        .select("doc_a", "doc_b", n_agree.alias("n_agree"))
    )
    ni = F.coalesce(F.col("n_inter"), F.lit(0))
    j_true_raw = ni.cast("double") / (F.col("na") + F.col("nb") - ni)
    j_est_raw = F.col("n_agree") / 32.0
    out = materialize(
        agree.join(inter, ["doc_a", "doc_b"], "left")
        .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.col("n_agree").cast("bigint").alias("n_agree"),
            round_half_up(j_est_raw, 6).alias("j_est"),
            round_half_up(j_true_raw, 6).alias("j_true"),
            round_half_up(F.abs(j_est_raw - j_true_raw), 6).alias("abs_err"),
        ),
        SMALL,
    )
    return out


@query(
    "cross_source_dups",
    oracle="""
    WITH fpc AS (
        SELECT md5(substr(replace(text, ' ', ''), 1, 64)) AS fp, source,
               count(*) AS n
        FROM documents
        GROUP BY fp, source
    ), within AS (
        SELECT source AS source_a, source AS source_b,
               count(*) FILTER (WHERE n > 1) AS n_shared_fps,
               sum(n * (n - 1) // 2) AS n_dup_pairs
        FROM fpc GROUP BY source
    ), cross_pairs AS (
        SELECT a.source AS source_a, b.source AS source_b,
               count(*) AS n_shared_fps,
               sum(a.n * b.n) AS n_dup_pairs
        FROM fpc a JOIN fpc b ON a.fp = b.fp AND a.source < b.source
        GROUP BY a.source, b.source
    ), unioned AS (
        SELECT * FROM within WHERE n_dup_pairs > 0
        UNION ALL
        SELECT * FROM cross_pairs
    )
    SELECT source_a, source_b,
           CAST(n_shared_fps AS BIGINT) AS n_shared_fps,
           CAST(n_dup_pairs AS BIGINT) AS n_dup_pairs
    FROM unioned
    """,
    section="2.11 cross-source duplication matrix (mirror/syndication detection)",
)
def cross_source_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHERE duplication comes from: the source x source matrix of
    shared-opening duplicate pairs — documents whose leading 64
    whitespace-normalized characters fingerprint identically (the
    template-header / syndicated-lede grain; real crawls duplicate
    openings far more than whole bodies, and full-content identity is
    doc_fingerprint's role) — split into within-source rows
    (self-duplication: n·(n−1)/2 pairs per fingerprint) and
    cross-source rows (mirrors / syndication: n_a·n_b pairs). The
    table a crawl team reads to decide which source to keep when
    deduplicating a merged corpus, where doc_fingerprint only says
    duplication EXISTS per source.

    Scale shape: one keyed (fp, source) count (map-side combined),
    then a self-join keyed on the fingerprint whose per-key width is
    bounded by the SOURCE count, never the corpus (a fingerprint row
    exists once per (fp, source), so a 10k-copy boilerplate page
    joins as one row per source pair); within-source pairs come from
    the same row arithmetically, with no join at all. All counts are
    exact integers."""
    fp = F.md5(F.substring(F.regexp_replace(F.col("text"), " ", ""), 1, 64))
    fpc = (
        load_table(spark, sf_dir, "documents")
        .groupBy(fp.alias("fp"), F.col("source"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    within = (
        fpc.groupBy("source")
        .agg(
            F.sum((F.col("n") > 1).cast("int")).alias("n_shared_fps"),
            # integer DIV keeps the pair count exact at any scale — a
            # double n*(n-1)/2 sum rounds past 2^53 while the oracle's
            # BIGINT sum does not (r10 review)
            F.sum(F.expr("n * (n - 1) DIV 2")).cast("bigint").alias("n_dup_pairs"),
        )
        .filter(F.col("n_dup_pairs") > 0)
        .select(
            F.col("source").alias("source_a"),
            F.col("source").alias("source_b"),
            "n_shared_fps",
            "n_dup_pairs",
        )
    )
    a = fpc.select("fp", F.col("source").alias("source_a"), F.col("n").alias("na"))
    b = fpc.select("fp", F.col("source").alias("source_b"), F.col("n").alias("nb"))
    cross = (
        a.join(b, "fp")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).alias("n_shared_fps"),
            F.sum(F.col("na") * F.col("nb")).alias("n_dup_pairs"),
        )
    )
    return within.unionAll(cross).select(
        "source_a",
        "source_b",
        F.col("n_shared_fps").cast("bigint").alias("n_shared_fps"),
        F.col("n_dup_pairs").cast("bigint").alias("n_dup_pairs"),
    )


# grid spans the low-overlap knee AND the dup cliff: the fixture's pair
# mass is bimodal (boilerplate noise below ~0.06, near-exact dups at
# ~0.9), and a uniform grid would read flat
_SWEEP_THRESHOLDS = [0.02, 0.04, 0.06, 0.08, 0.10, 0.25, 0.50, 0.75, 0.85]
_SWEEP_BANDS = 32  # rows=1: the widest candidate funnel (exploration config)


@query(
    "dedup_threshold_sweep",
    oracle=f"""
    WITH {_minhash_portable_ctes(32, _SWEEP_BANDS)},
    jac AS (
        SELECT c.doc_a, c.doc_b,
               floor(coalesce(i.n_inter, 0)::DOUBLE
                     / (sa.n + sb.n - coalesce(i.n_inter, 0)) * 10000 + 0.5)
                   / 10000 AS j
        FROM cand c
        LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
        JOIN sizes sa ON sa.doc_id = c.doc_a
        JOIN sizes sb ON sb.doc_id = c.doc_b
    ),
    th AS (SELECT unnest(CAST([{", ".join(str(t) for t in _SWEEP_THRESHOLDS)}]
                         AS DOUBLE[])) AS threshold)
    SELECT th.threshold,
           CAST(sum(CASE WHEN jac.j >= th.threshold THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pairs,
           CAST(count(DISTINCT CASE WHEN jac.j >= th.threshold
                                    THEN jac.doc_b END) AS BIGINT)
               AS n_docs_dropped
    FROM th CROSS JOIN jac
    GROUP BY th.threshold
    """,
    section="2.11 dedup operating-point sweep (pairs/docs-dropped vs Jaccard threshold)",
)
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHERE to set the dedup line: for nine Jaccard thresholds, how
    many candidate pairs the production MinHash+LSH pipeline would
    confirm and how many documents keep-first dedup would drop (the
    distinct higher-id members of above-threshold pairs) — the
    companion table to `lsh_recall` (which grades what banding CAN
    see, against exact ground truth; this prices what each threshold
    DOES to the corpus among what it sees). Candidates come from the
    WIDEST banding (rows=1: any shared minhash slot) — the deliberate
    over-generating exploration config, so the sweep can price cuts
    BELOW the production 8x4 S-curve knee; one tuning read covers all
    nine cuts.

    Shares every definition it measures: the session-cached portable
    shingle index, the minhash_lsh_pairs signature/banding stages,
    and the candidate-restricted exact-intersection rescore (the
    minhash_estimate_error shape). Jaccard is 4dp-pinned (the mpairs
    form) BEFORE the fixed-literal threshold comparisons, every count
    is an exact integer, and the 9x fan-out is a projection explode
    into a dim-sized aggregate — one extra shuffle of candidate-pair
    (not corpus) rows. The rows=1 funnel admits the low-overlap noise
    mass ON PURPOSE (that's where the knee lives), so its candidate
    count grows faster than the production pipeline's — at 100 TB run
    this diagnostic over a document SAMPLE (the ann_recall
    sample-the-queries posture), not the full corpus; it prices a
    threshold, it doesn't dedup."""
    from ..operators.dedup import minhash_band_candidates

    sh = _portable_shingle_index(spark, sf_dir)
    sigs, _ = _portable_sigs_cand(spark, sf_dir)
    # Materialize the rows=1 candidate frame ONCE (it feeds both the
    # intersection rescore and the jac join below — without this the
    # whole signature/banding lineage executes twice), and let AQE
    # pick the join strategy: with rows=1 banding the candidate mass
    # grows superlinearly with corpus size, so a broadcast hint here
    # could exceed executor/driver memory at larger SFs even under
    # the documented sample-the-corpus posture.
    cand = materialize(
        minhash_band_candidates(sigs, 32, _SWEEP_BANDS)
        .select("doc_a", "doc_b"),
        CORPUS,
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        cand
        .join(sh.select(F.col("doc_id").alias("doc_a"), "s"), "doc_a")
        .join(sh.select(F.col("doc_id").alias("doc_b"), "s"), ["doc_b", "s"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    ni = F.coalesce(F.col("n_inter"), F.lit(0))
    jac = (
        cand.join(inter, ["doc_a", "doc_b"], "left")
        .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
        .select(
            "doc_b",
            (
                F.floor(
                    ni.cast("double") / (F.col("na") + F.col("nb") - ni) * 10000
                    + 0.5
                )
                / 10000
            ).alias("j"),
        )
    )
    th = F.explode(
        F.array(*[F.lit(t) for t in _SWEEP_THRESHOLDS])
    ).alias("threshold")
    return (
        jac.select("doc_b", "j", th)
        .groupBy("threshold")
        .agg(
            F.sum((F.col("j") >= F.col("threshold")).cast("int"))
            .cast("bigint")
            .alias("n_pairs"),
            F.countDistinct(
                F.when(F.col("j") >= F.col("threshold"), F.col("doc_b"))
            )
            .cast("bigint")
            .alias("n_docs_dropped"),
        )
    )


_SPAN_WIDTHS = (3, 4, 6, 8)  # anchor widths swept around _SPAN_W = 4


def _span_width_gid_sql(widths: tuple[int, ...]) -> str:
    """Per-width duplicated-window gram ids as one UNION ALL over a
    SINGLE lead-computed token frame — the SQL twin of the plan's
    one-window-pass explode (lead columns up to max(widths)-1 are
    computed once; each width reuses its prefix)."""
    maxw = max(widths)
    leads = ",\n               ".join(
        f"lead(w, {i}) OVER win AS w{i}" for i in range(1, maxw)
    )
    branches = []
    for wd in widths:
        g = "w" + "".join(f" || ' ' || w{i}" for i in range(1, wd))
        branches.append(
            f"""SELECT doc_id, pos, {wd} AS width,
               ('0x' || substr(md5({g}), 1, 8))::BIGINT AS s
        FROM led WHERE w{wd - 1} IS NOT NULL"""
        )
    union = "\n        UNION ALL ".join(branches)
    return f"""toks AS (
        SELECT doc_id, unnest(tokens) AS w,
               generate_subscripts(tokens, 1) - 1 AS pos
        FROM (SELECT doc_id, string_split(text, ' ') AS tokens FROM documents)
    ), led AS (
        SELECT doc_id, pos, w,
               {leads}
        FROM toks WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
    ), gid AS (
        {union}
    )"""


@query(
    "span_width_sweep",
    oracle=f"""
    WITH {_span_width_gid_sql(_SPAN_WIDTHS)},
    dup AS (
        SELECT width, s FROM gid
        GROUP BY width, s HAVING count(DISTINCT doc_id) >= 2
    ), dp AS (
        SELECT g.doc_id, g.width, g.pos
        FROM gid g JOIN dup d ON d.width = g.width AND d.s = g.s
    ), isl AS (
        SELECT doc_id, width, pos,
               pos - row_number() OVER (PARTITION BY doc_id, width
                                        ORDER BY pos) AS grp
        FROM dp
    ), sp AS (
        SELECT doc_id, width, grp,
               min(pos) AS a, max(pos) AS b, count(*) AS nw
        FROM isl GROUP BY doc_id, width, grp
    )
    SELECT CAST(width AS INT)                   AS width,
           CAST(sum(nw) AS BIGINT)              AS n_dup_windows,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs_hit,
           CAST(count(*) AS BIGINT)             AS n_spans,
           CAST(sum(b + width - a) AS BIGINT)   AS covered_tokens
    FROM sp GROUP BY width
    """,
    section="2.11 ExactSubstr anchor-width sensitivity sweep",
)
def span_width_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHERE to set the ExactSubstr anchor width: for W in {3,4,6,8},
    how many duplicated windows, hit documents, merged spans, and
    covered tokens the rolling-anchor detector finds — the
    `dedup_threshold_sweep` operating-point pattern applied to span
    dedup (r10 verdict, Next #7). Anchors of width W are blind to
    duplicated runs SHORTER than W, so covered_tokens falling as W
    rises prices that blindness directly, while the W=3 row shows
    the extra (mostly-noise) mass a tighter anchor would admit;
    `duplicate_spans`'s production W=4 sits inside the sweep.

    One tokenize + ONE per-doc window pass computes lead columns up
    to max(W)-1; each width's grams then reuse the shared leads
    (an array-of-structs explode, no per-width re-window), so the
    sweep costs one extra narrow explode over the single-width
    detector, plus per-(width, gram) keyed aggregation — no pair
    fan-out, the duplicate_spans scale argument times |widths|."""
    from pyspark.sql.window import Window

    widths = _SPAN_WIDTHS
    maxw = max(widths)
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "w")
    )
    win = Window.partitionBy("doc_id").orderBy("pos")
    led = toks.select(
        "doc_id", "pos", "w",
        *[F.lead("w", i).over(win).alias(f"w{i}") for i in range(1, maxw)],
    )
    wg = F.array(
        *[
            F.when(
                F.col(f"w{wd - 1}").isNotNull(),
                F.struct(
                    F.lit(wd).alias("width"),
                    F.concat_ws(
                        " ", "w", *[f"w{i}" for i in range(1, wd)]
                    ).alias("g"),
                ),
            )
            for wd in widths
        ]
    )
    gid = materialize(
        led.select("doc_id", "pos", F.explode(wg).alias("wg"))
        .filter(F.col("wg").isNotNull())
        .select(
            "doc_id",
            "pos",
            F.col("wg.width").alias("width"),
            F.conv(F.substring(F.md5("wg.g"), 1, 8), 16, 10)
            .cast("bigint")
            .alias("s"),
        ),
        # materialized ONCE: gid feeds both the duplicated-gram
        # derivation and the semi-join back, and without this the
        # 4-width explode + md5 pass executes twice (measured
        # 4.8 → 2.8 s warm at sf0.1; the narrow frame is 4 small
        # columns per window position)
        CORPUS,
    )
    # "seen in ≥2 distinct docs" as min(doc_id) != max(doc_id): a plain
    # hash agg with two long partials instead of count(DISTINCT ...)'s
    # two-phase distinct expansion over the token-scale gid frame
    # (identical predicate — a (width, s) group has ≥2 distinct doc_ids
    # iff its min and max differ)
    dup = (
        gid.groupBy("width", "s")
        .agg(F.min("doc_id").alias("d0"), F.max("doc_id").alias("d1"))
        .filter(F.col("d0") != F.col("d1"))
        .select("width", "s")
    )
    dp = gid.join(dup, ["width", "s"], "left_semi").select(
        "doc_id", "width", "pos"
    )
    iw = Window.partitionBy("doc_id", "width").orderBy("pos")
    isl = dp.withColumn("grp", F.col("pos") - F.row_number().over(iw))
    sp = isl.groupBy("doc_id", "width", "grp").agg(
        F.min("pos").alias("a"), F.max("pos").alias("b"),
        F.count(F.lit(1)).alias("nw"),
    )
    return sp.groupBy("width").agg(
        F.sum("nw").cast("bigint").alias("n_dup_windows"),
        F.countDistinct("doc_id").cast("bigint").alias("n_docs_hit"),
        F.count(F.lit(1)).cast("bigint").alias("n_spans"),
        F.sum(F.col("b") + F.col("width") - F.col("a"))
        .cast("bigint")
        .alias("covered_tokens"),
    ).select(
        F.col("width").cast("int").alias("width"),
        "n_dup_windows", "n_docs_hit", "n_spans", "covered_tokens",
    )


_BAND_CONFIGS = ((32, 1), (16, 2), (8, 4), (4, 8))  # (bands, rows), 32 hashes


def _lsh_band_sweep_oracle(
    configs: tuple[tuple[int, int], ...], n_hashes: int = 32
) -> str:
    """Candidate mass per LSH banding config over the SHARED signature
    tables (_minhash_sigs_ctes — exactly what the production pipeline
    bands): per config one band CTE + one candidate CTE, then a union
    of one-row counts."""
    parts = [_minhash_sigs_ctes(n_hashes)]
    sels = []
    for bands, rows in configs:
        band_sel = "\n        UNION ALL ".join(
            f"SELECT doc_id, {b} AS band, concat_ws('_', "
            + ", ".join(f"h{b * rows + r}" for r in range(rows))
            + ") AS sig FROM sigs"
            for b in range(bands)
        )
        parts.append(f"""bnd{bands} AS (
        {band_sel}
    ), cand{bands} AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bnd{bands} a JOIN bnd{bands} b
          ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    )""")
        sels.append(
            f"""SELECT {bands} AS n_bands, {rows} AS rows_per_band,
               CAST(count(*) AS BIGINT) AS n_cand_pairs,
               CAST(count(DISTINCT doc_b) AS BIGINT) AS n_docs_flagged
        FROM cand{bands}"""
        )
    return (
        "\n    WITH "
        + ",\n    ".join(parts)
        + "\n    "
        + "\n    UNION ALL ".join(sels)
    )


@query(
    "lsh_band_sweep",
    oracle=_lsh_band_sweep_oracle(_BAND_CONFIGS),
    section="2.11 LSH banding-config sweep (S-curve operating points, candidate mass)",
)
def lsh_band_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHERE to set the LSH S-curve: for each (bands, rows) split of
    the 32-hash MinHash signature — (32,1) widest through (4,8)
    strictest — the candidate-pair mass and the keep-first flagged
    document count. The banding threshold ≈ (1/b)^(1/r) moves from
    ~0.03 to ~0.84 across the sweep, so this one table prices the
    recall-vs-cost curve the production 8x4 config sits on
    (`dedup_threshold_sweep` sweeps the RESCORE threshold at fixed
    widest banding; this sweeps the BANDING itself — together they
    bracket the two knobs a dedup deployment tunes).

    Signatures come from the SESSION-CACHED frame (_portable_sigs_cand
    — shared with the estimate-error/bbit evaluators; replacing the
    per-call rebuild + localCheckpoint of an identical frame); each
    banding is the production minhash_band_candidates definition, so
    candidate sets — not a re-typed approximation — are what's
    counted (the 8-band config reads the cached candidate frame
    itself). Counts only, never materialized pair lists, so even the
    (32,1) funnel is one keyed-agg pass; at corpus scale the same
    sample-the-corpus posture as dedup_threshold_sweep applies."""
    from ..operators.dedup import minhash_band_candidates

    sigs, cand8 = _portable_sigs_cand(spark, sf_dir)
    parts = []
    for bands, rows in _BAND_CONFIGS:
        cand = cand8 if bands == 8 else minhash_band_candidates(sigs, 32, bands)
        parts.append(
            cand.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_cand_pairs"),
                F.countDistinct("doc_b").cast("bigint").alias("n_docs_flagged"),
            ).select(
                F.lit(bands).cast("int").alias("n_bands"),
                F.lit(rows).cast("int").alias("rows_per_band"),
                "n_cand_pairs",
                "n_docs_flagged",
            )
        )
    out = parts[0]
    for p_ in parts[1:]:
        out = out.unionAll(p_)
    return out


@query(
    "dedup_growth_curve",
    oracle="""
    WITH firsts AS (
        SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS first_id
        FROM documents
    ), mx AS (SELECT max(doc_id) AS m FROM documents),
    cuts AS (SELECT unnest(CAST([1, 2, 3, 4] AS INT[])) AS q)
    SELECT c.q AS quartile,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN f.first_id < f.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dups,
           floor(sum(CASE WHEN f.first_id < f.doc_id THEN 1 ELSE 0 END)
                 ::DOUBLE / count(*) * 10000 + 0.5) / 10000 AS dup_frac
    FROM firsts f
    CROSS JOIN mx
    JOIN cuts c ON f.doc_id * 4 <= mx.m * c.q
    GROUP BY c.q
    """,
    section="2.11 dedup growth curve (duplicate fraction vs corpus prefix)",
)
def dedup_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOES more crawl buy more novelty: the exact-duplicate fraction
    of the corpus at its first 25/50/75/100% (by ingestion order =
    doc_id) — the `vocab_growth` read applied to dedup. A curve whose
    dup_frac climbs with the prefix says each marginal crawl slice
    repeats more of what's already held (the diminishing-returns
    signal that caps a crawl's useful size); flat says novelty is
    holding. Uses THE keep-first identity (`exact_dedup`'s md5
    content hash, first occurrence = min doc_id).

    Exactness: prefix membership is the integer cross-multiplication
    doc_id·4 ≤ max_id·q (no float quantile), counts are integers,
    one 4dp-pinned ratio. Plan: one hash window per content group
    (the same shuffle exact_dedup runs), a 1-row broadcast max, and
    a ≤4-way prefix fan-out joined on the cut predicate — each doc
    lands in the suffix of cuts it belongs to, map-side combined."""
    d = load_table(spark, sf_dir, "documents")
    from pyspark.sql.window import Window

    firsts = d.select(
        "doc_id",
        F.min("doc_id").over(Window.partitionBy(F.md5("text"))).alias("first_id"),
    )
    mx = d.agg(F.max("doc_id").alias("m"))
    cuts = F.explode(F.array(*[F.lit(q).cast("int") for q in (1, 2, 3, 4)])).alias("q")
    is_dup = (F.col("first_id") < F.col("doc_id")).cast("int")
    return (
        firsts.crossJoin(F.broadcast(mx))
        .select("doc_id", "first_id", "m", cuts)
        .filter(F.col("doc_id") * 4 <= F.col("m") * F.col("q"))
        .groupBy(F.col("q").alias("quartile"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(is_dup).cast("bigint").alias("n_dups"),
            round_half_up(
                F.sum(is_dup).cast("double") / F.count(F.lit(1)), 4
            ).alias("dup_frac"),
        )
    )


@query(
    "dup_quality_profile",
    oracle=_ngram_pair_ctes(0.2, 100) + """,
    dup_docs AS (
        SELECT DISTINCT doc_id FROM (
            SELECT doc_a AS doc_id FROM pairs
            UNION ALL SELECT doc_b FROM pairs
        )
    ), q AS (
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_tokens,
               least(1.0, greatest(0.0,
                   0.2 + 0.12 * ((n_chars - len(string_split(text, ' ')) + 1.0)
                                 / len(string_split(text, ' ')))
                   - 0.5 * (len(list_filter(string_split(text, ' '),
                                            w -> w IN ('the', 'a')))::DOUBLE
                            / len(string_split(text, ' '))))) AS quality
        FROM documents
    )
    SELECT (d.doc_id IS NOT NULL) AS is_near_dup,
           CAST(count(*) AS BIGINT) AS n_docs,
           floor(sum(CAST(floor(q.quality * 10000 + 0.5) AS BIGINT))::DOUBLE
                 / count(*) + 0.5) / 10000 AS avg_quality,
           floor(sum(q.n_tokens)::DOUBLE / count(*) * 100 + 0.5) / 100
               AS avg_tokens
    FROM q LEFT JOIN dup_docs d ON d.doc_id = q.doc_id
    GROUP BY (d.doc_id IS NOT NULL)
    """,
    section="2.11 duplication-quality interplay (near-dup members vs singletons)",
)
def dup_quality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARE the near-duplicates the junk: mean heuristic quality and
    length for documents inside a near-dup pair (exact 3-gram Jaccard
    ≥ 0.2 — the `_cluster_labels` clustering threshold) against the
    untouched singletons — the analysis that decides whether dedup
    doubles as a quality filter (syndicated boilerplate usually drags
    the dup side down) or is orthogonal on this corpus. Quality is
    THE shared heuristic (`textops.quality_features`, quality_score's
    definition); membership comes from the session-cached pair graph
    labels, so this profiles exactly what `dedup_clusters` clusters.

    Plan: cached cluster labels (build-once) left-join the per-doc
    quality frame (one scan, pure column math), two-group rollup.
    Float discipline: per-doc quality pins to 4dp FIXED-POINT
    INTEGERS before the group sum, so the average is one division of
    exact BIGINTs — identical in any engine at any partition order
    (a raw-float avg hit a .xxxx5 boundary on this very fixture:
    0.7144 vs 0.7143)."""
    from ..operators import textops

    d = load_table(spark, sf_dir, "documents")
    labels = _cluster_labels(spark, sf_dir).select("doc_id").distinct()
    q = textops.quality_features(d, "doc_id", "text", "n_chars").select(
        "doc_id", "n_tokens", "quality"
    )
    q4 = F.floor(F.col("quality") * 10000 + 0.5).cast("bigint")
    return (
        q.join(labels.withColumn("hit", F.lit(1)), "doc_id", "left")
        .groupBy((F.col("hit").isNotNull()).alias("is_near_dup"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            (
                F.floor(
                    F.sum(q4).cast("double") / F.count(F.lit(1)) + 0.5
                )
                / 10000
            ).alias("avg_quality"),
            (
                F.floor(
                    F.sum("n_tokens").cast("double")
                    / F.count(F.lit(1))
                    * 100
                    + 0.5
                )
                / 100
            ).alias("avg_tokens"),
        )
    )


@query(
    "normalized_exact_dedup",
    oracle="""
    WITH n AS (
        SELECT source,
               md5(text) AS raw_h,
               md5(trim(regexp_replace(
                   regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                   ' +', ' ', 'g'))) AS norm_h
        FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT)              AS n_docs,
           CAST(count(DISTINCT raw_h) AS BIGINT)  AS n_raw_unique,
           CAST(count(DISTINCT norm_h) AS BIGINT) AS n_norm_unique,
           CAST(count(DISTINCT raw_h) - count(DISTINCT norm_h) AS BIGINT)
               AS n_extra_dups
    FROM n GROUP BY source
    """,
    section="2.11 normalized exact dedup (casefold/punct-strip equivalence classes)",
)
def normalized_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The C4-style 'fuzzy exact' dedup step between byte-exact
    hashing and MinHash: documents hash AFTER lowercasing, stripping
    non-alphanumerics, and collapsing whitespace, so trivially
    reformatted copies (case, punctuation, spacing) collapse into one
    equivalence class that byte-exact `exact_dedup` counts as
    distinct. Reported per source as raw-unique vs normalized-unique
    counts — n_extra_dups is exactly the duplicate mass the
    normalization finds that byte hashing misses, the number that
    decides whether the cheap normalize-then-hash pass is worth its
    slot before the expensive near-dup tiers.

    The normalization chain is plain lower/regexp_replace/trim —
    RE2-safe, identical dialect both engines, whole-stage codegen;
    one scan into per-source distinct counts (two-phase distinct
    aggregation, map-side partials). At 100 TB this is exactly
    exact_dedup's plan with a cheaper key."""
    d = load_table(spark, sf_dir, "documents")
    norm = F.md5(
        F.trim(
            F.regexp_replace(
                F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
                " +",
                " ",
            )
        )
    )
    return (
        d.select("source", F.md5("text").alias("raw_h"), norm.alias("norm_h"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("raw_h").cast("bigint").alias("n_raw_unique"),
            F.countDistinct("norm_h").cast("bigint").alias("n_norm_unique"),
            (F.countDistinct("raw_h") - F.countDistinct("norm_h"))
            .cast("bigint")
            .alias("n_extra_dups"),
        )
    )


_MH_BBIT_AGREE_SQL = " + ".join(
    f"CASE WHEN a.h{i} % 2 = b.h{i} % 2 THEN 1 ELSE 0 END" for i in range(32)
)


@query(
    "bbit_minhash_error",
    oracle=f"""
    WITH {_minhash_portable_ctes()},
    agree AS (
        SELECT c.doc_a, c.doc_b,
               ({_MH_AGREE_SQL}) AS n_agree,
               ({_MH_BBIT_AGREE_SQL}) AS n_agree_1bit
        FROM cand c
        JOIN sigs a ON a.doc_id = c.doc_a
        JOIN sigs b ON b.doc_id = c.doc_b
    )
    SELECT g.doc_a, g.doc_b,
           CAST(g.n_agree_1bit AS BIGINT) AS n_agree_1bit,
           sign(2.0 * g.n_agree_1bit / 32.0 - 1.0)
               * floor(abs(2.0 * g.n_agree_1bit / 32.0 - 1.0) * 1e6 + 0.5)
               / 1e6 + 0.0 AS j_1bit,
           floor(g.n_agree / 32.0 * 1e6 + 0.5) / 1e6 AS j_full,
           floor(coalesce(i.n_inter, 0)::DOUBLE
                 / (sa.n + sb.n - coalesce(i.n_inter, 0)) * 1e6 + 0.5) / 1e6
               AS j_true,
           floor(abs(2.0 * g.n_agree_1bit / 32.0 - 1.0
                     - coalesce(i.n_inter, 0)::DOUBLE
                       / (sa.n + sb.n - coalesce(i.n_inter, 0)))
                 * 1e6 + 0.5) / 1e6 AS abs_err_1bit
    FROM agree g
    LEFT JOIN inter i ON i.doc_a = g.doc_a AND i.doc_b = g.doc_b
    JOIN sizes sa ON sa.doc_id = g.doc_a
    JOIN sizes sb ON sb.doc_id = g.doc_b
    """,
    section="2.11 b-bit MinHash accuracy (1-bit slot agreement vs full hashes vs exact J)",
)
def bbit_minhash_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The space/accuracy trade sketch systems actually ship (Li &
    Koenig 2010, public): store only the LOWEST BIT of each MinHash
    slot — 32 bits per document instead of 32 64-bit hashes — and
    estimate Jaccard from 1-bit agreement via Ĵ₁ = 2·A − 1 (for b=1
    the unrelated-pair agreement floor is 1/2, so A ≈ J + (1−J)/2
    inverts to 2A−1; negative estimates on dissimilar pairs are the
    estimator's documented behavior, not an error — kept raw so the
    table shows it). Per LSH candidate pair: the 1-bit agreement
    count, Ĵ₁, the full-hash Ĵ (`minhash_estimate_error`'s
    estimator), and the exact Jaccard — the three-way comparison a
    team reads to decide whether the 64× storage cut is worth the
    ~2× variance inflation at matched slot count. Same shared
    machinery end to end (session-cached portable shingle index,
    minhash_signatures, band candidates; the oracle re-derives all of
    it from the shared portable CTEs), and the same exact-integer
    discipline: every value is a deterministic function of integer
    agreement counts and set sizes, pinned at 6dp only on output.
    Plan: identical to minhash_estimate_error — broadcast candidate
    frame, candidate-restricted intersection counting (never the full
    co-shingle self-join)."""
    sh = _portable_shingle_index(spark, sf_dir)
    # session-cached sigs/cand shared with minhash_estimate_error —
    # see _portable_sigs_cand
    sigs, cand = _portable_sigs_cand(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        F.broadcast(cand.select("doc_a", "doc_b"))
        .join(sh.select(F.col("doc_id").alias("doc_a"), "s"), "doc_a")
        .join(sh.select(F.col("doc_id").alias("doc_b"), "s"), ["doc_b", "s"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sga = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"h{i}").alias(f"ha{i}") for i in range(32)],
    )
    sgb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"h{i}").alias(f"hb{i}") for i in range(32)],
    )
    n_agree = sum(
        (
            F.when(F.col(f"ha{i}") == F.col(f"hb{i}"), 1).otherwise(0)
            for i in range(32)
        ),
        F.lit(0),
    )
    n_agree_1bit = sum(
        (
            F.when(F.col(f"ha{i}") % 2 == F.col(f"hb{i}") % 2, 1).otherwise(0)
            for i in range(32)
        ),
        F.lit(0),
    )
    agree = (
        cand.join(sga, "doc_a")
        .join(sgb, "doc_b")
        .select(
            "doc_a", "doc_b",
            n_agree.alias("n_agree"),
            n_agree_1bit.alias("n_agree_1bit"),
        )
    )
    ni = F.coalesce(F.col("n_inter"), F.lit(0))
    j_true_raw = ni.cast("double") / (F.col("na") + F.col("nb") - ni)
    j_1bit_raw = 2.0 * F.col("n_agree_1bit") / 32.0 - 1.0
    j_full_raw = F.col("n_agree") / 32.0
    return materialize(
        agree.join(inter, ["doc_a", "doc_b"], "left")
        .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.col("n_agree_1bit").cast("bigint").alias("n_agree_1bit"),
            (signed_round_half_up(j_1bit_raw, 6) + F.lit(0.0)).alias("j_1bit"),
            round_half_up(j_full_raw, 6).alias("j_full"),
            round_half_up(j_true_raw, 6).alias("j_true"),
            round_half_up(F.abs(j_1bit_raw - j_true_raw), 6).alias("abs_err_1bit"),
        ),
        SMALL,
    )


@query(
    "dedup_clusters_minhash",
    # End-to-end oracle: the SHARED portable-minhash pair CTEs (the
    # exact prefix minhash_lsh_portable / dedup_clusters certify) →
    # recursive transitive closure → min-id survivor rule → per-source
    # retention. labels covers only docs in ≥1 near-dup pair; a doc is
    # dropped iff it sits in a component whose minimum id is smaller
    # (doc_id <> cluster_id), so retention needs no survivor list —
    # just n_raw minus the drop count.
    oracle="WITH RECURSIVE "
    + _minhash_portable_ctes()
    + ","
    + _closure_ctes("mpairs")
    + """, dropped AS (
        SELECT doc_id FROM labels WHERE doc_id <> cluster_id
    ), raw AS (SELECT source, count(*) AS n_raw FROM documents GROUP BY source),
    drops AS (
        SELECT d.source, count(*) AS n_dropped
        FROM dropped dr JOIN documents d ON d.doc_id = dr.doc_id
        GROUP BY d.source
    )
    SELECT r.source,
           CAST(r.n_raw AS BIGINT) AS n_raw,
           CAST(coalesce(dp.n_dropped, 0) AS BIGINT) AS n_dropped,
           CAST(r.n_raw - coalesce(dp.n_dropped, 0) AS BIGINT) AS n_retained,
           floor((r.n_raw - coalesce(dp.n_dropped, 0)) * 1.0 / r.n_raw
                 * 10000 + 0.5) / 10000 AS retention
    FROM raw r LEFT JOIN drops dp ON dp.source = r.source
    """,
    section="2.11 end-to-end fuzzy-dedup pipeline (MinHash pairs -> CC -> survivor retention)",
)
def dedup_clusters_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fuzzy-dedup pipeline a 100 TB corpus run actually SHIPS
    (the NeMo-Curator / BigCode shape, both public): MinHash+LSH
    banded candidate pairs → exact-Jaccard rescore at 0.8 → connected
    components over the surviving near-dup graph → keep the minimum
    doc_id per component → per-source retention report. Every stage is
    individually registered and driver-green (minhash_lsh_portable:
    the pair graph; dedup_clusters/_star: the CC labeling;
    dedup_report: the reporting rollup) — this query certifies the
    COMPOSITION, which is what r12's verdict asked for (next #5): the
    pieces passing separately does not prove the glue joins them on
    the right keys. Scale shape: candidate generation is banded
    (no all-pairs stage anywhere), CC is the iterative min-label
    propagation whose rounds scale with component diameter (the
    large-star variant swaps in for deep chains), and the survivor
    rule + report are two keyed aggregates and one broadcast-sized
    join back to `documents` — the whole chain is linear in corpus
    size at fixed duplicate rate."""
    d = load_table(spark, sf_dir, "documents")
    labels = _minhash_cluster_labels(spark, sf_dir)
    dropped = labels.filter(F.col("doc_id") != F.col("cluster_id")).select(
        "doc_id"
    )
    raw = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_raw"))
    drops = (
        dropped.join(d.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_dropped"))
    )
    n_dropped = F.coalesce(F.col("n_dropped"), F.lit(0))
    return raw.join(drops, "source", "left").select(
        "source",
        F.col("n_raw").cast("bigint").alias("n_raw"),
        n_dropped.cast("bigint").alias("n_dropped"),
        (F.col("n_raw") - n_dropped).cast("bigint").alias("n_retained"),
        round_half_up(
            (F.col("n_raw") - n_dropped) * F.lit(1.0) / F.col("n_raw"), 4
        ).alias("retention"),
    )
