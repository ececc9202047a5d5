"""Portable probabilistic sketches over the documents corpus.
SURVEY.md §2.11 (approximate structures with exact oracles).

The JVM's own sketch aggregates (`approx_count_distinct`,
`count_min_sketch`) hash with JVM-private families, so their graded
queries are rows-only (`plans/relational.py`). These twins rebuild the
same structures from the repo's PORTABLE md5-slice hash convention
(`minhash_lsh_portable` / `simhash_portable` precedent): every
register / counter value is a pure function of md5 hex that DuckDB
reproduces bit-for-bit, upgrading the sketch class itself from
rows-only to oracle-backed. The accuracy REPORT is the graded output —
sketch estimate next to exact truth — because that is what a user
tunes a sketch against, and because it makes both code paths (sketch
build and exact baseline) load-bearing in one query.

100 TB posture: both sketches are classic bounded-state map-reduce.
The HLL register table is at most (sources x 64) rows after one
distinct-shuffle + one max-agg; the CMS table is at most (4 x 512)
cells after one word-count shuffle + one sum-agg over the vocab frame.
Neither carries document payloads past the first aggregation, and both
merge associatively (max / sum), so partial aggregation does the heavy
lifting map-side exactly like the JVM-native versions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import tokens
from ..operators.textops import (
    round_half_up,
    signed_round_half_up,
    signed_round_half_up_sql,
)
from ..session_cache import CORPUS, SMALL, materialize
from ..sources.tables import load_table
from .registry import query

# --- HyperLogLog geometry (Flajolet-Fuser-Gandouet-Meunier 2007) ----
# m = 64 registers (p = 6 index bits) keeps the register table tiny at
# any corpus scale while the ~1.04/sqrt(64) = 13% stderr stays honest
# in the rel_err report column. alpha_64 = 0.709 is the paper's small-m
# constant (the 0.7213/(1+1.079/m) asymptote applies at m >= 128).
_HLL_M = 64
_HLL_ALPHA = 0.709
# md5 prefix budget: 15 hex chars = 60 bits, the largest slice that
# stays positive in a signed BIGINT on both engines. 6 index bits
# leave 54 bits for the rank-of-first-one geometric observable.
_HLL_REST_BITS = 54

# --- Count-Min geometry (Cormode-Muthukrishnan 2005) ----------------
# d = 4 independent rows from the four disjoint 8-hex (32-bit) slices
# of one md5 — the simhash_portable slicing convention — and w = 512
# buckets per row: 2048 bounded cells total.
_CMS_D = 4
_CMS_W = 512


def _hll_terms(word_col: str) -> tuple[F.Column, F.Column]:
    """(bucket, rho) of the portable HLL observable for one item.

    bucket = top 6 bits of the 60-bit md5 prefix; rho = 1 + number of
    leading zeros of the remaining 54-bit field (the all-zero field —
    probability 2^-54 — takes the defined maximum 55 so both engines
    agree even on that never-in-fixture branch). Bit length comes from
    length(bin(x)), an exact integer path on both engines — never
    floor(log2(x)), whose float rounding can misclassify exact powers
    of two.
    """
    h = F.conv(F.substring(F.md5(F.col(word_col)), 1, 15), 16, 10).cast("bigint")
    bucket = F.shiftright(h, _HLL_REST_BITS)
    rest = h.bitwiseAND(F.lit((1 << _HLL_REST_BITS) - 1))
    rho = F.when(rest == 0, F.lit(_HLL_REST_BITS + 1)).otherwise(
        F.lit(_HLL_REST_BITS + 1) - F.length(F.bin(rest))
    )
    return bucket, rho


def _hll_obs_sql(src: str) -> str:
    """DuckDB text of the register-observable build over a
    (source, word) relation: md5-prefix hash -> (source, bucket, rho).
    ONE definition shared by every HLL query's oracle — the bit-level
    portability of this fragment is what the family's oracle backing
    rests on, so it must not exist twice."""
    return f"""SELECT source,
               h >> {_HLL_REST_BITS} AS bucket,
               CASE WHEN (h & {(1 << _HLL_REST_BITS) - 1}) = 0
                    THEN {_HLL_REST_BITS + 1}
                    ELSE {_HLL_REST_BITS + 1}
                         - length(bin(h & {(1 << _HLL_REST_BITS) - 1}))
               END AS rho
        FROM (SELECT source, word,
                     CAST(('0x' || substr(md5(word), 1, 15)) AS BIGINT) AS h
              FROM {src})"""


def _hll_est_sql(n_occ: str, s_occ: str) -> str:
    """DuckDB text of the FFGM estimator over a register aggregate
    (n_occ = occupied registers, s_occ = sum of 2^-M over them):
    harmonic-mean raw estimate with the small-range linear-counting
    branch. ONE definition shared by every HLL query's oracle."""
    raw = f"{_HLL_ALPHA} * {_HLL_M} * {_HLL_M} / ({s_occ} + ({_HLL_M} - {n_occ}))"
    return (
        f"CASE WHEN {raw} <= 2.5 * {_HLL_M} AND {n_occ} < {_HLL_M} "
        f"THEN {_HLL_M} * ln(CAST({_HLL_M} AS DOUBLE) / ({_HLL_M} - {n_occ})) "
        f"ELSE {raw} END"
    )


def _hll_est_col() -> F.Column:
    """Column twin of :func:`_hll_est_sql` over n_occ / s_occ columns."""
    v_empty = F.lit(_HLL_M) - F.col("n_occ")
    raw = F.lit(_HLL_ALPHA * _HLL_M * _HLL_M) / (F.col("s_occ") + v_empty)
    return F.when(
        (raw <= 2.5 * _HLL_M) & (F.col("n_occ") < _HLL_M),
        F.lit(float(_HLL_M)) * F.log(F.lit(float(_HLL_M)) / v_empty),
    ).otherwise(raw)


_HLL_ORACLE = f"""
    WITH raw_items AS (
        SELECT DISTINCT source, unnest(string_split(text, ' ')) AS word
        FROM documents
    ), clean AS (
        SELECT source, word FROM raw_items WHERE word <> ''
    ), obs AS (
        {_hll_obs_sql('clean')}
    ), regs AS (
        SELECT source, bucket, max(rho) AS m_j FROM obs GROUP BY source, bucket
    ), per_src AS (
        SELECT source,
               count(*) AS n_occ,
               sum(power(2.0, -m_j)) AS s_occ
        FROM regs GROUP BY source
    ), exact AS (
        SELECT source, count(*) AS exact_distinct FROM clean GROUP BY source
    ), est AS (
        SELECT p.source, {_hll_est_sql('p.n_occ', 'p.s_occ')} AS raw_est
        FROM per_src p
    )
    SELECT e.source,
           CAST(x.exact_distinct AS BIGINT)                    AS exact_distinct,
           floor(e.raw_est * 10000 + 0.5) / 10000              AS hll_estimate,
           floor(abs(e.raw_est - x.exact_distinct)
                 / x.exact_distinct * 10000 + 0.5) / 10000     AS rel_err
    FROM est e JOIN exact x ON e.source = x.source
    ORDER BY e.source
"""


@query(
    "hll_portable",
    oracle=_HLL_ORACLE,
    section="2.11 portable HyperLogLog distinct-count sketch (accuracy report)",
)
def hll_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinct-word HLL, rebuilt portably so the oracle
    verifies every register: md5-prefix hash -> 6-bit register index +
    rank-of-first-one observable -> max-per-register -> the FFGM
    harmonic-mean estimator with the small-range linear-counting
    correction (E <= 2.5m with empty registers -> m*ln(m/V)). Output =
    exact distinct count next to the estimate and its relative error.

    Plan: one (source, word) distinct feeds BOTH the register build
    and the exact baseline (one shuffle, two cheap aggs); registers
    merge by max, so the 100 TB state is 64 rows per source however
    many tokens flow in. Float determinism: sum(2^-M_j) adds exact
    dyadic rationals whose exponent span is far inside double
    precision (register values sit in 1..~25), so the harmonic sum is
    EXACT and order-independent on both engines; the one ln() in the
    linear-counting branch is rounded half-up at 4dp, the repo's
    convention for irrational scores (ln outputs never sit on decimal
    midpoints). rest=0 (probability 2^-54) takes the defined max rho
    so even that branch is engine-identical.
    """
    d = load_table(spark, sf_dir, "documents")
    items = (
        d.select("source", F.explode(tokens("text")).alias("word"))
        .filter(F.col("word") != "")
        .distinct()
    )
    bucket, rho = _hll_terms("word")
    regs = (
        items.select("source", bucket.alias("bucket"), rho.alias("rho"))
        .groupBy("source", "bucket")
        .agg(F.max("rho").alias("m_j"))
    )
    per_src = regs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_occ"),
        F.sum(F.pow(F.lit(2.0), -F.col("m_j"))).alias("s_occ"),
    )
    exact = items.groupBy("source").agg(F.count(F.lit(1)).alias("exact_distinct"))
    return (
        per_src.withColumn("raw_est", _hll_est_col())
        .join(exact, "source")
        .select(
            "source",
            F.col("exact_distinct").cast("bigint").alias("exact_distinct"),
            round_half_up(F.col("raw_est"), 4).alias("hll_estimate"),
            round_half_up(
                F.abs(F.col("raw_est") - F.col("exact_distinct"))
                / F.col("exact_distinct"),
                4,
            ).alias("rel_err"),
        )
        .orderBy("source")
    )


# ONE definition of the md5-slice bucket convention (the paired
# Spark-Column/DuckDB-SQL builders CMS and the Bloom filter both hash
# with): slice i = hex chars [1+8i, 8+8i) of md5(key-as-string), cast
# to BIGINT, mod the structure width. Parameterized so a change to the
# slice form lands on every sketch at once (the _ngram_pair_ctes
# single-text rule, applied to hashing).


def _md5_slice_sql(col: str, i: int, width: int) -> str:
    """DuckDB text of slice i's bucket for ``col`` (cast to VARCHAR —
    a no-op for string keys, engine-identical digits for integers)."""
    return (
        f"CAST(('0x' || substr(md5(CAST({col} AS VARCHAR)), {1 + 8 * i}, 8)) "
        f"AS BIGINT) % {width}"
    )


def _md5_slice_buckets(col: str, n_slices: int, width: int) -> F.Column:
    """Array of the n_slices bucket positions (posexplode-ready)."""
    return F.array(
        *[
            F.conv(
                F.substring(F.md5(F.col(col).cast("string")), 1 + 8 * i, 8), 16, 10
            ).cast("bigint")
            % width
            for i in range(n_slices)
        ]
    )


def _cms_bucket_sql(i: int) -> str:
    """DuckDB text of CMS row i's bucket for a word column."""
    return _md5_slice_sql("word", i, _CMS_W)


def _cms_buckets(word_col: str) -> F.Column:
    """Array of the d=4 row buckets (posexplode gives (row, bucket))."""
    return _md5_slice_buckets(word_col, _CMS_D, _CMS_W)


_CMS_ROWS_SQL = " UNION ALL ".join(
    f"SELECT {i} AS i, {_cms_bucket_sql(i)} AS bucket, word, n FROM wc"
    for i in range(_CMS_D)
)

_CMS_ORACLE = f"""
    WITH tok AS (
        SELECT unnest(string_split(text, ' ')) AS word FROM documents
    ), wc AS (
        SELECT word, count(*) AS n FROM tok WHERE word <> '' GROUP BY word
    ), cells AS (
        {_CMS_ROWS_SQL}
    ), sketch AS (
        SELECT i, bucket, CAST(sum(n) AS BIGINT) AS cnt
        FROM cells GROUP BY i, bucket
    ), top10 AS (
        SELECT word, n FROM wc ORDER BY n DESC, word LIMIT 10
    ), probe AS (
        SELECT t.word, min(s.cnt) AS cm_estimate
        FROM (SELECT word, i, bucket FROM cells
              WHERE word IN (SELECT word FROM top10)) t
        JOIN sketch s ON s.i = t.i AND s.bucket = t.bucket
        GROUP BY t.word
    )
    SELECT t.word,
           CAST(t.n AS BIGINT)            AS exact_n,
           p.cm_estimate                  AS cm_estimate,
           p.cm_estimate - CAST(t.n AS BIGINT) AS overcount
    FROM top10 t JOIN probe p ON t.word = p.word
    ORDER BY t.n DESC, t.word
"""


@query(
    "count_min_sketch",
    oracle=_CMS_ORACLE,
    section="2.11 portable Count-Min frequency sketch (heavy-hitter probe)",
)
def count_min_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min word-frequency sketch (d=4 rows x w=512 buckets from
    the four disjoint 32-bit md5 slices), probed at the 10 exact
    heavy hitters: estimate = min over rows of the hashed cell, which
    the CM guarantee bounds BELOW by the true count — the `overcount`
    column is the one-sided error a user sizes w against, and it is
    provably >= 0 (a property test pins that). Every output cell is a
    BIGINT: sketches of counts need no float anywhere.

    Plan: tokenize once into the exact (word, n) vocab frame (the one
    corpus shuffle, partial-aggregated map-side); the sketch build
    explodes the VOCAB frame — 4 rows per distinct word, never per
    token occurrence — and sums into <= 2048 cells; the probe side
    joins the 40 (word, row, bucket) probe cells to the sketch with a
    broadcast. At 100 TB the sketch is still 2048 cells, the
    definition of sublinear sketch state.
    """
    d = load_table(spark, sf_dir, "documents")
    wc = (
        d.select(F.explode(tokens("text")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    cells = wc.select(
        "word", "n", F.posexplode(_cms_buckets("word")).alias("i", "bucket")
    )
    sketch = cells.groupBy("i", "bucket").agg(F.sum("n").alias("cnt"))
    top10 = wc.orderBy(F.col("n").desc(), "word").limit(10)
    probe_cells = top10.select(
        "word", F.posexplode(_cms_buckets("word")).alias("i", "bucket")
    )
    # broadcast the 40 probe cells explicitly — size estimation sees
    # the sketch aggregate's corpus-sized INPUT, not its <=2048-row
    # output, so static planning would shuffle both sides (r9 review)
    probe = (
        sketch.join(F.broadcast(probe_cells), ["i", "bucket"])
        .groupBy("word")
        .agg(F.min("cnt").alias("cm_estimate"))
    )
    return (
        top10.join(F.broadcast(probe), "word")
        .select(
            "word",
            F.col("n").alias("exact_n"),
            "cm_estimate",
            (F.col("cm_estimate") - F.col("n")).alias("overcount"),
        )
        .orderBy(F.col("exact_n").desc(), "word")
    )


_HLL_MERGE_ORACLE = f"""
    WITH items AS (
        SELECT DISTINCT source, word FROM (
            SELECT source, unnest(string_split(text, ' ')) AS word
            FROM documents WHERE source IN ('src0', 'src1')
        ) WHERE word <> ''
    ), obs AS (
        {_hll_obs_sql('items')}
    ), regs AS (
        SELECT source, bucket, max(rho) AS m_j FROM obs GROUP BY source, bucket
    ), merged AS (
        SELECT bucket, max(m_j) AS m_j FROM regs GROUP BY bucket
    ), a0 AS (
        SELECT count(*) AS n_occ, sum(power(2.0, -m_j)) AS s_occ
        FROM regs WHERE source = 'src0'
    ), a1 AS (
        SELECT count(*) AS n_occ, sum(power(2.0, -m_j)) AS s_occ
        FROM regs WHERE source = 'src1'
    ), au AS (
        SELECT count(*) AS n_occ, sum(power(2.0, -m_j)) AS s_occ FROM merged
    ), e0 AS (SELECT {_hll_est_sql('n_occ', 's_occ')} AS est FROM a0),
    e1 AS (SELECT {_hll_est_sql('n_occ', 's_occ')} AS est FROM a1),
    eu AS (SELECT {_hll_est_sql('n_occ', 's_occ')} AS est FROM au),
    u AS (SELECT word, count(*) AS ns FROM items GROUP BY word),
    x AS (
        SELECT CAST(count(*) AS BIGINT) AS exact_union,
               CAST(sum(CASE WHEN ns = 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS exact_common
        FROM u
    )
    SELECT x.exact_union,
           floor(eu.est * 10000 + 0.5) / 10000 AS hll_union,
           floor(abs(eu.est - x.exact_union) / x.exact_union * 10000 + 0.5)
               / 10000 AS rel_err_union,
           x.exact_common,
           {signed_round_half_up_sql('e0.est + e1.est - eu.est', 4)}
               AS hll_common
    FROM x CROSS JOIN e0 CROSS JOIN e1 CROSS JOIN eu
"""


@query(
    "hll_merge",
    oracle=_HLL_MERGE_ORACLE,
    section="2.11 HLL sketch MERGE: union/intersection estimates from per-source registers",
)
def hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The property that makes HLL the 100 TB distinct-counter:
    registers built INDEPENDENTLY per source (per partition, per day,
    per shard...) merge losslessly by per-register max — the merged
    sketch is bit-identical to one built over the union, no rescan.
    This query builds src0's and src1's register sets separately,
    merges them, and reports the union estimate against the exact
    union distinct count, plus the classic inclusion-exclusion
    intersection estimate est0 + est1 - estU against the exact common
    count (rendered sign-aware: inclusion-exclusion on sketches can
    legitimately go negative when the true overlap is near zero).

    Plan: one distinct shuffle over the two sources feeds registers,
    exact counts, and overlap; every aggregate after that is <= 64
    rows. Shares `_hll_terms` and the FFGM estimator (Column + SQL,
    one definition each) with `hll_portable`. Float determinism is the
    same exact-dyadic-sum argument; the three-estimate combination is
    one fixed-order expression on identical doubles.
    """
    d = load_table(spark, sf_dir, "documents")
    # ONE distinct shuffle made true the dsir_selection way: the
    # per-source filters below e0/e1 would otherwise push past the
    # distinct to the scan and plan three separate corpus reads
    # (ReuseExchange never fires on the diverged subplans). The pinned
    # frame is the two sources' (source, word) vocabulary — bounded by
    # vocab size, not corpus size.
    items = materialize(
        d.filter(F.col("source").isin("src0", "src1"))
        .select("source", F.explode(tokens("text")).alias("word"))
        .filter(F.col("word") != "")
        .distinct(),
        CORPUS,
    )
    bucket, rho = _hll_terms("word")
    regs = (
        items.select("source", bucket.alias("bucket"), rho.alias("rho"))
        .groupBy("source", "bucket")
        .agg(F.max("rho").alias("m_j"))
    )
    merged = regs.groupBy("bucket").agg(F.max("m_j").alias("m_j"))

    def estimate(frame: DataFrame, alias: str) -> DataFrame:
        return (
            frame.agg(
                F.count(F.lit(1)).alias("n_occ"),
                F.sum(F.pow(F.lit(2.0), -F.col("m_j"))).alias("s_occ"),
            )
            .select(_hll_est_col().alias(alias))
        )

    e0 = estimate(regs.filter(F.col("source") == "src0"), "est0")
    e1 = estimate(regs.filter(F.col("source") == "src1"), "est1")
    eu = estimate(merged, "estu")
    x = (
        items.groupBy("word")
        .agg(F.count(F.lit(1)).alias("ns"))
        .agg(
            F.count(F.lit(1)).alias("exact_union"),
            F.sum(F.when(F.col("ns") == 2, 1).otherwise(0)).alias("exact_common"),
        )
    )
    common = F.col("est0") + F.col("est1") - F.col("estu")
    return (
        x.crossJoin(F.broadcast(e0))
        .crossJoin(F.broadcast(e1))
        .crossJoin(F.broadcast(eu))
        .select(
            F.col("exact_union").cast("bigint").alias("exact_union"),
            round_half_up(F.col("estu"), 4).alias("hll_union"),
            round_half_up(
                F.abs(F.col("estu") - F.col("exact_union")) / F.col("exact_union"), 4
            ).alias("rel_err_union"),
            F.col("exact_common").cast("bigint").alias("exact_common"),
            signed_round_half_up(common, 4).alias("hll_common"),
        )
    )


# --- Bloom filter geometry ------------------------------------------
# m = 4096 bits packed as 32-bit words in BIGINT cells (shifts <= 31:
# every packed value stays positive, so no two's-complement divergence
# between engines is possible); k = 3 hash functions from the three
# disjoint leading 32-bit md5 slices (the CMS convention one section
# up). At ~1000 member keys the load factor gives a deliberately
# MEASURABLE false-positive rate (~0.14) so the fp columns are
# load-bearing, not structurally zero.
_BLOOM_M = 4096
_BLOOM_K = 3


def _bloom_positions(col: str) -> F.Column:
    return _md5_slice_buckets(col, _BLOOM_K, _BLOOM_M)


def _bloom_pos_sql(col: str) -> str:
    slices = ", ".join(
        _md5_slice_sql(col, i, _BLOOM_M) for i in range(_BLOOM_K)
    )
    return f"[{slices}]"


_BLOOM_ORACLE = f"""
    WITH members AS (SELECT DISTINCT o_custkey AS k FROM orders),
    mpos AS (SELECT unnest({_bloom_pos_sql('k')}) AS pos FROM members),
    bloom AS (
        SELECT pos // 32 AS widx,
               bit_or(1::BIGINT << CAST(pos % 32 AS INT)) AS bitmap
        FROM mpos GROUP BY widx
    ),
    probes AS (SELECT c_custkey AS k FROM customer),
    ppos AS (SELECT k, unnest({_bloom_pos_sql('k')}) AS pos FROM probes),
    pj AS (
        SELECT p.k,
               CASE WHEN b.bitmap IS NOT NULL
                         AND ((b.bitmap >> CAST(p.pos % 32 AS INT)) & 1) = 1
                    THEN 1 ELSE 0 END AS s
        FROM ppos p LEFT JOIN bloom b ON b.widx = p.pos // 32
    ),
    perkey AS (SELECT k, min(s) AS positive FROM pj GROUP BY k),
    rep AS (
        SELECT pk.k, pk.positive,
               CASE WHEN m.k IS NOT NULL THEN 1 ELSE 0 END AS is_member
        FROM perkey pk LEFT JOIN members m ON m.k = pk.k
    )
    SELECT CAST((SELECT count(*) FROM members) AS BIGINT)            AS n_keys,
           CAST((SELECT sum(bit_count(bitmap)) FROM bloom) AS BIGINT) AS n_bits_set,
           count(*)                                                  AS n_probes,
           CAST(sum(positive) AS BIGINT)                             AS n_positive,
           CAST(sum(CASE WHEN positive = 1 AND is_member = 0
                         THEN 1 ELSE 0 END) AS BIGINT)               AS n_false_pos,
           CAST(sum(CASE WHEN positive = 0 AND is_member = 1
                         THEN 1 ELSE 0 END) AS BIGINT)               AS n_false_neg,
           floor(sum(CASE WHEN positive = 1 AND is_member = 0 THEN 1 ELSE 0 END)
                 * 1.0 / nullif(count(*) - sum(is_member), 0) * 10000 + 0.5)
               / 10000                                               AS fp_rate
    FROM rep
"""


@query(
    "bloom_filter_portable",
    oracle=_BLOOM_ORACLE,
    section="2.11 portable Bloom filter (membership sketch, exact fp accounting)",
)
def bloom_filter_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom membership filter in its classic join-pruning role —
    build over the DISTINCT order custkeys, probe every customer
    (~1/3 of TPC-H customers place no orders, so the false-positive
    columns measure real events) — completing the portable sketch
    trio next to HLL (cardinality) and Count-Min (frequency). The
    graded report is the sketch's own accuracy contract: n_false_neg
    is PROVABLY zero (a Bloom filter never drops a member — both
    engines must agree on exactly 0), n_false_pos / fp_rate is the
    one-sided error a user sizes m and k against, and n_bits_set is
    the load factor behind that rate.

    Plan: build = one distinct on the member key, a 3-row explode per
    key, and a bit_or aggregate into <= 128 packed words (map-side
    partials; the filter is 4096 BITS of state at any corpus size —
    this is what `join_bloom_pruned`'s runtime filter does inside the
    JVM, rebuilt portably). Probe = 3 cells per key joined to the
    BROADCAST bitmap, then a per-key min — no shuffle wider than the
    probe keys. All arithmetic is md5-slice integer math mirrored
    bit-for-bit by the oracle; shifts stay <= 31 so every packed cell
    is positive in both engines.
    """
    members = (
        load_table(spark, sf_dir, "orders")
        .select(F.col("o_custkey").alias("k"))
        .distinct()
    )
    mcells = members.select(F.explode(_bloom_positions("k")).alias("pos")).select(
        F.expr("CAST(pos div 32 AS INT)").alias("widx"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))").alias("bv"),
    )
    bloom = mcells.groupBy("widx").agg(F.expr("bit_or(bv)").alias("bitmap"))
    probes = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k")
    )
    pcells = probes.select("k", F.explode(_bloom_positions("k")).alias("pos")).select(
        "k", "pos", F.expr("CAST(pos div 32 AS INT)").alias("widx")
    )
    pj = pcells.join(F.broadcast(bloom), "widx", "left").select(
        "k",
        F.when(
            F.col("bitmap").isNotNull()
            & (F.expr("(bitmap >> CAST(pos % 32 AS INT)) & 1") == 1),
            1,
        )
        .otherwise(0)
        .alias("s"),
    )
    perkey = pj.groupBy("k").agg(F.min("s").alias("positive"))
    rep = perkey.join(
        members.withColumn("is_member", F.lit(1)), "k", "left"
    ).select("positive", F.coalesce("is_member", F.lit(0)).alias("is_member"))
    n_keys = members.agg(F.count(F.lit(1)).alias("n_keys"))
    n_bits = bloom.agg(
        F.sum(F.bit_count("bitmap")).cast("bigint").alias("n_bits_set")
    )
    fp = F.sum(
        F.when((F.col("positive") == 1) & (F.col("is_member") == 0), 1).otherwise(0)
    )
    return (
        rep.agg(
            F.count(F.lit(1)).alias("n_probes"),
            F.sum("positive").cast("bigint").alias("n_positive"),
            fp.cast("bigint").alias("n_false_pos"),
            F.sum(
                F.when(
                    (F.col("positive") == 0) & (F.col("is_member") == 1), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_false_neg"),
            round_half_up(
                fp
                * 1.0
                / F.nullif(F.count(F.lit(1)) - F.sum("is_member"), F.lit(0)),
                4,
            ).alias("fp_rate"),
        )
        .crossJoin(F.broadcast(n_keys))
        .crossJoin(F.broadcast(n_bits))
        .select(
            "n_keys", "n_bits_set", "n_probes", "n_positive",
            "n_false_pos", "n_false_neg", "fp_rate",
        )
    )


_KMV_K = 64


@query(
    "kmv_distinct_sketch",
    oracle=f"""
    WITH hx AS (
        SELECT DISTINCT event_type,
               CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                    AS BIGINT) AS h
        FROM events
    ), rk AS (
        SELECT event_type, h,
               row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
        FROM hx
    ), kmv AS (
        SELECT event_type, count(*) AS nh, max(h) AS hmax,
               CASE WHEN count(*) < {_KMV_K} THEN count(*) * 1.0
                    ELSE ({_KMV_K} - 1) * 4294967296.0 / max(h) END AS est
        FROM rk WHERE rn <= {_KMV_K} GROUP BY event_type
    ), ex AS (
        SELECT event_type, count(DISTINCT user_id) AS n_exact
        FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(e.n_exact AS BIGINT) AS n_exact,
           floor(k.est * 10000 + 0.5) / 10000 AS n_est,
           floor(abs(k.est - e.n_exact) / e.n_exact * 10000 + 0.5) / 10000
               AS rel_err,
           CAST(k.nh AS BIGINT) AS k_used
    FROM ex e JOIN kmv k ON k.event_type = e.event_type
    """,
    section="2.11 portable KMV/theta distinct sketch (accuracy report vs exact)",
)
def kmv_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-minimum-values distinct-count sketch (Bar-Yossef et al. 2002;
    the bottom-k/theta-sketch family, public) beside the exact truth —
    the third portable cardinality structure after the HLL registers
    and inclusion-exclusion merge: KMV keeps the {_KMV_K} smallest
    hash values per group and estimates D = (K-1) * 2^32 / h_(K),
    falling back to the exact hash count when a group has fewer than
    K distinct hashes (the standard small-set rule). Everything is a
    pure function of the md5-prefix hash (the portable-sketch
    convention), so the estimate — not just the report — is
    oracle-checked bit for bit; hash collisions merge by design and
    are part of the sketch's error budget. Scale: one distinct
    shuffle on (group, hash), one per-group bottom-K window over the
    DISTINCT-HASH frame (at most |users| rows, and mergeable
    bottom-K at 100 TB), state K values per group."""
    e = load_table(spark, sf_dir, "events")
    from pyspark.sql.window import Window

    hx = e.select(
        "event_type",
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        .alias("h"),
    ).distinct()
    rk = hx.select(
        "event_type", "h",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("h"))
        .alias("rn"),
    ).filter(F.col("rn") <= _KMV_K)
    est = F.when(
        F.count(F.lit(1)) < _KMV_K, F.count(F.lit(1)) * F.lit(1.0)
    ).otherwise(F.lit(_KMV_K - 1) * F.lit(4294967296.0) / F.max("h"))
    kmv = rk.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("nh"),
        est.alias("est"),
    )
    ex = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    return ex.join(kmv, "event_type").select(
        "event_type",
        F.col("n_exact").cast("bigint").alias("n_exact"),
        round_half_up(F.col("est"), 4).alias("n_est"),
        round_half_up(
            F.abs(F.col("est") - F.col("n_exact")) / F.col("n_exact"), 4
        ).alias("rel_err"),
        F.col("nh").cast("bigint").alias("k_used"),
    )


_QSK_K = 512           # sample size (k smallest md5 draws)
_QSK_PCTS = (25, 50, 75, 90, 99)  # graded percentiles (integer, see below)


@query(
    "quantile_sketch",
    oracle=f"""
    WITH base AS (
        SELECT l_extendedprice AS p,
               md5(CAST(l_orderkey AS VARCHAR) || '|' ||
                   CAST(l_linenumber AS VARCHAR)) AS u
        FROM lineitem
    ), nn AS (SELECT count(*) AS n FROM base),
    samp AS (SELECT p FROM base ORDER BY u, p LIMIT {_QSK_K}),
    scdf AS (
        SELECT p, row_number() OVER (ORDER BY p) AS r FROM samp
    ), sn AS (SELECT count(*) AS k FROM samp),
    ecdf AS (
        SELECT p, sum(c) OVER (ORDER BY p) AS cum
        FROM (SELECT p, count(*) AS c FROM base GROUP BY p)
    ), qs AS (
        SELECT unnest(ARRAY{list(_QSK_PCTS)}) AS pct
    ), est AS (
        SELECT q.pct, min(s.p) AS est_p
        FROM qs q, scdf s, sn
        WHERE s.r >= (sn.k * q.pct + 99) // 100
        GROUP BY q.pct
    ), ex AS (
        SELECT q.pct, min(e.p) AS exact_p
        FROM qs q, ecdf e, nn
        WHERE e.cum >= (nn.n * q.pct + 99) // 100
        GROUP BY q.pct
    )
    SELECT CAST(est.pct AS INT) AS pct,
           CAST(floor(est_p * 100 + 0.5) AS BIGINT) AS est_cents,
           CAST(floor(exact_p * 100 + 0.5) AS BIGINT) AS exact_cents,
           CAST(abs(floor(est_p * 100 + 0.5)
                    - floor(exact_p * 100 + 0.5)) AS BIGINT) AS err_cents
    FROM est JOIN ex ON est.pct = ex.pct
    ORDER BY pct
    """,
    section="2.11 sampled quantile sketch vs exact (deterministic md5 reservoir, integer ranks)",
)
def quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quantile member of the portable-sketch family (beside the
    HLL registers, Count-Min, KMV/theta, Bloom, and b-bit minhash):
    estimate order statistics of `l_extendedprice` from a bounded
    uniform sample and price the estimate against the exact
    quantiles — the evaluation shape every sketch query here uses
    (kmv_distinct_sketch's rule: the sketch AND its ground truth in
    one differential). The sample is the _QSK_K rows with the
    smallest md5(orderkey|linenumber) draws — a true uniform k-subset
    (the reservoir_sample argument), deterministic across engines and
    mergeable at scale (per-partition top-k then global top-k, unlike
    rank-error sketches whose merge order changes the summary).
    Determinism details: quantiles are DISCRETE (the element at
    integer rank ceil(q·n), never interpolated — interpolating
    2dp money lands exactly on .xx5 half-way points where engines
    disagree), and the rank thresholds are computed in pure integer
    arithmetic ((n·pct + 99) div 100) because float q·n can be
    integral exactly at the ceil boundary. Cents surface as BIGINT
    (the money-family rule). Scale: one scan + TakeOrdered for the
    sample; the exact side's CDF runs on the distinct-price value
    grid (the ks_drift/auc_score pattern), not base rows."""
    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        F.col("l_extendedprice").alias("p"),
        F.md5(
            F.concat_ws(
                "|",
                F.col("l_orderkey").cast("string"),
                F.col("l_linenumber").cast("string"),
            )
        ).alias("u"),
    )
    from pyspark.sql.window import Window

    n = base.count()  # bounded driver scalar (exact int; kcore rule)
    # the sample is MODEL-sized (≤ _QSK_K rows) but its build is a full
    # corpus md5 + TakeOrdered pass; without the checkpoint that pass
    # executed TWICE per call — eagerly for the k literal below, then
    # again inside the terminal job when scdf re-evaluated the limit
    # (r15, guide §1.3 duplicated-subtree smell)
    samp = materialize(
        base.orderBy("u", "p").limit(_QSK_K).select("p"),
        SMALL,
    )
    k = samp.count()
    scdf = samp.withColumn("r", F.row_number().over(Window.orderBy("p")))
    ecdf = (
        base.groupBy("p")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("cum", F.sum("c").over(Window.orderBy("p")))
    )
    qs = spark.createDataFrame([(pct,) for pct in _QSK_PCTS], "pct int")
    est = (
        F.broadcast(qs)
        .crossJoin(scdf)
        .filter(
            F.col("r")
            >= F.floor((F.lit(k) * F.col("pct") + F.lit(99)) / F.lit(100))
        )
        .groupBy("pct")
        .agg(F.min("p").alias("est_p"))
    )
    ex = (
        F.broadcast(qs)
        .crossJoin(ecdf)
        .filter(
            F.col("cum")
            >= F.floor((F.lit(n) * F.col("pct") + F.lit(99)) / F.lit(100))
        )
        .groupBy("pct")
        .agg(F.min("p").alias("exact_p"))
    )
    ec = F.floor(F.col("est_p") * 100 + F.lit(0.5)).cast("bigint")
    xc = F.floor(F.col("exact_p") * 100 + F.lit(0.5)).cast("bigint")
    return (
        est.join(ex, "pct")
        .select(
            F.col("pct").cast("int").alias("pct"),
            ec.alias("est_cents"),
            xc.alias("exact_cents"),
            F.abs(ec - xc).cast("bigint").alias("err_cents"),
        )
        .orderBy("pct")
    )
