"""Property-based differential tests (SURVEY.md §5.5).

Hypothesis generates random predicate trees and aggregation specs;
each example runs on both Spark and DuckDB over the tiny `nation` /
`customer` fixtures and must agree exactly. This catches dialect-edge
bugs (null handling, operator precedence, type coercion) that the
hand-written queries don't reach.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from pydra_map_reduce_spark.sources.tables import load_table

from .conftest import SF_DIR

# ---- predicate generator -----------------------------------------

_OPS = ["<", "<=", ">", ">=", "=", "<>"]


@st.composite
def int_leaf(draw):
    op = draw(st.sampled_from(_OPS))
    val = draw(st.integers(min_value=-2, max_value=26))
    return f"n_nationkey {op} {val}"


@st.composite
def str_leaf(draw):
    prefix = draw(st.sampled_from(["A", "B", "C", "I", "U", "Z", "AR", "IN"]))
    neg = draw(st.booleans())
    return f"n_name {'NOT ' if neg else ''}LIKE '{prefix}%'"


@st.composite
def predicate(draw):
    leaves = draw(st.lists(st.one_of(int_leaf(), str_leaf()), min_size=1, max_size=3))
    out = leaves[0]
    for leaf in leaves[1:]:
        conj = draw(st.sampled_from(["AND", "OR"]))
        out = f"({out}) {conj} ({leaf})"
    return out


@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(pred=predicate())
def test_filter_parity(pred, spark, duck):
    """Random WHERE clause: same surviving keys on both engines.

    The SQL text itself is the shared artifact — Spark filter() parses
    the same expression the oracle runs."""
    n = load_table(spark, SF_DIR, "nation")
    srows = sorted(r.n_nationkey for r in n.filter(pred).select("n_nationkey").collect())
    drows = sorted(
        r[0]
        for r in duck.execute(f"SELECT n_nationkey FROM nation WHERE {pred}").fetchall()
    )
    assert srows == drows, pred


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    aggs=st.lists(
        st.sampled_from(["cnt", "s", "mx", "mn"]), min_size=1, max_size=3, unique=True
    ),
    lo=st.integers(min_value=-1000, max_value=9000),
)
def test_groupby_parity(aggs, lo, spark, duck):
    """Random (filter, agg-set) combos over customer grouped by
    nationkey: exact integer aggregates on both engines. min/max
    truncate to BIGINT on both sides (Spark CAST truncates toward
    zero; DuckDB CAST rounds, so its side goes through trunc())."""
    c = load_table(spark, SF_DIR, "customer").filter(F.col("c_acctbal") > lo)
    spark_aggs = {
        "cnt": F.count(F.lit(1)).alias("cnt"),
        "s": F.sum("c_custkey").cast("bigint").alias("s"),
        "mx": F.max("c_acctbal").cast("bigint").alias("mx"),
        "mn": F.min("c_acctbal").cast("bigint").alias("mn"),
    }
    sdf = c.groupBy("c_nationkey").agg(*[spark_aggs[a] for a in aggs])
    srows = sorted([tuple(r) for r in sdf.collect()], key=repr)
    duck_aggs = {
        "cnt": "count(*) AS cnt",
        "s": "CAST(sum(c_custkey) AS BIGINT) AS s",
        "mx": "CAST(trunc(max(c_acctbal)) AS BIGINT) AS mx",
        "mn": "CAST(trunc(min(c_acctbal)) AS BIGINT) AS mn",
    }
    sql = (
        f"SELECT c_nationkey, {', '.join(duck_aggs[a] for a in aggs)} "
        f"FROM customer WHERE c_acctbal > {lo} GROUP BY c_nationkey"
    )
    drows = sorted(duck.execute(sql).fetchall(), key=repr)
    assert srows == drows, sql


# invariant across all Hypothesis examples — computed once, not per
# draw (10 identical scan+agg jobs otherwise)
_CHECKSUM_BASE: dict[str, object] = {}


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(seed=st.integers(min_value=0, max_value=2**31 - 1), parts=st.integers(min_value=1, max_value=12))
def test_table_checksum_partition_invariant(seed, parts, spark):
    """The order-independent checksum must be identical under any
    repartitioning/shuffling of the input — the property that makes
    it usable as a cross-system migration gate."""
    from pydra_map_reduce_spark.plans import REGISTRY

    if "base" not in _CHECKSUM_BASE:
        _CHECKSUM_BASE["base"] = REGISTRY["table_checksum"].fn(spark, SF_DIR).collect()[0]
    base = _CHECKSUM_BASE["base"]

    from pydra_map_reduce_spark.sources.tables import load_table

    from pydra_map_reduce_spark.operators.quality import table_checksum

    o = load_table(spark, SF_DIR, "orders").repartition(parts, F.pmod(F.hash(F.col("o_orderkey") + seed), F.lit(parts)))
    got = table_checksum(
        o, ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]
    ).collect()[0]["checksum"]
    assert got == base["checksum"]


def test_auc_perfect_and_inverted_predictor(spark):
    """AUC sanity: a score equal to the label scores 1.0; the negated
    score scores 0.0; a constant scores 0.5 (all-tied ranks)."""
    from pydra_map_reduce_spark.operators.quality import auc

    df = spark.createDataFrame(
        [(float(i), 1 if i >= 50 else 0) for i in range(100)], "score double, label int"
    )
    assert auc(df, "score", "label").collect()[0]["auc"] == 1.0
    neg = df.select((-F.col("score")).alias("score"), "label")
    assert auc(neg, "score", "label").collect()[0]["auc"] == 0.0
    const = df.select(F.lit(1.0).alias("score"), "label")
    assert auc(const, "score", "label").collect()[0]["auc"] == 0.5


def _bound(offset: int) -> str:
    if offset < 0:
        return f"{-offset} PRECEDING"
    if offset == 0:
        return "CURRENT ROW"
    return f"{offset} FOLLOWING"


@st.composite
def window_frame_expr(draw):
    # signed offsets so frames EXCLUDING the current row are generated
    # (e.g. ROWS BETWEEN 2 FOLLOWING AND 4 FOLLOWING) — those go EMPTY
    # at partition edges, exercising the empty-frame NULL semantics the
    # original [0 PRECEDING..b FOLLOWING]-only generator never could
    s = draw(st.integers(min_value=-5, max_value=5))
    e = draw(st.integers(min_value=s, max_value=5))
    agg = draw(
        st.sampled_from(["sum(c_acctbal)", "count(*)", "min(c_acctbal)", "max(c_acctbal)"])
    )
    over = (
        f"{agg} OVER (PARTITION BY c_nationkey ORDER BY c_custkey "
        f"ROWS BETWEEN {_bound(s)} AND {_bound(e)})"
    )
    # round OUTSIDE the OVER: `round(sum(x),2) OVER (...)` parses as a
    # windowed round() — not a window aggregate — and Spark rejects it
    return over if agg == "count(*)" else f"round({over}, 2)"


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(expr=window_frame_expr())
def test_window_frame_parity(expr, spark, duck):
    """Random ROWS-frame window aggregates: the same SQL text must
    produce identical per-row results on both engines (frame
    boundary semantics, peer handling, empty-frame nulls)."""
    c = load_table(spark, SF_DIR, "customer")
    c.createOrReplaceTempView("customer_wf_v")
    sql = f"SELECT c_custkey, {expr} AS w FROM {{t}}"
    srows = sorted(
        (r["c_custkey"], r["w"]) for r in spark.sql(sql.format(t="customer_wf_v")).collect()
    )
    drows = sorted(duck.execute(sql.format(t="customer")).fetchall())
    assert srows == drows


@st.composite
def join_spec(draw):
    jt = draw(st.sampled_from(["INNER", "LEFT", "RIGHT", "FULL", "SEMI", "ANTI"]))
    lo = draw(st.integers(min_value=-2, max_value=30))
    hi = draw(st.integers(min_value=-2, max_value=30))
    return jt, min(lo, hi), max(lo, hi)


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(spec=join_spec())
def test_join_type_parity(spec, spark, duck):
    """Random join type over a range-filtered dim: identical surviving
    key multisets on both engines (null extension for outer forms,
    existence semantics for semi/anti)."""
    jt, lo, hi = spec
    c = load_table(spark, SF_DIR, "customer")
    n = load_table(spark, SF_DIR, "nation")
    c.createOrReplaceTempView("customer_jp_v")
    n.createOrReplaceTempView("nation_jp_v")
    proj = (
        "n.n_nationkey AS k"
        if jt in ("SEMI", "ANTI")
        else "n.n_nationkey AS k, c.c_custkey AS ck"
    )
    sql = (
        f"SELECT {proj} FROM {{nat}} n {jt} JOIN "
        f"(SELECT * FROM {{cust}} WHERE c_nationkey BETWEEN {lo} AND {hi}) c "
        f"ON n.n_nationkey = c.c_nationkey"
    )
    srows = sorted(
        tuple(r) for r in spark.sql(sql.format(nat="nation_jp_v", cust="customer_jp_v")).collect()
    )
    drows = sorted(tuple(r) for r in duck.execute(sql.format(nat="nation", cust="customer")).fetchall())
    assert srows == drows


@st.composite
def setop_spec(draw):
    op = draw(st.sampled_from(["UNION", "UNION ALL", "INTERSECT", "INTERSECT ALL",
                               "EXCEPT", "EXCEPT ALL"]))
    lo_a = draw(st.integers(min_value=0, max_value=20))
    lo_b = draw(st.integers(min_value=0, max_value=20))
    return op, lo_a, lo_b


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(spec=setop_spec())
def test_setop_parity(spec, spark, duck):
    """Random set operation over overlapping key projections: the
    full result multiset must match (ALL forms keep duplicate
    multiplicity; DISTINCT forms collapse it)."""
    op, lo_a, lo_b = spec
    c = load_table(spark, SF_DIR, "customer")
    c.createOrReplaceTempView("customer_so_v")
    sql = (
        f"SELECT c_nationkey FROM {{t}} WHERE c_nationkey >= {lo_a} "
        f"{op} "
        f"SELECT c_nationkey FROM {{t}} WHERE c_nationkey >= {lo_b}"
    )
    srows = sorted(r[0] for r in spark.sql(sql.format(t="customer_so_v")).collect())
    drows = sorted(r[0] for r in duck.execute(sql.format(t="customer")).fetchall())
    assert srows == drows


def test_ngram_df_cap_bounds_buckets(spark):
    """The default-on df-cap in ngram_jaccard_pairs must (a) prune
    every shingle whose posting list exceeds max_df BEFORE the
    self-join — so a corpus-spanning stop-shingle yields NO pairs —
    (b) leave sub-cap corpora bit-identical to the uncapped escape
    (max_df=None), and (c) still count capped shingle sets in the
    jaccard denominator."""
    from pydra_map_reduce_spark.operators.dedup import ngram_jaccard_pairs

    # 20 docs: one stop-shingle ('stop stop stop') spans all of them;
    # every other shingle is unique to its doc.
    docs = spark.createDataFrame(
        [(i, f"stop stop stop u{i} v{i} w{i}") for i in range(20)],
        "doc_id long, text string",
    )
    uncapped = sorted(
        tuple(r)
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold=0.03, max_df=None
        ).collect()
    )
    # uncapped: every pair shares exactly the stop-shingle -> C(20,2)
    # pairs at jaccard 1/(4+4-1)
    assert len(uncapped) == 190
    assert all(abs(j - 0.1429) < 1e-9 for _, _, j in uncapped)

    # cap below the stop-shingle's df=20: the quadratic bucket is
    # pruned, nothing else is shared -> zero pairs
    capped = ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.03, max_df=10
    ).collect()
    assert capped == []

    # default cap (100) above every df in this corpus: identical to
    # the uncapped escape
    default = sorted(
        tuple(r)
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.03).collect()
    )
    assert default == uncapped

    # denominator uses CAPPED sizes: two docs sharing a unique
    # shingle plus the pruned stop-shingle -> jaccard over kept sets
    docs2 = spark.createDataFrame(
        [(i, f"stop stop stop a b c d{i} e{i}") for i in range(2)]
        + [(i, f"stop stop stop u{i} v{i} w{i}") for i in range(2, 12)],
        "doc_id long, text string",
    )
    rows = ngram_jaccard_pairs(
        docs2, "doc_id", "text", n=3, threshold=0.03, max_df=10
    ).collect()
    # docs 0,1 share kept shingles: 'stop stop a'(df=2, kept),
    # 'stop a b', 'a b c' -> inter=3; kept sizes: 6 shingles minus the
    # pruned stop-shingle = 5 each -> jaccard 3/(5+5-3)
    assert [(r.doc_a, r.doc_b) for r in rows] == [(0, 1)]
    assert abs(rows[0].jaccard - round(3 / 7, 4)) < 2e-4


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(lo=st.integers(min_value=0, max_value=200000), mod=st.integers(min_value=2, max_value=13))
def test_decimal_sum_equals_integer_cents(lo, mod, spark, duck):
    """The money-family invariant under random filters: a
    DECIMAL(12,2) sum must equal the integer-cents sum divided by 100
    EXACTLY (string-compare, no tolerance) — fixed point really is
    integer arithmetic, in both engines, under any predicate."""
    o = load_table(spark, SF_DIR, "orders")
    pred = (F.col("o_totalprice") >= lo) & (F.col("o_orderkey") % mod == 0)
    row = (
        o.filter(pred)
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(12,2)"))
            .cast("decimal(18,2)")
            .alias("dec_sum"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("cents"),
        )
        .first()
    )
    drow = duck.execute(
        f"""
        SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(18,2)),
               sum(CAST(round(o_totalprice * 100) AS BIGINT))
        FROM orders
        WHERE o_totalprice >= {lo} AND o_orderkey % {mod} = 0
        """
    ).fetchone()
    if row["cents"] is None:
        assert drow[1] is None and row["dec_sum"] is None and drow[0] is None
        return
    assert str(row["dec_sum"]) == str(drow[0])
    assert row["cents"] == drow[1]
    # the decimal sum IS the integer-cents sum at scale 2
    assert int(row["dec_sum"] * 100) == row["cents"]


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(n=st.integers(min_value=-400, max_value=400))
def test_date_shift_parity(n, spark, duck):
    """Random day-offset arithmetic on order dates: per-month counts
    of the SHIFTED date must agree — pins the date_add/interval and
    date_trunc dialect mapping used across the temporal oracles
    (month-boundary and leap-day crossings included by the ±400-day
    range)."""
    o = load_table(spark, SF_DIR, "orders")
    o.createOrReplaceTempView("orders_dt_v")
    srows = sorted(
        tuple(r)
        for r in spark.sql(
            f"""
            SELECT CAST(date_trunc('month', date_add(CAST(o_orderdate AS DATE), {n}))
                        AS DATE) AS mon,
                   count(*) AS cnt
            FROM orders_dt_v GROUP BY 1
            """
        ).collect()
    )
    drows = sorted(
        tuple(r)
        for r in duck.execute(
            f"""
            SELECT CAST(date_trunc('month', CAST(o_orderdate AS DATE) + {n})
                        AS DATE) AS mon,
                   count(*) AS cnt
            FROM orders GROUP BY 1
            """
        ).fetchall()
    )
    assert srows == drows


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(start=st.integers(min_value=1, max_value=30), ln=st.integers(min_value=0, max_value=30))
def test_substring_parity(start, ln, spark, duck):
    """Random in-range substring windows over part names: the full
    value multiset must agree (1-based starts and non-negative
    lengths — the region where the engines' substr semantics are
    specified to coincide; negative/zero starts deliberately excluded
    because the dialects genuinely diverge there, which is why every
    oracle in the repo keeps substring args in this range)."""
    p = load_table(spark, SF_DIR, "part")
    p.createOrReplaceTempView("part_ss_v")
    srows = sorted(
        r[0]
        for r in spark.sql(
            f"SELECT substring(p_name, {start}, {ln}) FROM part_ss_v"
        ).collect()
    )
    drows = sorted(
        r[0]
        for r in duck.execute(
            f"SELECT substr(p_name, {start}, {ln}) FROM part"
        ).fetchall()
    )
    assert srows == drows


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    budget=st.integers(min_value=2, max_value=40),
    sizes=st.lists(st.integers(min_value=1, max_value=60), min_size=1, max_size=12),
)
def test_sequence_pack_interval_math(budget, sizes, spark):
    """The closed-form span/overlap arithmetic behind sequence_pack
    must equal a straightforward sequential packer for random budgets
    and document sizes — pinning the floor/boundary math (off-by-one
    territory) independently of the SQL oracle. Drives the REAL
    operator (operators/quality.pack_sequences), not an inline copy of
    its math: a regression in the production span/overlap/bin code is
    what this property exists to catch (an earlier form re-implemented
    the spans inline — with the double-division bin form the operator
    itself was specifically rewritten to avoid — and so pinned
    nothing)."""
    from pyspark.sql import functions as F

    from pydra_map_reduce_spark.operators.quality import pack_sequences

    docs = spark.createDataFrame(
        [(i, n) for i, n in enumerate(sizes)], "doc_id long, n_tokens long"
    ).withColumn("g", F.lit("x"))
    got = {
        r["seq_no"]: (r["n_docs"], r["fill_tokens"])
        for r in pack_sequences(
            docs, "g", "doc_id", "n_tokens", budget=budget
        ).collect()
    }
    # independent sequential packer: walk the token stream doc by doc
    want: dict[int, list[int]] = {}
    cursor = 0
    for n in sizes:
        for t in range(cursor, cursor + n):
            s = t // budget
            e = want.setdefault(s, [0, 0])
            e[1] += 1
        for s in range(cursor // budget, (cursor + n - 1) // budget + 1):
            want[s][0] += 1
        cursor += n
    assert got == {s: tuple(v) for s, v in want.items()}


@settings(max_examples=200, deadline=None)
@given(
    m=st.sampled_from([2, 3, 4, 8]),
    data=st.data(),
)
def test_lzw_round_trip(m, data):
    """The from-scratch GIF LZW codec pair must be a true inverse on
    arbitrary index streams — including all-equal runs (the KwKwK
    decoder case) and long streams that force variable-width code
    growth. No Spark session: the codec is plain Python shared by
    encoder and decoder tasks."""
    from pydra_map_reduce_spark.plans.multimodal import _lzw_decode, _lzw_encode

    seq = data.draw(
        st.lists(st.integers(0, (1 << m) - 1), min_size=1, max_size=300)
    )
    assert _lzw_decode(_lzw_encode(seq, m), m) == seq


def test_lzw_known_bitstream_anchor():
    """Encoder-independent anchor: a GIF LZW stream hand-packed from
    the spec (min code size 2, pixels [1,2,2,1] -> codes CLEAR(4)@3,
    1@3, 2@3, 2@3, 1@4, EOI(5)@4 -> LSB-first bytes 140,20,5). Guards
    against a *symmetric* encoder/decoder deviation from the GIF
    wire format, which a round-trip property alone cannot see."""
    from pydra_map_reduce_spark.plans.multimodal import _lzw_decode, _lzw_encode

    assert list(_lzw_encode([1, 2, 2, 1], 2)) == [140, 20, 5]
    assert _lzw_decode(bytes([140, 20, 5]), 2) == [1, 2, 2, 1]


def _jpeg_rt(px):
    from pydra_map_reduce_spark.plans.multimodal import (
        _jpeg_decode_gray,
        _jpeg_encode_gray,
    )

    w, h, out = _jpeg_decode_gray(_jpeg_encode_gray(px))
    flat = [px[y][x] for y in range(len(px)) for x in range(len(px[0]))]
    assert (w, h) == (len(px[0]), len(px))
    return flat, out


def test_jpeg_constant_blocks_round_trip_exact():
    """The graded image family (constant 8x8 blocks, DC quant step 8)
    must round-trip BIT-EXACTLY through the full JPEG pipeline — this
    is the property that lets a lossy codec be oracle-verified."""
    for did in (0, 1, 7, 127, 128, 255, 499):
        px = [
            [(did * 11 + 17 * (x // 8) + 29 * (y // 8)) % 256 for x in range(16)]
            for y in range(16)
        ]
        flat, out = _jpeg_rt(px)
        assert out == flat, f"doc {did} not exact"


def test_jpeg_general_content_bounded_loss():
    """On non-constant content the codec must be LOSSY BUT CLOSE —
    quantization error only (AC step 16 → small bounded pixel error),
    not corruption. Deterministic images, measured bounds + slack."""
    grad = [[(x * 3 + y * 5) % 256 for x in range(24)] for y in range(24)]
    flat, out = _jpeg_rt(grad)
    errs = [abs(a - b) for a, b in zip(flat, out)]
    assert sum(errs) / len(errs) < 3.0 and max(errs) <= 8, (sum(errs)/len(errs), max(errs))

    prand = [
        [(x * 92821 + y * 68917 + x * y * 31) % 256 for x in range(16)]
        for y in range(16)
    ]
    flat, out = _jpeg_rt(prand)
    errs = [abs(a - b) for a, b in zip(flat, out)]
    assert sum(errs) / len(errs) < 6.0 and max(errs) <= 20, (sum(errs)/len(errs), max(errs))


def test_jpeg_byte_stuffing_path():
    """An entropy stream containing a raw 0xFF byte must be stuffed
    (FF 00) by the encoder and unstuffed by the decoder — the graded
    DC-only payloads never produce one, so this pins the path with an
    image found to require it."""
    from pydra_map_reduce_spark.plans.multimodal import _jpeg_encode_gray

    px = [[(x * 92821 + y * 68917 + x * y * 31) % 256 for x in range(8)] for y in range(8)]
    b = _jpeg_encode_gray(px)
    assert b"\xff\x00" in b[b.rindex(b"\xff\xda") + 10 :], "no stuffed byte"
    flat, out = _jpeg_rt(px)
    errs = [abs(a - c) for a, c in zip(flat, out)]
    assert sum(errs) / len(errs) < 6.0, sum(errs) / len(errs)


def test_mulaw_codec_grid_and_anchors():
    """G.711 mu-law: companding must be idempotent on its own
    quantization grid (dec(enc(dec(enc(s)))) == dec(enc(s))), and hit
    the standard's known anchors — enc(0) is the all-complemented
    0xFF, the max-magnitude decode is +/-32124, and both zero codes
    (0x7F/0xFF) expand to 0."""
    from pydra_map_reduce_spark.plans.multimodal import _mulaw_decode, _mulaw_encode

    assert _mulaw_encode(0) == 0xFF
    assert _mulaw_decode(0xFF) == 0 and _mulaw_decode(0x7F) == 0
    assert _mulaw_decode(_mulaw_encode(32767)) == 32124
    assert _mulaw_decode(_mulaw_encode(-32768)) == -32124
    for s in range(-32768, 32768, 257):
        d1 = _mulaw_decode(_mulaw_encode(s))
        assert _mulaw_decode(_mulaw_encode(d1)) == d1, s


def test_lzw_table_overflow_regime():
    """Streams whose string table would exceed the 12-bit code space
    must still round-trip: both sides freeze insertions at 4096
    entries (spec-legal deferred-clear behavior). Before the freeze
    guard, a ~4k-distinct-string stream emitted codes >= 4096
    truncated to 12 bits and decoded to garbage."""
    import random

    from pydra_map_reduce_spark.plans.multimodal import _lzw_decode, _lzw_encode

    rng = random.Random(7)
    for n in (4025, 9000):
        seq = [rng.randrange(256) for _ in range(n)]
        assert _lzw_decode(_lzw_encode(seq, 8), 8) == seq, n


def test_cms_one_sided_error_and_hll_accuracy(spark):
    """The sketches' defining guarantees, pinned on the fixture:
    Count-Min never UNDERestimates (estimate >= exact for every probed
    word — the min-of-hashed-cells bound), and the m=64 HLL lands
    within 4 standard errors (4 * 1.04/sqrt(64) = 52%) of the exact
    per-source distinct count. Both checks are deterministic (portable
    md5 hashing, fixed fixture), so a hash-slicing or estimator bug
    fails them reproducibly rather than probabilistically."""
    from pydra_map_reduce_spark.plans import REGISTRY

    cms = REGISTRY["count_min_sketch"].fn(spark, SF_DIR).collect()
    assert len(cms) == 10
    for r in cms:
        assert r.cm_estimate >= r.exact_n, r
        assert r.overcount == r.cm_estimate - r.exact_n, r

    hll = REGISTRY["hll_portable"].fn(spark, SF_DIR).collect()
    assert len(hll) == 20
    for r in hll:
        assert r.rel_err <= 0.52, r
        assert abs(r.hll_estimate - r.exact_distinct) / r.exact_distinct <= 0.52, r


@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    words=st.lists(
        st.text(alphabet="ab", min_size=1, max_size=8),
        min_size=1,
        max_size=12,
        unique=True,
    )
)
def test_bpe_fold_is_canonical_sennrich(words, spark):
    """The engine's aggregate() merge fold must equal the canonical
    left-to-right BPE merge (Sennrich et al.) on adversarial two-letter
    words — exactly the overlapping-run regime ('a b a b', 'a a a a')
    where a naive string replace() diverges by consuming the shared
    boundary space. The reference is an independent pure-Python scan;
    the pair under merge is the corpus's own arg-max, like the query's
    first round."""
    from collections import Counter

    from pyspark.sql import functions as F

    from pydra_map_reduce_spark.plans.text import _BPE_FOLD_EXPR

    # reference: canonical LTR merge of pair (x, y) over a symbol list
    def ltr_merge(syms, x, y):
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == x and syms[i + 1] == y:
                out.append(x + y)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return out

    pair_counts = Counter()
    for w in words:
        for a, b in zip(w, w[1:]):
            pair_counts[(a, b)] += 1
    if not pair_counts:
        return
    (x, y), _ = min(pair_counts.items(), key=lambda kv: (-kv[1], kv[0]))

    df = spark.createDataFrame([(w,) for w in words], ["word"]).select(
        F.col("word"),
        F.trim(F.regexp_replace("word", "(.)", "$1 ")).alias("sp"),
        F.lit(x).alias("bx"),
        F.lit(y).alias("by"),
        F.lit(x + y).alias("bxy"),
    )
    got = {
        r.word: r.m for r in df.select("word", F.expr(_BPE_FOLD_EXPR).alias("m")).collect()
    }
    for w in words:
        assert got[w] == " ".join(ltr_merge(list(w), x, y)), (w, x, y, got[w])


def test_bloom_filter_invariants(spark):
    """The two structural guarantees of the Bloom sketch, asserted on
    the real fixture build: zero false negatives (a member key always
    probes positive) and a sane load factor (bits set <= k * n_keys,
    with equality only if no hash collisions occurred)."""
    from pydra_map_reduce_spark.plans import REGISTRY

    row = REGISTRY["bloom_filter_portable"].fn(spark, SF_DIR).first()
    assert row["n_false_neg"] == 0
    assert 0 < row["n_bits_set"] <= 3 * row["n_keys"]
    # every member must probe positive: positives >= members
    assert row["n_positive"] >= row["n_keys"]
    assert row["n_positive"] - row["n_false_pos"] == row["n_keys"]


def test_stable_row_ids_contiguous(spark):
    """rids must be exactly 0..n-1 with each doc_id keeping its rank
    order — the contract the two-pass construction exists to give
    without a global window."""
    from pydra_map_reduce_spark.plans import REGISTRY

    rows = REGISTRY["stable_row_ids"].fn(spark, SF_DIR).collect()
    rids = sorted(r["rid"] for r in rows)
    assert rids == list(range(len(rows)))
    by_doc = sorted(rows, key=lambda r: r["doc_id"])
    assert [r["rid"] for r in by_doc] == list(range(len(rows)))


def test_span_scrub_removes_every_duplicated_window(spark):
    """After scrubbing, no ORIGINAL duplicated window position may
    survive: every token the shared dup-window definition covers is
    gone, and the token accounting (before - after = covered
    positions) balances exactly."""
    from pyspark.sql import functions as F

    from pydra_map_reduce_spark.plans import REGISTRY
    from pydra_map_reduce_spark.plans.dedup import _SPAN_W, _dup_windows

    dp = _dup_windows(spark, SF_DIR)
    covered = (
        dp.select(
            "doc_id",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + _SPAN_W - 1)).alias(
                "pos"
            ),
        )
        .distinct()
        .count()
    )
    rep = REGISTRY["span_scrub"].fn(spark, SF_DIR).collect()
    assert sum(r["toks_before"] - r["toks_after"] for r in rep) == covered


def test_containment_asymmetry_and_direction(spark):
    """Containment names the smaller shingle set as contained, the
    score is n_inter/|smaller| (>= the pair's Jaccard by construction),
    and every emitted pair's contained doc really has a shingle-set no
    larger than its container's."""
    from pydra_map_reduce_spark.operators.dedup import (
        _capped_pair_counts,
        containment_pairs,
        ngram_index,
    )

    d = load_table(spark, SF_DIR, "documents")
    pairs = containment_pairs(d, "doc_id", "text", threshold=0.5).collect()
    assert pairs, "fixture must produce containment pairs at every SF"
    _, sizes = _capped_pair_counts(ngram_index(d, "doc_id", "text", 3), 100)
    n_by_doc = {r["doc_id"]: r["n"] for r in sizes.collect()}
    for r in pairs:
        assert 0.5 <= r["containment"] <= 1.0
        assert n_by_doc[r["contained_id"]] <= n_by_doc[r["container_id"]]


def test_hamming_band_pairs_complete_vs_bruteforce(spark):
    """The 4x16-chunk banded join must find EVERY pair with hamming
    <= 3 (the pigeonhole guarantee) — checked against a brute-force
    all-pairs join over a small adversarial signature set that
    includes pairs differing in exactly one bit per chunk (hamming 4,
    must be absent) and pairs with all 3 diffs in one chunk."""
    from pyspark.sql import functions as F

    from pydra_map_reduce_spark.operators.dedup import hamming_band_pairs

    rows = [
        (0, 0x0000, 0x0000, 0x0000, 0x0000),
        (1, 0x0001, 0x0000, 0x0000, 0x0000),  # ham(0,1)=1
        (2, 0x0007, 0x0000, 0x0000, 0x0000),  # ham(0,2)=3, ham(1,2)=2
        (3, 0x0001, 0x0001, 0x0001, 0x0001),  # ham(0,3)=4: one per chunk
        (4, 0x8000, 0x8000, 0x0000, 0x0000),  # ham(0,4)=2 across chunks
    ]
    sig = spark.createDataFrame(
        rows, "doc_id long, c0 int, c1 int, c2 int, c3 int"
    )
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in hamming_band_pairs(sig, max_hamming=3).collect()
    }
    brute = {}
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            h = sum(
                bin(rows[i][c] ^ rows[j][c]).count("1") for c in range(1, 5)
            )
            if h <= 3:
                brute[(rows[i][0], rows[j][0])] = h
    assert got == brute
    assert (0, 3) not in got  # the one-diff-per-chunk hamming-4 pair
    import pytest as _pytest

    with _pytest.raises(ValueError, match="completeness bound"):
        hamming_band_pairs(sig, max_hamming=4)


@st.composite
def bucket_rows(draw, n_keys: int, string_ids: bool):
    """A set of (id, key...) rows: most ids share one hot bucket, the
    rest draw small keys, and one row of each frame has a null key."""
    if string_ids:
        ids = st.text(alphabet="abAB09_", max_size=4)
    else:
        ids = st.integers(min_value=-(2**62), max_value=2**62)
    id_list = draw(st.lists(ids, min_size=2, max_size=9, unique=True))
    if n_keys == 1:
        keys = st.sampled_from([(0,), (1,), (2,), (None,)])
    else:  # buckets that share one component must stay apart
        keys = st.sampled_from([(0, 0), (0, 1), (1, 0), (None, 0), (1, None)])
    hot = (7,) * n_keys
    rows = set()
    for i in id_list:
        if draw(st.integers(min_value=0, max_value=4)):
            rows.add((i, *hot))
        for _ in range(draw(st.integers(min_value=0, max_value=2))):
            rows.add((i, *draw(keys)))
    rows.add((id_list[0], *([None] * n_keys)))
    return sorted(rows, key=repr)


@pytest.mark.parametrize("n_keys", [1, 2])
@pytest.mark.parametrize("string_ids", [False, True], ids=["long_ids", "string_ids"])
def test_bucket_pairs_equals_bruteforce(spark, n_keys, string_ids):
    """``bucket_pairs`` returns each id pair (a < b) sharing a bucket,
    with the number of buckets it shares: equal to a Python brute force
    over one- and two-key buckets, long and string ids, a bucket that
    holds most rows, and null keys (which pair with nothing)."""
    from collections import Counter, defaultdict

    from pydra_map_reduce_spark.operators.dedup import bucket_pairs

    keys = [f"k{j}" for j in range(n_keys)]
    schema = ", ".join([f"id {'string' if string_ids else 'long'}"] + [f"{k} int" for k in keys])

    @settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
    @given(rows=bucket_rows(n_keys, string_ids))
    def check(rows):
        buckets = defaultdict(set)
        for i, *k in rows:
            if None not in k:
                buckets[tuple(k)].add(i)
        want = Counter((a, b) for ids in buckets.values() for a in ids for b in ids if a < b)
        df = spark.createDataFrame(rows, schema)
        got = {
            (r["id_a"], r["id_b"]): r["n"]
            for r in bucket_pairs(df, "id", keys[0] if n_keys == 1 else keys).collect()
        }
        assert got == dict(want)

    check()


def test_kcenter_radii_monotone_and_distinct(spark):
    """Greedy farthest-point selection guarantees the selection radius
    never increases step over step (each chosen point was the max-min
    distance at its step, and adding centers only shrinks min
    distances), and never picks the same exemplar twice."""
    from pydra_map_reduce_spark.plans import REGISTRY

    rows = sorted(
        REGISTRY["kcenter_coreset"].fn(spark, SF_DIR).collect(),
        key=lambda r: r["step"],
    )
    assert len({r["vec_id"] for r in rows}) == len(rows)
    radii = [r["radius"] for r in rows[1:]]  # step 1 is the seed (0.0)
    assert all(a >= b for a, b in zip(radii, radii[1:])), radii
    # >= 0, not > 0: a regenerated fixture with near-duplicate vectors
    # can floor a legitimate max-min d2 below 5e-5 to exactly 0.0 at
    # the 4dp render — non-negativity is the operator guarantee
    assert all(r >= 0 for r in radii)


def test_mmr_first_is_top_relevance_and_scores_decrease(spark):
    """MMR's first pick must be the plain top-relevance result (no
    penalty applies yet), picks are distinct, and the greedy scores
    are non-increasing (each step maximizes over a shrinking set with
    penalties that only grow)."""
    from pydra_map_reduce_spark.plans import REGISTRY

    rows = sorted(
        REGISTRY["mmr_diversify"].fn(spark, SF_DIR).collect(),
        key=lambda r: r["step"],
    )
    top1 = REGISTRY["cosine_topk"].fn(spark, SF_DIR).first()
    assert rows[0]["vec_id"] == top1["vec_id"]
    assert len({r["vec_id"] for r in rows}) == len(rows)
    # monotone from step 2 ONWARD only: step 1 carries no penalty
    # while step 2's penalty term can be NEGATIVE (fixture embeddings
    # have negative coordinates), so step2 > step1 is reachable on a
    # correct operator; for steps >= 2 the candidate set shrinks and
    # penalties only grow, so non-increase IS a theorem
    scores = [r["mmr"] for r in rows[1:]]
    assert all(a >= b for a, b in zip(scores, scores[1:])), scores


def test_quantize_recall_bounds(spark):
    """recall = n_hits/5 with 0 <= n_hits <= 5, one row per query, and
    int8 quantization at 64 dims should hold recall well above zero
    (a collapse to 0 would mean the quantized ranking is garbage —
    the regression this evaluation exists to catch)."""
    from pydra_map_reduce_spark.plans import REGISTRY

    rows = REGISTRY["quantize_recall"].fn(spark, SF_DIR).collect()
    assert len(rows) == 8
    for r in rows:
        assert 0 <= r["n_hits"] <= 5
        assert abs(r["recall"] - r["n_hits"] / 5) < 1e-9
    assert sum(r["n_hits"] for r in rows) >= 8 * 3  # sanity floor


def test_winnowing_covers_every_window_and_is_sparse(spark):
    """Robust winnowing's two contracts, checked directly against the
    raw k-gram hash stream: (a) COVERAGE — every window of w
    consecutive k-gram hashes contains at least one selected
    fingerprint (this is what makes any (w+k-1)-token match
    detectable); (b) SPARSITY — a document never selects more
    fingerprints than it has windows, and fewer when windows overlap
    on a shared minimum."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from pydra_map_reduce_spark.plans import REGISTRY
    from pydra_map_reduce_spark.plans.dedup import _WINNOW_K, _WINNOW_W
    from pydra_map_reduce_spark.sources.tables import load_table

    from .conftest import SF_DIR

    rep = {r["doc_id"]: r for r in REGISTRY["winnowing_fingerprint"].fn(spark, SF_DIR).collect()}
    assert rep, "fixture must produce winnowing fingerprints"

    # recompute the raw hash stream for a sample of documents and
    # replay selection in python
    d = load_table(spark, SF_DIR, "documents").limit(40)
    toks = d.select("doc_id", F.posexplode(F.split("text", " ")).alias("pos", "w"))
    win = Window.partitionBy("doc_id").orderBy("pos")
    gram = toks.select(
        "doc_id", "pos",
        F.concat_ws(" ", "w", *[F.lead("w", i).over(win) for i in range(1, _WINNOW_K)]).alias("g"),
        F.lead("w", _WINNOW_K - 1).over(win).alias("_last"),
    ).filter(F.col("_last").isNotNull())
    gid = gram.select(
        "doc_id", "pos",
        F.conv(F.substring(F.md5("g"), 1, 8), 16, 10).cast("bigint").alias("h"),
    ).collect()
    by_doc: dict[int, dict[int, int]] = {}
    for r in gid:
        by_doc.setdefault(r["doc_id"], {})[r["pos"]] = r["h"]
    checked = 0
    for doc_id, hs in by_doc.items():
        ng = len(hs)
        if ng < _WINNOW_W or doc_id not in rep:
            continue
        stream = [hs[p] for p in sorted(hs)]
        selected = set()
        for s in range(ng - _WINNOW_W + 1):
            wnd = stream[s : s + _WINNOW_W]
            m = min(wnd)
            # rightmost-min rule
            sel_pos = max(i for i, v in enumerate(wnd) if v == m) + s
            selected.add(sel_pos)
        n_windows = ng - _WINNOW_W + 1
        row = rep[doc_id]
        assert row["n_fp"] == len(selected), (doc_id, row["n_fp"], len(selected))
        assert row["n_fp"] <= n_windows
        # coverage: every window contains a selected position
        for s in range(n_windows):
            assert any(s <= p <= s + _WINNOW_W - 1 for p in selected), (doc_id, s)
        checked += 1
    assert checked >= 10, f"only {checked} docs replayed; sample too thin"


def test_auc_and_running_balance_null_hygiene(spark):
    """r10 review regressions: (a) a NULL label must be EXCLUDED from
    AUC, not silently feed cum_less while skipping the positive/
    negative counts (which pushed AUC outside [0,1]); (b) a NULL delta
    must be excluded from the balance replay instead of NaN-crashing
    the Python worker, and must not count toward n_events."""
    from pydra_map_reduce_spark.operators.quality import auc, running_balance

    df = spark.createDataFrame(
        [(1.0, None), (2.0, 0), (3.0, 1)], "score double, label int"
    )
    row = auc(df, "score", "label").collect()[0]
    assert row["n_pos"] == 1 and row["n_neg"] == 1
    assert row["auc"] == 1.0  # the NULL-label row contributes nothing

    ev = spark.createDataFrame(
        [(1, 1, 10.0), (1, 2, None), (1, 3, 5.0)],
        "user_id long, seq long, delta double",
    )
    out = running_balance(
        ev, "user_id", ["seq"], F.col("delta"), cap=100.0
    ).collect()
    assert out == [(1, 2, 15.0)] or (
        out[0]["n_events"] == 2 and out[0]["final_balance"] == 15.0
    )


def test_ivf_serve_batch_matches_single_serves(spark):
    """The batched multi-query serve must return EXACTLY the rows the
    per-query single serves return (same index, same n_probe/k, same
    ranking keys) — the equivalence that justified rewiring ann_recall
    onto one plan."""
    from pydra_map_reduce_spark.operators import similarity as ops
    from pydra_map_reduce_spark.plans.vectors import _ivf_index

    from .conftest import SF_DIR

    idx = _ivf_index(spark, SF_DIR)
    batch = {
        (r["query_id"], r["vec_id"]): r["cos"]
        for r in ops.ivf_serve_batch(idx, 4, n_probe=4, k=5).collect()
    }
    singles = {}
    for q in range(4):
        for r in ops.ivf_serve_distributed(idx, q, n_probe=4, k=5).collect():
            singles[(q, r["vec_id"])] = r["cos"]
    assert batch == singles
    assert len(batch) == 4 * 5
