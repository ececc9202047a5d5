"""Deep analytical queries (TPC-H Q3/Q5/Q10 shapes). SURVEY.md §2.3/§2.4.

Multi-join aggregates that exercise the optimizer end-to-end: join
reordering, broadcast selection for dims, partial aggregation above
joins, and AQE. These are the bench headliners closest to real
warehouse workloads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.textops import cents, e4_revenue_2dp, e4_revenue_2dp_sql, money_sum, round_half_up
from ..session_cache import SMALL, materialize
from ..sources.tables import load_table
from .registry import query


@query(
    "shipping_priority",
    oracle=f"""
    SELECT l.l_orderkey,
           {e4_revenue_2dp_sql("l.l_extendedprice", "l.l_discount")} AS revenue,
           o.o_orderdate
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15'
      AND l.l_shipdate  > TIMESTAMP '1998-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, o.o_orderdate, l.l_orderkey
    LIMIT 10
    """,
    section="2.3/2.4 TPC-H Q3 shape: 3-way join + agg + top-k",
)
def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3: segment filter prunes customer before the join; both filters
    push to parquet; top-10 via TakeOrdered."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            # exact 1e-4-unit revenue sum rendered at 2dp — the shared
            # Q3/Q5/Q10 revenue cell (here the rounded value is also
            # the top-k sort key)
            e4_revenue_2dp(
                F.col("l_extendedprice"), F.col("l_discount")
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@query(
    "local_supplier_volume",
    oracle=f"""
    SELECT n.n_name AS nation,
           {e4_revenue_2dp_sql("l.l_extendedprice", "l.l_discount")} AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND s.s_nationkey = c.c_nationkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n.n_name
    """,
    section="2.3/2.4 TPC-H Q5 shape: 6-way join incl. same-nation constraint",
)
def local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5: the classic 6-table star+snowflake join. Dims (supplier,
    nation, region) broadcast; facts shuffle once on their join keys;
    the same-nation constraint rides the supplier join condition."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (s.s_nationkey == c.c_nationkey),
        )
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            # exact 1e-4-unit revenue sum rendered at 2dp — the shared
            # Q3/Q5/Q10 revenue cell (here the rounded value is also
            # the top-k sort key)
            e4_revenue_2dp(
                F.col("l_extendedprice"), F.col("l_discount")
            ).alias("revenue")
        )
    )


@query(
    "returned_items",
    oracle=f"""
    SELECT c.c_custkey, c.c_name, n.n_name AS nation,
           {e4_revenue_2dp_sql("l.l_extendedprice", "l.l_discount")} AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-07-01'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
    section="2.3/2.4 TPC-H Q10 shape: returned-item revenue top-20",
)
def returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"))
        .agg(
            # exact 1e-4-unit revenue sum rendered at 2dp — the shared
            # Q3/Q5/Q10 revenue cell (here the rounded value is also
            # the top-k sort key)
            e4_revenue_2dp(
                F.col("l_extendedprice"), F.col("l_discount")
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


# ONE SQL text for the correlated-subquery pair (engine view name is
# templated in) — and the threshold is the FLOOR-FORM 2dp rounding of
# the per-nation average: the raw `> avg(...)` compared an exact 2dp
# balance against an accumulation-order-dependent float, so a customer
# sitting within 1 ulp of the average could classify differently per
# engine (the rounded-threshold-cut discipline of top_supplier /
# important_balance).
_CS_SQL = """
    SELECT c_custkey, round(c_acctbal, 2) AS bal
    FROM {tbl} c
    WHERE c_acctbal > floor((SELECT avg(c2.c_acctbal) FROM {tbl} c2
                             WHERE c2.c_nationkey = c.c_nationkey)
                            * 100 + 0.5) / 100
"""


@query(
    "correlated_subquery",
    oracle=_CS_SQL.format(tbl="customer"),
    section="2.2/3 correlated scalar subquery (Catalyst decorrelation)",
)
def correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers above their nation's average balance, written as a
    correlated scalar subquery. Catalyst decorrelates it into an
    aggregate + join — no per-row re-execution, so the same SQL text
    is 100 TB-safe. The SQL text itself is the shared artifact
    (_CS_SQL): engine and oracle run the identical statement with
    only the table name swapped, so the decorrelation claim and the
    floor-form threshold can never drift one-sided."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer_cs_v")
    return spark.sql(_CS_SQL.format(tbl="customer_cs_v"))


@query(
    "promo_revenue",
    oracle="""
    SELECT CAST(year(o.o_orderdate) AS INT) AS yr,
           floor(100.0 * sum(CASE WHEN p.p_type LIKE 'PROMO%'
                                  THEN l.l_extendedprice * (1 - l.l_discount)
                                  ELSE 0 END)
                 / sum(l.l_extendedprice * (1 - l.l_discount))
                 * 10000 + 0.5) / 10000 AS promo_pct
    FROM lineitem l
    JOIN part p   ON l.l_partkey = p.p_partkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY year(o.o_orderdate)
    """,
    section="2.4 TPC-H Q14 shape: conditional agg over join (promo revenue %)",
)
def promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14: ratio of conditional to total aggregate — one pass, no
    self-join; part is broadcast."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    o = load_table(spark, sf_dir, "orders")
    net = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").like("PROMO%"), net).otherwise(0.0)
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(F.year("o_orderdate").alias("yr"))
        .agg(round_half_up(100.0 * F.sum(promo) / F.sum(net), 4).alias("promo_pct"))
    )


@query(
    "large_volume_customers",
    oracle="""
    SELECT c.c_custkey, c.c_name, o.o_orderkey,
           round(o.o_totalprice, 2)              AS total,
           CAST(sum(CAST(round(l.l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100 AS qty
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
        SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
        HAVING sum(l_quantity) > 150
    )
    GROUP BY c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
    """,
    section="2.3/2.4 TPC-H Q18 shape: HAVING + IN-subquery (large-volume orders)",
)
def large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18: IN-subquery with HAVING — Catalyst rewrites the IN to a
    left-semi join against the pre-aggregated order quantities."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_q"))
        .filter(F.col("_q") > 150)
        .select("l_orderkey")
    )
    return (
        o.join(big.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey", "left_semi")
        .join(c, o.o_custkey == c.c_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("c_custkey", "c_name", "o_orderkey", "o_totalprice")
        .agg(money_sum("l_quantity").alias("qty"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("total"),
            "qty",
        )
    )


@query(
    "cohort_retention",
    oracle="""
    WITH firsts AS (
        SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
        FROM events GROUP BY user_id
    )
    SELECT CAST(f.cohort_week AS TIMESTAMP)                         AS cohort_week,
           CAST(date_diff('week', f.cohort_week,
                          date_trunc('week', e.ts)) AS BIGINT)      AS week_offset,
           count(DISTINCT e.user_id)                                AS active_users
    FROM events e JOIN firsts f ON e.user_id = f.user_id
    GROUP BY f.cohort_week, date_diff('week', f.cohort_week, date_trunc('week', e.ts))
    """,
    section="2.9/2.11 cohort retention (first-seen week × week offset)",
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic cohort grid: users bucketed by first-seen week, counted
    distinct per week offset. Two keyed aggs + one key join, all on
    user_id/cohort keys."""
    e = load_table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(F.date_trunc("week", F.min("ts")).alias("cohort_week"))
    joined = e.join(firsts, "user_id")
    week_offset = (
        F.datediff(F.date_trunc("week", F.col("ts")), F.col("cohort_week")) / 7
    ).cast("bigint")
    return (
        joined.groupBy("cohort_week", week_offset.alias("week_offset"))
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


@query(
    "forecast_revenue",
    oracle="""
    SELECT CAST(sum(CAST(round(l_extendedprice * l_discount * 10000) AS BIGINT))
                AS DOUBLE) / 10000 AS revenue_delta,
           count(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    section="2.4 TPC-H Q6 shape: pure filter-aggregate (pushdown showcase)",
)
def forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6: every predicate pushes to the parquet scan; the whole query
    is one codegen span over surviving row groups — the canonical
    'filters are free if you let Catalyst see them' demo."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        # 2dp price x 2dp discount is EXACT at the 1e-4 grain: sum
        # fixed-point ten-thousandths in BIGINT, divide once
        money_sum(F.col("l_extendedprice") * F.col("l_discount"), dp=4).alias(
            "revenue_delta"
        ),
        F.count(F.lit(1)).alias("n_lines"),
    )


@query(
    "rfm_segments",
    oracle="""
    WITH rfm AS (
        SELECT o_custkey,
               date_diff('day', max(o_orderdate), TIMESTAMP '1998-08-02') AS recency,
               count(*)                                                   AS frequency,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT)                                            AS monetary_c
        FROM orders GROUP BY o_custkey
    ), cut AS (
        SELECT quantile_cont(recency,    0.5) AS r_med,
               quantile_cont(frequency,  0.5) AS f_med,
               quantile_cont(monetary_c, 0.5) AS m_med
        FROM rfm
    )
    SELECT CASE WHEN recency <= r_med THEN 'recent' ELSE 'lapsed' END    AS r_band,
           CASE WHEN frequency > f_med THEN 'frequent' ELSE 'rare' END   AS f_band,
           CASE WHEN monetary_c > m_med THEN 'big' ELSE 'small' END      AS m_band,
           count(*)                                                      AS n_customers,
           CAST(sum(frequency) AS BIGINT)                                AS n_orders,
           CAST(sum(monetary_c) AS DOUBLE) / 100                         AS revenue
    FROM rfm CROSS JOIN cut
    GROUP BY 1, 2, 3
    """,
    section="2.11 RFM segmentation (recency/frequency/monetary median split)",
)
def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic customer segmentation: per-customer recency (days since
    last order at a fixed reference date), frequency, and monetary
    value, each split at its population median into 8 RFM segments.
    Same distribution→thresholds→apply shape as length_deciles: the
    medians are ONE broadcast row (exact percentile = the
    oracle-checkable form; approx_percentile at warehouse scale), the
    banding is pure comparison expressions, and the final rollup is 8
    groups. Median splits use <=/> consistently so boundary customers
    land deterministically in both engines."""
    o = load_table(spark, sf_dir, "orders")
    rfm = o.groupBy("o_custkey").agg(
        F.datediff(
            F.lit("1998-08-02").cast("timestamp"), F.max("o_orderdate")
        ).alias("recency"),
        F.count(F.lit(1)).alias("frequency"),
        # INTEGER-CENTS monetary: the raw float per-customer sum left
        # the median cut ulp-fragile (a customer ulp-near the median
        # could band differently per engine); the integer is exact,
        # its interpolated median is exact, and the > cut is exact
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
            "monetary_c"
        ),
    )
    cut = rfm.agg(
        F.percentile("recency", F.lit(0.5)).alias("r_med"),
        F.percentile("frequency", F.lit(0.5)).alias("f_med"),
        F.percentile("monetary_c", F.lit(0.5)).alias("m_med"),
    )
    return (
        rfm.crossJoin(F.broadcast(cut))
        .select(
            F.when(F.col("recency") <= F.col("r_med"), "recent")
            .otherwise("lapsed")
            .alias("r_band"),
            F.when(F.col("frequency") > F.col("f_med"), "frequent")
            .otherwise("rare")
            .alias("f_band"),
            F.when(F.col("monetary_c") > F.col("m_med"), "big")
            .otherwise("small")
            .alias("m_band"),
            "frequency",
            "monetary_c",
        )
        .groupBy("r_band", "f_band", "m_band")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("frequency").cast("bigint").alias("n_orders"),
            (F.sum("monetary_c") / 100.0).alias("revenue"),
        )
    )


@query(
    "ab_test_zscore",
    oracle="""
    WITH assigned AS (
        SELECT CASE WHEN substr(md5(user_id::VARCHAR), 1, 8) < '80000000'
                    THEN 'A' ELSE 'B' END AS arm,
               event_type
        FROM events
    ), per_arm AS (
        SELECT arm,
               count(*)                                              AS n_events,
               sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS n_purchases
        FROM assigned GROUP BY arm
    ), wide AS (
        SELECT max(CASE WHEN arm = 'A' THEN n_events END)    AS na,
               max(CASE WHEN arm = 'A' THEN n_purchases END) AS ca,
               max(CASE WHEN arm = 'B' THEN n_events END)    AS nb,
               max(CASE WHEN arm = 'B' THEN n_purchases END) AS cb
        FROM per_arm
    )
    SELECT CAST(na AS BIGINT) AS na, CAST(ca AS BIGINT) AS ca,
           CAST(nb AS BIGINT) AS nb, CAST(cb AS BIGINT) AS cb,
           floor(ca::DOUBLE / na * 10000 + 0.5) / 10000 AS rate_a,
           floor(cb::DOUBLE / nb * 10000 + 0.5) / 10000 AS rate_b,
           round((ca::DOUBLE / na - cb::DOUBLE / nb)
                 / nullif(sqrt((ca + cb)::DOUBLE / (na + nb)
                        * (1 - (ca + cb)::DOUBLE / (na + nb))
                        * (1.0 / na + 1.0 / nb)), 0), 4) AS z_score
    FROM wide
    """,
    section="2.11 A/B-test analysis (hash assignment + two-proportion z)",
)
def ab_test_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment analysis end to end: users hash deterministically
    into arms (md5-fraction assignment — a user keeps their arm across
    engines, runs, and data growth), per-arm purchase share over
    events, and the pooled two-proportion z statistic. Event-level
    proportions, not user-level conversion: at fixture scale every
    user eventually purchases, which degenerates user conversion to
    1.0 and the z denominator to 0 (guarded anyway via try_divide ≡
    nullif-sqrt). Two dim-sized aggregates after one scan; z uses
    sqrt (irrational) so plain round() is boundary-safe there, while
    the rates use the half-up form like every integer ratio."""
    e = load_table(spark, sf_dir, "events")
    assigned = e.select(
        F.when(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 8) < "80000000",
            "A",
        )
        .otherwise("B")
        .alias("arm"),
        "event_type",
    )
    per_arm = assigned.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("n_purchases"),
    )
    wide = per_arm.agg(
        F.max(F.when(F.col("arm") == "A", F.col("n_events"))).alias("na"),
        F.max(F.when(F.col("arm") == "A", F.col("n_purchases"))).alias("ca"),
        F.max(F.when(F.col("arm") == "B", F.col("n_events"))).alias("nb"),
        F.max(F.when(F.col("arm") == "B", F.col("n_purchases"))).alias("cb"),
    )
    ra = F.col("ca").cast("double") / F.col("na")
    rb = F.col("cb").cast("double") / F.col("nb")
    pooled = (F.col("ca") + F.col("cb")).cast("double") / (F.col("na") + F.col("nb"))
    z = F.try_divide(
        ra - rb,
        F.sqrt(pooled * (1 - pooled) * (1.0 / F.col("na") + 1.0 / F.col("nb"))),
    )
    return wide.select(
        F.col("na").cast("bigint").alias("na"),
        F.col("ca").cast("bigint").alias("ca"),
        F.col("nb").cast("bigint").alias("nb"),
        F.col("cb").cast("bigint").alias("cb"),
        round_half_up(ra, 4).alias("rate_a"),
        round_half_up(rb, 4).alias("rate_b"),
        F.round(z, 4).alias("z_score"),
    )


@query(
    "pareto_frontier",
    oracle="""
    WITH m AS (
        SELECT p_partkey, p_size, p_retailprice,
               max(p_retailprice) OVER (ORDER BY p_size
                   RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best_smaller,
               max(p_retailprice) OVER (PARTITION BY p_size)          AS best_same
        FROM part
    )
    SELECT p_partkey, p_size, round(p_retailprice, 2) AS p_retailprice
    FROM m
    WHERE p_retailprice = best_same
      AND (best_smaller IS NULL OR p_retailprice > best_smaller)
    """,
    section="2.6/2.11 Pareto frontier (2-D skyline via range-frame window)",
)
def pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline: parts not dominated on (smaller p_size, higher
    p_retailprice). Dominance thresholds depend only on the per-size
    maxima, so the sweep runs over the DISTINCT-SIZE aggregate:
    `best_same` = keyed max per size, `best_smaller` = running max
    over the size-domain table (bounded by the size domain — ~50 rows
    at ANY corpus scale, so the ordered window is constant-cost, not
    a global row sort). The thresholds broadcast back onto parts and
    a row survives iff it beats both (ties on BOTH axes are mutually
    non-dominating and all kept). No self-join — the naive EXISTS
    anti-join would be O(n²)."""
    from pyspark.sql import Window

    p = load_table(spark, sf_dir, "part")
    sizes = p.groupBy("p_size").agg(F.max("p_retailprice").alias("best_same"))
    w_smaller = Window.orderBy("p_size").rowsBetween(Window.unboundedPreceding, -1)
    thresholds = sizes.select(
        "p_size", "best_same", F.max("best_same").over(w_smaller).alias("best_smaller")
    )
    return (
        p.join(F.broadcast(thresholds), "p_size")
        .filter(
            (F.col("p_retailprice") == F.col("best_same"))
            & (
                F.col("best_smaller").isNull()
                | (F.col("p_retailprice") > F.col("best_smaller"))
            )
        )
        .select("p_partkey", "p_size", F.round("p_retailprice", 2).alias("p_retailprice"))
    )


@query(
    "ks_drift",
    oracle="""
    WITH d AS (
        SELECT source, n_chars FROM documents WHERE n_chars IS NOT NULL
    ), vals AS (
        SELECT n_chars AS v, count(*) AS cnt_v FROM d GROUP BY n_chars
    ), pv AS (
        SELECT source, n_chars AS v, count(*) AS cnt_sv
        FROM d GROUP BY source, n_chars
    ), tot AS (
        SELECT source, count(*) AS n_s FROM d GROUP BY source
    ), grid AS (
        SELECT t.source, t.n_s, vals.v, vals.cnt_v, coalesce(pv.cnt_sv, 0) AS cnt_sv,
               (SELECT count(*) FROM d) AS n_all
        FROM tot t CROSS JOIN vals
        LEFT JOIN pv ON pv.source = t.source AND pv.v = vals.v
    ), cum AS (
        SELECT source, n_s, n_all,
               sum(cnt_sv) OVER (PARTITION BY source ORDER BY v
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_s,
               sum(cnt_v)  OVER (PARTITION BY source ORDER BY v
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_all
        FROM grid
    )
    SELECT source,
           CAST(max(n_s) AS BIGINT) AS n_s,
           floor(max(abs(cum_s * 1.0 / n_s
                         - (cum_all - cum_s) * 1.0 / nullif(n_all - n_s, 0)))
                 * 1000000 + 0.5) / 1000000 AS ks
    FROM cum GROUP BY source
    """,
    section="2.11 distribution drift: per-source two-sample KS statistic",
)
def ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Kolmogorov–Smirnov drift screen: for every source,
    the two-sample KS statistic between its n_chars distribution and
    the rest of the corpus — the standard ingest gate for 'did this
    source's length profile shift'. Works on the ECDF over the
    DISTINCT-VALUE grid (sources × observed values), not raw rows, so
    the windows are keyed by source and bounded by the value domain —
    no global row sort, no single-partition window, linear at any
    corpus size. Integer cumulative counts divide to bit-identical
    doubles in both engines; the max is over the same set, rounded
    half-up at 6dp. Generic form: operators/quality.ks_drift (exposed
    on the Pipeline API as .drift_ks)."""
    from ..operators import quality

    d = load_table(spark, sf_dir, "documents")
    return quality.ks_drift(d, "source", "n_chars")


_PSI_BIN = 50  # n_chars bin width for the PSI screen


@query(
    "psi_drift",
    oracle=f"""
    WITH binned AS (
        SELECT source, CAST(floor(n_chars / {_PSI_BIN}) AS BIGINT) AS b
        FROM documents WHERE n_chars IS NOT NULL
    ), bins AS (
        SELECT b, count(*) AS cnt_b FROM binned GROUP BY b
    ), pb AS (
        SELECT source, b, count(*) AS cnt_sb FROM binned GROUP BY source, b
    ), tot AS (
        SELECT source, count(*) AS n_s FROM binned GROUP BY source
    ), grid AS (
        SELECT t.source, t.n_s, bins.b, bins.cnt_b, coalesce(pb.cnt_sb, 0) AS cnt_sb,
               (SELECT count(*) FROM binned) AS n_all,
               (SELECT count(*) FROM bins)   AS k
        FROM tot t CROSS JOIN bins
        LEFT JOIN pb ON pb.source = t.source AND pb.b = bins.b
    )
    SELECT source,
           CAST(max(k) AS BIGINT) AS n_bins,
           floor(sum(((cnt_sb + 0.5) / (n_s + 0.5 * k)
                      - (cnt_b - cnt_sb + 0.5) / (n_all - n_s + 0.5 * k))
                     * ln(((cnt_sb + 0.5) / (n_s + 0.5 * k))
                          / ((cnt_b - cnt_sb + 0.5) / (n_all - n_s + 0.5 * k))))
                 * 10000 + 0.5) / 10000 AS psi
    FROM grid GROUP BY source
    """,
    section="2.11 distribution drift: per-source PSI over length bins",
)
def psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index screen: each source's binned length
    distribution (width-50 bins) against the rest of the corpus, with
    +0.5 Laplace smoothing so empty bins stay finite. PSI > 0.25 is
    the conventional 'distribution shifted' alarm. Same bounded-grid
    shape as ks_drift (sources × bins), all keyed aggregations —
    nothing global but two scalar counts, both broadcast."""
    from ..operators import quality

    d = load_table(spark, sf_dir, "documents")
    return quality.psi_drift(d, "source", "n_chars", bin_width=_PSI_BIN)


@query(
    "chi2_independence",
    oracle="""
    WITH o AS (
        SELECT lang, source, count(*) AS n FROM documents GROUP BY lang, source
    ), rt AS (SELECT lang, count(*) AS n_l FROM documents GROUP BY lang),
    ct AS (SELECT source, count(*) AS n_c FROM documents GROUP BY source),
    grid AS (
        SELECT rt.lang, ct.source, rt.n_l, ct.n_c, coalesce(o.n, 0) AS n,
               (SELECT count(*) FROM documents) AS n_all
        FROM rt CROSS JOIN ct
        LEFT JOIN o ON o.lang = rt.lang AND o.source = ct.source
    )
    SELECT CAST((count(DISTINCT lang) - 1) * (count(DISTINCT source) - 1) AS BIGINT) AS dof,
           floor(sum(pow(n - n_l * 1.0 * n_c / n_all, 2) / (n_l * 1.0 * n_c / n_all))
                 * 10000 + 0.5) / 10000 AS chi2
    FROM grid
    """,
    section="2.4/2.11 chi-square independence test (lang × source)",
)
def chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square independence of language vs source over the
    full contingency grid (absent cells included at observed=0 — they
    still carry expected mass). ONE fact-table pass: the joint
    (lang, source) counts are aggregated once and BOTH marginals plus
    the grand total derive from that tiny table (marginals are sums
    of joint counts — identical integers, zero extra scans; the
    earlier form re-read documents four times, the
    mutual_information precedent). The classic 'is language mix
    uniform across sources' health check."""
    d = load_table(spark, sf_dir, "documents")
    o = materialize(
        d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n")), SMALL
    )
    rt = o.groupBy("lang").agg(F.sum("n").alias("n_l"))
    ct = o.groupBy("source").agg(F.sum("n").alias("n_c"))
    grid = (
        rt.crossJoin(F.broadcast(ct))
        .join(o, ["lang", "source"], "left")
        .withColumn("n", F.coalesce("n", F.lit(0)))
        .crossJoin(F.broadcast(o.agg(F.sum("n").alias("n_all"))))
    )
    e = F.col("n_l") * F.lit(1.0) * F.col("n_c") / F.col("n_all")
    return grid.agg(
        ((F.count_distinct("lang") - 1) * (F.count_distinct("source") - 1))
        .cast("bigint")
        .alias("dof"),
        round_half_up(F.sum(F.pow(F.col("n") - e, 2) / e), 4).alias("chi2"),
    )


@query(
    "gini_concentration",
    oracle="""
    WITH rev AS (
        SELECT c.c_nationkey, c.c_custkey,
               sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS revenue
        FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_nationkey, c.c_custkey
    ), ranked AS (
        SELECT c_nationkey, revenue,
               row_number() OVER (PARTITION BY c_nationkey
                                  ORDER BY revenue, c_custkey) AS i
        FROM rev
    )
    SELECT c_nationkey,
           count(*) AS n_cust,
           floor((2.0 * sum(i * revenue) / (count(*) * sum(revenue))
                  - (count(*) + 1.0) / count(*)) * 10000 + 0.5) / 10000 AS gini
    FROM ranked GROUP BY c_nationkey
    """,
    section="2.11 revenue concentration: per-nation Gini coefficient",
)
def gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation Gini coefficient of customer order revenue — the
    concentration/inequality measure behind 'is this market
    whale-dominated'. Uses the rank identity
    G = 2·Σ i·x_i / (n·Σx) − (n+1)/n on revenue sorted ascending
    (custkey tie-break makes the rank total), so after the keyed
    revenue agg it is one nation-partitioned window + one agg — no
    O(n²) pairwise |x_i − x_j|, no global sort. Revenue is BIGINT
    CENTS end to end (gini is scale-invariant, so the unit cancels):
    the rank key, Σ i·x and Σx are then exact integers and the one
    double division is identical in both engines — a raw double sum
    fed both the ORDER BY and the 4dp floor, order-dependently."""
    from pyspark.sql import Window

    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    rev = (
        c.join(o, o.o_custkey == c.c_custkey)
        .groupBy("c_nationkey", "c_custkey")
        .agg(F.sum(cents("o_totalprice")).alias("revenue"))
    )
    w = Window.partitionBy("c_nationkey").orderBy("revenue", "c_custkey")
    ranked = rev.select("c_nationkey", "revenue", F.row_number().over(w).alias("i"))
    n = F.count(F.lit(1))
    gini = (
        F.lit(2.0) * F.sum(F.col("i") * F.col("revenue")) / (n * F.sum("revenue"))
        - (n + F.lit(1.0)) / n
    )
    return ranked.groupBy("c_nationkey").agg(
        n.alias("n_cust"), round_half_up(gini, 4).alias("gini")
    )


@query(
    "mutual_information",
    oracle="""
    WITH joint AS (
        SELECT lang, source, count(*) AS n_xy
        FROM documents GROUP BY lang, source
    ), nx AS (
        SELECT lang, sum(n_xy) AS n_x FROM joint GROUP BY lang
    ), ny AS (
        SELECT source, sum(n_xy) AS n_y FROM joint GROUP BY source
    ), tot AS (
        SELECT sum(n_xy) AS n FROM joint
    )
    SELECT j.lang,
           CAST(max(nx.n_x) AS BIGINT) AS n_lang,
           floor(sum((j.n_xy * 1.0 / tot.n)
                     * ln((j.n_xy * 1.0 * tot.n)
                          / (nx.n_x * 1.0 * ny.n_y)))
                 * 1000000 + 0.5) / 1000000 AS mi_part
    FROM joint j
    JOIN nx USING (lang) JOIN ny USING (source) CROSS JOIN tot
    GROUP BY j.lang
    """,
    section="2.11 feature diagnostics: mutual information (lang ; source)",
)
def mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between the lang and source columns,
    reported as per-lang contributions (their sum is I(lang;source)
    in nats) — the information-theoretic sibling of
    `chi2_independence` over the same contingency table, and the
    standard 'is this metadata column informative about that one'
    corpus diagnostic. One scan: the joint contingency groupBy; the
    marginals derive from the joint frame (agg-sized, broadcast back)
    so the raw table is never re-read, and the grand total rides a
    1-row broadcast — no global window. Both engines feed ln() the
    bit-identical double (n_xy*N)/(n_x*n_y) (integer products below
    2^53 are exact in doubles); summation-order ulps are crushed by
    the 6dp half-up round."""
    d = load_table(spark, sf_dir, "documents").select("lang", "source")
    joint = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n_xy"))
    nx = joint.groupBy("lang").agg(F.sum("n_xy").alias("n_x"))
    ny = joint.groupBy("source").agg(F.sum("n_xy").alias("n_y"))
    tot = joint.agg(F.sum("n_xy").alias("n"))
    g = (
        joint.join(F.broadcast(nx), "lang")
        .join(F.broadcast(ny), "source")
        .crossJoin(F.broadcast(tot))
    )
    term = (F.col("n_xy") / F.col("n")) * F.log(
        (F.col("n_xy") * F.lit(1.0) * F.col("n"))
        / (F.col("n_x") * F.lit(1.0) * F.col("n_y"))
    )
    return g.groupBy("lang").agg(
        F.max("n_x").cast("bigint").alias("n_lang"),
        round_half_up(F.sum(term), 6).alias("mi_part"),
    )


@query(
    "k_anonymity_audit",
    oracle="""
    WITH qi AS (
        SELECT c_nationkey, c_mktsegment, count(*) AS grp
        FROM customer
        GROUP BY c_nationkey, c_mktsegment
    )
    SELECT CAST(count(*) AS BIGINT)                       AS n_groups,
           CAST(min(grp) AS BIGINT)                       AS k_anonymity,
           CAST(sum(CASE WHEN grp < 5 THEN 1 ELSE 0 END)
                AS BIGINT)                                AS groups_below_5,
           CAST(sum(CASE WHEN grp < 5 THEN grp ELSE 0 END)
                AS BIGINT)                                AS customers_at_risk
    FROM qi
    """,
    section="2.11 privacy audit: k-anonymity over quasi-identifiers",
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compliance-style privacy audit before a table is released as
    training data: group by the quasi-identifier tuple (nation,
    market segment) and report the dataset's k-anonymity (the
    SMALLEST group — any individual is hidden among at least k
    records), plus how many groups and records fall below the
    conventional k=5 release threshold. One keyed agg (map-side
    combined) and a 125-group rollup — the shape is identical at any
    record count because the group space is the QI domain, not the
    row count. All outputs are exact integers.
    """
    d = load_table(spark, sf_dir, "customer")
    qi = d.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("grp")
    )
    return qi.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.min("grp").cast("bigint").alias("k_anonymity"),
        F.sum(F.when(F.col("grp") < 5, 1).otherwise(0))
        .cast("bigint")
        .alias("groups_below_5"),
        F.sum(F.when(F.col("grp") < 5, F.col("grp")).otherwise(0))
        .cast("bigint")
        .alias("customers_at_risk"),
    )


@query(
    "skew_stats",
    oracle="""
    WITH per_key AS (
        SELECT o_custkey AS key, count(*) AS n_rows
        FROM orders GROUP BY o_custkey
    ),
    tot AS (
        SELECT CAST(sum(n_rows) AS BIGINT) AS total,
               count(*)                    AS n_keys
        FROM per_key
    )
    SELECT p.key,
           p.n_rows,
           floor(p.n_rows * 1.0 / t.total * 10000 + 0.5) / 10000      AS share,
           floor(p.n_rows * 1.0 * t.n_keys / t.total * 10000 + 0.5) / 10000
               AS skew_factor
    FROM per_key p CROSS JOIN tot t
    ORDER BY p.n_rows DESC, p.key
    LIMIT 10
    """,
    section="2.3/2.11 join-key skew diagnosis (the report behind the salting decision)",
)
def skew_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The diagnostic a join tuner runs BEFORE reaching for
    `join_salted_skew` or AQE skew splitting: the 10 heaviest join
    keys with their row share and skew factor (rows vs the mean
    rows-per-key — factor 1.0 is perfectly uniform; the factor tells
    you how many salt buckets the hot key needs). Plan: one map-side-
    combined count per key (the same shuffle the join itself would
    pay, so the report costs nothing extra in a pipeline that joins
    anyway), a 1-row total broadcast, TakeOrdered top-10 — the output
    is 10 rows at any corpus size."""
    per_key = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("key"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    tot = per_key.agg(
        F.sum("n_rows").cast("bigint").alias("total"),
        F.count(F.lit(1)).alias("n_keys"),
    )
    return (
        per_key.crossJoin(F.broadcast(tot))
        .select(
            "key",
            "n_rows",
            (F.floor(F.col("n_rows") * 1.0 / F.col("total") * 10000 + 0.5) / 10000).alias("share"),
            (
                F.floor(
                    F.col("n_rows") * 1.0 * F.col("n_keys") / F.col("total") * 10000
                    + 0.5
                )
                / 10000
            ).alias("skew_factor"),
        )
        .orderBy(F.col("n_rows").desc(), "key")
        .limit(10)
    )


@query(
    "retention_cohorts",
    oracle="""
    WITH firsts AS (
        SELECT user_id,
               CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
        FROM events GROUP BY user_id
    ), act AS (
        SELECT DISTINCT user_id,
               CAST(date_trunc('week', ts) AS DATE) AS week
        FROM events
    ), j AS (
        SELECT f.cohort_week, a.user_id,
               CAST(date_diff('day', f.cohort_week, a.week) / 7 AS INT)
                   AS week_offset
        FROM act a JOIN firsts f ON f.user_id = a.user_id
    ), sizes AS (
        SELECT cohort_week, count(*) AS n_cohort FROM firsts
        GROUP BY cohort_week
    ), ret AS (
        SELECT cohort_week, week_offset, count(DISTINCT user_id) AS n_active
        FROM j WHERE week_offset BETWEEN 0 AND 3
        GROUP BY cohort_week, week_offset
    )
    SELECT r.cohort_week, r.week_offset,
           CAST(r.n_active AS BIGINT)  AS n_active,
           CAST(s.n_cohort AS BIGINT)  AS n_cohort,
           floor(r.n_active::DOUBLE / s.n_cohort * 10000 + 0.5) / 10000
               AS retention
    FROM ret r JOIN sizes s ON s.cohort_week = r.cohort_week
    """,
    section="2.9/2.11 retention cohort matrix (weekly signup cohorts x week offset)",
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classic cohort-retention matrix: users bucketed by the ISO
    week of their FIRST event (Monday-truncated in both engines),
    then for offsets 0..3 weeks the share of each cohort active in
    that week — the table behind every retention curve and the
    per-cohort engagement read `rolling_active_users` can't give
    (it has no cohort axis).

    Exactness: week buckets are date_trunc('week') DATEs, so the
    offset is an exact integer (Monday-to-Monday gaps are multiples
    of 7 days); counts are integers and the single ratio is 4dp
    half-up pinned. Plan: one groupBy(user) for first events, one
    distinct over (user, week) — both map-side combined on the same
    user_id shuffle — then dim-sized (cohort, offset) aggregation;
    no window, no fan-out, carries to 100 TB unchanged."""
    e = load_table(spark, sf_dir, "events")
    firsts = (
        e.groupBy("user_id")
        .agg(F.min("ts").alias("first_ts"))
        .select(
            "user_id",
            F.date_trunc("week", F.col("first_ts")).cast("date").alias("cohort_week"),
        )
    )
    act = e.select(
        "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("week")
    ).distinct()
    j = act.join(firsts, "user_id").select(
        "cohort_week",
        "user_id",
        (F.datediff("week", "cohort_week") / 7).cast("int").alias("week_offset"),
    )
    sizes = firsts.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("n_cohort")
    )
    ret = (
        j.filter(F.col("week_offset").between(0, 3))
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_active"))
    )
    return ret.join(sizes, "cohort_week").select(
        "cohort_week",
        "week_offset",
        F.col("n_active").cast("bigint").alias("n_active"),
        F.col("n_cohort").cast("bigint").alias("n_cohort"),
        round_half_up(
            F.col("n_active").cast("double") / F.col("n_cohort"), 4
        ).alias("retention"),
    )


@query(
    "l_diversity_audit",
    oracle="""
    WITH sens AS (
        SELECT c_nationkey, c_mktsegment,
               CAST(floor(c_acctbal / 1000) AS BIGINT) AS band
        FROM customer
    ), qi AS (
        SELECT c_nationkey, c_mktsegment,
               count(*) AS grp,
               count(DISTINCT band) AS l
        FROM sens
        GROUP BY c_nationkey, c_mktsegment
    )
    SELECT CAST(count(*) AS BIGINT)                    AS n_groups,
           CAST(min(l) AS BIGINT)                      AS l_diversity,
           CAST(sum(CASE WHEN l < 3 THEN 1 ELSE 0 END)
                AS BIGINT)                             AS groups_below_3,
           CAST(sum(CASE WHEN l < 3 THEN grp ELSE 0 END)
                AS BIGINT)                             AS customers_at_risk
    FROM qi
    """,
    section="2.11 privacy audit: l-diversity of a sensitive attribute",
)
def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audit k-anonymity alone misses (Machanavajjhala et al.,
    public): a group can be large (k-anonymous) yet leak its members'
    sensitive value when everyone in it SHARES that value — so per
    quasi-identifier group (nation, market segment), count the
    DISTINCT values of the sensitive attribute (the account-balance
    thousand-band, the banding a release would publish) and report
    the dataset's l-diversity (the least-diverse group), plus the
    groups and records below the conventional l=3 bar. Same
    QI-domain-bounded shape as `k_anonymity_audit`: one keyed agg
    whose group space is the QI domain regardless of row count, with
    the distinct-count inside the same exchange. The band boundary is
    floor of an exact-cents decimal scaled by 1000 — no float can sit
    on it. All outputs exact integers."""
    d = load_table(spark, sf_dir, "customer")
    qi = (
        d.select(
            "c_nationkey",
            "c_mktsegment",
            F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("band"),
        )
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("grp"),
            F.countDistinct("band").alias("l"),
        )
    )
    return qi.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.min("l").cast("bigint").alias("l_diversity"),
        F.sum(F.when(F.col("l") < 3, 1).otherwise(0))
        .cast("bigint")
        .alias("groups_below_3"),
        F.sum(F.when(F.col("l") < 3, F.col("grp")).otherwise(0))
        .cast("bigint")
        .alias("customers_at_risk"),
    )


# Benford first-digit shares log10(1 + 1/d), computed ONCE in Python
# and embedded as repr literals in BOTH the Column plan and the oracle
# (the decayed_sum cross-libm discipline: neither engine evaluates
# log10 at runtime, so the expectation cannot drift by a libm ulp).
_BENFORD_P = {
    d: repr(__import__("math").log10(1 + 1 / d)) for d in range(1, 10)
}
# CAST AS DOUBLE: DuckDB types a bare 16-digit literal DECIMAL and
# keeps the whole chi2 chain in DECIMAL (overflow at the 1e6 scale,
# and a different rounding lattice than the engine's doubles) — the
# bm25_param_sweep DECIMAL-vs-float guard
_BENFORD_CASE_SQL = (
    "CASE digit "
    + " ".join(
        f"WHEN '{d}' THEN CAST({p} AS DOUBLE)" for d, p in _BENFORD_P.items()
    )
    + " END"
)


@query(
    "benford_audit",
    oracle=f"""
    WITH digits AS (
        SELECT substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                           AS VARCHAR), 1, 1) AS digit
        FROM orders WHERE o_totalprice > 0
    ), obs AS (
        SELECT digit, count(*) AS n_obs FROM digits GROUP BY digit
    ), tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM obs)
    SELECT digit,
           CAST(n_obs AS BIGINT) AS n_obs,
           floor(n_obs * 1.0 / t.n * 1000000 + 0.5) / 1000000 AS obs_share,
           floor(({_BENFORD_CASE_SQL}) * 1000000 + 0.5) / 1000000
               AS benford_share,
           floor(
               (n_obs - t.n * ({_BENFORD_CASE_SQL}))
               * (n_obs - t.n * ({_BENFORD_CASE_SQL}))
               / (t.n * ({_BENFORD_CASE_SQL})) * 1000000 + 0.5
           ) / 1000000 AS chi2_term
    FROM obs CROSS JOIN tot t
    """,
    section="2.11 Benford first-digit audit (fraud/data-quality screen)",
)
def benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classic forensic data-quality screen (Benford 1938, public;
    the auditors' first test on financial columns): the distribution
    of first significant digits of order totals against the Benford
    expectation P(d) = log10(1 + 1/d), with the per-digit chi-square
    contribution — large terms point at fabricated or truncated value
    ranges. The first digit derives from EXACT INTEGER CENTS
    (round(x·100) as BIGINT, then the integer's first character —
    scaling by 100 never changes the leading significant digit), so
    no float log or double-to-string shortest-repr edge can disagree
    between engines; the nine Benford shares are repr literals
    embedded on both sides. One keyed 9-group agg + a 1-row broadcast
    total — the QI-domain shape: constant group space at any corpus
    size. (Synthetic uniform-ish fixture prices will FAIL the test —
    large chi2 terms — which is itself the expected, verifiable
    output.)"""
    d = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    digits = d.select(
        F.substring(
            F.round(F.col("o_totalprice") * 100).cast("bigint").cast("string"),
            1, 1,
        ).alias("digit")
    )
    obs = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("n_obs"))
    tot = obs.agg(F.sum("n_obs").cast("bigint").alias("n"))
    p = F.expr(_BENFORD_CASE_SQL)
    exp_n = F.col("n") * p
    return obs.crossJoin(F.broadcast(tot)).select(
        "digit",
        F.col("n_obs").cast("bigint").alias("n_obs"),
        round_half_up(F.col("n_obs") * 1.0 / F.col("n"), 6).alias("obs_share"),
        round_half_up(p, 6).alias("benford_share"),
        round_half_up(
            (F.col("n_obs") - exp_n) * (F.col("n_obs") - exp_n) / exp_n, 6
        ).alias("chi2_term"),
    )
