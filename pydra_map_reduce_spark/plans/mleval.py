"""Model/data evaluation queries: AUC, calibration, k-NN voting,
Gopher-style document quality rules. SURVEY.md §2.11.

The evaluation half of a training-data pipeline: once a quality score
or classifier exists, these are the queries that say whether it works
(ranking power, calibration), serve it (k-NN label transfer), and
gate documents on the published rule-based filters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import textops
from ..operators.textops import (
    cents,
    hash_bucket,
    hash_bucket_sql,
    round_half_up,
    signed_round_half_up,
)
from ..session_cache import CORPUS, SMALL, materialize, session_cached
from ..sources.tables import load_table
from .registry import query


@query(
    "auc_score",
    oracle="""
    WITH vals AS (
        SELECT value AS v, count(*) AS n,
               sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p
        FROM events WHERE value IS NOT NULL GROUP BY value
    ), ranked AS (
        SELECT v, n, p,
               coalesce(sum(n) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_less
        FROM vals
    )
    SELECT CAST(sum(p) AS BIGINT)     AS n_pos,
           CAST(sum(n - p) AS BIGINT) AS n_neg,
           floor((sum(p * (2 * cum_less + n + 1)) - sum(p) * (sum(p) + 1))
                 * 1.0 / nullif(2 * sum(p) * sum(n - p), 0) * 1000000 + 0.5)
           / 1000000 AS auc
    FROM ranked
    """,
    section="2.11 ROC AUC via rank-sum (Mann-Whitney, tie-averaged)",
)
def auc_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC AUC of `value` as a purchase predictor, via the
    Mann-Whitney identity AUC = (R⁺ − n⁺(n⁺+1)/2) / (n⁺n⁻) with
    tie-averaged ranks. Runs on the DISTINCT-VALUE grid, not raw
    rows (the ks_drift trick): per-value counts shuffle once, the
    rank window is bounded by the value domain, and ranks come from
    cumulative counts — no global row sort at any corpus size.
    Everything stays integer (2·avg_rank = 2·cum_less + n + 1) until
    the single final division, so both engines divide identical
    BIGINTs — exact to the last bit before the 6dp rounding. Generic
    form: operators/quality.auc (Pipeline API: .auc)."""
    from ..operators import quality

    e = load_table(spark, sf_dir, "events").select(
        "value",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("is_purchase"),
    )
    return quality.auc(e, "value", "is_purchase")


_CAL_BIN = 50.0  # value-bin width for the calibration table


@query(
    "calibration_bins",
    oracle=f"""
    SELECT least(CAST(floor(value / {_CAL_BIN}) AS BIGINT), 9) AS bin,
           count(*) AS n,
           floor(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                 * 1.0 / count(*) * 10000 + 0.5) / 10000 AS purchase_rate,
           floor(sum(CAST(round(value * 100) AS BIGINT)) / 100.0 / count(*)
                 * 10000 + 0.5) / 10000 AS avg_value
    FROM events
    WHERE value IS NOT NULL
    GROUP BY 1
    """,
    section="2.11 calibration / reliability table (binned score vs outcome rate)",
)
def calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram data: bucket the score (`value`, width-50
    bins, top bucket clamped) and compare each bucket's empirical
    purchase rate to its average score. One scan, one keyed agg into
    ≤10 groups. Rates are integer ratios (half-up rounded); the score
    average sums fixed-point cents so summation order can't move the
    4th decimal. NULL scores are EXCLUDED (the auc_score guard): an
    unscored event belongs to no reliability bucket — without the
    filter `least(NULL-skipping floor, 9)` quietly files it in the
    TOP bin on both engines and biases that bin's rate/mean while the
    differential stays green."""
    e = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    purchase = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    value_cents = cents("value")
    return (
        e.groupBy(
            F.least(
                F.floor(F.col("value") / _CAL_BIN).cast("bigint"), F.lit(9)
            ).alias("bin")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            round_half_up(F.sum(purchase) * 1.0 / F.count(F.lit(1)), 4).alias(
                "purchase_rate"
            ),
            round_half_up(F.sum(value_cents) / 100.0 / F.count(F.lit(1)), 4).alias(
                "avg_value"
            ),
        )
    )


_KNN_QUERIES = 16  # held-out query block (vec_id < this)
_KNN_K = 5  # neighborhood size for the vote


@query(
    "knn_classify",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
               FROM embeddings),
    q AS (SELECT vec_id AS query_id, label AS true_label, emb AS qv
          FROM e WHERE vec_id < {_KNN_QUERIES}),
    scored AS (
        SELECT q.query_id, q.true_label, e.label,
               row_number() OVER (PARTITION BY q.query_id
                                  ORDER BY floor(list_cosine_similarity(e.emb, q.qv)
                                                 * 1e9 + 0.5) / 1e9 DESC,
                                           e.vec_id) AS rank
        FROM e CROSS JOIN q
        WHERE e.vec_id >= {_KNN_QUERIES}
    ),
    votes AS (
        SELECT query_id, true_label, label, count(*) AS n_votes
        FROM scored WHERE rank <= {_KNN_K}
        GROUP BY query_id, true_label, label
    ),
    best AS (
        SELECT query_id, true_label, label AS pred_label,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY n_votes DESC, label) AS vr
        FROM votes
    )
    SELECT query_id, true_label, pred_label,
           CAST(pred_label = true_label AS BOOLEAN) AS correct
    FROM best WHERE vr = 1
    """,
    section="2.11 k-NN classification (cosine top-5 majority vote)",
)
def knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label transfer by embedding neighborhood: the 16 held-out
    query vectors get the majority label of their 5 nearest corpus
    neighbors (tie → smaller label, deterministic). Same
    one-corpus-pass shape as ann_batch_topk — query block broadcast,
    per-query window rank — plus a vote aggregate that touches only
    k·n_queries rows. At 100 TB the brute fan-out swaps for the IVF
    router exactly as in ann_batch_topk; the vote layer is unchanged.
    Generic form: operators/similarity.knn_classify (Pipeline API:
    .classify_knn)."""
    from ..operators import similarity

    return similarity.knn_classify(
        load_table(spark, sf_dir, "embeddings"),
        "vec_id",
        "embedding",
        "label",
        n_queries=_KNN_QUERIES,
        k=_KNN_K,
    )


# The Gopher per-document gate flags as shared CTE text: ONE
# definition feeding both gopher_rules (per-source pass counts) and
# filter_funnel (cumulative attrition). SQL twin of
# :func:`_gopher_flags`.
# Whitespace is the EXPLICIT class [ \t\n\r\f], never \s: Java's \s
# additionally matches \x0B (vertical tab) while RE2's does not, so a
# document containing VT would tokenize differently per engine — the
# explicit class is identical in both regex dialects.
_GOPHER_FLAGS_CTES = """toks AS (
        SELECT doc_id, source,
               string_split_regex(trim(text), '[ \\t\\n\\r\\f]+') AS ws,
               len(string_split_regex(trim(text), '[ \\t\\n\\r\\f]+')) AS n_words,
               len(regexp_replace(text, '[ \\t\\n\\r\\f]', '', 'g')) AS n_alpha
        FROM documents
    ),
    flags AS (
        SELECT doc_id, source,
               CASE WHEN n_words BETWEEN 20 AND 100000 THEN 1 ELSE 0 END AS ok_nwords,
               CASE WHEN n_alpha * 1.0 / n_words >= 3
                     AND n_alpha * 1.0 / n_words <= 10 THEN 1 ELSE 0 END AS ok_meanlen,
               CASE WHEN list_max(list_transform(ws, x -> len(x))) <= 15
                    THEN 1 ELSE 0 END AS ok_maxlen,
               CASE WHEN (CASE WHEN list_contains(ws, 'the') THEN 1 ELSE 0 END
                        + CASE WHEN list_contains(ws, 'a') THEN 1 ELSE 0 END
                        + CASE WHEN list_contains(ws, 'of') THEN 1 ELSE 0 END
                        + CASE WHEN list_contains(ws, 'and') THEN 1 ELSE 0 END
                        + CASE WHEN list_contains(ws, 'to') THEN 1 ELSE 0 END) >= 2
                    THEN 1 ELSE 0 END AS ok_stop
        FROM toks
    )"""


def _gopher_flags(d: DataFrame) -> DataFrame:
    """(doc_id, source, ok_nwords, ok_meanlen, ok_maxlen, ok_stop) — the
    Gopher gate flags per document. Column twin of
    :data:`_GOPHER_FLAGS_CTES`; gopher_rules aggregates them per
    source, filter_funnel folds them into cumulative survivors."""
    # explicit whitespace class, matching _GOPHER_FLAGS_CTES (Java \s
    # includes \x0B, RE2 \s does not — see the comment there)
    ws = F.split(F.trim(F.col("text")), r"[ \t\n\r\f]+")
    toks = d.select(
        "doc_id",
        "source",
        ws.alias("ws"),
        F.size(ws).alias("n_words"),
        F.length(F.regexp_replace(F.col("text"), r"[ \t\n\r\f]", "")).alias("n_alpha"),
    )
    mean_len = F.col("n_alpha") * 1.0 / F.col("n_words")
    stop_hits = sum(
        F.when(F.array_contains(F.col("ws"), s), 1).otherwise(0)
        for s in ("the", "a", "of", "and", "to")
    )
    return toks.select(
        "doc_id",
        "source",
        F.when(F.col("n_words").between(20, 100000), 1).otherwise(0).alias("ok_nwords"),
        F.when((mean_len >= 3) & (mean_len <= 10), 1).otherwise(0).alias("ok_meanlen"),
        F.when(
            F.array_max(F.transform(F.col("ws"), F.length)) <= 15, 1
        ).otherwise(0).alias("ok_maxlen"),
        F.when(stop_hits >= 2, 1).otherwise(0).alias("ok_stop"),
    )


@query(
    "gopher_rules",
    oracle=f"""
    WITH {_GOPHER_FLAGS_CTES}
    SELECT source,
           count(*)                                               AS n_docs,
           CAST(sum(ok_nwords) AS BIGINT)                         AS pass_nwords,
           CAST(sum(ok_meanlen) AS BIGINT)                        AS pass_meanlen,
           CAST(sum(ok_maxlen) AS BIGINT)                         AS pass_maxlen,
           CAST(sum(ok_stop) AS BIGINT)                           AS pass_stop,
           CAST(sum(ok_nwords * ok_meanlen * ok_maxlen * ok_stop)
                AS BIGINT)                                        AS pass_all
    FROM flags GROUP BY source
    """,
    section="2.11 Gopher-style rule filter (length/word-shape/stopword gates)",
)
def gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based document gate in the style of the published Gopher
    quality filters (Rae et al. 2021, public): word-count bounds,
    mean-word-length band [3,10], max-word-length cap, and a ≥2
    distinct-stopwords requirement; reported per source as per-rule
    and all-rules pass counts. Everything is split/length/contains —
    whole-stage codegen, one scan, one keyed agg; the mean-length
    band compares an exact integer ratio, so the [3,10] cut is
    engine-independent."""
    flags = _gopher_flags_cached(spark, sf_dir)
    return flags.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ok_nwords").cast("bigint").alias("pass_nwords"),
        F.sum("ok_meanlen").cast("bigint").alias("pass_meanlen"),
        F.sum("ok_maxlen").cast("bigint").alias("pass_maxlen"),
        F.sum("ok_stop").cast("bigint").alias("pass_stop"),
        F.sum(
            F.col("ok_nwords") * F.col("ok_meanlen") * F.col("ok_maxlen") * F.col("ok_stop")
        )
        .cast("bigint")
        .alias("pass_all"),
    )


@query(
    "filter_funnel",
    oracle=f"""
    WITH {_GOPHER_FLAGS_CTES},
    agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(ok_nwords) AS BIGINT) AS s1,
               CAST(sum(ok_nwords * ok_meanlen) AS BIGINT) AS s2,
               CAST(sum(ok_nwords * ok_meanlen * ok_maxlen) AS BIGINT) AS s3,
               CAST(sum(ok_nwords * ok_meanlen * ok_maxlen * ok_stop)
                    AS BIGINT) AS s4
        FROM flags
    )
    SELECT * FROM (
        SELECT CAST(1 AS BIGINT) AS stage, 'word_count' AS gate,
               n AS docs_in, s1 AS docs_out,
               floor((n - s1) * 1.0 / n * 10000 + 0.5) / 10000 AS drop_pct
        FROM agg
        UNION ALL
        SELECT 2, 'mean_word_length', s1, s2,
               floor((s1 - s2) * 1.0 / s1 * 10000 + 0.5) / 10000 FROM agg
        UNION ALL
        SELECT 3, 'max_word_length', s2, s3,
               floor((s2 - s3) * 1.0 / s2 * 10000 + 0.5) / 10000 FROM agg
        UNION ALL
        SELECT 4, 'stopword_presence', s3, s4,
               floor((s3 - s4) * 1.0 / s3 * 10000 + 0.5) / 10000 FROM agg
    ) ORDER BY stage
    """,
    section="2.11 filter-funnel attrition report (cumulative quality gates)",
)
def filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline observability for the quality gates: apply the Gopher
    rules CUMULATIVELY (word-count -> mean-word-length ->
    max-word-length -> stopword presence) and report per stage how
    many documents enter, how many survive, and the drop rate — the
    attrition funnel a data team reads before shipping a filter
    config (per-rule pass counts alone, gopher_rules' output, hide
    which gate does the killing in sequence). Gate definitions are
    the SHARED `_gopher_flags` / `_GOPHER_FLAGS_CTES` pair, so the
    funnel can never disagree with the per-rule report.

    Plan: one scan, one 1-row aggregate of cumulative-product flags,
    then a 4-row stack — no second pass per stage. Drop rates divide
    exact BIGINTs once and floor identically on both engines. A
    stage with zero entrants would divide by zero: both engines
    yield NULL there alike (n >= 1 at every fixture SF, so the branch
    is structural, not exercised).
    """
    flags = _gopher_flags_cached(spark, sf_dir)
    agg = flags.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("ok_nwords").cast("bigint").alias("s1"),
        F.sum(F.col("ok_nwords") * F.col("ok_meanlen")).cast("bigint").alias("s2"),
        F.sum(F.col("ok_nwords") * F.col("ok_meanlen") * F.col("ok_maxlen"))
        .cast("bigint")
        .alias("s3"),
        F.sum(
            F.col("ok_nwords")
            * F.col("ok_meanlen")
            * F.col("ok_maxlen")
            * F.col("ok_stop")
        )
        .cast("bigint")
        .alias("s4"),
    )
    stack = F.expr(
        "stack(4,"
        " cast(1 as bigint), 'word_count', n, s1,"
        " cast(2 as bigint), 'mean_word_length', s1, s2,"
        " cast(3 as bigint), 'max_word_length', s2, s3,"
        " cast(4 as bigint), 'stopword_presence', s3, s4"
        ") as (stage, gate, docs_in, docs_out)"
    )
    return (
        agg.select(stack)
        .select(
            "stage",
            "gate",
            "docs_in",
            "docs_out",
            (
                F.floor(
                    (F.col("docs_in") - F.col("docs_out"))
                    * 1.0
                    / F.col("docs_in")
                    * 10000
                    + 0.5
                )
                / 10000
            ).alias("drop_pct"),
        )
        .orderBy("stage")
    )


_FH_DIM = 16  # feature-hashing dimensionality


@query(
    "feature_hashing",
    oracle=f"""
    WITH toks AS (
        SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
    )
    SELECT source,
           {hash_bucket_sql('tok', _FH_DIM)} AS bucket,
           count(*) AS n_tokens,
           count(DISTINCT tok) AS n_distinct
    FROM toks
    GROUP BY source, bucket
    """,
    section="2.11 feature hashing (fixed-dim hashed bag-of-words encoder)",
)
def feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick: tokens map to a FIXED 16-bucket (_FH_DIM)
    feature space via a hash, so the encoder needs no vocabulary
    table — the property that makes it the 100 TB feature encoder
    (a one-hot encoder's vocab is corpus-sized state that must be
    built, broadcast, and versioned; the hash needs none of that,
    trading controlled collisions). md5-derived buckets keep the
    assignment engine-portable (same tradeoff as
    minhash_lsh_portable); per-(source, bucket) token totals and
    distinct counts are the collision diagnostic."""
    d = load_table(spark, sf_dir, "documents")
    tok = F.explode(F.split(F.col("text"), " ")).alias("tok")
    toks = d.select("source", tok)
    bucket = hash_bucket("tok", _FH_DIM).alias("bucket")
    return toks.groupBy("source", bucket).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.count_distinct("tok").alias("n_distinct"),
    )


# ONE linear-scorer definition (hashed features x fixed integer weight
# table -> per-doc sigmoid quality, 4dp), as a paired SQL/Column
# builder: linear_quality_score REPORTS the scores and pr_curve grades
# them against the Gopher gate, so a one-sided edit to the weight
# formula, the bucket hash, or the rounding would silently fork the
# two (the _gopher_flags/_GOPHER_FLAGS_CTES convention). CTE names are
# l-prefixed so the text composes next to the Gopher CTEs.
_LINEAR_SCORE_CTES = f"""lw AS (
        SELECT i AS bucket, (i * 37) % 21 - 10 AS w_int
        FROM range({_FH_DIM}) t(i)
    ), ltoks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ), lfeat AS (
        SELECT t.doc_id,
               {hash_bucket_sql('t.tok', _FH_DIM)}
                   AS bucket
        FROM ltoks t
    ), lscored AS (
        SELECT f.doc_id,
               count(*)      AS n_tokens,
               sum(w.w_int)  AS sum_w,
               floor(1.0 / (1.0 + exp(-(sum(w.w_int) / (10.0 * count(*)))))
                     * 10000 + 0.5) / 10000 AS quality
        FROM lfeat f JOIN lw w ON f.bucket = w.bucket
        GROUP BY f.doc_id
    )"""


def _linear_scored(d: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, sum_w, quality) — the linear scorer's
    per-document frame. Column twin of :data:`_LINEAR_SCORE_CTES`;
    see linear_quality_score for the numeric layering rationale."""
    weights = d.sparkSession.range(_FH_DIM).select(
        F.col("id").alias("bucket"),
        ((F.col("id") * 37) % 21 - 10).cast("bigint").alias("w_int"),
    )
    toks = d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok"))
    feat = toks.select("doc_id", hash_bucket("tok", _FH_DIM).alias("bucket"))
    scored = (
        feat.join(F.broadcast(weights), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("w_int").alias("sum_w"),
        )
    )
    quality = round_half_up(
        1.0 / (1.0 + F.exp(-(F.col("sum_w") / (10.0 * F.col("n_tokens"))))), 4
    )
    return scored.select("doc_id", "n_tokens", "sum_w", quality.alias("quality"))


# Session caches for the two most-shared per-document frames: the
# Gopher gate flags (6 narrow columns, map-only build) and the linear
# scorer's quality frame (one explode+broadcast-join+agg corpus pass).
# Eleven call sites across eight queries (gopher_rules, filter_funnel,
# linear_quality_score, pr_curve, quality_classifier_gate,
# platt_scaling, isotonic_calibration, ece/calibration consumers)
# rebuilt them per call before r14. Both frames are doc-sized and
# narrow (a few MB at sf0.1).
@session_cached("documents")
def _gopher_flags_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import _spread

    return materialize(
        _gopher_flags(_spread(load_table(spark, sf_dir, "documents"))), CORPUS
    )


@session_cached("documents")
def _linear_scored_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import _spread

    return materialize(
        _linear_scored(_spread(load_table(spark, sf_dir, "documents"))), CORPUS
    )


@query(
    "linear_quality_score",
    oracle=f"""
    WITH {_LINEAR_SCORE_CTES}
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(sum_w AS BIGINT) AS sum_w,
           quality,
           quality >= 0.5 AS keep
    FROM lscored
    """,
    section="2.11 linear quality scorer (hashed features ⋈ broadcast weights)",
)
def linear_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model inference at corpus scale — the fasttext-style linear
    quality classifier shape: hashed bag-of-words features (the
    vocabulary-free encoder from `feature_hashing`) joined against a
    BROADCAST weight table, integer weight sums per document, then a
    sigmoid to a quality score. The deliberate numeric layering: the
    per-doc accumulation stays in INTEGERS (weights are ints, so
    sum_w is partition-invariant and engine-exact — a float weight
    sum would be order-sensitive), and floats appear only in the
    final per-row sigmoid of an exactly-agreed ratio, rounded at 4dp
    (exp amplifies ulp noise ~1e-13 → ~1e-8; 4dp absorbs it — the
    established exp/log convention). The keep/drop gate compares the
    ROUNDED score, so classification can't flip on engine ulps. At
    100 TB: weights are model state — dim-bounded, broadcast once;
    the only shuffle is the per-doc integer sum. A real trained
    model drops in by replacing the weight frame's formula column
    with loaded parameters; nothing else changes."""
    scored = _linear_scored_cached(spark, sf_dir)
    return scored.select(
        "doc_id", "n_tokens", "sum_w", "quality",
        (F.col("quality") >= 0.5).alias("keep"),
    )


_PR_THRESHOLDS = [round(0.30 + 0.05 * i, 2) for i in range(9)]  # 0.30..0.70


@query(
    "pr_curve",
    oracle=f"""
    WITH {_GOPHER_FLAGS_CTES},
    {_LINEAR_SCORE_CTES},
    j AS (
        SELECT f.doc_id,
               f.ok_nwords * f.ok_meanlen * f.ok_maxlen * f.ok_stop AS pass,
               s.quality
        FROM flags f JOIN lscored s ON s.doc_id = f.doc_id
    ),
    th AS (SELECT unnest(CAST([{", ".join(str(t) for t in _PR_THRESHOLDS)}]
                         AS DOUBLE[])) AS threshold),
    cm AS (
        SELECT th.threshold,
               CAST(sum(CASE WHEN j.quality >= th.threshold AND j.pass = 1
                             THEN 1 ELSE 0 END) AS BIGINT) AS tp,
               CAST(sum(CASE WHEN j.quality >= th.threshold AND j.pass = 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS fp,
               CAST(sum(CASE WHEN j.quality < th.threshold AND j.pass = 1
                             THEN 1 ELSE 0 END) AS BIGINT) AS fn
        FROM j CROSS JOIN th
        GROUP BY th.threshold
    )
    SELECT threshold, tp, fp, fn,
           CASE WHEN tp + fp = 0 THEN NULL
                ELSE floor(tp * 1.0 / (tp + fp) * 10000 + 0.5) / 10000
           END AS precision,
           CASE WHEN tp + fn = 0 THEN NULL
                ELSE floor(tp * 1.0 / (tp + fn) * 10000 + 0.5) / 10000
           END AS recall
    FROM cm
    """,
    section="2.11 precision/recall threshold sweep (cheap scorer vs rule-gate truth)",
)
def pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The keep-line tuning table: precision and recall of the cheap
    linear quality scorer at nine score thresholds, graded against
    the Gopher rule gate as ground truth — the curve a data team
    reads before replacing an expensive rule cascade with one model
    pass ("at what cutoff does the model reproduce the gate?").
    Both legs are the SHARED definitions (`_gopher_flags` /
    `_linear_scored`), so the curve cannot drift from the operators
    it grades.

    All confusion-matrix cells are exact integers; the threshold
    comparisons run on the 4dp-ROUNDED score (identical doubles both
    engines) against fixed literals, so no cell can flip on engine
    ulps; precision/recall are one exact-integer division each,
    NULL (not a fake 0) where the denominator is empty. Scale shape:
    two document scans (gate flags + hashed-feature score), one
    doc-keyed join, then a 9x fan-out of the per-doc row into a
    dim-sized aggregate — the threshold sweep costs one shuffle of
    N x 9 tiny rows, not nine corpus passes."""
    flags = _gopher_flags_cached(spark, sf_dir).select(
        "doc_id",
        (
            F.col("ok_nwords") * F.col("ok_meanlen") * F.col("ok_maxlen") * F.col("ok_stop")
        ).alias("pass"),
    )
    j = flags.join(
        _linear_scored_cached(spark, sf_dir).select("doc_id", "quality"),
        "doc_id",
    )
    th = F.explode(F.array(*[F.lit(t) for t in _PR_THRESHOLDS])).alias("threshold")
    cm = (
        j.select("pass", "quality", th)
        .groupBy("threshold")
        .agg(
            F.sum(((F.col("quality") >= F.col("threshold")) & (F.col("pass") == 1)).cast("int"))
            .cast("bigint")
            .alias("tp"),
            F.sum(((F.col("quality") >= F.col("threshold")) & (F.col("pass") == 0)).cast("int"))
            .cast("bigint")
            .alias("fp"),
            F.sum(((F.col("quality") < F.col("threshold")) & (F.col("pass") == 1)).cast("int"))
            .cast("bigint")
            .alias("fn"),
        )
    )
    ratio = lambda num, den: F.when(  # noqa: E731
        den == 0, F.lit(None).cast("double")
    ).otherwise(F.floor(num * 1.0 / den * 10000 + 0.5) / 10000)
    return cm.select(
        "threshold", "tp", "fp", "fn",
        ratio(F.col("tp"), F.col("tp") + F.col("fp")).alias("precision"),
        ratio(F.col("tp"), F.col("tp") + F.col("fn")).alias("recall"),
    )


_DP_EPSILON = 1.0  # release budget; sensitivity of a count histogram is 1


@query(
    "dp_histogram",
    oracle=f"""
    WITH counts AS (
        SELECT source, count(*) AS true_n FROM documents GROUP BY source
    ), draw AS (
        SELECT source, true_n,
               {textops.hash_uniform_sql("'dp:' || source")} - 0.5 AS c
        FROM counts
    )
    SELECT source,
           CAST(true_n AS BIGINT) AS true_n,
           floor((true_n + (-1.0 / {_DP_EPSILON})
                  * CASE WHEN c < 0 THEN -1.0 ELSE 1.0 END
                  * ln(greatest(1.0 - 2.0 * abs(c), 1.0 / 4294967296.0)))
                 * 10000 + 0.5) / 10000 AS released_n
    FROM draw
    """,
    section="2.11 differential-privacy release (Laplace-noised histogram, seeded noise)",
)
def dp_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """An epsilon-differentially-private histogram release: per-source
    document counts plus Laplace(1/eps) noise (eps=1, sensitivity 1 —
    the textbook counting-query mechanism), the shape a data team
    uses to publish corpus composition stats without exposing any
    single document's membership. The noise draw is DETERMINISTIC —
    inverse-CDF over the repo's ONE md5-to-[0,1) mapping
    (textops.hash_uniform, keyed 'dp:<source>') — which is what makes
    a 100 TB release auditable and re-buildable bit-for-bit; a
    production release would rotate the key, not the mechanism. The
    true_n column is the evaluation's reference (this is the graded
    demonstrator; an actual release ships only released_n).

    Scale: one keyed count (map-side combined), then a dim-sized
    projection — the noise is pure per-row expression, no RNG state.
    Cross-engine: u is an exact dyadic rational, ln sees the
    identical double on both sides, and the released value is pinned
    at 4dp (the exp/ln ulp convention)."""
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("true_n"))
    c = textops.hash_uniform(F.concat(F.lit("dp:"), F.col("source"))) - 0.5
    # greatest(..., 2^-32) clamps the u=0 corner (a ~2^-32-per-key md5
    # draw): Spark ln(0) is NULL while DuckDB raises — either way the
    # release would silently lose (or crash on) that group; the clamp
    # caps the noise at ~22b, deterministically, on both engines
    lap = (
        F.lit(-1.0 / _DP_EPSILON)
        * F.when(c < 0, -1.0).otherwise(1.0)
        * F.log(F.greatest(1.0 - 2.0 * F.abs(c), F.lit(1.0 / 4294967296.0)))
    )
    return counts.select(
        "source",
        F.col("true_n").cast("bigint").alias("true_n"),
        (F.floor((F.col("true_n") + lap) * 10000 + 0.5) / 10000).alias("released_n"),
    )


_BS_REPS = 32  # bootstrap replicates; CI from the rank-2/rank-31 order stats


@query(
    "bootstrap_ci",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, n_chars FROM documents WHERE n_chars IS NOT NULL
    ), reps AS (SELECT unnest(range({_BS_REPS})) AS b),
    wtd AS (
        SELECT r.b,
               CAST(floor(-ln(greatest(
                   {textops.hash_uniform_sql("'bs:' || r.b || ':' || d.doc_id")},
                   1.0 / 4294967296.0)) * 1000000 + 0.5) AS BIGINT) AS w,
               d.n_chars AS x
        FROM d CROSS JOIN reps r
    ), ms AS (
        SELECT b, floor(CAST(sum(w * x) AS DOUBLE) / sum(w) * 1000000 + 0.5)
                  / 1000000 AS m
        FROM wtd GROUP BY b
    ), ranked AS (
        SELECT m, row_number() OVER (ORDER BY m, b) AS rk FROM ms
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM d) AS n_docs,
           (SELECT floor(sum(n_chars) * 1.0 / count(*) * 1000000 + 0.5) / 1000000
            FROM d) AS point_mean,
           (SELECT m FROM ranked WHERE rk = 2) AS ci_low,
           (SELECT m FROM ranked WHERE rk = {_BS_REPS - 1}) AS ci_high
    """,
    section="2.11 bootstrap confidence interval (seeded Bayesian bootstrap)",
)
def bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """An error bar for a corpus metric WITHOUT resampling the data:
    the Bayesian bootstrap (Rubin 1981) — each of 32 replicates
    reweights every document by an exponential draw w = −ln(u) and
    recomputes the weighted mean of n_chars; the CI is the
    rank-2/rank-31 order statistics of the replicate means (≈90%
    interval). The draws come from the repo's ONE md5-to-[0,1)
    mapping keyed ('bs:<replicate>:<doc_id>'), and the weights pin to
    e6 fixed-point BIGINTs before aggregation, so every replicate sum
    is EXACT — the interval is bit-reproducible across engines, runs,
    and repartitions (a raw double weight sum would drift with
    partition order), the property that lets a data team attach error
    bars to corpus dashboards and diff them release-over-release. The
    u=0 corner is clamped at 2^-32 (the dp_histogram guard: Spark
    ln(0) is NULL where DuckDB raises).

    Scale shape: one corpus scan for the point estimate and one that
    fans out x32 map-side (a broadcast replicate dim) into a 32-group
    integer aggregate with map-side partials; both order statistics
    come from ONE pass over the 32-row replicate frame
    (domain-bounded, windowed on a constant-size input — the
    auc_score grid argument). Replicate means are one exact-BIGINT
    division each, 6dp-pinned BEFORE ranking."""
    from pyspark.sql.window import Window

    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("n_chars").isNotNull())
        .select("doc_id", "n_chars")
    )
    reps = spark.range(_BS_REPS).select(F.col("id").alias("b"))
    u = textops.hash_uniform(
        F.concat(F.lit("bs:"), F.col("b").cast("string"), F.lit(":"),
                 F.col("doc_id").cast("string"))
    )
    # weights pin to e6 fixed-point BIGINTs BEFORE aggregation: a raw
    # double sum(w*x) is summation-order-dependent across partitions
    # and engines (the minhash_estimate_error "no cross-pair float
    # aggregation" discipline), while integer sums are exact at any
    # order — the only floats left are ln on identical inputs (pinned)
    # and ONE division of exact BIGINTs per replicate (r10 review)
    w = F.floor(
        -F.log(F.greatest(u, F.lit(1.0 / 4294967296.0))) * 1e6 + 0.5
    ).cast("bigint")
    ms = (
        d.crossJoin(F.broadcast(reps))
        .select("b", w.alias("w"), F.col("n_chars").alias("x"))
        .groupBy("b")
        .agg(
            round_half_up(
                F.sum(F.col("w") * F.col("x")).cast("double") / F.sum("w"), 6
            ).alias("m")
        )
    )
    ranked = ms.select(
        "m", F.row_number().over(Window.orderBy("m", "b")).alias("rk")
    )
    stats = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        round_half_up(F.sum("n_chars") * 1.0 / F.count(F.lit(1)), 6).alias(
            "point_mean"
        ),
    )
    # ONE pass over the 32-row ranked frame for both order statistics
    # (two filter branches would replay the corpus fan-out lineage per
    # branch; r10 review)
    ci = ranked.agg(
        F.max(F.when(F.col("rk") == 2, F.col("m"))).alias("ci_low"),
        F.max(F.when(F.col("rk") == _BS_REPS - 1, F.col("m"))).alias("ci_high"),
    )
    return stats.crossJoin(F.broadcast(ci))


import math as _math

_CW_BETA = 0.999
_CW_LN_BETA = _math.log(_CW_BETA)  # Python-computed literal (no runtime libm divergence on the constant)


@query(
    "class_weights",
    oracle=f"""
    WITH c AS (
        SELECT label, count(*) AS n FROM embeddings
        WHERE label IS NOT NULL GROUP BY label
    ), tot AS (SELECT sum(n) AS total, count(*) AS n_classes FROM c)
    SELECT label,
           CAST(n AS BIGINT) AS n,
           floor(CAST(total AS DOUBLE) / (n_classes * n) * 1000000 + 0.5)
               / 1000000 AS w_inverse,
           floor((1.0 - {_CW_BETA}) / (1.0 - exp(n * {_CW_LN_BETA!r}))
                 * 100000000 + 0.5) / 100000000 AS w_effective
    FROM c CROSS JOIN tot
    """,
    section="2.11 class weighting (inverse-frequency + effective-number-of-samples)",
)
def class_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Loss re-weighting for imbalanced labels, both standard recipes
    in one table: inverse-frequency (N / (C·n), mean 1 over a
    balanced corpus) and the effective-number-of-samples weight of
    Cui et al. ("Class-Balanced Loss", beta=0.999): w = (1−beta) /
    (1−beta^n), which discounts marginal duplicates-of-information in
    large classes instead of dividing linearly. The mix/curriculum
    twin for LABELS (mix_weights plays this role for sources).

    beta^n computes as exp(n·ln beta) with ln(beta) a Python literal
    embedded on both sides (the decayed_sum cross-libm-pow
    discipline); exp runs on identical doubles and the 8dp pin
    absorbs its ulp. One dim-sized keyed count + a 1-row broadcast
    total — nothing corpus-scale beyond the scan."""
    c = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("label").isNotNull())
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = c.agg(
        F.sum("n").alias("total"), F.count(F.lit(1)).alias("n_classes")
    )
    return c.crossJoin(F.broadcast(tot)).select(
        "label",
        F.col("n").cast("bigint").alias("n"),
        (
            F.floor(
                F.col("total").cast("double")
                / (F.col("n_classes") * F.col("n"))
                * 1e6
                + 0.5
            )
            / 1e6
        ).alias("w_inverse"),
        (
            F.floor(
                (1.0 - _CW_BETA)
                / (1.0 - F.exp(F.col("n") * F.lit(_CW_LN_BETA)))
                * 1e8
                + 0.5
            )
            / 1e8
        ).alias("w_effective"),
    )


_LANGID_ITERS, _LANGID_ETA, _LANGID_DIM = 3, 2.0, 16


def _langid_oracle(iters: int, eta: float, dim: int) -> str:
    """The trained-language-ID oracle: char-trigram extraction (DuckDB
    list comprehension), md5 hashing-trick buckets (the shared
    hash_bucket_sql mapping), per-doc count-normalized features, then
    the SAME unrolled batch-GD CTE chain as _logreg_oracle (vectors.py)
    with l-prefixed names, closed by a per-language confusion rollup
    of the trained model's own predictions."""
    parts = [
        f"""ld AS (
        SELECT doc_id, lang,
               CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y, text
        FROM documents WHERE length(text) >= 3
    ), lgrams AS (
        SELECT doc_id,
               unnest([substr(text, i, 3) for i in range(1, len(text) - 1)]) AS g
        FROM ld
    ), lcnt AS (
        SELECT doc_id, {hash_bucket_sql('g', dim)} AS b, count(*) AS c
        FROM lgrams GROUP BY doc_id, b
    ), ltot AS (SELECT doc_id, sum(c) AS tot FROM lcnt GROUP BY doc_id),
    lx AS (
        SELECT c.doc_id, c.b + 1 AS j, c.c / t.tot AS x
        FROM lcnt c JOIN ltot t ON t.doc_id = c.doc_id
        UNION ALL
        SELECT doc_id, 0 AS j, 1.0 AS x FROM ld
    ), ln AS (SELECT count(*) AS n FROM ld),
    lg1 AS (
        SELECT p.j, sum((0.5 - d.y) * p.x) AS g
        FROM lx p JOIN ld d ON d.doc_id = p.doc_id GROUP BY p.j
    ),
    lw1 AS (SELECT j, -({eta}) * g / n.n AS w FROM lg1 CROSS JOIN ln n)"""
    ]
    for i in range(2, iters + 1):
        parts.append(f"""
    lz{i} AS (
        SELECT p.doc_id, sum(w.w * p.x) AS z
        FROM lx p JOIN lw{i - 1} w ON w.j = p.j GROUP BY p.doc_id
    ),
    lr{i} AS (
        SELECT z.doc_id, 1.0 / (1.0 + exp(-z.z)) - d.y AS r
        FROM lz{i} z JOIN ld d ON d.doc_id = z.doc_id
    ),
    lg{i} AS (
        SELECT p.j, sum(r.r * p.x) AS g
        FROM lx p JOIN lr{i} r ON r.doc_id = p.doc_id GROUP BY p.j
    ),
    lw{i} AS (
        SELECT w.j, w.w - ({eta}) * g.g / n.n AS w
        FROM lw{i - 1} w JOIN lg{i} g ON g.j = w.j CROSS JOIN ln n
    )""")
    parts.append(f"""
    lzf AS (
        SELECT p.doc_id, sum(w.w * p.x) AS z
        FROM lx p JOIN lw{iters} w ON w.j = p.j GROUP BY p.doc_id
    ),
    lpred AS (
        SELECT d.lang,
               floor(1.0 / (1.0 + exp(-z.z)) * 10000 + 0.5) / 10000 AS p
        FROM lzf z JOIN ld d ON d.doc_id = z.doc_id
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN p >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pred_en,
           floor(avg(p) * 10000 + 0.5) / 10000 AS avg_p_en
    FROM lpred GROUP BY lang""")
    return "WITH " + ",".join(parts[:-1]) + "," + parts[-1]


# Session-cached (feature, label) frames for the two GD-trained gates
# (lang_id_train, quality_classifier_gate). The md5 hashed-feature
# build (char-trigram / word-token explode + hash_bucket + per-doc
# normalization) dominates each trainer's cost and is DETERMINISTIC
# PREPROCESSING — md5 is the engine-portability contract with the
# oracle, so it cannot be swapped for a cheap hash, but it CAN be
# built once per (app, dir, fixture): the aggregated (doc, j, x)
# frame is doc×(≤dim+1) rows (sketch-sized, the r14 cache-payoff
# rule's winning side). The GD rounds — the thing these diagnostics
# price — still run in full on every call; only the feature
# extraction is shared, exactly like the r14 _gopher_flags /
# _linear_scored caches that already feed quality_classifier_gate's
# labels. The frames grow with the corpus, so they are ``CORPUS``: a
# lost block recomputes instead of failing the trainer.
@session_cached("documents")
def _langid_features(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    from ..operators.dedup import _spread

    dim = _LANGID_DIM
    d = (
        _spread(load_table(spark, sf_dir, "documents"))
        .filter(F.length("text") >= 3)
        .select(
            "doc_id", "lang",
            F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
            "text",
        )
    )
    grams = d.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, length(text) - 2),"
                " i -> substring(text, i, 3))"
            )
        ).alias("g"),
    )
    cnt = grams.groupBy("doc_id", hash_bucket("g", dim).alias("b")).agg(
        F.count(F.lit(1)).alias("c")
    )
    tot = cnt.groupBy("doc_id").agg(F.sum("c").alias("tot"))
    px = materialize(
        cnt.join(tot, "doc_id")
        .select(
            "doc_id",
            (F.col("b") + 1).alias("j"),
            (F.col("c") / F.col("tot")).alias("x"),
        )
        .unionAll(
            d.select("doc_id", F.lit(0).alias("j"), F.lit(1.0).alias("x"))
        ),
        CORPUS,
    )
    yl = materialize(d.select("doc_id", "lang", "y"), CORPUS)
    return px, yl


@session_cached("documents")
def _qcg_features(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    from ..operators.dedup import _spread

    dim = _QCG_DIM
    d = _spread(load_table(spark, sf_dir, "documents"))
    lab = materialize(_gopher_flags_cached(spark, sf_dir).select(
        "doc_id",
        "source",
        (
            F.col("ok_nwords")
            * F.col("ok_meanlen")
            * F.col("ok_maxlen")
            * F.col("ok_stop")
        )
        .cast("double")
        .alias("y"),
    ), CORPUS)
    # the SAME explicit-whitespace tokenization the flags used (one
    # definition on the oracle side: qtok unnests the flags' ws lists)
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.trim(F.col("text")), r"[ \t\n\r\f]+")).alias("tok"),
    )
    cnt = toks.groupBy("doc_id", hash_bucket("tok", dim).alias("b")).agg(
        F.count(F.lit(1)).alias("c")
    )
    tot = cnt.groupBy("doc_id").agg(F.sum("c").alias("tot"))
    px = materialize(
        cnt.join(tot, "doc_id")
        .select(
            "doc_id",
            (F.col("b") + 1).alias("j"),
            (F.col("c") / F.col("tot")).alias("x"),
        )
        .unionAll(
            lab.select("doc_id", F.lit(0).alias("j"), F.lit(1.0).alias("x"))
        ),
        CORPUS,
    )
    return px, lab


@query(
    "lang_id_train",
    oracle=_langid_oracle(_LANGID_ITERS, _LANGID_ETA, _LANGID_DIM),
    section="2.11 trained language-ID (logreg over hashed char trigrams)",
)
def lang_id_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID the way production systems actually build it (the
    CLD/fasttext shape) instead of `lang_id`'s fixed stopword rule:
    hashed character-trigram features (the vocabulary-free encoder —
    `feature_hashing`'s md5 bucket mapping over 3-char grams,
    count-normalized per doc), an is-English logistic regression
    trained IN-ENGINE by three unrolled full-batch GD rounds (the
    `logreg_train` discipline: static plan, w0=0 makes round 1's
    sigmoid exactly 0.5 on both engines), then the trained model
    graded against the fixture lang labels as a per-language
    confusion rollup (n_pred_en vs n_docs; the fixture vocabulary is
    shared across langs, so this measures the machinery end-to-end,
    not linguistics — the `lang_id` caveat).

    Numeric discipline: features are exact ratios of integers
    (identical doubles both engines), gradients/matvecs carry ~1e-13
    summation-order noise that three rounds cannot push to the 4dp
    terminal pin (the logreg_train argument, which pins at 6dp), and
    the keep-gate compares the PINNED probability so classification
    can't flip on engine ulps (the linear_quality_score convention).

    Scale shape: identical to logreg_train — each round is two
    co-partitioned passes over the materialized (doc, j, x) feature
    frame (one broadcast-weight matvec, one doc-keyed residual join +
    j-keyed gradient sum); the feature frame is built once; the only
    driver sync is n. Char-trigram explode is ~|text| rows per doc
    pre-aggregated to ≤dim+1 feature rows per doc before training.
    Two measured fixture-scale guards: the corpus is `_spread` before
    the trigram+md5 pass (a one-file fixture otherwise runs that
    CPU-heavy stage single-threaded — the shingling operators' 6 s vs
    0.3 s trap), and the feature/label frames are materialized once.
    r15: the feature/label frames come
    from the fixture-keyed `_langid_features` session cache
    (deterministic md5 preprocessing shared across calls; the GD
    rounds — what this diagnostic prices — still run per call), and
    the per-lang rollup joins the cached label frame instead of
    re-scanning the corpus for (doc_id, lang)."""
    eta, iters = _LANGID_ETA, _LANGID_ITERS
    px, yl = _langid_features(spark, sf_dir)
    yv = yl.select("doc_id", "y")
    n = yv.count()
    if n == 0:
        raise ValueError(
            "lang_id_train: no documents with length >= 3 to train on"
        )
    from ..operators.quality import gd_scores, unrolled_gd

    w = unrolled_gd(px, yv, "doc_id", n, eta, iters)
    zf = gd_scores(px, w, "doc_id")
    pred = zf.join(yl.select("doc_id", "lang"), "doc_id").select(
        "lang",
        round_half_up(
            F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("z"))), 4
        ).alias("p"),
    )
    return materialize(
        pred.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum((F.col("p") >= 0.5).cast("int"))
            .cast("bigint")
            .alias("n_pred_en"),
            round_half_up(F.avg("p"), 4).alias("avg_p_en"),
        ),
        SMALL,
    )


_NEG_NQ, _NEG_KPOS, _NEG_N = 8, 5, 4


@query(
    "negative_sample",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ), qv AS (
        SELECT vec_id AS query_id, emb AS qvec FROM e WHERE vec_id < {_NEG_NQ}
    ), pos AS (
        SELECT query_id, vec_id FROM (
            SELECT q.query_id, e2.vec_id,
                   row_number() OVER (PARTITION BY q.query_id
                                      ORDER BY floor(list_cosine_similarity(e2.emb, q.qvec)
                                                     * 1e9 + 0.5) / 1e9 DESC,
                                               e2.vec_id) AS rn
            FROM e e2 CROSS JOIN qv q
            WHERE e2.vec_id <> q.query_id
        ) WHERE rn <= {_NEG_KPOS}
    ), cand AS (
        SELECT q.query_id, e2.vec_id,
               {textops.hash_uniform_sql("(q.query_id || '_' || e2.vec_id)")}
                   AS draw
        FROM e e2 CROSS JOIN qv q
        WHERE e2.vec_id <> q.query_id
    ), neg AS (
        SELECT query_id, vec_id, draw,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY draw, vec_id) AS neg_rank
        FROM cand c
        WHERE NOT EXISTS (SELECT 1 FROM pos p
                          WHERE p.query_id = c.query_id
                            AND p.vec_id = c.vec_id)
    )
    SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(neg_rank AS INT)    AS neg_rank,
           vec_id, draw
    FROM neg WHERE neg_rank <= {_NEG_N}
    """,
    section="2.11 contrastive negative sampling (seeded, positive-excluding)",
)
def negative_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-pair construction for contrastive/embedding training:
    for each of the {nq} query vectors, {n} uniform random negatives
    drawn from the corpus EXCLUDING the query's exact top-{kpos}
    neighbors (which would be false negatives — the standard
    in-batch-negatives hygiene) and itself. Draws are the repo's
    deterministic md5 dyadic-rational uniform keyed on
    (query_id, vec_id), so the sample is reproducible bit-for-bit
    across engines, runs, and repartitions (the weighted_sample
    contract), and the per-query ranking (draw, vec_id) needs no RNG
    state anywhere.

    Positives come from the SAME batched exact top-k definition the
    evaluation family uses (operators.similarity.batch_cosine_topk;
    the oracle re-derives it with the 1e9-pinned rank key). Plan:
    one broadcast-query corpus cosine pass for the positives, one
    broadcast-query hash-draw pass + anti-join for the candidates,
    one per-query window over rows that a corpus-scale run would
    pre-filter with a draw < k'/N threshold before ranking (the
    weighted_sample scale argument)."""
    from pyspark.sql.window import Window

    from .vectors import _exact_topk8_cached

    e = load_table(spark, sf_dir, "embeddings")
    # _NEG_NQ == the family's 8-query block; positives are the cached
    # exact frame rank-filtered to _NEG_KPOS (row-identical to a fresh
    # batch_cosine_topk call — rank is assigned before any k cut)
    pos = (
        _exact_topk8_cached(spark, sf_dir)
        .filter(F.col("rank") <= _NEG_KPOS)
        .select("query_id", "vec_id")
    )
    ids = e.select("vec_id")
    q = ids.filter(F.col("vec_id") < _NEG_NQ).select(
        F.col("vec_id").alias("query_id")
    )
    cand = (
        ids.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .join(pos, ["query_id", "vec_id"], "left_anti")
        .select(
            "query_id", "vec_id",
            textops.hash_uniform(
                F.concat_ws("_", "query_id", "vec_id")
            ).alias("draw"),
        )
    )
    w = Window.partitionBy("query_id").orderBy("draw", "vec_id")
    return (
        cand.withColumn("neg_rank", F.row_number().over(w))
        .filter(F.col("neg_rank") <= _NEG_N)
        .select(
            F.col("query_id").cast("bigint").alias("query_id"),
            F.col("neg_rank").cast("int").alias("neg_rank"),
            "vec_id", "draw",
        )
    )


_KNN_SWEEP_KS = (1, 3, 5, 9)


@query(
    "knn_k_sweep",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
               FROM embeddings),
    q AS (SELECT vec_id AS query_id, label AS true_label, emb AS qv
          FROM e WHERE vec_id < {_KNN_QUERIES}),
    scored AS (
        SELECT q.query_id, q.true_label, e.label,
               row_number() OVER (PARTITION BY q.query_id
                                  ORDER BY floor(list_cosine_similarity(e.emb, q.qv)
                                                 * 1e9 + 0.5) / 1e9 DESC,
                                           e.vec_id) AS rank
        FROM e CROSS JOIN q
        WHERE e.vec_id >= {_KNN_QUERIES}
    ),
    ks AS (SELECT unnest(CAST([{", ".join(str(k) for k in _KNN_SWEEP_KS)}]
                         AS INT[])) AS k),
    votes AS (
        SELECT ks.k, s.query_id, s.true_label, s.label, count(*) AS n_votes
        FROM scored s CROSS JOIN ks
        WHERE s.rank <= ks.k
        GROUP BY ks.k, s.query_id, s.true_label, s.label
    ),
    best AS (
        SELECT k, query_id, true_label, label AS pred_label,
               row_number() OVER (PARTITION BY k, query_id
                                  ORDER BY n_votes DESC, label) AS vr
        FROM votes
    )
    SELECT k,
           CAST(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           floor(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
                 ::DOUBLE / count(*) * 10000 + 0.5) / 10000 AS accuracy
    FROM best WHERE vr = 1 GROUP BY k
    """,
    section="2.11 k-NN neighborhood-size sweep (accuracy vs k)",
)
def knn_k_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHAT k to vote with: `knn_classify`'s majority-label transfer
    evaluated at k in {1,3,5,9} from ONE scored ranking — the
    operating-point-sweep pattern applied to the serving
    hyperparameter (production k=5 sits inside). The ranked
    neighbor frame is computed once (the identical 9dp rank-key
    ordering knn_classify uses, top max(k) rows kept per query);
    each k then re-votes over its prefix — a broadcast-sized explode
    + two dim-sized window/agg layers, so the sweep costs one corpus
    pass regardless of |ks|. Tie rule everywhere: higher votes, then
    smaller label — deterministic in both engines."""
    from pyspark.sql.window import Window

    from ..operators.similarity import as_double, cosine, rank_key

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", as_double("embedding").alias("emb")
    )
    q = e.filter(F.col("vec_id") < _KNN_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("true_label"),
        F.col("emb").alias("qv"),
    )
    maxk = max(_KNN_SWEEP_KS)
    w = Window.partitionBy("query_id").orderBy(F.col("cos_r").desc(), "vec_id")
    scored = (
        e.filter(F.col("vec_id") >= _KNN_QUERIES)
        .crossJoin(F.broadcast(q))
        .select(
            "query_id", "true_label", "label", "vec_id",
            rank_key(cosine(F.col("emb"), F.col("qv"))).alias("cos_r"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= maxk)
    )
    ks = F.explode(
        F.array(*[F.lit(k).cast("int") for k in _KNN_SWEEP_KS])
    ).alias("k")
    votes = (
        scored.select("query_id", "true_label", "label", "rank", ks)
        .filter(F.col("rank") <= F.col("k"))
        .groupBy("k", "query_id", "true_label", "label")
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    wv = Window.partitionBy("k", "query_id").orderBy(
        F.col("n_votes").desc(), "label"
    )
    best = votes.withColumn("vr", F.row_number().over(wv)).filter(
        F.col("vr") == 1
    )
    correct = (F.col("label") == F.col("true_label")).cast("int")
    return best.groupBy("k").agg(
        F.sum(correct).cast("bigint").alias("n_correct"),
        round_half_up(
            F.sum(correct).cast("double") / F.count(F.lit(1)), 4
        ).alias("accuracy"),
    )


@query(
    "ece_summary",
    oracle=f"""
    WITH b AS (
        SELECT least(CAST(floor(value / {_CAL_BIN}) AS BIGINT), 9) AS bin,
               count(*) AS n,
               sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS pos,
               sum(CAST(round(value * 100) AS BIGINT)) AS cents
        FROM events WHERE value IS NOT NULL GROUP BY 1
    ), tot AS (SELECT sum(n) AS nt FROM b),
    gaps AS (
        SELECT b.n, t.nt,
               abs(b.pos::DOUBLE / b.n
                   - b.cents / 100.0 / b.n / 500.0) AS gap
        FROM b CROSS JOIN tot t
    )
    SELECT CAST(sum(n) AS BIGINT) AS n_scored,
           floor(sum(n::DOUBLE / nt * gap) * 1000000 + 0.5) / 1000000 AS ece,
           floor(max(gap) * 1000000 + 0.5) / 1000000 AS mce
    FROM gaps
    """,
    section="2.11 expected calibration error (ECE/MCE over the reliability bins)",
)
def ece_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-number calibration verdict on top of
    `calibration_bins`' reliability table: Expected Calibration Error
    (bin-weight-averaged |empirical rate − mean predicted|) and
    Maximum Calibration Error, with the score normalized to [0,1] by
    the 500-unit value range so rate and mean-score live on one
    scale. The SAME width-50/clamped-top binning and cents-exact
    score sums as calibration_bins (a drifted bin rule here would
    grade a different diagram than the one reported).

    Numerics: per-bin rate and mean are exact-integer ratios; the
    weighted sum runs over ≤10 bins, so summation-order noise is
    ~1e-17 against a 6dp pin. One scan, dim-sized aggregation."""
    e = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    purchase = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    b = e.groupBy(
        F.least(
            F.floor(F.col("value") / _CAL_BIN).cast("bigint"), F.lit(9)
        ).alias("bin")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(purchase).alias("pos"),
        F.sum(cents("value")).alias("cents"),
    )
    tot = b.agg(F.sum("n").alias("nt"))
    gap = F.abs(
        F.col("pos").cast("double") / F.col("n")
        - F.col("cents") / 100.0 / F.col("n") / 500.0
    )
    return (
        b.crossJoin(F.broadcast(tot))
        .select("n", "nt", gap.alias("gap"))
        .agg(
            F.sum("n").cast("bigint").alias("n_scored"),
            round_half_up(
                F.sum(F.col("n").cast("double") / F.col("nt") * F.col("gap")), 6
            ).alias("ece"),
            round_half_up(F.max("gap"), 6).alias("mce"),
        )
    )


# (n, kind, threshold%) — Gopher Table A1's repetition block, token
# proxy: top-n-gram fraction caps for n=2..4, duplicated-5-gram
# coverage cap. Threshold compares are integer cross-multiplications
# (maxc·n·100 ≤ pct·n_tokens) — no floats anywhere in the gate.
_REP_PANEL = (("top", 2, 20), ("top", 3, 18), ("top", 4, 16), ("dup", 5, 15))


def _rep_panel_oracle() -> str:
    grams = []
    for n in (2, 3, 4, 5):
        expr = " || ' ' || ".join(f"t[i+{j}]" for j in range(n)).replace("t[i+0]", "t[i]")
        grams.append(
            f"""SELECT doc_id, {n} AS n,
               unnest([{expr} for i in range(1, len(t) - {n - 2})]) AS gram
        FROM toks"""
        )
    gsel = "\n        UNION ALL ".join(grams)
    passes = []
    for kind, n, pct in _REP_PANEL:
        col = f"max{n}" if kind == "top" else f"dup{n}"
        passes.append(
            f"CASE WHEN coalesce({col}, 0) * {n} * 100 <= {pct} * nt "
            f"THEN 1 ELSE 0 END"
        )
    pass_cols = ",\n           ".join(
        f"CAST(sum({p}) AS BIGINT) AS pass_{kind}{n}"
        for (kind, n, pct), p in zip(_REP_PANEL, passes)
    )
    pass_all = " * ".join(f"({p})" for p in passes)
    return f"""
    WITH toks AS (
        SELECT doc_id, source, string_split(text, ' ') AS t,
               len(string_split(text, ' ')) AS nt
        FROM documents
    ), g AS (
        {gsel}
    ), cnt AS (
        SELECT doc_id, n, gram, count(*) AS c FROM g GROUP BY doc_id, n, gram
    ), per AS (
        SELECT doc_id, n, max(c) AS maxc,
               sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dupc
        FROM cnt GROUP BY doc_id, n
    ), wide AS (
        SELECT t.doc_id, t.source, t.nt,
               max(CASE WHEN p.n = 2 THEN p.maxc END) AS max2,
               max(CASE WHEN p.n = 3 THEN p.maxc END) AS max3,
               max(CASE WHEN p.n = 4 THEN p.maxc END) AS max4,
               max(CASE WHEN p.n = 5 THEN p.dupc END) AS dup5
        FROM toks t LEFT JOIN per p ON p.doc_id = t.doc_id
        GROUP BY t.doc_id, t.source, t.nt
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           {pass_cols},
           CAST(sum({pass_all}) AS BIGINT) AS pass_all
    FROM wide GROUP BY source"""


@query(
    "gopher_repetition_panel",
    oracle=_rep_panel_oracle(),
    section="2.11 Gopher repetition gates (top-n-gram caps, duplicated-5-gram coverage)",
)
def gopher_repetition_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The repetition HALF of the published Gopher filter table that
    `gopher_rules` (length/word-shape/stopwords) doesn't cover: per
    document, the most-frequent-2/3/4-gram token fraction must stay
    under 20/18/16% and the token mass inside DUPLICATED 5-grams
    under 15% — the gates that catch looped boilerplate and template
    spam that unigram `repetition_ratio` misses. Reported per source
    as per-gate and all-gates pass counts (the gopher_rules shape).

    Exactness: every gate is an integer cross-multiplication
    (maxc·n·100 ≤ pct·n_tokens) — no float ever enters the decision,
    so no rounding boundary exists to diverge on. Plan: ONE per-doc
    window pass computes leads up to 4; the four gram sizes explode
    from the shared leads (the span_width_sweep trick), aggregate to
    per-(doc, n) max/dup-sum, and pivot to one row per doc —
    map-side-combined keyed aggs end to end, no pair fan-out.
    Documents shorter than n contribute no n-grams and coalesce to
    0 (= pass) on both engines."""
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "source", F.posexplode(F.split("text", " ")).alias("pos", "w")
    )
    win = Window.partitionBy("doc_id").orderBy("pos")
    led = toks.select(
        "doc_id", "pos", "w",
        *[F.lead("w", i).over(win).alias(f"w{i}") for i in range(1, 5)],
    )
    wg = F.array(
        *[
            F.when(
                F.col(f"w{n - 1}").isNotNull(),
                F.struct(
                    F.lit(n).alias("n"),
                    F.concat_ws(
                        " ", "w", *[f"w{i}" for i in range(1, n)]
                    ).alias("gram"),
                ),
            )
            for n in (2, 3, 4, 5)
        ]
    )
    cnt = (
        led.select("doc_id", F.explode(wg).alias("g"))
        .filter(F.col("g").isNotNull())
        .groupBy("doc_id", "g.n", "g.gram")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per = cnt.groupBy("doc_id", "n").agg(
        F.max("c").alias("maxc"),
        F.sum(F.when(F.col("c") >= 2, F.col("c")).otherwise(0)).alias("dupc"),
    )
    wide = per.groupBy("doc_id").agg(
        F.max(F.when(F.col("n") == 2, F.col("maxc"))).alias("max2"),
        F.max(F.when(F.col("n") == 3, F.col("maxc"))).alias("max3"),
        F.max(F.when(F.col("n") == 4, F.col("maxc"))).alias("max4"),
        F.max(F.when(F.col("n") == 5, F.col("dupc"))).alias("dup5"),
    )
    nt = d.select("doc_id", "source", F.size(F.split("text", " ")).alias("nt"))
    joined = nt.join(wide, "doc_id", "left")
    gates = {}
    for kind, n, pct in _REP_PANEL:
        col = f"max{n}" if kind == "top" else f"dup{n}"
        gates[f"pass_{kind}{n}"] = F.when(
            F.coalesce(F.col(col), F.lit(0)) * n * 100 <= pct * F.col("nt"),
            1,
        ).otherwise(0)
    pass_all = None
    for g in gates.values():
        pass_all = g if pass_all is None else pass_all * g
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        *[F.sum(g).cast("bigint").alias(name) for name, g in gates.items()],
        F.sum(pass_all).cast("bigint").alias("pass_all"),
    )


_QCG_ITERS, _QCG_ETA, _QCG_DIM = 3, 2.0, 16
_QCG_THRESHOLDS = (0.3, 0.5, 0.7)


def _qcg_oracle(iters: int, eta: float, dim: int) -> str:
    """The trained-quality-gate oracle: the shared Gopher flag CTEs
    provide the rule labels, hashed word-token features come from the
    SAME ws lists the flags tokenized (one tokenization, two
    consumers), and the classifier is the identical unrolled batch-GD
    CTE chain as _langid_oracle/_logreg_oracle with q-prefixed names,
    closed by the per-source keep-rate report at the fixed score
    thresholds."""
    keep_cols = ",\n           ".join(
        f"CAST(sum(CASE WHEN p >= {t!r} THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS keep_{str(t).replace('0.', '0')}0"
        for t in _QCG_THRESHOLDS
    )
    parts = [
        f"""{_GOPHER_FLAGS_CTES},
    qlab AS (
        SELECT f.doc_id, f.source,
               CAST(f.ok_nwords * f.ok_meanlen * f.ok_maxlen * f.ok_stop
                    AS DOUBLE) AS y
        FROM flags f
    ), qtok AS (
        SELECT doc_id, unnest(ws) AS tok FROM toks
    ), qcnt AS (
        SELECT doc_id, {hash_bucket_sql('tok', dim)} AS b, count(*) AS c
        FROM qtok GROUP BY doc_id, b
    ), qtot AS (SELECT doc_id, sum(c) AS tot FROM qcnt GROUP BY doc_id),
    qx AS (
        SELECT c.doc_id, c.b + 1 AS j, c.c / t.tot AS x
        FROM qcnt c JOIN qtot t ON t.doc_id = c.doc_id
        UNION ALL
        SELECT doc_id, 0 AS j, 1.0 AS x FROM qlab
    ), qn AS (SELECT count(*) AS n FROM qlab),
    qg1 AS (
        SELECT p.j, sum((0.5 - d.y) * p.x) AS g
        FROM qx p JOIN qlab d ON d.doc_id = p.doc_id GROUP BY p.j
    ),
    qw1 AS (SELECT j, -({eta}) * g / n.n AS w FROM qg1 CROSS JOIN qn n)"""
    ]
    for i in range(2, iters + 1):
        parts.append(f"""
    qz{i} AS (
        SELECT p.doc_id, sum(w.w * p.x) AS z
        FROM qx p JOIN qw{i - 1} w ON w.j = p.j GROUP BY p.doc_id
    ),
    qr{i} AS (
        SELECT z.doc_id, 1.0 / (1.0 + exp(-z.z)) - d.y AS r
        FROM qz{i} z JOIN qlab d ON d.doc_id = z.doc_id
    ),
    qg{i} AS (
        SELECT p.j, sum(r.r * p.x) AS g
        FROM qx p JOIN qr{i} r ON r.doc_id = p.doc_id GROUP BY p.j
    ),
    qw{i} AS (
        SELECT w.j, w.w - ({eta}) * g.g / n.n AS w
        FROM qw{i - 1} w JOIN qg{i} g ON g.j = w.j CROSS JOIN qn n
    )""")
    parts.append(f"""
    qzf AS (
        SELECT p.doc_id, sum(w.w * p.x) AS z
        FROM qx p JOIN qw{iters} w ON w.j = p.j GROUP BY p.doc_id
    ),
    qp AS (
        SELECT d.source, d.y,
               floor(1.0 / (1.0 + exp(-z.z)) * 10000 + 0.5) / 10000 AS p
        FROM qzf z JOIN qlab d ON d.doc_id = z.doc_id
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(y) AS BIGINT) AS n_rule_pass,
           floor(avg(p) * 10000 + 0.5) / 10000 AS avg_p,
           {keep_cols}
    FROM qp GROUP BY source""")
    return "WITH " + ",".join(parts[:-1]) + "," + parts[-1]


@query(
    "quality_classifier_gate",
    oracle=_qcg_oracle(_QCG_ITERS, _QCG_ETA, _QCG_DIM),
    section="2.11 trained quality-classifier gate (DCLM/FineWeb-Edu shape)",
)
def quality_classifier_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The modern model-based corpus gate (the DCLM / FineWeb-Edu
    recipe, both public): TRAIN a quality classifier on cheap weak
    labels, SCORE every document with it, and report the keep rate a
    data team would ship at each candidate threshold. Weak labels are
    the all-four-Gopher-rules pass bit from the SHARED `_gopher_flags`
    definition (the published-rule gate standing in for the LLM-judge
    labels those pipelines source); features are hashed word-token
    counts (the `feature_hashing` md5-bucket trick, count-normalized
    per doc, + intercept); the model is an is-quality logistic
    regression trained IN-ENGINE by three unrolled full-batch GD
    rounds (the `logreg_train` / `lang_id_train` discipline). Output,
    per source: docs, rule-gate passes, mean predicted quality, and
    keep counts at score thresholds 0.3 / 0.5 / 0.7 — the
    threshold-attrition view that turns a trained scorer into a
    shippable filter config (the `pr_curve` sweep grades the scorer;
    this grades the GATE).

    Numeric discipline (the lang_id_train argument end to end):
    features are exact ratios of integers, w0=0 makes round 1's
    sigmoid exactly 0.5 on both engines, three rounds of ~1e-13
    matvec noise cannot reach the 4dp score pin, and every threshold
    compares the PINNED score against an exact-decimal literal whose
    pinned-grid division (k/10000) rounds to the identical double in
    both engines — no classification can flip on an engine ulp.

    Scale shape: one tokenize pass feeds both the label flags and the
    hashed features; the (doc, j, x) feature frame and the label
    frame are materialized once (the measured lang_id_train fix);
    each round is two co-partitioned keyed
    passes (broadcast-weight matvec, doc-keyed residual join +
    j-keyed gradient sum); the only driver sync is n. At 100 TB the
    recipe is unchanged — DCLM trains on a sample, scores the full
    corpus; sampling here is the `stratified_sample_hash` composition
    point, deliberately not baked in. r15: the feature/label frames
    come from the fixture-keyed `_qcg_features` session cache
    (deterministic md5 preprocessing shared across calls; the GD
    rounds — what this diagnostic prices — still run per call)."""
    eta, iters = _QCG_ETA, _QCG_ITERS
    px, lab = _qcg_features(spark, sf_dir)
    yv = lab.select("doc_id", "y")
    n = lab.count()
    if n == 0:
        raise ValueError("quality_classifier_gate: no documents to train on")
    from ..operators.quality import gd_scores, unrolled_gd

    w = unrolled_gd(px, yv, "doc_id", n, eta, iters)
    zf = gd_scores(px, w, "doc_id")
    scored = zf.join(lab, "doc_id").select(
        "source",
        "y",
        round_half_up(
            F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("z"))), 4
        ).alias("p"),
    )
    keep_aggs = [
        F.sum((F.col("p") >= F.lit(t)).cast("int"))
        .cast("bigint")
        .alias(f"keep_{str(t).replace('0.', '0')}0")
        for t in _QCG_THRESHOLDS
    ]
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("y").cast("bigint").alias("n_rule_pass"),
        round_half_up(F.avg("p"), 4).alias("avg_p"),
        *keep_aggs,
    )


_PLATT_ITERS, _PLATT_ETA = 3, 2.0


def _platt_oracle(iters: int, eta: float) -> str:
    """Platt-scaling oracle: the shared Gopher flag CTEs (labels) +
    the shared linear-scorer CTEs (the score being calibrated), then
    the standard unrolled-GD chain over the TWO-feature frame
    (intercept + pinned score), closed by the reliability-bin rollup
    of the calibrated probability with the trained weights attached."""
    parts = [
        f"""{_GOPHER_FLAGS_CTES},
    {_LINEAR_SCORE_CTES},
    plab AS (
        SELECT f.doc_id,
               CAST(f.ok_nwords * f.ok_meanlen * f.ok_maxlen * f.ok_stop
                    AS DOUBLE) AS y
        FROM flags f
    ), px AS (
        SELECT s.doc_id, 0 AS j, 1.0 AS x FROM lscored s
        UNION ALL
        SELECT s.doc_id, 1 AS j, s.quality AS x FROM lscored s
    ), pn AS (SELECT count(*) AS n FROM lscored),
    pg1 AS (
        SELECT p.j, sum((0.5 - d.y) * p.x) AS g
        FROM px p JOIN plab d ON d.doc_id = p.doc_id GROUP BY p.j
    ),
    pw1 AS (SELECT j, -({eta}) * g / n.n AS w FROM pg1 CROSS JOIN pn n)"""
    ]
    for i in range(2, iters + 1):
        parts.append(f"""
    pz{i} AS (
        SELECT p.doc_id, sum(w.w * p.x) AS z
        FROM px p JOIN pw{i - 1} w ON w.j = p.j GROUP BY p.doc_id
    ),
    pr{i} AS (
        SELECT z.doc_id, 1.0 / (1.0 + exp(-z.z)) - d.y AS r
        FROM pz{i} z JOIN plab d ON d.doc_id = z.doc_id
    ),
    pg{i} AS (
        SELECT p.j, sum(r.r * p.x) AS g
        FROM px p JOIN pr{i} r ON r.doc_id = p.doc_id GROUP BY p.j
    ),
    pw{i} AS (
        SELECT w.j, w.w - ({eta}) * g.g / n.n AS w
        FROM pw{i - 1} w JOIN pg{i} g ON g.j = w.j CROSS JOIN pn n
    )""")
    parts.append(f"""
    pzf AS (
        SELECT p.doc_id, sum(w.w * p.x) AS z
        FROM px p JOIN pw{iters} w ON w.j = p.j GROUP BY p.doc_id
    ),
    pcal AS (
        SELECT d.y,
               floor(1.0 / (1.0 + exp(-z.z)) * 10000 + 0.5) / 10000 AS p
        FROM pzf z JOIN plab d ON d.doc_id = z.doc_id
    ),
    pwts AS (
        SELECT max(CASE WHEN j = 0 THEN w END) AS w0,
               max(CASE WHEN j = 1 THEN w END) AS w1
        FROM pw{iters}
    )
    SELECT CAST(floor(p * 100) AS INT) AS bin,
           CAST(count(*) AS BIGINT) AS n_docs,
           floor(avg(p) * 10000 + 0.5) / 10000 AS avg_calibrated,
           floor(avg(y) * 10000 + 0.5) / 10000 AS pass_rate,
           sign(w.w0) * floor(abs(w.w0) * 1000000 + 0.5) / 1000000 + 0.0
               AS w_intercept,
           sign(w.w1) * floor(abs(w.w1) * 1000000 + 0.5) / 1000000 + 0.0
               AS w_slope
    FROM pcal CROSS JOIN pwts w
    GROUP BY bin, w.w0, w.w1""")
    return "WITH " + ",".join(parts[:-1]) + "," + parts[-1]


@query(
    "platt_scaling",
    oracle=_platt_oracle(_PLATT_ITERS, _PLATT_ETA),
    section="2.11 Platt scaling (score calibration via the shared GD loop)",
)
def platt_scaling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibrate a scorer, don't just measure its miscalibration:
    Platt scaling (Platt 1999, public — sigmoid(a·s + b) fitted by
    logistic regression on the score alone) is the fix a team applies
    after `calibration_bins`/`ece_summary` show the raw quality score
    over- or under-confident. The score is the shared linear scorer's
    PINNED quality; labels are the shared Gopher all-pass bit; the
    fit is three unrolled GD rounds over the TWO-feature frame
    (intercept + score) through the factored
    operators/quality.unrolled_gd — the third consumer of the shared
    loop, and the degenerate case that proves it at d=1. Output: the
    reliability table of the CALIBRATED probability (PERCENT bin — the
    3-round fit's calibrated range is narrow, so decile bins would
    collapse to one row; count, mean calibrated p, observed pass
    rate) with the trained (intercept,
    slope) attached — read avg_calibrated against pass_rate per bin
    to see the correction. Numeric discipline: the score enters
    training already 4dp-pinned (identical doubles), w0 = 0 makes
    round 1 exact on both engines, the calibrated p pins at 4dp
    before binning, and bin = floor(100p) computes the same double
    both sides. Scale shape: the feature frame is two rows per doc
    (one exchange), weights broadcast every round."""
    from ..operators.dedup import _spread
    from ..operators.quality import gd_scores, unrolled_gd

    d = _spread(load_table(spark, sf_dir, "documents"))
    lab = materialize(_gopher_flags_cached(spark, sf_dir).select(
        "doc_id",
        (
            F.col("ok_nwords")
            * F.col("ok_meanlen")
            * F.col("ok_maxlen")
            * F.col("ok_stop")
        )
        .cast("double")
        .alias("y"),
    ), SMALL)
    s = _linear_scored_cached(spark, sf_dir).select("doc_id", "quality")
    px = materialize(
        s.select("doc_id", F.lit(0).alias("j"), F.lit(1.0).alias("x"))
        .unionAll(
            s.select("doc_id", F.lit(1).alias("j"), F.col("quality").alias("x"))
        ),
        SMALL,
    )
    # n must be the row count of the SCORED frame (px is 2 rows/doc of
    # it) because the oracle's pn CTE counts lscored, not the Gopher
    # flags frame. Today both frames cover every document; deriving n
    # from px keeps the trained weights differential-identical if a
    # filter ever lands on either side, and the assert fails loud
    # instead of silently diverging (r12 advice).
    n = px.count() // 2
    if n == 0:
        raise ValueError("platt_scaling: no documents to calibrate on")
    n_lab = lab.count()
    if n_lab != n:
        raise ValueError(
            f"platt_scaling: label frame covers {n_lab} docs but the "
            f"scored frame covers {n} — the frames must be aligned"
        )
    w = unrolled_gd(px, lab, "doc_id", n, _PLATT_ETA, _PLATT_ITERS)
    wts = w.agg(
        F.max(F.when(F.col("j") == 0, F.col("w"))).alias("w0"),
        F.max(F.when(F.col("j") == 1, F.col("w"))).alias("w1"),
    )
    pcal = gd_scores(px, w, "doc_id").select(
        "doc_id",
        round_half_up(
            F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("z"))), 4
        ).alias("p"),
    )
    return (
        pcal.join(lab, "doc_id")
        .groupBy(F.floor(F.col("p") * 100).cast("int").alias("bin"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            round_half_up(F.avg("p"), 4).alias("avg_calibrated"),
            round_half_up(F.avg("y"), 4).alias("pass_rate"),
        )
        .crossJoin(F.broadcast(wts))
        .select(
            "bin",
            "n_docs",
            "avg_calibrated",
            "pass_rate",
            (signed_round_half_up(F.col("w0"), 6) + F.lit(0.0)).alias(
                "w_intercept"
            ),
            (signed_round_half_up(F.col("w1"), 6) + F.lit(0.0)).alias(
                "w_slope"
            ),
        )
    )


@query(
    "isotonic_calibration",
    oracle=f"""
    WITH {_GOPHER_FLAGS_CTES},
    {_LINEAR_SCORE_CTES},
    ijt AS (
        SELECT s.quality,
               f.ok_nwords * f.ok_meanlen * f.ok_maxlen * f.ok_stop AS y
        FROM lscored s JOIN flags f ON f.doc_id = s.doc_id
    ), ib AS MATERIALIZED (
        SELECT CAST(floor(quality * 100) AS BIGINT) AS bin,
               count(*) AS w, sum(y) AS ones
        FROM ijt GROUP BY 1
    ), ipb AS MATERIALIZED (
        SELECT bin, w, ones,
               sum(w) OVER (ORDER BY bin) AS cw,
               sum(ones) OVER (ORDER BY bin) AS cy
        FROM ib
    ), iseg AS MATERIALIZED (
        SELECT j.bin AS jb, k.bin AS kb,
               (k.cy - (j.cy - j.ones)) * 1.0 / (k.cw - (j.cw - j.w)) AS avgr
        FROM ipb j JOIN ipb k ON j.bin <= k.bin
    ), ilvl AS (
        SELECT i.bin, s.jb, min(s.avgr) AS mn
        FROM ipb i JOIN iseg s ON s.jb <= i.bin AND s.kb >= i.bin
        GROUP BY i.bin, s.jb
    ), iso AS (SELECT bin, max(mn) AS g FROM ilvl GROUP BY bin)
    SELECT b.bin,
           CAST(b.w AS BIGINT) AS n_docs,
           floor(b.ones * 1.0 / b.w * 10000 + 0.5) / 10000 AS rate_raw,
           floor(iso.g * 10000 + 0.5) / 10000 AS rate_iso
    FROM ib b JOIN iso ON iso.bin = b.bin
    """,
    section="2.11 isotonic (PAV) score calibration — the non-parametric twin of Platt",
)
def isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic-regression calibration of the shared linear scorer
    against the shared Gopher pass bit — the NON-PARAMETRIC
    alternative a team reaches for when Platt's sigmoid shape is
    wrong (Zadrozny & Elkan 2002, public). Computed over the percent
    score bins via the max-min characterization of the PAV solution
    (Barlow et al. 1972): fitted rate at bin i =
    max over j <= i of min over k >= i of the weighted pass rate of
    bins j..k — which needs only exact-integer prefix sums and a
    bin-grid join, so unlike the sequential pool-adjacent-violators
    loop it is order-free, engine-exact (every avg is a ratio of
    integers; min/max over identical doubles), and embarrassingly
    parallel. Scale: one corpus pass to bin, then all work is on the
    BIN grid (B <= 100 rows, O(B^3) grid rows) — broadcast-sized.
    Output: per bin, the raw pass rate and the isotonic
    (non-decreasing) calibrated rate."""
    from pyspark.sql.window import Window

    lab = _gopher_flags_cached(spark, sf_dir).select(
        "doc_id",
        (
            F.col("ok_nwords")
            * F.col("ok_meanlen")
            * F.col("ok_maxlen")
            * F.col("ok_stop")
        ).alias("y"),
    )
    s = _linear_scored_cached(spark, sf_dir).select("doc_id", "quality")
    ib = materialize(
        s.join(lab, "doc_id")
        .groupBy(F.floor(F.col("quality") * 100).cast("bigint").alias("bin"))
        .agg(F.count(F.lit(1)).alias("w"), F.sum("y").alias("ones")),
        SMALL,
    )  # bin-grid frame, consumed 4x below
    wcum = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    ipb = ib.select(
        "bin", "w", "ones",
        F.sum("w").over(wcum).alias("cw"),
        F.sum("ones").over(wcum).alias("cy"),
    )
    j = ipb.select(
        F.col("bin").alias("jb"),
        (F.col("cy") - (F.col("cy") - F.col("ones"))).alias("_drop"),
        (F.col("cy") - F.col("ones")).alias("cy0"),
        (F.col("cw") - F.col("w")).alias("cw0"),
    ).drop("_drop")
    k = ipb.select(
        F.col("bin").alias("kb"), F.col("cy").alias("kcy"), F.col("cw").alias("kcw")
    )
    iseg = (
        j.join(k, F.col("jb") <= F.col("kb"))
        .select(
            "jb", "kb",
            (
                (F.col("kcy") - F.col("cy0"))
                * F.lit(1.0)
                / (F.col("kcw") - F.col("cw0"))
            ).alias("avgr"),
        )
    )
    i = ipb.select(F.col("bin").alias("bin"))
    ilvl = (
        i.join(iseg, (F.col("jb") <= F.col("bin")) & (F.col("kb") >= F.col("bin")))
        .groupBy("bin", "jb")
        .agg(F.min("avgr").alias("mn"))
    )
    iso = ilvl.groupBy("bin").agg(F.max("mn").alias("g"))
    return ib.join(iso, "bin").select(
        "bin",
        F.col("w").cast("bigint").alias("n_docs"),
        round_half_up(F.col("ones") * 1.0 / F.col("w"), 4).alias("rate_raw"),
        round_half_up(F.col("g"), 4).alias("rate_iso"),
    )


@query(
    "mi_feature_ranking",
    oracle=f"""
    WITH {_GOPHER_FLAGS_CTES},
    mfeat AS (
        SELECT d.doc_id,
               f.ok_nwords * f.ok_meanlen * f.ok_maxlen * f.ok_stop AS y,
               CASE WHEN regexp_matches(d.text, '[0-9]') THEN 1 ELSE 0 END
                   AS has_digit,
               CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS is_en,
               CASE WHEN d.n_chars >= 500 THEN 1 ELSE 0 END AS long_doc,
               CASE WHEN len(string_split(d.text, ' ')) >= 60 THEN 1 ELSE 0 END
                   AS many_words
        FROM documents d JOIN flags f ON f.doc_id = d.doc_id
    ), stk AS (
        SELECT 'has_digit' AS feature, has_digit AS f, y FROM mfeat
        UNION ALL SELECT 'is_en', is_en, y FROM mfeat
        UNION ALL SELECT 'long_doc', long_doc, y FROM mfeat
        UNION ALL SELECT 'many_words', many_words, y FROM mfeat
    ), cnt AS (
        SELECT feature, count(*) AS n, sum(f) AS n1, sum(y) AS ny,
               sum(f * y) AS n11
        FROM stk GROUP BY feature
    ), tab AS (
        SELECT feature, n, n1, ny, n11,
               n1 - n11 AS n10, ny - n11 AS n01, n - n1 - ny + n11 AS n00
        FROM cnt
    )
    SELECT feature,
           CAST(n1 AS BIGINT) AS n_pos,
           floor((CASE WHEN n11 > 0 THEN n11 * 1.0 / n
                       * ln(n * 1.0 * n11 / (n1 * 1.0 * ny)) ELSE 0.0 END
                + CASE WHEN n10 > 0 THEN n10 * 1.0 / n
                       * ln(n * 1.0 * n10 / (n1 * 1.0 * (n - ny))) ELSE 0.0 END
                + CASE WHEN n01 > 0 THEN n01 * 1.0 / n
                       * ln(n * 1.0 * n01 / ((n - n1) * 1.0 * ny)) ELSE 0.0 END
                + CASE WHEN n00 > 0 THEN n00 * 1.0 / n
                       * ln(n * 1.0 * n00 / ((n - n1) * 1.0 * (n - ny)))
                  ELSE 0.0 END) * 1000000 + 0.5) / 1000000 AS mi_nats
    FROM tab
    """,
    section="2.11 mutual-information feature ranking (filter-method feature selection)",
)
def mi_feature_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information I(feature; quality-pass) in nats for a panel
    of cheap binary document features against the shared Gopher
    all-pass bit — filter-method feature selection (Guyon & Elisseeff
    2003, public): the ranking tells a gate-builder which signals
    carry label information BEFORE any model trains, and near-zero MI
    flags a feature as dead weight. Each feature's 2x2 contingency
    table is exact integers from one corpus pass (stack -> one keyed
    agg); MI is a FIXED-ORDER four-term sum of integer-ratio
    logarithms (zero cells contribute zero by the standard
    convention), 6dp-pinned. Products like n*n11 stay under 2^53 far
    past fixture scale — at true 100 TB row counts, widen to
    ln-difference form. Scale: one scan, 4 rows per doc into a
    4-group agg."""
    d = load_table(spark, sf_dir, "documents")
    lab = _gopher_flags_cached(spark, sf_dir).select(
        "doc_id",
        (
            F.col("ok_nwords")
            * F.col("ok_meanlen")
            * F.col("ok_maxlen")
            * F.col("ok_stop")
        ).alias("y"),
    )
    feat = d.join(lab, "doc_id").select(
        "y",
        F.when(F.col("text").rlike("[0-9]"), 1).otherwise(0).alias("has_digit"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("is_en"),
        F.when(F.col("n_chars") >= 500, 1).otherwise(0).alias("long_doc"),
        F.when(F.size(F.split("text", " ")) >= 60, 1)
        .otherwise(0)
        .alias("many_words"),
    )
    stk = feat.select(
        F.expr(
            "stack(4, 'has_digit', has_digit, 'is_en', is_en, "
            "'long_doc', long_doc, 'many_words', many_words)"
        ).alias("feature", "f"),
        "y",
    )
    tab = (
        stk.groupBy("feature")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("f").alias("n1"),
            F.sum("y").alias("ny"),
            F.sum(F.col("f") * F.col("y")).alias("n11"),
        )
        .select(
            "feature", "n", "n1", "ny", "n11",
            (F.col("n1") - F.col("n11")).alias("n10"),
            (F.col("ny") - F.col("n11")).alias("n01"),
            (F.col("n") - F.col("n1") - F.col("ny") + F.col("n11")).alias("n00"),
        )
    )

    def term(nab, na, nb):
        return F.when(
            nab > 0,
            nab * F.lit(1.0) / F.col("n")
            * F.log(F.col("n") * F.lit(1.0) * nab / (na * F.lit(1.0) * nb)),
        ).otherwise(F.lit(0.0))

    n, n1, ny = F.col("n"), F.col("n1"), F.col("ny")
    mi = (
        term(F.col("n11"), n1, ny)
        + term(F.col("n10"), n1, n - ny)
        + term(F.col("n01"), n - n1, ny)
        + term(F.col("n00"), n - n1, n - ny)
    )
    return tab.select(
        "feature",
        F.col("n1").cast("bigint").alias("n_pos"),
        round_half_up(mi, 6).alias("mi_nats"),
    )


@query(
    "nearest_centroid_classify",
    oracle=f"""
    WITH tr AS (
        SELECT label, unnest(generate_series(1, len(embedding))) AS dim,
               unnest(CAST(embedding AS DOUBLE[])) AS v
        FROM embeddings WHERE vec_id >= {_KNN_QUERIES}
    ), cent AS (
        SELECT label AS clabel, dim,
               sign(avg(v)) * floor(abs(avg(v)) * 1000000 + 0.5) / 1000000
                   AS cv
        FROM tr GROUP BY label, dim
    ), q AS (
        SELECT vec_id, label AS true_label,
               unnest(generate_series(1, len(embedding))) AS dim,
               unnest(CAST(embedding AS DOUBLE[])) AS v
        FROM embeddings WHERE vec_id < {_KNN_QUERIES}
    ), d2 AS (
        SELECT q.vec_id, q.true_label, c.clabel,
               floor(sum((q.v - c.cv) * (q.v - c.cv)) * 1000000 + 0.5)
                   / 1000000 AS d2
        FROM q JOIN cent c ON c.dim = q.dim
        GROUP BY q.vec_id, q.true_label, c.clabel
    ), pred AS (
        SELECT vec_id, true_label, clabel AS pred_label
        FROM (SELECT vec_id, true_label, clabel,
                     row_number() OVER (PARTITION BY vec_id
                                        ORDER BY d2, clabel) AS rn
              FROM d2)
        WHERE rn = 1
    )
    SELECT CAST(true_label AS INT) AS true_label,
           CAST(pred_label AS INT) AS pred_label,
           CAST(count(*) AS BIGINT) AS n
    FROM pred GROUP BY true_label, pred_label
    """,
    section="2.11 nearest-centroid (Rocchio) classification — the centroid twin of k-NN",
)
def nearest_centroid_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid (Rocchio) classification of the same held-out
    query block `knn_classify` votes on (vec_id < {_KNN_QUERIES}): per-label
    centroids from the training vectors, each query assigned to the
    closest centroid by squared euclidean distance, confusion counts
    out. The model-based counterpart of instance-based k-NN — at
    100 TB the centroid table is labels x dims (broadcast-sized, one
    pass to train) where k-NN must scan the corpus per query; the
    pair is the classic accuracy/cost trade the eval family should
    price. Engine exactness: centroid components are 6dp-PINNED after
    the (order-dependent) mean, distances are 6dp-pinned after the
    64-term sum, and the argmin breaks ties by label — so both
    engines compare identical doubles at every step."""
    e = load_table(spark, sf_dir, "embeddings")
    arr = F.col("embedding").cast("array<double>")
    tr = e.filter(F.col("vec_id") >= _KNN_QUERIES).select(
        "label", F.posexplode(arr).alias("dim", "v")
    )
    cent = tr.groupBy(F.col("label").alias("clabel"), "dim").agg(
        (signed_round_half_up(F.avg("v"), 6) + F.lit(0.0)).alias("cv")
    )
    q = e.filter(F.col("vec_id") < _KNN_QUERIES).select(
        "vec_id",
        F.col("label").alias("true_label"),
        F.posexplode(arr).alias("dim", "v"),
    )
    d2 = (
        q.join(F.broadcast(cent), "dim")
        .groupBy("vec_id", "true_label", "clabel")
        .agg(
            round_half_up(
                F.sum((F.col("v") - F.col("cv")) * (F.col("v") - F.col("cv"))),
                6,
            ).alias("d2")
        )
    )
    from pyspark.sql.window import Window

    pred = (
        d2.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy("d2", "clabel")
            ),
        )
        .filter(F.col("rn") == 1)
        .select("true_label", F.col("clabel").alias("pred_label"))
    )
    return pred.groupBy("true_label", "pred_label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    ).select(
        F.col("true_label").cast("int").alias("true_label"),
        F.col("pred_label").cast("int").alias("pred_label"),
        "n",
    )
