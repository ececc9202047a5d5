"""Text analysis over `documents`. SURVEY.md §2.11.

Word count (the map-reduce flagship), per-language stats, TF-IDF,
lexicon sentiment, language-ID heuristic, quality scoring, token
counting, and document fingerprinting — all as built-in column
expressions (explode/split/groupBy), no Python UDFs, so the hot path
is identical at 100 TB: one scan + one keyed shuffle per query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..iterate import checkpointed_rounds
from ..operators import textops
from ..operators.dedup import bucket_pairs
from ..operators.textops import round_half_up
from ..session_cache import CORPUS, SMALL, materialize, session_cached
from ..sources.tables import load_table
from .registry import query

# tiny sentiment lexicon over the fixture vocabulary
# Polarity in INTEGER DECI-UNITS (score x 10): the float scores (0.4,
# -0.2, ...) are not binary-exact, so an averaged float sum was
# accumulation-order fragile at 4dp midpoints; integer sums are exact
# and divide once. Rendering is SIGN-AWARE half-up (sentiment is the
# one family that goes negative; plain floor-form rounds negative
# midpoints toward +inf, violating the stated half-up convention).
_LEXICON_D10 = [
    ("fast", 10),
    ("slow", -10),
    ("big", 4),
    ("small", -2),
    ("merge", 5),
    ("dup", -6),
]
_LEXICON_SQL = ", ".join(f"('{w}', {s})" for w, s in _LEXICON_D10)


@query(
    "word_count",
    oracle="""
    SELECT word, count(*) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
    WHERE word <> ''
    GROUP BY word
    """,
    section="2.11 word count (MR flagship)",
)
def word_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode(split) → groupBy(word).count — partial aggregation on
    the map side means only (word, partial_n) pairs shuffle."""
    return textops.word_count(load_table(spark, sf_dir, "documents"), "text")


@query(
    "text_stats",
    oracle="""
    SELECT lang,
           count(*)                                              AS n_docs,
           floor(avg(n_chars) * 100 + 0.5) / 100                 AS avg_chars,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT)     AS total_tokens,
           floor(avg(len(string_split(text, ' '))) * 100 + 0.5) / 100 AS avg_tokens
    FROM documents
    GROUP BY lang
    """,
    section="2.11 text analysis: per-lang token/char stats",
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    ntok = F.size(textops.tokens("text"))
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        round_half_up(F.avg("n_chars"), 2).alias("avg_chars"),
        F.sum(ntok).cast("bigint").alias("total_tokens"),
        round_half_up(F.avg(ntok), 2).alias("avg_tokens"),
    )


@query(
    "tf_idf",
    oracle="""
    WITH tf AS (
        SELECT doc_id, word, count(*) AS tf
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
        WHERE word <> ''
        GROUP BY doc_id, word
    ), df AS (
        SELECT word, count(DISTINCT doc_id) AS df FROM tf GROUP BY word
    ), n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT tf.doc_id, tf.word,
           CAST(tf.tf AS BIGINT) AS tf,
           floor(tf.tf * ln(n.n_docs / df.df) * 1000000 + 0.5) / 1000000 AS tfidf
    FROM tf JOIN df USING (word) CROSS JOIN n
    """,
    section="2.11 TF-IDF / term stats",
)
def tf_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF per (doc,term), DF per term, idf = ln(N/df). The DF side is
    tiny (vocab-sized) → broadcast back onto TF; N is a 1-row broadcast
    cross join, never a collect."""
    return textops.tf_idf(load_table(spark, sf_dir, "documents"), "doc_id", "text")


@query(
    "sentiment_lexicon",
    oracle=f"""
    WITH lex(word, score_d10) AS (VALUES {_LEXICON_SQL}),
         tok AS (SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents)
    SELECT tok.lang,
           count(*)                    AS n_hits,
           sign(CAST(sum(lex.score_d10) AS DOUBLE) / (count(*) * 10))
           * floor(abs(CAST(sum(lex.score_d10) AS DOUBLE) / (count(*) * 10))
                   * 10000 + 0.5) / 10000 AS avg_sentiment
    FROM tok JOIN lex USING (word)
    GROUP BY tok.lang
    """,
    section="2.11 lexicon sentiment score",
)
def sentiment_lexicon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token⋈lexicon (broadcast — a lexicon is always dim-sized) then
    per-language average polarity."""
    d = load_table(spark, sf_dir, "documents")
    lex = spark.createDataFrame(_LEXICON_D10, "word string, score_d10 long")
    tok = d.select("lang", F.explode(textops.tokens("text")).alias("word"))
    avg = F.sum("score_d10").cast("double") / (F.count(F.lit(1)) * 10)
    return (
        tok.join(F.broadcast(lex), "word")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            textops.signed_round_half_up(avg, 4).alias("avg_sentiment"),
        )
    )


@query(
    "lang_id",
    oracle="""
    WITH scored AS (
        SELECT doc_id, lang,
               len(list_filter(string_split(text, ' '),
                               w -> w IN ('the', 'a')))::DOUBLE
               / len(string_split(text, ' ')) AS stop_ratio
        FROM documents
    )
    SELECT lang,
           CASE WHEN stop_ratio >= 0.08 THEN 'en' ELSE 'other' END AS pred_lang,
           count(*)                                                AS n_docs,
           floor(avg(stop_ratio) * 10000 + 0.5) / 10000            AS avg_stop_ratio
    FROM scored
    GROUP BY lang, CASE WHEN stop_ratio >= 0.08 THEN 'en' ELSE 'other' END
    """,
    section="2.11 language-ID (stopword n-gram heuristic)",
)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stopword-ratio language heuristic (the fixture
    vocabulary is English-only, so this measures the machinery, not
    linguistics)."""
    d = load_table(spark, sf_dir, "documents")
    # the ONE stop-ratio definition (textops.stopword_ratio — also
    # behind quality_score via quality_features): an inline copy here
    # could silently drift from the shared stopword set/tokenizer
    stop_ratio = textops.stopword_ratio("text")
    scored = d.select(
        "lang",
        F.when(stop_ratio >= 0.08, "en").otherwise("other").alias("pred_lang"),
        stop_ratio.alias("stop_ratio"),
    )
    return scored.groupBy("lang", "pred_lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        round_half_up(F.avg("stop_ratio"), 4).alias("avg_stop_ratio"),
    )


@query(
    "quality_score",
    # floor(x·1e4 + 0.5)/1e4 mirrors operators/textops.round_half_up —
    # engine-independent rounding (plain round() diverges on .xxxx5
    # boundaries; see that helper's docstring)
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT)  AS n_tokens,
           floor((n_chars - len(string_split(text, ' ')) + 1.0)
                 / len(string_split(text, ' ')) * 10000 + 0.5) / 10000 AS avg_token_len,
           floor(len(list_filter(string_split(text, ' '), w -> w IN ('the', 'a')))::DOUBLE
                 / len(string_split(text, ' ')) * 10000 + 0.5) / 10000 AS stop_ratio,
           floor(least(1.0, greatest(0.0,
                 0.2 + 0.12 * ((n_chars - len(string_split(text, ' ')) + 1.0)
                               / len(string_split(text, ' ')))
                 - 0.5 * (len(list_filter(string_split(text, ' '), w -> w IN ('the', 'a')))::DOUBLE
                          / len(string_split(text, ' '))))) * 10000 + 0.5) / 10000 AS quality
    FROM documents
    """,
    section="2.11 quality scoring (length/stopword ratios)",
)
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic doc-quality: mean token length up, stopword ratio
    down, clipped to [0,1]. Pure column math — vectorized end-to-end."""
    return textops.quality_features(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", "n_chars"
    )


@query(
    "token_count_bpe",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
           CAST(list_aggregate([ceil(length(w) / 4.0) for w in string_split(text, ' ')],
                               'sum') AS BIGINT)        AS n_bpe_tokens
    FROM documents
    """,
    section="2.11 token counting (whitespace + BPE-ish ceil(len/4))",
)
def token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace tokens plus a BPE-proxy count (≈1 subword per 4
    chars) — the standard pre-training corpus sizing pass."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(textops.tokens("text")).cast("bigint").alias("n_ws_tokens"),
        textops.bpe_token_count("text").cast("bigint").alias("n_bpe_tokens"),
    )


# "held-out benchmark" 3-gram phrases for the contamination screen:
# four that occur in the fixture corpus + one that cannot (inner-join
# semantics drop phrases with zero hits on both engines identically)
_BENCH_PHRASES = [
    "slow hash batch",
    "row column sort",
    "stream table hash",
    "window fast query",
    "held out benchmark",
]
_BENCH_SQL = ", ".join(f"('{p}')" for p in _BENCH_PHRASES)


@query(
    "contamination_screen",
    oracle=f"""
    WITH bench(phrase) AS (VALUES {_BENCH_SQL}),
    ex AS (
        SELECT DISTINCT doc_id, s FROM (
            SELECT doc_id,
                   unnest([tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]
                           for i in range(1, len(tokens) - 1)]) AS s
            FROM (SELECT doc_id, string_split(text, ' ') AS tokens FROM documents)
        )
    )
    SELECT bench.phrase,
           count(DISTINCT ex.doc_id) AS n_contaminated
    FROM ex JOIN bench ON ex.s = bench.phrase
    GROUP BY bench.phrase
    """,
    section="2.11 benchmark-contamination screen (n-gram overlap vs held-out set)",
)
def contamination_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination check: which documents contain any
    3-gram from a held-out benchmark set. The benchmark side is always
    dim-sized → broadcast onto the exploded shingle stream, which is
    built WITHOUT the per-(doc, shingle) distinct (distinct=False):
    the broadcast join filters the stream to a handful of matches
    MAP-SIDE before any s-keyed exchange, and the final countDistinct
    dedups those survivors — the old form paid a corpus-wide
    (doc, shingle) distinct shuffle for rows the join then discarded.
    Remaining wide op: the doc_id window inside the shingle build
    (inherent to lead-based shingling). The standard decontamination
    pass before pre-training."""
    from ..operators import dedup as dedup_ops

    d = load_table(spark, sf_dir, "documents")
    shingles = dedup_ops.shingle_rows(
        d, "doc_id", "text", n=3, hashed=False, distinct=False
    )
    bench = spark.createDataFrame([(p,) for p in _BENCH_PHRASES], "phrase string")
    return (
        shingles.join(F.broadcast(bench), shingles.s == bench.phrase)
        .groupBy("phrase")
        .agg(F.countDistinct("doc_id").alias("n_contaminated"))
    )


@query(
    "repetition_ratio",
    oracle="""
    WITH tf AS (
        SELECT doc_id, word, count(*) AS n
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
        WHERE word <> ''
        GROUP BY doc_id, word
    )
    SELECT doc_id,
           CAST(sum(n) AS BIGINT)                 AS n_tokens,
           floor(max(n)::DOUBLE / sum(n) * 10000 + 0.5) / 10000 AS rep_ratio,
           (max(n)::DOUBLE / sum(n) > 0.1)        AS is_repetitive
    FROM tf
    GROUP BY doc_id
    """,
    section="2.11 repetition-ratio quality signal (boilerplate/spam detector)",
)
def repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most-frequent-token share per document — the cheap repetition
    heuristic corpus filters use to drop looped/boilerplate text. Two
    keyed aggregations, both with map-side partial combine; nothing
    leaves the JVM."""
    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(textops.tokens("text")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    ratio = F.max("n").cast("double") / F.sum("n")
    return tf.groupBy("doc_id").agg(
        F.sum("n").cast("bigint").alias("n_tokens"),
        round_half_up(ratio, 4).alias("rep_ratio"),
        (ratio > 0.1).alias("is_repetitive"),
    )


@query(
    "doc_fingerprint",
    oracle="""
    SELECT source,
           count(*)                                        AS n_docs,
           count(DISTINCT md5(replace(text, ' ', '')))     AS n_fingerprints
    FROM documents
    GROUP BY source
    """,
    section="2.11 document fingerprinting (normalized content hash)",
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace-normalized md5 content fingerprint; distinct-count
    per source spots intra-source duplication."""
    d = load_table(spark, sf_dir, "documents")
    fp = textops.content_fingerprint("text")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(fp).alias("n_fingerprints"),
    )


@query(
    "unigram_perplexity",
    oracle="""
    WITH tok AS (
        SELECT doc_id, word
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
        WHERE word <> ''
    ), freq AS (
        SELECT word, count(*) AS n FROM tok GROUP BY word
    ), tot AS (
        SELECT sum(n) AS total FROM freq
    )
    SELECT tok.doc_id,
           count(*)                                               AS n_tokens,
           floor(exp(-avg(ln(freq.n / tot.total))) * 100 + 0.5) / 100 AS ppl
    FROM tok JOIN freq USING (word) CROSS JOIN tot
    GROUP BY tok.doc_id
    """,
    section="2.11 unigram-LM perplexity (corpus-frequency quality signal)",
)
def unigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document perplexity under the corpus's own unigram LM —
    the classic cheap quality filter (outlier docs score high).
    p(w) = n_w / total; ppl = exp(-mean ln p). The frequency table is
    vocab-sized → broadcast back onto the token stream; the corpus
    total is a 1-row broadcast cross join. Two keyed aggs, zero
    Python — at 100 TB this is two scans of the token stream (or one,
    if the vocab table is precomputed and reused across filters)."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(textops.tokens("text")).alias("word")).filter(
        F.col("word") != ""
    )
    freq = tok.groupBy("word").agg(F.count(F.lit(1)).alias("n"))
    tot = freq.agg(F.sum("n").alias("total"))
    return (
        tok.join(F.broadcast(freq), "word")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            round_half_up(F.exp(-F.avg(F.log(F.col("n") / F.col("total")))), 2).alias("ppl"),
        )
    )


# ONE definition of the document-level co-occurrence pair matrix and
# its deterministic top-20 cut (n desc, w1, w2), as paired Spark/SQL
# builders: word_cooccurrence REPORTS the counts and cooccurrence_pmi
# SCORES them, so a one-sided edit to the tie-break, the empty-token
# filter, or the limit would silently fork the two (the
# _bm25_frames/_BM25_CTES_SQL precedent, applied to the pair matrix).
_COOC_DW_SQL = """dw AS (
        SELECT DISTINCT doc_id, word
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
        WHERE word <> ''
    )"""


def _cooc_top20_sql(cnt_alias: str = "n") -> str:
    return f"""SELECT a.word AS w1, b.word AS w2, count(*) AS {cnt_alias}
    FROM dw a JOIN dw b ON a.doc_id = b.doc_id AND a.word < b.word
    GROUP BY a.word, b.word
    ORDER BY {cnt_alias} DESC, w1, w2
    LIMIT 20"""


def _cooc_top20(d: DataFrame, cnt_alias: str = "n") -> DataFrame:
    """Spark twin of _cooc_top20_sql over the distinct (doc, word)
    incidence: word pairs with the document as the bucket
    (``bucket_pairs``; df-band the vocabulary at real scale),
    TakeOrdered top-20."""
    dw = (
        d.select("doc_id", F.explode(textops.tokens("text")).alias("word"))
        .filter(F.col("word") != "")
        .distinct()
    )
    return (
        bucket_pairs(dw, "word", "doc_id")
        .select(F.col("id_a").alias("w1"), F.col("id_b").alias("w2"), F.col("n").alias(cnt_alias))
        .orderBy(F.col(cnt_alias).desc(), "w1", "w2")
        .limit(20)
    )


@query(
    "word_cooccurrence",
    oracle=f"""
    WITH {_COOC_DW_SQL}
    {_cooc_top20_sql("n")}
    """,
    section="2.11 word co-occurrence matrix (top pairs by shared docs)",
)
def word_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classic MR 'pairs' co-occurrence job: distinct (doc, word)
    → per-doc pairs (w1 < w2) with counts → top-20. At real corpus
    scale, band the vocabulary first (drop ultra-rare and
    stopword-frequency terms by doc-frequency) — the standard trick
    that keeps per-doc vocab, and hence each bucket, bounded. Top-20
    via TakeOrdered (per-partition heaps)."""
    return _cooc_top20(load_table(spark, sf_dir, "documents"), "n")


@query(
    "vocab_coverage",
    oracle="""
    WITH tok AS (
        SELECT word
        FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        WHERE word <> ''
    ), freq AS (
        SELECT word, count(*) AS n FROM tok GROUP BY word
    ), ranked AS (
        SELECT n, row_number() OVER (ORDER BY n DESC, word) AS rk FROM freq
    ), tot AS (SELECT sum(n) AS total FROM freq)
    SELECT ks.k,
           floor(sum(CASE WHEN rk <= ks.k THEN n ELSE 0 END) / max(tot.total) * 10000 + 0.5) / 10000
               AS coverage
    FROM ranked CROSS JOIN tot CROSS JOIN (VALUES (5), (10), (20)) ks(k)
    GROUP BY ks.k
    """,
    section="2.11 vocabulary coverage curve (tokenizer vocab sizing)",
)
def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token coverage of the top-k vocabulary for several k — the
    curve that sizes a tokenizer's vocab (what fraction of the stream
    avoids <UNK>). Frequency table is vocab-sized, ranking it is a
    dim-sized window, and the k-values are a 3-row broadcast; the only
    corpus-scale work is the one token-count aggregation."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    freq = (
        d.select(F.explode(textops.tokens("text")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    ranked = freq.select(
        "n", F.row_number().over(Window.orderBy(F.desc("n"), F.asc("word"))).alias("rk")
    )
    tot = freq.agg(F.sum("n").alias("total"))
    ks = spark.createDataFrame([(5,), (10,), (20,)], "k int")
    return (
        ranked.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(ks))
        .groupBy("k")
        .agg(
            round_half_up(
                F.sum(F.when(F.col("rk") <= F.col("k"), F.col("n")).otherwise(0))
                / F.max("total"),
                4,
            ).alias("coverage")
        )
    )


@query(
    "bigram_perplexity",
    oracle="""
    WITH bg AS (
        SELECT doc_id, tokens[i] AS w1, tokens[i+1] AS w2
        FROM (
            SELECT doc_id, tokens,
                   unnest(generate_series(1, len(tokens) - 1)) AS i
            FROM (SELECT doc_id, string_split(text, ' ') AS tokens FROM documents)
        )
    ), cnt AS (
        SELECT w1, w2, count(*) AS n FROM bg GROUP BY w1, w2
    ), pre AS (
        SELECT w1, sum(n) AS np FROM cnt GROUP BY w1
    )
    SELECT bg.doc_id,
           count(*)                                   AS n_bigrams,
           floor(exp(-avg(ln(cnt.n / pre.np))) * 100 + 0.5) / 100 AS ppl
    FROM bg
    JOIN cnt ON cnt.w1 = bg.w1 AND cnt.w2 = bg.w2
    JOIN pre ON pre.w1 = bg.w1
    GROUP BY bg.doc_id
    """,
    section="2.11 bigram-LM perplexity (conditional-probability quality signal)",
)
def bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document perplexity under the corpus's own bigram LM:
    p(w2|w1) = n(w1,w2) / n(w1·), ppl = exp(-mean ln p) over the doc's
    adjacent pairs — the stronger sibling of `unigram_perplexity`
    (word-order scrambles score high here but not there). Bigrams come
    from the same posexplode + window-lead pass as the shingle
    machinery; the model tables are plain keyed aggs. Unlike the
    unigram vocab, the bigram table can exceed broadcast size at
    corpus scale, so the model joins stay shuffle joins on (w1, w2) /
    (w1) — co-partitioned with the token stream's own grouping."""
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.posexplode(textops.tokens("text")).alias("pos", "w1")
    )
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    bg = (
        toks.select("doc_id", "w1", F.lead("w1", 1).over(wdoc).alias("w2"))
        .filter(F.col("w2").isNotNull())
    )
    cnt = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n"))
    pre = cnt.groupBy("w1").agg(F.sum("n").alias("np"))
    return (
        bg.join(cnt, ["w1", "w2"])
        .join(pre, "w1")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            round_half_up(F.exp(-F.avg(F.log(F.col("n") / F.col("np")))), 2).alias("ppl"),
        )
    )


# ONE text for the JM trigram-LM model tables (trigram/bigram/unigram
# counts + continuation denominators + corpus total) — shared by
# trigram_perplexity_jm and jm_lambda_sweep so the model the sweep
# prices is EXACTLY the model the production query scores with.
_JM_MODEL_CTES = """toks AS (
        SELECT doc_id, string_split(text, ' ') AS tokens FROM documents
    ), tg AS (
        SELECT doc_id, tokens[i] AS w1, tokens[i+1] AS w2, tokens[i+2] AS w3
        FROM (SELECT doc_id, tokens,
                     unnest(generate_series(1, len(tokens) - 2)) AS i
              FROM toks)
    ), tri AS (
        SELECT w1, w2, w3, count(*) AS nt FROM tg GROUP BY w1, w2, w3
    ), tri_pre AS (
        SELECT w1, w2, CAST(sum(nt) AS BIGINT) AS ntp FROM tri GROUP BY w1, w2
    ), bi AS (
        SELECT w2, w3, count(*) AS nb
        FROM (SELECT tokens[i] AS w2, tokens[i+1] AS w3
              FROM (SELECT tokens,
                           unnest(generate_series(1, len(tokens) - 1)) AS i
                    FROM toks))
        GROUP BY w2, w3
    ), bi_pre AS (
        SELECT w2, CAST(sum(nb) AS BIGINT) AS nbp FROM bi GROUP BY w2
    ), uni AS (
        SELECT w3, count(*) AS nu
        FROM (SELECT unnest(tokens) AS w3 FROM toks) GROUP BY w3
    ), tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n
        FROM (SELECT unnest(tokens) AS w FROM toks)
    )"""


@query(
    "trigram_perplexity_jm",
    oracle=f"""
    WITH {_JM_MODEL_CTES}
    SELECT tg.doc_id,
           count(*) AS n_trigrams,
           floor(exp(-avg(ln(
               0.6 * (tri.nt / tri_pre.ntp)
             + 0.3 * (bi.nb / bi_pre.nbp)
             + 0.1 * (uni.nu / tot.n)
           ))) * 100 + 0.5) / 100 AS ppl
    FROM tg
    JOIN tri ON tri.w1 = tg.w1 AND tri.w2 = tg.w2 AND tri.w3 = tg.w3
    JOIN tri_pre ON tri_pre.w1 = tg.w1 AND tri_pre.w2 = tg.w2
    JOIN bi ON bi.w2 = tg.w2 AND bi.w3 = tg.w3
    JOIN bi_pre ON bi_pre.w2 = tg.w2
    JOIN uni ON uni.w3 = tg.w3
    CROSS JOIN tot
    GROUP BY tg.doc_id
    """,
    section="2.11 interpolated trigram-LM perplexity (Jelinek-Mercer smoothing)",
)
def trigram_perplexity_jm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document perplexity under a Jelinek-Mercer interpolated
    trigram LM: p(w3|w1,w2) = 0.6·p_tri + 0.3·p_bi + 0.1·p_uni —
    the classic smoothing that keeps unseen-context probability mass
    finite, completing the LM-quality ladder above `unigram_perplexity`
    and `bigram_perplexity` (which assign 0 to any unseen n-gram and
    so can only score the corpus they were counted on). All context
    denominators are continuation totals (sum of the higher-order
    table), so every interpolation weight multiplies an exact-integer
    ratio; the three lambda literals are spelled identically on both
    sides and the mixture is one fixed-order expression.

    100 TB posture: the model tables are keyed aggs over the token
    stream (trigram/bigram tables exceed broadcast size at corpus
    scale, so the scoring joins stay shuffle joins co-partitioned
    with the stream's own grouping, like bigram_perplexity); the
    1-row corpus total is a broadcast cross join. Determinism: exp of
    an order-dependent avg amplifies ~1e-13 mean noise to ~1e-8
    (round-3 gotcha), so ppl is rounded at 2dp like its siblings.
    """
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.posexplode(textops.tokens("text")).alias("pos", "w1"))
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    seq = toks.select(
        "doc_id",
        "w1",
        F.lead("w1", 1).over(wdoc).alias("w2"),
        F.lead("w1", 2).over(wdoc).alias("w3"),
    )
    tg = seq.filter(F.col("w3").isNotNull())
    bg = seq.select("w1", "w2").filter(F.col("w2").isNotNull()).select(
        F.col("w1").alias("w2"), F.col("w2").alias("w3")
    )
    tri = tg.groupBy("w1", "w2", "w3").agg(F.count(F.lit(1)).alias("nt"))
    tri_pre = tri.groupBy("w1", "w2").agg(F.sum("nt").alias("ntp"))
    bi = bg.groupBy("w2", "w3").agg(F.count(F.lit(1)).alias("nb"))
    bi_pre = bi.groupBy("w2").agg(F.sum("nb").alias("nbp"))
    uni = toks.select(F.col("w1").alias("w3")).groupBy("w3").agg(
        F.count(F.lit(1)).alias("nu")
    )
    tot = toks.agg(F.count(F.lit(1)).alias("n"))
    p_jm = (
        0.6 * (F.col("nt") / F.col("ntp"))
        + 0.3 * (F.col("nb") / F.col("nbp"))
        + 0.1 * (F.col("nu") / F.col("n"))
    )
    return (
        tg.join(tri, ["w1", "w2", "w3"])
        .join(tri_pre, ["w1", "w2"])
        .join(bi, ["w2", "w3"])
        .join(bi_pre, ["w2"])
        .join(uni, ["w3"])
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_trigrams"),
            round_half_up(F.exp(-F.avg(F.log(p_jm))), 2).alias("ppl"),
        )
    )


# THE Okapi BM25 per-(doc, query-term) score (k1=1.2, b=0.75), written
# once for both engines: the Column form scores every BM25-family
# query (bm25_topk, rrf_fusion's lexical leg) and the SQL text is
# embedded verbatim in their oracles. Literal constants (2.2, 0.25)
# are spelled identically on both sides — 1.2+1.0 computed at runtime
# can land one ulp from the literal 2.2 double, which is exactly the
# kind of silent pairwise drift the single-definition discipline
# exists to prevent.
_OKAPI_TERM_SQL = """ln((s.n_docs - q.df + 0.5) / (q.df + 0.5) + 1.0)
               * tf.tf * 2.2
               / (tf.tf + 1.2 * (0.25 + 0.75 * lens.len / s.avglen))"""

# The shared BM25 statistics pipeline as oracle CTE text: per-doc term
# frequencies, doc lengths, the 1-row corpus stats, and document
# frequencies — the SQL twin of :func:`_bm25_frames`.
_BM25_CTES_SQL = """tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word
        FROM documents
    ), tf AS (
        SELECT doc_id, word, count(*) AS tf
        FROM tok WHERE word <> '' GROUP BY doc_id, word
    ), lens AS (
        SELECT doc_id, count(*) AS len FROM tok WHERE word <> '' GROUP BY doc_id
    ), stats AS (
        SELECT count(*) AS n_docs,
               CAST(sum(len) AS DOUBLE) / count(*) AS avglen
        FROM lens
    ), dfr AS (
        SELECT word, count(*) AS df FROM tf GROUP BY word
    )"""


def _okapi_score() -> F.Column:
    """Column twin of :data:`_OKAPI_TERM_SQL` over the joined frame's
    tf / df / len / n_docs / avglen columns."""
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    return (
        idf * F.col("tf") * 2.2
        / (F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("len") / F.col("avglen")))
    )


def _bm25_frames(d: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """(tf, lens, stats, dfr) — the BM25 statistics pipeline: one
    tokenize feeding the per-(doc, word) tf shuffle; lens reuses the
    same exchange key; stats collapses to one broadcastable row; dfr
    is vocab-sized. Shared by bm25_topk and rrf_fusion so the scoring
    inputs cannot drift between the plain and fused retrievers."""
    tok = d.select("doc_id", F.explode(textops.tokens("text")).alias("word")).filter(
        F.col("word") != ""
    )
    tf = tok.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    lens = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("len"))
    stats = lens.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("len").cast("double") / F.count(F.lit(1))).alias("avglen"),
    )
    dfr = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    return tf, lens, stats, dfr


@query(
    "bm25_topk",
    oracle=f"""
    WITH {_BM25_CTES_SQL}, qterms AS (
        SELECT word, df FROM dfr ORDER BY df, word LIMIT 3
    )
    SELECT tf.doc_id,
           floor(sum(
               {_OKAPI_TERM_SQL}
           ) * 10000 + 0.5) / 10000 AS bm25
    FROM tf
    JOIN qterms q ON tf.word = q.word
    JOIN lens ON lens.doc_id = tf.doc_id
    CROSS JOIN stats s
    GROUP BY tf.doc_id
    ORDER BY floor(sum(
               {_OKAPI_TERM_SQL}
           ) * 1e9 + 0.5) / 1e9 DESC, tf.doc_id
    LIMIT 10
    """,
    section="2.11 BM25 retrieval top-k (Okapi scoring, data-driven query terms)",
)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 document retrieval (k1=1.2, b=0.75): score every
    document against a query and return the top 10. The query is
    DATA-DRIVEN — the 3 rarest terms in the corpus (lowest df,
    alphabetical tie-break) — so the query survives fixture
    regeneration and the oracle derives the identical terms.

    Plan shape: term stats (df) and the query set are vocab-sized →
    broadcast; doc lengths join on doc_id (the same shuffle the tf
    agg just produced); the corpus constant (N, avglen) is a 1-row
    broadcast cross join, with avglen computed as exact-int
    sum(len)/count — one IEEE division, engine-identical. Scoring is
    pure codegen arithmetic; per-doc sums span ≤3 query terms, so
    accumulation noise is 1 ulp and the 4dp-rounded irrational
    scores sit nowhere near boundaries. The top-10 cut orders by the
    FAMILY-STANDARD floor-form 9dp rank key, not the raw float:
    duplicate-text docs tie bit-exactly (measured: two docs share
    rank 4-5 at sf0.1), and a raw-float ordering lets 1-ulp
    partial-sum noise decide set membership at the rank-10 boundary
    instead of the doc_id tie-break (TakeOrdered heaps, no global
    sort)."""

    d = load_table(spark, sf_dir, "documents")
    tf, lens, stats, dfr = _bm25_frames(d)
    qterms = dfr.orderBy("df", "word").limit(3)
    return (
        tf.join(F.broadcast(qterms.select("word", "df")), "word")
        .join(lens, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(_okapi_score()).alias("raw"))
        .orderBy((F.floor(F.col("raw") * 1e9 + 0.5) / 1e9).desc(), "doc_id")
        .limit(10)
        .select("doc_id", round_half_up(F.col("raw"), 4).alias("bm25"))
    )


@query(
    "rrf_fusion",
    oracle=f"""
    WITH {_BM25_CTES_SQL}, qterms AS (
        SELECT d.word, d.df FROM dfr d
        WHERE d.word IN (SELECT word FROM tf WHERE doc_id = 0)
        ORDER BY d.df, d.word LIMIT 3
    ), lex_scored AS (
        SELECT tf.doc_id, sum(
               {_OKAPI_TERM_SQL}
           ) AS raw
        FROM tf
        JOIN qterms q ON tf.word = q.word
        JOIN lens ON lens.doc_id = tf.doc_id
        CROSS JOIN stats s
        WHERE tf.doc_id <> 0
        GROUP BY tf.doc_id
    ), lex_top AS (
        SELECT doc_id, raw FROM lex_scored
        ORDER BY floor(raw * 1e9 + 0.5) / 1e9 DESC, doc_id LIMIT 20
    ), lex AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY floor(raw * 1e9 + 0.5) / 1e9 DESC,
                                           doc_id) AS lex_rank
        FROM lex_top
    ), emb AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ), dense_scored AS (
        SELECT e.vec_id,
               list_cosine_similarity(e.emb, q.emb) AS cos
        FROM emb e CROSS JOIN (SELECT emb FROM emb WHERE vec_id = 0) q
        WHERE e.vec_id <> 0
    ), dense_top AS (
        SELECT vec_id, cos FROM dense_scored
        ORDER BY floor(cos * 1e9 + 0.5) / 1e9 DESC, vec_id LIMIT 20
    ), dense AS (
        SELECT vec_id,
               row_number() OVER (ORDER BY floor(cos * 1e9 + 0.5) / 1e9 DESC,
                                           vec_id) AS dense_rank
        FROM dense_top
    ), fused AS (
        SELECT COALESCE(l.doc_id, d.vec_id) AS doc_id,
               l.lex_rank,
               d.dense_rank,
               COALESCE(1.0 / (60 + l.lex_rank), 0.0)
             + COALESCE(1.0 / (60 + d.dense_rank), 0.0) AS raw
        FROM lex l FULL OUTER JOIN dense d ON l.doc_id = d.vec_id
    )
    SELECT doc_id, lex_rank, dense_rank,
           floor(raw * 1e6 + 0.5) / 1e6 AS rrf
    FROM fused
    ORDER BY floor(raw * 1e9 + 0.5) / 1e9 DESC, doc_id
    LIMIT 10
    """,
    section="2.11 hybrid retrieval: reciprocal-rank fusion of BM25 + dense cosine",
)
def rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval for query-document 0: the lexical leg scores
    BM25 with the 3 globally-rarest terms OF DOC 0 (data-driven, so
    the query survives fixture regeneration and both legs answer
    \"what is most like document 0\"); the dense leg is brute-force
    cosine against doc 0's embedding. Each leg keeps its top 20, and
    reciprocal-rank fusion (k=60, the Cormack et al. constant) merges
    them: rrf = sum over legs of 1/(60+rank) — rank-based, so the two
    legs' incomparable score scales never need calibration, which is
    why RRF is the standard first fusion in hybrid search.

    Plan: the BM25 statistics pipeline is shared with bm25_topk
    (:func:`_bm25_frames` — one definition); both legs cut to their
    top 20 with TakeOrdered per-partition heaps FIRST and only then
    rank the bounded 20-row frames with a window (a global window,
    but over a LIMIT-bounded frame — documented in the plan-test
    allowlist), so no corpus-sized single-partition sort exists at
    any scale. The fusion join touches at most 40 rows. Determinism:
    both legs rank on the family-standard floor-form 9dp key; the
    RRF score is a sum of two exact IEEE divisions of small integers,
    identical in both engines, rendered half-up at 6dp. Ranks surface
    as BIGINT (Spark row_number is int32, DuckDB's is int64 — the
    cast keeps schemas aligned); a leg miss is a NULL rank and a zero
    fusion contribution.
    """
    from pyspark.sql.window import Window

    from ..operators import similarity as sim

    d = load_table(spark, sf_dir, "documents")
    tf, lens, stats, dfr = _bm25_frames(d)
    doc0_words = tf.filter(F.col("doc_id") == 0).select("word")
    qterms = dfr.join(doc0_words, "word").orderBy("df", "word").limit(3)
    lex_key = (F.floor(F.col("raw") * 1e9 + 0.5) / 1e9).desc()
    lex = (
        tf.filter(F.col("doc_id") != 0)
        .join(F.broadcast(qterms.select("word", "df")), "word")
        .join(lens, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(_okapi_score()).alias("raw"))
        .orderBy(lex_key, "doc_id")
        .limit(20)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(lex_key, "doc_id"))
            .cast("bigint")
            .alias("lex_rank"),
        )
    )
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", sim.as_double("embedding").alias("emb")
    )
    qv = e.filter(F.col("vec_id") == 0).select(F.col("emb").alias("qv"))
    dense_key = sim.rank_key(F.col("cos")).desc()
    dense = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select("vec_id", sim.cosine(F.col("emb"), F.col("qv")).alias("cos"))
        .orderBy(dense_key, "vec_id")
        .limit(20)
        .select(
            "vec_id",
            F.row_number()
            .over(Window.orderBy(dense_key, "vec_id"))
            .cast("bigint")
            .alias("dense_rank"),
        )
    )
    raw = F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("lex_rank")), F.lit(0.0)) + F.coalesce(
        F.lit(1.0) / (F.lit(60) + F.col("dense_rank")), F.lit(0.0)
    )
    return (
        lex.join(dense, lex["doc_id"] == dense["vec_id"], "full_outer")
        .select(
            F.coalesce("doc_id", "vec_id").alias("doc_id"),
            "lex_rank",
            "dense_rank",
            raw.alias("raw"),
        )
        .orderBy((F.floor(F.col("raw") * 1e9 + 0.5) / 1e9).desc(), "doc_id")
        .limit(10)
        .select("doc_id", "lex_rank", "dense_rank", round_half_up(F.col("raw"), 6).alias("rrf"))
    )


# --- BPE tokenizer training (Sennrich et al. 2016) -------------------
# One merge round's SQL, written once and unrolled: pk counts adjacent
# symbol pairs weighted by word frequency; bk is the arg-max pair
# (count desc, pair asc — the deterministic tie-break both engines
# share); spk applies the merge with list_reduce, the EXACT canonical
# left-to-right fold (a plain string replace() diverges from BPE on
# overlapping runs like "x y x y": its first match consumes the shared
# boundary space, so the second occurrence no longer matches — the
# fold carries the accumulator and cannot skip).

_BPE_PAIRS_SQL = (
    f"SELECT unnest({textops.adjacent_pairs_sql('sp')}) AS pair, cnt"
    " FROM {src}"
)

_BPE_BEST_SQL = """SELECT pair,
           string_split(pair, ' ')[1] AS x,
           string_split(pair, ' ')[2] AS y,
           replace(pair, ' ', '')     AS xy,
           CAST(sum_cnt AS BIGINT)    AS c
    FROM (SELECT pair, sum(cnt) AS sum_cnt FROM {pairs} GROUP BY pair)
    ORDER BY sum_cnt DESC, pair LIMIT 1"""

# the fold CTE carries `word` so the ENCODE consumer can map each
# original word to its merged symbol sequence (the merges consumer
# simply never reads it)
_BPE_FOLD_SQL = """SELECT s.word, list_reduce(string_split(s.sp, ' '), (acc, t) ->
           CASE WHEN (acc = b.x OR right(acc, length(b.x) + 1) = (' ' || b.x))
                     AND t = b.y
                THEN CASE WHEN acc = b.x THEN b.xy
                     ELSE left(acc, length(acc) - length(b.x)) || b.xy END
                ELSE acc || ' ' || t END) AS sp, s.cnt
    FROM {src} s CROSS JOIN {best} b"""


def _bpe_ctes(rounds: int, *, apply_last: bool) -> list[str]:
    """The shared unrolled-training CTE chain: vocabulary, spaced
    representation, and per round the pair count + arg-max (+ fold,
    applied through round `rounds` only when the consumer needs the
    final encoded vocabulary)."""
    ctes = [
        """tok AS (
        SELECT unnest(string_split(text, ' ')) AS word FROM documents
    )""",
        """v0 AS (
        SELECT word, count(*) AS cnt FROM tok WHERE word <> '' GROUP BY word
    )""",
        # sp_k is referenced TWICE per round (the next pair count AND
        # the next fold) — DuckDB inlines CTEs by default, so without
        # MATERIALIZED the scan tree doubles per round (2^16 parquet
        # opens at 16 merges: 'Too many open files'); materializing
        # keeps the unrolled oracle linear in rounds, matching the
        # engine's per-round localCheckpoint
        """sp0 AS MATERIALIZED (
        SELECT word, trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS sp, cnt
        FROM v0
    )""",
    ]
    for k in range(1, rounds + 1):
        ctes.append(f"p{k} AS ({_BPE_PAIRS_SQL.format(src=f'sp{k - 1}')})")
        ctes.append(f"b{k} AS ({_BPE_BEST_SQL.format(pairs=f'p{k}')})")
        if k < rounds or apply_last:
            ctes.append(
                f"sp{k} AS MATERIALIZED "
                f"({_BPE_FOLD_SQL.format(src=f'sp{k - 1}', best=f'b{k}')})"
            )
    return ctes


def _bpe_oracle(rounds: int) -> str:
    ctes = _bpe_ctes(rounds, apply_last=False)
    selects = " UNION ALL ".join(
        f"SELECT CAST({k} AS BIGINT) AS merge_rank, pair, xy AS merged, "
        f"c AS pair_count FROM b{k}"
        for k in range(1, rounds + 1)
    )
    return f"WITH {', '.join(ctes)} {selects} ORDER BY merge_rank"


# Column-side twins of the oracle fragments (split/zip_with/aggregate
# are Spark's names for string_split/list_transform/list_reduce); the
# pair generator is the repo-wide shared idiom (textops).
_BPE_PAIRS_EXPR = textops.adjacent_pairs_expr("sp")

_BPE_FOLD_EXPR = """aggregate(split(sp, ' '), '', (acc, t) ->
    CASE WHEN acc = '' THEN t
         WHEN (acc = bx OR right(acc, length(bx) + 1) = (' ' || bx)) AND t = by
         THEN CASE WHEN acc = bx THEN bxy
              ELSE left(acc, length(acc) - length(bx)) || bxy END
         ELSE acc || ' ' || t END)"""


def _bpe_learn(
    spark: SparkSession, sf_dir: str, rounds: int
) -> tuple[list, DataFrame]:
    """Run `rounds` BPE merge rounds over the corpus vocabulary.
    Returns (one collected best-pair Row per round, the vocabulary
    frame (word, sp, cnt) with all `rounds` merges applied). ONE
    corpus scan builds the checkpointed character-level vocab (the
    first `checkpointed_rounds` round); every later round is
    vocab-sized.

    The per-round arg-max is DRIVER-SYNCED (a 1-row .first() — the
    bounded-collect class): the merge table is driver-sized BY
    DEFINITION (it is the artifact a tokenizer ships), and feeding the
    winner back as a 1-row LocalRelation crossJoin keeps each fold a
    lazy projection over data, not a plan subtree — the lazy-best form
    duplicated sp's subtree into both the next arg-max and the next
    fold, doubling the plan per round (2^rounds at 16 merges). Every
    fold is its own checkpointed round: one un-checkpointed
    aggregate-HOF fold layer adds ~0.8 s to the next arg-max job
    (re-analysis + fresh codegen of the nested lambda), far more than
    the ~0.25 s checkpoint of the 31-row frame it would save (16
    rounds at sf0.1: 8.1 s checkpointing every round vs 16.0 s every
    4th). The final fold is checkpointed too: the session cache hands
    it to every bpe_encode call. At 100 TB the shape is unchanged: per
    round one vocab-sized keyed agg + a 1-row driver sync, exactly how
    production BPE trainers iterate."""
    d = load_table(spark, sf_dir, "documents")
    vocab = (
        d.select(F.explode(textops.tokens("text")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    chars = vocab.select(
        "word", F.trim(F.regexp_replace("word", "(.)", "$1 ")).alias("sp"), "cnt"
    )
    bests = []

    def fold(sp: DataFrame, r: int) -> DataFrame:
        if r == 1:  # round 1 materializes the character-level vocabulary
            return sp
        bf = spark.createDataFrame([bests[-1]]).select("bx", "by", "bxy")
        return sp.crossJoin(F.broadcast(bf)).select(
            "word", F.expr(_BPE_FOLD_EXPR).alias("sp"), "cnt"
        )

    for sp in checkpointed_rounds(chars, fold, rounds + 1):
        if len(bests) == rounds:
            break  # the last merge is applied: no arg-max left to read
        best = (
            sp.select(F.explode(F.expr(_BPE_PAIRS_EXPR)).alias("pair"), "cnt")
            .groupBy("pair")
            .agg(F.sum("cnt").alias("c"))
            .orderBy(F.col("c").desc(), "pair")
            .limit(1)
            .select(
                F.col("pair").alias("bpair"),
                F.split("pair", " ")[0].alias("bx"),
                F.split("pair", " ")[1].alias("by"),
                F.regexp_replace("pair", " ", "").alias("bxy"),
                F.col("c").alias("bc"),
            )
            .first()
        )
        if best is None:
            # every vocabulary word fully merged before `rounds` rules
            # were learned — the unrolled oracle assumes non-exhaustion
            # (its empty-argmax rounds would empty the vocabulary via
            # the cross join), so fail loud instead of diverging
            raise ValueError(
                f"bpe: pair vocabulary exhausted after {len(bests)} of "
                f"{rounds} merge rounds — lower the round count"
            )
        bests.append(best)
    return bests, sp


# 16 merge rules: deep enough that the training RECURSION is what is
# being proven (merged symbols re-enter later rounds' pair statistics —
# rule 16 routinely merges products of earlier rules), bounded so the
# unrolled oracle stays a fixed CTE chain (r11 verdict, Next #6; the
# original 3-rule depth was an oracle-parity anchor only).
_BPE_ROUNDS = 16

# Trained merge table + encoded vocabulary, one per (session, fixture):
# training is 16 sequential driver-synced rounds (~0.45 s/round of
# fixed job cost at fixture scale), and BOTH registered queries consume
# the same artifact — bpe_merges reads the merge table, bpe_encode the
# final vocabulary — so a per-call retrain would price training twice
# per bench pass for identical results. Production tokenizers train
# once and ship the table; the cache is that posture.
@session_cached("documents")
def _bpe_learned(
    spark: SparkSession, sf_dir: str, rounds: int
) -> tuple[list, DataFrame]:
    return _bpe_learn(spark, sf_dir, rounds)


@query(
    "bpe_merges",
    oracle=_bpe_oracle(_BPE_ROUNDS),
    section="2.11 BPE tokenizer training: first 16 merge rules (exact Sennrich fold)",
)
def bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the corpus's first 16 BPE merge rules — the tokenizer-
    TRAINING step of an LLM data pipeline, not just token counting:
    start from the character-level vocabulary, and per round (a) count
    adjacent symbol pairs weighted by word frequency, (b) take the
    most frequent pair (count desc, pair asc tie-break), (c) merge
    every left-to-right non-overlapping occurrence in the vocabulary.
    Output = (merge_rank, pair, merged, pair_count), the head of the
    merge table a real BPE tokenizer would ship.

    The merge is the EXACT canonical Sennrich fold, expressed as
    `aggregate()` over the symbol list (DuckDB mirrors with
    `list_reduce`): the accumulator merges t into its last symbol only
    when that symbol equals x AND t = y, so overlapping runs behave
    like the reference algorithm ("l o l o l" -> "lo lo l"), where a
    naive string replace() silently skips every second occurrence
    (its first match consumes the shared boundary space).

    100 TB posture: this is word-level BPE training as production
    tokenizers run it — ONE corpus scan builds the (word, count)
    vocabulary (map-side combined), localCheckpoint'd (and
    re-checkpointed after every fold) so the 16 merge rounds replay
    vocab-sized work only; each round is a vocab-sized
    pair explode + keyed agg, a 1-row driver-synced arg-max fed back
    as a LocalRelation, and a codegen string fold — no round touches
    the corpus, and the only driver traffic is the merge table
    itself, which IS the output artifact. Pair counts are exact
    integers, so the arg-max and its tie-break are engine-identical
    by construction.
    """
    bests, _ = _bpe_learned(spark, sf_dir, _BPE_ROUNDS)
    return spark.createDataFrame(
        [
            (k, b["bpair"], b["bxy"], b["bc"])
            for k, b in enumerate(bests, start=1)
        ],
        "merge_rank bigint, pair string, merged string, pair_count bigint",
    ).orderBy("merge_rank")


@query(
    "bpe_encode",
    oracle=f"""
    WITH {', '.join(_bpe_ctes(_BPE_ROUNDS, apply_last=True))}, wsrc AS (
        SELECT source, word, count(*) AS cnt
        FROM (SELECT source, unnest(string_split(text, ' ')) AS word
              FROM documents)
        WHERE word <> '' GROUP BY source, word
    ), enc AS (
        SELECT word, len(string_split(sp, ' ')) AS n_sym FROM sp{_BPE_ROUNDS}
    ), agg AS (
        SELECT w.source,
               CAST(sum(w.cnt) AS BIGINT)                 AS n_words,
               CAST(sum(w.cnt * length(w.word)) AS BIGINT) AS n_chars,
               CAST(sum(w.cnt * e.n_sym) AS BIGINT)        AS n_symbols
        FROM wsrc w JOIN enc e ON w.word = e.word
        GROUP BY w.source
    )
    SELECT source, n_words,
           floor(CAST(n_chars AS DOUBLE) / n_words * 10000 + 0.5) / 10000
               AS chars_per_word,
           floor(CAST(n_symbols AS DOUBLE) / n_words * 10000 + 0.5) / 10000
               AS symbols_per_word
    FROM agg ORDER BY source
    """,
    section="2.11 BPE tokenizer application: per-source fertility after 16 merges",
)
def bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the 16 learned BPE merges to the corpus and report
    per-source tokenizer FERTILITY — symbols per word after merging vs
    characters per word before — the metric LLM teams track when a
    tokenizer under- or over-segments a domain (a source whose
    fertility stays near chars_per_word gains nothing from the merge
    table; one that drops is well-covered). Training and application
    share the one `_bpe_learn` loop, so the encoder can never drift
    from the merges `bpe_merges` reports.

    100 TB posture: merges are applied to the VOCABULARY (word ->
    merged symbol count, vocab-sized), then joined back to per-source
    word counts — the corpus is scanned twice total (once for the
    global vocab, once for per-source counts), never once per merge
    round. Every output is an exact-integer sum; the two per-word
    ratios divide exact BIGINTs once, so both engines floor the same
    double and the 4dp rendering cannot sit on a divergent boundary.
    """
    _, sp_final = _bpe_learned(spark, sf_dir, _BPE_ROUNDS)
    enc = sp_final.select(
        "word", F.size(F.split("sp", " ")).alias("n_sym")
    )
    d = load_table(spark, sf_dir, "documents")
    wsrc = (
        d.select("source", F.explode(textops.tokens("text")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    agg = (
        wsrc.join(enc, "word")
        .groupBy("source")
        .agg(
            F.sum("cnt").alias("n_words"),
            F.sum(F.col("cnt") * F.length("word")).alias("n_chars"),
            F.sum(F.col("cnt") * F.col("n_sym")).alias("n_symbols"),
        )
    )
    return agg.select(
        "source",
        "n_words",
        round_half_up(F.col("n_chars").cast("double") / F.col("n_words"), 4).alias(
            "chars_per_word"
        ),
        round_half_up(F.col("n_symbols").cast("double") / F.col("n_words"), 4).alias(
            "symbols_per_word"
        ),
    ).orderBy("source")


@query(
    "token_entropy",
    oracle="""
    WITH tok AS (
        SELECT source, unnest(string_split(text, ' ')) AS w
        FROM documents
    ), tf AS (
        SELECT source, w, count(*) AS n FROM tok GROUP BY source, w
    )
    SELECT source,
           CAST(sum(n) AS BIGINT)                      AS n_tokens,
           count(*)                                    AS n_types,
           floor((ln(sum(n)) - sum(n * ln(n)) / sum(n)) * 10000 + 0.5) / 10000
                                                       AS entropy
    FROM tf GROUP BY source
    """,
    section="2.11 corpus diversity: per-source token Shannon entropy",
)
def token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Shannon entropy of the unigram distribution (nats)
    — the standard corpus-diversity / degeneracy signal (a source
    whose entropy collapses is template spam). Uses the one-pass
    identity H = ln(N) - Σ n·ln(n) / N so a single (source, token)
    count agg plus one per-source agg suffices: two keyed shuffles,
    both partial-aggregated map-side, no joins. Rounded half-up at
    4dp — the ulp-level noise from engine-order float summation is
    far below that. Generic form: operators/quality.token_entropy
    (exposed on the Pipeline API)."""
    from ..operators import quality

    d = load_table(spark, sf_dir, "documents")
    return quality.token_entropy(d, "source", "text")


@query(
    "zipf_slope",
    oracle="""
    WITH tok AS (
        SELECT source, unnest(string_split(text, ' ')) AS w
        FROM documents
    ), tf AS (
        SELECT source, w, count(*) AS n FROM tok GROUP BY source, w
    ), ranked AS (
        SELECT source,
               ln(row_number() OVER (PARTITION BY source ORDER BY n DESC, w)) AS x,
               ln(n) AS y
        FROM tf
    )
    SELECT source, n_types,
           sign(s) * floor(abs(s) * 10000 + 0.5) / 10000 AS slope
    FROM (
        SELECT source,
               count(*) AS n_types,
               (sum(x*y) - sum(x) * sum(y) / count(*))
               / nullif(sum(x*x) - sum(x) * sum(x) / count(*), 0.0) AS s
        FROM ranked GROUP BY source
    )
    """,
    section="2.11 Zipf-law fit: per-source log-log rank-frequency slope",
)
def zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf exponent per source: OLS slope of ln(freq) on ln(rank)
    over the token frequency table. Natural text sits near -1;
    machine-generated or deduplicate-worthy corpora drift toward 0
    (flat) or below -2 (degenerate) — a cheap corpus-health
    fingerprint. rank is a per-source window (ties broken on the
    token so both engines rank identically); the slope is the
    closed-form OLS from the four running sums, so after the
    frequency agg this is one window + one agg — all keyed on
    source, no joins, no iteration. The OLS denominator is wrapped in
    nullif(·, 0) on BOTH sides: a degenerate source with a single
    distinct token has x-variance exactly 0, and 0.0/0.0 is the one
    division where the engines split (Spark NULL, DuckDB NaN — and
    the harness deliberately refuses to equate them); NULL/NULL is
    the portable 'slope undefined' answer. The slope is NEGATIVE for
    Zipfian text, so rounding is the SIGN-AWARE half-up form (plain
    floor-form rounds negative midpoints toward +inf, against the
    stated half-up convention — the r7 advisor's yoy note, fixed for
    the negative-valued family)."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select("source", F.explode(textops.tokens("text")).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("source").orderBy(F.col("n").desc(), "w")
    ranked = tf.select(
        "source",
        F.log(F.row_number().over(w).cast("double")).alias("x"),
        F.log("n").alias("y"),
    )
    k = F.count(F.lit(1))
    slope = (F.sum(F.col("x") * F.col("y")) - F.sum("x") * F.sum("y") / k) / F.nullif(
        F.sum(F.col("x") * F.col("x")) - F.sum("x") * F.sum("x") / k, F.lit(0.0)
    )
    return ranked.groupBy("source").agg(
        k.alias("n_types"),
        textops.signed_round_half_up(slope, 4).alias("slope"),
    )


@query(
    "inverted_index",
    oracle="""
    SELECT tok AS term,
           array_to_string(list_sort(list(DISTINCT doc_id)), ',') AS doc_ids,
           count(DISTINCT doc_id)                                 AS df
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
          FROM documents)
    WHERE tok <> ''
    GROUP BY tok
    """,
    section="2.10/2.11 inverted index (the canonical MR build: term -> posting list)",
)
def inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE textbook MapReduce job after word count: term → sorted
    posting list of documents containing it, plus document frequency.
    Map side emits distinct (term, doc_id) pairs; the single keyed
    shuffle carries ids only (never text), and collect_set +
    sort_array makes the posting list deterministic regardless of
    partitioning — the property that lets an array-valued result be
    oracle-compared at all. The posting list is SERIALIZED
    (array_join, ',') because terminal columns must be atomic: the
    external harness canonicalizes results through pandas sort_values,
    which cannot sort list cells (SURVEY §3.2; the same convention
    collect_values established). Scale note: posting lists for stop
    terms are corpus-sized — a real 100 TB index SHARDS long postings
    (term, shard_no, ids) exactly like the df-capped near-dup bounds
    its buckets; at fixture vocabulary sizes the plain list is the
    honest demonstrator, and df is the diagnostic that tells you
    which terms need sharding."""
    d = load_table(spark, sf_dir, "documents")
    toks = (
        d.select("doc_id", F.explode(textops.tokens("text")).alias("term"))
        .filter(F.col("term") != "")
        .distinct()
    )
    return toks.groupBy("term").agg(
        F.array_join(F.sort_array(F.collect_set("doc_id")), ",").alias("doc_ids"),
        F.count(F.lit(1)).alias("df"),
    )


@query(
    "compression_ratio_quality",
    # rows-only BY NECESSITY: the signal IS deflate output size, and no
    # SQL engine exposes zlib — tests/test_correctness.py anchors every
    # row against a driver-side zlib recomputation instead (exact, not
    # shape-only), the same closed-chain strategy as the streaming twins.
    oracle=None,
    section="2.11 compressibility quality signal (zlib ratio gate, rows-only + exact anchor)",
)
def compression_ratio_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The compressibility quality filter real corpus pipelines run
    (Gopher/Dolma family): highly compressible text is boilerplate or
    repetition; incompressible text is noise/binary junk — deflate
    ratio is a one-number entropy probe needing no LM. Per document:
    byte length, zlib-compressed length (level 6, the pipeline
    default), the half-up-rounded ratio, and the keep decision for
    the standard band (0.25 ≤ ratio ≤ 0.95). Summarized per source so
    the result is a bounded gate report, scannable at any corpus
    size: one Arrow-batched pass computes the per-doc signal (zlib is
    C-speed; the batch loop is bandwidth-bound), one dim-sized keyed
    agg rolls it up — no shuffle wider than (source, counts). zlib
    output is deterministic for a given level across platforms (the
    library pins its own encoder), so the anchor compare is exact.
    Per-doc ratios are INTEGER 1e-4 units (floor half-up in Python —
    an exact int), the band compare is integer (2500..9500), and the
    per-source average divides ONE exact integer sum at the end — no
    float accumulation anywhere, so the summary is bit-identical
    under any partitioning (the .xxx5 lesson of round 5, applied at
    authoring time)."""
    import zlib

    from collections.abc import Iterator

    import pandas as pd

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math

        for pdf in batches:
            # NULL text → empty bytes (ratio 0, dropped by the band),
            # mirroring how the SQL-tier text queries null-propagate
            # instead of crashing the task
            raw = [(t or "").encode("utf-8") for t in pdf["text"]]
            comp = [len(zlib.compress(b, 6)) for b in raw]
            n_raw = [len(b) for b in raw]
            ratio_e4 = [
                math.floor(c / r * 10000 + 0.5) if r else 0
                for c, r in zip(comp, n_raw)
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "source": pdf["source"],
                    "n_bytes": n_raw,
                    "n_compressed": comp,
                    "ratio_e4": ratio_e4,
                }
            )

    scored = d.mapInPandas(
        score,
        "doc_id long, source string, n_bytes long, n_compressed long, ratio_e4 long",
    )
    keep = F.col("ratio_e4").between(2500, 9500)
    n = F.count(F.lit(1))
    return (
        scored.groupBy("source")
        .agg(
            n.alias("n_docs"),
            F.sum(keep.cast("bigint")).alias("n_kept"),
            F.sum("n_bytes").alias("total_bytes"),
            F.sum("n_compressed").alias("total_compressed"),
            (F.floor(F.sum("ratio_e4") / n + 0.5) / 10000).alias("avg_ratio"),
        )
        .orderBy("source")
    )


_PHRASE = ("part", "filter", "scan")  # present at every fixture SF


@query(
    "phrase_search",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest(tokens) AS w,
               generate_subscripts(tokens, 1) - 1 AS pos
        FROM (SELECT doc_id, string_split(text, ' ') AS tokens FROM documents)
    ),
    p0 AS (SELECT doc_id, pos FROM toks WHERE w = '{_PHRASE[0]}'),
    p1 AS (SELECT doc_id, pos - 1 AS pos FROM toks WHERE w = '{_PHRASE[1]}'),
    p2 AS (SELECT doc_id, pos - 2 AS pos FROM toks WHERE w = '{_PHRASE[2]}'),
    hits AS (
        SELECT p0.doc_id, p0.pos
        FROM p0 JOIN p1 USING (doc_id, pos) JOIN p2 USING (doc_id, pos)
    )
    SELECT doc_id,
           count(*)                  AS n_matches,
           CAST(min(pos) AS BIGINT)  AS first_pos
    FROM hits GROUP BY doc_id
    """,
    section="2.10/2.11 positional-index phrase search (exact phrase query)",
)
def phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase query over a POSITIONAL inverted index — the
    operator `inverted_index` graduates into once term lookup alone
    isn't enough (contamination screens grep for benchmark phrases;
    attribution tooling locates exact quotes). The index rows are
    (term, doc_id, pos); a k-term phrase is k posting-list slices
    aligned by offset: postings for term_i shifted by -i and
    equi-joined on (doc_id, pos) — intersection semantics, never a
    scan of the text column at query time. Each join input is first
    FILTERED to one term, so at corpus scale every shuffle carries
    only the queried terms' postings (df-sized, not corpus-sized),
    and the alignment joins are keyed — the classic IR positional-
    intersection plan, with Catalyst pushing the term predicates to
    the index scan. Output: per matching document, match count and
    first match position.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.posexplode(textops.tokens("text")).alias("pos", "w")
    )
    slices = [
        toks.filter(F.col("w") == term)
        .select("doc_id", (F.col("pos") - i).alias("pos"))
        for i, term in enumerate(_PHRASE)
    ]
    hits = slices[0]
    for s in slices[1:]:
        hits = hits.join(s, ["doc_id", "pos"])
    return hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_matches"),
        F.min("pos").cast("bigint").alias("first_pos"),
    )


@query(
    "ngram_novelty",
    oracle="""
    WITH sh AS (
        SELECT doc_id,
               unnest(list_distinct([tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]
                                     for i in range(1, len(tokens) - 1)])) AS s
        FROM (SELECT doc_id, string_split(text, ' ') AS tokens FROM documents)
    ),
    train AS (SELECT DISTINCT s FROM sh WHERE doc_id % 5 <> 0),
    test AS (SELECT doc_id, s FROM sh WHERE doc_id % 5 = 0),
    perdoc AS (
        SELECT t.doc_id,
               count(*) AS n_total,
               sum(CASE WHEN tr.s IS NOT NULL THEN 1 ELSE 0 END) AS n_seen
        FROM test t LEFT JOIN train tr ON tr.s = t.s
        GROUP BY t.doc_id
    ),
    scored AS (
        SELECT d.source,
               floor((p.n_total - p.n_seen) * 1.0 / p.n_total * 10000 + 0.5)
                   AS novelty_e4
        FROM perdoc p JOIN documents d ON d.doc_id = p.doc_id
    )
    SELECT source,
           count(*) AS n_test_docs,
           floor(sum(novelty_e4) / count(*) + 0.5) / 10000 AS avg_novelty
    FROM scored GROUP BY source
    """,
    section="2.11 n-gram novelty: test-split memorization/overlap probe",
)
def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The memorization probe run before trusting any held-out
    number: for each test-split document, the fraction of its
    distinct 3-grams NOT present anywhere in the train split (Lee et
    al.'s train-test overlap analysis; the doc-level complement of
    `contamination_screen`'s phrase blocklist). Low novelty means the
    'held-out' set is paraphrase-contaminated and its loss is partly
    memorization. Split rule is doc_id % 5 (deterministic in both
    engines; the md5-based `dataset_split` is the production assigner
    — the mod keeps this evaluation's oracle at one line). Plan: one
    shingle pass feeds both sides, train collapses to a DISTINCT
    gram set (bounded by vocabulary^3, shuffled once on the gram),
    the novelty join is keyed on the gram, and per-doc ratios
    aggregate source-wise with the e4-integer-sum convention
    (compression_ratio_quality's form) so float-sum order can't
    drift the mean."""
    from ..operators import dedup as dedup_ops

    d = load_table(spark, sf_dir, "documents")
    sh = dedup_ops.shingle_rows(
        d, "doc_id", "text", 3, hashed=False, distinct=True
    )
    train = sh.filter(F.col("doc_id") % 5 != 0).select("s").distinct()
    test = sh.filter(F.col("doc_id") % 5 == 0)
    perdoc = (
        test.join(train.withColumn("seen", F.lit(1)), "s", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.coalesce("seen", F.lit(0))).alias("n_seen"),
        )
    )
    scored = perdoc.join(d.select("doc_id", "source"), "doc_id").select(
        "source",
        F.floor(
            (F.col("n_total") - F.col("n_seen")) * 1.0 / F.col("n_total") * 10000
            + 0.5
        ).alias("novelty_e4"),
    )
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_test_docs"),
        (F.floor(F.sum("novelty_e4") / F.count(F.lit(1)) + 0.5) / 10000).alias(
            "avg_novelty"
        ),
    )


@query(
    "cooccurrence_pmi",
    oracle=f"""
    WITH {_COOC_DW_SQL},
    dfq AS (SELECT word, count(*) AS df FROM dw GROUP BY word),
    nd AS (SELECT count(*) AS n FROM documents),
    top AS (
        {_cooc_top20_sql("n_co")}
    )
    SELECT t.w1, t.w2, t.n_co,
           {textops.signed_round_half_up_sql(
               'ln(t.n_co * nd.n * 1.0 / (d1.df * d2.df))', 4)} AS pmi
    FROM top t
    JOIN dfq d1 ON d1.word = t.w1
    JOIN dfq d2 ON d2.word = t.w2
    CROSS JOIN nd
    """,
    section="2.11 co-occurrence PMI (association strength over the pair matrix)",
)
def cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information over the document-level
    co-occurrence matrix — the association score that separates
    'appear together because both are frequent' from genuine
    collocation (the classic next step after `word_cooccurrence`'s
    raw counts, and the signal phrase-mining/stopword decisions rank
    by). PMI = ln(P(a,b) / (P(a)P(b))) with document-frequency
    probabilities; computed on the top-20 pairs by co-count so the
    output is bounded and the tie order (n_co desc, w1, w2) is
    pinned. Plan: the pair counts reuse word_cooccurrence's per-doc
    pairs (_cooc_top20), the df table is vocabulary-sized and broadcast, and the ln argument
    is an exact integer ratio — both engines evaluate ln on the
    bit-identical double, with the signed 4dp half-up rendering
    absorbing libm ulps."""
    d = load_table(spark, sf_dir, "documents")
    dw = (
        d.select("doc_id", F.explode(textops.tokens("text")).alias("word"))
        .filter(F.col("word") != "")
        .distinct()
    )
    dfq = dw.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    nd = d.agg(F.count(F.lit(1)).alias("n"))
    top = _cooc_top20(d, "n_co")
    d1 = dfq.select(F.col("word").alias("w1"), F.col("df").alias("df1"))
    d2 = dfq.select(F.col("word").alias("w2"), F.col("df").alias("df2"))
    return (
        top.join(F.broadcast(d1), "w1")
        .join(F.broadcast(d2), "w2")
        .crossJoin(F.broadcast(nd))
        .select(
            "w1",
            "w2",
            "n_co",
            textops.signed_round_half_up(
                F.log(
                    F.col("n_co") * F.col("n") * 1.0 / (F.col("df1") * F.col("df2"))
                ),
                4,
            ).alias("pmi"),
        )
    )


@query(
    "tokenizer_fertility",
    oracle="""
    WITH t AS (
        SELECT lang,
               len(string_split(text, ' ')) AS n_ws,
               CAST(list_aggregate([ceil(length(w) / 4.0)
                                    for w in string_split(text, ' ')],
                                   'sum') AS BIGINT) AS n_bpe
        FROM documents
    )
    SELECT lang,
           count(*)                        AS n_docs,
           CAST(sum(n_ws) AS BIGINT)       AS n_ws_tokens,
           CAST(sum(n_bpe) AS BIGINT)      AS n_bpe_tokens,
           floor(sum(n_bpe) * 1.0 / sum(n_ws) * 10000 + 0.5) / 10000
               AS fertility
    FROM t GROUP BY lang
    """,
    section="2.11 tokenizer fertility (subwords per word, per language)",
)
def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility — BPE-proxy subwords per whitespace word,
    per language: THE number multilingual-corpus teams read to spot
    languages a tokenizer fragments (fertility >> 1 means each word
    costs several subword tokens, inflating effective sequence length
    and training cost for that language). Counts reuse the exact
    token_count_bpe definitions (whitespace split; ceil(len/4) BPE
    proxy), summed per lang as exact integers; the one float is the
    rendered ratio, floor-half-up at 4dp on identical doubles. One
    scan, one keyed agg — fully vectorized, nothing global."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "lang",
        F.size(textops.tokens("text")).cast("bigint").alias("n_ws"),
        textops.bpe_token_count("text").cast("bigint").alias("n_bpe"),
    )
    return t.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_ws").cast("bigint").alias("n_ws_tokens"),
        F.sum("n_bpe").cast("bigint").alias("n_bpe_tokens"),
        textops.round_half_up(
            F.sum("n_bpe") * 1.0 / F.sum("n_ws"), 4
        ).alias("fertility"),
    )


@query(
    "token_freq_spectrum",
    oracle="""
    WITH tok AS (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ), freq AS (
        SELECT w, count(*) AS f FROM tok GROUP BY w
    )
    SELECT CAST(f AS BIGINT)        AS f,
           count(*)                 AS n_types,
           CAST(f * count(*) AS BIGINT) AS n_tokens
    FROM freq GROUP BY f
    """,
    section="2.11 token frequency spectrum (count-of-counts, Good-Turing input)",
)
def token_freq_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The frequency-of-frequencies spectrum N_f = |{types seen exactly
    f times}| — the input to Good-Turing smoothing and the standard
    corpus-health glance (a hapax-heavy spectrum means the tokenizer
    is fragmenting; a truncated tail means boilerplate). Two keyed
    aggregations (type counts, then count-of-counts over the tiny
    distinct-f domain); n_tokens = f·N_f recovers the corpus mass per
    band so the spectrum doubles as a mass audit. Same whitespace
    tokenizer as every text query; exact BIGINTs only."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(F.explode(textops.tokens("text")).alias("w"))
    freq = tok.groupBy("w").agg(F.count(F.lit(1)).alias("f"))
    return freq.groupBy("f").agg(
        F.count(F.lit(1)).alias("n_types"),
        (F.col("f") * F.count(F.lit(1))).cast("bigint").alias("n_tokens"),
    ).select(F.col("f").cast("bigint").alias("f"), "n_types", "n_tokens")


@query(
    "good_turing_discount",
    oracle="""
    WITH tok AS (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ), freq AS (
        SELECT w, count(*) AS f FROM tok GROUP BY w
    ), spec AS (
        SELECT f, count(*) AS n_types FROM freq GROUP BY f
    ), tot AS (SELECT sum(f * n_types) AS n_tokens FROM spec)
    SELECT CAST(a.f AS BIGINT) AS f,
           CAST(a.n_types AS BIGINT) AS n_types,
           floor((a.f + 1) * b.n_types * 1.0 / a.n_types * 1000000 + 0.5)
               / 1000000 AS r_star,
           floor((a.f + 1) * b.n_types * 1.0 / a.n_types
                 / t.n_tokens * 1000000000 + 0.5) / 1000000000 AS p_gt
    FROM spec a JOIN spec b ON b.f = a.f + 1
    CROSS JOIN tot t
    """,
    section="2.11 Good-Turing discounted counts over the frequency spectrum",
)
def good_turing_discount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing re-estimation r* = (f+1)·N_{f+1}/N_f over the token
    frequency spectrum — the smoothing every count-based LM applies to
    its low-frequency tail (and the source of the unseen-mass estimate
    N_1/N). Emitted for every f whose successor band N_{f+1} is
    occupied (the inner join IS the standard empty-band cutoff; both
    engines drop the same rows). r* and the per-token probability p_gt
    divide exact integers and render through the floor-half-up forms,
    mirrored verbatim. Plan: the spectrum is two keyed aggs; the
    discount is a self-join on the tiny distinct-f domain plus one
    broadcast scalar — nothing corpus-sized past the first agg."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(F.explode(textops.tokens("text")).alias("w"))
    freq = tok.groupBy("w").agg(F.count(F.lit(1)).alias("f"))
    spec = freq.groupBy("f").agg(F.count(F.lit(1)).alias("n_types"))
    tot = spec.agg(F.sum(F.col("f") * F.col("n_types")).alias("n_tokens"))
    a, b = spec.alias("a"), spec.alias("b")
    r_star = (
        (F.col("a.f") + 1) * F.col("b.n_types") * 1.0 / F.col("a.n_types")
    )
    return (
        a.join(b, F.col("b.f") == F.col("a.f") + 1)
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("a.f").cast("bigint").alias("f"),
            F.col("a.n_types").cast("bigint").alias("n_types"),
            textops.round_half_up(r_star, 6).alias("r_star"),
            textops.round_half_up(r_star / F.col("n_tokens"), 9).alias("p_gt"),
        )
    )


@query(
    "kneser_ney_perplexity",
    oracle="""
    WITH bg AS (
        SELECT doc_id, tokens[i] AS w1, tokens[i+1] AS w2
        FROM (
            SELECT doc_id, tokens,
                   unnest(generate_series(1, len(tokens) - 1)) AS i
            FROM (SELECT doc_id, string_split(text, ' ') AS tokens FROM documents)
        )
    ), cnt AS (
        SELECT w1, w2, count(*) AS n FROM bg GROUP BY w1, w2
    ), pre AS (
        SELECT w1, sum(n) AS np, count(*) AS nctx FROM cnt GROUP BY w1
    ), cont AS (
        SELECT w2, count(*) AS nc FROM cnt GROUP BY w2
    ), bt AS (SELECT count(*) AS n_bt FROM cnt)
    SELECT bg.doc_id,
           count(*) AS n_bigrams,
           floor(exp(-avg(ln((cnt.n - 0.75) / pre.np
                             + 0.75 * pre.nctx / pre.np
                               * (cont.nc * 1.0 / bt.n_bt))))
                 * 100 + 0.5) / 100 AS ppl_kn
    FROM bg
    JOIN cnt ON cnt.w1 = bg.w1 AND cnt.w2 = bg.w2
    JOIN pre ON pre.w1 = bg.w1
    JOIN cont ON cont.w2 = bg.w2
    CROSS JOIN bt
    GROUP BY bg.doc_id
    """,
    section="2.11 Kneser-Ney bigram perplexity (continuation-count smoothing)",
)
def kneser_ney_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document perplexity under interpolated Kneser-Ney (D=0.75):
    p(w2|w1) = (n(w1,w2)-D)/n(w1·) + D·N1+(w1·)/n(w1·) · P_cont(w2),
    P_cont(w2) = N1+(·w2)/|bigram types| — the smoothing that scores a
    word by how many CONTEXTS it follows rather than raw frequency
    ('Francisco' is frequent but only after 'San'; KN is what modern
    count-LM baselines actually use, vs bigram_perplexity's unsmoothed
    MLE and trigram_perplexity_jm's count-interpolation). Every count
    n >= 1 so n-D > 0 and no max() clamp is needed; the probability
    expression is the same left-to-right float chain in both engines,
    and the exp/ln aggregate renders at 2dp (the <= 4dp rule for
    log-amplified noise). Model tables are keyed aggs over the bigram
    table; the per-token joins stay shuffle joins co-partitioned with
    the token stream (bigram_perplexity's scale note); the one scalar
    |bigram types| is a broadcast cross join."""
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.posexplode(textops.tokens("text")).alias("pos", "w1")
    )
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    bg = (
        toks.select("doc_id", "w1", F.lead("w1", 1).over(wdoc).alias("w2"))
        .filter(F.col("w2").isNotNull())
    )
    cnt = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n"))
    pre = cnt.groupBy("w1").agg(
        F.sum("n").alias("np"), F.count(F.lit(1)).alias("nctx")
    )
    cont = cnt.groupBy("w2").agg(F.count(F.lit(1)).alias("nc"))
    bt = cnt.agg(F.count(F.lit(1)).alias("n_bt"))
    p_kn = (F.col("n") - 0.75) / F.col("np") + F.lit(0.75) * F.col(
        "nctx"
    ) / F.col("np") * (F.col("nc") * 1.0 / F.col("n_bt"))
    return (
        bg.join(cnt, ["w1", "w2"])
        .join(pre, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(bt))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            round_half_up(F.exp(-F.avg(F.log(p_kn))), 2).alias("ppl_kn"),
        )
    )


@query(
    "perplexity_gate",
    oracle="""
    WITH tok AS (
        SELECT doc_id, lang, word
        FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word
              FROM documents WHERE lang IS NOT NULL)
        WHERE word <> ''
    ), freq AS (
        SELECT lang, word, count(*) AS n FROM tok GROUP BY lang, word
    ), tot AS (
        SELECT lang, sum(n) AS total FROM freq GROUP BY lang
    ), ppl AS (
        SELECT t.doc_id, t.lang,
               floor(exp(-avg(ln(f.n / tt.total))) * 100 + 0.5) / 100 AS ppl
        FROM tok t
        JOIN freq f ON t.lang = f.lang AND t.word = f.word
        JOIN tot tt ON t.lang = tt.lang
        GROUP BY t.doc_id, t.lang
    ), rk AS (
        SELECT lang, doc_id, ppl,
               row_number() OVER (PARTITION BY lang ORDER BY ppl, doc_id) AS rnk,
               count(*) OVER (PARTITION BY lang) AS n
        FROM ppl
    )
    SELECT lang,
           CASE WHEN rnk * 3 <= n THEN 'head'
                WHEN rnk * 3 <= 2 * n THEN 'middle'
                ELSE 'tail' END AS bucket,
           count(*) AS n_docs,
           min(ppl) AS min_ppl,
           max(ppl) AS max_ppl
    FROM rk
    GROUP BY lang, bucket
    """,
    section="2.11 CCNet-style perplexity gate (per-language head/middle/tail terciles)",
)
def perplexity_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CCNet corpus-filtering gate (Wenzek et al., "CCNet:
    Extracting High Quality Monolingual Datasets from Web Crawl
    Data"): score every document's perplexity under its OWN
    language's unigram LM, then split each language into equal-count
    head/middle/tail terciles by perplexity rank — head is the
    cleanest third a pretraining mix keeps, tail is the third it
    drops. Output: per (lang, bucket) document count and the ppl
    range covered, the table a data team reads to set the keep line.

    Buckets are RANK terciles (CCNet's actual recipe: sort by ppl,
    cut by thirds of documents), not interpolated percentiles — the
    bucket boundary is exact integer math (rnk*3 vs n), immune to the
    cross-engine quantile-interpolation ulp class; the only float in
    the operator is the per-doc ppl itself (exact-integer-ratio ln,
    the unigram_perplexity discipline, 2dp-pinned before it becomes
    a ranking key with doc_id tiebreak). NULL-lang docs are excluded
    on both sides — no LM to score them under.

    Scale shape: per-lang freq table broadcast onto the token stream
    + dim-sized totals (the unigram_perplexity plan, keyed by lang);
    the rank is ONE window partitioned by lang. At 100 TB the
    per-lang sort is the bottleneck — swap the exact rank for
    approx_percentile cutoffs per lang (dim-sized, broadcast, same
    comparison form) and keep this exact form as the oracle."""
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents").filter(F.col("lang").isNotNull())
    tok = d.select(
        "doc_id", "lang", F.explode(textops.tokens("text")).alias("word")
    ).filter(F.col("word") != "")
    freq = tok.groupBy("lang", "word").agg(F.count(F.lit(1)).alias("n"))
    tot = freq.groupBy("lang").agg(F.sum("n").alias("total"))
    ppl = (
        tok.join(F.broadcast(freq), ["lang", "word"])
        .join(F.broadcast(tot), "lang")
        .groupBy("doc_id", "lang")
        .agg(
            round_half_up(
                F.exp(-F.avg(F.log(F.col("n") / F.col("total")))), 2
            ).alias("ppl")
        )
    )
    wl = Window.partitionBy("lang")
    rk = ppl.select(
        "lang",
        "ppl",
        F.row_number().over(wl.orderBy("ppl", "doc_id")).alias("rnk"),
        F.count(F.lit(1)).over(wl).alias("n"),
    )
    bucket = (
        F.when(F.col("rnk") * 3 <= F.col("n"), "head")
        .when(F.col("rnk") * 3 <= 2 * F.col("n"), "middle")
        .otherwise("tail")
    )
    return rk.groupBy("lang", bucket.alias("bucket")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.min("ppl").alias("min_ppl"),
        F.max("ppl").alias("max_ppl"),
    )


@query(
    "vocab_growth",
    oracle="""
    WITH cut AS (
        SELECT quantile_cont(doc_id, 0.1) AS c1, quantile_cont(doc_id, 0.2) AS c2,
               quantile_cont(doc_id, 0.3) AS c3, quantile_cont(doc_id, 0.4) AS c4,
               quantile_cont(doc_id, 0.5) AS c5, quantile_cont(doc_id, 0.6) AS c6,
               quantile_cont(doc_id, 0.7) AS c7, quantile_cont(doc_id, 0.8) AS c8,
               quantile_cont(doc_id, 0.9) AS c9
        FROM documents
    ), dd AS (
        SELECT doc_id,
               1 + (doc_id > c1)::INT + (doc_id > c2)::INT + (doc_id > c3)::INT
                 + (doc_id > c4)::INT + (doc_id > c5)::INT + (doc_id > c6)::INT
                 + (doc_id > c7)::INT + (doc_id > c8)::INT + (doc_id > c9)::INT
                   AS dec
        FROM documents CROSS JOIN cut
    ), tok AS (
        SELECT doc_id, word
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
        WHERE word <> ''
    ), td AS (
        SELECT tok.word, dd.dec FROM tok JOIN dd ON tok.doc_id = dd.doc_id
    ), ptok AS (
        SELECT dec, count(*) AS n_tok FROM td GROUP BY dec
    ), fw AS (
        SELECT word, min(dec) AS dec FROM td GROUP BY word
    ), nw AS (
        SELECT dec, count(*) AS n_new FROM fw GROUP BY dec
    ), base AS (
        SELECT p.dec, p.n_tok, coalesce(nw.n_new, 0) AS n_new
        FROM ptok p LEFT JOIN nw ON nw.dec = p.dec
    )
    SELECT CAST(dec AS INT) AS decile,
           CAST(sum(n_tok) OVER (ORDER BY dec) AS BIGINT) AS cum_tokens,
           CAST(sum(n_new) OVER (ORDER BY dec) AS BIGINT) AS cum_vocab
    FROM base
    """,
    section="2.11 Heaps'-law vocabulary growth (cumulative vocab vs corpus prefix)",
)
def vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Heaps'-law measurement: how fast the distinct vocabulary
    grows as the corpus is consumed in doc_id order — cumulative
    token count and cumulative vocabulary at ten corpus-prefix
    checkpoints. A tokenizer/dedup team reads this curve to spot
    saturation (near-duplicate-heavy corpora flatten early) and to
    size vocab budgets; the companion fit is `zipf_slope`.

    No global window over the corpus: the decile assignment is the
    length_deciles pattern (ONE exact-percentile aggregate row
    broadcast back, bucket = comparison count), each word's FIRST
    decile is a keyed min, and the only ordered accumulation runs
    over the ten dim-sized checkpoint rows. Everything before the
    terminal 10-row window is exact integer keyed aggregation."""
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    cuts = d.agg(
        F.percentile("doc_id", F.lit([q / 10.0 for q in range(1, 10)])).alias("cs")
    ).select(*[F.element_at("cs", q).alias(f"c{q}") for q in range(1, 10)])
    dec = sum(
        (F.col("doc_id") > F.col(f"c{q}")).cast("int") for q in range(1, 10)
    ) + F.lit(1)
    tok = d.select("doc_id", F.explode(textops.tokens("text")).alias("word")).filter(
        F.col("word") != ""
    )
    td = tok.crossJoin(F.broadcast(cuts)).select("word", dec.alias("dec"))
    ptok = td.groupBy("dec").agg(F.count(F.lit(1)).alias("n_tok"))
    nw = (
        td.groupBy("word")
        .agg(F.min("dec").alias("dec"))
        .groupBy("dec")
        .agg(F.count(F.lit(1)).alias("n_new"))
    )
    base = ptok.join(nw, "dec", "left").select(
        "dec", "n_tok", F.coalesce(F.col("n_new"), F.lit(0)).alias("n_new")
    )
    w = Window.orderBy("dec").rowsBetween(Window.unboundedPreceding, 0)
    return base.select(
        F.col("dec").cast("int").alias("decile"),
        F.sum("n_tok").over(w).cast("bigint").alias("cum_tokens"),
        F.sum("n_new").over(w).cast("bigint").alias("cum_vocab"),
    )


@query(
    "distinct_ngrams",
    oracle=f"""
    WITH uni AS (
        SELECT source, word
        FROM (SELECT source, unnest(string_split(text, ' ')) AS word FROM documents)
        WHERE word <> ''
    ), u AS (
        SELECT source, count(*) AS n_unigrams,
               count(DISTINCT word) AS n_distinct_unigrams
        FROM uni GROUP BY source
    ), bi AS (
        SELECT source, pair
        FROM (SELECT source, unnest({textops.adjacent_pairs_sql('text')}) AS pair
              FROM documents)
    ), b AS (
        SELECT source, count(*) AS n_bigrams,
               count(DISTINCT pair) AS n_distinct_bigrams
        FROM bi GROUP BY source
    )
    SELECT u.source,
           CAST(n_unigrams AS BIGINT) AS n_unigrams,
           CAST(n_distinct_unigrams AS BIGINT) AS n_distinct_unigrams,
           floor(n_distinct_unigrams * 1.0 / n_unigrams * 10000 + 0.5) / 10000
               AS distinct_1,
           CAST(n_bigrams AS BIGINT) AS n_bigrams,
           CAST(n_distinct_bigrams AS BIGINT) AS n_distinct_bigrams,
           floor(n_distinct_bigrams * 1.0 / n_bigrams * 10000 + 0.5) / 10000
               AS distinct_2
    FROM u JOIN b ON u.source = b.source
    """,
    section="2.11 distinct-n diversity (per-source unigram/bigram type-token ratios)",
)
def distinct_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distinct-n diversity metric (Li et al., "A
    Diversity-Promoting Objective Function for Neural Conversation
    Models"): per source, the ratio of DISTINCT unigrams and bigrams
    to total — low distinct-2 flags template/boilerplate-heavy or
    self-repetitive sources the way repetition_ratio flags single
    documents. Unigrams are the house tokenizer's nonempty tokens;
    bigrams are the SHARED adjacent-pairs idiom
    (textops.adjacent_pairs_expr — the BPE/DSIR pair generator).

    Two token-stream scans, each one keyed agg with map-side partial
    distinct; counts are exact integers and each ratio is one pinned
    division. At 100 TB swap the exact distinct for HLL
    (approx_count_distinct) — same plan shape, sketch-mergeable."""
    d = load_table(spark, sf_dir, "documents")
    uni = d.select(
        "source", F.explode(textops.tokens("text")).alias("word")
    ).filter(F.col("word") != "")
    u = uni.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_unigrams"),
        F.countDistinct("word").alias("n_distinct_unigrams"),
    )
    bi = d.selectExpr(
        "source", f"explode({textops.adjacent_pairs_expr('text')}) AS pair"
    )
    b = bi.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.countDistinct("pair").alias("n_distinct_bigrams"),
    )
    ratio = lambda num, den: F.floor(num * 1.0 / den * 10000 + 0.5) / 10000  # noqa: E731
    return u.join(b, "source").select(
        "source",
        "n_unigrams",
        "n_distinct_unigrams",
        ratio(F.col("n_distinct_unigrams"), F.col("n_unigrams")).alias("distinct_1"),
        "n_bigrams",
        "n_distinct_bigrams",
        ratio(F.col("n_distinct_bigrams"), F.col("n_bigrams")).alias("distinct_2"),
    )


_BURST_MIN_COUNT = 50  # corpus-count floor for a term to be rated


@query(
    "term_burstiness",
    oracle=f"""
    WITH n AS (SELECT count(*) AS n_docs FROM documents),
    tf AS (
        SELECT doc_id, word, count(*) AS x
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
        WHERE word <> ''
        GROUP BY doc_id, word
    ), agg AS (
        SELECT word,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(x * x) AS BIGINT) AS sx2,
               CAST(count(*) AS BIGINT) AS df
        FROM tf GROUP BY word
    )
    SELECT word, sx AS n_occurrences, df AS n_docs_with,
           floor(CAST(n.n_docs * sx2 - sx * sx AS DOUBLE)
                 / (n.n_docs * sx) * 10000 + 0.5) / 10000 AS vmr
    FROM agg CROSS JOIN n
    WHERE sx >= {_BURST_MIN_COUNT}
    ORDER BY floor(CAST(n.n_docs * sx2 - sx * sx AS DOUBLE)
                   / (n.n_docs * sx) * 10000 + 0.5) / 10000 DESC, word
    LIMIT 20
    """,
    section="2.11 term burstiness (variance-to-mean ratio, topicality signal)",
)
def term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Church-Gale burstiness: the variance-to-mean ratio of each
    term's per-document count over ALL documents (zeros included) —
    VMR ≈ 1 is Poisson background (function words), VMR >> 1 marks
    bursty/topical terms that concentrate in few documents; corpus
    teams read it to separate content terms from boilerplate
    vocabulary and to spot template blocks (a near-constant repeated
    block's terms are extreme-VMR). Top-20 by VMR among terms above a
    corpus-count floor, ties broken by word.

    Exact-integer formulation: with zeros included, var/mean reduces
    to (N·Σx² − (Σx)²)/(N·Σx) — both operands exact BIGINTs from
    map-side-combined keyed sums, ONE division, pinned 4dp before it
    becomes the ranking key. Two keyed aggs + a 1-row broadcast total
    + TakeOrdered; nothing leaves the JVM."""
    d = load_table(spark, sf_dir, "documents")
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    tf = (
        d.select("doc_id", F.explode(textops.tokens("text")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    agg = tf.groupBy("word").agg(
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sx2"),
        F.count(F.lit(1)).cast("bigint").alias("df"),
    )
    vmr = (
        F.floor(
            (F.col("n_docs") * F.col("sx2") - F.col("sx") * F.col("sx")).cast("double")
            / (F.col("n_docs") * F.col("sx"))
            * 10000
            + 0.5
        )
        / 10000
    )
    return (
        agg.crossJoin(F.broadcast(n))
        .filter(F.col("sx") >= _BURST_MIN_COUNT)
        .select(
            "word",
            F.col("sx").alias("n_occurrences"),
            F.col("df").alias("n_docs_with"),
            vmr.alias("vmr"),
        )
        .orderBy(F.desc("vmr"), "word")
        .limit(20)
    )


_JM_SWEEP = (
    (0.8, 0.15, 0.05),
    (0.6, 0.3, 0.1),
    (0.4, 0.4, 0.2),
    (0.2, 0.5, 0.3),
    (0.1, 0.3, 0.6),
)


def _jm_sweep_oracle(configs: tuple[tuple[float, float, float], ...]) -> str:
    """Corpus-level JM perplexity per lambda config: the SHARED model
    CTEs (_JM_MODEL_CTES — the exact tables trigram_perplexity_jm
    scores with), one per-trigram component frame, then one branch
    per config over it."""
    # lam literals CAST to DOUBLE: DuckDB types a bare 0.05 as
    # DECIMAL(3,2), which the hash-safe canonicalization rejects (the
    # r7 decimal trap); Spark's F.lit(0.05) is already a double
    branches = "\n    UNION ALL ".join(
        f"""SELECT CAST({l3} AS DOUBLE) AS lam3,
               CAST({l2} AS DOUBLE) AS lam2,
               CAST({l1} AS DOUBLE) AS lam1,
               floor(exp(-avg(ln({l3} * pt + {l2} * pb + {l1} * pu)))
                     * 100 + 0.5) / 100 AS ppl
        FROM comp"""
        for l3, l2, l1 in configs
    )
    return f"""
    WITH {_JM_MODEL_CTES},
    comp AS (
        SELECT tri.nt / tri_pre.ntp AS pt,
               bi.nb / bi_pre.nbp   AS pb,
               uni.nu / tot.n       AS pu
        FROM tg
        JOIN tri ON tri.w1 = tg.w1 AND tri.w2 = tg.w2 AND tri.w3 = tg.w3
        JOIN tri_pre ON tri_pre.w1 = tg.w1 AND tri_pre.w2 = tg.w2
        JOIN bi ON bi.w2 = tg.w2 AND bi.w3 = tg.w3
        JOIN bi_pre ON bi_pre.w2 = tg.w2
        JOIN uni ON uni.w3 = tg.w3
        CROSS JOIN tot
    )
    {branches}"""


@query(
    "jm_lambda_sweep",
    oracle=_jm_sweep_oracle(_JM_SWEEP),
    section="2.11 LM smoothing operating points (JM lambda sweep, corpus perplexity)",
)
def jm_lambda_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHERE to set the interpolation weights: corpus-level perplexity
    under the Jelinek-Mercer trigram LM for five (λ3, λ2, λ1)
    mixtures spanning trigram-heavy to unigram-heavy — the
    dedup_threshold_sweep operating-point pattern applied to LM
    smoothing (deleted-interpolation's grid half, with the held-out
    EM step left to the caller). `trigram_perplexity_jm`'s production
    (0.6, 0.3, 0.1) sits inside the sweep; the model tables are THE
    same definitions via the shared _JM_MODEL_CTES text.

    Plan: the model joins run ONCE into a per-trigram component
    frame (pt, pb, pu — exact integer ratios); the 5-config fan-out
    is a broadcast-sized explode over it, so the sweep prices five
    smoothing choices for one extra projection + one grouped agg
    over 5·|trigrams| rows. exp(-avg(ln)) amplifies summation-order
    noise ~1e-13 → ~1e-8 (the established exp/log class), absorbed
    by the 2dp pin its production sibling uses."""
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.posexplode(textops.tokens("text")).alias("pos", "w1")
    )
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    seq = toks.select(
        "doc_id", "w1",
        F.lead("w1", 1).over(wdoc).alias("w2"),
        F.lead("w1", 2).over(wdoc).alias("w3"),
    )
    tg = seq.filter(F.col("w3").isNotNull())
    bg = seq.select("w1", "w2").filter(F.col("w2").isNotNull()).select(
        F.col("w1").alias("w2"), F.col("w2").alias("w3")
    )
    tri = tg.groupBy("w1", "w2", "w3").agg(F.count(F.lit(1)).alias("nt"))
    tri_pre = tri.groupBy("w1", "w2").agg(F.sum("nt").alias("ntp"))
    bi = bg.groupBy("w2", "w3").agg(F.count(F.lit(1)).alias("nb"))
    bi_pre = bi.groupBy("w2").agg(F.sum("nb").alias("nbp"))
    uni = toks.select(F.col("w1").alias("w3")).groupBy("w3").agg(
        F.count(F.lit(1)).alias("nu")
    )
    tot = toks.agg(F.count(F.lit(1)).alias("n"))
    comp = (
        tg.join(tri, ["w1", "w2", "w3"])
        .join(tri_pre, ["w1", "w2"])
        .join(bi, ["w2", "w3"])
        .join(bi_pre, ["w2"])
        .join(uni, ["w3"])
        .crossJoin(F.broadcast(tot))
        .select(
            (F.col("nt") / F.col("ntp")).alias("pt"),
            (F.col("nb") / F.col("nbp")).alias("pb"),
            (F.col("nu") / F.col("n")).alias("pu"),
        )
    )
    cfg = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(l3).alias("lam3"),
                    F.lit(l2).alias("lam2"),
                    F.lit(l1).alias("lam1"),
                )
                for l3, l2, l1 in _JM_SWEEP
            ]
        )
    ).alias("c")
    mix = (
        F.col("c.lam3") * F.col("pt")
        + F.col("c.lam2") * F.col("pb")
        + F.col("c.lam1") * F.col("pu")
    )
    return (
        comp.select("pt", "pb", "pu", cfg)
        .groupBy("c.lam3", "c.lam2", "c.lam1")
        .agg(
            round_half_up(F.exp(-F.avg(F.log(mix))), 2).alias("ppl")
        )
        .select(
            F.col("lam3"), F.col("lam2"), F.col("lam1"), "ppl"
        )
    )


_BM25_SWEEP = ((0.9, 0.75), (1.2, 0.75), (1.5, 0.75), (1.2, 0.25), (1.2, 1.0))


def _bm25_sweep_oracle(configs: tuple[tuple[float, float], ...]) -> str:
    """Top-3 retrieval per (k1, b) config over the SHARED BM25 tables
    (_BM25_CTES_SQL) and the same data-driven 3-rarest-term query as
    bm25_topk. Derived constants (k1+1, 1-b) are computed in Python
    and injected as repr literals so both engines parse the IDENTICAL
    doubles — `1 - 0.4` evaluates differently as DuckDB DECIMAL
    arithmetic (exact 0.6 → nearest double) than as Python float
    subtraction (0.6000000000000001), and that ulp would sit inside
    the 9dp rank key."""
    branches = []
    for k1, b in configs:
        term = (
            f"ln((s.n_docs - q.df + 0.5) / (q.df + 0.5) + 1.0)"
            f" * tf.tf * {k1 + 1.0!r}"
            f" / (tf.tf + {k1!r} * ({1.0 - b!r} + {b!r} * lens.len / s.avglen))"
        )
        branches.append(f"""SELECT CAST({k1!r} AS DOUBLE) AS k1,
               CAST({b!r} AS DOUBLE) AS b, rank, doc_id, bm25 FROM (
            SELECT tf.doc_id,
                   row_number() OVER (ORDER BY floor(sum({term}) * 1e9 + 0.5) / 1e9 DESC,
                                      tf.doc_id) AS rank,
                   floor(sum({term}) * 10000 + 0.5) / 10000 AS bm25
            FROM tf
            JOIN qterms q ON tf.word = q.word
            JOIN lens ON lens.doc_id = tf.doc_id
            CROSS JOIN stats s
            GROUP BY tf.doc_id
        ) WHERE rank <= 3""")
    body = "\n    UNION ALL ".join(branches)
    return f"""
    WITH {_BM25_CTES_SQL}, qterms AS (
        SELECT word, df FROM dfr ORDER BY df, word LIMIT 3
    )
    {body}"""


@query(
    "bm25_param_sweep",
    oracle=_bm25_sweep_oracle(_BM25_SWEEP),
    section="2.11 BM25 parameter sweep (k1/b operating points, top-3 per config)",
)
def bm25_param_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHERE to set Okapi's knobs: the top-3 retrieved documents per
    (k1, b) config — saturation low/production/high, then length
    normalization off-ish (b=0.25) and full (b=1.0) at fixed k1 —
    over the SAME term statistics and data-driven query as
    `bm25_topk` (production (1.2, 0.75) sits inside). Reading how the
    podium reshuffles across configs is how a search team tunes BM25
    without labels; with labels, plug these rankings into `ndcg_eval`
    style grading.

    One tokenize + the shared `_bm25_frames` stats; the per-config
    fan-out is an explode over the ≤3-term scored frame (corpus work
    does not multiply with |configs|); ranking uses the
    family-standard 9dp floor rank key per config. The per-config
    window partitions on only |configs| keys, which is safe BECAUSE
    the ranked frame is not corpus-sized: the qterms join restricts
    it to documents containing one of the 3 RAREST terms (low df by
    construction), the same bound that keeps bm25_topk's global
    TakeOrdered honest. Derived constants
    are Python-computed doubles injected into both sides (see the
    oracle builder: DECIMAL-vs-float subtraction is a real ulp
    divergence)."""
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    tf, lens, stats, dfr = _bm25_frames(d)
    qterms = dfr.orderBy("df", "word").limit(3)
    base = (
        tf.join(F.broadcast(qterms.select("word", "df")), "word")
        .join(lens, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    cfg = F.explode(
        F.array(
            *[
                F.struct(F.lit(k1).alias("k1"), F.lit(b).alias("b"))
                for k1, b in _BM25_SWEEP
            ]
        )
    ).alias("c")
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    score = sum(
        (
            F.when(
                (F.col("c.k1") == F.lit(k1)) & (F.col("c.b") == F.lit(b)),
                idf
                * F.col("tf")
                * F.lit(k1 + 1.0)
                / (
                    F.col("tf")
                    + F.lit(k1)
                    * (F.lit(1.0 - b) + F.lit(b) * F.col("len") / F.col("avglen"))
                ),
            ).otherwise(0.0)
            for k1, b in _BM25_SWEEP
        ),
        F.lit(0.0),
    )
    scored = (
        base.select("doc_id", "tf", "df", "len", "n_docs", "avglen", cfg)
        .groupBy("c.k1", "c.b", "doc_id")
        .agg(F.sum(score).alias("raw"))
    )
    w = Window.partitionBy("k1", "b").orderBy(
        (F.floor(F.col("raw") * 1e9 + 0.5) / 1e9).desc(), "doc_id"
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "k1", "b", "rank", "doc_id",
            round_half_up(F.col("raw"), 4).alias("bm25"),
        )
    )


_KW_DOCS, _KW_TOPK = 20, 3


@query(
    "doc_keywords",
    oracle=f"""
    WITH {_BM25_CTES_SQL},
    scored AS (
        SELECT tf.doc_id, tf.word,
               floor(tf.tf * ln((s.n_docs + 1.0) / (d.df + 1.0))
                     * 1e9 + 0.5) / 1e9 AS w9
        FROM tf
        JOIN dfr d ON d.word = tf.word
        CROSS JOIN stats s
        WHERE tf.doc_id < {_KW_DOCS}
    )
    SELECT doc_id, CAST(rank AS INT) AS rank, word,
           floor(w9 * 10000 + 0.5) / 10000 AS tfidf
    FROM (
        SELECT doc_id, word, w9,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY w9 DESC, word) AS rank
        FROM scored
    ) WHERE rank <= {_KW_TOPK}
    """,
    section="2.11 per-document keyword extraction (top tf-idf terms)",
)
def doc_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword extraction the corpus-statistics way: each document's
    top-3 terms by tf·idf (smoothed ln((N+1)/(df+1)), so df=N terms
    score ~0 instead of exactly 0 and the ranking still discriminates
    inside boilerplate-heavy corpora) — the per-DOC projection of the
    corpus-level `tf_idf` table, and the input to tag clouds, topic
    labeling, and sparse retrieval pruning. Reported for the doc_id <
    20 demonstration block; the plan is identical at any cut.

    Shares `_BM25_CTES_SQL`'s tf/df/stats tables (one tokenize; the
    doc_id predicate prunes the tf side BEFORE scoring while df stays
    corpus-wide, as idf must). Ranking is the 9dp floor key with the
    word tie-break; scores re-pinned at 4dp for display. Per-doc
    window over ≤|terms-in-doc| rows after a broadcast df join — no
    corpus-wide window anywhere."""
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    tf, lens, stats, dfr = _bm25_frames(d)
    w9 = F.floor(
        F.col("tf")
        * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0))
        * 1e9
        + 0.5
    ) / 1e9
    scored = (
        tf.filter(F.col("doc_id") < _KW_DOCS)
        .join(F.broadcast(dfr), "word")
        .crossJoin(F.broadcast(stats.select("n_docs")))
        .select("doc_id", "word", w9.alias("w9"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("w9").desc(), "word")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _KW_TOPK)
        .select(
            "doc_id",
            F.col("rank").cast("int").alias("rank"),
            "word",
            round_half_up(F.col("w9"), 4).alias("tfidf"),
        )
    )


_LTD_DIM = 16  # trigram hash buckets (the lang_id_train feature space)


@query(
    "lang_trigram_divergence",
    oracle=f"""
    WITH g AS (
        SELECT lang, {textops.hash_bucket_sql('t', _LTD_DIM)} AS b, count(*) AS c
        FROM (SELECT lang,
                     unnest([substr(text, i, 3) for i in range(1, len(text) - 1)]) AS t
              FROM documents WHERE length(text) >= 3)
        GROUP BY lang, b
    ), tot AS (
        SELECT lang, sum(c) AS n FROM g GROUP BY lang
    ), grid AS (
        SELECT l.lang, r.b
        FROM (SELECT DISTINCT lang FROM documents
              WHERE length(text) >= 3) l
        CROSS JOIN (SELECT unnest(range({_LTD_DIM})) AS b) r
    ), p AS (
        SELECT gr.lang, gr.b, coalesce(g.c, 0)::DOUBLE / t.n AS p
        FROM grid gr
        LEFT JOIN g ON g.lang = gr.lang AND g.b = gr.b
        JOIN tot t ON t.lang = gr.lang
    )
    SELECT a.lang AS lang_a, b.lang AS lang_b,
           floor(0.5 * sum(abs(a.p - b.p)) * 1000000 + 0.5) / 1000000
               AS tv_distance
    FROM p a JOIN p b ON a.b = b.b AND a.lang < b.lang
    GROUP BY a.lang, b.lang
    """,
    section="2.11 language separability (pairwise TV distance over trigram features)",
)
def lang_trigram_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOW separable the languages actually are in the feature space
    the trained classifier sees: pairwise total-variation distance
    between per-language distributions over the SAME 16 hashed
    char-trigram buckets `lang_id_train` trains on (TV = half the L1
    gap; 0 = identical, 1 = disjoint). This is the diagnostic that
    EXPLAINS a near-chance classifier — on this synthetic fixture the
    distances sit near 0 because every 'language' shares one
    vocabulary, which is precisely what a data team needs to see
    before blaming the model (and what real multilingual corpora
    would push toward 1).

    Exactness: per-bucket probabilities are exact integer ratios on
    a dense lang × bucket grid (absent buckets coalesce to 0 on both
    engines); the 16-term |Δ| sum is 6dp-pinned. Plan: one trigram
    pass into a |langs|·16-cell frame; everything after is dim-sized
    (the pairwise join is |langs|²·16 rows)."""
    from ..operators.dedup import _spread

    d = _spread(load_table(spark, sf_dir, "documents")).filter(
        F.length("text") >= 3
    )
    tri = d.select(
        "lang",
        F.explode(
            F.expr(
                "transform(sequence(1, length(text) - 2),"
                " i -> substring(text, i, 3))"
            )
        ).alias("t"),
    )
    g = tri.groupBy("lang", textops.hash_bucket("t", _LTD_DIM).alias("b")).agg(
        F.count(F.lit(1)).alias("c")
    )
    tot = g.groupBy("lang").agg(F.sum("c").alias("n"))
    langs = d.select("lang").distinct()
    grid = langs.crossJoin(
        F.broadcast(
            d.sparkSession.range(_LTD_DIM).select(F.col("id").cast("bigint").alias("b"))
        )
    )
    p = (
        grid.join(g, ["lang", "b"], "left")
        .join(tot, "lang")
        .select(
            "lang", "b",
            (F.coalesce(F.col("c"), F.lit(0)).cast("double") / F.col("n")).alias("p"),
        )
    )
    a = p.select(F.col("lang").alias("lang_a"), "b", F.col("p").alias("pa"))
    bb = p.select(F.col("lang").alias("lang_b"), "b", F.col("p").alias("pb"))
    return (
        a.join(bb, "b")
        .filter(F.col("lang_a") < F.col("lang_b"))
        .groupBy("lang_a", "lang_b")
        .agg(
            round_half_up(
                0.5 * F.sum(F.abs(F.col("pa") - F.col("pb"))), 6
            ).alias("tv_distance")
        )
    )


_GREEDY_STEPS = 8


# Session-cached bigram-LM model tables shared by the three decoders
# (greedy / beam / temperature): cnt = (w1, w2, n) bigram counts,
# pre = (w1, np) left-context totals, top1 = the corpus's most frequent
# token (count desc, token asc — the shared start rule). Before r15
# every decoder call rebuilt all three per call as eager
# localCheckpoints (two corpus passes: the window-lead bigram build and
# the unigram start count); the frames themselves are MODEL-sized
# (distinct bigrams / distinct tokens / 1 row), i.e. on the winning
# side of the r14 cache-payoff rule (doc/sketch-sized: cache;
# token-sized: never). The cached frames are EXACTLY the checkpointed
# frames each decoder built before — same contents, same step logic,
# so decode chains are bit-identical.
@session_cached("documents")
def _bigram_lm_frames(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.posexplode(textops.tokens("text")).alias("pos", "w1")
    )
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    bg = (
        toks.select("w1", F.lead("w1", 1).over(wdoc).alias("w2"))
        .filter(F.col("w2").isNotNull())
    )
    cnt = materialize(
        bg.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n")),
        SMALL,
    )
    pre = materialize(cnt.groupBy("w1").agg(F.sum("n").alias("np")), SMALL)
    top1 = materialize(
        toks.groupBy("w1")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "w1")
        .limit(1)
        .select("w1"),
        SMALL,
    )
    return cnt, pre, top1


@query(
    "bigram_greedy_decode",
    oracle=f"""
    WITH RECURSIVE toks AS (
        SELECT doc_id, string_split(text, ' ') AS tokens FROM documents
    ), bg AS (
        SELECT tokens[i] AS w1, tokens[i+1] AS w2
        FROM (SELECT tokens, unnest(generate_series(1, len(tokens) - 1)) AS i
              FROM toks)
    ), cnt AS (
        SELECT w1, w2, count(*) AS n FROM bg GROUP BY w1, w2
    ), start AS (
        SELECT w FROM (
            SELECT w, count(*) AS n
            FROM (SELECT unnest(tokens) AS w FROM toks) GROUP BY w
        ) ORDER BY n DESC, w LIMIT 1
    ), gen(step, token) AS (
        SELECT 0 AS step, w AS token FROM start
        UNION ALL
        SELECT g.step + 1,
               (SELECT c.w2 FROM cnt c WHERE c.w1 = g.token
                ORDER BY c.n DESC, c.w2 LIMIT 1)
        FROM gen g WHERE g.step < {_GREEDY_STEPS} AND g.token IS NOT NULL
    )
    SELECT CAST(step AS BIGINT) AS step, token
    FROM gen WHERE token IS NOT NULL
    """,
    section="2.11 greedy LM decoding (argmax bigram chain, in-engine generation)",
)
def bigram_greedy_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENERATE from the corpus's own bigram LM, inside the engine:
    start at the corpus's most frequent token and take 8 greedy steps,
    each picking argmax-count next token (count desc, token asc — the
    BPE arg-max tie-break) — the decode loop of an LM reduced to its
    deterministic core, over the same model tables bigram_perplexity
    scores with. The output is the generated (step, token) chain;
    cycles (greedy decoding's classic degeneracy) simply re-emit the
    loop, and a token with no observed continuation ends the chain
    early on both engines (the oracle's NULL guard ≡ the engine's
    inner-join truncation).

    Plan shape: the bigram table builds once and localCheckpoints
    (model-sized, the keyed-agg output of one corpus pass); each step
    is a 1-row broadcast equi-join into it + a TakeOrdered arg-max —
    all 9 steps compose LAZILY into one plan over the checkpointed
    leaves (1-row frames chain without re-executing the corpus scan),
    one job at the terminal action. The oracle runs the identical
    recursion declaratively (WITH RECURSIVE + correlated arg-max
    subquery), so chain identity — start pick, every arg-max, every
    tie-break, the stop rule — is externally verified. At 100 TB the
    model build is the only corpus-scale stage; decoding is dim-sized
    regardless of corpus. The model tables (cnt + the start token)
    come from the decoder-family session cache `_bigram_lm_frames` —
    identical checkpointed frames, built once per (app, dir, fixture)
    instead of per call."""
    cnt, _pre, top1 = _bigram_lm_frames(spark, sf_dir)
    start = top1.select(
        F.lit(0).cast("bigint").alias("step"), F.col("w1").alias("token")
    )
    steps, cur = [start], start
    for k in range(1, _GREEDY_STEPS + 1):
        cur = (
            cnt.join(
                F.broadcast(cur.select(F.col("token").alias("w1"))), "w1"
            )
            .orderBy(F.col("n").desc(), "w2")
            .limit(1)
            .select(
                F.lit(k).cast("bigint").alias("step"),
                F.col("w2").alias("token"),
            )
        )
        steps.append(cur)
    out = steps[0]
    for s in steps[1:]:
        out = out.unionAll(s)
    return out


_PRF_K_REL, _PRF_K_EXP, _PRF_TOPK = 5, 3, 10


@query(
    "rocchio_expansion",
    oracle=f"""
    WITH {{ctes}}, qterms AS (
        SELECT word, df FROM dfr ORDER BY df, word LIMIT 3
    ), pass1 AS (
        SELECT tf.doc_id, sum({{okapi}}) AS raw
        FROM tf
        JOIN qterms q ON tf.word = q.word
        JOIN lens ON lens.doc_id = tf.doc_id
        CROSS JOIN stats s
        GROUP BY tf.doc_id
    ), prel AS (
        SELECT doc_id FROM pass1
        ORDER BY floor(raw * 1e9 + 0.5) / 1e9 DESC, doc_id
        LIMIT {_PRF_K_REL}
    ), cand AS (
        SELECT tf.word,
               sum(tf.tf * ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0))
                   AS w
        FROM tf
        JOIN prel p ON p.doc_id = tf.doc_id
        JOIN dfr d ON d.word = tf.word
        CROSS JOIN stats s
        WHERE tf.word NOT IN (SELECT word FROM qterms)
        GROUP BY tf.word
    ), expansion AS (
        SELECT c.word, d.df FROM cand c JOIN dfr d ON d.word = c.word
        ORDER BY floor(c.w * 1e9 + 0.5) / 1e9 DESC, c.word
        LIMIT {_PRF_K_EXP}
    ), qexp AS (
        SELECT word, df FROM qterms UNION ALL SELECT word, df FROM expansion
    ), pass2 AS (
        SELECT tf.doc_id, sum({{okapi2}}) AS raw
        FROM tf
        JOIN qexp q ON tf.word = q.word
        JOIN lens ON lens.doc_id = tf.doc_id
        CROSS JOIN stats s
        GROUP BY tf.doc_id
    )
    SELECT doc_id, floor(raw * 10000 + 0.5) / 10000 AS bm25
    FROM pass2
    ORDER BY floor(raw * 1e9 + 0.5) / 1e9 DESC, doc_id
    LIMIT {_PRF_TOPK}
    """.format(ctes=_BM25_CTES_SQL, okapi=_OKAPI_TERM_SQL, okapi2=_OKAPI_TERM_SQL),
    section="2.11 Rocchio pseudo-relevance feedback (retrieve -> expand -> re-retrieve)",
)
def rocchio_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classic IR relevance-feedback loop (Rocchio 1971, public —
    the query-expansion step modern RAG stacks still run as 'PRF'):
    retrieve BM25 top-5 for the data-driven 3-rarest-terms query,
    treat them as pseudo-relevant, score every term they contain by
    its summed tf·idf mass inside that set (the Rocchio positive
    centroid, original query terms excluded), expand the query with
    the top-3 terms, and re-retrieve the final top-10 with the 6-term
    query. Shares `_bm25_frames`/_BM25_CTES_SQL with bm25_topk and
    rrf_fusion, so all three retrievers score from the identical
    statistics.

    Determinism: every cut (pseudo-rel top-5, expansion top-3, final
    top-10) orders by the family-standard 9dp floor rank key with a
    doc_id/word tie-break; the Rocchio weight sums ≤5 tf·idf terms
    (1-ulp class), the final score ≤6 Okapi terms — the bm25_topk
    argument. Plan shape: qterms/expansion/stats are vocab- or 1-row
    frames (broadcast); the two scoring passes are keyed joins over
    the same (doc_id, word) tf exchange; the candidate weighting
    touches only the 5 pseudo-rel docs' terms (semi-join first)."""
    d = load_table(spark, sf_dir, "documents")
    tf, lens, stats, dfr = _bm25_frames(d)
    qterms = dfr.orderBy("df", "word").limit(3).select("word", "df")

    def score(query_terms: DataFrame) -> DataFrame:
        return (
            tf.join(F.broadcast(query_terms), "word")
            .join(lens, "doc_id")
            .crossJoin(F.broadcast(stats))
            .groupBy("doc_id")
            .agg(F.sum(_okapi_score()).alias("raw"))
        )

    prel = (
        score(qterms)
        .orderBy((F.floor(F.col("raw") * 1e9 + 0.5) / 1e9).desc(), "doc_id")
        .limit(_PRF_K_REL)
        .select("doc_id")
    )
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    cand = (
        tf.join(F.broadcast(prel), "doc_id")
        .join(dfr, "word")
        .crossJoin(F.broadcast(stats))
        .join(F.broadcast(qterms.select("word")), "word", "left_anti")
        .groupBy("word")
        .agg(F.sum(F.col("tf") * idf).alias("w"))
    )
    expansion = (
        cand.join(dfr, "word")
        .orderBy((F.floor(F.col("w") * 1e9 + 0.5) / 1e9).desc(), "word")
        .limit(_PRF_K_EXP)
        .select("word", "df")
    )
    qexp = qterms.unionAll(expansion)
    return (
        score(qexp)
        .orderBy((F.floor(F.col("raw") * 1e9 + 0.5) / 1e9).desc(), "doc_id")
        .limit(_PRF_TOPK)
        .select("doc_id", round_half_up(F.col("raw"), 4).alias("bm25"))
    )


_BEAM_WIDTH, _BEAM_STEPS = 2, 5


def _beam_oracle(width: int, steps: int) -> str:
    """Unrolled beam-search CTE chain over the bigram LM: start beam,
    then per step expand (join on last token) -> rank (9dp-floored
    cumulative log-prob, sequence tie-break) -> cut to `width`."""
    ctes = [
        """toks AS (
        SELECT doc_id, string_split(text, ' ') AS tokens FROM documents
    )""",
        """bgd AS (
        SELECT tokens[i] AS w1, tokens[i+1] AS w2
        FROM (SELECT tokens, unnest(generate_series(1, len(tokens) - 1)) AS i
              FROM toks)
    )""",
        "cnt AS (SELECT w1, w2, count(*) AS n FROM bgd GROUP BY w1, w2)",
        "pre AS (SELECT w1, sum(n) AS np FROM cnt GROUP BY w1)",
        """b0 AS (
        SELECT w AS seq, w AS last, 0.0 AS lp FROM (
            SELECT w, count(*) AS n
            FROM (SELECT unnest(tokens) AS w FROM toks) GROUP BY w
        ) ORDER BY n DESC, w LIMIT 1
    )""",
    ]
    for k in range(1, steps + 1):
        ctes.append(f"""c{k} AS (
        SELECT b.seq || ' ' || c.w2 AS seq, c.w2 AS last,
               b.lp + ln(c.n * 1.0 / p.np) AS lp
        FROM b{k - 1} b
        JOIN cnt c ON c.w1 = b.last
        JOIN pre p ON p.w1 = b.last
    )""")
        ctes.append(f"""b{k} AS (
        SELECT seq, last, lp FROM (
            SELECT seq, last, lp,
                   row_number() OVER (ORDER BY floor(lp * 1e9 + 0.5) / 1e9 DESC,
                                               seq) AS rn
            FROM c{k}
        ) WHERE rn <= {width}
    )""")
    return f"""
    WITH {', '.join(ctes)}
    SELECT CAST(row_number() OVER (ORDER BY floor(lp * 1e9 + 0.5) / 1e9 DESC,
                                            seq) AS BIGINT) AS rank,
           seq,
           floor(lp * 10000 + 0.5) / 10000 AS logprob
    FROM b{steps}"""


@query(
    "beam_decode",
    oracle=_beam_oracle(_BEAM_WIDTH, _BEAM_STEPS),
    section="2.11 beam-search LM decoding (width-2 bigram beam, in-engine)",
)
def beam_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beam-search decoding over the corpus bigram LM — the actual LM
    inference algorithm `bigram_greedy_decode` is the width-1 special
    case of: keep the `_BEAM_WIDTH` best partial sequences by
    cumulative log-probability, expand each through every observed
    continuation, re-rank, cut, repeat for `_BEAM_STEPS` steps. Output
    = the surviving beams with their 4dp-floored scores. Beam scores
    are sums of ln(n/np) over exact-integer ratios; every cut orders
    by the family-standard 9dp floor key with the full SEQUENCE as the
    tie-break (two beams can never collide on it — it encodes the
    path), so beam membership cannot flip on a libm ulp (the bm25_topk
    rank-key argument). A beam whose last token has no observed
    continuation dies in the inner join, exactly as the oracle's join
    drops it.

    Plan shape: the LM tables (cnt, pre) build in one corpus pass and
    localCheckpoint (model-sized); each step expands ≤width beams via
    a broadcast equi-join into them, ranks width·fanout candidate
    rows in one unpartitioned window (bounded by the beam fanout, not
    the corpus), and cuts — all steps compose lazily into one job.
    At 100 TB only the model build scales with data; decode cost is
    width × steps × fanout regardless of corpus. The model tables
    (cnt, pre, start) come from the decoder-family session cache
    `_bigram_lm_frames` — identical checkpointed frames, built once
    per (app, dir, fixture) instead of per call."""
    from pyspark.sql.window import Window

    cnt, pre, top1 = _bigram_lm_frames(spark, sf_dir)
    beams = top1.select(
        F.col("w1").alias("seq"),
        F.col("w1").alias("last"),
        F.lit(0.0).alias("lp"),
    )
    rank_key = (F.floor(F.col("lp") * 1e9 + 0.5) / 1e9).desc()
    wrank = Window.orderBy(rank_key, "seq")
    for _ in range(_BEAM_STEPS):
        cand = (
            cnt.join(
                F.broadcast(beams.select(F.col("last").alias("w1"), "seq", "lp")),
                "w1",
            )
            .join(pre, "w1")
            .select(
                F.concat_ws(" ", "seq", "w2").alias("seq"),
                F.col("w2").alias("last"),
                (F.col("lp") + F.log(F.col("n") * 1.0 / F.col("np"))).alias("lp"),
            )
        )
        beams = (
            cand.withColumn("rn", F.row_number().over(wrank))
            .filter(F.col("rn") <= _BEAM_WIDTH)
            .select("seq", "last", "lp")
        )
    return beams.select(
        F.row_number().over(wrank).cast("bigint").alias("rank"),
        "seq",
        (F.floor(F.col("lp") * 10000 + 0.5) / 10000).alias("logprob"),
    )


_TSAMP_STEPS, _TSAMP_INV_T = 6, repr(1.0 / 0.7)


def _tsamp_u(step: int) -> str:
    """The step's seeded uniform draw as an exact dyadic literal,
    computed ONCE in Python (hashlib md5 == Spark md5 == DuckDB md5 —
    the _rp_signs precedent) and embedded in BOTH the Column plan and
    the oracle SQL, so neither engine hashes at runtime and the draws
    cannot drift. Same first-8-hex/2^32 mapping as hash_uniform."""
    import hashlib

    return repr(
        int(hashlib.md5(f"dec:{step}".encode()).hexdigest()[:8], 16)
        / 4294967296.0
    )


def _tsamp_oracle(steps: int) -> str:
    ctes = [
        """toks AS (
        SELECT doc_id, string_split(text, ' ') AS tokens FROM documents
    )""",
        """bgs AS (
        SELECT tokens[i] AS w1, tokens[i+1] AS w2
        FROM (SELECT tokens, unnest(generate_series(1, len(tokens) - 1)) AS i
              FROM toks)
    )""",
        "cnts AS MATERIALIZED (SELECT w1, w2, count(*) AS n FROM bgs GROUP BY w1, w2)",
        "pres AS MATERIALIZED (SELECT w1, sum(n) AS np FROM cnts GROUP BY w1)",
        """s0 AS (
        SELECT 0 AS step, w AS token FROM (
            SELECT w, count(*) AS n
            FROM (SELECT unnest(tokens) AS w FROM toks) GROUP BY w
        ) ORDER BY n DESC, w LIMIT 1
    )""",
    ]
    for k in range(1, steps + 1):
        ctes.append(f"""c{k} AS (
        SELECT c.w2,
               exp(ln(c.n * 1.0 / p.np) * {_TSAMP_INV_T}) AS w
        FROM s{k - 1} s JOIN cnts c ON c.w1 = s.token
        JOIN pres p ON p.w1 = s.token
    )""")
        ctes.append(f"""s{k} AS (
        SELECT {k} AS step, w2 AS token FROM (
            SELECT w2,
                   sum(w) OVER (ORDER BY w2
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS cum,
                   sum(w) OVER () AS z
            FROM c{k}
        ) WHERE floor(cum / z * 1e9 + 0.5) / 1e9 > {_tsamp_u(k)}
        ORDER BY w2 LIMIT 1
    )""")
    selects = " UNION ALL ".join(
        f"SELECT CAST(step AS BIGINT) AS step, token FROM s{k}"
        for k in range(steps + 1)
    )
    return f"WITH {', '.join(ctes)} {selects}"


@query(
    "temperature_sample_decode",
    oracle=_tsamp_oracle(_TSAMP_STEPS),
    section="2.11 temperature-sampled LM decoding (seeded categorical draws)",
)
def temperature_sample_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The third decoding mode next to greedy and beam: SAMPLE from
    the bigram LM at temperature 0.7 — per step, weight each observed
    continuation by p^(1/T) (computed as exp(ln(n/np)·(1/T)) with the
    1/T repr-literal shared verbatim by both engines — the
    decayed_sum cross-libm discipline), draw u from the step's SEEDED
    md5 uniform (an exact dyadic embedded as a literal on both sides,
    the _rp_signs precedent — bit-identical, reproducible, no runtime
    RNG), and take the first token whose normalized cumulative weight
    crosses u (token-ascending cumsum: both engines sum the SAME
    terms in the SAME order, so the inverse-CDF pick diverges only if
    a cum/Z value sits within libm-ulp distance of its own 9dp
    rounding edge AND the edge of u — the bm25 rank-key argument).
    Deterministic sampling is the reproducibility contract of a
    training-data pipeline: the same corpus and seed regenerate the
    same synthetic stream bit-for-bit.

    Plan shape: identical to bigram_greedy_decode — the LM tables
    build once and localCheckpoint; each step is a 1-row broadcast
    join into them plus a fanout-bounded window (ordered cumsum over
    one token's continuations), all steps composing lazily into one
    job. The oracle unrolls the same steps as CTEs (MATERIALIZED
    model tables — the DuckDB inline-doubling guard). The model
    tables (cnt, pre, start) come from the decoder-family session
    cache `_bigram_lm_frames` — identical checkpointed frames, built
    once per (app, dir, fixture) instead of per call."""
    from pyspark.sql.window import Window

    cnt, pre, top1 = _bigram_lm_frames(spark, sf_dir)
    cur = top1.select(
        F.lit(0).cast("bigint").alias("step"), F.col("w1").alias("token")
    )
    wcum = Window.orderBy("w2").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    steps = [cur]
    for k in range(1, _TSAMP_STEPS + 1):
        cand = (
            cnt.join(
                F.broadcast(cur.select(F.col("token").alias("w1"))), "w1"
            )
            .join(pre, "w1")
            .select(
                "w2",
                F.expr(
                    f"exp(ln(n * 1.0 / np) * {_TSAMP_INV_T})"
                ).alias("w"),
            )
        )
        cur = (
            cand.select(
                "w2",
                F.sum("w").over(wcum).alias("cum"),
                F.sum("w").over(wall).alias("z"),
            )
            .filter(
                F.floor(F.col("cum") / F.col("z") * 1e9 + 0.5) / 1e9
                > F.lit(float(_tsamp_u(k)))
            )
            .orderBy("w2")
            .limit(1)
            .select(
                F.lit(k).cast("bigint").alias("step"),
                F.col("w2").alias("token"),
            )
        )
        steps.append(cur)
    out = steps[0]
    for s in steps[1:]:
        out = out.unionAll(s)
    return out


# ---------------------------------------------------------------------------
# Unigram-LM (SentencePiece-style) tokenizer trainer — SURVEY §2.11.
# Kudo (2018, public): candidate subword pieces scored by a unigram LM
# whose probabilities are fitted by EM over the segmentation lattice.
# This trainer runs TWO full soft-EM rounds (forward-backward expected
# counts over every segmentation, not Viterbi hard assignment) over a
# bounded candidate pool: every single character (coverage guarantee)
# plus the top-24 multi-char substrings (length 2-4) by occurrence
# frequency. Bounds that make it engine-exact and scale-shaped:
#  - the corpus is touched ONCE (the word-frequency aggregate); every
#    EM frame after that is VOCAB-sized (distinct words), and the only
#    driver syncs are the model-sized piece table (<= 48 rows/round —
#    the _bpe_learn "shipped artifact is driver-sized" contract);
#  - the lattice DP is unrolled over word positions (fail-loud guard
#    at _UNI_MAXLEN, the bpe exhaustion-guard pattern), each step an
#    EXPLICIT fixed-order 4-term sum so no engine's aggregation order
#    enters the recurrence; Spark localCheckpoints every 4 steps so
#    CollapseProject cannot inline the DP into a tetranacci-sized
#    expression tree (the mmr wide-plan trap), and the oracle marks
#    every DP step MATERIALIZED (the DuckDB CTE-inlining trap);
#  - expected counts and probabilities are 6dp-pinned between rounds
#    (the unrolled_gd discipline), so both engines feed bit-identical
#    doubles into the next round.
_UNI_MAXLEN = 12   # unroll bound; fail loud if a fixture word exceeds it
_UNI_PL = 4        # max candidate piece length
_UNI_V = 24        # multi-char candidate pool size
_UNI_ROUNDS = 2    # EM rounds
_UNI_TOPN = 20     # output rows


def _unigram_round_ctes(r: int, prev: str) -> str:
    """One EM round as DuckDB CTE text: forward/backward DP over word
    positions against piece table `prev`, expected-count E-step, then
    the 6dp-pinned M-step table p{r}. Every DP step is MATERIALIZED:
    f{k} is consumed by up to four later steps, and inlining would
    re-expand the recurrence combinatorially (the round-12 gotcha)."""
    parts = [
        f"fb{r}_0 AS MATERIALIZED (SELECT word, len, 1.0 AS f0, 1.0 AS g0 FROM wl)"
    ]
    for k in range(1, _UNI_MAXLEN + 1):
        fterms = " + ".join(
            f"f{k - l} * coalesce((SELECT p FROM {prev} "
            f"WHERE piece = substr(word, {k - l + 1}, {l})), 0.0)"
            for l in range(1, min(_UNI_PL, k) + 1)
        )
        gterms = " + ".join(
            f"coalesce((SELECT p FROM {prev} "
            f"WHERE piece = substr(word, len - {k} + 1, {l})), 0.0) * g{k - l}"
            for l in range(1, min(_UNI_PL, k) + 1)
        )
        parts.append(
            f"fb{r}_{k} AS MATERIALIZED (SELECT *, {fterms} AS f{k}, "
            f"{gterms} AS g{k} FROM fb{r}_{k - 1})"
        )
    flist = "[" + ", ".join(f"f{i}" for i in range(_UNI_MAXLEN + 1)) + "]"
    glist = "[" + ", ".join(f"g{i}" for i in range(_UNI_MAXLEN + 1)) + "]"
    parts.append(f"""ec{r} AS MATERIALIZED (
        SELECT o.piece,
               floor(sum(o.cnt * 1.0 / list_extract({flist}, o.len + 1)
                         * list_extract({flist}, o.s)
                         * pp.p
                         * list_extract({glist}, o.len - o.s - o.l + 2))
                     * 1000000 + 0.5) / 1000000 AS c
        FROM occs o
        JOIN fb{r}_{_UNI_MAXLEN} fb ON fb.word = o.word
        JOIN {prev} pp ON pp.piece = o.piece
        GROUP BY o.piece
    )""")
    parts.append(
        f"tot{r} AS (SELECT floor(sum(c) * 1000000 + 0.5) / 1000000 AS t "
        f"FROM ec{r})"
    )
    parts.append(f"""p{r} AS MATERIALIZED (
        SELECT piece,
               floor(c / (SELECT t FROM tot{r}) * 1000000 + 0.5) / 1000000 AS p
        FROM ec{r}
    )""")
    return ",\n    ".join(parts)


def _unigram_oracle() -> str:
    rounds = ",\n    ".join(
        _unigram_round_ctes(r, f"p{r - 1}") for r in range(1, _UNI_ROUNDS + 1)
    )
    return f"""
    WITH wl AS MATERIALIZED (
        SELECT w AS word, CAST(count(*) AS BIGINT) AS cnt, length(w) AS len
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        WHERE w <> '' GROUP BY w
    ), occs AS MATERIALIZED (
        SELECT word, cnt, len, s, l, substr(word, s, l) AS piece
        FROM wl, range(1, {_UNI_MAXLEN + 1}) rs(s), range(1, {_UNI_PL + 1}) rl(l)
        WHERE s + l - 1 <= len
    ), cands AS (
        SELECT piece, sum(cnt) AS f FROM occs WHERE l >= 2 GROUP BY piece
    ), topv AS (
        SELECT piece, f FROM (
            SELECT piece, f, row_number() OVER (ORDER BY f DESC, piece) AS rk
            FROM cands) WHERE rk <= {_UNI_V}
    ), chars AS (
        SELECT piece, sum(cnt) AS f FROM occs WHERE l = 1 GROUP BY piece
    ), pool AS MATERIALIZED (
        SELECT piece, f FROM chars UNION ALL SELECT piece, f FROM topv
    ), p0 AS MATERIALIZED (
        SELECT piece,
               floor(f * 1.0 / (SELECT sum(f) FROM pool) * 1000000 + 0.5)
                   / 1000000 AS p
        FROM pool
    ),
    {rounds}
    SELECT rank, piece, p FROM (
        SELECT CAST(row_number() OVER (ORDER BY p DESC, piece) AS INTEGER)
                   AS rank,
               piece, p
        FROM p{_UNI_ROUNDS})
    WHERE rank <= {_UNI_TOPN}
    """


# Trained-artifact session cache (the _bpe_learned contract verbatim:
# the fitted piece table IS the shipped artifact, model-sized by
# definition; the driver's vanilla session and every first-per-fixture
# local call still train from scratch, so the differential keeps
# certifying the EM machinery, not the cache). The entry is a plain
# dict, with no Spark storage.
@session_cached("documents")
def _unigram_trained(spark: SparkSession, sf_dir: str) -> dict:
    return _unigram_em(spark, sf_dir)


@query(
    "unigram_lm_tokens",
    oracle=_unigram_oracle(),
    section="2.11 unigram-LM (SentencePiece-style) tokenizer trainer (unrolled EM)",
)
def unigram_lm_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a SentencePiece-style unigram-LM subword vocabulary
    in-engine (r12 verdict next #6) and return the top-20 pieces with
    their fitted probabilities after two full soft-EM rounds. See the
    module-comment block above for the algorithm, the bounds, and the
    engine-exactness discipline; the E-step here is the textbook
    forward-backward occupancy — for the arc (s, l) of a word,
    expected count = cnt / Z * fwd(s-1) * p(piece) * bwd(suffix after
    the arc) — summed per piece, 6dp-pinned, renormalized (M-step),
    and fed back for round two. The fwd/bwd recurrences are explicit
    fixed-order sums (never a SQL aggregate), so the only
    order-dependent float summations are the two pinned reductions
    the oracle pins identically. DP entries past a word's length
    compute engine-DIVERGENT garbage (negative/overflowing substr
    starts) but are provably never read: valid entries (k <= len)
    recurse only on valid entries, and the E-step indexes f at
    s <= len, Z at len, g at len-(s+l-1) <= len. The fitted table is
    session-cached per fixture (the BPE artifact contract) — serving
    cost after the first call is one createDataFrame."""
    pmap = _unigram_trained(spark, sf_dir)
    top = sorted(pmap.items(), key=lambda kv: (-kv[1], kv[0]))[:_UNI_TOPN]
    return spark.createDataFrame(
        [(i + 1, k, float(v)) for i, (k, v) in enumerate(top)],
        schema="rank int, piece string, p double",
    )


def _unigram_em(spark: SparkSession, sf_dir: str) -> dict:
    """Run the two-round forward-backward EM; returns the fitted
    piece -> p map (see unigram_lm_tokens for the full contract)."""
    import math

    d = load_table(spark, sf_dir, "documents")
    wl = materialize(
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .withColumn("len", F.length("word")),
        SMALL,
    )
    mx = wl.agg(F.max("len").alias("m")).first()["m"]
    if mx is None or mx > _UNI_MAXLEN:
        raise ValueError(
            f"unigram_lm_tokens: corpus word length {mx} exceeds the "
            f"{_UNI_MAXLEN}-position unroll bound — raise _UNI_MAXLEN"
        )
    from pyspark.sql.window import Window

    occs = materialize(
        wl.select(
            "word", "cnt", "len",
            F.explode(F.sequence(F.lit(1), F.col("len"))).alias("s"),
        )
        .select(
            "word", "cnt", "len", "s",
            F.explode(
                F.array(*[F.lit(l) for l in range(1, _UNI_PL + 1)])
            ).alias("l"),
        )
        .filter(F.col("s") + F.col("l") - 1 <= F.col("len"))
        .withColumn("piece", F.col("word").substr(F.col("s"), F.col("l"))),
        SMALL,
    )
    cands = occs.filter(F.col("l") >= 2).groupBy("piece").agg(
        F.sum("cnt").alias("f")
    )
    topv = (
        cands.withColumn(
            "rk",
            F.row_number().over(Window.orderBy(F.col("f").desc(), "piece")),
        )
        .filter(F.col("rk") <= _UNI_V)
        .select("piece", "f")
    )
    chars = occs.filter(F.col("l") == 1).groupBy("piece").agg(
        F.sum("cnt").alias("f")
    )
    # model-sized driver sync #0: the candidate pool (<= 24 + alphabet)
    pool = {r["piece"]: r["f"] for r in chars.unionAll(topv).collect()}
    total = sum(pool.values())  # exact int
    pmap = {
        k: math.floor(v / total * 1000000 + 0.5) / 1000000
        for k, v in pool.items()
    }

    fb_base = wl.select(
        "word", "len", F.lit(1.0).alias("f0"), F.lit(1.0).alias("g0")
    )
    for _r in range(1, _UNI_ROUNDS + 1):
        mp = F.create_map(
            *[x for kv in sorted(pmap.items()) for x in (F.lit(kv[0]), F.lit(kv[1]))]
        )

        def pz(e):  # noqa: B023 — rebuilt each round on purpose
            return F.coalesce(F.element_at(mp, e), F.lit(0.0))

        fb = fb_base
        for k in range(1, _UNI_MAXLEN + 1):
            ft = None
            gt = None
            for l in range(1, min(_UNI_PL, k) + 1):
                fterm = F.col(f"f{k - l}") * pz(
                    F.col("word").substr(F.lit(k - l + 1), F.lit(l))
                )
                gterm = pz(
                    F.col("word").substr(
                        F.col("len") - F.lit(k) + F.lit(1), F.lit(l)
                    )
                ) * F.col(f"g{k - l}")
                ft = fterm if ft is None else ft + fterm
                gt = gterm if gt is None else gt + gterm
            fb = fb.withColumn(f"f{k}", ft).withColumn(f"g{k}", gt)
            if k % 4 == 0:
                # break lineage so CollapseProject cannot inline the DP
                # recurrence into one combinatorial projection (31-row
                # frame — the checkpoint is plan hygiene, not data)
                fb = materialize(fb, SMALL)
        farr = F.array(*[F.col(f"f{i}") for i in range(_UNI_MAXLEN + 1)])
        garr = F.array(*[F.col(f"g{i}") for i in range(_UNI_MAXLEN + 1)])
        w = (
            F.col("cnt") * F.lit(1.0)
            / F.element_at(farr, F.col("len") + F.lit(1))
            * F.element_at(farr, F.col("s"))
            * pz(F.col("piece"))
            * F.element_at(
                garr, F.col("len") - F.col("s") - F.col("l") + F.lit(2)
            )
        )
        ec = (
            occs.join(fb.drop("len"), "word")
            .filter(F.element_at(mp, F.col("piece")).isNotNull())
            .groupBy("piece")
            .agg(round_half_up(F.sum(w), 6).alias("c"))
        )
        # model-sized driver sync #r: the expected-count table
        counts = {r["piece"]: r["c"] for r in ec.collect()}
        t = (
            math.floor(
                sum(counts[k] for k in sorted(counts)) * 1000000 + 0.5
            )
            / 1000000
        )
        pmap = {
            k: math.floor(v / t * 1000000 + 0.5) / 1000000
            for k, v in counts.items()
        }

    return pmap


_TDS_MAX_DF = 100   # posting-list cap (stop-term drop), the Jaccard-family bound
_TDS_THRESHOLD = 0.5


@query(
    "tfidf_doc_similarity",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, w, count(*) AS tf
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
        WHERE w <> '' GROUP BY doc_id, w
    ), kept AS (
        SELECT w, count(*) AS df FROM tok GROUP BY w
        HAVING count(*) <= {_TDS_MAX_DF}
    ), wt AS MATERIALIZED (
        SELECT t.doc_id, t.w,
               floor(t.tf * ln((SELECT count(*) FROM documents) * 1.0 / k.df)
                     * 1000000 + 0.5) / 1000000 AS wgt
        FROM tok t JOIN kept k ON k.w = t.w
    ), nrm AS (
        SELECT doc_id, floor(sum(wgt * wgt) * 1000000 + 0.5) / 1000000 AS n2
        FROM wt GROUP BY doc_id
    ), dp AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               floor(sum(a.wgt * b.wgt) * 1000000 + 0.5) / 1000000 AS dot
        FROM wt a JOIN wt b ON a.w = b.w AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT d.doc_a, d.doc_b,
           floor(d.dot / sqrt(na.n2 * nb.n2) * 10000 + 0.5) / 10000 AS cosine
    FROM dp d
    JOIN nrm na ON na.doc_id = d.doc_a
    JOIN nrm nb ON nb.doc_id = d.doc_b
    WHERE d.dot / sqrt(na.n2 * nb.n2) >= {_TDS_THRESHOLD}
    """,
    section="2.11 sparse lexical doc-doc similarity (tf-idf posting-list cosine)",
)
def tfidf_doc_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-document cosine over SPARSE tf-idf vectors via the
    inverted index — the lexical near-dup/mirror detector that
    complements the dense-embedding pairs (allpairs_similarity) and
    the set-based Jaccard family: tf-idf cosine catches documents
    that share the same RARE vocabulary with different word order,
    which shingle Jaccard dilutes. The dot products come from a
    posting-list self-join on shared terms (the DISCO/all-pairs
    bound, public): a term's posting list caps at df <= {_TDS_MAX_DF}
    — dropping ubiquitous terms both bounds every join bucket AND is
    the standard stop-term hygiene, so candidate work is
    sum_w df_w^2 over kept terms, never corpus^2. idf = ln(N/df) is
    6dp-pinned per (doc, term) BEFORE any product, so both engines'
    dot/norm reductions consume bit-identical doubles; dot and norm^2
    are 6dp-pinned after their (order-dependent) sums, and the 0.5
    gate sits far from fixture values at every SF."""
    d = load_table(spark, sf_dir, "documents")
    tok = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    kept = (
        tok.groupBy("w")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= _TDS_MAX_DF)
    )
    nd = d.agg(F.count(F.lit(1)).alias("n"))
    wt = materialize(
        tok.join(kept, "w")
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id",
            "w",
            round_half_up(
                F.col("tf") * F.log(F.col("n") * F.lit(1.0) / F.col("df")), 6
            ).alias("wgt"),
        ),
        CORPUS,
    )  # consumed 3x: norms + both join sides
    nrm = wt.groupBy("doc_id").agg(
        round_half_up(F.sum(F.col("wgt") * F.col("wgt")), 6).alias("n2")
    )
    a = wt.select(F.col("doc_id").alias("doc_a"), "w", F.col("wgt").alias("wa"))
    b = wt.select(F.col("doc_id").alias("doc_b"), "w", F.col("wgt").alias("wb"))
    dp = (
        a.join(b, "w")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(round_half_up(F.sum(F.col("wa") * F.col("wb")), 6).alias("dot"))
    )
    na = nrm.select(F.col("doc_id").alias("doc_a"), F.col("n2").alias("na2"))
    nb = nrm.select(F.col("doc_id").alias("doc_b"), F.col("n2").alias("nb2"))
    raw = F.col("dot") / F.sqrt(F.col("na2") * F.col("nb2"))
    return (
        dp.join(na, "doc_a")
        .join(nb, "doc_b")
        .filter(raw >= _TDS_THRESHOLD)
        .select("doc_a", "doc_b", round_half_up(raw, 4).alias("cosine"))
    )


_CEG_THRESHOLD = 3.0  # nats; gate applied to the PINNED entropy


@query(
    "char_entropy_gate",
    oracle=f"""
    WITH ch AS (
        SELECT doc_id, source, c, count(*) AS k
        FROM (SELECT doc_id, source, unnest(string_split(text, '')) AS c
              FROM documents)
        WHERE c <> ' '
        GROUP BY doc_id, source, c
    ), ent AS (
        SELECT doc_id, source,
               floor((ln(sum(k)) - sum(k * ln(k)) / sum(k)) * 1000000 + 0.5)
                   / 1000000 AS h
        FROM ch GROUP BY doc_id, source
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN h >= {_CEG_THRESHOLD} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_pass,
           floor(sum(CASE WHEN h >= {_CEG_THRESHOLD} THEN 1 ELSE 0 END) * 1.0
                 / count(*) * 10000 + 0.5) / 10000 AS pass_rate,
           floor(avg(h) * 10000 + 0.5) / 10000 AS avg_entropy
    FROM ent GROUP BY source
    """,
    section="2.11 character-entropy quality gate (gibberish/low-diversity screen)",
)
def char_entropy_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon entropy of the (non-space) character
    distribution — the cheap gibberish screen a corpus gate runs
    before anything tokenizes: binary blobs and aaaa-spam sit far
    below natural text, base64/hex noise far above a narrow alphabet.
    H = ln(n) - sum(k ln k)/n from exact integer char counts, so the
    only float inputs are ln of identical integers; the per-doc sum is
    order-dependent and therefore 6dp-PINNED, and the >= {_CEG_THRESHOLD}
    gate is applied to the PINNED value — both engines compare the
    same double, so the gate cannot straddle (the round-5 lesson,
    applied at the comparison instead of after it). Scale: one
    explode + two keyed aggs; the per-doc state is alphabet-sized."""
    d = load_table(spark, sf_dir, "documents")
    ch = (
        d.select(
            "doc_id", "source", F.explode(F.split("text", "")).alias("c")
        )
        .filter(F.col("c") != " ")
        .groupBy("doc_id", "source", "c")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    ent = ch.groupBy("doc_id", "source").agg(
        round_half_up(
            F.log(F.sum("k")) - F.sum(F.col("k") * F.log("k")) / F.sum("k"), 6
        ).alias("h")
    )
    passed = F.when(F.col("h") >= _CEG_THRESHOLD, 1).otherwise(0)
    return ent.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(passed).cast("bigint").alias("n_pass"),
        round_half_up(F.sum(passed) * 1.0 / F.count(F.lit(1)), 4).alias(
            "pass_rate"
        ),
        round_half_up(F.avg("h"), 4).alias("avg_entropy"),
    )


@query(
    "zipf_fit",
    oracle="""
    WITH wl AS (
        SELECT w, count(*) AS c
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        WHERE w <> '' GROUP BY w
    ), rk AS (
        SELECT ln(row_number() OVER (ORDER BY c DESC, w)) AS x,
               ln(c) AS y
        FROM wl
    ), s AS (
        SELECT count(*) * 1.0 AS n,
               floor(sum(x) * 1000000 + 0.5) / 1000000 AS sx,
               floor(sum(y) * 1000000 + 0.5) / 1000000 AS sy,
               floor(sum(x * y) * 1000000 + 0.5) / 1000000 AS sxy,
               floor(sum(x * x) * 1000000 + 0.5) / 1000000 AS sxx,
               floor(sum(y * y) * 1000000 + 0.5) / 1000000 AS syy
        FROM rk
    )
    SELECT CAST(n AS BIGINT) AS n_types,
           sign((n * sxy - sx * sy) / (n * sxx - sx * sx))
             * floor(abs((n * sxy - sx * sy) / (n * sxx - sx * sx))
                     * 10000 + 0.5) / 10000 + 0.0 AS slope,
           sign((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n)
             * floor(abs((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n)
                     * 10000 + 0.5) / 10000 + 0.0 AS intercept,
           floor((n * sxy - sx * sy) * (n * sxy - sx * sy)
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy))
                 * 10000 + 0.5) / 10000 AS r2
    FROM s
    """,
    section="2.11 Zipf rank-frequency fit (log-log OLS slope, corpus-shape diagnostic)",
)
def zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fit ln(freq) = slope * ln(rank) + intercept over the full
    rank-frequency spectrum — the Zipf-law diagnostic (slope near -1
    for natural language; public corpus-linguistics standard) that
    complements the count-of-counts spectrum (`token_freq_spectrum`)
    and Heaps' growth (`vocab_growth`): a corpus whose slope drifts
    far from its source distribution signals template spam (too
    steep) or tokenizer damage (too flat). Ranks are deterministic
    ((freq DESC, word) total order), x/y are ln of exact integers,
    and each OLS sum is 6dp-pinned BEFORE the closed-form combination
    (the n*sxy - sx*sy subtraction cancels leading digits, so pinned
    inputs are what keep both engines on the same double). Scale: one
    token agg, one vocab-sized window, a 1-row reduction."""
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    wl = (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    rk = wl.select(
        F.log(
            F.row_number().over(Window.orderBy(F.col("c").desc(), "w"))
        ).alias("x"),
        F.log("c").alias("y"),
    )
    s = rk.agg(
        (F.count(F.lit(1)) * F.lit(1.0)).alias("n"),
        round_half_up(F.sum("x"), 6).alias("sx"),
        round_half_up(F.sum("y"), 6).alias("sy"),
        round_half_up(F.sum(F.col("x") * F.col("y")), 6).alias("sxy"),
        round_half_up(F.sum(F.col("x") * F.col("x")), 6).alias("sxx"),
        round_half_up(F.sum(F.col("y") * F.col("y")), 6).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    # Degenerate-corpus guard (r13 advice): a single-type vocabulary
    # makes the OLS denominator exactly 0, where Spark's Divide yields
    # NULL but DuckDB's IEEE division yields inf/NaN — fail loud (the
    # bpe exhaustion-guard pattern) instead of diverging silently.
    # Embedded in the slope expression (not a droppable assert column)
    # so column pruning can never eliminate it; slope feeds intercept
    # and r2, so one guard covers all three outputs.
    den = n * sxx - sx * sx
    slope = F.when(den != F.lit(0.0), (n * sxy - sx * sy) / den).otherwise(
        F.raise_error(
            F.lit(
                "zipf_fit: degenerate corpus — single-type vocabulary "
                "(zero ln-rank variance), OLS slope undefined"
            )
        ).cast("double")
    )
    intercept = (sy - slope * sx) / n
    r2 = (
        (n * sxy - sx * sy) * (n * sxy - sx * sy)
        / ((n * sxx - sx * sx) * (n * syy - sy * sy))
    )
    return s.select(
        n.cast("bigint").alias("n_types"),
        (textops.signed_round_half_up(slope, 4) + F.lit(0.0)).alias("slope"),
        (textops.signed_round_half_up(intercept, 4) + F.lit(0.0)).alias(
            "intercept"
        ),
        round_half_up(r2, 4).alias("r2"),
    )


_DQL_MU = 50.0  # Dirichlet prior mass (fixture docs average ~50 tokens)


@query(
    "dirichlet_ql_topk",
    oracle=f"""
    WITH {_BM25_CTES_SQL}, cf AS (
        SELECT word, sum(tf) AS cf FROM tf GROUP BY word
    ), tot AS (
        SELECT sum(len) AS t FROM lens
    ), qterms AS (
        SELECT d.word, c.cf FROM dfr d JOIN cf c ON c.word = d.word
        ORDER BY d.df, d.word LIMIT 3
    ), sc AS (
        SELECT l.doc_id,
               sum(ln((coalesce(tf.tf, 0) + {_DQL_MU} * q.cf / t.t)
                      / (l.len + {_DQL_MU}))) AS ql
        FROM lens l
        CROSS JOIN qterms q
        CROSS JOIN tot t
        LEFT JOIN tf ON tf.doc_id = l.doc_id AND tf.word = q.word
        GROUP BY l.doc_id
    )
    SELECT doc_id,
           sign(ql) * floor(abs(ql) * 10000 + 0.5) / 10000 + 0.0 AS ql
    FROM sc
    ORDER BY sign(ql) * floor(abs(ql) * 1000000000 + 0.5) / 1000000000 DESC,
             doc_id
    LIMIT 10
    """,
    section="2.11 Dirichlet-prior query-likelihood retrieval (LM scoring, Zhai-Lafferty)",
)
def dirichlet_ql_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-likelihood retrieval with Dirichlet-prior smoothing (Zhai
    & Lafferty 2001, public) — the language-model scorer that
    completes the retrieval family beside Okapi BM25 (`bm25_topk`),
    the JM-interpolated LM (`jm_lambda_sweep`), and Rocchio PRF:
    score(d) = sum over query terms of
    ln((tf + MU * p_collection(w)) / (len_d + MU)). The same
    data-driven 3-rarest-terms query rule and shared tokenize/tf/df
    CTEs as BM25, so the scorers price the identical query against
    identical statistics. Unlike BM25 the LM scores EVERY document
    (smoothing gives unmatched docs probability mass), so the scoring
    frame is lens x 3 broadcast query terms with a left join to tf —
    one corpus-linear pass. Engine exactness: all inputs are integer
    ratios and ln of identical doubles; the 3-term per-doc sum is
    order-dependent, so the top-10 cut ranks the 9dp SIGNED-pinned
    score (log-probabilities are negative — floor-pinning without the
    sign would round toward -inf asymmetrically) with doc_id
    tie-break, and the reported score pins at 4dp."""
    d = load_table(spark, sf_dir, "documents")
    tf, lens, stats, dfr = _bm25_frames(d)
    cf = tf.groupBy("word").agg(F.sum("tf").alias("cf"))
    tot = lens.agg(F.sum("len").alias("t"))
    qterms = (
        dfr.join(cf, "word")
        .orderBy("df", "word")
        .limit(3)
        .select("word", "cf")
    )
    sc = (
        lens.crossJoin(F.broadcast(qterms))
        .crossJoin(F.broadcast(tot))
        .join(tf, ["doc_id", "word"], "left")
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.log(
                    (
                        F.coalesce(F.col("tf"), F.lit(0))
                        + F.lit(_DQL_MU) * F.col("cf") / F.col("t")
                    )
                    / (F.col("len") + F.lit(_DQL_MU))
                )
            ).alias("ql")
        )
    )
    rank_key = textops.signed_round_half_up(F.col("ql"), 9) + F.lit(0.0)
    return (
        sc.orderBy(rank_key.desc(), "doc_id")
        .limit(10)
        .select(
            "doc_id",
            (textops.signed_round_half_up(F.col("ql"), 4) + F.lit(0.0)).alias(
                "ql"
            ),
        )
    )
