"""Training-corpus preparation operators over `documents`. SURVEY.md §2.11.

The passes a pre-training data pipeline runs between "raw crawl" and
"tokenized shards": PII redaction, deterministic train/val/test
splitting, sequential shard packing, overlapping chunking, unicode
normalization, per-source heavy-hitter terms, source mixing weights,
and a deterministic corpus shuffle. Everything is built-in column
expressions (one scan + at most one keyed shuffle per query) except
the NFC normalizer, which is deliberately a vectorized pandas_udf so
the Arrow path is differentially tested against DuckDB's native
`nfc_normalize`.

The fixture corpus is synthetic ASCII, so the PII / URL / accent
inputs are derived deterministically from (doc_id, source) inside the
query itself — identical synthesis in the oracle SQL — which keeps the
redaction/normalization machinery fully differential-tested without
mutating the read-only fixtures.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..operators.textops import (
    adjacent_pairs_expr,
    adjacent_pairs_sql,
    hash_bucket_sql,
    hash_uniform_sql,
    round_half_up,
    signed_round_half_up,
)
from ..session_cache import CONSIST, SMALL, materialize
from ..sources.tables import load_table
from .registry import query

# Email/phone patterns kept to the syntax subset where Java regex
# (Spark) and RE2 (DuckDB) agree: char classes, +, {m,n}, no
# backrefs/lookaround.
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\+\d-\d{3}-\d{4}"


@query(
    "pii_redact",
    oracle=f"""
    WITH synth AS (
        SELECT source,
               text || ' contact user' || doc_id || '@example.com or +1-555-'
                    || lpad((doc_id % 10000)::VARCHAR, 4, '0') AS s
        FROM documents
    ), red AS (
        SELECT source,
               len(regexp_extract_all(s, '{_EMAIL_RE}'))  AS n_emails,
               len(regexp_extract_all(s, '{_PHONE_RE}'))  AS n_phones,
               length(regexp_replace(regexp_replace(s, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                                     '{_PHONE_RE}', '<PHONE>', 'g')) AS redacted_len
        FROM synth
    )
    SELECT source,
           count(*)                          AS n_docs,
           CAST(sum(n_emails) AS BIGINT)     AS n_emails,
           CAST(sum(n_phones) AS BIGINT)     AS n_phones,
           CAST(sum(redacted_len) AS BIGINT) AS redacted_chars
    FROM red
    GROUP BY source
    """,
    section="2.11 PII redaction (regex email/phone scrub)",
)
def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex PII scrub — the standard pre-training redaction pass.

    A deterministic email + phone is synthesized into each document
    from its id (the fixtures are PII-free), then both are redacted and
    counted. All regex work is JVM-side codegen (`regexp_replace` /
    `regexp_count`); at 100 TB this is a single scan with map-side
    partial aggregation and only (source, partials) shuffling.
    """
    d = load_table(spark, sf_dir, "documents")
    s = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(s, _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    return (
        d.select(
            "source",
            F.regexp_count(s, F.lit(_EMAIL_RE)).alias("n_emails"),
            F.regexp_count(s, F.lit(_PHONE_RE)).alias("n_phones"),
            F.length(redacted).alias("redacted_len"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_emails").cast("bigint").alias("n_emails"),
            F.sum("n_phones").cast("bigint").alias("n_phones"),
            F.sum("redacted_len").cast("bigint").alias("redacted_chars"),
        )
    )


# Hash-split thresholds on the first md5 byte (lexicographic over hex):
# <= 'cb' (byte 203) ≈ 79.7% train, <= 'e5' (byte 229) ≈ +10.2% val,
# remainder ≈ 10.2% test. ONE definition of the whole hash form —
# parameterized by the key so the row split (doc_id), the pipeline's
# split, and the group split (user_id) all generate from it; a change
# to the hash itself (e.g. widening to 4 hex chars) lands everywhere
# at once instead of drifting one-sided.
_TRAIN_MAX = "cb"
_VAL_MAX = "e5"


def _split_case_sql(key_expr: str = "doc_id") -> str:
    return f"""CASE WHEN substr(md5({key_expr}::VARCHAR), 1, 2) <= '{_TRAIN_MAX}' THEN 'train'
                    WHEN substr(md5({key_expr}::VARCHAR), 1, 2) <= '{_VAL_MAX}' THEN 'val'
                    ELSE 'test' END"""


_SPLIT_CASE_SQL = _split_case_sql()


def _split_col(key: str = "doc_id") -> Column:
    h = F.substring(F.md5(F.col(key).cast("string")), 1, 2)
    return F.when(h <= _TRAIN_MAX, "train").when(h <= _VAL_MAX, "val").otherwise("test")


@query(
    "dataset_split",
    oracle=f"""
    WITH tagged AS (
        SELECT n_chars, {_SPLIT_CASE_SQL} AS split
        FROM documents
    )
    SELECT split,
           count(*)                       AS n_docs,
           CAST(sum(n_chars) AS BIGINT)   AS total_chars,
           floor(avg(n_chars) * 100 + 0.5) / 100 AS avg_chars
    FROM tagged
    GROUP BY split
    """,
    section="2.11 train/val/test split (deterministic hash assignment)",
)
def dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-based ~80/10/10 split: bucket on the first md5 byte of the
    document id, compared lexicographically ('cb' ≡ byte 203 → 79.7%
    train). Deterministic, engine-independent, and stable under corpus
    growth — a document never changes split when new data arrives,
    which is the property a training pipeline needs. Pure column math;
    no shuffle beyond the 3-group aggregate."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(_split_col().alias("split"), "n_chars")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            round_half_up(F.avg("n_chars"), 2).alias("avg_chars"),
        )
    )


_SHARD_CAPACITY = 20_000  # chars per shard (fixture-scaled)


@query(
    "shard_pack",
    oracle=f"""
    WITH packed AS (
        SELECT doc_id, n_chars,
               CAST(floor((sum(n_chars) OVER (ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           - n_chars) / {_SHARD_CAPACITY}) AS BIGINT) AS shard_id
        FROM documents
    )
    SELECT shard_id,
           count(*)                     AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS shard_chars,
           min(doc_id)                  AS first_doc,
           max(doc_id)                  AS last_doc
    FROM packed
    GROUP BY shard_id
    """,
    section="2.11 shard packing (sequential fill to capacity)",
)
def shard_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential shard assignment: running size before each doc,
    integer-divided by capacity — how training-shard writers fill
    fixed-size output files. This oracle-checkable form uses one
    global-order window (single partition); the 100 TB path runs the
    identical expression per writer partition (partitionBy(hash) →
    window within partition), which shards each partition independently
    with no global order. Only (shard_id, partials) shuffle for the
    rollup."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    shard = F.floor((F.sum("n_chars").over(w) - F.col("n_chars")) / _SHARD_CAPACITY)
    return (
        d.select("doc_id", "n_chars", shard.alias("shard_id"))
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("shard_chars"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


_N_WRITERS = 8  # parallel shard-writer partitions in the scale path

# ONE definition of the partitioned packing (CTE text + Column
# helper), shared by shard_pack_partitioned and the shard_balance
# report so the packer being measured and the packer being shipped
# cannot drift.
_PACKED_SHARDS_CTE = f"""packed AS (
        SELECT doc_id % {_N_WRITERS} AS writer_id, n_chars,
               CAST(floor((sum(n_chars) OVER (PARTITION BY doc_id % {_N_WRITERS}
                           ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           - n_chars) / {_SHARD_CAPACITY}) AS BIGINT) AS local_shard
        FROM documents
    ), shards AS (
        SELECT writer_id, local_shard,
               count(*)                     AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS shard_chars
        FROM packed
        GROUP BY writer_id, local_shard
    )"""


def _packed_shards(d: DataFrame) -> DataFrame:
    """(writer_id, local_shard, n_docs, shard_chars) — the partitioned
    packer's shard table. Column twin of :data:`_PACKED_SHARDS_CTE`."""
    from pyspark.sql import Window

    writer = (F.col("doc_id") % _N_WRITERS).alias("writer_id")
    w = (
        Window.partitionBy("writer_id")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    shard = F.floor((F.sum("n_chars").over(w) - F.col("n_chars")) / _SHARD_CAPACITY)
    return (
        d.select(writer, "doc_id", "n_chars")
        .select("writer_id", "n_chars", shard.alias("local_shard"))
        .groupBy("writer_id", "local_shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("shard_chars"),
        )
    )


@query(
    "shard_pack_partitioned",
    oracle=f"""
    WITH {_PACKED_SHARDS_CTE}
    SELECT writer_id, local_shard, n_docs, shard_chars FROM shards
    """,
    section="2.11 shard packing, partitioned (the 100 TB path: no global order)",
)
def shard_pack_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale form of `shard_pack`: documents hash to one of N
    writer partitions (deterministic `doc_id % N` so the oracle can
    mirror it; production would use any stable hash) and each writer
    packs *its own* stream to capacity with a per-partition window.
    N windows run in parallel after a single hash exchange — no global
    order, no single-partition WindowExec — so packing throughput
    scales with the writer count. Shard identity is (writer_id,
    local_shard). Packing logic lives in the shared
    :func:`_packed_shards` (the shard_balance report measures the
    identical packer)."""
    return _packed_shards(load_table(spark, sf_dir, "documents"))


@query(
    "shard_balance",
    oracle=f"""
    WITH {_PACKED_SHARDS_CTE}
    SELECT writer_id,
           CAST(count(*) AS BIGINT)          AS n_shards,
           CAST(sum(n_docs) AS BIGINT)       AS n_docs,
           CAST(sum(shard_chars) AS BIGINT)  AS total_chars,
           floor(sum(shard_chars) * 1.0
                 / (count(*) * {_SHARD_CAPACITY}) * 10000 + 0.5) / 10000
                                             AS fill_ratio
    FROM shards
    GROUP BY writer_id
    ORDER BY writer_id
    """,
    section="2.11 shard-packing balance report (per-writer fill and skew)",
)
def shard_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observability for the partitioned packer: per writer, how many
    shards it cut, how many documents and characters it wrote, and
    its mean fill ratio against capacity — the skew report that tells
    a team whether the writer hash is balanced and how much capacity
    the tail shards waste BEFORE a 1000-writer run bakes the layout
    into storage. Measures the IDENTICAL packer as
    shard_pack_partitioned (shared `_packed_shards` definition); one
    extra 8-row aggregate on top. fill_ratio divides exact BIGINTs
    once and floors identically on both engines.
    """
    shards = _packed_shards(load_table(spark, sf_dir, "documents"))
    return (
        shards.groupBy("writer_id")
        .agg(
            F.count(F.lit(1)).alias("n_shards"),
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.sum("shard_chars").cast("bigint").alias("total_chars"),
        )
        .select(
            "writer_id",
            "n_shards",
            "n_docs",
            "total_chars",
            round_half_up(
                F.col("total_chars") * 1.0 / (F.col("n_shards") * _SHARD_CAPACITY),
                4,
            ).alias("fill_ratio"),
        )
        .orderBy("writer_id")
    )


_CHUNK_SIZE = 200
_CHUNK_STRIDE = 150


def _chunk_rows(d: DataFrame, stride: int) -> DataFrame:
    """(doc_id, text, off): the shared filter→explode offset generator
    behind BOTH chunk families (overlapping doc_chunks, non-overlapping
    _ddc_chunks). The empty-text filter is load-bearing — Spark's
    sequence(1, 0) RAISES where DuckDB's generate_series(1, 0) yields
    nothing — and lives exactly once here (r9 review: two inline
    copies of the idiom meant the guard had to be fixed twice)."""
    return d.filter(F.length("text") > 0).select(
        "doc_id",
        "text",
        F.explode(
            F.sequence(F.lit(1), F.length("text"), F.lit(stride))
        ).alias("off"),
    )


@query(
    "doc_chunks",
    oracle=f"""
    SELECT doc_id,
           CAST((off - 1) / {_CHUNK_STRIDE} AS BIGINT)                  AS chunk_ix,
           CAST(length(substr(text, off, {_CHUNK_SIZE})) AS BIGINT)     AS chunk_len,
           substr(md5(substr(text, off, {_CHUNK_SIZE})), 1, 8)          AS chunk_fp
    FROM (
        SELECT doc_id, text,
               unnest(generate_series(1, length(text), {_CHUNK_STRIDE})) AS off
        FROM documents WHERE length(text) > 0
    )
    """,
    section="2.11 document chunking (fixed window + overlap)",
)
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-size chunks (200 chars, stride 150) — the
    context-window packing pass before tokenization. `sequence` +
    `explode` generate offsets JVM-side; substring and the md5 chunk
    fingerprint are codegen expressions, so chunking is a single
    narrow (no-shuffle) pass regardless of corpus size. Empty documents
    are filtered first: `sequence(1, 0)` raises in Spark where the
    oracle's `generate_series(1, 0)` yields nothing — both now emit
    zero chunks."""
    chunks = _chunk_rows(load_table(spark, sf_dir, "documents"), _CHUNK_STRIDE)
    chunk = F.substring(F.col("text"), F.col("off"), _CHUNK_SIZE)
    return chunks.select(
        "doc_id",
        ((F.col("off") - 1) / _CHUNK_STRIDE).cast("bigint").alias("chunk_ix"),
        F.length(chunk).cast("bigint").alias("chunk_len"),
        F.substring(F.md5(chunk), 1, 8).alias("chunk_fp"),
    )


@query(
    "unicode_normalize",
    oracle="""
    WITH accented AS (
        SELECT doc_id, replace(text, 'e', 'é') AS s FROM documents
    )
    SELECT doc_id,
           CAST(length(s) AS BIGINT)                 AS n_raw,
           CAST(length(nfc_normalize(s)) AS BIGINT)  AS n_nfc,
           (length(nfc_normalize(s)) < length(s))    AS changed
    FROM accented
    """,
    section="2.11 unicode NFC normalization (vectorized pandas_udf)",
)
def unicode_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NFC normalization via a *scalar pandas_udf* (Arrow-batched
    `unicodedata.normalize`), differentially checked against DuckDB's
    native `nfc_normalize`. Decomposed accents (e + U+0301) are
    injected deterministically since the fixture corpus is ASCII; NFC
    recombines them to a single code point, so `length` drops by the
    number of combining marks. Spark has no built-in normalizer — this
    is the legitimate vectorized-UDF tier (SURVEY §2.10): one Arrow
    round-trip, no per-row Python."""

    @pandas_udf("string")
    def nfc(s: pd.Series) -> pd.Series:
        import unicodedata

        # null-propagate like the oracle's nfc_normalize(NULL): text is
        # nullable in the declared schema, and normalize(None) raises —
        # one NULL fixture row must not turn a value diff into a crash
        return s.map(
            lambda x: None if x is None else unicodedata.normalize("NFC", x)
        )

    d = load_table(spark, sf_dir, "documents")
    accented = F.replace(F.col("text"), F.lit("e"), F.lit("é"))
    # single nfc(...) call — deriving `changed` from the aliased n_nfc
    # guarantees one Arrow round-trip even if Catalyst would not
    # deduplicate two identical UDF invocations
    lengths = d.select(
        "doc_id",
        F.length(accented).cast("bigint").alias("n_raw"),
        F.length(nfc(accented)).cast("bigint").alias("n_nfc"),
    )
    return lengths.select(
        "doc_id",
        "n_raw",
        "n_nfc",
        (F.col("n_nfc") < F.col("n_raw")).alias("changed"),
    )


@query(
    "heavy_hitters",
    oracle="""
    WITH tf AS (
        SELECT source, word, count(*) AS n
        FROM (SELECT source, unnest(string_split(text, ' ')) AS word FROM documents)
        WHERE word <> ''
        GROUP BY source, word
    ), ranked AS (
        SELECT source, word, n,
               row_number() OVER (PARTITION BY source ORDER BY n DESC, word) AS rk
        FROM tf
    )
    SELECT source, word, CAST(n AS BIGINT) AS n, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= 5
    """,
    section="2.11 per-source heavy-hitter terms (exact top-k)",
)
def heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-source top-5 terms: tf agg (map-side combine) then a
    rank-filter window. The window input is vocabulary-sized per
    source — already reduced — so even at 100 TB the expensive token
    stream never reaches the window; Spark pushes the rk<=5 filter
    into WindowGroupLimit. At extreme cardinality swap the exact tf
    for a count-min/sampled sketch feeding the same rank-filter."""
    from pyspark.sql import Window

    from ..operators import textops

    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select("source", F.explode(textops.tokens("text")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("source").orderBy(F.desc("n"), F.asc("word"))
    return (
        tf.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select(
            "source",
            "word",
            F.col("n").cast("bigint").alias("n"),
            F.col("rk").cast("bigint").alias("rk"),
        )
    )


# ONE definition of the mixture-rate derivation, engine + SQL:
# `mix_weights` REPORTS these rates and `mix_apply` APPLIES them, so a
# duplicated derivation is exactly the paired-copy drift hazard
# _SPLIT_CASE_SQL guards against — a rate change that missed one copy
# would make the applied mixture silently differ from the reported plan.
_MIX_RATES_SQL = """per_src AS (
        SELECT source,
               CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY source
    ), tot AS (
        SELECT sum(n_tokens) AS total, count(*) AS n_sources FROM per_src
    ), rates AS (
        SELECT p.source, p.n_tokens,
               least(1.0, (t.total / t.n_sources) / p.n_tokens) AS rate
        FROM per_src p CROSS JOIN tot t
    )"""


def _mix_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, n_tokens, rate) — the engine half of _MIX_RATES_SQL."""
    from ..operators import textops

    d = load_table(spark, sf_dir, "documents")
    per_src = d.groupBy("source").agg(
        F.sum(F.size(textops.tokens("text"))).cast("bigint").alias("n_tokens")
    )
    tot = per_src.agg(
        F.sum("n_tokens").alias("total"), F.count(F.lit(1)).alias("n_sources")
    )
    return per_src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_tokens",
        F.least(
            F.lit(1.0), (F.col("total") / F.col("n_sources")) / F.col("n_tokens")
        ).alias("rate"),
    )


@query(
    "mix_weights",
    oracle=f"""
    WITH {_MIX_RATES_SQL}
    SELECT source, n_tokens,
           floor(rate * 10000 + 0.5) / 10000          AS sample_rate,
           CAST(floor(rate * n_tokens) AS BIGINT)     AS est_tokens
    FROM rates
    """,
    section="2.11 source mixing weights (uniform-target sampling plan)",
)
def mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing plan: per-source sampling rate that equalizes token
    contribution toward a uniform target (capped at 1.0 — no
    upsampling). Source-count aggregate is dim-sized; the 1-row total
    joins back by broadcast cross join, never a collect. The rates
    feed `sampleBy` (see `stratified_sample`) for the actual draw.
    The rate derivation itself lives in ONE place (`_mix_rates` /
    `_MIX_RATES_SQL`) shared with `mix_apply` — the plan and the
    application can't drift apart."""
    r = _mix_rates(spark, sf_dir)
    return r.select(
        "source",
        "n_tokens",
        round_half_up(F.col("rate"), 4).alias("sample_rate"),
        F.floor(F.col("rate") * F.col("n_tokens")).cast("bigint").alias("est_tokens"),
    )


@query(
    "corpus_pipeline",
    oracle=f"""
    WITH docs AS (
        SELECT doc_id, text, n_chars,
               len(string_split(text, ' ')) AS n_tokens
        FROM documents
    ), filtered AS (
        SELECT * FROM docs
        WHERE n_tokens >= 20
          AND (n_chars - n_tokens + 1.0) / n_tokens >= 3.0
    ), survivors AS (
        SELECT doc_id, n_chars, n_tokens
        FROM (
            SELECT doc_id, n_chars, n_tokens,
                   row_number() OVER (
                       PARTITION BY md5(replace(text, ' ', ''))
                       ORDER BY doc_id) AS rn
            FROM filtered
        ) WHERE rn = 1
    ), tagged AS (
        SELECT n_chars, n_tokens, {_SPLIT_CASE_SQL} AS split
        FROM survivors
    )
    SELECT split,
           count(*)                      AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(sum(n_chars) AS BIGINT)  AS total_chars,
           CAST(ceil(sum(n_chars) / {_SHARD_CAPACITY}.0) AS BIGINT) AS n_shards
    FROM tagged
    GROUP BY split
    """,
    section="2.11 end-to-end corpus prep (filter -> dedup -> split -> shard sizing)",
)
def corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole pre-training prep chain as ONE lazy plan: quality
    filter (token count + mean token length) → exact dedup (whitespace-
    normalized md5 fingerprint, keep lowest id) → deterministic hash
    split → per-split shard sizing. Because every stage is a column
    expression, Catalyst optimizes the chain end-to-end: the quality
    filter runs in the scan stage, the fingerprint window is the only
    wide shuffle, and the final rollup shuffles 3 groups. At 100 TB
    this is scan → one hash exchange → agg; no stage materializes."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    from ..operators import textops

    n_tokens = F.size(textops.tokens("text"))
    docs = d.select("doc_id", "text", "n_chars", n_tokens.alias("n_tokens"))
    filtered = docs.filter(
        (F.col("n_tokens") >= 20)
        & ((F.col("n_chars") - F.col("n_tokens") + 1.0) / F.col("n_tokens") >= 3.0)
    )
    # the ONE fingerprint definition (textops.content_fingerprint) —
    # an inline copy here once drifted a refactor away from the
    # standalone dedup operators' notion of "duplicate"
    fp = textops.content_fingerprint("text")
    w = Window.partitionBy(fp).orderBy("doc_id")
    survivors = (
        filtered.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "n_chars", "n_tokens")
    )
    return (
        survivors.select(_split_col().alias("split"), "n_chars", "n_tokens")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.ceil(F.sum("n_chars") / float(_SHARD_CAPACITY)).cast("bigint").alias("n_shards"),
        )
    )


@query(
    "corpus_shuffle",
    oracle="""
    SELECT doc_id, CAST(pos AS BIGINT) AS pos
    FROM (
        SELECT doc_id,
               row_number() OVER (ORDER BY md5(doc_id::VARCHAR), doc_id) AS pos
        FROM documents
    )
    WHERE pos <= 100
    """,
    section="2.11 deterministic corpus shuffle (hash-order epoch permutation)",
)
def corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch shuffle as training pipelines actually do it: a
    *deterministic* permutation by content-independent hash order
    (md5 of the id), so every worker/restart sees the same order
    without materializing a permutation table. Range-partitioned sort
    at scale; the doc_id tiebreak makes it total. First 100 positions
    returned (TakeOrdered — no full sort materialization)."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    w = Window.orderBy(F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))
    return (
        d.select("doc_id", F.row_number().over(w).alias("pos"))
        .filter(F.col("pos") <= 100)
        .select("doc_id", F.col("pos").cast("bigint").alias("pos"))
    )


@query(
    "boilerplate_ngrams",
    # string shingles (not hashed ids) so the oracle can mirror them —
    # same list-comprehension shingling as ngram_jaccard_neardup's
    # oracle, widened to 5-grams
    oracle="""
    WITH sh AS (
        SELECT doc_id,
               unnest(list_distinct(
                   [tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2] || ' ' ||
                    tokens[i+3] || ' ' || tokens[i+4]
                    for i in range(1, len(tokens) - 3)])) AS s
        FROM (SELECT doc_id, string_split(text, ' ') AS tokens FROM documents)
    ), df AS (
        SELECT s, count(*) AS n_docs FROM sh GROUP BY s
    )
    SELECT sh.doc_id,
           count(*) AS n_shingles,
           CAST(sum(CASE WHEN df.n_docs >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
           floor(sum(CASE WHEN df.n_docs >= 3 THEN 1 ELSE 0 END)::DOUBLE / count(*) * 10000 + 0.5) / 10000
               AS boilerplate_score
    FROM sh JOIN df ON sh.s = df.s
    GROUP BY sh.doc_id
    """,
    section="2.11 boilerplate detection (cross-doc repeated n-gram fraction)",
)
def boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/RefinedWeb-style boilerplate signal: the fraction of a
    document's distinct 5-gram shingles whose corpus document
    frequency is ≥3 — i.e. shingles appearing in at least 2 OTHER
    documents besides this one (navigation chrome, license footers,
    templated spans). Corpus pipelines drop or strip high-scoring
    docs. (n_docs counts ALL containing documents, including the doc
    itself; engine and oracle both use n_docs >= 3.)

    Shape: one shingle pass (posexplode + window lead — shared
    machinery with the dedup ladder), one document-frequency groupBy
    on the shingle, one join back, one per-doc rollup. Inverted-index
    work ∝ corpus size; never all-pairs. String shingles keep the
    query oracle-mirrorable; the 100 TB variant would join on
    xxhash64(shingle) ids exactly like ngram_jaccard_pairs (cheaper
    shuffle, same counts)."""
    from ..operators.dedup import shingle_rows

    d = load_table(spark, sf_dir, "documents")
    sh = shingle_rows(d, "doc_id", "text", n=5, hashed=False)
    df_counts = sh.groupBy("s").agg(F.count(F.lit(1)).alias("n_docs"))
    common = F.when(F.col("n_docs") >= 3, 1).otherwise(0)
    return (
        sh.join(df_counts, "s")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(common).cast("bigint").alias("n_common"),
            round_half_up(F.sum(common) / F.count(F.lit(1)), 4).alias("boilerplate_score"),
        )
    )


@query(
    "mix_apply",
    oracle=f"""
    WITH {_MIX_RATES_SQL}
    SELECT d.source,
           count(*)                                              AS n_docs_kept,
           CAST(sum(len(string_split(d.text, ' '))) AS BIGINT)   AS n_tokens_kept
    FROM documents d
    JOIN rates r ON d.source = r.source
    WHERE {hash_uniform_sql("d.doc_id")} < r.rate
    GROUP BY d.source
    """,
    section="2.11 mixture application (deterministic hash draw at the computed rate)",
)
def mix_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closes the data-mixing loop: `mix_weights` PLANS per-source
    rates; this query APPLIES them — each document survives iff its
    md5-fraction (first 8 hex chars / 2^32, uniform on [0,1)) falls
    below its source's computed rate. The draw is a pure per-row
    expression against a broadcast dim-sized rate table: reproducible
    across engines, runs, and repartitions (no RNG state), which is
    what makes a 100 TB mixture re-buildable bit-for-bit. Returns the
    per-source survivor summary; downstream the same predicate gates
    the full corpus scan. Rates come from the SHARED `_mix_rates`
    builder — the same frame `mix_weights` reports."""
    from ..operators import textops

    d = load_table(spark, sf_dir, "documents")
    rates = _mix_rates(spark, sf_dir).select("source", "rate")
    frac = textops.hash_uniform("doc_id")
    return (
        d.join(F.broadcast(rates), "source")
        .filter(frac < F.col("rate"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs_kept"),
            F.sum(F.size(textops.tokens("text"))).cast("bigint").alias("n_tokens_kept"),
        )
    )


@query(
    "length_deciles",
    oracle="""
    WITH cut AS (
        SELECT quantile_cont(n_chars, 0.1) AS c1, quantile_cont(n_chars, 0.2) AS c2,
               quantile_cont(n_chars, 0.3) AS c3, quantile_cont(n_chars, 0.4) AS c4,
               quantile_cont(n_chars, 0.5) AS c5, quantile_cont(n_chars, 0.6) AS c6,
               quantile_cont(n_chars, 0.7) AS c7, quantile_cont(n_chars, 0.8) AS c8,
               quantile_cont(n_chars, 0.9) AS c9
        FROM documents
    )
    SELECT CAST(1 + (n_chars > c1)::INT + (n_chars > c2)::INT + (n_chars > c3)::INT
              + (n_chars > c4)::INT + (n_chars > c5)::INT + (n_chars > c6)::INT
              + (n_chars > c7)::INT + (n_chars > c8)::INT + (n_chars > c9)::INT
            AS INT)                       AS decile,
           count(*)                       AS n_docs,
           CAST(min(n_chars) AS BIGINT)   AS min_chars,
           CAST(max(n_chars) AS BIGINT)   AS max_chars
    FROM documents CROSS JOIN cut
    GROUP BY 1
    """,
    section="2.11 curriculum bucketing (global decile cutoffs -> per-doc bucket assign)",
)
def length_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distribution→thresholds→apply pattern for curriculum /
    difficulty bucketing: exact decile cutoffs of document length are
    ONE aggregate row (broadcast back — never a sort of the corpus),
    and each document's bucket is a pure comparison expression against
    them. At 100 TB swap the exact percentiles for
    `approx_percentile` (same plan shape, sketch-mergeable); exact is
    the oracle-checkable form, matching DuckDB quantile_cont
    interpolation. Bucket index = count of exceeded cutoffs, so empty
    deciles collapse instead of erroring on duplicate cutoffs."""
    d = load_table(spark, sf_dir, "documents")
    # ONE percentile aggregate over the array of percentages — nine
    # scalar F.percentile calls each maintained their own full
    # value-count buffer over the corpus scan (9x aggregation state
    # for identical cutoffs; r9 review)
    cuts = d.agg(
        F.percentile(
            "n_chars", F.lit([q / 10.0 for q in range(1, 10)])
        ).alias("cs")
    ).select(*[F.element_at("cs", q).alias(f"c{q}") for q in range(1, 10)])
    decile = sum(
        (F.col("n_chars") > F.col(f"c{q}")).cast("int") for q in range(1, 10)
    ) + F.lit(1)
    return (
        d.crossJoin(F.broadcast(cuts))
        .withColumn("decile", decile.cast("int"))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").cast("bigint").alias("min_chars"),
            F.max("n_chars").cast("bigint").alias("max_chars"),
        )
    )


@query(
    "jsonl_export",
    oracle="""
    SELECT doc_id,
           to_json(struct_pack(
               doc_id := doc_id,
               lang := lang,
               source := source,
               n_chars := n_chars,
               n_tokens := len(string_split(text, ' '))
           )) AS record
    FROM documents
    """,
    section="2.1/2.11 JSONL export (training-record serialization)",
)
def jsonl_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-record export shape: each document serializes to
    one compact JSON object (the line of a JSONL shard). to_json over
    a struct is pure codegen — a narrow, shuffle-free pass that
    parallelizes with the writer count; at 100 TB this select feeds
    `.write.text()` partitioned by the shard key. Fields are
    restricted to ints/strings ON PURPOSE: integer and string JSON
    serialization is byte-identical across engines (verified), while
    float formatting is not — floats would go through a decimal-string
    cast first."""
    from ..operators import textops

    d = load_table(spark, sf_dir, "documents")
    rec = F.struct(
        F.col("doc_id"),
        F.col("lang"),
        F.col("source"),
        F.col("n_chars"),
        # the ONE tokenizer definition (operators/dedup.tokens), same
        # as every other token count in this file
        F.size(textops.tokens("text")).cast("bigint").alias("n_tokens"),
    )
    # ignoreNullFields=false: Spark's default DROPS null fields from
    # the object while DuckDB's to_json emits "key": null — on a
    # nullable field (lang/source are nullable in the declared schema)
    # the "byte-identical across engines" claim would silently break;
    # emitting explicit nulls matches the oracle on every input
    return d.select(
        "doc_id",
        F.to_json(rec, {"ignoreNullFields": "false"}).alias("record"),
    )


@query(
    "weighted_sample",
    oracle=f"""
    SELECT doc_id, n_chars,
           floor(pri * 100000000 + 0.5) / 100000000 AS priority
    FROM (
        SELECT doc_id, n_chars,
               {hash_uniform_sql("doc_id")} / n_chars AS pri
        FROM documents
        WHERE n_chars > 0
    )
    ORDER BY pri, doc_id
    LIMIT 20
    """,
    section="2.11 weighted sampling (sequential Poisson, deterministic)",
)
def weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted document sampling without replacement via
    sequential Poisson sampling (Ohlsson 1998): each doc draws a
    deterministic uniform u from its id hash (first 8 md5 hex chars /
    2^32) and competes with priority u / weight; the k smallest
    priorities form an approximate probability-proportional-to-size
    sample. Weight = n_chars, so long documents are favored — the
    standard token-budget-aware corpus subsample. Fully deterministic
    (restart-safe, no RNG state), one narrow pass + TakeOrdered —
    no shuffle at all, any scale. u is an exact dyadic rational and
    the division is IEEE-exact, so the top-k cut is bit-identical
    across engines; the reported priority is rounded half-up at 8dp
    for the hash only. Generic form: operators/quality.weighted_sample
    (exposed on the Pipeline API)."""
    from ..operators import quality

    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return quality.weighted_sample(d, "doc_id", "n_chars", 20)


_DDC_SIZE = 100  # chunk dedup family: non-overlapping 100-char windows

# THE chunk/fingerprint oracle CTE — one generator feeds both
# chunk_dedup_ratio and chunk_dedup_scrub so their chunking stays
# bit-identical (the scrub is the ratio's transform companion; a
# one-sided edit to offsets or width would silently desynchronize
# them — same single-definition rule as the WARC `_warc_records`).
_DDC_CHUNKS_CTE = f"""chunks AS (
        SELECT doc_id, o,
               substr(text, o, {_DDC_SIZE})      AS chunk,
               md5(substr(text, o, {_DDC_SIZE})) AS fp
        FROM (
            SELECT doc_id, text,
                   unnest(generate_series(1, length(text), {_DDC_SIZE})) AS o
            FROM documents WHERE length(text) > 0
        )
    )"""


def _ddc_chunks(d: DataFrame) -> DataFrame:
    """Spark twin of _DDC_CHUNKS_CTE: (doc_id, off, chunk, fp), one
    row per non-overlapping 100-char window. Column pruning drops
    off/chunk for consumers that only need fingerprints."""
    return _chunk_rows(d, _DDC_SIZE).select(
        "doc_id",
        "off",
        F.substring(F.col("text"), F.col("off"), _DDC_SIZE).alias("chunk"),
        F.md5(F.substring(F.col("text"), F.col("off"), _DDC_SIZE)).alias("fp"),
    )


@query(
    "chunk_dedup_ratio",
    oracle=f"""
    WITH {_DDC_CHUNKS_CTE}, freq AS (
        SELECT fp, count(*) AS n_occ FROM chunks GROUP BY fp
    )
    SELECT c.doc_id,
           count(*)                                              AS n_chunks,
           CAST(sum(CASE WHEN f.n_occ >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
           floor(sum(CASE WHEN f.n_occ >= 2 THEN 1 ELSE 0 END) * 1.0 / count(*)
                 * 10000 + 0.5) / 10000                          AS dup_ratio
    FROM chunks c JOIN freq f ON c.fp = f.fp
    GROUP BY c.doc_id
    """,
    section="2.11 partial-duplicate detection (chunk-level dedup rate)",
)
def chunk_dedup_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-duplicate detection: split every document into
    non-overlapping 100-char chunks, fingerprint each (md5), and
    report per-document how many of its chunks occur 2+ times
    anywhere in the corpus — the span-level dedup signal that
    document-level exact/minhash dedup misses (boilerplate headers,
    quoted passages, mirrored sections). Chunking is the same narrow
    sequence+explode pass as `doc_chunks`; the frequency table is one
    fp-keyed agg; crediting back is an equi-join on fp (agg-sized
    build side, never all-pairs). All three steps are keyed shuffles
    that scale linearly; at 100 TB this is exactly the suffix-chunk
    dedup pass in large-corpus pipelines."""
    d = load_table(spark, sf_dir, "documents")
    chunks = _ddc_chunks(d).select("doc_id", "fp")
    freq = chunks.groupBy("fp").agg(F.count(F.lit(1)).alias("n_occ"))

    dup = (F.col("n_occ") >= 2).cast("int")
    return (
        chunks.join(freq, "fp")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(dup).cast("bigint").alias("n_dup"),
            round_half_up(F.sum(dup) * F.lit(1.0) / F.count(F.lit(1)), 4).alias("dup_ratio"),
        )
    )


@query(
    "chunk_dedup_scrub",
    oracle=f"""
    WITH {_DDC_CHUNKS_CTE}, k AS (
        SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id, o) AS rn
        FROM chunks
    )
    SELECT doc_id,
           count(*) AS n_chunks,
           CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
           CAST(length(COALESCE(
               string_agg(CASE WHEN rn = 1 THEN chunk END, '' ORDER BY o), ''))
               AS BIGINT) AS scrubbed_len,
           md5(COALESCE(
               string_agg(CASE WHEN rn = 1 THEN chunk END, '' ORDER BY o), ''))
               AS scrubbed_md5
    FROM k GROUP BY doc_id
    """,
    section="2.11 span-level dedup SCRUB (drop repeated chunks, reassemble docs)",
)
def chunk_dedup_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TRANSFORM companion to `chunk_dedup_ratio`'s diagnostic:
    actually remove every repeated span and emit the cleaned corpus —
    the line-dedup scrub of CCNet/RefinedWeb-style web pipelines.
    First occurrence corpus-wide wins, deterministically ordered by
    (doc_id, offset); every later occurrence of the same 100-char
    fingerprint is dropped, and each document's surviving chunks are
    reassembled in offset order. The result carries the scrubbed
    text's md5 + length rather than the text itself, so the oracle
    proves EXACT reassembly (same bytes, same order) with a compact
    result. Two keyed shuffles: the fp window (first-wins needs the
    occurrence list per fingerprint) and the doc-keyed reassembly —
    the latter carries each surviving chunk exactly once, which is
    the scrub's inherent floor: the output IS the corpus. All
    expressions JVM-side (window, array_sort on (off,chunk) structs,
    transform + array_join); collect_list drops the when()'s NULLs,
    so dropped chunks never travel to the reassembly."""
    chunks = _ddc_chunks(load_table(spark, sf_dir, "documents"))
    from pyspark.sql.window import Window

    rn = F.row_number().over(
        Window.partitionBy("fp").orderBy("doc_id", "off")
    )
    flagged = chunks.withColumn("kept", rn == 1)
    joined = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(F.when(F.col("kept"), F.struct("off", "chunk")))
            ),
            lambda x: x["chunk"],
        ),
        "",
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.count_if(~F.col("kept")).alias("n_dropped"),
        F.length(joined).cast("bigint").alias("scrubbed_len"),
        F.md5(joined).alias("scrubbed_md5"),
    )


_SEQ_LEN = 512  # token budget per packed training sequence


@query(
    "sequence_pack",
    oracle=f"""
    WITH d AS (
        SELECT source, doc_id,
               len(string_split(text, ' ')) AS n_tokens
        FROM documents
        WHERE len(string_split(text, ' ')) > 0
    ), pos AS (
        SELECT source, doc_id, n_tokens,
               CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS start_tok
        FROM d
    ), spans AS (
        SELECT source, doc_id, n_tokens, start_tok,
               unnest(generate_series(start_tok // {_SEQ_LEN},
                                      (start_tok + n_tokens - 1) // {_SEQ_LEN}))
                   AS seq_no
        FROM pos
    )
    SELECT source, CAST(seq_no AS BIGINT) AS seq_no,
           count(*) AS n_docs,
           CAST(sum(least(start_tok + n_tokens, (seq_no + 1) * {_SEQ_LEN})
                    - greatest(start_tok, seq_no * {_SEQ_LEN})) AS BIGINT)
               AS fill_tokens
    FROM spans
    GROUP BY source, seq_no
    """,
    section="2.11 sequence packing (concat-and-chunk into fixed token budgets)",
)
def sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pretraining packer `shard_pack` is not: documents CONCATENATE
    into a per-source token stream and CHUNK into fixed B=512-token
    training sequences, documents spanning sequence boundaries (the
    concat-and-chunk regime most LLM pretraining uses; shard packing
    bin-packs whole documents into files and never splits). All math
    is integer and closed-form from each document's token interval
    [start, start+n): the sequences a document touches are
    floor(start/B)..floor((end-1)/B) — an explode of that bounded
    range — and its contribution to a sequence is the interval
    overlap, so there is no sequential packer state at all, unlike
    the clamp recurrence in running_balance. Per (source, seq_no):
    documents touching and fill (== B except each source's last
    sequence — padding/waste diagnostic). Scale shape: the window and
    the aggregate both key on source — each source packs
    independently, the same per-writer parallelism as
    shard_pack_partitioned; doc_id order makes packing deterministic
    under any partitioning."""
    from ..operators import textops
    from ..operators.quality import pack_sequences

    d = load_table(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        # shared tokenizer (operators/dedup.tokens) — not an inline
        # re-split that could drift from the file's other token counts
        F.size(textops.tokens("text")).cast("bigint").alias("n_tokens"),
    )
    return pack_sequences(d, "source", "doc_id", "n_tokens", budget=_SEQ_LEN)


# --- DSIR-style data selection (Xie et al. 2023) ----------------------
# Hashed-bigram importance resampling: score every out-of-domain
# document by how much its hashed n-gram feature distribution looks
# like the target domain. The feature space is the repo's ONE
# hashing-trick bucket (textops.hash_bucket) at 64 dims; both bigram
# unigram-style distributions are Laplace-smoothed so absent buckets
# never divide by zero.
_DSIR_DIM = 64
_DSIR_TARGET = "src0"  # the "domain" to select for (uniform sources -> any works)

# word-level adjacent pairs from the raw text: the repo-wide shared
# pair idiom (textops.adjacent_pairs_expr — the BPE merge rounds use
# the same generator one level down, on symbols)
_DSIR_BIGRAMS_EXPR = adjacent_pairs_expr("text")


@query(
    "dsir_selection",
    oracle=f"""
    WITH bg AS (
        SELECT doc_id, source,
               {hash_bucket_sql('g', _DSIR_DIM)} AS bucket
        FROM (
            SELECT doc_id, source,
                   unnest({adjacent_pairs_sql('text')}) AS g
            FROM documents
        )
    ), doc_bucket AS (
        SELECT doc_id, source, bucket, count(*) AS cnt
        FROM bg GROUP BY doc_id, source, bucket
    ), tgt AS (
        SELECT bucket, CAST(sum(cnt) AS BIGINT) AS tc FROM doc_bucket
        WHERE source = '{_DSIR_TARGET}' GROUP BY bucket
    ), raw AS (
        SELECT bucket, CAST(sum(cnt) AS BIGINT) AS rc
        FROM doc_bucket GROUP BY bucket
    ), tot AS (
        SELECT CAST(sum(CASE WHEN source = '{_DSIR_TARGET}' THEN cnt ELSE 0 END)
                    AS BIGINT) AS nt,
               CAST(sum(cnt) AS BIGINT) AS nr
        FROM doc_bucket
    ), lr AS (
        SELECT r.bucket,
               ln(CAST(COALESCE(t.tc, 0) + 1 AS DOUBLE) / (tot.nt + {_DSIR_DIM}))
             - ln(CAST(r.rc + 1 AS DOUBLE) / (tot.nr + {_DSIR_DIM})) AS lw
        FROM raw r LEFT JOIN tgt t ON r.bucket = t.bucket CROSS JOIN tot
    ), per_doc AS (
        SELECT b.doc_id, b.source, sum(cnt * lw) AS w
        FROM doc_bucket b
        JOIN lr ON b.bucket = lr.bucket
        GROUP BY b.doc_id, b.source
    )
    SELECT doc_id, source,
           sign(w) * floor(abs(w) * 10000 + 0.5) / 10000 AS dsir_weight
    FROM per_doc
    WHERE source <> '{_DSIR_TARGET}'
    ORDER BY floor(w * 1e9 + 0.5) / 1e9 DESC, doc_id
    LIMIT 10
    """,
    section="2.11 DSIR data selection: hashed-bigram importance weights",
)
def dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection with Importance Resampling, the hashed-n-gram
    variant (Xie et al. 2023): estimate Laplace-smoothed hashed-bigram
    distributions for the TARGET domain (source = src0) and the RAW
    pool, give every document the importance weight
    sum over its bigrams of ln(p_target(bucket) / p_raw(bucket)),
    and return the 10 highest-weighted out-of-domain documents — the
    ones importance resampling would pull into a src0-flavored
    training mix. This is document-level selection; `mix_weights` /
    `mix_apply` are its source-level coarse cousins.

    100 TB posture: one tokenize-and-hash pass (zip_with word pairs —
    never F.sequence, which raises on single-word docs where DuckDB's
    generate_series is empty), one (doc, bucket) count shuffle keyed
    like the final per-doc sum, and two bucket histograms that are
    64-row broadcasts; the arg-top-10 is a TakeOrdered heap.
    Determinism: bucket counts are exact integers; the two ln() terms
    per bucket are computed on identical doubles in both engines; the
    per-doc sum spans <= 64 such terms, so the floor-form 9dp rank key
    absorbs the accumulation-order ulps and the rendered weight is
    rounded half-up at 4dp like the repo's other ln-based scores
    (bm25, perplexities).
    """
    from ..operators.textops import hash_bucket

    d = load_table(spark, sf_dir, "documents")
    bg = d.select(
        "doc_id",
        "source",
        F.explode(F.expr(_DSIR_BIGRAMS_EXPR)).alias("g"),
    ).select("doc_id", "source", hash_bucket("g", _DSIR_DIM).alias("bucket"))
    # ONE tokenize-and-hash pass: every downstream distribution is a
    # re-aggregation of this per-(doc, bucket) count frame (the
    # histograms sum cnt instead of re-counting the token stream).
    # localCheckpoint is what makes that true — Catalyst pushes tgt's
    # source filter below the shared aggregate, so the four consumers
    # plan four DIFFERENT exchanges and ReuseExchange never fires
    # (measured: 4 parquet scans without the checkpoint, 1 with). The
    # pinned frame is narrow and bucket-bounded (≤ 64 rows per doc vs
    # the full bigram stream), the bpe_merges vocab precedent.
    doc_bucket = materialize(
        bg.groupBy("doc_id", "source", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt")),
        SMALL,
    )
    tgt = (
        doc_bucket.filter(F.col("source") == _DSIR_TARGET)
        .groupBy("bucket")
        .agg(F.sum("cnt").alias("tc"))
    )
    raw = doc_bucket.groupBy("bucket").agg(F.sum("cnt").alias("rc"))
    tot = doc_bucket.agg(
        F.sum(F.when(F.col("source") == _DSIR_TARGET, F.col("cnt")).otherwise(0)).alias(
            "nt"
        ),
        F.sum("cnt").alias("nr"),
    )
    lr = (
        raw.join(tgt, "bucket", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            (
                F.log(
                    (F.coalesce(F.col("tc"), F.lit(0)) + 1).cast("double")
                    / (F.col("nt") + _DSIR_DIM)
                )
                - F.log((F.col("rc") + 1).cast("double") / (F.col("nr") + _DSIR_DIM))
            ).alias("lw"),
        )
    )
    per_doc = (
        doc_bucket.join(F.broadcast(lr), "bucket")
        .groupBy("doc_id", "source")
        .agg(F.sum(F.col("cnt") * F.col("lw")).alias("w"))
    )
    return (
        per_doc.filter(F.col("source") != _DSIR_TARGET)
        .orderBy((F.floor(F.col("w") * 1e9 + 0.5) / 1e9).desc(), "doc_id")
        .limit(10)
        .select(
            "doc_id",
            "source",
            # SIGN-AWARE half-up: log-ratio weights go negative, where
            # plain floor-form rounds midpoints toward +inf
            signed_round_half_up("w", 4).alias("dsir_weight"),
        )
    )


@query(
    "mix_temperature",
    oracle="""
    WITH lt AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS n_tokens
        FROM (SELECT lang, unnest(string_split(text, ' ')) AS w
              FROM documents)
        WHERE w <> ''
        GROUP BY lang
    ), tot0 AS (
        SELECT CAST(sum(n_tokens) AS BIGINT) AS n FROM lt
    ), tot AS (
        SELECT t.n, sum(power(lt.n_tokens * 1.0 / t.n, 0.7)) AS z
        FROM lt CROSS JOIN tot0 t GROUP BY t.n
    )
    SELECT lt.lang,
           lt.n_tokens,
           floor(lt.n_tokens * 1.0 / tot.n * 10000 + 0.5) / 10000 AS p_raw,
           floor(power(lt.n_tokens * 1.0 / tot.n, 0.7) / tot.z * 10000 + 0.5)
               / 10000 AS p_tau,
           floor(power(lt.n_tokens * 1.0 / tot.n, 0.7) / tot.z
                 / (lt.n_tokens * 1.0 / tot.n) * 10000 + 0.5) / 10000
               AS upsample
    FROM lt CROSS JOIN tot
    ORDER BY lt.lang
    """,
    section="2.11 temperature-scaled multilingual sampling weights (alpha=0.7)",
)
def mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multilingual sampling formula (Conneau et al., XLM-R,
    public): q_i = p_i^alpha / sum_j p_j^alpha at alpha = 0.7 — the
    standard rebalancing that upsamples low-resource languages
    without flattening the mix entirely. Per language: raw token
    share, temperature-scaled sampling probability, and the implied
    upsample factor q_i/p_i a data loader would apply.
    `mix_weights`/`mix_apply` are the per-source mechanics; this is
    the per-LANGUAGE policy knob upstream of them.

    Plan: one token-count agg (map-side combined), a 1-row broadcast
    for the total and the normalizer, pure arithmetic after.
    Determinism: the shares are exact-integer ratios; pow(x, 0.7) is
    the one transcendental — Java and C libm can differ by an ulp, so
    every pow-derived column renders at 4dp where ulp noise is nine
    orders below the grain (the bm25/ln convention). The normalizer
    z sums 5 pow terms in engine order; same 4dp argument.
    """
    from ..operators import textops

    d = load_table(spark, sf_dir, "documents")
    lt = (
        d.select("lang", F.explode(textops.tokens("text")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_tokens"))
    )
    tot0 = lt.agg(F.sum("n_tokens").alias("n"))
    tot = (
        lt.crossJoin(F.broadcast(tot0))
        .groupBy("n")
        .agg(F.sum(F.pow(F.col("n_tokens") * 1.0 / F.col("n"), 0.7)).alias("z"))
    )
    p_raw = F.col("n_tokens") * 1.0 / F.col("n")
    p_tau = F.pow(p_raw, 0.7) / F.col("z")
    return (
        lt.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "n_tokens",
            round_half_up(p_raw, 4).alias("p_raw"),
            round_half_up(p_tau, 4).alias("p_tau"),
            round_half_up(p_tau / p_raw, 4).alias("upsample"),
        )
        .orderBy("lang")
    )


@query(
    "stable_row_ids",
    oracle="""
    SELECT doc_id,
           CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS rid
    FROM documents
    """,
    section="2.11 scalable contiguous row-id assignment (two-pass, no global window)",
)
def stable_row_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign dense contiguous ids 0..n-1 in key order WITHOUT the two
    non-answers Spark hands you: `monotonically_increasing_id` (sparse,
    partition-layout-dependent — different every run) and
    `row_number() OVER (ORDER BY ...)` with no partition key (correct
    but moves the ENTIRE dataset through one task — the WindowExec
    single-partition warning, a guaranteed 100 TB stall). This is the
    shard-index/sample-number primitive every training pipeline needs
    (examples must carry stable ids across re-runs for resumable
    epochs and eval-set pinning).

    The scalable two-pass shape: (1) range-repartition + sort WITHIN
    partitions by the key — Spark's own global-sort machinery, so
    partition p's keys all precede partition p+1's; (2) per-partition
    local ranks from a window PARTITIONED by spark_partition_id (runs
    parallel, no global collapse) and per-partition row counts rolled
    into prefix-sum offsets — a frame bounded by the PARTITION COUNT,
    not the data (its single-partition window is over ~hundreds of
    rows by construction); (3) rid = partition offset + local rank,
    via one broadcast join. Output is a pure function of the key
    order — range boundaries (sampled, run-varying) shift work
    between partitions but never change offset+rank — which is what
    lets a global-sort-derived id be differential-tested at all.
    """
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    nparts = max(2, d.sparkSession.sparkContext.defaultParallelism)
    parted = (
        d.repartitionByRange(nparts, "doc_id")
        .sortWithinPartitions("doc_id")
        .withColumn("pid", F.spark_partition_id())
    )
    wlocal = Window.partitionBy("pid").orderBy("doc_id")
    # localCheckpoint: the counts/offsets branch and the final join
    # both read this frame, and range boundaries come from SAMPLING —
    # correctness must not hinge on Spark's exchange-reuse optimization
    # keeping the two subtrees on ONE sampled partitioning (with reuse
    # disabled, independently re-sampled boundaries would make offsets
    # describe different partitions than the ranks came from). The pin
    # makes both consumers read the same materialized partitioning.
    local = materialize(
        parted.withColumn("lrank", F.row_number().over(wlocal)), CONSIST
    )
    counts = local.groupBy("pid").agg(F.count(F.lit(1)).alias("n"))
    woff = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.withColumn(
        "off", F.coalesce(F.sum("n").over(woff), F.lit(0))
    ).select("pid", "off")
    return local.join(F.broadcast(offsets), "pid").select(
        "doc_id", (F.col("off") + F.col("lrank") - 1).cast("bigint").alias("rid")
    )


@query(
    "group_split",
    oracle=f"""
    WITH ukey AS (
        SELECT DISTINCT user_id FROM events
    ), assigned AS (
        SELECT user_id,
               {_split_case_sql("user_id")} AS split
        FROM ukey
    ), ev AS (
        SELECT a.split, e.user_id, e.event_id
        FROM events e JOIN assigned a ON a.user_id = e.user_id
    ), leak AS (
        SELECT count(*) AS n FROM (
            SELECT user_id FROM ev GROUP BY user_id
            HAVING count(DISTINCT split) > 1
        )
    )
    SELECT split,
           count(DISTINCT user_id)          AS n_users,
           count(*)                         AS n_events,
           (SELECT CAST(n AS BIGINT) FROM leak) AS n_leaked_users
    FROM ev GROUP BY split
    """,
    section="2.11 group-level train/val/test split (leakage-safe by entity)",
)
def group_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe splitting: assign the GROUP (here the user — the
    entity whose behavior correlates across its own rows), not the
    row. A row-hash split (`dataset_split`) puts half a user's
    sessions in train and half in test, leaking user-level signal
    into evaluation — the classic sklearn GroupShuffleSplit concern
    at corpus scale. Same md5-first-byte ~80/10/10 thresholds as the
    row split (one convention for every split decision); assignment
    hashes the DISTINCT group keys (group-count-sized, shuffled once)
    and rows inherit via one keyed join. `n_leaked_users` — groups
    seen in more than one split — is the property this operator
    exists to guarantee and is provably 0 in both engines (the
    assignment is a function of the key)."""
    e = load_table(spark, sf_dir, "events")
    assigned = (
        e.select("user_id")
        .distinct()
        .select("user_id", _split_col("user_id").alias("split"))
    )
    ev = e.select("user_id", "event_id").join(assigned, "user_id")
    leak = (
        ev.groupBy("user_id")
        .agg(F.countDistinct("split").alias("ns"))
        .filter(F.col("ns") > 1)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_leaked_users"))
    )
    return (
        ev.groupBy("split")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .crossJoin(F.broadcast(leak))
        .select("split", "n_users", "n_events", "n_leaked_users")
    )


@query(
    "html_text_extract",
    oracle="""
    WITH page AS (
        SELECT doc_id, source, text,
               '<html><head><title>Doc ' || doc_id || ' &amp; friends</title>'
               || '<script type="text/javascript">var x = 1 < 2;</script>'
               || '<style>.nav { color: red }</style></head>'
               || '<body><!-- boilerplate <b>below</b> -->'
               || CASE WHEN doc_id % 2 = 0
                       THEN '<nav class="top">Home | About | '
                            || '<a href="/x">Links</a></nav>'
                       ELSE '<nav>Home | About | '
                            || '<a href="/x">Links</a></nav>' END
               || '<h1>Doc ' || doc_id || '</h1><p>'
               || text
               || '</p>'
               || CASE WHEN doc_id % 2 = 0
                       THEN '<footer id="f">&copy; example.com</footer>'
                       ELSE '<footer>&copy; example.com</footer>' END
               || '</body></html>' AS html
        FROM documents
    ), ex AS (
        SELECT doc_id, source, text,
               trim(regexp_replace(
                   regexp_replace(
                       regexp_replace(
                           regexp_replace(
                               regexp_replace(
                                   regexp_replace(
                                       regexp_replace(
                                           regexp_replace(html,
                                               '(?s)<!--.*?-->', ' ', 'g'),
                                           '(?s)<script[^>]*>.*?</script>',
                                           ' ', 'g'),
                                       '(?s)<style[^>]*>.*?</style>',
                                       ' ', 'g'),
                                   '(?s)<nav[^>]*>.*?</nav>', ' ', 'g'),
                               '(?s)<footer[^>]*>.*?</footer>', ' ', 'g'),
                           '<[^>]*>', ' ', 'g'),
                       '&amp;', '&', 'g'),
                   '[ ]+', ' ', 'g')) AS extracted
        FROM page
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(length(extracted)) AS BIGINT) AS extracted_chars,
           CAST(sum(CASE WHEN extracted =
                    'Doc ' || doc_id || ' & friends Doc ' || doc_id || ' '
                    || trim(text) THEN 1 ELSE 0 END) AS BIGINT) AS n_roundtrip_ok
    FROM ex
    GROUP BY source
    """,
    section="2.11 HTML text extraction (boilerplate strip, the Common Crawl step)",
)
def html_text_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl-to-corpus extraction step: strip script/style blocks,
    drop nav/footer boilerplate elements, flatten the remaining tags,
    decode entities, and collapse whitespace — the trafilatura-shaped
    pipeline as a pure JVM regex chain (one scan, whole-stage codegen,
    no Python — the pii_redact posture). The fixture documents are
    plain text, so each doc is first wrapped in a deterministic HTML
    page (title, script, style, nav, h1, footer — the multimodal
    decoders' synthesize-then-decode convention), and the report
    counts per source how many documents round-trip EXACTLY back to
    their known content (title + h1 + body) — a self-certifying
    extraction the differential grades on both engines' regex
    dialects (non-greedy dotall via inline (?s) — and NO
    backreferences: RE2 has none, so element patterns are spelled
    per tag — entity decode, whitespace collapse). Boilerplate
    patterns are attribute-tolerant (`<nav[^>]*>`, `<footer[^>]*>`,
    `<script[^>]*>`, `<style[^>]*>`) and HTML comments are stripped
    first; the synthesized pages alternate attribute-bearing and bare
    forms by doc_id parity so both shapes are graded.

    At 100 TB this is the map stage after the WARC source
    (`warc_pipeline` feeds it): narrow, shuffle-free until the
    per-source rollup's map-side-combined agg."""
    d = load_table(spark, sf_dir, "documents")
    even = F.col("doc_id") % 2 == 0
    html = F.concat(
        F.lit("<html><head><title>Doc "),
        F.col("doc_id").cast("string"),
        F.lit(" &amp; friends</title>"),
        F.lit('<script type="text/javascript">var x = 1 < 2;</script>'),
        F.lit("<style>.nav { color: red }</style></head>"),
        F.lit("<body><!-- boilerplate <b>below</b> -->"),
        F.when(
            even,
            F.lit('<nav class="top">Home | About | <a href="/x">Links</a></nav>'),
        ).otherwise(
            F.lit('<nav>Home | About | <a href="/x">Links</a></nav>')
        ),
        F.lit("<h1>Doc "),
        F.col("doc_id").cast("string"),
        F.lit("</h1><p>"),
        F.col("text"),
        F.lit("</p>"),
        F.when(
            even, F.lit('<footer id="f">&copy; example.com</footer>')
        ).otherwise(F.lit("<footer>&copy; example.com</footer>")),
        F.lit("</body></html>"),
    )
    ex = html
    for pat, repl in (
        (r"(?s)<!--.*?-->", " "),
        (r"(?s)<script[^>]*>.*?</script>", " "),
        (r"(?s)<style[^>]*>.*?</style>", " "),
        (r"(?s)<nav[^>]*>.*?</nav>", " "),
        (r"(?s)<footer[^>]*>.*?</footer>", " "),
        (r"<[^>]*>", " "),
        (r"&amp;", "&"),
        (r"[ ]+", " "),
    ):
        ex = F.regexp_replace(ex, pat, repl)
    ex = F.trim(ex)
    expected = F.concat(
        F.lit("Doc "), F.col("doc_id").cast("string"), F.lit(" & friends Doc "),
        F.col("doc_id").cast("string"), F.lit(" "), F.trim(F.col("text")),
    )
    return (
        d.select(
            "source",
            F.length(ex).alias("n_chars"),
            (ex == expected).cast("int").alias("ok"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("extracted_chars"),
            F.sum("ok").cast("bigint").alias("n_roundtrip_ok"),
        )
    )


_BUDGET_TOKENS = 2_000_000  # planning target (the per-run token budget)
_BUDGET_ALPHA_SQRT = True  # temperature = 0.5 (sqrt rebalancing)


@query(
    "token_budget_plan",
    oracle=f"""
    WITH per_src AS (
        SELECT source,
               CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY source
    ), wts AS (
        SELECT source, n_tokens,
               floor(sqrt(n_tokens) * 1e6 + 0.5) / 1e6 AS w_raw
        FROM per_src
    ), tot AS (
        SELECT floor(sum(w_raw) * 1e6 + 0.5) / 1e6 AS w_tot FROM wts
    )
    SELECT w.source, w.n_tokens,
           floor(w.w_raw / t.w_tot * 1e6 + 0.5) / 1e6 AS weight,
           CAST(floor(w.w_raw / t.w_tot * {_BUDGET_TOKENS} + 0.5) AS BIGINT)
               AS target_tokens,
           floor(floor(w.w_raw / t.w_tot * {_BUDGET_TOKENS} + 0.5)
                 / w.n_tokens * 10000 + 0.5) / 10000 AS epochs,
           CAST(ceil(floor(w.w_raw / t.w_tot * {_BUDGET_TOKENS} + 0.5)
                     / w.n_tokens) AS BIGINT) AS repeat_factor
    FROM wts w CROSS JOIN tot t
    """,
    section="2.11 token-budget planner (per-source epochs under a temperature mix)",
)
def token_budget_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The planning table a data loader is configured FROM: given a
    run's token budget (2M here) and a sqrt-temperature source mix
    (α=0.5 — the mix_temperature family's rebalancing, applied to
    sources), the per-source target token count, implied epochs over
    the available data, and the integer repeat factor (epochs
    rounded up — how many times the loader must cycle a small source
    to fill its share). Low-resource sources land repeat_factor > 1
    (the 'epochs over small high-quality sets' decision every
    training run makes); large sources get < 1 epoch.

    Numeric discipline: token counts are exact integers; √n is
    6dp-pinned per source AND the normalizer sum is 6dp-pinned
    before the one division (a raw float sum's order-noise could
    flip the floor at a target-token boundary); every downstream
    column derives from those two pinned doubles by identical
    IEEE ops. Plan: one map-side-combined token agg (dim-sized
    output), a 1-row broadcast total, pure arithmetic after —
    the mix_weights shape."""
    d = load_table(spark, sf_dir, "documents")
    per_src = d.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("n_tokens")
    )
    wts = per_src.select(
        "source", "n_tokens",
        round_half_up(F.sqrt(F.col("n_tokens")), 6).alias("w_raw"),
    )
    tot = wts.agg(round_half_up(F.sum("w_raw"), 6).alias("w_tot"))
    tgt = F.floor(
        F.col("w_raw") / F.col("w_tot") * _BUDGET_TOKENS + 0.5
    )
    return wts.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_tokens",
        round_half_up(F.col("w_raw") / F.col("w_tot"), 6).alias("weight"),
        tgt.cast("bigint").alias("target_tokens"),
        round_half_up(tgt / F.col("n_tokens"), 4).alias("epochs"),
        F.ceil(tgt / F.col("n_tokens")).cast("bigint").alias("repeat_factor"),
    )


_PACK_LENS = (64, 128, 256, 512)


@query(
    "pack_len_sweep",
    oracle=f"""
    WITH docs AS (
        SELECT len(string_split(text, ' ')) AS t FROM documents
    ), lens AS (
        SELECT unnest(CAST([{", ".join(str(l) for l in _PACK_LENS)}]
                      AS INT[])) AS max_len
    )
    SELECT l.max_len,
           CAST(count(*) AS BIGINT)      AS n_docs,
           CAST(sum(d.t) AS BIGINT)      AS total_tokens,
           CAST(sum(ceil(d.t::DOUBLE / l.max_len)) AS BIGINT) AS n_seqs_boundary,
           CAST(sum(ceil(d.t::DOUBLE / l.max_len) * l.max_len - d.t) AS BIGINT)
               AS pad_tokens,
           floor(sum(ceil(d.t::DOUBLE / l.max_len) * l.max_len - d.t)::DOUBLE
                 / sum(ceil(d.t::DOUBLE / l.max_len) * l.max_len)
                 * 10000 + 0.5) / 10000 AS pad_ratio,
           CAST(ceil(sum(d.t)::DOUBLE / l.max_len) AS BIGINT) AS n_seqs_concat
    FROM docs d CROSS JOIN lens l
    GROUP BY l.max_len
    """,
    section="2.11 packing-efficiency sweep (padding waste vs context length)",
)
def pack_len_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHAT context length to pack at: for each max_len in the sweep,
    the cost of document-boundary packing (each doc chunked to its
    own ⌈t/L⌉ sequences — `doc_chunks`' layout) as padded-token waste
    vs the concat-packing floor (`sequence_pack`'s layout, whose only
    waste is the final partial sequence). pad_ratio is the share of
    the padded grid spent on padding — the number that decides
    whether cross-document attention masking is worth implementing
    at a given context length.

    All columns are exact integer arithmetic on token counts (ceil
    of an exact small-integer ratio is engine-stable; the dim-sized
    4-row fan-out is a broadcast explode) except the one 4dp-pinned
    ratio. One corpus scan, map-side combined."""
    d = load_table(spark, sf_dir, "documents")
    docs = d.select(F.size(F.split("text", " ")).alias("t"))
    lens = F.explode(
        F.array(*[F.lit(l).cast("int") for l in _PACK_LENS])
    ).alias("max_len")
    seqs = F.ceil(F.col("t").cast("double") / F.col("max_len"))
    return (
        docs.select("t", lens)
        .groupBy("max_len")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("t").cast("bigint").alias("total_tokens"),
            F.sum(seqs).cast("bigint").alias("n_seqs_boundary"),
            F.sum(seqs * F.col("max_len") - F.col("t"))
            .cast("bigint")
            .alias("pad_tokens"),
            round_half_up(
                F.sum(seqs * F.col("max_len") - F.col("t")).cast("double")
                / F.sum(seqs * F.col("max_len")),
                4,
            ).alias("pad_ratio"),
            F.ceil(F.sum("t").cast("double") / F.first("max_len"))
            .cast("bigint")
            .alias("n_seqs_concat"),
        )
    )


@query(
    "split_balance_audit",
    oracle=f"""
    WITH tagged AS (
        SELECT lang, {_SPLIT_CASE_SQL} AS split FROM documents
    ), cells AS (
        SELECT split, lang, count(*) AS n FROM tagged GROUP BY split, lang
    ), ms AS (
        SELECT split, sum(n) AS ns FROM cells GROUP BY split
    ), ml AS (
        SELECT lang, sum(n) AS nl FROM cells GROUP BY lang
    ), tot AS (SELECT sum(n) AS nt FROM cells)
    SELECT c.split, c.lang,
           CAST(c.n AS BIGINT) AS n_docs,
           floor(ms.ns * ml.nl / CAST(t.nt AS DOUBLE) * 10000 + 0.5) / 10000
               AS expected,
           floor((c.n - ms.ns * ml.nl / CAST(t.nt AS DOUBLE))
                 * (c.n - ms.ns * ml.nl / CAST(t.nt AS DOUBLE))
                 / (ms.ns * ml.nl / CAST(t.nt AS DOUBLE)) * 10000 + 0.5)
               / 10000 AS chi2_term
    FROM cells c
    JOIN ms ON ms.split = c.split
    JOIN ml ON ml.lang = c.lang
    CROSS JOIN tot t
    """,
    section="2.11 split balance audit (label distribution across train/val/test)",
)
def split_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does the hash split preserve the label distribution? For every
    (split, lang) cell: observed count, the independence-expected
    count ns·nl/N, and the chi-squared contribution — the audit a
    team runs before trusting that a val-set metric generalizes
    (a content-correlated split key skews exactly this table).
    Splits are THE shared md5-prefix rule (_SPLIT_CASE_SQL /
    _split_col — dataset_split's definition, not a re-type), so this
    audits the actual production assignment.

    Numerics: expected = exact-integer product over an exact-integer
    total, one IEEE division identical in both engines; the chi2 term
    is fixed-order arithmetic on that value, 4dp-pinned. Plan: one
    scan into a ≤|splits|·|langs| cell frame; every join after is
    dim-sized."""
    d = load_table(spark, sf_dir, "documents")
    cells = (
        d.select("lang", _split_col("doc_id").alias("split"))
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    ms = cells.groupBy("split").agg(F.sum("n").alias("ns"))
    ml = cells.groupBy("lang").agg(F.sum("n").alias("nl"))
    tot = cells.agg(F.sum("n").alias("nt"))
    exp_ = F.col("ns") * F.col("nl") / F.col("nt").cast("double")
    return (
        cells.join(ms, "split")
        .join(ml, "lang")
        .crossJoin(F.broadcast(tot))
        .select(
            "split", "lang",
            F.col("n").cast("bigint").alias("n_docs"),
            round_half_up(exp_, 4).alias("expected"),
            round_half_up(
                (F.col("n") - exp_) * (F.col("n") - exp_) / exp_, 4
            ).alias("chi2_term"),
        )
    )


_WS_K = 50  # weighted-sample size


@query(
    "weighted_sample_aes",
    oracle=f"""
    WITH ws AS (
        SELECT doc_id, n_chars,
               ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                        AS BIGINT) + 1) / 4294967297.0) / n_chars AS lnk
        FROM documents WHERE n_chars > 0
    ), sel AS (
        SELECT doc_id, n_chars, lnk FROM ws
        ORDER BY lnk DESC, doc_id LIMIT {_WS_K}
    )
    SELECT CAST(row_number() OVER (ORDER BY lnk DESC, doc_id) AS BIGINT)
               AS rank,
           doc_id,
           CAST(n_chars AS BIGINT) AS weight,
           sign(lnk) * floor(abs(lnk) * 1000000 + 0.5) / 1000000 + 0.0
               AS log_key
    FROM sel
    """,
    section="2.11 weighted sampling without replacement (Efraimidis-Spirakis, deterministic keys)",
)
def weighted_sample_aes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted random sampling WITHOUT replacement by the one-pass
    A-ES key method (Efraimidis & Spirakis 2006, public): each item
    draws u in (0,1] and keeps key u^(1/w); the k largest keys are a
    weighted sample — the distributed answer to "sample documents
    proportionally to length/quality" that naive per-row Bernoulli
    cannot give at a fixed k. Determinism: u comes from the md5-prefix
    hash of doc_id ((h+1)/2^32+1 in (0,1]), so the draw is
    reproducible across engines and epochs (the corpus_shuffle
    convention); ranking uses ln(u)/w — monotone in the key, no
    exponentiation — with doc_id tie-break. Scale: one scan + TakeOrdered
    top-k (combiner-style, never a global sort); the rank window runs
    on the k-row result."""
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    lnk = F.log((h + 1) / F.lit(4294967297.0)) / F.col("n_chars")
    sel = (
        d.select("doc_id", "n_chars", lnk.alias("lnk"))
        .orderBy(F.col("lnk").desc(), "doc_id")
        .limit(_WS_K)
    )
    return sel.select(
        F.row_number()
        .over(Window.orderBy(F.col("lnk").desc(), "doc_id"))
        .cast("bigint")
        .alias("rank"),
        "doc_id",
        F.col("n_chars").cast("bigint").alias("weight"),
        (signed_round_half_up(F.col("lnk"), 6) + F.lit(0.0)).alias("log_key"),
    )


_RS_K = 10  # per-stratum reservoir size


@query(
    "reservoir_sample",
    oracle=f"""
    WITH ws AS (
        SELECT source, doc_id,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                    AS BIGINT) / 4294967296.0 AS u
        FROM documents
    ), rk AS (
        SELECT source, doc_id, u,
               row_number() OVER (PARTITION BY source ORDER BY u, doc_id)
                   AS rank
        FROM ws
    )
    SELECT source, CAST(rank AS BIGINT) AS rank, doc_id,
           floor(u * 1000000 + 0.5) / 1000000 AS u_key
    FROM rk WHERE rank <= {_RS_K}
    """,
    section="2.11 uniform reservoir sample (k smallest md5 draws per stratum)",
)
def reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform fixed-k sampling WITHOUT replacement, per stratum — the
    unweighted complement of `weighted_sample_aes` (r13 verdict next
    #7) and the distributed equivalent of Vitter's reservoir (public,
    Algorithm R): keeping the k items with the SMALLEST u draws is
    exactly a uniform k-subset, and unlike a sequential reservoir it
    needs no scan order, merges across partitions (a per-partition
    top-k then a global top-k of k·P rows — Spark's TakeOrdered/window
    shape), and is REPRODUCIBLE: u is the md5-prefix draw of doc_id
    (the corpus_shuffle/dataset_split convention), so the same corpus
    always yields the same sample, per epoch and per engine. Stratified
    by `source` so every origin keeps representation (the mix_weights
    companion — audit a per-source quota before re-balancing). Scale:
    one scan, one window partitioned BY STRATUM (never a global sort);
    at 100 TB the per-stratum rank runs on each stratum's partitions
    and only k·|strata| rows survive."""
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    u = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
        ).cast("bigint")
        / F.lit(4294967296.0)
    )
    rk = d.select("source", "doc_id", u.alias("u")).withColumn(
        "rank",
        F.row_number().over(Window.partitionBy("source").orderBy("u", "doc_id")),
    )
    return rk.filter(F.col("rank") <= _RS_K).select(
        "source",
        F.col("rank").cast("bigint").alias("rank"),
        "doc_id",
        round_half_up(F.col("u"), 6).alias("u_key"),
    )
