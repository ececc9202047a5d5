"""Structured Streaming variants. SURVEY.md §2.1 / §2.9 (rows-only).

Each query replays the batch `events` parquet through a file-source
stream (`readStream`), applies event-time logic (watermark, windows,
session windows, stateful dedup), drains it into a memory sink with
``processAllAvailable``, and returns the sink table. Semantics match
the batch forms in plans/events.py (the oracle-checked anchors); these
runs prove the same plans execute under the streaming engine.

Scale notes: a file-source stream over a 100 TB directory processes
`maxFilesPerTrigger` files per micro-batch; watermarks bound state.
The memory sink is test-only — production sinks are kafka/parquet.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session_cache import SMALL, materialize, session_cached
from ..sources.tables import SCHEMAS, _pin_conf, convert_events_ts, events_ts_unit, load_table
from .io import _tmp
from .registry import query


@session_cached("events")
def _events_split(spark: SparkSession, sf_dir: str) -> str:
    """Two-part split of events for multi-micro-batch streams, written
    once per (fixture, session): a regeneration or a new session
    re-materializes instead of reusing a stale split."""
    src = _tmp("events_split_" + uuid.uuid4().hex[:12])
    load_table(spark, sf_dir, "events").repartition(2).write.parquet(src)
    return src


def _stream_events(
    spark: SparkSession, sf_dir: str, *, multi_batch: bool = False
) -> DataFrame:
    """File-source stream over the events fixture.

    ``multi_batch=False`` (default): the single events.parquet exposed
    through a symlink dir — ONE micro-batch holding the whole table,
    the right shape for watermark/append queries whose results must
    match their batch anchors exactly (a second micro-batch would let
    the batch-1 watermark drop batch-2 'late' rows, changing counts).
    The symlink swap is ATOMIC (symlink to a temp name + os.replace):
    the old lexists/unlink/symlink dance raced concurrent processes
    sharing the /tmp dir, and both sides of the staleness compare now
    resolve fully so a symlinked sf_dir component doesn't force a
    retarget on every call.

    ``multi_batch=True``: a per-process TWO-FILE split of the same
    rows, streamed with maxFilesPerTrigger=1 — at least two
    micro-batches, so stateful operators genuinely exercise their
    state.exists=True resume arms (with the single-file source those
    branches were dead code and a broken resume path was invisible to
    every anchor). Use for stateful/update-mode and sink-lifecycle
    queries whose results are micro-batch-count independent. The
    split is written ONCE per (fixture, session) via the batch loader
    (which normalizes the ts unit, so no footer branch is needed
    here) into the private per-process root of ``io._tmp`` — no
    cross-process sharing, no races — removed at interpreter exit."""
    import hashlib

    target = os.path.abspath(f"{sf_dir}/events.parquet")
    _pin_conf(spark, "spark.sql.session.timeZone", "UTC")

    if multi_batch:
        return (
            spark.readStream.schema(SCHEMAS["events"])
            .format("parquet")
            .option("maxFilesPerTrigger", 1)
            .load(_events_split(spark, sf_dir))
        )

    key = hashlib.md5(target.encode()).hexdigest()[:12]
    stream_dir = os.path.join(tempfile.gettempdir(), "pydra_stream_src", key)
    os.makedirs(stream_dir, exist_ok=True)
    link = os.path.join(stream_dir, "events.parquet")
    if os.path.realpath(link) != os.path.realpath(target):
        tmp = link + "." + uuid.uuid4().hex[:8]
        os.symlink(target, tmp)
        os.replace(tmp, link)
    # Footer-adaptive, in lockstep with the batch loader: ns footers
    # take the raw-nanos + div-1000 path, µs/ms footers read directly
    # with the public schema (shared probe keeps the two in sync).
    if events_ts_unit(target) == "ns":
        _pin_conf(spark, "spark.sql.legacy.parquet.nanosAsLong", "true")
        raw = (
            spark.readStream.schema(SCHEMAS["_events_raw"])
            .format("parquet")
            .load(stream_dir)
        )
        return convert_events_ts(raw)
    return (
        spark.readStream.schema(SCHEMAS["events"])
        .format("parquet")
        .load(stream_dir)
    )


def _drain(df: DataFrame, mode: str) -> DataFrame:
    """Run a streaming DF to completion into a memory sink, return the
    materialized result as a batch DF. The sink's temp view is DROPPED
    before returning: memory sinks pin their full contents in driver
    memory for the session lifetime, and ~10 streaming queries per
    session would accumulate every sink (including the corpus-sized
    dedup and join ones). The result is snapshotted to executor-side
    blocks first (localCheckpoint — already-eager here, the stream has
    run; no laziness is lost) so the returned DF survives the drop."""
    name = "sink_" + uuid.uuid4().hex[:12]
    spark = df.sparkSession
    q = df.writeStream.format("memory").queryName(name).outputMode(mode).start()
    # the view drop sits in the OUTERMOST finally: a failed drain
    # (transient stream error) must still release the sink, or a
    # retry loop leaks one partially-filled driver-memory sink per
    # failure — the exact pinning _drain exists to prevent
    try:
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination()
        return materialize(spark.table(name), SMALL)
    finally:
        spark.catalog.dropTempView(name)


def _tumbling_count_agg(df: DataFrame) -> DataFrame:
    """THE 1-hour tumbling count plan shared by the streaming form and
    its oracle-backed batch twin (the _static_join_summary twin
    discipline: one definition, two execution engines)."""
    return (
        df.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )


def _session_window_agg(df: DataFrame) -> DataFrame:
    """THE native session_window (30-minute gap) per-user count plan,
    shared by the streaming form and its oracle-backed batch twin."""
    return (
        df.groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("sess_start"),
            F.col("sw.end").alias("sess_end"),
            "n_events",
        )
    )


@query(
    "streaming_tumbling_count",
    oracle=None,  # rows-only: streaming engine run; batch twin = tumbling_count_batch
    section="2.9 streaming tumbling window + watermark (2.1 streaming source/sink)",
)
def streaming_tumbling_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked 1-hour tumbling counts via the streaming engine."""
    agg = _tumbling_count_agg(
        _stream_events(spark, sf_dir).withWatermark("ts", "10 minutes")
    )
    return _drain(agg, "complete")


@query(
    "tumbling_count_batch",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           count(*)               AS n
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    """,
    section="2.9 streaming tumbling window, ORACLE-BACKED batch twin",
)
def tumbling_count_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DuckDB-checkable half of the `streaming_tumbling_count`
    twin pair: the IDENTICAL `_tumbling_count_agg` plan run as a
    batch scan. In complete output mode the drained stream emits
    every window, so stream ≡ batch is exact equality — the local
    suite pins that anchor, and this entry pins batch ≡ oracle,
    closing the chain for the driver ledger (the
    stream_static_join_batch precedent). 1-hour epoch-aligned
    windows are date_trunc('hour') on the oracle side."""
    return _tumbling_count_agg(load_table(spark, sf_dir, "events"))


@query(
    "streaming_session_window",
    oracle=None,  # rows-only; batch twin = session_window_batch
    section="2.9 streaming session window",
)
def streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window (30-minute gap) under the streaming engine."""
    agg = _session_window_agg(
        _stream_events(spark, sf_dir).withWatermark("ts", "10 minutes")
    )
    return _drain(agg, "complete")


@query(
    "session_window_batch",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                            > 30 * 60 * 1000000
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), numbered AS (
        SELECT user_id, ts,
               sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) AS sess_id
        FROM flagged
    )
    SELECT user_id,
           min(ts)                        AS sess_start,
           max(ts) + INTERVAL 30 MINUTE   AS sess_end,
           count(*)                       AS n_events
    FROM numbered
    GROUP BY user_id, sess_id
    """,
    section="2.9 streaming session window, ORACLE-BACKED batch twin",
)
def session_window_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of `streaming_session_window`: the IDENTICAL native
    `_session_window_agg` plan (F.session_window works unchanged on a
    batch frame). The oracle re-derives native session semantics via
    lag-gap-cumsum — probed this round on exact boundaries: an event
    at EXACTLY last_ts + gap merges (break rule is strictly `>`, the
    same rule `events._session_label_ctes` encodes), and the native
    window's end is last event + gap, so the oracle emits
    max(ts) + INTERVAL 30 MINUTE. Ties need no event_id tie-break
    here: the session label depends only on the ts sequence, and the
    per-session count is tie-order invariant. Closes the last
    un-twinned streaming rows-only pair (r10 verdict, Next #5)."""
    return _session_window_agg(load_table(spark, sf_dir, "events"))


@query(
    "streaming_dedup",
    oracle=None,  # rows-only: stateful dedup
    section="2.9 stateful stream dedup (dropDuplicatesWithinWatermark)",
)
def streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful duplicate-drop keyed on event_id within the watermark:
    state is bounded by the watermark horizon, the 100 TB-safe form of
    streaming dedup. The fixture's event_ids are UNIQUE, so duplicates
    are INJECTED (a second source instance unioned in, carrying ~10%
    of the rows again) — without them the operator was vacuous: a
    no-op 'dedup' produced the same (n_rows == n_ids) summary and the
    anchor could never detect failure-to-drop. With the injection, a
    broken dedup yields n_rows > n_ids and the anchor fails."""
    s = _stream_events(spark, sf_dir)
    dupes = _stream_events(spark, sf_dir).filter(
        F.pmod(F.hash("event_id"), F.lit(10)) == 0
    )
    dedup = (
        s.union(dupes)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "event_type", "ts")
    )
    out = _drain(dedup, "append")
    # summarize so the result is small and deterministic
    return out.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("event_id").alias("n_ids"),
    )


@query(
    "streaming_late_drop",
    oracle=None,  # rows-only: streaming watermark semantics, not one SQL stmt
    section="2.9 watermark late-data drop, evidenced (append mode)",
)
def streaming_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PROOF that the watermark drops late data: a two-batch synthetic
    stream where batch 2 contains an event older than the watermark
    established by batch 1. In `append` output mode the 10:00 window is
    finalized under the batch-1 watermark (12:20), so the late 10:20
    event is excluded — the sink's only row is (10:00, n=2), not n=3.

    Mechanics: the file source picks up each parquet file as its own
    micro-batch (processAllAvailable between writes); the watermark
    used while processing batch N is computed from batch N-1's max
    event time minus the 10-minute delay. This is the behavior the
    batch-mode watermark queries cannot evidence (`complete` mode never
    drops), closing the one `partial` row from round 2."""
    # same UTC pin as _stream_events: without it, execution ORDER
    # decides the timezone to_timestamp parses in (whichever query
    # pinned first), and a non-UTC host shifts window_start under the
    # anchor's expected isoformat
    _pin_conf(spark, "spark.sql.session.timeZone", "UTC")
    root = tempfile.mkdtemp(prefix="pydra_late_")
    src = os.path.join(root, "src")
    schema = "ts timestamp, k string"

    def write_batch(rows: list[tuple[str, str]]) -> None:
        df = spark.createDataFrame(rows, "ts_s string, k string").select(
            F.to_timestamp("ts_s").alias("ts"), "k"
        )
        df.coalesce(1).write.mode("append").parquet(src)

    # batch 1: two on-time events in the 10:00 window + a 12:30 event
    # that will push the watermark to 12:20
    write_batch(
        [
            ("2024-01-01 10:05:00", "a"),
            ("2024-01-01 10:10:00", "b"),
            ("2024-01-01 12:30:00", "c"),
        ]
    )
    agg = (
        spark.readStream.schema(schema)
        .parquet(src)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        # STRING-rendered window start (session-TZ UTC at the point of
        # formatting): a raw timestamp terminal goes through
        # collect()'s OS-local datetime.fromtimestamp, so the anchor's
        # expected literal would shift on any non-UTC host even with
        # the session pinned
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "n",
        )
    )
    name = "late_sink_" + uuid.uuid4().hex[:12]
    q = agg.writeStream.format("memory").queryName(name).outputMode("append").start()
    try:
        try:
            q.processAllAvailable()
            # batch 2: a LATE event for the 10:00 window (10:20 <
            # watermark 12:20 -> must be dropped) + a fresh event
            # keeping state open
            write_batch(
                [
                    ("2024-01-01 10:20:00", "late"),
                    ("2024-01-01 12:40:00", "d"),
                ]
            )
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination()
        # expected sink content: exactly [(10:00, 2)] — the late row
        # is absent; a (10:00, 3) row would mean the watermark failed.
        # snapshot inside, drop in the outer finally (_drain
        # discipline: the sink releases even when the drain fails)
        return (
            materialize(spark.table(name).orderBy("window_start"), SMALL)
        )
    finally:
        spark.catalog.dropTempView(name)
        # the result is an eager snapshot, so the source files can go
        shutil.rmtree(root, ignore_errors=True)


@query(
    "streaming_dedup_batch",
    oracle="""
    WITH dupes AS (
        SELECT event_id FROM events
        WHERE CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))
                   AS BIGINT) % 10 = 0
    )
    SELECT (SELECT count(*) FROM events) + (SELECT count(*) FROM dupes)
               AS n_input,
           (SELECT count(DISTINCT event_id) FROM events) AS n_after_dedup,
           (SELECT count(*) FROM dupes) AS n_injected
    """,
    section="2.9 stateful stream dedup, ORACLE-BACKED batch twin",
)
def streaming_dedup_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DuckDB-checkable half of the `streaming_dedup` twin pair:
    the same inject-then-dedup scenario run as a batch
    ``dropDuplicates`` — union the corpus with a deterministic ~10%
    duplicate slice, drop on event_id, and report (rows in, rows
    surviving, rows injected). A broken dedup reads
    n_after_dedup > the distinct-id count; a dedup that over-drops
    reads under it. The injection selector is the PORTABLE md5 bucket
    (`hash_bucket` — the streaming form uses the JVM hash for speed,
    which is exactly why it stays rows-only and this twin exists;
    the suite's anchor test pins stream ≡ batch on the summary
    counts). Exact duplicates make the survivor row value-identical
    whichever copy wins, so dropDuplicates' arbitrary pick cannot
    leak nondeterminism into the result. Scale shape: one keyed
    distinct (the dedup shuffle) + three scalar counts; the injected
    slice never materializes driver-side."""
    from ..operators.textops import hash_bucket

    e = load_table(spark, sf_dir, "events")
    dupes = e.filter(
        hash_bucket(F.col("event_id").cast("string"), 10) == 0
    )
    un = e.unionAll(dupes)
    after = un.dropDuplicates(["event_id"]).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_after_dedup")
    )
    n_in = un.agg(F.count(F.lit(1)).cast("bigint").alias("n_input"))
    n_inj = dupes.agg(F.count(F.lit(1)).cast("bigint").alias("n_injected"))
    return (
        n_in.crossJoin(F.broadcast(after))
        .crossJoin(F.broadcast(n_inj))
        .select("n_input", "n_after_dedup", "n_injected")
    )


# the synthetic two-micro-batch late-drop scenario, shared by the
# streaming proof (streaming_late_drop) and its oracle-backed batch
# twin (late_drop_batch): batch 1 establishes watermark 12:20; the
# 10:20 row in batch 2 arrives after its 10:00 window was finalized
_LATE_BATCH_1 = [
    ("2024-01-01 10:05:00", "a"),
    ("2024-01-01 10:10:00", "b"),
    ("2024-01-01 12:30:00", "c"),
]
_LATE_BATCH_2 = [
    ("2024-01-01 10:20:00", "late"),
    ("2024-01-01 12:40:00", "d"),
]


def _values_sql(rows: list[tuple[str, str]]) -> str:
    return ", ".join(f"('{ts}', '{k}')" for ts, k in rows)


@query(
    "late_drop_batch",
    oracle=f"""
    WITH b1(ts_s, k) AS (VALUES {_values_sql(_LATE_BATCH_1)}),
    b2(ts_s, k) AS (VALUES {_values_sql(_LATE_BATCH_2)}),
    t1 AS (SELECT CAST(ts_s AS TIMESTAMP) AS ts FROM b1),
    t2 AS (SELECT CAST(ts_s AS TIMESTAMP) AS ts FROM b2),
    wm1 AS (SELECT max(ts) - INTERVAL 10 MINUTE AS wm FROM t1),
    surv2 AS (
        SELECT t2.ts FROM t2 CROSS JOIN wm1
        WHERE date_trunc('hour', t2.ts) + INTERVAL 1 HOUR > wm1.wm
    ),
    fwm AS (
        SELECT max(ts) - INTERVAL 10 MINUTE AS wm
        FROM (SELECT ts FROM t1 UNION ALL SELECT ts FROM t2)
    ),
    survivors AS (SELECT ts FROM t1 UNION ALL SELECT ts FROM surv2)
    SELECT date_trunc('hour', s.ts) AS window_start,
           CAST(count(*) AS BIGINT) AS n
    FROM survivors s CROSS JOIN fwm
    WHERE date_trunc('hour', s.ts) + INTERVAL 1 HOUR <= fwm.wm
    GROUP BY date_trunc('hour', s.ts)
    """,
    section="2.9 watermark late-data drop, ORACLE-BACKED batch twin",
)
def late_drop_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of `streaming_late_drop`: the watermark-cutoff RULES
    applied declaratively to the identical two-micro-batch scenario
    (shared module literals), closing the last un-twinned streaming
    rows-only pair. Three rules, each one filter:

    1. late drop — a batch-2 row is dropped iff its 1-hour window was
       already FINALIZED under the batch-1 watermark (window end <=
       max(batch-1 ts) - 10 min; the rule is on window end, not raw
       ts: a row older than the watermark whose window is still open
       is accepted, exactly as the streaming engine keeps it);
    2. watermark advance — the final watermark derives from the max
       event time over EVERYTHING ingested (late rows update the
       event-time stats before the stateful operator excludes them);
    3. append emission — only windows whose end has passed the final
       watermark appear in the sink.

    Result: exactly [(10:00, 2)] — the late 10:20 row is absent from
    its finalized window and the 12:00 window is still open. The
    suite's anchor test pins this twin equal to the streaming sink
    content row for row. All frames are literal-sized; the two
    1-row watermark frames broadcast."""
    _pin_conf(spark, "spark.sql.session.timeZone", "UTC")

    def lit_df(rows: list[tuple[str, str]]) -> DataFrame:
        return spark.createDataFrame(rows, "ts_s string, k string").select(
            F.to_timestamp("ts_s").alias("ts")
        )

    b1, b2 = lit_df(_LATE_BATCH_1), lit_df(_LATE_BATCH_2)
    wend = F.date_trunc("hour", F.col("ts")) + F.expr("INTERVAL 1 HOUR")
    wm1 = b1.agg((F.max("ts") - F.expr("INTERVAL 10 MINUTES")).alias("wm"))
    surv2 = b2.crossJoin(F.broadcast(wm1)).filter(wend > F.col("wm")).select("ts")
    fwm = (
        b1.unionAll(b2)
        .agg((F.max("ts") - F.expr("INTERVAL 10 MINUTES")).alias("wm"))
    )
    return (
        b1.select("ts")
        .unionAll(surv2)
        .crossJoin(F.broadcast(fwm))
        .filter(wend <= F.col("wm"))
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("window_start"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


@query(
    "streaming_parquet_sink",
    oracle=None,  # rows-only: file sink + checkpoint lifecycle
    section="2.1 streaming sink (parquet + checkpoint, exactly-once files)",
)
def streaming_parquet_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream events through a filter into a parquet file sink with a
    checkpoint dir (the exactly-once production pattern), then read the
    sink back as a batch table and summarize."""
    # per-call private root: no cross-run rmtree/clobber hazard
    root = tempfile.mkdtemp(prefix="pydra_stream_sink_")
    out_dir = os.path.join(root, "purchases")
    ckpt = os.path.join(root, "ckpt")
    stream = (
        _stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "ts", "user_id", "value")
    )
    q = (
        stream.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    back = spark.read.parquet(out_dir)
    # cents sum (the file's fixed-point discipline — a raw double sum
    # under a different partitioning than the batch anchor can round
    # across a .005 boundary and flake the anchor test); the 1-row
    # summary snapshots eagerly so the sink+checkpoint dirs can be
    # DELETED before returning — per-call mkdtemp roots otherwise
    # accumulate a full purchase copy per invocation for the life of
    # /tmp
    out = materialize(back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("user_id").alias("n_users"),
        (F.sum(F.round(F.col("value") * 100).cast("bigint")) / 100.0)
        .alias("sum_value"),
    ), SMALL)
    shutil.rmtree(root, ignore_errors=True)
    return out


@query(
    "streaming_stateful_counter",
    oracle=None,  # rows-only: custom stateful operator (GroupState)
    section="2.9/2.10 custom stateful streaming op (applyInPandasWithState)",
)
def streaming_stateful_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary per-key streaming state: a running per-user event
    counter kept in GroupState across micro-batches — the
    applyInPandasWithState escape hatch for operators the built-in
    windows can't express. State is per-key and partitioned, so it
    scales horizontally; a real deployment adds a timeout to bound it.
    Runs over the TWO-micro-batch split source so the state.exists
    resume arm genuinely executes (the single-file source made it dead
    code — a broken resume passed every anchor)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def count_events(key, pdfs, state: GroupState):
        total = state.get[0] if state.exists else 0
        for pdf in pdfs:
            total += len(pdf)
        state.update((total,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [total]})

    out = (
        _stream_events(spark, sf_dir, multi_batch=True)
        .groupBy("user_id")
        .applyInPandasWithState(
            count_events,
            outputStructType="user_id long, n_events long",
            stateStructType="n long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    drained = _drain(out, "update")
    # keep the final count per user (update mode may emit per batch)
    return drained.groupBy("user_id").agg(F.max("n_events").alias("n_events"))


def _attribution_views(e: DataFrame) -> DataFrame:
    return e.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"), F.col("ts").alias("view_ts")
    )


def _attribution_purchases(e: DataFrame) -> DataFrame:
    return e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("buy_ts"),
        F.col("event_id").alias("buy_id"),
        "value",
    )


def _attribution_join(views: DataFrame, purchases: DataFrame) -> DataFrame:
    """THE view-to-purchase attribution join (same-user views in the
    preceding 30 minutes) — one definition shared by the streaming
    form and its oracle-backed batch twin, so the documented
    'identical plans' claim is structural, not hand-copied."""
    return views.join(
        purchases,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("buy_ts") >= F.col("view_ts"))
        & (F.col("buy_ts") <= F.col("view_ts") + F.expr("INTERVAL 30 MINUTES")),
    )


def _attribution_summary(joined: DataFrame) -> DataFrame:
    """Dedupe to one row per purchase, then the 1-row attribution
    summary — shared by both twins."""
    per_buy = joined.groupBy("buy_id").agg(
        F.first("p_user").alias("p_user"), F.first("value").alias("value")
    )
    return per_buy.agg(
        F.count(F.lit(1)).alias("n_attributed"),
        F.countDistinct("p_user").alias("n_users"),
        (F.sum(F.round(F.col("value") * 100).cast("bigint")) / 100.0)
        .alias("sum_value"),
    )


def _static_join_summary(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Purchase events broadcast-enriched with the customer dim and
    summarized per segment — one definition for the streaming form
    and its batch twin."""
    return (
        events.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(dim), F.col("user_id") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(F.round(F.col("value") * 100).cast("bigint")) / 100.0)
            .alias("sum_value"),
        )
    )


@query(
    "streaming_stream_join",
    oracle=None,  # rows-only: stream-stream join; batch anchor asserted in tests
    section="2.9 stream-stream join (watermarked interval join, attribution)",
)
def streaming_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream INNER join — view-to-purchase attribution: each
    purchase joined to views by the same user within the preceding 30
    minutes. Both sides carry watermarks and the join condition bounds
    event time, so buffered state is evictable — the only shape a
    stream-stream join can scale with (unbounded state otherwise).
    Summarized to (n_attributed, n_users, sum_value); a test asserts
    the same numbers as the equivalent batch self-join."""
    views = _attribution_views(_stream_events(spark, sf_dir)).withWatermark(
        "view_ts", "1 hour"
    )
    purchases = _attribution_purchases(_stream_events(spark, sf_dir)).withWatermark(
        "buy_ts", "1 hour"
    )
    out = _drain(_attribution_join(views, purchases), "append")
    return _attribution_summary(out)


@query(
    "streaming_rate_source",
    oracle=None,  # rows-only: rate source output depends on wall clock
    section="2.1 streaming rate source (synthetic load generator)",
)
def streaming_rate_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The built-in rate source (rows/sec load generator) driven for a
    couple of micro-batches. Output is summarized to schema-stable
    invariants (monotone values, positive count ⇒ flags true) because
    absolute counts depend on wall clock."""
    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 1000)
        .option("numPartitions", 2)
        .load()
    )
    name = "rate_sink_" + uuid.uuid4().hex[:8]
    q = rate.writeStream.format("memory").queryName(name).outputMode("append").start()
    try:
        import time as _t

        deadline = _t.time() + 5
        while _t.time() < deadline and spark.table(name).count() == 0:
            _t.sleep(0.2)
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    # snapshot + drop (the _drain discipline): the rate sink would
    # otherwise pin thousands of generated rows per invocation in
    # driver memory for the session lifetime
    out = materialize(spark.table(name), SMALL)
    spark.catalog.dropTempView(name)
    return out.agg(
        (F.count(F.lit(1)) > 0).alias("has_rows"),
        (F.countDistinct("value") == F.count(F.lit(1))).alias("values_unique"),
    )


@query(
    "streaming_foreach_batch",
    oracle=None,  # rows-only: sink lifecycle; batch anchor = filtered batch agg
    section="2.1 streaming foreachBatch sink (idempotent per-epoch merge pattern)",
)
def streaming_foreach_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production escape-hatch sink: foreachBatch hands each
    micro-batch to arbitrary DataFrame code with its epoch_id — THE
    pattern for idempotent merges into stores the built-in sinks can't
    target (JDBC upserts, Delta MERGE, multi-table fan-out). Here each
    epoch appends to a parquet dir partitioned by epoch_id, so a
    replayed epoch overwrites its own partition instead of duplicating
    (dynamic partition overwrite = idempotence); the result is the
    read-back summary, asserted against the batch filter in the local
    suite. State per epoch is bounded by the micro-batch, so the
    pattern scales with executor count like any batch write."""
    root = tempfile.mkdtemp(prefix="pydra_feb_")
    out_dir = os.path.join(root, "out")
    ckpt = os.path.join(root, "ckpt")

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        (
            batch_df.withColumn("epoch_id", F.lit(epoch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch_id")
            .parquet(out_dir)
        )

    # multi-batch split: each file is its own epoch, so the per-epoch
    # dynamic-partition-overwrite idempotence actually covers >1 epoch
    stream = (
        _stream_events(spark, sf_dir, multi_batch=True)
        .filter(F.col("event_type") == "signup")
        .select("event_id", "user_id", "ts")
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    back = spark.read.parquet(out_dir)
    # eager 1-row summary, then delete the per-call epoch-partitioned
    # copy + checkpoint (the parquet-sink cleanup rationale)
    out = materialize(back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("event_id").alias("n_ids"),
        F.countDistinct("user_id").alias("n_users"),
    ), SMALL)
    shutil.rmtree(root, ignore_errors=True)
    return out


@query(
    "streaming_static_join",
    oracle=None,  # rows-only: streaming engine run; batch anchor asserted in tests
    section="2.9 stream-static join (broadcast dim enrichment of a stream)",
)
def streaming_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join — the most common production enrichment:
    each micro-batch of events joins a STATIC dimension (customer)
    that is simply a batch DataFrame on the stream side's executor
    plan. No watermark needed (the static side never changes
    mid-query) and no state store: Spark plans it as a per-batch
    broadcast hash join, so the stream never shuffles for the join —
    exactly the batch broadcast-dim posture carried into streaming.
    Summarized per market segment; the local suite asserts equality
    with the identical batch join (see
    test_streaming_static_join_matches_batch_anchor)."""
    dim = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    return _drain(
        _static_join_summary(_stream_events(spark, sf_dir), dim), "complete"
    )


@query(
    "stream_static_join_batch",
    oracle="""
    SELECT c.c_mktsegment, count(*) AS n,
           CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS DOUBLE) / 100
               AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    WHERE e.event_type = 'purchase'
    GROUP BY c.c_mktsegment
    """,
    section="2.9 stream-static join, ORACLE-BACKED batch twin",
)
def stream_static_join_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DuckDB-checkable half of the `streaming_static_join` twin
    pair: the IDENTICAL broadcast dim-enrichment join and per-segment
    aggregate, run as a plain batch plan. The local suite separately
    asserts the streaming run equals this batch anchor row-for-row
    (test_streaming_static_join_matches_batch_anchor), so the chain
    stream ≡ batch ≡ oracle closes end-to-end — this entry gives the
    driver the oracle-checkable link, demoting the streaming form to
    the only rows-only piece."""
    dim = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return _static_join_summary(load_table(spark, sf_dir, "events"), dim)


@query(
    "stream_stream_join_batch",
    oracle="""
    WITH v AS (
        SELECT user_id, ts FROM events WHERE event_type = 'view'
    ), p AS (
        SELECT user_id, ts, event_id, value
        FROM events WHERE event_type = 'purchase'
    ), pairs AS (
        SELECT DISTINCT p.event_id AS buy_id, p.user_id, p.value
        FROM p JOIN v ON v.user_id = p.user_id
              AND p.ts >= v.ts
              AND p.ts <= v.ts + INTERVAL 30 MINUTE
    )
    SELECT count(*)                       AS n_attributed,
           count(DISTINCT user_id)        AS n_users,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100
               AS sum_value
    FROM pairs
    """,
    section="2.9 stream-stream join, ORACLE-BACKED batch twin",
)
def stream_stream_join_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of `streaming_stream_join`: the same view-to-
    purchase attribution (purchases matched to any view by the same
    user in the preceding 30 minutes, value summed once per purchase)
    as a batch interval self-join. The suite pins stream ≡ batch
    (test_stream_join_matches_batch_anchor); this entry pins batch ≡
    oracle, closing the chain for the driver ledger. Same scale shape
    as the streaming form: the join keys on user_id (hash exchange),
    the time bound is a residual predicate, and only per-purchase
    rows reach the final aggregate."""
    e = load_table(spark, sf_dir, "events")
    return _attribution_summary(
        _attribution_join(_attribution_views(e), _attribution_purchases(e))
    )


@query(
    "streaming_stateful_max",
    oracle=None,  # rows-only: state API v2; batch anchor asserted in tests
    section="2.9/2.10 custom stateful streaming op (transformWithStateInPandas, state API v2)",
)
def streaming_stateful_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running MAX(value) kept in a typed ValueState via
    Spark 4's transformWithStateInPandas — the successor API to
    applyInPandasWithState (streaming_stateful_counter keeps the v1
    form): explicit processor lifecycle (init/handleInputRows/close),
    named typed state slots, optional TTL and timers. Requires the
    RocksDB state-store provider (set for this stream, restored
    after) — at scale that is also the right provider: state lives
    off-heap and incremental-checkpoints to the changelog instead of
    full HDFS snapshots per batch. State is per-key and partitioned;
    the suite anchors the drained result against batch groupBy-max.

    GATE: the v2 engine's Python driver worker speaks protobuf to
    the JVM; this container has no `google.protobuf`, so when that
    import is absent the query runs the SAME running-max processor
    through the v1 applyInPandasWithState path (identical per-key
    state semantics and output contract). The v2 branch is live code,
    exercised wherever protobuf exists."""
    import pandas as pd

    try:  # find_spec("google.protobuf") raises when even "google" is absent
        import google.protobuf  # noqa: F401

        _has_protobuf = True
    except ImportError:
        _has_protobuf = False

    if not _has_protobuf:
        from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

        def track_max(key, pdfs, state: GroupState):
            mx = state.get[0] if state.exists else None
            for pdf in pdfs:
                vals = pdf["value"].dropna()
                if vals.empty:
                    continue  # all-NULL slice: F.max skips nulls; NaN
                    # here would poison max() order-dependently
                batch_max = float(vals.max())
                mx = batch_max if mx is None else max(mx, batch_max)
            state.update((mx,))
            yield pd.DataFrame({"user_id": [key[0]], "max_value": [mx]})

        out = (
            _stream_events(spark, sf_dir, multi_batch=True)
            .groupBy("user_id")
            .applyInPandasWithState(
                track_max,
                outputStructType="user_id long, max_value double",
                stateStructType="mx double",
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout,
            )
        )
        drained = _drain(out, "update")
        return drained.groupBy("user_id").agg(F.max("max_value").alias("max_value"))

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class MaxTracker(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._mx = handle.getValueState("mx", "mx double")

        def handleInputRows(self, key, rows, timerValues):
            mx = self._mx.get()[0] if self._mx.exists() else None
            for pdf in rows:
                batch_max = float(pdf["value"].max())
                mx = batch_max if mx is None else max(mx, batch_max)
            self._mx.update((mx,))
            yield pd.DataFrame({"user_id": [key[0]], "max_value": [mx]})

        def close(self) -> None:
            pass

    provider_key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        out = (
            _stream_events(spark, sf_dir, multi_batch=True)
            .groupBy("user_id")
            .transformWithStateInPandas(
                MaxTracker(),
                outputStructType="user_id long, max_value double",
                outputMode="update",
                timeMode="none",
            )
        )
        drained = _drain(out, "update")
        # update mode may emit once per micro-batch; keep the final max
        return drained.groupBy("user_id").agg(F.max("max_value").alias("max_value"))
    finally:
        if prev is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, prev)
