"""Streaming windows over `events` — Structured Streaming extension.

The reference has NO stream processing (SURVEY.md §1.5: its only "streaming"
is result cursors); this module is the extension the north star calls for.
Three window families — tumbling, sliding, session — implemented with the
same `F.window`/`F.session_window` expressions that run identically over a
batch DataFrame and a `readStream` source. The registered queries run the
batch form (oracle-checkable against DuckDB's time arithmetic); `stream_*`
helpers below run the genuine streaming path (watermarks + memory sink),
exercised in tests.

Scale: windowed aggregation shuffles on (window, key) — with watermarks the
state store evicts closed windows, so state is bounded by (watermark horizon
× key cardinality), the standard 100 TB/day streaming design.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from neumann_spark.catalog import events_schema, events_ts, load
from neumann_spark.registry import register
from neumann_spark.sqlutil import dsum, sql_dsum


@register(
    "stream_tumbling_window",
    oracle=f"""
    SELECT time_bucket(INTERVAL '1 day', ts) AS window_start,
           event_type,
           COUNT(*) AS n,
           {sql_dsum('value', 4)} AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling (fixed, non-overlapping) event-time windows: daily counts +
    sums per event type. `F.window` start aligns to the epoch grid exactly
    like DuckDB's time_bucket."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), dsum("value", 4).alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n", "sum_value"
        )
    )


@register(
    "stream_sliding_window",
    oracle=f"""
    WITH grid AS (
      SELECT e.*,
             time_bucket(INTERVAL '1 day', ts) - k.k * INTERVAL '1 day' AS window_start
      FROM events e CROSS JOIN (SELECT UNNEST([0, 1]) AS k) k
    )
    SELECT window_start, COUNT(*) AS n, {sql_dsum('value', 4)} AS sum_value
    FROM grid
    GROUP BY window_start
    """,
)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (size 2 days, slide 1 day): every event lands in two
    overlapping windows. Spark expands via `F.window(size, slide)`; the
    oracle expands the same grid with an offset join."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "2 days", "1 day").alias("w"))
        .agg(F.count("*").alias("n"), dsum("value", 4).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "n", "sum_value")
    )


@register(
    "stream_session_window",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       <= INTERVAL '6 hours'
                  THEN 0 ELSE 1 END AS new_session
      FROM events
    ),
    sessions AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_no
      FROM marked
    )
    SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
    FROM sessions
    GROUP BY user_id, session_no
    HAVING COUNT(*) >= 3
    """,
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (6-hour gap) per user — `F.session_window` in
    Spark, gaps-and-islands in the oracle. Sessions with ≥ 3 events."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "6 hours").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.min("ts").alias("session_start"))
        .filter(F.col("n_events") >= 3)
        .select("user_id", "session_start", "n_events")
    )


# --- genuine streaming path (exercised in tests) --------------------------


def _events_stream(spark: SparkSession, sf_dir: str,
                   single_batch: bool = False) -> DataFrame:
    """readStream over the events fixture, typed and normalised exactly as
    catalog.load types the batch read (`events_schema` / `events_ts`).
    `single_batch` pins maxFilesPerTrigger high enough that availableNow
    delivers everything in ONE micro-batch regardless of file count —
    consumers whose idempotence assumes batch monotonicity (the merge
    upsert) get it by construction."""
    reader = (
        spark.readStream.schema(events_schema(spark, f"{sf_dir}/events.parquet"))
        .option("pathGlobFilter", "events.parquet")  # file source needs a dir
    )
    if single_batch:
        reader = reader.option("maxFilesPerTrigger", str(10**6))
    return events_ts(reader.parquet(sf_dir))


def stream_windowed_counts(
    spark: SparkSession, sf_dir: str, queryName: str = "stream_counts"
):
    """Real Structured Streaming: parquet readStream → watermark → tumbling
    window agg → memory sink. Returns the started StreamingQuery; callers
    `processAllAvailable()` then read `SELECT * FROM <queryName>`.

    Watermark 1 day: late events beyond the horizon are dropped and closed
    windows leave the state store — bounded state at any scale."""
    stream = _events_stream(spark, sf_dir)
    agg = (
        stream.filter(F.col("event_id").isNotNull())
        .withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 day"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("window.start").alias("window_start"), "event_type", "n")
    )
    # complete mode so windows still open at end-of-input are emitted too
    # (append mode would hold them back until the watermark passes — correct
    # for unbounded streams, but a bounded smoke run would miss the tail).
    return (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(queryName)
        .trigger(availableNow=True)
        .start()
    )


def stream_stateful_user_counts(
    spark: SparkSession, sf_dir: str, queryName: str = "stateful_counts"
):
    """Custom stateful streaming operator via applyInPandasWithState — the
    extension point for operators that windowed aggregation can't express
    (running per-user event counters with explicit state, the pattern for
    custom sessionization / CDC / anomaly trackers at scale).

    State = one running count per user_id, held in the state store and
    updated per micro-batch; output = the updated totals. State is bounded
    by key cardinality; a production operator would also set timeouts to
    evict idle keys."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState

    stream = _events_stream(spark, sf_dir)

    def update(key, pdfs, state: GroupState):
        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

    out = stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id bigint, n_events bigint",
        stateStructType="n bigint",
        outputMode="update",
        timeoutConf="NoTimeout",
    )
    return (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName(queryName)
        .trigger(availableNow=True)
        .start()
    )


@register(
    "stream_dedup",
    oracle=f"""
    SELECT event_type, COUNT(*) AS n, {sql_dsum('value', 4)} AS sum_value
    FROM events GROUP BY event_type
    """,
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication, batch form: a duplicate-injected stream
    (every 10th event re-delivered — at-least-once redelivery) deduplicated
    on event_id with `dropDuplicates`, then aggregated. The oracle is the
    clean per-type aggregate, so any failure to collapse the injected
    duplicates breaks counts AND sums. The genuine streaming path
    (`stream_dedup_watermarked`) uses `dropDuplicatesWithinWatermark`-style
    bounded state; at scale state is bounded by (watermark horizon x id
    cardinality within it)."""
    ev = load(spark, sf_dir, "events")
    redelivered = ev.unionAll(ev.filter(F.col("event_id") % 10 == 0))
    return (
        redelivered.dropDuplicates(["event_id"])
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), dsum("value", 4).alias("sum_value"))
    )


def stream_dedup_watermarked(
    spark: SparkSession, sf_dir: str, queryName: str = "stream_dedup"
):
    """Real streaming dedup: readStream → watermark → dropDuplicates on
    (event_id) → per-type counts → memory sink."""
    stream = _events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "1 day")
        .dropDuplicates(["event_id"])
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
    )
    return (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(queryName)
        .trigger(availableNow=True)
        .start()
    )


@register(
    "stream_stream_join",
    oracle="""
    SELECT c.user_id,
           COUNT(*) AS n_pairs,
           CAST(MIN(date_diff('second', c.ts, p.ts)) AS BIGINT) AS min_lag_sec
    FROM events c
    JOIN events p
      ON p.user_id = c.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 DAY
    GROUP BY c.user_id
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join, batch form: clicks joined to purchases
    by the same user within 1 day — the attribution-join shape. In
    streaming both sides carry watermarks and the time-range predicate
    bounds the join state (`stream_join_streams` below); the batch plan is
    the identical interval equi-join on user_id + range filter, so the
    shuffle key and state bound carry over to the streaming run."""
    ev = load(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("c_ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 DAY")),
    )
    return joined.groupBy("user_id").agg(
        F.count("*").alias("n_pairs"),
        F.min(
            F.col("p_ts").cast("long") - F.col("c_ts").cast("long")
        ).alias("min_lag_sec"),
    )


def stream_join_streams(
    spark: SparkSession, sf_dir: str, queryName: str = "stream_join"
):
    """Real stream-stream join: two watermarked readStreams of the same
    source (clicks / purchases), interval-joined; append-mode memory sink.
    The watermark + time bound let Spark evict join state for rows whose
    match window has passed — bounded state at any scale."""
    def src():
        return _events_stream(spark, sf_dir)

    clicks = (
        src()
        .filter(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "1 day")
    )
    purchases = (
        src()
        .filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "1 day")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 DAY")),
    ).select("user_id", "c_ts", "p_ts")
    return (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(queryName)
        .trigger(availableNow=True)
        .start()
    )


@register(
    "events_gap_fill",
    oracle=f"""
    WITH spine AS MATERIALIZED (
      SELECT t.day, et.event_type
      FROM generate_series(TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-30',
                           INTERVAL 1 DAY) AS t(day)
      CROSS JOIN (SELECT DISTINCT event_type FROM events) AS et
    ),
    daily AS MATERIALIZED (
      SELECT time_bucket(INTERVAL '1 day', ts) AS day, event_type,
             COUNT(*) AS n, {sql_dsum('value', 4)} AS sum_value
      FROM events GROUP BY 1, 2
    )
    SELECT s.day, s.event_type,
           COALESCE(d.n, 0) AS n,
           last_value(d.sum_value IGNORE NULLS) OVER (
             PARTITION BY s.event_type ORDER BY s.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS filled_sum
    FROM spine s LEFT JOIN daily d
      ON d.day = s.day AND d.event_type = s.event_type
    """,
)
def events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap-fill + LOCF (the hypertable `time_bucket_gapfill` /
    `locf` rollup shape): a generated daily spine per event type LEFT-joins
    the daily rollup, missing days count 0, and the running sum
    carries the last observation forward with an IGNORE NULLS window.

    Scale: the spine is days x types — tiny, broadcast side of the join;
    the rollup is one partial/final agg over the fact scan; LOCF is one
    window shuffle keyed by type. At 100 TB the fact scan dominates and
    everything else stays proportional to the spine, not the data."""
    ev = load(spark, sf_dir, "events")
    spine = (
        spark.sql(
            "SELECT explode(sequence(timestamp'2024-01-01', "
            "timestamp'2024-01-30', interval 1 day)) AS day"
        )
        .crossJoin(ev.select("event_type").distinct())
    )
    daily = (
        ev.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), dsum("value", 4).alias("sum_value"))
        .select(F.col("w.start").alias("day"), "event_type", "n", "sum_value")
    )
    from pyspark.sql import Window as W

    locf = W.partitionBy("event_type").orderBy("day").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    return (
        spine.join(daily, ["day", "event_type"], "left")
        .select(
            "day",
            "event_type",
            F.coalesce("n", F.lit(0)).alias("n"),
            F.last("sum_value", ignorenulls=True).over(locf).alias("filled_sum"),
        )
    )


@register(
    "stream_live_windowed_counts",
    oracle="""
    SELECT time_bucket(INTERVAL '1 day', ts) AS window_start,
           event_type,
           COUNT(*) AS n
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_live_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GENUINE Structured Streaming path, driver-checked: parquet
    readStream → 1-day watermark → tumbling window counts → memory sink,
    run to completion with availableNow, then the sink table is returned
    and hash-compared against the batch-equivalent oracle. Proves the
    streaming and batch window semantics agree on the same input — the
    Kappa-architecture property the north star asks for."""
    q = stream_windowed_counts(spark, sf_dir, queryName="live_counts_dc")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table("live_counts_dc").select("window_start", "event_type", "n")


@register(
    "stream_stateful_counts",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events
    FROM events GROUP BY user_id
    """,
)
def stream_stateful_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom-stateful streaming operator driver-checked: per-user
    running counters held in the state store via `applyInPandasWithState`
    (`stream_stateful_user_counts`), run to completion with availableNow.
    The update-mode memory sink receives one row per (user, micro-batch)
    update; the final total per user is the max (counters only grow), and
    must equal the batch GROUP BY — proving the Arrow-batched stateful
    path computes the same answer as the declarative one. This is the
    extension point for sessionization/CDC/anomaly operators that
    windowed aggregation can't express; state is bounded by key
    cardinality (+ timeouts for idle-key eviction in production)."""
    q = stream_stateful_user_counts(spark, sf_dir, queryName="stateful_counts_dc")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return (
        spark.table("stateful_counts_dc")
        .groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"))
    )


@register(
    "stream_merge_upsert",
    oracle="""
    WITH seed AS (
      SELECT user_id, event_type, COUNT(*) AS n
      FROM events WHERE event_id % 2 = 0 GROUP BY user_id, event_type
    ),
    inc AS (
      SELECT user_id, event_type, COUNT(*) AS n, MAX(event_id) AS wm
      FROM events
      WHERE event_id % 2 = 1 AND event_type IN ('click', 'view')
        AND user_id % 3 <> 0
      GROUP BY user_id, event_type
    )
    SELECT COALESCE(s.user_id, i.user_id) AS user_id,
           COALESCE(s.event_type, i.event_type) AS event_type,
           COALESCE(s.n, 0) + COALESCE(i.n, 0) AS n,
           COALESCE(i.wm, -1) AS stream_wm
    FROM seed s
    FULL JOIN inc i
      ON s.user_id = i.user_id AND s.event_type = i.event_type
    """,
)
def stream_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC upsert into a partitioned parquet table — the
    foreachBatch + MERGE INTO pattern every production pipeline lands
    (Structured Streaming guide's idempotent-sink recipe composed with
    `operators/dml.merge_into_partitioned`): a batch job seeds per-key
    state from the 'historical' half of events (event_id even), then a
    readStream over the 'new' half (event_id odd, clicks/views of
    user_id % 3 != 0 only) upserts ADDITIVE per-(user, event_type)
    aggregates via foreachBatch. The accumulators (count, per-key stream
    high-water mark) are associative and integer-exact, so the committed
    state is identical for ANY micro-batch partitioning — and the
    watermark makes a re-delivered batch a row-level no-op
    (at-least-once delivery, effectively-once state); only the click/view
    partitions are ever rewritten — the other three partition
    directories are untouched by the whole streaming run. The query
    returns the final COMMITTED table read back from disk. Target +
    checkpoint live under the Spark-visible warehouse scratch
    (`scratch_dir`); the merge commits through the Hadoop FS API."""
    from neumann_spark.operators.dml import merge_into_partitioned
    from neumann_spark.session import scratch_dir

    root, cleanup = scratch_dir(spark, "stream_merge_")
    tdir = f"{root}/target"
    cpdir = f"{root}/checkpoint"
    try:
        ev = load(spark, sf_dir, "events")
        (
            ev.filter(F.col("event_id") % 2 == 0)
            .groupBy("user_id", "event_type")
            .agg(F.count("*").alias("n"))
            # stream_wm = per-key high-water mark of PROCESSED STREAM
            # events only (seeded -1): the seed's own event ids interleave
            # with the stream's, so "max id ever seen" would wrongly
            # filter legitimate stream events below it
            .withColumn("stream_wm", F.lit(-1).cast("bigint"))
            .write.mode("overwrite").partitionBy("event_type").parquet(tdir)
        )

        def upsert(batch_df, _batch_id):
            touched = [r[0] for r in
                       batch_df.select("event_type").distinct().collect()]
            if not touched:
                return
            from neumann_spark.operators.dml import _pruned_target_read

            tgt = _pruned_target_read(spark, tdir, "event_type", touched)
            # replay safety (foreachBatch is at-least-once): the committed
            # per-key stream_wm is the high-water mark of stream events
            # already merged — a re-delivered micro-batch only contributes
            # events NEWER than it, so double delivery of the last batch
            # adds zero rows. Idempotence keys on the data itself rather
            # than on a batch-id marker that could land out-of-sync with
            # the merge commit; it assumes per-key event-id-monotone batch
            # order (append-only logs; here maxFilesPerTrigger forces ONE
            # batch so the assumption holds by construction even if the
            # fixture becomes a multi-file directory).
            wm = tgt.select("user_id", "event_type",
                            F.col("stream_wm").alias("wm"))
            fresh = (
                batch_df.join(wm, ["user_id", "event_type"], "left")
                .filter(F.col("event_id") > F.coalesce(F.col("wm"), F.lit(-1)))
            )
            inc = (
                fresh.groupBy("user_id", "event_type")
                .agg(F.count("*").alias("bn"),
                     F.max("event_id").alias("bmax"))
            )
            src = (
                inc.join(tgt, ["user_id", "event_type"], "left")
                .select(
                    "user_id", "event_type",
                    (F.col("bn") + F.coalesce(F.col("n"), F.lit(0))).alias("n"),
                    F.greatest(
                        F.col("bmax"),
                        F.coalesce(F.col("stream_wm"), F.lit(-1)),
                    ).alias("stream_wm"),
                )
            )
            if not src.head(1):
                return  # fully replayed batch: nothing fresh to commit
            merge_into_partitioned(
                spark, tdir, src,
                keys=["user_id", "event_type"], partition_col="event_type")

        stream = _events_stream(spark, sf_dir, single_batch=True).filter(
            (F.col("event_id") % 2 == 1)
            & F.col("event_type").isin(["click", "view"])
            & (F.col("user_id") % 3 != 0)
        )
        q = (
            stream.writeStream.foreachBatch(upsert)
            .option("checkpointLocation", cpdir)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination()
        finally:
            q.stop()
        out = spark.read.parquet(tdir).select(
            "user_id", "event_type", "n", "stream_wm")
        return out.localCheckpoint(eager=True)
    finally:
        cleanup()
