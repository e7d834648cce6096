"""Structured Streaming twins of the event-time operators (SURVEY §2-E
E9/E10 streaming forms).

The batch queries in operators/sessionize.py carry the oracle-checked
correctness burden; these twins demonstrate that the same logical operations
run as streams: file source → watermark → windowed/session aggregation →
sink. ``run_stream_to_memory`` executes with ``Trigger.AvailableNow`` (drain
everything, then stop), which is also the production pattern for periodic
backfill of a streaming pipeline.

Scale notes: in deployment the source is Kafka/file-stream with
``maxFilesPerTrigger`` bounding batch size; state store size is bounded by
the watermark horizon (10 min here), and ``session_window`` state is per
(user, open session) — both independent of total history size.
"""

from __future__ import annotations

import itertools
import os
import tempfile

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from pyspark_ml_features_spark.registry import register
from pyspark_ml_features_spark.sources import parquet_scan, table
from pyspark_ml_features_spark.tmp_artifacts import register as _rm_at_exit

_sink_counter = itertools.count()


def _mkdtemp(prefix: str) -> str:
    """mkdtemp with exit-time removal — streaming stages/checkpoints/sinks
    are per-run scratch and would otherwise accumulate across runs
    (ADVICE r3 leak finding). Cleanup is at exit, not in-function: the
    returned DataFrames lazily read these dirs until the driver collects."""
    return _rm_at_exit(tempfile.mkdtemp(prefix=prefix))


def _stage_single_parquet(sf_dir: str, name: str) -> str:
    """Expose one driver-shipped parquet FILE as a file-source stream
    directory via a symlink in a fresh staging dir (no copy; _mkdtemp
    guarantees the dir is empty, so the link never pre-exists)."""
    src = os.path.join(sf_dir, f"{name}.parquet")
    stage = _mkdtemp(f"{name}_stream_")
    os.symlink(src, os.path.join(stage, f"{name}.parquet"))
    return stage


def events_stream(spark: SparkSession, sf_dir: str,
                  max_files_per_trigger: int | None = None) -> DataFrame:
    """events as a file-source stream. The file source wants a directory;
    the driver ships a single parquet file, so we expose it via a symlinked
    staging dir (a no-copy operation). A multi-file events.parquet
    directory streams as is, ``max_files_per_trigger`` files a batch."""
    src = os.path.join(sf_dir, "events.parquet")
    stage = src if os.path.isdir(src) else _stage_single_parquet(sf_dir,
                                                                 "events")
    # Match the batch reader's layout handling (sources/io.py:table): the
    # legacy nanos layout must be read as long and truncated; the round-3+
    # timestamp[us] layout streams natively. The conf is set before the
    # schema read, as table() does, so both share one memoized relation.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = parquet_scan(spark, src)
    ts_raw = dict(raw.dtypes)["ts"]
    raw_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in raw.schema.fields)
    reader = spark.readStream.schema(raw_schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(stage)
    if ts_raw == "bigint":  # legacy nanos layout
        return stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    if ts_raw == "timestamp_ntz":
        return stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def streaming_tumbling_counts(events: DataFrame) -> DataFrame:
    """E10 streaming twin: watermarked tumbling 1 h windows per event type."""
    return (events.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum("value"), 6).alias("total_value"))
            .select(F.col("w.start").alias("window_start"),
                    F.col("w.end").alias("window_end"),
                    "event_type", "n_events", "total_value"))


def streaming_sessions(events: DataFrame) -> DataFrame:
    """E9 streaming twin: native session_window (30 min gap) per user —
    Spark manages session state/merging; the batch lag+cumsum twin is the
    oracle-checked equivalent."""
    return (events.withWatermark("ts", "10 minutes")
            .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum("value"), 6).alias("total_value"))
            .select("user_id",
                    F.col("w.start").alias("session_start"),
                    F.col("w.end").alias("session_end"),
                    "n_events", "total_value"))


def run_stream_to_memory(df: DataFrame, mode: str = "complete") -> DataFrame:
    """Drain a streaming DataFrame with AvailableNow into a memory sink and
    return the result as a batch DataFrame."""
    from pyspark_ml_features_spark.plans.audit import probe_stream_query

    name = f"stream_sink_{next(_sink_counter)}"
    q = (df.writeStream.format("memory").queryName(name)
         .outputMode(mode).trigger(availableNow=True).start())
    q.awaitTermination()
    # Audit tap (ADVICE r9): hand the EXECUTED streaming plan to the
    # scale ratchet — the drained memory-sink table the registry audit
    # sees is plan-opaque for everything upstream of the sink.
    probe_stream_query(q, f"stream.{name}")
    return df.sparkSession.table(name)


@register("s1_streaming_tumbling_windows",
          tags=("north-star", "E10", "streaming"))
def s1_streaming_tumbling_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window counts computed BY THE STREAMING ENGINE (AvailableNow
    drain, complete mode); equality with the batch twin is asserted in
    tests/test_streaming.py. Rows-only for the driver (streaming execution
    isn't SQL-oracle-able)."""
    return run_stream_to_memory(
        streaming_tumbling_counts(events_stream(spark, sf_dir)))


@register(
    "s14_streaming_windows_exact",
    oracle="""
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
       time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS window_end,
       event_type,
       count(*) AS n_events,
       round(sum(value), 6) AS total_value
FROM events
GROUP BY 1, 2, 3
""",
    tags=("north-star", "E10", "streaming", "integration"),
)
def s14_streaming_windows_exact(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """The repo's first ORACLE-GRADED streaming query: s1's tumbling
    windows computed BY THE STREAMING ENGINE (AvailableNow drain,
    complete mode, per-window state maintained across micro-batches)
    and hashed bit-exact against the same DuckDB SQL that grades the
    batch twin e10. s1 stays rows-only with its pytest batch-equality
    check; this query makes that equality a DRIVER-VERIFIED fact.

    Why it's deterministic where streaming usually isn't: complete
    mode emits the FULL final state after the last micro-batch, so
    late-data drops (s9's subject) and emission timing are out of the
    picture — only the aggregation values matter. Counts are exact;
    the one cross-row double sum carries the registry-wide 6-dp
    rounding convention (the e48 rule) which absorbs the third
    summation order the streaming state store introduces.

    100 TB: identical economics to e10 (one shuffle on the window/type
    key, partial aggregation map-side); complete mode is appropriate
    here only because the window/type key space is bounded — unbounded
    keys would use append mode + watermark eviction (s1/s9)."""
    return run_stream_to_memory(
        streaming_tumbling_counts(events_stream(spark, sf_dir)))


@register(
    "s15_stream_static_join_exact",
    oracle="""
SELECT time_bucket(INTERVAL '1 hour', e.ts) AS window_start,
       time_bucket(INTERVAL '1 hour', e.ts) + INTERVAL '1 hour'
           AS window_end,
       c.c_mktsegment AS segment,
       count(*) AS n_events,
       round(sum(e.value), 6) AS total_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2, 3
""",
    tags=("north-star", "streaming", "join", "integration"),
)
def s15_stream_static_join_exact(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Oracle-graded STREAM-STATIC JOIN — s11's enrichment shape (event
    stream broadcast-joined to the customer dimension per micro-batch,
    rolled up per 1 h window x market segment) drained in complete mode
    and hashed bit-exact against the equivalent batch join SQL. s14
    proved the streaming AGGREGATE exact; this pins the second
    production streaming shape — the per-batch dimension resolution and
    the join keying — under the same determinism argument (complete
    mode emits the full final state; counts exact, the one cross-row
    double sum on the 6-dp convention). s11 stays rows-only.

    100 TB/day: one shuffle on the (window, segment) aggregate key
    after map-side combine; the dimension stays broadcast-sized."""
    dim = table(spark, sf_dir, "customer").select("c_custkey",
                                                  "c_mktsegment")
    return run_stream_to_memory(
        streaming_enriched_segment_windows(events_stream(spark, sf_dir),
                                           dim))


@register(
    "s16_streaming_dedup_exact",
    oracle="""
SELECT event_id, ts, user_id, event_type, value
FROM events
""",
    tags=("north-star", "streaming", "dedup", "integration"),
)
def s16_streaming_dedup_exact(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Oracle-graded STREAMING DEDUP / exactly-once relay — s4's
    at-least-once shape (the stream unioned with itself, every event
    delivered twice) flowed through state-store dedup
    (dropDuplicatesWithinWatermark on event_id, append mode) and hashed
    against the plain projection of the events table: every event must
    come out EXACTLY once — a dropped event, a surviving duplicate, or
    a state-eviction slip each breaks the row-set hash. Deterministic
    because both copies are byte-identical (whichever copy wins, the
    emitted row is the same) and — since r11, closing an ADVICE r10
    finding — the duplicate is manufactured INSIDE the source row via
    an explode of a 2-element array, so both copies are guaranteed
    co-batched in the same micro-batch no matter how the file source
    splits files or what maxFilesPerTrigger is set to. The earlier
    union-of-two-streams form was exact only under a
    single-file/one-micro-batch assumption: dropDuplicatesWithinWatermark
    dedups within the 10-minute horizon, and a second copy arriving
    after state eviction would re-emit. The third production streaming
    shape graded exactly, after the aggregate (s14) and the
    stream-static join (s15); s4 stays rows-only.

    100 TB/day: state holds only ids inside the watermark horizon —
    bounded regardless of stream length (s4's economics)."""
    s = events_stream(spark, sf_dir)
    doubled = (s.withColumn("__copy", F.explode(F.array(F.lit(0),
                                                        F.lit(1))))
               .drop("__copy"))
    deduped = (doubled.withWatermark("ts", "10 minutes")
               .dropDuplicatesWithinWatermark(["event_id"])
               .select("event_id", "ts", "user_id", "event_type",
                       "value"))
    return run_stream_to_memory(deduped, mode="append")


@register(
    "s17_streaming_new_users_exact",
    oracle="""
WITH firsts AS (
    SELECT user_id, min(CAST(ts AS DATE)) AS first_day
    FROM events GROUP BY user_id
), by_day AS (
    SELECT first_day AS day, CAST(count(*) AS BIGINT) AS new_users
    FROM firsts GROUP BY first_day
)
SELECT CAST(day AS TIMESTAMP) AS day, new_users,
       CAST(sum(new_users) OVER (ORDER BY day ASC
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS cum_users
FROM by_day
""",
    tags=("north-star", "D8", "streaming", "incremental", "integration"),
)
def s17_streaming_new_users_exact(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Oracle-graded CUMULATIVE-USERS rollup — s8's shape (the streaming
    engine maintains the per-user first-seen-day table as a stateful min
    aggregate, drained complete; the |days|-row daily rollup + running
    sum finish batch-side) hashed bit-exact against d93's batch SQL.
    The fourth streaming shape graded exactly (after aggregate s14,
    stream-static join s15, dedup s16) and the first INTEGER-PURE one:
    min over timestamps and counts over users involve no floating point
    at all, so the grade needs no rounding convention — any state-store
    slip (a lost user, a wrong min across micro-batch state merges)
    flips an integer and breaks the hash. Deterministic under the s14
    rule: complete mode emits the full final state, a pure function of
    the input SET (min/count are order-insensitive). s8 stays rows-only.

    100 TB: the streaming state is 16 bytes/user (the MERGE-maintainable
    `firsts` table d93's docstring names); the downstream window runs
    over calendar days, never events (d93's economics)."""
    from pyspark.sql import Window

    s = events_stream(spark, sf_dir)
    firsts = (s.groupBy("user_id")
              .agg(F.min(F.col("ts").cast("date")).alias("first_day")))
    mat = run_stream_to_memory(firsts, mode="complete")
    by_day = (mat.groupBy(F.col("first_day").alias("day"))
              .agg(F.count(F.lit(1)).alias("new_users")))
    w = Window.orderBy(F.col("day").asc()) \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (by_day.select(
        F.col("day").cast("timestamp").alias("day"),
        "new_users",
        F.sum("new_users").over(w).cast("bigint").alias("cum_users")))


@register(
    "s18_streaming_merge_rollup_exact",
    oracle="""
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
       event_type,
       count(*) AS n_events,
       round(sum(value), 6) AS total_value
FROM events
GROUP BY 1, 2
""",
    tags=("north-star", "E10", "streaming", "incremental", "integration"),
)
def s18_streaming_merge_rollup_exact(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    """Oracle-graded INCREMENTAL MATERIALIZATION — s6's foreachBatch
    merge (the events table staged as 4 files, streamed one file per
    micro-batch, each batch's partial (window, type) aggregates MERGED
    into a parquet target by summing with the existing rows — history
    never rescanned) with the final materialized table hashed against
    the one-shot batch SQL. This is the continuous-aggregate contract
    stated as a driver-verified fact: incremental-merge == full
    recompute, which holds because count/sum are commutative monoids
    (the e107 argument applied to the streaming engine's batching).
    Counts are exact integers whatever the batch split; the double sum
    is merged in micro-batch order rather than scan order, absorbed by
    the registry-wide 6-dp rounding convention exactly as s14 absorbs
    the state store's summation order. The fifth streaming-exact shape;
    s6 stays rows-only with its pytest recompute-equality and replay-
    idempotency (batch-id ledger) checks, which cover the at-least-once
    redelivery path this complete-history hash can't see.

    100 TB: each merge touches only the window partitions the batch
    spans (partitioned target); the merge itself shuffles only
    rollup-sized rows, never events (s6's economics)."""
    target = _mkdtemp("pmfs_s18_rollup_")
    merged = run_streaming_materialized_rollup(spark, sf_dir, target)
    return merged.select(
        "window_start", "event_type",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.round(F.col("sum_value"), 6).alias("total_value"))


@register("s2_streaming_sessions", tags=("north-star", "E9", "streaming"))
def s2_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window sessionization on the stream (30 min gap)."""
    return run_stream_to_memory(streaming_sessions(events_stream(spark, sf_dir)))


def run_stream_foreach_batch_parquet(df: DataFrame, out_dir: str) -> None:
    """Drain a streaming DataFrame into partitioned parquet via
    foreachBatch — the production sink pattern when the target needs
    batch-only writers (merge/upsert, JDBC, bucketed tables). Each
    micro-batch arrives as a batch DataFrame with exactly-once semantics
    under AvailableNow + checkpointing."""
    import tempfile

    checkpoint = _mkdtemp("pmfs_ckpt_")

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(out_dir)

    q = (df.writeStream.foreachBatch(_write)
         .option("checkpointLocation", checkpoint)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    from pyspark_ml_features_spark.plans.audit import probe_stream_query
    probe_stream_query(q, "stream.foreach_batch_parquet")


def run_streaming_materialized_rollup(spark: SparkSession, sf_dir: str,
                                      target_dir: str,
                                      n_source_files: int = 4) -> DataFrame:
    """Maintain a MATERIALIZED hourly rollup from a stream via foreachBatch
    merge — the continuous-aggregate pattern (e19's batch logic) driven by
    the streaming engine. The events table is staged as ``n_source_files``
    files and streamed with ``maxFilesPerTrigger=1``, so the rollup target
    is built across several micro-batches, each merging partial aggregates
    by (window, type) — history is never rescanned. At 100 TB the target is
    a partitioned table and each merge touches only the window partitions
    the batch spans; the sum-merge itself is associative, which is what
    makes the incremental result equal the full recompute."""
    stage = _mkdtemp("events_staged_")
    table(spark, sf_dir, "events").repartition(n_source_files) \
        .write.mode("overwrite").parquet(stage)
    schema = spark.read.parquet(stage).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(stage))

    # foreachBatch is at-least-once: a micro-batch replayed after a failure
    # would be merged twice and double-count. A sidecar ledger of merged
    # batch_ids (outside target_dir, which each merge overwrites) makes the
    # merge idempotent — the same transaction-log idea Delta's MERGE uses.
    ledger = _rm_at_exit(target_dir.rstrip("/") + ".merged_batches")

    def _merged_ids() -> set:
        try:
            with open(ledger) as f:
                return {int(x) for x in f.read().split()}
        except OSError:
            return set()

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id in _merged_ids():
            return
        part = (batch_df.groupBy(F.window("ts", "1 hour").alias("w"),
                                 "event_type")
                .agg(F.count(F.lit(1)).alias("n_events"),
                     F.sum("value").alias("sum_value"))
                .select(F.col("w.start").alias("window_start"),
                        "event_type", "n_events", "sum_value"))
        s = batch_df.sparkSession
        try:
            cur = s.read.parquet(target_dir)
        except Exception:
            cur = None
        if cur is not None:
            part = (cur.unionByName(part)
                    .groupBy("window_start", "event_type")
                    .agg(F.sum("n_events").alias("n_events"),
                         F.sum("sum_value").alias("sum_value")))
        out = _mkdtemp("rollup_out_")
        part.write.mode("overwrite").parquet(out)
        s.read.parquet(out).write.mode("overwrite").parquet(target_dir)
        with open(ledger, "a") as f:
            f.write(f"{batch_id}\n")

    checkpoint = _mkdtemp("pmfs_ckpt_")
    q = (stream.writeStream.foreachBatch(merge)
         .option("checkpointLocation", checkpoint)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    from pyspark_ml_features_spark.plans.audit import probe_stream_query
    probe_stream_query(q, "stream.materialized_rollup")
    return spark.read.parquet(target_dir)


def _attribution_sides(spark: SparkSession, sf_dir: str, streaming: bool):
    src = (events_stream(spark, sf_dir) if streaming
           else table(spark, sf_dir, "events"))
    clicks = (src.filter(F.col("event_type") == "click")
              .select(F.col("event_id").alias("click_id"),
                      F.col("user_id").alias("click_user"),
                      F.col("ts").alias("click_ts")))
    purchases = (
        (events_stream(spark, sf_dir) if streaming else src)
        .filter(F.col("event_type") == "purchase")
        .select(F.col("event_id").alias("purchase_id"),
                F.col("user_id").alias("purchase_user"),
                F.col("ts").alias("purchase_ts"),
                F.col("value").alias("purchase_value")))
    return clicks, purchases


def attribution_join(clicks: DataFrame, purchases: DataFrame) -> DataFrame:
    """Inner join: each purchase to every click by the same user in the
    preceding hour — the classic stream-stream attribution shape."""
    return (purchases.join(
        clicks,
        (F.col("click_user") == F.col("purchase_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR")))
        .select("purchase_id", F.col("purchase_user").alias("user_id"),
                "purchase_ts", "purchase_value", "click_id", "click_ts"))


@register("s5_streaming_attribution_join",
          tags=("north-star", "streaming", "join"))
def s5_streaming_attribution_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM interval join: purchases ⋈ clicks by user within a
    1-hour attribution window, both sides watermarked so the state store
    retains only rows inside watermark + join-window horizon — bounded
    state, the property that lets the join run forever on an unbounded
    stream. Rows-only (streaming execution isn't SQL-oracle-able);
    equality with the batch twin is asserted in tests/test_streaming.py."""
    clicks, purchases = _attribution_sides(spark, sf_dir, streaming=True)
    joined = attribution_join(
        clicks.withWatermark("click_ts", "10 minutes"),
        purchases.withWatermark("purchase_ts", "10 minutes"))
    return run_stream_to_memory(joined, mode="append")


@register("s4_streaming_dedup", tags=("north-star", "E1", "streaming", "dedup"))
def s4_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup under at-least-once delivery: the events stream
    unioned with itself (every event delivered twice — the redelivery
    pattern a Kafka consumer must survive) flows through
    ``dropDuplicatesWithinWatermark`` keyed on event_id, so each event is
    emitted exactly once. State holds only ids inside the 10-minute
    watermark horizon — bounded regardless of stream length, which is what
    makes this the production dedup gate in front of an append sink.
    Rows-only (streaming execution isn't SQL-oracle-able); equality with
    the batch distinct is asserted in tests/test_streaming.py."""
    s = events_stream(spark, sf_dir)
    doubled = s.unionAll(events_stream(spark, sf_dir))
    deduped = (doubled.withWatermark("ts", "10 minutes")
               .dropDuplicatesWithinWatermark(["event_id"])
               .select("event_id", "ts", "user_id", "event_type", "value"))
    return run_stream_to_memory(deduped, mode="append")


@register("s7_python_source_stream",
          tags=("north-star", "streaming", "source"))
def s7_python_source_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type totals over the custom pure-Python streaming connector
    (``synthetic_events``: a SimpleDataSourceStreamReader with dict offsets
    and deterministic replay — the shape of a queue/CDC connector with no
    JVM code). The engine checkpoints the connector's offsets per
    micro-batch, so the aggregate sees each event exactly once even though
    delivery is batched. Drained with a bounded processingTime poll
    (AvailableNow only plans the connector's initial prefetch), complete
    mode; rows-only for the driver — the input never exists as a table.
    tests/test_io.py asserts the exactly-once drain row-for-row."""
    import time

    from pyspark_ml_features_spark.sources.pyds import register_python_sources

    register_python_sources(spark)
    n_total = 200
    stream = (spark.readStream.format("synthetic_events")
              .option("n", n_total).option("batch_size", 50).load())
    agg = (stream.groupBy("event_type")
           .agg(F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 6).alias("total_value")))
    name = f"stream_sink_{next(_sink_counter)}"
    q = (agg.writeStream.format("memory").queryName(name)
         .outputMode("complete").trigger(processingTime="200 milliseconds")
         .start())
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            got = (spark.table(name).agg(F.sum("n_events")).first()[0] or 0)
            if got >= n_total:
                break
            time.sleep(0.5)
        else:
            raise TimeoutError("s7 stream did not drain in 120 s")
    finally:
        q.stop()
    return spark.table(name)


@register("s6_streaming_materialized_rollup",
          tags=("north-star", "E10", "streaming", "incremental"))
def s6_streaming_materialized_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained hourly rollup via foreachBatch merge (e19's
    batch logic driven by the streaming engine, availableNow). Rows-only:
    the merged target must equal the one-shot recompute — asserted in
    tests/test_streaming.py, along with replay idempotency of the
    batch-id ledger under at-least-once redelivery."""
    target = _mkdtemp("pmfs_s6_rollup_")
    return run_streaming_materialized_rollup(spark, sf_dir, target)


@register("s8_streaming_new_users",
          tags=("north-star", "D8", "streaming", "incremental"))
def s8_streaming_new_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of d93 (cumulative distinct users): the STREAMING
    engine continuously maintains the per-user first-seen-day table (one
    stateful min aggregate — state is 16 bytes/user, the same MERGE-
    maintainable `firsts` table d93's docstring names), drained with
    AvailableNow/complete; the |days|-row daily rollup + running sum then
    runs batch-side on the drained result, exactly as a downstream
    dashboard would. Chaining both aggregations inside one streaming query
    is unsupported (and unnecessary — the second is over days, not
    events). Rows-only for the driver; equality with d93 is asserted in
    tests/test_streaming.py."""
    from pyspark.sql import Window

    s = events_stream(spark, sf_dir)
    firsts = (s.groupBy("user_id")
              .agg(F.min(F.col("ts").cast("date")).alias("first_day")))
    mat = run_stream_to_memory(firsts, mode="complete")
    by_day = (mat.groupBy(F.col("first_day").alias("day"))
              .agg(F.count(F.lit(1)).alias("new_users")))
    w = Window.orderBy(F.col("day").asc()) \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (by_day.select(
        F.col("day").cast("timestamp").alias("day"),
        "new_users",
        F.sum("new_users").over(w).cast("bigint").alias("cum_users")))


LATE_SPLIT_DAY = "2024-01-15"
MID_SPLIT_DAY = "2024-01-08"


def staged_three_batch_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events staged as THREE files so the file source delivers three
    micro-batches (``maxFilesPerTrigger=1``), newest history first:
    batch 0 = ts >= LATE_SPLIT_DAY (advances the watermark to
    max(ts) - 1 h), batch 1 = the middle week, batch 2 = the oldest week.
    The point of three batches: Spark's late-record filter uses the
    watermark with a ONE-BATCH LAG (the filter for batch N applies the
    watermark committed when batch N was constructed, i.e. derived from
    data through batch N-1 — observed on 4.1: batch 1's behind-watermark
    rows are admitted with numRowsDroppedByWatermark=0, batch 2's are
    dropped with numRowsDroppedByWatermark=n). So batch 1 lands as
    immediately-closed windows while batch 2 is the provably-DROPPED late
    data. File-source ordering is by modification time; mtimes are pinned
    explicitly so arrival order never depends on write latency."""
    src = table(spark, sf_dir, "events")
    stage = _mkdtemp("events_late_stream_")
    late_day = F.lit(LATE_SPLIT_DAY).cast("timestamp")
    mid_day = F.lit(MID_SPLIT_DAY).cast("timestamp")
    parts = (
        src.filter(F.col("ts") >= late_day),
        src.filter((F.col("ts") >= mid_day) & (F.col("ts") < late_day)),
        src.filter(F.col("ts") < mid_day),
    )
    paths = []
    for i, part in enumerate(parts):
        import pyarrow as pa
        import pyarrow.parquet as pq

        pdf = part.toPandas()
        p = os.path.join(stage, f"batch{i}.parquet")
        # pandas datetime64[ns] would land as TIMESTAMP(NANOS), which the
        # vectorized reader rejects — write the round-3+ timestamp[us]
        # layout the rest of the engine expects.
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), p,
                       coerce_timestamps="us",
                       allow_truncated_timestamps=True)
        paths.append(p)
    base = 1_600_000_000  # fixed epoch; only relative order matters
    for i, p in enumerate(paths):
        os.utime(p, (base + i * 60, base + i * 60))
    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                       for f in src.schema.fields)
    return (spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1").parquet(stage))


@register("s9_streaming_late_data_drop",
          tags=("north-star", "E10", "streaming", "watermark"))
def s9_streaming_late_data_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark LATE-DATA semantics made observable: daily tumbling counts
    in APPEND mode over a three-batch arrival where January's history
    arrives newest-week-first. After batch 0 the watermark stands at
    Jan 30 ~23:00; batch 1 (Jan 8-14) slips in under the one-batch filter
    lag (see staged_three_batch_stream) and is emitted as already-closed
    windows; batch 2 (Jan 1-7) meets the now-committed watermark and is
    DROPPED ENTIRELY. The result therefore contains exactly the closed
    daily windows with ts >= MID_SPLIT_DAY and nothing earlier — while a
    batch aggregate over the same input would count all 30 days. That
    deterministic drop set is pinned against the batch twin in
    tests/test_streaming.py.

    100 TB: the watermark horizon (1 h) bounds aggregation state
    regardless of stream length — the whole point of emitting-and-
    discarding closed windows; the dropped week becomes a dead-letter
    reprocessing batch (e38's MERGE rollup is the repair path)."""
    s = staged_three_batch_stream(spark, sf_dir)
    agg = (s.withWatermark("ts", "1 hour")
           .groupBy(F.window("ts", "1 day").alias("w"))
           .agg(F.count(F.lit(1)).alias("n_events")))
    out = run_stream_to_memory(agg, mode="append")
    return (out.select(F.col("w.start").alias("window_start"),
                       F.col("w.end").alias("window_end"), "n_events")
            .orderBy("window_start"))


@register("s10_streaming_outer_attribution",
          tags=("north-star", "streaming", "join", "outer"))
def s10_streaming_outer_attribution(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — s5 plus the rows marketing
    actually asks about: purchases with NO qualifying click in the
    preceding hour, emitted with NULL click columns. Outer results cannot
    emit eagerly (a match may still arrive), so the engine holds the
    purchase in state until the watermark passes its join window and only
    then emits the NULL row — which means unmatched purchases inside the
    final watermark horizon are STILL PENDING when an AvailableNow drain
    stops. That residue is semantics, not loss: tests/test_streaming.py
    pins streaming == batch MINUS exactly the unmatched purchases within
    the last watermark interval.

    100 TB: state is bounded by watermark + join-window horizon per side,
    same as s5 — the outer variant adds only the pending-purchase buffer,
    which the watermark drains continuously in production (the residue
    exists only because a drain STOPS the clock)."""
    clicks, purchases = _attribution_sides(spark, sf_dir, streaming=True)
    joined = (purchases.withWatermark("purchase_ts", "10 minutes").join(
        clicks.withWatermark("click_ts", "10 minutes"),
        (F.col("click_user") == F.col("purchase_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts")
           - F.expr("INTERVAL 1 HOUR")),
        "left_outer")
        .select("purchase_id", F.col("purchase_user").alias("user_id"),
                "purchase_ts", "purchase_value", "click_id", "click_ts"))
    return run_stream_to_memory(joined, mode="append")


def streaming_enriched_segment_windows(events: DataFrame,
                                       dim: DataFrame) -> DataFrame:
    """Stream-STATIC enrichment join + windowed aggregate: each event joins
    the static customer dimension (broadcast — no stream state, re-resolved
    per micro-batch), then rolls up per (1 h window, market segment)."""
    return (events.withWatermark("ts", "10 minutes")
            .join(F.broadcast(dim), events["user_id"] == dim["c_custkey"])
            .groupBy(F.window("ts", "1 hour").alias("w"), "c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum("value"), 6).alias("total_value"))
            .select(F.col("w.start").alias("window_start"),
                    F.col("w.end").alias("window_end"),
                    F.col("c_mktsegment").alias("segment"),
                    "n_events", "total_value"))


@register("s11_stream_static_enrich",
          tags=("north-star", "streaming", "join"))
def s11_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static ENRICHMENT — the most common production streaming
    shape (click stream x user/account dimension) and the one streaming
    join that needs NO watermark state: the static side is a plain batch
    table, broadcast into each micro-batch, so unlike stream-stream joins
    (s5/s10) there is no buffered-row horizon and no late-pairing
    semantics — the dimension is simply re-read (and at deployment,
    re-broadcast on change) per batch. Rows-only for the driver;
    tests/test_streaming.py pins streaming == the identical batch
    join+rollup.

    100 TB/day: the stream shuffles once on the window x segment
    aggregate key (after map-side combine); the dimension stays
    broadcast-sized (account tables are ~GB, not TB). A dimension too
    big to broadcast becomes a stream-stream join against its CDC feed
    (d100's compaction is the state twin)."""
    dim = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return run_stream_to_memory(
        streaming_enriched_segment_windows(events_stream(spark, sf_dir), dim))


def chained_window_rollup(events: DataFrame) -> DataFrame:
    """TWO stateful aggregations chained in one streaming query (Spark 4
    capability — earlier versions rejected a second stateful operator):
    15-minute (window, event_type) counts re-aggregate into 1-hour
    super-windows via ``F.window`` over the level-1 window column."""
    lvl1 = (events.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "15 minutes").alias("w1"), "event_type")
            .agg(F.count(F.lit(1)).alias("n")))
    return (lvl1.groupBy(F.window(F.col("w1"), "1 hour").alias("w2"),
                         "event_type")
            .agg(F.sum("n").alias("n_total"),
                 F.count(F.lit(1)).alias("n_buckets"))
            .select(F.col("w2.start").alias("window_start"),
                    F.col("w2.end").alias("window_end"),
                    "event_type", "n_total", "n_buckets"))


@register("s12_chained_stateful_windows",
          tags=("north-star", "streaming", "chained-stateful"))
def s12_chained_stateful_windows(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Chained stateful streaming — the multi-level rollup (minutely →
    hourly → daily) that previously required one job per level with an
    intermediate sink now runs as ONE query with two watermarked
    aggregations; Spark propagates the watermark through the first
    aggregate so the second's state is bounded too. Append mode is
    mandatory (each level emits windows only as the watermark closes
    them), so the drain's result is exactly the CLOSED 1-hour windows —
    tests/test_streaming.py pins streaming == batch twin minus the
    windows still inside the final watermark horizon (the same residue
    accounting as s10).

    100 TB/day: two shuffles (level-1 window×type key, level-2
    super-window key), each state store bounded by watermark horizon ×
    key cardinality; the level-2 input is already aggregate-sized. This
    replaces sink+re-read pipelines and their double storage cost."""
    return run_stream_to_memory(
        chained_window_rollup(events_stream(spark, sf_dir)), mode="append")


def documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents as a file-source stream (the events_stream symlink
    trick; no timestamp normalization needed — this is the binary/media
    ingest shape: a watcher directory of arriving media-bearing files)."""
    src = os.path.join(sf_dir, "documents.parquet")
    stage = _stage_single_parquet(sf_dir, "documents")
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in parquet_scan(spark, src).schema.fields)
    return spark.readStream.schema(schema).parquet(stage)


def streaming_media_features(docs: DataFrame) -> DataFrame:
    """Media decode under structured streaming: the e98 Arrow decode
    boundary (synthesize a real PNG per doc, full zlib+defilter decode,
    position-weighted checksum) applied as a STATELESS streaming
    projection, then a global aggregate — the 'decode features on
    ingest' pipeline. mapInPandas composes with readStream unchanged:
    same schema, same batch shape, per-micro-batch execution."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    def _decode(batches: "Iterator[pd.DataFrame]"):
        from pyspark_ml_features_spark.operators.multimodal import (
            decode_png, synth_png)

        for pdf in batches:
            out = []
            for i in pdf["doc_id"]:
                i = int(i)
                px = decode_png(
                    synth_png(i, 5 + i % 4, 4 + i % 3)).astype("int64")
                h, w = px.shape
                weights = (np.arange(w * h, dtype="int64") + 1
                           ).reshape(h, w)
                out.append((i, int((px * weights).sum())))
            yield pd.DataFrame(out, columns=["doc_id", "checksum"])

    decoded = docs.select("doc_id").mapInPandas(
        _decode, schema="doc_id long, checksum long")
    return decoded.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("checksum").cast("bigint").alias("checksum_sum"))


@register("s13_streaming_media_decode",
          tags=("north-star", "streaming", "multimodal"))
def s13_streaming_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The media family's streaming twin — real PNG decode (e98's exact
    boundary) running per micro-batch on a document stream, reduced to
    (n_docs, checksum_sum). Equality with the batch twin is asserted in
    tests/test_streaming.py (the checksum sum is order-independent
    integer math, so streaming == batch exactly). Rows-only for the
    driver (streaming execution isn't SQL-oracle-able); e98 is the
    hash-graded batch oracle for the same decode.

    100 TB/day ingest: decode is stateless (no watermark, no state
    store) — each micro-batch Arrow-streams its files through Python
    workers and emits metadata; the only stateful node is the final
    scalar aggregate. This is the shape for 'extract features as media
    lands' pipelines; swap the synth step for the binaryFile source
    (a28) in deployment."""
    return run_stream_to_memory(
        streaming_media_features(documents_stream(spark, sf_dir)))
