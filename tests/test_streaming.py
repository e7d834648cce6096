"""Streaming twins must agree with their oracle-checked batch counterparts
(complete-mode AvailableNow drain processes every event, so no watermark
drops — exact equality is the contract)."""

from __future__ import annotations

import pyspark.sql.functions as F

from pyspark_ml_features_spark import registry
from tests.conftest import SF_DIR, assert_frames_match

ALL = registry.all_queries()


def test_streaming_tumbling_equals_batch(spark):
    stream = ALL["s1_streaming_tumbling_windows"].fn(spark, SF_DIR).toPandas()
    batch = (ALL["e10_tumbling_windows"].fn(spark, SF_DIR)
             .drop("n_users").toPandas())
    assert_frames_match(stream, batch, "streaming_tumbling_vs_batch")


def test_stateful_totals_equal_batch_groupby(spark):
    """applyInPandasWithState totals (single AvailableNow batch) must equal
    the batch aggregate. Python float accumulation happens in one sequential
    pass per user either way; totals rounded to 6 dp on both sides."""
    from pyspark_ml_features_spark.sources import table

    stream = (ALL["s3_streaming_stateful_totals"].fn(spark, SF_DIR)
              .withColumn("total_value", F.round("total_value", 6))
              .toPandas())
    batch = (table(spark, SF_DIR, "events")
             .groupBy("user_id")
             .agg(F.count(F.lit(1)).alias("n_events"),
                  F.round(F.sum("value"), 6).alias("total_value"))
             .toPandas())
    assert_frames_match(stream, batch, "stateful_totals_vs_batch",
                        float_rtol=1e-9)


def test_streaming_sessions_match_batch_sessionize(spark):
    """session_window's (start, end) differs from the batch twin's min/max ts
    representation (end = last_ts + gap), but session membership must agree:
    same number of sessions per user, same event totals."""
    stream = (ALL["s2_streaming_sessions"].fn(spark, SF_DIR)
              .groupBy("user_id")
              .agg(F.count(F.lit(1)).alias("n_sessions"),
                   F.sum("n_events").alias("n_events"))
              .toPandas())
    batch = (ALL["e9_sessionize"].fn(spark, SF_DIR)
             .groupBy("user_id")
             .agg(F.count(F.lit(1)).alias("n_sessions"),
                  F.sum("n_events").alias("n_events"))
             .toPandas())
    assert_frames_match(stream, batch, "streaming_sessions_vs_batch")


def test_streaming_dedup_equals_batch_distinct(spark):
    """s4 doubles the stream (at-least-once redelivery) then dedups on
    event_id — the output must be exactly the original event set."""
    from pyspark_ml_features_spark.sources import table

    stream = ALL["s4_streaming_dedup"].fn(spark, SF_DIR)
    batch = table(spark, SF_DIR, "events")
    assert stream.count() == batch.count()
    assert (stream.agg(F.sum("event_id")).collect()[0][0]
            == batch.agg(F.sum("event_id")).collect()[0][0])
    assert stream.select("event_id").distinct().count() == batch.count()


def test_streaming_attribution_join_equals_batch(spark):
    """s5's stream-stream interval join must produce exactly the batch
    join's rows (the watermark horizon exceeds the fixture's disorder)."""
    from pyspark_ml_features_spark.streaming.events import (
        _attribution_sides, attribution_join)

    stream = ALL["s5_streaming_attribution_join"].fn(spark, SF_DIR).toPandas()
    clicks, purchases = _attribution_sides(spark, SF_DIR, streaming=False)
    batch = attribution_join(clicks, purchases).toPandas()
    assert_frames_match(stream, batch, "streaming_attribution_vs_batch")


def test_transform_with_state_totals_equals_batch(spark):
    """s7 (transformWithStateInPandas) must match the batch per-user totals.
    Skipped where google.protobuf is absent — the API's state-server
    protocol requires it (see transform_with_state_available)."""
    import pytest

    from pyspark_ml_features_spark.sources import table
    from pyspark_ml_features_spark.streaming.stateful import (
        s7_transform_with_state_totals, transform_with_state_available)

    if not transform_with_state_available():
        pytest.skip("google.protobuf not installed in this environment")
    stream = (s7_transform_with_state_totals(spark, SF_DIR)
              .groupBy("user_id").agg(F.max("n_events").alias("n_events"))
              .toPandas())
    batch = (table(spark, SF_DIR, "events").groupBy("user_id")
             .agg(F.count(F.lit(1)).alias("n_events")).toPandas())
    assert_frames_match(stream, batch, "tws_totals_vs_batch")


def test_streaming_materialized_rollup_equals_full_recompute(spark, tmp_path):
    """The foreachBatch-merged rollup, built one micro-batch at a time,
    must equal the one-shot batch rollup of the whole table (values rounded
    6 dp — partial-sum association differs in the last ulp)."""
    from pyspark_ml_features_spark.sources import table
    from pyspark_ml_features_spark.streaming.events import (
        run_streaming_materialized_rollup)

    target = str(tmp_path / "rollup")
    got = run_streaming_materialized_rollup(spark, SF_DIR, target)
    want = (table(spark, SF_DIR, "events")
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum("value").alias("sum_value"))
            .select(F.col("w.start").alias("window_start"),
                    "event_type", "n_events", "sum_value"))
    got = got.withColumn("sum_value", F.round("sum_value", 6)).toPandas()
    want = want.withColumn("sum_value", F.round("sum_value", 6)).toPandas()
    assert_frames_match(got, want, "materialized_rollup_vs_recompute")


def test_foreach_batch_parquet_sink(spark, tmp_path):
    """foreachBatch parquet drain must contain exactly the batch rows."""
    from pyspark_ml_features_spark.sources import table
    from pyspark_ml_features_spark.streaming.events import (
        events_stream,
        run_stream_foreach_batch_parquet,
    )

    out = str(tmp_path / "events_out")
    run_stream_foreach_batch_parquet(events_stream(spark, SF_DIR), out)
    written = spark.read.parquet(out)
    batch = table(spark, SF_DIR, "events")
    assert written.count() == batch.count()
    assert (written.agg(F.sum("event_id")).collect()[0][0]
            == batch.agg(F.sum("event_id")).collect()[0][0])


def test_rocksdb_state_store_equals_default(spark):
    """The RocksDB state store provider (disk-backed state — the 100 TB
    posture when aggregation state outgrows executor heaps) must produce
    the same windowed aggregate as the default in-memory provider."""
    from pyspark_ml_features_spark.streaming.events import (
        events_stream,
        run_stream_to_memory,
        streaming_tumbling_counts,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    rocks = ("org.apache.spark.sql.execution.streaming.state"
             ".RocksDBStateStoreProvider")
    baseline = run_stream_to_memory(
        streaming_tumbling_counts(events_stream(spark, SF_DIR))).toPandas()
    spark.conf.set(key, rocks)
    try:
        got = run_stream_to_memory(
            streaming_tumbling_counts(events_stream(spark, SF_DIR))).toPandas()
    finally:
        spark.conf.unset(key)
    assert_frames_match(got, baseline, "rocksdb_vs_default_state_store")


def test_streaming_rollup_merge_is_idempotent_under_replay(spark, tmp_path):
    """ADVICE r2: foreachBatch is at-least-once, so replayed micro-batches
    must NOT double-count. Re-driving the whole stream at the SAME target
    (fresh checkpoint -> batch ids replay from 0) is exactly the redelivery
    case: the batch-id ledger must skip every already-merged batch and leave
    the rollup byte-identical."""
    from pyspark_ml_features_spark.streaming.events import (
        run_streaming_materialized_rollup)

    target = str(tmp_path / "rollup")
    first = run_streaming_materialized_rollup(spark, SF_DIR, target).toPandas()
    replay = run_streaming_materialized_rollup(spark, SF_DIR, target).toPandas()
    assert_frames_match(replay, first, "rollup_replay_idempotency")


def test_streaming_new_users_equals_batch(spark):
    """s8's stream-maintained firsts table must reproduce d93 exactly."""
    from pyspark_ml_features_spark import registry

    ALL = registry.all_queries()
    s = ALL["s8_streaming_new_users"].fn(spark, SF_DIR).collect()
    b = ALL["d93_cumulative_distinct_users"].fn(spark, SF_DIR).collect()
    assert sorted(map(tuple, s)) == sorted(map(tuple, b))


def test_late_data_dropped_by_watermark(spark):
    """s9: append-mode output must be exactly the CLOSED daily windows of
    the rows from batches 0-1 (ts >= MID_SPLIT_DAY) — nothing from the
    oldest week (batch 2, provably dropped by the watermark), no unclosed
    final window."""
    from pyspark_ml_features_spark.sources import table
    from pyspark_ml_features_spark.streaming.events import MID_SPLIT_DAY

    got = ALL["s9_streaming_late_data_drop"].fn(spark, SF_DIR).toPandas()
    ev = table(spark, SF_DIR, "events")
    kept = ev.filter(F.col("ts") >= F.lit(MID_SPLIT_DAY).cast("timestamp"))
    max_ts = kept.agg(F.max("ts")).collect()[0][0]
    batch = (kept.groupBy(F.window("ts", "1 day").alias("w"))
             .agg(F.count(F.lit(1)).alias("n_events"))
             .select(F.col("w.start").alias("window_start"),
                     F.col("w.end").alias("window_end"), "n_events")
             .toPandas())
    import pandas as pd

    watermark = max_ts - pd.Timedelta(hours=1)
    closed = (batch[batch["window_end"] <= watermark]
              .sort_values("window_start").reset_index(drop=True))
    got = got.sort_values("window_start").reset_index(drop=True)
    # every emitted window starts on/after the mid split: the oldest-week
    # batch was dropped by the watermark, not aggregated
    assert (got["window_start"] >= pd.Timestamp(MID_SPLIT_DAY)).all()
    pd.testing.assert_frame_equal(got, closed, check_dtype=False)


def test_outer_attribution_withholds_only_horizon_residue(spark):
    """s10: the streaming LEFT OUTER join must equal the batch outer join
    minus exactly the unmatched purchases within the final 10-minute
    watermark horizon (their NULL rows are still pending when the drain
    stops); every matched row must be present."""
    import pandas as pd

    from pyspark_ml_features_spark.streaming.events import _attribution_sides

    got = (ALL["s10_streaming_outer_attribution"].fn(spark, SF_DIR)
           .toPandas().sort_values(["purchase_id", "click_id"])
           .reset_index(drop=True))
    clicks, purchases = _attribution_sides(spark, SF_DIR, streaming=False)
    batch = (purchases.join(
        clicks,
        (F.col("click_user") == F.col("purchase_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts")
           - F.expr("INTERVAL 1 HOUR")),
        "left_outer")
        .select("purchase_id", F.col("purchase_user").alias("user_id"),
                "purchase_ts", "purchase_value", "click_id", "click_ts")
        .toPandas())
    max_ts = batch["purchase_ts"].max()
    horizon = max_ts - pd.Timedelta(minutes=10)
    pending = batch["click_id"].isna() & (batch["purchase_ts"] > horizon)
    expected = (batch[~pending]
                .sort_values(["purchase_id", "click_id"])
                .reset_index(drop=True))
    assert pending.sum() >= 1, "fixture must exercise the pending residue"
    assert_frames_match(got, expected, "outer_attribution_vs_batch")


def test_stream_static_enrich_equals_batch(spark):
    """Stream-static broadcast enrichment (complete-mode drain) must equal
    the identical batch join + windowed rollup."""
    from pyspark_ml_features_spark.sources import table

    stream = ALL["s11_stream_static_enrich"].fn(spark, SF_DIR).toPandas()
    ev = table(spark, SF_DIR, "events")
    dim = table(spark, SF_DIR, "customer").select("c_custkey", "c_mktsegment")
    batch = (ev.join(F.broadcast(dim), ev["user_id"] == dim["c_custkey"])
             .groupBy(F.window("ts", "1 hour").alias("w"), "c_mktsegment")
             .agg(F.count(F.lit(1)).alias("n_events"),
                  F.round(F.sum("value"), 6).alias("total_value"))
             .select(F.col("w.start").alias("window_start"),
                     F.col("w.end").alias("window_end"),
                     F.col("c_mktsegment").alias("segment"),
                     "n_events", "total_value")
             .toPandas())
    assert_frames_match(stream, batch, "stream_static_enrich_vs_batch")


def test_chained_stateful_windows_match_batch_closed_set(spark):
    """Two chained stateful aggregations (append mode): the drain emits
    exactly the 1-hour super-windows the final watermark closed — the
    batch twin filtered to window_end <= max(ts) - 10 min."""
    from pyspark_ml_features_spark.sources import table
    from pyspark_ml_features_spark.streaming.events import (
        chained_window_rollup,
    )

    stream = (ALL["s12_chained_stateful_windows"].fn(spark, SF_DIR)
              .toPandas())
    ev = table(spark, SF_DIR, "events")
    lvl1 = (ev.groupBy(F.window("ts", "15 minutes").alias("w1"),
                       "event_type")
            .agg(F.count(F.lit(1)).alias("n")))
    batch = (lvl1.groupBy(F.window(F.col("w1"), "1 hour").alias("w2"),
                          "event_type")
             .agg(F.sum("n").alias("n_total"),
                  F.count(F.lit(1)).alias("n_buckets"))
             .select(F.col("w2.start").alias("window_start"),
                     F.col("w2.end").alias("window_end"),
                     "event_type", "n_total", "n_buckets"))
    import pyspark.sql.functions as FF
    wm = ev.agg(FF.max("ts")).collect()[0][0] - __import__(
        "datetime").timedelta(minutes=10)
    closed = batch.filter(F.col("window_end") <= FF.lit(wm)).toPandas()
    assert_frames_match(stream, closed, "chained_stateful_vs_batch_closed")


def test_watermark_bounds_state_and_drops_late_replay(spark, tmp_path):
    """The measured `scripts/ladder.py streaming` result, pinned as an
    invariant (round 5): across checkpoint-restart drains of advancing event time,
    a watermarked windowed aggregate's live state PLATEAUS at the
    windows inside the horizon (evicting closed windows every stage), and a
    replay of long-past hours is fully dropped —
    numRowsDroppedByWatermark counts post-partial-agg GROUP rows, and
    state is untouched. This is the 100 TB claim every s-query
    docstring makes ('state bounded by watermark horizon, independent
    of history'), executed rather than asserted."""
    import pyspark.sql.functions as FF

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    schema = "event_id bigint, ts timestamp"
    n, hours = 600, 3  # one stage = 3 h of events, 200/h

    def write_stage(stage, hour_offset=None):
        h0 = stage * hours if hour_offset is None else hour_offset
        stride = 3600 * hours // n
        (spark.range(n)
         .select((FF.lit(stage) * 10_000 + FF.col("id")).alias("event_id"),
                 (FF.to_timestamp(FF.lit("2024-01-01 00:00:00"))
                  + FF.make_interval(secs=(FF.lit(h0) * 3600
                                           + FF.col("id") * stride)
                                     .cast("double"))).alias("ts"))
         .coalesce(1).write.mode("append").parquet(str(src)))

    def drain():
        agg = (spark.readStream.schema(schema).parquet(str(src))
               .withWatermark("ts", "10 minutes")
               .groupBy(FF.window("ts", "1 hour"))
               .agg(FF.count(FF.lit(1)).alias("cnt")))
        q = (agg.writeStream.format("noop").outputMode("append")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        state = dropped = 0
        for p in q.recentProgress:
            for so in p["stateOperators"]:
                state = so["numRowsTotal"]
                dropped += so.get("numRowsDroppedByWatermark", 0)
        return state, dropped

    states = []
    for k in range(3):
        write_stage(k)
        state, dropped = drain()
        states.append(state)
        assert dropped == 0
    # plateau: only the horizon's windows stay live, regardless of stage
    assert states[0] == states[1] == states[2] == 1, states
    # replay hours [0, 3) — far behind the ~9h watermark: all dropped,
    # state untouched (cross-restart enforcement is immediate)
    write_stage(99, hour_offset=0)
    state, dropped = drain()
    assert dropped == hours  # post-partial-agg group rows, one per window
    assert state == 1


def test_streaming_media_decode_equals_batch(spark):
    """s13's per-micro-batch PNG decode must reduce to exactly the batch
    e98 totals — the checksum sum is order-independent integer math, so
    streaming == batch with no tolerance."""
    stream = ALL["s13_streaming_media_decode"].fn(spark, SF_DIR).toPandas()
    batch = (ALL["e98_png_decode"].fn(spark, SF_DIR)
             .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                  F.sum("checksum").cast("bigint").alias("checksum_sum"))
             .toPandas())
    assert_frames_match(stream, batch, "streaming_media_vs_batch")
