"""Structured Streaming wrappers: incremental results must equal their
batch equivalents (the §2.5 semantics, Spark-native)."""

from datetime import datetime

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from qucosa_fcrepo_reportingdb_spark import schemas
from qucosa_fcrepo_reportingdb_spark.sources.oai import OAI_HEADER_TABLE
from qucosa_fcrepo_reportingdb_spark.streaming.jobs import (
    stream_dedupe_latest,
    stream_events_hourly,
    stream_header_merges,
)

EVENT_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
])


def _write_events(spark, path):
    rows = [
        (1, datetime(2024, 1, 1, 10, 5), "view", 1.0),
        (2, datetime(2024, 1, 1, 10, 55), "view", 2.0),
        (3, datetime(2024, 1, 1, 11, 5), "click", 4.0),
        (4, datetime(2024, 1, 1, 11, 45), "view", 8.0),
    ]
    spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1) \
        .write.mode("overwrite").parquet(path)


def test_streaming_hourly_matches_batch(spark, tmp_path):
    src = str(tmp_path / "events")
    _write_events(spark, src)
    q, name = stream_events_hourly(spark, src, EVENT_SCHEMA,
                                   str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
        got = {(r.hour, r.event_type): (r.n_events, r.sum_value)
               for r in spark.table(name).collect()}
    finally:
        q.stop()
    assert got == {
        (datetime(2024, 1, 1, 10), "view"): (2, 3.0),
        (datetime(2024, 1, 1, 11), "click"): (1, 4.0),
        (datetime(2024, 1, 1, 11), "view"): (1, 8.0),
    }


def test_streaming_merge_foreachbatch(spark, store, tmp_path):
    d1 = datetime(2015, 1, 1)
    d2 = datetime(2016, 1, 1)
    batches = [
        [("a", d1, ["s"], False), ("b", d1, None, False)],
        [("b", d2, ["x"], True), ("c", d1, None, False)],  # b updated
    ]
    src = str(tmp_path / "headers")
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schemas.OAI_HEADER_SCHEMA).coalesce(1) \
            .write.mode("append").parquet(src)

    epochs = []
    q = stream_header_merges(
        spark, src, store, OAI_HEADER_TABLE, str(tmp_path / "ck"),
        batch_hook=lambda df, e: epochs.append(e))
    q.awaitTermination(120)
    rows = {r.record_identifier: r for r in store.read(OAI_HEADER_TABLE).collect()}
    assert set(rows) == {"a", "b", "c"}
    assert rows["b"].datestamp == d2 and rows["b"].status_is_deleted is True
    assert len(epochs) >= 1


def test_streaming_dedupe_first_arrival_per_key(spark, tmp_path):
    src = str(tmp_path / "ev")
    _write_events(spark, src)
    q, name = stream_dedupe_latest(spark, src, EVENT_SCHEMA,
                                   key="event_type", order="ts",
                                   checkpoint_dir=str(tmp_path / "ck2"))
    try:
        q.processAllAvailable()
        out = spark.table(name).collect()
    finally:
        q.stop()
    # one row per event_type within the watermark horizon
    assert sorted(r.event_type for r in out) == ["click", "view"]


def test_stream_sessionize_stateful(spark, tmp_path):
    from qucosa_fcrepo_reportingdb_spark.streaming.jobs import stream_sessionize
    rows = [
        (1, datetime(2024, 1, 1, 10, 0), "view", 1.0),
        (2, datetime(2024, 1, 1, 10, 10), "view", 1.0),   # same session
        (3, datetime(2024, 1, 1, 12, 0), "view", 1.0),    # gap -> session 1
        (4, datetime(2024, 1, 1, 12, 5), "click", 1.0),
    ]
    ev_schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ])
    src = str(tmp_path / "sess")
    df = spark.createDataFrame([(e, t_, et, v, 7) for e, t_, et, v in rows],
                               ev_schema.add("user_id", T.LongType()))
    df.coalesce(1).write.mode("overwrite").parquet(src)
    q, name = stream_sessionize(spark, src, df.schema, gap_seconds=1800,
                                checkpoint_dir=str(tmp_path / "ck"))
    try:
        q.processAllAvailable()
        got = {r.event_id: r.session_seq for r in spark.table(name).collect()}
    finally:
        q.stop()
    assert got == {1: 0, 2: 0, 3: 1, 4: 1}


def test_stream_minhash_dedupe_matches_batch(spark, store, tmp_path):
    """Streaming incremental LSH over two microbatches finds exactly the
    pairs the one-shot batch pass finds on the union."""
    from qucosa_fcrepo_reportingdb_spark.operators.dedup import (
        minhash_pairs_from_shingles, shingled_docs)
    from qucosa_fcrepo_reportingdb_spark.streaming.jobs import (
        MINHASH_PAIRS_TABLE, stream_minhash_dedupe)

    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text").orderBy("doc_id").limit(200))
    src = str(tmp_path / "docs")
    # two files -> two microbatches (maxFilesPerTrigger=1), split so that
    # some duplicate pairs span the batch boundary
    half = docs.filter(F.col("doc_id") % 2 == 0)
    other = docs.filter(F.col("doc_id") % 2 == 1)
    half.coalesce(1).write.parquet(src + "/a.parquet".replace("/a.parquet", ""), mode="append")
    other.coalesce(1).write.parquet(src, mode="append")

    q = stream_minhash_dedupe(spark, src, store, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    streamed = {(r.d1, r.d2): r.jaccard
                for r in store.read(MINHASH_PAIRS_TABLE).collect()}
    batch = {(r.d1, r.d2): r.jaccard
             for r in minhash_pairs_from_shingles(
                 shingled_docs(docs, non_empty=True)).collect()}
    assert batch, "no duplicate pairs in the fixture slice"
    assert streamed == batch


def test_stream_quality_verdicts_matches_batch(spark, store, tmp_path):
    """Incremental quality filtering over two microbatches must equal the
    batch operator over the union — per-doc rules are batch-independent
    and the keyed merge makes re-delivery idempotent."""
    from qucosa_fcrepo_reportingdb_spark.operators.corpus import (
        quality_filter_verdicts_df,
    )
    from qucosa_fcrepo_reportingdb_spark.streaming.jobs import (
        QUALITY_VERDICT_SCHEMA,
        QUALITY_VERDICTS_TABLE,
        stream_quality_verdicts,
    )
    from tests.conftest import SF_DIR

    docs = spark.read.parquet(SF_DIR + "/documents.parquet") \
        .select("doc_id", "text")
    src = str(tmp_path / "docs")
    docs.filter("doc_id % 2 = 0").coalesce(1).write.mode("append").parquet(src)
    docs.filter("doc_id % 2 = 1").coalesce(1).write.mode("append").parquet(src)

    q = stream_quality_verdicts(spark, src, store, str(tmp_path / "ck"))
    q.awaitTermination(120)

    got = sorted(map(tuple, store.read(
        QUALITY_VERDICTS_TABLE, QUALITY_VERDICT_SCHEMA).collect()))
    expected = sorted(map(tuple, quality_filter_verdicts_df(docs).collect()))
    assert got == expected and len(got) > 0


def test_stream_bloom_decontaminate_matches_batch(spark, store, tmp_path):
    """Benchmark docs delivered first (one file), corpus docs over two
    later microbatches: the accumulated-bit streaming path must produce
    exactly the batch decontaminate_bloom verdicts on the union."""
    from qucosa_fcrepo_reportingdb_spark.operators.corpus import (
        BENCH_RATE,
        decontaminate_bloom,
        key_hash,
    )
    from qucosa_fcrepo_reportingdb_spark.streaming.jobs import (
        BLOOM_VERDICT_SCHEMA,
        BLOOM_VERDICTS_TABLE,
        stream_bloom_decontaminate,
    )
    from tests.conftest import SF_DIR

    docs = spark.read.parquet(SF_DIR + "/documents.parquet") \
        .select("doc_id", "text")
    is_bench = F.expr(key_hash("doc_id")) < BENCH_RATE
    src = str(tmp_path / "docs")
    docs.filter(is_bench).coalesce(1).write.mode("append").parquet(src)
    corpus = docs.filter(~is_bench)
    corpus.filter("doc_id % 2 = 0").coalesce(1) \
        .write.mode("append").parquet(src)
    corpus.filter("doc_id % 2 = 1").coalesce(1) \
        .write.mode("append").parquet(src)

    q = stream_bloom_decontaminate(spark, src, store, str(tmp_path / "ck"))
    q.awaitTermination(120)

    rows = store.read(BLOOM_VERDICTS_TABLE, BLOOM_VERDICT_SCHEMA).collect()
    got = sorted(tuple(r)[:-1] for r in rows)   # sans suite_epoch
    expected = sorted(map(tuple, decontaminate_bloom(spark, SF_DIR).collect()))
    assert got == expected and len(got) > 0
    assert any(r[2] for r in got), "fixture has no bloom-flagged docs"
    # bench docs delivered first -> every verdict saw the full bit
    # state: one epoch, equal to the current bit count (the epoch stamp)
    from qucosa_fcrepo_reportingdb_spark.streaming.jobs import (
        BLOOM_BITS_SCHEMA,
        BLOOM_BITS_TABLE,
    )
    n_bits = store.read(BLOOM_BITS_TABLE, BLOOM_BITS_SCHEMA).count()
    assert {r.suite_epoch for r in rows} == {n_bits} and n_bits > 0

    # restart (same checkpoint, no new files) + full reprocess (fresh
    # checkpoint, same store) leave bits and verdicts bit-identical —
    # the restart-and-replay posture every screen twin pins
    stream_bloom_decontaminate(
        spark, src, store, str(tmp_path / "ck")).awaitTermination(120)
    stream_bloom_decontaminate(
        spark, src, store, str(tmp_path / "ck_replay")).awaitTermination(180)
    again = store.read(BLOOM_VERDICTS_TABLE, BLOOM_VERDICT_SCHEMA).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, rows))
    assert store.read(BLOOM_BITS_TABLE, BLOOM_BITS_SCHEMA).count() == n_bits


def test_append_mode_watermark_drops_late_events(spark, tmp_path):
    """Watermark semantics under APPEND output mode (the production sink
    mode; the registry's streaming_hourly_counts runs complete mode): a
    1-hour window is emitted exactly once when the 10-minute watermark
    passes its end, and an event arriving after the watermark has passed
    its window is DROPPED — the bounded-state guarantee that lets the
    windowed aggregation run forever at 100 TB/day.

    Batches are separate parquet files so the watermark advances between
    micro-batches: on-time pair (10:05, 10:20) -> finalizer (12:00) ->
    late straggler (10:30, behind the 11:50 watermark) -> finalizer
    (14:00). The 10:00 window must count 2, not 3."""
    import os
    import uuid

    src = str(tmp_path / "wm_src")
    os.makedirs(src)

    def add_batch(rows):
        spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1) \
            .write.mode("append").parquet(src)

    add_batch([(1, datetime(2024, 1, 1, 10, 5), "view", 1.0),
               (2, datetime(2024, 1, 1, 10, 20), "view", 1.0)])
    name = f"wm_{uuid.uuid4().hex[:8]}"
    agg = (
        spark.readStream.schema(EVENT_SCHEMA).parquet(src)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("hour"), "n")
    )
    q = (agg.writeStream.outputMode("append")
         .format("memory").queryName(name)
         .option("checkpointLocation", str(tmp_path / "wm_ckpt"))
         .start())
    try:
        q.processAllAvailable()
        # advance the watermark past the 10:00 window (max 12:00 - 10m)
        add_batch([(3, datetime(2024, 1, 1, 12, 0), "view", 1.0)])
        q.processAllAvailable()
        # straggler behind the 11:50 watermark: must be dropped
        add_batch([(4, datetime(2024, 1, 1, 10, 30), "view", 1.0)])
        q.processAllAvailable()
        # final watermark push emits the 12:00 window
        add_batch([(5, datetime(2024, 1, 1, 14, 0), "view", 1.0)])
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r.hour: r.n for r in spark.table(name).collect()}
    assert got[datetime(2024, 1, 1, 10, 0)] == 2  # late event NOT counted
    assert got[datetime(2024, 1, 1, 12, 0)] == 1


def test_streaming_sliding_window_matches_batch(spark, tmp_path):
    """Sliding windows (2 h window, 1 h slide) as a streaming query must
    converge to the batch sliding_active_users semantics: every event
    contributes to exactly two windows."""
    import uuid

    src = str(tmp_path / "slide_src")
    _write_events(spark, src)
    name = f"slide_{uuid.uuid4().hex[:8]}"
    agg = (
        spark.readStream.schema(EVENT_SCHEMA).parquet(src)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(F.approx_count_distinct("event_id").alias("_x"),
             F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("win_start"), "n_events")
    )
    q = (agg.writeStream.outputMode("complete")
         .format("memory").queryName(name)
         .option("checkpointLocation", str(tmp_path / "slide_ckpt"))
         .start())
    try:
        q.processAllAvailable()
        got = {r.win_start: r.n_events for r in spark.table(name).collect()}
    finally:
        q.stop()
    # fixture events: 10:05, 10:55, 11:05, 11:45 -> windows (9:00,10:00]
    # style memberships: 09:00 covers 10:05+10:55, 10:00 covers all 4, ...
    assert got == {
        datetime(2024, 1, 1, 9): 2,
        datetime(2024, 1, 1, 10): 4,
        datetime(2024, 1, 1, 11): 2,
    }
    # each of the 4 events in exactly two windows
    assert sum(got.values()) == 8


def test_stream_restart_from_checkpoint_exactly_once(spark, tmp_path):
    """Kill-and-resume durability: a file-sink stream stopped after batch
    1 and RESTARTED as a new query from the same checkpoint must emit
    batch 2's rows exactly once — no reprocessing of batch 1, no loss.
    This is the checkpoint-after-data guarantee the harvest pipeline
    relies on, exercised through Spark's own commit log."""
    import os

    src = str(tmp_path / "rs_src")
    sink = str(tmp_path / "rs_sink")
    ckpt = str(tmp_path / "rs_ckpt")
    os.makedirs(src)

    def add_batch(rows):
        spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1) \
            .write.mode("append").parquet(src)

    def start():
        return (spark.readStream.schema(EVENT_SCHEMA).parquet(src)
                .selectExpr("event_id", "event_type", "value")
                .writeStream.format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ckpt)
                .start())

    add_batch([(1, datetime(2024, 1, 1, 10, 0), "view", 1.0),
               (2, datetime(2024, 1, 1, 10, 1), "click", 2.0)])
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # second generation: new files land while no query is running
    add_batch([(3, datetime(2024, 1, 1, 10, 2), "view", 3.0)])
    q2 = start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    got = sorted(r.event_id for r in spark.read.parquet(sink).collect())
    assert got == [1, 2, 3]  # each exactly once across the restart


USER_EVENT_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("value", T.DoubleType()),
])


def test_stream_session_windows_matches_batch(spark, tmp_path):
    from qucosa_fcrepo_reportingdb_spark.streaming.jobs import (
        stream_session_windows,
    )
    rows = [
        # user 1: two events 10 min apart (one session), then a 2 h gap
        (1, datetime(2024, 1, 1, 10, 0), 1, 1.0),
        (2, datetime(2024, 1, 1, 10, 10), 1, 2.0),
        (3, datetime(2024, 1, 1, 12, 30), 1, 4.0),
        # user 2: single event
        (4, datetime(2024, 1, 1, 10, 20), 2, 8.0),
    ]
    src = str(tmp_path / "events")
    spark.createDataFrame(rows, USER_EVENT_SCHEMA).coalesce(1) \
        .write.parquet(src)
    q, name = stream_session_windows(spark, src, USER_EVENT_SCHEMA,
                                     str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
        got = {(r.user_id, r.session_start, r.session_end):
               (r.n_events, r.sum_value)
               for r in spark.table(name).collect()}
    finally:
        q.stop()
    # gap = 30 min: session end extends 30 min past the last event
    assert got == {
        (1, datetime(2024, 1, 1, 10, 0), datetime(2024, 1, 1, 10, 40)):
            (2, 3.0),
        (1, datetime(2024, 1, 1, 12, 30), datetime(2024, 1, 1, 13, 0)):
            (1, 4.0),
        (2, datetime(2024, 1, 1, 10, 20), datetime(2024, 1, 1, 10, 50)):
            (1, 8.0),
    }
    # batch session_window over the same data must agree exactly
    batch = (
        spark.read.parquet(src)
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.col("value").cast("decimal(28,4)"))
             .cast("double").alias("s"))
        .select("user_id", F.col("w.start").alias("a"),
                F.col("w.end").alias("b"), "n", "s")
    )
    assert {(r.user_id, r.a, r.b): (r.n, r.s)
            for r in batch.collect()} == got


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    from qucosa_fcrepo_reportingdb_spark.streaming.jobs import (
        stream_stream_enrich_join,
    )
    views = [
        (10, datetime(2024, 1, 1, 9, 30), 1, 0.0),   # 30 min before click
        (11, datetime(2024, 1, 1, 8, 30), 1, 0.0),   # 90 min before: outside
        (12, datetime(2024, 1, 1, 9, 45), 2, 0.0),   # other user
        (13, datetime(2024, 1, 1, 10, 0), 1, 0.0),   # same instant as click
    ]
    clicks = [
        (20, datetime(2024, 1, 1, 10, 0), 1, 1.0),
        (21, datetime(2024, 1, 1, 10, 30), 2, 1.0),
    ]
    vdir, cdir = str(tmp_path / "views"), str(tmp_path / "clicks")
    spark.createDataFrame(views, USER_EVENT_SCHEMA).coalesce(1) \
        .write.parquet(vdir)
    spark.createDataFrame(clicks, USER_EVENT_SCHEMA).coalesce(1) \
        .write.parquet(cdir)
    q, name = stream_stream_enrich_join(spark, cdir, vdir,
                                        USER_EVENT_SCHEMA,
                                        str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
        got = {(r.user_id, r.click_id, r.view_id)
               for r in spark.table(name).collect()}
    finally:
        q.stop()
    assert got == {(1, 20, 10), (1, 20, 13), (2, 21, 12)}
    # batch inner join with the identical interval predicate must agree
    bc = (spark.read.parquet(cdir)
          .select("user_id", F.col("ts").alias("click_ts"),
                  F.col("event_id").alias("click_id")))
    bv = (spark.read.parquet(vdir)
          .select(F.col("user_id").alias("vu"),
                  F.col("ts").alias("view_ts"),
                  F.col("event_id").alias("view_id")))
    batch = bc.join(bv, (bc.user_id == bv.vu)
                    & (bv.view_ts <= bc.click_ts)
                    & (bv.view_ts >= bc.click_ts - F.expr("INTERVAL 1 HOUR")))
    assert {(r.user_id, r.click_id, r.view_id)
            for r in batch.collect()} == got


def test_session_window_stream_restart_merges_across_generations(
        spark, tmp_path):
    """Stateful restart for session windows: a session OPEN when the
    stream stops must absorb a post-restart event that falls inside the
    gap — the merge happens from recovered state-store state, not from
    reprocessing generation-1 files. In complete mode the final table
    must equal the batch session_window over the union of both
    generations."""
    import os
    from qucosa_fcrepo_reportingdb_spark.streaming.jobs import (
        stream_session_windows,
    )

    src = str(tmp_path / "sw_src")
    ckpt = str(tmp_path / "sw_ckpt")
    os.makedirs(src)

    def add(rows):
        spark.createDataFrame(rows, USER_EVENT_SCHEMA).coalesce(1) \
            .write.mode("append").parquet(src)

    add([(1, datetime(2024, 1, 1, 10, 0), 1, 1.0),
         (2, datetime(2024, 1, 1, 10, 10), 1, 2.0)])
    q, name = stream_session_windows(spark, src, USER_EVENT_SCHEMA, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # lands 15 min after the last event: INSIDE the 30-min gap, so it
    # must extend the recovered open session, not start a new one
    add([(3, datetime(2024, 1, 1, 10, 25), 1, 4.0)])
    q2, name2 = stream_session_windows(spark, src, USER_EVENT_SCHEMA, ckpt)
    try:
        q2.processAllAvailable()
        got = {(r.user_id, r.session_start, r.session_end):
               (r.n_events, r.sum_value)
               for r in spark.table(name2).collect()}
    finally:
        q2.stop()
    assert got == {
        (1, datetime(2024, 1, 1, 10, 0), datetime(2024, 1, 1, 10, 55)):
            (3, 7.0),
    }
    batch = (
        spark.read.parquet(src)
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.col("value").cast("decimal(28,4)"))
             .cast("double").alias("s")))
    assert {(r.user_id, r.w.start, r.w.end): (r.n, r.s)
            for r in batch.collect()} == got


def test_stream_histogram_quantiles_matches_batch(spark, store, tmp_path):
    """The accumulated bucket-count state after N microbatches must yield
    EXACTLY the batch histogram quantiles over the union — the
    merge-by-addition property that makes the sketch streamable. Split so
    every group spans multiple batches (merging is exercised, not just
    appended)."""
    from qucosa_fcrepo_reportingdb_spark.plans.advanced import (
        HQ_BUCKET_WIDTH, histogram_quantiles_by_flag)
    from qucosa_fcrepo_reportingdb_spark.streaming.jobs import (
        histogram_state_quantiles, stream_histogram_quantiles)

    li = (spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
          .select("l_returnflag", "l_extendedprice"))
    src = str(tmp_path / "li")
    for k in range(3):  # 3 files -> 3 microbatches, all flags in each
        li.filter((F.crc32(F.col("l_extendedprice").cast("string")) % 3)
                  == k).coalesce(1).write.parquet(src, mode="append")

    q = stream_histogram_quantiles(
        spark, src, store, str(tmp_path / "ckpt"),
        schema=T.StructType([
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_extendedprice", T.DoubleType()),
        ]),
        group_col="l_returnflag", value_col="l_extendedprice",
        bucket_width=HQ_BUCKET_WIDTH)
    q.awaitTermination(120)

    streamed = {r.grp: (r.n_rows, r.p50_est, r.p90_est, r.p99_est)
                for r in histogram_state_quantiles(
                    store, HQ_BUCKET_WIDTH).collect()}
    batch = {r.flag: (r.n_rows, r.p50_est, r.p90_est, r.p99_est)
             for r in histogram_quantiles_by_flag(
                 spark, "/root/testdata/sf0.001").collect()}
    assert streamed == batch and len(batch) >= 3

    # replay idempotence (T6/T8): wipe the CHECKPOINT but keep the state
    # and re-run — every batch is re-delivered with the same epoch ids,
    # the keyed merge rewrites identical rows, and the quantiles must NOT
    # double-count (the additive-in-place design this replaced would)
    import shutil
    shutil.rmtree(str(tmp_path / "ckpt"))
    q2 = stream_histogram_quantiles(
        spark, src, store, str(tmp_path / "ckpt"),
        schema=T.StructType([
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_extendedprice", T.DoubleType()),
        ]),
        group_col="l_returnflag", value_col="l_extendedprice",
        bucket_width=HQ_BUCKET_WIDTH)
    q2.awaitTermination(120)
    replayed = {r.grp: (r.n_rows, r.p50_est, r.p90_est, r.p99_est)
                for r in histogram_state_quantiles(
                    store, HQ_BUCKET_WIDTH).collect()}
    assert replayed == batch


def test_stream_minhash_duplicate_delivery_single_pair_rows(spark, store,
                                                            tmp_path):
    """A doc_id delivered TWICE within one microbatch must not fan its
    candidate pairs into duplicate verified rows — the shingle lookup
    dedupes by doc_id before the verify joins."""
    from qucosa_fcrepo_reportingdb_spark.streaming.jobs import (
        MINHASH_PAIRS_TABLE, stream_minhash_dedupe)

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(1, text), (1, text), (2, text)]  # doc 1 delivered twice
    src = str(tmp_path / "docs")
    (spark.createDataFrame(rows, "doc_id long, text string")
     .coalesce(1).write.parquet(src))

    q = stream_minhash_dedupe(spark, src, store, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    pairs = [(r.d1, r.d2) for r in
             store.read(MINHASH_PAIRS_TABLE).collect()]
    assert pairs == [(1, 2)]  # exactly once, not fanned by the re-delivery


def test_stream_minhash_no_duplicate_pairs_across_batches(spark, store,
                                                          tmp_path):
    """Cross-batch re-delivery (ordinary at-least-once, not a replay):
    doc 2 arrives again in batch 2 — the pair (1,2) recorded in batch 1
    must NOT be appended again, and the shingle/bands state must hold
    exactly one row per doc (per band)."""
    from qucosa_fcrepo_reportingdb_spark.streaming.jobs import (
        MINHASH_BANDS_TABLE,
        MINHASH_PAIRS_TABLE,
        MINHASH_SHINGLES_TABLE,
        stream_minhash_dedupe,
    )

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    src = tmp_path / "docs"
    src.mkdir()
    (spark.createDataFrame([(1, text), (2, text)], "doc_id long, text string")
     .coalesce(1).write.parquet(str(src / "b1")))
    q = stream_minhash_dedupe(spark, str(src / "b1"), store,
                              str(tmp_path / "ck1"))
    q.awaitTermination(120)
    assert [(r.d1, r.d2) for r in
            store.read(MINHASH_PAIRS_TABLE).collect()] == [(1, 2)]

    # batch 2 re-delivers doc 2 from a different source dir/checkpoint
    (spark.createDataFrame([(2, text)], "doc_id long, text string")
     .coalesce(1).write.parquet(str(src / "b2")))
    q2 = stream_minhash_dedupe(spark, str(src / "b2"), store,
                               str(tmp_path / "ck2"))
    q2.awaitTermination(120)
    assert [(r.d1, r.d2) for r in
            store.read(MINHASH_PAIRS_TABLE).collect()] == [(1, 2)]
    sh = store.read(MINHASH_SHINGLES_TABLE)
    assert sh.count() == sh.select("doc_id").distinct().count() == 2
    bands = store.read(MINHASH_BANDS_TABLE)
    assert bands.count() == bands.select("doc_id", "band_idx") \
        .distinct().count()


def test_stream_quality_and_bloom_dedupe_intra_batch(spark, store, tmp_path):
    """A doc delivered twice in one microbatch leaves exactly one keyed
    row in the quality and bloom verdict tables, and the bloom hit count
    is not doubled past the contamination floor."""
    from qucosa_fcrepo_reportingdb_spark.streaming.jobs import (
        BLOOM_VERDICTS_TABLE,
        QUALITY_VERDICTS_TABLE,
        stream_bloom_decontaminate,
        stream_quality_verdicts,
    )

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(7, text), (7, text), (8, text)]
    src = str(tmp_path / "docs")
    (spark.createDataFrame(rows, "doc_id long, text string")
     .coalesce(1).write.parquet(src))

    q = stream_quality_verdicts(spark, src, store, str(tmp_path / "ckq"))
    q.awaitTermination(120)
    qv = store.read(QUALITY_VERDICTS_TABLE)
    assert qv.count() == qv.select("doc_id").distinct().count() == 2

    q2 = stream_bloom_decontaminate(spark, src, store, str(tmp_path / "ckb"))
    q2.awaitTermination(120)
    bv = store.read(BLOOM_VERDICTS_TABLE)
    assert bv.count() == bv.select("doc_id").distinct().count()
    # identical non-benchmark docs must carry identical hit counts —
    # a doubled count from the duplicate delivery would differ
    hits = {r.doc_id: r.n_bloom_hits for r in bv.collect()}
    assert len(set(hits.values())) == 1


def test_stream_sessionize_correct_across_arrow_chunks(spark, tmp_path):
    """A user whose microbatch spans MULTIPLE Arrow chunks (forced via a
    tiny maxRecordsPerBatch) must sessionize identically to the batch
    form — per-chunk sorting would compute gaps against the wrong
    predecessor whenever a later chunk holds earlier events."""
    import random as _random
    from datetime import datetime, timedelta

    from qucosa_fcrepo_reportingdb_spark.plans.events import SESSION_GAP_S
    from qucosa_fcrepo_reportingdb_spark.streaming.jobs import (
        stream_sessionize,
    )

    rng = _random.Random(5)
    t0 = datetime(2024, 1, 1)
    rows = []
    ts = t0
    for i in range(400):  # one user, gaps forcing ~8 sessions
        ts = ts + timedelta(seconds=rng.choice([60, 60, 60, SESSION_GAP_S + 60]))
        rows.append((i, ts, 1))
    rng.shuffle(rows)     # arrival order != event order
    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
    ])
    src = str(tmp_path / "ev")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "50")
    try:
        q, name = stream_sessionize(spark, src, schema, SESSION_GAP_S,
                                    str(tmp_path / "ck"))
        q.awaitTermination(120)
        got = {r.event_id: r.session_seq
               for r in spark.sql(f"SELECT * FROM {name}").collect()}
    finally:
        if old is not None:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)

    # expected: sort by ts, cumulative gap count
    expected = {}
    seq = 0
    prev = None
    for eid, ts, _ in sorted(rows, key=lambda r: (r[1], r[0])):
        if prev is not None and (ts - prev).total_seconds() > SESSION_GAP_S:
            seq += 1
        expected[eid] = seq
        prev = ts
    # session_seq may start at 0 or 1 depending on first-event handling;
    # normalize both to first-event = 0
    base_got = got[min(got)]
    base_exp = expected[min(expected)]
    assert {k: v - base_got for k, v in got.items()} == \
        {k: v - base_exp for k, v in expected.items()}


def test_streaming_sink_file_count_bounded_by_auto_compaction(
        spark, tmp_path):
    """The sink file-count bound, streaming side: a many-batch stream appends
    one file set per microbatch into the pairs sink; the store's
    auto-compaction must keep the table at O(threshold) files without
    changing the emitted pairs (exactly-once anti-join still holds
    because compaction preserves content)."""
    from qucosa_fcrepo_reportingdb_spark.streaming.jobs import (
        MINHASH_PAIRS_TABLE, stream_minhash_dedupe)
    from qucosa_fcrepo_reportingdb_spark.tables import TableStore

    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text").orderBy("doc_id").limit(200))
    src = str(tmp_path / "docs")
    for m in range(8):                     # 8 files -> 8 microbatches
        docs.filter(F.col("doc_id") % 8 == m) \
            .coalesce(1).write.parquet(src, mode="append")
    store = TableStore(spark, str(tmp_path / "store"), auto_compact_files=2)
    q = stream_minhash_dedupe(spark, src, store, str(tmp_path / "ckpt"))
    q.awaitTermination(180)

    assert store.file_count(MINHASH_PAIRS_TABLE) <= 2
    # content identical to the one-shot batch pass on the union
    from qucosa_fcrepo_reportingdb_spark.operators.dedup import (
        minhash_pairs_from_shingles, shingled_docs)
    streamed = {(r.d1, r.d2) for r in
                store.read(MINHASH_PAIRS_TABLE).collect()}
    batch = {(r.d1, r.d2) for r in minhash_pairs_from_shingles(
        shingled_docs(docs, non_empty=True)).collect()}
    assert streamed == batch and batch


def test_stream_norm_monitor_matches_batch_moments(spark, store, tmp_path):
    """Folded streaming moments must equal the batch operator's
    mean/std/n/n_zero EXACTLY (decimal addition is associative, so
    per-batch subtotals summed across epochs reproduce the one-pass
    sums bit-for-bit)."""
    from qucosa_fcrepo_reportingdb_spark.operators.similarity import (
        embedding_norm_stats,
    )
    from qucosa_fcrepo_reportingdb_spark.streaming.jobs import (
        embedding_norm_state_profile,
        stream_embedding_norm_monitor,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    src = str(tmp_path / "emb")
    for m in range(2):                    # 2 files -> 2 microbatches
        emb.filter(F.col("vec_id") % 2 == m) \
            .coalesce(1).write.parquet(src, mode="append")

    q = stream_embedding_norm_monitor(spark, src, store,
                                      str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    streamed = {r.label: r for r in
                embedding_norm_state_profile(store).collect()}
    batch_dir = str(tmp_path / "batch")
    emb.write.parquet(batch_dir + "/embeddings.parquet")
    batch = {r.label: r for r in
             embedding_norm_stats(spark, batch_dir).collect()}
    assert set(streamed) == set(batch)
    for lbl, b in batch.items():
        s = streamed[lbl]
        assert (s.n, s.n_zero) == (b.n, b.n_zero), lbl
        assert s.mean_norm == b.mean_norm, lbl      # exact, not approx
        assert s.std_norm == b.std_norm, lbl


def test_norm_monitor_all_zero_label_matches_batch(spark, store, tmp_path):
    """A label whose vectors are ALL zero-norm must surface identically
    in both forms: n=0, NULL mean/std, n_zero counted — not dropped
    (batch) and not a 0/0 (streaming fold)."""
    from qucosa_fcrepo_reportingdb_spark.operators.similarity import (
        embedding_norm_stats,
    )
    from qucosa_fcrepo_reportingdb_spark.streaming.jobs import (
        embedding_norm_state_profile,
        stream_embedding_norm_monitor,
    )

    rows = [(1, 7, [1.0, 2.0]), (2, 7, [2.0, 1.0]),
            (3, 9, [0.0, 0.0]), (4, 9, [0.0, 0.0])]   # label 9: all zero
    emb = spark.createDataFrame(
        rows, "vec_id long, label long, embedding array<float>")
    src = str(tmp_path / "emb")
    emb.coalesce(1).write.parquet(src)
    q = stream_embedding_norm_monitor(spark, src, store,
                                      str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    streamed = {r.label: r for r in
                embedding_norm_state_profile(store).collect()}
    batch_dir = str(tmp_path / "batch")
    emb.write.parquet(batch_dir + "/embeddings.parquet")
    batch = {r.label: r for r in
             embedding_norm_stats(spark, batch_dir).collect()}
    assert set(batch) == {7, 9} and set(streamed) == {7, 9}
    assert batch[9].n == 0 and batch[9].mean_norm is None \
        and batch[9].n_zero == 2
    s9 = streamed[9]
    assert (s9.n, s9.mean_norm, s9.std_norm, s9.n_zero) == (0, None, None, 2)
    assert streamed[7].mean_norm == batch[7].mean_norm


def test_norm_monitor_full_replay_is_idempotent(spark, store, tmp_path):
    """Losing the stream checkpoint replays EVERY batch (epochs renumber
    from 0): the epoch-keyed merge must rewrite identical rows, leaving
    the folded profile and the state row count unchanged — the
    no-double-count property the additive sketch depends on."""
    from qucosa_fcrepo_reportingdb_spark.streaming.jobs import (
        NORM_STATE_TABLE,
        embedding_norm_state_profile,
        stream_embedding_norm_monitor,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    src = str(tmp_path / "emb")
    for m in range(2):
        emb.filter(F.col("vec_id") % 2 == m) \
            .coalesce(1).write.parquet(src, mode="append")

    q = stream_embedding_norm_monitor(spark, src, store,
                                      str(tmp_path / "ckpt1"))
    q.awaitTermination(120)
    before = sorted(map(tuple, embedding_norm_state_profile(store)
                        .collect()))
    n_state = store.read(NORM_STATE_TABLE).count()

    # checkpoint lost -> full replay under a fresh checkpoint dir
    q2 = stream_embedding_norm_monitor(spark, src, store,
                                       str(tmp_path / "ckpt2"))
    q2.awaitTermination(120)
    after = sorted(map(tuple, embedding_norm_state_profile(store)
                       .collect()))
    assert after == before
    assert store.read(NORM_STATE_TABLE).count() == n_state


def test_content_drift_monitor_matches_batch(spark, store, tmp_path):
    """Folded streaming drift state must equal BOTH batch audit tables
    exactly: the lang confusion matrix (additive counts) and the full
    21-row quality threshold sweep (identical BIGINT sums -> identical
    derived doubles)."""
    from qucosa_fcrepo_reportingdb_spark.functions.text import (
        lang_confusion_matrix,
        quality_threshold_sweep,
    )
    from qucosa_fcrepo_reportingdb_spark.streaming.jobs import (
        lang_drift_state_profile,
        quality_drift_state_profile,
        stream_content_drift_monitor,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    src = str(tmp_path / "docs")
    for m in range(2):                    # 2 files -> 2 microbatches
        docs.filter(F.col("doc_id") % 2 == m) \
            .coalesce(1).write.parquet(src, mode="append")

    q = stream_content_drift_monitor(spark, src, store,
                                     str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    streamed_lang = sorted(map(tuple,
                               lang_drift_state_profile(store).collect()))
    batch_lang = sorted(map(tuple, lang_confusion_matrix(
        spark, "/root/testdata/sf0.001").collect()))
    assert streamed_lang == batch_lang

    streamed_q = sorted(map(tuple, quality_drift_state_profile(
        spark, store).collect()))
    batch_q = sorted(map(tuple, quality_threshold_sweep(
        spark, "/root/testdata/sf0.001").collect()))
    assert streamed_q == batch_q          # exact, including the doubles


def test_content_drift_monitor_replay_is_idempotent(spark, store,
                                                    tmp_path):
    """Checkpoint loss replays every batch under renumbered epochs: the
    epoch-keyed merges must rewrite identical rows — folded profiles and
    state row counts unchanged (no double count)."""
    from qucosa_fcrepo_reportingdb_spark.streaming.jobs import (
        LANG_DRIFT_STATE_TABLE,
        QUALITY_DRIFT_STATE_TABLE,
        lang_drift_state_profile,
        quality_drift_state_profile,
        stream_content_drift_monitor,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    src = str(tmp_path / "docs")
    for m in range(2):
        docs.filter(F.col("doc_id") % 2 == m) \
            .coalesce(1).write.parquet(src, mode="append")

    q = stream_content_drift_monitor(spark, src, store,
                                     str(tmp_path / "ckpt1"))
    q.awaitTermination(120)
    lang_before = sorted(map(tuple,
                             lang_drift_state_profile(store).collect()))
    qual_before = sorted(map(tuple, quality_drift_state_profile(
        spark, store).collect()))
    n_lang = store.read(LANG_DRIFT_STATE_TABLE).count()
    n_qual = store.read(QUALITY_DRIFT_STATE_TABLE).count()

    q2 = stream_content_drift_monitor(spark, src, store,
                                      str(tmp_path / "ckpt2"))
    q2.awaitTermination(120)
    assert sorted(map(tuple,
                      lang_drift_state_profile(store).collect())) \
        == lang_before
    assert sorted(map(tuple, quality_drift_state_profile(
        spark, store).collect())) == qual_before
    assert store.read(LANG_DRIFT_STATE_TABLE).count() == n_lang
    assert store.read(QUALITY_DRIFT_STATE_TABLE).count() == n_qual


# case -> (stream, its pairs table, the batch form, designed pair count)
_BANDED_STREAMS = {
    "phash": ("stream_image_phash_dedupe", "PHASH_PAIRS_TABLE",
              "dedup_image_phash", 125),
    "phash_bandpairs": ("stream_image_phash_bandpairs_dedupe",
                        "PHASH_C2_PAIRS_TABLE", "dedup_image_phash", 125),
    "afp": ("stream_audio_fingerprint_dedupe", "AFP_PAIRS_TABLE",
            "dedup_audio_fingerprint", 125),
    "vfp": ("stream_video_fingerprint_dedupe", "VFP_PAIRS_TABLE",
            "dedup_video_fingerprint", 125),
    "simhash64": ("stream_simhash64_dedupe", "SIMHASH64_PAIRS_TABLE",
                  "dedup_simhash64", None),
}


def _evens_then_odds(spark, tmp_path, case: str) -> str:
    """The sf0.001 documents as two source files, evens then odds: the
    designed (4k, 4k+1) pairs, and simhash64's near-dup text pairs,
    split across the batch boundary, so the cross (stored x new) join
    has to catch them, not the intra-batch one."""
    cols = ["doc_id", "text"] if case == "simhash64" else ["doc_id"]
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").select(*cols)
    src = str(tmp_path / "docs")
    for m in range(2):
        docs.filter(F.col("doc_id") % 2 == m) \
            .coalesce(1).write.parquet(src, mode="append")
    return src


@pytest.mark.parametrize("case", list(_BANDED_STREAMS))
def test_banded_stream_matches_batch(spark, store, tmp_path, case):
    """Streamed pairs over two micro-batches must equal the batch
    form's pair set. The 2-of-5 band-pair stream emits the single-band
    batch set too: both schemes are exact for hamming <= 3."""
    from qucosa_fcrepo_reportingdb_spark.operators import dedup
    from qucosa_fcrepo_reportingdb_spark.streaming import jobs

    stream, table, batch_form, n_designed = _BANDED_STREAMS[case]
    src = _evens_then_odds(spark, tmp_path, case)
    getattr(jobs, stream)(spark, src, store,
                          str(tmp_path / "ckpt")).awaitTermination(120)

    pairs = store.read(getattr(jobs, table))
    streamed = set(map(tuple, pairs.collect()))
    batch = set(map(tuple, getattr(dedup, batch_form)(
        spark, "/root/testdata/sf0.001").select(*pairs.columns).collect()))
    assert streamed == batch
    if n_designed is None:
        assert len(streamed) > 0
    else:
        assert len(streamed) == n_designed    # the designed pairs, exactly
    if case == "vfp":
        # last-frame divergence pins most pairs AT the M=3 threshold; a
        # rare pair's scattered frame can still land inside the hamming
        # gate (the 97-offset flips ~half the comparison signs, not
        # all), so 4 appears in the tail — never below 3.
        counts = sorted(fm for _, _, fm in streamed)
        assert counts[0] >= 3 and counts.count(3) > 100


@pytest.mark.parametrize("case", ["phash", "afp", "vfp", "simhash64"])
def test_banded_stream_replay_exactly_once(spark, store, tmp_path, case):
    """Full replay under a fresh checkpoint re-finds every pair; the
    anti-join against the recorded set must drop them all — pair table
    byte-identical, no duplicates."""
    from qucosa_fcrepo_reportingdb_spark.streaming import jobs

    stream, table, _, _ = _BANDED_STREAMS[case]
    src = _evens_then_odds(spark, tmp_path, case)
    run = getattr(jobs, stream)
    run(spark, src, store, str(tmp_path / "ckpt1")).awaitTermination(120)
    before = sorted(map(tuple, store.read(getattr(jobs, table)).collect()))

    run(spark, src, store, str(tmp_path / "ckpt2")).awaitTermination(120)
    after = sorted(map(tuple, store.read(getattr(jobs, table)).collect()))
    assert before and after == before
    assert len(after) == len({(a, b) for a, b, _ in after})
def test_stream_multi_suite_decontaminate_matches_batch(spark, store,
                                                        tmp_path):
    """Streamed multi-suite verdicts must equal the batch
    decontaminate_multi_suite row-for-row. Suite docs are delivered in
    the FIRST microbatch (the documented no-later-than contract), the
    corpus split across the next two."""
    from qucosa_fcrepo_reportingdb_spark.operators.corpus import (
        N_BENCH_SUITES,
        SUITE_SLICE_MOD,
        decontaminate_multi_suite,
        key_hash,
    )
    from qucosa_fcrepo_reportingdb_spark.streaming.jobs import (
        MULTI_SUITE_VERDICTS_TABLE,
        stream_multi_suite_decontaminate,
    )

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet") \
        .selectExpr("doc_id", "text",
                    f"{key_hash('doc_id')} % {SUITE_SLICE_MOD} AS suite")
    src = str(tmp_path / "docs")
    docs.filter(F.col("suite") < N_BENCH_SUITES).drop("suite") \
        .coalesce(1).write.parquet(src, mode="append")
    for m in range(2):
        docs.filter((F.col("suite") >= N_BENCH_SUITES)
                    & (F.col("doc_id") % 2 == m)).drop("suite") \
            .coalesce(1).write.parquet(src, mode="append")

    q = stream_multi_suite_decontaminate(spark, src, store,
                                         str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    streamed = {r.doc_id: (r.n_overlap_suite0, r.n_overlap_suite1,
                           r.n_overlap_suite2, r.contaminated)
                for r in store.read(MULTI_SUITE_VERDICTS_TABLE).collect()}
    batch = {r.doc_id: (r.n_overlap_suite0, r.n_overlap_suite1,
                        r.n_overlap_suite2, r.contaminated)
             for r in decontaminate_multi_suite(spark, sf).collect()}
    assert streamed == batch
    assert any(v[3] for v in streamed.values())   # contamination exists
    # suite docs delivered first -> every verdict saw the full suite
    # state: one epoch, equal to the current (suite, shingle) count
    # (the epoch stamp — the lexical multi-suite stream follows the
    # epoch convention of its semantic twin)
    from qucosa_fcrepo_reportingdb_spark.streaming.jobs import (
        SUITE_SHINGLES_TABLE,
    )
    n_state = store.read(SUITE_SHINGLES_TABLE).count()
    assert ({r.suite_epoch for r in
             store.read(MULTI_SUITE_VERDICTS_TABLE).collect()}
            == {n_state}) and n_state > 0

    # restart (same checkpoint, no new files) + full reprocess (fresh
    # checkpoint, same store) leave the verdict table bit-identical —
    # the screen-family posture, completing the lexical multi-suite
    # stream's pins (every screen twin pins restart and replay)
    before = sorted(map(tuple,
                        store.read(MULTI_SUITE_VERDICTS_TABLE).collect()))
    stream_multi_suite_decontaminate(
        spark, src, store, str(tmp_path / "ckpt")).awaitTermination(120)
    stream_multi_suite_decontaminate(
        spark, src, store, str(tmp_path / "ckpt_replay")).awaitTermination(180)
    after = sorted(map(tuple,
                       store.read(MULTI_SUITE_VERDICTS_TABLE).collect()))
    assert after == before


def test_stream_ivf_occupancy_matches_batch(spark, store, tmp_path):
    """Folded streaming occupancy counts must equal the batch
    ann_ivf_incremental_assign rolled up per cell — incoming vectors
    streamed in two microbatches against the same frozen prior-corpus
    centroids."""
    from qucosa_fcrepo_reportingdb_spark.operators.similarity import (
        IVF_INCR_MOD,
        IVF_INCR_NEW,
        ann_ivf_incremental_assign,
    )
    from qucosa_fcrepo_reportingdb_spark.streaming.jobs import (
        ivf_occupancy_state_profile,
        stream_ivf_occupancy_monitor,
    )

    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet") \
        .select("vec_id", "label", "embedding")
    incoming = emb.filter((F.col("vec_id") % IVF_INCR_MOD) >= IVF_INCR_NEW)
    src = str(tmp_path / "vecs")
    for m in range(2):
        incoming.filter(F.col("vec_id") % 2 == m) \
            .coalesce(1).write.parquet(src, mode="append")

    q = stream_ivf_occupancy_monitor(spark, src, store,
                                     str(tmp_path / "ckpt"), sf)
    q.awaitTermination(120)

    streamed = {r.cell: (r.n_assigned, r.n_label_mismatch) for r in
                ivf_occupancy_state_profile(store).collect()}
    batch_rows = ann_ivf_incremental_assign(spark, sf).collect()
    batch = {}
    for r in batch_rows:
        n, m_ = batch.get(r.assigned_cell, (0, 0))
        batch[r.assigned_cell] = (n + 1, m_ + (0 if r.label_match else 1))
    assert streamed == batch
    assert sum(n for n, _ in streamed.values()) == len(batch_rows)


def test_stream_ivf_occupancy_replay_is_idempotent(spark, store, tmp_path):
    """Full replay under a fresh checkpoint rewrites the same keyed
    state rows — folded profile and state row count unchanged."""
    from qucosa_fcrepo_reportingdb_spark.operators.similarity import (
        IVF_INCR_MOD,
        IVF_INCR_NEW,
    )
    from qucosa_fcrepo_reportingdb_spark.streaming.jobs import (
        IVF_OCCUPANCY_STATE_TABLE,
        ivf_occupancy_state_profile,
        stream_ivf_occupancy_monitor,
    )

    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet") \
        .select("vec_id", "label", "embedding")
    incoming = emb.filter((F.col("vec_id") % IVF_INCR_MOD) >= IVF_INCR_NEW)
    src = str(tmp_path / "vecs")
    for m in range(2):
        incoming.filter(F.col("vec_id") % 2 == m) \
            .coalesce(1).write.parquet(src, mode="append")

    q = stream_ivf_occupancy_monitor(spark, src, store,
                                     str(tmp_path / "ckpt1"), sf)
    q.awaitTermination(120)
    before = sorted(map(tuple, ivf_occupancy_state_profile(store).collect()))
    n_state = store.read(IVF_OCCUPANCY_STATE_TABLE).count()

    q2 = stream_ivf_occupancy_monitor(spark, src, store,
                                      str(tmp_path / "ckpt2"), sf)
    q2.awaitTermination(120)
    after = sorted(map(tuple, ivf_occupancy_state_profile(store).collect()))
    assert after == before
    assert store.read(IVF_OCCUPANCY_STATE_TABLE).count() == n_state


def test_decode_health_monitor_matches_batch(spark, store, tmp_path):
    """Folded streaming decode counts must equal the batch
    multimodal_real_decode_rollup exactly (additive BIGINT counts over
    the same real-decoder outcomes)."""
    from qucosa_fcrepo_reportingdb_spark.operators.multimodal import (
        multimodal_real_decode_rollup,
    )
    from qucosa_fcrepo_reportingdb_spark.streaming.jobs import (
        decode_health_state_profile,
        stream_decode_health_monitor,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet") \
        .select("doc_id", "n_chars")
    src = str(tmp_path / "docs")
    for m in range(2):
        docs.filter(F.col("doc_id") % 2 == m) \
            .coalesce(1).write.parquet(src, mode="append")

    q = stream_decode_health_monitor(spark, src, store,
                                     str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    streamed = sorted(map(tuple,
                          decode_health_state_profile(store).collect()))
    batch = sorted(map(tuple, multimodal_real_decode_rollup(
        spark, "/root/testdata/sf0.001").collect()))
    assert streamed == batch


def test_decode_health_monitor_replay_idempotent(spark, store, tmp_path):
    """Checkpoint-loss replay rewrites identical epoch-keyed rows; the
    folded profile and state row count must not change."""
    from qucosa_fcrepo_reportingdb_spark.streaming.jobs import (
        DECODE_HEALTH_STATE_TABLE,
        decode_health_state_profile,
        stream_decode_health_monitor,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet") \
        .select("doc_id", "n_chars")
    src = str(tmp_path / "docs")
    for m in range(2):
        docs.filter(F.col("doc_id") % 2 == m) \
            .coalesce(1).write.parquet(src, mode="append")

    q = stream_decode_health_monitor(spark, src, store,
                                     str(tmp_path / "ckpt1"))
    q.awaitTermination(120)
    before = sorted(map(tuple,
                        decode_health_state_profile(store).collect()))
    n_state = store.read(DECODE_HEALTH_STATE_TABLE).count()

    q2 = stream_decode_health_monitor(spark, src, store,
                                      str(tmp_path / "ckpt2"))
    q2.awaitTermination(120)
    assert sorted(map(tuple,
                      decode_health_state_profile(store).collect())) \
        == before
    assert store.read(DECODE_HEALTH_STATE_TABLE).count() == n_state


def test_stream_band_skew_matches_batch_policy(spark, store, tmp_path):
    """The folded band-skew state must equal band_salting_policy's
    bucket shape for the three signature families — bucket counts are
    a mergeable sketch, so two microbatches fold to the corpus-wide
    histogram exactly."""
    from qucosa_fcrepo_reportingdb_spark.operators.dedup import (
        band_salting_policy,
    )
    from qucosa_fcrepo_reportingdb_spark.streaming.jobs import (
        band_skew_state_profile,
        stream_band_skew_monitor,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").select("doc_id")
    src = str(tmp_path / "docs")
    for m in range(2):
        docs.filter(F.col("doc_id") % 2 == m) \
            .coalesce(1).write.parquet(src, mode="append")

    q = stream_band_skew_monitor(spark, src, store, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    folded = {r.family: (r.n_buckets, r.band_rows, r.max_bucket,
                         r.n_hot_buckets)
              for r in band_skew_state_profile(store).collect()}
    batch = {r.family: (r.n_buckets, r.band_rows, r.max_bucket,
                        r.n_hot_buckets)
             for r in band_salting_policy(
                 spark, "/root/testdata/sf0.001").collect()
             if r.family != "minhash_lsh"}
    assert folded == batch


def test_stream_band_skew_replay_is_idempotent(spark, store, tmp_path):
    """A full replay under a fresh checkpoint re-derives the same
    epoch ids over the same files and rewrites identical keyed rows —
    the folded profile must not change."""
    from qucosa_fcrepo_reportingdb_spark.streaming.jobs import (
        band_skew_state_profile,
        stream_band_skew_monitor,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").select("doc_id")
    src = str(tmp_path / "docs")
    for m in range(2):
        docs.filter(F.col("doc_id") % 2 == m) \
            .coalesce(1).write.parquet(src, mode="append")

    q = stream_band_skew_monitor(spark, src, store, str(tmp_path / "c1"))
    q.awaitTermination(120)
    before = sorted(map(tuple, band_skew_state_profile(store).collect()))

    q2 = stream_band_skew_monitor(spark, src, store, str(tmp_path / "c2"))
    q2.awaitTermination(120)
    after = sorted(map(tuple, band_skew_state_profile(store).collect()))
    assert after == before


def test_stream_follows_band_blocking_policy(spark, store, tmp_path):
    """The actuator loop end-to-end: band_blocking_policy decides, the
    policy-driven stream deploys that decision through the band_exprs
    seam, and the emitted pair set still equals the batch operator's
    (both schemes are exact for hamming <= 3). The band-state row count
    proves the stream actually FOLLOWED the action — 4 rows/doc under
    single bands, 10 under band pairs — rather than ignoring it."""
    from qucosa_fcrepo_reportingdb_spark.operators.dedup import (
        band_blocking_policy,
        dedup_image_phash,
    )
    from qucosa_fcrepo_reportingdb_spark.streaming.jobs import (
        PHASH_POLICY_BANDS_TABLE,
        PHASH_POLICY_PAIRS_TABLE,
        stream_image_phash_policy_dedupe,
    )

    policy = {r["family"]: r.asDict()
              for r in band_blocking_policy(
                  spark, "/root/testdata/sf0.001").collect()}
    img = policy["image_phash"]
    assert img["action"] == (
        "band_pairs"
        if img["single_pairs_per_unit"] > img["budget_pairs_per_unit"]
        else "single_bands")

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").select("doc_id")
    src = str(tmp_path / "docs")
    for m in range(2):
        docs.filter(F.col("doc_id") % 2 == m) \
            .coalesce(1).write.parquet(src, mode="append")

    q = stream_image_phash_policy_dedupe(
        spark, src, store, str(tmp_path / "ckpt"), action=img["action"])
    q.awaitTermination(120)

    streamed = {(r.d1, r.d2, r.hamming) for r in
                store.read(PHASH_POLICY_PAIRS_TABLE).collect()}
    batch = {(r.d1, r.d2, r.hamming) for r in
             dedup_image_phash(spark, "/root/testdata/sf0.001").collect()}
    assert streamed == batch

    rows_per_doc = 10 if img["action"] == "band_pairs" else 4
    n_docs = docs.count()
    assert store.read(PHASH_POLICY_BANDS_TABLE).count() \
        == n_docs * rows_per_doc


def test_blocking_exprs_for_actions():
    from qucosa_fcrepo_reportingdb_spark.operators.dedup import (
        blocking_exprs_for,
    )
    import pytest as _pytest
    assert blocking_exprs_for("single_bands", "phash") is None
    assert len(blocking_exprs_for("band_pairs", "phash")) == 10
    with _pytest.raises(ValueError):
        blocking_exprs_for("salt", "phash")


def test_stream_strip_spans_matches_batch(spark, store, tmp_path):
    """Streamed span ledgers must equal the batch
    decontaminate_strip_spans row-for-row. Suite docs are delivered in
    the FIRST microbatch (the documented no-later-than contract), the
    corpus split across the next two."""
    from qucosa_fcrepo_reportingdb_spark.operators.corpus import (
        N_BENCH_SUITES,
        SUITE_SLICE_MOD,
        decontaminate_strip_spans,
        key_hash,
    )
    from qucosa_fcrepo_reportingdb_spark.streaming.jobs import (
        STRIP_LEDGERS_TABLE,
        stream_strip_spans_decontaminate,
    )

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet") \
        .selectExpr("doc_id", "text",
                    f"{key_hash('doc_id')} % {SUITE_SLICE_MOD} AS suite")
    src = str(tmp_path / "docs")
    docs.filter(F.col("suite") < N_BENCH_SUITES).drop("suite") \
        .coalesce(1).write.parquet(src, mode="append")
    for m in range(2):
        docs.filter((F.col("suite") >= N_BENCH_SUITES)
                    & (F.col("doc_id") % 2 == m)).drop("suite") \
            .coalesce(1).write.parquet(src, mode="append")

    q = stream_strip_spans_decontaminate(spark, src, store,
                                         str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    streamed = {r.doc_id: (r.n_tokens, r.n_matched_grams,
                           r.n_covered_tokens, r.clean_ratio,
                           r.would_drop)
                for r in store.read(STRIP_LEDGERS_TABLE).collect()}
    batch = {r.doc_id: (r.n_tokens, r.n_matched_grams,
                        r.n_covered_tokens, r.clean_ratio, r.would_drop)
             for r in decontaminate_strip_spans(spark, sf).collect()}
    assert streamed == batch
    assert any(v[1] > 0 for v in streamed.values())   # matches exist
    # suite docs delivered first -> every ledger saw the full suite
    # gram state: one epoch, equal to the current gram count (the
    # epoch stamp)
    from qucosa_fcrepo_reportingdb_spark.streaming.jobs import (
        STRIP_SUITE_GRAMS_TABLE,
    )
    n_state = store.read(STRIP_SUITE_GRAMS_TABLE).count()
    assert ({r.suite_epoch for r in
             store.read(STRIP_LEDGERS_TABLE).collect()}
            == {n_state}) and n_state > 0


def test_stream_strip_spans_replay_idempotent(spark, store, tmp_path):
    """Replaying the whole source under a fresh checkpoint re-screens
    every doc against the full suite state; the keyed merge must keep
    exactly one ledger row per doc with unchanged values."""
    from qucosa_fcrepo_reportingdb_spark.streaming.jobs import (
        STRIP_LEDGERS_TABLE,
        stream_strip_spans_decontaminate,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet") \
        .select("doc_id", "text")
    src = str(tmp_path / "docs")
    docs.coalesce(1).write.parquet(src, mode="append")

    q = stream_strip_spans_decontaminate(spark, src, store,
                                         str(tmp_path / "ckpt1"))
    q.awaitTermination(120)
    before = sorted(map(tuple,
                        store.read(STRIP_LEDGERS_TABLE).collect()))

    # restart on the ORIGINAL checkpoint (no new files) first — the
    # restart pin every screen twin carries — then the fresh-checkpoint
    # full reprocess
    q1b = stream_strip_spans_decontaminate(spark, src, store,
                                           str(tmp_path / "ckpt1"))
    q1b.awaitTermination(120)
    q2 = stream_strip_spans_decontaminate(spark, src, store,
                                          str(tmp_path / "ckpt2"))
    q2.awaitTermination(120)
    after = sorted(map(tuple, store.read(STRIP_LEDGERS_TABLE).collect()))
    assert after == before


def test_migrate_band_state_flips_live_stream(spark, store, tmp_path):
    """Band-state migration end-to-end (the deployed-stream hop of the
    blocking-policy loop): a stream
    deployed under single bands accumulates 4-row/doc state; when
    band_blocking_policy flips the family, migrate_band_state re-derives
    the 10-row/doc pair-key state from the persisted SIGNATURE table (no
    re-signing, no source replay), and the continued stream under
    band_exprs=blocking_exprs_for('band_pairs', ...) finds every
    cross-boundary pair —
    the full pair table equals the batch operator's. The control run
    (same flip, NO migration) proves the job is load-bearing: the stale
    single-band state matches no pair key, so every designed (4k, 4k+1)
    cross pair is lost."""
    from qucosa_fcrepo_reportingdb_spark.operators.dedup import (
        BANDED_FAMILIES,
        blocking_exprs_for,
        dedup_image_phash,
    )
    from qucosa_fcrepo_reportingdb_spark.streaming.jobs import (
        PHASH_POLICY_BANDS_TABLE,
        PHASH_POLICY_PAIRS_TABLE,
        PHASH_POLICY_SIGS_TABLE,
        migrate_band_state,
        stream_image_phash_policy_dedupe,
    )
    from qucosa_fcrepo_reportingdb_spark.tables import TableStore

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").select("doc_id")
    src1, src2 = str(tmp_path / "docs1"), str(tmp_path / "docs2")
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(src1)
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(src2)

    # phase 1: evens arrive under the single-band scheme
    q = stream_image_phash_policy_dedupe(
        spark, src1, store, str(tmp_path / "ckpt1"), "single_bands")
    q.awaitTermination(120)
    n_units = store.read(PHASH_POLICY_SIGS_TABLE).count()
    assert store.read(PHASH_POLICY_BANDS_TABLE).count() == 4 * n_units

    # phase 2: policy flips -> migrate the live state, signatures only
    report = migrate_band_state(
        spark, store, PHASH_POLICY_SIGS_TABLE, PHASH_POLICY_BANDS_TABLE,
        "phash", BANDED_FAMILIES["image_phash"].layout.n_bands,
        band_exprs=blocking_exprs_for("band_pairs", "phash"))
    assert report["n_units"] == n_units
    assert report["n_band_rows"] == 10 * n_units
    assert report["rows_per_unit"] == 10.0

    # phase 3: odds arrive under band pairs; cross pairs come from the
    # MIGRATED state (every designed (4k, 4k+1) pair spans the flip)
    q2 = stream_image_phash_policy_dedupe(
        spark, src2, store, str(tmp_path / "ckpt2"), "band_pairs")
    q2.awaitTermination(120)
    streamed = {(r.d1, r.d2, r.hamming) for r in
                store.read(PHASH_POLICY_PAIRS_TABLE).collect()}
    batch = {(r.d1, r.d2, r.hamming) for r in
             dedup_image_phash(spark, "/root/testdata/sf0.001").collect()}
    assert streamed == batch
    assert len(streamed) == 125

    # control: same flip WITHOUT migration loses every cross pair
    ctrl = TableStore(spark, str(tmp_path / "ctrl_tables"))
    qc = stream_image_phash_policy_dedupe(
        spark, src1, ctrl, str(tmp_path / "ckpt3"), "single_bands")
    qc.awaitTermination(120)
    qc2 = stream_image_phash_policy_dedupe(
        spark, src2, ctrl, str(tmp_path / "ckpt4"), "band_pairs")
    qc2.awaitTermination(120)
    # a stale single-band band_val can coincidentally equal a composite
    # pair key and surface a candidate that still hamming-verifies (a
    # real pair found by luck — 1 of 125 on this corpus); the point is
    # that essentially the whole cross-boundary pair set is LOST
    assert ctrl.read(PHASH_POLICY_PAIRS_TABLE).count() <= 5


def test_migrate_band_state_video_multirow(spark, store, tmp_path):
    """migrate_band_state's multi-row-signature path (extra_keys =
    frame_idx): a video stream deployed under single bands is migrated
    to 2-of-5 pair keys from its persisted per-frame signature table,
    and the continued stream under the 2-of-5 band_exprs finds the
    full batch pair set — the same flip the image test pins, on the
    family whose crossover measurement motivated it (SCALING.md,
    video's measured crossover: single bands lose 7.6x at 1M clips)."""
    from qucosa_fcrepo_reportingdb_spark.operators.dedup import (
        BANDED_FAMILIES,
        PAIRS56,
        dedup_video_fingerprint,
    )
    from qucosa_fcrepo_reportingdb_spark.operators.banding import band_exprs
    from qucosa_fcrepo_reportingdb_spark.streaming.jobs import (
        VFP_BANDS_TABLE,
        VFP_PAIRS_TABLE,
        VFP_SIGS_TABLE,
        migrate_band_state,
        stream_video_fingerprint_dedupe,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").select("doc_id")
    src1, src2 = str(tmp_path / "v1"), str(tmp_path / "v2")
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(src1)
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(src2)

    q = stream_video_fingerprint_dedupe(spark, src1, store,
                                        str(tmp_path / "ck1"))
    q.awaitTermination(180)
    n_frames = store.read(VFP_SIGS_TABLE).count()
    assert store.read(VFP_BANDS_TABLE).count() == 4 * n_frames

    report = migrate_band_state(
        spark, store, VFP_SIGS_TABLE, VFP_BANDS_TABLE, "vfh",
        BANDED_FAMILIES["video_vfh_frame"].layout.n_bands,
        band_exprs=band_exprs("vfh", PAIRS56, "spark"),
        extra_keys=("frame_idx",))
    assert report["n_units"] == n_frames
    assert report["rows_per_unit"] == 10.0
    # keyed shape preserved: every (doc, frame) carries its 10 pair rows
    bands = store.read(VFP_BANDS_TABLE)
    assert bands.select("doc_id", "frame_idx").distinct().count() \
        == n_frames

    q2 = stream_video_fingerprint_dedupe(
        spark, src2, store, str(tmp_path / "ck2"),
        band_exprs=band_exprs("vfh", PAIRS56, "spark"))
    q2.awaitTermination(180)
    streamed = {(r.d1, r.d2, r.frames_matched) for r in
                store.read(VFP_PAIRS_TABLE).collect()}
    batch = {(r.d1, r.d2, r.frames_matched) for r in
             dedup_video_fingerprint(
                 spark, "/root/testdata/sf0.001").collect()}
    assert streamed == batch and len(streamed) > 0


def test_migrate_band_state_rejects_string_keyed_scheme(
        spark, store, tmp_path):
    """The band state is LONG-keyed; a string-keyed scheme
    (the minhash '_'-joined band signatures) must fail loudly instead
    of silently casting every band_val to NULL and corrupting the
    migrated state."""
    from qucosa_fcrepo_reportingdb_spark.streaming.jobs import (
        migrate_band_state,
    )

    sigs = spark.createDataFrame(
        [(1, 12345), (2, 67890)],
        T.StructType([T.StructField("doc_id", T.LongType()),
                      T.StructField("sig", T.LongType())]))
    store.overwrite("str_sigs", sigs)
    before = store.read("str_sigs").count()
    with pytest.raises(ValueError, match="integral band_vals"):
        migrate_band_state(
            spark, store, "str_sigs", "str_bands", "sig", 4,
            band_exprs=["concat(cast(sig % 256 AS STRING), '_0')",
                        "concat(cast(sig % 512 AS STRING), '_1')"])
    # the rejected migration wrote nothing
    assert store.read("str_sigs").count() == before
