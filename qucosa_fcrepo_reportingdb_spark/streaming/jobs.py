"""Structured Streaming wrappers (SURVEY.md §2.5, §7 step 7).

The reference runs two long-lived threads over a shared database; here the
same topology is two streaming jobs with tables as the handoff:

- ``stream_events_hourly``   : the reporting aggregation as an incremental
                               windowed query (watermark + tumbling window)
- ``stream_header_merges``   : foreachBatch microbatch merge — each batch of
                               header changes is keyed-merged into the
                               table, giving the reference's at-least-once +
                               idempotent-upsert semantics (T4/T6: merge-on-
                               key handles arbitrarily late data; nothing is
                               ever dropped as too late)
- ``stream_dedupe_latest``   : stateful last-wins dedupe with
                               dropDuplicatesWithinWatermark-style key state

All of these run against file sources in tests (maxFilesPerTrigger is the
S4 batch-size control); swapping to Kafka is a source-config change, not a
plan change. Every foreachBatch job reads and drains through one source/
sink pair, ``_drain_files``.

The decontamination stream twins
--------------------------------
The eleven ``stream_*_decontaminate`` jobs are the streaming forms of
the suite screens in operators/corpus.py. Each is a prepare step, its
suite rows and the batch operator's own verdict body, run by one loop,
``_suite_screen_stream``. The loop's contract:

- Suite before corpus. In each micro-batch the suite members merge into
  the accumulated suite-state table first; the corpus members are then
  screened against the updated state. With suite rows delivered no
  later than the corpus rows they contaminate, the final verdicts equal
  the batch operator's. A late suite row can only add hits: replaying
  the corpus re-screens it, and the keyed merge keeps one verdict row
  per id.
- ``suite_epoch``. Every verdict row carries the suite-state row count
  it was screened against (``_with_suite_epoch``). Rows whose epoch is
  below the current count are exactly the verdicts a late suite merge
  may have invalidated; ``stale_verdict_ids`` returns them.
- Immutable suite payload. The count is a valid epoch only while suite
  state is insert-only up to idempotent re-delivery, so the suite merge
  sets ``immutable_payload``: a re-delivered key with a changed payload
  raises ``tables.ImmutablePayloadError`` at the merge. A feed that
  corrects suite rows keys them by (id, revision) instead.
- Checkpoint after data. Offsets commit only after the suite state and
  the verdicts are merged, so a failed batch replays into the same
  tables.
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from qucosa_fcrepo_reportingdb_spark import schemas
from qucosa_fcrepo_reportingdb_spark.tables import TableStore
from qucosa_fcrepo_reportingdb_spark.memo import cut_lineage
from qucosa_fcrepo_reportingdb_spark.operators import banding
from qucosa_fcrepo_reportingdb_spark.operators.corpus import (
    N_BENCH_SUITES,
    PERCEPTUAL_SCREENS,
    SEMANTIC_PROBE_K,
    _bench_split,
    _bloom_bit_set,
    _lsh_sign_frame,
    _shingle_set,
    _suite_probe_expansion,
    _suite_slice,
    bloom_screen_frame,
    lsh_screen_frame,
    multi_suite_screen_frame,
    ngram_screen_frame,
    perceptual_suite_rows,
    semantic_multisuite_frame,
    semantic_screen_frame,
    strip_span_grams_frame,
    strip_spans_frame,
)
from qucosa_fcrepo_reportingdb_spark.operators.dedup import (
    normed_embedding_frame,
    shingled_docs,
)
from qucosa_fcrepo_reportingdb_spark.operators.multimodal import (
    audio_fingerprint_frame,
    image_phash_frame,
    video_fingerprint_frame,
)

# Default source schemas: text documents, embeddings, media asset ids.
_TEXT_DOCS = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("text", T.StringType()),
])
_EMBEDDINGS = T.StructType([
    T.StructField("vec_id", T.LongType()),
    T.StructField("embedding", T.ArrayType(T.FloatType())),
    T.StructField("label", T.IntegerType()),
])
_ASSET_IDS = T.StructType([T.StructField("doc_id", T.LongType())])


def _drain_files(spark: SparkSession, source_dir: str,
                 schema: "T.StructType | None", checkpoint_dir: str,
                 subdir: str, handle: "Callable[[DataFrame, int], None]"):
    """The source/sink half of every foreachBatch job: one file per
    micro-batch (parquet under ``schema``, text lines when it is None),
    ``handle`` per batch, offsets committed to ``checkpoint_dir/subdir``
    after it returns (checkpoint-after-data), drained with
    availableNow."""
    reader = spark.readStream.option("maxFilesPerTrigger", "1")
    source = (reader.text(source_dir) if schema is None
              else reader.schema(schema).parquet(source_dir))
    return (
        source.writeStream.foreachBatch(handle)
        .option("checkpointLocation", os.path.join(checkpoint_dir, subdir))
        .trigger(availableNow=True)
        .start()
    )


def stream_events_hourly(spark: SparkSession, source_dir: str,
                         schema: T.StructType,
                         checkpoint_dir: str) -> "tuple[object, str]":
    """Incremental tumbling-window aggregation with a 10-minute watermark.

    NOTE on sink mode: the memory sink here uses `complete` output so
    tests can read the full result table — in complete mode Spark retains
    every window and the watermark evicts nothing. A production unbounded
    stream uses `update`/`append` with a sink that supports it (Kafka,
    foreachBatch upsert); THERE the same watermark bounds state size.
    Mode is sink choice, the plan is identical."""
    name = f"hourly_{uuid.uuid4().hex[:8]}"
    events = (
        spark.readStream.schema(schema).parquet(source_dir)
    )
    agg = (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum(F.col("value").cast("decimal(28,4)"))
             .cast("double").alias("sum_value"))
        .select(F.col("w.start").alias("hour"), "event_type",
                "n_events", "sum_value")
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory").queryName(name)
        .option("checkpointLocation", os.path.join(checkpoint_dir, name))
        .start()
    )
    return q, name


def stream_header_merges(spark: SparkSession, source_dir: str,
                         store: TableStore, table: str,
                         checkpoint_dir: str,
                         batch_hook: "Callable[[DataFrame, int], None] | None" = None):
    """foreachBatch microbatch merge: the engine's keyed upsert applied
    incrementally. Offsets commit only after the merge completes
    (checkpoint-after-data ordering, OaiHarvester.java:151-164), and the
    merge is idempotent, so replay of a failed batch converges.

    The merge is ``TableStore.merge_keyed``, so each microbatch is one
    whole-table rewrite committed by the store's atomic repoint."""
    def handle(batch: DataFrame, epoch_id: int) -> None:
        store.merge_keyed(table, batch, keys=["record_identifier"],
                          order_by=["datestamp"],
                          schema=schemas.OAI_HEADER_SCHEMA)
        if batch_hook is not None:
            batch_hook(batch, epoch_id)

    return _drain_files(spark, source_dir, schemas.OAI_HEADER_SCHEMA,
                        checkpoint_dir, "header_merge", handle)


def stream_dedupe_latest(spark: SparkSession, source_dir: str,
                         schema: T.StructType, key: str, order: str,
                         checkpoint_dir: str) -> "tuple[object, str]":
    """Streaming last-wins dedupe: keep only the first arrival per key
    within the watermark horizon (arrival-order semantics; the batch
    last-wins variant is operators/maintenance.last_wins_dedupe)."""
    name = f"dedupe_{uuid.uuid4().hex[:8]}"
    src = spark.readStream.schema(schema).parquet(source_dir)
    deduped = (
        src.withWatermark(order, "1 hour")
        .dropDuplicatesWithinWatermark([key])
    )
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory").queryName(name)
        .option("checkpointLocation", os.path.join(checkpoint_dir, name))
        .start()
    )
    return q, name


def _with_suite_epoch(verdicts: DataFrame, state: DataFrame) -> DataFrame:
    """Stamp verdict rows with the suite-state row count they were
    screened against (the module docstring's suite_epoch), attached as
    a broadcast 1-row aggregate — no driver collect. The row count, not
    the store's per-table commit log, is the epoch because it is a pure
    function of state content: a reprocessed stream reproduces it."""
    epoch = state.agg(
        F.count(F.lit(1)).cast("long").alias("suite_epoch"))
    return verdicts.crossJoin(F.broadcast(epoch))


def _suite_screen_stream(
        spark: SparkSession, source_dir: str, store: TableStore,
        checkpoint_dir: str, subdir: str, schema: T.StructType,
        id_col: str,
        prepare: "Callable[[DataFrame], DataFrame | None]",
        suite_rows: "Callable[[DataFrame], DataFrame]",
        verdict: "Callable[[DataFrame, DataFrame], DataFrame]",
        suite: "tuple[str, T.StructType, list]",
        verdicts: "tuple[str, T.StructType]"):
    """The suite-first loop every decontamination twin runs (contract in
    the module docstring). Per micro-batch: dedupe on ``id_col`` (an
    intra-batch re-delivery would double overlap counts and leave
    duplicate verdict rows); ``prepare`` the batch once and persist it
    (None skips an empty batch); merge ``suite_rows(prepared)`` into the
    ``suite`` (table, schema, keys) state; read the state back, run
    ``verdict(prepared, state)``, stamp the epoch and keyed-merge the
    result into the ``verdicts`` (table, schema)."""
    suite_table, suite_schema, suite_keys = suite
    verdicts_table, verdict_schema = verdicts

    def handle(batch: DataFrame, epoch_id: int) -> None:
        prepared = prepare(batch.dropDuplicates([id_col]))
        if prepared is None:
            return
        prepared = prepared.persist()
        try:
            store.merge_keyed(suite_table, suite_rows(prepared),
                              keys=suite_keys, schema=suite_schema,
                              immutable_payload=True)
            state = store.read(suite_table, suite_schema)
            store.merge_keyed(
                verdicts_table,
                _with_suite_epoch(verdict(prepared, state), state),
                keys=[id_col], schema=verdict_schema)
        finally:
            prepared.unpersist()

    return _drain_files(spark, source_dir, schema, checkpoint_dir, subdir,
                        handle)


def stale_verdict_ids(store: "TableStore", verdicts_table: str,
                      verdict_schema: T.StructType, suite_table: str,
                      suite_schema: T.StructType,
                      id_col: str = "doc_id") -> DataFrame:
    """The suite-epoch convention's canonical CONSUMER: ids of verdict
    rows whose recorded epoch predates the CURRENT suite-state count —
    exactly the verdicts a late suite merge may have invalidated, i.e.
    the replay set. One comparison, no rescreen; the current count
    attaches as a broadcast 1-row aggregate like the producer side.

    ``suite_epoch`` is COALESCEd to 0 before the compare (ADVICE r14):
    a verdict table persisted before the epoch column existed reads it
    back as NULL (the store's tolerant reader), and ``NULL < count``
    is NULL — a genuinely stale pre-migration verdict would silently
    never trip an inline comparison. Reading NULL as epoch 0 marks
    every pre-epoch row conservatively stale, which is the honest
    answer: nothing recorded what state those rows were screened
    against, so the only safe claim is "replay them". Consumers should
    use this helper (or copy its COALESCE) rather than comparing the
    raw column."""
    verdicts = store.read(verdicts_table, verdict_schema)
    state = store.read(suite_table, suite_schema)
    cur = state.agg(F.count(F.lit(1)).cast("long").alias("cur_epoch"))
    return (verdicts.join(F.broadcast(cur), F.lit(True), "left")
            .filter(F.coalesce(F.col("suite_epoch"), F.lit(0))
                    < F.col("cur_epoch"))
            .select(id_col))


MINHASH_SHINGLES_TABLE = "minhash_shingles"
MINHASH_PAIRS_TABLE = "minhash_pairs"
MINHASH_BANDS_TABLE = "minhash_bands"


def stream_minhash_dedupe(spark: SparkSession, source_dir: str,
                          store: TableStore, checkpoint_dir: str,
                          schema: T.StructType | None = None):
    """Incremental near-duplicate detection: each microbatch of documents
    computes its minhash band signatures (scan-local expression work),
    band-joins them against the ACCUMULATED shingle table to surface
    candidates, verifies with exact Jaccard, and appends the verified
    pairs — then merges its own shingles into the state table. A pair is
    emitted exactly once: in the batch where its second document arrives
    (intra-batch pairs via d1 < d2, cross-batch pairs via new-vs-stored).

    Scale shape: per batch, only the batch's band signatures COMPUTE and
    shuffle — the stored side's signatures are state (each doc signed
    once at its own ingest, persisted in the bands table), so per-batch
    CPU is O(batch + matched buckets), not O(corpus). State grows
    O(corpus shingles + corpus bands) — the same state a batch LSH pass
    needs, amortized over arrivals. Offsets commit only after pairs +
    state are durably written (checkpoint-after-data, T6/T8 semantics);
    pair emission is exactly-once via the anti-join against the recorded
    pair set."""
    from qucosa_fcrepo_reportingdb_spark.operators.dedup import (
        band_signatures,
        join_shingles_onto_pairs,
        verified_jaccard_pairs,
    )

    doc_schema = schema or _TEXT_DOCS
    shingle_schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("sh", T.ArrayType(T.LongType())),
    ])

    band_schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("band_idx", T.IntegerType()),
        T.StructField("signature", T.StringType()),
    ])
    pair_schema = T.StructType([
        T.StructField("d1", T.LongType()),
        T.StructField("d2", T.LongType()),
        T.StructField("jaccard", T.DoubleType()),
    ])

    def handle(batch: DataFrame, epoch_id: int) -> None:
        # dedupe the batch by doc_id FIRST: an intra-batch re-delivery
        # (at-least-once source) must not duplicate state rows or fan
        # candidate pairs into multiple verified rows
        sh_b = shingled_docs(batch.select("doc_id", "text")
                             .dropDuplicates(["doc_id"]),
                             non_empty=True).persist()
        try:
            # band join on (doc_id, band_idx, signature) ONLY — the band
            # shuffle never carries shingle arrays (same fix as the batch
            # operator); shingles re-join onto the deduped candidate ids.
            # The STORED side's signatures come from the bands state
            # table (each doc signed once, at its own ingest) — NOT
            # band_signatures(stored), which would recompute N_PERM
            # minhashes over the whole accumulated corpus per batch.
            new_bands = band_signatures(sh_b)
            stored = store.read(MINHASH_SHINGLES_TABLE, shingle_schema)
            stored_bands = store.read(MINHASH_BANDS_TABLE, band_schema)
            new_a = new_bands.select(F.col("doc_id").alias("d1"),
                                     "band_idx", "signature")
            new_b = new_bands.select(F.col("doc_id").alias("d2"),
                                     "band_idx", "signature")
            intra = (
                new_a.join(new_b, ["band_idx", "signature"])
                .filter(F.col("d1") < F.col("d2"))
            )
            cross = (
                stored_bands.select(F.col("doc_id").alias("d1"),
                                    "band_idx", "signature")
                .join(new_b, ["band_idx", "signature"])
            )
            cand_ids = (
                intra.unionByName(cross)
                # normalize pair order; jaccard is symmetric in (sh1, sh2).
                # d1 == d2 happens when a doc is re-delivered (at-least-once
                # source) and must not pair with its stored self.
                .select(F.least("d1", "d2").alias("d1"),
                        F.greatest("d1", "d2").alias("d2"))
                .filter(F.col("d1") != F.col("d2"))
                .dropDuplicates(["d1", "d2"])
            )
            # shingle lookup: batch rows win over stored on re-delivery
            # (merge_keyed applies the same last-wins below)
            lookup = (
                sh_b.select("doc_id", "sh")
                .unionByName(stored.join(sh_b.select("doc_id"), "doc_id",
                                         "left_anti"))
            )
            pairs = verified_jaccard_pairs(
                join_shingles_onto_pairs(cand_ids, lookup))
            # exactly-once pair emission across batches AND replays: a
            # re-delivered doc re-finds its pairs, the anti-join against
            # the recorded set drops them before the append
            recorded = store.read(MINHASH_PAIRS_TABLE, pair_schema) \
                .select("d1", "d2")
            store.append(MINHASH_PAIRS_TABLE,
                         pairs.join(recorded, ["d1", "d2"], "left_anti"),
                         schema=pair_schema)
            # state AFTER pairs: a replayed batch re-finds the same pairs
            # (now dropped by the anti-join) but never misses one. Bands
            # merge on (doc_id, band_idx) — exactly LSH_BANDS rows per
            # doc survive any number of re-deliveries.
            store.merge_keyed(MINHASH_SHINGLES_TABLE, sh_b,
                              keys=["doc_id"], schema=shingle_schema)
            store.merge_keyed(MINHASH_BANDS_TABLE, new_bands,
                              keys=["doc_id", "band_idx"],
                              schema=band_schema)
        finally:
            sh_b.unpersist()

    return _drain_files(spark, source_dir, doc_schema, checkpoint_dir,
                        "minhash_dedupe", handle)


QUALITY_VERDICTS_TABLE = "quality_verdicts"

QUALITY_VERDICT_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("n_tokens", T.LongType()),
    T.StructField("top_token_ratio", T.DoubleType()),
    T.StructField("verdict", T.StringType()),
    T.StructField("keep", T.BooleanType()),
])


def stream_quality_verdicts(spark: SparkSession, source_dir: str,
                            store: TableStore, checkpoint_dir: str,
                            schema: T.StructType | None = None):
    """Incremental corpus quality filtering: each microbatch of arriving
    documents is scored with the SAME scan-local rules as the batch
    quality_filter_verdicts (per-doc stats are batch-independent, so
    incremental == batch) and keyed-merged into the verdicts table —
    re-delivered docs (at-least-once source) just overwrite their own
    row. Offsets commit after the merge (checkpoint-after-data)."""
    from qucosa_fcrepo_reportingdb_spark.operators.corpus import (
        quality_filter_verdicts_df,
    )

    doc_schema = schema or _TEXT_DOCS

    def handle(batch: DataFrame, epoch_id: int) -> None:
        # intra-batch re-delivery (at-least-once source) must not leave
        # duplicate doc_id rows in the keyed verdicts table
        verdicts = quality_filter_verdicts_df(
            batch.select("doc_id", "text").dropDuplicates(["doc_id"]))
        store.merge_keyed(QUALITY_VERDICTS_TABLE, verdicts,
                          keys=["doc_id"],
                          schema=QUALITY_VERDICT_SCHEMA)

    return _drain_files(spark, source_dir, doc_schema, checkpoint_dir,
                        "quality_verdicts", handle)


BLOOM_BITS_TABLE = "bloom_bits"
BLOOM_VERDICTS_TABLE = "bloom_verdicts"

BLOOM_BITS_SCHEMA = T.StructType([T.StructField("bit", T.LongType())])
BLOOM_VERDICT_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("n_bloom_hits", T.LongType()),
    T.StructField("maybe_contaminated", T.BooleanType()),
    # suite_epoch: the accumulated bloom-bit count (bits are only set)
    T.StructField("suite_epoch", T.LongType()),
])


def stream_bloom_decontaminate(spark: SparkSession, source_dir: str,
                               store: TableStore, checkpoint_dir: str,
                               schema: T.StructType | None = None):
    """Streaming twin of corpus.decontaminate_bloom: benchmark docs fold
    their shingle bit positions into the bloom-bit state, corpus docs
    are scored against it (bloom_screen_frame). The bit state is bounded
    by BLOOM_M regardless of benchmark size and broadcasts."""
    return _suite_screen_stream(
        spark, source_dir, store, checkpoint_dir, "bloom_decontaminate",
        schema or _TEXT_DOCS, "doc_id",
        prepare=lambda b: _bench_split(
            shingled_docs(b.select("doc_id", "text")), flag="is_bench"),
        suite_rows=lambda sh: _bloom_bit_set(sh.filter("is_bench")),
        verdict=lambda sh, bits: bloom_screen_frame(
            sh.filter(~F.col("is_bench")), bits),
        suite=(BLOOM_BITS_TABLE, BLOOM_BITS_SCHEMA, ["bit"]),
        verdicts=(BLOOM_VERDICTS_TABLE, BLOOM_VERDICT_SCHEMA))


def stream_sessionize(spark: SparkSession, source_dir: str,
                      schema: T.StructType, gap_seconds: int,
                      checkpoint_dir: str) -> "tuple[object, str]":
    """Custom stateful operator via applyInPandasWithState: per-user
    session assignment with persistent (last_ts, session_seq) state across
    microbatches — the streaming form of plans/events.sessionize_events.

    A group's full microbatch is concatenated and sorted into event
    order before assignment (the Arrow chunking boundary is NOT an
    ordering boundary); state carries the running session counter
    between batches. Production adds an event-time timeout to finalize
    idle sessions; the test driver uses availableNow semantics so state
    closes with the stream."""
    import pandas as pd  # noqa: F811 (worker-side import)
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    name = f"sessions_{uuid.uuid4().hex[:8]}"
    out_schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("session_seq", T.LongType()),
    ])
    state_schema = T.StructType([
        T.StructField("last_epoch", T.DoubleType()),
        T.StructField("session_seq", T.LongType()),
    ])

    def assign(key, pdfs, state: "GroupState"):
        # Vectorized within each sorted batch: the session increments are
        # diff(epochs) > gap as a boolean vector, session ids a cumsum —
        # no per-row Python. State (last epoch, running counter) carries
        # across batches.
        import numpy as np

        (user_id,) = key
        last_epoch, seq = state.get if state.exists else (None, 0)
        # applyInPandasWithState hands a group's batch as MULTIPLE Arrow
        # chunks (split at arrow.maxRecordsPerBatch) with no cross-chunk
        # ordering guarantee: sorting each chunk independently would
        # sessionize a >10k-row user against the wrong predecessor
        # whenever a later chunk holds earlier events. Concatenate the
        # group's chunks and sort ONCE — memory is bounded by the
        # group's rows in this microbatch, which the sort needs anyway.
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True) \
                .sort_values(["ts", "event_id"])
            epochs = pdf["ts"].to_numpy().astype("datetime64[ns]")
            epochs = epochs.astype("int64") / 1e9
            first_prev = epochs[0] if last_epoch is None else last_epoch
            prev = np.concatenate(([first_prev], epochs[:-1]))
            seqs = seq + np.cumsum((epochs - prev) > gap_seconds)
            seq = int(seqs[-1])
            last_epoch = float(epochs[-1])
            yield pd.DataFrame({
                "user_id": user_id,
                "event_id": pdf["event_id"].to_numpy(),
                "ts": pdf["ts"].to_numpy(),
                "session_seq": seqs,
            })
        state.update((last_epoch, seq))

    src = spark.readStream.schema(schema).parquet(source_dir)
    sessions = (
        src.groupBy("user_id")
        .applyInPandasWithState(assign, out_schema, state_schema,
                                "append", GroupStateTimeout.NoTimeout)
    )
    q = (
        sessions.writeStream.outputMode("append")
        .format("memory").queryName(name)
        .option("checkpointLocation", os.path.join(checkpoint_dir, name))
        .start()
    )
    return q, name


def stream_session_windows(spark: SparkSession, source_dir: str,
                           schema: T.StructType, checkpoint_dir: str,
                           gap: str = "30 minutes") -> "tuple[object, str]":
    """Native gap-based sessionization with ``F.session_window`` — the
    declarative alternative to the applyInPandasWithState sessionizer
    (``stream_sessionize``): Spark merges windows whose events fall
    within ``gap`` of each other and carries per-(user, session) state
    that the watermark evicts once a session can no longer grow.

    Scale shape: state is one open-session row per active user, shuffled
    on the grouping key; closed sessions leave state at watermark
    advance, so the state store is bounded by concurrent activity, not
    history. Same complete-mode memory-sink note as
    ``stream_events_hourly`` — mode is sink choice, the plan and state
    semantics are identical in update/append."""
    name = f"sessions_{uuid.uuid4().hex[:8]}"
    events = spark.readStream.schema(schema).parquet(source_dir)
    agg = (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum(F.col("value").cast("decimal(28,4)"))
             .cast("double").alias("sum_value"))
        .select("user_id", F.col("w.start").alias("session_start"),
                F.col("w.end").alias("session_end"), "n_events", "sum_value")
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory").queryName(name)
        .option("checkpointLocation", os.path.join(checkpoint_dir, name))
        .start()
    )
    return q, name


def stream_stream_enrich_join(spark: SparkSession, clicks_dir: str,
                              views_dir: str, schema: T.StructType,
                              checkpoint_dir: str) -> "tuple[object, str]":
    """Stream-stream inner join with an event-time interval condition:
    each click joins the SAME user's views from the preceding hour —
    the attribution join (conversion <- impressions) done stream-to-
    stream instead of stream-to-static.

    Both sides carry watermarks and the join condition bounds event-time
    distance, so Spark derives how long each side's rows must be buffered
    and evicts join state past `watermark + interval`. Without the time
    bound the state would be unbounded — the interval IS the scale
    guarantee. Shuffles: one hash partition on user_id per side."""
    name = f"ssjoin_{uuid.uuid4().hex[:8]}"
    clicks = (spark.readStream.schema(schema).parquet(clicks_dir)
              .withWatermark("ts", "10 minutes")
              .select(F.col("user_id"),
                      F.col("ts").alias("click_ts"),
                      F.col("event_id").alias("click_id")))
    views = (spark.readStream.schema(schema).parquet(views_dir)
             .withWatermark("ts", "1 hour")
             .select(F.col("user_id").alias("v_user_id"),
                     F.col("ts").alias("view_ts"),
                     F.col("event_id").alias("view_id")))
    joined = clicks.join(
        views,
        (clicks.user_id == views.v_user_id)
        & (views.view_ts <= clicks.click_ts)
        & (views.view_ts >= clicks.click_ts - F.expr("INTERVAL 1 HOUR")))
    q = (
        joined.select("user_id", "click_id", "view_id",
                      "click_ts", "view_ts")
        .writeStream.outputMode("append")
        .format("memory").queryName(name)
        .option("checkpointLocation", os.path.join(checkpoint_dir, name))
        .start()
    )
    return q, name


HISTOGRAM_STATE_TABLE = "histogram_buckets"


def stream_histogram_quantiles(spark: SparkSession, source_dir: str,
                               store: TableStore, checkpoint_dir: str,
                               schema: T.StructType,
                               group_col: str, value_col: str,
                               bucket_width: int):
    """Incremental mergeable-histogram maintenance: each microbatch
    reduces to its own (group, bucket) counts (bounded key space,
    map-side combinable) and ADDS them into the state table — the merge
    the sketch exists for: per-batch histograms combine by bucket-count
    addition, so the accumulated state equals the histogram of all data
    seen, and quantiles extracted from it (quantiles_from_bucket_counts)
    equal the batch answer at every point in the stream.

    State is keyed by (epoch, grp, bucket) and written through the
    store's idempotent keyed merge — NOT added in place: offsets commit
    only after the state write (checkpoint-after-data), so a crash
    between them REPLAYS the batch, and a naive `cnt += batch_cnt` would
    double-count exactly the batch that crashed (the T6/T8 failure the
    keyed merge exists to prevent — a replayed epoch rewrites its own
    rows with identical values instead). Extraction sums across epochs;
    state is O(epochs x groups x buckets) rows of three scalars —
    compact epochs into one via the same additive fold when the epoch
    count ever matters."""
    def handle(batch: DataFrame, epoch_id: int) -> None:
        b = (batch.selectExpr(
                f"{group_col} AS grp",
                f"CAST(floor(CAST({value_col} AS DOUBLE) / {bucket_width})"
                " AS BIGINT) AS bucket")
             .groupBy("grp", "bucket")
             .agg(F.count(F.lit(1)).alias("cnt"))
             .withColumn("epoch", F.lit(epoch_id).cast("long")))
        # state schema derives from the batch so a non-string group
        # column keeps its native type through the keyed merge
        store.merge_keyed(HISTOGRAM_STATE_TABLE, b,
                          keys=["epoch", "grp", "bucket"],
                          schema=b.schema)

    return _drain_files(spark, source_dir, schema, checkpoint_dir,
                        "histogram", handle)


def histogram_state_quantiles(store: TableStore,
                              bucket_width: int) -> DataFrame:
    """Fold the per-epoch histograms (bucket counts ADD — the sketch's
    merge) and extract quantiles with the SAME extraction the batch
    query uses."""
    from qucosa_fcrepo_reportingdb_spark.plans.advanced import (
        quantiles_from_bucket_counts,
    )
    folded = (store.read(HISTOGRAM_STATE_TABLE)
              .groupBy("grp", "bucket")
              .agg(F.sum("cnt").cast("long").alias("cnt")))
    return quantiles_from_bucket_counts(folded, group="grp",
                                        bucket_width=bucket_width)


def stream_validated_ingest(spark: SparkSession, source_dir: str,
                            store: TableStore, schema: T.StructType,
                            table: str, key_cols: list,
                            checkpoint_dir: str):
    """Continuous JSONL ingest with quarantine routing — the streaming
    form of sources/files.read_jsonl_validated: files land in
    ``source_dir``, each microbatch splits lines into (valid under the
    declared schema) -> idempotent keyed MERGE and (corrupt) -> keyed
    quarantine MERGE on content hash. Exactly the batch path's F4/T4/T6
    semantics, executed incrementally; offsets commit only after both
    writes (checkpoint-after-data), so replay of a failed batch
    converges with no duplicate rows OR duplicate reject evidence.

    Scale shape: the text file source is splittable and rate-controlled
    by maxFilesPerTrigger; the parse is from_json expression work
    (scan-local); each batch pays two keyed merges, each a rewrite of
    its target table.
    A deployment points this at the landing bucket and lets it run —
    the quarantine table is the triage queue for producer bugs."""
    from qucosa_fcrepo_reportingdb_spark.sources.files import (
        CORRUPT_COL,
        _with_corrupt_col,
    )

    full = _with_corrupt_col(schema)
    data_cols = [f.name for f in schema.fields if f.name != CORRUPT_COL]

    def handle(batch: DataFrame, epoch_id: int) -> None:
        parsed = (
            batch.filter(F.length(F.trim("value")) > 0)
            .select(
                F.col("value").alias("raw_line"),
                F.from_json(
                    "value", full,
                    {"mode": "PERMISSIVE",
                     "columnNameOfCorruptRecord": CORRUPT_COL}).alias("r"),
            ).transform(cut_lineage)          # both splits read one parse
        )
        bad = F.col("r").isNull() | F.col(f"r.{CORRUPT_COL}").isNotNull()
        # one row per key BEFORE the merge: two versions of a record in
        # one landing file would otherwise both survive merge_upsert's
        # anti-join (which dedupes changes-vs-stored, not changes-vs-
        # changes). Line formats carry no ordering column, so the
        # intra-batch winner is arbitrary-but-single; producers needing
        # deterministic last-wins add a version column and merge on it.
        valid = (parsed.filter(~bad)
                 .select(*[F.col(f"r.{c}").alias(c) for c in data_cols])
                 .dropDuplicates(list(key_cols)))
        quarantine = (parsed.filter(bad)
                      .select("raw_line",
                              F.sha2("raw_line", 256).alias("line_hash")))
        store.merge_keyed(table, valid, keys=key_cols, schema=schema)
        store.merge_keyed(f"{table}_quarantine", quarantine,
                          keys=["line_hash"], schema=quarantine.schema)

    return _drain_files(spark, source_dir, None, checkpoint_dir,
                        "validated_ingest", handle)


NORM_STATE_TABLE = "embedding_norm_state"


def stream_embedding_norm_monitor(spark: SparkSession, source_dir: str,
                                  store: TableStore, checkpoint_dir: str,
                                  schema: T.StructType | None = None):
    """Continuous embedding-health monitoring — the streaming form of
    operators/similarity.embedding_norm_stats: each microbatch reduces
    to per-(epoch, label) MOMENTS (n, sum(norm), sum(norm^2) as exact
    DECIMALs, plus the zero-norm count) and keyed-merges them into the
    state table. Moments are the mergeable sketch: per-batch rows ADD
    across epochs, so the folded state equals the batch computation over
    everything seen — the same additive pattern as the histogram state.
    Exactly-once under replay: state is keyed by (epoch, label) and a
    replayed batch REWRITES its own rows with identical values
    (checkpoint-after-data, never `+=` in place).

    PRECONDITION — vec_id uniqueness across the stream: the per-batch
    dropDuplicates("vec_id") only dedupes WITHIN a microbatch, so the
    exact batch-equivalence claim holds when each vec_id arrives once
    across the whole stream (the contract of an append-only embedding
    export). A vector re-emitted in a LATER file lands in a different
    epoch and double-counts in the folded moments; deduping that case
    needs a seen-vec_id state table whose size is O(stream keys) — a
    deliberate non-goal for a drift monitor, where re-emission is
    upstream misbehavior the n/n_zero counts themselves surface (they
    grow past the known corpus size).

    The 3-sigma outlier COUNT of the batch operator is deliberately not
    maintained here: it needs a second pass over the data against the
    final mean, which is a batch audit by nature — the monitor's job is
    the mean/std drift signal that triggers that audit."""
    emb_schema = schema or T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("label", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ])
    nrm = ("sqrt(aggregate(transform(embedding, "
           "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
           "CAST(0 AS DOUBLE), (acc, x) -> acc + x))")

    def handle(batch: DataFrame, epoch_id: int) -> None:
        b = (batch.dropDuplicates(["vec_id"])
             .selectExpr("label", f"{nrm} AS nrm")
             .selectExpr(
                 "label",
                 "CASE WHEN nrm > 0 THEN 1 ELSE 0 END AS live",
                 "CASE WHEN nrm = 0 THEN 1 ELSE 0 END AS zero",
                 "CASE WHEN nrm > 0 THEN CAST(nrm AS DECIMAL(38,8)) "
                 "ELSE CAST(0 AS DECIMAL(38,8)) END AS dn",
                 "CASE WHEN nrm > 0 THEN CAST(nrm * nrm AS DECIMAL(38,8))"
                 " ELSE CAST(0 AS DECIMAL(38,8)) END AS dn2")
             .groupBy("label")
             .agg(F.sum("live").cast("long").alias("n"),
                  F.sum("dn").cast("decimal(38,8)").alias("s1"),
                  F.sum("dn2").cast("decimal(38,8)").alias("s2"),
                  F.sum("zero").cast("long").alias("n_zero"))
             .withColumn("epoch", F.lit(epoch_id).cast("long")))
        store.merge_keyed(NORM_STATE_TABLE, b, keys=["epoch", "label"],
                          schema=b.schema)

    return _drain_files(spark, source_dir, emb_schema, checkpoint_dir,
                        "norm_monitor", handle)


def embedding_norm_state_profile(store: TableStore) -> DataFrame:
    """Fold the per-epoch moments (plain addition — the sketch's merge)
    and derive the same mean/std the batch operator emits; outlier
    recount stays a batch audit (see stream_embedding_norm_monitor)."""
    return (
        store.read(NORM_STATE_TABLE)
        .groupBy("label")
        .agg(F.sum("n").cast("long").alias("n"),
             F.sum("s1").cast("string").cast("double").alias("s1"),
             F.sum("s2").cast("string").cast("double").alias("s2"),
             F.sum("n_zero").cast("long").alias("n_zero"))
        .selectExpr(
            # nullif: a label whose vectors were ALL zero-norm carries
            # n=0 moments — NULL mean/std (matching the batch operator's
            # full-outer emission), never a 0/0
            "label", "n",
            "s1 / CAST(nullif(n, 0) AS DOUBLE) AS mean_norm",
            # explicit n=0 CASE, not just nullif: greatest() IGNORES
            # NULL arguments (returns 0, not NULL), so the nullif alone
            # would emit std 0.0 where the batch operator emits NULL
            "CASE WHEN n = 0 THEN CAST(NULL AS DOUBLE) ELSE "
            "sqrt(greatest(s2 / CAST(n AS DOUBLE)"
            " - (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE)),"
            " CAST(0 AS DOUBLE))) END AS std_norm", "n_zero")
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# content-drift monitor: language-ID confusion + quality-bucket histogram
# ---------------------------------------------------------------------------
LANG_DRIFT_STATE_TABLE = "lang_drift_state"
QUALITY_DRIFT_STATE_TABLE = "quality_drift_state"


def stream_content_drift_monitor(spark: SparkSession, source_dir: str,
                                 store: TableStore, checkpoint_dir: str,
                                 schema: "T.StructType | None" = None):
    """Continuous CONTENT-drift monitoring — the norm monitor's
    mergeable-moments pattern applied to the two content signals the
    batch suite already audits: the language-ID confusion matrix
    (additive per-(labeled, predicted) counts) and the quality-bucket
    histogram (additive per-bucket doc/token counts). Together with the
    vector-health monitor this gives ingest a drift signal on WHAT is
    arriving, not just on embedding geometry.

    Same exactly-once contract as stream_embedding_norm_monitor: state
    rows are keyed by (epoch, key...) and a replayed batch REWRITES its
    own rows with identical values; counts are plain BIGINT addition, so
    the cross-epoch fold equals the batch computation bit-for-bit (the
    pytest pins both equalities). The scoring/binning expressions are
    imported from functions/text.py — ONE source of arithmetic for batch
    and stream. Per-batch state delta is O(langs^2 + STEPS), regardless
    of batch size; both merges are idempotent keyed rewrites, so a crash
    between the two merges replays into convergence."""
    from qucosa_fcrepo_reportingdb_spark.functions.text import (
        lang_prediction_frame,
        quality_binned_frame,
    )

    doc_schema = schema or T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ])

    def handle(batch: DataFrame, epoch_id: int) -> None:
        lang = (lang_prediction_frame(batch)
                .groupBy("labeled_lang", "predicted_lang")
                .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
                .withColumn("epoch", F.lit(epoch_id).cast("long")))
        store.merge_keyed(LANG_DRIFT_STATE_TABLE, lang,
                          keys=["epoch", "labeled_lang", "predicted_lang"],
                          schema=lang.schema)
        # b = -1 carries the unscorable-doc count (NULL can't be a merge
        # key); its tok stays 0 and the profile routes it to the total
        # only, mirroring the batch sweep's NULL-bucket handling
        qual = (quality_binned_frame(batch)
                .selectExpr("coalesce(b, -1) AS b", "n_tokens")
                .groupBy("b")
                .agg(F.count(F.lit(1)).cast("long").alias("n"),
                     F.coalesce(F.sum(F.when(F.col("b") >= 0,
                                             F.col("n_tokens"))),
                                F.lit(0)).cast("long").alias("tok"))
                .withColumn("epoch", F.lit(epoch_id).cast("long")))
        store.merge_keyed(QUALITY_DRIFT_STATE_TABLE, qual,
                          keys=["epoch", "b"], schema=qual.schema)

    return _drain_files(spark, source_dir, doc_schema, checkpoint_dir,
                        "content_drift_monitor", handle)


def lang_drift_state_profile(store: TableStore) -> DataFrame:
    """Fold the per-epoch confusion counts (plain addition) into the
    same (labeled_lang, predicted_lang, n_docs) table the batch
    lang_confusion_matrix emits."""
    return (
        store.read(LANG_DRIFT_STATE_TABLE)
        .groupBy("labeled_lang", "predicted_lang")
        .agg(F.sum("n_docs").cast("long").alias("n_docs"))
        .orderBy("labeled_lang", "predicted_lang")
    )


def quality_drift_state_profile(spark: SparkSession,
                                store: TableStore) -> DataFrame:
    """Fold the per-epoch bucket counts and reproduce the FULL 21-row
    quality_threshold_sweep table (sweep_output consumes the folded
    BIGINT sums, so every derived double matches the batch sweep
    exactly)."""
    from qucosa_fcrepo_reportingdb_spark.functions.text import sweep_output

    st = store.read(QUALITY_DRIFT_STATE_TABLE)
    total = st.agg(F.sum("n").cast("long").alias("n_total"))
    per_bucket = (st.filter(F.col("b") >= 0)
                  .groupBy("b")
                  .agg(F.sum("n").cast("long").alias("n"),
                       F.sum("tok").cast("long").alias("tok")))
    return sweep_output(spark, per_bucket, total)


# ---------------------------------------------------------------------------
# streaming image-phash dedupe (the incremental pixel-content form)
# ---------------------------------------------------------------------------
PHASH_SIGS_TABLE = "phash_sigs"
PHASH_BANDS_TABLE = "phash_bands"
PHASH_PAIRS_TABLE = "phash_pairs"


def _banded_signature_dedupe_stream(
        spark: SparkSession, source_dir: str, store: TableStore,
        checkpoint_dir: str, schema: "T.StructType | None",
        sign_frame, sig_col: str, n_bands: int,
        hamming_max: int, sigs_table: str, bands_table: str,
        pairs_table: str, checkpoint_name: str,
        band_exprs=None):
    """Shared topology for streaming banded-signature dedup (image phash
    and audio fingerprint are the same machine over a different one-
    Python-stage signer): each microbatch of documents is signed
    (scan-local), band-joined intra-batch AND against the ACCUMULATED
    band state, and hamming-verified pairs append exactly once
    (anti-join against the recorded pair set). A pair is emitted in the
    batch where its second asset arrives.

    Scale shape: per batch only the batch's assets decode and sign —
    the stored side is 16-byte signatures + n_bands band rows per doc,
    persisted at each doc's own ingest (never re-decoded); per-batch
    cost is O(batch + matched buckets). Offsets commit only after
    pairs + state are durable (checkpoint-after-data); re-delivered
    docs overwrite their own keyed state rows and their re-found pairs
    drop in the anti-join — the same at-least-once -> exactly-once
    argument as the minhash job, pinned by the replay pytests.

    ``band_exprs`` (optional list of SQL expressions over ``sig_col``)
    swaps the blocking scheme — e.g. the 2-of-5 band-pair keys for the
    birthday regime (SCALING.md r8 cont. 7) — without forking the
    topology; default is the production strided single bands."""
    doc_schema = schema or _ASSET_IDS
    sig_schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField(sig_col, T.LongType()),
    ])
    band_schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("band_idx", T.IntegerType()),
        T.StructField("band_val", T.LongType()),
    ])
    pair_schema = T.StructType([
        T.StructField("d1", T.LongType()),
        T.StructField("d2", T.LongType()),
        T.StructField("hamming", T.IntegerType()),
    ])

    exprs = band_exprs or _strided_exprs(sig_col, n_bands)

    def handle(batch: DataFrame, epoch_id: int) -> None:
        sig_b = sign_frame(batch.dropDuplicates(["doc_id"])).persist()
        try:
            new_bands = banding.explode_bands(sig_b, exprs, "doc_id")
            stored_sigs = store.read(sigs_table, sig_schema)
            stored_bands = store.read(bands_table, band_schema)
            cand = banding.stream_candidates(new_bands, stored_bands)
            # signature lookup: batch rows win over stored on re-delivery
            lookup = sig_b.unionByName(
                stored_sigs.join(sig_b.select("doc_id"), "doc_id",
                                 "left_anti"))
            pairs = (
                cand
                .join(lookup.select(F.col("doc_id").alias("d1"),
                                    F.col(sig_col).alias("p1")), "d1")
                .join(lookup.select(F.col("doc_id").alias("d2"),
                                    F.col(sig_col).alias("p2")), "d2")
                .withColumn("hamming",
                            F.expr("CAST(bit_count(p1 ^ p2) AS INT)"))
                .filter(F.col("hamming") <= hamming_max)
                .select("d1", "d2", "hamming")
            )
            recorded = store.read(pairs_table, pair_schema) \
                .select("d1", "d2")
            store.append(pairs_table,
                         pairs.join(recorded, ["d1", "d2"], "left_anti"),
                         schema=pair_schema)
            # state AFTER pairs (replay re-finds, anti-join drops)
            store.merge_keyed(sigs_table, sig_b,
                              keys=["doc_id"], schema=sig_schema)
            store.merge_keyed(bands_table, new_bands,
                              keys=["doc_id", "band_idx"],
                              schema=band_schema)
        finally:
            sig_b.unpersist()

    return _drain_files(spark, source_dir, doc_schema, checkpoint_dir,
                        checkpoint_name, handle)


def _strided_exprs(sig_col: str, n_bands: int) -> "list[str]":
    """The production single-band exprs: strided over 56 bits."""
    return banding.band_exprs(sig_col, banding.Layout("strided", n_bands),
                              "spark")


def stream_image_phash_dedupe(spark: SparkSession, source_dir: str,
                              store: TableStore, checkpoint_dir: str,
                              schema: "T.StructType | None" = None):
    """Incremental image near-duplicate detection — stream_minhash_dedupe's
    topology applied to the pixel hash; see
    _banded_signature_dedupe_stream for the shared exactly-once
    argument and scale shape."""
    from qucosa_fcrepo_reportingdb_spark.operators.dedup import (
        PHASH_HAMMING_MAX,
        PHASH_N_BANDS,
    )
    return _banded_signature_dedupe_stream(
        spark, source_dir, store, checkpoint_dir, schema,
        sign_frame=image_phash_frame, sig_col="phash",
        n_bands=PHASH_N_BANDS,
        hamming_max=PHASH_HAMMING_MAX, sigs_table=PHASH_SIGS_TABLE,
        bands_table=PHASH_BANDS_TABLE, pairs_table=PHASH_PAIRS_TABLE,
        checkpoint_name="phash_dedupe")


PHASH_C2_SIGS_TABLE = "phash_c2_sigs"
PHASH_C2_BANDS_TABLE = "phash_c2_bands"
PHASH_C2_PAIRS_TABLE = "phash_c2_pairs"


def stream_image_phash_bandpairs_dedupe(spark: SparkSession,
                                        source_dir: str, store: TableStore,
                                        checkpoint_dir: str,
                                        schema: "T.StructType | None" = None):
    """stream_image_phash_dedupe under the combinatorial 2-of-5
    band-pair blocking — the birthday-regime remedy riding the SAME
    topology via the band_exprs parameter (the blocking scheme is a
    config, not a fork). Exactness is per-pair (hamming <= 3 leaves
    >= 2 of 5 sub-bands intact), so the emitted pair set equals the
    single-band stream's and the batch dedup_image_phash — pinned by
    the batch-equivalence pytest. State cost: 10 band rows per doc
    instead of 4, the trade phash_blocking_scheme_audit prices."""
    from qucosa_fcrepo_reportingdb_spark.operators.dedup import (
        PAIRS56,
        PHASH_HAMMING_MAX,
        PHASH_N_BANDS,
    )
    return _banded_signature_dedupe_stream(
        spark, source_dir, store, checkpoint_dir, schema,
        sign_frame=image_phash_frame, sig_col="phash",
        n_bands=PHASH_N_BANDS,
        hamming_max=PHASH_HAMMING_MAX, sigs_table=PHASH_C2_SIGS_TABLE,
        bands_table=PHASH_C2_BANDS_TABLE,
        pairs_table=PHASH_C2_PAIRS_TABLE,
        checkpoint_name="phash_c2_dedupe",
        band_exprs=banding.band_exprs("phash", PAIRS56, "spark"))


PHASH_POLICY_SIGS_TABLE = "phash_policy_sigs"
PHASH_POLICY_BANDS_TABLE = "phash_policy_bands"
PHASH_POLICY_PAIRS_TABLE = "phash_policy_pairs"


def stream_image_phash_policy_dedupe(spark: SparkSession,
                                     source_dir: str, store: TableStore,
                                     checkpoint_dir: str, action: str,
                                     schema: "T.StructType | None" = None):
    """The policy-DRIVEN image dedup stream: the blocking scheme comes
    from a band_blocking_policy action row ('single_bands' or
    'band_pairs') instead of being hard-coded per job — the actuator
    that closes the audit -> decision -> deployment loop the same way
    band_salting_policy closes the skew loop. blocking_exprs_for
    translates the action into the band_exprs config on the shared
    topology; the emitted pair set is action-INDEPENDENT (both schemes
    are exact for hamming <= 3 — pytest-pinned against the batch
    operator), only the band-state shape changes (4 vs 10 rows/doc,
    the cost/crossover trade band_blocking_policy prices)."""
    from qucosa_fcrepo_reportingdb_spark.operators.dedup import (
        PHASH_HAMMING_MAX,
        PHASH_N_BANDS,
        blocking_exprs_for,
    )
    return _banded_signature_dedupe_stream(
        spark, source_dir, store, checkpoint_dir, schema,
        sign_frame=image_phash_frame, sig_col="phash",
        n_bands=PHASH_N_BANDS,
        hamming_max=PHASH_HAMMING_MAX,
        sigs_table=PHASH_POLICY_SIGS_TABLE,
        bands_table=PHASH_POLICY_BANDS_TABLE,
        pairs_table=PHASH_POLICY_PAIRS_TABLE,
        checkpoint_name="phash_policy_dedupe",
        band_exprs=blocking_exprs_for(action, "phash"))


def migrate_band_state(spark: SparkSession, store: TableStore,
                       sigs_table: str, bands_table: str, sig_col: str,
                       n_bands: int, band_exprs=None,
                       extra_keys: "tuple[str, ...]" = (),
                       sig_schema: "T.StructType | None" = None) -> dict:
    """Re-derive a DEPLOYED banded-dedup stream's band state under a new
    blocking scheme from its persisted signature table — the missing hop
    of the band_blocking_policy loop (VERDICT r10 gap 2): the policy
    decides and NEW streams follow it, but a stream already running
    single-band keeps its 4-row/doc state forever; this job recomputes
    the band rows from the 8-byte signatures the stream already
    persisted, so flipping a LIVE family costs one signature-table scan
    — never a re-sign (no decode, no source replay).

    ``band_exprs`` follows _banded_signature_dedupe_stream's contract
    exactly (None = the production strided single bands over
    ``n_bands``; a list — e.g. banding.band_exprs / blocking_exprs_for
    output — swaps the scheme), so the migrated state is bit-identical
    to what the stream itself would have written under the new scheme.
    The write is TableStore.overwrite: atomic versioned repoint, so a
    concurrent reader sees the old state or the new, never a mix of
    schemes — and stale rows of the WIDER old scheme can't linger the
    way merge_keyed would leave band_idx 4..9 behind on a
    pairs -> single downgrade. Multi-row-signature families (video:
    per-frame hashes) pass extra_keys=("frame_idx",).

    Ordering in a deployment: stop the stream, migrate, restart with
    the matching band_exprs (the pytest drives exactly this sequence).
    Returns a small audit dict (units, band rows, rows per unit) —
    bounded driver-side counts, the numbers the operator logs."""
    exprs = band_exprs or _strided_exprs(sig_col, n_bands)
    keys = ["doc_id", *extra_keys]
    sigs = store.read(sigs_table, sig_schema)
    # The band state is LONG-keyed (every 56/62-bit family); a string-
    # keyed scheme (minhash's '_'-joined band signatures) would survive
    # the cast below as all-NULL band_vals — corrupted state instead of
    # an error — so reject non-numeric band expressions loudly.
    probe = sigs.select(
        *[F.expr(e).alias(f"_b{i}") for i, e in enumerate(exprs)])
    bad = [(f.name, f.dataType.simpleString()) for f in probe.schema
           if f.dataType.simpleString()
           not in ("tinyint", "smallint", "int", "bigint")]
    if bad:
        raise ValueError(
            "migrate_band_state: band expressions must produce integral "
            f"band_vals for the long-keyed band state; got {bad} — "
            "string-keyed schemes (minhash band signatures) need their "
            "own migration, not this one")
    new_bands = banding.explode_bands(sigs, exprs, *keys).select(
        *keys,
             F.col("band_idx").cast("int").alias("band_idx"),
             F.col("band_val").cast("long").alias("band_val"))
    store.overwrite(bands_table, new_bands)
    n_units = sigs.count()
    n_rows = store.read(bands_table).count()
    return {"sigs_table": sigs_table, "bands_table": bands_table,
            "n_units": n_units, "n_band_rows": n_rows,
            "rows_per_unit": (n_rows / n_units) if n_units else 0.0}


AFP_SIGS_TABLE = "afp_sigs"
AFP_BANDS_TABLE = "afp_bands"
AFP_PAIRS_TABLE = "afp_pairs"


def stream_audio_fingerprint_dedupe(spark: SparkSession, source_dir: str,
                                    store: TableStore, checkpoint_dir: str,
                                    schema: "T.StructType | None" = None):
    """Incremental audio near-duplicate detection — the same banded-
    signature machine as the image job, signing each microbatch with the
    energy-sign fingerprint over the real WAV round-trip; see
    _banded_signature_dedupe_stream for the shared exactly-once
    argument and scale shape."""
    from qucosa_fcrepo_reportingdb_spark.operators.dedup import (
        AFP_HAMMING_MAX,
        AFP_N_BANDS,
    )
    return _banded_signature_dedupe_stream(
        spark, source_dir, store, checkpoint_dir, schema,
        sign_frame=audio_fingerprint_frame, sig_col="afp",
        n_bands=AFP_N_BANDS,
        hamming_max=AFP_HAMMING_MAX, sigs_table=AFP_SIGS_TABLE,
        bands_table=AFP_BANDS_TABLE, pairs_table=AFP_PAIRS_TABLE,
        checkpoint_name="afp_dedupe")


VFP_SIGS_TABLE = "vfp_sigs"
VFP_BANDS_TABLE = "vfp_bands"
VFP_PAIRS_TABLE = "vfp_pairs"


def stream_video_fingerprint_dedupe(spark: SparkSession, source_dir: str,
                                    store: TableStore, checkpoint_dir: str,
                                    schema: "T.StructType | None" = None,
                                    band_exprs=None):
    """Incremental video near-duplicate detection — the banded-signature
    topology generalized to a MULTI-ROW signature (VFP_FRAMES per-frame
    hashes per clip) and the M-of-K verify: each microbatch's clips are
    signed per frame (scan-local), band-joined on (frame_idx, band_idx,
    band_val) intra-batch AND against the accumulated band state, then
    frame-aligned hamming counts gate pairs at VFP_MIN_FRAMES matched
    frames. Pairs append exactly once (anti-join against the recorded
    set); a pair is emitted in the batch where its second clip arrives —
    a clip's frames all travel in one batch, so the M-of-K count never
    sees a partial clip.

    Scale shape and exactly-once argument are
    _banded_signature_dedupe_stream's, with per-(doc, frame) keyed state:
    stored side is VFP_FRAMES signature rows + VFP_FRAMES x n_bands band
    rows per clip, written at the clip's own ingest (never re-decoded);
    re-delivered clips overwrite their keyed rows and their re-found
    pairs drop in the anti-join (pinned by the replay pytest)."""
    from qucosa_fcrepo_reportingdb_spark.operators.dedup import (
        VFP_HAMMING_MAX,
        VFP_MIN_FRAMES,
        VFP_N_BANDS,
    )

    doc_schema = schema or _ASSET_IDS
    sig_schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("vfh", T.LongType()),
    ])
    band_schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("band_idx", T.IntegerType()),
        T.StructField("band_val", T.LongType()),
    ])
    pair_schema = T.StructType([
        T.StructField("d1", T.LongType()),
        T.StructField("d2", T.LongType()),
        T.StructField("frames_matched", T.LongType()),
    ])

    # band_exprs: the same blocking-scheme seam as the shared topology
    # (None = production strided single bands; the 2-of-5 pair keys swap
    # in) — per-frame exactness lifts unchanged, so the M-of-K verify
    # downstream is scheme-independent
    exprs = band_exprs or _strided_exprs("vfh", VFP_N_BANDS)

    def handle(batch: DataFrame, epoch_id: int) -> None:
        sig_b = video_fingerprint_frame(
            batch.dropDuplicates(["doc_id"])).persist()
        try:
            new_bands = banding.explode_bands(sig_b, exprs,
                                              "doc_id", "frame_idx")
            stored_sigs = store.read(VFP_SIGS_TABLE, sig_schema)
            stored_bands = store.read(VFP_BANDS_TABLE, band_schema)
            cand = banding.stream_candidates(new_bands, stored_bands,
                                             ["frame_idx"])
            # signature lookup: batch rows win over stored on re-delivery
            lookup = sig_b.unionByName(
                stored_sigs.join(sig_b.select("doc_id").distinct(),
                                 "doc_id", "left_anti"))
            pairs = (
                cand
                .join(lookup.select(F.col("doc_id").alias("d1"),
                                    "frame_idx",
                                    F.col("vfh").alias("h1")), "d1")
                .join(lookup.select(F.col("doc_id").alias("d2"),
                                    "frame_idx",
                                    F.col("vfh").alias("h2")),
                      ["d2", "frame_idx"])
                .withColumn("hm", F.expr("CAST(bit_count(h1 ^ h2) AS INT)"))
                .groupBy("d1", "d2")
                .agg(F.sum(F.when(F.col("hm") <= VFP_HAMMING_MAX, 1)
                           .otherwise(0)).cast("long")
                     .alias("frames_matched"))
                .filter(F.col("frames_matched") >= VFP_MIN_FRAMES)
            )
            recorded = store.read(VFP_PAIRS_TABLE, pair_schema) \
                .select("d1", "d2")
            store.append(VFP_PAIRS_TABLE,
                         pairs.join(recorded, ["d1", "d2"], "left_anti"),
                         schema=pair_schema)
            # state AFTER pairs (replay re-finds, anti-join drops)
            store.merge_keyed(VFP_SIGS_TABLE, sig_b,
                              keys=["doc_id", "frame_idx"],
                              schema=sig_schema)
            store.merge_keyed(VFP_BANDS_TABLE, new_bands,
                              keys=["doc_id", "frame_idx", "band_idx"],
                              schema=band_schema)
        finally:
            sig_b.unpersist()

    return _drain_files(spark, source_dir, doc_schema, checkpoint_dir,
                        "vfp_dedupe", handle)


# ---------------------------------------------------------------------------
# decode-health monitor: per-epoch decoder-outcome counts
# ---------------------------------------------------------------------------
DECODE_HEALTH_STATE_TABLE = "decode_health_state"


def stream_decode_health_monitor(spark: SparkSession, source_dir: str,
                                 store: TableStore, checkpoint_dir: str,
                                 schema: "T.StructType | None" = None):
    """Multimodal-ingest health: each microbatch of documents is attached
    to its (synthetic P6) binary payload, pushed through the REAL
    Arrow-batched decoder, and rolled up into per-(epoch, width, height,
    decoder) asset/byte counts merged into keyed state — the drift
    signal that catches a codec regression or a malformed-producer
    flood (decoder='stub' rows growing) the moment it starts, mirroring
    the norm/content monitors' additive exactly-once pattern. The fold
    equals the batch multimodal_real_decode_rollup bit-for-bit (plain
    BIGINT addition; the pytest pins it).

    Scale shape: decode is scan-local per batch (the one Python stage);
    per-batch state delta is O(distinct dims), not O(batch)."""
    from qucosa_fcrepo_reportingdb_spark.operators.multimodal import (
        decode_features,
        synth_ppm_assets,
    )

    doc_schema = schema or T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_chars", T.LongType()),
    ])

    def handle(batch: DataFrame, epoch_id: int) -> None:
        rollup = (
            decode_features(synth_ppm_assets(
                batch.dropDuplicates(["doc_id"])))
            .groupBy("width", "height", "decoder")
            .agg(F.count(F.lit(1)).cast("long").alias("n_assets"),
                 F.sum(F.col("n_bytes").cast("long")).cast("long")
                 .alias("total_bytes"))
            # NULL dims (stub path) can't key a merge; -1 is the
            # same sentinel convention as the quality monitor's bucket
            .selectExpr("coalesce(width, -1) AS width",
                        "coalesce(height, -1) AS height",
                        "decoder", "n_assets", "total_bytes")
            .withColumn("epoch", F.lit(epoch_id).cast("long")))
        store.merge_keyed(DECODE_HEALTH_STATE_TABLE, rollup,
                          keys=["epoch", "width", "height", "decoder"],
                          schema=rollup.schema)

    return _drain_files(spark, source_dir, doc_schema, checkpoint_dir,
                        "decode_health_monitor", handle)


def decode_health_state_profile(store: TableStore) -> DataFrame:
    """Fold the per-epoch decode counts into the same
    (width, height, decoder, n_assets, total_bytes) table the batch
    rollup emits (-1 sentinels fold back to NULL dims)."""
    return (
        store.read(DECODE_HEALTH_STATE_TABLE)
        .groupBy("width", "height", "decoder")
        .agg(F.sum("n_assets").cast("long").alias("n_assets"),
             F.sum("total_bytes").cast("long").alias("total_bytes"))
        .selectExpr("nullif(width, -1) AS width",
                    "nullif(height, -1) AS height",
                    "decoder", "n_assets", "total_bytes")
        .orderBy("width", "height")
    )


# ---------------------------------------------------------------------------
# IVF occupancy monitor: delta-vector assignment against frozen centroids
# ---------------------------------------------------------------------------
IVF_OCCUPANCY_STATE_TABLE = "ivf_occupancy_state"


def stream_ivf_occupancy_monitor(spark: SparkSession, source_dir: str,
                                 store: TableStore, checkpoint_dir: str,
                                 prior_sf_dir: str,
                                 schema: "T.StructType | None" = None):
    """Streaming twin of operators/similarity.ann_ivf_incremental_assign:
    each microbatch of incoming vectors is assigned to the FROZEN
    coarse-quantizer centroids (trained over ``prior_sf_dir``'s prior
    corpus once at job start — the centroid frame is materialized and
    broadcast per batch, never recomputed), and the state table keeps
    per-(epoch, cell) occupancy counts plus the label-mismatch count —
    the drift signal: a cell whose incoming share keeps growing (or
    whose assignments stop matching their source labels) says the frozen
    quantizer no longer fits the data distribution and a retrain job
    should run.

    Counts are the mergeable sketch (plain addition across epochs), so
    the folded profile equals the batch assignment's per-cell rollup
    exactly — pinned by the batch-equivalence pytest. Exactly-once under
    replay: state keyed by (epoch, cell); a replayed batch rewrites its
    own rows with identical values. Same vec_id-uniqueness precondition
    as stream_embedding_norm_monitor (dropDuplicates is per-microbatch
    only; cross-file re-emission is upstream misbehavior the occupancy
    totals themselves surface)."""
    from qucosa_fcrepo_reportingdb_spark.memo import cut_lineage
    from qucosa_fcrepo_reportingdb_spark.operators.similarity import (
        _NORMED,
        _prior_centroid_arrays,
        assign_to_centroids,
    )

    emb_schema = schema or T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("label", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ])
    cents = _prior_centroid_arrays(spark, prior_sf_dir) \
        .transform(cut_lineage)

    def handle(batch: DataFrame, epoch_id: int) -> None:
        vecs = (batch.dropDuplicates(["vec_id"])
                .selectExpr(
                    "vec_id", "label AS src_label",
                    "transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
                .selectExpr("vec_id", "src_label", "v",
                            f"{_NORMED} AS nrm")
                .filter("nrm > 0"))
        b = (assign_to_centroids(vecs, cents)
             .groupBy(F.col("assigned_cell").alias("cell"))
             .agg(F.count(F.lit(1)).cast("long").alias("n_assigned"),
                  F.sum(F.when(F.col("assigned_cell") != F.col("src_label"),
                               1).otherwise(0)).cast("long")
                  .alias("n_label_mismatch"))
             .withColumn("epoch", F.lit(epoch_id).cast("long")))
        store.merge_keyed(IVF_OCCUPANCY_STATE_TABLE, b,
                          keys=["epoch", "cell"], schema=b.schema)

    return _drain_files(spark, source_dir, emb_schema, checkpoint_dir,
                        "ivf_occupancy", handle)


def ivf_occupancy_state_profile(store: TableStore) -> DataFrame:
    """Fold the per-epoch occupancy counts (plain addition) to the same
    per-cell rollup the batch assignment produces."""
    return (
        store.read(IVF_OCCUPANCY_STATE_TABLE)
        .groupBy("cell")
        .agg(F.sum("n_assigned").cast("long").alias("n_assigned"),
             F.sum("n_label_mismatch").cast("long")
             .alias("n_label_mismatch"))
        .orderBy("cell")
    )


# ---------------------------------------------------------------------------
# band-skew monitor stream (hot-bucket tripwire at ingest time)
# ---------------------------------------------------------------------------
BAND_SKEW_STATE_TABLE = "band_skew_state"


def stream_band_skew_monitor(spark: SparkSession, source_dir: str,
                             store: TableStore, checkpoint_dir: str,
                             schema: "T.StructType | None" = None):
    """Streaming twin of band_skew_audit / band_salting_policy for the
    three 56-bit signature families: each microbatch of docs is signed
    by the scan-local Python builders shared with the dedupe streams,
    exploded to PRODUCTION strided band rows (PROD_BANDS56; video keyed
    by its frame-qualified triple), and the state table accumulates
    per-(family, band_idx, key) counts — the mergeable sketch is plain
    addition, so the folded profile (band_skew_state_profile) equals
    the batch audit's bucket sizes exactly (batch-equivalence pytest).
    The point: at 100 TB the salting decision shouldn't wait for a
    corpus-wide audit — the hottest band bucket is monitorable at
    ingest, and this state table is what pages before a band join
    topples.

    Exactly-once under replay: state keyed (epoch, family, band_idx,
    key); a replayed batch rewrites its own rows with identical values.
    Same doc_id-uniqueness-across-files precondition as the norm
    monitor (dropDuplicates is per-microbatch only)."""
    from qucosa_fcrepo_reportingdb_spark.operators.dedup import (
        AFP_N_BANDS,
        PHASH_N_BANDS,
        VFP_N_BANDS,
    )

    doc_schema = schema or _ASSET_IDS

    def band_rows_of(docs: DataFrame) -> DataFrame:
        ph = banding.explode_bands(
            image_phash_frame(docs), _strided_exprs("phash", PHASH_N_BANDS)
        ).selectExpr("'image_phash' AS family",
                     "CAST(band_idx AS INT) AS band_idx",
                     "CAST(band_val AS STRING) AS key")
        af = banding.explode_bands(
            audio_fingerprint_frame(docs), _strided_exprs("afp", AFP_N_BANDS)
        ).selectExpr("'audio_afp' AS family",
                     "CAST(band_idx AS INT) AS band_idx",
                     "CAST(band_val AS STRING) AS key")
        vf = banding.explode_bands(
            video_fingerprint_frame(docs), _strided_exprs("vfh", VFP_N_BANDS),
            "frame_idx"
        ).selectExpr("'video_vfh_frame' AS family",
                     "CAST(band_idx AS INT) AS band_idx",
                     "CONCAT(CAST(frame_idx AS STRING), ':',"
                     " CAST(band_val AS STRING)) AS key")
        return ph.unionByName(af).unionByName(vf)

    def handle(batch: DataFrame, epoch_id: int) -> None:
        docs = batch.dropDuplicates(["doc_id"]).select("doc_id")
        b = (band_rows_of(docs)
             .groupBy("family", "band_idx", "key")
             .agg(F.count(F.lit(1)).cast("long").alias("n"))
             .withColumn("epoch", F.lit(epoch_id).cast("long")))
        store.merge_keyed(BAND_SKEW_STATE_TABLE, b,
                          keys=["epoch", "family", "band_idx", "key"],
                          schema=b.schema)

    return _drain_files(spark, source_dir, doc_schema, checkpoint_dir,
                        "band_skew", handle)


def band_skew_state_profile(store: TableStore) -> DataFrame:
    """Fold the per-epoch bucket counts (plain addition) to the same
    per-family shape band_salting_policy reads: bucket count, band
    rows, hottest bucket, hot-bucket count against the salting
    budget."""
    from qucosa_fcrepo_reportingdb_spark.operators.dedup import (
        SALT_TARGET_BUCKET_DOCS,
    )
    sizes = (store.read(BAND_SKEW_STATE_TABLE)
             .groupBy("family", "band_idx", "key")
             .agg(F.sum("n").cast("long").alias("k")))
    return (
        sizes.groupBy("family")
        .agg(F.count(F.lit(1)).cast("long").alias("n_buckets"),
             F.sum("k").cast("long").alias("band_rows"),
             F.max("k").cast("long").alias("max_bucket"),
             F.sum(F.when(F.col("k") > SALT_TARGET_BUCKET_DOCS, 1)
                   .otherwise(0)).cast("long").alias("n_hot_buckets"))
        .orderBy("family")
    )


# ---------------------------------------------------------------------------
# multi-suite decontamination stream (per-suite attribution)
# ---------------------------------------------------------------------------
SUITE_SHINGLES_TABLE = "suite_shingles"
MULTI_SUITE_VERDICTS_TABLE = "multi_suite_verdicts"
_SUITE_SHINGLES_SCHEMA = T.StructType([
    T.StructField("suite", T.LongType()),
    T.StructField("s", T.LongType()),
])


def stream_multi_suite_decontaminate(spark: SparkSession, source_dir: str,
                                     store: TableStore, checkpoint_dir: str,
                                     schema: "T.StructType | None" = None):
    """Streaming twin of corpus.decontaminate_multi_suite: suite docs
    fold their (suite, shingle) rows into the state, corpus docs get
    per-suite overlap counts in one conditional aggregation
    (multi_suite_screen_frame). A suite added after corpus docs were
    screened is the batch operator's backfill path
    (decontaminate_multi_suite_incremental); here replaying the corpus
    re-scores it."""
    cols = [f"n_overlap_suite{k}" for k in range(N_BENCH_SUITES)]
    verdict_schema = T.StructType(
        [T.StructField("doc_id", T.LongType())]
        + [T.StructField(c, T.LongType()) for c in cols]
        + [T.StructField("contaminated", T.BooleanType()),
           # one TOTAL (suite, shingle) count across suites, the
           # semantic multisuite stream's conservative convention
           T.StructField("suite_epoch", T.LongType())])
    return _suite_screen_stream(
        spark, source_dir, store, checkpoint_dir, "multi_suite_decon",
        schema or _TEXT_DOCS, "doc_id",
        prepare=lambda b: _suite_slice(
            shingled_docs(b.select("doc_id", "text"))),
        suite_rows=lambda sh: _shingle_set(
            sh.filter(F.col("suite") < N_BENCH_SUITES), "sh", "suite"),
        verdict=lambda sh, suites: multi_suite_screen_frame(
            sh.filter(F.col("suite") >= N_BENCH_SUITES), suites),
        suite=(SUITE_SHINGLES_TABLE, _SUITE_SHINGLES_SCHEMA,
               ["suite", "s"]),
        verdicts=(MULTI_SUITE_VERDICTS_TABLE, verdict_schema))


STRIP_SUITE_GRAMS_TABLE = "strip_suite_grams"
STRIP_LEDGERS_TABLE = "strip_span_ledgers"
_GRAM_SCHEMA = T.StructType([T.StructField("s", T.LongType())])
_LEDGER_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("n_tokens", T.LongType()),
    T.StructField("n_matched_grams", T.LongType()),
    T.StructField("n_covered_tokens", T.LongType()),
    T.StructField("clean_ratio", T.DoubleType()),
    T.StructField("would_drop", T.BooleanType()),
    # suite-state epoch at ledger time: the suite-gram count
    T.StructField("suite_epoch", T.LongType()),
])


def stream_strip_spans_decontaminate(spark: SparkSession, source_dir: str,
                                     store: TableStore,
                                     checkpoint_dir: str,
                                     schema: "T.StructType | None" = None):
    """Streaming twin of corpus.decontaminate_strip_spans: suite docs
    fold their grams into the state, corpus docs get their span ledger
    (strip_spans_frame — one position explode, one broadcast gram join,
    one multi-distinct aggregate). Re-screening a doc against more
    suites only moves its ledger toward the batch answer — the backfill
    of decontaminate_strip_spans_incremental, played forward."""
    return _suite_screen_stream(
        spark, source_dir, store, checkpoint_dir, "strip_spans_decon",
        schema or _TEXT_DOCS, "doc_id",
        prepare=lambda b: strip_span_grams_frame(b.select("doc_id", "text")),
        suite_rows=lambda g: _shingle_set(
            g.filter(F.col("suite") < N_BENCH_SUITES), "gr"),
        verdict=lambda g, grams: strip_spans_frame(
            g.filter(F.col("suite") >= N_BENCH_SUITES), grams),
        suite=(STRIP_SUITE_GRAMS_TABLE, _GRAM_SCHEMA, ["s"]),
        verdicts=(STRIP_LEDGERS_TABLE, _LEDGER_SCHEMA))


SIMHASH64_SIGS_TABLE = "simhash64_sigs"
SIMHASH64_BANDS_TABLE = "simhash64_bands"
SIMHASH64_PAIRS_TABLE = "simhash64_pairs"


def stream_simhash64_dedupe(spark: SparkSession, source_dir: str,
                            store: TableStore, checkpoint_dir: str,
                            schema: "T.StructType | None" = None):
    """Streaming twin of dedup_simhash64 — completing the widened
    sketch's batch/incremental/streaming parity on the shared
    banded-signature topology: each text microbatch signs scan-locally
    (tokens -> rehash64-widened shingles -> 62-bit simhash, all codegen
    expressions), band-joins on the 2-of-5 pair keys intra-batch AND
    against accumulated band state, and hamming-verified pairs append
    exactly once. Same exactly-once argument as the image/audio/video
    jobs; state cost 10 band rows + one 8-byte signature per doc."""
    from qucosa_fcrepo_reportingdb_spark.operators.dedup import (
        HAMMING_MAX,
        PAIRS62,
        simhash64_frame,
    )

    doc_schema = schema or _TEXT_DOCS
    return _banded_signature_dedupe_stream(
        spark, source_dir, store, checkpoint_dir, doc_schema,
        sign_frame=simhash64_frame, sig_col="simhash",
        n_bands=4, hamming_max=HAMMING_MAX,
        sigs_table=SIMHASH64_SIGS_TABLE,
        bands_table=SIMHASH64_BANDS_TABLE,
        pairs_table=SIMHASH64_PAIRS_TABLE,
        checkpoint_name="simhash64_dedupe",
        band_exprs=banding.band_exprs("simhash", PAIRS62, "spark"))


SEM_SUITE_TABLE = "semantic_suite_vectors"
SEM_VERDICTS_TABLE = "semantic_verdicts"
SEM_SUITE_SCHEMA = T.StructType([
    T.StructField("vec_id", T.LongType()),
    T.StructField("label", T.IntegerType()),
    T.StructField("v", T.ArrayType(T.DoubleType())),
    T.StructField("nrm", T.DoubleType()),
])
SEM_VERDICT_SCHEMA = T.StructType([
    T.StructField("vec_id", T.LongType()),
    T.StructField("n_hits", T.LongType()),
    T.StructField("max_cosine", T.DoubleType()),
    T.StructField("contaminated", T.BooleanType()),
    # suite-state epoch at verdict time (see _with_suite_epoch)
    T.StructField("suite_epoch", T.LongType()),
])


def stream_semantic_decontaminate(spark: SparkSession, source_dir: str,
                                  store: TableStore, checkpoint_dir: str,
                                  schema: "T.StructType | None" = None):
    """Streaming twin of corpus.decontaminate_embedding: suite vectors
    merge into the state, corpus vectors screen against it through
    semantic_screen_frame, which runs the batch operator's verdict body
    (semantic_verdicts). The suite is
    an eval benchmark and broadcasts; only the batch's vectors are
    normed."""
    def verdict(n: DataFrame, state: DataFrame) -> DataFrame:
        suite = state.withColumn("is_suite", F.lit(True))
        return semantic_screen_frame(
            n.filter(~F.col("is_suite")).unionByName(suite))

    return _suite_screen_stream(
        spark, source_dir, store, checkpoint_dir, "semantic_decontaminate",
        schema or _EMBEDDINGS, "vec_id",
        prepare=lambda b: _bench_split(normed_embedding_frame(b), "vec_id"),
        suite_rows=lambda n: n.filter("is_suite")
        .select("vec_id", "label", "v", "nrm"),
        verdict=verdict,
        suite=(SEM_SUITE_TABLE, SEM_SUITE_SCHEMA, ["vec_id"]),
        verdicts=(SEM_VERDICTS_TABLE, SEM_VERDICT_SCHEMA))


SEM_RK_SUITE_TABLE = "semantic_recallk_suite_vectors"
SEM_RK_VERDICTS_TABLE = "semantic_recallk_verdicts"
# "use SEMANTIC_PROBE_K" sentinel: k=None is MEANINGFUL (the exact
# screen — every cell probed), so the default can't be None.
_DEFAULT_PROBE_K = object()


def stream_semantic_recallk_decontaminate(
        spark: SparkSession, source_dir: str, store: TableStore,
        checkpoint_dir: str, cents: DataFrame,
        k=_DEFAULT_PROBE_K, schema: "T.StructType | None" = None):
    """Streaming twin of corpus.decontaminate_embedding_recallk: the
    broadcast side is the suite state's top-k cell expansion
    (_suite_probe_expansion, shared with the batch form). ``cents`` is
    the coarse quantizer artifact (label, c, cnrm), versioned with the
    quantizer like migrate_band_state's scheme flip: re-expansion is
    suite-sized math, never a corpus rescan. ``k`` = None runs the
    exact screen through the same topology."""
    if k is _DEFAULT_PROBE_K:
        k = SEMANTIC_PROBE_K
    return _suite_screen_stream(
        spark, source_dir, store, checkpoint_dir, "semantic_recallk",
        schema or _EMBEDDINGS, "vec_id",
        prepare=lambda b: _bench_split(normed_embedding_frame(b), "vec_id"),
        suite_rows=lambda n: n.filter("is_suite")
        .select("vec_id", "label", "v", "nrm"),
        verdict=lambda n, state: semantic_screen_frame(
            n, suite=_suite_probe_expansion(state, cents, k)),
        suite=(SEM_RK_SUITE_TABLE, SEM_SUITE_SCHEMA, ["vec_id"]),
        verdicts=(SEM_RK_VERDICTS_TABLE, SEM_VERDICT_SCHEMA))


LSH_SCREEN_SUITE_TABLE = "semantic_lsh_suite_signed"
LSH_SCREEN_VERDICTS_TABLE = "semantic_lsh_verdicts"
LSH_SCREEN_SUITE_SCHEMA = T.StructType([
    T.StructField("vec_id", T.LongType()),
    T.StructField("v", T.ArrayType(T.DoubleType())),
    T.StructField("nrm", T.DoubleType()),
    T.StructField("bits", T.ArrayType(T.LongType())),
])


def stream_semantic_lsh_decontaminate(
        spark: SparkSession, source_dir: str, store: TableStore,
        checkpoint_dir: str, schema: "T.StructType | None" = None):
    """Streaming twin of corpus.decontaminate_embedding_lsh: each batch
    signs its vectors once (_lsh_sign_frame, the batch form's signer),
    suite signatures persist with the vector, and the verdict body is
    lsh_screen_frame's banded broadcast join. The hyperplane weights are
    constants, so no quantizer artifact is needed: a suite refresh or
    corpus ingest never waits on centroid training."""
    def signed(batch: DataFrame) -> "DataFrame | None":
        n = _bench_split(normed_embedding_frame(batch), "vec_id")
        head = n.select(F.size("v").alias("d")).limit(1).collect()
        return _lsh_sign_frame(spark, n, int(head[0]["d"])) if head else None

    return _suite_screen_stream(
        spark, source_dir, store, checkpoint_dir, "semantic_lsh",
        schema or _EMBEDDINGS, "vec_id",
        prepare=signed,
        suite_rows=lambda sig: sig.filter("is_suite")
        .select("vec_id", "v", "nrm", "bits"),
        verdict=lambda sig, state: lsh_screen_frame(
            sig.filter(~F.col("is_suite")), state),
        suite=(LSH_SCREEN_SUITE_TABLE, LSH_SCREEN_SUITE_SCHEMA, ["vec_id"]),
        verdicts=(LSH_SCREEN_VERDICTS_TABLE, SEM_VERDICT_SCHEMA))


PH_SCREEN_SUITE_TABLE = "phash_screen_suite_sigs"
PH_SCREEN_VERDICTS_TABLE = "phash_screen_verdicts"
PH_SCREEN_SUITE_SCHEMA = T.StructType([
    T.StructField("s_doc", T.LongType()),
    T.StructField("s_phash", T.LongType()),
])
PH_SCREEN_VERDICT_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("n_hits", T.LongType()),
    T.StructField("min_hamming", T.IntegerType()),
    T.StructField("contaminated", T.BooleanType()),
    # suite-state epoch at verdict time (see _with_suite_epoch)
    T.StructField("suite_epoch", T.LongType()),
])


def stream_phash_decontaminate(spark: SparkSession, source_dir: str,
                               store: TableStore, checkpoint_dir: str,
                               schema: "T.StructType | None" = None):
    """Streaming twin of corpus.decontaminate_phash: each batch's assets
    are signed once (image_phash_frame — the PNG round-trip, the one
    Python stage), suite signatures merge into the state, and corpus
    assets screen through phash_screen_frame. Pigeonhole keeps the
    banded screen exact, so the stream needs no recall schedule."""
    return _perceptual_stream(
        spark, source_dir, store, checkpoint_dir, "phash_decontaminate",
        schema, "phash", image_phash_frame,
        (PH_SCREEN_SUITE_TABLE, PH_SCREEN_SUITE_SCHEMA, ["s_doc"]),
        (PH_SCREEN_VERDICTS_TABLE, PH_SCREEN_VERDICT_SCHEMA))


def _perceptual_stream(spark: SparkSession, source_dir: str,
                       store: TableStore, checkpoint_dir: str, subdir: str,
                       schema: "T.StructType | None", family: str, sign,
                       suite: tuple, verdicts: tuple):
    """The image, audio and video twins: ``sign`` each batch's assets,
    keep the suite members' signatures as state, screen the corpus
    members with the family's batch verdict body
    (corpus.PERCEPTUAL_SCREENS)."""
    screen, cols, _ = PERCEPTUAL_SCREENS[family]
    return _suite_screen_stream(
        spark, source_dir, store, checkpoint_dir, subdir,
        schema or _ASSET_IDS, "doc_id",
        prepare=lambda b: _bench_split(sign(b)),
        suite_rows=lambda sig: perceptual_suite_rows(sig, family),
        verdict=lambda sig, state: screen(
            sig.filter(~F.col("is_suite")).select("doc_id", *cols), state),
        suite=suite, verdicts=verdicts)


NGRAM_SCREEN_SUITE_TABLE = "ngram_screen_suite_shingles"
NGRAM_SCREEN_VERDICTS_TABLE = "ngram_screen_verdicts"
NGRAM_SCREEN_SUITE_SCHEMA = T.StructType([
    T.StructField("s", T.LongType()),
])
NGRAM_SCREEN_VERDICT_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("n_overlap", T.LongType()),
    T.StructField("contaminated", T.BooleanType()),
    # suite_epoch: the distinct suite shingles the doc was screened
    # against (see the module docstring)
    T.StructField("suite_epoch", T.LongType()),
])


def stream_ngram_decontaminate(spark: SparkSession, source_dir: str,
                               store: TableStore, checkpoint_dir: str,
                               schema: "T.StructType | None" = None):
    """Streaming twin of corpus.decontaminate_ngram_overlap: benchmark
    docs fold their distinct shingles into the suite state, corpus docs
    are screened through ngram_screen_frame — one shingle explode, one
    broadcast join, one per-doc count, the batch operator's own body."""
    return _suite_screen_stream(
        spark, source_dir, store, checkpoint_dir, "ngram_decontaminate",
        schema or _TEXT_DOCS, "doc_id",
        prepare=lambda b: _bench_split(
            shingled_docs(b.select("doc_id", "text")), flag="is_bench"),
        suite_rows=lambda sh: _shingle_set(sh.filter("is_bench")),
        verdict=lambda sh, suite: ngram_screen_frame(
            sh.filter(~F.col("is_bench")), suite),
        suite=(NGRAM_SCREEN_SUITE_TABLE, NGRAM_SCREEN_SUITE_SCHEMA, ["s"]),
        verdicts=(NGRAM_SCREEN_VERDICTS_TABLE, NGRAM_SCREEN_VERDICT_SCHEMA))


AFP_SCREEN_SUITE_TABLE = "afp_screen_suite_sigs"
AFP_SCREEN_VERDICTS_TABLE = "afp_screen_verdicts"
AFP_SCREEN_SUITE_SCHEMA = T.StructType([
    T.StructField("s_doc", T.LongType()),
    T.StructField("s_afp", T.LongType()),
])
# The audio screen's verdicts have the image screen's exact shape
# (both are _sig56_screen_frame outputs); the named alias keeps the
# pairing explicit so a phash-specific schema change can't silently
# reshape the audio table.
AFP_SCREEN_VERDICT_SCHEMA = PH_SCREEN_VERDICT_SCHEMA
VFP_SCREEN_SUITE_TABLE = "vfp_screen_suite_sigs"
VFP_SCREEN_VERDICTS_TABLE = "vfp_screen_verdicts"
VFP_SCREEN_SUITE_SCHEMA = T.StructType([
    T.StructField("s_doc", T.LongType()),
    T.StructField("frame_idx", T.IntegerType()),
    T.StructField("vfh", T.LongType()),
])
VFP_SCREEN_VERDICT_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("n_hits", T.LongType()),
    T.StructField("max_frames_matched", T.IntegerType()),
    T.StructField("contaminated", T.BooleanType()),
    # suite-state epoch at verdict time (see _with_suite_epoch);
    # vfp state is per-(clip, frame) rows, still merge-only monotone
    T.StructField("suite_epoch", T.LongType()),
])


def stream_afp_decontaminate(spark: SparkSession, source_dir: str,
                             store: TableStore, checkpoint_dir: str,
                             schema: "T.StructType | None" = None):
    """Streaming twin of corpus.decontaminate_afp: each batch's clips
    are signed once (audio_fingerprint_frame — the WAV round-trip) and
    corpus clips screen through afp_screen_frame, the batch form's
    pigeonhole-exact banded broadcast join."""
    return _perceptual_stream(
        spark, source_dir, store, checkpoint_dir, "afp_decontaminate",
        schema, "afp", audio_fingerprint_frame,
        (AFP_SCREEN_SUITE_TABLE, AFP_SCREEN_SUITE_SCHEMA, ["s_doc"]),
        (AFP_SCREEN_VERDICTS_TABLE, AFP_SCREEN_VERDICT_SCHEMA))


def stream_vfp_decontaminate(spark: SparkSession, source_dir: str,
                             store: TableStore, checkpoint_dir: str,
                             schema: "T.StructType | None" = None):
    """Streaming twin of corpus.decontaminate_vfp: each batch's clips
    are signed per sampled frame (video_fingerprint_frame), suite frame
    signatures are state keyed (s_doc, frame_idx), and corpus clips
    screen through vfp_screen_frame — the batch form's per-frame banded
    join and M-of-K verify."""
    return _perceptual_stream(
        spark, source_dir, store, checkpoint_dir, "vfp_decontaminate",
        schema, "vfp", video_fingerprint_frame,
        (VFP_SCREEN_SUITE_TABLE, VFP_SCREEN_SUITE_SCHEMA,
         ["s_doc", "frame_idx"]),
        (VFP_SCREEN_VERDICTS_TABLE, VFP_SCREEN_VERDICT_SCHEMA))


SEM_MS_SUITE_TABLE = "semantic_multisuite_vectors"
SEM_MS_VERDICTS_TABLE = "semantic_multisuite_verdicts"
SEM_MS_SUITE_SCHEMA = T.StructType([
    T.StructField("vec_id", T.LongType()),
    T.StructField("suite", T.LongType()),
    T.StructField("label", T.IntegerType()),
    T.StructField("v", T.ArrayType(T.DoubleType())),
    T.StructField("nrm", T.DoubleType()),
])


def _sem_ms_verdict_schema(n_suites: int) -> T.StructType:
    return T.StructType(
        [T.StructField("vec_id", T.LongType())]
        + [T.StructField(f"n_hits_suite{k}", T.LongType())
           for k in range(n_suites)]
        + [T.StructField("contaminated", T.BooleanType()),
           # suite_epoch: one TOTAL count across all suites, so a late
           # release for any suite marks the verdict stale. Per-suite
           # epochs would only trim replay volume, and one re-score
           # against broadcast state is cheaper than three more columns.
           T.StructField("suite_epoch", T.LongType())])


def stream_semantic_multisuite_decontaminate(
        spark: SparkSession, source_dir: str, store: TableStore,
        checkpoint_dir: str, schema: "T.StructType | None" = None):
    """Streaming twin of corpus.decontaminate_embedding_multisuite:
    suite vectors (keyed by vec_id, carrying their suite id) merge into
    the state, corpus vectors get a per-suite hit column through
    semantic_multisuite_frame, the batch form's single join and
    conditional aggregate. A new benchmark release streams in as that
    suite's vectors."""
    return _suite_screen_stream(
        spark, source_dir, store, checkpoint_dir,
        "semantic_multisuite_decontaminate", schema or _EMBEDDINGS,
        "vec_id",
        prepare=lambda b: _suite_slice(normed_embedding_frame(b), "vec_id"),
        suite_rows=lambda n: n.filter(F.col("suite") < N_BENCH_SUITES)
        .select("vec_id", "suite", "label", "v", "nrm"),
        verdict=lambda n, state: semantic_multisuite_frame(
            n.filter(F.col("suite") >= N_BENCH_SUITES),
            state.select(F.col("suite").alias("s_suite"),
                         F.col("label").alias("s_label"),
                         F.col("v").alias("sv"),
                         F.col("nrm").alias("snrm"))),
        suite=(SEM_MS_SUITE_TABLE, SEM_MS_SUITE_SCHEMA, ["vec_id"]),
        verdicts=(SEM_MS_VERDICTS_TABLE,
                  _sem_ms_verdict_schema(N_BENCH_SUITES)))


CONTAMINATION_MANIFEST_TABLE = "contamination_manifest_streamed"
CONTAMINATION_MANIFEST_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("flagged_text", T.BooleanType()),
    T.StructField("flagged_semantic", T.BooleanType()),
    T.StructField("flagged_image", T.BooleanType()),
    T.StructField("flagged_audio", T.BooleanType()),
    T.StructField("flagged_video", T.BooleanType()),
    T.StructField("n_screens_flagged", T.LongType()),
    T.StructField("excluded", T.BooleanType()),
])


def stream_contamination_manifest(
        spark: SparkSession, store: TableStore,
        semantic_table: str | None = None,
        allow_empty_semantic: bool = False) -> DataFrame:
    """The manifest as a first-class streamed artifact (VERDICT r12
    item 6): fold the five stream twins' persisted verdict tables —
    lexical (stream_ngram_decontaminate), semantic
    (stream_semantic_recallk_decontaminate, the batch manifest's
    schedule), image/audio/video (stream_*_decontaminate) — through
    the SAME _manifest_assemble body the batch operator uses, and
    keyed-merge the result into the streamed manifest table. One fold
    body across batch and stream, so the streamed manifest cannot
    drift from contamination_manifest; with each screen's stream
    drained, the table equals the batch manifest row-for-row (the
    batch-equivalence pytest), and re-folding is idempotent (keyed
    merge of identical rows).

    This is a MICROBATCH-CADENCE artifact, not a per-event one: a
    training pipeline calls it after its screen streams drain (or on a
    schedule) and anti-joins the excluded set — the same consumption
    contract as the batch manifest's handoff table. Scale shape: five
    verdict-table scans joined on doc_id, one merge; no screen is
    re-run and no corpus text/media/embedding is touched.

    ``semantic_table`` names the semantic screen's verdict table
    (SEM_VERDICT_SCHEMA shape — recallk, LSH, and exact-screen stream
    twins all share it). Default is the recallk stream's table, but a
    deployment follows semantic_screen_policy's dispatch, which on some
    corpora picks the LSH schedule (stream_semantic_lsh_decontaminate →
    LSH_SCREEN_VERDICTS_TABLE) — pass that table here. Folding an
    EMPTY semantic table while other screens' tables are populated is
    almost always this wiring mistake (the dispatched stream wrote a
    different table than the manifest reads), and the resulting
    manifest would silently carry zero semantic exclusions — so that
    case raises instead of folding (ADVICE r13).

    ``allow_empty_semantic=True`` is the explicit opt-out for the two
    LEGITIMATE empty-semantic cases (ADVICE r14): a manifest folded
    during bootstrap before the semantic stream's first batch drains,
    and a deployment with no embedding modality at all. The caller is
    asserting "no semantic verdicts is expected here", so the manifest
    folds with flagged_semantic=false throughout instead of raising —
    the manifest stays keyed-merge idempotent, so a later fold after
    the semantic stream drains overwrites those verdicts."""
    from qucosa_fcrepo_reportingdb_spark.operators.corpus import (
        _manifest_assemble,
    )

    text = (store.read(NGRAM_SCREEN_VERDICTS_TABLE,
                       NGRAM_SCREEN_VERDICT_SCHEMA)
            .select("doc_id",
                    F.col("contaminated").alias("flagged_text")))
    sem_src = semantic_table or SEM_RK_VERDICTS_TABLE
    sem = (store.read(sem_src, SEM_VERDICT_SCHEMA)
           .selectExpr("vec_id AS doc_id",
                       "contaminated AS flagged_semantic"))
    img = (store.read(PH_SCREEN_VERDICTS_TABLE, PH_SCREEN_VERDICT_SCHEMA)
           .select("doc_id",
                   F.col("contaminated").alias("flagged_image")))
    aud = (store.read(AFP_SCREEN_VERDICTS_TABLE, AFP_SCREEN_VERDICT_SCHEMA)
           .select("doc_id",
                   F.col("contaminated").alias("flagged_audio")))
    vid = (store.read(VFP_SCREEN_VERDICTS_TABLE, VFP_SCREEN_VERDICT_SCHEMA)
           .select("doc_id",
                   F.col("contaminated").alias("flagged_video")))
    if (not allow_empty_semantic and sem.isEmpty()
            and not (text.isEmpty() and img.isEmpty()
                     and aud.isEmpty() and vid.isEmpty())):
        raise ValueError(
            f"semantic verdict table {sem_src!r} is empty while other "
            "screens' verdict tables are populated — the deployment's "
            "dispatched semantic stream (see semantic_screen_policy) "
            "likely wrote a different table; pass it as semantic_table")
    manifest = _manifest_assemble(text, sem, img, aud, vid)
    store.merge_keyed(CONTAMINATION_MANIFEST_TABLE, manifest,
                      keys=["doc_id"],
                      schema=CONTAMINATION_MANIFEST_SCHEMA)
    return store.read(CONTAMINATION_MANIFEST_TABLE,
                      CONTAMINATION_MANIFEST_SCHEMA)
