"""Structured Streaming: incremental encode of arriving transcript data.

The reference is a batch one-shot CLI (its line scanner is streaming I/O,
not stream semantics — SURVEY.md §2.2); the engine generalizes it: new
files landing in the input directory are encoded incrementally via
``readStream`` + ``foreachBatch``, each micro-batch running the same
salted-partition encode and appending blocks + a manifest row per
(job, epoch, partition). Checkpointing makes restarts exactly-once at the
micro-batch level — the streaming twin of the batch job's commit-log
resume.

Also provides a watermarked tumbling-window turn-rate aggregation — the
standard late-data pattern over the ``ts`` column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .blocks import TRANSCRIPT_SCHEMA
from .encode import encode_transcripts


def incremental_encode(
    spark: SparkSession,
    input_dir: str,
    warehouse: str,
    checkpoint: str,
    num_partitions: int = 8,
    job_id: str = "stream",
    max_files_per_trigger: int = 4,
    schema=None,
):
    """Encode new parquet files as they arrive; returns the StreamingQuery.

    Uses Trigger.AvailableNow semantics when started with
    ``.trigger(availableNow=True)`` by the caller-facing helper below, so
    tests drain the backlog and stop deterministically.

    Block keys are disambiguated across micro-batches by the ``epoch=N``
    partition directory each epoch writes to: reading the warehouse
    surfaces an ``epoch`` column that decode/scan include in the chunk
    group key (``decode.group_keys``). No partition_id remapping — the
    round-2 remap (``pid + epoch_id * num_partitions``) silently collided
    when a checkpoint restart changed num_partitions, and overflowed int32
    on unbounded epoch ids (ADVICE r2). Each epoch directory is written
    with overwrite, so a foreachBatch retry of the same epoch replaces its
    output instead of appending duplicates (exactly-once at epoch level).

    Layout note: Spark's partition discovery rejects mixed flat-file +
    ``epoch=N`` layouts — a warehouse written by the pre-epoch flat-append
    code cannot be extended in place; start a fresh warehouse (or move the
    old files under an ``epoch=-1`` directory) before resuming.
    """
    from . import manifest

    # readStream needs a declared schema; pass one to stream tables with
    # dynamic extra columns (encode handles them like the batch path)
    stream = (
        spark.readStream.schema(schema or TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )

    def handle_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # one blocks write, then the manifests read back exactly the epoch
        # dir it wrote (the encode job's rule): the encode runs once, with
        # no cache to pin or unpersist
        blocks_dir = f"{warehouse}/blocks/epoch={int(epoch_id)}"
        encode_transcripts(batch_df, num_partitions=num_partitions) \
            .write.mode("overwrite").parquet(blocks_dir)
        # num_partitions on record gives streaming warehouses the same
        # exact hash routing as batch ones: without it point lookups
        # fall to the conv-range fallback, which cannot prune a hash
        # layout and (worse) silently dropped partitions whose conv
        # stats were suppressed (ADVICE r3)
        manifest.build_manifests(
            manifest.read_blocks(batch_df.sparkSession, blocks_dir),
            f"{job_id}-epoch{epoch_id}", input_dir,
            num_partitions=num_partitions,
        ).write.mode("overwrite").parquet(
            f"{warehouse}/manifests/epoch={int(epoch_id)}"
        )

    return (
        stream.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def conversation_state(stream: DataFrame, state_ttl: str | None = None):
    """Custom stateful streaming operator: per-conversation running state.

    ``applyInPandasWithState`` keeps (n_turns, first_us, last_us, max_turn)
    per conv_id across micro-batches and emits an updated summary row per
    conversation per batch — the building block for incremental per-
    conversation statistics (the streaming twin of the planner's stats
    sampler). Arrow-batched; state is a fixed-width tuple.

    ``state_ttl`` (an event-time horizon like ``"30 minutes"``) bounds the
    state the way the dedup operator does (r4): the stream is watermarked
    on ``ts``, and a conversation idle past the horizon is CLOSED — its
    final summary is emitted once more with ``closed=true`` (the standard
    sessionization close event) and its state evicted, so state is
    O(active conversations), not O(conversations ever). Event time, not
    processing time: deterministic, replay-safe, and terminates under
    Trigger.AvailableNow.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "conv_id string, n_turns long, first_us long, last_us long, "
        "max_turn_idx long, closed boolean"
    )
    state_schema = "n long, first_us long, last_us long, max_turn long"
    timeout = GroupStateTimeout.NoTimeout
    if state_ttl:
        stream = stream.withWatermark("ts", state_ttl)
        timeout = GroupStateTimeout.EventTimeTimeout

    def row(key, n, first_us, last_us, max_turn, closed):
        return pd.DataFrame(
            [{"conv_id": key[0], "n_turns": n, "first_us": first_us,
              "last_us": last_us, "max_turn_idx": max_turn,
              "closed": closed}]
        )

    def track(key, pdfs, state: GroupState):
        if state_ttl and state.hasTimedOut:
            n, first_us, last_us, max_turn = state.get
            state.remove()  # bounded state: idle conversation closed
            yield row(key, n, first_us, last_us, max_turn, True)
            return
        n, first_us, last_us, max_turn = (
            state.get if state.exists else (0, None, None, -1)
        )
        for pdf in pdfs:
            ts_us = pdf["ts"].astype("datetime64[us]").astype("int64")
            n += len(pdf)
            lo, hi = int(ts_us.min()), int(ts_us.max())
            first_us = lo if first_us is None else min(first_us, lo)
            last_us = hi if last_us is None else max(last_us, hi)
            max_turn = max(max_turn, int(pdf["turn_idx"].max()))
        state.update((n, first_us, last_us, max_turn))
        if state_ttl:
            wm = state.getCurrentWatermarkMs()
            state.setTimeoutTimestamp(max(last_us // 1000, wm + 1))
        yield row(key, n, first_us, last_us, max_turn, False)

    return stream.groupBy("conv_id").applyInPandasWithState(
        track, out_schema, state_schema, "update", timeout,
    )


def streaming_dedup(stream: DataFrame, state_ttl: str | None = None):
    """Custom stateful streaming operator: exact-dedup across micro-batches.

    ``applyInPandasWithState`` keyed by the content hash keeps one bit of
    state per distinct text seen; only the FIRST occurrence of each hash
    (within and across epochs) is emitted — the streaming twin of the
    batch ``dedup_exact`` hash-groupBy, and the standard ingestion guard in
    a training-data pipeline.

    ``state_ttl`` (an event-time horizon like ``"30 minutes"``) bounds the
    state for unbounded streams (VERDICT r3 #4): the stream is watermarked
    on ``ts`` by that delay and each hash's entry carries an
    EventTimeTimeout at its newest occurrence's event time, so once the
    watermark passes it — no new occurrence within the horizon — the entry
    is evicted. State is O(distinct contents within the horizon) instead
    of O(distinct contents ever). The exactly-first contract holds WITHIN
    the horizon; a post-horizon duplicate re-emits (standard windowed-dedup
    semantics — at 100 TB/day an unbounded seen-set is not an option), and
    rows later than the watermark are dropped like any watermarked op.
    Event time (not processing time) keeps eviction deterministic, replay-
    safe, and terminating under Trigger.AvailableNow — a processing-time
    timeout keeps scheduling empty timeout batches and the drain never
    finishes. ``None`` keeps the unbounded exact behavior for bounded
    backfills.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "conv_id string, turn_idx long, text_hash string"
    state_schema = "seen long"
    timeout = GroupStateTimeout.NoTimeout
    if state_ttl:
        stream = stream.withWatermark("ts", state_ttl)
        timeout = GroupStateTimeout.EventTimeTimeout

    def dedup(key, pdfs, state: GroupState):
        if state_ttl and state.hasTimedOut:
            # horizon expiry callback: no new rows for this hash before the
            # watermark passed its last occurrence — drop the entry
            state.remove()
            return
        first = None
        n_before = state.get[0] if state.exists else 0
        n = n_before
        ts_max = None
        for pdf in pdfs:
            if len(pdf):
                if first is None:
                    first = pdf.iloc[0]
                if state_ttl:  # ts only needed (or required) with a TTL
                    m = pdf["ts"].max()
                    ts_max = m if ts_max is None else max(ts_max, m)
            n += len(pdf)
        state.update((n,))
        if state_ttl:
            # evict when the watermark passes the newest occurrence; the
            # timestamp must sit strictly above the current watermark
            wm = state.getCurrentWatermarkMs()
            ts_ms = (
                int(pd.Timestamp(ts_max).value // 1_000_000)
                if ts_max is not None else wm
            )
            state.setTimeoutTimestamp(max(ts_ms, wm + 1))
        if n_before == 0 and first is not None:
            yield pd.DataFrame(
                [{"conv_id": first["conv_id"],
                  "turn_idx": int(first["turn_idx"]),
                  "text_hash": key[0]}]
            )

    keyed = stream.withColumn("text_hash", F.md5("text"))
    return keyed.groupBy("text_hash").applyInPandasWithState(
        dedup, out_schema, state_schema, "update", timeout
    )


def turn_rate_windows(stream: DataFrame, window: str = "1 hour",
                      watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window turn counts per role (late data dropped
    beyond the watermark)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("role"))
        .agg(F.count("*").alias("n_turns"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "role",
            "n_turns",
        )
    )
