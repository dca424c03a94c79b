"""Incremental extraction via Structured Streaming.

The reference is pure batch (SURVEY.md §2.9: no streaming), and the batch
pipeline's ``_lineage`` resume already gives bucket-level idempotent
re-runs. This module adds the orthogonal incremental axis: NEW transcript
files landing in the input directory are extracted exactly once, tracked
by Spark's own streaming checkpoint (file-source offsets), using
``trigger(availableNow=True)`` — the run-to-completion mode that drains
whatever is pending and exits, which is how a 100 TB ingest tail is
processed hourly without re-scanning history.

Streamed rows land in the same sink layout as batch runs (storage.py):
each micro-batch writes one run directory and publishes it with one
append commit, so ``storage.read_data`` reads either. The transformation
is the SAME fused Arrow stage as the batch path (pipeline.extract_df) —
streaming and batch share one code path, so per-turn outputs are
byte-identical.
"""

from __future__ import annotations

from pyspark.sql import SparkSession, functions as F

from . import storage as sink_io
from .pipeline import extract_df

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, "
    "ts timestamp"
)


def incremental_extract(
    spark: SparkSession,
    input_dir: str,
    sink: str,
    checkpoint_dir: str,
    n_buckets: int | None = None,
    source_col: str | None = None,
    schema: str = TRANSCRIPT_SCHEMA,
):
    """Drain all unprocessed input files through the extraction stage
    into ``sink``; returns the finished StreamingQuery. Each micro-batch
    is one append commit (storage.commit_snapshot(operation='append')), so
    streamed rows get the same isolation/time-travel/incremental-scan
    semantics as batch writes — Iceberg's streaming-append pattern.
    Re-invoking after new files land processes only the delta.

    Exactly-once per input file via the streaming checkpoint, and at the
    DATA level: the run id is keyed by batch_id, so a replayed micro-batch
    overwrites its own immutable run dir and its re-commit maps the same
    (run, bucket) pairs — readers union pairs, so the worst case after a
    crash-replay is a redundant snapshot entry, never duplicated rows.
    Compaction later normalizes multi-run buckets back to one run each."""
    sink_io.check_layout(sink)
    spec = sink_io.read_bucket_spec(sink)
    if n_buckets is None:
        # adopt the pinned spec only when the caller did not choose; an
        # EXPLICIT conflicting n_buckets must fail fast in ensure_bucket_spec
        # below, exactly like the batch path (run_extract) — silently
        # overriding it would ignore a CLI --buckets with zero signal
        n_buckets = int(spec["n_buckets"]) if spec is not None else 64
    sink_io.ensure_bucket_spec(sink, n_buckets)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 64)
        .parquet(input_dir)
    )
    # the batch transformation verbatim (content_hash/extracted_at
    # included) so batch-written and stream-written runs carry the SAME
    # schema — downstream dedup keys on content_hash either way. The
    # bucket repartition is skipped: the file source already bounds a
    # micro-batch (maxFilesPerTrigger), and a shuffle per micro-batch
    # buys nothing.
    extracted = extract_df(
        spark, stream, n_buckets=n_buckets, source_col=source_col,
        repartition=False,
    )

    def write_batch(batch_df, batch_id: int) -> None:
        rid = f"stream-{batch_id}"
        sink_io.write_run_data(batch_df, sink, rid)
        sink_io.commit_snapshot(spark, sink, rid, operation="append")

    query = (
        extracted.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query


CONV_PROGRESS_OUT = (
    "conv_id string, turns_seen long, chars_seen long, max_turn_idx int"
)
_CONV_PROGRESS_STATE = "turns long, chars long, max_turn int"


def conversation_progress(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    output_dir: str,
    schema: str = TRANSCRIPT_SCHEMA,
):
    """Custom STATEFUL streaming operator (applyInPandasWithState): a
    running per-conversation progress ledger — turns seen, payload chars,
    highest turn_idx — updated incrementally as transcript files land.

    The state store lives in the streaming checkpoint, so a later
    invocation with the same checkpoint RESUMES the counts: a conversation
    split across ingest batches (or across job restarts) accumulates
    rather than resets. That is the property batch aggregation cannot give
    an unbounded ingest tail without re-scanning history, and the reason
    this is applyInPandasWithState rather than groupBy().agg().

    Sink: foreachBatch appending ledger rows to ``output_dir`` (the
    memory sink can't recover from a checkpoint); the latest row per
    conv_id is the current state — read it with
    ``read_conversation_progress``. A production deployment swaps the
    foreachBatch body for an Iceberg MERGE keyed on conv_id.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        turns, chars, max_turn = state.get if state.exists else (0, 0, -1)
        for pdf in pdfs:
            turns += len(pdf)
            chars += int(pdf["text"].str.len().fillna(0).sum())
            # dropna: turn_idx is nullable, and a group whose batch rows
            # are ALL null would make int(max()) an int(NaN) crash that
            # replays forever from the checkpoint
            idx = pdf["turn_idx"].dropna()
            if len(idx):
                max_turn = max(max_turn, int(idx.max()))
        state.update((turns, chars, max_turn))
        yield pd.DataFrame(
            {
                "conv_id": [key[0]],
                "turns_seen": [turns],
                "chars_seen": [chars],
                "max_turn_idx": [max_turn],
            }
        )

    stream = spark.readStream.schema(schema).parquet(input_dir)
    progressed = stream.groupBy("conv_id").applyInPandasWithState(
        update,
        outputStructType=CONV_PROGRESS_OUT,
        stateStructType=_CONV_PROGRESS_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    def write_batch(batch_df, batch_id):
        batch_df.withColumn("_batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(output_dir)

    query = (
        progressed.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query


def read_conversation_progress(spark: SparkSession, output_dir: str):
    """Current ledger: the row with the highest turns_seen per conv
    (counts are monotone, so max == latest)."""
    led = spark.read.parquet(output_dir)
    return (
        led.groupBy("conv_id")
        .agg(
            F.max_by(
                F.struct("turns_seen", "chars_seen", "max_turn_idx"),
                F.struct("turns_seen", "_batch_id"),
            ).alias("s")
        )
        .select("conv_id", "s.*")
    )


def windowed_turn_counts(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    window: str = "10 minutes",
    delay: str = "1 minutes",
    schema: str = TRANSCRIPT_SCHEMA,
):
    """Watermarked tumbling-window aggregation over the transcript stream:
    turns and payload chars per (conv_id, event-time window), tolerating
    late rows up to ``delay``.

    Append mode emits a window only once the watermark (max event time −
    delay) passes its end — the exactly-once semantics a 10^12-turn
    ingest needs so downstream consumers never see a partial window.
    ``availableNow`` drains pending files; the terminal no-data micro-batch
    advances the watermark so every closed window flushes before exit.
    Windows still open at the final watermark stay buffered in the
    checkpoint and emit on the next incremental run — deterministic,
    and exactly what the oracle reproduces with a batch cutoff."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 64)
        .parquet(input_dir)
    )
    agg = (
        stream.withWatermark("ts", delay)
        .groupBy(F.window("ts", window), F.col("conv_id"))
        .agg(
            F.count("*").alias("n_turns"),
            F.sum(F.length("text")).alias("n_chars"),
        )
        .select(
            "conv_id",
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "n_turns",
            "n_chars",
        )
    )
    query = (
        agg.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    query.awaitTermination()
    return query


def stream_dedup(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    key_cols: list[str] | tuple[str, ...] = ("conv_id", "turn_idx"),
    schema: str = TRANSCRIPT_SCHEMA,
    watermark_col: str | None = "ts",
    delay: str = "1 hour",
):
    """Streaming deduplication: drain pending input files and append only
    rows whose ``key_cols`` were not seen before, exactly-once across
    invocations via the streaming checkpoint — at-least-once upstreams
    (replayed fetches, retried producers, overlapping crawl batches) are
    collapsed before rows reach the training sink.

    State is THE streaming-dedup scale question. With ``watermark_col``
    set (the default) this uses ``dropDuplicatesWithinWatermark``: the
    key store only retains keys younger than max(event_time) − ``delay``,
    so state is bounded by the duplicate-arrival horizon instead of
    growing with all history — the only shape that survives a 10^12-turn
    stream. Past-horizon boundary semantics (both measured, see
    test_stream_dedup_*): a replay carrying its ORIGINAL old event time
    is late data and the watermark drops it before the dedup state (gone,
    though as lateness, not as a recognized duplicate); a duplicate
    re-arriving with a FRESH event time after its key's state expired
    re-emits. Cross-horizon dedup therefore belongs to the batch layer
    (`operators.dedup` / the snapshot sink's content_hash key), which
    this operator deliberately composes with rather than replicates.
    ``watermark_col=None`` falls back to exact ``dropDuplicates`` with
    unbounded state — only for bounded replays.

    Returns the finished StreamingQuery (availableNow drain)."""
    stream = spark.readStream.schema(schema).parquet(input_dir)
    if watermark_col is not None:
        deduped = stream.withWatermark(
            watermark_col, delay
        ).dropDuplicatesWithinWatermark(list(key_cols))
    else:
        deduped = stream.dropDuplicates(list(key_cols))
    query = (
        deduped.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    query.awaitTermination()
    return query


def stream_join(
    spark: SparkSession,
    left_dir: str,
    right_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    left_schema: str,
    right_schema: str,
    on: list[str] | tuple[str, ...] = ("conv_id", "turn_idx"),
    left_ts: str = "ts",
    right_ts: str = "ats",
    delay: str = "1 hour",
    within: str = "2 hours",
    select_cols: list[str] | None = None,
):
    """Watermarked stream-stream INNER join: turns arriving on one stream
    meet their annotations (tool results, labels, safety verdicts)
    arriving independently on another — neither side is a static table,
    so this is the genuinely-streaming enrichment shape (a static side
    would be a plain broadcast join in foreachBatch).

    State is bounded by construction, which is the whole point: the
    join condition carries the event-time band
    |left.ts − right.ts| ≤ ``within``, so Spark can evict a buffered
    row once the GLOBAL watermark — the MINIMUM across both streams
    under the default multipleWatermarkPolicy, each lagging its own
    max event time by ``delay`` — passes the row's band; without the
    time constraint a stream-stream join must buffer EVERYTHING forever
    and dies at 10^12 turns. Boundary semantics (all three MEASURED,
    see test_stream_join_*): a partner arriving drains later still
    matches while the global watermark has not passed the band (an
    idle partner stream HOLDS the global watermark back, keeping state
    alive — min policy); once BOTH streams' watermarks pass the band,
    state evicts and a straggler behind the global watermark is
    dropped as late data, silently unmatched — the at-most-horizon
    contract `stream_dedup` also documents; batch backfill covers the
    stragglers.

    Exactly-once across invocations via the checkpoint (availableNow
    drain). Returns the finished StreamingQuery."""
    l = spark.readStream.schema(left_schema).parquet(left_dir).withWatermark(
        left_ts, delay
    )
    r = spark.readStream.schema(right_schema).parquet(right_dir).withWatermark(
        right_ts, delay
    )
    # rename the right side's join keys so the joined schema carries each
    # key once, unambiguously (stream-stream join has no USING form)
    for k in on:
        r = r.withColumnRenamed(k, f"_r_{k}")
    cond = None
    for k in on:
        c = l[k] == r[f"_r_{k}"]
        cond = c if cond is None else (cond & c)
    band = (r[right_ts] >= l[left_ts] - F.expr(f"INTERVAL {within}")) & (
        r[right_ts] <= l[left_ts] + F.expr(f"INTERVAL {within}")
    )
    joined = l.join(r, cond & band, "inner").drop(*[f"_r_{k}" for k in on])
    out = joined.select(*select_cols) if select_cols else joined
    query = (
        out.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    query.awaitTermination()
    return query
