"""Incremental extraction: exactly-once over arriving files, output
identical to the batch path."""

import os

from pyspark.sql import functions as F

from artexin_spark.corpus import gen_transcripts
from artexin_spark.streaming import incremental_extract


def test_incremental_extract_exactly_once(spark, tmp_path):
    input_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(input_dir)

    pdf = gen_transcripts(n_convs=12, seed=42)
    first, second = pdf.iloc[:60], pdf.iloc[60:120]

    # chunk 1 arrives
    spark.createDataFrame(first).coalesce(1).write.mode("append").parquet(input_dir)
    incremental_extract(spark, input_dir, out_dir, ckpt, n_buckets=4)
    out1 = spark.read.parquet(out_dir)
    assert out1.count() == 60

    # chunk 2 arrives; re-run drains ONLY the delta
    spark.createDataFrame(second).coalesce(1).write.mode("append").parquet(input_dir)
    incremental_extract(spark, input_dir, out_dir, ckpt, n_buckets=4)
    out2 = spark.read.parquet(out_dir)
    assert out2.count() == 120
    # exactly once: no duplicated (conv_id, turn_idx)
    assert out2.select("conv_id", "turn_idx").distinct().count() == 120

    # third run with nothing new: no growth
    incremental_extract(spark, input_dir, out_dir, ckpt, n_buckets=4)
    assert spark.read.parquet(out_dir).count() == 120

    # streaming output == batch path output (same code, same results)
    from artexin_spark.pipeline import extract_df

    batch = (
        extract_df(spark, spark.createDataFrame(pdf.iloc[:120]), n_buckets=4, source_col=None)
        .select("conv_id", "turn_idx", "extracted_text", "error")
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    stream = (
        out2.select("conv_id", "turn_idx", "extracted_text", "error")
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    assert batch.equals(stream)


def test_conversation_progress_state_survives_restart(spark, tmp_path):
    """The stateful ledger must ACCUMULATE across drains: a conversation
    whose turns arrive in two separate availableNow runs (a restart in
    between — new query object, same checkpoint) reports cumulative
    counts, not per-batch counts."""
    from artexin_spark.streaming import (
        conversation_progress,
        read_conversation_progress,
    )

    src = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    led = str(tmp_path / "ledger")
    os.makedirs(src)

    def turns(conv, idxs):
        return spark.createDataFrame(
            [(conv, i, "user", "x" * (10 + i), None, None) for i in idxs],
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp",
        )

    # batch 1: conv-a turns 0-2, conv-b turn 0
    turns("conv-a", [0, 1, 2]).write.mode("append").parquet(src)
    turns("conv-b", [0]).write.mode("append").parquet(src)
    conversation_progress(spark, src, ckpt, led)
    r1 = {r["conv_id"]: r for r in read_conversation_progress(spark, led).collect()}
    assert r1["conv-a"]["turns_seen"] == 3 and r1["conv-a"]["max_turn_idx"] == 2
    assert r1["conv-b"]["turns_seen"] == 1

    # restart with new files: conv-a turns 3-4 → cumulative 5
    turns("conv-a", [3, 4]).write.mode("append").parquet(src)
    conversation_progress(spark, src, ckpt, led)
    r2 = {r["conv_id"]: r for r in read_conversation_progress(spark, led).collect()}
    assert r2["conv-a"]["turns_seen"] == 5  # state resumed, not reset
    assert r2["conv-a"]["max_turn_idx"] == 4
    assert r2["conv-a"]["chars_seen"] == sum(10 + i for i in range(5))


def test_windowed_counts_emit_once_and_late_window_flushes_next_run(spark, tmp_path):
    """Append-mode watermark contract: a window emits exactly once, only
    after the watermark passes its end; the held-back window stays in the
    checkpoint state and flushes on the NEXT incremental run when later
    events advance the watermark."""
    from artexin_spark.streaming import windowed_turn_counts

    inp, outp, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    base_rows = [("c1", i, "user", "xy", None) for i in range(24)]
    df = spark.createDataFrame(
        base_rows, "conv_id string, turn_idx int, role string, text string, tool string"
    ).withColumn(
        "ts",
        F.expr("timestamp'2026-01-01 00:00:00' + make_interval(0,0,0,0,0,turn_idx,0)"),
    )
    df.write.parquet(inp)
    windowed_turn_counts(spark, inp, outp, ckpt, window="10 minutes", delay="1 minutes")
    first = {r["window_start"].minute: r["n_turns"] for r in spark.read.parquet(outp).collect()}
    assert first == {0: 10, 10: 10}  # window [20,30) held (watermark 00:22)

    late = [("c1", i, "user", "xy", None) for i in range(24, 36)]
    df2 = spark.createDataFrame(
        late, "conv_id string, turn_idx int, role string, text string, tool string"
    ).withColumn(
        "ts",
        F.expr("timestamp'2026-01-01 00:00:00' + make_interval(0,0,0,0,0,turn_idx,0)"),
    )
    df2.write.mode("append").parquet(inp)
    windowed_turn_counts(spark, inp, outp, ckpt, window="10 minutes", delay="1 minutes")
    second = {r["window_start"].minute: r["n_turns"] for r in spark.read.parquet(outp).collect()}
    # window [20,30) flushed exactly once with BOTH runs' rows (20..23 + 24..29);
    # [30,40) now held; nothing re-emitted
    assert second == {0: 10, 10: 10, 20: 10}


def test_incremental_output_carries_batch_sink_schema(spark, tmp_path):
    """Stream-written and batch-written sinks must have the SAME schema:
    content_hash (downstream dedup key) and extracted_at included."""
    input_dir = str(tmp_path / "in")
    os.makedirs(input_dir)
    pdf = gen_transcripts(n_convs=4, seed=42)
    spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(input_dir)
    incremental_extract(
        spark, input_dir, str(tmp_path / "out"), str(tmp_path / "ckpt"), n_buckets=4
    )
    out = spark.read.parquet(str(tmp_path / "out"))
    assert {"content_hash", "extracted_at"} <= set(out.columns)
    # the hash is the batch formula: md5(conv \x1f turn \x1f text)
    row = out.filter("error is null").limit(1).collect()[0]
    import hashlib

    want = hashlib.md5(
        ("\x1f".join([row.conv_id, str(row.turn_idx), row.extracted_text])).encode()
    ).hexdigest()
    assert row.content_hash == want


def test_conversation_progress_tolerates_all_null_turn_idx(spark, tmp_path):
    """turn_idx is nullable: a conversation arriving with only null
    turn_idx rows must update the ledger, not crash with int(NaN) and
    poison the checkpoint replay."""
    import pandas as pd

    from artexin_spark.streaming import (
        conversation_progress,
        read_conversation_progress,
    )

    input_dir = str(tmp_path / "in")
    os.makedirs(input_dir)
    rows = [
        ("c1", None, "user", "abc", None, None),
        ("c1", None, "user", "defg", None, None),
        ("c2", 3, "user", "hi", None, None),
    ]
    schema = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(
        input_dir
    )
    conversation_progress(
        spark, input_dir, str(tmp_path / "ckpt"), str(tmp_path / "led")
    )
    led = read_conversation_progress(spark, str(tmp_path / "led")).toPandas()
    led = led.set_index("conv_id")
    assert led.loc["c1"].turns_seen == 2 and led.loc["c1"].max_turn_idx == -1
    assert led.loc["c2"].max_turn_idx == 3


def test_incremental_extract_snapshot_appends_commits(spark, tmp_path):
    """Streaming micro-batches land as append commits in the snapshot
    sink: two incremental invocations produce snapshots whose union is
    every streamed row exactly once, earlier snapshots stay isolated,
    and compaction normalizes the multi-run buckets."""
    from artexin_spark import storage as sink_io
    from artexin_spark.corpus import gen_transcripts
    from artexin_spark.streaming import incremental_extract_snapshot

    src = str(tmp_path / "in")
    sink = str(tmp_path / "snap_sink")
    ck = str(tmp_path / "ck")
    pdf = gen_transcripts(n_convs=12, seed=21, with_source=True)
    half = len(pdf) // 2
    spark.createDataFrame(pdf.iloc[:half]).write.mode("overwrite").parquet(src)
    incremental_extract_snapshot(spark, src, sink, ck, n_buckets=4)
    s1 = sink_io.latest_snapshot_id(spark, sink)
    n1 = sink_io.read_snapshot(spark, sink, s1).count()
    assert n1 == half

    spark.createDataFrame(pdf.iloc[half:]).write.mode("append").parquet(src)
    incremental_extract_snapshot(spark, src, sink, ck, n_buckets=4)
    s2 = sink_io.latest_snapshot_id(spark, sink)
    assert s2 > s1
    live = sink_io.read_snapshot(spark, sink)
    assert live.count() == len(pdf)
    assert live.select("conv_id", "turn_idx").distinct().count() == len(pdf)
    # append isolation: snapshot s1 still reads exactly the first half
    assert sink_io.read_snapshot(spark, sink, s1).count() == n1
    # compaction normalizes multi-run buckets, byte-preserving
    sink_io.compact_snapshot(spark, sink)
    after = sink_io.read_snapshot(spark, sink)
    assert after.count() == len(pdf)
    man = spark.read.parquet(sink_io.snapshots_path(sink))
    latest = sink_io.latest_snapshot_id(spark, sink)
    per_bucket = (
        man.filter(F.col("snapshot_id") == latest)
        .groupBy("part_key")
        .count()
        .collect()
    )
    assert all(r["count"] == 1 for r in per_bucket)  # one run per bucket


def test_stream_dedup_suppresses_replays_within_watermark(spark, tmp_path):
    from artexin_spark.streaming import stream_dedup

    input_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(input_dir)

    pdf = gen_transcripts(n_convs=8, seed=7)
    first = pdf.iloc[:40]

    # batch 1: fresh rows, including an in-batch exact duplicate
    dup_in_batch = first.iloc[[0]]
    spark.createDataFrame(
        __import__("pandas").concat([first, dup_in_batch])
    ).coalesce(1).write.mode("append").parquet(input_dir)
    stream_dedup(spark, input_dir, out_dir, ckpt, delay="1 hour")
    out1 = spark.read.parquet(out_dir)
    assert out1.count() == 40  # in-batch dup collapsed
    assert out1.select("conv_id", "turn_idx").distinct().count() == 40

    # batch 2: a replay of batch 1's rows (same event times, within the
    # watermark horizon) plus genuinely new rows — replays suppressed by
    # checkpointed state, new rows pass
    second = pdf.iloc[40:60]
    spark.createDataFrame(
        __import__("pandas").concat([first.iloc[:10], second])
    ).coalesce(1).write.mode("append").parquet(input_dir)
    stream_dedup(spark, input_dir, out_dir, ckpt, delay="1 hour")
    out2 = spark.read.parquet(out_dir)
    assert out2.count() == 60
    assert out2.select("conv_id", "turn_idx").distinct().count() == 60

    # third drain with nothing new: no growth
    stream_dedup(spark, input_dir, out_dir, ckpt, delay="1 hour")
    assert spark.read.parquet(out_dir).count() == 60


def test_stream_dedup_past_horizon_boundary_semantics(spark, tmp_path):
    """The two measured past-horizon behaviors the docstring pins: an
    old-timestamp replay is dropped AS LATE DATA (watermark, not state);
    a fresh-timestamp duplicate after state eviction re-emits."""
    import datetime as dt

    from artexin_spark.streaming import TRANSCRIPT_SCHEMA, stream_dedup

    input_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(input_dir)

    def mk(ids, ts):
        t = dt.datetime.fromisoformat(ts)
        return spark.createDataFrame(
            [(str(i), 0, "user", "hello", None, t) for i in ids],
            TRANSCRIPT_SCHEMA,
        )

    mk(range(20), "2026-01-01 00:00:00").coalesce(1).write.mode(
        "append"
    ).parquet(input_dir)
    stream_dedup(spark, input_dir, out_dir, ckpt, delay="1 hour")
    assert spark.read.parquet(out_dir).count() == 20

    # advance the watermark far past batch 1's state horizon
    mk([99], "2026-01-01 06:00:00").coalesce(1).write.mode("append").parquet(
        input_dir
    )
    stream_dedup(spark, input_dir, out_dir, ckpt, delay="1 hour")

    # old-ts replay: late data, dropped by the watermark (no re-emit)
    mk([0], "2026-01-01 00:00:00").coalesce(1).write.mode("append").parquet(
        input_dir
    )
    stream_dedup(spark, input_dir, out_dir, ckpt, delay="1 hour")
    assert spark.read.parquet(out_dir).count() == 21

    # fresh-ts duplicate after eviction: state is gone, row re-emits —
    # the documented cross-horizon residue the batch layer catches
    mk([0], "2026-01-01 06:00:30").coalesce(1).write.mode("append").parquet(
        input_dir
    )
    stream_dedup(spark, input_dir, out_dir, ckpt, delay="1 hour")
    out = spark.read.parquet(out_dir)
    assert out.count() == 22
    assert out.filter("conv_id = '0'").count() == 2


def test_stream_join_matches_across_drains_within_watermark(spark, tmp_path):
    import datetime as dt

    from artexin_spark.streaming import stream_join

    ld, rd, od, ck = [str(tmp_path / n) for n in ("l", "r", "o", "c")]
    os.makedirs(ld)
    os.makedirs(rd)
    LS = "conv_id string, turn_idx int, text string, ts timestamp"
    RS = "conv_id string, turn_idx int, tag string, ats timestamp"
    t0 = dt.datetime(2026, 1, 1)

    def mkl(ids):
        return spark.createDataFrame(
            [(str(i), 0, f"text{i}", t0) for i in ids], LS
        )

    def mkr(ids, tag):
        t = t0 + dt.timedelta(minutes=30)
        return spark.createDataFrame(
            [(str(i), 0, f"{tag}{i}", t) for i in ids], RS
        )

    mkl(range(10)).coalesce(1).write.mode("append").parquet(ld)
    mkr(range(5), "a").coalesce(1).write.mode("append").parquet(rd)
    stream_join(spark, ld, rd, od, ck, LS, RS,
                select_cols=["conv_id", "turn_idx", "text", "tag"])
    assert spark.read.parquet(od).count() == 5

    # the partner side arrives a DRAIN LATER but inside the watermark
    # horizon: the buffered left state must still match it
    mkr(range(5, 10), "b").coalesce(1).write.mode("append").parquet(rd)
    stream_join(spark, ld, rd, od, ck, LS, RS,
                select_cols=["conv_id", "turn_idx", "text", "tag"])
    out = spark.read.parquet(od)
    assert out.count() == 10
    assert out.select("conv_id").distinct().count() == 10
    # enrichment carried both sides' payloads
    row = out.filter("conv_id = '7'").collect()[0]
    assert row["text"] == "text7" and row["tag"] == "b7"


def test_stream_join_straggler_past_global_watermark_unmatched(spark, tmp_path):
    """The measured eviction boundary: the global watermark is the MIN
    across both streams, so only when BOTH sides advance past the band
    do buffered rows evict and stragglers drop as late data."""
    import datetime as dt

    from artexin_spark.streaming import stream_join

    ld, rd, od, ck = [str(tmp_path / n) for n in ("l", "r", "o", "c")]
    os.makedirs(ld)
    os.makedirs(rd)
    LS = "conv_id string, turn_idx int, text string, ts timestamp"
    RS = "conv_id string, turn_idx int, tag string, ats timestamp"
    t0 = dt.datetime(2026, 1, 1)
    far = t0 + dt.timedelta(hours=8)

    spark.createDataFrame(
        [(str(i), 0, "x", t0) for i in range(5)] + [("98", 0, "f", far)], LS
    ).coalesce(1).write.mode("append").parquet(ld)
    spark.createDataFrame([("99", 0, "f", far)], RS).coalesce(1).write.mode(
        "append"
    ).parquet(rd)
    stream_join(spark, ld, rd, od, ck, LS, RS, select_cols=["conv_id", "tag"])

    # stragglers: annotations behind the (now-advanced) global watermark
    spark.createDataFrame(
        [(str(i), 0, f"a{i}", t0 + dt.timedelta(minutes=30)) for i in range(5)],
        RS,
    ).coalesce(1).write.mode("append").parquet(rd)
    stream_join(spark, ld, rd, od, ck, LS, RS, select_cols=["conv_id", "tag"])
    import glob

    n = (
        spark.read.parquet(od).count()
        if glob.glob(f"{od}/*.parquet")
        else 0
    )
    assert n == 0
