"""spark-submit entry point: the production job shape.

    spark-submit --py-files artexin_spark.zip -m artexin_spark \
        python -m artexin_spark --input <transcripts> --sink <dir> [--resume]

Runs the full extraction pipeline (salted buckets, run directory +
snapshot commit, lineage, checkpoint resume) over a parquet/Iceberg
transcript table and prints the run counters, snapshot_id included. The
same artifact runs unchanged on a real multi-executor cluster — parallelism comes from
--master / executor conf, never from code changes (BASELINE.md protocol).
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser(
        prog="artexin_spark",
        description="Extract transcript turns into a snapshot sink: every "
        "run writes its own run directory and commits a snapshot that "
        "replaces the buckets it touched (storage.py).",
    )
    ap.add_argument("--input", required=True, help="transcript table path")
    ap.add_argument(
        "--input-format",
        default="parquet",
        choices=["parquet", "json", "csv"],
        help="source format (json = JSON Lines; declared schema, no "
        "inference pass)",
    )
    ap.add_argument("--sink", required=True, help="output sink directory")
    ap.add_argument("--buckets", type=int, default=None)
    ap.add_argument("--resume", action="store_true")
    # default matches run_extract's library default: pick up a "source"
    # column when the table has one (soft fallback to lit("") when absent).
    # None here would silently disable source-dispatched preprocessors and
    # image resolution for tables that DO carry a source column.
    ap.add_argument("--source-col", default="source")
    ap.add_argument("--run-id", default=None)
    ap.add_argument(
        "--stream",
        action="store_true",
        help="incremental mode: drain NEW input files via Structured "
        "Streaming into the sink (one append commit per micro-batch); "
        "re-invoke hourly, the checkpoint tracks the delta",
    )
    ap.add_argument(
        "--checkpoint",
        default=None,
        help="streaming checkpoint dir (required with --stream)",
    )
    ap.add_argument(
        "--bad-records",
        default=None,
        help="quarantine dir for malformed json/csv lines (PERMISSIVE "
        "bad_record channel): offending raw lines are written there as "
        "JSON and counted in the stats; without it, bad rows still flow "
        "in-band (null fields -> extraction error column) — one bad "
        "line never kills the job either way",
    )
    args = ap.parse_args()

    # absolute imports: spark-submit executes this file as a plain script
    # with the --py-files zip on sys.path
    from artexin_spark.pipeline import run_extract
    from artexin_spark.session import get_spark

    spark = get_spark("artexin-extract")
    if args.stream:
        if not args.checkpoint:
            ap.error("--stream requires --checkpoint")
        from artexin_spark import storage as sink_io
        from artexin_spark.streaming import incremental_extract

        incremental_extract(
            spark,
            args.input,
            args.sink,
            args.checkpoint,
            n_buckets=args.buckets or 64,
            source_col=None,
        )
        sid = sink_io.latest_snapshot_id(spark, args.sink)
        n = sink_io.read_snapshot(spark, args.sink).count() if sid else 0
        print(json.dumps({"mode": "stream", "snapshot_id": sid, "rows": n}))
        spark.stop()
        return
    from artexin_spark.pipeline import read_transcripts, split_ingest_errors

    df = read_transcripts(spark, args.input, args.input_format)
    n_bad = None
    if args.bad_records:
        df, bad = split_ingest_errors(df)
        if bad is None:
            # explicit request on a format with no corrupt-record channel:
            # fail fast instead of silently writing nothing (same rule as
            # prepare_input's source_col handling)
            ap.error(
                "--bad-records requires a text input format (json/csv); "
                f"{args.input_format} has no bad_record channel"
            )
        # materializing the quarantine costs one extra scan of the text
        # source — explicit opt-in; the count then reads the (tiny)
        # quarantine back with a DECLARED schema (inference would fail
        # on an empty quarantine), never the source a third time
        bad.write.mode("overwrite").json(args.bad_records)
        n_bad = spark.read.schema(bad.schema).json(args.bad_records).count()
    # WITHOUT --bad-records the frame flows on intact: prepare_input drops
    # the bad_record column and the malformed rows (null text) surface in
    # the extraction error column — in-band, never silently dropped
    stats = run_extract(
        spark,
        df,
        args.sink,
        n_buckets=args.buckets,
        source_col=args.source_col,
        resume=args.resume,
        run_id=args.run_id,
    )
    if n_bad is not None:
        stats["ingest_bad_records"] = n_bad
    print(json.dumps(stats))
    spark.stop()


if __name__ == "__main__":
    main()
