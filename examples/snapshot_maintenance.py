"""Snapshot-sink lifecycle walkthrough (storage.py): what a production
operator of this engine runs day to day at 100 TB.

No reference mirror — artexin's sink was a zipball directory tree
(pack.py:68-154); this is the capability its idempotent md5-keyed
output grows into on a cluster: commits that can't corrupt the table,
time travel, incremental consumption, MERGE, compaction, and GC.

Run:  python -m examples.snapshot_maintenance
"""

from __future__ import annotations

import shutil
import sys
import tempfile
from os.path import dirname

sys.path.insert(0, dirname(dirname(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from artexin_spark import storage as sink_io  # noqa: E402
from artexin_spark.corpus import synth_transcripts
from artexin_spark.pipeline import run_extract
from artexin_spark.session import get_spark


def main() -> None:
    spark = get_spark("snapshot-maintenance-example")
    sink = tempfile.mkdtemp(prefix="artexin_example_sink_")
    try:
        # 1. the extraction job commits snapshot 1 (crash-safe: nothing is
        #    readable until the single manifest append lands)
        turns = synth_transcripts(spark, n_convs=40, seed=42)
        stats = run_extract(spark, turns, sink, n_buckets=8, source_col=None)
        print(f"snapshot {stats['snapshot_id']}: {stats['rows']} turns")

        # 2. stats-tracked re-commit: manifest records per-bucket min/max,
        #    read from the run's parquet footers, so range probes skip
        #    buckets without opening a file
        live = sink_io.read_snapshot(spark, sink)
        sink_io.write_run_data(live, sink, "restate")
        sink_io.commit_snapshot(
            spark, sink, "restate", stats_cols=["conv_id"]
        )
        probe = sink_io.read_snapshot(
            spark, sink, where=("conv_id", "conv-000005", "conv-000010")
        )
        print(f"data-skipping probe: {probe.count()} turns")

        # 3. row-level MERGE: re-extract two conversations, upsert by key
        patch = live.filter(
            F.col("conv_id").isin("conv-000001", "conv-000002")
        ).withColumn("extracted_text", F.upper("extracted_text"))
        sid = sink_io.merge_upsert(
            spark, sink, patch, ["conv_id", "turn_idx"]
        )
        print(f"merge committed snapshot {sid}")

        # 4. incremental consumer: only the buckets MERGE touched
        delta = sink_io.read_incremental(spark, sink, since_snapshot_id=2)
        print(f"incremental since snapshot 2: {delta.count()} turns")

        # 5. maintenance: compact small files (stats re-read from the
        #    compacted files, rows sorted for row-group pushdown), expire
        #    history, GC orphans
        sink_io.compact_snapshot(spark, sink, sort_by=["conv_id", "turn_idx"])
        expired = sink_io.expire_snapshots(spark, sink, keep_last=1)
        orphans = sink_io.remove_orphan_runs(spark, sink, min_age_s=0)
        print(f"expired runs: {expired}; orphan runs: {orphans}")
        print(f"live turns after maintenance: "
              f"{sink_io.read_snapshot(spark, sink).count()}")
    finally:
        shutil.rmtree(sink, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
