"""The hourly-ingest loop end to end: what a continuous training-data
pipeline built on this engine runs per increment.

Each round: (1) extract the new transcript batch into the snapshot sink
(checkpoint-resumable, lineage-counted), (2) read ONLY the delta since
the previous snapshot (incremental scan — history is never rescanned),
(3) dedup the delta's extracted text against every previous round via
the persisted minhash signature table (historical text never re-read —
only its stored signatures join), and (4) append-commit the survivors'
signatures so the next round sees them.

No reference mirror — artexin batches a fixed URL list once
(batch.py:36-58); this is that job's shape as an unbounded ingest.

Run:  python -m examples.incremental_ingest
"""

from __future__ import annotations

import shutil
import sys
import tempfile
from os.path import dirname

sys.path.insert(0, dirname(dirname(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from artexin_spark import storage as sink_io  # noqa: E402
from artexin_spark.corpus import gen_transcripts  # noqa: E402
from artexin_spark.operators import dedup  # noqa: E402
from artexin_spark.pipeline import run_extract  # noqa: E402
from artexin_spark.session import get_spark  # noqa: E402


def main() -> None:
    spark = get_spark("incremental-ingest", cpus=8)
    spark.sparkContext.setLogLevel("ERROR")
    base = tempfile.mkdtemp(prefix="artexin_ingest_")
    sink, sigs = f"{base}/sink", f"{base}/sigs"
    try:
        last_snap = 0
        for hour, seed in enumerate((11, 12, 13)):
            batch = spark.createDataFrame(
                gen_transcripts(n_convs=25, seed=seed, with_source=True)
            ).withColumn(
                "conv_id", F.concat(F.lit(f"h{hour}-"), F.col("conv_id"))
            )
            # hour 2 replays half of hour 1's conversations (a crawler
            # re-fetch under new ids): cross-run dedup must drop them
            if hour == 2:
                replay = spark.createDataFrame(
                    gen_transcripts(n_convs=12, seed=12, with_source=True)
                ).withColumn(
                    "conv_id", F.concat(F.lit("replay-"), F.col("conv_id"))
                )
                batch = batch.unionByName(replay)

            stats = run_extract(spark, batch, sink, n_buckets=8)
            snap = stats["snapshot_id"]
            delta = sink_io.read_incremental(
                spark, sink, since_snapshot_id=last_snap, to_snapshot_id=snap
            ).filter(F.col("error").isNull())
            docs = delta.select(
                F.concat_ws("#", "conv_id", F.col("turn_idx").cast("string"))
                .alias("doc_id"),
                F.col("extracted_text").alias("text"),
            )
            if sink_io.read_bucket_spec(sigs) is None:
                dedup.commit_signatures(spark, docs, sigs, run_id=f"hour{hour}")
                kept = docs.count()
            else:
                kept = dedup.incremental_minhash_dedup(
                    spark, docs, sigs, threshold=0.6, run_id=f"hour{hour}"
                ).count()
            n_delta = docs.count()
            print(
                f"hour {hour}: snapshot={snap} delta_docs={n_delta} "
                f"survivors={kept} dropped_as_dup={n_delta - kept}"
            )
            if hour == 2:
                assert n_delta - kept > 0  # the replayed convs were caught
            last_snap = snap
        committed = sink_io.read_snapshot(spark, sigs).count()
        print(f"signature table holds {committed} unique docs after 3 rounds")
    finally:
        shutil.rmtree(base, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
