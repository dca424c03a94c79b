"""SparkSession factory tuned for the extraction workload.

One place owns the session config so tests, bench.py, the driver entry and
spark-submit jobs all get identical physical behavior:

- Arrow Python path on, with a bounded records-per-batch because HTML
  payload rows are fat (multi-KB..MB) — an unbounded 10k-row default batch
  would balloon executor-python memory (SURVEY.md §4.2).
- AQE on (coalescing + skew-join splitting as backstop behind our explicit
  conv_id salting).
- shuffle partitions sized to the local core budget; on a real cluster
  pass --conf spark.sql.shuffle.partitions=<2-3× total cores> instead.
- session timezone UTC — the reference serializes timestamps as UTC
  strings (artexin/pack.py:39), we keep all ts math in UTC.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "artexin-spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or None
    master = "local[%s]" % (cpus if cpus else "*")
    shuffle = os.environ.get("SPARK_SHUFFLE_PARTITIONS") or str(max(32, (cpus or 32)))
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 4096 measured fastest for ~2 KB payloads (re-tuned after the
        # 2.3x per-turn speedup shifted the compute/crossing balance:
        # 1024 → 4096 is +28% extraction throughput at 16 cores; 8192
        # regresses from batch-tail skew). ~8 MB/batch at this cell size;
        # multi-MB payload tables should pass SPARK_ARROW_BATCH=256 or
        # lower — batch_bytes ≈ rows × payload is the executor-python
        # memory envelope.
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            os.environ.get("SPARK_ARROW_BATCH", "4096"),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # local mode: driver == executor; multi-GB text batches churn the
        # heap hard — an 8g heap cost ~20% wall in GC at 32 threads
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "32g"))
        .config("spark.ui.enabled", "false")
        # list file-source paths on the driver, never with a Spark job:
        # a snapshot read names every mapped bucket directory (64 per run
        # at the default bucket count), and above this threshold (default
        # 32) Spark plans a parallel listing job that costs more than the
        # driver's own listing of a local sink
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", str(1 << 20))
    )
    # local-mode shuffle/spill on tmpfs when RAM clearly allows: the
    # bucket repartition moves multi-GB of text through spark.local.dir,
    # and a slow /tmp (overlayfs) taxes it. A real cluster sets its own
    # SSD local dirs — this only affects single-host runs. The 64 GiB
    # floor is deliberate headroom, not a fit check: tmpfs pages compete
    # with the heap and the check runs once at startup, so a job whose
    # shuffle outgrows /dev/shm mid-run would hit ENOSPC where plain
    # /tmp would have completed — prefer missing the speedup on small
    # hosts over failing big jobs. Opt out (or point at fast disk) with
    # SPARK_LOCAL_DIR; SPARK_LOCAL_DIR="" forces the Spark default.
    local_dir = os.environ.get("SPARK_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        try:
            st = os.statvfs("/dev/shm")
            if st.f_bavail * st.f_frsize >= 64 << 30:
                local_dir = "/dev/shm/artexin-spark-local"
        except OSError:
            pass
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
        # say so out loud (stderr, once per process): an ENOSPC mid-job
        # on a tmpfs local dir is bewildering unless the chosen dir is
        # on record — r02 ADVICE item on diagnosability
        global _LOCAL_DIR_ANNOUNCED
        if not _LOCAL_DIR_ANNOUNCED:
            _LOCAL_DIR_ANNOUNCED = True
            import sys

            print(
                f"artexin-spark: spark.local.dir={local_dir}"
                + (
                    " (tmpfs auto-selected; set SPARK_LOCAL_DIR to override, "
                    'SPARK_LOCAL_DIR="" for the Spark default)'
                    if "SPARK_LOCAL_DIR" not in os.environ
                    else ""
                ),
                file=sys.stderr,
            )
    return builder.getOrCreate()


_LOCAL_DIR_ANNOUNCED = False
