"""The north rule's invocation path, driven for real: bench/run.sh zips
the package and spark-submits --py-files the SAME artifact a cluster
runs. A fresh JVM/interpreter pair proves the job carries no hidden
dependence on the test session's state."""

import json
import os
import subprocess

from artexin_spark import storage as sink_io
from artexin_spark.corpus import gen_transcripts

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_spark_submit_py_files_end_to_end(spark, tmp_path):
    src = str(tmp_path / "transcripts")
    pdf = gen_transcripts(n_convs=12, seed=5, with_source=True)
    spark.createDataFrame(pdf).write.parquet(src)
    sink = str(tmp_path / "sink")

    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS="4",
        SPARK_DRIVER_MEM="3g",
        SPARK_SHUFFLE_PARTITIONS="8",
    )
    proc = subprocess.run(
        ["bash", os.path.join(REPO, "bench", "run.sh"), src, sink,
         "--buckets", "4"],
        env=env,
        capture_output=True,
        text=True,
        timeout=540,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    stats = json.loads(proc.stdout.strip().splitlines()[-1])
    assert stats["rows"] == len(pdf)
    assert stats["snapshot_id"] == 1

    # the submitted job's sink reads back in THIS session: same layout
    out = sink_io.read_snapshot(spark, sink)
    assert out.count() == len(pdf)
    assert {"conv_id", "turn_idx", "extracted_text"} <= set(out.columns)


def test_spark_submit_stream_mode_incremental(spark, tmp_path):
    """The hourly-ingest invocation: spark-submit --stream twice; the
    second run drains ONLY the new files (checkpoint) and append-commits
    them, so the sink converges to every row exactly once."""
    src = str(tmp_path / "in")
    sink = str(tmp_path / "sink")
    ck = str(tmp_path / "ck")
    pdf = gen_transcripts(n_convs=10, seed=17, with_source=True)
    half = len(pdf) // 2
    spark.createDataFrame(pdf.iloc[:half]).write.mode("overwrite").parquet(src)

    env = dict(os.environ, SPARK_GRAFT_CPUS="4", SPARK_DRIVER_MEM="3g",
               SPARK_SHUFFLE_PARTITIONS="8")

    def submit():
        p = subprocess.run(
            ["bash", os.path.join(REPO, "bench", "run.sh"), src, sink,
             "--buckets", "4", "--stream", "--checkpoint", ck],
            env=env, capture_output=True, text=True, timeout=540,
        )
        assert p.returncode == 0, p.stderr[-4000:]
        return json.loads(p.stdout.strip().splitlines()[-1])

    first = submit()
    assert first["rows"] == half and first["snapshot_id"] == 1
    spark.createDataFrame(pdf.iloc[half:]).write.mode("append").parquet(src)
    second = submit()
    assert second["rows"] == len(pdf) and second["snapshot_id"] == 2

    out = sink_io.read_snapshot(spark, sink)
    assert out.count() == len(pdf)
    assert out.select("conv_id", "turn_idx").distinct().count() == len(pdf)


def test_spark_submit_json_bad_records_quarantine(spark, tmp_path):
    """Corrupt JSON-Lines input through the REAL job: bad lines are
    quarantined to --bad-records (verbatim), counted in the stats, and
    the good rows extract normally — one bad line never kills the run."""
    src = str(tmp_path / "in_json")
    os.makedirs(src)
    good = [
        '{"conv_id": "c-%d", "turn_idx": %d, "role": "user", '
        '"text": "<p>turn %d body</p>", "tool": null, "ts": null}' % (i, i, i)
        for i in range(8)
    ]
    bad = ['{"conv_id": "c-bad", NOPE', '{"conv_id": "c-x", "turn_idx": "y"}']
    with open(os.path.join(src, "part0.json"), "w") as f:
        f.write("\n".join(good[:4] + bad[:1] + good[4:] + bad[1:]) + "\n")
    sink = str(tmp_path / "sink")
    quarantine = str(tmp_path / "bad")

    env = dict(os.environ, SPARK_GRAFT_CPUS="4", SPARK_DRIVER_MEM="3g",
               SPARK_SHUFFLE_PARTITIONS="8")
    proc = subprocess.run(
        ["bash", os.path.join(REPO, "bench", "run.sh"), src, sink,
         "--buckets", "4", "--input-format", "json",
         "--bad-records", quarantine, "--source-col", "source"],
        env=env, capture_output=True, text=True, timeout=540,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    stats = json.loads(proc.stdout.strip().splitlines()[-1])
    assert stats["ingest_bad_records"] == 2
    assert stats["rows"] == 8 and stats["errors"] == 0
    qdf = spark.read.schema(
        "conv_id string, turn_idx int, role string, text string, tool string, "
        "ts timestamp, bad_record string"
    ).json(quarantine)
    lines = {r["bad_record"] for r in qdf.collect()}
    assert lines == set(bad)  # raw offending lines, verbatim

    # WITHOUT --bad-records the malformed rows must still flow in-band
    # (null text -> extraction error column), never silently drop
    # (review finding: the unconditional split discarded them)
    sink2 = str(tmp_path / "sink2")
    proc2 = subprocess.run(
        ["bash", os.path.join(REPO, "bench", "run.sh"), src, sink2,
         "--buckets", "4", "--input-format", "json"],
        env=env, capture_output=True, text=True, timeout=540,
    )
    assert proc2.returncode == 0, proc2.stderr[-4000:]
    stats2 = json.loads(proc2.stdout.strip().splitlines()[-1])
    assert stats2["rows"] == 10 and stats2["errors"] == 2
    assert "ingest_bad_records" not in stats2

    # --bad-records on a channel-less format is an explicit request that
    # must fail fast, not silently no-op
    pq_src = str(tmp_path / "in_pq")
    pdf = gen_transcripts(n_convs=3, seed=1, with_source=True)
    spark.createDataFrame(pdf).write.parquet(pq_src)
    proc3 = subprocess.run(
        ["bash", os.path.join(REPO, "bench", "run.sh"), pq_src,
         str(tmp_path / "sink3"), "--buckets", "4",
         "--bad-records", str(tmp_path / "q3")],
        env=env, capture_output=True, text=True, timeout=540,
    )
    assert proc3.returncode != 0
    assert "bad_record channel" in proc3.stderr[-2000:] or "bad_record channel" in proc3.stdout[-2000:]
