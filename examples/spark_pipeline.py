"""The production path: the same four pages as a transcript table through
the full distributed pipeline (salted buckets, fused Arrow extraction,
lineage, resumable sink) — what replaces the reference's process pool.

Run: python examples/spark_pipeline.py [sink-dir]
(or submit the identical job to a cluster: bench/run.sh <input> <sink>)
"""

import os
import sys
import tempfile
from datetime import datetime
from os.path import dirname

_REPO = dirname(dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
# Python WORKERS need the package too (driver sys.path doesn't propagate);
# on a real cluster this is spark-submit --py-files (bench/run.sh)
os.environ["PYTHONPATH"] = _REPO + os.pathsep + os.environ.get("PYTHONPATH", "")

from artexin_spark import storage  # noqa: E402
from artexin_spark.pipeline import run_extract  # noqa: E402
from artexin_spark.session import get_spark  # noqa: E402

from _payloads import PAGES  # noqa: E402


def main() -> None:
    sink = sys.argv[1] if len(sys.argv) > 1 else tempfile.mkdtemp(prefix="artexin_sink_")
    spark = get_spark("artexin-example")
    spark.sparkContext.setLogLevel("ERROR")
    rows = [
        ("conv-%04d" % i, 0, "user", html, None, datetime(2026, 1, 1), url)
        for i, (url, html) in enumerate(PAGES)
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp, source string",
    )
    stats = run_extract(spark, df, sink, n_buckets=4)
    print("run:", stats)
    out = storage.read_data(spark, sink).orderBy("conv_id", "turn_idx")
    out.select("conv_id", "title", "extracted_text", "n_images", "error").show(truncate=48)
    spark.stop()


if __name__ == "__main__":
    main()
