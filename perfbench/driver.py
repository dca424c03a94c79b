"""One benchmark run inside the Spark driver process.

Started by ``run.py``, never directly. Sets up the session and the
workload, runs operations until ``--seconds`` have passed (rounded up to a
whole round of operations), checks the outputs and writes a JSON record
to ``--out``. Around the timed phase it asks the launcher, over
stdin/stdout, to mark the process tree's CPU, so that the CPU of the JVM
and the Python workers is counted from outside.

With ``--trace 1`` it also spans calls into ``storage`` from inside the
program, times the extraction core in-process, checks the Python UDF
profiler, and reduces the Spark event log (enabled by the launcher) to a
per-stage table.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.getcwd())

#: local[N]: fixed task-slot count, at most the host's cores
CPUS = 4


class Ctx:
    def __init__(self, spark, seed: int, work: str, trace: bool):
        from spans import Spans

        self.spark = spark
        self.seed = seed
        self.trace = trace
        self.cache = os.path.join(os.path.dirname(work), "cache")
        self.sinks = os.path.join(work, "sinks")
        self.spans = Spans()
        os.makedirs(self.cache, exist_ok=True)
        os.makedirs(self.sinks, exist_ok=True)


def mark(what: str) -> None:
    """Ask the launcher to mark the process tree, and wait until it has."""
    print(f"PERFBENCH mark {what}", flush=True)
    reply = sys.stdin.readline().strip()
    if reply != "ok":
        raise RuntimeError(f"launcher did not acknowledge mark {what!r}: {reply!r}")


def files_under(root: str) -> dict[str, int]:
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            p = os.path.join(dirpath, n)
            try:
                out[p] = os.path.getsize(p)
            except FileNotFoundError:
                pass
    return out


def _trace_modules(spans) -> None:
    """Span every public storage call, wherever in the program it is made."""
    from artexin_spark import storage

    for attr in (
        "commit_snapshot",
        "read_snapshot",
        "read_incremental",
        "compact_snapshot",
        "write_data",
        "write_run_data",
    ):
        spans.wrap(storage, attr)


def _udf_profiler_covers_map_in_arrow(spark, df) -> bool:
    """Does ``spark.sql.pyspark.udf.profiler`` see the ``mapInArrow``
    extraction stage? Runs the stage on a small slice with the profiler on
    and looks for any perf result."""
    from pyspark.sql import functions as F

    from artexin_spark.pipeline import extract_df

    spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
    try:
        extract_df(spark, df.limit(200), source_col=None, repartition=False).agg(
            F.count("*")
        ).collect()
        return bool(spark._profiler_collector._perf_profile_results)
    finally:
        spark.conf.unset("spark.sql.pyspark.udf.profiler")


def _span_s_per_op(spans, ops) -> dict[str, float]:
    """Mean seconds per operation inside each spanned call."""
    ops = list(ops)
    names = {s.name for s in spans.records if s.op in ops} - {"op"}
    return {
        n: sum(v for op, v in spans.seconds_by_op(n).items() if op in ops) / len(ops)
        for n in sorted(names)
    }


def _hourly_probe(ctx) -> dict:
    """One ``hourly_ingest`` cycle, run inside the traced bulk_extract run
    so that the snapshot-storage and incremental-dedup layers are measured
    by a workload the benchmark lists (a full hourly_ingest run costs
    about a minute on a 4-core host, too much to repeat for every run). The session is
    already warm from bulk_extract, so the probe skips its own warm-up."""
    from workloads import HourlyIngest

    probe = HourlyIngest(ctx)
    ctx.spark.sparkContext.setJobDescription("perfbench probe setup")
    probe.setup(warm=False)
    ops, problems = [], []
    for k in range(probe.N_INC):
        op = f"probe {k}"
        ctx.spark.sparkContext.setJobDescription(f"perfbench {op}")
        ctx.spans.op = op
        problems += probe.op(k)[1]
        ctx.spans.op = None
        ops.append(op)
    problems += probe.check()
    return {"ops": len(ops), "span_s_per_op": _span_s_per_op(ctx.spans, ops), "problems": problems}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    from artexin_spark.session import get_spark

    from workloads import WORKLOADS

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}", cpus=CPUS)
    get_spark_s = time.perf_counter() - t0
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    ctx = Ctx(spark, args.seed, args.work, bool(args.trace))
    if ctx.trace:
        _trace_modules(ctx.spans)
    wl = WORKLOADS[args.workload](ctx)
    sc.setJobDescription("perfbench setup")
    wl.setup()
    setup_spans = {
        s.name: s.end - s.start for s in ctx.spans.records if s.name.startswith("setup.")
    }
    print(f"perfbench: get_spark {get_spark_s:.2f} s, setup {setup_spans}", file=sys.stderr)

    op_s, op_rows, op_files, op_bytes, problems = [], [], [], [], []
    mark("start")
    t_start = time.perf_counter()
    i = 0
    while i == 0 or time.perf_counter() - t_start < args.seconds or i % wl.ops_per_round:
        sc.setJobDescription(f"perfbench op {i}")
        before = files_under(ctx.sinks)
        ctx.spans.op = i
        t = time.perf_counter()
        try:
            with ctx.spans.span("op"):
                rows, found = wl.op(i)
        except Exception:  # an operation that raises is a failed operation
            traceback.print_exc()
            rows, found = 0, [f"op {i} raised"]
        op_s.append(time.perf_counter() - t)
        print(f"perfbench: op {i}: {op_s[-1]:.3f} s, {rows} rows", file=sys.stderr)
        ctx.spans.op = None
        after = files_under(ctx.sinks)
        new = [p for p, n in after.items() if before.get(p) != n]
        op_files.append(len(new))
        op_bytes.append(sum(after[p] for p in new))
        op_rows.append(rows)
        problems.append(found)
        i += 1
    timed_s = time.perf_counter() - t_start
    mark("end")

    sc.setJobDescription("perfbench check")
    final = wl.check()
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "cpus": CPUS,
        "describe": wl.describe(),
        "get_spark_s": get_spark_s,
        "setup_spans": setup_spans,
        "timed_s": timed_s,
        "op_s": op_s,
        "op_rows": op_rows,
        "op_files": op_files,
        "op_bytes": op_bytes,
        "problems": problems,
        "final_problems": final,
    }
    if ctx.trace:
        import layers

        record["span_s_per_op"] = _span_s_per_op(ctx.spans, range(len(op_s)))
        if args.workload == "bulk_extract":
            record["probe"] = _hourly_probe(ctx)
        ctx.spans.unwrap_all()
        record["layers"] = layers.layer_table(wl.payloads())
        sc.setJobDescription("perfbench profiler check")
        df = getattr(wl, "df", None)
        if df is None:
            from artexin_spark.corpus import synth_transcripts

            df = synth_transcripts(spark, n_convs=8, seed=args.seed)
        record["udf_profiler_covers_mapInArrow"] = _udf_profiler_covers_map_in_arrow(
            spark, df
        )
    spark.stop()
    if ctx.trace:
        import eventlog

        log = eventlog.log_file(os.path.join(args.work, "eventlog"))
        record["stages"] = eventlog.stage_table(log)
    with open(args.out, "w") as f:
        json.dump(record, f)


if __name__ == "__main__":
    main()
