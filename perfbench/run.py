"""Benchmark launcher: one run of one workload, one JSON line out.

    python3 perfbench/run.py --workload bulk_extract --seed 1 --seconds 20 --trace 0

Run from the repository root. Workloads (see ``workloads.py``):
``bulk_extract``, ``hourly_ingest``, ``corpus_curate``.

The launcher pins the environment (``local[4]``, a 2 GiB driver heap,
8 shuffle partitions, every temporary file under ``.perfbench/`` in the
current directory), starts ``driver.py`` in its own session, and samples
that process tree's CPU and resident memory from ``/proc`` while the
driver runs the timed phase. The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``: end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``. A traced run also
writes its full per-layer record, with the per-stage table of the Spark
event log, to ``.perfbench/records/``; its tracing overhead is measured
against the last untraced run of the same workload in this directory.
Self-test of the sampler: ``python3 -m pytest perfbench/test_proctree.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import proctree  # noqa: E402

WORKLOADS = ("bulk_extract", "hourly_ingest", "corpus_curate")
DRIVER_MEM = "2g"
#: wall-clock limit for one driver process
CHILD_TIMEOUT_S = 170


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _check_checkout() -> None:
    for need in ("artexin_spark/__init__.py", "bench.py", "__spark_entry__.py"):
        if not os.path.isfile(need):
            _fail(f"{need} not found: run from the root of an artexin-spark checkout")


def _child_env(run_dir: str, trace: bool) -> dict:
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    submit = [
        f'--driver-java-options "-Xms{DRIVER_MEM} -Dderby.system.home={run_dir}"',
        f"--conf spark.sql.warehouse.dir={run_dir}/warehouse",
    ]
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        submit += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{log_dir}",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
        ]
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS="4",
        SPARK_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIR=os.path.join(run_dir, "spark-local"),
        TMPDIR=tmp,
        # every JVM, including spark-submit's launcher: temp files here,
        # and no hsperfdata files in the system temp directory
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        PYSPARK_SUBMIT_ARGS=" ".join(submit + ["pyspark-shell"]),
        PYTHONDONTWRITEBYTECODE="1",
    )
    # 2x the task slots, the session module's own advice for a cluster
    env["SPARK_SHUFFLE_PARTITIONS"] = "8"
    return env


def _session_pids(sid: int) -> list[int]:
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                data = f.read()
        except OSError:
            continue
        fields = data[data.rindex(")") + 2 :].split()
        if int(fields[3]) == sid and fields[0] != "Z":  # field 6: session
            out.append(int(name))
    return out


def _reap_session(sid: int, grace_s: float = 30.0) -> None:
    """Wait until every process of session ``sid`` has ended; kill what is
    still there after ``grace_s``."""
    deadline = time.monotonic() + grace_s
    while _session_pids(sid):
        if time.monotonic() > deadline:
            for pid in _session_pids(sid):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + grace_s
        time.sleep(0.1)


def run_driver(workload: str, seed: int, seconds: float, trace: bool, root: str) -> dict:
    """One driver process; returns its record plus setup and tree metrics."""
    run_dir = os.path.join(root, f"run-{os.getpid()}-{int(trace)}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    out = os.path.join(run_dir, "record.json")
    cmd = [
        sys.executable,
        os.path.join(HERE, "driver.py"),
        f"--workload={workload}",
        f"--seed={seed}",
        f"--seconds={seconds}",
        f"--trace={int(trace)}",
        f"--work={run_dir}",
        f"--out={out}",
    ]
    t_spawn = time.perf_counter()
    child = subprocess.Popen(
        cmd,
        stdin=subprocess.PIPE,
        stdout=subprocess.PIPE,
        env=_child_env(run_dir, trace),
        text=True,
        start_new_session=True,
    )
    killer = threading.Timer(CHILD_TIMEOUT_S, os.killpg, (child.pid, signal.SIGKILL))
    killer.start()
    marks: dict[str, dict] = {}
    tree: dict = {}
    try:
        with proctree.Sampler(child.pid) as sampler:
            for line in child.stdout:
                if not line.startswith("PERFBENCH mark "):
                    sys.stderr.write(line)
                    continue
                what = line.split()[2]
                if what == "start":
                    tree["setup_s"] = time.perf_counter() - t_spawn
                    sampler.reset_peak()
                marks[what] = sampler.mark()
                if what == "end":
                    tree["peak_pss_bytes"] = sampler.peak_pss_bytes
                    tree["peak_procs"] = sampler.peak_procs
                child.stdin.write("ok\n")
                child.stdin.flush()
        code = child.wait()
    finally:
        killer.cancel()
        if child.poll() is None:
            os.killpg(child.pid, signal.SIGKILL)
            child.wait()
        # after a clean exit the JVM and Python workers wind down by
        # themselves; after a failure or a kill, nothing is worth waiting for
        _reap_session(child.pid, grace_s=30.0 if child.returncode == 0 else 0.0)
        child.stdin.close()
        child.stdout.close()
    try:
        if code != 0 or not os.path.exists(out):
            _fail(f"driver exited with code {code} and no record")
        with open(out) as f:
            record = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    record.update(tree)
    record["cpu_s"] = {k: marks["end"][k] - marks["start"][k] for k in marks["end"]}
    return record


def end_to_end(rec: dict) -> dict:
    # CPU per row is left to the per-layer split: on corpus_curate it moved
    # by a fifth between runs of the same code on a shared 4-core host
    rows = sum(rec["op_rows"])
    return {
        "setup_s": (rec["setup_s"], "s"),
        "rows_per_s": (rows / sum(rec["op_s"]), "1/s"),
        "op_s_p50": (statistics.median(rec["op_s"]), "s"),
        # resident memory of the tree, shared pages split (PSS)
        "peak_rss_mb": (rec["peak_pss_bytes"] / 2**20, "MiB"),
        "sink_bytes_per_row": (sum(rec["op_bytes"]) / rows, "B"),
    }


#: span name -> per-layer metric; seconds inside that call per operation
SPAN_METRICS = (
    "pipeline.run_extract",
    "storage.write_data",
    "storage.write_run_data",
    "storage.commit_snapshot",
    "storage.read_incremental",
    "storage.read_snapshot",
    "storage.compact_snapshot",
    "dedup.commit_signatures",
    "dedup.incremental_minhash_dedup",
    "dedup.minhash_dedup",
    "textstats.curate",
)


def per_layer(rec: dict, untraced: dict | None) -> dict:
    rows = sum(rec["op_rows"])
    n_ops = len(rec["op_s"])
    m = {"session.get_spark_s": (rec["get_spark_s"], "s")}
    for k, v in rec["layers"].items():
        if k != "layer_coverage":  # kept in the record file
            m[k] = (v, "us")
    for role in ("pyworker", "jvm", "driver", "jvm.jit", "jvm.gc", "jvm.tasks"):
        name = role.replace(".", "_")
        m[f"pipeline.{name}_cpu_us_per_row"] = (rec["cpu_s"].get(role, 0.0) / rows * 1e6, "us")
    # bulk_extract's traced run adds one hourly_ingest cycle as a probe of
    # the snapshot and incremental-dedup layers (seconds per increment)
    spans = {**rec.get("probe", {}).get("span_s_per_op", {}), **rec["span_s_per_op"]}
    for name in SPAN_METRICS:
        m[f"{name}_s"] = (spans.get(name, 0.0), "s")
    m["storage.files_written"] = (sum(rec["op_files"]) / n_ops, "count")
    m["storage.bytes_written"] = (sum(rec["op_bytes"]) / n_ops, "B")
    ops = [s for s in rec["stages"] if s["description"].startswith("perfbench op ")]
    ext = [s for s in ops if s["py_bytes_sent"] > 0]
    m["spark.op.executor_cpu_s"] = (sum(s["executor_cpu_s"] for s in ops) / n_ops, "s")
    m["spark.op.gc_s"] = (sum(s["gc_s"] for s in ops) / n_ops, "s")
    m["spark.extract_stage.executor_cpu_s"] = (
        sum(s["executor_cpu_s"] for s in ext) / n_ops,
        "s",
    )
    m["spark.extract_stage.gc_s"] = (sum(s["gc_s"] for s in ext) / n_ops, "s")
    m["spark.extract_stage.task_s_max_over_median"] = (
        statistics.median(s["task_s_max_over_median"] for s in ext) if ext else 0.0,
        "ratio",
    )
    m["spark.python.bytes_sent_per_row"] = (sum(s["py_bytes_sent"] for s in ext) / rows, "B")
    m["spark.python.bytes_returned_per_row"] = (
        sum(s["py_bytes_returned"] for s in ext) / rows,
        "B",
    )
    m["spark.shuffle_write_bytes_per_row"] = (
        sum(s["shuffle_write_bytes"] for s in ops) / rows,
        "B",
    )
    m["spark.spill_bytes"] = (sum(s["spill_bytes"] for s in ops) / n_ops, "B")
    # against the last untraced run of this workload in this checkout (any
    # seed); 0 when there has been none, which the record marks
    rec["overhead_baseline"] = untraced and {"seed": untraced["seed"], "op_s": untraced["op_s"]}
    overhead = 0.0
    if untraced:
        overhead = statistics.median(rec["op_s"]) / statistics.median(untraced["op_s"]) - 1.0
    m["trace.overhead_frac"] = (overhead, "frac")
    return m


def _terminate(signum, frame) -> None:
    # unwind through run_driver's cleanup, which kills the driver's session
    sys.exit(128 + signum)


def main() -> None:
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    _check_checkout()

    root = os.path.abspath(".perfbench")
    records = os.path.join(root, "records")
    os.makedirs(records, exist_ok=True)
    baseline = os.path.join(records, f"untraced-{args.workload}.json")
    if args.trace:
        rec = run_driver(args.workload, args.seed, args.seconds, True, root)
        untraced = None
        if os.path.exists(baseline):
            with open(baseline) as f:
                untraced = json.load(f)
        metrics = per_layer(rec, untraced)
        rec["metrics"] = metrics
        path = os.path.join(records, f"layers-{args.workload}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump(rec, f, indent=1)
    else:
        rec = run_driver(args.workload, args.seed, args.seconds, False, root)
        with open(baseline, "w") as f:
            json.dump(rec, f)
        metrics = end_to_end(rec)

    final = rec["final_problems"] + rec.get("probe", {}).get("problems", [])
    failed = sum(1 for p in rec["problems"] if p) + (1 if final else 0)
    for p in [x for ps in rec["problems"] for x in ps] + final:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": len(rec["op_s"]) + 1,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )


if __name__ == "__main__":
    main()
