"""Plan-shape audit over every declared query (optimization-round tool).

For each query in __spark_entry__.queries(): capture the formatted plan and
count the shapes that matter at scale — exchanges, sort aggregates, sorts,
python nodes, joins by strategy, parquet scans per table, cartesian
products. Emits one JSON line per query to stdout (plus a summary), so the
round's audit checklist is generated evidence, not prose. ``--plans-dir``
also writes each query's formatted plan to ``<plans-dir>/<query>.txt``
(before/after plan diffs for a change).

Usage: python tools/plan_audit.py [--sf /root/testdata/sf0.01] [--out f.json]
           [--only q_a,q_b] [--plans-dir plans/new]
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default=None)
    ap.add_argument("--only", default=None)
    ap.add_argument("--plans-dir", default=None)
    args = ap.parse_args()

    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    import __spark_entry__ as e
    from artexin_spark.session import get_spark

    spark = get_spark("plan-audit", cpus=int(os.environ["SPARK_GRAFT_CPUS"]))
    spark.sparkContext.setLogLevel("ERROR")

    only = set(args.only.split(",")) if args.only else None
    rows = []
    for name, fn in e.queries().items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, args.sf)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            plan = buf.getvalue()
            if args.plans_dir:
                os.makedirs(args.plans_dir, exist_ok=True)
                with open(os.path.join(args.plans_dir, f"{name}.txt"), "w") as fh:
                    fh.write(plan)
            rec = {
                "query": name,
                "exchanges": len(re.findall(r"\n\(\d+\) Exchange", plan)),
                "broadcast_ex": len(re.findall(r"BroadcastExchange \(", plan)),
                "sort_agg": len(re.findall(r"SortAggregate \(", plan)),
                "sorts": len(re.findall(r"\n\(\d+\) Sort\b", plan)),
                "hash_agg": len(re.findall(r"HashAggregate \(", plan)),
                "obj_hash_agg": len(re.findall(r"ObjectHashAggregate \(", plan)),
                "smj": len(re.findall(r"SortMergeJoin", plan)),
                "bhj": len(re.findall(r"BroadcastHashJoin", plan)),
                "cartesian": len(re.findall(r"CartesianProduct", plan)),
                "bnlj": len(re.findall(r"BroadcastNestedLoopJoin", plan)),
                "py_nodes": len(
                    set(
                        re.findall(
                            r"(?:ArrowEvalPython|MapInPandas|MapInArrow) \((\d+)\)",
                            plan,
                        )
                    )
                ),
                "batch_eval_py": len(re.findall(r"BatchEvalPython", plan)),
                "window": len(re.findall(r"\n\(\d+\) Window", plan)),
                "scans": {},
            }
            # one "Location: <index> [file:...<table>.parquet]" per scan node
            for t in re.findall(r"Location: \w+ \[file:[^\]]*?(\w+)\.parquet\]", plan):
                rec["scans"][t] = rec["scans"].get(t, 0) + 1
            rec["n_scans"] = sum(rec["scans"].values())
            rows.append(rec)
        except Exception as err:  # noqa: BLE001
            rows.append({"query": name, "error": str(err)[:200]})

    out = {"queries": rows}
    text = json.dumps(out, indent=1)
    if args.out:
        with open(args.out, "w") as fh:
            fh.write(text)
    # summary of the flag-worthy shapes
    for r in rows:
        if r.get("error"):
            print(f"ERR  {r['query']}: {r['error']}")
            continue
        flags = []
        if r["cartesian"]:
            flags.append("CARTESIAN")
        if r["bnlj"]:
            flags.append("BNLJ")
        if r["batch_eval_py"]:
            flags.append("BATCH_EVAL_PY")
        if r["sort_agg"]:
            flags.append(f"sortagg={r['sort_agg']}")
        if max(r["scans"].values() or [0]) > 1:
            dup = {t: c for t, c in r["scans"].items() if c > 1}
            flags.append(f"rescans={dup}")
        if r["exchanges"] >= 5:
            flags.append(f"exchanges={r['exchanges']}")
        if flags:
            print(f"FLAG {r['query']}: {', '.join(flags)}")
    print(f"audited {len(rows)} queries")
    spark.stop()


if __name__ == "__main__":
    main()
