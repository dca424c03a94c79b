"""The three workloads: set-up, one timed operation, correctness checks.

Each workload drives the engine's public entry points only. Sizes are
fixed here; ``--seed`` picks the data. An operation is one pass for
``bulk_extract`` and ``corpus_curate`` and one increment for
``hourly_ingest``.
"""

from __future__ import annotations

import json
import os
import random
import shutil

import pyarrow.parquet as pq
from pyspark.sql import functions as F

import inputs
from artexin_spark import pipeline, storage
from artexin_spark.operators import dedup, textstats
from artexin_spark.preprocess import preps_for
from artexin_spark.readability import extract_turn

#: rows fed to the in-process layer timers in the traced run
LAYER_ROWS = 2000


class Workload:
    name = ""
    #: the timed phase ends only after a whole number of rounds of ops
    ops_per_round = 1

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark

    def setup(self) -> None:
        raise NotImplementedError

    def op(self, i: int) -> tuple[int, list[str]]:
        """Run operation ``i``; return its input rows and the problems its
        checks found."""
        raise NotImplementedError

    def check(self) -> list[str]:
        """Checks run once after the timed phase."""
        return []

    def payloads(self) -> list[tuple[str, str]]:
        """(html, source) pairs for the in-process layer timers."""
        raise NotImplementedError

    def describe(self) -> dict:
        return {}

    def sink(self, tag: str) -> str:
        path = os.path.join(self.ctx.sinks, tag)
        shutil.rmtree(path, ignore_errors=True)
        return path


def _same_result(row, res) -> bool:
    spans = [(s["start"], s["end"]) for s in (row["spans"] or [])]
    return (
        row["title"] == res.title
        and row["extracted_text"] == res.text
        and spans == [tuple(s) for s in res.spans]
        and row["error"] == res.error
    )


class BulkExtract(Workload):
    """``run_extract`` over a pre-materialized table of bench-shaped HTML
    turns into a fresh sink per pass."""

    name = "bulk_extract"
    N_DOCS = 5000
    TURNS_PER_DOC = 4
    SAMPLE = 64
    #: untimed full passes first: JIT compilation in the JVM keeps passes
    #: speeding up for several passes after the first
    WARM_PASSES = 2

    def setup(self) -> None:
        import bench

        with self.ctx.spans.span("setup.inputs"):
            docs_dir, self.docs_hit = inputs.documents_dir(
                self.ctx.cache, self.ctx.seed, self.N_DOCS
            )
            os.environ["BENCH_TMP"] = self.ctx.cache
            tx_path = bench.materialize_transcripts(
                self.spark, docs_dir, self.TURNS_PER_DOC
            )
        # one scan task per file, as bench.py does: the table compresses
        # so well that byte-based split packing would merge its files into
        # fewer tasks than cores
        cap = max(4 << 20, 2 * bench._max_file_bytes(tx_path))
        self.spark.conf.set("spark.sql.files.maxPartitionBytes", str(cap))
        self.spark.conf.set("spark.sql.files.openCostInBytes", str(cap // 2))
        self.df = self.spark.read.parquet(tx_path)
        self.n_rows = self.df.count()
        rng = random.Random(self.ctx.seed)
        keys = [
            ("conv-%d" % rng.randrange(self.N_DOCS), rng.randrange(self.TURNS_PER_DOC))
            for _ in range(self.SAMPLE)
        ]
        keys_df = self.spark.createDataFrame(keys, "conv_id string, turn_idx int")
        self.sample = {
            (r.conv_id, r.turn_idx): extract_turn(
                r.text, base_url="", preprocessors=preps_for(""), with_html=False
            )
            for r in self.df.join(keys_df, ["conv_id", "turn_idx"]).collect()
        }
        with self.ctx.spans.span("setup.warmup"):
            for _ in range(self.WARM_PASSES):
                warm = self.sink("warm")
                pipeline.run_extract(self.spark, self.df, warm)
                shutil.rmtree(warm)

    def op(self, i: int) -> tuple[int, list[str]]:
        self.last_sink = self.sink(f"bulk-{i}")
        with self.ctx.spans.span("pipeline.run_extract"):
            stats = pipeline.run_extract(self.spark, self.df, self.last_sink)
        if stats["rows"] != self.n_rows:
            return self.n_rows, [f"pass {i}: {stats['rows']} rows written, {self.n_rows} read"]
        return self.n_rows, []

    def check(self) -> list[str]:
        rows = (
            storage.read_data(self.spark, self.last_sink)
            .join(
                self.spark.createDataFrame(list(self.sample), "conv_id string, turn_idx int"),
                ["conv_id", "turn_idx"],
            )
            .collect()
        )
        got = {(r.conv_id, r.turn_idx): r for r in rows}
        return [
            f"sample row {k} differs from in-process extract_turn"
            for k, res in self.sample.items()
            if k not in got or not _same_result(got[k], res)
        ]

    def payloads(self) -> list[tuple[str, str]]:
        rows = self.df.select("text").limit(LAYER_ROWS).collect()
        return [(r.text, "") for r in rows]

    def describe(self) -> dict:
        return {
            "input": f"{self.N_DOCS} generated documents x {self.TURNS_PER_DOC} "
            f"bench-shaped HTML turns = {self.n_rows} rows",
            "input_cache_hit": self.docs_hit,
        }


class HourlyIngest(Workload):
    """The ``examples/incremental_ingest.py`` loop over small increments:
    snapshot extract, incremental read, cross-run dedup, compaction. A
    cycle is ``N_INC`` increments into a fresh sink and signature table,
    every increment after the first replays the one before it, and the
    last one ends with a compaction; the timed phase repeats whole cycles.
    Not in BENCHMARK.json: one increment runs about fifty Spark jobs
    (about 12 s on a 4-core host), so a run takes about a minute."""

    name = "hourly_ingest"
    N_INC = 2
    N_CONVS = 16
    N_BUCKETS = 8

    def setup(self, warm: bool = True) -> None:
        with self.ctx.spans.span("setup.inputs"):
            self.dir, self.inputs_hit = inputs.increments_dir(
                self.ctx.cache, self.ctx.seed, self.N_INC, self.N_CONVS
            )
        self.paths = [
            os.path.join(self.dir, f"inc-{i:05d}.parquet") for i in range(self.N_INC)
        ]
        self.expect = []
        for p in self.paths:
            t = pq.read_table(p, columns=["conv_id", "turn_idx", "text"]).to_pylist()
            self.expect.append(
                {
                    "rows": len(t),
                    "empty": {
                        (r["conv_id"], r["turn_idx"])
                        for r in t
                        if not r["text"] or r["text"].isspace()
                    },
                    "replayed": {
                        "%s#%d" % (r["conv_id"], r["turn_idx"])
                        for r in t
                        if r["conv_id"].startswith("replay")
                        and r["text"]
                        and not r["text"].isspace()
                    },
                }
            )
        self.ops_per_round = self.N_INC
        if warm:  # the first increment of a cycle
            self._start_cycle("warm")
            with self.ctx.spans.span("setup.warmup"):
                self._increment(0)
            shutil.rmtree(self.tx_sink)
            shutil.rmtree(self.sig_sink)

    def _start_cycle(self, tag: str) -> None:
        self.tx_sink = self.sink(f"{tag}-sink")
        self.sig_sink = self.sink(f"{tag}-sigs")
        self.last_snap = 0
        self.last_inc = None

    def op(self, i: int) -> tuple[int, list[str]]:
        k = i % self.N_INC
        if k == 0:
            self._start_cycle(f"c{i // self.N_INC}")
        return self.expect[k]["rows"], self._increment(k)

    def _increment(self, k: int) -> list[str]:
        spark, spans, exp, problems = self.spark, self.ctx.spans, self.expect[k], []
        inc = spark.read.parquet(self.paths[k])
        with spans.span("pipeline.run_extract"):
            stats = pipeline.run_extract(
                spark, inc, self.tx_sink, n_buckets=self.N_BUCKETS, snapshot=True
            )
        snap = stats["snapshot_id"]
        self.last_inc = k
        if stats["rows"] != exp["rows"]:
            problems.append(f"increment {k}: {stats['rows']} rows, {exp['rows']} in")
        if stats["errors"] != len(exp["empty"]):
            problems.append(
                f"increment {k}: {stats['errors']} error rows, "
                f"{len(exp['empty'])} empty payloads"
            )
        with spans.span("storage.read_incremental"):
            delta = storage.read_incremental(
                spark, self.tx_sink, since_snapshot_id=self.last_snap, to_snapshot_id=snap
            ).filter(F.col("error").isNull())
        docs = delta.select(
            F.concat_ws("#", "conv_id", F.col("turn_idx").cast("string")).alias("doc_id"),
            F.col("extracted_text").alias("text"),
        )
        if k == 0:
            with spans.span("dedup.commit_signatures"):
                dedup.commit_signatures(spark, docs, self.sig_sink, run_id=f"inc{k}")
        else:
            with spans.span("dedup.incremental_minhash_dedup"):
                kept = {
                    r.doc_id
                    for r in dedup.incremental_minhash_dedup(
                        spark, docs, self.sig_sink, threshold=0.6, run_id=f"inc{k}"
                    )
                    .select("doc_id")
                    .collect()
                }
            leaked = exp["replayed"] & kept
            if leaked:
                problems.append(f"increment {k}: {len(leaked)} replayed turns kept")
            if not kept:
                problems.append(f"increment {k}: every turn dropped as duplicate")
        # run_extract(snapshot=True) commits with bucket-overwrite semantics
        # and an increment touches every bucket, so the live snapshot holds
        # exactly the latest increment
        with spans.span("storage.read_snapshot"):
            total = storage.read_snapshot(spark, self.tx_sink).count()
        if stats["buckets"] == self.N_BUCKETS and total != exp["rows"]:
            problems.append(f"increment {k}: snapshot holds {total}, wrote {exp['rows']}")
        if k == self.N_INC - 1:
            with spans.span("storage.compact_snapshot"):
                storage.compact_snapshot(spark, self.tx_sink)
        self.last_snap = snap
        return problems

    def check(self) -> list[str]:
        # the live snapshot's error rows are exactly the empty payloads of
        # the last increment (malformed HTML is recovered by the parser, so
        # it must NOT be there)
        want = self.expect[self.last_inc]["empty"]
        got = {
            (r.conv_id, r.turn_idx)
            for r in storage.read_snapshot(self.spark, self.tx_sink)
            .filter(F.col("error").isNotNull())
            .select("conv_id", "turn_idx")
            .collect()
        }
        return [] if got == want else [f"error rows {len(got)} != empty payloads {len(want)}"]

    def payloads(self) -> list[tuple[str, str]]:
        out = []
        for p in self.paths:
            t = pq.read_table(p, columns=["text", "source"]).to_pylist()
            out.extend((r["text"], r["source"]) for r in t)
        return out[:LAYER_ROWS]

    def describe(self) -> dict:
        return {
            "input": f"{self.N_INC} increments of {self.N_CONVS} generated "
            f"conversations ({sum(e['rows'] for e in self.expect)} rows)",
            "input_cache_hit": self.inputs_hit,
        }


class CorpusCurate(Workload):
    """``dedup.minhash_dedup`` plus ``textstats.curate`` over a generated
    documents table, both results written out per pass."""

    name = "corpus_curate"
    N_DOCS = 5000
    WARM_PASSES = 1  # see BulkExtract.WARM_PASSES

    def setup(self) -> None:
        import duckdb

        from __spark_entry__ import _ORACLES

        with self.ctx.spans.span("setup.inputs"):
            docs_dir, self.docs_hit = inputs.documents_dir(
                self.ctx.cache, self.ctx.seed, self.N_DOCS
            )
        path = os.path.join(docs_dir, "documents.parquet")
        with self.ctx.spans.span("setup.oracle"):
            con = duckdb.connect()
            con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
            self.oracle = {
                (int(r[0]), round(float(r[1]), 6), r[2])
                for r in con.execute(_ORACLES["curate"]).fetchall()
            }
            con.close()
        self.docs = self.spark.read.parquet(path)
        self.n_rows = self.docs.count()
        self.key = os.path.basename(docs_dir)
        self.outs: list[str] = []
        with self.ctx.spans.span("setup.warmup"):
            for _ in range(self.WARM_PASSES):
                warm = self.sink("warm")
                self._pass(self.docs, warm)
                shutil.rmtree(warm)

    def _pass(self, docs, out: str) -> None:
        spans = self.ctx.spans
        with spans.span("dedup.minhash_dedup"):
            dedup.minhash_dedup(docs, k=16, bands=4, threshold=0.8).write.parquet(
                os.path.join(out, "near_dups")
            )
        with spans.span("textstats.curate"):
            eval_df = docs.filter(F.col("doc_id") % 50 == 0)
            textstats.curate(
                docs, eval_df, min_quality=0.5, langs=("en",), n=3, min_overlap=2
            ).write.parquet(os.path.join(out, "curated"))

    def op(self, i: int) -> tuple[int, list[str]]:
        out = self.sink(f"curate-{i}")
        self._pass(self.docs, out)
        self.outs.append(out)
        return self.n_rows, []

    def check(self) -> list[str]:
        problems = []
        pair_sets = []
        for out in self.outs:
            curated = {
                (r.doc_id, round(r.quality, 6), r.pred_lang)
                for r in self.spark.read.parquet(os.path.join(out, "curated")).collect()
            }
            if curated != self.oracle:
                problems.append(f"{out}: curate differs from the DuckDB oracle")
            pair_sets.append(
                sorted(
                    (r.id_a, r.id_b)
                    for r in self.spark.read.parquet(os.path.join(out, "near_dups"))
                    .select("id_a", "id_b")
                    .collect()
                )
            )
        if any(p != pair_sets[0] for p in pair_sets):
            problems.append("minhash_dedup pairs differ between passes")
        if not pair_sets[0]:
            problems.append("minhash_dedup found no near-duplicates")
        # same seed, same input: the pairs must match every earlier run
        record = os.path.join(self.ctx.cache, f"near_dups-{self.key}.json")
        if os.path.exists(record):
            with open(record) as f:
                if json.load(f) != [list(p) for p in pair_sets[0]]:
                    problems.append("minhash_dedup pairs differ from an earlier run")
        else:
            with open(record, "w") as f:
                json.dump(pair_sets[0], f)
        return problems

    def payloads(self) -> list[tuple[str, str]]:
        from __spark_entry__ import _WRAP_POST_TITLE, _WRAP_PRE_TITLE, _WRAP_TAIL

        rows = self.docs.select("doc_id", "text").limit(LAYER_ROWS).collect()
        return [
            (f"{_WRAP_PRE_TITLE}{r.doc_id}{_WRAP_POST_TITLE}{r.text}{_WRAP_TAIL}", "")
            for r in rows
        ]

    def describe(self) -> dict:
        return {
            "input": f"{self.N_DOCS} generated documents",
            "input_cache_hit": self.docs_hit,
        }


WORKLOADS = {w.name: w for w in (BulkExtract, HourlyIngest, CorpusCurate)}
