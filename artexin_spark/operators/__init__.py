"""Training-data-pipeline operators beyond the reference's own surface.

The reference is an article-extraction pipeline; a 100 TB training-data
engine additionally needs corpus-level ops. All Spark-first: native
column expressions where possible, Arrow pandas_udfs only where vector
math genuinely wants numpy.

    bpe.py         distributed BPE merge training / application
                   (word-table reduction, fold-based merges)
    dedup.py       exact / MinHash-LSH / SimHash / n-gram-Jaccard /
                   embedding-cosine near-duplicate detection + SemDeDup
    similarity.py  brute-force cosine top-k + LSH-bucketed ANN
    textstats.py   language id, quality scoring, token counting,
                   document fingerprinting
    multimodal.py  binary image/audio/video columns: schema, batching,
                   decode/feature plumbing (decoders stubbed — no codec
                   libs in env; Spark-side shape is real and tested)

Compute once, reuse: an operator that feeds one frame to more than one
consumer calls ``DataFrame.localCheckpoint`` on it — the only reuse
mechanism here (a ``persist`` that an operator unpersists before it
returns is scoped to its own body, not reuse by the caller):

- lazy (``eager=False``) for a subtree shared by several branches or
  actions of the returned plan (banded signatures, the substring
  occurrence frame, BM25/bigram token projections, DSIR's scored frame,
  the blocking posting index) — the first action fills the blocks and
  every later branch reads them as ``Scan ExistingRDD``; under AQE,
  building the lazy checkpoint already runs the subtree's upstream
  shuffle stages;
- eager (the default) per round of an iterative loop (connected
  components, pagerank, spread-init kmeans, BPE), truncating lineage so
  round i neither recomputes nor re-analyzes rounds 1..i-1.

Trade-offs, stated once: the checkpoint severs lineage, so losing an
executor that holds its blocks fails the job loudly with a missing
checkpoint block instead of recomputing. The blocks are freed only once
Spark's ContextCleaner sees the frame unreachable on the driver, which is
not prompt — probes have seen checkpoint RDDs still listed 60 s after
``del``, a Python ``gc`` and a JVM ``System.gc()``, and others gone
after 30 s. There is no public call to release them earlier.
"""


def spread_scan(df, multiple: int = 2):
    """Round-robin repartition a frame whose scan parallelism is below the
    session's core budget — the guide's input-skew fix (§2.5): a corpus
    that lives in one small parquet file scans as ONE task, serializing
    every downstream per-row compute (shingle md5, quality regexes,
    embedding matmuls) on a single core while the rest of the cluster
    idles. No-op when the plan already carries >= cores partitions (any
    production many-file table), when the frame is streaming, or when the
    partition count cannot be derived; when it does fire, the shuffle
    moves only this frame's own (ideally pre-projected) columns once.
    ``multiple`` spreads to multiple×cores partitions so stragglers
    backfill. Deterministic for every consumer here: the operators using
    it are per-row projections or key aggregations whose results are
    partitioning-independent (keyless repartition keeps Spark's
    sort-before-repartition retry determinism).

    Caveat: the spread only helps the work planned ABOVE it. Catalyst
    pushes a deterministic ``Filter`` on the returned frame through the
    ``Repartition``, so a filter whose predicate is the expensive part
    (a quality or language gate) runs below the spread, in the scan's
    single task; fold such a gate into an aggregate instead (see
    ``textstats.curate``).

    The probe runs no Spark job: a partition count the physical plan
    already states (an explicit repartition — e.g. a frame this function
    spread before — or a bucketed scan) is read from the plan; only an
    unknown one (a plain file scan) asks the RDD, which lists file splits
    on the driver. ``df.rdd`` over a frame holding an exchange would
    materialize that exchange under AQE."""
    try:
        if df.isStreaming:
            return df
        cores = df.sparkSession.sparkContext.defaultParallelism
        planned = df._jdf.queryExecution().sparkPlan().outputPartitioning()
        n = planned.numPartitions() or df.rdd.getNumPartitions()
    except Exception:
        return df
    if n >= cores:
        return df
    return df.repartition(multiple * cores)
