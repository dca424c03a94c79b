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


def attach_caches(result, cached):
    """Record the intermediate frames an operator persisted on behalf of
    ``result`` so the caller can release them via ``release_caches``
    after materializing. Internal seam used by the operators that cache
    a shared subtree (substring dedup's occurrence frame, batched BM25's
    tokenized projection).

    The handle rides as a Python attribute on the EXACT DataFrame object
    returned — any further transformation (``result.filter(...)``,
    ``select``, ``withColumn``) yields a NEW object without it, after
    which ``release_caches`` on the derived frame silently frees nothing
    and the MEMORY_AND_DISK cache leaks until ``clearCache``. Either
    call ``release_caches`` on the operator's own return value, or wrap
    the whole consume step in ``released_after`` (the context manager
    below), which holds the original handle no matter what the body
    derives from it."""
    result._artexin_caches = list(getattr(result, "_artexin_caches", ())) + list(
        cached
    )
    return result


def release_caches(df, blocking: bool = False) -> int:
    """Unpersist the MEMORY_AND_DISK frames an operator cached on behalf
    of this result (see ``attach_caches``). Call AFTER materializing
    ``df``: the result plan reads those caches, so releasing first
    forfeits the single-pass guarantee (work recomputes; results stay
    correct). Returns the number of caches released.

    MUST be called on the exact object the operator returned, BEFORE any
    further transformation — derived frames do not carry the handle (see
    ``attach_caches``); prefer ``released_after`` when the consuming
    code wraps the result.

    Without this seam a continuous-ingest service calling, e.g.,
    ``incremental_substring_dedup`` once per increment would pin one
    occurrence-frame cache per call with no handle to free it short of
    ``spark.catalog.clearCache()`` (which nukes unrelated caches too)."""
    cached = getattr(df, "_artexin_caches", ())
    for c in cached:
        c.unpersist(blocking)
    df._artexin_caches = []
    return len(cached)


class released_after:
    """Context manager that pins an operator result's cache handle so it
    cannot be lost to further transformation::

        with released_after(substring_dedup_spans(docs)) as spans:
            spans.filter("n_dup_spans > 0").write.parquet(out)
        # caches released here, whatever the body derived from `spans`

    ``with released_after(df, blocking=True)`` waits for the unpersist."""

    def __init__(self, df, blocking: bool = False):
        self._df = df
        self._blocking = blocking
        self.released = 0

    def __enter__(self):
        return self._df

    def __exit__(self, exc_type, exc, tb):
        self.released = release_caches(self._df, self._blocking)
        return False
