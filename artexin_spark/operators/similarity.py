"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: exact brute-force top-k — the correctness baseline and
  the oracle-checkable path. Plan shape: broadcast the (small) query set,
  scan the corpus once, per-partition partial top-k via window rank.
- ``lsh_ann``: random-hyperplane LSH — the 100 TB path. Deterministic
  hyperplanes derived from md5 (seeded, no RNG state), bucket join instead
  of cross join; multiprobe (flip each bit) recovers recall near bucket
  boundaries. Vector math runs in ONE Arrow pandas_udf (numpy batch dot),
  not per-element SQL aggregates, because a 64-dim dot per row-pair is
  exactly the "vectorize or die" hot path.

Scale notes: brute-force is O(N·Q) dots — fine when Q is small and
broadcast; the ANN path is O(N) bucketing + O(sum bucket²) local work.
At 10^9 vectors raise ``planes`` so buckets stay ~10^3-10^4.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf


def dot_expr(a_col, b_col):
    """Native dot product via zip_with + aggregate (JVM-side, codegen'd)."""
    a = F.col(a_col) if isinstance(a_col, str) else a_col
    b = F.col(b_col) if isinstance(b_col, str) else b_col
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_expr(a_col):
    """L2 norm, same left-to-right fold as DuckDB's — bit-stable for the
    oracle whether computed inline or precomputed per vector."""
    a = F.col(a_col) if isinstance(a_col, str) else a_col
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_from_parts(dot, na, nb):
    """cosine from precomputed dot and per-side norms, with the standard
    zero-vector convention (similarity 0.0). The guard matters: Spark 4
    runs ANSI mode by default, where one all-zeros embedding would raise
    DIVIDE_BY_ZERO and kill the whole job — violating the engine's
    one-poison-row-never-fails-a-job rule (SURVEY.md §4)."""
    prod = na * nb
    return F.when(prod == 0.0, F.lit(0.0)).otherwise(dot / prod)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query (cosine), query set broadcast.
    Norms precomputed once per vector BEFORE the pairwise join — at
    N=10^9, Q=10^3 that removes 2/3 of the per-pair flops."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        norm_expr(vec_col).alias("q_norm"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        norm_expr(vec_col).alias("c_norm"),
    )
    scored = c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id")).select(
        "query_id",
        "neighbor_id",
        cosine_from_parts(
            dot_expr("q_vec", "c_vec"), F.col("q_norm"), F.col("c_norm")
        ).alias("cosine"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def cosine_topk_np(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force top-k via Arrow + numpy matmul: one BLAS GEMM per batch
    against the broadcast (normalized) query matrix, then a per-partition
    partial top-k so only n_partitions × Q × k candidate rows shuffle to
    the final window. This is the throughput path for large Q — the
    SQL-expression twin (cosine_topk) stays the oracle-gated baseline;
    results agree to float precision (test-pinned), summation order may
    differ at ~1e-12."""
    import pandas as pd
    from pyspark.sql.window import Window

    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = np.array([r[0] for r in q_rows])
    Q = np.asarray([r[1] for r in q_rows], dtype=np.float64)
    qn = np.linalg.norm(Q, axis=1, keepdims=True)
    qn[qn == 0.0] = 1.0  # zero vector: cosine 0, not NaN
    Qn = Q / qn
    sc = corpus.sparkSession.sparkContext
    bq = sc.broadcast((q_ids, Qn))

    # id columns keep the INPUT's type (string/int/long ids all work —
    # hardcoding LongType made the Arrow serializer reject string ids that
    # the oracle twin cosine_topk accepts)
    id_type = corpus.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("query_id", id_type),
            T.StructField("neighbor_id", id_type),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def part_topk(batches):
        q_ids_l, Qn_l = bq.value
        for pdf in batches:
            if not len(pdf):
                continue
            C = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            cn = np.linalg.norm(C, axis=1, keepdims=True)
            cn[cn == 0.0] = 1.0  # zero vector: cosine 0, not NaN
            Cn = C / cn
            sims = Cn @ Qn_l.T  # (batch, Q)
            c_ids = pdf[id_col].to_numpy()
            n_take = min(k + 1, sims.shape[0])  # +1 absorbs self-match
            idx = np.argpartition(-sims, n_take - 1, axis=0)[:n_take]
            rows = {"query_id": [], "neighbor_id": [], "cosine": []}
            for j in range(sims.shape[1]):
                for i in idx[:, j]:
                    if c_ids[i] != q_ids_l[j]:
                        rows["query_id"].append(q_ids_l[j])
                        rows["neighbor_id"].append(c_ids[i])
                        rows["cosine"].append(sims[i, j])
            yield pd.DataFrame(rows)

    partial = corpus.select(id_col, vec_col).mapInPandas(part_topk, out_schema)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


# --- LSH ANN -----------------------------------------------------------------


def _hyperplanes(planes: int, dim: int, seed: int = 42) -> np.ndarray:
    """Deterministic pseudo-random hyperplanes: unit gaussians via
    Box-Muller over md5-derived uniforms — identical on every executor,
    no RNG state shipped."""
    vals = np.empty((planes, dim))
    for p in range(planes):
        for pair in range(0, dim, 2):
            h = hashlib.md5(b"%d:%d:%d" % (seed, p, pair)).hexdigest()
            u1 = (int(h[:8], 16) + 1) / 2**32
            u2 = int(h[8:16], 16) / 2**32
            r = math.sqrt(-2 * math.log(u1))
            vals[p, pair] = r * math.cos(2 * math.pi * u2)
            if pair + 1 < dim:
                vals[p, pair + 1] = r * math.sin(2 * math.pi * u2)
    return vals


def buckets_udf(tables: int, planes: int, dim: int, seed: int = 42):
    """Multi-table variant: one matmul over all tables' planes → array of
    per-table bucket keys (the standard L-tables LSH recall lever)."""
    H = np.vstack([_hyperplanes(planes, dim, seed + t) for t in range(tables)])

    @pandas_udf(T.ArrayType(T.StringType()))
    def _buckets(vecs: pd.Series) -> pd.Series:
        mat = np.asarray(vecs.tolist(), dtype=np.float64)
        if mat.size == 0:
            return pd.Series([], dtype=object)
        signs = (mat @ H.T) > 0
        out = []
        for row in signs:
            out.append(
                [
                    "".join("1" if s else "0" for s in row[t * planes : (t + 1) * planes])
                    for t in range(tables)
                ]
            )
        return pd.Series(out)

    return _buckets


def lsh_ann(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 8,
    tables: int = 4,
    dim: int = 64,
    multiprobe: bool = True,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: candidates = corpus vectors sharing ANY of the
    L per-table buckets with the query (queries additionally probe every
    1-bit-flip bucket per table), exact cosine within candidates.

    Designed for the near-duplicate regime (neighbor cosine ≳ 0.8) where
    per-plane collision is high; for uniform-random far neighbors no LSH
    family beats a scan — use cosine_topk there."""
    bucketer = buckets_udf(tables, planes, dim, seed)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        F.posexplode(bucketer(F.col(vec_col))).alias("table_idx", "bucket"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.posexplode(bucketer(F.col(vec_col))).alias("table_idx", "q_bucket"),
    )
    if multiprobe:
        # probe own bucket + each 1-bit flip: hamming-1 neighborhoods
        probes = F.array_union(
            F.array(F.col("q_bucket")),
            F.transform(
                F.sequence(F.lit(0), F.lit(planes - 1)),
                lambda i: F.concat(
                    F.col("q_bucket").substr(F.lit(1), i),
                    F.when(
                        F.col("q_bucket").substr(i + F.lit(1), F.lit(1)) == "1",
                        F.lit("0"),
                    ).otherwise(F.lit("1")),
                    F.col("q_bucket").substr(i + F.lit(2), F.lit(planes)),
                ),
            ),
        )
        q = q.select(
            "query_id", "q_vec", "table_idx", F.explode(probes).alias("bucket")
        )
    else:
        q = q.withColumnRenamed("q_bucket", "bucket")

    cand = c.withColumn("c_norm", norm_expr("c_vec")).join(
        F.broadcast(q.withColumn("q_norm", norm_expr("q_vec"))),
        ["table_idx", "bucket"],
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    scored = cand.select(
        "query_id",
        "neighbor_id",
        cosine_from_parts(
            dot_expr("q_vec", "c_vec"), F.col("q_norm"), F.col("c_norm")
        ).alias("cosine"),
    ).dropDuplicates(["query_id", "neighbor_id"])
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


# --- IVF ANN -----------------------------------------------------------------


def hash_bucket_centroids(
    emb: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: str = "semc:",
    quantize: int | None = 6,
) -> DataFrame:
    """Deterministic centroids WITHOUT training: per-dimension means of
    md5-hash-assigned buckets (one narrow (cid, pos, val) agg — the
    same shuffle shape as kmeans_fit's update step). Zero iterations,
    any-engine reproducible (md5 bucket + quantized means), so it
    serves as the cheap centroid source for ``semdedup`` / ``ivf_*``
    when a kmeans fit isn't warranted, and as the oracle-replayable
    seed for tests/benches. ``quantize=None`` keeps raw means."""
    from .sampling import hash_bucket

    if k < 1:
        raise ValueError("k must be >= 1")
    mean = F.avg(F.col("val").cast("double"))
    cv = F.round(mean, quantize) if quantize is not None else mean
    return (
        emb.select(
            hash_bucket(id_col, k, salt).alias("cid"),
            F.posexplode(vec_col).alias("pos", "val"),
        )
        .groupBy("cid", "pos")
        .agg(cv.alias("cv"))
        .groupBy("cid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cv"))),
                lambda s: s["cv"],
            ).alias(vec_col)
        )
        .select(F.col("cid").alias(id_col), vec_col)
    )


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 1,
) -> DataFrame:
    """(id, centroid_id): each vector assigned to its ``n_probe``
    max-cosine centroids (ties → lowest centroid_id; one output row per
    probed list). Centroids broadcast — the assignment is a map-only
    pass, no shuffle on the fat vector column. n_probe=1 builds the
    inverted lists (each corpus vector lives in exactly one); n_probe>1
    is the QUERY-side recall knob (probe the p nearest lists)."""
    from pyspark.sql.window import Window

    if n_probe < 1:
        raise ValueError("n_probe must be >= 1")
    c = centroids.select(
        F.col(id_col).alias("centroid_id"),
        F.col(vec_col).alias("cent_vec"),
        norm_expr(vec_col).alias("cent_norm"),
    )
    scored = vectors.select(
        F.col(id_col), F.col(vec_col), norm_expr(vec_col).alias("_vnorm")
    ).join(F.broadcast(c)).select(
        id_col,
        vec_col,
        "centroid_id",
        cosine_from_parts(
            dot_expr(vec_col, "cent_vec"), F.col("_vnorm"), F.col("cent_norm")
        ).alias("_cscore"),
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("_cscore"), F.asc("centroid_id"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n_probe)
        .select(id_col, vec_col, "centroid_id")
    )


def kmeans_fit(
    vectors: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantize: int | None = None,
    init: str = "hash",
) -> DataFrame:
    """Distributed spherical k-means — the centroid TRAINER the IVF path
    promises ("production swaps in sampled k-means centroids",
    ``ivf_topk``). Lloyd iterations in the classic distributed shape:

    - **init**: ``"hash"`` (default) takes the k vectors first in
      md5-hash order of their id — a deterministic 'random' sample any
      engine can reproduce (no RNG state; the oracle-pinned mode).
      ``"spread"`` runs deterministic farthest-first traversal
      (k-center greedy): start from the min-hash vector, then k-1
      rounds each pick the vector with the LOWEST max-cosine to the
      chosen set. The max-cosine is maintained INCREMENTALLY (each
      round folds in only the newest seed via greatest(); float max is
      exact, so this equals the all-seeds max bit-for-bit) — O(|V|·k)
      total work across the k-1 top-1 jobs, not the O(|V|·k²) naive
      re-crossjoin. Never strands a tight cluster seedless — prefer it
      in production (on a hash sample at 10^9 rows).
    - **assign** (per iteration): centroids broadcast, argmax-cosine
      per vector — a map-only pass over the corpus, the fat vector
      column never shuffles (``ivf_assign``).
    - **update**: new centroid = per-dimension mean of members, via ONE
      narrow shuffle of (centroid_id, pos, val) rows — |V|·dim 8-byte
      values, not vectors; partial aggregation map-side. A cluster that
      loses every member keeps its previous centroid.
    - centroids (k×dim floats) live on the driver between iterations —
      that is the broadcast state every distributed k-means carries,
      NOT a driver-side data loop.

    Cosine argmax is norm-invariant, so centroids stay un-normalized
    (plain member means). ``quantize`` rounds each centroid component
    to that many decimals after every update — at 6, cross-engine float
    noise (~1e-15 between Spark's and an oracle engine's mean) vanishes
    so later assignments compare bit-identical inputs; clustering
    quality is unaffected at any realistic scale.

    At 10^9×1024-dim, train on a hash-sampled subset (standard practice
    — centroid quality converges long before |V|), then one final
    ``ivf_assign`` over the full corpus builds the inverted lists.

    Returns (centroid_id int, centroid array<double>, n_members long) —
    n_members from the LAST assignment."""
    if k < 1 or iters < 1:
        raise ValueError("k and iters must be >= 1")
    if init not in ("hash", "spread"):
        raise ValueError(f"init must be 'hash' or 'spread', not {init!r}")
    spark = vectors.sparkSession
    counts: dict[int, int] = {}

    def cents_df():
        return spark.createDataFrame(
            [(cid, vec) for cid, vec in sorted(cents.items())],
            f"{id_col} int, {vec_col} array<double>",
        )

    if init == "hash":
        seeds = (
            vectors.select(F.col(id_col), F.col(vec_col))
            .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
            .limit(k)
            .collect()
        )
        if len(seeds) < k:
            raise ValueError(f"corpus has {len(seeds)} vectors, need >= k={k}")
        cents = {i: [float(x) for x in r[vec_col]] for i, r in enumerate(seeds)}
    else:
        first = (
            vectors.select(F.col(id_col), F.col(vec_col))
            .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
            .limit(1)
            .collect()
        )
        if not first:
            raise ValueError("corpus is empty, need >= k vectors")
        cents = {0: [float(x) for x in first[0][vec_col]]}
        chosen_ids = [first[0][id_col]]
        # running best-cosine-to-chosen-set: each round joins ONLY the
        # newest seed and folds it in with greatest() — k-1 passes of
        # O(|V|) work (O(|V|·k) total), not the O(|V|·k²) re-crossjoin
        # of EVERY chosen seed per round the naive form costs. Float max
        # is exact, so the incremental max equals the all-seeds max
        # bit-for-bit. Each round localCheckpoints (eager; narrow: id,
        # vec, norm, one double): a plain persist keeps the LOGICAL plan
        # chained through every prior round, so Catalyst re-analyzes an
        # O(i)-deep tree each round (O(k²) driver work) and a dropped
        # cache would cascade recomputation through every prior join —
        # checkpointing truncates lineage to a scan of the materialized
        # round; superseded rounds' blocks stay until the ContextCleaner
        # notices them unreachable (not promptly — see the operators
        # package docstring).
        closest = vectors.select(
            F.col(id_col), F.col(vec_col), norm_expr(vec_col).alias("_vn")
        ).withColumn("_closest", F.lit(-2.0))
        for i in range(1, k):
            nc = spark.createDataFrame(
                [(cents[i - 1],)], f"{vec_col} array<double>"
            ).select(F.col(vec_col).alias("_cv"), norm_expr(vec_col).alias("_cn"))
            closest = (
                closest.join(F.broadcast(nc))
                .select(
                    F.col(id_col),
                    F.col(vec_col),
                    F.col("_vn"),
                    F.greatest(
                        F.col("_closest"),
                        cosine_from_parts(
                            dot_expr(vec_col, "_cv"), F.col("_vn"), F.col("_cn")
                        ),
                    ).alias("_closest"),
                )
                .localCheckpoint()
            )
            # exclude already-chosen seeds: without this the argmin can
            # re-pick a chosen vector, silently yielding duplicate
            # centroids — and a corpus smaller than k would never hit
            # the guard below (the scored frame is non-empty whenever
            # the corpus is)
            pick = (
                closest.filter(~F.col(id_col).isin(chosen_ids))
                .orderBy(F.asc("_closest"), F.asc(id_col))
                .limit(1)
                .collect()
            )
            if not pick:
                raise ValueError(f"corpus has {len(chosen_ids)} vectors, need >= k={k}")
            cents[i] = [float(x) for x in pick[0][vec_col]]
            chosen_ids.append(pick[0][id_col])

    for _ in range(iters):
        assigned = ivf_assign(vectors, cents_df(), id_col, vec_col)
        mean = F.avg("val")
        if quantize is not None:
            # engine-side HALF_UP rounding (matches SQL round()), never
            # python round() (banker's) — the quantized value must be the
            # same decimal in any engine replaying this algorithm
            mean = F.round(mean, quantize)
        dims = (
            assigned.select(
                "centroid_id", F.posexplode(F.col(vec_col)).alias("pos", "val")
            )
            .groupBy("centroid_id", "pos")
            .agg(mean.alias("m"), F.count("*").alias("n"))
        )
        rows = (
            dims.groupBy("centroid_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s.m,
                ).alias("cent"),
                F.first("n").alias("n"),
            )
            .collect()
        )
        counts = {cid: 0 for cid in cents}
        for r in rows:  # k rows — centroid state, not data
            cents[int(r["centroid_id"])] = [float(x) for x in r["cent"]]
            counts[int(r["centroid_id"])] = int(r["n"])

    return spark.createDataFrame(
        [
            (cid, cents[cid], counts.get(cid, 0))
            for cid in sorted(cents)
        ],
        "centroid_id int, centroid array<double>, n_members long",
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    n_centroids: int = 8,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    n_probe: int = 1,
) -> DataFrame:
    """IVF-flat ANN: partition the corpus into inverted lists by nearest
    centroid, search the query's ``n_probe`` nearest lists. Default
    centroid seed = the first ``n_centroids`` corpus vectors, which keeps
    an exact SQL oracle possible; pass ``centroids`` (a ``kmeans_fit``
    result: centroid_id, centroid, ...) for trained lists — the plan
    shape (broadcast centroids → map-side assign → co-partitioned list
    join → windowed top-k) is unchanged either way.

    ``n_probe`` is the recall/cost dial: each query scans ~n_probe/
    n_centroids of the corpus; at n_probe == n_centroids the result
    equals brute force exactly (pinned in tests). Corpus vectors always
    live in exactly ONE list; only queries fan out.

    At 10^9 vectors the corpus assignment is written bucketed by
    centroid_id so queries join only their list's partitions."""
    if centroids is not None:
        cents = centroids.select(
            F.col("centroid_id").alias(id_col), F.col("centroid").alias(vec_col)
        )
    else:
        cents = corpus.filter(F.col(id_col) < n_centroids)
    corpus_a = ivf_assign(corpus, cents, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        "centroid_id",
    )
    query_a = ivf_assign(queries, cents, id_col, vec_col, n_probe=n_probe).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        "centroid_id",
    )
    cand = corpus_a.withColumn("c_norm", norm_expr("c_vec")).join(
        F.broadcast(query_a.withColumn("q_norm", norm_expr("q_vec"))),
        "centroid_id",
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    scored = cand.select(
        "query_id",
        "centroid_id",
        "neighbor_id",
        cosine_from_parts(
            dot_expr("q_vec", "c_vec"), F.col("q_norm"), F.col("c_norm")
        ).alias("cosine"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "centroid_id", "neighbor_id", "cosine", "rank")
    )


# --- Hybrid rank fusion ------------------------------------------------------

RRF_SCALE = 1_000_000_000


def rrf_fuse(
    ranked: list[DataFrame],
    k: int = 60,
    id_col: str = "id",
    rank_col: str = "rank",
    top_n: int | None = None,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of N ranked candidate
    lists — the standard way a curation/retrieval pipeline combines the
    lexical (BM25) and semantic (embedding ANN) legs without score
    calibration: fused(d) = Σ_sources 1/(k + rank_source(d)).

    Determinism: each reciprocal is quantized to the exact integer
    ``RRF_SCALE div (k + rank)`` and summed as int64 — a single correctly
    rounded op per row and an order-free integer sum, so any engine
    reproduces the fused scores bit-for-bit (float Σ 1/(k+r) would hang
    cross-engine equality on summation order). Monotone in the true RRF
    score up to 1e-9 quantization, which no (k, rank ≤ 10^6) pair crosses.

    Plan shape (100 TB): the inputs are already top-N candidate lists
    (bounded), so this is a union of narrow (id, rank) rows → one (id)
    hash agg → one global top-``top_n``. No join chain — fusing S sources
    is one shuffle regardless of S. Returns
    (id, rrf_scaled, n_sources[, fused_rank])."""
    if not ranked:
        raise ValueError("ranked must contain at least one DataFrame")
    parts = [
        df.select(
            F.col(id_col).alias("id"),
            F.expr(f"{RRF_SCALE} div ({int(k)} + {rank_col})")
            .cast("long")
            .alias("rr"),
        )
        for df in ranked
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    fused = u.groupBy("id").agg(
        F.sum("rr").alias("rrf_scaled"), F.count("*").alias("n_sources")
    )
    if top_n is None:
        return fused
    from pyspark.sql.window import Window

    w = Window.orderBy(F.desc("rrf_scaled"), F.asc("id"))
    return (
        fused.withColumn("fused_rank", F.row_number().over(w))
        .filter(F.col("fused_rank") <= top_n)
    )
