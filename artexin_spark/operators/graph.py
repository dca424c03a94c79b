"""Link-graph analytics: PageRank over an edge table.

The reference crawls pages and resolves their links (fetch.py /
extract.py's image+anchor handling); ranking the resulting link graph is
the canonical iterative-graph workload a curation pipeline runs on crawl
output (seed prioritization, spam-mass detection, crawl-frontier
ordering). Spark-first shape: each power iteration is ONE equi-join
(ranks → edges on src) + ONE hash agg (sum contributions per dst) — no
GraphX, no RDDs, no driver-side adjacency. Driver state is zero rows;
`localCheckpoint` truncates lineage per iteration exactly like
`similarity.kmeans_fit` / `bpe.bpe_train`, so k iterations stay O(k)
plan-size, not O(k²).

Determinism (the oracle story): ranks live in SCALED INTEGER space —
share = rank div out_degree, damping 0.85 = ×17 div 20 — so every
operation is exact int64 arithmetic and the per-dst contribution sum is
order-free. Any engine replays the iteration bit-for-bit (a float
PageRank would hang cross-engine equality on summation order). Floors
leak a little rank mass per hop; that is the pinned semantics, mirrored
in SQL, and irrelevant to ordering use-cases.

Scale notes (100 TB): the join shuffles on src / the agg on dst — both
narrow (node_id, int64) rows; skewed in-degree (every page links to the
homepage) is a JOIN/AGG key skew, which AQE skew handling + map-side
partial aggregation absorb — precisely why the iteration is built on
join+agg instead of any groupBy-collect or window form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

PAGERANK_SCALE = 1_000_000_000_000  # 1e12: rank 1.0 in scaled-int space


def pagerank(
    edges: DataFrame,
    n_iter: int = 2,
    src_col: str = "src",
    dst_col: str = "dst",
    scale: int = PAGERANK_SCALE,
) -> DataFrame:
    """Integer-scaled PageRank with damping 0.85 and dangling-mass
    redistribution. Nodes are the distinct union of both edge endpoints;
    initial rank = scale div N; per iteration

        share(s)  = rank(s) div out_deg(s)
        m         = Σ rank(dangling)           (nodes with no out-edge)
        rank'(v)  = (3·scale div N) div 20
                    + (17 · (Σ_{s→v} share(s) + m div N)) div 20

    — all int64, exact in any engine. Returns (node_id, rank_scaled);
    divide by ``scale`` for the conventional [0, 1] rank."""
    if n_iter < 1:
        raise ValueError("n_iter must be >= 1")
    # loop invariants persist ONCE: without this every iteration would
    # rescan and re-shuffle the edge source for deg, the contribution
    # join AND the node universe — 3+ redundant edge passes per hop
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).persist()
    nodes = (
        e.select(F.col("src").alias("node_id"))
        .unionByName(e.select(F.col("dst").alias("node_id")))
        .distinct()
        .persist()
    )
    deg = e.groupBy("src").agg(F.count("*").alias("deg")).persist()
    n_row = nodes.groupBy().agg(F.count("*").alias("_n"))
    try:
        ranks = (
            nodes.crossJoin(F.broadcast(n_row))
            .select(
                "node_id",
                F.expr(f"{scale} div _n").cast("long").alias("rank_scaled"),
            )
            .localCheckpoint(eager=True)
        )
        for _ in range(n_iter):
            # ranks⋈deg feeds BOTH the shares and the dangling branches —
            # persist so the join runs once per iteration, not twice
            with_deg = ranks.join(
                deg.withColumnRenamed("src", "node_id"), "node_id", "left"
            ).persist()
            shares = with_deg.filter(F.col("deg").isNotNull()).select(
                "node_id",
                F.expr("rank_scaled div deg").cast("long").alias("share"),
            )
            contribs = (
                e.join(shares.withColumnRenamed("node_id", "src"), "src")
                .groupBy(F.col("dst").alias("node_id"))
                .agg(F.sum("share").alias("contrib"))
            )
            dangling = with_deg.filter(F.col("deg").isNull()).groupBy().agg(
                F.coalesce(F.sum("rank_scaled"), F.lit(0)).alias("_m")
            )
            # the eager localCheckpoint materializes ranks NOW, so
            # with_deg can release immediately; the PREVIOUS checkpoint's
            # blocks stay until the ContextCleaner notices it unreachable
            # (not promptly — see the operators package docstring)
            ranks = (
                ranks.select("node_id")
                .join(contribs, "node_id", "left")
                .crossJoin(F.broadcast(n_row))
                .crossJoin(F.broadcast(dangling))
                .select(
                    "node_id",
                    (
                        F.expr(f"(3 * {scale} div _n) div 20")
                        + F.expr(
                            "(17 * (coalesce(contrib, 0) + _m div _n)) div 20"
                        )
                    )
                    .cast("long")
                    .alias("rank_scaled"),
                )
                .localCheckpoint(eager=True)
            )
            with_deg.unpersist()
        return ranks
    finally:
        e.unpersist()
        nodes.unpersist()
        deg.unpersist()
