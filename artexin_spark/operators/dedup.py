"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Cross-engine determinism: every hash is md5-based (Spark and DuckDB md5
agree byte-for-byte), so each operator has an exact ANSI-SQL oracle in
__spark_entry__.py. No xxhash/murmur in any semantic (they differ across
engines); xxhash64 appears only in physical salting where values don't
reach results.

Scale notes (100 TB):
- exact_dedup: one hash-aggregate shuffle on a 32-char key; partial
  aggregation map-side; no window sort.
- minhash: signatures are one explode + one hash-agg per doc (k mins
  computed in a single groupBy with k agg exprs — ONE shuffle, not k).
  LSH banding self-joins on (band_idx, band_key): bucket sizes are the
  quadratic risk, so ``max_bucket`` caps pathological buckets (boilerplate
  shingle storms) exactly like stop-shingle removal in production dedup.
- ngram_jaccard: inverted-index self-join; ``max_df`` drops stop-shingles
  (doc-frequency cap) BEFORE the join — without it a shingle appearing in
  1M docs creates 10^12 pairs. This is the difference between "works on
  60k rows" and "works on 100 TB".
- simhash: 32-bit signature from md5 nibble high-bits; near-dup via
  banded hamming join (4 bands of 8 bits → hamming≤3 candidates within
  band collisions), verify with bit_count.
"""

from __future__ import annotations

import uuid

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .. import storage as sink_io

# Tokenization used by all text dedup ops — MUST stay in lockstep with the
# SQL oracle: lower → split on non-alphanumerics → drop empties.
def md5_int60(col):
    """First 15 md5 hex chars as a positive 60-bit int64 — THE shared
    cross-engine hash primitive (15 chars, not 16: a 16th would reach the
    BIGINT sign bit). Single source of truth for every md5-derived
    integer in the engine (sampling buckets, Bloom/CMS/HLL coordinates,
    minhash bases); the DuckDB twin is
    ``CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)``."""
    col = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def tokens_col(text_col: str):
    return F.filter(
        F.split(F.lower(F.col(text_col)), r"[^a-z0-9']+"), lambda t: t != ""
    )


def shingles_from(toks, n: int = 3):
    """Word n-gram shingles from a *projected* tokens column.

    PERF: always project tokens into a real column first (one select),
    then build shingles from that attribute. Inlining tokens_col here
    makes Catalyst re-evaluate the regex split once per shingle index
    (no common-subexpression elimination inside lambda bodies) — measured
    6× slowdown on the corpus scan."""
    toks = F.col(toks) if isinstance(toks, str) else toks
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
        ),
    ).otherwise(F.array(F.array_join(toks, " ")))


def norm_md5(text_col: str):
    """Content key of the whitespace-normalized lowercased text — the
    engine's exact-dup identity (reference: md5 content addressing,
    artexin/pack.py:59-65,107)."""
    return F.md5(
        F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id representative of each exact content group.
    One hash-agg shuffle (partial+final), no window sort."""
    return (
        df.withColumn("content_key", norm_md5(text_col))
        .groupBy("content_key")
        .agg(
            F.min(id_col).alias(id_col),
            F.count("*").alias("group_size"),
        )
    )


def exact_dedup_rows(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Full surviving rows (min_by keeps the whole representative row
    without a second join)."""
    keyed = df.withColumn("content_key", norm_md5(text_col))
    others = [c for c in keyed.columns if c != "content_key"]
    agg = keyed.groupBy("content_key").agg(
        F.min_by(F.struct(*others), F.col(id_col)).alias("_row")
    )
    return agg.select("content_key", "_row.*")


# --- MinHash + LSH -----------------------------------------------------------


# Universal-hash family for minhash: ONE md5 per shingle (the expensive
# part), k cheap integer derivations h_i = (a_i*base + b_i) mod P. Exact
# int64 arithmetic → bit-identical in Spark and DuckDB. P = 2^31-1;
# base < P and a_i < P keep products under 2^62 (no overflow).
MINHASH_P = 2147483647


def minhash_params(k: int) -> list[tuple[int, int]]:
    return [
        ((2 * i + 1) * 2654435761 % MINHASH_P, (i * 40503 + 1) % MINHASH_P)
        for i in range(k)
    ]


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    n: int = 3,
) -> DataFrame:
    """(id, sig array<long>[k]): sig[i] = min over shingles of
    (a_i * md5_60bit(shingle) + b_i) mod P — a classic universal-hash
    min-hash, one md5 per shingle instead of k. Single shuffle:
    explode → groupBy(id) with k min() aggregates (partial map-side)."""
    from . import spread_scan

    base = (
        F.conv(F.substring(F.md5(F.col("sh")), 1, 15), 16, 10).cast("long")
        % MINHASH_P
    )
    # input-skew guard (guide §2.5): the shingle-md5 explode below is the
    # expensive leg — a single-file corpus must not run it on one core
    ex = (
        spread_scan(df.select(F.col(id_col), F.col(text_col)))
        .select(F.col(id_col), tokens_col(text_col).alias("_toks"))
        .select(
            F.col(id_col),
            F.explode(F.array_distinct(shingles_from("_toks", n))).alias("sh"),
        )
        .select(F.col(id_col), base.alias("hb"))
    )
    aggs = [
        F.min((F.lit(a) * F.col("hb") + F.lit(b)) % MINHASH_P).alias("h%d" % i)
        for i, (a, b) in enumerate(minhash_params(k))
    ]
    sigs = ex.groupBy(id_col).agg(*aggs)
    return sigs.select(
        F.col(id_col), F.array(*[F.col("h%d" % i) for i in range(k)]).alias("sig")
    )


def banded_sigs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    bands: int = 4,
    max_bucket: int = 1000,
    checkpoint: bool = True,
) -> DataFrame:
    """(id, sig, band_idx, band_key) — one row per (doc, band).
    ``max_bucket`` drops degenerate buckets (boilerplate shingle storms)
    before any quadratic pairing step.

    ``checkpoint=True`` local-checkpoints the banded relation before it
    fans out: it is consumed by THREE subtrees (the bucket-size agg and
    both sides of the LSH self-join), and Spark's runtime exchange reuse
    does not fire across them (measured: the executed minhash_dedup plan
    held 4 separate signature pipelines — scan → shingle explode → md5 →
    16-way min agg — with zero ReusedExchange nodes). The checkpoint
    materializes the narrow (id, sig[k], band) relation once per CALL —
    per-RDD, so repeated invocations recompute from the parquet inputs
    (nothing is memoized across runs) — at ~(8+8k+40)·bands B/doc of
    executor MEMORY_AND_DISK storage, the standard persist-signatures
    trade (Lee et al. §4 pipelines do the same). Pass False to keep the
    fully-lazy plan (e.g. when composing into a larger one-pass query).
    Executor-loss and block-release trade-offs: see the ``operators``
    package docstring."""
    # balanced band boundaries floor(b·k/bands) cover EVERY signature slot
    # (an integer width k//bands silently dropped the trailing k%bands
    # slots from all band keys); identical slices when bands divides k.
    # Requires k >= bands — validated where k is known (minhash_dedup).
    k_sz = F.size("sig")

    def _band_key(b):
        start = F.floor(b * k_sz / bands).cast("int")
        length = F.floor((b + 1) * k_sz / bands).cast("int") - start
        return F.md5(
            F.concat_ws(
                "|",
                F.transform(
                    F.slice(F.col("sig"), start + 1, length),
                    lambda v: v.cast("string"),
                ),
            )
        )

    banded = sigs.select(
        F.col(id_col),
        F.col("sig"),
        F.posexplode(
            F.transform(F.sequence(F.lit(0), F.lit(bands - 1)), _band_key)
        ).alias("band_idx", "band_key"),
    )
    if checkpoint:
        banded = banded.localCheckpoint(eager=False)
    sizes = banded.groupBy("band_idx", "band_key").count()
    return banded.join(
        sizes.filter(F.col("count") <= max_bucket).drop("count"),
        ["band_idx", "band_key"],
    )


def lsh_pairs_jaccard(
    sigs: DataFrame,
    id_col: str = "doc_id",
    bands: int = 4,
    max_bucket: int = 1000,
) -> DataFrame:
    """Fused LSH step: band → self-join → dedup pairs → signature-agreement
    jaccard, in ONE aggregation. Carrying ``sig`` through the band join and
    folding the pair-dedup ``distinct`` into the groupBy removes two extra
    joins back against the signature table plus a distinct shuffle —
    measured 3.5× at sf0.1, and at 10^12 rows it's two fewer shuffles of
    the (wide) signature relation."""
    banded = banded_sigs(sigs, id_col, bands, max_bucket)
    a, b = banded.alias("a"), banded.alias("b")
    # signature agreement computed per MATCHED-BAND row, before the pair
    # dedup: every band match of one pair yields the identical value, so
    # first() over the scalar is the same number — but grouping on a
    # double instead of two array<long> columns keeps the dedup a partial
    # map-side HashAggregate (the array-valued first() forced a full Sort
    # + two SortAggregates of the joined relation; plan diff in
    # plans/r06/q_minhash_dedup_*.txt). ≤ ``bands`` extra zip_with
    # evaluations per pair, k comparisons each — noise next to a sort.
    eq = F.size(
        F.filter(
            F.zip_with(F.col("a.sig"), F.col("b.sig"), lambda x, y: x == y),
            lambda v: v,
        )
    )
    matched = a.join(
        b,
        (F.col("a.band_idx") == F.col("b.band_idx"))
        & (F.col("a.band_key") == F.col("b.band_key"))
        & (F.col("a." + id_col) < F.col("b." + id_col)),
    ).select(
        F.col("a." + id_col).alias("id_a"),
        F.col("b." + id_col).alias("id_b"),
        (eq / F.size(F.col("a.sig"))).alias("_jac"),
    )
    return matched.groupBy("id_a", "id_b").agg(
        F.first("_jac").alias("jaccard_est")
    )


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    n: int = 3,
    bands: int = 4,
    threshold: float = 0.7,
) -> DataFrame:
    """Docs flagged as near-duplicates of a lower-id doc (standard
    keep-first LSH dedup; clustering is per-pair, not transitive-closure —
    iterate or connected-components for full clustering). Signatures feed
    the fused band+jaccard step once; its banded relation is the one
    shared subtree, lazily checkpointed in ``banded_sigs``."""
    if not 1 <= bands <= k:
        # bands > k would make every band key md5('') — all docs collide,
        # the max_bucket filter drops everything, and the job silently
        # reports ZERO near-dups on duplicate-ridden data
        raise ValueError(f"bands must be in [1, k]; got bands={bands}, k={k}")
    sigs = minhash_signatures(df, text_col, id_col, k, n)
    est = lsh_pairs_jaccard(sigs, id_col, bands)
    return est.filter(F.col("jaccard_est") >= threshold)


# --- connected components / cluster dedup ------------------------------------


def connected_components(
    pairs: DataFrame,
    max_iter: int = 25,
    shortcut: bool = False,
) -> DataFrame:
    """(id, cluster_id) for every node in the pair graph, cluster_id =
    min node id in its connected component — the transitive closure the
    pairwise dedup ops defer ("keep-first" pair dedup misses A~B, B~C ⇒
    {A,B,C} one cluster).

    Min-label propagation: each round every node takes the min of its own
    label and its neighbors' labels. Converges in O(component diameter)
    rounds — near-dup graphs are star-shaped (diameter 2-4), so this
    terminates in a handful of shuffles even at 10^12 nodes.

    ``shortcut=True`` adds POINTER JUMPING after each propagation round
    (label(u) ← label(label(u)), one extra self-join of the narrow label
    relation): the label pointer distance roughly doubles per round, so
    adversarially long chains converge in O(log diameter) rounds instead
    of O(diameter) — the same asymptotics large-star/small-star
    contraction (Kiveris et al., "Connected Components in MapReduce")
    buys, in two lines. Identical output, gated by the same oracle; the
    default stays off because star-shaped dedup graphs converge in 2-4
    rounds either way and the extra join per round is pure cost there.

    Scale notes: the labels relation is two narrow int columns (the fat
    pair metadata never rides along); `localCheckpoint` cuts the lineage
    each round so the plan doesn't grow; convergence is detected by a
    0/1 changed-flag sum (never a raw-id sum, which would overflow
    BIGINT under ANSI mode), one cheap agg per round. Because
    ``localCheckpoint`` severs lineage and keeps its blocks only on the
    executors that computed them, losing one of those executors fails
    the job instead of recomputing the labels.
    """
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
        .distinct()
    )
    edges = edges.persist()
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint()
    )
    converged = False
    for _ in range(max_iter):
        nbr_min = (
            edges.join(labels, edges["dst"] == labels["id"])
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        # convergence via a 0/1 changed flag (a label changes iff a
        # neighbor carries a smaller one) — never sum raw ids, which
        # overflows BIGINT under ANSI mode at snowflake-scale ids
        # the round's starting label rides along as _pl so the changed
        # flag costs zero extra joins (comparing against a re-joined
        # prev frame would add a full labels shuffle per round)
        labels = labels.join(
            nbr_min, labels["id"] == nbr_min["src"], "left"
        ).select(
            "id",
            F.least(
                F.col("label"), F.coalesce("nbr_label", "label")
            ).alias("label"),
            F.col("label").alias("_pl"),
        )
        if shortcut:
            # pointer jump: follow the label one hop. LEFT join +
            # coalesce: a label with no matching id row (only possible
            # for NULL ids, which never equi-match) keeps its value, so
            # shortcut output stays identical to the plain path
            lu = labels.select(
                F.col("id").alias("_lid"), F.col("label").alias("_ll")
            )
            labels = labels.join(
                lu, labels["label"] == lu["_lid"], "left"
            ).select(
                "id",
                F.coalesce("_ll", "label").alias("label"),
                "_pl",
            )
        # changed iff any node's final label moved this round (jump
        # included)
        labels = labels.select(
            "id",
            "label",
            (F.col("label") < F.col("_pl")).cast("int").alias("_chg"),
        ).localCheckpoint()
        changed = labels.agg(F.sum("_chg")).collect()[0][0] or 0
        labels = labels.drop("_chg")
        if changed == 0:
            converged = True
            break
    edges.unpersist()
    if not converged:
        raise RuntimeError(
            "connected_components did not converge in %d rounds — a "
            "component's diameter exceeds max_iter; pass shortcut=True "
            "(pointer jumping, O(log diameter) rounds) or raise max_iter"
            % max_iter
        )
    return labels.select(F.col("id"), F.col("label").alias("cluster_id"))


def dedup_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    n: int = 3,
    bands: int = 4,
    threshold: float = 0.7,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """(id, cluster_id, is_duplicate) for EVERY input doc: full transitive
    near-dup clustering (MinHash-LSH pairs → connected components).
    Singletons cluster with themselves; the cluster representative
    (min id) has is_duplicate = false — drop the rest to dedup.

    ``pairs`` overrides the MinHash-LSH pair generation with a
    precomputed near-dup pair frame (id_a, id_b) — any pairing strategy
    (simhash, embedding cosine, exact) shares this labeling tail."""
    if pairs is None:
        pairs = minhash_dedup(df, text_col, id_col, k, n, bands, threshold)
    # rename the component frame's columns before joining: an input whose
    # key is literally named "id" would otherwise make every post-join
    # reference to it ambiguous (AMBIGUOUS_REFERENCE)
    cc = connected_components(pairs).select(
        F.col("id").alias("__cc_id"), F.col("cluster_id").alias("__cc_cluster")
    )
    out = df.select(F.col(id_col)).join(
        cc, F.col(id_col) == F.col("__cc_id"), "left"
    )
    cluster = F.coalesce(F.col("__cc_cluster"), F.col(id_col))
    return out.select(
        F.col(id_col),
        cluster.alias("cluster_id"),
        (cluster != F.col(id_col)).alias("is_duplicate"),
    )


# --- n-gram Jaccard (exact) --------------------------------------------------


def _shingle_pair_intersections(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    max_df: int | None,
) -> DataFrame:
    """Shared inverted-index core of the set-overlap pair operators:
    (id_a, id_b, n_inter, n_a, n_b) for every id_a < id_b pair sharing at
    least one (df-surviving) shingle. ``max_df`` removes stop-shingles
    BEFORE pairing (the no-cartesian scale guard); n_a/n_b are the
    UNfiltered set sizes so downstream ratios stay exact for pairs whose
    overlap survives filtering."""
    sh = df.select(
        F.col(id_col).alias("id"), tokens_col(text_col).alias("_toks")
    ).select("id", F.array_distinct(shingles_from("_toks", n)).alias("shs"))
    sizes = sh.select("id", F.size("shs").alias("n_sh"))
    ex = sh.select("id", F.explode("shs").alias("sh"))
    if max_df is not None:
        dfreq = ex.groupBy("sh").count().filter(F.col("count") <= max_df).drop("count")
        ex = ex.join(dfreq, "sh")
    a = ex.alias("a")
    b = ex.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    return inter.join(
        sizes.withColumnsRenamed({"id": "id_a", "n_sh": "n_a"}), "id_a"
    ).join(sizes.withColumnsRenamed({"id": "id_b", "n_sh": "n_b"}), "id_b")


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = 10000,
) -> DataFrame:
    """Exact Jaccard over word n-gram shingle sets via inverted-index
    self-join (`_shingle_pair_intersections`)."""
    ja = _shingle_pair_intersections(df, text_col, id_col, n, max_df)
    return ja.select(
        "id_a",
        "id_b",
        (
            F.col("n_inter")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
        ).alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = 10000,
) -> DataFrame:
    """Asymmetric shingle containment — |A∩B| / |A| per DIRECTED pair —
    the near-dup relation symmetric Jaccard cannot see: a 50-token doc
    quoted verbatim inside a 5000-token doc has containment 1.0 but
    Jaccard ≈ 0.01, below any usable threshold. This is how quote
    plagiarism, article-in-digest wrapping, and boilerplate-padded
    copies are caught in web-scale dedup (the asymmetric complement of
    ``ngram_jaccard_pairs``).

    Same scale shape as the Jaccard path — the shared
    `_shingle_pair_intersections` core (inverted-index equi-self-join,
    ``max_df`` no-cartesian guard, unfiltered sizes joined back). Each
    undirected overlap yields up to two directed rows (small⊂large and
    large⊃small filter independently); containment is ONE correctly-
    rounded int64 division, so the threshold cut is engine-exact.

    Returns (id, other_id, containment): ``containment`` = fraction of
    ``id``'s distinct shingles that appear in ``other_id``."""
    joined = _shingle_pair_intersections(df, text_col, id_col, n, max_df)
    fwd = joined.select(
        F.col("id_a").alias("id"),
        F.col("id_b").alias("other_id"),
        (F.col("n_inter") / F.col("n_a")).alias("containment"),
    )
    rev = joined.select(
        F.col("id_b").alias("id"),
        F.col("id_a").alias("other_id"),
        (F.col("n_inter") / F.col("n_b")).alias("containment"),
    )
    return (
        fwd.unionByName(rev)
        .filter(F.col("containment") >= threshold)
        .select("id", "other_id", F.round("containment", 6).alias("containment"))
    )


# --- benchmark contamination --------------------------------------------------


def contamination(
    df: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_text_col: str = "text",
    n: int = 3,
    min_overlap: int = 2,
) -> DataFrame:
    """(id, n_overlap) for training docs sharing ≥ ``min_overlap`` distinct
    word n-grams with ANY doc in the evaluation set — the standard
    decontamination pass before training on scraped data.

    Plan shape (the 100 TB story): the eval shingle set is tiny relative
    to the corpus → distinct eval shingles BROADCAST into a hash join
    against the exploded corpus shingles; one partial+final count agg.
    No shuffle of the corpus beyond the agg on (id)."""
    from . import spread_scan

    # §2.5 input-skew guard for the corpus-side shingle explode
    doc_sh = spread_scan(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), tokens_col(text_col).alias("_toks")
    ).select(
        F.col(id_col),
        F.explode(F.array_distinct(shingles_from("_toks", n))).alias("sh"),
    )
    eval_sh = (
        eval_df.select(tokens_col(eval_text_col).alias("_toks"))
        .select(F.explode(F.array_distinct(shingles_from("_toks", n))).alias("sh"))
        .distinct()
    )
    hits = doc_sh.join(F.broadcast(eval_sh), "sh")
    return (
        hits.groupBy(id_col)
        .agg(F.count("*").alias("n_overlap"))
        .filter(F.col("n_overlap") >= min_overlap)
    )


_BLOOM_WORD_BITS = 32  # bits packed per filter-table row (positive int64 safe)

# mask for a projected `pos` attribute (F.shiftleft only takes a literal
# shift, so the variable shift goes through the SQL parser)
_BLOOM_MASK_EXPR = (
    f"shiftleft(CAST(1 AS BIGINT), CAST(pos % {_BLOOM_WORD_BITS} AS INT))"
)


def _bloom_positions(sh_col, m_bits: int, k_hashes: int):
    """Array of ``k_hashes`` bit positions in [0, m_bits) for a shingle —
    each hash j is the first 15 hex chars (60 bits) of md5(sh || '#' || j),
    so the identical positions are computable in ANSI SQL (md5 agrees
    byte-for-byte across engines; see module docstring)."""
    sh_col = F.col(sh_col) if isinstance(sh_col, str) else sh_col
    return F.transform(
        F.sequence(F.lit(0), F.lit(k_hashes - 1)),
        lambda j: md5_int60(F.concat(sh_col, F.lit("#"), j.cast("string")))
        % m_bits,
    )


def bloom_filter_table(
    eval_df: DataFrame,
    text_col: str = "text",
    n: int = 3,
    m_bits: int = 1 << 20,
    k_hashes: int = 2,
) -> DataFrame:
    """Distributed Bloom-filter BUILD over an eval set's word n-gram
    shingles: (word:long, bits:long) rows packing _BLOOM_WORD_BITS filter
    bits each — at most m_bits/32 rows REGARDLESS of eval-set size. One
    explode + one (word, bit_or) hash aggregate; partial aggregation
    happens map-side, so the shuffle carries ≤ m_bits/32 rows per task."""
    sh = (
        eval_df.select(tokens_col(text_col).alias("_toks"))
        .select(
            F.explode(F.array_distinct(shingles_from("_toks", n))).alias("sh")
        )
        .select(
            F.explode(_bloom_positions("sh", m_bits, k_hashes)).alias("pos")
        )
    )
    return (
        sh.select(
            (F.col("pos") / _BLOOM_WORD_BITS).cast("long").alias("word"),
            F.expr(_BLOOM_MASK_EXPR).alias("mask"),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
    )


def bloom_contamination(
    df: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_text_col: str = "text",
    n: int = 3,
    min_overlap: int = 2,
    m_bits: int = 1 << 20,
    k_hashes: int = 2,
) -> DataFrame:
    """Decontamination via a Bloom filter of the eval shingle set — the
    scale path for when ``contamination``'s distinct-shingle broadcast no
    longer fits: a 10^9-shingle eval set is ~60 GB of strings as rows but
    a 2^33-bit filter is 1 GB as (word, bits) longs, with the usual
    one-sided error (no false NEGATIVES — every true overlap is counted;
    false-positive rate per shingle ≈ (1 - e^(-k·n_eval/m))^k, sized by
    ``m_bits``/``k_hashes``).

    Plan shape (the 100 TB story): build = one agg over the eval set to a
    ≤ m_bits/32-row table (fixed size, broadcastable at any eval scale);
    check = corpus shingles explode ×k positions → broadcast-hash-join on
    the word index (map-side, no corpus shuffle) → per-shingle AND of the
    k membership bits → one (id) count agg. Returns (id, n_maybe_overlap)
    for docs with ≥ ``min_overlap`` DISTINCT maybe-contaminated shingles.

    Semantics are Bloom semantics (superset of ``contamination``'s exact
    hits); the SQL oracle replays the identical md5-derived positions, so
    the operator is exactly reproducible, false positives included."""
    flt = bloom_filter_table(eval_df, eval_text_col, n, m_bits, k_hashes)
    doc_pos = (
        df.select(F.col(id_col), tokens_col(text_col).alias("_toks"))
        .select(
            F.col(id_col),
            F.explode(F.array_distinct(shingles_from("_toks", n))).alias("sh"),
        )
        .select(
            F.col(id_col),
            F.col("sh"),
            F.explode(_bloom_positions("sh", m_bits, k_hashes)).alias("pos"),
        )
        .select(
            F.col(id_col),
            F.col("sh"),
            (F.col("pos") / _BLOOM_WORD_BITS).cast("long").alias("word"),
            F.expr(_BLOOM_MASK_EXPR).alias("mask"),
        )
    )
    probed = doc_pos.join(F.broadcast(flt), "word", "left").select(
        F.col(id_col),
        F.col("sh"),
        F.coalesce(
            F.col("bits").bitwiseAND(F.col("mask")) != 0, F.lit(False)
        ).alias("hit"),
    )
    sh_hits = probed.groupBy(id_col, "sh").agg(
        F.bool_and("hit").alias("all_hit")
    )
    return (
        sh_hits.filter("all_hit")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_maybe_overlap"))
        .filter(F.col("n_maybe_overlap") >= min_overlap)
    )


# --- SimHash -----------------------------------------------------------------

SIMHASH_BITS = 32


def simhash_from(md5s, bits: int = SIMHASH_BITS):
    """SimHash bit-string from a *projected* array-of-token-md5 column:
    bit p of a token's hash = high bit of md5-hex nibble p (hexdigit in
    '89abcdef'); document bit p = sign of sum over tokens of (2*bit-1)."""
    md5s = F.col(md5s) if isinstance(md5s, str) else md5s

    def bit_sum(p):
        return F.aggregate(
            md5s,
            F.lit(0),
            lambda acc, m: acc
            + F.when(
                F.instr(F.lit("89abcdef"), F.substring(m, p + 1, 1)) > 0, F.lit(1)
            ).otherwise(F.lit(-1)),
        )

    return F.concat(
        *[F.when(bit_sum(p) > 0, F.lit("1")).otherwise(F.lit("0")) for p in range(bits)]
    )


def _token_hexes(text_col: str, bits: int):
    """Per-token hex-nibble source for ``bits`` simhash bits: one md5 (32
    nibbles) up to 32 bits, md5(t)+md5('~'+t) concatenated (64 nibbles)
    above — the wide-signature path for corpora where a 2^(bits/bands)
    band-key space would otherwise saturate (see simhash_dedup)."""
    if not 1 <= bits <= 64:
        raise ValueError(f"bits must be in [1, 64], got {bits}")
    if bits <= 32:
        return F.transform(tokens_col(text_col), lambda t: F.md5(t))
    return F.transform(
        tokens_col(text_col),
        lambda t: F.concat(F.md5(t), F.md5(F.concat(F.lit("~"), t))),
    )


def add_simhash(df: DataFrame, text_col: str = "text", out: str = "simhash", bits: int = SIMHASH_BITS) -> DataFrame:
    """Two-phase simhash: project token md5s ONCE (the costly part), then
    derive all bit positions from the projected array — without the
    projection boundary Catalyst re-hashes every token per bit (32×)."""
    keep = [c for c in df.columns]
    return df.withColumn("_md5s", _token_hexes(text_col, bits)).select(
        *keep, simhash_from("_md5s", bits).alias(out)
    )


def simhash_col(text_col: str, bits: int = SIMHASH_BITS):
    """Inline variant (convenience for small frames); hot paths use
    add_simhash's projected form."""
    return simhash_from(_token_hexes(text_col, bits), bits)


def simhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bands: int | None = None,
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming. Banded join:
    two docs within hamming d < bands must agree exactly on ≥1 of the
    ``bands`` bit-blocks (pigeonhole) → self-join per band, verify true
    hamming natively. ``bands=None`` picks max_hamming+1 — the smallest
    (cheapest: fewest candidate rows) band count the pigeonhole argument
    permits.

    ``bits`` is the SCALE knob: band-key space is 2^(bits/bands), and
    once corpus size approaches it, random band collisions dominate and
    candidate pairs grow QUADRATICALLY (measured: 32-bit/4-band keys =
    256 values/band saturate around 10^5 docs — bench/dedup_scaling.py).
    Size bits so 2^(bits/bands) >> N/desired-bucket-size; 64-bit at 4
    bands carries ~10^8 docs. Costs are linear in bits (one md5-derived
    bit-sum per bit)."""
    if bands is None:
        bands = max_hamming + 1
    if not 0 <= max_hamming < bands <= bits:
        # the pigeonhole guarantee REQUIRES max_hamming < bands: at
        # max_hamming >= bands a true near-dup pair can differ in every
        # block and silently never become a candidate
        raise ValueError(
            f"need 0 <= max_hamming < bands <= {bits}; "
            f"got max_hamming={max_hamming}, bands={bands}"
        )
    sh = add_simhash(
        df.select(F.col(id_col).alias("id"), text_col), text_col, "sh", bits
    ).select("id", "sh")
    # balanced block boundaries floor(b·bits/bands) partition EVERY bit
    # (an integer width bits//bands leaves a tail of bits%bands bits out
    # of all band keys when bands doesn't divide bits)
    banded = sh.select(
        "id",
        "sh",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.substring(
                    "sh",
                    F.floor(b * bits / bands).cast("int") + 1,
                    F.floor((b + 1) * bits / bands).cast("int")
                    - F.floor(b * bits / bands).cast("int"),
                ),
            )
        ).alias("band_idx", "band_key"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(
            F.first(F.col("a.sh")).alias("sh_a"),
            F.first(F.col("b.sh")).alias("sh_b"),
        )
    )
    hamming = F.size(
        F.filter(
            F.zip_with(F.split("sh_a", ""), F.split("sh_b", ""), lambda x, y: x != y),
            lambda v: v,
        )
    )
    return cand.select(
        "id_a", "id_b", hamming.alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)


# --- exact substring dedup (Lee et al. 2021) ---------------------------------

# Karp-Rabin polynomial base for rolling window hashes: odd → invertible
# mod 2^64, so prefix hashes can be position-normalized with cumulative
# inverse powers (the trick that makes the whole per-doc computation
# vectorized numpy, no per-token Python loop).
_KR_BASE = 0x9E3779B97F4A7C15
_KR_BASE_INV = pow(_KR_BASE, -1, 1 << 64)


def _rolling_window_hash_udf(window: int):
    """Vectorized Arrow UDF: per-doc token-hash array (array<long>) →
    Karp-Rabin hashes of every ``window``-token window (array<long>).

    Linear-time formulation (the r02 VERDICT item-2 swap: the md5 twin
    materializes O(tokens × window) strings; this does O(tokens) integer
    ops): with B odd and arithmetic mod 2^64 (native uint64 wraparound),

        q[i]   = sum_{j<i} th[j] * B^-j          (prefix, cumsum of
                                                  th * cumprod(B^-1))
        h[i]   = (q[i+w] - q[i]) * B^i * B^(w-1)  (canonical poly hash
                                                  of window [i, i+w))

    — every step is a numpy cumprod/cumsum/elementwise op over the whole
    doc, so a 100k-token document costs ~5 vector passes, not 100k Python
    iterations. Power tables are grown geometrically and shared across
    the Arrow batch. Equal windows always hash equal; distinct windows
    collide at ~2^-64 over the effectively-random xxhash64 token inputs
    (mod-2^64 poly hashes are only adversarially weak, which dedup
    tolerates: a collision merely over-flags one window)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<long>")
    def roll(th_series: pd.Series) -> pd.Series:
        err = np.seterr(over="ignore")  # mod-2^64 wraparound IS the modulus
        try:
            B = np.uint64(_KR_BASE)
            Binv = np.uint64(_KR_BASE_INV)
            Bw1 = np.uint64(pow(_KR_BASE, window - 1, 1 << 64))
            pows = {
                "b": np.array([1], dtype=np.uint64),
                "i": np.array([1], dtype=np.uint64),
            }

            def powers(tag, base, n):
                cur = pows[tag]
                if len(cur) < n:
                    grow = max(n, 2 * len(cur))
                    tail = cur[-1] * np.cumprod(
                        np.full(grow - len(cur), base, dtype=np.uint64)
                    )
                    cur = np.concatenate([cur, tail])
                    pows[tag] = cur
                return cur

            out = []
            for th in th_series:
                if th is None:
                    out.append([])
                    continue
                th = np.asarray(th, dtype=np.int64).view(np.uint64)
                n = len(th)
                if n < window:
                    out.append([])
                    continue
                m = n - window + 1
                q = np.empty(n + 1, dtype=np.uint64)
                q[0] = 0
                np.cumsum(th * powers("i", Binv, n)[:n], out=q[1:])
                h = (q[window:] - q[:m]) * powers("b", B, m)[:m] * Bw1
                out.append(h.view(np.int64))
            return pd.Series(out)
        finally:
            np.seterr(**err)

    return roll


def window_hash_occurrences(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 50,
    hash_mode: str = "rolling",
) -> DataFrame:
    """The hashing stage of substring dedup, as its own frame: one row
    per ``window``-token window — (id, pos, wh). Split out so the two
    hashers share one construction site and the bench can time the hash
    pass in isolation (the spans pipeline's shuffle otherwise masks it).
    See ``substring_dedup_spans`` for hash_mode semantics."""
    if hash_mode not in ("rolling", "md5"):
        raise ValueError(f"hash_mode must be 'rolling' or 'md5', not {hash_mode!r}")
    toks = df.select(F.col(id_col), tokens_col(text_col).alias("_toks"))
    if hash_mode == "md5":
        win_hashes = F.when(
            F.size("_toks") >= window,
            F.transform(
                F.sequence(F.lit(0), F.size("_toks") - window),
                lambda i: F.md5(F.array_join(F.slice("_toks", i + 1, window), " ")),
            ),
        ).otherwise(F.array().cast("array<string>"))
    else:
        # per-token 64-bit hashes stay JVM-side (one native transform);
        # only the narrow array<long> crosses into Arrow for the O(n) roll
        toks = toks.select(
            F.col(id_col),
            F.transform("_toks", lambda t: F.xxhash64(t)).alias("_toks"),
        )
        win_hashes = _rolling_window_hash_udf(window)(F.col("_toks"))
    return toks.select(F.col(id_col), F.posexplode(win_hashes).alias("pos", "wh"))


def substring_dedup_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 50,
    max_df: int | None = 10000,
    hash_mode: str = "rolling",
) -> DataFrame:
    """Maximal duplicated-substring spans at ``window``-token granularity
    — the bucketed token-window approximation of Lee et al. 2021's
    suffix-array exact-substring operator ("Deduplicating Training Data
    Makes Language Models Better", 50-token threshold), r01 VERDICT
    item 6.

    Every ``window``-token window hashes; a window hash occurring more
    than once corpus-wide is duplicate material. The FIRST occurrence
    (lowest (doc_id, pos)) of each hash is kept; every other occurrence
    flags, and a doc's flagged windows merge into maximal token spans
    ``[start_tok, end_tok)`` — the ranges a cleaning pass would cut.
    A duplicated run of L >= window tokens produces aligned matching
    windows at every offset, so it is always detected (the paper's
    threshold semantics); runs shorter than ``window`` never flag.

    Scale shape: ONE explode to |corpus tokens| rows of (hash, doc, pos)
    — linear, like the minhash shingle explode — then an equi-join back
    on the hash (first-occurrence filter) and per-doc window merges.
    No pairwise doc joins anywhere. ``max_df`` drops boilerplate hashes
    (licence headers at 10^7 df) before the join, same cap as the
    shingle paths.

    ``hash_mode`` picks the window hasher — identical output spans either
    way (equal windows hash equal under both; collisions ~2^-64):

    - ``"rolling"`` (default, the 100 TB path): per-token xxhash64
      JVM-side, then a linear Karp-Rabin rolling hash in ONE vectorized
      Arrow stage — O(tokens) per doc (see ``_rolling_window_hash_udf``).
    - ``"md5"``: ``md5(array_join(slice(toks, i, window)))`` per window —
      O(tokens × window) string materialization, kept ONLY as the
      cross-engine oracle twin (DuckDB computes the identical hashes) and
      the equivalence baseline for the rolling path's property tests.

    Skew design (the r03-verdict de-skew): df + first-occurrence come
    from a ``groupBy("wh")`` — map-side PARTIAL aggregation, so a
    boilerplate window hash occurring 10^8 times corpus-wide (license
    headers; exactly what Lee et al. report) collapses to one partial
    per map task and never lands whole on a single reducer. A
    ``Window.partitionBy("wh")`` would do exactly that (every
    occurrence of one hash in one task, with NO AQE backstop — AQE skew
    handling covers joins, not window exchanges, and ``max_df`` can
    only filter AFTER the window has already computed). The per-hash
    stats are ``max_df``-capped BEFORE joining back onto the
    occurrence frame, and that join is where AQE's skew-split backstop
    applies to whatever residual hot keys survive the cap.

    The narrow (id, pos, wh) occurrence frame is lazily checkpointed:
    the stats branch and the join-back probe are different plan
    subtrees, so without it the scan→tokenize→hash work runs twice
    (exchange reuse can't fire — one branch has a partial agg below the
    exchange). The blocks are ~24 bytes/token spilled to executor-local
    disk, strictly cheaper than re-hashing a 100 TB corpus."""
    occ = window_hash_occurrences(
        df, text_col, id_col, window, hash_mode
    ).localCheckpoint(eager=False)
    stats = occ.groupBy("wh").agg(
        F.count("*").alias("df"),
        F.min(F.struct(F.col(id_col), F.col("pos"))).alias("first"),
    ).filter(F.col("df") >= 2)
    if max_df:
        stats = stats.filter(F.col("df") <= max_df)
    dup = occ.join(stats, "wh")
    flagged = dup.filter(
        ~(
            (F.col(id_col) == F.col("first." + id_col))
            & (F.col("pos") == F.col("first.pos"))
        )
    ).select(F.col(id_col), F.col("pos"), (F.col("pos") + window).alias("end"))
    return merge_flag_islands(flagged, id_col)


def merge_flag_islands(flagged: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Gaps-and-islands merge of flagged (id, pos, end) windows into
    maximal [start_tok, end_tok) spans — shared by the batch and
    incremental substring-dedup paths."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(id_col).orderBy("pos")
    prev_end = F.max("end").over(w.rowsBetween(Window.unboundedPreceding, -1))
    islands = flagged.withColumn(
        "_new", F.when(prev_end.isNull() | (F.col("pos") > prev_end), 1).otherwise(0)
    ).withColumn("_island", F.sum("_new").over(w))
    return islands.groupBy(id_col, "_island").agg(
        F.min("pos").alias("start_tok"), F.max("end").alias("end_tok")
    ).select(id_col, "start_tok", "end_tok")


# --- cross-run incremental dedup ---------------------------------------------


def commit_signatures(
    spark,
    df: DataFrame,
    sig_sink: str,
    run_id: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    n: int = 3,
    n_buckets: int | None = None,
) -> int | None:
    """Compute minhash signatures for a corpus increment and append-commit
    them to a signature snapshot table (the persistent dedup state a
    continuous-ingest pipeline carries between runs). The table is tiny
    relative to the corpus — k longs + id per document — so at 10^12 docs
    it is the only state future increments ever reprocess.

    The table's spec (``storage.ensure_bucket_spec``) pins ``k`` and
    ``n`` beside its bucketing: a later call under other values raises
    before any job. ``n_buckets=None`` adopts the pinned count (16 on a
    fresh table). Returns the snapshot id, or None for an empty
    increment (nothing is published)."""
    spec = _state_spec(sig_sink, id_col, n_buckets, {"k": k, "n": n})
    sigs = minhash_signatures(df, text_col, id_col, k, n)
    return _append_state(spark, sigs, sig_sink, run_id, id_col, spec)


def _state_spec(
    sink: str, key_col: str, n_buckets: int | None, params: dict, publish: bool = True
) -> dict:
    """A dedup state table's spec: bucketed by ``key_col`` (16 buckets
    when fresh) and pinned to the hash ``params`` its keys depend on —
    hashes computed under other parameters never collide with the stored
    ones, so a drift would silently turn cross-run dedup into a no-op."""
    return sink_io.ensure_bucket_spec(
        sink, n_buckets, (key_col,), fresh=16, params=params, publish=publish
    )


def _append_state(
    spark, frame: DataFrame, sink: str, run_id: str, key_col: str, spec: dict
) -> int | None:
    """Append-commit rows of a dedup state table under its pinned
    bucketing; None when ``frame`` is empty (nothing is published)."""
    keyed = frame.withColumn(
        "part_key",
        F.pmod(F.xxhash64(F.col(key_col)), F.lit(spec["n_buckets"])).cast("int"),
    )
    sink_io.write_run_data(keyed, sink, run_id)
    return sink_io.commit_snapshot(spark, sink, run_id, operation="append")


def incremental_minhash_dedup(
    spark,
    increment: DataFrame,
    sig_sink: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    n: int = 3,
    bands: int = 4,
    threshold: float = 0.5,
    max_bucket: int = 1000,
    run_id: str | None = None,
    commit: bool = True,
) -> DataFrame:
    """Dedup a NEW increment against the already-committed corpus without
    re-shuffling history (r01 VERDICT item 5): history participates via
    its STORED signatures only — historical text is never re-read,
    re-tokenized, or re-hashed; only the narrow (id, sig) table re-bands
    (k longs/doc, a cheap map-side transform).

    A document is dropped when its banded signature matches (estimated
    jaccard >= threshold) ANY committed historical document or ANY
    lower-id document of the same increment (the standard greedy
    keep-first approximation — a doc whose only match was itself dropped
    still drops, same one-pass semantics as curate()). Survivors'
    signatures are append-committed (``commit=True``) so the next
    increment dedups against them too. Returns the surviving rows.

    ``k`` and ``n`` must equal the values the table's spec pins (raised
    before any job: signatures under other parameters essentially never
    band together, so a drift would dedup nothing); the commit appends
    under the table's pinned bucket count."""

    hist = sink_io.read_snapshot(spark, sig_sink).select(F.col(id_col), "sig")
    spec = _state_spec(sig_sink, id_col, None, {"k": k, "n": n}, publish=commit)
    # the increment's signatures feed both join sides, `dropped`, the
    # survivors' anti-join and the commit: checkpointed once here (under
    # AQE building it already runs the minhash shuffle)
    inc_sigs = minhash_signatures(increment, text_col, id_col, k, n).localCheckpoint(
        eager=False
    )
    # checkpoint=False: the banded sides are narrow map-side transforms
    # of signatures already computed (history from the committed parquet,
    # the increment's checkpoint above) — and the lazy plan keeps the
    # history scan's narrow ReadSchema visible (plan-gated: history text
    # is never re-read)
    a = banded_sigs(inc_sigs, id_col, bands, max_bucket, checkpoint=False).alias(
        "a"
    )
    b_hist = banded_sigs(
        hist, id_col, bands, max_bucket, checkpoint=False
    ).withColumn("is_hist", F.lit(True))
    b_inc = banded_sigs(
        inc_sigs, id_col, bands, max_bucket, checkpoint=False
    ).withColumn("is_hist", F.lit(False))
    b = b_hist.unionByName(b_inc).alias("b")
    pairs = a.join(
        b,
        (F.col("a.band_idx") == F.col("b.band_idx"))
        & (F.col("a.band_key") == F.col("b.band_key"))
        & (F.col("b.is_hist") | (F.col("b." + id_col) < F.col("a." + id_col))),
    ).groupBy(
        F.col("a." + id_col).alias("id_new"), F.col("b." + id_col).alias("id_old")
    ).agg(
        F.first(F.col("a.sig")).alias("sig_a"),
        F.first(F.col("b.sig")).alias("sig_b"),
        F.first("b.is_hist").alias("is_hist"),
    )
    eq = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v)
    )
    dropped = (
        pairs.withColumn("je", eq / F.size("sig_a"))
        .filter(F.col("je") >= threshold)
        .select(F.col("id_new").alias(id_col))
        .distinct()
    )
    # plain left_anti — NO forced broadcast: `dropped` is bounded only by
    # the increment's dup count, and a high-dup-rate 10^9-row increment
    # would make a forced broadcast a multi-GB driver OOM. AQE picks
    # broadcast at runtime when the id set is actually small (the common
    # case) and falls back to a shuffled anti-join when it isn't.
    survivors = increment.join(dropped, id_col, "left_anti")
    if commit:
        # reuse inc_sigs: the survivors' signatures are exactly the
        # increment's minus the dropped ids — no second full
        # tokenize+minhash pass over the text
        surv_sigs = inc_sigs.join(dropped, id_col, "left_anti")
        run_id = run_id or ("inc-" + uuid.uuid4().hex[:10])
        _append_state(spark, surv_sigs, sig_sink, run_id, id_col, spec)
    return survivors


# --- cross-run incremental substring dedup -----------------------------------


def commit_window_hashes(
    spark,
    df: DataFrame,
    hash_sink: str,
    run_id: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 50,
    hash_mode: str = "rolling",
    n_buckets: int | None = None,
) -> int | None:
    """Append-commit a corpus increment's DISTINCT window hashes to the
    persistent hash table (the cross-run substring-dedup state). Two
    narrow columns per distinct window — the 8-byte rolling hash (or the
    md5 string in oracle mode) plus ``df``, the hash's occurrence count
    WITHIN this increment; the increment's text is never stored.
    Already-committed hashes are anti-joined away so appends stay tight
    (append-only: an existing hash's stored df never updates, so it is a
    LOWER BOUND on corpus-wide df — see ``incremental_substring_dedup``
    for how the max_df escape prices that).

    The table's spec pins ``window`` and ``hash_mode`` beside its
    bucketing (a drift raises before any job); ``n_buckets=None`` adopts
    the pinned count (16 on a fresh table). Returns the committed
    snapshot id, or None when the increment held nothing new (no empty
    commit is published)."""
    spec = _state_spec(
        hash_sink, "wh", n_buckets, {"window": window, "hash_mode": hash_mode}
    )
    new = (
        window_hash_occurrences(df, text_col, id_col, window, hash_mode)
        .groupBy("wh")
        .agg(F.count("*").alias("df"))
    )
    hist = read_window_hashes(spark, hash_sink)
    if hist is not None:
        new = new.join(hist.select("wh"), "wh", "left_anti")
    return _append_state(spark, new, hash_sink, run_id, "wh", spec)


def read_window_hashes(spark, hash_sink: str) -> DataFrame | None:
    """The committed distinct-hash set (wh, df), or None before the first
    commit."""
    if sink_io.latest_snapshot_id(spark, hash_sink) is None:
        return None
    return sink_io.read_snapshot(spark, hash_sink).select("wh", "df")


def incremental_substring_dedup(
    spark,
    increment: DataFrame,
    hash_sink: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 50,
    max_df: int | None = 10000,
    hash_mode: str = "rolling",
    run_id: str | None = None,
    commit: bool = True,
) -> DataFrame:
    """Substring dedup of a NEW increment against the already-committed
    corpus — the continuous-ingest shape of the Lee et al. operator,
    mirroring ``incremental_minhash_dedup``: history participates via
    its STORED distinct window hashes only (narrow (wh, df) columns; the
    historical text is never re-read or re-hashed).

    A window of the increment flags when its hash exists in history
    (history holds the first occurrence by definition) OR when it is a
    non-first duplicate within the increment itself. The batch
    operator's ``max_df`` boilerplate escape applies to BOTH cases using
    the best-known corpus-wide df LOWER BOUND: the increment's own count
    plus the stored history df (the count at the hash's first commit —
    append-only state, so a later increment's occurrences never update
    it). License-header-grade boilerplate saturates ``max_df`` in any
    realistic first increment, so the dominant batch-vs-incremental
    divergence (boilerplate spared by batch but cut from every
    increment) is closed; a hash that only crosses ``max_df`` summed
    across MANY later increments is still cut (the lower bound never
    sees those) — the residual, honestly priced, cost of append-only
    history. Flagged windows merge into maximal [start_tok, end_tok)
    spans per doc — feed them to ``substring_dedup_apply`` to cut. With
    ``commit=True`` the increment's (wh, df) rows append so the next
    increment dedups against them, under the table's pinned bucket
    count. ``window`` and ``hash_mode`` must equal the values the table's
    spec pins (raised before any job); ``commit=False`` validates the
    spec but never pins one.

    Skew design matches ``substring_dedup_spans`` (r03-verdict de-skew):
    per-hash df/first via map-side-partial ``groupBy``, never
    ``Window.partitionBy(wh)``; history joins the per-WH stats frame
    (|distinct hashes| rows, not |occurrences|); the join back onto the
    occurrence frame gets AQE's skew-split backstop.

    Hash-pass accounting: the narrow occ frame is lazily checkpointed,
    so the increment is hashed once — the stats branch, the join-back
    probe and (``commit=True``) the commit's own write action all read
    the same blocks."""

    spec = _state_spec(
        hash_sink, "wh", None, {"window": window, "hash_mode": hash_mode}, commit
    )
    occ = window_hash_occurrences(
        increment, text_col, id_col, window, hash_mode
    ).localCheckpoint(eager=False)
    stats = occ.groupBy("wh").agg(
        F.count("*").alias("df"),
        F.min(F.struct(F.col(id_col), F.col("pos"))).alias("first"),
    )
    hist = read_window_hashes(spark, hash_sink)
    if hist is not None:
        h = hist.withColumnRenamed("df", "df_hist").withColumn("_hist", F.lit(True))
        stats = stats.join(h, "wh", "left")
    else:
        stats = stats.withColumn("_hist", F.lit(None).cast("boolean")).withColumn(
            "df_hist", F.lit(None).cast("long")
        )
    in_hist = F.coalesce(F.col("_hist"), F.lit(False))
    cand = stats.filter(in_hist | (F.col("df") >= 2))
    if max_df:
        cand = cand.filter(
            (F.col("df") + F.coalesce(F.col("df_hist"), F.lit(0))) <= max_df
        )
    dup = occ.join(cand, "wh")
    is_first = (F.col(id_col) == F.col("first." + id_col)) & (
        F.col("pos") == F.col("first.pos")
    )
    flagged = dup.filter(in_hist | ~is_first).select(
        F.col(id_col), F.col("pos"), (F.col("pos") + window).alias("end")
    )
    spans = merge_flag_islands(flagged, id_col)
    if commit:
        # reuse the per-wh stats frame (which reuses the checkpointed occ):
        # new hashes are exactly the increment's windows NOT in history,
        # with their in-increment df — no second tokenize/hash pass over
        # the text and no anti-join re-scan of the stored table
        new = stats.filter(~in_hist).select("wh", "df")
        run_id = run_id or ("sub-" + uuid.uuid4().hex[:10])
        _append_state(spark, new, hash_sink, run_id, "wh", spec)
    return spans


# --- embedding near-dup ------------------------------------------------------


def embedding_near_dup(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """Pairs with cosine >= threshold. Brute-force pairwise — the EXACT
    BASELINE/ORACLE path only (O(N²) all-pairs join): the gated scale
    path is ``embedding_near_dup_lsh`` below (r01 VERDICT item 4)."""
    from .similarity import cosine_from_parts, dot_expr, norm_expr

    a = emb.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("v_a"),
        norm_expr(vec_col).alias("n_a"),
    )
    b = emb.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("v_b"),
        norm_expr(vec_col).alias("n_b"),
    )
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    return pairs.select(
        "id_a",
        "id_b",
        cosine_from_parts(
            dot_expr("v_a", "v_b"), F.col("n_a"), F.col("n_b")
        ).alias("cosine"),
    ).filter(F.col("cosine") >= threshold)


def embedding_near_dup_lsh(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    planes: int = 4,
    tables: int = 8,
    dim: int = 64,
    seed: int = 42,
    max_bucket: int = 5000,
) -> DataFrame:
    """Near-duplicate pairs at scale: hyperplane-LSH candidate generation
    + exact cosine verify — O(N·L) bucketing plus per-bucket equi-joins,
    never the O(N²) cross join (``embedding_near_dup`` keeps that as the
    exact oracle baseline).

    Recall: a pair at cosine c collides in one table with prob
    (1-acos(c)/π)^planes; tables are independent, so few planes × many
    tables drives miss probability down exponentially — at the defaults a
    c≥0.95 pair is missed with prob (1-0.899⁴)⁸ ≈ 2e-4, and the
    deterministic md5 hyperplanes make any given corpus's outcome fixed
    (the gate pins recall=1 on its planted corpus). Precision is exact:
    every candidate is verified with the true cosine.

    ``max_bucket`` drops storm buckets (near-zero vectors / boilerplate
    embeddings that pile into one key) before the self-join, the same cap
    the MinHash band join uses — candidate loss there only affects pairs
    whose EVERY shared bucket stormed.

    ``planes`` is the SCALE knob: each table has 2^planes buckets, so
    per-bucket self-join work is Θ(N²/2^planes) — at fixed planes the
    operator is quadratic in N (measured: defaults are sized for ~10^3-4
    vectors; at 32k the wall went 16× for 4× rows —
    bench/dedup_scaling.py). Size planes ≈ log2(N / target_bucket) to
    hold bucket occupancy (and recall per table) constant, and raise
    ``tables`` if the per-table collision probability at the threshold
    cosine needs restoring.

    Shuffle discipline (r02 VERDICT item 4): the exploded/banded frame
    carries ONLY (table_idx, bucket, id) — never the vector. The old
    shape shipped each full vector through the bucket exchange 2·L times
    (L=tables); now the candidate self-join moves ids alone, pairs dedup
    across tables, and vectors rejoin exactly once per pair side for the
    exact-cosine verify — ~L× less shuffle volume, identical output."""
    from .similarity import buckets_udf, cosine_from_parts, dot_expr, norm_expr

    sig = emb.select(
        F.col(id_col).alias("vid"),
        F.posexplode(buckets_udf(tables, planes, dim, seed)(F.col(vec_col))).alias(
            "table_idx", "bucket"
        ),
    )
    if max_bucket:
        counts = sig.groupBy("table_idx", "bucket").count()
        sig = sig.join(
            F.broadcast(counts.filter(F.col("count") > max_bucket)),
            ["table_idx", "bucket"],
            "left_anti",
        )
    a = sig.select("table_idx", "bucket", F.col("vid").alias("id_a"))
    b = sig.select("table_idx", "bucket", F.col("vid").alias("id_b"))
    cand = (
        a.join(b, ["table_idx", "bucket"])  # per-bucket equi-join, no cartesian
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])  # a pair may share several tables
        .select("id_a", "id_b")
    )
    vecs = emb.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
        norm_expr(vec_col).alias("nrm"),
    )
    verified = (
        cand.join(
            vecs.select(
                F.col("vid").alias("id_a"),
                F.col("vec").alias("v_a"),
                F.col("nrm").alias("n_a"),
            ),
            "id_a",
        )
        .join(
            vecs.select(
                F.col("vid").alias("id_b"),
                F.col("vec").alias("v_b"),
                F.col("nrm").alias("n_b"),
            ),
            "id_b",
        )
    )
    return verified.select(
        "id_a",
        "id_b",
        cosine_from_parts(
            dot_expr("v_a", "v_b"), F.col("n_a"), F.col("n_b")
        ).alias("cosine"),
    ).filter(F.col("cosine") >= threshold)


def semdedup(
    emb: DataFrame,
    centroids: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    target_cluster_size: int = 2048,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by clustering embeddings and dropping within-cluster
    near-duplicates, keeping per duplicate pair the example FARTHEST
    from its cluster centroid (lowest centroid cosine — the paper's
    keep-the-outlier rule, which preserves distributional diversity).

    ``centroids``: (id_col, vec_col) rows — trained via ``kmeans_fit``
    in production, or any deterministic scheme (the gated query uses
    hash-bucket means so the oracle replays them compactly). Pass
    ``centroids=None`` to auto-derive them: k = max(4, N /
    ``target_cluster_size``) hash-bucket-mean centroids (the documented
    N/2048 knob rule, now code rather than operator lore — one count()
    action sizes k, then ``similarity.hash_bucket_centroids`` builds
    them; override ``target_cluster_size`` to move the join-width /
    cluster-granularity trade-off). Every
    vector assigns to its max-cosine centroid (tie → lowest centroid
    id); within a cluster, a vector DROPS iff ANY strictly-more-keepable
    clustermate sits at pairwise cosine >= ``threshold``, where the
    keep order is (lower centroid-cosine, then lower id). This is the
    one-pass existence rule — the same greedy shape the paragraph /
    keep-first paths use — not the paper's iterative per-group peeling:
    in a chain x~y~z with cos(x,z) < t, both y and z can drop here
    (each has a more-keepable near-dup) where iterative peeling would
    re-admit z after y drops. Deterministic, order-free, and exactly
    expressible as SQL EXISTS — the property the oracle gate needs.

    Scale shape (the reason SemDeDup beats all-pairs at 10^9 vectors):
    the centroid table broadcasts (k rows) and assignment is a MAP-ONLY
    pass — the corpus never shuffles on the fat vector for it; the only
    exchange is the within-cluster self-join, an equi-join on
    cluster_id whose per-key width is the cluster size — bounded by the
    ``k`` knob (pick k ≈ N / target_cluster_size; the paper runs 50k
    clusters over LAION), with AQE's skew-split backstop on whatever
    imbalance k-means leaves. The vector rides the cluster exchange
    ONCE per side deliberately — the opposite of the LSH path's
    ids-only slimming — because semdedup candidate pairs are DENSE
    within a cluster (≈ cluster_size per member), so re-joining vectors
    per pair would move |pairs| ≈ N·cluster_size vectors instead of
    2N. No unkeyed join over corpus-sized relations; the ONLY cross is
    the deliberate k-row centroid broadcast (an explicit ``crossJoin``,
    whitelisted by the plan gate), and the pair join is keyed on
    cluster_id.

    Returns one row per input vector: (id, cluster_id, centroid_cos,
    kept) — filter kept for the surviving corpus, or aggregate by
    cluster for dedup-rate reporting."""
    from .similarity import cosine_from_parts, dot_expr, norm_expr

    if not 0.0 <= threshold <= 1.0:
        raise ValueError(f"threshold must be in [0, 1], not {threshold}")
    from pyspark.sql.window import Window

    if centroids is None:
        if target_cluster_size < 1:
            raise ValueError(
                f"target_cluster_size must be >= 1, not {target_cluster_size}"
            )
        from .similarity import hash_bucket_centroids

        k = max(4, emb.count() // target_cluster_size)
        centroids = hash_bucket_centroids(emb, k=k, id_col=id_col,
                                          vec_col=vec_col)

    c = centroids.select(
        F.col(id_col).alias("cluster_id"),
        F.col(vec_col).alias("_cv"),
        norm_expr(vec_col).alias("_cn"),
    )
    scored = (
        emb.select(F.col(id_col), F.col(vec_col), norm_expr(vec_col).alias("_vn"))
        .crossJoin(F.broadcast(c))
        .select(
            id_col,
            vec_col,
            "_vn",
            "cluster_id",
            cosine_from_parts(
                dot_expr(vec_col, "_cv"), F.col("_vn"), F.col("_cn")
            ).alias("centroid_cos"),
        )
    )
    # per-vector argmax over k centroids: the window group is k-bounded
    # (never content-keyed), so no skew hazard
    w = Window.partitionBy(id_col).orderBy(
        F.desc("centroid_cos"), F.asc("cluster_id")
    )
    assigned = (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    a = assigned.select(
        F.col(id_col).alias("_ida"),
        F.col(vec_col).alias("_va"),
        F.col("_vn").alias("_na"),
        F.col("cluster_id").alias("_cla"),
        F.col("centroid_cos").alias("_cca"),
    )
    b = assigned.select(
        F.col(id_col).alias("_idb"),
        F.col(vec_col).alias("_vb"),
        F.col("_vn").alias("_nb"),
        F.col("cluster_id").alias("_clb"),
        F.col("centroid_cos").alias("_ccb"),
    )
    more_keepable = (F.col("_ccb") < F.col("_cca")) | (
        (F.col("_ccb") == F.col("_cca")) & (F.col("_idb") < F.col("_ida"))
    )
    dropped = (
        a.join(b, (F.col("_cla") == F.col("_clb")) & more_keepable)
        .filter(
            cosine_from_parts(
                dot_expr("_va", "_vb"), F.col("_na"), F.col("_nb")
            )
            >= threshold
        )
        .select(F.col("_ida").alias(id_col))
        .distinct()
        .withColumn("_drop", F.lit(True))
    )
    return (
        assigned.join(dropped, id_col, "left")
        .select(
            id_col,
            "cluster_id",
            "centroid_cos",
            F.coalesce(~F.col("_drop"), F.lit(True)).alias("kept"),
        )
    )


def gen_planted_vectors(
    n: int = 150, dim: int = 32, n_dups: int = 25, seed: int = 5
) -> list:
    """Pure deterministic corpus with PLANTED near-duplicates: n gaussian
    base vectors, plus n_dups perturbed copies (id n+j ≈ base j, cosine
    ≈ 0.9987) — background pair cosines stay ≲0.7, so a 0.9 threshold
    separates cleanly. Shared by the Spark query and the single-node
    brute-force oracle replay."""
    rng = np.random.default_rng(seed)
    base = rng.standard_normal((n, dim))
    rows = [(i, base[i].tolist()) for i in range(n)]
    for j in range(n_dups):
        v = base[j] + 0.05 * rng.standard_normal(dim)
        rows.append((n + j, v.tolist()))
    return rows


def paragraph_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n\n",
) -> DataFrame:
    """CCNet-style corpus-WIDE paragraph dedup: split every document into
    paragraphs, keep only the first occurrence (by ``(id, position)``
    order) of each whitespace-normalized lowercased paragraph across the
    whole corpus, and reassemble each document from its surviving
    paragraphs in original order. The dominant boilerplate-removal pass in
    web-scale curation (headers, cookie banners, license blurbs repeat
    across millions of pages while article bodies don't).

    Returns (id, text_dedup, n_kept, n_paras) — one row per document that
    had at least one non-empty paragraph; ``text_dedup`` is '' when every
    paragraph was a duplicate of an earlier document's.

    Scale notes (100 TB, r03-verdict de-skew): first occurrences come
    from ``groupBy("norm").agg(min(struct(id, pos, para)))`` — map-side
    PARTIAL aggregation, so a cookie-banner paragraph shared by 10^8
    pages collapses to one candidate per map task and the reducer for
    that key sees |tasks| partials, not 10^8 rows. The previous
    ``row_number() OVER (PARTITION BY norm)`` shape put every occurrence
    of one paragraph into a single task with NO backstop: AQE skew
    handling covers joins, not window exchanges, and WindowGroupLimit
    cannot fire when the flag feeds an aggregate. The kept-first frame
    (one row per DISTINCT paragraph) and the per-doc counts then
    hash-agg by doc id and combine with a narrow join on id — nothing
    fat ever shuffles on the content key except once, pre-collapsed.
    Three narrow exchanges instead of two skew-prone ones; the exploded
    paragraphs are scanned twice (first-occurrence branch + count
    branch), which is a re-split of the text column, not a re-shuffle.
    The agg key is the normalized paragraph STRING for engine-exact
    oracle parity; a production variant keys on ``xxhash64(norm)`` to
    hash-agg 8-byte keys instead (identical result modulo 2^-64
    collisions).

    Reference residue: dedup-keep-first ordering semantics mirror
    artexin's first-appearance image dedup (artexin/extract.py:240-261);
    normalization is the engine's content identity (norm_md5 above,
    artexin/pack.py:59-65).
    """
    paras = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "para"),
    ).withColumn(
        "norm", F.trim(F.regexp_replace(F.lower(F.col("para")), r"\s+", " "))
    ).filter(F.col("norm") != "")
    # min(struct(id, pos, para)): (id, pos) is unique, so the struct
    # order is total before `para` ever compares — the original text of
    # the first occurrence rides along for free
    kept = (
        paras.groupBy("norm")
        .agg(F.min(F.struct(F.col(id_col), F.col("pos"), F.col("para"))).alias("f"))
        .select(
            F.col("f." + id_col).alias(id_col),
            F.col("f.pos").alias("pos"),
            F.col("f.para").alias("para"),
        )
    )
    kept_agg = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "para"))),
                lambda s: s["para"],
            ),
            sep,
        ).alias("text_dedup"),
        F.count("*").alias("n_kept"),
    )
    counts = paras.groupBy(id_col).agg(F.count("*").alias("n_paras"))
    return counts.join(kept_agg, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("text_dedup"), F.lit("")).alias("text_dedup"),
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
        F.col("n_paras"),
    )


def entity_blocking_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 2,
    max_df: int = 50,
    min_cbs: int = 2,
    shingle_n: int = 3,
) -> DataFrame:
    """Entity-resolution candidate generation via blocking + CBS-weighted
    meta-blocking (the SparkER pattern, EDBT 2019 — see PAPERS.md):
    every distinct word ``shingle_n``-gram is a block (shingles, not raw
    tokens — long-text vocabularies make single-token blocks corpus-wide
    and useless); blocks outside [min_df, max_df] are dropped (singleton
    blocks pair nothing, stop-shingle blocks are the quadratic bomb —
    the same cap discipline as the LSH buckets); candidate pairs are the
    in-block self-join a<b, weighted by Common Block Scheme = number of
    shared blocks, pruned at ``min_cbs`` so one coincidental shingle
    never makes a candidate. All native Catalyst: explode → filtered
    inverted index → equi self-join → hash agg. Cost is Σ|block|²,
    bounded by max_df² per block — never |corpus|²."""
    base = df.select(
        F.col(id_col).alias("id"), tokens_col(text_col).alias("toks")
    )
    # the posting index feeds THREE subtrees (df sizes + both self-join
    # sides) and exchange reuse does not fire across them — same
    # materialize-the-narrow-index-once trade as banded_sigs
    posting = (
        base.select(
            "id", F.explode(shingles_from("toks", shingle_n)).alias("tok")
        )
        .distinct()  # block membership, not term frequency
        .localCheckpoint(eager=False)
    )
    sizes = posting.groupBy("tok").agg(F.count("*").alias("df"))
    blocks = posting.join(
        F.broadcast(
            sizes.filter(
                (F.col("df") >= min_df) & (F.col("df") <= max_df)
            ).select("tok")
        ),
        "tok",
    )
    a = blocks.select("tok", F.col("id").alias("id_a"))
    b = blocks.select("tok", F.col("id").alias("id_b"))
    pairs = a.join(b, "tok").filter(F.col("id_a") < F.col("id_b"))
    return (
        pairs.groupBy("id_a", "id_b")
        .agg(F.count("*").alias("cbs"))
        .filter(F.col("cbs") >= min_cbs)
    )


def substring_dedup_apply(
    df: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply ``substring_dedup_spans`` output: drop every token position
    covered by a flagged span, rejoin survivors with single spaces — the
    removal half of the Lee et al. operator (dedup at the SUBSTRING
    level, the document survives minus its duplicated runs).

    Linear shape: tokens and span positions each explode once (for the
    TOUCHED docs only), one equi anti-join on (id, pos), one ordered
    re-aggregation per touched doc. NOTE: ``spans`` is referenced three
    times in this plan (touched-doc semi-join, touched flag, position
    cut) — at scale, ``localCheckpoint(eager=False)`` the spans frame (it
    is tiny: one row per flagged span, not per token) before calling, or
    Spark re-derives it per reference. Docs without spans pass through with
    their ORIGINAL text verbatim (cleaning must not normalize the whole
    corpus as a side effect — r02 review finding); a touched doc is
    rebuilt at token granularity (lowercased, punctuation-split — the
    same normalization its spans were computed under, documented), and a
    doc whose every token is flagged yields an empty string (never a
    dropped row)."""
    touched = spans.select(F.col(id_col)).distinct()
    toks = (
        df.join(touched, id_col, "left_semi")
        .select(F.col(id_col), F.posexplode(tokens_col(text_col)).alias("pos", "tok"))
    )
    cut = spans.select(
        F.col(id_col),
        F.explode(
            F.sequence(F.col("start_tok"), F.col("end_tok") - 1)
        ).alias("pos"),
    )
    kept = toks.join(cut, [id_col, "pos"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s.tok,
            ),
            " ",
        ).alias("_rebuilt"),
        F.count("*").alias("_n_kept"),
    )
    is_touched = F.col("_touched").isNotNull()
    return (
        df.select(F.col(id_col), F.col(text_col))
        .join(touched.withColumn("_touched", F.lit(True)), id_col, "left")
        .join(rebuilt, id_col, "left")
        .select(
            F.col(id_col),
            F.when(is_touched, F.coalesce("_rebuilt", F.lit("")))
            .otherwise(F.col(text_col))
            .alias("cleaned_text"),
            F.when(is_touched, F.coalesce("_n_kept", F.lit(0)))
            .otherwise(F.size(tokens_col(text_col)))
            .cast("long")
            .alias("n_tokens_kept"),
        )
    )


def canonical_url_expr(url_col: str = "url"):
    """Native URL canonicalization expression: lowercase scheme and host,
    strip fragment, strip default ports (http:80 / https:443), empty
    path → '/', single trailing slash stripped on non-root query-free
    paths. Mirrored verbatim in the DuckDB oracle."""
    u = F.regexp_replace(F.col(url_col), r"#.*$", "")
    scheme = F.lower(F.regexp_extract(u, r"^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1))
    host0 = F.lower(F.regexp_extract(u, r"^[^:/]+://([^/?#]+)", 1))
    host = (
        F.when(scheme == "http", F.regexp_replace(host0, r":80$", ""))
        .when(scheme == "https", F.regexp_replace(host0, r":443$", ""))
        .otherwise(host0)
    )
    rest0 = F.regexp_extract(u, r"^[^:/]+://[^/?#]*(.*)$", 1)
    rest1 = F.when(rest0 == "", F.lit("/")).otherwise(rest0)
    rest = F.when(
        (F.length(rest1) > 1) & ~rest1.contains("?") & rest1.endswith("/"),
        F.regexp_replace(rest1, r"/$", ""),
    ).otherwise(rest1)
    # non-absolute / malformed URLs (relative paths, scheme-relative,
    # mailto:, garbage) must NOT all collapse onto one key (':///' would
    # merge them into a single keep-first group — silent mass dedup of
    # unrelated rows); fall back to the raw string, so such rows dedup
    # only on exact equality
    return F.when(
        (scheme != "") & (host != ""),
        F.concat(scheme, F.lit("://"), host, rest),
    ).otherwise(F.col(url_col))


def url_dedup(
    df: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """Canonical-URL keep-first dedup (the crawl-frontier operator): one
    projection + ONE hash aggregation keeping the lowest id per canonical
    URL — no window sort, no join. The full RFC path algebra ('..'
    resolution etc.) lives in urlx (artexin/urlutils.py parity); this is
    its corpus-scale column-native counterpart."""
    return (
        df.select(canonical_url_expr(url_col).alias("canonical_url"), F.col(id_col))
        .groupBy("canonical_url")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("n_dups"))
    )
