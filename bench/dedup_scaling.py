"""Dedup-operator scaling evidence (r02 VERDICT item 8 + item 2).

The extraction path has two-parallelism scaling evidence (bench/
scaling.py); this gives the DEDUP family its size-scaling evidence, and
the substring-dedup hasher its window-cost evidence, from deterministic
corpora synthesized out of the sf documents/embeddings tables (no
external data):

1. **Corpus-size scaling** — each dedup operator runs at two corpus
   scales (default 4× and 16×); wall ratio ≈ scale ratio means linear
   cost, the "no worse-than-linear surprises" gate. Scaled copies are
   made mutually DISSIMILAR (every token suffixed with the copy index;
   embedding vectors rotated per copy) so the duplicate-pair structure
   per unit of corpus stays constant — naive replication would make
   copies near-dups of each other and grow pair output quadratically,
   measuring the corpus's dup rate instead of the operator.

2. **Substring window sweep** — the isolated window-hash stage at
   window 25 vs 400 on a 2k-token-doc corpus, both hashers: the md5
   oracle twin does O(tokens × window) work (its wall grows with the
   window on top of the shared explode floor); the Karp-Rabin rolling
   default is O(tokens) (flat across windows). This is the measured
   justification for the r03 hasher swap.

3. **Doc-length scaling** — rolling-hash substring dedup at 10× doc
   length must cost ~10× (linear in tokens), never ~window×tokens.

Writes BENCH/dedup_scaling.json and prints one JSON line.
Run: python bench/dedup_scaling.py  (env: SPARK_GRAFT_SF_DIR, SCALES)
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SCALES = tuple(
    int(s) for s in os.environ.get("SCALES", "4,16").split(",")
)


def scaled_docs(spark, scale: int):
    """scale mutually-dissimilar copies of the documents corpus: copy r
    suffixes EVERY token with 'x<r>', so no shingle survives across
    copies (dup structure replicates per copy-space, never across)."""
    # repartition BEFORE the explode: the documents parquet is one file
    # (one scan task) — without this the per-copy token transform runs
    # serially and the materialize step, not the operator, owns the wall
    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text")
        .repartition(64)
    )
    r = F.explode(F.sequence(F.lit(0), F.lit(scale - 1))).alias("r")
    out = docs.select("doc_id", "text", r)
    toks = F.split(F.col("text"), r"\s+")
    return out.select(
        (F.col("doc_id") * scale + F.col("r")).alias("doc_id"),
        F.array_join(
            F.transform(toks, lambda t: F.concat(t, F.lit("x"), F.col("r"))), " "
        ).alias("text"),
    )


def scaled_embeddings(spark, scale: int):
    """scale copies with per-copy vector ROTATION (rotated gaussians are
    near-orthogonal, so copies never pair with each other)."""
    emb = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .select("vec_id", "embedding")
        .repartition(64)
    )
    n = F.size("embedding")
    out = emb.select(
        "vec_id",
        "embedding",
        F.explode(F.sequence(F.lit(0), F.lit(scale - 1))).alias("r"),
    )
    rot = F.when(F.col("r") == 0, F.col("embedding")).otherwise(
        F.concat(
            F.slice(F.col("embedding"), F.col("r") + 1, n - F.col("r")),
            F.slice(F.col("embedding"), F.lit(1), F.col("r")),
        )
    )
    return out.select(
        (F.col("vec_id") * scale + F.col("r")).alias("vec_id"),
        rot.alias("embedding"),
    )


def long_docs(spark, segments: int, n_docs: int = 400):
    """~50·segments-token documents: per-doc text repeated ``segments``
    times, every token suffixed with the segment index so a doc never
    self-matches across segments (window hashes stay segment-local)."""
    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < n_docs)
        .repartition(64)
    )
    seg = F.sequence(F.lit(0), F.lit(segments - 1))
    toks = F.split(F.col("text"), r"\s+")
    body = F.array_join(
        F.transform(
            seg,
            lambda s: F.array_join(
                F.transform(toks, lambda t: F.concat(t, F.lit("s"), s)), " "
            ),
        ),
        " ",
    )
    return docs.select("doc_id", body.alias("text"))


def main() -> None:
    from artexin_spark.operators import bpe as bp
    from artexin_spark.operators import dedup as dd
    from artexin_spark.operators import sampling as sp
    from artexin_spark.operators import similarity as sim
    from artexin_spark.session import get_spark

    spark = get_spark("artexin-dedup-scaling")
    spark.sparkContext.setLogLevel("ERROR")

    def timed(fn, warm: bool = True, reps: int = 2) -> float:
        if warm:
            fn()
        best = None
        for _ in range(reps):
            t0 = time.perf_counter()
            fn()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        return round(best, 3)

    result: dict = {"sf": SF_DIR, "scales": list(SCALES), "ops": {}}

    # --- 1. corpus-size scaling ------------------------------------------
    for scale in SCALES:
        docs = scaled_docs(spark, scale).localCheckpoint()  # freeze input,
        # so the synth explode isn't billed to the operator under test
        emb = scaled_embeddings(spark, scale).localCheckpoint()
        n_docs, n_vecs = docs.count(), emb.count()
        ops = {
            "minhash_dedup": lambda d=docs: dd.minhash_dedup(
                d, k=16, bands=4, threshold=0.8
            ).count(),
            # bits=64: the 32-bit default's 256-value band keys SATURATE
            # at these corpus sizes (measured: the x16 run at 32 bits
            # produced ~core-hours of quadratic candidate verification —
            # the finding that motivated the bits knob); 64-bit keys keep
            # buckets ~1 and the operator linear.
            "simhash_pairs": lambda d=docs: dd.simhash_dedup(
                d, max_hamming=3, bits=64
            ).count(),
            # each call checkpoints a fresh occ frame (hash once, read
            # twice), so every timed rep pays the full hash pass
            "substring_rolling": lambda d=docs: dd.substring_dedup_spans(
                d, window=20
            ).count(),
            # planes sized to the corpus (≈ log2(N/128)): per-bucket work
            # is Θ(N²/2^planes), so FIXED planes is quadratic in N
            # (measured: defaults at 32k vectors cost 16× the 8k wall).
            # Scaling the knob with log(N) is the operator's contract —
            # documented on embedding_near_dup_lsh.
            "embedding_lsh": lambda e=emb, n=n_vecs: dd.embedding_near_dup_lsh(
                e, threshold=0.9, planes=max(4, (n // 128).bit_length())
            ).count(),
            # k scales as N / target-cluster-size (the semdedup knob):
            # per-key join width stays ~constant, so the within-cluster
            # self-join is linear in N. Centroids are the hash-bucket
            # means (one narrow agg — billed to the op, as in prod).
            "semdedup": lambda e=emb, n=n_vecs: dd.semdedup(
                e, sim.hash_bucket_centroids(e, k=max(4, n // 2048)),
                threshold=0.9,
            ).filter("NOT kept").count(),
            # BPE: the corpus pass is one word-count agg; the 4 merge
            # steps run on |vocab| rows — vocab grows sublinearly in
            # corpus copies (tokens are copy-suffixed, so vocab scales
            # with the corpus here: the WORST case for this op).
            "bpe_train4": lambda d=docs: bp.bpe_train(
                d, n_merges=4, min_pair_freq=2
            ).count(),
            # DSIR: two k-row bucket-count aggs (target + raw, map-side
            # partial) + one literal-array scoring projection + a
            # TakeOrderedAndProject top-k — every stage linear in corpus
            # tokens, nothing keyed on a corpus-sized relation.
            "dsir_select": lambda d=docs: sp.dsir_select(
                d, d.filter("doc_id % 5 = 0"), k_docs=30
            ).count(),
        }
        for name, fn in ops.items():
            result["ops"].setdefault(name, {})[f"x{scale}"] = {
                "wall_s": timed(fn),
                "rows_in": n_docs if name != "embedding_lsh" else n_vecs,
            }

    lo, hi = SCALES[0], SCALES[-1]
    for name, vals in result["ops"].items():
        t_lo, t_hi = vals[f"x{lo}"]["wall_s"], vals[f"x{hi}"]["wall_s"]
        vals["wall_ratio"] = round(t_hi / t_lo, 2)
        vals["size_ratio"] = round(hi / lo, 2)
        # >1 = sub-linear (fixed costs amortizing), <1 = super-linear
        vals["linearity"] = round((hi / lo) / (t_hi / t_lo), 2)

    # --- 2. substring window sweep: md5 vs rolling ------------------------
    # big enough that the WINDOW HASH pass dominates the fixed plan costs
    # (at 400×1k-token docs both hashers measured flat — the shuffle of
    # occ rows, constant across window sizes, owned the wall)
    ld = long_docs(spark, segments=40, n_docs=2000).localCheckpoint()
    sweep: dict = {"n_docs": ld.count(), "windows": {}}
    # time the HASH STAGE in isolation (map-side count, no occ shuffle):
    # the full spans pipeline's equi-join/window shuffle is constant
    # across window sizes and masks the hasher term entirely. Window
    # 25→400 (16×): the shared explode still contributes a constant
    # ~4.5 s floor, on top of which the md5 hasher's O(tokens×window)
    # term grows ~linearly with window while the rolling hasher's
    # O(tokens) term stays flat — the measured justification for the
    # r03 default swap.
    for window in (25, 400):
        sweep["windows"][str(window)] = {
            mode: timed(
                lambda m=mode, w=window: dd.window_hash_occurrences(
                    ld, window=w, hash_mode=m
                ).groupBy().count().collect()
            )
            for mode in ("rolling", "md5")
        }
    w_lo, w_hi = sweep["windows"]["25"], sweep["windows"]["400"]
    sweep["md5_window_cost_ratio"] = round(w_hi["md5"] / w_lo["md5"], 2)
    sweep["rolling_window_cost_ratio"] = round(
        w_hi["rolling"] / w_lo["rolling"], 2
    )
    result["substring_window_sweep"] = sweep

    # --- 3. substring doc-length scaling (rolling) ------------------------
    short = long_docs(spark, segments=4, n_docs=2000).localCheckpoint()

    def _sub(d):
        spark.catalog.clearCache()  # same cache-vs-rep note as section 1
        return dd.substring_dedup_spans(d, window=20).count()

    t_short = timed(lambda: _sub(short))
    t_long = timed(lambda: _sub(ld))
    result["substring_doclen"] = {
        "tokens_ratio": 10.0,
        "wall_short_s": t_short,
        "wall_long_s": t_long,
        "wall_ratio": round(t_long / t_short, 2),
    }

    # --- 4. planted mega-dup skew evidence (r03 VERDICT item 1) -----------
    # One 20-token block (a cookie-banner-grade paragraph) appended to
    # ~30% of a ~100k-doc corpus: its window hash / normalized paragraph
    # occurs ~30k times. The de-skewed operators (map-side-partial
    # groupBy, max_df cap BEFORE the join-back, AQE skew-split on the
    # join) must run ~flat vs the skew-free corpus — the old
    # Window.partitionBy(content-key) shape would serialize those 30k
    # (at web scale, 10^8) rows through one task.
    mega_scale = int(os.environ.get("MEGA_SCALE", "20"))
    clean = scaled_docs(spark, mega_scale).localCheckpoint()
    n_clean = clean.count()
    banner = " ".join(f"bannertok{i}" for i in range(20))
    planted = clean.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 10 < 3,
            F.concat(F.col("text"), F.lit("\n\n" + banner)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    ).localCheckpoint()
    mega: dict = {"n_docs": n_clean, "dup_frac": 0.3, "ops": {}}
    for name, fn in {
        "substring_rolling": lambda d: _sub(d),
        "paragraph_dedup": lambda d: dd.paragraph_dedup(d).count(),
    }.items():
        t_clean = timed(lambda: fn(clean))
        t_mega = timed(lambda: fn(planted))
        mega["ops"][name] = {
            "wall_clean_s": t_clean,
            "wall_megadup_s": t_mega,
            "skew_wall_ratio": round(t_mega / t_clean, 2),
        }
    result["planted_megadup"] = mega

    # --- 5. sf1-equivalent absolute row (r03 VERDICT item 6) --------------
    # No sf1 parquet exists in this sandbox (TESTDATA.md ships
    # sf0.001/0.01/0.1), so the closest honest "true sf1 run" is the
    # dedup family ONCE at 10x the sf0.1 documents/embeddings tables —
    # the same deterministic mutually-dissimilar synthesis as section 1,
    # at exactly sf1's corpus volume. Absolute walls recorded; the
    # no-surprises gate compares against the x4 row scaled linearly
    # (ratio <= ~2x the size ratio covers the host's noise band).
    if os.environ.get("SF1_SECTION", "1") == "1":
        s10 = 10
        d10 = scaled_docs(spark, s10).localCheckpoint()
        e10 = scaled_embeddings(spark, s10).localCheckpoint()
        n_d10, n_v10 = d10.count(), e10.count()
        sf1: dict = {"n_docs": n_d10, "n_vecs": n_v10, "ops": {}}
        sf1_ops = {
            "minhash_dedup": lambda: dd.minhash_dedup(
                d10, k=16, bands=4, threshold=0.8
            ).count(),
            "simhash_pairs": lambda: dd.simhash_dedup(
                d10, max_hamming=3, bits=64
            ).count(),
            "substring_rolling": lambda: _sub(d10),
            "paragraph_dedup": lambda: dd.paragraph_dedup(d10).count(),
            "embedding_lsh": lambda: dd.embedding_near_dup_lsh(
                e10, threshold=0.9, planes=max(4, (n_v10 // 128).bit_length())
            ).count(),
            "semdedup": lambda: dd.semdedup(
                e10, sim.hash_bucket_centroids(e10, k=max(4, n_v10 // 2048)),
                threshold=0.9,
            ).filter("NOT kept").count(),
            "bpe_train4": lambda: bp.bpe_train(
                d10, n_merges=4, min_pair_freq=2
            ).count(),
        }
        for name, fn in sf1_ops.items():
            sf1["ops"][name] = {"wall_s": timed(fn, warm=False, reps=1)}
            # project from the SMALLEST measured leg, using ITS scale as
            # the divisor (hardcoding "x4" with SCALES[0] corrupts the
            # gate whenever SCALES is overridden: SCALES="2,4" would
            # halve the linear prediction and let a 2x super-linear
            # blowup read as ~1.0)
            lo_scale = SCALES[0]
            base = result["ops"].get(name, {}).get(f"x{lo_scale}")
            if base:
                pred_linear = base["wall_s"] * (s10 / lo_scale)
                sf1["ops"][name][f"vs_linear_from_x{lo_scale}"] = round(
                    sf1["ops"][name]["wall_s"] / pred_linear, 2
                )
        result["sf1_equivalent"] = sf1

    # --- 6. bpe inference tokenizer: per-token cost vs merge count --------
    # The claim under test (operators/bpe.py:bpe_tokenize): the Arrow
    # rank-replay tokenizer's wall is O(corpus tokens), INDEPENDENT of
    # merge-table size — the fold path (apply_merges_col) is the
    # contrast, its expression depth (and per-token work) growing
    # linearly with n_merges. Three tables on the same corpus: 4 real
    # merges, 24 real merges, and 24 real + 4072 never-firing pad
    # merges (synthetic symbol pairs absent from the corpus — a larger
    # table must cost only dict residency, not per-token work).
    docs_b = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text")
        .repartition(64)
        .localCheckpoint()
    )
    m24 = bp.bpe_train(docs_b, n_merges=24, min_pair_freq=2).localCheckpoint()
    m4 = m24.filter("step <= 4").localCheckpoint()
    pad = spark.range(25, 4097).select(
        F.col("id").cast("int").alias("step"),
        F.concat(F.lit("q"), F.col("id")).alias("left"),
        F.concat(F.lit("z"), F.col("id")).alias("right"),
        F.concat(F.lit("q"), F.col("id"), F.lit("z"), F.col("id")).alias(
            "merged"
        ),
        F.lit(1).cast("long").alias("pair_freq"),
    )
    m4096 = m24.unionByName(pad).localCheckpoint()
    bpe_inf: dict = {
        "n_docs": docs_b.count(),
        "n_real_merges": m24.count(),
        "tokenize_wall_s": {},
        "fold_apply_wall_s": {},
    }
    for label, m in (("m4", m4), ("m24", m24), ("m4096", m4096)):
        bpe_inf["tokenize_wall_s"][label] = timed(
            lambda m=m: bp.bpe_tokenize(docs_b, m)
            .agg(F.sum("n_bpe_tokens"))
            .collect()
        )
    for label, m in (("m4", m4), ("m24", m24)):
        bpe_inf["fold_apply_wall_s"][label] = timed(
            lambda m=m: bp.bpe_apply(docs_b, m)
            .agg(F.sum("n_bpe_tokens"))
            .collect()
        )
    tw = bpe_inf["tokenize_wall_s"]
    fw = bpe_inf["fold_apply_wall_s"]
    # ~1.0 = flat (the contract); the fold ratio shows the alternative
    # genuinely pays per merge
    bpe_inf["tokenize_m4096_over_m4"] = round(tw["m4096"] / tw["m4"], 2)
    bpe_inf["fold_m24_over_m4"] = round(fw["m24"] / fw["m4"], 2)
    result["bpe_inference"] = bpe_inf

    # honest-coverage note (no silent caps): every leg above runs the
    # full synthesized corpus; the only bounded inputs are n_docs for
    # the long-doc legs and MEGA_SCALE for the planted leg, stated in
    # the JSON itself.

    out_path = os.path.join(REPO, "BENCH", "dedup_scaling.json")
    with open(out_path, "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
