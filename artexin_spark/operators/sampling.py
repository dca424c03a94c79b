"""Deterministic hash-based sampling and dataset splits.

Training-data pipelines can't use rand() sampling: reruns must select the
SAME rows (resume/idempotency), the selection must be reproducible across
engines for audits, and train/val/test membership must never drift
between runs. The standard production answer is content/id hashing —
a row's bucket is a pure function of its key — which also makes every
operator here exactly oracle-checkable in DuckDB (md5 agrees across
engines byte-for-byte; see operators/dedup.py).

Scale notes (100 TB): all three ops are a single projection — no shuffle,
no sampling pass, no count() pre-scan; filters push down to the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# 15 hex md5 chars (not 16): keeps the conv()/CAST path exact in both
# Spark and DuckDB (16 would hit the BIGINT sign bit)


def hash_bucket(col, buckets: int, salt: str = ""):
    """Deterministic bucket in [0, buckets) from any column's string form.

    ``salt`` decorrelates hashes across PURPOSES: every op in this module
    salts differently, because composing two ops driven by the SAME
    id-hash is degenerate — e.g. hash_split over a hash_sample'd corpus
    would put every surviving row in 'train' (sampled rows are exactly
    the low buckets, and the train cutoff covers them all), silently
    emptying val/test."""
    from .dedup import md5_int60

    c = F.col(col) if isinstance(col, str) else col
    key = c.cast("string")
    if salt:
        key = F.concat(F.lit(salt), key)
    return md5_int60(key) % buckets


def hash_sample(df: DataFrame, rate: float, id_col: str = "doc_id") -> DataFrame:
    """Keep a deterministic ~``rate`` fraction of rows by id hash.
    Rerunning (anywhere, any engine) selects the same rows."""
    return df.filter(
        hash_bucket(id_col, 1_000_000, "sample:") < round(rate * 1_000_000)
    )


def hash_split(
    df: DataFrame,
    weights: dict[str, float],
    id_col: str = "doc_id",
    out: str = "split",
) -> DataFrame:
    """Label every row with a deterministic split name ('train'/'val'/...).
    ``weights`` values must sum to 1; boundaries are cumulative-weight
    cutoffs over the id-hash bucket, so membership is stable under
    appends — a new row can't move an old row between splits."""
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError("split weights must sum to 1, got %s" % total)
    bucket = hash_bucket(id_col, 1_000_000, "split:")
    expr = None
    cum = 0.0
    items = list(weights.items())
    for name, w in items[:-1]:
        cum += w
        # round, not int(): 0.3+0.3 floats to 0.5999999999999999, and a
        # truncated cutoff would disagree with any independent reimplementation
        cond = bucket < round(cum * 1_000_000)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = items[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(F.lit(last))
    return df.withColumn(out, expr)


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    strata_col: str = "source",
    id_col: str = "doc_id",
    default_rate: float = 0.0,
) -> DataFrame:
    """Deterministic per-stratum sampling: keep ~``rates[stratum]`` of each
    stratum's rows by id hash (a source-mixture re-weighting pass —
    down-sample boilerplate-heavy crawls, keep all of the rare high-quality
    source). Strata not in ``rates`` sample at ``default_rate``.

    Scale notes: still a single projection + filter — no shuffle, no
    per-group count() pre-scan, pushes down to the scan. Membership is a
    pure function of (id, stratum rate), so reruns and other engines
    select identical rows, and raising a stratum's rate strictly grows
    its sample (nested samples: rate 0.1 ⊂ rate 0.2)."""
    bucket = hash_bucket(id_col, 1_000_000, "strata:")
    cutoff = None
    for name, r in rates.items():
        cond = F.col(strata_col) == name
        lit = F.lit(round(r * 1_000_000))
        cutoff = F.when(cond, lit) if cutoff is None else cutoff.when(cond, lit)
    cutoff = (
        F.lit(round(default_rate * 1_000_000))
        if cutoff is None
        else cutoff.otherwise(F.lit(round(default_rate * 1_000_000)))
    )
    return df.filter(bucket < cutoff)


def group_quota(
    df: DataFrame,
    n: int,
    strata_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic quota sampling: at most ``n`` rows per stratum,
    chosen by id-hash order (an unbiased, rerun-stable 'random N per
    group' — rand()-free). The cap-per-source guard against any single
    crawl dominating a training mix.

    Scale notes: one shuffle by stratum; the window sort is per-group.
    For few strata × huge groups, AQE skew handling splits the hot
    partitions; when n is small relative to group size the sort is the
    cost — a TopK-per-key (min_by over struct) variant trades exactness
    of ordering for an agg-only plan, not needed at tested scales."""
    from pyspark.sql import Window

    w = Window.partitionBy(strata_col).orderBy(
        F.md5(F.concat(F.lit("quota:"), F.col(id_col).cast("string"))), id_col
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n)
        .drop("_rn")
    )


def weighted_sample(
    df: DataFrame,
    weight_col,
    id_col: str = "doc_id",
    scale: float = 1.0,
    buckets: int = 1_000_000,
) -> DataFrame:
    """Keep each row with probability ``min(1, scale × weight)`` —
    quality-weighted downsampling (CCNet-style: keep the good tail,
    thin the boilerplate) that stays DETERMINISTIC: the coin is the
    row's id-hash uniform in [0,1), never rand(), so reruns keep the
    SAME rows and the op is exactly oracle-checkable cross-engine.
    A weight ≥ 1/scale always survives; weight 0 never does. Pure
    projection+filter — no shuffle, no pre-pass, pushes to the scan."""
    u = (
        hash_bucket(id_col, buckets, salt="wsample:").cast("double")
        / float(buckets)
    )
    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    return df.filter(u < F.least(F.lit(1.0), F.lit(float(scale)) * w))


def sequential_pack(
    df: DataFrame,
    max_tokens: int,
    id_col: str = "doc_id",
    n_tokens_col: str = "n_tokens",
    n_shards: int = 32,
) -> DataFrame:
    """Concatenate-and-chunk sequence packing: assign documents to
    fixed-budget training bins (the packing step before tokenized
    examples become ``max_tokens``-length sequences).

    Deterministic and shard-parallel: docs shard by id hash, each shard
    packs independently in (id order) by cumulative token count — a
    doc's bin is where its first token lands, ``floor((cumsum - n) /
    max_tokens)``. This is the production "concat-and-chunk" policy
    (GPT-style pretraining packing), not first-fit-decreasing: FFD is
    inherently sequential corpus-wide, while this is ONE window function
    per shard — embarrassingly parallel, same policy at any scale. Size
    ``n_shards`` like the pipeline's bucket count (each shard is one
    sort partition; 2^15 at 10^12 docs — 32 is a local-mode default).
    Oversized docs (n > max_tokens) still get a bin (they span several
    chunks downstream). Emits (id, shard, bin, offset) — offset is where
    the doc starts inside its bin's token stream."""
    from pyspark.sql.window import Window

    shard = hash_bucket(id_col, n_shards, salt="pack|")
    w = Window.partitionBy("shard").orderBy(id_col)
    toks = F.col(n_tokens_col).cast("long")
    out = (
        df.select(F.col(id_col), toks.alias("_n"), shard.alias("shard"))
        .withColumn("_cum", F.sum("_n").over(w))
        .select(
            F.col(id_col),
            "shard",
            F.floor((F.col("_cum") - F.col("_n")) / max_tokens)
            .cast("long")
            .alias("bin"),
            ((F.col("_cum") - F.col("_n")) % max_tokens).cast("long").alias("offset"),
        )
    )
    return out


def mixture_sample(
    df: DataFrame,
    weights: dict,
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic data-mixture construction: keep rows so the OUTPUT
    source proportions match ``weights`` (the pretraining-mixture step —
    e.g. {'web': 0.6, 'code': 0.3, 'books': 0.1}).

    The limiting source is used in full; every other source downsamples
    by id hash to its ratio-matched share. Needs ONE count aggregation
    over (source) — tiny — then a pure hash filter; rows of sources not
    in ``weights`` drop. Reruns keep the same rows (id-hash coin, no
    rand())."""
    if not weights or any(w <= 0 for w in weights.values()):
        raise ValueError("weights must be a non-empty dict of positive numbers")
    total_w = float(sum(weights.values()))
    counts = {
        r["src"]: r["n"]
        for r in df.groupBy(F.col(source_col).alias("src"))
        .agg(F.count("*").alias("n"))
        .collect()
        if r["src"] in weights
    }
    missing = [s for s in weights if s not in counts]
    if missing:
        raise ValueError(f"sources absent from the corpus: {missing}")
    # scale chosen so the scarcest source (relative to its weight) is
    # kept in full: output_total = min_s count_s / share_s
    out_total = min(counts[s] / (weights[s] / total_w) for s in weights)
    rates = {
        s: min(1.0, (weights[s] / total_w) * out_total / counts[s])
        for s in weights
    }
    bucket = hash_bucket(id_col, 1_000_000, salt="mix|")
    conds = None
    for s, rate in rates.items():
        # floor (not round): the oracle floors too, and identical IEEE
        # doubles then yield identical thresholds on both engines
        c = (F.col(source_col) == s) & (bucket < int(rate * 1_000_000))
        conds = c if conds is None else (conds | c)
    return df.filter(conds)


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_tokens: int = 512,
    stride: int | None = None,
) -> DataFrame:
    """Sliding-window document chunking over the token stream — the prep
    step that turns variable-length documents into bounded training
    sequences (with ``stride < max_tokens`` adjacent chunks overlap by
    ``max_tokens - stride`` tokens so no span is lost at a boundary).
    Chunk i covers tokens [i·stride, i·stride + max_tokens); starts are
    emitted while they fall inside the document, so the final chunk may
    be short. Chunk text is the space-joined token slice (chunking is
    over the TOKEN stream, as in LLM pretraining — original whitespace
    is not preserved). Empty documents produce no chunks.

    Scale shape: one projection (tokenize once) + one explode — no
    shuffle, no window, no Python; the per-doc chunk count is
    ceil(n_tokens/stride), so output size is linear in corpus tokens.
    Returns (id, chunk_idx, n_chunk_tokens, chunk_text)."""
    from .dedup import tokens_col

    if stride is None:
        stride = max_tokens
    if stride <= 0 or max_tokens <= 0:
        raise ValueError("max_tokens and stride must be positive")
    if stride > max_tokens:
        # chunk i ends at i*stride + max_tokens < (i+1)*stride: tokens in
        # the gap would silently vanish from the training data
        raise ValueError(
            f"stride ({stride}) > max_tokens ({max_tokens}) would drop "
            "the tokens between consecutive chunks"
        )
    toks = df.select(F.col(id_col), tokens_col(text_col).alias("_toks"))
    n = F.size("_toks")
    chunks = F.when(
        n > 0,
        F.transform(
            F.sequence(F.lit(0), F.floor((n - 1) / stride).cast("int")),
            lambda i: F.struct(
                i.alias("chunk_idx"),
                F.slice(F.col("_toks"), i * stride + 1, max_tokens).alias(
                    "_ctoks"
                ),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<chunk_idx:int,_ctoks:array<string>>>"))
    return toks.select(F.col(id_col), F.explode(chunks).alias("c")).select(
        F.col(id_col),
        F.col("c.chunk_idx"),
        F.size("c._ctoks").alias("n_chunk_tokens"),
        F.array_join("c._ctoks", " ").alias("chunk_text"),
    )


def token_budget_sample(
    df: DataFrame,
    budget: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str | None = None,
    n_buckets: int = 256,
    salt: str = "tokbudget",
) -> DataFrame:
    """Greedy token-budget sampling — keep documents, in a deterministic
    id-hash order, until each source's cumulative token count reaches
    ``budget`` — how a training mixture is cut to "N tokens of source X"
    (the data-recipe operator next to ``mixture_sample``'s ratio cut).
    A row is kept iff its INCLUSIVE prefix sum ≤ budget; a row that
    would cross the budget is dropped and the prefix continues past it
    (greedy prefix, so the budget is a hard cap, not a target). Hash
    order (md5 over salt+id) makes the cut content-deterministic: the
    kept set is exactly a per-source prefix of the deterministic hash
    order, stable across re-runs and engine replays of the SAME corpus.
    Appends are NOT subset-stable: a new doc can hash earlier than
    existing ones, raising later rows' prefix sums and evicting
    previously-kept rows — only prefix-consistency is guaranteed
    (pinned as such in tests).

    Scale shape — the distributed prefix sum, NOT one window per source
    (a window partitioned only by source puts a whole source's rows in
    ONE task — a 10-source 100 TB corpus would use 10 reducers): rows
    land in ``n_buckets`` hash-ORDER-ALIGNED buckets (first md5 byte,
    so bucket order == key order); per-(source,bucket) sums reduce in
    one tiny agg; bucket offsets cumsum over the ≤ S·n_buckets-row
    summary (tiny window); the per-row cumsum window partitions by
    (source, bucket) — max task ≈ N/(S·n_buckets), dialed by
    ``n_buckets``. The final cum is offset + within-bucket cum ==
    the global prefix sum, which the SQL oracle computes directly
    with one flat window.

    ``source_col=None`` treats the corpus as one source. Returns
    (id, [source,] n_tokens, cum_tokens) for the kept rows."""
    from pyspark.sql import Window

    from .dedup import tokens_col

    if budget <= 0:
        raise ValueError("budget must be positive")
    if not 1 <= n_buckets <= 256:
        raise ValueError("n_buckets must be in [1, 256]")
    src = (
        F.col(source_col) if source_col else F.lit("__all__").alias("_src")
    )
    base = df.select(
        F.col(id_col),
        src.alias("_src"),
        F.size(tokens_col(text_col)).cast("long").alias("n_tokens"),
        F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))).alias(
            "_hkey"
        ),
    ).withColumn(
        # first md5 byte scaled to n_buckets: bucket order == hkey order
        "_bkt",
        (F.conv(F.substring("_hkey", 1, 2), 16, 10).cast("int") * n_buckets / 256)
        .cast("int"),
    )
    bsums = base.groupBy("_src", "_bkt").agg(
        F.sum("n_tokens").alias("_bsum")
    )
    woff = (
        Window.partitionBy("_src")
        .orderBy("_bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = bsums.withColumn(
        "_off", F.coalesce(F.sum("_bsum").over(woff), F.lit(0))
    ).select("_src", "_bkt", "_off")
    win = (
        Window.partitionBy("_src", "_bkt")
        .orderBy("_hkey", id_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = (
        base.join(F.broadcast(offsets), ["_src", "_bkt"])
        .withColumn("cum_tokens", F.col("_off") + F.sum("n_tokens").over(win))
        .filter(F.col("cum_tokens") <= budget)
    )
    cols = [F.col(id_col)]
    if source_col:
        cols.append(F.col("_src").alias(source_col))
    return out.select(*cols, "n_tokens", "cum_tokens")


def _microunits(col):
    """Recover the exact int64 micro-unit value from a double that IS
    s/1e6 for integer s (the module's half-up convention,
    floor(x·1e6 + 0.5)) — a bare ``cast('long')`` truncates
    ``(s/1e6)·1e6`` one unit low for ~2% of values. Single source of
    the quantization idiom for dsir_select's Gumbel key and
    dsir_threshold's histogram weight."""
    return F.floor(col * 1_000_000.0 + F.lit(0.5)).cast("long")


def _dsir_lambda(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    n: int = 2,
    n_buckets: int = 64,
    alpha: float = 1.0,
) -> tuple[list[float], list[int]]:
    """The DSIR bucket log-ratio model: λ[b] = ln p̂_target[b] −
    ln p̂_raw[b] over md5-hashed n-gram buckets with add-``alpha``
    smoothing. Each corpus contributes one explode → groupBy(bucket)
    aggregation (map-side partial combine; only k rows per corpus reach
    the driver — model state, not data). Returns (λ floats, λ in
    integer micro-units via floor(λ·1e6 + 0.5) — exposed separately so
    tests can audit the quantization margin against cross-engine ln
    ulp drift)."""
    import math

    from .dedup import shingles_from, tokens_col
    from .textstats import _ngram_bucket

    if n_buckets < 1 or n < 1:
        raise ValueError("n and n_buckets must be >= 1")
    if not alpha > 0:
        raise ValueError("alpha must be > 0 (smoothing pseudo-count)")
    k = n_buckets

    def _bucket_counts(df: DataFrame) -> dict[int, int]:
        rows = (
            df.select(tokens_col(text_col).alias("_toks"))
            .select(F.explode(shingles_from("_toks", n)).alias("_g"))
            .filter(F.col("_g").isNotNull())  # null text -> [null] shingle
            .groupBy(_ngram_bucket(F.col("_g"), k).alias("_b"))
            .agg(F.count("*").alias("_c"))
            .collect()  # k rows — model state, not data
        )
        return {int(r["_b"]): int(r["_c"]) for r in rows}

    ct, cr = _bucket_counts(target), _bucket_counts(raw)
    tt, tr = sum(ct.values()), sum(cr.values())
    if tr == 0:
        raise ValueError("raw corpus has no n-grams")
    if tt == 0:
        raise ValueError("target corpus has no n-grams")
    lam = [
        math.log((ct.get(b, 0) + alpha) / (tt + alpha * k))
        - math.log((cr.get(b, 0) + alpha) / (tr + alpha * k))
        for b in range(k)
    ]
    return lam, [math.floor(x * 1_000_000.0 + 0.5) for x in lam]


def dsir_importance(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
    n_buckets: int = 64,
    alpha: float = 1.0,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, arXiv:2302.03169 —
    "Data Selection for Language Models via Importance Resampling"):
    score every ``raw`` document by how much its hashed n-gram
    distribution looks like ``target``'s (the quality corpus — the
    paper's Wikipedia/books side) versus ``raw``'s own background. Per
    document, log w = Σ_g λ[bucket(g)], where λ[b] =
    ln(p_target[b]) − ln(p_raw[b]) over ``n_buckets`` md5-hashed n-gram
    buckets with add-``alpha`` smoothing — the paper's bag-of-hashed-
    ngrams importance estimator, the standard distribution-matching
    data-selection step between heuristic quality filters and training.

    Engine-exact: λ quantizes ONCE on the driver to integer micro-units
    (floor(λ·1e6 + 0.5), the `_round6_engine_exact` convention from
    textstats), so the per-document score is an exact int64 sum —
    independent of summation order, bit-reproducible in any engine; the
    DuckDB oracle recomputes λ from the same integer bucket counts (ln
    of identical rational arguments — the `unigram_lm` precedent) and
    the quantization margin is audit-tested far above double ulp.

    Scale shape (100 TB raw corpus): each corpus contributes ONE
    explode → groupBy(bucket) aggregation — map-side partial combine
    collapses it to ``n_buckets`` rows per partition before the (tiny)
    shuffle, and only the two k-row count tables ever reach the driver
    (model state, same seam as ``textstats.hashed_ngram_fit``). Scoring
    is a PURE projection — the λ vector ships as a literal array inside
    the plan (zero joins, zero shuffle, zero Python; above ~10^5
    buckets swap the literal for a weight-table join, the
    ``hashed_ngram_score_table`` seam). Null/empty texts score through
    in-band: null text → [null] gram → null log_w, never an error row.

    Returns (id, n_grams int, log_w double), log_w an exact multiple of
    1e-6."""
    from .dedup import shingles_from, tokens_col

    k = n_buckets
    _, ilam = _dsir_lambda(
        raw, target, text_col=text_col, n=n, n_buckets=n_buckets, alpha=alpha
    )
    from .textstats import _bucket_literal_sum

    grams = F.col("_grams")
    return (
        raw.withColumn("_toks", tokens_col(text_col))
        .withColumn("_grams", shingles_from("_toks", n))
        .select(
            F.col(id_col),
            F.size(grams).alias("n_grams"),
            (
                _bucket_literal_sum(grams, ilam, k).cast("double")
                / 1_000_000.0
            ).alias("log_w"),
        )
    )


def dsir_select(
    raw: DataFrame,
    target: DataFrame,
    k_docs: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
    n_buckets: int = 64,
    alpha: float = 1.0,
    mode: str = "topk",
    salt: str = "dsir",
) -> DataFrame:
    """Select ``k_docs`` documents from ``raw`` by DSIR importance
    (``dsir_importance`` above). Two selection rules:

    - ``mode='topk'`` — deterministic top-k by (log_w DESC, id ASC):
      the greedy distribution-matching cut, exactly SQL-expressible
      (the oracle-gated path).
    - ``mode='gumbel'`` — the paper's importance RESAMPLING without
      replacement via the Gumbel-top-k trick: key = log_w + Gumbel
      noise, noise derived deterministically from md5(salt|id) (h
      folded to 50 bits so u = (h + 0.5)/2^50 is an EXACT double
      strictly inside (0, 1) — no null-ln edge; g = −ln(−ln u),
      quantized to micro-units), so the "random" sample is
      content-keyed — identical across reruns, resumes, and engines,
      like every sampler in this module.

    Scale shape: selection is Spark's TakeOrderedAndProject — each
    partition keeps its local top-k, only k·P candidate rows move (no
    global sort of the corpus). k_docs is a driver-materialized result
    by definition (it's the selected set), so k must be
    driver-friendly; for billion-row cuts use ``dsir_threshold`` below
    — the fraction cut via an order-aligned weight histogram, provably
    the same set as top-ceil(frac·N) without materializing it."""
    # validate BEFORE the importance model runs its two corpus aggs —
    # a typo'd mode must fail instantly, not after a 100 TB scan
    if k_docs < 1:
        raise ValueError("k_docs must be >= 1")
    if mode not in ("topk", "gumbel"):
        raise ValueError(f"mode must be 'topk' or 'gumbel', not {mode!r}")
    imp = dsir_importance(
        raw, target, text_col=text_col, id_col=id_col, n=n,
        n_buckets=n_buckets, alpha=alpha,
    )
    if mode == "topk":
        return imp.orderBy(F.desc("log_w"), F.asc(id_col)).limit(k_docs)
    from .dedup import md5_int60

    # fold the 60-bit hash to 50 bits: x + 0.5 is exact below 2^52 and
    # u < 1 strictly, so -ln(-ln u) can never hit the null-ln edge
    h = md5_int60(F.concat(F.lit(salt + "|"), F.col(id_col).cast("string")))
    u = ((h % F.lit(2**50)).cast("double") + 0.5) / float(2**50)
    gum = F.floor(-F.log(-F.log(u)) * 1_000_000.0 + F.lit(0.5)).cast("long")
    key = _microunits(F.col("log_w")) + gum
    return (
        imp.withColumn("_key", key)
        .orderBy(F.desc("_key"), F.asc(id_col))
        .limit(k_docs)
        .drop("_key")
    )


def dsir_threshold(
    raw: DataFrame,
    target: DataFrame,
    frac: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
    n_buckets: int = 64,
    alpha: float = 1.0,
    weight_buckets: int = 1024,
) -> DataFrame:
    """Fraction-based DSIR cut — the documented above-top-k seam of
    ``dsir_select``: keep the top ``frac`` of ``raw`` by importance
    weight WITHOUT ever sorting the corpus. Output is provably the same
    set as ``dsir_select(..., k_docs=ceil(frac·N), mode='topk')`` —
    log_w is s/1e6 for an exact int64 s, the mapping is injective and
    monotone at these magnitudes, and both paths share the
    (weight DESC, id ASC) order — pinned by a parity test.

    Scale shape (the reason this exists next to top-k): ``dsir_select``
    materializes k rows on the driver, fine for k in the thousands but
    not for "keep the best 10% of 10^10 docs". Here the corpus never
    globally sorts; the plan is the ``token_budget_sample`` two-phase
    pattern transposed to weights:

    1. one narrow agg finds (N, min_w, max_w); k = ceil(frac·N);
    2. weights histogram into ≤ ``weight_buckets`` ORDER-ALIGNED
       buckets (high bits of max_w − w, so bucket order == weight
       order) — one map-side-partial agg, ≤ weight_buckets rows, the
       boundary bucket + exact rank-before found driver-side (bounded
       model state, like every k-row argmax in the engine);
    3. everything in strictly-higher buckets passes by pure FILTER;
       only the ONE boundary bucket (≈ N/weight_buckets rows) pays a
       TakeOrderedAndProject for its tie-exact trim. Caveat: identical
       weights always share a bucket no matter how fine the histogram,
       so a massive tie RUN at the cut (e.g. 20% of the corpus
       bit-identical boilerplate) makes the boundary bucket — and the
       trim's k — that large; dedup upstream, or accept the whole tie
       run with a plain ``log_w >= t`` filter, if exact-k at a tie cliff
       matters at 10^10 docs.

    The three passes over the scored frame share one lazily checkpointed
    narrow projection (without it each pass recomputes the scoring;
    the first driver-side agg fills the blocks). Null-text
    docs (null log_w) are excluded from N and the cut — they cannot
    rank. Returns (id, n_grams, log_w) like ``dsir_select``."""
    import math

    if not 0.0 < frac <= 1.0:
        raise ValueError(f"frac must be in (0, 1], not {frac}")
    if weight_buckets < 1:
        raise ValueError("weight_buckets must be >= 1")
    imp = dsir_importance(
        raw, target, text_col=text_col, id_col=id_col, n=n,
        n_buckets=n_buckets, alpha=alpha,
    )
    scored = (
        imp.filter(F.col("log_w").isNotNull())
        .withColumn("_w", _microunits(F.col("log_w")))
        .localCheckpoint(eager=False)
    )
    head = scored.agg(
        F.count("*").alias("n"), F.min("_w").alias("lo"), F.max("_w").alias("hi")
    ).collect()[0]  # 1 row — model state
    n_scored = int(head["n"])
    if n_scored == 0:
        raise ValueError("no scored documents (all-null text?)")
    k = min(n_scored, max(1, math.ceil(frac * n_scored)))
    lo, hi = int(head["lo"]), int(head["hi"])
    span = hi - lo + 1
    shift = 0
    # max bucket index is (span-1) >> shift — keep it < weight_buckets
    while ((span - 1) >> shift) >= weight_buckets:
        shift += 1
    bucket = F.shiftright(F.lit(hi) - F.col("_w"), shift)
    counts = sorted(
        (
            (int(r["_b"]), int(r["c"]))
            for r in scored.groupBy(bucket.alias("_b"))
            .agg(F.count("*").alias("c"))
            .collect()  # <= weight_buckets rows — model state
        )
    )
    cum_before, boundary_b = 0, counts[-1][0]
    for b, c in counts:
        if cum_before + c >= k:
            boundary_b = b
            break
        cum_before += c
    keep_above = scored.filter(bucket < boundary_b)
    boundary = (
        scored.filter(bucket == boundary_b)
        .orderBy(F.desc("_w"), F.asc(id_col))
        .limit(k - cum_before)
    )
    return keep_above.unionByName(boundary).select(id_col, "n_grams", "log_w")
