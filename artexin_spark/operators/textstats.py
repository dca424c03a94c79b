"""Text analysis operators: language ID, quality scoring, token counting,
document fingerprinting — all native Catalyst expressions (zero Python in
the hot path), each with an exact DuckDB oracle in __spark_entry__.py.

These run over the ``documents`` table shape (doc_id, text, lang, source,
n_chars) and over extracted transcript text alike.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .dedup import tokens_col

# Marker stopwords per language — the classic cheap language-ID heuristic:
# score = |tokens ∩ markers|, normalized by token count. CJK handled by
# codepoint-range density since it doesn't tokenize on whitespace.
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "was", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "von", "mit", "den", "zu"],
    "fr": ["le", "la", "les", "et", "de", "des", "est", "une", "dans", "que"],
    "es": ["el", "la", "los", "las", "de", "que", "es", "en", "un", "por"],
}
CJK_RE = r"[一-鿿]"

STOPWORDS_EN = LANG_MARKERS["en"] + ["a", "an", "as", "at", "by", "on", "with"]


def lang_scores(text_col: str = "text", tokens=None):
    """Struct of per-language marker-hit ratios + cjk density.

    ``tokens`` names a pre-projected ``array<string>`` tokens Column to
    use instead of re-splitting ``text_col`` — the same no-CSE-with-
    lambdas seam as shingles_from: every reference to an inline
    tokens_col() re-runs the regex split per row (lambda variables make
    textually-identical trees non-semantically-equal, and `when`
    branches exclude them from codegen subexpression elimination)."""
    toks = tokens if tokens is not None else tokens_col(text_col)
    n = F.greatest(F.size(toks), F.lit(1))
    fields = [
        (
            F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in words])))
            / n
        ).alias(lang)
        for lang, words in LANG_MARKERS.items()
    ]
    cjk = (
        F.length(F.regexp_replace(F.col(text_col), r"[^一-鿿]", ""))
        / F.greatest(F.length(F.col(text_col)), F.lit(1))
    ).alias("zh")
    return F.struct(*fields, cjk)


def best_lang_struct(text_col: str = "text", tokens=None):
    """struct<score, lang> of the argmax language: Spark compares structs
    lexicographically, so greatest(struct(score, lang)) picks the
    best-scoring language with a deterministic lang tie-break."""
    scores = lang_scores(text_col, tokens)
    langs = list(LANG_MARKERS.keys()) + ["zh"]
    return F.greatest(
        *[
            F.struct(
                F.round(scores.getField(l), 6).alias("score"), F.lit(l).alias("lang")
            )
            for l in langs
        ]
    )


def lang_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    # stage the split tokens AND the argmax struct as real columns: the
    # final select references _best three times, and an inline expression
    # would re-run the whole marker-intersect battery (plus its token
    # split) once per reference — CollapseProject keeps a multiply-
    # referenced non-cheap projection in its own stage, so each computes
    # once per row (same fix as the shingles_from pattern)
    staged = df.withColumn("_toks", tokens_col(text_col)).select(
        F.col(id_col),
        best_lang_struct(text_col, tokens=F.col("_toks")).alias("_best"),
    )
    score = F.col("_best").getField("score")
    return staged.select(
        F.col(id_col),
        # zero evidence = no prediction: with every score tied at 0 the
        # lexicographic tie-break would confidently label unknown/empty
        # documents as the max lang STRING ('zh'), skewing any language
        # mixture built on pred_lang
        F.when(score > 0, F.col("_best").getField("lang")).alias("pred_lang"),
        score.alias("lang_score"),
    )


def quality_features(text_col: str = "text", tokens=None):
    """The standard cheap quality signals (C4/Gopher-style rules):
    length, word stats, punctuation/uppercase/digit ratios, stopword
    ratio, mean word length — every one a native expression. ``tokens``:
    see lang_scores (pre-projected tokens column seam)."""
    text = F.col(text_col)
    toks = tokens if tokens is not None else tokens_col(text_col)
    n_chars = F.length(text)
    n_words = F.size(toks)
    safe_chars = F.greatest(n_chars, F.lit(1)).cast("double")
    safe_words = F.greatest(n_words, F.lit(1)).cast("double")
    mean_word_len = F.aggregate(
        toks, F.lit(0), lambda acc, t: acc + F.length(t)
    ) / safe_words
    punct_ratio = F.length(F.regexp_replace(text, r"[^.,;:!?]", "")) / safe_chars
    upper_ratio = F.length(F.regexp_replace(text, r"[^A-Z]", "")) / safe_chars
    digit_ratio = F.length(F.regexp_replace(text, r"[^0-9]", "")) / safe_chars
    stop_ratio = (
        F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in STOPWORDS_EN])))
        / safe_words
    )
    return {
        "n_chars": n_chars,
        "n_words": n_words,
        "mean_word_len": mean_word_len,
        "punct_ratio": punct_ratio,
        "upper_ratio": upper_ratio,
        "digit_ratio": digit_ratio,
        "stopword_ratio": stop_ratio,
    }


def quality_expr(text_col: str = "text", tokens=None):
    """The composite [0,1] quality score as a single column expression:
    length sweet-spot, word-length plausibility, punctuation presence,
    not-all-caps, low digit noise. ``tokens``: see lang_scores."""
    f = quality_features(text_col, tokens)
    score = (
        F.when(f["n_words"] >= 10, F.lit(0.25)).otherwise(f["n_words"] / 40.0)
        + F.when(
            (f["mean_word_len"] >= 3) & (f["mean_word_len"] <= 10), F.lit(0.25)
        ).otherwise(F.lit(0.0))
        + F.least(f["punct_ratio"] * 5, F.lit(0.25))
        + F.when(
            (f["upper_ratio"] < 0.3) & (f["digit_ratio"] < 0.3), F.lit(0.25)
        ).otherwise(F.lit(0.0))
    )
    return F.round(score, 6)


def _quality_from_feature_cols():
    """quality_expr rebuilt over the ALREADY-PROJECTED feature columns —
    bitwise the same floats (the feature columns ARE those expressions),
    but the when-branches reference cheap attributes instead of
    re-deriving token splits and regex counts per branch."""
    score = (
        F.when(F.col("n_words") >= 10, F.lit(0.25)).otherwise(
            F.col("n_words") / 40.0
        )
        + F.when(
            (F.col("mean_word_len") >= 3) & (F.col("mean_word_len") <= 10),
            F.lit(0.25),
        ).otherwise(F.lit(0.0))
        + F.least(F.col("punct_ratio") * 5, F.lit(0.25))
        + F.when(
            (F.col("upper_ratio") < 0.3) & (F.col("digit_ratio") < 0.3),
            F.lit(0.25),
        ).otherwise(F.lit(0.0))
    )
    return F.round(score, 6)


def quality_score(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    # two-stage projection: tokens once, features once, then the composite
    # score from the feature COLUMNS (identical floats, zero re-derivation)
    f = quality_features(text_col, tokens=F.col("_toks"))
    cols = [F.col(id_col)] + [v.alias(k) for k, v in f.items()]
    base = df.withColumn("_toks", tokens_col(text_col)).select(*cols)
    return base.withColumn("quality", _quality_from_feature_cols())


def token_counts(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Whitespace word count + BPE-ish subword count (regex: letter runs /
    digits / single non-space symbols — a deterministic proxy for BPE
    token budgeting)."""
    text = F.col(text_col)
    ws_count = F.size(F.filter(F.split(text, r"\s+"), lambda t: t != ""))
    bpe_count = F.size(
        F.regexp_extract_all(text, F.lit(r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"), 0)
    )
    return df.select(
        F.col(id_col),
        ws_count.alias("n_words_ws"),
        bpe_count.alias("n_tokens_bpe"),
    )


def fingerprint(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Two fingerprints per doc:
    - content_md5: md5 of ws-normalized lowercase text (exact identity)
    - winnow_fp:   min md5 over rolling 8-token windows (robust rolling-
      hash fingerprint — equal docs with small local edits still collide
      with high probability on some window)."""
    win = 8
    # project tokens first: inlining makes Catalyst re-split the text once
    # per window index (no CSE inside lambdas) — measured 6× slowdown
    toks = F.col("_toks")
    windows = F.when(
        F.size(toks) >= win,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - win),
            lambda i: F.md5(F.array_join(F.slice(toks, i + 1, win), " ")),
        ),
    ).otherwise(F.array(F.md5(F.array_join(toks, " "))))
    from .dedup import norm_md5

    return df.withColumn("_toks", tokens_col(text_col)).select(
        F.col(id_col),
        # norm_md5 IS the engine's content-identity contract (exact_dedup's
        # key, oracle-pinned) — share it, never re-spell it
        norm_md5(text_col).alias("content_md5"),
        F.array_min(windows).alias("winnow_fp"),
    )


def top_terms(
    df: DataFrame, text_col: str = "text", k: int = 20, min_len: int = 1
) -> DataFrame:
    """Corpus-level term frequencies, native explode → hash-agg → top-k
    (partial aggregation map-side; the reference's index.py:188-204 at
    corpus scale)."""
    terms = df.select(F.explode(tokens_col(text_col)).alias("term")).filter(
        F.length("term") >= min_len
    )
    return (
        terms.groupBy("term")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("term"))
        .limit(k)
    )


def bm25_rank(
    df: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    topk: int = 10,
    pretokenized_col: str | None = None,
) -> DataFrame:
    """BM25 ranking of the corpus for a bag-of-terms query (Robertson/
    Sparck-Jones idf, the standard k1/b saturation) — the retrieval leg
    a curation pipeline uses for targeted corpus slices ("find the docs
    about X") next to the embedding ANN path.

    ``pretokenized_col`` names an existing ``array<string>`` tokens
    column to use instead of tokenizing ``text_col`` — the many-queries
    seam: tokenize (and checkpoint) the corpus once, then every query's
    two passes read the narrow checkpointed tokens instead of re-splitting
    the fat text twice per query.

    Scale shape: per-term tf is a native array filter over a projected
    tokens column (no explode of the corpus for a handful of query
    terms); the corpus stats the formula needs (N, avgdl, per-term df)
    reduce in one aggregate to a single row that broadcast-crossjoins
    back — zero shuffles of documents, one scalar exchange, then a
    global top-k (TakeOrdered, no full sort). The corpus IS tokenized
    twice (the stats branch and the scoring branch are different plan
    subtrees, so no exchange reuse — the unavoidable two-pass shape of
    any global-statistics score); both passes prune to the narrow
    (id, dl, tf…) projection, and a caller running MANY queries against
    one corpus should checkpoint that projection once and pass it in via
    ``text_col`` precomputation. ln() on integer counts keeps idf
    reproducible in any engine.

    Scoring: sum over query terms of
        idf_t · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)),
    idf_t = ln(1 + (N − df_t + 0.5)/(df_t + 0.5)). Docs matching no
    term score 0 and are excluded. Returns (id, score, rank)."""
    terms = sorted({str(t).lower() for t in query_terms})
    if not terms:
        raise ValueError("query_terms must be non-empty")
    def _tf(term: str):
        # NB: a factory, not a default-arg lambda — pyspark binds EVERY
        # lambda parameter as a lambda variable (a 2-arg filter lambda
        # receives (element, index)), so `lambda t, term=term:` would
        # silently compare tokens against the array INDEX
        return F.size(F.filter("_toks", lambda t: t == F.lit(term)))

    toks_expr = (
        F.col(pretokenized_col) if pretokenized_col else tokens_col(text_col)
    )
    toked = df.select(F.col(id_col), toks_expr.alias("_toks")).select(
        F.col(id_col),
        F.size("_toks").alias("_dl"),
        *[_tf(term).alias(f"_tf{i}") for i, term in enumerate(terms)],
    )
    stats = toked.agg(
        F.count("*").alias("_n"),
        F.avg("_dl").alias("_avgdl"),
        *[
            F.sum((F.col(f"_tf{i}") > 0).cast("long")).alias(f"_df{i}")
            for i in range(len(terms))
        ],
    )
    scored = toked.join(F.broadcast(stats))
    score = None
    for i in range(len(terms)):
        tf = F.col(f"_tf{i}").cast("double")
        idf = F.log(
            F.lit(1.0)
            + (F.col("_n") - F.col(f"_df{i}") + F.lit(0.5))
            / (F.col(f"_df{i}") + F.lit(0.5))
        )
        part = idf * tf * (k1 + 1) / (
            tf + k1 * (1 - b + b * F.col("_dl") / F.col("_avgdl"))
        )
        score = part if score is None else score + part
    ranked = (
        scored.select(F.col(id_col), score.alias("score"))
        .filter(F.col("score") > 0)
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(topk)
    )
    from pyspark.sql.window import Window

    # rank over the RAW score (rounding only the output): ranking the
    # rounded value would tie-break near-equal scores differently from
    # any engine that ranks raw then rounds — a cross-engine rank flip
    # for scores within 5e-7 of each other
    w = Window.orderBy(F.desc("score"), F.asc(id_col))
    return ranked.withColumn("rank", F.row_number().over(w)).select(
        id_col, F.round("score", 6).alias("score"), "rank"
    )


def bm25_rank_multi(
    df: DataFrame,
    queries: dict[str, list[str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    topk: int = 10,
    pretokenized_col: str | None = None,
) -> DataFrame:
    """BM25 for MANY queries in ONE corpus pass — the batch shape a
    curation pipeline slicing for hundreds of topics needs (r03-verdict
    item 4: ``bm25_rank`` runs one query per job pair; Q queries would
    re-tokenize the corpus 2Q times).

    Scale shape: the corpus tokenizes ONCE into a narrow (id, dl, toks)
    projection (lazily checkpointed — the stats branch and the posting
    branch both read its blocks, so the plan's two scans are one runtime
    pass); tokens explode and immediately broadcast-semi-join against
    the distinct query-term set, so only query-relevant postings survive
    into the (id, term, tf) hash-agg, itself lazily checkpointed so the
    explode and the agg run once for both the df count and the scoring
    (building it runs the agg's shuffle stage under AQE). Corpus stats
    (N, avgdl) reduce to one broadcast row, per-term df to one broadcast
    frame, and the query_id fan-out happens AFTER the posting agg (a term
    shared by many queries multiplies narrow posting rows, never
    documents).
    Per-query top-k is a rank-filtered window — Spark's WindowGroupLimit
    rewrites it to a map-side per-partition limit, so at most
    partitions×topk rows shuffle per query (plan-gated).

    Determinism: per-(query, doc) scores fold over term parts in SORTED
    term order via a sequential ``aggregate`` — the same IEEE addition
    sequence ``bm25_rank`` evaluates and any oracle engine can replay
    (a plain SUM aggregate is order-nondeterministic in the 16th digit).
    A single-entry ``queries`` dict reproduces ``bm25_rank``'s scores
    bit-for-bit (pinned by a parity test).

    Returns (query_id, id, score, rank), rank 1..topk per query."""
    from pyspark.sql.window import Window

    from .dedup import tokens_col

    if not queries:
        raise ValueError("queries must be non-empty")
    qterms = {
        str(qid): sorted({str(x).lower() for x in terms})
        for qid, terms in sorted(queries.items())
    }
    empty = [qid for qid, terms in qterms.items() if not terms]
    if empty:
        # raise rather than silently return no rows for these queries —
        # a caller fanning out hundreds of topics must not get missing
        # result groups with no error
        raise ValueError(f"every query needs at least one term; empty: {empty}")
    qrows = [(qid, t) for qid, terms in qterms.items() for t in terms]
    spark = df.sparkSession
    qmap = spark.createDataFrame(qrows, "query_id string, term string")
    toks_expr = (
        F.col(pretokenized_col) if pretokenized_col else tokens_col(text_col)
    )
    toked = (
        df.select(F.col(id_col), toks_expr.alias("_toks"))
        .select(F.col(id_col), F.size("_toks").alias("_dl"), F.col("_toks"))
        .localCheckpoint(eager=False)
    )
    stats = toked.agg(F.count("*").alias("_n"), F.avg("_dl").alias("_avgdl"))
    posting = (
        toked.select(F.col(id_col), F.col("_dl"), F.explode("_toks").alias("term"))
        .join(F.broadcast(qmap.select("term").distinct()), "term")
        .groupBy(id_col, "_dl", "term")
        .agg(F.count("*").alias("_tf"))
        .localCheckpoint(eager=False)
    )
    dfs = posting.groupBy("term").agg(F.count("*").alias("_df"))
    tf = F.col("_tf").cast("double")
    idf = F.log(
        F.lit(1.0)
        + (F.col("_n") - F.col("_df") + F.lit(0.5)) / (F.col("_df") + F.lit(0.5))
    )
    part = idf * tf * (k1 + 1) / (
        tf + k1 * (1 - b + b * F.col("_dl") / F.col("_avgdl"))
    )
    per_q_doc = (
        posting.join(F.broadcast(dfs), "term")
        .join(F.broadcast(stats))
        .join(F.broadcast(qmap), "term")
        .select(F.col("query_id"), F.col(id_col), F.col("term"), part.alias("_p"))
        .groupBy("query_id", id_col)
        .agg(
            F.aggregate(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("term", "_p"))),
                    lambda s: s["_p"],
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("score")
        )
        .filter(F.col("score") > 0)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
    return (
        per_q_doc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select(
            "query_id", F.col(id_col), F.round("score", 6).alias("score"), "rank"
        )
    )


def curate(
    df: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_quality: float = 0.5,
    langs: tuple[str, ...] = ("en",),
    n: int = 3,
    min_overlap: int = 2,
) -> DataFrame:
    """The end-to-end curation recipe a training-data pipeline runs before
    tokenization: quality gate + language filter + exact-dup keep-first +
    benchmark decontamination, composed scale-first.

    Plan shape (100 TB): quality, language, and the content key are ALL
    column expressions, so they compute in ONE projection over the spread
    scan — never N self-joins of the corpus. The keep-first representative
    comes straight out of the hash-agg via ``min_by(struct(...), id)`` (the
    exact_dedup_rows idiom), so the gated projection runs ONCE: the
    previous groupBy-min + semi-join shape evaluated the quality/lang/md5
    projection over the corpus twice (no runtime exchange reuse; plan
    diff in plans/r06/q_curate_*.txt). Besides the spread, the only
    shuffles are that agg on the 32-char content key and contamination's count agg; the eval
    shingle set broadcasts. Gate-THEN-dedup order: the group
    representative is the min id among PASSING copies — picking it before
    the gate would drop a content group entirely whenever its global-min
    copy happens to fail quality/lang while another copy passes.

    The gate lives INSIDE that agg (``min_by`` over ``when(passing, …)``,
    kept when ``bool_or(passing)``), not in a ``Filter`` over the
    projection: Catalyst pushes a deterministic Filter through the
    Project and the round-robin ``Repartition`` of ``spread_scan``, so the
    whole quality/lang gate would run in the single scan task of a
    one-file corpus — and then again above the exchange. Nothing
    filterable sits above the spread now, so every per-row expression
    runs once, on all spread tasks."""
    from . import spread_scan
    from .dedup import contamination, norm_md5

    # one spread serves both consumers below (base projection and the
    # contamination shingle pass; see the anti-join) — §2.5 input-skew
    # guard, no-op on already-wide layouts
    df = spread_scan(df.select(id_col, text_col))
    # one token split + one argmax-lang struct per row, staged as columns
    # (the no-CSE-with-lambdas seam — see lang_scores/lang_id)
    staged = df.withColumn("_toks", tokens_col(text_col)).select(
        F.col(id_col),
        quality_expr(text_col, tokens=F.col("_toks")).alias("quality"),
        best_lang_struct(text_col, tokens=F.col("_toks")).alias("_best"),
        norm_md5(text_col).alias("content_key"),
    )
    base = staged.select(
        F.col(id_col),
        F.col("quality"),
        # same zero-evidence guard as lang_id: a marker-free document must
        # not pass a langs=("zh",) gate on the tie-break artifact
        F.when(
            F.col("_best").getField("score") > 0, F.col("_best").getField("lang")
        ).alias("pred_lang"),
        F.col("content_key"),
    )
    # a gate, not a Filter: see the docstring
    passing = (F.col("quality") >= min_quality) & F.col("pred_lang").isin(list(langs))
    reps = (
        base.groupBy("content_key")
        .agg(
            F.min_by(
                F.when(
                    passing,
                    F.struct(F.col(id_col), F.col("quality"), F.col("pred_lang")),
                ),
                F.when(passing, F.col(id_col)),
            ).alias("_row"),
            F.bool_or(passing).alias("_any_passing"),
        )
        .filter("_any_passing")
        .select("_row.*")
    )
    bad = contamination(
        df, eval_df, text_col, id_col, n=n, min_overlap=min_overlap
    ).select(F.col(id_col).alias("_bad_id"))
    # Plain ``id = id`` semantics (a null id never matches), spelled as a
    # null-safe key plus a left-only guard: an ``=`` key makes Catalyst
    # infer isnotnull(id) for the contamination side and push it below
    # that branch's spread, so its round-robin exchange no longer matches
    # the reps branch's and the corpus is scanned and shuffled twice.
    # With both spreads identical, AQE reuses the one exchange.
    key = reps[id_col].eqNullSafe(bad["_bad_id"]) & reps[id_col].isNotNull()
    return reps.join(bad, key, "left_anti").select(id_col, "quality", "pred_lang")


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 5
) -> DataFrame:
    """Gopher-style repetition signals: the fraction of duplicated word
    n-grams per document (template spam and decoder loops score high).
    Native array expressions — one projection, no shuffle; round(6) keeps
    the ratio exactly oracle-comparable."""
    from .dedup import shingles_from, tokens_col

    grams = F.col("_grams")
    total = F.size(grams)
    distinct = F.size(F.array_distinct(grams))
    return (
        df.withColumn("_toks", tokens_col(text_col))
        .withColumn("_grams", shingles_from("_toks", n))
        .select(
            F.col(id_col),
            total.alias("n_grams"),
            F.round(
                F.when(total > 0, 1.0 - distinct / total.cast("double")).otherwise(
                    F.lit(0.0)
                ),
                6,
            ).alias("dup_gram_frac"),
        )
    )


# --- domain-level curation (r01 VERDICT item 8) ------------------------------
# The reference extracts a per-page domain at packaging time
# (artexin/pack.py:196-198: urlparse(url).netloc into the meta dict);
# generalized here to corpus-level operators: per-domain aggregation
# stats and blocklist filtering with parent-domain (suffix) matching.


def url_host(url_col):
    """Lowercased host from an absolute URL — native regexp (mirrors the
    reference's urlparse().netloc), userinfo and port stripped."""
    c = F.col(url_col) if isinstance(url_col, str) else url_col
    return F.lower(
        F.regexp_extract(c, r"^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@]*@)?([^/:?#]+)", 1)
    )


def domain_suffixes(host_col):
    """All parent-domain suffixes with >= 2 labels: a.b.example.com →
    [a.b.example.com, b.example.com, example.com]. Bounded fan-out (label
    count), the scalable substitute for an endswith theta-join.

    Degenerate hosts are TOTAL, never a crash (one localhost URL must not
    kill a 10^12-row curation job): a single-label host yields [host]
    (so blocking 'localhost' works), an empty/unparseable host yields []
    (matches nothing)."""
    c = F.col(host_col) if isinstance(host_col, str) else host_col
    parts = F.split(c, r"\.")
    multi = F.transform(
        F.sequence(F.lit(0), F.size(parts) - 2),
        lambda i: F.array_join(F.slice(parts, i + 1, F.size(parts) - i), "."),
    )
    return (
        F.when(c.isNull() | (c == ""), F.array().cast("array<string>"))
        .when(F.size(parts) >= 2, multi)
        .otherwise(F.array(c))
    )


def domain_stats(
    df: DataFrame, url_col: str = "url", text_col: str = "text"
) -> DataFrame:
    """Per-domain corpus stats (docs, chars) — ONE hash aggregation on
    the extracted host, partial map-side; the standard pre-curation
    audit table (which domains dominate the corpus)."""
    return (
        df.select(
            url_host(url_col).alias("domain"),
            F.length(F.coalesce(F.col(text_col), F.lit(""))).alias("_n"),
        )
        .groupBy("domain")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("_n").cast("long").alias("total_chars"),
            F.round(F.avg("_n"), 6).alias("avg_chars"),
        )
    )


def blocklist_filter(
    df: DataFrame, blocked, url_col: str = "url", mode: str = "broadcast"
) -> DataFrame:
    """Drop rows whose host or ANY parent domain is blocklisted.

    ``blocked`` as a Python list (the common case — blocklists are
    10^3-10^5 entries) compiles to a scan-side ``arrays_overlap`` against
    a literal array: pure projection, ZERO shuffle, pushdown-friendly.

    ``blocked`` as a DataFrame (column ``domain``) semi-joins the
    exploded suffix chain, strategy chosen by ``mode``:

    - ``"broadcast"`` (default): force-broadcast the blocklist — right
      for the usual 10^3-10^6-entry lists; one map-side hash probe per
      suffix, no shuffle of the corpus.
    - ``"shuffle"``: a ``merge`` (sort-merge) hint on the blocklist —
      the suffix rows and the blocklist shuffle on ``domain`` regardless
      of session config (without a hint, a small-ESTIMATED list under
      the default autoBroadcastJoinThreshold would still broadcast,
      breaking the guaranteed-no-broadcast promise; r03 ADVICE). Merge,
      not shuffle_hash: a ShuffledHashJoin must BUILD an in-memory hash
      map of each blocklist partition — re-introducing on the 10^8-entry
      path exactly the must-fit-in-memory constraint this mode exists to
      remove — while sort-merge spills both sides. The 10^8+-entry path
      (r02 VERDICT item 6): the blocklist never has to fit in
      driver+executor memory; cost is one exchange of the narrow
      (url, domain) suffix frame.
    - ``"auto"``: no hint either — Catalyst/AQE pick broadcast when the
      blocklist's stats are under the threshold, shuffle otherwise.
    """
    sfx = domain_suffixes(url_host(url_col))
    if isinstance(blocked, DataFrame):
        if mode not in ("broadcast", "shuffle", "auto"):
            raise ValueError(
                f"mode must be 'broadcast', 'shuffle' or 'auto', not {mode!r}"
            )
        bl = blocked.select(F.lower("domain").alias("domain"))
        if mode == "broadcast":
            bl = F.broadcast(bl)
        elif mode == "shuffle":
            bl = bl.hint("merge")
        hit = (
            df.select(F.col(url_col), F.explode(sfx).alias("domain"))
            .join(bl, "domain", "left_semi")
            .select(url_col)
            .distinct()
        )
        return df.join(hit, url_col, "left_anti").select(*df.columns)
    lit_blocked = F.array(*[F.lit(str(b).lower()) for b in blocked])
    # coalesce: a NULL url (NULL suffix array) must KEEP the row — it is
    # not blocklisted — matching the DataFrame-blocklist path's anti-join
    # semantics instead of silently dropping it through a NULL predicate
    return df.filter(F.coalesce(~F.arrays_overlap(sfx, lit_blocked), F.lit(True)))


# --- Gopher quality rules (Rae et al. 2021, Appendix A) ----------------------

GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_quality(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The Gopher document-quality heuristics as ONE native projection
    (no shuffle, no Python): word count bounds, mean word length bounds,
    symbol-to-word ratio, bullet/ellipsis line fractions, alphabetic-word
    fraction, and a stop-word floor — the standard web-scale pre-training
    filter stack ("Scaling Language Models: ... Gopher", Rae et al. 2021
    Appendix A). Emits each feature plus the composite ``passes`` flag so
    curation can tune thresholds without recomputing features."""
    c = F.col(text_col)
    words = F.filter(F.split(F.trim(c), r"\s+"), lambda w: w != "")
    n_words = F.size(words)
    n1 = F.greatest(n_words, F.lit(1))
    word_lens = F.transform(words, lambda w: F.length(w))
    mean_wl = F.aggregate(word_lens, F.lit(0), lambda a, x: a + x) / n1
    lines = F.filter(F.split(c, r"\n"), lambda l: F.trim(l) != "")
    n_lines = F.greatest(F.size(lines), F.lit(1))
    bullet_frac = (
        F.size(F.filter(lines, lambda l: F.trim(l).rlike(r"^[-*•]")))
        / n_lines
    )
    ellipsis_frac = (
        F.size(
            F.filter(
                lines, lambda l: F.rtrim(l).rlike(r"(\.\.\.|…)$")
            )
        )
        / n_lines
    )
    alpha_frac = (
        F.size(F.filter(words, lambda w: w.rlike(r"[a-zA-Z]"))) / n1
    )
    symbol_ratio = (
        F.length(c) - F.length(F.regexp_replace(c, r"[#…]", ""))
    ) / n1
    stop_hits = F.size(
        F.array_intersect(
            F.transform(words, lambda w: F.lower(w)),
            F.array(*[F.lit(w) for w in GOPHER_STOPWORDS]),
        )
    )
    out = df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        F.round(mean_wl, 6).alias("mean_word_len"),
        F.round(symbol_ratio, 6).alias("symbol_ratio"),
        F.round(bullet_frac, 6).alias("bullet_frac"),
        F.round(ellipsis_frac, 6).alias("ellipsis_frac"),
        F.round(alpha_frac, 6).alias("alpha_frac"),
        stop_hits.alias("stop_hits"),
    )
    passes = (
        (F.col("n_words") >= 50)
        & (F.col("n_words") <= 100000)
        & (F.col("mean_word_len") >= 3)
        & (F.col("mean_word_len") <= 10)
        & (F.col("symbol_ratio") <= 0.1)
        & (F.col("bullet_frac") <= 0.9)
        & (F.col("ellipsis_frac") <= 0.3)
        & (F.col("alpha_frac") >= 0.8)
        & (F.col("stop_hits") >= 2)
    )
    return out.withColumn("passes", passes)


# --- model scoring without UDFs ----------------------------------------------


def hashed_ngram_weights(n_buckets: int = 1024, seed: int = 13) -> list[float]:
    """Deterministic stand-in weight vector for the hashed-ngram linear
    classifier (a real deployment loads trained fastText-style weights
    here; the SCORING path below is exactly what production runs)."""
    import hashlib as _hashlib

    out = []
    for i in range(n_buckets):
        h = int(_hashlib.md5(b"w%d:%d" % (seed, i)).hexdigest()[:8], 16)
        out.append(round((h / 2**32) * 2.0 - 1.0, 6))
    return out


def _ngram_bucket(g, k: int):
    """md5-based feature bucket in [0, k) — cross-engine (DuckDB computes
    the identical md5 prefix), shared by the scoring and fit paths."""
    return F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("long") % k


def _round6_engine_exact(c):
    """round(x, 6) as floor(x*1e6 + 0.5)/1e6 — bit-identical in ANY
    IEEE-double engine, unlike native round(): Spark rounds the SHORTEST
    DECIMAL REPRESENTATION of the double (BigDecimal.valueOf -> HALF_UP,
    so a double printing as '-0.0039285' rounds to -0.003929) while
    DuckDB rounds the true binary value (-0.00392849999... ->
    -0.003928). Hit once in 500k values at sf0.1 (r05 full-scale sweep,
    ngram_classifier doc 581). Semantics at exact midpoints: half-up
    toward +inf; every op here (multiply, add, floor, divide) is a
    single deterministic IEEE op, leaving engines no discretion.
    Takes a Column expression (all call sites pass one)."""
    return F.floor(c * 1_000_000.0 + F.lit(0.5)) / 1_000_000.0


def _bucket_literal_sum(grams, int_weights: list[int], k: int):
    """Exact int64 fold Σ_g w[bucket(g)] with the integer weight vector
    shipped as a plan LITERAL array — the engine-exactness-critical
    primitive shared by ``hashed_ngram_score`` and
    ``sampling.dsir_importance`` (one audited implementation: the sum is
    order-independent int64 arithmetic, so Spark's sequential fold and
    an oracle's list_sum agree to the bit)."""
    warr = F.array(*[F.lit(v).cast("long") for v in int_weights])
    return F.aggregate(
        grams,
        F.lit(0).cast("long"),
        lambda acc, g: acc
        + F.element_at(warr, (_ngram_bucket(g, k) + 1).cast("int")),
    )


def hashed_ngram_score(
    df: DataFrame,
    weights: list[float],
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
) -> DataFrame:
    """fastText-style linear classifier scoring as PURE column
    expressions — model inference at 100 TB without any Python in the
    plan: word n-grams hash (md5, cross-engine) into ``len(weights)``
    buckets, the document score is the mean bucket weight, squashed by a
    logistic. The weight vector ships as a LITERAL array (broadcast by
    the plan itself); swap in trained weights and nothing else changes.
    One projection, zero shuffle, zero UDF."""
    from .dedup import shingles_from, tokens_col

    k = len(weights)
    # quantize to integer micro-units: the bucket-weight SUM is then exact
    # int64 arithmetic — independent of summation order, so Spark's
    # sequential fold and an oracle's pairwise list_sum agree to the bit
    # (a float sum diverges in the 7th decimal and flips round(…, 6))
    iw = [int(round(float(w) * 1_000_000)) for w in weights]
    grams = F.col("_grams")
    total = F.greatest(F.size(grams), F.lit(1))
    s = _bucket_literal_sum(grams, iw, k).cast("double") / 1_000_000.0 / total
    return (
        df.withColumn("_toks", tokens_col(text_col))
        .withColumn("_grams", shingles_from("_toks", n))
        .select(
            F.col(id_col),
            F.size(grams).alias("n_grams"),
            _round6_engine_exact(s).alias("raw_score"),
            _round6_engine_exact(
                F.lit(1.0) / (F.lit(1.0) + F.exp(-s * 4))
            ).alias("prob"),
        )
    )


def hashed_ngram_fit(
    df: DataFrame,
    label_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
    n_buckets: int = 64,
    iters: int = 2,
    lr: float = 0.5,
    init_weights: list[float] | None = None,
) -> DataFrame:
    """Distributed logistic-regression TRAINER for the hashed-ngram
    quality classifier — closes the loop ``hashed_ngram_score`` opens
    ("swap in trained weights"), the same way ``kmeans_fit`` closes the
    IVF centroid promise. Mirrors kmeans_fit's distributed shape:

    - the (id, bucket, count) feature frame builds ONCE (explode n-grams
      → md5 bucket → per-doc hash-agg) and persists — iterations never
      re-tokenize the corpus;
    - per step, weights broadcast as a literal array, the per-doc margin
      and error compute in one narrow aggregation, and the gradient
      reduces map-side-partial to ONE (bucket, grad) row set —
      ``n_buckets`` rows total cross the wire per step, never documents;
    - weights (k floats) live on the driver between steps — broadcast
      model state, not a data loop. Above ~10^5 buckets swap the literal
      for a weight-TABLE join, exactly the ``hashed_ngram_score_table``
      seam (the plan-literal otherwise bloats the plan).

    Model: p = squash(w·x), x_b = count_b / n_grams, loss = logistic.
    ``squash(z) = 0.5 + 0.5·z/(1+|z|)`` — the rational "fast sigmoid".
    Chosen over exp-σ deliberately: every arithmetic op here (+,-,×,÷)
    is exactly specified by IEEE 754, while libm ``exp`` differs by ulps
    across engines, and a training loop COMPOUNDS ulp drift across
    steps. With weights quantized to integer micro-units after every
    update and per-doc gradient contributions quantized before the
    bucket sum (both HALF_UP, both sums exact int64), the whole fit
    replays BIT-IDENTICALLY in any engine — the property the DuckDB
    oracle (which unrolls the steps in SQL) certifies.

    Returns (bucket int, weight double) — feed to
    ``hashed_ngram_score_table`` (or round-trip via a list into
    ``hashed_ngram_score``)."""
    from pyspark import StorageLevel

    from .dedup import shingles_from, tokens_col

    if iters < 1 or n_buckets < 1:
        raise ValueError("iters and n_buckets must be >= 1")
    k = n_buckets
    iw = [int(round(float(w) * 1_000_000)) for w in (init_weights or [0.0] * k)]
    if len(iw) != k:
        raise ValueError(f"init_weights has {len(iw)} entries, need {k}")
    base = df.select(
        F.col(id_col).alias("_id"),
        F.col(label_col).cast("double").alias("_y"),
        tokens_col(text_col).alias("_toks"),
    ).select("_id", "_y", shingles_from("_toks", n).alias("_grams"))
    bkts = (
        base.select(
            "_id",
            "_y",
            F.greatest(F.size("_grams"), F.lit(1)).alias("_t"),
            F.explode("_grams").alias("_g"),
        )
        .filter(F.col("_g").isNotNull())  # null text -> [null] shingle
        .groupBy("_id", "_y", "_t", _ngram_bucket(F.col("_g"), k).alias("_b"))
        .agg(F.count("*").alias("_c"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n_docs = base.count()  # gram-less docs count in N, contribute 0 gradient
    if n_docs == 0:
        raise ValueError("corpus is empty")

    def _half_up(x: float) -> int:
        # Half-away-from-zero on the EXACT double value — Decimal(float)
        # converts exactly, so this matches Spark round(double, 0) and
        # DuckDB round() bit-for-bit. floor(x + 0.5) does NOT: for a
        # double 1 ulp below .5 (e.g. 0.49999999999999994) the IEEE sum
        # x + 0.5 rounds up to 1.0 and floor answers 1 where both
        # engines answer 0 — a one-micro-unit driver-vs-oracle drift
        # that would compound across gradient steps.
        import decimal

        return int(
            decimal.Decimal(x).quantize(
                decimal.Decimal(1), rounding=decimal.ROUND_HALF_UP
            )
        )

    for _ in range(iters):
        warr = F.array(*[F.lit(v).cast("long") for v in iw])
        # z in micro-units stays exact int64; /1e6/T and the rational
        # squash are pointwise IEEE ops — bit-identical in any engine
        per_doc = bkts.groupBy("_id", "_y", "_t").agg(
            F.sum(F.col("_c") * F.element_at(warr, (F.col("_b") + 1).cast("int")))
            .alias("_zi")
        )
        z = F.col("_zi").cast("double") / 1_000_000.0 / F.col("_t")
        p = F.lit(0.5) + F.lit(0.5) * z / (F.lit(1.0) + F.abs(z))
        gd = per_doc.select(
            "_id",
            F.round((p - F.col("_y")) / F.col("_t") * 1_000_000.0, 0)
            .cast("long")
            .alias("_gd"),
        )
        grad_rows = (
            bkts.join(gd, "_id")
            .groupBy("_b")
            .agg(F.sum(F.col("_c") * F.col("_gd")).alias("_grad"))
            .collect()
        )
        for r in grad_rows:  # k rows — model state, not data
            b = int(r["_b"])
            iw[b] -= _half_up(lr * float(r["_grad"]) / n_docs)
    # the fit is fully materialized (collect per step); the corpus-sized
    # feature cache is dead weight past this point — release it so
    # repeated fits (hyperparameter sweeps) don't leak one corpus-sized
    # cache each
    bkts.unpersist()
    spark = df.sparkSession
    return spark.createDataFrame(
        [(b, iw[b] / 1_000_000.0) for b in range(k)], "bucket int, weight double"
    )


def hashed_ngram_score_table(
    df: DataFrame,
    weights: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
    n_buckets: int | None = None,
    broadcast_weights: bool = True,
) -> DataFrame:
    """``hashed_ngram_score`` with the weight vector as a TABLE (columns
    ``bucket``, ``weight``) instead of a plan literal — the >10^5-bucket
    path: a literal array that size bloats every task's plan, while a
    weight table broadcast-joins once (or shuffle-joins with
    ``broadcast_weights=False`` when even the table outgrows the
    broadcast budget). Output schema and values are IDENTICAL to
    ``hashed_ngram_score`` for the same weights (same integer-micro-unit
    exact sum, same logistic) — pinned by a parity test.

    ``n_buckets`` defaults to the weight-table row count (one extra tiny
    action); pass it explicitly in production to keep the plan fully
    lazy."""
    from .dedup import shingles_from, tokens_col

    k = int(n_buckets if n_buckets is not None else weights.count())
    wq = weights.select(
        F.col("bucket").cast("long").alias("_b"),
        F.round(F.col("weight") * 1_000_000.0, 0).cast("long").alias("_iw"),
    )
    if broadcast_weights:
        wq = F.broadcast(wq)
    grams = df.select(
        F.col(id_col), tokens_col(text_col).alias("_toks")
    ).select(F.col(id_col), shingles_from("_toks", n).alias("_grams"))
    per_gram = grams.select(
        F.col(id_col), F.explode("_grams").alias("_g")
    ).select(F.col(id_col), _ngram_bucket(F.col("_g"), k).alias("_b"))
    sums = (
        per_gram.join(wq, "_b", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.coalesce("_iw", F.lit(0))).alias("_si"),
            # a NULL gram (null text -> [null] shingle) nulls the whole
            # aggregate on the literal path; reproduce that exactly
            F.max(F.col("_b").isNull()).alias("_poison"),
        )
    )
    # docs with zero grams never reach the explode: rejoin for parity
    # with the literal path (n_grams 0, raw 0.0, prob 0.5)
    out = grams.select(id_col).join(sums, id_col, "left")
    s = F.when(
        ~F.coalesce(F.col("_poison"), F.lit(False)),
        F.coalesce(F.col("_si"), F.lit(0)).cast("double")
        / 1_000_000.0
        / F.greatest(F.coalesce(F.col("n_grams"), F.lit(0)), F.lit(1)),
    )
    return out.select(
        F.col(id_col),
        F.coalesce(F.col("n_grams"), F.lit(0)).cast("int").alias("n_grams"),
        _round6_engine_exact(s).alias("raw_score"),
        _round6_engine_exact(
            F.lit(1.0) / (F.lit(1.0) + F.exp(-s * 4))
        ).alias("prob"),
    )


def unigram_logprob_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_vocab: bool = True,
) -> DataFrame:
    """CCNet-style language-model filtering with a corpus-trained unigram
    model (the LM-perplexity gate's scalable skeleton — swap the unigram
    table for KenLM shards and the plan shape holds): pass 1 aggregates
    corpus token frequencies (one hash agg); pass 2 scores each document
    by its mean token log-probability via an equi-join of the exploded
    tokens against the (broadcast) frequency table — unseen-token
    smoothing = log(0.5/total). Low scores = gibberish / OOD documents;
    high = template-like. Two shuffles total, both on narrow columns.

    ``broadcast_vocab=True`` fits vocabularies up to the broadcast budget
    (tens of millions of terms); at web scale the unigram table outgrows
    it — pass False for a plain shuffle hash join on the term (both
    sides narrow), or write the freq table bucketed by term and
    bucket-join. The plan shape is otherwise identical."""
    from .dedup import tokens_col

    toks = df.select(
        F.col(id_col), F.explode(tokens_col(text_col)).alias("tok")
    )
    freqs = toks.groupBy("tok").agg(F.count("*").alias("n"))
    total = freqs.agg(F.sum("n")).collect()[0][0] or 1
    if broadcast_vocab:
        freqs = F.broadcast(freqs)
    scored = toks.join(freqs, "tok", "left").select(
        F.col(id_col),
        F.coalesce(
            F.log(F.col("n").cast("double") / float(total)),
            F.lit(float(__import__("math").log(0.5 / total))),
        ).alias("lp"),
    )
    return scored.groupBy(id_col).agg(
        F.count("*").alias("n_tokens"),
        F.round(F.avg("lp"), 6).alias("mean_logprob"),
    )


def bigram_lm_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.5,
    broadcast_vocab: bool = True,
) -> DataFrame:
    """CCNet-style LM gate, one order up from ``unigram_logprob_score``:
    score each document by its mean conditional bigram log-probability
    under an add-alpha-smoothed model TRAINED ON THE CORPUS ITSELF in the
    same job —
        P(w_i | w_{i-1}) = (c(w_{i-1} w_i) + alpha) / (c(w_{i-1}) + alpha·V)
    with c(·) corpus counts and V the distinct unigram vocabulary size.
    Low scores flag token sequences the corpus itself finds improbable
    (gibberish, shuffled text, OCR noise) that unigram frequency alone
    cannot see — the scalable skeleton of the KenLM perplexity filter
    (swap the count tables for n-gram shards; plan shape holds).

    Plan shape (100 TB): one tokenize PROJECTION feeds both count tables
    — unigram counts are a (tok) hash agg, bigram counts a (prev, cur)
    hash agg, both map-side partial; V reduces to a scalar with the same
    agg. Scoring explodes each doc's bigrams once and equi-joins them
    against the two count tables (broadcast while they fit —
    ``broadcast_vocab=False`` for web-scale vocabularies, where both
    sides are narrow shuffle-hash joins on a token key); one final (id)
    agg. No window, no cartesian, no Python.

    The shared projection's four consumers (unigram counts, V, bigram
    counts, scoring) sit under DIFFERENT aggregates, so exchange reuse
    cannot fire; the narrow (id, _toks) projection is lazily
    checkpointed so the regex split runs once — the same shared-subtree
    discipline as ``substring_dedup_spans`` / ``bm25_rank_multi``.

    Docs with <2 tokens have no bigram and are absent from the output
    (the caller left-joins and treats null as "no evidence"). Returns
    (id, n_bigrams, mean_logprob) with mean_logprob rounded to 6dp.
    ln() on integer counts makes each per-bigram TERM engine-exact, and
    the per-doc mean folds the terms in sorted (prev, cur) order (the
    char_entropy trick: identical IEEE addition sequence in any engine —
    a plain AVG would hang round(·,6) on summation order). V stays IN
    the plan as a 1-row distinct-count aggregate broadcast-crossjoined
    back (no eager corpus pass at construction time)."""
    from .dedup import tokens_col

    toks = df.select(
        F.col(id_col), tokens_col(text_col).alias("_toks")
    ).localCheckpoint(eager=False)
    uni = toks.select(F.explode("_toks").alias("tok"))
    uni_counts = uni.groupBy("tok").agg(F.count("*").alias("cu"))
    vocab_row = uni.groupBy().agg(
        F.countDistinct("tok").cast("double").alias("_vocab")
    )
    bigr_all = toks.select(
        F.col(id_col),
        F.explode(
            F.when(
                F.size("_toks") >= 2,
                F.transform(
                    F.sequence(F.lit(0), F.size("_toks") - 2),
                    lambda i: F.struct(
                        F.element_at("_toks", i + 1).alias("prev"),
                        F.element_at("_toks", i + 2).alias("cur"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<prev:string,cur:string>>"))
        ).alias("bg"),
    ).select(F.col(id_col), F.col("bg.prev"), F.col("bg.cur"))
    bigr_counts = bigr_all.groupBy("prev", "cur").agg(
        F.count("*").alias("cb")
    )
    if broadcast_vocab:
        uni_counts = F.broadcast(uni_counts)
        bigr_counts = F.broadcast(bigr_counts)
    scored = (
        bigr_all.join(bigr_counts, ["prev", "cur"], "left")
        .join(uni_counts.withColumnRenamed("tok", "prev"), "prev", "left")
        .crossJoin(F.broadcast(vocab_row))
        .select(
            F.col(id_col),
            F.col("prev"),
            F.col("cur"),
            F.log(
                (F.coalesce(F.col("cb"), F.lit(0)).cast("double") + alpha)
                / (
                    F.coalesce(F.col("cu"), F.lit(0)).cast("double")
                    + alpha * F.col("_vocab")
                )
            ).alias("lp"),
        )
    )
    # sorted fold: duplicate (prev, cur) bigrams carry identical lp values,
    # so ordering by the key alone fixes the full addition sequence
    arr = F.array_sort(F.collect_list(F.struct("prev", "cur", "lp")))
    s = F.aggregate(arr, F.lit(0.0), lambda a, x: a + x["lp"])
    n = F.count("*")
    return scored.groupBy(id_col).agg(
        n.alias("n_bigrams"),
        F.round(s / n.cast("double"), 6).alias("mean_logprob"),
    )


def char_entropy(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document Shannon character entropy (bits/char) — the classic
    cheap gibberish/boilerplate detector next to the LM gates: natural
    prose sits ~4-4.5 bits, base64/hex blobs and key-mash noise run
    higher, repeated-template and single-char spam runs much lower, so
    both tails of the distribution are curation candidates.

    H = log2(n) - (Σ_c cnt_c · ln(cnt_c)) / (n · ln 2)  over the doc's
    character histogram — integer counts into ONE float fold evaluated
    in sorted-character order (F.aggregate over an array_sort'd
    histogram; the oracle replays it with list_reduce over an ORDER BY
    list), so the IEEE addition sequence is identical in any engine —
    a plain SUM would make round(·, 6) flip on association order.

    Scale shape: explode chars → (id, char) partial+final count agg →
    (id) histogram agg + in-array fold. Two narrow shuffles, no window,
    no Python. Empty documents have no characters and are absent from
    the output. Returns (id, n_chars, entropy_bits)."""
    ch = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), "")).alias("ch")
    ).filter(F.col("ch") != "")
    hist = ch.groupBy(id_col, "ch").agg(F.count("*").alias("cnt"))
    arr = F.array_sort(F.collect_list(F.struct("ch", "cnt")))
    s = F.aggregate(
        arr,
        F.lit(0.0),
        lambda a, x: a + x["cnt"].cast("double") * F.log(x["cnt"].cast("double")),
    )
    n = F.sum("cnt")
    ln2 = 0.6931471805599453
    return hist.groupBy(id_col).agg(
        n.alias("n_chars"),
        F.round(
            (F.log(n.cast("double")) - s / n.cast("double")) / ln2, 6
        ).alias("entropy_bits"),
    )


def unicode_quality(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Encoding-health gate (the C4-style mojibake filter): ratios of
    U+FFFD replacement characters (the scar a bad charset transcode
    leaves) and of non-whitespace C0/C1 control characters, plus a
    composite pass flag. Pure projection, zero shuffle — one regex scan
    per class."""
    c = F.col(text_col)
    n = F.greatest(F.length(c), F.lit(1))
    repl = F.length(c) - F.length(F.regexp_replace(c, "�", ""))
    ctrl = F.length(c) - F.length(
        F.regexp_replace(c, r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]", "")
    )
    out = df.select(
        F.col(id_col),
        F.round(repl / n, 6).alias("replacement_ratio"),
        F.round(ctrl / n, 6).alias("control_ratio"),
    )
    return out.withColumn(
        "passes",
        (F.col("replacement_ratio") <= 0.001) & (F.col("control_ratio") <= 0.001),
    )
