"""Distributed BPE merge training and application (Sennrich et al. 2016,
arXiv:1508.07909) — the tokenizer-training stage of a training-data
pipeline, next to the reference's token-counting surface
(reference index.py:107-121 counts words; a 100 TB curation engine also
needs to TRAIN the subword vocabulary those counts feed).

Scale design
------------
BPE's sufficient statistic is the WORD-FREQUENCY table, not the corpus:
one explode + hash-agg collapses 100 TB of text to a ~10^6-10^7-row
(word, freq) table, and every merge step thereafter runs on |vocab|
rows. Per step:

- pair counting: explode each word's symbol array to narrow
  (left, right, freq) rows → groupBy(left, right) hash-agg — map-side
  partial aggregation, one small shuffle keyed on the pair;
- argmax: a 1-row collect (driver state is ONE row per step, the same
  model-state budget kmeans_fit / hashed_ngram_fit run on);
- merge application: a pure column fold (``aggregate`` over the symbol
  array) — zero shuffle, zero Python, whole-stage codegen.

Symbol frames ``localCheckpoint`` between steps for the same reason
kmeans' spread init does:
without truncation step i's pair-count action would recompute all i-1
prior folds (O(n²) total fold work) and Catalyst would re-analyze an
ever-deeper expression tree.

Determinism: ties in pair frequency break on (left ASC, right ASC) —
exact int64 frequencies and ASCII-only tokens (the tokenizer charset is
``[a-z0-9']``), so any engine replaying the algorithm picks identical
merges; the ``bpe_train`` driver query's DuckDB oracle re-derives every
step in SQL (positional islands formulation — provably the same
left-to-right non-overlapping merge the fold computes, see
``_apply_merge``).
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf string type hints resolve here
from pyspark.sql import DataFrame, functions as F

EOW = "</w>"  # end-of-word sentinel symbol (classic BPE word boundary)


def word_table(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq): corpus word frequencies — BPE's sufficient
    statistic. The ONLY corpus-sized pass in the trainer."""
    from .dedup import tokens_col

    return (
        df.select(F.explode(tokens_col(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )


def char_symbols(word_col) -> F.Column:
    """Initial symbol array: one symbol per character plus the ``</w>``
    sentinel. Substring-based (never split-on-empty-regex, whose edge
    semantics are engine-quirky); tokens are ASCII by tokenizer
    construction, so per-character substring agrees across engines."""
    w = F.col(word_col) if isinstance(word_col, str) else word_col
    return F.concat(
        F.transform(
            F.sequence(F.lit(1), F.length(w)), lambda i: w.substr(i, F.lit(1))
        ),
        F.array(F.lit(EOW)),
    )


def pair_counts(symframe: DataFrame) -> DataFrame:
    """(left, right, pair_freq): adjacent-symbol pair frequencies over a
    (word, freq, syms) frame, weighted by word frequency. Narrow explode
    + map-side-partial hash-agg — the per-step shuffle is keyed on the
    pair, never content-skewed beyond the natural zipf head (which the
    partial agg collapses map-side).

    Fully-merged words (a single surviving symbol, e.g. 'a' -> ['a</w>']
    after enough merges) are filtered FIRST: they contribute no pairs,
    and Spark's sequence(1, 0) is DESCENDING ([1, 0], unlike DuckDB's
    empty generate_series(1, 0)), so the unguarded transform would call
    element_at(syms, 2) on a 1-element array and kill the job — hit in
    practice at n_merges=24 on the sf0.001 corpus."""
    return (
        symframe.filter(F.size("syms") >= 2)
        .select(
            "freq",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("syms") - 1),
                    lambda i: F.struct(
                        F.element_at(F.col("syms"), i).alias("left"),
                        F.element_at(F.col("syms"), i + F.lit(1)).alias("right"),
                    ),
                )
            ).alias("p"),
        )
        .groupBy(F.col("p.left").alias("left"), F.col("p.right").alias("right"))
        .agg(F.sum("freq").alias("pair_freq"))
    )


def _apply_merge(syms_col, left: str, right: str) -> F.Column:
    """Left-to-right non-overlapping replacement of the adjacent pair
    (left, right) by its concatenation — one ``aggregate`` fold, no
    shuffle, no Python.

    Equivalence to classic BPE's positional scan: a merged element can
    never re-merge within the same pass (the merged string ``left ||
    right`` is strictly longer than ``left``, so it never equals the
    pair's left side), hence the fold's "last element" check fires on
    exactly the positions the left-to-right scan merges — including the
    aaa→[aa,a] overlap case, where the freshly merged ``aa`` fails the
    ``== a`` test and the scan resumes after the pair. The DuckDB oracle
    computes the same set via parity-within-island window logic."""
    merged = left + right
    return F.aggregate(
        syms_col if not isinstance(syms_col, str) else F.col(syms_col),
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (x == F.lit(right)),
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 8,
    min_pair_freq: int = 2,
    words: DataFrame | None = None,
) -> DataFrame:
    """Learn ``n_merges`` BPE merges over the corpus. Returns the merge
    table (step int, left, right, merged, pair_freq) in learned order —
    feed it to ``bpe_apply`` / ``bpe_vocab``. Stops early when the best
    remaining pair's frequency drops below ``min_pair_freq``.

    ``words``: pass a precomputed, checkpointed ``word_table`` to share
    the corpus pass across trainers; by default it is derived here and
    materialized by the first step's localCheckpoint."""
    if n_merges < 1:
        raise ValueError("n_merges must be >= 1")
    spark = df.sparkSession
    w = words if words is not None else word_table(df, text_col)
    syms = w.select("word", "freq", char_symbols("word").alias("syms"))
    merges: list[tuple[int, str, str, str, int]] = []
    for step in range(1, n_merges + 1):
        syms = syms.localCheckpoint()
        top = (
            pair_counts(syms)
            .orderBy(F.desc("pair_freq"), F.asc("left"), F.asc("right"))
            .limit(1)
            .collect()
        )
        if not top or int(top[0]["pair_freq"]) < min_pair_freq:
            break
        left, right = str(top[0]["left"]), str(top[0]["right"])
        merges.append((step, left, right, left + right, int(top[0]["pair_freq"])))
        syms = syms.select(
            "word", "freq", _apply_merge(F.col("syms"), left, right).alias("syms")
        )
    return spark.createDataFrame(
        merges, "step int, left string, right string, merged string, pair_freq long"
    )


def apply_merges_col(syms_col, merges_rows) -> F.Column:
    """Chain the learned merges (ordered (left, right) pairs) over a
    symbol-array column. Expression depth grows with the merge count —
    right for the tens-of-merges regime this trainer targets; a 10^4+-
    merge production vocabulary would bake into a greedy longest-match
    tokenizer at inference instead (out of scope here, documented)."""
    out = syms_col if not isinstance(syms_col, str) else F.col(syms_col)
    for left, right in merges_rows:
        out = _apply_merge(out, left, right)
    return out


def bpe_apply(
    df: DataFrame,
    merges: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Tokenize documents with a trained merge table: tokens → per-word
    char symbols → every merge in learned order → flattened per-doc BPE
    token array (+ ``n_bpe_tokens``). The merge table collects to the
    driver (n_merges rows — model state, like kmeans centroids); the
    application itself is pure column expressions, zero Python."""
    from .dedup import tokens_col

    rows = [
        (str(r["left"]), str(r["right"]))
        for r in merges.orderBy("step").collect()
    ]
    toked = df.select(*df.columns, tokens_col(text_col).alias("_toks"))
    per_word = F.transform(
        F.col("_toks"),
        lambda w: apply_merges_col(
            F.concat(
                F.transform(
                    F.sequence(F.lit(1), F.length(w)),
                    lambda i: w.substr(i, F.lit(1)),
                ),
                F.array(F.lit(EOW)),
            ),
            rows,
        ),
    )
    return toked.select(
        *df.columns,
        F.flatten(per_word).alias(out_col),
    ).withColumn("n_bpe_tokens", F.size(F.col(out_col)))


def merge_ranks(merges: DataFrame) -> dict[tuple[str, str], int]:
    """Collect a trained merge table to driver-side model state:
    {(left, right): step}. Same model-state budget as kmeans centroids —
    a 100k-merge production vocabulary is ~2 MB, shipped to executors in
    the UDF closure (Spark broadcasts task binaries)."""
    return {
        (str(r["left"]), str(r["right"])): int(r["step"])
        for r in merges.select("step", "left", "right").collect()
    }


def _encode_word_ranks(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Rank-replay BPE encoding of one word (Sennrich's apply-time
    algorithm): repeatedly merge the present adjacent pair with the
    lowest learned rank, left-to-right non-overlapping, until no learned
    pair remains. Equivalent to replaying merges 1..n in learned order
    (the ``_apply_merge`` fold chain): a learned pair (l, r) can only
    newly appear when a merge CREATES symbol l or r, and every symbol a
    rank-j merge references already existed when step j was learned, so
    no later merge can enable an earlier-rank pair — the minimum present
    rank is non-decreasing, which is exactly sequential order. The one
    theoretical exception is two distinct merges producing the same
    symbol STRING via different splits (e.g. a+bc and ab+c), which
    would let a later merge resurrect an earlier-rank pair; rank-replay
    is Sennrich's own apply-time algorithm (the canonical semantics),
    and the parity tests additionally assert the trained tables they
    use have all-unique merged strings, under which the two orders are
    provably identical. Parity with the fold path is pinned in
    tests/test_operators.py."""
    syms = list(word)
    syms.append(EOW)
    while len(syms) > 1:
        best_rank = None
        best = None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best = r, (syms[i], syms[i + 1])
        if best is None:
            break
        left, right = best
        merged = left + right
        out: list[str] = []
        i = 0
        n = len(syms)
        while i < n:
            if i + 1 < n and syms[i] == left and syms[i + 1] == right:
                out.append(merged)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def _encode_word_longest(
    word: str, by_first: dict[str, list[str]]
) -> list[str]:
    """Greedy longest-match segmentation of ``word + EOW`` against the
    learned symbol vocabulary (``by_first``: first-char -> symbols
    sorted by length DESC). The WordPiece-style production fast path:
    O(len * candidates) with no merge replay, but NOT always equal to
    BPE merge order (e.g. merges [(b,c), (a,b)] give "abc" -> [a, bc]
    under BPE, [ab, c] under longest-match — divergence pinned in
    tests). Single chars absent from the vocab pass through as OOV
    symbols. Safe on the raw string: '<' never starts a learned symbol
    (token charset is [a-z0-9']), so the sentinel region can only match
    symbols that embed EOW as a suffix."""
    s = word + EOW
    out: list[str] = []
    i = 0
    n = len(s)
    while i < n:
        cands = by_first.get(s[i])
        hit = None
        if cands is not None:
            for sym in cands:
                if s.startswith(sym, i):
                    hit = sym
                    break
        if hit is None:
            # OOV fallback: emit the sentinel whole, else one char
            hit = EOW if s.startswith(EOW, i) else s[i]
        out.append(hit)
        i += len(hit)
    return out


def vocab_by_first(
    merges_rows: dict[tuple[str, str], int] | list[tuple[str, str]],
) -> dict[str, list[str]]:
    """Longest-match candidate index from a merge table: every merged
    symbol string, grouped by first char, longest first (ties broken
    lexicographically for determinism). Single chars and the bare
    sentinel are implicit fallbacks in ``_encode_word_longest``."""
    pairs = (
        list(merges_rows.keys())
        if isinstance(merges_rows, dict)
        else list(merges_rows)
    )
    by_first: dict[str, list[str]] = {}
    for left, right in pairs:
        sym = left + right
        by_first.setdefault(sym[0], []).append(sym)
    for c in by_first:
        by_first[c] = sorted(set(by_first[c]), key=lambda s: (-len(s), s))
    return by_first


def bpe_tokenize(
    df: DataFrame,
    merges: DataFrame,
    text_col: str = "text",
    out_col: str = "bpe_tokens",
    mode: str = "merge",
) -> DataFrame:
    """Inference-time BPE tokenizer for PRODUCTION-SIZED vocabularies —
    the counterpart ``apply_merges_col`` explicitly defers: that fold
    chain grows Catalyst expression depth linearly with the merge count
    (fine at tens of merges, unusable at 32k-100k), while this runs the
    learned table as driver-side model state inside ONE vectorized
    Arrow stage whose cost is O(corpus tokens), independent of merge
    count.

    ``mode='merge'``: exact rank-replay semantics, parity-pinned
    against the ``bpe_apply`` fold path. ``mode='longest'``: greedy
    longest-match over the symbol vocab (trie-style by-first-char
    index) — the faster production approximation, with its documented
    divergence from merge order (see ``_encode_word_longest``).

    Scale design: tokenization (lower/split) stays JVM-side via
    ``tokens_col``; the Arrow stage sees (doc tokens) -> (bpe tokens)
    arrays only. Each Arrow batch encodes every UNIQUE word once and
    reuses it (zipf: unique/total word ratio falls with batch size), so
    per-token cost is flat vs both corpus size and merge count —
    measured in bench/dedup_scaling.py (bpe_tokenize leg). Map-only:
    no shuffle, no driver collect beyond the n_merges-row model."""
    if mode not in ("merge", "longest"):
        raise ValueError(f"mode must be 'merge' or 'longest', got {mode!r}")
    from pyspark.sql.functions import pandas_udf

    from .dedup import tokens_col

    # bind exactly ONE model structure into the closure: in longest mode
    # the ranks dict is only an intermediate — capturing both would ship
    # ~2x the model bytes to every task for zero work
    if mode == "merge":
        model = merge_ranks(merges)
        encode_one = _encode_word_ranks
    else:
        model = vocab_by_first(merge_ranks(merges))
        encode_one = _encode_word_longest

    @pandas_udf("array<string>")
    def _encode(batch: pd.Series) -> pd.Series:
        cache: dict[str, list[str]] = {}
        out = []
        for words in batch:
            doc_toks: list[str] = []
            if words is not None:
                for w in words:
                    enc = cache.get(w)
                    if enc is None:
                        enc = encode_one(w, model)
                        cache[w] = enc
                    doc_toks.extend(enc)
            out.append(doc_toks)
        return pd.Series(out)

    toked = df.select(*df.columns, tokens_col(text_col).alias("_toks"))
    return toked.select(
        *df.columns, _encode(F.col("_toks")).alias(out_col)
    ).withColumn("n_bpe_tokens", F.size(F.col(out_col)))


def bpe_vocab(
    symframe_or_df: DataFrame,
    merges: DataFrame,
    text_col: str = "text",
    topk: int | None = None,
) -> DataFrame:
    """Post-merge symbol vocabulary with corpus frequencies: apply the
    merge table to the WORD table (|vocab| rows, not |corpus|) and sum
    word frequencies per surviving symbol. Returns (sym, n, rank) —
    ranked by (n DESC, sym ASC); ``topk`` truncates."""
    rows = [
        (str(r["left"]), str(r["right"]))
        for r in merges.orderBy("step").collect()
    ]
    cols = set(symframe_or_df.columns)
    if {"word", "freq"} <= cols:
        w = symframe_or_df
    else:
        w = word_table(symframe_or_df, text_col)
    syms = w.select(
        "freq", apply_merges_col(char_symbols("word"), rows).alias("syms")
    )
    agg = (
        syms.select("freq", F.explode("syms").alias("sym"))
        .groupBy("sym")
        .agg(F.sum("freq").alias("n"))
    )
    from pyspark.sql.window import Window

    ranked = agg.withColumn(
        "rank", F.row_number().over(Window.orderBy(F.desc("n"), F.asc("sym")))
    )
    return ranked.filter(F.col("rank") <= topk) if topk else ranked
