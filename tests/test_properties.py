"""Property-based tests (hypothesis) for the pure scalar algebra.

These pin invariants the doctest vectors can't: idempotence, closure,
and agreement with an independent formulation, over generated inputs.
No Spark session needed — these functions are the exact code the Arrow
UDF batches call, so single-node properties transfer to the cluster —
except the footer-stats fold, which reads files Spark itself wrote.
"""

from __future__ import annotations

import hashlib
import re

from hypothesis import given, settings
from hypothesis import strategies as st

from artexin_spark import urlx
from artexin_spark.tokenizer import fix_ws, is_word, strip_period

# path segments that exercise ./.. handling without nulls/newlines
_seg = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Nd"), max_codepoint=0x7F),
    min_size=0,
    max_size=6,
)
_path = st.lists(
    st.one_of(_seg, st.just("."), st.just("..")), min_size=0, max_size=8
).map(lambda segs: "/".join(segs))


@given(_path)
def test_normalize_path_idempotent(p):
    once = urlx.normalize_path(p)
    assert urlx.normalize_path(once) == once


@given(_path)
def test_normalize_path_no_interior_dots(p):
    """After normalization, '.' is gone and '..' survives only as a
    leading run (reference urlutils.py:90-125 contract)."""
    out = urlx.normalize_path(p)
    segs = out.split("/")
    seen_real = False
    for s in segs:
        assert s != "."
        if s == "..":
            assert not seen_real  # '..' only before any real segment
        elif s != "":
            seen_real = True


@given(_path.map(lambda p: "/" + p), _path.map(lambda p: "/" + p))
def test_absolute_path_is_normalized_and_rooted(path, base):
    out = urlx.absolute_path(path, base)
    # absolute_path output is always in normal form (re-normalize = no-op);
    # rootedness is NOT invariant — '/..'→'' and '/../x'→'x' by reference
    # semantics (urlutils.py doctests), so only idempotence is claimed
    assert urlx.normalize_path(out) == out


@given(st.text(max_size=40))
def test_is_http_url_iff_prefix(url):
    want = url.startswith(("http://", "https://", "//"))
    assert urlx.is_http_url(url) == want


@given(st.text(max_size=40))
def test_normalize_scheme_closure(url):
    out = urlx.normalize_scheme(url, "https")
    assert not out.startswith("//")
    if not url.startswith("//"):
        assert out == url


@given(st.text(alphabet="ab%()[]/:.x", max_size=30))
def test_percent_escape_no_raw_specials(url):
    out = urlx.percent_escape(url)
    # every reference-table char is gone from the escaped form
    assert not any(c in out for c in "()[]")
    # '%' appears only as the start of an escape we produced
    for m in re.finditer(r"%", out):
        assert out[m.start() : m.start() + 3] in ("%25", "%2528", "%2529", "%255B", "%255D")[:1] or out[
            m.start() : m.start() + 2
        ] == "%2"


@given(st.lists(st.one_of(st.text(max_size=8), st.integers()), max_size=4))
def test_hash_data_is_md5_of_concat_str(args):
    want = hashlib.md5("".join(str(a) for a in args).encode("utf-8")).hexdigest()
    assert urlx.hash_data(*args) == want


# --- tokenizer ---------------------------------------------------------------

_WSRE_REF = re.compile(r"\s+")


@given(st.text(max_size=120))
def test_fix_ws_matches_reference_regex_form(s):
    """The split/join fast path must equal the reference formulation
    trim + collapse-\\s+ (artexin/index.py:27-40) on arbitrary input."""
    assert fix_ws(s) == _WSRE_REF.sub(" ", s.strip())


@given(st.text(max_size=120))
def test_fix_ws_idempotent_and_clean(s):
    out = fix_ws(s)
    assert fix_ws(out) == out
    assert "  " not in out and out == out.strip()


@given(st.text(max_size=30))
def test_strip_period_removes_at_most_one(t):
    out = strip_period(t)
    if t.endswith("."):
        assert out == t[:-1]
    else:
        assert out == t


@given(st.text(min_size=1, max_size=20))
def test_is_word_iff_any_alnum_or_underscore(t):
    # reference NONWORD regex: token is NOT a word iff it's all \W
    assert is_word(t) == (re.match(r"^\W+$", t) is None)


# --- fast-parser differential fuzz ------------------------------------------
# The regex scanner must agree with the stdlib-html.parser path on ANY
# input, not just curated cases: generate tag-soup from the pieces that
# exercise every scanner branch and compare trees node-for-node.

_soup_atoms = st.sampled_from(
    [
        "text ", "& ", "&amp; ", "&#65;", "&nosuch;", "🎉",
        "<div>", "</div>", "<p class='a b'>", "</p>", "<br/>", "<img src=x>",
        "<a href=\"q>r\">", "</a>", "<script>a<b</script>", "</script>",
        "<style>c>d</style>", "<!-- c -->", "<!--", "<!DOCTYPE h>", "<?pi?>",
        "<", ">", "</", "<3", "< div>", "<a b='", "\n",
        "</>", "<//>", "</ x>", "</x y>", "<script>", "<style>",
        "<b</script>", "</script foo>", "<a/b>", "<a / >", "<a/>",
        "<a=b>", "<em>", "</em>", "'", '"', "=", "/",
        # markupbase territory: marked sections, ms-conditionals, quoted
        # declaration literals, whitespace-tolerant comment closes ("--\s*>")
        "<![CDATA[x]]>", "<![CDATA[a>b]]>", "<![if x]>", "<![endif]>",
        "<![foo]>", "<!DOCTYPE x [<!y>]>", '<!DOCTYPE x "a>b">',
        "<!ENTITY e 'v'>", "<!-- c --\t>", "-->", "--\t>", "\x00",
    ]
)


@given(st.lists(_soup_atoms, min_size=0, max_size=25))
@settings(max_examples=600, deadline=None)
def test_fast_parse_matches_stdlib_on_tag_soup(atoms):
    from artexin_spark import dom

    src = "".join(atoms)
    fast, slow = dom._fast_parse(src), dom.parse_stdlib(src)
    sig = lambda d: [
        (n.tag, n.text, n.start, n.end, dict(n.attrs) if n.attrs else {})
        for n in d.iter()
    ]
    assert sig(fast) == sig(slow)


# --- extraction totality + span recovery fuzz --------------------------------


@given(st.lists(_soup_atoms, min_size=0, max_size=25))
@settings(max_examples=400, deadline=None)
def test_extract_turn_is_total_on_tag_soup(atoms):
    """The in-band error contract (pack.py:205-213 semantics): extract_turn
    NEVER raises, whatever the payload — poison rows surface in .error."""
    from artexin_spark.readability import ExtractResult, extract_turn

    res = extract_turn("".join(atoms), with_html=False)
    assert isinstance(res, ExtractResult)
    assert res.error is None or isinstance(res.error, str)


@given(st.lists(_soup_atoms, min_size=1, max_size=25))
@settings(max_examples=400, deadline=None)
def test_extract_turn_spans_recover_text_on_entity_free_soup(atoms):
    """The span contract: for entity-free payloads with no synthesized
    nodes (no preprocessors), the spans reassemble the extracted text
    exactly — fix_ws(join of source slices) == text. This is the same
    invariant the distributed extract_spans oracle checks per turn."""
    from artexin_spark.readability import extract_turn

    src = "".join(atoms)
    if "&" in src:  # entities decode into .text; raw spans stay byte-faithful
        return
    if "</>" in src or "<![" in src:
        # swallowed constructs (no handler / unknown_decl fires no flush):
        # stdlib buffers data ACROSS them, so a text node's span
        # legitimately covers the '</>' or marked-section bytes
        return
    res = extract_turn(src, with_html=False)
    if res.error is not None:
        return
    assert fix_ws(" ".join(src[s:e] for s, e in res.spans)) == res.text


_bound = st.one_of(st.none(), st.integers(-120, 120))


@given(
    st.lists(st.integers(-100, 100), min_size=0, max_size=20),
    _bound,
    _bound,
)
@settings(max_examples=300, deadline=None)
def test_stats_pruning_sound_and_complete_numeric(values, lo, hi):
    """Manifest evaluator (storage._stats_may_match) vs brute force:
    NEVER prunes a bucket containing a matching row (soundness), and
    always prunes when [min,max] is provably disjoint from the range
    (completeness on clean stats)."""
    import json

    from artexin_spark.storage import _stats_may_match

    stats = json.dumps(
        {
            "c": {
                "min": min(values) if values else None,
                "max": max(values) if values else None,
            }
        }
    )
    keep = _stats_may_match(stats, ("c", lo, hi))
    match_exists = any(
        (lo is None or v >= lo) and (hi is None or v <= hi) for v in values
    )
    if match_exists:
        assert keep  # pruning a matching bucket would drop rows
    if values:
        disjoint = (hi is not None and min(values) > hi) or (
            lo is not None and max(values) < lo
        )
        if disjoint:
            assert not keep  # clean stats must actually prune


@given(
    st.lists(st.text(min_size=0, max_size=6), min_size=1, max_size=12),
    st.one_of(st.none(), st.text(max_size=6)),
    st.one_of(st.none(), st.text(max_size=6)),
)
@settings(max_examples=200, deadline=None)
def test_stats_pruning_sound_strings(values, lo, hi):
    """Same soundness over string stats (lexicographic ranges), through
    the real JSON round-trip the manifest uses."""
    import json

    from artexin_spark.storage import _stats_may_match

    stats = json.dumps({"c": {"min": min(values), "max": max(values)}})
    keep = _stats_may_match(stats, ("c", lo, hi))
    match_exists = any(
        (lo is None or v >= lo) and (hi is None or v <= hi) for v in values
    )
    if match_exists:
        assert keep


@given(st.binary(min_size=0, max_size=400), st.integers(0, 400))
@settings(max_examples=400, deadline=None)
def test_pdf_dispatch_is_total_on_mutated_payloads(junk, cut):
    """extract_turn with a %PDF- prefixed payload — truncated, spliced,
    or pure garbage — must land failures in .error, never raise: one
    poison byte string can't fail a 10^12-row job (same in-band error
    contract as the HTML path, pack.py:205-213)."""
    from artexin_spark.pdfx import build_simple_pdf
    from artexin_spark.readability import extract_turn

    base = build_simple_pdf("Hello fuzz page").encode("latin-1")
    mutated = base[:cut] + junk + base[cut + len(junk):]
    if not mutated.startswith(b"%PDF-"):
        mutated = b"%PDF-" + mutated[5:]
    res = extract_turn(mutated.decode("latin-1"))
    assert res is not None  # returned, not raised


_maybe_int = st.one_of(st.none(), st.integers(-(2**62), 2**62))
_maybe_str = st.one_of(
    st.none(), st.text(st.characters(blacklist_categories=("Cs",)), max_size=6)
)


@given(
    st.lists(st.tuples(st.integers(0, 2), _maybe_int, _maybe_str), min_size=1, max_size=40),
    st.integers(1, 3),
)
@settings(max_examples=12, deadline=None)
def test_footer_stats_fold_matches_spark_min_max(spark, rows, n_files):
    """The commit's footer fold (storage.bucket_footers) over random
    int/string/null columns written by Spark as several files per bucket:
    a column is recorded exactly when the bucket holds a value, its bounds
    are Spark's min/max, the evaluator keeps every present value, and the
    row and null counts are exact. Bounds that missed a value would let
    the pruner drop live rows."""
    import json
    import tempfile

    from pyspark.sql import functions as F

    from artexin_spark import storage as sink_io

    with tempfile.TemporaryDirectory(prefix="footer-fold-") as sink:
        df = spark.createDataFrame(rows, "part_key int, i long, s string")
        sink_io.write_run_data(df.repartition(n_files), sink, "r")
        facts = sink_io.bucket_footers(sink, "r", ["i", "s"])
        agg = [F.count("*").alias("n")] + [
            f(c).alias(f"{f.__name__}_{c}") for c in ("i", "s") for f in (F.min, F.max, F.count)
        ]
        run = spark.read.parquet(sink_io.run_data_path(sink, "r"))
        spark_rows = run.groupBy("part_key").agg(*agg).collect()
    assert sorted(facts) == sorted(r["part_key"] for r in spark_rows)
    for r in spark_rows:
        f = facts[r["part_key"]]
        stats = json.loads(f.stats) if f.stats else {}
        assert f.rows == r["n"]
        for c in ("i", "s"):
            assert f.nulls[c] == r["n"] - r[f"count_{c}"]
            want = None if r[f"min_{c}"] is None else {"min": r[f"min_{c}"], "max": r[f"max_{c}"]}
            assert stats.get(c) == want, (c, stats, want)
        for k, *values in rows:
            for c, v in zip(("i", "s"), values):
                if k == r["part_key"] and v is not None:
                    assert sink_io._stats_may_match(f.stats, (c, v, v))


# --- BPE inference encoders (operators/bpe.py) -------------------------------

def _ref_sequential_merges(word: str, merges: list[tuple[str, str]]) -> list:
    """Independent reference: classic BPE application — each learned
    merge applied ONCE in learned order, left-to-right non-overlapping
    (the semantics of the engine's `_apply_merge` fold chain)."""
    syms = list(word) + ["</w>"]
    for left, right in merges:
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                out.append(left + right)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


_word = st.text(alphabet="ab'0", min_size=1, max_size=12)


@given(
    _word,
    st.lists(st.integers(0, 60), min_size=0, max_size=10),
)
@settings(max_examples=400, deadline=None)
def test_bpe_rank_replay_equals_sequential_merge_order(word, seed_idx):
    """Rank-replay (the inference tokenizer's mode='merge' encoder) ==
    sequential merge-order application, on random words over a tiny
    alphabet (maximizing pair collisions/overlaps) and random VALID merge
    tables: each merge's sides are drawn from symbols producible at that
    point, duplicate merged strings skipped (the documented equivalence
    precondition, asserted by the parity tests on real trainings too)."""
    from artexin_spark.operators.bpe import _encode_word_ranks

    # grow a valid merge table: sides drawn from the producible symbol
    # pool (chars + sentinel + previously merged), dedup on merged string
    pool = ["a", "b", "'", "0", "</w>"]
    merges: list[tuple[str, str]] = []
    seen = set()
    for ix in seed_idx:
        left = pool[ix % len(pool)]
        right = pool[(ix // len(pool)) % len(pool)]
        if right == "</w>" and left == "</w>":
            continue
        m = left + right
        if m in seen:
            continue
        seen.add(m)
        merges.append((left, right))
        pool.append(m)
    ranks = {pair: i + 1 for i, pair in enumerate(merges)}
    got = _encode_word_ranks(word, ranks)
    want = _ref_sequential_merges(word, merges)
    assert got == want, (word, merges, got, want)
    # segmentations always reconstruct the word exactly
    assert "".join(got) == word + "</w>"


@given(_word, st.lists(st.integers(0, 60), min_size=0, max_size=8))
@settings(max_examples=300, deadline=None)
def test_bpe_longest_match_is_valid_segmentation(word, seed_idx):
    """Greedy longest-match always yields a VALID segmentation (tokens
    reconcatenate to word+sentinel) with every multi-char token drawn
    from the vocab — even where it diverges from merge order."""
    from artexin_spark.operators.bpe import (
        _encode_word_longest,
        vocab_by_first,
    )

    pool = ["a", "b", "'", "0", "</w>"]
    merges = []
    for ix in seed_idx:
        left = pool[ix % len(pool)]
        right = pool[(ix // len(pool)) % len(pool)]
        merges.append((left, right))
        pool.append(left + right)
    bf = vocab_by_first({p: i for i, p in enumerate(merges)})
    toks = _encode_word_longest(word, bf)
    assert "".join(toks) == word + "</w>"
    vocab = {l + r for l, r in merges}
    for t in toks:
        assert len(t) == 1 or t == "</w>" or t in vocab, (word, toks, t)
