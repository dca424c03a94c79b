"""From-scratch readability-style main-content extraction.

Replaces the reference's dependency on the third-party ``breadability``
library (artexin/extract.py:113 ``Article(html, return_fragment=False)``)
with our own implementation of the public Arc90-Readability family
algorithm (SURVEY.md §7.3): unlikely-candidate stripping, text-density +
comma scoring with parent/grandparent propagation, class/id hints,
link-density damping, best-candidate sibling merge.

Contracts carried over from the reference and pinned in tests:
- ``get_title`` precedence title→h1→h2→h3, '' on miss (extract.py:35-87)
- ``extract`` keeps article text, drops nav/footer/script boilerplate
  (doctest at extract.py:95-103), returns (title, full html document with
  rebuilt <head>) (extract.py:115-130)
- ``no_extract`` passthrough (extract.py:134-137)
- ``strip_links`` unwraps <a> unless href starts with '#'
  (extract.py:294-310)
- ``process_images`` first-appearance ``imageNNNN`` indexing, dupes share
  the index, src-less <img> dropped, failed resolution decomposes the tag
  (extract.py:204-291) — offline variant: "fetch success" is deterministic
  (absolute http(s) URL with a known image extension), no network.

Beyond the reference, every kept text run also yields a character span
``(start, end)`` into the ORIGINAL payload (north-rule output column
``spans``), which our own DOM tracks natively.

All functions are pure Python; the Arrow batch loop over them is
``pipeline.extract_arrays``, wrapped for SQL/DataFrame use in udfs.py.
One poison row must never raise — extract_turn() traps all exceptions
into the in-band ``error`` field (pack.py:205-213 semantics).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from . import dom, pdfx
from .tokenizer import fix_ws
from .urlx import IEXTENSIONS, prepare_url, url_split

# --- heuristics tables (Arc90-family, public algorithm) -----------------

UNLIKELY_RE = re.compile(
    r"combx|comment|community|disqus|extra|foot|header|menu|remark|rss|"
    r"shoutbox|sidebar|sponsor|ad-break|agegate|pagination|pager|popup|"
    r"banner|masthead|nav|widget|social|share|breadcrumb",
    re.I,
)
MAYBE_RE = re.compile(r"and|article|body|column|main|shadow", re.I)
POSITIVE_RE = re.compile(
    r"article|body|content|entry|hentry|main|page|post|text|blog|story", re.I
)
NEGATIVE_RE = re.compile(
    r"combx|comment|com-|contact|foot|footer|footnote|masthead|media|meta|"
    r"outbrain|promo|related|scroll|shoutbox|sidebar|sponsor|shopping|tags|"
    r"tool|widget|nav|menu",
    re.I,
)

# Removed wholesale before scoring (boilerplate by construction).
STRIP_TAGS = frozenset(
    "script style noscript iframe form nav footer aside button select "
    "textarea link meta title object embed applet".split()
)

BLOCK_TAGS = frozenset(
    "p div h1 h2 h3 h4 h5 h6 li ul ol table thead tbody tr td th "
    "blockquote pre section article header footer br hr dl dt dd figure "
    "figcaption main aside nav body html head".split()
)

_IMG_EXT_TO_FMT = {ext: fmt for fmt, ext in IEXTENSIONS.items()}

MIN_TEXT_LEN = 25  # chars before a block contributes score


@dataclass
class ExtractResult:
    """Per-turn extraction output (SURVEY.md §1.2 output schema)."""

    title: str = ""
    html: str = ""
    text: str = ""
    spans: list[tuple[int, int]] = field(default_factory=list)
    images: list[str] = field(default_factory=list)
    n_images: int = 0
    error: str | None = None


# --- title ----------------------------------------------------------------


def get_title(doc: dom.Node) -> str:
    """First non-None of <title>, h1, h2, h3 → stripped .string; '' when
    the winning tag has no unambiguous string. Reference: extract.py:35-87.
    """
    for tag in ("title", "h1", "h2", "h3"):
        node = doc.find(tag)
        if node is not None:
            s = node.string()
            if s is None:
                return ""
            return str(s).strip()
    return ""


# --- scoring helpers -------------------------------------------------------


def _norm_text(node: dom.Node) -> str:
    # memoized on the node; dom mutators invalidate up the ancestor chain
    # so nested candidates / repeated link-density passes share the walk
    cached = node._norm
    if cached is None:
        cached = node._norm = fix_ws(node.text_content())
    return cached


def link_density(node: dom.Node, counts: dict[int, int] | None = None) -> float:
    total = len(_norm_text(node))
    if total == 0:
        return 0.0
    if counts is not None:
        link_chars = counts.get(id(node), 0)
    else:
        link_chars = sum(len(_norm_text(a)) for a in node.find_all("a"))
    return min(1.0, link_chars / total)


def _link_char_counts(root: dom.Node) -> dict[int, int]:
    """id(element) → total normalized <a>-descendant chars, for every
    element in one linear post-order pass. Equals what
    ``sum(len(_norm_text(a)) for a in node.find_all("a"))`` computes per
    node (nested <a> counts both levels, exactly like the subtree walk),
    but O(tree) once instead of O(subtree) per scored candidate — the
    per-candidate find_all walks were ~20% of extraction wall (profiled).
    """
    counts: dict[int, int] = {}
    stack: list[tuple[dom.Node, bool]] = [(root, False)]
    while stack:
        node, post = stack.pop()
        if node.tag is None:
            continue
        if post:
            total = 0
            for kid in node.children:
                if kid.tag is None:
                    continue
                total += counts.get(id(kid), 0)
                if kid.tag == "a":
                    total += len(_norm_text(kid))
            counts[id(node)] = total
            continue
        stack.append((node, True))
        for kid in node.children:
            stack.append((kid, False))
    return counts


def class_weight(node: dom.Node) -> float:
    w = 0.0
    for val in (node.attrs.get("class") or "", node.attrs.get("id") or ""):
        if not val:
            continue
        if NEGATIVE_RE.search(val):
            w -= 25.0
        if POSITIVE_RE.search(val):
            w += 25.0
    return w


def _base_score(tag: str) -> float:
    if tag in ("div", "article", "section", "main"):
        return 5.0
    if tag in ("pre", "td", "blockquote"):
        return 3.0
    if tag in ("address", "ol", "ul", "dl", "dd", "dt", "li", "form"):
        return -3.0
    if tag in ("h1", "h2", "h3", "h4", "h5", "h6", "th"):
        return -5.0
    return 0.0


def strip_unlikely(doc: dom.Document) -> None:
    """Drop STRIP_TAGS subtrees and unlikely-candidate class/id elements
    (unless body-like). Mutates the tree."""
    # explicit stack; a decomposed subtree is not descended into (its
    # descendants are gone from the output either way — equivalent to the
    # old snapshot-then-revisit pass, minus the wasted walks)
    stack = list(reversed(doc.children))
    while stack:
        node = stack.pop()
        if node.tag is None:
            continue
        if node.tag in STRIP_TAGS:
            node.decompose()
            continue
        attrs = node.attrs
        if attrs and node.tag not in ("html", "body"):
            hint = "%s %s" % (attrs.get("class") or "", attrs.get("id") or "")
            if hint != " " and UNLIKELY_RE.search(hint) and not MAYBE_RE.search(hint):
                node.decompose()
                continue
        if node.children:
            stack.extend(reversed(node.children))


def _strip_collect_count(doc: dom.Document):
    """strip_unlikely + candidate collection + link-char counts fused into
    ONE pre+post-order DFS (they were three full-tree walks). Pre-visit
    mutates exactly like strip_unlikely; post-visit computes the same
    bottom-up totals as _link_char_counts over the now-final children.
    Candidates keep strip-then-walk pre-order (score ties pick the first
    encountered max, so order is behavior); div qualification is decided
    AFTER the walk, when the div's children are post-strip."""
    cands: list[dom.Node] = []
    counts: dict[int, int] = {}
    stack: list[tuple[dom.Node, bool]] = [
        (kid, False) for kid in reversed(doc.children)
    ]
    while stack:
        node, post = stack.pop()
        if post:
            total = 0
            for kid in node.children:
                if kid.tag is None:
                    continue
                total += counts.get(id(kid), 0)
                if kid.tag == "a":
                    total += len(_norm_text(kid))
            counts[id(node)] = total
            continue
        tag = node.tag
        if tag is None:
            continue
        if tag in STRIP_TAGS:
            node.decompose()
            continue
        attrs = node.attrs
        if attrs and tag not in ("html", "body"):
            hint = "%s %s" % (attrs.get("class") or "", attrs.get("id") or "")
            if hint != " " and UNLIKELY_RE.search(hint) and not MAYBE_RE.search(hint):
                node.decompose()
                continue
        if tag in ("p", "td", "pre", "div"):
            cands.append(node)
        # post-visit frames only for nodes with ELEMENT children: a node
        # whose kids are all text contributes counts[id] = 0, which the
        # parent's .get(id, 0) already yields for an absent entry — most
        # elements are text-only leaves, so most post frames are skipped
        kids = node.children
        if kids:
            if any(k.tag is not None for k in kids):
                stack.append((node, True))
            for kid in reversed(kids):
                stack.append((kid, False))
    # the root itself is a scorable parent (top-level <p> under a fragment)
    total = 0
    for kid in doc.children:
        if kid.tag is None:
            continue
        total += counts.get(id(kid), 0)
        if kid.tag == "a":
            total += len(_norm_text(kid))
    counts[id(doc)] = total
    blocks = [n for n in cands if n.tag != "div" or _is_div_as_paragraph(n)]
    return blocks, counts


def _score_blocks(blocks: list[dom.Node]) -> dict[int, tuple[dom.Node, float]]:
    """The scoring half of score_candidates, over a pre-collected ordered
    block list (comma/length → parent ×1, grandparent ×0.5)."""
    scores: dict[int, list] = {}

    def ensure(node):
        key = id(node)
        if key not in scores:
            scores[key] = [node, _base_score(node.tag) + class_weight(node)]
        return scores[key]

    for node in blocks:
        text = _norm_text(node)
        if len(text) < MIN_TEXT_LEN:
            continue
        content = 1.0 + text.count(",") + min(len(text) / 100.0, 3.0)
        parent = node.parent
        if parent is not None and parent.tag is not None:
            ensure(parent)[1] += content
            grand = parent.parent
            if grand is not None and grand.tag is not None:
                ensure(grand)[1] += content / 2.0
    return {k: (n, s) for k, (n, s) in scores.items()}


def _is_div_as_paragraph(node: dom.Node) -> bool:
    """A div with no block-level element children behaves like a <p>."""
    if node.tag != "div":
        return False
    return not any(
        (not kid.is_text) and kid.tag in BLOCK_TAGS for kid in node.children
    )


def score_candidates(doc: dom.Document) -> dict[int, tuple[dom.Node, float]]:
    """Comma/length scoring of text blocks, propagated to parent (×1) and
    grandparent (×0.5). Returns {id(node): (node, raw_score)}."""
    scores: dict[int, list] = {}

    def ensure(node):
        key = id(node)
        if key not in scores:
            scores[key] = [node, _base_score(node.tag) + class_weight(node)]
        return scores[key]

    stack = list(reversed(doc.children))
    while stack:
        node = stack.pop()
        if node.tag is None:
            continue
        if node.children:
            stack.extend(reversed(node.children))
        if node.tag in ("p", "td", "pre") or _is_div_as_paragraph(node):
            text = _norm_text(node)
            if len(text) < MIN_TEXT_LEN:
                continue
            content = 1.0 + text.count(",") + min(len(text) / 100.0, 3.0)
            parent = node.parent
            if parent is not None and parent.tag is not None:
                ensure(parent)[1] += content
                grand = parent.parent
                if grand is not None and grand.tag is not None:
                    ensure(grand)[1] += content / 2.0
    return {k: (n, s) for k, (n, s) in scores.items()}


def select_best(doc: dom.Document):
    """Best candidate after link-density damping; None when no candidate
    scored (caller falls back to <body>)."""
    scored = score_candidates(doc)
    if not scored:
        return None, {}, None
    # all link-char counts in ONE linear pass (candidates overlap —
    # parent + grandparent — so per-candidate subtree walks repeat work)
    counts = _link_char_counts(doc)
    best, finals = _finalize(scored, counts)
    return best, finals, counts


def _finalize(scored, counts):
    finals = {
        k: (n, s * (1.0 - link_density(n, counts))) for k, (n, s) in scored.items()
    }
    best, best_score = None, float("-inf")
    for node, final in finals.values():
        if final > best_score:
            best, best_score = node, final
    return best, finals


def build_article(doc: dom.Document) -> dom.Node:
    """Winner + qualifying siblings merged in document order
    (SURVEY.md §7.3). Returns the article container node."""
    best, finals, counts = select_best(doc)
    return _merge_article(doc, best, finals, counts)


def strip_and_build(doc: dom.Document) -> dom.Node:
    """strip_unlikely + build_article with the tree walks fused (the hot
    path used by extract_turn). Behavior-identical to calling
    strip_unlikely(doc) then build_article(doc) — pinned by a
    differential test over the corpus."""
    blocks, counts = _strip_collect_count(doc)
    scored = _score_blocks(blocks)
    if not scored:
        best, finals = None, {}
    else:
        best, finals = _finalize(scored, counts)
    return _merge_article(doc, best, finals, counts)


def _merge_article(doc, best, finals, counts) -> dom.Node:
    if best is None:
        return doc.body
    best_final = finals[id(best)][1]
    parent = best.parent
    if parent is None:
        return best
    threshold = max(10.0, best_final * 0.2)
    article = dom.new_element("div", {"id": "article"})
    for sib in list(parent.children):
        if sib.is_text:
            if sib.text.strip():
                article.append(sib)
            continue
        keep = False
        if sib is best:
            keep = True
        elif id(sib) in finals and finals[id(sib)][1] >= threshold:
            keep = True
        elif sib.tag == "p":
            # counts stays valid here: appends detach EARLIER siblings from
            # the parent but never mutate this sib's own subtree
            text = _norm_text(sib)
            ld = link_density(sib, counts)
            if len(text) >= 80 and ld < 0.25:
                keep = True
            elif 0 < len(text) < 80 and ld == 0.0 and text.endswith("."):
                keep = True
        if keep:
            article.append(sib)
    return article


# --- text + spans ----------------------------------------------------------


def collect_text_spans(node: dom.Node) -> tuple[str, list[tuple[int, int]]]:
    """Normalized visible text of ``node`` plus (start,end) source spans of
    every contributing text run.

    Canonical assembly rule (used identically by the golden generator, the
    Spark UDF, and the recovery invariant): text runs join with a single
    space, then whitespace is normalized — so for entity-free sources
    ``fix_ws(' '.join(src[s:e] for s,e in spans)) == text`` holds exactly,
    and is SQL-expressible (transform + array_join + regexp_replace) for
    distributed verification. Entity-bearing runs keep raw-source spans
    (byte-faithful) while ``text`` carries the decoded form."""
    parts: list[str] = []
    spans: list[tuple[int, int]] = []

    # explicit stack, not recursion: adversarial pages nest thousands of
    # inline tags inside the article body and must extract, not error.
    # (n, True) frames are the post-visit block separator.
    stack: list[tuple[dom.Node, bool]] = [(node, False)]
    while stack:
        n, post = stack.pop()
        if post:
            parts.append("\n")
            continue
        if n.is_text:
            parts.append(n.text)
            parts.append(" ")
            if n.text.strip() and n.start >= 0 and n.end > n.start:
                spans.append((n.start, n.end))
            continue
        if n.tag in BLOCK_TAGS:
            parts.append("\n")
            stack.append((n, True))
        for kid in reversed(n.children):
            stack.append((kid, False))
    return fix_ws("".join(parts)), spans


# --- link stripping ---------------------------------------------------------


def strip_links(doc: dom.Node) -> None:
    """Unwrap every <a> whose href doesn't start with '#' (keep text, drop
    tag). Reference: extract.py:294-310. Mutates the tree."""
    for tag in doc.find_all("a"):
        if not (tag.attrs.get("href") or "").startswith("#"):
            tag.unwrap()


# --- image processing (offline-deterministic) -------------------------------


def _resolve_image(url: str) -> tuple[str, str] | None:
    """Offline stand-in for fetch_image (fetch.py:118-172): succeed iff the
    absolute URL looks http(s) and carries a known image extension; the
    'format sniff' is the extension→format table. Returns (format, ext) or
    None (→ tag decomposed, like a network failure)."""
    low = url.lower().split("?")[0].split("#")[0]
    if not (low.startswith("http://") or low.startswith("https://")):
        return None
    idx = low.rfind(".")
    if idx < 0:
        return None
    ext = low[idx:]
    if ext == ".jpeg":
        ext = ".jpg"
    fmt = _IMG_EXT_TO_FMT.get(ext)
    if fmt is None:
        return None
    return fmt, ext


def process_images(doc: dom.Node, base_url: str) -> list[str]:
    """Dedup <img> by src keeping first-appearance order; absolutize srcs
    against the doc URL; rewrite kept srcs to './imageNNNN.<ext>' (NNNN =
    index of first appearance); drop src-less imgs and failed resolutions
    (dupes follow their unique's fate). Returns resolved absolute URLs.

    Reference semantics: extract.py:204-291. Relational skeleton (kept
    in-UDF because it is per-document and order-sensitive):
    explode(img) → row_number over first occurrence → dropDuplicates →
    left join assets → join back.
    """
    return _process_image_tags(doc.find_all("img"), base_url)


def _process_image_tags(img_tags: list[dom.Node], base_url: str) -> list[str]:
    seen: list[str] = []
    seen_idx: dict[str, int] = {}  # O(1) dupe lookup: sprite/tracker-heavy
    tags: list[dom.Node] = []     # pages repeat one src thousands of times
    dupes: list[tuple[dom.Node, int]] = []
    for img in img_tags:
        src = img.attrs.get("src")
        if src is None:
            img.decompose()
            continue
        idx = seen_idx.get(src)
        if idx is not None:
            dupes.append((img, idx))
        else:
            seen_idx[src] = len(seen)
            seen.append(src)
            tags.append(img)

    base, docpath = url_split(base_url)
    resolved = [prepare_url(src, base, docpath) for src in seen]
    results: list[tuple[str, str] | None] = [_resolve_image(u) for u in resolved]

    images: list[str] = []
    names: list[str | None] = []
    for idx, (tag, res) in enumerate(zip(tags, results)):
        if res is None:
            names.append(None)
            tag.decompose()
        else:
            _fmt, ext = res
            name = "./image%04d%s" % (idx, ext)
            names.append(name)
            tag.attrs["src"] = name
            images.append(resolved[idx])
    for tag, idx in dupes:
        if names[idx] is None:
            tag.decompose()
        else:
            tag.attrs["src"] = names[idx]
    return images


def _apply_links_images(
    article: dom.Node, base_url: str, do_strip_links: bool, with_images: bool
) -> list[str]:
    """strip_links + process_images in ONE article-subtree walk (each used
    to walk it separately). Reference order preserved (strip_links then
    images, pack.py:226,229): unwrapping an <a> lifts its children in
    place, so <img> document order and membership are unchanged."""
    want_images = with_images and bool(base_url)
    if not want_images:
        if do_strip_links:
            strip_links(article)
        return []
    nodes = article.find_all(("a", "img"))
    if do_strip_links:
        for tag in nodes:
            if tag.tag == "a" and not (tag.attrs.get("href") or "").startswith("#"):
                tag.unwrap()
    return _process_image_tags([n for n in nodes if n.tag == "img"], base_url)


# --- document assembly -------------------------------------------------------


def _document_html_text(title: str, text: str) -> str:
    """Same document shape as _document_html but from plain text (the PDF
    path has no DOM article node)."""

    def esc(s: str) -> str:
        return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

    return (
        "<!DOCTYPE html>\n<html><head><meta charset=\"utf-8\">"
        "<meta content=\"text/html; charset='utf-8'\" name=\"http-equiv\">"
        "<title>%s</title></head><body><p>%s</p></body></html>"
        % (esc(title), esc(text))
    )


def _document_html(title: str, article: dom.Node) -> str:
    """Rebuild a full document: doctype + <head> with charset metas and
    <title> + article body. Reference: extract.py:115-130."""
    esc = title.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    return (
        "<!DOCTYPE html>\n<html><head><meta charset=\"utf-8\">"
        "<meta content=\"text/html; charset='utf-8'\" name=\"http-equiv\">"
        "<title>%s</title></head><body>%s</body></html>"
        % (esc, article.to_html())
    )


def extract(html: str) -> tuple[str, str]:
    """(title, full-document html) — the reference's core operator shape
    (extract.py:90-131), our scorer underneath."""
    res = extract_turn(html)
    return res.title, res.html


def no_extract(html: str) -> tuple[str, str]:
    """Passthrough: title + original html (extract.py:134-137)."""
    doc = dom.parse(html)
    return get_title(doc), html


def extract_turn(
    html: str,
    base_url: str = "",
    do_extract: bool = True,
    preprocessors=(),
    with_images: bool = True,
    do_strip_links: bool = True,
    with_html: bool = True,
) -> ExtractResult:
    """Full per-turn pipeline (the collect() shape, pack.py:157-251, minus
    network/zip): parse → preprocess → extract/no_extract → strip_links →
    process_images → text+spans. Never raises: any exception lands in
    ``.error`` (pack.py:205-213 semantics)."""
    result = ExtractResult()
    doc = article = None
    try:
        if html is None or not html or html.isspace():
            # isspace() twin of `not html.strip()` — no full-string copy
            result.error = "empty_payload"
            return result
        if pdfx.is_pdf(html):
            # PDF/layout payload (north rule): from-scratch parse in pdfx.
            # Spans stay empty — the span contract is char offsets into the
            # original payload, undefined for decoded/inflated PDF streams.
            title, body = pdfx.pdf_extract(html)
            result.title = title
            result.text = fix_ws(body)
            if with_html:
                result.html = _document_html_text(title, result.text)
            return result
        doc = dom.parse(html)
        for prep in preprocessors:
            prep(doc)
        result.title = get_title(doc)
        if do_extract:
            article = strip_and_build(doc)
        else:
            article = doc.body
        seen = getattr(doc, "tags_seen", None)
        if seen is not None and "a" not in seen and "img" not in seen:
            # no <a>/<img> ever parsed (preps never create either; they
            # only move existing nodes) — the unwrap/images walk is a
            # guaranteed no-op
            result.images = []
        else:
            result.images = _apply_links_images(
                article, base_url, do_strip_links, with_images
            )
        result.n_images = len(result.images)
        result.text, spans = collect_text_spans(article)
        result.spans = spans
        if with_html:
            # ~10% of per-turn wall; the Spark UDF emits text+spans only,
            # so the batch path opts out (reference html shape kept for the
            # extract()/compat facades, extract.py:115-130)
            result.html = _document_html(result.title, article)
        return result
    except Exception as err:  # noqa: BLE001 — in-band error channel
        result.error = "%s: %s" % (type(err).__name__, err)
        return result
    finally:
        # Sever the upward parent links so the tree frees by REFCOUNT the
        # moment the locals die: parent pointers make every DOM a reference
        # cycle, so without this each document survives until a cyclic GC
        # pass — measured ~6% of batch wall spent in gc with millions of
        # tree nodes churning per task. Downward walk over both roots
        # (article holds nodes moved OUT of doc's tree).
        for root in (doc, article):
            if root is None:
                continue
            stack = [root]
            while stack:
                node = stack.pop()
                node.parent = None
                kids = node.children
                if kids:
                    stack.extend(kids)
