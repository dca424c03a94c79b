"""Lightweight HTML DOM on stdlib ``html.parser`` with source char offsets.

The sandbox has no lxml/bs4, and the extraction contract needs character
spans ``(start, end)`` into the *original* payload for every kept text run
— something neither library exposes. So the engine carries its own small
DOM: elements + text nodes, mutation (decompose/unwrap/rename/move) for
the preprocessors (reference behaviors: artexin/preprocessors.py,
artexin/extract.py:294-310), and a deterministic serializer shared by the
golden generator and the Spark UDF path so text equality is structural.

Parsing is tolerant: mismatched end tags are dropped, unclosed tags are
closed at EOF — one poison row must never throw (the pipeline's in-band
``error`` column handles genuine parser explosions).
"""

from __future__ import annotations

import html as _html
import re
import types
from html.parser import HTMLParser

VOID_TAGS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)

_ESCAPE = {"&": "&amp;", "<": "&lt;", ">": "&gt;"}

#: Shared attrs mapping for TEXT nodes only (tag is None): text nodes are
#: created in bulk during parsing and none of the tree code ever reads or
#: writes `.attrs` on a text node (every consumer checks `.tag`/`.is_text`
#: first), so they can share one read-only empty mapping instead of
#: allocating ~40% of all per-parse dicts. A write raises TypeError rather
#: than leaking into every text node of the process. Elements always get
#: their own dict.
_NO_ATTRS = types.MappingProxyType({})


class Node:
    """Element or text node. ``tag is None`` marks a text node."""

    __slots__ = ("tag", "attrs", "children", "parent", "text", "start", "end", "_norm")

    def __init__(self, tag=None, attrs=None, text="", start=-1, end=-1):
        self.tag = tag
        self.attrs = (
            attrs if attrs is not None else (_NO_ATTRS if tag is None else {})
        )
        self.children: list[Node] = []
        self.parent: Node | None = None
        self.text = text
        self.start = start
        self.end = end
        # memoized fix_ws(text_content()) — owned by readability._norm_text;
        # every structural mutator below clears it up the ancestor chain so
        # the cache can never serve a stale subtree. `.text` itself is only
        # written during parsing (before any caller can have cached).
        self._norm = None

    def _invalidate(self):
        # full ancestor walk: a grandparent may be cached while the parent
        # is not (caches are per-node, not per-path), so no early exit.
        node = self
        while node is not None:
            node._norm = None
            node = node.parent

    # -- tree access ---------------------------------------------------
    @property
    def is_text(self) -> bool:
        return self.tag is None

    def iter(self):
        """Depth-first pre-order over self and all descendants."""
        stack = [self]
        while stack:
            node = stack.pop()
            yield node
            stack.extend(reversed(node.children))

    def find_all(self, tag=None, cls=None, id_=None):
        """All descendant elements matching tag name / class / id.

        ``tag`` may be a string or a tuple of strings. ``cls`` matches if
        present in the (whitespace-split) class list — get_cls semantics
        from the reference (artexin/htmlutils.py:19-37).
        """
        if isinstance(tag, str):
            tag = (tag,)
        # explicit stack, no generator frames — this is the hottest tree
        # walk in the extraction path (profiled: generator iter() cost ~15%
        # of scoring wall)
        out = []
        stack = list(reversed(self.children))
        pop = stack.pop
        extend = stack.extend
        while stack:
            node = pop()
            kids = node.children
            if kids:
                extend(reversed(kids))
            if node.tag is None:
                continue
            if tag is not None and node.tag not in tag:
                continue
            if cls is not None and cls not in node.classes():
                continue
            if id_ is not None and node.attrs.get("id") != id_:
                continue
            out.append(node)
        return out

    def find(self, tag=None, cls=None, id_=None):
        """First match in find_all's traversal order, early-exit (find_all
        would walk the whole tree to return [0])."""
        if isinstance(tag, str):
            tag = (tag,)
        stack = list(reversed(self.children))
        pop = stack.pop
        extend = stack.extend
        while stack:
            node = pop()
            kids = node.children
            if kids:
                extend(reversed(kids))
            if node.tag is None:
                continue
            if tag is not None and node.tag not in tag:
                continue
            if cls is not None and cls not in node.classes():
                continue
            if id_ is not None and node.attrs.get("id") != id_:
                continue
            return node
        return None

    def get(self, name, default=None):
        return self.attrs.get(name, default)

    def classes(self) -> list[str]:
        val = self.attrs.get("class")
        return val.split() if val else []

    def text_nodes(self):
        for node in self.iter():
            if node.is_text:
                yield node

    def text_content(self) -> str:
        """Raw concatenation of descendant text (no normalization);
        a text node returns its own text (iter() includes self)."""
        if self.tag is None:
            return self.text
        parts = []
        append = parts.append
        stack = list(reversed(self.children))
        pop = stack.pop
        extend = stack.extend
        while stack:
            node = pop()
            if node.tag is None:
                append(node.text)
            elif node.children:
                extend(reversed(node.children))
        return "".join(parts)

    def string(self) -> str | None:
        """BeautifulSoup-``.string``-like: the single text child, recursing
        through single-element wrappers; None when ambiguous."""
        node = self
        while True:
            kids = node.children
            if len(kids) == 1 and kids[0].is_text:
                return kids[0].text
            elems = [k for k in kids if not k.is_text or k.text.strip()]
            if len(elems) == 1 and not elems[0].is_text:
                node = elems[0]
                continue
            return None

    # -- mutation -------------------------------------------------------
    def append(self, node: Node):
        node.detach()
        node.parent = self
        self.children.append(node)
        self._invalidate()

    def insert(self, index: int, node: Node):
        node.detach()
        node.parent = self
        self.children.insert(index, node)
        self._invalidate()

    def detach(self):
        if self.parent is not None:
            old = self.parent
            old.children.remove(self)
            self.parent = None
            old._invalidate()

    def decompose(self):
        """Remove self (and subtree) from the document."""
        self.detach()

    def unwrap(self):
        """Replace self with own children (keep content, drop the tag)."""
        parent = self.parent
        if parent is None:
            return
        idx = parent.children.index(self)
        kids = list(self.children)
        parent.children[idx : idx + 1] = kids
        for kid in kids:
            kid.parent = parent
        self.parent = None
        self.children = []
        self._norm = None
        parent._invalidate()

    def clear(self):
        for kid in self.children:
            kid.parent = None
        self.children = []
        self._invalidate()

    # -- serialization ---------------------------------------------------
    def to_html(self) -> str:
        # explicit stack, not recursion: serialization must survive the
        # same thousands-deep adversarial nesting the parser tolerates.
        # (node, True) frames emit the close tag after the subtree.
        parts: list[str] = []
        stack: list[tuple[Node, bool]] = [(self, False)]
        while stack:
            node, post = stack.pop()
            if post:
                parts.append("</%s>" % node.tag)
                continue
            if node.tag is None:
                text = node.text
                for src, dst in _ESCAPE.items():
                    text = text.replace(src, dst)
                parts.append(text)
                continue
            if node.tag == "[document]":
                for kid in reversed(node.children):
                    stack.append((kid, False))
                continue
            parts.append("<" + node.tag)
            for key, val in node.attrs.items():
                if val is None:
                    parts.append(" " + key)
                else:
                    parts.append(
                        ' %s="%s"'
                        % (key, val.replace("&", "&amp;").replace('"', "&quot;"))
                    )
            parts.append(">")
            if node.tag in VOID_TAGS:
                continue
            stack.append((node, True))
            for kid in reversed(node.children):
                stack.append((kid, False))
        return "".join(parts)

    def __repr__(self):  # pragma: no cover - debug aid
        if self.is_text:
            return "Text(%r)" % self.text[:40]
        return "<%s %r kids=%d>" % (self.tag, self.attrs, len(self.children))


class Document(Node):
    __slots__ = ("source", "tags_seen")

    def __init__(self, source: str):
        super().__init__(tag="[document]")
        self.source = source
        # Element names seen AT PARSE TIME (both parser paths fill it).
        # An over-approximation under later mutation: decompose/unwrap only
        # remove elements, so absence from this set still proves absence
        # from the tree — consumers may use it ONLY for "tag never present"
        # early-exits (pp_fixheaders, the links/images walk), never for
        # positive lookups (preprocessors may add h1/p later).
        self.tags_seen: set = set()

    @property
    def body(self) -> Node:
        return self.find("body") or self

    @property
    def html(self) -> Node:
        return self.find("html") or self


class _Parser(HTMLParser):
    # RCDATA handling: html.parser already treats script/style as CDATA.

    def __init__(self, source: str):
        super().__init__(convert_charrefs=False)
        self.source = source
        self.doc = Document(source)
        self.stack: list[Node] = [self.doc]
        # line start offsets for abs position math (C-level scan: a
        # per-char Python loop here costs ~15% of total parse time)
        starts = [0]
        find = source.find
        pos = find("\n")
        while pos != -1:
            starts.append(pos + 1)
            pos = find("\n", pos + 1)
        self.line_starts = starts
        self._text_parts: list[str] = []
        self._text_start = -1

    # -- position helpers ---------------------------------------------
    def _abs(self) -> int:
        line, col = self.getpos()
        return self.line_starts[line - 1] + col

    def _flush_text(self, end: int | None = None):
        if not self._text_parts:
            return
        text = "".join(self._text_parts)
        node = Node(
            text=text,
            start=self._text_start,
            end=end if end is not None else self._abs(),
        )
        self._append(node)
        self._text_parts = []
        self._text_start = -1

    def _append(self, node: Node):
        top = self.stack[-1]
        node.parent = top
        top.children.append(node)

    def _add_text(self, decoded: str):
        if not self._text_parts:
            self._text_start = self._abs()
        self._text_parts.append(decoded)

    # -- HTMLParser hooks ------------------------------------------------
    def handle_data(self, data):
        self._add_text(data)

    def _ref_text(self, prefix_len: int, name: str):
        # decode the SOURCE-FAITHFUL slice: goahead may or may not have
        # consumed a ';', and reconstructing "&name;" invents one for
        # unknown entities ("&d.h" must stay "&d.h", not become "&d.h;").
        # html.unescape also applies the html5 invalid-charref mapping
        # (surrogates/out-of-range → U+FFFD) that a raw chr() would miss.
        pos = self._abs()
        end = pos + prefix_len + len(name)
        if self.source[end : end + 1] == ";":
            end += 1
        self._add_text(_html.unescape(self.source[pos:end]))

    def handle_entityref(self, name):
        self._ref_text(1, name)

    def handle_charref(self, name):
        self._ref_text(2, name)

    def handle_starttag(self, tag, attrs):
        self._flush_text(self._abs())
        node = Node(tag=tag, attrs=dict(attrs), start=self._abs())
        self.doc.tags_seen.add(tag)
        self._append(node)
        if tag not in VOID_TAGS:
            self.stack.append(node)

    def handle_startendtag(self, tag, attrs):
        self._flush_text(self._abs())
        node = Node(tag=tag, attrs=dict(attrs), start=self._abs())
        self.doc.tags_seen.add(tag)
        self._append(node)

    def handle_endtag(self, tag):
        self._flush_text(self._abs())
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag == tag:
                for node in self.stack[i:]:
                    node.end = self._abs()
                del self.stack[i:]
                return
        # stray end tag: ignore (tolerant parse)

    def handle_comment(self, data):
        self._flush_text(self._abs())

    def handle_decl(self, decl):
        self._flush_text(self._abs())

    def handle_pi(self, data):
        self._flush_text(self._abs())

    def finish(self) -> Document:
        try:
            self.close()
        except Exception:
            # e.g. unknown marked-section keyword: keep the tree built so far
            pass
        self._flush_text(len(self.source))
        for node in self.stack[1:]:
            node.end = len(self.source)
        return self.doc


# --------------------------------------------------------------------------
# fast tokenizer
#
# html.parser's pure-Python goahead/parse_starttag loop is ~60% of total
# extraction cost (profiled). This scanner produces the IDENTICAL Document
# (same node structure, attrs, text, char-offset spans) at a fraction of
# the cost by driving the stdlib module's own tolerant regexes directly —
# one C-level match per construct instead of goahead's per-event Python
# bookkeeping (updatepos, handler dispatch, buffered text flushes).
# Parity is enforced by differential tests: node-for-node equality against
# the stdlib-backed path on the corpus, adversarial cases, and hypothesis
# tag-soup fuzz (tests/test_dom_fast.py, tests/test_properties.py).
#
# Span semantics (both paths): text spans cover the raw run between
# constructs; element.end = offset of its closing tag's '<'; void and
# self-closing elements keep end = -1; unclosed elements end at EOF.

from html import parser as _hp

_LOCATE_START = _hp.locatestarttagend_tolerant
_TAGFIND = _hp.tagfind_tolerant
_ATTRFIND = _hp.attrfind_tolerant
_ENDTAGFIND = _hp.endtagfind
_ENDGT = _hp.endendtag
_COMMENTCLOSE = _hp.commentclose  # '--\\s*>' — NOT a literal '-->'!

# an '&' entity/charref prefix that reaches EOF with NO delimiter is an
# INCOMPLETE construct to html.parser — it lands as RAW data, undecoded
# (goahead's incomplete branch). Only the final text run can hit this.
_AMP_TAIL = re.compile(r"&(?:[a-zA-Z][-.a-zA-Z0-9]*|#[0-9]*|#[xX][0-9a-fA-F]*)?\Z")
_CHARREF = _hp.charref  # '&#(?:[0-9]+|[xX][0-9a-fA-F]+)[^0-9a-fA-F]'


def _amp_hash_bails(source: str, run_start: int, run: str) -> list[int]:
    """Absolute positions of '&#' occurrences in ``run`` that are NOT
    valid charrefs — goahead's bail cases. Each goahead PASS consumes at
    most one (as raw '&#', when a ';' exists later) and then breaks;
    feed()+close() is exactly two passes. Pass 1 ends at the FIRST of:
    a bail, or ANY incomplete construct (goahead's ``if not end: break``
    sites — exactly where our scanner calls recover()). A bail reached
    once pass 2 has begun (or any bail with no ';' anywhere ahead) dumps
    the remainder of the document as one raw data chunk, tags included."""
    out = []
    rel = run.find("&#")
    while rel >= 0:
        a = run_start + rel
        if _CHARREF.match(source, a) is None:
            out.append(a)
        rel = run.find("&#", rel + 2)
    return out

# after a start tag's attr scan, these next-chars mean "incomplete tag"
# (html.parser.check_for_whole_start_tag's buffer-boundary set)
_INCOMPLETE_NEXT = frozenset("abcdefghijklmnopqrstuvwxyz=/ABCDEFGHIJKLMNOPQRSTUVWXYZ")

# script/style close in CDATA mode: html.parser only leaves CDATA on the
# FULL close-tag pattern (set_cdata_mode), junk like "</script foo>" stays
# content
_RAW_CLOSE = {
    "script": re.compile(r"</\s*script\s*>", re.I),
    "style": re.compile(r"</\s*style\s*>", re.I),
}

# Strict-subset master scanner: ONE C-level regex match per well-formed
# construct. Each alternative matches only inputs on which the tolerant
# per-construct logic below provably produces the same tree node (same
# name casefold, same attr quoting/decoding, same end offsets), so any
# position the master regex rejects simply falls through to the tolerant
# path. Attr values exclude <> (stdlib allows them quoted — rare, slow
# path); names are conservative subsets of tagfind/attrfind_tolerant.
# The (?!--) lookahead keeps half-open comments ("<!--x>" with no "-->")
# out of the decl arm — those must take the tolerant recover() route.
_STRICT = re.compile(
    r"([^<]+)"                                                # 1 text run
    r"|<([a-zA-Z][a-zA-Z0-9]*)"                               # 2 start tag
    r"((?:\s+[a-zA-Z_:][a-zA-Z0-9_:.-]*=\"[^\"<>]*\")*)"      # 3 attrs
    r"\s*(/?)>"                                               # 4 self-close
    r"|</([a-zA-Z][a-zA-Z0-9]*)\s*>"                          # 5 end tag
    r"|(<!--.*?--\s*>)"                                       # 6 comment
    r"|(<!(?!--)[^\['\">]*>|<\?[^>]*>)",                    # 7 decl / pi
    re.S,
)
_ATTR_STRICT = re.compile(r'([a-zA-Z_:][a-zA-Z0-9_:.-]*)="([^"<>]*)"')


def _decode(raw: str) -> str:
    return _html.unescape(raw) if "&" in raw else raw


def _decode_final(raw: str) -> tuple[str, int]:
    """(text, start_shift) for a run that ends at EOF: an unterminated
    trailing entity/charref prefix stays raw (stdlib incomplete-construct
    parity), EXCEPT the exactly-two-char "&letter" tail, whose '&'
    goahead silently drops when the incomplete match covers the whole
    remaining buffer at end — if that dropped '&' LEADS the run, the
    surviving data event (and so the node's span) starts one char later."""
    if "&" not in raw:
        return raw, 0
    m = _AMP_TAIL.search(raw)
    if m and m.group(0):
        tail = raw[m.start() :]
        head = _html.unescape(raw[: m.start()])
        if len(tail) == 2 and tail[1].isascii() and tail[1].isalpha():
            # shift only when the tail IS the whole run: a raw head that
            # merely DECODES to '' (e.g. '&#1;') still starts stdlib's
            # buffer at run start, so the node's span begins there
            return head + tail[1], (1 if m.start() == 0 else 0)
        return head + tail, 0
    return _html.unescape(raw), 0


def _decode_run(source, pos, run, in_pass2, final):
    """Decode one data run with goahead '&#'-bail parity.

    A bail consumed in pass 1 leaves its '&#' RAW and splits the decode
    around it (unescaping across it would wrongly decode e.g. '&#9' in
    '&#9b', which goahead rejects — terminator must be a non-HEX digit).
    Returns ``(text, shift, stalled, in_pass2)``; when ``stalled``,
    ``text`` covers ``source[pos:]`` — the rest of the document lands as
    this one raw chunk and the caller must stop scanning. ``shift`` is
    the span-start adjustment from :func:`_decode_final` (final runs
    only, and only when the dropped '&' leads the whole run)."""
    parts = []
    cur = pos
    end = pos + len(run)
    for a in _amp_hash_bails(source, pos, run):
        if in_pass2 or ";" not in source[a:]:
            # pass-2 bail (after consuming '&#' when a ';' exists ahead)
            # or no-';' bail: either way the tail chars stay verbatim
            parts.append(_decode(source[cur:a]))
            parts.append(source[a:])
            return "".join(parts), 0, True, in_pass2
        in_pass2 = True  # pass-1 bail: '&#' consumed as raw data
        parts.append(_decode(source[cur:a]))
        parts.append("&#")
        cur = a + 2
    if final:
        text, shift = _decode_final(source[cur:end])
        if parts:
            parts.append(text)
            # an interior '&'-drop doesn't move the run's span start
            return "".join(parts), 0, False, in_pass2
        return text, shift, False, in_pass2
    parts.append(_decode(source[cur:end]))
    return "".join(parts), 0, False, in_pass2


def _fast_parse(source: str) -> Document:
    doc = Document(source)
    seen_add = doc.tags_seen.add
    # one C-level scan up front: a document with no '&' anywhere (the
    # common case for machine-generated corpora) can skip every per-run
    # entity check and decode call below
    has_amp = "&" in source
    stack = [doc]
    n = len(source)
    pos = 0
    find = source.find
    startswith = source.startswith
    # `pending` marks a text node whose html.parser flush would happen
    # LATER than where our scanner stands: stdlib buffers data events and
    # only flushes at the next non-data handler call, so the silently
    # swallowed '</>' (the one construct that fires no handler) leaves the
    # preceding text node's span extending over it.
    pending = None

    def emit_text(text, start, end):
        nonlocal pending
        top = stack[-1]
        prev = top.children[-1] if top.children else None
        if prev is not None and prev.is_text and (prev.end == start or prev is pending):
            prev.text += text
            prev.end = end
        else:
            node = Node(text=text, start=start, end=end)
            node.parent = top
            top.children.append(node)
        pending = None

    def flush_at(i):
        nonlocal pending
        if pending is not None:
            pending.end = i
            pending = None

    def bridge_empty(start, end):
        """A data run that DECODES to '' (e.g. '&#xb;' — invalid
        codepoint → dropped by unescape). stdlib still starts/continues
        its text buffer at the event, so the buffer's span bridges the
        run: neighbors merge across it, and an all-empty buffer flushes
        as an EMPTY text node spanning run-start → flush point."""
        nonlocal pending
        top = stack[-1]
        prev = top.children[-1] if top.children else None
        if prev is not None and prev.is_text and (prev.end == start or prev is pending):
            prev.end = end
            pending = prev
        else:
            node = Node(text="", start=start, end=end)
            node.parent = top
            top.children.append(node)
            pending = node

    def recover(i):
        """html.parser's incomplete-construct recovery: emit raw data up
        to (and including) the next '>', else up to the next '<', else
        just the '<' — then resume normal scanning. Every incomplete
        construct is an ``if not end: break`` site in goahead, so the
        first one ends pass 1: any '&#' bail after this point is a
        pass-2 bail (see _amp_hash_bails)."""
        nonlocal in_pass2
        in_pass2 = True
        k = find(">", i + 1)
        if k < 0:
            k = find("<", i + 1)
            if k < 0:
                k = i + 1
        else:
            k += 1
        emit_text(source[i:k], i, k)
        return k

    def close_tag(tag):
        top = stack[-1]
        if top.tag == tag:  # well-nested close: the overwhelmingly common case
            top.end = lt
            del stack[-1]
            return
        for idx in range(len(stack) - 2, 0, -1):
            if stack[idx].tag == tag:
                for node in stack[idx:]:
                    node.end = lt
                del stack[idx:]
                return
        # stray end tag: ignore (tolerant parse)

    strict_match = _STRICT.match
    attr_findall = _ATTR_STRICT.findall
    in_pass2 = False  # goahead pass tracking: see _amp_hash_bails / recover

    while pos < n:
        m = strict_match(source, pos)
        if m is not None:
            gi = m.lastindex  # dispatch: 1 text, 4 start, 5 end, 6/7 skip
            if gi == 1:  # text run (maximal, so never self-adjacent)
                end_ = m.end()
                g1 = m.group(1)
                if not has_amp:  # no '&' in the whole document: raw == text
                    emit_text(g1, pos, end_)
                    pos = end_
                    continue
                if "&#" not in g1 and end_ != n:  # the hot path
                    emit_text(_decode(g1), pos, end_)
                    pos = end_
                    continue
                if "&#" in g1:
                    text, shift, stalled, in_pass2 = _decode_run(
                        source, pos, g1, in_pass2, end_ == n
                    )
                    if stalled:  # rest of document is ONE raw chunk
                        emit_text(text, pos, n)
                        pos = n
                        continue
                else:
                    text, shift = _decode_final(g1)
                if text:
                    if shift:  # dropped '&': buffer bridges the gap
                        top = stack[-1]
                        prev = top.children[-1] if top.children else None
                        if prev is not None and prev.is_text and prev.end == pos:
                            pending = prev
                    emit_text(text, pos + shift, end_)
                else:
                    bridge_empty(pos, end_)
                pos = end_
                continue
            if gi == 4:  # well-formed start tag
                lt = pos
                flush_at(lt)
                tname, a_src, selfclose = m.group(2, 3, 4)
                tag = tname.lower()
                seen_add(tag)
                if a_src:
                    attrs = {}
                    for an, av in attr_findall(a_src):
                        attrs[an.lower()] = _decode(av)  # dict: last wins
                    node = Node(tag=tag, attrs=attrs, start=lt)
                else:
                    node = Node(tag=tag, start=lt)
                top = stack[-1]
                node.parent = top
                top.children.append(node)
                pos = m.end()
                if selfclose:
                    continue  # self-closing: no push, no CDATA
                if tag in _RAW_CLOSE:  # CDATA content, verbatim
                    cm = _RAW_CLOSE[tag].search(source, pos)
                    if cm:
                        if cm.start() > pos:
                            tn = Node(
                                text=source[pos : cm.start()],
                                start=pos,
                                end=cm.start(),
                            )
                            tn.parent = node
                            node.children.append(tn)
                        node.end = cm.start()
                        pos = cm.end()
                    else:
                        node.end = n
                        pos = n
                elif tag not in VOID_TAGS:
                    # fast leaf: "<tag>entity-free text</tag>" folds the text
                    # run and the matching close into THIS iteration — two
                    # fewer master-regex dispatches on the most common
                    # element shape (title/a/p/li leaves). Bails to the
                    # generic loop on entities, nested markup, case-mixed or
                    # spaced close tags — those re-scan from `pos` unchanged.
                    k = find("<", pos)
                    if k >= pos and startswith("/", k + 1):
                        cend = k + 2 + len(tag)
                        if (
                            source[k + 2 : cend].lower() == tag
                            and source[cend : cend + 1] == ">"
                        ):
                            if k > pos:
                                run = source[pos:k]
                                if has_amp and "&" in run:
                                    stack.append(node)
                                    continue
                                tn = Node(text=run, start=pos, end=k)
                                tn.parent = node
                                node.children.append(tn)
                            node.end = k
                            pos = cend + 1
                            continue
                    stack.append(node)
                continue
            if gi == 5:  # well-formed end tag
                lt = pos
                flush_at(lt)
                close_tag(m.group(5).lower())
                pos = m.end()
                continue
            # comment / declaration / pi: a flush event, content dropped
            flush_at(pos)
            pos = m.end()
            continue
        # ---- tolerant slow path (exact stdlib parity), one construct ----
        lt = find("<", pos)
        if lt < 0:
            text, shift, stalled, in_pass2 = _decode_run(
                source, pos, source[pos:], in_pass2, True
            )
            if stalled:
                emit_text(text, pos, n)
                break
            if text:
                if shift:  # dropped '&': stdlib's buffer bridges the gap
                    top = stack[-1]
                    prev = top.children[-1] if top.children else None
                    if prev is not None and prev.is_text and prev.end == pos:
                        pending = prev
                emit_text(text, pos + shift, n)
            else:
                bridge_empty(pos, n)
            break
        if lt > pos:
            run = source[pos:lt]
            if "&#" in run:
                text, _, stalled, in_pass2 = _decode_run(
                    source, pos, run, in_pass2, False
                )
                if stalled:
                    emit_text(text, pos, n)
                    break
            else:
                text = _decode(run)
            if text:
                emit_text(text, pos, lt)
            else:
                bridge_empty(pos, lt)
        c = source[lt + 1 : lt + 2]
        # ASCII letters only (stdlib starttagopen is <[a-zA-Z]): a Unicode
        # letter like '<é' is plain data to html.parser, and str.isalpha()
        # alone would send it here where the ASCII-only locate regex
        # can't match
        if c.isalpha() and c.isascii():  # ---- start tag (parse_starttag parity) ----
            lm = _LOCATE_START.match(source, lt)
            j = lm.end()
            nxt = source[j : j + 1]
            if nxt == ">":
                endpos = j + 1
            elif nxt == "/":
                endpos = j + 2 if startswith("/>", j) else -1
            elif nxt == "" or nxt in _INCOMPLETE_NEXT:
                endpos = -1
            else:
                endpos = j if j > lt else lt + 1
            if endpos < 0:
                pos = recover(lt)
                continue
            nm = _TAGFIND.match(source, lt + 1)
            tag = nm.group(1).lower()
            seen_add(tag)
            k = nm.end()
            attrs = {}
            # '<tag>': no attrs, no junk — skip the attr regex and the
            # terminator strip (the '>' check keeps the one-junk-char case
            # like '<div \x00' on the slow downgrade-to-data path)
            if k == endpos - 1 and source[k] == ">":
                flush_at(lt)
                node = Node(tag=tag, start=lt)
                top = stack[-1]
                node.parent = top
                top.children.append(node)
                pos = endpos
                if tag in _RAW_CLOSE:
                    cm = _RAW_CLOSE[tag].search(source, pos)
                    if cm:
                        if cm.start() > pos:
                            tn = Node(text=source[pos : cm.start()], start=pos, end=cm.start())
                            tn.parent = node
                            node.children.append(tn)
                        node.end = cm.start()
                        pos = cm.end()
                    else:
                        node.end = n
                        pos = n
                elif tag not in VOID_TAGS:
                    stack.append(node)
                continue
            while k < endpos:
                am = _ATTRFIND.match(source, k)
                if not am:
                    break
                name, rest, val = am.group(1, 2, 3)
                if not rest:
                    val = None
                else:
                    if val[:1] == "\'" == val[-1:] or val[:1] == '"' == val[-1:]:
                        val = val[1:-1]
                    val = _decode(val)
                attrs[name.lower()] = val  # dict(attrs): last wins
                k = am.end()
            end = source[k:endpos].strip()
            if end not in (">", "/>"):
                # junk before the '>': stdlib downgrades the whole tag to
                # data (raw, unflushed — merges with neighboring runs)
                emit_text(source[lt:endpos], lt, endpos)
                pos = endpos
                continue
            flush_at(lt)
            node = Node(tag=tag, attrs=attrs, start=lt)
            top = stack[-1]
            node.parent = top
            top.children.append(node)
            pos = endpos
            if end == "/>":
                continue  # self-closing: no push, no CDATA, end stays -1
            if tag in _RAW_CLOSE:  # CDATA content, verbatim
                cm = _RAW_CLOSE[tag].search(source, pos)
                if cm:
                    if cm.start() > pos:
                        tn = Node(text=source[pos : cm.start()], start=pos, end=cm.start())
                        tn.parent = node
                        node.children.append(tn)
                    node.end = cm.start()
                    pos = cm.end()
                else:
                    # unclosed CDATA at EOF: stdlib drops the content
                    # (goahead breaks without a final flush in cdata mode)
                    node.end = n
                    pos = n
            elif tag not in VOID_TAGS:
                stack.append(node)
        elif c == "/":  # ---- end tag (parse_endtag parity) ----
            gm = _ENDGT.search(source, lt + 1)
            if not gm:
                pos = recover(lt)
                continue
            em = _ENDTAGFIND.match(source, lt)
            if em:
                flush_at(lt)
                close_tag(em.group(1).lower())
                pos = gm.end()
                continue
            nm = _TAGFIND.match(source, lt + 2)
            if not nm:
                if source[lt : lt + 3] == "</>":
                    # the silent no-event path: preceding text keeps
                    # buffering across it in stdlib
                    top = stack[-1]
                    prev = top.children[-1] if top.children else None
                    if prev is not None and prev.is_text and (
                        prev.end == lt or prev is pending
                    ):
                        pending = prev
                    pos = lt + 3
                    continue
                g2 = find(">", lt + 2)  # bogus comment (a flush event)
                if g2 < 0:
                    pos = recover(lt)
                    continue
                flush_at(lt)
                pos = g2 + 1
                continue
            flush_at(lt)
            close_tag(nm.group(1).lower())
            g2 = find(">", nm.end())
            pos = (g2 + 1) if g2 >= 0 else n
        elif startswith("<!--", lt):  # ---- comment ----
            cm = _COMMENTCLOSE.search(source, lt + 4)
            if not cm:
                pos = recover(lt)
                continue
            flush_at(lt)
            pos = cm.end()
        elif c == "?" or c == "!":  # ---- pi / declaration ----
            g = find(">", lt + 2)
            seg = source[lt : g if g > 0 else n]
            if c == "!" and ("[" in seg or '"' in seg or "'" in seg):
                # marked section (<![CDATA[..]]> / <![if..]>), doctype
                # internal subset, or quoted declaration literal: stdlib's
                # markupbase scans these specially (]]> / ]> closes,
                # quote-aware '>' search) and buffers text across marked
                # sections — rare constructs, so hand the WHOLE document
                # to the stdlib-backed path instead of replicating it
                return parse_stdlib(source)
            if g < 0:
                pos = recover(lt)
                continue
            flush_at(lt)
            pos = g + 1
        else:  # lone '<' (incl. "< div>", "<3"): data, unflushed
            emit_text("<", lt, lt + 1)
            pos = lt + 1
    if pending is not None:
        pending.end = n  # stdlib close() flush stamps EOF
    for node in stack[1:]:
        node.end = n
    return doc


def parse(source: str) -> Document:
    """Parse HTML (or plain text) into a Document; never raises on
    malformed markup. Fast scanner first, stdlib html.parser as the
    belt-and-braces fallback."""
    source = source or ""
    try:
        return _fast_parse(source)
    except Exception:
        pass
    parser = _Parser(source)
    try:
        parser.feed(source)
    except Exception:
        # html.parser is robust, but guarantee tolerance anyway: whatever
        # tree was built so far is the tree.
        pass
    return parser.finish()


def parse_stdlib(source: str) -> Document:
    """The html.parser-backed path, kept callable for differential tests."""
    parser = _Parser(source or "")
    try:
        parser.feed(source or "")
    except Exception:
        pass
    return parser.finish()


def new_element(tag: str, attrs: dict | None = None) -> Node:
    return Node(tag=tag, attrs=dict(attrs or {}))


def new_text(text: str) -> Node:
    return Node(text=text)


def get_cls(node: Node) -> list[str]:
    """Class attribute as list, [] default (artexin/htmlutils.py:19-37)."""
    return node.classes()
