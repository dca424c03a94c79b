"""Sentence/word tokenization and term/pair counting.

Re-implements the indexing semantics of the reference (artexin/index.py:
fix_ws:27-40, strip_period:43-58, is_word:61-83, split_sentences:86-104,
split_words:107-121, get_counts:124-204) without NLTK (not installable in
the sandbox — documented divergence, FIXTURES.md §6):

- sentences: regex splitter on terminal punctuation instead of punkt;
- words: whitespace split + em-dash split + surrounding-punctuation strip
  instead of the Treebank tokenizer.

The Everhard doctest vectors from the reference (tc['and']==9,
pc['the events']==3, wc==256, the >5-frequency term list) are pinned in
tests/test_tokenize.py as a cross-check that the tokenizers agree on the
reference's own fixture text.

Everything here is pure Python run *inside* Arrow UDF batches; the
Spark-native formulation (split/explode/groupBy) lives in
__spark_entry__.py queries and must stay semantically identical.
"""

from __future__ import annotations

import re

WSRE = re.compile(r"\s+")
NONWORD_RE = re.compile(r"^\W+$")

# Sentence boundary: whitespace preceded by terminal punctuation, with an
# optional closing quote KEPT attached to its sentence (punkt behavior —
# a split pattern consuming the quote would delete it from the output).
# Two fixed-width lookbehinds in alternation: Python rejects one
# variable-width lookbehind. Replaces NLTK punkt (artexin/index.py:103).
_SENT_SPLIT = re.compile(r'(?:(?<=[.!?])|(?<=[.!?]["”’]))\s+')

# Em-dash runs separate tokens (Treebank behavior on 'errors--not').
_DASH_RE = re.compile(r"(--+|[–—]+)")
# Surrounding punctuation is split off; internal hyphens/apostrophes kept
# ('working-class', "abr'acadabra" stay single words).
_CORE_RE = re.compile(r"^(\W*?)([\w].*?[\w]|[\w])?(\W*)$", re.UNICODE)
# Treebank-style contraction splits: cannot -> can|not, she's -> she|'s.
_CONTRACTION_WORDS = {
    "cannot": ("can", "not"),
    "gonna": ("gon", "na"),
    "gotta": ("got", "ta"),
    "lemme": ("lem", "me"),
    "wanna": ("wan", "na"),
}
_CLITIC_RE = re.compile(r"^(.+?)(n't|'ll|'re|'ve|'s|'m|'d)$", re.IGNORECASE)


def fix_ws(s: str) -> str:
    """Collapse whitespace runs to single spaces, strip ends.

    Reference: artexin/index.py:27-40. Native: F.trim(F.regexp_replace).
    """
    # ' '.join(split()) ≡ trim+collapse for every whitespace codepoint
    # (str.split and \s agree in py3) and is ~3× faster than regex sub
    return " ".join(s.split())


def strip_period(t: str) -> str:
    """Drop one trailing period. Reference: artexin/index.py:43-58."""
    if t and t[-1] == ".":
        return t[:-1]
    return t


def is_word(t: str) -> bool:
    """A token is a word unless it is all non-alphanumeric.

    Reference: artexin/index.py:61-83.
    """
    return NONWORD_RE.match(t) is None


def split_sentences(t: str):
    """Split text into whitespace-normalized sentences.

    Regex replacement for punkt (artexin/index.py:86-104); yields only
    non-empty sentences.
    """
    for sent in _SENT_SPLIT.split(t):
        sent = fix_ws(sent)
        if sent:
            yield sent


def tokenize(t: str):
    """Raw token stream: whitespace split, em-dash split, surrounding
    punctuation split off as separate tokens (so is_word can drop them)."""
    for chunk in t.split():
        for part in _DASH_RE.split(chunk):
            if not part:
                continue
            m = _CORE_RE.match(part)
            if m is None:
                yield part
                continue
            pre, core, post = m.groups()
            if pre:
                yield pre
            if core:
                low = core.lower()
                if low in _CONTRACTION_WORDS:
                    a, b = _CONTRACTION_WORDS[low]
                    yield core[: len(a)]
                    yield core[len(a) :]
                else:
                    cm = _CLITIC_RE.match(core)
                    if cm and cm.group(1):
                        yield cm.group(1)
                        yield cm.group(2)
                    else:
                        yield core
            if post:
                yield post


def split_words(t: str):
    """Word stream: tokens that pass is_word, trailing period stripped.

    Reference: artexin/index.py:107-121.
    """
    return (strip_period(w) for w in tokenize(t) if is_word(w))


def get_counts(sentences):
    """Unigram counts, adjacent-pair counts (pairs never cross a sentence
    boundary), and total word count.

    Reference: artexin/index.py:124-204 — pterm resets per sentence
    (index.py:193). Spark-native equivalent: explode(tokens)→groupBy for
    unigrams; explode(arrays_zip(slice,slice)) per sentence for pairs.
    """
    term_counts: dict[str, int] = {}
    pair_counts: dict[str, int] = {}
    word_count = 0
    for sentence in sentences:
        pterm = None
        for term in split_words(sentence):
            term = term.lower()
            word_count += 1
            term_counts[term] = term_counts.get(term, 0) + 1
            if pterm:
                pkey = "%s %s" % (pterm, term)
                pair_counts[pkey] = pair_counts.get(pkey, 0) + 1
            pterm = term
    return term_counts, pair_counts, word_count


def count_text(text: str):
    """Convenience: get_counts over split_sentences of raw text."""
    return get_counts(split_sentences(text))
