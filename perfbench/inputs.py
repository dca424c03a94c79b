"""Seeded benchmark inputs, cached on disk by content key.

Every input is a pure function of ``--seed`` and the sizes fixed in
``workloads.py``. The cache key also covers the source of this file and of
``artexin_spark/corpus.py`` (the transcript generator), so editing either
invalidates every cached input instead of silently reusing stale data.
Generation happens in set-up only, never inside a timed phase.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

#: documents-table vocabulary: the shape of the repo's sf test tables
#: (about 30 words including the English markers "the" and "a", so the
#: language scorer and the quality gate both have signal to work on)
_DOC_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_DOC_LANGS = ("en", "en", "en", "zh", "es", "fr", "de")


def _source_digest(*paths: str) -> str:
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def content_key(kind: str, **params) -> str:
    """Key over everything that determines an input's bytes."""
    import artexin_spark.corpus as corpus

    blob = json.dumps(
        {
            "kind": kind,
            "params": params,
            "code": _source_digest(os.path.abspath(__file__), corpus.__file__),
        },
        sort_keys=True,
    )
    return hashlib.sha256(blob.encode()).hexdigest()[:16]


def cached_dir(cache_root: str, kind: str, build, **params) -> tuple[str, bool]:
    """Return ``(path, hit)`` for the input ``kind`` with ``params``.

    On a miss, ``build(tmp_dir)`` fills a temporary directory that is then
    renamed into place, so a run killed mid-build never leaves a
    half-written entry behind a valid key."""
    path = os.path.join(cache_root, f"{kind}-{content_key(kind, **params)}")
    if os.path.isdir(path):
        return path, True
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    os.rename(tmp, path)
    return path, False


def gen_documents(seed: int, n_docs: int) -> pd.DataFrame:
    """A ``documents`` table shaped like the repo's sf test tables:
    ``(doc_id, text, lang, source, n_chars)``, 10..100 words per doc.
    About 5% of docs are near-copies of an earlier doc (one word changed,
    then a trailing ``dup`` marker) and 1% exact copies, so both near-dup
    and exact-dup detection have real work and a known answer shape."""
    rng = random.Random(seed)
    texts: list[str] = []
    rows = []
    for doc_id in range(n_docs):
        roll = rng.random()
        if texts and roll < 0.01:
            text = rng.choice(texts)
        elif texts and roll < 0.06:
            words = rng.choice(texts).split()
            words[rng.randrange(len(words))] = rng.choice(_DOC_WORDS)
            text = " ".join(words) + " dup"
        else:
            text = " ".join(
                rng.choice(_DOC_WORDS) for _ in range(rng.randint(10, 100))
            )
        texts.append(text)
        rows.append(
            {
                "doc_id": doc_id,
                "text": text,
                "lang": rng.choice(_DOC_LANGS),
                "source": "src%d" % rng.randrange(20),
                "n_chars": len(text),
            }
        )
    return pd.DataFrame(rows)


def documents_dir(cache_root: str, seed: int, n_docs: int) -> tuple[str, bool]:
    """Directory holding ``documents.parquet`` for (seed, n_docs) — the
    layout ``bench.materialize_transcripts`` and the oracles read."""

    def build(tmp: str) -> None:
        table = pa.Table.from_pandas(gen_documents(seed, n_docs), preserve_index=False)
        pq.write_table(table, os.path.join(tmp, "documents.parquet"))

    return cached_dir(cache_root, "docs", build, seed=seed, n_docs=n_docs)


def increments_dir(
    cache_root: str, seed: int, n_increments: int, n_convs: int
) -> tuple[str, bool]:
    """One parquet file per increment (``inc-00000.parquet`` ...), built
    with ``corpus.gen_transcripts(with_source=True)`` so the dirty-row
    fractions (empty, malformed, plain-text payloads) and the
    hot-conversation skew of the repo's generator are all present. Every
    increment after the first also replays the conversations of the one
    before it under new conversation ids (a crawler re-fetch), which
    cross-run dedup must drop."""
    from artexin_spark.corpus import gen_transcripts

    def frame(i: int, prefix: str) -> pd.DataFrame:
        pdf = gen_transcripts(n_convs=n_convs, seed=seed * 1000 + i, with_source=True)
        pdf["conv_id"] = prefix + pdf["conv_id"]
        return pdf

    def build(tmp: str) -> None:
        for i in range(n_increments):
            parts = [frame(i, f"h{i}-")]
            if i > 0:
                parts.append(frame(i - 1, f"replay{i}-"))
            pdf = pd.concat(parts, ignore_index=True)
            pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
            pdf.to_parquet(
                os.path.join(tmp, f"inc-{i:05d}.parquet"),
                index=False,
                coerce_timestamps="us",
                allow_truncated_timestamps=True,
            )

    return cached_dir(
        cache_root,
        "increments",
        build,
        seed=seed,
        n_increments=n_increments,
        n_convs=n_convs,
    )
