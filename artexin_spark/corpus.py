"""Deterministic synthetic transcript corpus (FIXTURES.md §1/§3, seed=42).

Generates the north-rule input table — multi-turn transcripts with schema
``(conv_id string, turn_idx int, role string, text string, tool string,
ts timestamp)`` — whose ``text`` cells embed known article bodies inside
known boilerplate (nav/footer/script/sidebar), plus the documented dirty
fractions: ~5% plain text, ~1% malformed HTML, ~0.5% empty payloads.

Skew is deliberate: ``hot_frac`` of conversations carry ``hot_mult``× the
turns, so a naive partition-by-conv_id plan exhibits straggler tasks and
the pipeline's salting has something real to flatten (SURVEY.md §7.4).

The test suite's golden outputs run the SAME ``extract_turn`` the Spark
stage wraps over this corpus, single-node — per-turn equality between the
golden frame and the cluster run is therefore structural, not accidental
(FIXTURES.md §2). No external data, no network, no wall-clock
nondeterminism.
"""

from __future__ import annotations

import math
import random
from datetime import datetime, timedelta

import pandas as pd


BASE_TS = datetime(2026, 1, 1, 0, 0, 0)

_WORDS = (
    "signal antenna payload satellite broadcast receiver downlink archive "
    "library content article reader village school teacher knowledge page "
    "story lesson chapter weather market farming health news cache index "
    "battery solar panel relay spectrum packet frame carrier beacon"
).split()

_ROLES = ("user", "assistant", "tool")
_TOOLS = (None, "fetch", "browser")
_DOMAINS = (
    "http://www.example.com/articles",
    "https://en.wikipedia.org/wiki",
    "http://www.dw.de/news",
    "https://blog.example.org/posts",
)


def _sentence(rng: random.Random, min_w=8, max_w=18) -> str:
    n = rng.randint(min_w, max_w)
    words = [rng.choice(_WORDS) for _ in range(n)]
    # sprinkle commas — the scorer's comma signal needs realistic density
    for i in range(3, n - 2, rng.randint(3, 5)):
        words[i] += ","
    text = " ".join(words)
    return text[0].upper() + text[1:].rstrip(",") + "."


def _paragraph(rng: random.Random, min_s=2, max_s=5) -> str:
    return " ".join(_sentence(rng) for _ in range(rng.randint(min_s, max_s)))


def _nav_block(rng: random.Random) -> str:
    links = "".join(
        '<li><a href="/%s">%s</a></li>' % (w, w.capitalize())
        for w in rng.sample(_WORDS, 5)
    )
    return '<div id="navigation"><ul>%s</ul></div>' % links


def _page(rng: random.Random, title: str, paras: list[str]) -> str:
    body = "".join("<p>%s</p>" % p for p in paras)
    sidebar = '<div class="sidebar"><a href="/x">%s</a></div>' % rng.choice(_WORDS)
    footer = '<div class="footer">copyright | <a href="/contact">contact</a></div>'
    script = "<script>var t=%d;</script>" % rng.randint(0, 9)
    img = (
        '<img src="/static/%s.png">' % rng.choice(_WORDS)
        if rng.random() < 0.3
        else ""
    )
    return (
        "<html><head><title>%s</title><style>.s{}</style></head><body>%s"
        '<div id="content">%s%s</div>%s%s%s</body></html>'
        % (title, _nav_block(rng), body, img, sidebar, footer, script)
    )


def _turn_text(rng: random.Random) -> str:
    roll = rng.random()
    if roll < 0.005:
        return ""  # empty payload → error channel
    if roll < 0.015:  # malformed: unclosed tags
        return "<html><body><div><p>%s<p>%s<b>dangling" % (
            _paragraph(rng),
            _paragraph(rng),
        )
    if roll < 0.065:  # plain text, no markup
        return _paragraph(rng)
    title = " ".join(rng.sample(_WORDS, 3)).title()
    paras = [_paragraph(rng) for _ in range(rng.randint(2, 6))]
    return _page(rng, title, paras)


def gen_transcripts(
    n_convs: int = 100,
    seed: int = 42,
    base_turns: int = 8,
    hot_frac: float = 0.02,
    hot_mult: int = 100,
    with_source: bool = False,
) -> pd.DataFrame:
    """Deterministic transcript frame. ``with_source`` adds a ``source``
    URL column (superset of the hinted schema) to exercise preprocessor
    dispatch; the pipeline works without it."""
    rng = random.Random(seed)
    n_hot = math.ceil(n_convs * hot_frac) if hot_frac > 0 else 0
    rows = []
    for c in range(n_convs):
        conv_id = "conv-%06d" % c
        n_turns = base_turns * (hot_mult if c < n_hot else 1)
        n_turns = max(1, int(n_turns * (0.5 + rng.random())))
        source = rng.choice(_DOMAINS) + "/" + "-".join(rng.sample(_WORDS, 2))
        for t in range(n_turns):
            row = {
                "conv_id": conv_id,
                "turn_idx": t,
                "role": _ROLES[t % 3],
                "text": _turn_text(rng),
                "tool": rng.choice(_TOOLS),
                "ts": BASE_TS + timedelta(minutes=t),
            }
            if with_source:
                row["source"] = source
            rows.append(row)
    pdf = pd.DataFrame(rows)
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    return pdf


def synth_transcripts(spark, n_convs: int = 100, seed: int = 42, **kw):
    """Spark DataFrame over the synthetic corpus (driver-side generation —
    corpora here are test/bench scale; at production scale the input is an
    existing Iceberg table, not this generator)."""
    return spark.createDataFrame(gen_transcripts(n_convs, seed, **kw))

