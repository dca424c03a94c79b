"""In-process layer timers for the extraction core (no Spark).

Splits one turn's extraction into the stages ``readability.extract_turn``
runs and times each stage of each payload with ``time.process_time``. The
timer's own cost (about 1 µs a read, measured at start) is subtracted from
every stage. Timing a stage over several payloads at once would be cheaper
but reads about 10% low: running one stage over many documents in a row
keeps its code hot in a way the real per-turn loop does not.

The stages mirror ``extract_turn`` step for step, down to the parent-link
severing in its ``finally`` (``readability.sever``), so the stage sum
should match ``extract_turn_us_per_row``; ``layer_coverage`` is that
ratio, the median over blocks timed side by side.

``arrow_batch_us_per_row`` feeds the same payloads, as Arrow record
batches in the schema the Spark stage receives (512 rows each), through
``pipeline._extract_map_iter``: its excess over ``extract_turn`` is the
cost of the Arrow conversion and output assembly.
"""

from __future__ import annotations

import statistics
import time

import pyarrow as pa

from artexin_spark import dom, pipeline, readability
from artexin_spark.preprocess import preps_for

STAGES = (
    "dom.parse",
    "preprocess.preps",
    "readability.get_title",
    "readability.strip_and_build",
    "readability.links_images",
    "readability.collect_text_spans",
    "readability.sever",
)
_BLOCK = 512  # payloads per interleaved block and per Arrow batch


def _sever(*roots) -> None:
    for root in roots:
        stack = [root]
        while stack:
            node = stack.pop()
            node.parent = None
            if node.children:
                stack.extend(node.children)


def _staged(html: str, src: str, preps: list, totals: dict[str, float]) -> None:
    """Add each stage's CPU seconds for one payload to ``totals``."""
    t = time.process_time()
    doc = dom.parse(html)
    t = _lap(t, totals, "dom.parse")
    for prep in preps:
        prep(doc)
    t = _lap(t, totals, "preprocess.preps")
    readability.get_title(doc)
    t = _lap(t, totals, "readability.get_title")
    art = readability.strip_and_build(doc)
    t = _lap(t, totals, "readability.strip_and_build")
    seen = doc.tags_seen
    if "a" in seen or "img" in seen:
        readability._apply_links_images(art, src, True, True)
    t = _lap(t, totals, "readability.links_images")
    readability.collect_text_spans(art)
    t = _lap(t, totals, "readability.collect_text_spans")
    _sever(doc, art)
    _lap(t, totals, "readability.sever")


def _lap(t0: float, totals: dict[str, float], name: str) -> float:
    t1 = time.process_time()
    totals[name] += t1 - t0
    return t1


def _timer_cost(n: int = 20000) -> float:
    """CPU seconds one ``process_time`` read costs, charged to each lap."""
    t0 = time.process_time()
    for _ in range(n):
        time.process_time()
    return (time.process_time() - t0) / n


def _whole(block: list[tuple[str, str, list]]) -> float:
    t0 = time.process_time()
    for html, src, preps in block:
        readability.extract_turn(html, base_url=src, preprocessors=preps, with_html=False)
    return time.process_time() - t0


def _arrow_batch(block: list[tuple[str, str, list]]):
    n = len(block)
    return pa.RecordBatch.from_pydict(
        {
            "conv_id": pa.array(["c%d" % i for i in range(n)], pa.string()),
            "turn_idx": pa.array(range(n), pa.int32()),
            "role": pa.array(["user"] * n, pa.string()),
            "text": pa.array([h for h, _, _ in block], pa.string()),
            "tool": pa.array([None] * n, pa.string()),
            "ts": pa.array([0] * n, pa.timestamp("us", tz="UTC")),
            "source": pa.array([s for _, s, _ in block], pa.string()),
            "part_key": pa.array([i % 64 for i in range(n)], pa.int32()),
        }
    )


def _arrow(batch) -> float:
    t0 = time.process_time()
    for out in pipeline._extract_map_iter(iter([batch])):
        out.num_rows  # consume inside the timed region
    return time.process_time() - t0


def layer_table(
    payloads: list[tuple[str, str]], repeats: int = 3
) -> dict[str, float]:
    """µs of CPU per payload row for every stage, the whole
    ``extract_turn`` and the Arrow batch loop, as the median over
    ``repeats`` passes.

    The three measurements are interleaved block by block, in rotating
    order, so that all three see the same state of a shared, noisy host;
    timing them one after the other lets a neighbour's burst land on one
    and not the others."""
    work = [(html, src, preps_for(src)) for html, src in payloads]
    blocks = [work[lo : lo + _BLOCK] for lo in range(0, len(work), _BLOCK)]
    batches = [_arrow_batch(b) for b in blocks]
    # empty payloads return before parsing in extract_turn: no stage work
    parsed = [[w for w in b if w[0] and not w[0].isspace()] for b in blocks]
    tick = _timer_cost()
    runs, ratios = [], []
    for rep in range(repeats):
        totals = dict.fromkeys(STAGES, 0.0)
        totals["whole"] = totals["arrow"] = 0.0
        for i, (block, batch, todo) in enumerate(zip(blocks, batches, parsed)):
            staged = dict.fromkeys(STAGES, 0.0)
            times = {}
            steps = {
                "staged": lambda: [_staged(*w, staged) for w in todo],
                "whole": lambda: times.__setitem__("whole", _whole(block)),
                "arrow": lambda: times.__setitem__("arrow", _arrow(batch)),
            }
            order = list(steps)
            k = (rep + i) % 3
            for name in order[k:] + order[:k]:
                steps[name]()
            for name in STAGES:
                staged[name] -= len(todo) * tick
                totals[name] += staged[name]
            totals["whole"] += times["whole"]
            totals["arrow"] += times["arrow"]
            if times["whole"] > 0:
                ratios.append(sum(staged.values()) / times["whole"])
        runs.append(totals)
    n = len(payloads)

    def per_row(key: str) -> float:
        return statistics.median(r[key] for r in runs) * 1e6 / n

    out = {f"{name}_us_per_row": per_row(name) for name in STAGES}
    out["readability.extract_turn_us_per_row"] = per_row("whole")
    out["pipeline.arrow_batch_us_per_row"] = per_row("arrow")
    # stage sum over whole extract_turn, paired block by block
    out["layer_coverage"] = statistics.median(ratios)
    return out
