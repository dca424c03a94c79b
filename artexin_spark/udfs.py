"""Scalar Arrow UDFs (``arrow_udf``) around the pure extraction core.

Design center (BASELINE.json north rule): the executor crosses the
JVM↔Python boundary ONCE per Arrow batch, never per row. Each UDF here
takes and returns ``pyarrow.Array`` batches; per-document Python runs
*inside* the batch loop, which is exactly the vectorized shape — there are
NO row-at-a-time ``F.udf`` calls anywhere in this engine.

The whole preprocess→extract→strip_links→images chain is fused into ONE
UDF (one parse per document, one boundary crossing), unlike the reference
which reparses the DOM between every stage (artexin/pack.py:217-230). Its
batch loop is ``pipeline.extract_arrays`` — the same one the pipeline's
mapInArrow stage runs.

The batch-amortization argument is the published one ("Accelerating
Python UDFs in Vectorized Query Execution", CIDR 2022 — PAPERS.md):
per-invocation transfer/serialization overhead dominates row-at-a-time
UDFs, so Arrow-batched execution with the interpreter work amortized
across the batch is the only Python UDF shape that survives columnar
engines. BENCH/BASELINE.md carries our own measurements of the same
effect (batch-size sweep, 1024→4096 retune).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import arrow_udf

from . import dom
from .pipeline import EXTRACT_SCHEMA, extract_arrays
from .readability import get_title
from .tokenizer import count_text, split_sentences, split_words

_COUNT_MAP = pa.map_(pa.string(), pa.int32())
COUNTS_SCHEMA = T.StructType(
    [
        T.StructField("term_counts", T.MapType(T.StringType(), T.IntegerType())),
        T.StructField("pair_counts", T.MapType(T.StringType(), T.IntegerType())),
        T.StructField("word_count", T.IntegerType()),
    ]
)


@arrow_udf(EXTRACT_SCHEMA)
def extract_udf(texts: pa.Array, sources: pa.Array) -> pa.Array:
    """The flagship operator (artexin/pack.py:157-251 collect() semantics,
    fused): preprocess dispatch by source URL → readability extraction →
    link strip → image resolution → text+spans, errors in-band."""
    return extract_arrays(texts, sources)


@arrow_udf(T.StringType())
def title_udf(texts: pa.Array) -> pa.Array:
    """get_title only (artexin/extract.py:35-87) — cheap path when callers
    need titles without full extraction."""
    return pa.array(
        [get_title(dom.parse(h or "")) for h in texts.to_pylist()], pa.string()
    )


@arrow_udf(COUNTS_SCHEMA)
def counts_udf(texts: pa.Array) -> pa.Array:
    """Per-document term/pair/word counts (artexin/index.py:124-204).

    Note: for corpus-level term statistics prefer the native formulation
    (split → explode → groupBy) in __spark_entry__.py — this UDF is for
    the per-turn MapType output column the reference's index shape needs.
    """
    counts = [count_text(t or "") for t in texts.to_pylist()]
    return pa.StructArray.from_arrays(
        [
            pa.array([c[0] for c in counts], _COUNT_MAP),
            pa.array([c[1] for c in counts], _COUNT_MAP),
            pa.array([c[2] for c in counts], pa.int32()),
        ],
        names=COUNTS_SCHEMA.names,
    )


@arrow_udf(T.StringType())
def pdf_payload_udf(texts: pa.Array, titles: pa.Array) -> pa.Array:
    """Deterministic PDF payload builder (test/bench harness for the
    pdfx layout-parse path) — Arrow-batched like everything else."""
    from .pdfx import build_simple_pdf

    return pa.array(
        [
            build_simple_pdf(t or "", title=ti or "")
            for t, ti in zip(texts.to_pylist(), titles.to_pylist())
        ],
        pa.string(),
    )


@arrow_udf(T.ArrayType(T.StringType()))
def sentences_udf(texts: pa.Array) -> pa.Array:
    """Sentence split (regex punkt replacement, artexin/index.py:86-104)."""
    return pa.array(
        [list(split_sentences(t or "")) for t in texts.to_pylist()],
        pa.list_(pa.string()),
    )


@arrow_udf(T.ArrayType(T.StringType()))
def words_udf(texts: pa.Array) -> pa.Array:
    """Word tokens per document (artexin/index.py:107-121) — feeds native
    explode/groupBy aggregation for corpus term counts."""
    return pa.array(
        [[w.lower() for w in split_words(t or "")] for t in texts.to_pylist()],
        pa.list_(pa.string()),
    )


#: SQL function name → arrow_udf. Registered by :func:`register_sql`; a
#: registered arrow_udf keeps its vectorized (ArrowEvalPython) execution,
#: so the pure-SQL surface has the identical physical shape as the
#: DataFrame API (plan-gated in tests/test_udfs.py).
SQL_FUNCTIONS = {
    "artexin_extract": "extract_udf",
    "artexin_title": "title_udf",
    "artexin_counts": "counts_udf",
    "artexin_sentences": "sentences_udf",
    "artexin_words": "words_udf",
}


def register_sql(spark) -> list[str]:
    """Expose the engine's vectorized UDFs as SQL functions, so the whole
    pipeline is writable in pure ``spark.sql(...)``::

        SELECT conv_id, turn_idx, artexin_extract(text, '') AS ex
        FROM transcripts

    Replaces the reference's Python-only call surface (artexin has no query
    language at all — every entry point is a function call, pack.py:157)
    with the Spark-native one. Idempotent; returns the registered names.
    """
    udfs = globals()
    for name, fn in SQL_FUNCTIONS.items():
        spark.udf.register(name, udfs[fn])
    return list(SQL_FUNCTIONS)


def with_extraction(df, text_col="text", source_col=None):
    """Attach the extraction output columns (``pipeline.EXTRACT_SCHEMA``)
    to ``df``.

    Column-pruning friendly: only text/source feed the UDF, so Catalyst
    prunes everything else from the scan when downstream allows.
    """
    source = F.col(source_col) if source_col else F.lit("")
    out = df.withColumn("_ex", extract_udf(F.col(text_col), source))
    return out.withColumns(
        {name: F.col(f"_ex.{name}") for name in EXTRACT_SCHEMA.names}
    ).drop("_ex")
