"""UDF-vs-pure-function parity: every Arrow UDF must equal the single-node
function it wraps, row for row."""

import pandas as pd
from pyspark.sql import functions as F

from artexin_spark import dom
from artexin_spark.readability import get_title
from artexin_spark.tokenizer import count_text, split_sentences, split_words
from artexin_spark.udfs import counts_udf, sentences_udf, title_udf, words_udf

DOCS = [
    "<html><head><title>T one</title></head><body><p>First sentence here. "
    "Second one, with commas, follows.</p></body></html>",
    "<body><h2>Heading only</h2><p>Body text. More text!</p></body>",
    "plain words without markup. another sentence.",
    "",
]


def _df(spark):
    return spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(DOCS)), "text": DOCS})
    )


def test_title_udf_parity(spark):
    got = (
        _df(spark)
        .select("doc_id", title_udf("text").alias("title"))
        .orderBy("doc_id")
        .toPandas()
    )
    want = [get_title(dom.parse(d)) for d in DOCS]
    assert list(got.title) == want


def test_counts_udf_parity(spark):
    got = (
        _df(spark)
        .select("doc_id", counts_udf("text").alias("c"))
        .orderBy("doc_id")
        .collect()
    )
    for row, doc in zip(got, DOCS):
        tc, pc, wc = count_text(doc)
        assert dict(row["c"]["term_counts"]) == tc
        assert dict(row["c"]["pair_counts"]) == pc
        assert row["c"]["word_count"] == wc


def test_words_and_sentences_udf_parity(spark):
    got = (
        _df(spark)
        .select(
            "doc_id",
            words_udf("text").alias("w"),
            sentences_udf("text").alias("s"),
        )
        .orderBy("doc_id")
        .collect()
    )
    for row, doc in zip(got, DOCS):
        assert row["w"] == [t.lower() for t in split_words(doc)]
        assert row["s"] == list(split_sentences(doc))


def test_counts_native_equivalence(spark):
    """The reference's get_counts semantics expressed NATIVELY (explode +
    groupBy over the words UDF) must agree with the per-doc map output —
    the SURVEY §2.4 'Spark mapping' claim, executed."""
    df = _df(spark).filter("text <> ''")
    native = (
        df.select(F.explode(words_udf("text")).alias("term"))
        .groupBy("term")
        .count()
        .toPandas()
        .set_index("term")["count"]
        .to_dict()
    )
    merged: dict[str, int] = {}
    for doc in DOCS:
        tc, _, _ = count_text(doc)
        for t, c in tc.items():
            merged[t] = merged.get(t, 0) + c
    assert native == merged


def test_fat_payloads_through_small_arrow_batches(spark):
    """Multi-MB HTML cells through the real Arrow path with the batch size
    the session docs tell fat-payload tables to use (SPARK_ARROW_BATCH
    semantics): output must equal the single-node extractor row-for-row,
    and spans must recover the text from the original payload. Guards the
    BENCH memory-envelope claim — batch_bytes ≈ rows × payload is only
    bounded if maxRecordsPerBatch actually applies to mapInPandas."""
    from artexin_spark.pipeline import extract_df
    from artexin_spark.readability import extract_turn
    from artexin_spark.tokenizer import fix_ws

    para = (
        "<p>Long body paragraph %d, with commas, clauses, and enough prose "
        "to dominate scoring over any boilerplate in the page.</p>"
    )
    body = "".join(para % i for i in range(12000))  # ~1.4 MB of article
    payloads = [
        "<html><head><title>Fat %d</title></head><body>"
        '<div id="navigation"><a href="/x">nav</a></div>'
        '<div id="content">%s</div>'
        '<div class="footer">footer junk</div></body></html>' % (i, body)
        for i in range(6)
    ]
    pdf = pd.DataFrame(
        {
            "conv_id": [f"c{i}" for i in range(6)],
            "turn_idx": [0] * 6,
            "role": ["user"] * 6,
            "text": payloads,
            "tool": [None] * 6,
            "ts": pd.to_datetime(["2026-01-01"] * 6),
        }
    )
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        out = (
            extract_df(spark, spark.createDataFrame(pdf), n_buckets=4, source_col=None)
            .select("conv_id", "title", "extracted_text", "spans", "error")
            .orderBy("conv_id")
            .collect()
        )
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert len(out) == 6
    for i, row in enumerate(out):
        golden = extract_turn(payloads[i])
        assert row["error"] is None and row["title"] == f"Fat {i}"
        assert row["extracted_text"] == golden.text
        assert "nav" not in row["extracted_text"][:50]
        # span recovery against the original multi-MB payload
        src = payloads[i]
        joined = fix_ws(" ".join(src[s["start"] : s["end"]] for s in row["spans"]))
        assert joined == row["extracted_text"]


def test_register_sql_surface(spark):
    """The pure-SQL surface is the same engine: identical rows to the
    DataFrame API and an identical vectorized physical shape (one
    ArrowEvalPython, zero per-row BatchEvalPython)."""
    from artexin_spark.udfs import register_sql, with_extraction

    names = register_sql(spark)
    assert "artexin_extract" in names
    _df(spark).createOrReplaceTempView("sqlsurf_docs")
    sql_out = spark.sql(
        """
        SELECT doc_id, ex.title AS title, ex.extracted_text AS extracted_text,
               ex.error AS error
        FROM (SELECT doc_id, artexin_extract(text, '') AS ex
              FROM sqlsurf_docs)
        ORDER BY doc_id
        """
    )
    plan = sql_out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan
    api_out = (
        with_extraction(_df(spark))
        .select("doc_id", "title", "extracted_text", "error")
        .orderBy("doc_id")
    )
    assert [r.asDict() for r in sql_out.collect()] == [
        r.asDict() for r in api_out.collect()
    ]

    # the scalar helpers registered too: title/words usable from SQL
    one = spark.sql(
        "SELECT artexin_title(text) AS t, artexin_words(text) AS w "
        "FROM sqlsurf_docs WHERE doc_id = 0"
    ).collect()[0]
    assert one.t == "T one"
    assert "sentence" in one.w
