"""End-to-end Spark pipeline: golden per-turn equality, resume, lineage,
salting, and physical-plan shape (vectorized Arrow path only)."""

import os
import shutil
import sys
import zipfile
import zipimport

import pandas as pd
import pyarrow as pa
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from artexin_spark import storage as sink_io
from artexin_spark.corpus import gen_transcripts, synth_transcripts
from artexin_spark.pipeline import (
    _extract_map_iter,
    _forget_zip_importers,
    extract_df,
    lineage_rows,
    prepare_input,
    run_extract,
)
from artexin_spark.preprocess import preps_for
from artexin_spark.readability import extract_turn
from artexin_spark.udfs import with_extraction


def golden_extract(pdf: pd.DataFrame) -> pd.DataFrame:
    """Single-node golden outputs: the same extract_turn the UDF wraps,
    run sequentially (FIXTURES.md §2). Compared against the Spark run for
    exact per-turn text equality under ORDER BY conv_id, turn_idx."""
    out = []
    for row in pdf.itertuples(index=False):
        src = getattr(row, "source", "") or ""
        preps = preps_for(src)
        # with_html=False: matches the UDF path being compared against
        # (udfs.py) and skips the ~10% document-render cost for a field
        # the golden frame never stores
        res = extract_turn(
            row.text, base_url=src, preprocessors=preps, with_html=False
        )
        out.append(
            {
                "conv_id": row.conv_id,
                "turn_idx": row.turn_idx,
                "title": res.title,
                "extracted_text": res.text,
                "spans": [{"start": s, "end": e} for s, e in res.spans],
                "n_images": res.n_images,
                "error": res.error,
            }
        )
    gold = pd.DataFrame(out)
    return gold.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)


@pytest.fixture(scope="module")
def corpus_pdf():
    return gen_transcripts(n_convs=40, seed=42, with_source=True)


@pytest.fixture(scope="module")
def golden(corpus_pdf):
    return golden_extract(corpus_pdf)


def _spark_result(spark, corpus_pdf):
    df = spark.createDataFrame(corpus_pdf)
    out = extract_df(spark, df, n_buckets=16)
    return (
        out.select("conv_id", "turn_idx", "title", "extracted_text", "n_images", "error")
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )


def test_golden_per_turn_text_equality(spark, corpus_pdf, golden):
    """The north-rule correctness gate: Spark (vectorized, shuffled,
    salted) output == single-node golden, exact per-turn text equality
    under stable (conv_id, turn_idx) ordering."""
    got = _spark_result(spark, corpus_pdf)
    want = golden[["conv_id", "turn_idx", "title", "extracted_text", "n_images", "error"]]
    assert len(got) == len(want)
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True),
        want.reset_index(drop=True),
        check_dtype=False,
    )


def test_corpus_has_dirty_rows_and_skew(corpus_pdf):
    # the corpus actually exercises the error channel and skew
    n = len(corpus_pdf)
    empties = (corpus_pdf["text"].str.strip() == "").sum()
    assert empties > 0
    per_conv = corpus_pdf.groupby("conv_id").size()
    assert per_conv.max() > 20 * per_conv.median()  # hot convs present


def test_salting_flattens_buckets(spark, corpus_pdf):
    """xxhash64(conv_id, turn_idx) bucketing: max/median bucket size must
    be near 1 even with 100x-hot conversations (SURVEY.md §4 item 1)."""
    df = spark.createDataFrame(corpus_pdf)
    from artexin_spark.pipeline import prepare_input

    sizes = (
        prepare_input(df, 16, "source")
        .groupBy("part_key")
        .count()
        .toPandas()["count"]
    )
    assert len(sizes) == 16
    assert sizes.max() / sizes.median() < 1.5


def test_bigint_turn_idx_overflow_fails_loudly(spark):
    """prepare_input narrows turn_idx to int. Under ANSI mode (Spark 4's
    default, which get_spark keeps) a value past int32 must fail the job
    with CAST_OVERFLOW, never wrap into a wrong index in the sink."""
    from pyspark.errors import ArithmeticException

    from artexin_spark.pipeline import prepare_input

    df = spark.createDataFrame(
        [("c0", 2**31 + 5, "user", "<p>x</p>", None, None)],
        "conv_id string, turn_idx bigint, role string, text string, "
        "tool string, ts timestamp",
    )
    with pytest.raises(ArithmeticException, match="CAST_OVERFLOW"):
        prepare_input(df, 4, None).collect()


def test_sink_lineage_and_resume(spark, corpus_pdf, tmp_path):
    sink = str(tmp_path / "sink")
    df = spark.createDataFrame(corpus_pdf)

    # first run: only buckets 0..7 (simulated partial failure)
    from artexin_spark.pipeline import prepare_input

    partial = prepare_input(df, 8, "source").filter(F.col("part_key") < 4).drop("part_key", "source")
    stats1 = run_extract(spark, partial, sink, n_buckets=8, source_col=None)
    assert stats1["rows"] > 0

    done = sink_io.completed_buckets(spark, sink).toPandas()
    n_done_before = len(done)
    assert n_done_before > 0

    # resume over the FULL input: already-ok buckets skipped
    stats2 = run_extract(spark, df, sink, n_buckets=8, resume=True)
    lin = sink_io.read_lineage(spark, sink).toPandas()
    run2 = lin[lin.run_id == stats2["run_id"]]
    assert set(run2.part_key).isdisjoint(set(done.part_key))

    # after resume the sink holds each (conv_id, turn_idx) exactly once
    data = sink_io.read_data(spark, sink)
    total = data.count()
    dedup = data.select("conv_id", "turn_idx").distinct().count()
    assert total == dedup
    # lineage wall times are real measurements
    assert (lin["wall_ms"] > 0).all()
    assert (lin["n_chars_in"] >= 0).all()
    # every counter row declares its derivation: row and error counts
    # read from the footers, accumulator sums that saw each row once
    assert (lin["counter_source"] == "footer").all()


def test_rerun_is_idempotent(spark, corpus_pdf, tmp_path):
    sink = str(tmp_path / "sink2")
    df = spark.createDataFrame(corpus_pdf.head(200))
    run_extract(spark, df, sink, n_buckets=4)
    count1 = sink_io.read_data(spark, sink).count()
    run_extract(spark, df, sink, n_buckets=4)  # full re-run, its commit replaces every bucket
    count2 = sink_io.read_data(spark, sink).count()
    assert count1 == count2 == 200


def test_physical_plan_is_vectorized(spark, corpus_pdf):
    """No row-at-a-time Python: the plan must contain Arrow nodes
    (MapInArrow / ArrowEvalPython) and no BatchEvalPython."""
    df = spark.createDataFrame(corpus_pdf.head(50))
    plan = extract_df(spark, df)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert ("MapInArrow" in plan) or ("ArrowEvalPython" in plan)

    plan2 = (
        with_extraction(spark.createDataFrame(corpus_pdf.head(50)), source_col="source")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan2
    assert "ArrowEvalPython" in plan2


def test_content_hash_and_schema(spark, corpus_pdf):
    df = spark.createDataFrame(corpus_pdf.head(30))
    out = extract_df(spark, df, n_buckets=4)
    row = out.filter(F.col("error").isNull()).first()
    assert len(row["content_hash"]) == 32
    fields = dict(out.dtypes)
    assert fields["spans"] == "array<struct<start:int,end:int>>"
    assert fields["turn_idx"] == "int"
    assert fields["extracted_at"] == "timestamp"


def test_spans_recoverable_via_spark(spark, corpus_pdf):
    """Join extracted spans back to the original text and re-derive the
    extracted_text — exact equality, computed distributed."""
    pdf = corpus_pdf.head(300)
    df = spark.createDataFrame(pdf)
    out = extract_df(spark, df, n_buckets=4).filter(
        F.col("error").isNull() & (F.size("spans") > 0)
    )
    orig = spark.createDataFrame(pdf[["conv_id", "turn_idx", "text"]])
    joined = out.join(orig, ["conv_id", "turn_idx"])
    # rebuild text from spans natively (substring each span, join, fix_ws)
    joined.createOrReplaceTempView("joined_spans")
    rebuilt = spark.sql(
        """
        SELECT conv_id, turn_idx, extracted_text,
               trim(regexp_replace(
                 array_join(transform(spans,
                   s -> substring(text, s.start + 1, s.end - s.start)), ' '),
                 '\\\\s+', ' ')) AS rebuilt
        FROM joined_spans
        """
    ).toPandas()
    mismatches = rebuilt[rebuilt.extracted_text != rebuilt.rebuilt]
    assert len(mismatches) == 0, mismatches.head()


def test_non_transcript_input_fails_with_schema_message(spark):
    from artexin_spark.pipeline import prepare_input

    docs = spark.createDataFrame(
        [("d1", "<p>x</p>")], "doc_id string, text string"
    )
    with pytest.raises(ValueError, match="missing column.*conv_id.*expected schema"):
        prepare_input(docs, n_buckets=4, source_col=None)


def test_resume_reextracts_buckets_whose_latest_status_is_failed(spark, corpus_pdf, tmp_path):
    """Latest-status-wins: an earlier ok row must NOT shadow a newer
    failed row — the bucket re-extracts on resume and the sink heals."""
    import shutil

    sink = str(tmp_path / "sink3")
    df = spark.createDataFrame(corpus_pdf.head(300))
    stats1 = run_extract(spark, df, sink, n_buckets=8, source_col=None)
    full_count = sink_io.read_data(spark, sink).count()

    # simulate a post-hoc failure of two buckets: newer 'failed' lineage
    # rows + their data directories lost
    failed = [1, 5]
    sink_io.append_lineage(
        [("op-marker", pk, 0, 0, 0, 0, 0.0, "failed", None) for pk in failed], sink
    )
    for pk in failed:
        shutil.rmtree(f"{sink_io.run_data_path(sink, stats1['run_id'])}/part_key={pk}")
    # a bucket directory the manifest maps but the disk lacks fails the
    # read loudly instead of returning the table short
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        sink_io.read_data(spark, sink)

    done = sink_io.completed_buckets(spark, sink).toPandas()
    assert set(failed).isdisjoint(set(done.part_key))

    stats2 = run_extract(spark, df, sink, n_buckets=8, source_col=None, resume=True)
    lin = sink_io.read_lineage(spark, sink).toPandas()
    run2 = set(lin[lin.run_id == stats2["run_id"]].part_key)
    assert run2 == set(failed)  # ONLY the failed buckets re-extracted

    healed = sink_io.read_data(spark, sink)
    assert healed.count() == full_count
    assert healed.select("conv_id", "turn_idx").distinct().count() == full_count


def test_explicit_missing_source_col_raises(spark, corpus_pdf):
    """A misspelled --source-col must fail loudly, not silently disable
    every source-dispatched preprocessor for the whole run."""
    df = spark.createDataFrame(corpus_pdf)
    with pytest.raises(ValueError, match="source_col"):
        extract_df(spark, df.drop("source"), source_col="sourc_url")
    # the DEFAULT name soft-falls-back (most transcript tables carry none)
    extract_df(spark, df.drop("source"), source_col="source")


def test_partial_rerun_does_not_falsify_lineage(spark, corpus_pdf, tmp_path):
    """A second run over a SUBSET of conversations must stamp lineage rows
    only for the buckets it wrote; untouched buckets keep their original
    run_id, and the returned counters cover this run only."""
    sink = str(tmp_path / "sink")
    df = spark.createDataFrame(corpus_pdf)
    r1 = run_extract(spark, df, sink, n_buckets=16)
    one_conv = corpus_pdf[corpus_pdf.conv_id == corpus_pdf.conv_id.iloc[0]]
    r2 = run_extract(spark, spark.createDataFrame(one_conv), sink, n_buckets=16)
    assert r2["rows"] == len(one_conv)
    assert r2["buckets"] < r1["buckets"] or r1["buckets"] == r2["buckets"] == 16
    lin = sink_io.read_lineage(spark, sink).toPandas()
    touched = set(lin[lin.run_id == r2["run_id"]].part_key)
    # every bucket NOT touched by run 2 still has run 1 as its only row
    untouched = lin[~lin.part_key.isin(touched)]
    assert (untouched.run_id == r1["run_id"]).all()
    # run-2 rows count exactly the subset's rows
    assert lin[lin.run_id == r2["run_id"]].n_rows.sum() == len(one_conv)


def test_fully_resumed_run_is_clean_noop(spark, corpus_pdf, tmp_path):
    """resume over an already-complete sink: no new lineage, zero counters,
    no run dir written and no (empty) snapshot committed."""
    sink = str(tmp_path / "sink")
    df = spark.createDataFrame(corpus_pdf)
    run_extract(spark, df, sink, n_buckets=16)
    before = sink_io.read_lineage(spark, sink).count()
    sid = sink_io.latest_snapshot_id(spark, sink)
    runs = os.listdir(sink_io.data_path(sink))
    res = run_extract(spark, df, sink, n_buckets=16, resume=True)
    assert res == {
        "run_id": res["run_id"], "buckets": 0, "rows": 0, "errors": 0, "snapshot_id": sid
    }
    assert sink_io.read_lineage(spark, sink).count() == before
    assert sink_io.latest_snapshot_id(spark, sink) == sid  # no empty commit
    assert os.listdir(sink_io.data_path(sink)) == runs


def test_run_extract_refuses_the_retired_plain_layout(spark, corpus_pdf, tmp_path):
    """Top-level data/part_key=NNN directories (the retired dynamic-
    overwrite layout) are outside every snapshot: a run beside them would
    hide their rows from read_data, so it fails before writing anything."""
    sink = str(tmp_path / "sink")
    spark.createDataFrame([(1, 3)], "x int, part_key int").write.partitionBy(
        "part_key"
    ).parquet(sink_io.data_path(sink))
    df = spark.createDataFrame(corpus_pdf.head(20))
    with pytest.raises(ValueError, match="retired plain layout"):
        run_extract(spark, df, sink, n_buckets=4)
    assert sorted(os.listdir(sink)) == ["data"]
    assert [n for n in os.listdir(sink_io.data_path(sink)) if "=" in n] == ["part_key=3"]


def test_run_extract_snapshot_false_raises(spark, corpus_pdf, tmp_path):
    """snapshot=False named the retired plain layout: it fails loudly
    rather than silently writing the one layout left."""
    df = spark.createDataFrame(corpus_pdf.head(20))
    with pytest.raises(ValueError, match="retired plain"):
        run_extract(spark, df, str(tmp_path / "sink"), n_buckets=4, snapshot=False)
    assert not os.path.exists(tmp_path / "sink")


def test_bucket_spec_pins_resume_bucketing(spark, corpus_pdf, tmp_path):
    """First write records the sink's bucket spec; a resume that omits
    n_buckets ADOPTS it even under a different shuffle-partition conf
    (the silent-re-bucketing hazard), and an explicit conflict fails
    fast instead of stranding stale rows in unclaimed buckets."""
    import pytest as _pytest

    from artexin_spark import storage as sink_io

    sink = str(tmp_path / "spec_sink")
    df = spark.createDataFrame(corpus_pdf)
    run_extract(spark, df, sink, n_buckets=8)
    assert sink_io.read_bucket_spec(sink)["n_buckets"] == 8

    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "5")  # default would be 10
    try:
        stats = run_extract(spark, df, sink, resume=True)  # n_buckets omitted
        assert stats["rows"] == 0  # fully resumed — and no re-bucketed run
        with _pytest.raises(ValueError, match="bucketed as 8"):
            run_extract(spark, df, sink, n_buckets=4)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_read_transcripts_json_and_csv_match_parquet(spark, corpus_pdf, tmp_path):
    """Multi-format source parity: the same corpus lands identically from
    parquet, JSON Lines, and CSV — declared schema on the text formats
    (no inference pass), HTML payloads with newlines/quotes survive CSV
    escaping, and the extraction output is byte-identical across formats."""
    from artexin_spark.pipeline import read_transcripts

    df = spark.createDataFrame(corpus_pdf).drop("source")
    base = str(tmp_path)
    df.write.parquet(f"{base}/t.parquet")
    df.write.orc(f"{base}/t.orc")
    df.write.json(f"{base}/t.json")
    df.write.option("header", "true").option("escape", '"').option(
        "nullValue", "\\N"
    ).csv(f"{base}/t.csv")

    def turns(fmt, path):
        got = read_transcripts(spark, path, fmt)
        return sorted(
            (r["conv_id"], r["turn_idx"], r["text"])
            for r in got.select("conv_id", "turn_idx", "text").collect()
        )

    want = turns("parquet", f"{base}/t.parquet")
    assert turns("orc", f"{base}/t.orc") == want
    assert turns("json", f"{base}/t.json") == want
    assert turns("csv", f"{base}/t.csv") == want
    with pytest.raises(ValueError, match="unsupported"):
        read_transcripts(spark, base, "xml")


def test_corrupt_text_lines_land_in_band_not_job_kill(spark, tmp_path):
    """One malformed json/csv line must degrade ONE row (raw line kept in
    the bad_record channel, fields null), never raise — and the good rows
    around it parse untouched (r02 VERDICT item 7). Covers both broken
    syntax and schema-mismatched values, and the split_ingest_errors
    quarantine seam."""
    from artexin_spark.pipeline import (
        BAD_RECORD_COL,
        read_transcripts,
        split_ingest_errors,
    )

    jpath = str(tmp_path / "j")
    (tmp_path / "j").mkdir()
    (tmp_path / "j" / "part0.json").write_text(
        '{"conv_id": "c-0", "turn_idx": 0, "role": "user", "text": "<p>ok</p>", "tool": null, "ts": null}\n'
        '{"conv_id": "c-1", BROKEN JSON LINE\n'
        '{"conv_id": "c-2", "turn_idx": "not_an_int", "role": "user", "text": "x", "tool": null, "ts": null}\n'
        '{"conv_id": "c-3", "turn_idx": 3, "role": "assistant", "text": "<p>also ok</p>", "tool": null, "ts": null}\n'
    )
    df = read_transcripts(spark, jpath, "json")
    rows = df.collect()  # must NOT raise
    assert len(rows) == 4
    bad = {r["conv_id"]: r for r in rows if r[BAD_RECORD_COL] is not None}
    good = {r["conv_id"] for r in rows if r[BAD_RECORD_COL] is None}
    assert good == {"c-0", "c-3"}
    # broken-syntax line: whole line verbatim, conv_id unparsed (null key)
    assert any("BROKEN JSON LINE" in r[BAD_RECORD_COL] for r in bad.values())
    # schema-mismatch line: raw line kept too (PERMISSIVE semantics)
    assert any("not_an_int" in r[BAD_RECORD_COL] for r in bad.values())
    g, b = split_ingest_errors(df)
    # collect(), not count(): Spark disallows queries whose only scan
    # reference is the corrupt-record column (column pruning would turn
    # count() into exactly that) — documented on split_ingest_errors
    assert BAD_RECORD_COL not in g.columns and len(g.collect()) == 2
    assert len(b.collect()) == 2

    cpath = str(tmp_path / "c")
    (tmp_path / "c").mkdir()
    (tmp_path / "c" / "part0.csv").write_text(
        "conv_id,turn_idx,role,text,tool,ts\n"
        'c-0,0,user,"<p>ok</p>",\\N,\\N\n'
        "c-1,NOT_AN_INT,user,x,\\N,\\N\n"
        'c-2,2,assistant,"<p>fine</p>",\\N,\\N\n'
    )
    cdf = read_transcripts(spark, cpath, "csv")
    crows = cdf.collect()
    assert len(crows) == 3
    cbad = [r for r in crows if r[BAD_RECORD_COL] is not None]
    assert len(cbad) == 1 and "NOT_AN_INT" in cbad[0][BAD_RECORD_COL]
    # parquet/orc have no channel: split is identity
    pq = str(tmp_path / "p.parquet")
    spark.createDataFrame(
        [("c", 1, "user", "t", None, None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    ).write.parquet(pq)
    g2, b2 = split_ingest_errors(read_transcripts(spark, pq, "parquet"))
    assert b2 is None and g2.count() == 1


def test_run_extract_no_repartition_same_content(spark, corpus_pdf, tmp_path):
    """The source-bucketed fast path (repartition=False) skips the payload
    shuffle but must produce an identical sink: same rows, same per-bucket
    lineage totals — only the files-per-bucket layout may differ."""
    df = spark.createDataFrame(corpus_pdf.head(400))
    s1, s2 = str(tmp_path / "shuffled"), str(tmp_path / "aligned")
    r1 = run_extract(spark, df, s1, n_buckets=8)
    r2 = run_extract(spark, df, s2, n_buckets=8, repartition=False)
    assert (r1["rows"], r1["errors"]) == (r2["rows"], r2["errors"])
    a = sink_io.read_data(spark, s1).select("conv_id", "turn_idx", "content_hash")
    b = sink_io.read_data(spark, s2).select("conv_id", "turn_idx", "content_hash")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    la = sink_io.read_lineage(spark, s1).toPandas().set_index("part_key")
    lb = sink_io.read_lineage(spark, s2).toPandas().set_index("part_key")
    for col in ("n_rows", "n_errors", "n_chars_in", "n_chars_out"):
        assert (la[col].sort_index() == lb[col].sort_index()).all()


def test_resumed_snapshot_retry_preserves_committed_run_dir(spark, corpus_pdf, tmp_path):
    """Idempotent retry of a COMPLETED snapshot job (same run_id,
    resume=True) must be a clean no-op that leaves the committed run
    directory intact — the r02 review reproduced committed-data loss
    here (overwrite-then-cleanup of data/run=R). Also: reusing a
    committed run_id without resume must fail fast, and a partial resume
    under a committed id must fail rather than clobber."""
    import pytest as _pytest

    sink = str(tmp_path / "sink")
    df = spark.createDataFrame(corpus_pdf.head(300))
    r1 = run_extract(spark, df, sink, n_buckets=8, run_id="R")
    n = sink_io.read_snapshot(spark, sink).count()
    assert n == 300 and r1["snapshot_id"] == 1

    retry = run_extract(spark, df, sink, n_buckets=8, run_id="R", resume=True)
    assert retry["rows"] == 0 and retry["snapshot_id"] == 1
    assert sink_io.read_snapshot(spark, sink).count() == 300  # data intact

    with _pytest.raises(ValueError, match="already committed"):
        run_extract(spark, df, sink, n_buckets=8, run_id="R")

    # partial resume under a committed id: a sink whose committed run R
    # covers only half the buckets leaves real work — proceeding would
    # overwrite R's dir, so it must refuse
    sink2 = str(tmp_path / "sink2")
    from artexin_spark.pipeline import prepare_input

    half = (
        prepare_input(spark.createDataFrame(corpus_pdf), 8, "source")
        .filter(F.col("part_key") < 4)
        .drop("part_key", "source")
    )
    run_extract(spark, half, sink2, n_buckets=8, run_id="R")
    n2 = sink_io.read_snapshot(spark, sink2).count()
    with _pytest.raises(ValueError, match="buckets remain"):
        run_extract(
            spark, spark.createDataFrame(corpus_pdf), sink2, n_buckets=8,
            run_id="R", resume=True,
        )
    assert sink_io.read_snapshot(spark, sink2).count() == n2  # intact


def test_lineage_schema_evolution_merges_old_files(spark, tmp_path):
    """r03 ADVICE regression: a sink whose lineage dir holds PRE-
    counter_source files next to new-schema appends must read the
    union with counter_source visible (null on old rows) — not a
    file-order-dependent schema where the column randomly vanishes."""
    from artexin_spark import storage as sink_io

    sink = str(tmp_path / "evo")
    old_schema = (
        "run_id string, part_key int, n_rows long, n_errors long, "
        "n_chars_in long, n_chars_out long, wall_ms double, status string, "
        "finished_at timestamp"
    )
    import datetime as _dt

    t0 = _dt.datetime(2026, 1, 1, 12, 0, 0)
    old = spark.createDataFrame(
        [("r_old", 0, 10, 0, 100, 90, 1.0, "ok", t0)], old_schema
    )
    old.write.mode("append").parquet(sink_io.lineage_path(sink))
    sink_io.append_lineage([("r_new", 1, 20, 0, 200, 180, 2.0, "ok", "accumulator")], sink)
    lin = sink_io.read_lineage(spark, sink)
    assert "counter_source" in lin.columns
    got = {r["run_id"]: r["counter_source"] for r in lin.collect()}
    assert got == {"r_old": None, "r_new": "accumulator"}
    # the resume reader keeps working across the mixed-schema dir
    done = sink_io.completed_buckets(spark, sink)
    assert {r["part_key"] for r in done.collect()} == {0, 1}


def _lineage_files(sink):
    return sorted(os.listdir(sink_io.lineage_path(sink)))


def test_each_run_publishes_one_lineage_file(spark, corpus_pdf, tmp_path):
    """run_extract writes its lineage rows from the driver as ONE
    part-*.parquet per run, and the temp name it publishes from is gone."""
    sink = str(tmp_path / "sink")
    df = spark.createDataFrame(corpus_pdf.head(200))
    for n_runs in (1, 2):
        run_extract(spark, df, sink, n_buckets=4)
        names = _lineage_files(sink)
        assert len(names) == n_runs
        assert all(f.startswith("part-") and f.endswith(".parquet") for f in names)
    assert sink_io.read_lineage(spark, sink).count() == 2 * 4


def test_unpublished_lineage_file_is_ignored(spark, corpus_pdf, tmp_path):
    """A crash between writing and publishing a lineage file leaves a
    ``_part-….parquet`` behind: resume and lineage readers must not see
    it, with or without published files next to it."""
    donor = str(tmp_path / "donor")
    sink_io.append_lineage(
        [("crashed", pk, 0, 0, 0, 0, 0.0, "failed", None) for pk in range(4)], donor
    )
    (planted,) = _lineage_files(donor)

    def plant(sink):
        os.makedirs(sink_io.lineage_path(sink), exist_ok=True)
        shutil.copy(
            os.path.join(sink_io.lineage_path(donor), planted),
            os.path.join(sink_io.lineage_path(sink), "_" + planted),
        )

    only = str(tmp_path / "only")
    plant(only)
    assert sink_io.read_lineage(spark, only) is None
    assert sink_io.completed_buckets(spark, only) is None

    sink = str(tmp_path / "sink")
    run_extract(spark, spark.createDataFrame(corpus_pdf.head(200)), sink, n_buckets=4)
    plant(sink)
    assert "crashed" not in {r.run_id for r in sink_io.read_lineage(spark, sink).collect()}
    assert {r.part_key for r in sink_io.completed_buckets(spark, sink).collect()} == {0, 1, 2, 3}


def test_forget_zip_importers_keeps_zip_packages_importable(tmp_path):
    """Dropping the cached zipimporters must not break a later import of a
    not-yet-imported submodule from the same archive."""
    archive = str(tmp_path / "zpkg_fzi.zip")
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("zpkg_fzi/__init__.py", "")
        zf.writestr("zpkg_fzi/first.py", "VALUE = 1\n")
        zf.writestr("zpkg_fzi/second.py", "VALUE = 2\n")
    sys.path.insert(0, archive)
    try:
        import zpkg_fzi.first

        assert zpkg_fzi.first.VALUE == 1
        assert any(
            isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()
        )
        _forget_zip_importers()
        assert not any(
            isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()
        )
        import zpkg_fzi.second

        assert zpkg_fzi.second.VALUE == 2
    finally:
        sys.path.remove(archive)
        for name in [m for m in sys.modules if m.split(".")[0] == "zpkg_fzi"]:
            del sys.modules[name]
        sys.path_importer_cache.pop(archive, None)


def test_workers_hold_no_zip_importers_after_extraction(spark, corpus_pdf):
    """Every extraction task leaves its Python worker without cached
    zipimporters, so the next task's ``importlib.invalidate_caches()`` has
    no archive to re-read. The workers import pyspark from a zip, so the
    importers would be there otherwise."""
    prepared = prepare_input(spark.createDataFrame(corpus_pdf.head(160)), 8, "source")

    def probe(batches):
        import pyspark

        n_rows = sum(b.num_rows for b in _extract_map_iter(batches))
        left = sum(
            isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()
        )
        yield pa.RecordBatch.from_pydict(
            {
                "n_rows": [n_rows],
                "pyspark_zipped": [".zip" in pyspark.__file__],
                "zip_importers": [left],
            }
        )

    tasks = (
        prepared.repartition(6)
        .mapInArrow(probe, "n_rows long, pyspark_zipped boolean, zip_importers long")
        .collect()
    )
    assert len(tasks) == 6
    assert all(t.n_rows > 0 for t in tasks)
    assert all(t.pyspark_zipped for t in tasks)
    assert [t.zip_importers for t in tasks] == [0] * 6


def test_lineage_counts_are_the_footer_counts(spark, corpus_pdf, tmp_path):
    """Every bucket's lineage n_rows/n_errors are its written rows and
    non-null errors, and the run's returned totals are their sums."""
    sink = str(tmp_path / "sink")
    res = run_extract(spark, spark.createDataFrame(corpus_pdf), sink, n_buckets=8)
    lin = {
        r["part_key"]: (r["n_rows"], r["n_errors"])
        for r in sink_io.read_lineage(spark, sink).collect()
    }
    written = {
        r["part_key"]: (r["n"], r["e"])
        for r in sink_io.read_data(spark, sink)
        .groupBy("part_key")
        .agg(F.count("*").alias("n"), F.count("error").alias("e"))
        .collect()
    }
    assert lin == written
    assert res["rows"] == len(corpus_pdf) == sum(n for n, _ in written.values())
    assert res["errors"] == sum(e for _, e in written.values()) > 0


def _errors_run(spark, sink, errors):
    """A two-bucket run of 12 rows whose ``error`` holds ``errors`` in
    rows 0, 3, 6 and 9 (two per bucket); its footer facts."""
    df = spark.createDataFrame(
        [(f"c{i}", i % 2, errors if i % 3 == 0 else None) for i in range(12)],
        "conv_id string, part_key int, error string",
    )
    sink_io.write_run_data(df, sink, "r")
    return sink_io.bucket_footers(sink, "r")


def test_lineage_keeps_footer_counts_when_the_accumulator_double_counts(spark, tmp_path):
    """A re-executed task adds its accumulator sums twice: lineage keeps
    the footers' row and error counts, and labels the doubled sums
    approximate instead of passing them as exact."""
    facts = _errors_run(spark, str(tmp_path / "sink"), "boom")
    sums = {0: [6, 60, 30, 1.5], 1: [12, 120, 60, 3.0]}  # bucket 1 counted twice
    rows = {r[1]: r for r in lineage_rows("r", facts, sums)}
    assert rows[0] == ("r", 0, 6, 2, 60, 30, 1.5, "ok", "footer")
    assert rows[1] == ("r", 1, 6, 2, 120, 60, 3.0, "ok", "footer+approx_sums")


def test_lineage_errors_are_unknown_without_a_footer_null_count(spark, tmp_path):
    """parquet-mr writes no statistics for a column whose value is over
    4 KB, not even its null count: lineage then records n_errors as NULL
    (unknown) and says so, never a guessed number; n_rows stays exact."""
    facts = _errors_run(spark, str(tmp_path / "sink"), "x" * 5000)
    assert facts[0].nulls["error"] is None and facts[0].rows == 6
    rows = lineage_rows("r", facts, {0: [6, 60, 30, 1.5], 1: [6, 60, 30, 1.5]})
    assert [r[2:4] for r in rows] == [(6, None), (6, None)]
    assert {r[8] for r in rows} == {"footer+errors_unknown"}
