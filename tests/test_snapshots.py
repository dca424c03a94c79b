"""Snapshot layer (storage.py): commit/read isolation, time travel,
invisible uncommitted runs, compaction, and snapshot expiry + GC.

These are Iceberg's read semantics over the sandbox's parquet layout
(SURVEY.md §7.0 substitution): the manifest append is the commit point,
so a crashed run can never corrupt the readable table — the property a
10^12-turn job actually needs from its sink."""

import glob
import os
import uuid

import pytest
from pyspark.sql import functions as F

from artexin_spark import storage as sink_io
from artexin_spark.corpus import gen_transcripts
from artexin_spark.pipeline import prepare_input, run_extract


@pytest.fixture(scope="module")
def corpus_pdf():
    return gen_transcripts(n_convs=30, seed=7, with_source=True)


def _counts(df):
    return df.select("conv_id", "turn_idx").orderBy("conv_id", "turn_idx").toPandas()


def test_snapshot_commit_read_and_time_travel(spark, corpus_pdf, tmp_path):
    sink = str(tmp_path / "snapsink")
    df = spark.createDataFrame(corpus_pdf)

    # s1: half the buckets (simulated first run)
    partial = (
        prepare_input(df, 8, "source")
        .filter(F.col("part_key") < 4)
        .drop("part_key", "source")
    )
    stats1 = run_extract(spark, partial, sink, n_buckets=8, source_col=None)
    assert stats1["snapshot_id"] == 1
    s1 = sink_io.read_snapshot(spark, sink, 1)
    n1 = s1.count()
    assert n1 == stats1["rows"] > 0

    # s2: full input, new run — overlapping buckets replaced, not duplicated
    stats2 = run_extract(spark, df, sink, n_buckets=8)
    assert stats2["snapshot_id"] == 2
    s2 = sink_io.read_snapshot(spark, sink)  # latest
    assert s2.count() == len(corpus_pdf)
    assert (
        s2.select("conv_id", "turn_idx").distinct().count() == len(corpus_pdf)
    ), "bucket replacement must not duplicate turns"

    # time travel: snapshot 1 is untouched by the second write
    again = sink_io.read_snapshot(spark, sink, 1)
    assert again.count() == n1
    assert _counts(again).equals(_counts(s1))

    snaps = sink_io.list_snapshots(spark, sink).orderBy("snapshot_id").toPandas()
    assert list(snaps.snapshot_id) == [1, 2]
    assert int(snaps.n_buckets.iloc[1]) == 8


def test_uncommitted_run_is_invisible(spark, corpus_pdf, tmp_path):
    sink = str(tmp_path / "snapsink2")
    df = spark.createDataFrame(corpus_pdf)
    run_extract(spark, df, sink, n_buckets=4)
    before = sink_io.read_snapshot(spark, sink).count()

    # a run that writes data files but crashes before commit
    from artexin_spark.pipeline import extract_df

    out = extract_df(spark, df.limit(5), n_buckets=4, source_col="source")
    sink_io.write_run_data(out.drop("source"), sink, "crashed-run")
    assert os.path.isdir(sink_io.run_data_path(sink, "crashed-run"))
    assert sink_io.read_snapshot(spark, sink).count() == before
    snaps = sink_io.list_snapshots(spark, sink).toPandas()
    assert len(snaps) == 1


def test_compaction_preserves_data_and_bounds_files(spark, corpus_pdf, tmp_path):
    sink = str(tmp_path / "snapsink3")
    df = spark.createDataFrame(corpus_pdf)
    # two committed runs → latest snapshot spans two run dirs
    half = (
        prepare_input(df, 4, "source").filter(F.col("part_key") < 2).drop("part_key", "source")
    )
    run_extract(spark, half, sink, n_buckets=4, source_col=None)
    run_extract(spark, df, sink, n_buckets=4)
    live_before = sink_io.read_snapshot(spark, sink)
    want = _counts(live_before)

    snap_id = sink_io.compact_snapshot(spark, sink, files_per_bucket=1)
    assert snap_id == 3
    live_after = sink_io.read_snapshot(spark, sink)
    assert _counts(live_after).equals(want), "compaction must be byte-preserving"

    # one data file per bucket in the compacted run
    man = spark.read.parquet(sink_io.snapshots_path(sink))
    rid = (
        man.filter(F.col("snapshot_id") == snap_id)
        .select("run_id")
        .distinct()
        .collect()[0][0]
    )
    assert rid.startswith("compact-")
    for bucket_dir in glob.glob(os.path.join(sink_io.run_data_path(sink, rid), "part_key=*")):
        files = [f for f in os.listdir(bucket_dir) if f.endswith(".parquet")]
        assert len(files) == 1, bucket_dir


def test_expire_snapshots_gcs_unreferenced_runs(spark, corpus_pdf, tmp_path):
    sink = str(tmp_path / "snapsink4")
    df = spark.createDataFrame(corpus_pdf)
    r1 = run_extract(spark, df.limit(20), sink, n_buckets=4)
    run_extract(spark, df, sink, n_buckets=4)
    sink_io.compact_snapshot(spark, sink)
    want = _counts(sink_io.read_snapshot(spark, sink))

    dead = sink_io.expire_snapshots(spark, sink, keep_last=1)
    assert len(dead) >= 1
    # the expired first run's directory is gone; the live table is intact
    assert not os.path.isdir(sink_io.run_data_path(sink, r1["run_id"]))
    assert _counts(sink_io.read_snapshot(spark, sink)).equals(want)
    snaps = sink_io.list_snapshots(spark, sink).toPandas()
    assert len(snaps) == 1
    with pytest.raises(Exception):
        sink_io.read_snapshot(spark, sink, 1)


def test_snapshot_model_random_sequence(spark, tmp_path):
    """Model check: a seeded random sequence of commit/compact/expire ops
    against a pure-Python model of the manifest semantics. Every live
    snapshot must read back exactly the model's bucket→run mapping."""
    import random

    rng = random.Random(20260819)
    sink = str(tmp_path / "model_sink")
    model: dict[int, dict[int, str]] = {}  # snapshot_id -> {bucket: run_id}
    latest = 0

    def spark_mapping(sid):
        rows = (
            sink_io.read_snapshot(spark, sink, sid)
            .select("part_key", "run_id")
            .distinct()
            .collect()
        )
        got = {}
        for r in rows:
            assert r["part_key"] not in got, "bucket mapped to two runs"
            got[r["part_key"]] = r["run_id"]
        return got

    def commit(run_id, buckets):
        nonlocal latest
        df = spark.createDataFrame(
            [(b * 10 + i, b, run_id) for b in buckets for i in range(2)],
            "id long, part_key int, run_id string",
        )
        sink_io.write_run_data(df, sink, run_id)
        # half the commits record manifest stats, half don't — where-reads
        # below must stay exact across stats-tracked, stats-less, carried,
        # and compaction-nulled buckets alike
        stats_cols = ["id"] if rng.random() < 0.5 else None
        sid = sink_io.commit_snapshot(spark, sink, run_id, stats_cols=stats_cols)
        parent = dict(model.get(latest, {}))
        parent.update({b: run_id for b in buckets})
        latest = sid
        model[sid] = parent

    commit("run-0", list(range(6)))
    for step in range(10):
        op = rng.choice(["commit", "commit", "compact", "expire"])
        if op == "commit":
            buckets = sorted(rng.sample(range(6), rng.randint(1, 6)))
            commit(f"run-{step + 1}", buckets)
        elif op == "compact":
            sid = sink_io.compact_snapshot(spark, sink)
            # compaction is byte-preserving: the row tags (which run wrote
            # each bucket's rows) must be exactly the parent snapshot's
            model[sid] = dict(model[latest])
            latest = sid
        else:
            keep = rng.randint(1, 2)
            sink_io.expire_snapshots(spark, sink, keep_last=keep)
            for sid in sorted(model)[:-keep]:
                del model[sid]
        # every surviving snapshot reads back exactly the model
        for sid, want in model.items():
            assert spark_mapping(sid) == want, (step, sid)
        # and row contents follow the mapping (2 rows per bucket, run-tagged)
        live = sink_io.read_snapshot(spark, sink, latest).toPandas()
        assert len(live) == 2 * len(model[latest])
        # stats-pruned range read == model rows in range, regardless of
        # which buckets happen to carry stats at this step
        lo = rng.randint(-5, 60)
        hi = lo + rng.randint(0, 30)
        got = sorted(
            r["id"]
            for r in sink_io.read_snapshot(
                spark, sink, latest, where=("id", lo, hi)
            ).collect()
        )
        want_ids = sorted(
            b * 10 + i
            for b in model[latest]
            for i in range(2)
            if lo <= b * 10 + i <= hi
        )
        assert got == want_ids, (step, lo, hi)
        # incremental scan vs the model: for every surviving base, the
        # delta to latest is exactly the buckets whose row tags changed
        # (run ids never recur, so tag-equality == untouched-by-data-
        # commits; compaction keeps tags and must contribute nothing)
        for a in sorted(model)[:-1]:
            exp = {k for k in model[latest] if model[a].get(k) != model[latest][k]}
            inc = sink_io.read_incremental(spark, sink, a, latest).toPandas()
            assert set(inc.part_key.unique()) == exp, (step, a)
            for k, grp in inc.groupby("part_key"):
                assert set(grp.run_id) == {model[latest][k]}, (step, a, k)
                assert len(grp) == 2, (step, a, k)


def test_commit_skips_claimed_snapshot_ids(spark, corpus_pdf, tmp_path):
    """A crashed committer's orphan marker (claimed id, no manifest rows)
    must not pin or break later commits: ids probe forward, every committed
    id is unique, and the mapping stays one-row-per-bucket."""
    import os

    from artexin_spark.pipeline import run_extract

    sink = str(tmp_path / "sink")
    df = spark.createDataFrame(corpus_pdf)
    r1 = run_extract(spark, df, sink, n_buckets=8)
    assert r1["snapshot_id"] == 1
    # simulate a committer that claimed id 2 and died before appending
    orphan = os.path.join(sink_io.snapshots_path(sink), ".commit-2")
    os.close(os.open(orphan, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
    r2 = run_extract(spark, df, sink, n_buckets=8)
    assert r2["snapshot_id"] == 3  # 2 is burned, exactly like Iceberg
    man = spark.read.parquet(sink_io.snapshots_path(sink))
    per = (
        man.filter(F.col("snapshot_id") == 3)
        .groupBy("part_key")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert per == 1  # never a union of two committers' mappings
    assert sink_io.read_snapshot(spark, sink, 3).count() == df.count()


def test_incremental_read_changed_buckets_only(spark, tmp_path):
    """Incremental scan semantics (Iceberg changes-since-snapshot):
    only buckets remapped by DATA commits in (since, to] are returned,
    at the ``to`` state; compaction ('replace') never re-emits; a bucket
    changed twice emits once with the latest content; an expired base
    raises instead of silently returning a wrong delta."""

    def commit(run_id, buckets, tag):
        df = spark.createDataFrame(
            [(b * 10 + i, b, tag) for b in buckets for i in range(2)],
            "id long, part_key int, tag string",
        )
        sink_io.write_run_data(df, sink, run_id)
        return sink_io.commit_snapshot(spark, sink, run_id)

    sink = str(tmp_path / "inc_sink")
    assert commit("r1", [0, 1, 2, 3], "v1") == 1
    # delta of the base snapshot against itself is empty
    assert sink_io.read_incremental(spark, sink, 1).count() == 0

    assert sink_io.compact_snapshot(spark, sink) == 2
    # replace-only range: data unchanged, nothing re-emitted
    assert sink_io.read_incremental(spark, sink, 1, 2).count() == 0

    assert commit("r2", [1, 2], "v2") == 3
    inc = sink_io.read_incremental(spark, sink, 1).toPandas()
    assert sorted(inc.part_key.unique()) == [1, 2]
    assert set(inc.tag) == {"v2"} and len(inc) == 4

    # bucket 1 changes AGAIN: emitted once, at the ``to`` state
    assert commit("r3", [1], "v3") == 4
    inc2 = sink_io.read_incremental(spark, sink, 1).toPandas()
    assert sorted(inc2.part_key.unique()) == [1, 2]
    assert set(inc2[inc2.part_key == 1].tag) == {"v3"}
    assert set(inc2[inc2.part_key == 2].tag) == {"v2"}
    # bounded range (1, 3]: bucket 1 at snapshot-3 state, not snapshot-4
    inc3 = sink_io.read_incremental(spark, sink, 1, 3).toPandas()
    assert set(inc3[inc3.part_key == 1].tag) == {"v2"}

    # since=0 = everything, at latest state
    full = sink_io.read_incremental(spark, sink, 0).toPandas()
    assert sorted(full.part_key.unique()) == [0, 1, 2, 3]

    # expired base must raise, not under-report
    sink_io.expire_snapshots(spark, sink, keep_last=1)
    with pytest.raises(ValueError, match="expired"):
        sink_io.read_incremental(spark, sink, 1)


def test_merge_upsert_rewrites_only_touched_buckets(spark, tmp_path):
    """MERGE semantics: matched keys replaced, unmatched keys inserted,
    buckets the updates never touch carry forward in the manifest without
    a rewrite, and a new column in the updates widens the table with
    NULLs in old rows (add-column evolution)."""
    sink = str(tmp_path / "merge_sink")
    base = spark.createDataFrame(
        [(b * 10 + i, b, "old") for b in range(4) for i in range(3)],
        "id long, part_key int, tag string",
    )
    sink_io.write_run_data(base, sink, "r-base")
    sink_io.commit_snapshot(spark, sink, "r-base")

    updates = spark.createDataFrame(
        # replace id=11 (bucket 1), insert id=99 (bucket 1), insert a
        # whole new bucket 7; carry a column the base never had
        [(11, 1, "new", 1.5), (99, 1, "new", 2.5), (70, 7, "new", 3.5)],
        "id long, part_key int, tag string, score double",
    )
    sid = sink_io.merge_upsert(spark, sink, updates, ["id"])
    live = sink_io.read_snapshot(spark, sink, sid).toPandas()

    assert len(live) == 12 + 2  # 1 replaced in place, 2 inserted
    assert set(live[live.id == 11].tag) == {"new"}
    assert set(live[live.part_key == 7].id) == {70}
    assert set(live[live.part_key == 0].tag) == {"old"}
    # evolution: old rows read NULL in the new column, updates keep theirs
    assert live[live.id == 11].score.iloc[0] == 1.5
    assert live[live.id == 0].score.isna().all()

    # untouched buckets still map to the base run — no rewrite happened
    man = spark.read.parquet(sink_io.snapshots_path(sink)).filter(
        F.col("snapshot_id") == sid
    ).toPandas()
    by_key = dict(zip(man.part_key, man.run_id))
    assert by_key[0] == "r-base" and by_key[2] == "r-base"
    assert by_key[1].startswith("merge-") and by_key[7].startswith("merge-")

    # time travel: the pre-merge snapshot still reads the old rows only
    pre = sink_io.read_snapshot(spark, sink, 1).toPandas()
    assert len(pre) == 12 and "score" not in pre.columns


def test_expire_snapshots_keep_last_zero_drops_all(spark, corpus_pdf, tmp_path):
    """keep_last=0 means drop every snapshot (regression: [-0:] sliced the
    whole list and kept everything while reporting success)."""
    sink = str(tmp_path / "snapsink_zero")
    df = spark.createDataFrame(corpus_pdf)
    r1 = run_extract(spark, df.limit(20), sink, n_buckets=4)
    r2 = run_extract(spark, df, sink, n_buckets=4)
    dead = sink_io.expire_snapshots(spark, sink, keep_last=0)
    assert set(dead) == {r1["run_id"], r2["run_id"]}
    assert not os.path.isdir(sink_io.run_data_path(sink, r1["run_id"]))
    assert not os.path.isdir(sink_io.run_data_path(sink, r2["run_id"]))
    assert sink_io.latest_snapshot_id(spark, sink) is None


def test_stats_may_match_is_conservative():
    """Pure manifest-evaluator semantics: prune ONLY on provable
    exclusion; every unknown keeps the bucket."""
    m = sink_io._stats_may_match
    st = '{"doc_id": {"min": 100, "max": 199}}'
    assert m(st, ("doc_id", 150, 160))       # overlap inside
    assert m(st, ("doc_id", 199, None))      # touches max
    assert m(st, (  "doc_id", None, 100))    # touches min
    assert not m(st, ("doc_id", 200, None))  # strictly above
    assert not m(st, ("doc_id", None, 99))   # strictly below
    assert m(None, ("doc_id", 0, 1))         # no stats recorded
    assert m("", ("doc_id", 0, 1))
    assert m('{"other": {"min": 1, "max": 2}}', ("doc_id", 0, 1))
    assert m('{"doc_id": {"min": null, "max": null}}', ("doc_id", 0, 1))
    assert m("not json", ("doc_id", 0, 1))
    # cross-typed bound vs stored value: unknown → keep
    assert m('{"doc_id": {"min": "a", "max": "z"}}', ("doc_id", 0, 1))
    # string stats with string bounds DO prune
    st_s = '{"lang": {"min": "de", "max": "fr"}}'
    assert m(st_s, ("lang", "en", "en"))
    assert not m(st_s, ("lang", "zh", None))


def test_stats_pruned_read_skips_buckets_and_matches_full_scan(spark, tmp_path):
    """End-to-end data skipping: commit with stats_cols, range-read with
    where= — only overlapping buckets survive manifest evaluation, the
    plan's partition filter names just those buckets, and the rows equal
    the brute-force filtered full scan."""
    sink = str(tmp_path / "stats_sink")
    # part_key correlates with id ranges: bucket k holds ids [100k, 100k+100)
    df = spark.range(800).selectExpr(
        "id", "cast(id / 100 as int) part_key", "concat('d', id) payload"
    )
    sink_io.write_run_data(df, sink, "r1")
    sink_io.commit_snapshot(spark, sink, "r1", stats_cols=["id"])

    man = spark.read.parquet(sink_io.snapshots_path(sink))
    rows = man.collect()
    assert all(r["stats"] for r in rows), rows  # every bucket got stats
    where = ("id", 250, 420)
    kept = sorted(
        r["part_key"] for r in rows if sink_io._stats_may_match(r["stats"], where)
    )
    assert kept == [2, 3, 4]  # 5 of 8 buckets provably excluded

    out = sink_io.read_snapshot(spark, sink, where=where)
    full = sink_io.read_snapshot(spark, sink).filter("id between 250 and 420")
    assert sorted(r["id"] for r in out.collect()) == sorted(
        r["id"] for r in full.collect()
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re

    m = re.search(r"PartitionFilters: \[[^\]]*IN \(([^)]*)\)", plan)
    assert m, plan
    assert sorted(int(k) for k in m.group(1).split(",")) == [2, 3, 4], plan


def test_stats_carry_forward_and_null_stats_stay_readable(spark, tmp_path):
    """A later commit without stats must not break skipping on untouched
    buckets (their carried stats still describe their data), and its own
    NULL-stats buckets are always read (conservative), never lost."""
    sink = str(tmp_path / "carry_sink")
    df = spark.range(400).selectExpr(
        "id", "cast(id / 100 as int) part_key", "concat('d', id) payload"
    )
    sink_io.write_run_data(df, sink, "r1")
    sink_io.commit_snapshot(spark, sink, "r1", stats_cols=["id"])
    # r2 rewrites bucket 0 only, WITHOUT stats, with shifted ids
    upd = spark.range(1000, 1010).selectExpr(
        "id", "cast(0 as int) part_key", "concat('u', id) payload"
    )
    sink_io.write_run_data(upd, sink, "r2")
    sink_io.commit_snapshot(spark, sink, "r2")

    rows = spark.read.parquet(sink_io.snapshots_path(sink)).filter("snapshot_id = 2").collect()
    by_key = {r["part_key"]: r["stats"] for r in rows}
    assert by_key[0] is None  # no stats asked for on r2
    assert by_key[1] is not None  # carried forward from r1's commit

    # range hitting only bucket 3's ids: buckets 1,2 prune via carried
    # stats; bucket 0 (unknown stats) is opened but filtered to nothing
    out = sink_io.read_snapshot(spark, sink, where=("id", 350, 360))
    assert sorted(r["id"] for r in out.collect()) == list(range(350, 361))
    # all buckets pruned -> empty result with the table schema
    none = sink_io.read_snapshot(spark, sink, where=("id", 5000, 6000))
    assert none.count() == 0
    assert set(none.columns) == {"id", "payload", "part_key"}


def test_compaction_inherits_stats_and_sorts_within_buckets(spark, tmp_path):
    """A 'replace' commit rewrites byte-identical data, so the parent's
    per-bucket stats still hold — compaction must inherit them (data
    skipping never degrades) — and sort_by must leave each bucket's file
    internally ordered (tight parquet row-group min/max)."""
    import glob as _glob

    sink = str(tmp_path / "compact_stats")
    df = spark.range(400).selectExpr(
        "id", "cast(id / 100 as int) part_key", "concat('d', id) payload"
    ).orderBy(F.rand(7))  # scrambled so the sort is observable
    sink_io.write_run_data(df, sink, "r1")
    sink_io.commit_snapshot(spark, sink, "r1", stats_cols=["id"])
    sid = sink_io.compact_snapshot(spark, sink, sort_by=["id"])

    rows = spark.read.parquet(sink_io.snapshots_path(sink)).filter(
        F.col("snapshot_id") == sid
    ).collect()
    assert rows and all(r["stats"] for r in rows), rows  # inherited, not null
    # skipping still prunes to the one overlapping bucket, values exact
    out = sink_io.read_snapshot(spark, sink, where=("id", 150, 160))
    assert sorted(r["id"] for r in out.collect()) == list(range(150, 161))
    # each compacted bucket file is internally sorted by id
    run_dir = sink_io.run_data_path(sink, rows[0]["run_id"])
    files = _glob.glob(os.path.join(run_dir, "part_key=1", "*.parquet"))
    assert files
    ids = [r["id"] for r in spark.read.parquet(files[0]).collect()]
    assert ids == sorted(ids) and len(ids) == 100


def test_remove_orphan_runs_gcs_only_uncommitted_dirs(spark, tmp_path):
    """Crashed writers (data written, never committed) leak run dirs that
    expire_snapshots can't see (it walks the manifest). remove_orphan_runs
    walks the data dir: orphans past the grace window go, committed runs
    and fresh in-flight writes stay."""
    sink = str(tmp_path / "orphan_sink")
    df = spark.range(40).selectExpr("id", "cast(id % 4 as int) part_key")
    sink_io.write_run_data(df, sink, "good")
    sink_io.commit_snapshot(spark, sink, "good")
    sink_io.write_run_data(df, sink, "crashed")  # no commit
    want = sorted(r["id"] for r in sink_io.read_snapshot(spark, sink).collect())

    # grace window protects the possibly-in-flight writer
    assert sink_io.remove_orphan_runs(spark, sink, min_age_s=3600) == []
    assert os.path.isdir(sink_io.run_data_path(sink, "crashed"))
    # past the window it is an orphan
    assert sink_io.remove_orphan_runs(spark, sink, min_age_s=0) == ["crashed"]
    assert not os.path.isdir(sink_io.run_data_path(sink, "crashed"))
    assert os.path.isdir(sink_io.run_data_path(sink, "good"))
    got = sorted(r["id"] for r in sink_io.read_snapshot(spark, sink).collect())
    assert got == want


def test_commit_rejects_column_type_conflict(spark, tmp_path):
    """Schema enforcement at the commit point: a run that changes a shared
    column's TYPE fails fast (one writer sees it) instead of poisoning
    every future reader's union; add-column evolution stays legal."""
    sink = str(tmp_path / "schema_sink")
    df = spark.range(20).selectExpr(
        "id", "cast(id % 2 as int) part_key", "cast(id * 10 as long) n_chars"
    )
    sink_io.write_run_data(df, sink, "r1")
    sink_io.commit_snapshot(spark, sink, "r1")

    bad = spark.range(5).selectExpr(
        "id", "cast(id % 2 as int) part_key", "cast(id as string) n_chars"
    )
    sink_io.write_run_data(bad, sink, "r2")
    with pytest.raises(ValueError, match="n_chars.*bigint.*string"):
        sink_io.commit_snapshot(spark, sink, "r2")

    # add-column evolution still commits fine
    ok = spark.range(5).selectExpr(
        "id", "cast(0 as int) part_key",
        "cast(id as long) n_chars", "concat('x', id) extra"
    )
    sink_io.write_run_data(ok, sink, "r3")
    sid = sink_io.commit_snapshot(spark, sink, "r3")
    live = sink_io.read_snapshot(spark, sink, sid)
    assert "extra" in live.columns
    # r3 replaced bucket 0 (5 rows); r1's bucket 1 (10 rows) carried,
    # reading NULL in the added column
    assert live.count() == 15
    assert live.filter(F.col("extra").isNull()).count() == 10


def test_merge_rejects_type_conflict_with_clear_error(spark, tmp_path):
    sink = str(tmp_path / "merge_schema_sink")
    df = spark.range(20).selectExpr(
        "id", "cast(id % 2 as int) part_key", "cast(id as long) n"
    )
    sink_io.write_run_data(df, sink, "r1")
    sink_io.commit_snapshot(spark, sink, "r1")
    bad = spark.range(3).selectExpr(
        "id", "cast(id % 2 as int) part_key", "cast(id as string) n"
    )
    with pytest.raises(ValueError, match="merge updates.*n: bigint -> string"):
        sink_io.merge_upsert(spark, sink, bad, ["id"])


def test_snapshot_model_with_merge_row_level(spark, tmp_path):
    """Row-level model check including MERGE: a seeded random sequence of
    bucket-overwrite commits, row-level merges (update + insert),
    compactions, and expiries against a pure-Python dict of the table's
    exact rows. After every op the live snapshot must equal the model
    row-for-row, and a stats-pruned range read must stay exact."""
    import random

    rng = random.Random(99)
    sink = str(tmp_path / "merge_model_sink")
    K = 4  # buckets: part_key = id % K
    model: dict[int, str] = {}  # id -> val

    def to_df(rows):
        return spark.createDataFrame(
            [(i, i % K, v) for i, v in rows], "id long, part_key int, val string"
        )

    def check(step):
        live = {
            r["id"]: r["val"]
            for r in sink_io.read_snapshot(spark, sink).collect()
        }
        assert live == model, (step, len(live), len(model))
        lo = rng.randint(-5, 120)
        hi = lo + rng.randint(0, 60)
        got = sorted(
            r["id"]
            for r in sink_io.read_snapshot(
                spark, sink, where=("id", lo, hi)
            ).collect()
        )
        assert got == sorted(i for i in model if lo <= i <= hi), (step, lo, hi)

    # initial commit: ids 0..59
    first = [(i, "r0") for i in range(60)]
    sink_io.write_run_data(to_df(first), sink, "r0")
    sink_io.commit_snapshot(spark, sink, "r0", stats_cols=["id"])
    model.update(dict(first))
    check("init")

    for step in range(8):
        op = rng.choice(
            ["overwrite", "merge", "merge", "append", "compact", "expire"]
        )
        if op == "append":
            # fresh ids alongside existing bucket rows (multi-run buckets)
            rows = [
                (500 + 10 * step + j, f"ap{step}")
                for j in range(rng.randint(1, 6))
            ]
            rid = f"ap-{step}"
            sink_io.write_run_data(to_df(rows), sink, rid)
            sink_io.commit_snapshot(
                spark, sink, rid, operation="append",
                stats_cols=["id"] if rng.random() < 0.5 else None,
            )
            model.update(dict(rows))
        elif op == "overwrite":
            # rewrite 1-2 whole buckets with fresh ids in their key space
            buckets = sorted(rng.sample(range(K), rng.randint(1, 2)))
            rows = [
                (b + K * j, f"ow{step}")
                for b in buckets
                for j in range(rng.randint(3, 12))
            ]
            rid = f"ow-{step}"
            sink_io.write_run_data(to_df(rows), sink, rid)
            stats = ["id"] if rng.random() < 0.5 else None
            sink_io.commit_snapshot(spark, sink, rid, stats_cols=stats)
            for i in list(model):
                if i % K in buckets:
                    del model[i]  # bucket REPLACEMENT drops all old rows
            model.update(dict(rows))
        elif op == "merge":
            upd = [
                (i, f"mg{step}")
                for i in rng.sample(sorted(model), min(len(model), 5))
            ]
            ins = [
                (200 + 10 * step + j, f"mg{step}") for j in range(rng.randint(0, 3))
            ]
            sink_io.merge_upsert(spark, sink, to_df(upd + ins), ["id"])
            model.update(dict(upd + ins))
        elif op == "compact":
            sink_io.compact_snapshot(spark, sink, sort_by=["id"])
        else:
            sink_io.expire_snapshots(spark, sink, keep_last=1)
        check(step)


def test_append_commit_multi_run_buckets_and_merge_normalizes(spark, tmp_path):
    """operation='append' keeps the parent's rows alongside the new run's
    (Iceberg append); a merge touching a multi-run bucket must read back
    ALL its runs' survivors — losing the other run's rows is the classic
    multi-run corruption."""
    sink = str(tmp_path / "append_sink")
    a = spark.createDataFrame(
        [(i, i % 2, "a") for i in range(8)], "id long, part_key int, val string"
    )
    b = spark.createDataFrame(
        [(i, i % 2, "b") for i in range(100, 106)],
        "id long, part_key int, val string",
    )
    sink_io.write_run_data(a, sink, "ra")
    sink_io.commit_snapshot(spark, sink, "ra")
    sink_io.write_run_data(b, sink, "rb")
    sink_io.commit_snapshot(spark, sink, "rb", operation="append")

    live = {r["id"]: r["val"] for r in sink_io.read_snapshot(spark, sink).collect()}
    assert len(live) == 14 and live[0] == "a" and live[100] == "b"

    # incremental: every bucket changed in the append (both got new runs)
    inc = sink_io.read_incremental(spark, sink, 1)
    assert inc.count() == 14  # bucket granularity: all runs of changed buckets

    # merge updates one key in a multi-run bucket: both runs' rows survive
    upd = spark.createDataFrame(
        [(0, 0, "m")], "id long, part_key int, val string"
    )
    sink_io.merge_upsert(spark, sink, upd, ["id"])
    live2 = {r["id"]: r["val"] for r in sink_io.read_snapshot(spark, sink).collect()}
    assert len(live2) == 14
    assert live2[0] == "m" and live2[2] == "a" and live2[100] == "b"


def test_read_incremental_rejects_inverted_range(spark, tmp_path):
    """since > to must raise like the other validation paths — a silently
    empty delta reads as 'nothing changed'."""
    import pytest as _pytest

    from artexin_spark import storage as sink_io
    from artexin_spark.pipeline import run_extract
    from artexin_spark.corpus import gen_transcripts

    sink = str(tmp_path / "sink")
    df = spark.createDataFrame(gen_transcripts(n_convs=4, seed=3, with_source=True))
    run_extract(spark, df.filter("turn_idx < 2"), sink, n_buckets=4)
    run_extract(spark, df, sink, n_buckets=4)
    with _pytest.raises(ValueError, match="inverted incremental range"):
        sink_io.read_incremental(spark, sink, since_snapshot_id=2, to_snapshot_id=1)


def _spec_race_worker(sink):
    from artexin_spark.storage import ensure_bucket_spec

    return ensure_bucket_spec(sink, 8)["n_buckets"]


def test_bucket_spec_publish_is_atomic(tmp_path):
    """Concurrent first-writers: exactly one pins the spec, losers always
    read a COMPLETE file (the link(2) publish can't expose partial JSON)."""
    import multiprocessing as mp
    import os

    sink = str(tmp_path / "race_sink")
    with mp.Pool(8) as pool:
        results = pool.map(_spec_race_worker, [sink] * 16)
    assert results == [8] * 16
    assert not [f for f in os.listdir(sink) if ".tmp." in f]  # no litter


def _spark_jobs(spark, fn):
    """Run ``fn``; return its result and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job-start events are async
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _bucketed(spark, n=40, buckets=4, tag="x"):
    return spark.range(n).selectExpr(
        "id", f"cast(id % {buckets} as int) part_key", f"'{tag}' tag"
    )


def test_metadata_calls_run_no_spark_job(spark, tmp_path):
    """The manifest is read and written on the driver and run schemas come
    from parquet footers: the metadata calls and a commit without stats
    plan no Spark job."""
    sink = str(tmp_path / "sink")
    for rid in ("r1", "r2"):
        sink_io.write_run_data(_bucketed(spark, tag=rid), sink, rid)
        sink_io.commit_snapshot(spark, sink, rid)
    sink_io.write_run_data(_bucketed(spark), sink, "crashed")  # never committed
    sink_io.write_run_data(_bucketed(spark), sink, "r3")

    sid, jobs = _spark_jobs(spark, lambda: sink_io.commit_snapshot(spark, sink, "r3"))
    assert sid == 3 and jobs == 0
    calls = {
        "latest_snapshot_id": lambda: sink_io.latest_snapshot_id(spark, sink),
        "run_id_committed": lambda: sink_io.run_id_committed(spark, sink, "r2"),
        "remove_orphan_runs": lambda: sink_io.remove_orphan_runs(spark, sink, min_age_s=0),
        "expire_snapshots": lambda: sink_io.expire_snapshots(spark, sink, keep_last=1),
    }
    results = {}
    for name, call in calls.items():
        results[name], jobs = _spark_jobs(spark, call)
        assert jobs == 0, name
    assert results == {
        "latest_snapshot_id": 3,
        "run_id_committed": True,
        "remove_orphan_runs": ["crashed"],
        "expire_snapshots": ["r1", "r2"],
    }


def test_commit_of_a_64_bucket_run_runs_no_spark_job(spark, tmp_path):
    """A commit takes the run's schema and the live snapshot's from parquet
    footers and builds no DataFrame: over a run of more bucket directories
    than Spark's parallel partition-discovery threshold (32), building one
    runs a file-listing job."""
    sink = str(tmp_path / "sink")
    for rid in ("r1", "r2"):
        run = _bucketed(spark, n=256, buckets=64, tag=rid)
        sink_io.write_run_data(run, sink, rid)
    sink_io.commit_snapshot(spark, sink, "r1")
    sid, jobs = _spark_jobs(spark, lambda: sink_io.commit_snapshot(spark, sink, "r2"))
    assert sid == 2 and jobs == 0
    live = sink_io.read_snapshot(spark, sink)
    assert live.count() == 256 and {r.tag for r in live.select("tag").collect()} == {"r2"}


def test_unpublished_manifest_file_is_ignored(spark, tmp_path):
    """A crash between writing and publishing a manifest file leaves a
    ``_part-….parquet`` in ``_snapshots/``: no reader may see it, with or
    without published files next to it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def plant(sink):
        os.makedirs(sink_io.snapshots_path(sink), exist_ok=True)
        row = {"snapshot_id": 99, "part_key": 0, "run_id": "ghost", "operation": "overwrite"}
        pq.write_table(
            pa.Table.from_pylist([row], schema=sink_io.SNAPSHOT_ARROW_SCHEMA),
            os.path.join(sink_io.snapshots_path(sink), "_part-planted.parquet"),
        )

    only = str(tmp_path / "only")
    plant(only)
    assert sink_io.latest_snapshot_id(spark, only) is None
    with pytest.raises(FileNotFoundError):
        sink_io.read_snapshot(spark, only)

    sink = str(tmp_path / "sink")
    sink_io.write_run_data(_bucketed(spark), sink, "r1")
    sink_io.commit_snapshot(spark, sink, "r1")
    plant(sink)
    assert sink_io.latest_snapshot_id(spark, sink) == 1
    assert not sink_io.run_id_committed(spark, sink, "ghost")
    assert sink_io.read_snapshot(spark, sink).count() == 40


def test_legacy_spark_manifest_reads_and_carries_forward(spark, tmp_path):
    """A manifest written by Spark before ``operation``/``stats`` existed
    (INT96 ``committed_at``) still reads, carries forward through a new
    commit, feeds ``read_incremental`` and survives expiry."""
    import datetime

    sink = str(tmp_path / "legacy")
    sink_io.write_run_data(_bucketed(spark, tag="old"), sink, "r-old")
    t0 = datetime.datetime(2026, 1, 1, 12, 0, 0)
    spark.createDataFrame(
        [(1, k, "r-old", t0) for k in range(4)],
        "snapshot_id long, part_key int, run_id string, committed_at timestamp",
    ).coalesce(1).write.parquet(sink_io.snapshots_path(sink))

    assert sink_io.latest_snapshot_id(spark, sink) == 1
    assert sink_io.read_snapshot(spark, sink).count() == 40
    (snap,) = sink_io.list_snapshots(spark, sink).collect()
    assert (snap["n_buckets"], snap["n_runs"], snap["operation"]) == (4, 1, "overwrite")

    new = _bucketed(spark, tag="new").filter("part_key = 0")
    sink_io.write_run_data(new, sink, "r-new")
    assert sink_io.commit_snapshot(spark, sink, "r-new") == 2
    live = sink_io.read_snapshot(spark, sink, 2).toPandas()
    assert len(live) == 40
    assert dict(live.groupby("part_key").tag.first()) == {0: "new", 1: "old", 2: "old", 3: "old"}
    delta = sink_io.read_incremental(spark, sink, 1).toPandas()
    assert set(delta.part_key) == {0} and set(delta.tag) == {"new"}

    assert sink_io.expire_snapshots(spark, sink, keep_last=1) == []
    assert sink_io.read_snapshot(spark, sink).count() == 40


def test_interrupted_expire_rolls_forward(spark, tmp_path, monkeypatch):
    """A crash between expire_snapshots' two renames leaves only
    ``_snapshots.old`` and ``_snapshots.tmp``. The next read must roll the
    complete .tmp forward — not see an empty table that the next commit
    would replace with a mapping of only its own run."""
    sink = str(tmp_path / "sink")
    sink_io.write_run_data(_bucketed(spark), sink, "r1")
    sink_io.commit_snapshot(spark, sink, "r1")
    sink_io.write_run_data(_bucketed(spark), sink, "r2")
    sink_io.commit_snapshot(spark, sink, "r2")
    sink_io.write_run_data(_bucketed(spark).filter("part_key = 0"), sink, "r3")
    sink_io.commit_snapshot(spark, sink, "r3")

    real_rename = os.rename
    calls = []

    def dying_rename(src, dst):
        calls.append(src)
        if len(calls) == 2:
            raise OSError("crash between the renames")
        real_rename(src, dst)

    with monkeypatch.context() as m:
        m.setattr(os, "rename", dying_rename)
        with pytest.raises(OSError, match="crash between"):
            sink_io.expire_snapshots(spark, sink, keep_last=1)
    path = sink_io.snapshots_path(sink)
    assert not os.path.isdir(path) and os.path.isdir(path + ".tmp")

    assert sink_io.latest_snapshot_id(spark, sink) == 3
    assert sink_io.read_snapshot(spark, sink).count() == 40
    sink_io.write_run_data(_bucketed(spark).filter("part_key = 1"), sink, "r4")
    assert sink_io.commit_snapshot(spark, sink, "r4") == 4
    assert sink_io.read_snapshot(spark, sink).count() == 40


def test_snapshot_ids_are_never_reused_after_full_expiry(spark, tmp_path):
    """Expiring every snapshot must not hand id 1 out again: a consumer
    holding an expired ``since_snapshot_id`` has to get the "expired"
    error, not a delta against a different snapshot under the same id."""
    sink = str(tmp_path / "sink")
    for rid in ("r1", "r2", "r3"):
        sink_io.write_run_data(_bucketed(spark, tag=rid), sink, rid)
        sink_io.commit_snapshot(spark, sink, rid)
    assert sorted(sink_io.expire_snapshots(spark, sink, keep_last=0)) == ["r1", "r2", "r3"]
    sink_io.write_run_data(_bucketed(spark, tag="r4"), sink, "r4")
    assert sink_io.commit_snapshot(spark, sink, "r4") > 3
    with pytest.raises(ValueError, match="expired"):
        sink_io.read_incremental(spark, sink, since_snapshot_id=1)
    assert sink_io.read_snapshot(spark, sink).count() == 40


def test_read_snapshot_of_many_runs_infers_no_schema(spark, tmp_path):
    """Each run's schema comes from one parquet footer read on the driver:
    reading a snapshot built by 4 append commits plans no Spark job, and
    the schema is exactly what Spark's own inference gives."""
    sink = str(tmp_path / "sink")
    for i in range(4):
        rid = f"r{i}"
        run = _bucketed(spark, tag=rid).withColumn("ts", F.current_timestamp())
        sink_io.write_run_data(run, sink, rid)
        sink_io.commit_snapshot(spark, sink, rid, operation="append")
    df, jobs = _spark_jobs(spark, lambda: sink_io.read_snapshot(spark, sink))
    assert jobs == 0
    inferred = spark.read.parquet(sink_io.run_data_path(sink, "r0")).schema
    assert df.schema == inferred
    assert df.count() == 160
    assert sorted(r.tag for r in df.select("tag").distinct().collect()) == ["r0", "r1", "r2", "r3"]
