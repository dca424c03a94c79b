"""Iceberg-shaped source/sink + lineage/checkpoint manifests.

The sandbox has no Iceberg runtime jar (SURVEY.md §7.0), so the sink is an
Iceberg-shaped layout we manage explicitly, one layout for every writer:

    <sink>/data/run=<run_id>/part_key=NNN/*.parquet   immutable per-run files
    <sink>/_snapshots/part-<uuid>.parquet             manifest, one file per
                                                      commit: bucket -> run(s)
    <sink>/_lineage/part-<uuid>.parquet               one file per run: a row
                                                      per (run_id, part_key)

A run writes its own directory, then a manifest commit publishes it: an
'overwrite' commit maps the buckets the run touched to the run, replacing
them whole — the reference's rmtree-if-exists + rewrite of one package
directory (artexin/pack.py:113-116), lifted to bucket granularity; an
'append' commit (one streaming micro-batch) adds the run beside them.
``_lineage`` doubles as the checkpoint manifest (the reference's
per-package ``info.json``, artexin/pack.py:120-122): a bucket whose
latest row is ``status='ok'`` is done and is skipped on resume.

Metadata plane: ``_lineage`` and ``_snapshots`` hold at most n_buckets rows
per run or snapshot, so the driver reads them with pyarrow (``_read_rows``)
and publishes each new file with one ``os.replace`` (``_publish``) — no
metadata call runs a Spark job. Spark runs only the data plane.

Swap point: replace write_run_data + commit_snapshot / read_snapshot with
``df.writeTo(tbl).overwritePartitions()`` / ``spark.read.format('iceberg')``
when a catalog is configured — the pipeline code doesn't change.
"""

from __future__ import annotations

import datetime
import json
import os
import shutil
import time
import uuid

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import IntegerType, StructField, StructType

#: The lineage row, declared once. ``append_lineage`` takes rows of every
#: field but the last and stamps ``finished_at`` itself.
LINEAGE_ARROW_SCHEMA = pa.schema(
    [
        ("run_id", pa.string()),
        ("part_key", pa.int32()),
        ("n_rows", pa.int64()),
        ("n_errors", pa.int64()),
        ("n_chars_in", pa.int64()),
        ("n_chars_out", pa.int64()),
        ("wall_ms", pa.float64()),
        ("status", pa.string()),
        ("counter_source", pa.string()),
        ("finished_at", pa.timestamp("us", tz="UTC")),
    ]
)
LINEAGE_SCHEMA = from_arrow_schema(LINEAGE_ARROW_SCHEMA)


def data_path(sink: str) -> str:
    return os.path.join(sink, "data")


def lineage_path(sink: str) -> str:
    return os.path.join(sink, "_lineage")


# Sink codec: zstd, explicitly. Measured on the fat extracted_text column
# (BENCH experiment, 48k turns / 16 cores): encode wall is identical across
# snappy/lz4/zstd/uncompressed (~0.47 s min-of-3 each — the encoder is not
# the write bottleneck), but zstd files are 28% smaller than snappy and 4×
# smaller than uncompressed. At the 10^12-turn target (~2 PB written) the
# size difference IS the cost: every downstream scan, the lineage read-back,
# and resume re-reads pay it. Free CPU-wise, so it's the default.
SINK_CODEC = "zstd"


def read_data(spark: SparkSession, sink: str) -> DataFrame:
    """The live table: the latest snapshot's rows (``read_snapshot``).
    perfbench's bulk check reads the sink through this name."""
    return read_snapshot(spark, sink)


def check_layout(sink: str) -> None:
    """Raise on a sink written in a retired layout: plain bucket
    directories (``data/part_key=NNN``, written by dynamic partition
    overwrite) or a streaming file sink (``_spark_metadata``). No manifest
    names their rows, so a snapshot committed beside them would hide
    those rows from every read instead of failing."""
    data = data_path(sink)
    plain = os.path.isdir(data) and any(
        n.startswith("part_key=") for n in os.listdir(data)
    )
    if plain or os.path.isdir(os.path.join(sink, "_spark_metadata")):
        what = (
            "plain layout (data/part_key=NNN bucket directories)"
            if plain
            else "streaming file-sink layout (_spark_metadata)"
        )
        raise ValueError(
            f"sink {sink} holds the retired {what}; its rows are outside "
            "every snapshot — extract into a fresh sink"
        )


def _read_rows(directory: str, schema: pa.Schema) -> list[dict]:
    """Every row of the files published in ``directory``, read on the
    driver through the declared ``schema`` ([] when there are none).
    pyarrow's default ``ignore_prefixes`` skips ``_``-prefixed temp files,
    ``_SUCCESS``, ``.crc`` files and the ``.commit-N`` markers. Files
    written before a column existed read it as null ("unknown"), and
    older Spark-written INT96 timestamps are cast to the declared type."""
    try:
        table = ds.dataset(directory, schema=schema, format="parquet").to_table()
    except FileNotFoundError:
        return []
    return table.to_pylist()


def _publish(table: pa.Table, directory: str) -> None:
    """Add ``table`` to ``directory`` as one new ``part-<uuid>.parquet``,
    written under a ``_``-prefixed name and published with ``os.replace``:
    readers skip ``_`` files, so a crash mid-write leaves nothing visible.
    Sinks are local paths (``ensure_bucket_spec`` already relies on
    ``os.link``)."""
    os.makedirs(directory, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(directory, "_" + name)
    pq.write_table(table, tmp, compression=SINK_CODEC)
    os.replace(tmp, os.path.join(directory, name))


def append_lineage(rows, sink: str) -> None:
    """Append lineage ``rows`` — tuples in ``LINEAGE_ARROW_SCHEMA`` order
    without ``finished_at``, which is stamped once per call in UTC — as
    one file published from the driver (a run holds at most n_buckets
    rows; a Spark job to write them cost ~0.5 s)."""
    names = LINEAGE_ARROW_SCHEMA.names
    finished_at = datetime.datetime.now(datetime.timezone.utc)
    table = pa.Table.from_pylist(
        [dict(zip(names, (*row, finished_at), strict=True)) for row in rows],
        schema=LINEAGE_ARROW_SCHEMA,
    )
    _publish(table, lineage_path(sink))


def read_lineage(spark: SparkSession, sink: str) -> DataFrame | None:
    rows = _read_rows(lineage_path(sink), LINEAGE_ARROW_SCHEMA)
    return spark.createDataFrame(rows, LINEAGE_SCHEMA) if rows else None


def completed_buckets(spark: SparkSession, sink: str) -> DataFrame | None:
    """part_keys whose LATEST lineage row is ok — the resume anti-join
    side (SURVEY.md §4 item 4)."""
    rows = _read_rows(lineage_path(sink), LINEAGE_ARROW_SCHEMA)
    if not rows:
        return None
    latest: dict[int, dict] = {}
    for r in rows:
        seen = latest.get(r["part_key"])
        if seen is None or r["finished_at"] > seen["finished_at"]:
            latest[r["part_key"]] = r
    ok = sorted(k for k, r in latest.items() if r["status"] == "ok")
    return spark.createDataFrame([(k,) for k in ok], "part_key int")


# ---------------------------------------------------------------------------
# Snapshot layer: Iceberg's defining read semantics over the sink layout of
# the module docstring. Every writer — ``run_extract``, each streaming
# micro-batch, ``merge_upsert``, ``compact_snapshot`` — writes one run
# directory and publishes it with one ``commit_snapshot``.
#
# Each snapshot's manifest rows are the FULL bucket→run mapping (Iceberg
# analogue: a manifest list rewritten per snapshot). The commit point is the
# manifest file's publish — a run whose data files were written but never
# committed is invisible to every reader, so a failed job can never corrupt
# the readable table; readers of snapshot S are isolated from any later
# writes (time travel = read an older S). ``compact_snapshot`` rewrites the
# live table into one fresh run at a target file count per bucket;
# ``expire_snapshots`` drops old manifests and garbage-collects run
# directories no surviving snapshot references.
#
# Substitution note (same seam as the module docstring): real Iceberg makes
# the manifest swap atomic via the catalog; here a commit is one
# ``_publish`` — the file is written under a ``_`` name that no reader sees
# and made visible by a single ``os.replace``, so a crash at any point
# leaves either the whole snapshot or nothing. The manifest holds
# n_buckets rows per snapshot, so it is read and written on the driver
# with pyarrow; no manifest call plans a Spark job.
# ---------------------------------------------------------------------------

#: The manifest row, declared once. ``stats`` is Iceberg's manifest column
#: stats at bucket granularity: a JSON object {col: {"min": v, "max": v}}
#: computed at commit time, NULL when the committer didn't ask for stats
#: (older manifests read back NULL through the declared schema — unknown
#: stats are never pruned, only ever conservative).
SNAPSHOT_ARROW_SCHEMA = pa.schema(
    [
        ("snapshot_id", pa.int64()),
        ("part_key", pa.int32()),
        ("run_id", pa.string()),
        ("committed_at", pa.timestamp("us", tz="UTC")),
        ("operation", pa.string()),
        ("stats", pa.string()),
    ]
)
SNAPSHOT_SCHEMA = from_arrow_schema(SNAPSHOT_ARROW_SCHEMA)


def snapshots_path(sink: str) -> str:
    return os.path.join(sink, "_snapshots")


def run_data_path(sink: str, run_id: str) -> str:
    return os.path.join(data_path(sink), f"run={run_id}")


def write_run_data(df: DataFrame, sink: str, run_id: str) -> None:
    """Write one run's output as immutable bucket-partitioned files under
    its own run directory. mode=overwrite makes a retried run idempotent
    (the retry owns the whole dir); nothing is readable until commit."""
    df.write.mode("overwrite").option("compression", SINK_CODEC).partitionBy(
        "part_key"
    ).parquet(run_data_path(sink, run_id))


# perfbench/driver.py spans ``storage.write_data`` by name, so the name
# stays, bound to the run-scoped writer: the only data write left.
write_data = write_run_data


_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"
_MARKER = ".commit-"


def _run_buckets(run_dir: str) -> list[int]:
    """The part_keys a run directory holds ([] when it has none)."""
    if not os.path.isdir(run_dir):
        return []
    return sorted(
        int(n.split("=", 1)[1]) for n in os.listdir(run_dir) if n.startswith("part_key=")
    )


def _run_schema(sink: str, run_id: str) -> StructType | None:
    """One run's schema, read on the driver from the footer of one data
    file (None when the run has no bucket). Spark stores its own row
    schema in every footer it writes, so the types are exactly what
    ``spark.read.parquet`` would infer with a Spark job; the bucket
    directories add ``part_key`` as partition discovery types it."""
    run_dir = run_data_path(sink, run_id)
    keys = _run_buckets(run_dir)
    if not keys:
        return None
    bucket = os.path.join(run_dir, f"part_key={keys[0]}")
    name = min(n for n in os.listdir(bucket) if not n.startswith(("_", ".")))
    footer = pq.read_schema(os.path.join(bucket, name))
    data = StructType.fromJson(json.loads(footer.metadata[_SPARK_ROW_METADATA]))
    return StructType([*data.fields, StructField("part_key", IntegerType())])


def _read_run(spark: SparkSession, sink: str, run_id: str) -> DataFrame:
    """One run directory as a DataFrame with its footer schema; a run
    without buckets (or without a directory) is left to Spark."""
    schema = _run_schema(sink, run_id)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(run_data_path(sink, run_id))


def _highest_claimed_id(sink: str) -> int:
    """The highest snapshot id a ``.commit-N`` marker claims (0 when none).
    Markers outlive the manifest rows they guarded — ``expire_snapshots``
    carries the highest forward — so a new id is never one used before."""
    try:
        names = os.listdir(snapshots_path(sink))
    except FileNotFoundError:
        return 0
    return max(
        (int(n[len(_MARKER):]) for n in names if n.startswith(_MARKER)), default=0
    )


def _manifest(sink: str) -> list[dict]:
    """Every manifest row of ``sink`` ([] when nothing is committed).
    ``expire_snapshots`` swaps the manifest directory with two renames;
    a crash between them leaves no ``_snapshots`` but a complete
    ``_snapshots.tmp`` (it was written before the first rename), so the
    read rolls the swap forward instead of seeing an empty table."""
    path = snapshots_path(sink)
    if not os.path.isdir(path) and os.path.isdir(path + ".tmp"):
        try:
            os.rename(path + ".tmp", path)
        except FileNotFoundError:
            pass  # a concurrent reader rolled it forward first
    return _read_rows(path, SNAPSHOT_ARROW_SCHEMA)


def _snapshot_rows(sink: str, snapshot_id: int | None = None) -> list[dict]:
    """The manifest rows of one snapshot (latest when None); raises when
    nothing is committed or ``snapshot_id`` is not in the manifest."""
    rows = _manifest(sink)
    if not rows:
        raise FileNotFoundError(f"no committed snapshot in {sink}")
    if snapshot_id is None:
        snapshot_id = max(r["snapshot_id"] for r in rows)
    rows = [r for r in rows if r["snapshot_id"] == snapshot_id]
    if not rows:
        raise ValueError(f"snapshot {snapshot_id} not found in {sink}")
    return rows


def run_id_committed(spark: SparkSession, sink: str, run_id: str) -> bool:
    """True when a published snapshot references ``run_id`` — its data
    dir is then IMMUTABLE (overwriting it would corrupt committed
    reads)."""
    return any(r["run_id"] == run_id for r in _manifest(sink))


def latest_snapshot_id(spark: SparkSession, sink: str) -> int | None:
    """Highest committed snapshot id, or None when nothing is committed."""
    return max((r["snapshot_id"] for r in _manifest(sink)), default=None)


def list_snapshots(spark: SparkSession, sink: str) -> DataFrame | None:
    by_id: dict[int, list[dict]] = {}
    for r in _manifest(sink):
        by_id.setdefault(r["snapshot_id"], []).append(r)
    if not by_id:
        return None
    return spark.createDataFrame(
        [
            (
                sid,
                max(r["committed_at"] for r in rows),
                len(rows),
                len({r["run_id"] for r in rows}),
                max(
                    (r["operation"] for r in rows if r["operation"]),
                    default="overwrite",
                ),
            )
            for sid, rows in sorted(by_id.items())
        ],
        "snapshot_id long, committed_at timestamp, n_buckets long, n_runs long, "
        "operation string",
    )


def _check_schema_compatible(sink, new_schema, what: str) -> None:
    """Iceberg's schema enforcement at the WRITE point: a shared column
    whose type differs from the live snapshot's raises here (one writer
    sees a clear error) instead of poisoning a future reader's union.
    Added/missing columns stay legal (add-column evolution). The live
    types come from the footers of the live runs, as their union reads
    them (first run by id wins a name) — no Spark job."""
    try:
        live = _snapshot_rows(sink)
    except FileNotFoundError:
        return  # first commit: nothing to conflict with
    live_types: dict = {}
    for rid in sorted({r["run_id"] for r in live}):
        for f in (_run_schema(sink, rid) or StructType()).fields:
            live_types.setdefault(f.name, f.dataType)
    conflicts = [
        f"{f.name}: {live_types[f.name].simpleString()} -> "
        f"{f.dataType.simpleString()}"
        for f in new_schema.fields
        if f.name in live_types and f.dataType != live_types[f.name]
    ]
    if conflicts:
        raise ValueError(
            f"{what} changes column types vs the live snapshot "
            f"({'; '.join(conflicts)}) — rewrite or cast; "
            "only add-column evolution is supported"
        )


def commit_snapshot(
    spark: SparkSession,
    sink: str,
    run_id: str,
    operation: str = "overwrite",
    stats_cols: list[str] | None = None,
) -> int:
    """Publish ``run_id``'s buckets as a new snapshot: its buckets replace
    the parent snapshot's mapping for the same keys; untouched buckets
    carry forward. Returns the new snapshot id (parent+1, starting at 1).

    ``operation`` is recorded on the manifest rows (Iceberg's snapshot
    summary operation): 'overwrite' (default) REPLACES the buckets this
    run touches; 'append' ADDS this run's rows alongside the parent's
    (touched buckets become multi-run — the streaming micro-batch
    commit; an overwrite or compaction later normalizes them); 'replace'
    is the layout-only rewrite (compaction) — incremental readers skip
    'replace' snapshots because their data is unchanged.

    ``stats_cols`` asks the commit to record per-bucket min/max of those
    columns in the manifest (Iceberg's manifest column stats) so
    ``read_snapshot(where=...)`` can skip whole buckets without opening a
    file. Real Iceberg harvests these from parquet footers for free; here
    they cost one column-pruned scan of the new run at commit time —
    carried-forward buckets keep the stats of the commit that wrote them.
    Intended for numeric/string sort-ish keys; a commit without stats
    leaves the column NULL (never pruned, always correct).

    Commits enforce Iceberg's schema compatibility: a shared column whose
    TYPE differs from the live snapshot's fails here (fail fast, one
    writer) instead of at some future reader's union; added and missing
    columns remain legal (add-column evolution, NULL-filled)."""
    run_schema = _run_schema(sink, run_id) or StructType()
    _check_schema_compatible(sink, run_schema, f"run {run_id}")
    if stats_cols:
        run_df = _read_run(spark, sink, run_id)
        per_col = [
            F.struct(
                F.min(c).alias("min"), F.max(c).alias("max")
            ).alias(c)
            for c in stats_cols
        ]
        new_stats = {
            r["part_key"]: r["stats"]
            for r in run_df.groupBy("part_key")
            .agg(F.to_json(F.struct(*per_col)).alias("stats"))
            .collect()
        }
    else:
        # partition-column only: the run's part_key= directory names
        new_stats = dict.fromkeys(_run_buckets(run_data_path(sink, run_id)))
    # Optimistic concurrency on the snapshot id: an O_EXCL marker file
    # arbitrates each id, so two concurrent committers can never both
    # publish rows under the same snapshot_id (which would make that
    # snapshot's mapping a union of two runs — duplicate rows per bucket).
    # The loser recomputes its parent and retries with the next id. This is
    # the local-FS stand-in for Iceberg's catalog compare-and-swap (same
    # substitution seam as the module docstring); single-writer-per-sink
    # remains the supported production mode.
    last_err: OSError | None = None
    snap_id = 0
    for _ in range(64):
        rows = _manifest(sink)
        parent_id = max((r["snapshot_id"] for r in rows), default=0)
        parent = [r for r in rows if r["snapshot_id"] == parent_id]
        # Iceberg append: ADD this run's files to the table — the parent's
        # whole mapping carries forward, touched buckets become multi-run
        # (readers union; a later overwrite or compaction normalizes them
        # back to one run per bucket). Otherwise touched buckets are replaced.
        carried = [
            r for r in parent if operation == "append" or r["part_key"] not in new_stats
        ]
        stats = new_stats
        if operation == "replace" and not stats_cols:
            # a 'replace' commit rewrites layout over byte-identical data,
            # so the parent's per-bucket stats still describe the new files
            # — inherit them instead of nulling (compaction must not
            # degrade data skipping); a data commit never inherits.
            # Append-committed buckets carry one stats row PER RUN; the
            # rewritten bucket holds their union, so merge the fragments
            # (min-of-mins / max-of-maxes — exact over the union).
            frag: dict[int, list] = {}
            for r in parent:
                frag.setdefault(r["part_key"], []).append(r["stats"])
            stats = {k: _merge_fragment_stats(frag.get(k)) for k in new_stats}
        # probe FORWARD past claimed ids: a marker whose manifest file never
        # landed (crashed committer) must not pin the retry loop to one id,
        # and a marker that outlived its expired snapshot must not hand its
        # id out again — ids may skip, exactly as Iceberg burns ids on
        # failed commits, but are never reused
        snap_id = max(parent_id, snap_id, _highest_claimed_id(sink)) + 1
        # only after _manifest: an empty _snapshots/ would block its roll-forward
        os.makedirs(snapshots_path(sink), exist_ok=True)
        marker = os.path.join(snapshots_path(sink), f"{_MARKER}{snap_id}")
        try:
            os.close(os.open(marker, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
        except FileExistsError as err:
            last_err = err  # id taken (possibly in-flight): recompute parent
            continue
        stamp = {
            "snapshot_id": snap_id,
            "committed_at": datetime.datetime.now(datetime.timezone.utc),
            "operation": operation,
        }
        mapping = [{**r, **stamp} for r in carried] + [
            {"part_key": k, "run_id": run_id, "stats": s, **stamp}
            for k, s in sorted(stats.items())
        ]
        table = pa.Table.from_pylist(mapping, schema=SNAPSHOT_ARROW_SCHEMA)
        _publish(table, snapshots_path(sink))
        return snap_id
    raise RuntimeError(
        f"could not claim a snapshot id in {sink} after 64 attempts"
    ) from last_err


def _merge_fragment_stats(stats_list) -> str | None:
    """Union per-bucket fragment stats (one fragment per run of an
    append-committed bucket). Any unknown fragment → NULL (conservative);
    a column must be present and non-null in EVERY fragment to survive —
    min-of-mins / max-of-maxes is then exact over the union'd rows."""
    if not stats_list or any(not s for s in stats_list):
        return None
    try:
        dicts = [json.loads(s) for s in stats_list]
    except ValueError:
        return None
    cols = set(dicts[0])
    for d in dicts[1:]:
        cols &= set(d)
    out = {}
    for c in sorted(cols):
        mins = [d[c].get("min") for d in dicts]
        maxs = [d[c].get("max") for d in dicts]
        if any(v is None for v in mins + maxs):
            continue
        try:
            out[c] = {"min": min(mins), "max": max(maxs)}
        except TypeError:
            continue  # cross-typed fragments: drop the column
    return json.dumps(out) if out else None


def _stats_may_match(stats_json, where) -> bool:
    """Iceberg's manifest evaluator, bucket-granular: False ONLY when the
    recorded [min, max] of the predicate column provably excludes the
    range — missing/NULL/unparseable/cross-typed stats keep the bucket
    (pruning is an optimization, never a correctness lever)."""
    col, lo, hi = where
    if not stats_json:
        return True
    try:
        st = json.loads(stats_json).get(col)
        if not st or st.get("min") is None or st.get("max") is None:
            return True
        if lo is not None and st["max"] < lo:
            return False
        if hi is not None and st["min"] > hi:
            return False
    except (ValueError, TypeError):
        return True  # NaN tokens, cross-type compare: unknown → keep
    return True


def read_snapshot(
    spark: SparkSession,
    sink: str,
    snapshot_id: int | None = None,
    where: tuple | None = None,
) -> DataFrame:
    """Manifest-driven read of one snapshot (latest when None) — the time-
    travel read. Only the run dirs the manifest names are opened, each
    pruned to the buckets the snapshot maps to it.

    ``where=(col, lo, hi)`` (either bound None = unbounded) additionally
    skips every bucket whose manifest stats prove no row can match — the
    data-skipping read: at 10^12 rows a range probe on a stats-tracked
    column opens only the overlapping buckets' files. The residual row
    filter is applied either way, so the result is exactly the rows
    matching the predicate whether or not stats exist."""
    rows = _snapshot_rows(sink, snapshot_id)
    kept = [
        (r["run_id"], r["part_key"])
        for r in rows
        if where is None or _stats_may_match(r["stats"], where)
    ]
    if not kept:  # every bucket pruned: empty result, live schema
        full = _read_mapping(
            spark, sink, [(r["run_id"], r["part_key"]) for r in rows]
        )
        out = full.filter(F.lit(False))
    else:
        out = _read_mapping(spark, sink, kept)
    if where is not None:
        col, lo, hi = where
        if lo is not None:
            out = out.filter(F.col(col) >= lo)
        if hi is not None:
            out = out.filter(F.col(col) <= hi)
    return out


def _read_mapping(spark: SparkSession, sink: str, pairs: list[tuple[str, int]]):
    """Union of pruned per-run reads for (run_id, part_key) pairs — only
    the named run dirs open, each filtered to its buckets (partition
    prune on the directory column)."""
    by_run: dict[str, list[int]] = {}
    for rid, key in pairs:  # one small row per bucket, driver-side
        by_run.setdefault(rid, []).append(key)
    parts = []
    for rid, keys in sorted(by_run.items()):
        df = _read_run(spark, sink, rid)
        parts.append(df.filter(F.col("part_key").isin(keys)))
    out = parts[0]
    for p in parts[1:]:
        # allowMissingColumns = add-column schema evolution (Iceberg's
        # default evolution mode): runs committed before a column existed
        # read back with NULL in it; a snapshot whose runs all predate the
        # column keeps the old schema (its union never sees the column)
        out = out.unionByName(p, allowMissingColumns=True)
    return out


def read_incremental(
    spark: SparkSession,
    sink: str,
    since_snapshot_id: int,
    to_snapshot_id: int | None = None,
) -> DataFrame:
    """Incremental scan (Iceberg's changes-since-snapshot): the rows of
    every bucket whose DATA changed in (since, to], read at ``to``'s
    mapping. The hourly-ingest consumer pattern at 100 TB — process only
    what moved, never rescan history.

    A bucket counts as changed when a non-'replace' snapshot in the range
    remapped it (data commits overwrite whole buckets — bucket is the
    change granule, exactly the resume granule). 'replace' snapshots
    (compaction) rewrite every bucket's files without changing data and
    are skipped, so compacting never re-emits the table downstream; rows
    from old manifests without the operation column count as data commits.
    A bucket changed twice in the range is emitted once, at ``to`` state.
    Raises when ``since`` was expired — the delta base is gone and a full
    re-read is the only correct answer (same contract as Iceberg)."""
    rows = _manifest(sink)
    if not rows:
        raise FileNotFoundError(f"no committed snapshot in {sink}")
    ids = sorted({r["snapshot_id"] for r in rows})
    if to_snapshot_id is None:
        to_snapshot_id = ids[-1]
    if since_snapshot_id != 0 and since_snapshot_id not in ids:
        raise ValueError(
            f"snapshot {since_snapshot_id} not in {sink} (expired?) — "
            "incremental base is gone, do a full read_snapshot instead"
        )
    if to_snapshot_id not in ids:
        raise ValueError(f"snapshot {to_snapshot_id} not found in {sink}")
    if since_snapshot_id > to_snapshot_id:
        # reject the inverted range loudly, like the other validation
        # paths — a silently-empty delta here reads as "nothing changed"
        raise ValueError(
            f"inverted incremental range: since={since_snapshot_id} > "
            f"to={to_snapshot_id}"
        )
    # set-valued mapping: append commits make a bucket span several runs
    mapping: dict[int, dict[int, set]] = {}
    ops: dict[int, str] = {}
    for r in rows:
        mapping.setdefault(r["snapshot_id"], {}).setdefault(
            r["part_key"], set()
        ).add(r["run_id"])
        ops[r["snapshot_id"]] = r["operation"] or "overwrite"
    changed: set[int] = set()
    prev: dict[int, set] = mapping.get(since_snapshot_id, {})
    for sid in ids:
        if sid <= since_snapshot_id:
            continue
        if sid > to_snapshot_id:
            break
        cur = mapping[sid]
        if ops[sid] != "replace":
            changed.update(
                k for k, rids in cur.items() if prev.get(k) != rids
            )
        prev = cur
    to_map = mapping[to_snapshot_id]
    pairs = [
        (rid, k)
        for k in sorted(changed)
        if k in to_map
        for rid in sorted(to_map[k])
    ]
    if not pairs:
        live = read_snapshot(spark, sink, to_snapshot_id)
        return live.filter(F.lit(False))  # empty, same schema
    return _read_mapping(spark, sink, pairs)


def merge_upsert(
    spark: SparkSession,
    sink: str,
    updates: DataFrame,
    key_cols: list[str],
) -> int:
    """Row-level MERGE INTO the live snapshot (Iceberg MERGE analogue,
    copy-on-write): rows in ``updates`` replace live rows with equal
    ``key_cols``; unmatched keys insert. ``updates`` must carry
    ``part_key`` under the table's own bucketing and be unique per key
    (enforce upstream — the last-writer of a duplicate key is undefined),
    and keys must be non-null (SQL null-equality would silently duplicate).

    Only the buckets ``updates`` touches are rewritten: their live rows
    read back (pruned per-run), survivors anti-joined against the update
    keys, and the union committed as one new run — every untouched
    bucket's files carry forward in the manifest without being opened.
    At 10^12 rows a merge costs O(touched buckets + updates), not a
    table rewrite; the anti-join broadcasts whenever updates are small.
    New columns in ``updates`` widen the table (add-column evolution);
    old rows read back NULL in them."""
    live_rows = _snapshot_rows(sink)
    # fail with the write-point error BEFORE the union would raise a raw
    # Spark type error mid-merge
    _check_schema_compatible(sink, updates.schema, "merge updates")
    # set-valued: an append-committed bucket spans several runs and ALL
    # of them must be read back, or the merge would drop the other runs'
    # rows when it rewrites the bucket
    to_map: dict[int, set] = {}
    for r in live_rows:
        to_map.setdefault(r["part_key"], set()).add(r["run_id"])
    touched = sorted(
        r["part_key"] for r in updates.select("part_key").distinct().collect()
    )
    pairs = [
        (rid, k) for k in touched if k in to_map for rid in sorted(to_map[k])
    ]
    if pairs:
        live = _read_mapping(spark, sink, pairs)
        survivors = live.join(
            updates.select(*key_cols).distinct(), key_cols, "left_anti"
        )
        merged = survivors.unionByName(updates, allowMissingColumns=True)
    else:
        merged = updates
    rid = "merge-" + uuid.uuid4().hex[:10]
    write_run_data(merged, sink, rid)
    return commit_snapshot(spark, sink, rid)


def compact_snapshot(
    spark: SparkSession,
    sink: str,
    files_per_bucket: int = 1,
    sort_by: list[str] | None = None,
) -> int:
    """Rewrite the live snapshot into one fresh run with ``files_per_bucket``
    files per bucket (small-file compaction — resume-heavy tables accrete a
    file per retried run) and commit it as a new snapshot covering every
    bucket. Data is byte-identical; only layout changes. Manifest stats
    survive: the 'replace' commit inherits the parent's per-bucket min/max
    (still exact over identical data), so data skipping never degrades
    across compactions.

    ``sort_by`` additionally sorts rows within each output partition
    (Iceberg's sort-order rewrite): parquet row groups then carry tight
    min/max on those columns, so engine-level predicate pushdown skips
    row groups INSIDE the files our manifest couldn't prune."""
    live = read_snapshot(spark, sink)
    rid = "compact-" + uuid.uuid4().hex[:10]
    # repartition(N, key) sets the TOTAL partition count — N must scale
    # with the number of live buckets or the whole table funnels through
    # files_per_bucket tasks (one, by default: zero parallelism and an
    # executor-memory ceiling). One hash partition per target file; the
    # deterministic sub-key spreads a bucket over files_per_bucket
    # partitions when >1 file per bucket is requested (hash-partitioning
    # on part_key alone can never split a bucket). File counts are
    # approximate under hash collisions — compaction bounds smallness, it
    # doesn't promise exact counts.
    n_buckets_live = len({r["part_key"] for r in _snapshot_rows(sink)})
    # schema-agnostic deterministic sub-key (whole-row hash)
    spread = F.pmod(
        F.xxhash64(*[F.col(c) for c in live.columns]), F.lit(files_per_bucket)
    )
    out = live.repartition(n_buckets_live * files_per_bucket, F.col("part_key"), spread)
    if sort_by:
        out = out.sortWithinPartitions("part_key", *sort_by)
    (
        out.write.mode("overwrite")
        .option("compression", SINK_CODEC)
        .partitionBy("part_key")
        .parquet(run_data_path(sink, rid))
    )
    return commit_snapshot(spark, sink, rid, operation="replace")


def expire_snapshots(spark: SparkSession, sink: str, keep_last: int = 1) -> list[str]:
    """Drop all but the newest ``keep_last`` snapshots and delete run
    directories no surviving snapshot references. Returns removed run ids."""
    rows = _manifest(sink)
    if not rows:
        return []
    ids = sorted({r["snapshot_id"] for r in rows})
    # keep_last=0 means drop everything: [-0:] would slice the WHOLE list
    keep_ids = set(ids[-keep_last:]) if keep_last > 0 else set()
    kept = [r for r in rows if r["snapshot_id"] in keep_ids]
    dead = sorted({r["run_id"] for r in rows} - {r["run_id"] for r in kept})
    # rewrite the manifest first (the commit point of expiry), then GC data.
    # Swap via two renames, not rmtree-then-rename: the old manifest stays
    # intact (under .old) until the new one is live, so the widest crash
    # window loses at most the EXPIRY, never the manifest itself — a crash
    # between the renames leaves .tmp (complete) and .old (complete), and
    # the next ``_manifest`` read rolls .tmp forward. Local-FS calls are
    # the same substitution seam as the rest of this module (real Iceberg
    # swaps via the catalog).
    # The highest id marker moves with the manifest, so a commit after
    # expiring everything still numbers past every id ever handed out.
    tmp = snapshots_path(sink) + ".tmp"
    old = snapshots_path(sink) + ".old"
    shutil.rmtree(tmp, ignore_errors=True)  # a crash before the 1st rename
    _publish(pa.Table.from_pylist(kept, schema=SNAPSHOT_ARROW_SCHEMA), tmp)
    claimed = _highest_claimed_id(sink)
    if claimed:
        marker = os.path.join(tmp, f"{_MARKER}{claimed}")
        os.close(os.open(marker, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
    shutil.rmtree(old, ignore_errors=True)  # leftover from a prior crash
    os.rename(snapshots_path(sink), old)
    os.rename(tmp, snapshots_path(sink))
    shutil.rmtree(old)
    for rid in dead:
        shutil.rmtree(run_data_path(sink, rid), ignore_errors=True)
    return dead


def bucket_spec_path(sink: str) -> str:
    return os.path.join(sink, "_bucket_spec.json")


def read_bucket_spec(sink: str) -> dict | None:
    try:
        with open(bucket_spec_path(sink)) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return None


def ensure_bucket_spec(
    sink: str,
    n_buckets: int,
    bucket_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
) -> dict:
    """Pin the sink's bucketing (Iceberg's partition spec): created on
    first write, validated on every later one. Without this a resume
    under a different ``spark.sql.shuffle.partitions`` silently derives a
    different default bucket count — rows re-bucket, partial-run bucket
    REPLACEMENT then leaves stale rows in buckets the new run didn't
    claim. Conflicts fail fast at the writer; spec evolution = rewrite
    the table (exactly Iceberg's rule for changing bucket counts)."""
    spec = read_bucket_spec(sink)
    if spec is None:
        spec = {
            "n_buckets": int(n_buckets),
            "bucket_cols": list(bucket_cols),
            "bucket_fn": "pmod(xxhash64(bucket_cols), n_buckets)",
        }
        os.makedirs(sink, exist_ok=True)
        # atomic publish: write the spec to a private temp file, then
        # os.link it into place. link(2) fails with EEXIST if another
        # writer won, so exactly one first-writer pins the spec AND the
        # published file is always complete — the loser's read below can
        # never observe a half-written JSON (the old O_EXCL-then-write
        # scheme had that window).
        tmp = bucket_spec_path(sink) + f".tmp.{os.getpid()}"
        with open(tmp, "w") as fh:
            json.dump(spec, fh, indent=2)
        try:
            os.link(tmp, bucket_spec_path(sink))
        except FileExistsError:
            spec = read_bucket_spec(sink)  # lost the race: validate below
        else:
            os.unlink(tmp)
            return spec
        finally:
            if os.path.exists(tmp):
                os.unlink(tmp)
    if int(spec["n_buckets"]) != int(n_buckets) or list(
        spec.get("bucket_cols", [])
    ) != list(bucket_cols):
        raise ValueError(
            f"sink {sink} is bucketed as {spec['n_buckets']} × "
            f"{spec.get('bucket_cols')}; this run asked for {n_buckets} × "
            f"{list(bucket_cols)} — pass the recorded spec (or omit "
            "n_buckets to adopt it); re-bucketing requires a table rewrite"
        )
    return spec


def remove_orphan_runs(
    spark: SparkSession, sink: str, min_age_s: float = 3600.0
) -> list[str]:
    """Delete run directories no manifest row references (Iceberg's
    remove-orphan-files maintenance): a writer that crashed between
    ``write_run_data`` and ``commit_snapshot`` leaves a data dir that is
    invisible to every reader — correct, but paying storage forever at
    10^12-row scale. ``expire_snapshots`` can't see these (it walks the
    manifest); this walks the data dir instead. ``min_age_s`` (directory
    mtime) guards the race against a writer that is mid-commit right
    now — production callers keep a generous grace window."""
    referenced = {r["run_id"] for r in _manifest(sink)}
    removed: list[str] = []
    root = data_path(sink)
    if not os.path.isdir(root):
        return removed
    now = time.time()
    for name in sorted(os.listdir(root)):
        if not name.startswith("run="):
            continue
        rid = name[len("run="):]
        full = os.path.join(root, name)
        if rid in referenced or not os.path.isdir(full):
            continue
        if now - os.path.getmtime(full) < min_age_s:
            continue  # possibly an in-flight writer: not yet an orphan
        shutil.rmtree(full, ignore_errors=True)
        removed.append(rid)
    return removed


def write_bucketed_table(
    df: DataFrame,
    table: str,
    path: str,
    key: str = "doc_id",
    n_buckets: int = 64,
) -> None:
    """Bucketed + sorted data-source table (no Hive needed): two tables
    bucketed on the same key join with ZERO Exchange — the co-located
    join the 100 TB dedup/similarity passes need so the wide corpus
    never reshuffles. Iceberg analogue: write-distribution + sort order
    on the same key (same seam as the rest of this module)."""
    (
        df.write.mode("overwrite")
        .option("path", path)
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .format("parquet")
        .saveAsTable(table)
    )
