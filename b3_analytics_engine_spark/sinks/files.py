"""File sinks (K1 Parquet lake, K2 JSON zones).

Layout upgrades vs the reference (SURVEY.md §1.3): the reference keys
objects by hand-built path strings; here the same layout is expressed
as partition columns so readers get partition PRUNING for free — the
40-day history scan touches 40 directories, not the whole lake.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def write_parquet_lake(
    df: DataFrame,
    path: str,
    date_col: str | None = None,
    partition_cols: list[str] | None = None,
    mode: str = "append",
) -> None:
    """K1: Parquet write, optionally date-partitioned
    (raw zone `topic/YYYY/MM/DD/…`, reference
    ingestion_services/kafka_to_minio_raw/main.py:90-93)."""
    cols = list(partition_cols or [])
    if date_col is not None:
        df = (
            df.withColumn("year", F.date_format(date_col, "yyyy"))
            .withColumn("month", F.date_format(date_col, "MM"))
            .withColumn("day", F.date_format(date_col, "dd"))
        )
        cols = ["year", "month", "day", *cols]
    w = df.write.mode(mode)
    if cols:
        w = w.partitionBy(*cols)
    w.parquet(path)


def write_json_zone(
    df: DataFrame, path: str, partition_cols: list[str] | None = None,
    mode: str = "append",
) -> None:
    """K2: line-delimited JSON (processing zone keyed by symbol,
    reference include/tasks/data_processing.py:88-97 → partitionBy)."""
    w = df.write.mode(mode)
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.json(path)


def overwrite_warehouse(df: DataFrame, path: str, partition_cols: list[str] | None = None) -> None:
    """K3 analog for the Parquet warehouse: full overwrite of the
    table (the reference drops + recreates the Postgres table per
    minute). With ``partition_cols`` and the session's
    ``partitionOverwriteMode=dynamic``, only partitions present in
    ``df`` are replaced. The streaming merge
    (``streaming.pipeline.e2_micro_batch``) does not call this: it
    stages only the files a batch changes and commits them with
    :func:`commit_table` — O(batch + touched files) per batch; see
    ``e2_micro_batch`` for when it rewrites the whole window, and
    :func:`commit_table` for the ``_tail/`` and commit-record layout."""
    w = df.write.mode("overwrite")
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.parquet(path)


def write_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int = 16,
    id_col: str = "doc_id",
    salt: str = "0",
    mode: str = "overwrite",
) -> None:
    """Write a corpus as deterministically-shuffled training shards —
    the physical twin of :func:`~..operators.curation.shard_assignment`
    (which emits the auditable manifest for the SAME layout).

    One directory per shard (``shard=K/``), rows within each shard in
    hash order, with the ``pos`` column persisted so readers can audit
    the permutation. ONE shuffle total: shard/pos are computed inline
    (no join back to the manifest frame), the repartition on the shard
    id clusters rows for exactly ``n_shards`` write tasks, and the
    positional window rides that same distribution (Catalyst sees the
    clustering requirement already satisfied) — its per-partition sort
    is the only ordering work, never a global sort. Reruns/retries
    produce identical shard membership because the hash is a pure
    function of the row.
    """
    sharded_frame(df, n_shards, id_col, salt).write.mode(mode).partitionBy(
        "shard"
    ).parquet(path)


def sharded_frame(
    df: DataFrame,
    n_shards: int = 16,
    id_col: str = "doc_id",
    salt: str = "0",
) -> DataFrame:
    """The frame :func:`write_training_shards` persists — split out so
    plan tests can assert the single-Exchange shape directly."""
    from ..operators.curation import shard_hash

    w = Window.partitionBy("shard").orderBy("h", id_col)
    return (
        df.withColumn("h", shard_hash(id_col, salt))
        .withColumn("shard", F.pmod(F.col("h"), F.lit(n_shards)))
        .repartition(n_shards, "shard")
        .withColumn("pos", (F.row_number().over(w) - 1).cast("long"))
        .drop("h")
    )


def _hadoop_fs(spark, path: str):
    """(jvm, FileSystem, Path) triple for any scheme Spark can read."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    return jvm, p.getFileSystem(conf), p


def replace_directory(spark, tmp: str, path: str) -> None:
    """Swap a fully-written staging directory into place:
    ``path`` → ``path__old``, ``tmp`` → ``path``, delete ``path__old``.

    Unlike delete-then-rename, every crash point leaves a complete
    copy of the data on disk: before the first rename the old table is
    live; between the renames the old table is intact at ``path__old``
    (recovery = rename it back, or finish by renaming ``tmp`` in); after
    the second rename the new table is live. The only reader-visible
    gap is the instant between the two renames — callers that cannot
    tolerate even that must quiesce readers or use a table format with
    snapshot isolation (Delta/Iceberg).

    A leftover ``path__old`` from a PRIOR crashed swap is handled by
    state, not unconditionally: live dir present → the parking is
    stale (post-swap crash, live is newer) and is swept; live dir
    MISSING → the parking is the only copy (mid-swap crash) and is
    restored before this swap proceeds (found by the streaming
    warehouse crash test — the sweep used to delete the whole
    history). Callers that read ``path`` before staging must run
    :func:`recover_parked_directory` themselves.
    """
    jvm, fs, p = _hadoop_fs(spark, path)
    tmp_p = jvm.org.apache.hadoop.fs.Path(tmp)
    old = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "__old")
    if fs.exists(old):
        if fs.exists(p):
            # leftover from a crash AFTER a prior swap's second
            # rename: the live dir is the newer table — sweep it
            fs.delete(old, True)
        else:
            # a crash BETWEEN a prior swap's two renames parked the
            # ONLY copy of the table at ``__old`` — deleting it here
            # (the pre-fix behavior) destroyed the table. Restore it
            # first; the normal swap below re-parks it safely.
            if not fs.rename(old, p):
                raise IOError(
                    f"mid-swap recovery rename {old} -> {path} failed"
                )
    if fs.exists(p):
        if not fs.rename(p, old):
            raise IOError(f"rename {path} -> {old} failed")
    if not fs.rename(tmp_p, p):
        raise IOError(f"rename {tmp} -> {path} failed")
    fs.delete(old, True)


def recover_parked_directory(spark, path: str) -> bool:
    """Restore a directory parked by a crashed
    :func:`replace_directory`: a kill between its two renames leaves
    ``path`` missing with the last-committed copy at ``path__old``.
    Callers that READ ``path`` before their next swap (the streaming
    warehouse's history read, :func:`compact_parquet`'s size probe)
    must run this first — otherwise the missing path reads as
    "table never existed" and the only copy is later swept as a
    stale leftover. Post-swap stale parking (live dir present) is
    left alone; the next swap sweeps it. Returns True if a parked
    copy was restored."""
    jvm, fs, p = _hadoop_fs(spark, path)
    old = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "__old")
    if fs.exists(old) and not fs.exists(p):
        if not fs.rename(old, p):
            raise IOError(
                f"mid-swap recovery rename {old} -> {path} failed"
            )
        return True
    return False


def compact_parquet(
    spark,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    partition_cols: list[str] | None = None,
) -> int:
    """Small-files compaction: rewrite a Parquet directory into files
    of ~``target_file_bytes`` each. Streaming sinks and per-micro-batch
    appends (the reference writes one object per record,
    ingestion_services/kafka_to_minio_raw/main.py:90-101) accumulate
    thousands of tiny files; at 100 TB that turns every scan into a
    metadata storm (one task + one S3 GET per file). Periodic
    compaction is the standard fix (what Delta OPTIMIZE / Iceberg
    rewrite_data_files do — expressed here over plain Parquet).

    Sizing reads the actual on-disk bytes (sum of file sizes via the
    Hadoop FS API — works for any scheme Spark can read), then
    repartitions to ``ceil(bytes / target)`` into a staging dir and
    swaps it in via :func:`replace_directory` (every crash point keeps
    a complete copy of the data). Partitioned layouts keep their
    partition columns. Returns the file count written.
    """
    recover_parked_directory(spark, path)  # crashed prior swap
    _, fs, p = _hadoop_fs(spark, path)
    total = fs.getContentSummary(p).getLength()
    n_files = max(1, -(-total // target_file_bytes))  # ceil

    df = spark.read.parquet(path)
    tmp = path.rstrip("/") + "__compacting"
    writer = df.repartition(int(n_files)).write.mode("overwrite")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(tmp)

    replace_directory(spark, tmp, path)
    return int(n_files)


# ------------------------------------------------- table-file commits
#
# Layout of a table directory committed by :func:`commit_table`:
#
#   <path>/<name>.parquet      live data files (top level only)
#   <path>/_tail/              caller state committed with the data:
#                              Parquet rows plus the ``_state`` record
#   <path>/_staging/           the commit in flight, as one Spark write
#                              partitioned by ``STAGE_COL``:
#     _stage=data/             its data files
#     _stage=tail/             the next ``_tail/``
#     _commit                  the commit record (JSON), written as
#                              ``_commit.tmp`` and renamed into place,
#                              so a record that exists is complete
#
# So an E2 micro-batch writes its rows and its next tail in one job
# (``streaming.pipeline.e2_micro_batch``), and nothing is renamed
# before the record. The partition column is not in the files; a
# writer may also fill either directory with a plain write of its own.
# Readers must skip ``_``- and ``.``-prefixed paths, as Spark, pyarrow
# datasets and DuckDB's ``<path>/*.parquet`` glob do.

STAGING = "_staging"
TAIL = "_tail"
STAGE_COL = "_stage"
STAGED_DATA = f"{STAGE_COL}=data"
STAGED_TAIL = f"{STAGE_COL}=tail"
_STATE = "_state"
_RECORD = "_commit"


def subpath(path: str, *parts: str) -> str:
    return "/".join([path.rstrip("/"), *parts])


def data_files(spark, path: str) -> dict[str, int]:
    """The live data files of a table directory, name → size in
    bytes, in name order: its top-level files, less ``_``/``.``-
    prefixed ones."""
    _, fs, p = _hadoop_fs(spark, path)
    if not fs.exists(p):
        return {}
    found = {
        st.getPath().getName(): int(st.getLen())
        for st in fs.listStatus(p)
        if st.isFile() and not st.getPath().getName().startswith(("_", "."))
    }
    return dict(sorted(found.items()))


def _read_json(spark, path: str):
    """The JSON a record file holds, or None if there is none. Records
    are only ever complete (see :func:`commit_table`), so a read error
    propagates."""
    _, fs, p = _hadoop_fs(spark, path)
    if not fs.exists(p):
        return None
    inp = fs.open(p)
    try:
        return json.loads(bytes(inp.readAllBytes()).decode("utf-8"))
    finally:
        inp.close()


def _write_json(spark, path: str, obj) -> None:
    _, fs, p = _hadoop_fs(spark, path)
    out = fs.create(p, True)
    try:
        out.write(json.dumps(obj, sort_keys=True).encode("utf-8"))
    finally:
        out.close()


def table_state(spark, path: str):
    """The ``state`` of the last :func:`commit_table`, or None if the
    table has no committed ``_tail/``."""
    return _read_json(spark, subpath(path, TAIL, _STATE))


def commit_table(
    spark, path: str, add: dict[str, str], delete: list[str], state: dict
) -> None:
    """Commit what the caller wrote under ``<path>/_staging/``: each
    data file ``add`` names in ``_stage=data/`` becomes the top-level
    file it maps to, the files named in ``delete`` go, and
    ``_stage=tail/`` (with ``state`` as its ``_state`` record) replaces
    ``_tail/``.

    The commit point is the rename of ``_staging/_commit.tmp`` to
    ``_staging/_commit``: before it the stage is discarded, after it
    the commit is rolled forward (:func:`recover_table`), so a crash at
    any fs op leaves the pre- or the post-commit table once recovered.
    The names ``add`` maps to must be new to the table: a roll-forward
    tells done renames by name.

    Reader-visible window: the record is applied as deletes, then one
    rename per added file, then the ``_tail`` swap. A reader listing
    the table between the first delete and the last rename misses rows
    of the replaced files (or of the batch), and never sees a row
    twice. A commit that deletes nothing adds its files in one rename
    each; a one-file append is atomic to readers.
    """
    record = {"delete": sorted(delete), "add": sorted(add.items())}
    _write_json(spark, subpath(path, STAGING, STAGED_TAIL, _STATE), state)
    tmp = subpath(path, STAGING, _RECORD + ".tmp")
    _write_json(spark, tmp, record)
    jvm, fs, _ = _hadoop_fs(spark, path)
    hp = jvm.org.apache.hadoop.fs.Path
    if not fs.rename(hp(tmp), hp(subpath(path, STAGING, _RECORD))):
        raise IOError(f"rename {tmp} failed")
    _apply_record(spark, path, record)


def _apply_record(spark, path: str, record: dict) -> None:
    """Idempotent: every step checks whether it is already done."""
    jvm, fs, _ = _hadoop_fs(spark, path)
    hp = jvm.org.apache.hadoop.fs.Path
    for name in record["delete"]:
        q = hp(subpath(path, name))
        if fs.exists(q):
            fs.delete(q, False)
    for src, dst in record["add"]:
        q, d = hp(subpath(path, STAGING, STAGED_DATA, src)), hp(subpath(path, dst))
        if fs.exists(q):
            if not fs.rename(q, d):
                raise IOError(f"rename {src} -> {dst} failed")
        elif not fs.exists(d):
            raise IOError(f"committed file {src} is neither staged nor at {dst}")
    staged_tail = subpath(path, STAGING, STAGED_TAIL)
    if fs.exists(hp(staged_tail)):
        replace_directory(spark, staged_tail, subpath(path, TAIL))
    fs.delete(hp(subpath(path, STAGING)), True)


def recover_table(spark, path: str) -> None:
    """Bring a table directory to a committed state before reading it:
    restore a directory parked by a crashed :func:`replace_directory`,
    then roll a committed ``_staging/_commit`` record forward, or drop
    a stage that never reached its record."""
    recover_parked_directory(spark, path)
    jvm, fs, _ = _hadoop_fs(spark, path)
    stage = jvm.org.apache.hadoop.fs.Path(subpath(path, STAGING))
    if not fs.exists(stage):
        return
    record = _read_json(spark, subpath(path, STAGING, _RECORD))
    if record is None:
        fs.delete(stage, True)
    else:
        _apply_record(spark, path, record)
