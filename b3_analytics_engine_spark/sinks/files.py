"""File sinks (K1 Parquet lake, K2 JSON zones).

Layout upgrades vs the reference (SURVEY.md §1.3): the reference keys
objects by hand-built path strings; here the same layout is expressed
as partition columns so readers get partition PRUNING for free — the
40-day history scan touches 40 directories, not the whole lake.
"""

from __future__ import annotations

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
    (``streaming.pipeline.start_incremental``) does not call this: it
    stages the whole merged window and swaps it in with
    :func:`replace_directory`."""
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
