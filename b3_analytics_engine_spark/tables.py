"""Fixture-table loading and temp-view registration.

All queries in the registry take ``(spark, sf_dir)`` and resolve tables
through here, so the same query code runs against any scale factor —
or, in production, against a partitioned data-lake path — without
change.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .schemas import FIXTURE_TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SMOKE_SF_DIR = "/root/testdata/sf0.001"
ORACLE_SF_DIR = "/root/testdata/sf0.01"


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


_PYFILES_SESSIONS: set[int] = set()


def _ensure_workers_can_import(spark: SparkSession) -> None:
    """Ship this package to Python workers via ``addPyFile`` once per
    session.

    The Arrow-path operators (mapInPandas/applyInPandas) pickle their
    module functions BY REFERENCE, so every worker must be able to
    ``import b3_analytics_engine_spark``. When the driver process runs
    from the repo directory (tests, bench, the grading driver) that
    works through ``sys.path[0]`` — but a driver launched from any
    other cwd without PYTHONPATH would fail ONLY on the UDF queries,
    an environment-shaped failure worth closing structurally. The zip
    is rebuilt per driver process (pid-suffixed), so workers can never
    pick up a stale copy from an earlier run.
    """
    key = id(spark)
    if key in _PYFILES_SESSIONS:
        return
    import tempfile
    import zipfile

    pkg_root = os.path.dirname(os.path.abspath(__file__))
    zpath = os.path.join(
        tempfile.gettempdir(), f"b3aes_pkg_{os.getpid()}.zip"
    )
    if not os.path.exists(zpath):
        with zipfile.ZipFile(zpath, "w") as zf:
            for dirpath, _dirnames, filenames in os.walk(pkg_root):
                for fn in filenames:
                    if not fn.endswith(".py"):
                        continue
                    full = os.path.join(dirpath, fn)
                    rel = os.path.join(
                        "b3_analytics_engine_spark",
                        os.path.relpath(full, pkg_root),
                    )
                    zf.write(full, rel)
    spark.sparkContext.addPyFile(zpath)
    _PYFILES_SESSIONS.add(key)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table.

    We intentionally do NOT pass an explicit read schema: the Parquet
    footer already carries exact types, and letting Spark use it keeps
    the vectorized reader + column pruning on the fast path. The
    declared schemas in ``schemas.FIXTURE_SCHEMAS`` are contracts used
    by tests to detect fixture drift.
    """
    if name not in FIXTURE_TABLES:
        raise KeyError(f"unknown fixture table {name!r}; known: {FIXTURE_TABLES}")
    _ensure_workers_can_import(spark)
    if name == "events":
        # The events fixture has shipped with three physical layouts
        # for ``ts``: TIMESTAMP(NANOS) — which Spark's vectorized
        # Parquet reader rejects unless the legacy nanosAsLong conf is
        # on, so the read is retried with it set, but ONLY when the
        # failure is the nanos schema-conversion error (missing path /
        # corrupt footer re-raise untouched) — plain µs TIMESTAMP
        # (current driver testdata), and TIMESTAMP_NTZ, which is
        # pinned to session-UTC timestamp so window arithmetic and the
        # DuckDB oracle agree. Any other ts type is fixture drift and
        # raises instead of silently casting to nulls. Caveat: the
        # conf must stay set after a successful retry (the scan
        # consults it again at execution time), and it is session-
        # wide, so after an events nanos retry any OTHER nanos-typed
        # table would read ts as raw long — the typeName dispatch
        # below converts that long explicitly rather than trusting
        # the column type.
        path = table_path(sf_dir, name)
        try:
            df = spark.read.parquet(path)
        except Exception as e:
            msg = str(e)
            # Retry ONLY on the specific nanos schema-conversion error
            # ("Illegal Parquet type: INT64 (TIMESTAMP(NANOS,...))") —
            # an unrelated failure that merely mentions NANOS must not
            # flip the session-wide nanosAsLong conf.
            if "Illegal Parquet type" not in msg or "TIMESTAMP(NANOS" not in msg:
                raise
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            df = spark.read.parquet(path)
        ts_type = df.schema["ts"].dataType.typeName()
        if ts_type == "long":
            return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        if ts_type == "timestamp_ntz":
            return df.withColumn("ts", F.col("ts").cast("timestamp"))
        if ts_type != "timestamp":
            raise TypeError(
                f"events.ts has unexpected type {ts_type!r} — fixture "
                "schema drift; refusing to cast silently"
            )
        return df
    return spark.read.parquet(table_path(sf_dir, name))


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = FIXTURE_TABLES
) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}
