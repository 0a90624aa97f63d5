"""Shared operator utilities: the multi-consumer materialization policy.

One function, one policy, one place to change it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

__all__ = ["materialize"]


def _storage_level() -> StorageLevel:
    """Cluster-tunable without code changes (e.g. MEMORY_AND_DISK_2
    to survive single-executor loss without ANY recompute)."""
    name = os.environ.get("B3_MATERIALIZE_LEVEL", "MEMORY_AND_DISK")
    return getattr(StorageLevel, name)


def materialize(df: DataFrame) -> DataFrame:
    """Compute-once marker for a frame that feeds MULTIPLE
    differently-keyed consumers.

    When one DataFrame fans out to consumers whose downstream
    exchanges hash on different keys, ``ReuseExchange`` never fires
    and Catalyst replays the whole shared subplan — including the raw
    corpus scan — once per consumer (`tools/scan_audit.py` measures
    this; `psi_drift`'s plan held EIGHT parquet scans before round 7's
    fix). Marking the shared frame makes every consumer read an
    ``InMemoryTableScan`` over one cached computation.

    Backed by ``persist(MEMORY_AND_DISK)`` rather than
    ``localCheckpoint``, deliberately: both give the identical
    scan-once physical shape (asserted by ``tests/test_scan_audit``),
    but ``localCheckpoint`` stores non-replicated blocks AND severs
    lineage, so on a real cluster (dynamic allocation, spot
    executors — the 100 TB deployment target) losing one executor
    makes the frame unrecoverable and fails the query. ``persist``
    keeps lineage: a lost block is recomputed from source and the
    query finishes. Spark's own docs warn against ``localCheckpoint``
    under dynamic allocation for exactly this reason.

    ``localCheckpoint`` remains correct in TWO places only, where
    lineage truncation is the point, not a side effect: iterative
    loops whose plan would otherwise grow with the round count
    (``dedup.connected_components``, ``advanced.trade_pagerank``),
    and the JDBC CDC batch snapshot (``sources/jdbc.py``), where
    recompute-from-source would re-query the DB AFTER the watermark
    advanced and silently change the batch.

    Use as a postfix transform:  ``df.transform(materialize)``.

    Long-lived sessions must unpersist between pipeline runs —
    ``bench.unpersist_all`` (persisted RDDs +
    ``spark.catalog.clearCache()``) is the model.
    """
    return df.persist(_storage_level())
