#!/usr/bin/env python
"""Scale-visibility spot check (r16 verdict item 2).

sf0.1 is overhead-bound: the r16 8-core companion run showed per-query
32c/8c ratios ~1 almost everywhere, so shuffle/scan-level wins are
invisible to the bench. This tool builds a deterministic ~Nx fixture
under /tmp (documents x DOC_REP with per-replica token salting so
near-dup structure scales linearly instead of quadratically; lineitem/
orders x REL_REP with offset keys; events x EV_REP with offset users;
other tables copied). The heavy headline queries (QUERIES) are then
timed on it with bench.py's protocol by tools/profile_bench.py, once
per core count:

  python tools/scale_spotcheck.py build       # write the fixture
  SPARK_GRAFT_SF_DIR=/tmp/scale_fixture SPARK_GRAFT_CPUS=<cpus> \
      python tools/profile_bench.py <QUERIES>  # build prints the line

Committed artifact: plans/r17/scale_spotcheck.md (hand-assembled table).
"""

from __future__ import annotations

import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
DST = os.environ.get("SCALE_FIXTURE_DIR", "/tmp/scale_fixture")
DOC_REP = int(os.environ.get("DOC_REP", "16"))
REL_REP = int(os.environ.get("REL_REP", "8"))
EV_REP = int(os.environ.get("EV_REP", "8"))

# the heavy family: text/dedup (documents-bound), two lineitem joins,
# two events windows — the queries whose 100 TB behavior the bench
# cannot currently see
QUERIES = [
    "ngram_jaccard_pairs",
    "dedup_minhash_lsh",
    "dedup_minhash_cross",
    "containment_pairs",
    "decontaminate_fuzzy",
    "corpus_curation",
    "tfidf_topterms",
    "corpus_dedup_pipeline",
    "regional_revenue",
    "min_cost_supplier",
    "winsorized_stats",
    "asof_join",
]


def build() -> None:
    from pyspark.sql import functions as F

    spark = bench.session("scale-fixture-build")
    os.makedirs(DST, exist_ok=True)

    def rep_union(df, n, mutate):
        out = None
        for r in range(n):
            part = mutate(df, r)
            out = part if out is None else out.unionByName(part)
        return out

    d = spark.read.parquet(os.path.join(SRC, "documents.parquet"))
    # token-salt every replica (suffix every token with _r<k>) so
    # shingle/token sets are disjoint across replicas: the near-dup
    # pair structure replicates linearly, never quadratically
    docs = rep_union(
        d,
        DOC_REP,
        lambda df, r: df.select(
            (F.col("doc_id") + F.lit(r * 100_000_000)).alias("doc_id"),
            (
                F.col("text")
                if r == 0
                else F.regexp_replace("text", r"(\S+)", rf"$1_r{r}")
            ).alias("text"),
            *[c for c in df.columns if c not in ("doc_id", "text")],
        ),
    )
    docs.coalesce(8).write.mode("overwrite").parquet(
        os.path.join(DST, "documents.parquet")
    )

    li = spark.read.parquet(os.path.join(SRC, "lineitem.parquet"))
    rep_union(
        li,
        REL_REP,
        lambda df, r: df.withColumn(
            "l_orderkey", F.col("l_orderkey") + F.lit(r * 1_000_000_000)
        ),
    ).coalesce(16).write.mode("overwrite").parquet(
        os.path.join(DST, "lineitem.parquet")
    )
    od = spark.read.parquet(os.path.join(SRC, "orders.parquet"))
    rep_union(
        od,
        REL_REP,
        lambda df, r: df.withColumn(
            "o_orderkey", F.col("o_orderkey") + F.lit(r * 1_000_000_000)
        ),
    ).coalesce(8).write.mode("overwrite").parquet(
        os.path.join(DST, "orders.parquet")
    )
    ev = spark.read.parquet(os.path.join(SRC, "events.parquet"))
    rep_union(
        ev,
        EV_REP,
        lambda df, r: df.withColumn(
            "user_id", F.col("user_id") + F.lit(r * 100_000_000)
        ),
    ).coalesce(8).write.mode("overwrite").parquet(
        os.path.join(DST, "events.parquet")
    )
    for t in ("region", "nation", "customer", "supplier", "part", "embeddings"):
        srcp = os.path.join(SRC, f"{t}.parquet")
        dstp = os.path.join(DST, f"{t}.parquet")
        if os.path.isdir(srcp):
            shutil.copytree(srcp, dstp, dirs_exist_ok=True)
        else:
            shutil.copyfile(srcp, dstp)
    print("fixture written to", DST)
    print(f"time it: SPARK_GRAFT_SF_DIR={DST} SPARK_GRAFT_CPUS=<cpus> "
          f"python tools/profile_bench.py {' '.join(QUERIES)}")


if __name__ == "__main__":
    if sys.argv[1:] != ["build"]:
        sys.exit("usage: scale_spotcheck.py build")
    build()
