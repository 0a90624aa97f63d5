#!/usr/bin/env python
"""Generate PLANS.md — a physical-plan audit of every bench headline
query: join strategies, scan pushdown, shuffle (Exchange) count, and
top-k / window compilation. Run after plan-affecting changes:

    python tools/plan_report.py

The report is the reviewable evidence that each query's plan has the
shape the 100 TB design calls for (see ARCHITECTURE.md) — and a diff
of it in review is a plan regression alarm.
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

# Plan-intent annotations for the bench suite's most expensive
# queries: one line each naming the dominant stage and why that plan
# is the intended one at 100x scale (A/B history in ARCHITECTURE.md).
PLAN_INTENT = {
    "fuzzy_levenshtein_pairs": (
        "dominant stage: banded `levenshtein(a,b,threshold)` DP "
        "evaluated INSIDE the block equi-join (BHJ) — first-2-token "
        "blocks + hot-block cap bound the pair space, length "
        "precheck skips most DPs; the quadratic DP is the workload "
        "itself, not a plan defect (23.3→5.3 s A/B, r5)"
    ),
    "ngram_novelty": (
        "dominant stage: inverted-index posting build + document-"
        "frequency count, then a single join back (the dedup-sibling "
        "shape); postings shuffle 8-byte xxhash64 keys, so exchange "
        "bytes grow with token count, not string width"
    ),
    "dedup_simhash": (
        "dominant stage: one banded BHJ with the Hamming cut "
        "evaluated inside the join condition — candidate pairs never "
        "materialize; r5 same-session A/B vs the r3 two-stage shape "
        "was a tie locally, this shape kept for the 100x crossover "
        "(ARCHITECTURE.md:522)"
    ),
    "decontaminate_fuzzy": (
        "dominant stage: 5 banded-minhash BHJs with the bounded eval "
        "split as the broadcast build side — the corpus probe side "
        "streams through; eval sets are small by construction at any "
        "corpus scale"
    ),
    "dedup_minhash_cross": (
        "dominant stage: the asymmetric banded equi-join (batch band "
        "keys x corpus band keys) + exact-Jaccard verify through the "
        "two postings sides; no forced broadcast — AQE broadcasts "
        "the small frames at test SF, SMJ at 100x where both sides "
        "grow with their corpus. Per-side postings materialized once "
        "(documents:2 pinned); the production path feeds the corpus "
        "side from SignatureStore artifacts (posts/sig/sizes/"
        "hot-buckets), dropping per-batch corpus cost to "
        "scan+explode+probe — O(batch), not O(corpus-shuffle)"
    ),
    "dup_cluster_keep": (
        "dominant stage: SMJ over the pair graph — correct, edges "
        "can exceed broadcast size at 100x; min-label propagation "
        "runs distributed unless edges fit the gated driver "
        "union-find threshold (dedup.py:752); r4's +59% was cleared "
        "as machine noise by the r5 interleaved A/B"
    ),
    "corpus_dedup_pipeline": (
        "dominant stage: banded-minhash BHJ into the connected-"
        "component SMJ — the ONE sort-merge is the pair graph, kept "
        "SMJ deliberately (duplicate edges can exceed broadcast at "
        "100x, same reasoning as dup_cluster_keep); signatures are "
        "computed once and reused across the exact and fuzzy tiers, "
        "doc_id pushdown at the scan"
    ),
    "table_profile": (
        "dominant stage: one full scan feeding every per-column "
        "aggregate at once (2 shuffles: partial->final agg, then the "
        "tiny unpivot) — a per-column loop would re-scan O(columns) "
        "times at 100x; approx_count_distinct keeps the state "
        "mergeable and bounded per executor"
    ),
    "decontaminate_bloom": (
        "dominant stage: the corpus-side probe of a 16 KiB broadcast "
        "bloom bitset (unrolled whole-stage-codegen k-probe, zero "
        "shuffle) followed by an exact-confirm join on the tiny "
        "prefiltered survivor set — probe cost stays O(corpus scan) "
        "with a constant-size build side at any eval scale"
    ),
    "semantic_dedup": (
        "dominant stage: within-cell pair SMJ after broadcast-"
        "centroid assignment (the two BNLJs are broadcast scalars, "
        "not data joins) — pairs are confined to IVF cells, so pair "
        "volume scales with cell occupancy, which maintenance "
        "(retrain/rescale) holds at target as the corpus grows; "
        "vec_id pushdown at the scan"
    ),
    "source_overlap": (
        "dominant stage: ONE distinct (group, shingle) projection of "
        "the shared inverted index — the only corpus-sized pass; "
        "after it each shingle has <= n_groups postings, so the "
        "shingle-keyed self-join fans out <= groups^2 rows per "
        "shingle into a map-side-combinable groups^2-key aggregate. "
        "The SMJ is that self-join, deliberately: the distinct "
        "shingle set scales with corpus vocabulary and can exceed "
        "broadcast at 100x"
    ),
    "data_quality_report": (
        "four audit families, each compiled to scan -> single "
        "aggregate: the rule checks share ONE lineitem scan (stack "
        "wide->long — adding a rule adds an expression, never a "
        "pass), PK uniqueness is count vs count_distinct in one agg, "
        "and both FK checks broadcast only the DISTINCT parent keys "
        "under the fact scan — at 100x every branch is one pass over "
        "its fact table, no fact-to-fact shuffle anywhere"
    ),
    "media_curation_pipeline": (
        "probe-once filter-before-decode: ONE header-level Arrow "
        "probe scan (mapInPandas, payload bytes never shuffle) feeds "
        "all three cuts, so rejected/quarantined media never reach "
        "payload decode; the plan's only exchange is the final "
        "3-row outcome count — at 100x cost is one pass over the "
        "media bytes regardless of cut fractions"
    ),
}


def main() -> None:
    from b3_analytics_engine_spark.plans import (
        global_windows,
        join_kinds,
        physical_plan,
    )

    spark = bench.session("plan-report")
    qs = bench.query_map()

    lines = [
        "# PLANS — physical-plan audit of the bench headline queries",
        "",
        f"Auto-generated by `tools/plan_report.py` at {SF_DIR} (plan shapes",
        "are scale-independent; AQE only re-sizes them at runtime).",
        "Columns: join strategies in plan order; shuffles = `Exchange`",
        "operators (before AQE coalescing); pushdown = filters that",
        "reached the Parquet scan; notes = top-k/window compilation;",
        "plan intent = why this is the intended plan at 100x (filled",
        "for the suite's most expensive queries; A/B history in",
        "ARCHITECTURE.md).",
        "",
        "| query | joins | shuffles | pushdown | notes | plan intent @100x |",
        "|---|---|---|---|---|---|",
    ]
    for name in bench.HEADLINE:
        df = qs[name](spark, SF_DIR)
        plan = physical_plan(df)
        kinds = join_kinds(df)
        joins = ", ".join(
            f"{k}×{kinds.count(k)}" for k in sorted(set(kinds))
        ) or "—"
        n_ex = len(re.findall(r"\(\d+\) Exchange\b", plan))
        pushed = sorted(
            set(re.findall(r"(?:IsNotNull|GreaterThan(?:OrEqual)?|LessThan(?:OrEqual)?|EqualTo|In|StringContains)\((\w+)", plan))
        )
        pushdown = ", ".join(pushed[:6]) + ("…" if len(pushed) > 6 else "") if pushed else "—"
        notes = []
        if "TakeOrderedAndProject" in plan:
            notes.append("TakeOrdered")
        if "WindowGroupLimit" in plan:
            notes.append("WindowGroupLimit")
        if re.search(r"\(\d+\) Window\b", plan):
            notes.append("Window")
        gw = global_windows(df)
        if gw:
            notes.append("GLOBAL-WINDOW!")
        # a frame materialize()d by one query would change the NEXT
        # query's plan (InMemoryTableScan, known sizes flip joins)
        bench.unpersist_all(spark)
        intent = PLAN_INTENT.get(name, "—")
        lines.append(
            f"| {name} | {joins} | {n_ex} | {pushdown} | "
            f"{', '.join(notes) or '—'} | {intent} |"
        )
    out = os.path.join(REPO, "PLANS.md")
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out} ({len(bench.HEADLINE)} queries)")


if __name__ == "__main__":
    main()
