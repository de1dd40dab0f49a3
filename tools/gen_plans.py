"""Regenerate PLANS.md: captured physical plans for the queries whose
scale properties README/COVERAGE claim, with one-line annotations.

Usage: python tools/gen_plans.py [sf_dir]   (writes PLANS.md)
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from stream_loader_spark.session import get_spark  # noqa: E402
from tools.scale_audit import plan_text  # noqa: E402

# query name → the plan property the capture evidences
ANNOTATED = {
    "a1_committed_positions": "offset recovery: scan → partial agg → one exchange → final agg",
    "q1_pricing_summary": "pushed filter + pruned columns + two-phase aggregation",
    "q5_local_supplier_volume": (
        "star join: fixed-size dims hinted broadcast, larger sides left to AQE "
        "(locally AQE still picks broadcast)"
    ),
    "q6_forecast_revenue": "all predicates pushed into the parquet scan",
    "q2_min_cost_supplier": "correlated MIN de-correlated into aggregate self-join; dims broadcast",
    "minhash_lsh_pairs": "signature aggregation + banded self-join + verify joins",
    "similarity_topk": "broadcast query set + windowed top-k",
    "embedding_near_dup": (
        "one posexplode+aggregate signature pass, banded equi-join candidates, "
        "raw-table verify joins — no cartesian product anywhere"
    ),
    "range_join_purchase_windows": "binned interval join as hash equi-join",
    "sessionize_events": (
        "window partitioned on user_id (high cardinality — parallelism grows with "
        "users); the 8-way bucket is derived AFTER sessionization"
    ),
    "session_window_stats": "native session_window aggregation (streaming-compatible)",
    "deterministic_sample": "hash-bucket filter rides the scan; text column pruned",
    "salted_join_above_avg": (
        "hot join keys scattered across salt buckets (small side exploded ×8); "
        "result provably equals the unsalted join"
    ),
    "dedup_keep_best": (
        "single map-side-combinable hash aggregate (max_by over a "
        "(quality, -id) struct) — no window, groups never materialize"
    ),
    "domain_rebalance": (
        "per-source thresholds broadcast back; bucket filter evaluated "
        "on the scan side of the broadcast join"
    ),
    "epoch_shuffle_order": (
        "256 shard windows rank in parallel — exchange on shard, never "
        "a single-partition global sort"
    ),
    "approx_distinct_users": (
        "one scan: distinct-triple partial agg feeds both exact count "
        "and duplicate-insensitive HLL — no join, no expand"
    ),
    "pack_sequences_spans": (
        "per-shard window cumsum over the seeded order — one exchange "
        "on shard, 256 parallel cumsums, no global sort"
    ),
    "incremental_near_dup": (
        "batch-only banding probes the stored index; corpus text is "
        "shingled only after the candidate-id join restricts it"
    ),
    "q17_small_quantity_revenue": (
        "correlated per-part average as a window AFTER the broadcast "
        "part semi-join — one lineitem scan, no de-correlated self-join"
    ),
    "domain_oversample": (
        "counts broadcast back; replication is a narrow explode — "
        "no corpus-sized shuffle in either mixing direction"
    ),
    "training_mix_order": (
        "composed rebalance→shuffle→pack: the only corpus-sized "
        "exchange is the shard cumsum"
    ),
    "repeated_ngram_spans": (
        "md5-gram occurrences → two-phase distinct-doc-count aggregate "
        "→ LEFT SEMI probe → per-doc island window (partitioned on "
        "doc_id, high cardinality) — never an all-pairs form"
    ),
    "stats_moments_returnflag": (
        "one map-side-combinable hash aggregate carries six exact "
        "decimal sums per group; moments derived post-aggregate"
    ),
    "corpus_diff_status": (
        "both snapshots reduce to (id, digest) inside the scan — the "
        "text column never reaches the full-outer shuffle join"
    ),
    "embedding_quantization": (
        "narrow per-row HOF arithmetic: no exchange anywhere in the plan"
    ),
    "quantized_topk": (
        "dequantize is a narrow reconstruction stage feeding the same "
        "broadcast + windowed top-k as the float index"
    ),
    "incremental_release_delta": (
        "digest-only diff join finds the delta; lang/quality gates run "
        "over added/changed docs only"
    ),
    "semantic_dedup_keep_best": (
        "sign-LSH banded candidates → components → one max_by per "
        "cluster + left-semi; text never enters pair-finding"
    ),
    "stream_anomaly_stats": (
        "group stats broadcast back onto the stream — corpus side "
        "stays map-side; two aggregates, one broadcast join"
    ),
    "p1_quarantine_routing": (
        "one from_json expression, two filtered aggregation branches "
        "(routing splitter verified separately under foreachBatch)"
    ),
    "cluster_label_purity": (
        "broadcast argmax assignment; label rollups are "
        "cluster-count-sized aggregates"
    ),
    "zorder_layout_orders": (
        "1-row bounds aggregate broadcast back as a scalar join; the "
        "Morton interleave is pure integer codegen on the scan — no "
        "UDF, no corpus-sized exchange before the range layout"
    ),
    "incremental_agg_totals": (
        "two sliced partial-state aggregates union into ONE state-sized "
        "merge aggregate; exact decimal sums make the fold "
        "batch-split-independent"
    ),
    "data_quality_report": (
        "every declared check is a conditional SUM in ONE hash "
        "aggregate; the unpivot generates over a single wide row"
    ),
    "gap_filled_user_daily": (
        "per-key span aggregate → sequence/explode calendar → grid "
        "equi-join; work proportional to the output grid, no global "
        "calendar cross join"
    ),
    "hll_union_daily_users": (
        "daily HLL sketch aggregate + sketch-count-sized union rollup; "
        "exact companion shares the scan"
    ),
    "theta_retention_overlap": (
        "two theta aggregates over one scan + per-key intersection — "
        "no per-user both-period self-join"
    ),
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("gen_plans")
    out = [
        "# PLANS — captured physical plans (sf0.01)",
        "",
        "Evidence for the scale properties claimed in README.md/COVERAGE.md:",
        "`df.explain()` on the declared queries. Regenerate with",
        "`python tools/gen_plans.py`; regressions are guarded by",
        "tests/test_plans.py.",
    ]
    for name, note in ANNOTATED.items():
        plan = plan_text(spark, name, sf_dir).rstrip()
        out += ["", f"## {name}", f"*{note}*", "```", plan, "```"]
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out) + "\n")
    print(f"wrote PLANS.md ({len(ANNOTATED)} plans)")


if __name__ == "__main__":
    main()
