"""Dump `explain("formatted")` physical plans for the headline queries
and the scale-critical llm ops into docs/plans.md, so plan shapes (push
-down, broadcast choices, partial aggregation, TakeOrderedAndProject,
codegen spans) can be reviewed as an artifact rather than re-derived:

    python scripts/gen_plans.py [sf_dir]

The posture tests in tests/test_scale_posture.py are the enforcement;
this file is the human-readable evidence.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

KEYS = [
    "q1_pricing_summary",
    "q3_top_unshipped",
    "q5_regional_revenue",
    "q6_forecast_revenue",
    "q10_returned_items",
    "q_window_rank",
    "q_semi_anti",
    "q_events_json",
    "q_knn_self",
    "q_knn_lsh",
    "q_knn_multiprobe",
    "q_knn_pq",
    "q_bm25",
    "q_near_dedup",
    "q_minhash_pairs",
    "q_dpp_join",
    # round 5 scale-critical additions
    "q_pack_sequences",
    "q_triangle_count",
    "q_embed_quantize",
    "q_ewma",
    "q_bpe_pairs",
    # round 7: the rebuilt/new scale-critical keys
    "q_label_noise",
    "q_bootstrap_ci",
    "q_cdc_chunks",
    # round 8/9: Arrow-kernel families, bucketed cogroup, driver-side PI
    # ladder, and the ingestion-maintenance pair (VERDICT r8 item 2)
    "q_asof_cogroup",
    "q_knn_ivf_arrow",
    "q_knn_ivf_kmeans",
    "q_semdedup",
    "q_power_iteration",
    "q_merge_upsert",
    "q_compaction_plan",
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    from data_ingestion_service_spark.registry import QUERIES, load_all_operators
    from data_ingestion_service_spark.session import get_spark

    load_all_operators()
    spark = get_spark(app_name="plan-audit")
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "docs",
        "plans.md",
    )
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        f.write(
            "# Physical plans (generated)\n\n"
            f"`explain(\"formatted\")` for the headline + scale-critical "
            f"queries at `{sf_dir}`.\n"
            "Regenerate with `python scripts/gen_plans.py`. Enforced "
            "invariants live in `tests/test_scale_posture.py`.\n"
        )
        for key in KEYS:
            df = QUERIES[key](spark, sf_dir)
            jqe = df._jdf.queryExecution()
            mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
            plan = jqe.explainString(mode)
            f.write(f"\n## {key}\n\n```\n{plan.rstrip()}\n```\n")
            print(f"dumped {key}")
    print(f"wrote {out}")
    spark.stop()


if __name__ == "__main__":
    main()
