"""Capture .explain("formatted") for headline queries into plans/r17/.

Usage: [PLANS_OUT=<dir>] python scripts/capture_plans.py <suffix> [name_filter...]
  suffix: "before" or "after" — file name becomes <dir>/<q>_<suffix>.txt,
  where <dir> is $PLANS_OUT, or plans/r17 under the repo root when unset

Scenario queries that materialize scratch state (x_current_state_*,
x_compact_*, w21) are explained on their FINAL read plan — the fold jobs
they run to build that state are Spark actions, not part of one logical
plan; for those the interesting evidence is the per-fold job structure,
which OPTIMIZATION_r16.md documents from the phase profiler instead.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from leftshove_spark import queries as Q  # noqa: E402
from leftshove_spark.ext import cache  # noqa: E402
from leftshove_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q8_market_share",
    "q2_min_cost_supplier",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q10_returned_items",
    "q18_large_volume_orders",
    "q19_disjunctive_filter",
    "j3_dedup_latest_window",
    "cdc_at_least_once_dedup",
    "w7_tumbling_window_agg",
    "t1_asof_join_latest_order",
    "t3_asof_join_bucketed",
    "x_dedup_minhash_lsh",
    "x_dedup_embedding_lsh",
    "x_dedup_substring",
    "x_knn_ivfadc_rerank",
    "x_semdedup",
    "x_pagerank_dedup",
    "x_bm25_search",
    "w9_session_window",
    "o4_cube_pricing",
    "x_decontaminate",
    "x_pii_scan",
    "x_pack_sequences",
    "x_tfidf_search",
    "x_current_state_materialized",
    "x_bpe_5k_vocab",
    "x_bpe_50k_vocab",
    "x_pipeline_curation",
    "x_compact_state_transparent",
]


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    filters = sys.argv[2:]
    outdir = os.environ.get(
        "PLANS_OUT",
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r17"),
    )
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark(app_name="leftshove-plan-capture")
    spark.sparkContext.setLogLevel("ERROR")
    for name in HEADLINE:
        if filters and not any(f in name for f in filters):
            continue
        try:
            df = Q.QUERIES[name](spark, SF_DIR)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            with open(os.path.join(outdir, f"{name}_{suffix}.txt"), "w") as fh:
                fh.write(buf.getvalue())
            print(f"wrote {name}_{suffix}.txt")
        except Exception as e:  # noqa: BLE001 - keep capturing the rest
            print(f"ERROR {name}: {e}")
        finally:
            cache.release_pins()
            spark.catalog.clearCache()
    spark.stop()


if __name__ == "__main__":
    main()
