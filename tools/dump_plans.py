"""Dump .explain("formatted") for bench-suite queries into plans/r{N}/.

Usage: python tools/dump_plans.py --round N before|after [query ...]

Writes plans/r{N}/<query>_<tag>.txt — an optimization round's
before/after plan evidence, readable without running Spark. Default
query set = every query named in bench.py's five suites; pass names to
restrict.
"""

import argparse
import io
import os
import sys
from contextlib import redirect_stdout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

BENCH_SUITE = [
    # headline
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q6_forecast_revenue", "q10_returned_items", "q14_promo_revenue",
    "q18_large_volume_customer", "q19_discounted_revenue", "q9_product_profit",
    "q13_customer_distribution", "q21_waiting_suppliers", "w_topk_per_user",
    "w_running_agg", "g_rollup_orders", "d_count_distinct",
    "dd_exact_hash_groups", "dd_lsh_candidates", "dd_simhash_pairs",
    "dd_embedding_neardup", "sim_cosine_topk", "txt_stats", "st_tumbling_counts",
    # spatial suite
    "f_spatial_point", "f_spatial_measures", "j_spatial_bbox_join",
    "j_polygon_point_exact", "f_geojson_scan", "f_spatial_relations",
    "f_spatial_overlay", "j_polygon_overlap_join",
    # pipeline suite
    "dd_bloom_semi_join", "ds_chunk_documents", "dd_decontaminate",
    "txt_gopher_quality", "dd_url_canonical",
    # tpcds suite
    "dsq05_channel_rollup", "dsq67_rollup_topk", "dsq10_exists_chain",
    "dsq93_net_after_returns", "dsq74_two_metric_growth", "dsq88_case_counts",
    "cb_user_activity_topn", "cb_regex_extract_quantiles",
]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--round", type=int, required=True, help="writes plans/r{N}/")
    ap.add_argument("tag", choices=["before", "after"])
    ap.add_argument("queries", nargs="*", help="default: every bench-suite query")
    args = ap.parse_args()
    tag = args.tag
    names = args.queries or BENCH_SUITE
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from pg_lake_spark.queries import QUERIES
    from pg_lake_spark.session import get_spark

    out_dir = os.path.join(ROOT, "plans", f"r{args.round}")
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark(app_name=f"plans-r{args.round}-{tag}", master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        if name not in QUERIES:
            print(f"skip {name}: not in registry")
            continue
        try:
            df = QUERIES[name].fn(spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            text = buf.getvalue()
        except Exception as exc:  # streaming rows etc.
            text = f"(explain unavailable: {type(exc).__name__}: {exc})\n"
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(text)
        print(f"wrote {path} ({len(text)} chars)")
    spark.stop()


if __name__ == "__main__":
    main()
