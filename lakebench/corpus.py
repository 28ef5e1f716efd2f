"""Where the benchmark's inputs come from: the repository's sf0.1 test
corpus, and a scaled copy of it made with ``tools/scale_gen.py``."""

from __future__ import annotations

import os

from pg_lake_spark.session import TABLES
from tools import scale_gen

#: sf0.1 corpus: scale_gen's source and the lake table's rows
SRC = scale_gen.SRC
#: sf0.01 corpus the ``dataprep`` rows read
SMALL = os.path.join(os.path.dirname(SRC), "sf0.01")
#: tiny corpus; the tests check the restated oracles on it
TINY = os.path.join(os.path.dirname(SRC), "sf0.001")
#: copies of sf0.1 in the ``analytics`` corpus
SCALED_COPIES = 2


#: registry rows per query workload
ROWS = {
    "analytics": [
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q5_local_supplier_volume",
        "q9_product_profit",
        "q18_large_volume_customer",
        "q21_waiting_suppliers",
        "dsq67_rollup_topk",
        "w_topk_per_user",
    ],
    "dataprep": [
        "dd_lsh_candidates",
        "dd_simhash_pairs",
        "dd_embedding_neardup",
        "sim_cosine_topk",
        "txt_stats",
        "txt_gopher_quality",
        "ds_chunk_documents",
        "dd_bloom_semi_join",
        "st_tumbling_counts",
        "st_stream_dedup",
    ],
}


def generate_scaled(out_dir: str) -> None:
    scale_gen.generate(out_dir, SCALED_COPIES)


def register_duck_views(con, sf_dir: str) -> None:
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{path}')")


def key_space(sf_dir: str) -> int:
    """One past the largest ``l_orderkey`` of a corpus, from the parquet
    footer statistics."""
    import pyarrow.parquet as pq

    md = pq.read_metadata(os.path.join(sf_dir, "lineitem.parquet"))
    col = md.schema.to_arrow_schema().get_field_index("l_orderkey")
    return 1 + max(md.row_group(i).column(col).statistics.max for i in range(md.num_row_groups))
