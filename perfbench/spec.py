"""What the benchmark runs: input sizes, the staging spec and the query mix.

These lists belong to the benchmark alone. They are deliberately separate
from ``bench.HEADLINE`` and ``bench.STAGE_TABLES`` (the frozen graded
artifact), so those lists can change or go away without moving this
benchmark.
"""

from __future__ import annotations

# TPC-H scale factor of the generated inputs: lineitem = 6M x SF rows.
SF = 0.01

# nominal seconds of one cycle of each workload on a 4-core host: a run
# does round(--seconds / this) cycles, at least one
CYCLE_SECONDS = {"lake": 20.0, "query": 15.0}

# -- ingest (the block that opens every lake cycle) -----------------------------
# write_table order keys of every table the ingest block writes; the
# "shapes" table (datagen.shapes_table) has lineitem's row count.
INGEST_TABLES = {
    "lineitem": ["l_orderkey", "l_linenumber"],
    "orders": ["o_orderkey"],
    "events": ["event_id"],
    "shapes": ["id"],
}

# -- lake ----------------------------------------------------------------------
# the staged lineitem table: small chunks so a key range prunes to a few
LAKE_BLOCK_SIZE = 8192
LAKE_KEYS = ["l_orderkey"]
# one cycle: the ingest block, block A, an append, block B, an append and a
# compact; each block's reads run in a seeded order, so every cycle reads
# both a freshly compacted table (block A) and one with an uncompacted
# append (block B)
LAKE_BLOCK_A = ["range"] * 2 + ["lookup"] * 2 + ["scan_reader"]
LAKE_BLOCK_B = ["range"] * 2 + ["lookup"] + ["scan_source"]
# key-domain fractions a range scan covers
LAKE_RANGE_FRACTIONS = (0.001, 0.01, 0.05)
LAKE_APPEND_ROWS = 500
# compact after every K-th append (K = the appends in one cycle)
LAKE_COMPACT_EVERY = 2

# -- query ---------------------------------------------------------------------
# tables staged through write_table for the query workload (the rest are
# read as the generated parquet files)
QUERY_STAGE = {
    "lineitem": {"keys": ["l_orderkey", "l_linenumber"]},
    "orders": {"keys": ["o_orderkey"]},
    "events": {"keys": ["event_id"]},
    "documents": {"keys": ["doc_id"], "block_size": 256},
    "embeddings": {"keys": ["vec_id"], "block_size": 128},
}

RELATIONAL = ("tpch", "joins", "windows", "events", "stats")
PIPELINE = ("dedup", "text", "ann", "retrieval", "curation", "multimodal")

# query name -> family. Relational and pipeline families each take a
# comparable share of a pass's wall time.
QUERY_MIX = {
    "q1_pricing_summary": "tpch",
    "q3_shipping_priority": "tpch",
    "q9_product_profit": "tpch",
    "join_multi": "joins",
    "window_rank": "windows",
    "events_sessionize": "events",
    "stats_corr_matrix": "stats",
    "dedup_clusters": "dedup",
    "text_quality": "text",
    "ann_ivf_topk": "ann",
    "retrieval_inverted_index": "retrieval",
    "curation_cap_per_source": "curation",
    "multimodal_decode_jpeg": "multimodal",
}
