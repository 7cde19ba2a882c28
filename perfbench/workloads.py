"""The benchmark's workloads: which registered queries one pass runs.

Each pass runs every query of its workload once, in an order shuffled by the
run's seed. The lists are sized so that one fresh process finishes set-up,
the cold pass and its warm passes (``worker.WARM_PASSES``) in under a
minute on 4 cores. README.md says why each workload exists and which
layer it stresses.
"""

from __future__ import annotations

# Built by the benchmark itself rather than taken from the registry: the
# seeded Criteo-shaped frame written as gzipped TFRecord and drained back.
CRITEO = "criteo_tfrecord_roundtrip"

WORKLOADS: dict[str, dict] = {
    # Scan / join / aggregate / window over the star schema and events.
    # No per-session memo is touched; build and plan are a small share.
    "olap": {
        "queries": [
            "q01_pricing_summary", "q03_shipping_priority",
            "q05_regional_revenue", "q06_forecast_revenue",
            "q10_top_customers", "q19_disjunctive_predicates",
            "q_window_topk_per_group", "q_json_extract", "q_sessionize",
            "q_copurchase",
        ],
        "tables": ["region", "nation", "customer", "supplier", "part",
                   "orders", "lineitem", "events"],
    },
    # Memo-backed index builds (IVF, entity resolution, PCA) and an Arrow
    # kernel: the cold pass builds, warm passes hit.
    "corpus": {
        "queries": [
            "q_ann_ivf_incremental", "q_er_entities", "q_embed_pca",
            "q_embed_whiten",
        ],
        "tables": ["part", "embeddings"],
    },
}

# The write path, probed once after the timed passes of every traced run:
# it starts from sources.tables.reset_handles(), then writes the seeded
# Criteo rows as gzipped TFRecord and reads them back, then drains a stream
# through a checkpoint. It is not a timed workload of its own: a third
# workload's runs did not fit the time a benchmark session may take.
INGEST_PROBE = {
    "queries": [CRITEO, "q_stream_sessions"],
    "criteo_rows": 10000,
}
