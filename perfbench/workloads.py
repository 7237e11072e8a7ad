"""The benchmark's workloads: what each one generates and runs (why each
exists is in BENCHMARK.json and METRICS.md).

Batch workloads list SparkEntry operations as (name, module) pairs, in
the order one pass submits them; `module` is the operator object behind
the name in SparkEntry.queries and is how per-layer metrics are grouped.
"""

MODULES = ["ThreatOps", "MLOps", "StatsOps", "RelationalOps", "BloomOps",
           "DedupOps", "TextOps", "SimilarityOps", "MultimodalOps"]

T, ML, ST, R, B = "ThreatOps", "MLOps", "StatsOps", "RelationalOps", "BloomOps"
D, TX, SI, MM = "DedupOps", "TextOps", "SimilarityOps", "MultimodalOps"

WORKLOADS = {
    "batch_pipeline": {
        "kind": "batch",
        "sizes": {"events": 10000, "documents": 500, "embeddings": 500, "tpch_sf": 0.002},
        "ops": [
            ("q_preprocess", T), ("q_cumulative_users", R), ("q_ks_test", ST),
            ("q_zscore_anomaly", ML), ("q_bloom_join", B), ("q_quality_score", TX),
            ("q_dedup_minhash", D), ("q_ann_brute", SI), ("q_media_neardup", MM),
        ],
    },
    "alert_stream": {
        "kind": "stream",
        # rate: the fixed open-loop offered rate in events/s, about half the
        # closed-loop drain rate measured when the benchmark was defined.
        # Stream events are denser than the batch ones (100 users over one
        # day) so that the burst and session alerts fire.
        "stream": {"rate": 300, "tick_ms": 100, "backlog": 2000, "drains": 3,
                   "doc_ratio": 10, "warmup": 500},
        "sizes": {"documents": 500, "event_users": 100, "event_days": 1},
    },
}

STREAM_QUERIES = ["afterHoursAlerts", "errorBursts", "funnelConversions",
                  "sessionizeTws", "topResourcesStream", "nearDupStream"]
