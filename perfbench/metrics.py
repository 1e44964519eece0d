"""The benchmark's metric names and units, and which end-to-end metric
each layer metric should move on which workload. ``BENCHMARK.json``
lists the same names; the self-test keeps the two in step.
"""

from __future__ import annotations

END_TO_END = {
    "op_s": "s",  # median wall time of one workload op
    "setup_s": "s",  # session start + median of the set-up rounds
    "peak_rss_mb": "MB",  # driver JVM + driver Python VmHWM
}

_GENERIC = {"s": "s", "jobs": "count", "tasks": "count", "shuffle_bytes": "bytes",
            "spill_bytes": "bytes", "cpu_frac": "ratio"}
_FOLD = {**_GENERIC, "triggers": "count", "trigger_s": "s", "jobs_per_trigger": "count",
         "store_bytes": "bytes", "store_files": "count"}
_SERVE = {"s": "s", "jobs": "count"}
_LOOP = {"s": "s", "jobs": "count", "tasks_per_job": "count", "cpu_frac": "ratio"}

# layer -> (metrics with units, what it should move). Layers are the
# package modules whose public function a traced span wraps.
LAYERS = {
    "sources": ({**_GENERIC, "input_bytes": "bytes", "rows": "count"},
                "op_s by about the same amount on sync_full and sync_delta (same input)"),
    "operators.split": (_GENERIC, "op_s alike on both sync workloads"),
    "operators.decorate": (_GENERIC, "op_s alike on both sync workloads"),
    "operators.attribution": (_GENERIC, "op_s alike on both sync workloads"),
    "operators.delta": ({**_GENERIC, "state_bytes": "bytes", "hit_ratio": "ratio"},
                        "op_s on sync_delta; close to nothing on sync_full"),
    "operators.stamp": (_GENERIC, "op_s alike on both sync workloads"),
    "plans.job": ({**_GENERIC, "state_write_s": "s", "state_bytes": "bytes"},
                  "op_s on both sync workloads; the json snapshot is rewritten in full each run"),
    "sinks.jsonl": ({**_GENERIC, "output_bytes": "bytes", "files": "count"},
                    "op_s on sync_full; little on sync_delta"),
    "operators.payload": (_GENERIC, "op_s on sync_full; little on sync_delta"),
    "sinks.transport": ({**_GENERIC, "batches": "count", "records": "count",
                         "dlq_records": "count", "records_per_s": "1/s"},
                        "op_s on sync_full; little on sync_delta"),
    "streaming.model_refresh": (_FOLD, "op_s (drain) on fold_loops; store_* also its serve part"),
    "streaming.ann_monitor": (_FOLD, "op_s (drain) on fold_loops; store_* also its serve part"),
    "streaming.model_refresh.serve_topk": (_SERVE, "op_s (serve) on fold_loops"),
    "streaming.ann_monitor.hnsw_index_from_store": (_SERVE, "op_s (serve) on fold_loops"),
    "functions.similarity.hnsw_probe_topk": (_SERVE, "op_s (serve) on fold_loops"),
    **{f"queries.{q}": (_LOOP, "op_s (loops) on fold_loops only")
       for q in ("dbscan_embeddings", "kcore_parts", "part_reach_bfs", "graph_walks")},
}

# The traced run itself: traced vs untraced op, the single-core
# baseline, and the one-off costs kept out of setup_s.
TRACE = {
    "trace.op_s": "s",
    "trace.untraced_op_s": "s",
    "trace.overhead_s": "s",
    "trace.self_sum_s": "s",
    "trace.local1_op_s": "s",
    "trace.parallel_speedup": "ratio",
    "setup.session_s": "s",
    "setup.warmup_s": "s",
}


def per_layer() -> dict[str, str]:
    """Every per-layer metric name with its unit. ``shuffle_bytes`` and
    ``spill_bytes`` of any layer move ``peak_rss_mb`` on its workload."""
    out = {f"{layer}.{m}": unit for layer, (ms, _) in LAYERS.items() for m, unit in ms.items()}
    out.update(TRACE)
    return out
