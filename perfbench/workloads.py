"""Workloads and load model of the benchmark.

Load model: one benchmark process, one client thread issuing queries
back to back (a closed loop with one client), one SparkSession on
``local[k]`` with k = min(4, cores), configured like ``graft.Bench``,
and a fixed driver heap.  ``scale`` multiplies the reference sf0.1 row
counts of the generated tables.
"""
import os

HEAP = "2g"
DEFAULT_SEED = 1


def cpus():
    return min(4, len(os.sched_getaffinity(0)))


WORKLOADS = {
    # One action per query: the results' own jobs (35 of 46 per pass)
    # take three quarters of the wall, so builder-loop changes should
    # leave it flat. At this size `orders` (0.3 MB) is far below the
    # 10 MB broadcast threshold and a pass shuffles under 1 MiB, so
    # per-job overhead, not compute, is most of each query.
    "single_pass": {
        "scale": 0.1,
        "queries": ["wordcount", "q1_pricing", "q3_shipping_priority", "q18_large_orders",
                    "window_topk_native", "events_sessionize_native", "text_bm25"],
    },
    # Tokenize, dedup and upsert run incrementally through micro-batches,
    # state stores and the foreachBatch versioned-state replay harness.
    "stream": {
        "scale": 0.02,
        "queries": ["stream_wordcount", "stream_dedup_watermarked", "stream_ann_upsert"],
    },
}
