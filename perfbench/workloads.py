"""The benchmark's workloads: which registered queries one pass calls.

Every pass calls each query of its workload once, in an order drawn from
``--seed``.
"""

from __future__ import annotations

WORKLOADS: dict[str, list[str]] = {
    # Short read-only batch queries where fixed per-call costs dominate:
    # planning, builder time and per-job/stage scheduling.  Three of the
    # reference-parity queries, then one each of cleaning, windows, TPC-H
    # joins and profiling.  The profiling query reads a parquet footer for
    # its row count (``sources.readers.parquet_rowcount``).  Bypasses
    # streaming, sources.writers, the stage cache and the operator modules.
    "analytics_mix": [
        "traffic_congestion",
        "rank_in_group",
        "top_routes",
        "clean_speed_filter",
        "window_distribution_funcs",
        "customers_without_orders",
        "kll_quantile_sketch",
    ],
    # The write path and corpus curation.  A partitioned write
    # (sources.writers) with a pruned read-back and an AvailableNow windowed
    # drain spend their time inside the builder (eager writes, commits,
    # checkpoints).  The corpus queries reach the operator modules on every
    # call: the decontaminated corpus pipeline (dedup, curation), IVF
    # balance (similarity), count-min heavy hitters (sketch), WordPiece
    # segmentation (wordpiece, with unigram's word vocab).  The IVF
    # centroids (clustering), the WordPiece vocab and the byte-BPE merges
    # (bytebpe) are trained once in set-up and shared through the stage
    # cache after, so a first call costs several times a warm one.
    "ingest_curation": [
        "partitioned_write_pruned_read",
        "structured_streaming_availablenow",
        "corpus_pipeline_decontaminated",
        "ann_ivf_balance",
        "freq_tokens_cms_sampled",
        "wordpiece_runtime_drift",
        "bytebpe_merge_loop",
    ],
}

#: timed passes a run makes at least.  On a 4-core machine a warm pass of
#: ``analytics_mix`` takes about 5 s and one of ``ingest_curation`` about
#: 12 s: three passes give the short queries more calls past the JIT's
#: warm-up for about the time two passes of the long ones take.
MIN_PASSES: dict[str, int] = {"analytics_mix": 3, "ingest_curation": 2}
