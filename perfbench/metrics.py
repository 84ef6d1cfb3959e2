"""Every metric the benchmark emits, with its unit.

``BENCHMARK.json`` lists the same names; ``tests/test_perfbench.py`` keeps
the two in step, and ``run.py`` refuses to print a result whose metric set
differs from the list for its mode.
"""

# reported by --trace 0 runs; each has a bound in BENCHMARK.json
E2E_METRICS = {
    "setup_s": "s",  # replica process start -> first {"health"} reply, median of starts
    "build_docs_per_s": "1/s",
    "build_cpu_s": "s",  # process-tree CPU during build_index
    "index_bytes_per_doc": "B",
    "serve_p50_ms": "ms",
    "replica_rss_mb": "MB",  # VmHWM at the end of the run
}

# printed beside the result by --trace 0 runs, with no bound: on a shared
# 4-core host they move 30-150% between runs with the host's steal time
INFO_METRICS = {
    "spark_start_s": "s",  # get_spark() wall time: JVM launch and SparkContext start
    "batch_queries_per_s": "1/s",
    "serve_p95_ms": "ms",
    "serve_qps": "1/s",
}

# the build layers, each named by the write or collect it wraps
BUILD_LAYERS = [
    "build.doc_ids", "build.tokenize_docmap", "build.stats",
    "build.postings_shuffle", "build.encode_write", "build.metrics_pass",
]
LAYER_FIELDS = {"wall_s": "s", "cpu_s": "s", "jvm_cpu_s": "s",
                "shuffle_write_bytes": "B", "spill_bytes": "B"}

# reported by --trace 1 runs
LAYER_METRICS = {
    **{f"{layer}.{f}": u for layer in BUILD_LAYERS for f, u in LAYER_FIELDS.items()},
    "build.postings_shuffle.rows": "count",
    "build.encode_write.rows_out": "count",
    "build.encode_write.bytes_out": "B",
    "build.driver_other.wall_s": "s",
    "trace.build_overhead_ratio": "ratio",
    "batch.plan.wall_s": "s",
    "batch.scan.wall_s": "s",
    "batch.wand_kernel.wall_s": "s",
    "batch.wand_kernel.cpu_s": "s",
    "batch.wand_kernel.blocks_read": "count",
    "batch.rank.wall_s": "s",
    "batch.rank.shuffle_bytes": "B",
    "batch.windows_visited": "count",
    "batch.windows_considered": "count",
    "batch.windows_visited_ratio": "ratio",
    "serve.read_ms": "ms",
    "serve.decode_ms": "ms",
    "serve.assemble_ms": "ms",
    "serve.score_select_ms": "ms",
    "serve.query_other_ms": "ms",
    "serve.blocks_read": "blocks/req",
    "serve.ints_decoded": "ints/req",
    "serve.postings_scored": "postings/req",
    "serve.loop_ms": "ms",
    "cache.hit_rate": "ratio",
    "cache.evictions": "count",
    "trace.overhead_ratio": "ratio",
}
