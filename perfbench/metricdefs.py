"""Metric names and units the benchmark reports (BENCHMARK.json mirrors
these lists)."""

WORKLOADS = ("serve_ingest", "scan_dedup")

# (name, unit): what --trace 0 reports for every workload. Peak RSS is
# printed on the "#" lines but not listed here: the driver JVM's heap
# growth follows GC timing, and its run-to-run spread (IQR/median about
# 0.2-0.26 over seeds) is too wide to gate a change on.
END_TO_END = [
    ("latency_p50_s", "s"),
    ("ops_per_s", "1/s"),
    ("setup_s", "s"),
]

OP_TYPES = ["bfs", "dfs_leaves", "append", "merge_delta", "add_graph",
            "read_after_write", "bfs_all", "cc_all", "pagerank_all",
            "dfs_leaves_all", "dedup"]

# (name, unit): what --trace 1 reports for every workload; a layer the
# workload does not exercise reads 0 (the "#" lines say so)
PER_LAYER = (
    [(f"spark.{k}_per_op.{t}", "count") for t in OP_TYPES
     for k in ("jobs", "stages", "tasks")]
    + [("metastore.load_s", "s"), ("metastore.manifests", "count"),
       ("metastore.manifest_bytes", "bytes"),
       ("engine.snapshot_s", "s"), ("engine.edges_read_s", "s"),
       ("engine.chain_len", "count"), ("engine.delta_commits", "count"),
       ("store.files", "count"), ("store.bytes_written_per_op", "bytes"),
       ("store.compact_op_s", "s"), ("store.compactions", "count"),
       ("matrix.lines_from_text_s", "s"),
       ("pregel.bfs_levels_s", "s"), ("pregel.supersteps", "count"),
       ("pregel.bfs_levels_grouped_s", "s"),
       ("pregel.pagerank_grouped_s", "s"),
       ("pregel.connected_components_s", "s"),
       ("dfs.dfs_leaves_s", "s"),
       ("dedup.shingle_hashes_s", "s"), ("dedup.minhash_s", "s"),
       ("dedup.lsh_candidates_s", "s"), ("dedup.verify_s", "s"),
       ("dedup.candidate_pairs", "count"), ("dedup.candidate_yield", "ratio"),
       ("trace.overhead_s", "s"), ("trace.probe_s", "s"),
       ("trace.spans", "count")])
