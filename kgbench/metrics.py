"""Metric names and units, as declared in BENCHMARK.json.

Every run of every workload reports every end-to-end metric: it builds
the store (``build_quads_per_s``: committed quads per second of
``build_kg`` wall time) and then serves lookups from it (``serve_*``).
A run measures only 5-7 serving ops, so no percentile above the median
has ten samples beyond it: ``serve_p90_ms`` is printed, not declared.
"""

from __future__ import annotations

END_TO_END = {
    "setup_s": "s",
    "build_quads_per_s": "quads/s",
    "serve_ops_per_s": "ops/s",
    "serve_p50_ms": "ms",
}

PER_LAYER = {
    "sources.scan_s": "s",
    "extract.pages_per_s_1core": "1/s",
    "extract.blocks": "count",
    "extract.stage_s": "s",
    "kernel.quads_per_s_1core": "1/s",
    "kernel.calls": "count",
    "kernel.error_frac": "ratio",
    "parse.s": "s",
    "parse.quads_per_s": "1/s",
    "parse.scaling_eff": "ratio",
    "parse.tasks": "count",
    "parse.task_skew": "ratio",
    "memo.decide_s": "s",
    "memo.dup_ratio": "ratio",
    "memo.s": "s",
    "memo.distinct_parse_s": "s",
    "memo.fallback_frac": "ratio",
    "lineage.write_s": "s",
    "lineage.bytes_written": "bytes",
    "lineage.files_written": "count",
    "lineage.verify_s": "s",
    "canonicalize.mapping_s": "s",
    "canonicalize.relabel_write_s": "s",
    "canonicalize.merged_nodes": "count",
    "pipeline.build_s": "s",
    "lineage.subject_index_s": "s",
    "lineage.read_url_ms.p50": "ms",
    "lineage.read_url_ms.p90": "ms",
    "lineage.read_subject_ms.p50": "ms",
    "lineage.read_subject_ms.p90": "ms",
    "sparql.parse_ms": "ms",
    "sparql.query_ms.p50": "ms",
    "sparql.query_ms.p90": "ms",
    "spark.jobs_per_op": "count",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "proc.peak_rss_mb": "MB",
    "trace.overhead_frac": "ratio",
}

