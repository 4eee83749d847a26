"""Traced run: per-layer numbers for one workload's corpus.

Each layer is timed by forcing its output (``localCheckpoint``, a count
or a write) over an input the previous layer produced and materialized,
so a span holds that layer's work and nothing upstream of it. Spans are
recorded here, around calls into the program's public functions; the
program itself is not instrumented. Every workload runs the whole
sweep over its own corpus, so a layer its build skips (the memo on
``crawl_unique``) still reports what it would cost there.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager

from spans import RssSampler, percentile, spark_counters


def _timed_passes(fn, items, min_s: float) -> tuple[int, float, object]:
    """Run ``fn`` over ``items`` repeatedly for at least ``min_s``;
    returns (passes, seconds, result of the last pass)."""
    passes, t0 = 0, time.perf_counter()
    while True:
        result = fn(items)
        passes += 1
        dt = time.perf_counter() - t0
        if dt >= min_s:
            return passes, dt, result


@contextmanager
def _patched(module, names: list[str], tracer, prefix: str):
    """Wrap module functions in spans for the duration of the block."""
    saved = {n: getattr(module, n) for n in names}

    def wrap(name, fn):
        def traced(*a, **kw):
            with tracer.span(f"{prefix}.{name}"):
                return fn(*a, **kw)
        return traced

    for n, fn in saved.items():
        setattr(module, n, wrap(n, fn))
    try:
        yield
    finally:
        for n, fn in saved.items():
            setattr(module, n, fn)


def _dir_stats(path: str) -> tuple[int, int]:
    size = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return size, files


def _pct_ms(durations: list[float], q: float) -> float:
    return 1000 * percentile(durations, q) if durations else float("nan")


def traced_sweep(run) -> dict:
    with RssSampler() as rss:
        with run.tracer.span("run"):
            m = _sweep(run)
    m["proc.peak_rss_mb"] = rss.peak / 2**20
    run.tracer.write(run.spans_path)
    selfs = run.tracer.self_times()
    print("self time by span (s):")
    for name, s in sorted(selfs.items(), key=lambda kv: -kv[1]):
        print(f"  {name:32s} {s:8.3f}")
    return m


def _sweep(run) -> dict:
    from pyspark.sql import functions as F

    from jsonld_streaming_parser_js_spark.functions.parser import (
        parse_block,
    )
    from jsonld_streaming_parser_js_spark.operators import (
        canonicalize as canon,
    )
    from jsonld_streaming_parser_js_spark.operators import memo as memo_mod
    from jsonld_streaming_parser_js_spark.operators.extract import (
        extract_blocks,
        extract_blocks_from_html,
    )
    from jsonld_streaming_parser_js_spark.operators.parse import (
        extract_and_parse,
    )
    from jsonld_streaming_parser_js_spark.plans import lineage
    from jsonld_streaming_parser_js_spark.plans.pipeline import quads_table

    spark, tr, ctx = run.spark, run.tracer, run.ctx
    sc = spark.sparkContext
    m: dict = {}
    exp = run.expected()

    # -- sources --------------------------------------------------------
    with tr.span("sources.scan"):
        pages = spark.read.parquet(run.pages_path).localCheckpoint()
    m["sources.scan_s"] = tr.durations("sources.scan")[-1]

    # -- in-process extract and kernel, one core --------------------------
    sample = run.htmls[:1000]
    sample_urls = run.urls[:1000]
    with tr.span("extract.sample"):
        n_pass, dt, blocks_per_page = _timed_passes(
            lambda hs: [extract_blocks_from_html(h) for h in hs], sample, 1.0)
    m["extract.pages_per_s_1core"] = n_pass * len(sample) / dt
    calls = [(b, u, i) for u, bs in zip(sample_urls, blocks_per_page)
             for i, b in enumerate(bs)]
    m["extract.blocks"] = len(calls)
    parse_block(*calls[0], ctx)  # processes the remote context once

    def kernel_pass(items):
        nq = ne = 0
        for block, url, blk in items:
            quads, err = parse_block(block, url, blk, ctx)
            nq += len(quads)
            ne += err is not None
        return nq, ne

    with tr.span("kernel.sample"):
        n_pass, dt, (nq, ne) = _timed_passes(kernel_pass, calls, 1.5)
    m["kernel.quads_per_s_1core"] = n_pass * nq / dt
    m["kernel.calls"] = len(calls)
    m["kernel.error_frac"] = ne / len(calls)

    # -- distributed parse (fused extract + kernel) -----------------------
    sc.setJobGroup("parse", "parse")
    with tr.span("parse"):
        parsed = extract_and_parse(pages, ctx).localCheckpoint()
    sc.setJobGroup("", "")
    n_quads = parsed.where(F.col("error").isNull()).count()
    m["parse.s"] = tr.durations("parse")[-1]
    m["parse.quads_per_s"] = n_quads / m["parse.s"]
    m["parse.scaling_eff"] = m["parse.quads_per_s"] / (
        sc.defaultParallelism * m["kernel.quads_per_s_1core"])
    pc = spark_counters(spark, "parse")
    m["parse.tasks"], m["parse.task_skew"] = pc["tasks"], pc["task_skew"]

    # -- memo ---------------------------------------------------------------
    with tr.span("extract.stage"):
        blocks = extract_blocks(pages).localCheckpoint()
    m["extract.stage_s"] = tr.durations("extract.stage")[-1]
    with tr.span("memo.decide"):
        _, ratio = memo_mod.should_memoize(blocks)
    m["memo.decide_s"] = tr.durations("memo.decide")[-1]
    m["memo.dup_ratio"] = ratio

    memo_tables = []
    orig_distinct = memo_mod.parse_distinct_blocks

    def forced_distinct(*a, **kw):
        with tr.span("memo.distinct_parse"):
            table = orig_distinct(*a, **kw).localCheckpoint()
        memo_tables.append(table)
        return table

    memo_mod.parse_distinct_blocks = forced_distinct
    try:
        with tr.span("memo"):
            memo_parsed = memo_mod.parse_blocks_memo(blocks,
                                                     ctx).localCheckpoint()
    finally:
        memo_mod.parse_distinct_blocks = orig_distinct
    m["memo.s"] = tr.durations("memo")[-1]
    m["memo.distinct_parse_s"] = tr.durations("memo.distinct_parse")[-1]
    fb_keys = memo_tables[-1].where(~F.col("memoizable")).select("bkey")
    n_fb = (blocks.withColumn("bkey", F.md5("block"))
            .join(fb_keys, "bkey", "left_semi").count())
    m["memo.fallback_frac"] = n_fb / blocks.count()

    # -- lineage write + verify -------------------------------------------
    src = memo_parsed if run.cfg["memo"] else parsed
    store = run.new_out()
    with tr.span("lineage.write"):
        lineage.write_bucketed(lineage.with_bucket(src, run.buckets), store)
    m["lineage.write_s"] = tr.durations("lineage.write")[-1]
    m["lineage.bytes_written"], m["lineage.files_written"] = _dir_stats(store)
    with tr.span("lineage.verify"):
        n_bad = lineage.verify_lineage(spark, store).count()
    m["lineage.verify_s"] = tr.durations("lineage.verify")[-1]
    if n_bad:
        run.problems.append(f"staged store: {n_bad} bucket(s) disagree")

    # -- canonicalize -------------------------------------------------------
    quads = quads_table(spark, store)
    with tr.span("canonicalize.mapping"):
        mapping = canon.canonical_mapping(quads).localCheckpoint()
    m["canonicalize.mapping_s"] = tr.durations("canonicalize.mapping")[-1]
    m["canonicalize.merged_nodes"] = mapping.count()
    if m["canonicalize.merged_nodes"] != exp["merged_nodes"]:
        run.problems.append("staged canonicalization merged "
                            f"{m['canonicalize.merged_nodes']} nodes, "
                            f"expected {exp['merged_nodes']}")
    with tr.span("canonicalize.relabel_write"):
        (canon.relabel_quads(quads, mapping).write.mode("overwrite")
         .parquet(f"{store}/quads_canonical"))
    m["canonicalize.relabel_write_s"] = tr.durations(
        "canonicalize.relabel_write")[-1]

    # -- serving ----------------------------------------------------------
    run.store = store
    run.run_serve()
    m["lineage.subject_index_s"] = tr.durations("lineage.subject_index")[-1]
    for key, span in (("lineage.read_url_ms", "lineage.read_url"),
                      ("lineage.read_subject_ms", "lineage.read_subject"),
                      ("sparql.query_ms", "sparql.query")):
        d = tr.durations(span)
        m[f"{key}.p50"] = _pct_ms(d, 50)
        m[f"{key}.p90"] = _pct_ms(d, 90)
    m["sparql.parse_ms"] = 1000 * statistics.median(
        tr.durations("sparql.parse"))
    m["spark.jobs_per_op"] = statistics.mean(run.serve_jobs)

    # -- one whole build: untraced, then with spans around its calls -------
    _, plain_s = run.build(run.new_out())
    out = run.new_out()
    sc.setJobGroup("build", "build")
    with _patched(lineage, ["run_with_resume", "write_bucketed"], tr,
                  "lineage"), \
            _patched(memo_mod, ["parse_blocks_memo"], tr, "memo"), \
            _patched(canon, ["canonical_mapping", "relabel_quads"], tr,
                     "canonicalize"):
        with tr.span("pipeline.build"):
            stats, traced_s = run.build(out)
    sc.setJobGroup("", "")
    run.fail(run.check_build(out, stats))
    m["pipeline.build_s"] = tr.durations("pipeline.build")[-1]
    m["trace.overhead_frac"] = traced_s / plain_s - 1
    bc = spark_counters(spark, "build")
    m["spark.shuffle_write_bytes"] = bc["shuffle_write_bytes"]
    m["spark.spill_bytes"] = bc["spill_bytes"]
    return m
