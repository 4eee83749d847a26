"""Structured Streaming plumbing tests."""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import functions as F

from jsonld_streaming_parser_js_spark.operators.parse import pages_to_quads
from jsonld_streaming_parser_js_spark.sources.pages import (
    CONTEXTS, pages_from_documents)
from jsonld_streaming_parser_js_spark.streaming import stream as strm

SF = "/root/testdata/sf0.001"


def test_streaming_quads_incremental(spark):
    workdir = tempfile.mkdtemp(prefix="kg_stream_")
    pages_dir = f"{workdir}/pages"
    out_dir = f"{workdir}/quads"
    ckpt = f"{workdir}/ckpt"
    try:
        pages = pages_from_documents(spark, SF).cache()
        batch1 = pages.where(F.pmod(F.xxhash64("url"), F.lit(2)) == 0)
        batch2 = pages.where(F.pmod(F.xxhash64("url"), F.lit(2)) == 1)

        batch1.write.mode("append").parquet(pages_dir)
        q = strm.stream_pages_to_quads(
            strm.read_pages_stream(spark, pages_dir), CONTEXTS)
        assert q.isStreaming
        strm.start_quads_sink(q, out_dir, ckpt).awaitTermination(120)
        n1 = spark.read.parquet(out_dir).where("error IS NULL").count()
        assert n1 > 0

        # new crawl files land; restart drains ONLY the new files
        batch2.write.mode("append").parquet(pages_dir)
        q2 = strm.stream_pages_to_quads(
            strm.read_pages_stream(spark, pages_dir), CONTEXTS)
        strm.start_quads_sink(q2, out_dir, ckpt).awaitTermination(120)

        got = set(map(tuple,
                      spark.read.parquet(out_dir)
                      .where("error IS NULL")
                      .select("subj", "pred", "obj", "graph").collect()))
        want = set(map(tuple,
                       pages_to_quads(pages, CONTEXTS)
                       .select("subj", "pred", "obj", "graph").collect()))
        assert got == want  # exactly-once: no dupes, nothing missing
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def test_streaming_windowed_rates(spark):
    workdir = tempfile.mkdtemp(prefix="kg_rate_")
    try:
        pages = pages_from_documents(spark, SF)
        pages.write.mode("append").parquet(f"{workdir}/pages")
        stream = strm.read_pages_stream(spark, f"{workdir}/pages")
        rates = strm.windowed_quad_rates(
            stream.select("url", "warc_ts"), window="1 hour")
        sink = (rates.writeStream.format("memory")
                .queryName("rates").outputMode("append")
                .trigger(availableNow=True).start())
        sink.awaitTermination(120)
        # append mode only emits closed windows; with a 2h watermark over a
        # bounded backlog the final windows stay open -> just assert the
        # plan runs as a valid watermark+window streaming agg
        assert spark.table("rates").columns == ["window_start", "n_quads"]
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def test_streaming_rates_merge_late_rows_within_watermark(spark):
    """Late-data path of the watermark contract: a deterministic 1/5 url
    subset arrives one micro-batch late — in windows earlier batches
    already populated, within the watermark — and the finalized windows
    must still equal the order-independent batch aggregation."""
    workdir = tempfile.mkdtemp(prefix="kg_rate_late_")
    try:
        pages = pages_from_documents(spark, SF).cache()
        n_late = pages.where(
            F.pmod(F.xxhash64("url"), F.lit(5)) == 0).count()
        assert n_late > 0  # the late subset is non-empty (test has teeth)
        got = strm.streaming_quad_rates(
            spark, pages, workdir, CONTEXTS,
            watermark=None, late_every=5)  # derived no-drop watermark
        want = (pages_to_quads(pages, CONTEXTS)
                .groupBy("url").agg(F.count("*").alias("nq"))
                .join(pages.select("url", "warc_ts"), "url")
                .groupBy(F.date_format(
                    F.window("warc_ts", "1 minute").start,
                    "yyyy-MM-dd HH:mm:ss").alias("window_start"))
                .agg(F.sum("nq").alias("n_quads")))
        g = {(r["window_start"], r["n_quads"]) for r in got.collect()}
        w = {(r["window_start"], r["n_quads"]) for r in want.collect()}
        assert g == w and len(g) > 2
        pages.unpersist()
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def test_streaming_rates_update_mode_reemits_growing_windows(spark):
    """UPDATE-mode twin of the append-mode rates lane: a window whose
    rows straddle micro-batches must be emitted MORE THAN ONCE with
    non-decreasing counts, and the last emission per window must equal
    the batch aggregation. (Append emits only finalized windows; update
    emits every refinement — both ends of the watermark contract.)"""
    import os
    from jsonld_streaming_parser_js_spark.streaming.filesource import (
        write_ordered_slices)
    workdir = tempfile.mkdtemp(prefix="kg_rate_upd_")
    try:
        pages = pages_from_documents(spark, SF).cache()
        # deterministic 1/5 subset delayed one slice -> straddling rows
        sel = F.unix_timestamp("warc_ts")
        lo, hi = pages.agg(F.min(sel), F.max(sel)).first()
        rel = sel - F.lit(lo)
        step = 130
        # slice count derived from the corpus SPAN (+1 slice so the last
        # range's delayed rows land somewhere) — a fixed count would
        # silently drop rows at larger scale factors
        n_slices = int((hi - lo) // step) + 2
        is_late = F.pmod(F.xxhash64("url"), F.lit(5)) == 0
        slices = [pages.where(((rel >= i * step) & (rel < (i + 1) * step)
                               & ~is_late)
                              | ((rel >= (i - 1) * step)
                                 & (rel < i * step) & is_late))
                  for i in range(n_slices)]
        # exact-cover guard: every page is fed to exactly one slice
        assert sum(s.count() for s in slices) == pages.count()
        write_ordered_slices(slices, workdir,
                             os.path.join(workdir, "input"))
        stream = strm.read_pages_stream(
            spark, os.path.join(workdir, "input"), max_files_per_trigger=1)
        quads = (strm.stream_pages_to_quads(stream, CONTEXTS)
                 .where(F.col("error").isNull())
                 .join(F.broadcast(pages.select("url", "warc_ts")
                                   .distinct()), "url"))
        rates = strm.windowed_quad_rates(quads, "1 minute", "10 minutes")
        batches = []

        def capture(df, epoch_id):
            batches.append(
                (epoch_id, [(r["w"], r["n_quads"]) for r in df.collect()]))

        q = (rates.select(F.date_format("window_start",
                                        "yyyy-MM-dd HH:mm:ss")
                          .alias("w"), "n_quads")
             .writeStream.foreachBatch(capture)
             .option("checkpointLocation", os.path.join(workdir, "ckpt"))
             .outputMode("update").trigger(availableNow=True).start())
        q.awaitTermination(180)
        emitted = [row for _eid, rows in sorted(batches)
                   for row in rows]
        want = {r["w"]: r["n"] for r in
                (pages_to_quads(pages, CONTEXTS)
                 .groupBy("url").agg(F.count("*").alias("nq"))
                 .join(pages.select("url", "warc_ts"), "url")
                 .groupBy(F.date_format(F.window("warc_ts", "1 minute")
                                        .start, "yyyy-MM-dd HH:mm:ss")
                          .alias("w"))
                 .agg(F.sum("nq").alias("n")).collect())}
        from collections import defaultdict
        seen = defaultdict(list)
        for w, n in emitted:
            seen[w].append(n)
        # every window's final emission equals the batch truth
        assert {w: ns[-1] for w, ns in seen.items()} == want
        # at least one straddling window was re-emitted with growth
        multi = [ns for ns in seen.values() if len(ns) > 1]
        assert multi and any(ns[-1] > ns[0] for ns in multi)
        # update emissions never shrink a window
        for ns in seen.values():
            assert ns == sorted(ns)
        pages.unpersist()
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
