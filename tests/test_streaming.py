"""Structured Streaming plumbing tests."""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import functions as F

from jsonld_streaming_parser_js_spark.operators.parse import (
    extract_and_parse, pages_to_quads)
from jsonld_streaming_parser_js_spark.sources.pages import (
    CONTEXTS, pages_from_documents)
from jsonld_streaming_parser_js_spark.streaming import stream as strm
from tests.test_spark_pipeline import SF


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
        q = extract_and_parse(
            strm.read_pages_stream(spark, pages_dir), CONTEXTS)
        assert q.isStreaming
        strm.start_quads_sink(q, out_dir, ckpt).awaitTermination(120)
        n1 = spark.read.parquet(out_dir).where("error IS NULL").count()
        assert n1 > 0

        # new crawl files land; restart drains ONLY the new files
        batch2.write.mode("append").parquet(pages_dir)
        q2 = extract_and_parse(
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
