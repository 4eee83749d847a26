"""Structured Streaming variants.

The reference's "streaming" is incremental parse within one document — that
collapses inside the per-row kernel here (SURVEY.md section 1.2). What a
*distributed* KG pipeline actually needs streamed is the corpus: new page
files land continuously (a crawl), and quads should flow out incrementally
with exactly-once file-level semantics. That's stock Structured Streaming:
``read_pages_stream`` (``readStream`` on the pages directory) ->
``operators.parse.extract_and_parse`` (the fused extract+parse stage is
stateless, so it runs unchanged in a streaming plan) ->
``start_quads_sink`` (``writeStream`` parquet with checkpointing).
File-source + checkpoint gives exactly-once at file granularity; the
deterministic skolemizer makes replays byte-identical, so downstream dedup
stays cheap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as ST

PAGES_SCHEMA = ST.StructType([
    ST.StructField("url", ST.StringType()),
    ST.StructField("warc_ts", ST.TimestampType()),
    ST.StructField("html", ST.BinaryType()),
    ST.StructField("text", ST.StringType()),
    ST.StructField("lang", ST.StringType()),
])


def read_pages_stream(spark: SparkSession, pages_dir: str,
                      max_files_per_trigger: int | None = None) -> DataFrame:
    reader = (spark.readStream.schema(PAGES_SCHEMA)
              .format("parquet"))
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger",
                               str(max_files_per_trigger))
    return reader.load(pages_dir)


def start_quads_sink(quads_stream: DataFrame, out_dir: str,
                     checkpoint_dir: str, available_now: bool = True):
    """writeStream -> parquet with checkpoint; availableNow drains the
    backlog then stops (the batch-catchup trigger; continuous crawls use
    the default micro-batch trigger instead)."""
    writer = (quads_stream.writeStream
              .format("parquet")
              .option("path", out_dir)
              .option("compression", "zstd")  # match the batch sink
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("append"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
