"""Test-side helpers: a declarative upsert to check the physical one
against, an ordered micro-batch writer for file-source streams, and the
reassembled extraction text of the pages."""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jsonld_streaming_parser_js_spark.operators.extract import (
    extract_blocks_from_html)


def upsert_quads(base: DataFrame, wave: DataFrame,
                 wave_keys: DataFrame | None = None) -> DataFrame:
    """Declarative MERGE at document granularity: a re-crawl wave
    REPLACES every quad of the urls it contains (delete-then-insert,
    keyed by url) — the expected result of ``lineage.upsert_wave``.

    ``wave_keys``: the CRAWLED url set (one ``url`` column). Without it
    the urls are derived from the wave quads, which keeps the stale
    quads of a re-crawled page that now yields zero quads."""
    keys = (wave_keys if wave_keys is not None else wave).select("url")
    return base.join(keys.distinct(), "url", "left_anti").unionByName(wave)


def write_ordered_slices(slices: list[DataFrame], work_dir: str,
                         in_dir: str) -> None:
    """Write each DataFrame in ``slices`` as ONE parquet file inside
    ``in_dir``, mtimes increasing in list order.

    The file source with ``maxFilesPerTrigger=1`` feeds files in mtime
    order, so this turns bounded DataFrames into a deterministic
    sequence of micro-batches."""
    os.makedirs(in_dir, exist_ok=True)
    mtime = 1_000_000_000
    for i, df in enumerate(slices):
        tmp = os.path.join(work_dir, f"slice_{i}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        src = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
        dst = os.path.join(in_dir, f"{i:03d}.parquet")
        os.replace(os.path.join(tmp, src), dst)
        os.utime(dst, (mtime + i, mtime + i))


def extracted_text(pages: DataFrame) -> DataFrame:
    """Reassembled text per url (newline-joined payloads) — checked
    byte-identical against the ``text`` column (input_hint invariant)."""
    @F.pandas_udf("string")
    def joined(html: pd.Series) -> pd.Series:
        return html.map(lambda h: "\n".join(extract_blocks_from_html(h)))

    return (pages.select("url", "text", joined("html").alias("extracted"))
            .withColumn("match", F.col("text") == F.col("extracted")))
