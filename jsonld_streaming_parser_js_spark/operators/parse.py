"""Distributed JSON-LD -> quads parse stage.

One ``mapInPandas`` UDTF applies the pure-Python kernel
(:mod:`..functions.parser`) to each extracted block: 1 block row in ->
n quad rows out (the reference's whole Transform-stream pipeline,
``/root/reference/lib/JsonLdParser.ts``, collapsed into a per-row kernel).

Scale design:
- **No shuffle**: extract -> parse is a narrow chain; Catalyst fuses it into
  one stage over the pages scan.
- **Broadcast context cache**: remote ``@context`` docs are prefetched on
  the driver and shipped once per executor via ``sparkContext.broadcast``
  (north-star requirement; reference fetches per-stream via
  IDocumentLoader, ``lib/JsonLdParser.ts:633-636``).
- **Arrow batches**: quad rows are yielded per input batch, bounding worker
  memory by batch size x max quads/doc, independent of partition size.
- **Error channel**: malformed blocks produce an ``error`` row with empty
  quad columns instead of failing the task (reference's strictValues=false
  analog) — at 10^12 documents, a 1e-6 malformation rate would otherwise
  kill every job.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as ST

from ..functions.context import validate_context_cache
from ..functions.parser import parse_block

QUAD_SCHEMA = ST.StructType([
    ST.StructField("url", ST.StringType()),
    ST.StructField("blk", ST.IntegerType()),
    ST.StructField("subj", ST.StringType()),
    ST.StructField("pred", ST.StringType()),
    ST.StructField("obj", ST.StringType()),
    ST.StructField("graph", ST.StringType()),
    ST.StructField("error", ST.StringType()),
])


def rows_from_results(results) -> pd.DataFrame:
    """(url, blk, quads, error) tuples -> one QUAD_SCHEMA pandas frame.

    The single emit protocol shared by every mapInPandas parse runner
    (parse_blocks here, operators/responses.parse_responses): quad rows
    carry error NULL; a failed block yields exactly one row with the error
    set and NULL terms."""
    out: dict[str, list] = {k: [] for k in
                            ("url", "blk", "subj", "pred", "obj",
                             "graph", "error")}
    for url, blk, quads, err in results:
        if err is not None:
            out["url"].append(url)
            out["blk"].append(blk)
            out["subj"].append(None)
            out["pred"].append(None)
            out["obj"].append(None)
            out["graph"].append(None)
            out["error"].append(err)
            continue
        for s, p, o, g in quads:
            out["url"].append(url)
            out["blk"].append(blk)
            out["subj"].append(s)
            out["pred"].append(p)
            out["obj"].append(o)
            out["graph"].append(g)
            out["error"].append(None)
    return pd.DataFrame(out)


def ensure_map_parallelism(df: DataFrame, factor: int = 1) -> DataFrame:
    """Floor the partition count of a CPU-heavy map stage's input at the
    session's default parallelism (guide §2.5/§6 input-skew family).

    Bytes-based split sizing under-parallelizes small-but-expensive
    inputs: a file below ``spark.sql.files.openCostInBytes`` is ONE scan
    task regardless of core count, while the Python parse kernel costs
    orders of magnitude more CPU per byte than the columnar scan — so a
    sub-megabyte corpus otherwise serializes the whole kernel stage on
    one core. Returns ``df`` unchanged when the planned input already
    has enough partitions (at production scale a corpus scan has
    thousands of splits, so this never fires there); otherwise pays one
    cheap round-robin exchange of the raw input rows (kilobytes when it
    fires, deterministic via Spark's sort-before-repartition)."""
    if df.isStreaming:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism * factor
    try:
        n = df.rdd.getNumPartitions()
    except Exception:  # pragma: no cover — exotic plans; never fatal
        return df
    if n >= target:
        return df
    return df.repartition(target)


def parse_blocks(blocks: DataFrame, ctx_cache: dict | None = None,
                 rdf_direction: str | None = None,
                 parser_options=None) -> DataFrame:
    """blocks(url, blk, block) -> raw rows(url, blk, subj, pred, obj, graph,
    error) per the rows_from_results protocol. ``parser_options`` is the
    behavior-flag template (e.g. strict_values=True turns lenient drops
    into error-channel rows); it is broadcast-safe (a plain dataclass)."""
    spark = blocks.sparkSession
    validate_context_cache(ctx_cache or {})  # fail ONCE at the driver
    bc = spark.sparkContext.broadcast(ctx_cache or {})

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache = bc.value
        for batch in batches:
            yield rows_from_results(
                (url, blk, *parse_block(block, url, int(blk), cache,
                                        rdf_direction,
                                        parser_options=parser_options))
                for url, blk, block in zip(batch["url"].tolist(),
                                           batch["blk"].tolist(),
                                           batch["block"].tolist()))

    return ensure_map_parallelism(blocks).mapInPandas(run, QUAD_SCHEMA)


def quads_only(parsed: DataFrame) -> DataFrame:
    return (parsed.where(F.col("error").isNull())
            .select("url", "blk", "subj", "pred", "obj", "graph"))


def extract_and_parse(pages: DataFrame, ctx_cache: dict | None = None,
                      rdf_direction: str | None = None,
                      dedup_blocks: bool = False) -> DataFrame:
    """Fused extract+parse: ONE ``mapInPandas`` stage over pages.

    Halves the JVM<->Python Arrow crossings vs extract_blocks ->
    parse_blocks (pages cross once; quads come back once; the intermediate
    blocks never leave the Python worker). This is the hot path the bench
    measures; the two-stage variant stays for block-level inspection.

    ``dedup_blocks`` (default False — the store ``plans.pipeline.build_kg``
    commits keeps the raw emission multiplicity, which its lineage
    checksum and kgbench's store fingerprint pin): collapse duplicate
    quad emissions *within each block* in
    the kernel (ordered-set semantics, first occurrence kept). Because
    every output row carries its ``(url, blk)`` provenance and one block
    is parsed by exactly one ``parse_block`` call, two identical rows can
    only originate from the same call — so per-block dedup makes the
    output globally distinct on all six columns, and the corpus-wide
    ``dropDuplicates`` shuffle in :func:`pages_to_quads` becomes provably
    redundant (guide §2.4: remove shuffles outright). At 100 TB that is a
    full shuffle of the quad corpus removed for the cost of one small
    dict per block.
    """
    from .extract import extract_blocks_from_html
    spark = pages.sparkSession
    validate_context_cache(ctx_cache or {})  # fail ONCE at the driver
    bc = spark.sparkContext.broadcast(ctx_cache or {})

    import pyarrow as pa

    arrow_schema = pa.schema([
        ("url", pa.string()), ("blk", pa.int32()),
        ("subj", pa.string()), ("pred", pa.string()),
        ("obj", pa.string()), ("graph", pa.string()),
        ("error", pa.string()),
    ])

    def run(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        cache = bc.value
        for batch in batches:
            urls: list = []
            blks: list = []
            cols: tuple = ([], [], [], [], [])  # subj pred obj graph error
            subj_l, pred_l, obj_l, graph_l, err_l = cols
            for url, html in zip(batch.column("url").to_pylist(),
                                 batch.column("html").to_pylist()):
                for blk, block in enumerate(extract_blocks_from_html(html)):
                    quads, err = parse_block(block, url, blk, cache,
                                             rdf_direction)
                    if dedup_blocks and len(quads) > 1:
                        # ordered-set collapse (JSON-LD set semantics);
                        # block-local by construction — see docstring
                        quads = list(dict.fromkeys(quads))
                    if err is not None:
                        urls.append(url)
                        blks.append(blk)
                        subj_l.append(None)
                        pred_l.append(None)
                        obj_l.append(None)
                        graph_l.append(None)
                        err_l.append(err)
                        continue
                    n = len(quads)
                    urls.extend([url] * n)
                    blks.extend([blk] * n)
                    for s, p, o, g in quads:
                        subj_l.append(s)
                        pred_l.append(p)
                        obj_l.append(o)
                        graph_l.append(g)
                    err_l.extend([None] * n)
            yield pa.RecordBatch.from_arrays(
                [pa.array(urls, pa.string()),
                 pa.array(blks, pa.int32()),
                 pa.array(subj_l, pa.string()),
                 pa.array(pred_l, pa.string()),
                 pa.array(obj_l, pa.string()),
                 pa.array(graph_l, pa.string()),
                 pa.array(err_l, pa.string())],
                schema=arrow_schema)

    return (ensure_map_parallelism(pages.select("url", "html"))
            .mapInArrow(run, QUAD_SCHEMA))


def pages_to_quads(pages: DataFrame, ctx_cache: dict | None = None,
                   rdf_direction: str | None = None) -> DataFrame:
    """pages -> deduplicated quads (JSON-LD set semantics: the W3C
    comparison is dataset isomorphism, so duplicate emissions collapse).

    Precondition: ``pages`` is unique on ``url``. Two input rows with the
    same url are parsed by separate kernel calls, and their identical
    ``(url, blk, subj, pred, obj, graph)`` rows are NOT collapsed — a
    multi-capture crawl must pick one capture per url first.

    r8 optimization (guide §2.4): the dedup key contains ``(url, blk)``
    and one block is parsed by exactly one kernel call, so duplicates are
    block-local by construction — the kernel collapses them in-process
    (``dedup_blocks=True``) and the former corpus-wide ``dropDuplicates``
    Exchange (a full shuffle of every quad) is removed outright. Given
    the precondition, the output is distinct on all six columns (proof in
    the extract_and_parse docstring; focused test:
    tests/test_spark_pipeline.py::test_pages_to_quads_dedup_is_kernel_local).
    """
    parsed = extract_and_parse(pages, ctx_cache, rdf_direction,
                               dedup_blocks=True)
    return quads_only(parsed)
