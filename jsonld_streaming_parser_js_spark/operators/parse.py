"""Distributed JSON-LD -> quads parse stage.

One ``mapInArrow`` runner (:func:`_parse_stage`) applies the pure-Python
kernel (:mod:`..functions.parser`) to each block: 1 block row in -> n quad
rows out (the reference's whole Transform-stream pipeline,
``/root/reference/lib/JsonLdParser.ts``, collapsed into a per-row kernel).
Every parse entry point — the fused :func:`extract_and_parse`, the
block-level :func:`parse_blocks` and ``operators/responses.parse_responses``
— is a thin caller that only says where each batch's blocks come from.

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

from collections.abc import Callable, Iterable, Iterator
from itertools import repeat

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as ST
from pyspark.sql.pandas.types import to_arrow_schema

from ..functions.context import validate_context_cache
from ..functions.parser import parse_block, parse_block_memo

QUAD_SCHEMA = ST.StructType([
    ST.StructField("url", ST.StringType()),
    ST.StructField("blk", ST.IntegerType()),
    ST.StructField("subj", ST.StringType()),
    ST.StructField("pred", ST.StringType()),
    ST.StructField("obj", ST.StringType()),
    ST.StructField("graph", ST.StringType()),
    ST.StructField("error", ST.StringType()),
])
_ARROW_QUAD_SCHEMA = to_arrow_schema(QUAD_SCHEMA)


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
    fires, deterministic via Spark's sort-before-repartition).

    The partition count is only read off a physical plan with no
    exchange, where building the RDD runs no job. A plan with an
    exchange (a resume's anti-join, a join's output) or a subquery is
    returned unchanged: its RDD would execute the upstream stages once
    for the probe and again for the real action."""
    if df.isStreaming:
        return df
    plan = df._jdf.queryExecution().executedPlan().toString()
    if "Exchange" in plan or "Subquery" in plan:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism * factor
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


# (url, blk, block, root context, gate error) — one block to parse
BlockRow = tuple


def _parse_stage(df: DataFrame, block_rows: Callable[[pa.RecordBatch],
                                                     Iterable[BlockRow]],
                 ctx_cache: dict | None, rdf_direction: str | None = None,
                 parser_options=None, dedup_blocks: bool = False,
                 memo: bool = False) -> DataFrame:
    """The one parse-emit protocol: ``block_rows(batch)`` names the blocks
    of each Arrow input batch; each is parsed by ``parse_block`` and
    emitted as QUAD_SCHEMA rows. Quad rows carry error NULL; a failed
    block — or one whose gate error is set, which is never parsed —
    yields exactly one row with the error set and NULL terms.

    ``dedup_blocks`` collapses duplicate quad emissions within each block
    (ordered-set semantics, first occurrence kept; see
    :func:`extract_and_parse`). ``memo`` parses through one bounded
    block memo per partition (``functions/parser.parse_block_memo``);
    it keys by block text alone, so only callers with no root context
    may set it."""
    validate_context_cache(ctx_cache or {})  # fail ONCE at the driver
    bc = df.sparkSession.sparkContext.broadcast(ctx_cache or {})

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        cache = bc.value
        blocks_seen: dict = {}
        for batch in batches:
            cols = tuple([] for _ in QUAD_SCHEMA)
            urls, blks, subj_l, pred_l, obj_l, graph_l, err_l = cols
            for url, blk, block, context, err in block_rows(batch):
                if err is None and memo:
                    quads, err = parse_block_memo(
                        blocks_seen, block, url, blk, cache, rdf_direction,
                        parser_options)
                elif err is None:
                    quads, err = parse_block(block, url, blk, cache,
                                             rdf_direction, context=context,
                                             parser_options=parser_options)
                if err is not None:
                    for col, v in zip(cols, (url, blk, None, None, None,
                                             None, err)):
                        col.append(v)
                    continue
                if dedup_blocks and len(quads) > 1:
                    quads = list(dict.fromkeys(quads))
                n = len(quads)
                urls.extend([url] * n)
                blks.extend([blk] * n)
                err_l.extend([None] * n)
                for s, p, o, g in quads:
                    subj_l.append(s)
                    pred_l.append(p)
                    obj_l.append(o)
                    graph_l.append(g)
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, f.type)
                 for c, f in zip(cols, _ARROW_QUAD_SCHEMA)],
                schema=_ARROW_QUAD_SCHEMA)

    return df.mapInArrow(run, QUAD_SCHEMA)


def parse_blocks(blocks: DataFrame, ctx_cache: dict | None = None,
                 rdf_direction: str | None = None,
                 parser_options=None) -> DataFrame:
    """blocks(url, blk, block) -> raw rows(url, blk, subj, pred, obj, graph,
    error) per the :func:`_parse_stage` protocol. ``parser_options`` is the
    behavior-flag template (e.g. strict_values=True turns lenient drops
    into error-channel rows); it is broadcast-safe (a plain dataclass)."""
    def block_rows(batch: pa.RecordBatch) -> Iterator[BlockRow]:
        return zip(*(batch.column(c).to_pylist()
                     for c in ("url", "blk", "block")),
                   repeat(None), repeat(None))

    return _parse_stage(
        ensure_map_parallelism(blocks.select("url", "blk", "block")),
        block_rows, ctx_cache, rdf_direction, parser_options)


def quads_only(parsed: DataFrame) -> DataFrame:
    return (parsed.where(F.col("error").isNull())
            .select("url", "blk", "subj", "pred", "obj", "graph"))


def extract_and_parse(pages: DataFrame, ctx_cache: dict | None = None,
                      rdf_direction: str | None = None,
                      dedup_blocks: bool = False,
                      memo: bool = False) -> DataFrame:
    """Fused extract+parse: ONE ``mapInArrow`` stage over pages.

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

    ``memo``: parse each distinct block once per partition and relabel
    its bnodes for every further occurrence; base-dependent and erroring
    blocks are parsed per occurrence. The rows equal ``memo=False``'s as
    a multiset; it pays off when pages repeat site-template blocks.
    """
    from .extract import extract_blocks_from_html

    def block_rows(batch: pa.RecordBatch) -> Iterator[BlockRow]:
        for url, html in zip(batch.column("url").to_pylist(),
                             batch.column("html").to_pylist()):
            for blk, block in enumerate(extract_blocks_from_html(html)):
                yield url, blk, block, None, None

    return _parse_stage(ensure_map_parallelism(pages.select("url", "html")),
                        block_rows, ctx_cache, rdf_direction,
                        dedup_blocks=dedup_blocks, memo=memo)


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
