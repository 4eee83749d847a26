"""Shuffle memo: parse each distinct block once, across the corpus.

The build does NOT use this module. ``run_with_resume(memo=True)`` parses
through the in-worker block memo of the one Arrow parse stage
(``operators/parse.extract_and_parse(memo=True)``, kernel side in
``functions/parser.parse_block_memo``), which adds no shuffle.
:func:`should_memoize`, :func:`parse_distinct_blocks` and
:func:`parse_blocks_memo` stay only for the benchmark's traced sweep
(``kgbench/layers.py``) and the tests.

Mechanics (all post-parse work is JVM-side):

1. key every block by ``md5(block)`` and parse only the DISTINCT blocks
   under the placeholder base ``MEMO_URL`` with ``blk=0``;
2. classify each distinct parse with ``is_memoizable`` (the same rule as
   the in-worker memo: no error, no term resolved against the
   placeholder, the placeholder label only as a plain bnode prefix);
3. join memoizable parses back to the (url, blk) occurrences and rewrite
   the skolem bnode prefix ``_:s{md5(MEMO_URL)[:16]}x0x`` to the real
   ``_:s{md5(url)[:16]}x{blk}x`` — sound because the deterministic
   skolemizer (functions/to_rdf.skolemize_label) makes bnode labels a
   pure function of (url, blk, local counter);
4. every non-memoizable block falls back to the ordinary per-occurrence
   :func:`..operators.parse.parse_blocks` path.

Cost: an ``md5(block)`` distinct shuffle, a materialized distinct parse,
a hit join, a fallback semi-join and a second parse stage.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as ST

from ..functions.context import validate_context_cache
from ..functions.parser import (
    MEMO_BNODE_PREFIX,
    MEMO_URL,
    is_memoizable,
    parse_block,
)
from .parse import parse_blocks

_MEMO_SCHEMA = ST.StructType([
    ST.StructField("bkey", ST.StringType()),
    ST.StructField("subj", ST.StringType()),
    ST.StructField("pred", ST.StringType()),
    ST.StructField("obj", ST.StringType()),
    ST.StructField("graph", ST.StringType()),
    ST.StructField("memoizable", ST.BooleanType()),
])


# duplication threshold of should_memoize's decision (kgbench's traced
# sweep reports the measured ratio; the build does not decide by it)
MEMO_BREAK_EVEN_DUPLICATION = 50.0


def should_memoize(blocks: DataFrame,
                   break_even: float = MEMO_BREAK_EVEN_DUPLICATION
                   ) -> tuple[bool, float]:
    """ONE cheap agg over the block corpus measures the mean duplication
    ratio ``occurrences / distinct(md5(block))`` and compares it to
    ``break_even``. ``approx_count_distinct`` (HLL++, one pass, no
    distinct shuffle) keeps the pre-pass O(scan); rsd=0.02 pins the
    sketch error to ~2%. Returns (memoize?, measured_ratio)."""
    row = blocks.agg(
        F.count("*").alias("n"),
        F.approx_count_distinct(F.md5("block"), rsd=0.02).alias("d")).first()
    ratio = row["n"] / max(row["d"], 1)
    return ratio >= break_even, ratio


def parse_distinct_blocks(distinct: DataFrame, ctx_cache: dict | None = None,
                          rdf_direction: str | None = None,
                          parser_options=None) -> DataFrame:
    """distinct(bkey, block) -> memo rows (bkey, subj, pred, obj, graph,
    memoizable). Non-memoizable blocks yield ONE null-term marker row;
    memoizable zero-quad blocks yield nothing (they contribute no quads
    for any occurrence, which is already the correct outcome)."""
    spark = distinct.sparkSession
    validate_context_cache(ctx_cache or {})
    bc = spark.sparkContext.broadcast(ctx_cache or {})

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache = bc.value
        for batch in batches:
            out: dict[str, list] = {k: [] for k in (
                "bkey", "subj", "pred", "obj", "graph", "memoizable")}
            for bkey, block in zip(batch["bkey"].tolist(),
                                   batch["block"].tolist()):
                quads, err = parse_block(
                    block, MEMO_URL, 0, cache, rdf_direction,
                    parser_options=parser_options)
                if not is_memoizable(quads, err):
                    out["bkey"].append(bkey)
                    for k in ("subj", "pred", "obj", "graph"):
                        out[k].append(None)
                    out["memoizable"].append(False)
                    continue
                for s, p, o, g in quads:
                    out["bkey"].append(bkey)
                    out["subj"].append(s)
                    out["pred"].append(p)
                    out["obj"].append(o)
                    out["graph"].append(g)
                    out["memoizable"].append(True)
            yield pd.DataFrame(out)

    return distinct.mapInPandas(run, _MEMO_SCHEMA)


def _rewrite_prefix(col: str) -> F.Column:
    """Placeholder skolem prefix -> the real (url, blk) prefix.

    Exact-prefix surgery (concat of the new prefix with the tail after
    the old one), NOT a substring replace: memoizability already
    guarantees the placeholder label occurs nowhere else in the term."""
    new_prefix = F.concat(
        F.lit("_:s"), F.substring(F.md5("url"), 1, 16),
        F.lit("x"), F.col("blk").cast("string"), F.lit("x"))
    c = F.col(col)
    return F.when(
        c.startswith(MEMO_BNODE_PREFIX),
        F.concat(new_prefix,
                 c.substr(F.lit(len(MEMO_BNODE_PREFIX) + 1),
                          F.length(c)))).otherwise(c).alias(col)


def parse_blocks_memo(blocks: DataFrame, ctx_cache: dict | None = None,
                      rdf_direction: str | None = None,
                      parser_options=None) -> DataFrame:
    """Memoized twin of :func:`..operators.parse.parse_blocks` — same
    input (url, blk, block), same output protocol (QUAD_SCHEMA incl. the
    error channel), value-identical results (tests/test_memo.py), one
    kernel call per DISTINCT block instead of per occurrence."""
    keyed = blocks.withColumn("bkey", F.md5("block"))
    distinct = keyed.select("bkey", "block").dropDuplicates(["bkey"])
    # localCheckpoint (eager): BOTH consumers below (hits join + fallback
    # keys) read the materialized result — without it each branch would
    # re-run the distinct kernel parse, doubling the dominant cost and
    # voiding the one-kernel-call-per-distinct-block contract
    memo = parse_distinct_blocks(distinct, ctx_cache, rdf_direction,
                                 parser_options).localCheckpoint()

    hits = (keyed.select("url", "blk", "bkey")
            .join(memo.where(F.col("memoizable")), "bkey")
            .select("url", "blk",
                    _rewrite_prefix("subj"),
                    _rewrite_prefix("pred"),
                    _rewrite_prefix("obj"),
                    _rewrite_prefix("graph"),
                    F.lit(None).cast("string").alias("error")))

    fb_keys = memo.where(~F.col("memoizable")).select("bkey")
    # NULL blocks (md5=NULL, matched by neither join) go down the plain
    # path too, so out-of-contract input fails as loudly as parse_blocks
    fb_blocks = (keyed.join(fb_keys, "bkey", "left_semi")
                 .unionByName(keyed.where(F.col("bkey").isNull()))
                 .select("url", "blk", "block"))
    fallback = parse_blocks(fb_blocks, ctx_cache, rdf_direction,
                            parser_options)
    return hits.unionByName(fallback)

