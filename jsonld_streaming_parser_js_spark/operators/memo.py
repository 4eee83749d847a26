"""Distinct-block parse memo: dedupe-before-parse.

Real crawls repeat identical JSON-LD blocks across thousands of pages per
site (the same Organization/WebSite schema block on every page of a host).
The kernel parse is the pipeline's dominant cost (~80k quads/s/core), so
parsing each *distinct* block exactly once is the single biggest
real-world throughput lever above the per-core kernel plateau. This is
the Spark-shaped analog of the reference processing each document once —
there a crawl driver would deduplicate upstream; here it's an operator.

Mechanics (all post-parse work is JVM-side):

1. key every block by ``md5(block)`` and parse only the DISTINCT blocks,
   under a fixed placeholder base URL (``MEMO_URL``) with ``blk=0``;
2. classify each distinct block as *memoizable* iff its parse is provably
   independent of the base IRI: base-dependence manifests exactly as the
   placeholder's (high-entropy, reserved ``.invalid`` TLD) host appearing
   in an output term — every RFC 3986 resolution against base embeds the
   base's scheme+authority — or as an error (errors may depend on which
   remote context IRI a relative reference resolved to). Blocks whose
   terms contain the placeholder *skolem prefix* anywhere except as a
   bnode-label prefix (quoted triples, pathological literal content) are
   conservatively non-memoizable too, which closes the rewrite's only
   textual-collision hole;
3. join memoizable parses back to the (url, blk) occurrences and rewrite
   the skolem bnode prefix ``_:s{md5(MEMO_URL)[:16]}x0x`` to the real
   ``_:s{md5(url)[:16]}x{blk}x`` — pure string surgery, sound because the
   deterministic skolemizer (functions/to_rdf.skolemize_label) makes
   bnode labels a pure function of (url, blk, local counter);
4. every non-memoizable block falls back to the ordinary per-occurrence
   :func:`..operators.parse.parse_blocks` path (identical output protocol,
   error channel included).

Scale design (100 TB):
- the only new shuffles are keyed on ``md5(block)`` — uniformly
  distributed by construction, never skewed;
- the memo table (distinct blocks' quads) is orders of magnitude smaller
  than the corpus at real-world duplication rates, so AQE broadcasts the
  hit join; at worst it degrades to a shuffle equi-join on bkey;
- the fallback semi-join ships only block *keys*, not payloads.
Cost model: plain parse = O(occurrences) kernel calls; memo parse =
O(distinct) kernel calls + one bkey shuffle. The memo wins whenever the
duplication factor exceeds the (cheap) shuffle overhead.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as ST

from ..functions.context import validate_context_cache
from ..functions.parser import parse_block
from ..functions.to_rdf import skolemize_label
from .parse import parse_blocks

# Reserved-TLD (`.invalid`, RFC 2606) placeholder base: no real crawl URL
# can share its authority, so its host appearing in an output term is an
# unambiguous base-dependence marker.
MEMO_URL = "https://jsonld-memo-placeholder.invalid/base"
MEMO_HOST = "jsonld-memo-placeholder.invalid"
# skolem namespace the placeholder parse emits: 's<md5(MEMO_URL)[:16]>x0'
MEMO_LABEL = skolemize_label(MEMO_URL, 0)
_MEMO_BNODE_PREFIX = "_:" + MEMO_LABEL + "x"

_MEMO_SCHEMA = ST.StructType([
    ST.StructField("bkey", ST.StringType()),
    ST.StructField("subj", ST.StringType()),
    ST.StructField("pred", ST.StringType()),
    ST.StructField("obj", ST.StringType()),
    ST.StructField("graph", ST.StringType()),
    ST.StructField("memoizable", ST.BooleanType()),
])


# Break-even of the memo, measured at sf0.1 with an earlier benchmark
# harness (before kgbench): below ~50x mean duplication the bkey shuffle
# + hit join cost more than the saved kernel calls.
MEMO_BREAK_EVEN_DUPLICATION = 50.0


def should_memoize(blocks: DataFrame,
                   break_even: float = MEMO_BREAK_EVEN_DUPLICATION
                   ) -> tuple[bool, float]:
    """Data-driven memo decision (r7 verdict ask #5): ONE cheap agg over
    the block corpus measures the mean duplication ratio
    ``occurrences / distinct(md5(block))`` and compares it to the
    measured break-even. ``approx_count_distinct`` (HLL++, one pass, no
    distinct shuffle) keeps the pre-pass O(scan); rsd=0.02 pins the
    sketch error to ~2% — the break-even itself is an order-of-magnitude
    threshold, so a 2% estimate cannot flip a non-borderline decision.
    Returns (memoize?, measured_ratio)."""
    row = blocks.agg(
        F.count("*").alias("n"),
        F.approx_count_distinct(F.md5("block"), rsd=0.02).alias("d")).first()
    ratio = row["n"] / max(row["d"], 1)
    return ratio >= break_even, ratio


def _is_memoizable(quads: list[tuple], err: str | None) -> bool:
    if err is not None:
        return False
    for quad in quads:
        for t in quad:
            if MEMO_HOST in t:
                return False  # base-dependent resolution
            if MEMO_LABEL in t and not (
                    t.startswith(_MEMO_BNODE_PREFIX)
                    and MEMO_LABEL not in t[len(_MEMO_BNODE_PREFIX):]):
                # placeholder label anywhere but as THE bnode prefix of a
                # plain bnode term (quoted triples / adversarial content):
                # the JVM rewrite couldn't relabel it soundly -> fallback
                return False
    return True


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
                if not _is_memoizable(quads, err):
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
        c.startswith(_MEMO_BNODE_PREFIX),
        F.concat(new_prefix,
                 c.substr(F.lit(len(_MEMO_BNODE_PREFIX) + 1),
                          F.length(c)))).otherwise(c).alias(col)


def parse_blocks_memo(blocks: DataFrame, ctx_cache: dict | None = None,
                      rdf_direction: str | None = None,
                      parser_options=None) -> DataFrame:
    """Memoized twin of :func:`..operators.parse.parse_blocks` — same
    input (url, blk, block), same output protocol (QUAD_SCHEMA incl. the
    error channel), value-identical results (the ``kg_quads_memo`` lane
    in tests/test_lane_oracles.py is hash-checked against the non-memo
    oracle), one kernel call per DISTINCT block instead of per
    occurrence."""
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

