"""Distinct-block parse memo (operators/memo.py): the memoized parse must
be observationally identical to the per-occurrence parse — across shared
blocks, base-dependent blocks, error blocks and @base-carrying blocks —
while parsing each distinct block only once."""

from __future__ import annotations

from pyspark.sql import functions as F

from jsonld_streaming_parser_js_spark.operators import memo
from jsonld_streaming_parser_js_spark.operators.parse import parse_blocks
from jsonld_streaming_parser_js_spark.sources.pages import (
    CONTEXTS, shared_org_blocks)

SF = "/root/testdata/sf0.001"

ORG = ('{"@context":{"@vocab":"http://schema.org/"},'
       '"@id":"https://ex0.example.org/#org","@type":"Organization",'
       '"name":"Site 0","member":{"name":"Bot 0"}}')
REL_ID = ('{"@context":{"@vocab":"http://schema.org/"},'
          '"@id":"#frag","name":"base-dependent"}')
WITH_BASE = ('{"@context":{"@base":"http://b.org/",'
             '"@vocab":"http://schema.org/"},"@id":"x","name":"based"}')
MALFORMED = '{"@id": broken'


def _mixed_blocks(spark):
    rows = []
    for i in range(6):
        url = f"https://ex{i % 3}.example.org/page/{i}"
        rows.append((url, 0, ORG))          # repeated: memo hits
        rows.append((url, 1, REL_ID))       # base-dependent: fallback
        rows.append((url, 2, WITH_BASE))    # relative ids, own @base: hits
        if i % 2 == 0:
            rows.append((url, 3, MALFORMED))  # error channel: fallback
    return spark.createDataFrame(rows, "url string, blk int, block string")


def test_memo_equals_plain_on_mixed_blocks(spark):
    blocks = _mixed_blocks(spark)
    got = set(map(tuple, memo.parse_blocks_memo(blocks, {}).collect()))
    want = set(map(tuple, parse_blocks(blocks, {}).collect()))
    assert got == want and len(want) > 20
    # base-dependent subjects really differ per url (the memo would have
    # corrupted them had it memoized the placeholder parse)
    frags = {t[2] for t in want if t[2] and t[2].endswith("#frag>")}
    assert len(frags) == 6
    # error rows kept, with the real url
    errs = {t[0] for t in want if t[6] is not None}
    assert len(errs) == 3


def test_memo_classification(spark):
    distinct = spark.createDataFrame(
        [("k1", ORG), ("k2", REL_ID), ("k3", WITH_BASE),
         ("k4", MALFORMED)], "bkey string, block string")
    rows = memo.parse_distinct_blocks(distinct, {}).collect()
    flag = {}
    for r in rows:
        flag.setdefault(r["bkey"], set()).add(r["memoizable"])
    assert flag["k1"] == {True}    # absolute ids + skolemizable bnode
    assert flag["k2"] == {False}   # '#frag' resolved against placeholder
    assert flag["k3"] == {True}    # own @base: base-independent
    assert flag["k4"] == {False}   # parse error -> per-occurrence path
    # placeholder labels never leak: every memoizable bnode term starts
    # with the placeholder prefix the JVM rewrite replaces
    for r in rows:
        if r["memoizable"] and r["subj"] and r["subj"].startswith("_:"):
            assert r["subj"].startswith(memo._MEMO_BNODE_PREFIX)


def test_memo_shared_corpus_parses_each_block_once(spark):
    """7 distinct blocks over 500 pages: the distinct side the kernel
    sees is 7 rows; the joined-back output covers all 500 pages with
    per-(url, blk) skolem labels."""
    blocks = shared_org_blocks(spark, SF).cache()
    distinct = blocks.select(F.md5("block").alias("bkey"), "block") \
        .dropDuplicates(["bkey"])
    assert distinct.count() == 7
    out = memo.parse_blocks_memo(blocks, {}).cache()
    assert out.where(F.col("error").isNotNull()).count() == 0
    # every page contributes 4 quads; bnode labels are per-(url, blk)
    assert out.count() == blocks.count() * 4
    bnodes = (out.where(F.col("subj").startswith("_:"))
              .select("url", "blk", "subj").distinct())
    assert bnodes.count() == blocks.count()
    one = bnodes.first()
    import hashlib
    h = hashlib.md5(one["url"].encode()).hexdigest()[:16]
    assert one["subj"] == f"_:s{h}x{one['blk']}xb0"
    out.unpersist()
    blocks.unpersist()


def test_run_with_resume_memo_twin(spark, tmp_path):
    """The lineage-committed store built with memo=True is quad-for-quad
    identical to the plain-parse store (incl. error rows in lineage)."""
    from jsonld_streaming_parser_js_spark.plans import lineage as lin
    from jsonld_streaming_parser_js_spark.sources.pages import (
        pages_from_documents)
    pages = pages_from_documents(spark, SF)
    outs = {}
    for mode in (False, True):
        out = str(tmp_path / f"memo_{mode}")
        stats = lin.run_with_resume(spark, pages, out, CONTEXTS,
                                    buckets=8, memo=mode)
        rows = set(map(tuple, spark.read.parquet(f"{out}/quads")
                       .select("url", "blk", "subj", "pred", "obj",
                               "graph", "error").collect()))
        outs[mode] = (stats["n_quads"], stats["n_errors"], rows)
    assert outs[False] == outs[True]
    assert outs[True][1] > 0  # error channel present through the memo


def test_should_memoize_picks_by_measured_duplication(spark):
    """The duplication pre-pass: 500 pages / 7 distinct templates (~71x)
    clear the ~50x break-even; the standard pages, where every block
    embeds its url, do not (memo-vs-plain value identity at the store
    level is test_run_with_resume_memo_twin)."""
    from jsonld_streaming_parser_js_spark.operators.extract import (
        extract_blocks)
    from jsonld_streaming_parser_js_spark.sources.pages import (
        pages_from_documents)
    on, ratio = memo.should_memoize(shared_org_blocks(spark, SF))
    assert on and ratio > memo.MEMO_BREAK_EVEN_DUPLICATION
    on, ratio = memo.should_memoize(
        extract_blocks(pages_from_documents(spark, SF)))
    assert not on and ratio < memo.MEMO_BREAK_EVEN_DUPLICATION


def test_memo_pages_twin_matches_plain(spark):
    """The memo parse of the standard pages, deduplicated like the plain
    pages_to_quads, equals it."""
    from jsonld_streaming_parser_js_spark.operators.extract import (
        extract_blocks)
    from jsonld_streaming_parser_js_spark.operators.parse import (
        pages_to_quads, quads_only)
    from jsonld_streaming_parser_js_spark.sources.pages import (
        pages_from_documents)
    pages = pages_from_documents(spark, SF)
    a = set(map(tuple, quads_only(memo.parse_blocks_memo(
        extract_blocks(pages), CONTEXTS)).collect()))
    b = set(map(tuple, pages_to_quads(pages, CONTEXTS).collect()))
    assert a == b and len(a) > 3000
