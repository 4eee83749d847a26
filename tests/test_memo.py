"""Block memos: the in-worker memo of the parse stage
(``extract_and_parse(memo=True)``, the build's) and the shuffle memo
(operators/memo.py). Each must be observationally identical to the
per-occurrence parse — across shared blocks, base-dependent blocks,
error blocks, quoted triples and @base-carrying blocks — while parsing
each distinct block only once."""

from __future__ import annotations

from collections import Counter

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from jsonld_streaming_parser_js_spark.functions import parser
from jsonld_streaming_parser_js_spark.operators import memo
from jsonld_streaming_parser_js_spark.operators.parse import (
    extract_and_parse, parse_blocks)
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
# JSON-LD-star: bnodes inside a quoted triple are never memoized
QUOTED = ('{"@id":{"@id":"_:e","http://e.org/p":"o"},'
          '"http://e.org/q":{"@id":"_:f","http://e.org/r":"v"}}')
ZERO_QUADS = '{"@context":{"@vocab":"http://schema.org/"}}'
MEMO_BLOCKS = (ORG, REL_ID, WITH_BASE, MALFORMED, QUOTED, ZERO_QUADS)


def _html(blocks) -> str:
    return "".join(f'<script type="application/ld+json">{b}</script>'
                   for b in blocks)


@settings(max_examples=10, deadline=None, derandomize=True)
@given(st.lists(st.lists(st.sampled_from(MEMO_BLOCKS), min_size=1,
                         max_size=4), min_size=1, max_size=5))
def test_memo_stage_equals_plain_as_multisets(spark, page_blocks):
    """The build's memo (extract_and_parse(memo=True)) gives the rows of
    the per-occurrence parse as a MULTISET on all seven columns: each
    drawn page repeats on three hosts, and one page carries every drawn
    block twice (repeats inside one partition, at other blk)."""
    rows = [(f"https://ex{h}.example.org/page/{i}", _html(blocks))
            for i, blocks in enumerate(page_blocks) for h in range(3)]
    every = [b for blocks in page_blocks for b in blocks]
    rows.append(("https://ex9.example.org/all", _html(every + every)))
    pages = spark.createDataFrame(rows, "url string, html string")
    got, want = (Counter(map(tuple, extract_and_parse(
        pages, {}, memo=use_memo).collect())) for use_memo in (True, False))
    assert got == want


def test_memo_kernel_parses_each_block_once_and_is_bounded(monkeypatch):
    """parse_block_memo: one placeholder parse per distinct block, a
    per-occurrence parse for base-dependent ones, and the memo never
    holds more than MEMO_MAX_BLOCKS entries."""
    calls = Counter()
    real = parser.parse_block

    def counting(block, url, *args, **kwargs):
        calls[block, url == parser.MEMO_URL] += 1
        return real(block, url, *args, **kwargs)

    monkeypatch.setattr(parser, "parse_block", counting)
    seen: dict = {}
    for i in range(5):
        for blk, block in enumerate((ORG, REL_ID)):
            parser.parse_block_memo(seen, block, f"https://a.org/{i}", blk)
    assert calls == {(ORG, True): 1, (REL_ID, True): 1, (REL_ID, False): 5}
    monkeypatch.setattr(parser, "MEMO_MAX_BLOCKS", 2)
    for block in MEMO_BLOCKS:
        parser.parse_block_memo(seen, block, "https://a.org/x", 0)
        assert len(seen) <= 2


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
            assert r["subj"].startswith(memo.MEMO_BNODE_PREFIX)


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
    """The lineage-committed store built with memo=True is row-for-row
    identical to the plain-parse store, compared as multisets (the
    lineage checksum xors quads, so it cannot see a lost duplicate)."""
    from jsonld_streaming_parser_js_spark.plans import lineage as lin
    from jsonld_streaming_parser_js_spark.sources.pages import (
        pages_from_documents)
    pages = pages_from_documents(spark, SF)
    outs = {}
    for mode in (False, True):
        out = str(tmp_path / f"memo_{mode}")
        stats = lin.run_with_resume(spark, pages, out, CONTEXTS,
                                    buckets=8, memo=mode)
        rows = Counter(map(tuple, spark.read.parquet(f"{out}/quads")
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
