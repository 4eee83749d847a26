"""Pipeline-level Spark tests (sf0.001): determinism, byte-identical
extraction, checkpoint-resume, canonicalization, errors.

Mirrors the reference's end-to-end test layer (SURVEY.md section 5) at the
pipeline granularity the reference doesn't have.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from jsonld_streaming_parser_js_spark.operators.parse import (
    extract_and_parse, pages_to_quads)
from jsonld_streaming_parser_js_spark.operators import canonicalize as canon
from jsonld_streaming_parser_js_spark.plans import lineage as lin
from jsonld_streaming_parser_js_spark.plans import pipeline as pipe
from jsonld_streaming_parser_js_spark.sources.pages import (
    CONTEXTS, pages_from_documents)
from tests.kg_helpers import (
    extracted_text, upsert_quads, write_ordered_slices)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def pages(spark):
    return pages_from_documents(spark, SF).cache()


def test_entry_lanes_and_oracles_pair_up():
    """Every lane in tests/test_lane_oracles.py has a DuckDB oracle and
    every oracle has a lane (no Spark session needed)."""
    from tests.test_lane_oracles import LANES, ORACLES
    assert set(LANES) == set(ORACLES) and len(LANES) == 12


def test_byte_identical_extraction(spark, pages):
    et = extracted_text(pages)
    assert et.where(~F.col("match")).count() == 0
    assert et.count() == 500


def test_deterministic_rerun(spark, pages):
    a = set(map(tuple, pages_to_quads(pages, CONTEXTS).collect()))
    b = set(map(tuple, pages_to_quads(pages, CONTEXTS).collect()))
    assert a == b and len(a) > 3000


def test_error_channel_isolated(spark, pages):
    parsed = extract_and_parse(pages, CONTEXTS)
    errs = parsed.where(F.col("error").isNotNull())
    # doc_id % 17 == 0 -> 30 of 500 docs have one malformed block
    assert errs.count() == 30
    assert errs.select("error").distinct().collect()[0][0] == "invalid json"
    # malformed blocks never produce quad rows
    assert parsed.where(F.col("error").isNotNull()
                        & F.col("subj").isNotNull()).count() == 0


def test_checkpoint_resume(spark, pages):
    out = tempfile.mkdtemp(prefix="kg_resume_")
    try:
        # phase 1: a run that crashed after committing buckets 0-5 (the
        # failure unit is a bucket: quads land, then lineage commits)
        part = lin.with_bucket(pages, 16).where(F.col("bucket") <= 5) \
            .drop("bucket")
        s1 = lin.run_with_resume(spark, part, out, CONTEXTS, buckets=16)
        assert s1["buckets_previously_done"] == 0

        # phase 2: resume over the full corpus
        s2 = lin.run_with_resume(spark, pages, out, CONTEXTS, buckets=16)
        assert s2["buckets_previously_done"] == s1["buckets_done"]
        assert s2["buckets_done"] == 16
        # prior totals + the commit's observed totals == a read-back
        back = (spark.read.parquet(f"{out}/lineage")
                .agg(F.countDistinct("bucket").alias("b"),
                     F.sum("n_quads").alias("q"),
                     F.sum("n_errors").alias("e")).first())
        assert (s2["buckets_done"], s2["n_quads"], s2["n_errors"]) == (
            back["b"], back["q"], back["e"])
        assert s2["n_errors"] > 0

        # clustered commits: one file per bucket, one lineage file per
        # commit
        import glob
        for b in range(16):
            assert len(glob.glob(f"{out}/quads/bucket={b}/*.parquet")) == 1
        assert len(glob.glob(f"{out}/lineage/*.parquet")) == 2

        # result equals a clean single-shot run, quad for quad
        resumed = set(map(tuple,
                          pipe.quads_table(spark, out)
                          .select("subj", "pred", "obj", "graph")
                          .collect()))
        clean = set(map(tuple,
                        pages_to_quads(pages, CONTEXTS)
                        .select("subj", "pred", "obj", "graph")
                        .collect()))
        assert resumed == clean

        # lineage audit: recomputed == recorded for every bucket
        assert lin.verify_lineage(spark, out).count() == 0
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_upsert_wave_rewrites_only_affected_buckets(spark, pages):
    """Physical MERGE: a re-crawl wave touching a subset of urls must
    (a) produce exactly the declarative upsert result and (b) leave
    every untouched bucket partition's files physically unrewritten."""
    import glob
    out = tempfile.mkdtemp(prefix="kg_upsert_")
    try:
        buckets = 16
        parsed = extract_and_parse(pages, CONTEXTS)
        lin.write_bucketed(lin.with_bucket(parsed, buckets), out,
                           snapshot_id="snap-A")

        # wave: re-crawl of doc_id%31==0 pages with changed names
        from jsonld_streaming_parser_js_spark.sources.pages import (
            pages_from_documents)
        wave_pages = pages_from_documents(
            spark, SF, doc_filter="doc_id % 31 = 0", name_suffix=" v2")
        wave_parsed = extract_and_parse(wave_pages, CONTEXTS)
        affected = {r["bucket"] for r in
                    lin.with_bucket(wave_parsed, buckets)
                    .select("bucket").distinct().collect()}
        assert 0 < len(affected) < buckets  # test has teeth both ways

        def file_states(bs):
            return {f: os.stat(f).st_mtime_ns
                    for b in bs
                    for f in glob.glob(f"{out}/quads/bucket={b}/*.parquet")}

        # the lineage as an older release wrote it, with the since-dropped
        # n_urls/n_blocks columns: the compaction must still union it
        legacy = (spark.read.parquet(f"{out}/lineage")
                  .withColumn("n_urls", F.lit(1).cast("long"))
                  .withColumn("n_blocks", F.lit(1).cast("long"))
                  .localCheckpoint())
        legacy.write.mode("overwrite").parquet(f"{out}/lineage")

        untouched = set(range(buckets)) - affected
        before = file_states(untouched)
        lin.upsert_wave(spark, out, wave_parsed, buckets,
                        snapshot_id="snap-A")
        assert file_states(untouched) == before  # no rewrite outside wave
        # each rewritten bucket is one file (the clustered commit path)
        for b in affected:
            assert len(glob.glob(f"{out}/quads/bucket={b}/*.parquet")) == 1

        got = set(map(tuple, (spark.read.parquet(f"{out}/quads")
                              .where(F.col("error").isNull())
                              .select("url", "blk", "subj", "pred",
                                      "obj", "graph").collect())))
        want = set(map(tuple, upsert_quads(
            pages_to_quads(pages, CONTEXTS),
            pages_to_quads(wave_pages, CONTEXTS)).collect()))
        assert got == want
        # the changed names really changed (upsert replaced, not ignored)
        assert any(t[4].endswith(' v2"') for t in got)
        # lineage invariants: compaction leaves exactly ONE row per
        # bucket (re-commit must replace, not append), recorded
        # checksums match a recompute, and a follow-up resume sees all
        # buckets committed without double-counted stats
        lineage = spark.read.parquet(f"{out}/lineage")
        per_bucket = (lineage.groupBy("bucket").count()
                      .where(F.col("count") > 1).count())
        assert per_bucket == 0
        assert lin.verify_lineage(spark, out).count() == 0
        s = lin.run_with_resume(spark, pages, out, CONTEXTS, buckets=16)
        assert s["buckets_previously_done"] == 16
        assert s["n_quads"] == len(got)
        # snapshot guard: a wave from the wrong input snapshot refuses
        with pytest.raises(ValueError, match="snapshot"):
            lin.upsert_wave(spark, out, wave_parsed, buckets,
                            snapshot_id="other-snapshot")
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_wave_diff_change_feed(spark, pages):
    """wave_diff emits exactly the content deltas of a re-crawl: changed
    literals appear as added/removed pairs, unchanged quads of
    re-crawled urls are silent (deterministic skolemization keeps them
    byte-identical), and urls outside the wave contribute nothing."""
    from jsonld_streaming_parser_js_spark.sources.pages import (
        pages_from_documents)
    base = pages_to_quads(pages, CONTEXTS)
    wave_pages = pages_from_documents(
        spark, SF, doc_filter="doc_id % 31 = 0", name_suffix=" v2")
    wave = pages_to_quads(wave_pages, CONTEXTS)
    diff = lin.wave_diff(base, wave).cache()
    try:
        rows = diff.collect()
        assert rows  # the name change must surface
        wave_urls = {r["url"]
                     for r in wave.select("url").distinct().collect()}
        assert {r["url"] for r in rows} <= wave_urls
        added = {tuple(r) for r in rows if r["change"] == "added"}
        removed = {tuple(r) for r in rows if r["change"] == "removed"}
        # every added quad carries the new literal; every removed its twin
        assert added and len(added) == len(removed)
        assert all(t[4].endswith(' v2"') for t in added
                   if t[3].endswith('name>'))
        # the diff is consistent with the declarative upsert: applying
        # removals then additions to the wave-url slice of base yields
        # the wave slice of the upserted store
        base_w = {tuple(r) for r in
                  base.join(wave.select("url").distinct(), "url",
                            "left_semi").collect()}
        got = ((base_w - {t[:-1] for t in removed})
               | {t[:-1] for t in added})
        want = {tuple(r) for r in wave.collect()}
        assert got == want
    finally:
        diff.unpersist()


def test_wave_keys_delete_zero_quad_pages(spark, pages):
    """Deletion-correctness for pages whose re-crawl yields ZERO quads
    (no JSON-LD blocks anymore / parse failure — extract emits nothing,
    so their urls never appear in the wave QUADS): with wave_keys (the
    CRAWLED url set) wave_diff emits their stale quads as 'removed', and
    the physical upsert_wave rewrites them out of the bucketed store."""
    base = pages_to_quads(pages, CONTEXTS)
    gone_url = base.select("url").first()["url"]
    empty_wave = base.limit(0)
    keys = spark.createDataFrame([(gone_url,)], "url string")

    # change feed: every old quad of the url emits as 'removed'
    d = lin.wave_diff(base, empty_wave, wave_keys=keys)
    n_old = base.where(F.col("url") == gone_url).count()
    assert (d.where("change = 'removed'").count() == n_old
            and d.where("change = 'added'").count() == 0)

    # physical: the bucketed store really deletes the url's rows
    out = tempfile.mkdtemp(prefix="kg_zero_upsert_")
    try:
        parsed = extract_and_parse(pages, CONTEXTS)
        lin.write_bucketed(lin.with_bucket(parsed, 8), out,
                           snapshot_id="snap-Z")
        lin.upsert_wave(spark, out, parsed.limit(0), 8,
                        snapshot_id="snap-Z", wave_keys=keys)
        stored = spark.read.parquet(f"{out}/quads")
        assert stored.where(F.col("url") == gone_url).count() == 0
        assert stored.count() > 0  # other urls untouched
        assert lin.verify_lineage(spark, out).count() == 0
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_read_url_quads_prunes_to_one_bucket(spark, pages):
    """Point lookup reads exactly one bucket partition: the plan's
    PartitionFilters carry the bucket equality (so only 1/B of the
    store's directories are listed/read) and the url predicate is
    pushed to parquet; results equal a full-scan filter."""
    out = tempfile.mkdtemp(prefix="kg_lookup_")
    try:
        buckets = 16
        parsed = extract_and_parse(pages, CONTEXTS)
        lin.write_bucketed(lin.with_bucket(parsed, buckets), out,
                           snapshot_id="snap-P")
        url = pages.select("url").first()["url"]
        got = lin.read_url_quads(spark, out, url, buckets)
        plan = got._jdf.queryExecution().executedPlan().toString()
        # assert inside the bracket CONTENTS — a windowed substring
        # would be satisfied by the following metadata sections
        part = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
        pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
        assert "bucket" in part, part
        assert "url" in pushed, pushed
        # only the url's bucket directory is listed, and the one-url
        # dedup runs in one partition: no shuffle
        assert "InMemoryFileIndex(1 paths)" in plan, plan
        assert "/quads/bucket=" in plan, plan
        assert "Exchange" not in plan, plan
        # canonical quad semantics: equals quads_table filtered to the
        # url (error rows excluded, deduplicated)
        from jsonld_streaming_parser_js_spark.plans.pipeline import (
            quads_table)
        want = quads_table(spark, out).where(F.col("url") == url)
        rows = sorted(map(tuple, got.collect()))
        assert rows == sorted(map(tuple, want.collect()))
        assert len(rows) > 0
        # a mismatched modulus fails loudly, never an empty lookup
        with pytest.raises(ValueError, match="bucket"):
            lin.read_url_quads(spark, out, url, buckets * 2)
        # the cached lineage count follows the directory: a store
        # rebuilt at the same path with another modulus is refused
        # for the old one and served for the new one
        shutil.rmtree(out)
        lin.write_bucketed(lin.with_bucket(parsed, buckets // 2), out,
                           snapshot_id="snap-P")
        with pytest.raises(ValueError, match="bucket"):
            lin.read_url_quads(spark, out, url, buckets)
        again = lin.read_url_quads(spark, out, url, buckets // 2)
        assert sorted(map(tuple, again.collect())) == rows
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_subject_index_dereference(spark, pages):
    """Entity dereference never scans the store: the subject index is
    pruned to one sbucket, then only the subject's url-buckets are
    read. Results equal the full-scan canonical answer; a subject
    absent from the KG returns an empty frame with the quad schema."""
    out = tempfile.mkdtemp(prefix="kg_subj_idx_")
    try:
        buckets = 16
        parsed = extract_and_parse(pages, CONTEXTS)
        lin.write_bucketed(lin.with_bucket(parsed, buckets), out,
                           snapshot_id="snap-S")
        lin.write_subject_index(spark, out, buckets)

        from jsonld_streaming_parser_js_spark.plans.pipeline import (
            quads_table)
        # pick a subject that genuinely spans MULTIPLE documents so the
        # multi-url-bucket path is exercised, and prove it
        subj, n_urls = (quads_table(spark, out)
                        .where(F.col("subj").startswith("<"))
                        .groupBy("subj")
                        .agg(F.countDistinct("url").alias("n"))
                        .orderBy(F.desc("n")).first())
        assert n_urls > 1, "fixture lost its cross-page subjects"
        # index read is sbucket-pruned (assert on the pruned index
        # scan's own plan, bracket contents)
        idx = (spark.read.parquet(f"{out}/subj_index")
               .where((F.col("sbucket") == 0) & (F.col("subj") == "x")))
        iplan = idx._jdf.queryExecution().executedPlan().toString()
        ipart = iplan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
        assert "sbucket" in ipart, ipart
        got = lin.read_subject_quads(spark, out, subj)
        plan = got._jdf.queryExecution().executedPlan().toString()
        part = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
        assert "bucket" in part, part
        rows = sorted(map(tuple, got.collect()))
        want = quads_table(spark, out).where(F.col("subj") == subj)
        assert rows == sorted(map(tuple, want.collect()))
        assert len(rows) > 0
        # hub-entity guard raises instead of a driver-side blowup
        with pytest.raises(ValueError, match="point lookup"):
            lin.read_subject_quads(spark, out, subj, max_fanout=1)
        # absent subject: empty result, quad schema, no crash
        miss = lin.read_subject_quads(
            spark, out, "<http://nowhere.example.org/none>")
        assert miss.count() == 0
        assert miss.columns == ["url", "blk", "subj", "pred", "obj",
                                "graph"]
        # the index writer creates an sbucket=k directory only for a k
        # that holds a subject: with far more index buckets than
        # subjects, an absent subject that hashes to a missing
        # directory is still an empty lookup, not a missing-path error
        lin.write_subject_index(spark, out, buckets, 4096)
        present = set(os.listdir(f"{out}/subj_index"))
        miss = next(
            s for s in (f"<http://nowhere.example.org/none{i}>"
                        for i in range(100))
            if f"sbucket={lin._bucket_of(spark, s, 4096)}" not in present)
        got = lin.read_subject_quads(spark, out, miss)
        assert got.count() == 0
        assert got.columns == ["url", "blk", "subj", "pred", "obj",
                               "graph"]
        # a store mutation after the index build must raise STALE, not
        # silently omit the new documents' quads
        wave = extract_and_parse(
            pages.limit(0), CONTEXTS)  # even an EMPTY wave recommits
        lin.upsert_wave(spark, out, wave, buckets, snapshot_id="snap-S",
                        wave_keys=pages.select("url").limit(1))
        with pytest.raises(ValueError, match="STALE"):
            lin.read_subject_quads(spark, out, subj)
    finally:
        shutil.rmtree(out, ignore_errors=True)


def _jobs_run(spark, group: str, action) -> int:
    """Spark jobs that ``action()`` runs, counted in its own job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_point_lookups_run_one_and_two_jobs(spark, pages):
    """Warm point lookups run a fixed, small number of Spark jobs: the
    lineage and index-meta facts come from the cache, the key's bucket
    from a local relation, so a url lookup is its one read and an
    entity lookup is its index read plus its store read. A subject
    absent from the index costs the index read only."""
    out = tempfile.mkdtemp(prefix="kg_jobs_")
    try:
        buckets = 16
        parsed = extract_and_parse(pages, CONTEXTS)
        lin.write_bucketed(lin.with_bucket(parsed, buckets), out)
        lin.write_subject_index(spark, out, buckets)
        url = pages.select("url").first()["url"]
        subj = (pipe.quads_table(spark, out).where(F.col("url") == url)
                .where(F.col("subj").startswith("<"))
                .select("subj").first()["subj"])
        miss = "<http://nowhere.example.org/none>"

        def url_op():
            return lin.read_url_quads(spark, out, url, buckets).collect()

        def subj_op():
            return lin.read_subject_quads(spark, out, subj).collect()

        def miss_op():
            return lin.read_subject_quads(spark, out, miss).collect()

        assert url_op() and subj_op() and not miss_op()  # warm the cache
        assert _jobs_run(spark, "lookup-url", url_op) == 1
        assert _jobs_run(spark, "lookup-subject", subj_op) == 2
        assert _jobs_run(spark, "lookup-miss", miss_op) == 1
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_lookups_past_one_split_keep_parallel_scan(spark, pages):
    """A lookup dedups in one partition only while its directories fit
    in one scan split (``spark.sql.files.maxPartitionBytes``). Past
    that, the scan stays parallel and the dedup shuffles: the plan has
    an Exchange and the rows are the same."""
    out = tempfile.mkdtemp(prefix="kg_split_")
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    try:
        buckets = 16
        parsed = extract_and_parse(pages, CONTEXTS)
        lin.write_bucketed(lin.with_bucket(parsed, buckets), out)
        lin.write_subject_index(spark, out, buckets)
        url = pages.select("url").first()["url"]
        subj = (pipe.quads_table(spark, out).where(F.col("url") == url)
                .where(F.col("subj").startswith("<"))
                .select("subj").first()["subj"])

        def lookups():
            return (lin.read_url_quads(spark, out, url, buckets),
                    lin.read_subject_quads(spark, out, subj))

        small = [sorted(map(tuple, df.collect())) for df in lookups()]
        spark.conf.set(key, "1k")
        for df, want in zip(lookups(), small):
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" in plan, plan
            assert sorted(map(tuple, df.collect())) == want
        assert all(small)
    finally:
        spark.conf.set(key, old)
        shutil.rmtree(out, ignore_errors=True)


def test_streaming_change_feed_composes_wave_diff(spark, pages):
    """Continuous change feed: re-crawl files land as micro-batches and
    each batch emits its wave_diff against the standing store via
    foreachBatch — the streaming x batch-operator composition (same
    pattern as memo x streaming). Because the diff is document-granular
    and batch urls are disjoint, the appended feed must equal the
    one-shot diff of the whole wave."""
    from jsonld_streaming_parser_js_spark.sources.pages import (
        pages_from_documents)
    from jsonld_streaming_parser_js_spark.streaming import stream as strm

    work = tempfile.mkdtemp(prefix="kg_feed_")
    try:
        base = pages_to_quads(pages, CONTEXTS).localCheckpoint()
        wave_pages = pages_from_documents(
            spark, SF, doc_filter="doc_id % 31 = 0", name_suffix=" v2")
        # two disjoint url slices land as separate crawl files
        for i in range(2):
            (wave_pages.where(F.pmod(F.xxhash64("url"), F.lit(2)) == i)
             .write.mode("append").parquet(f"{work}/pages"))
        feed_dir = f"{work}/feed"

        def emit_diff(batch_pages, _bid):
            wave_q = pages_to_quads(batch_pages, CONTEXTS)
            lin.wave_diff(base, wave_q).write.mode("append").parquet(
                feed_dir)

        q = (strm.read_pages_stream(spark, f"{work}/pages",
                                    max_files_per_trigger=1)
             .writeStream.foreachBatch(emit_diff)
             .option("checkpointLocation", f"{work}/ckpt")
             .trigger(availableNow=True).start())
        q.awaitTermination(180)

        got = {tuple(r) for r in spark.read.parquet(feed_dir).collect()}
        want = {tuple(r) for r in lin.wave_diff(
            base, pages_to_quads(wave_pages, CONTEXTS)).collect()}
        assert got == want and got
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_streaming_diff_then_upsert_against_live_store(spark, pages):
    """The full continuous-maintenance loop: each micro-batch emits its
    wave_diff against the CURRENT bucketed store and then upserts the
    store, so a url re-crawled in two waves diffs the second time
    against the FIRST wave's version, not the original — the invariant
    that makes the feed a faithful incremental log. Two waves hit the
    same urls (' v2' then ' v3'); asserted: the second batch removes the
    v2 literals (live-store evidence), and the final store equals the
    declaratively chained upserts."""
    from jsonld_streaming_parser_js_spark.sources.pages import (
        pages_from_documents)
    from jsonld_streaming_parser_js_spark.streaming import stream as strm

    work = tempfile.mkdtemp(prefix="kg_live_feed_")
    out = os.path.join(work, "store")
    try:
        parsed = extract_and_parse(pages, CONTEXTS)
        lin.write_bucketed(lin.with_bucket(parsed, 8), out,
                           snapshot_id="snap-L")
        wave_a = pages_from_documents(
            spark, SF, doc_filter="doc_id % 31 = 0", name_suffix=" v2")
        wave_b = pages_from_documents(
            spark, SF, doc_filter="doc_id % 31 = 0", name_suffix=" v3")
        in_dir = os.path.join(work, "input")
        write_ordered_slices([wave_a, wave_b], work, in_dir)
        feed_dir = os.path.join(work, "feed")
        quad_cols = ["url", "blk", "subj", "pred", "obj", "graph"]

        def diff_then_upsert(batch_pages, bid):
            keys = batch_pages.select("url").distinct().localCheckpoint()
            wave_q = pages_to_quads(batch_pages, CONTEXTS)
            current = (spark.read.parquet(f"{out}/quads")
                       .where(F.col("error").isNull())
                       .select(*quad_cols).dropDuplicates(quad_cols)
                       .localCheckpoint())  # cut BEFORE the overwrite
            (lin.wave_diff(current, wave_q, wave_keys=keys)
             .withColumn("batch", F.lit(int(bid)))
             .write.mode("append").parquet(feed_dir))
            lin.upsert_wave(spark, out,
                            extract_and_parse(batch_pages, CONTEXTS), 8,
                            snapshot_id="snap-L", wave_keys=keys)

        q = (strm.read_pages_stream(spark, in_dir, max_files_per_trigger=1)
             .writeStream.foreachBatch(diff_then_upsert)
             .option("checkpointLocation", os.path.join(work, "ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination(240)

        feed = spark.read.parquet(feed_dir).cache()
        try:
            last_bid = feed.agg(F.max("batch")).first()[0]
            last = feed.where(F.col("batch") == last_bid)
            rem_names = [r["obj"] for r in
                         last.where("change = 'removed'")
                         .where(F.col("pred").endswith('name>')).collect()]
            add_names = [r["obj"] for r in
                         last.where("change = 'added'")
                         .where(F.col("pred").endswith('name>')).collect()]
            # the second diff ran against the LIVE (v2) store
            assert rem_names and all(o.endswith(' v2"')
                                     for o in rem_names)
            assert add_names and all(o.endswith(' v3"')
                                     for o in add_names)
        finally:
            feed.unpersist()

        got = set(map(tuple, (spark.read.parquet(f"{out}/quads")
                              .where(F.col("error").isNull())
                              .select(*quad_cols).dropDuplicates(quad_cols)
                              .collect())))
        # the declarative chain uses the same crawled-url wave_keys as
        # the physical loop, so the equality does not depend on every
        # re-crawled page yielding quads (the zero-quad asymmetry
        # test_wave_keys_delete_zero_quad_pages demonstrates)
        base_q = pages_to_quads(pages, CONTEXTS)
        want = set(map(tuple, upsert_quads(
            upsert_quads(base_q, pages_to_quads(wave_a, CONTEXTS),
                         wave_keys=wave_a.select("url")),
            pages_to_quads(wave_b, CONTEXTS),
            wave_keys=wave_b.select("url")).collect()))
        assert got == want
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_quad_sink_swap_is_config_only(spark, pages):
    """The sink is the ONLY format-specific step of the commit. A
    recording sink passed to write_bucketed must receive the sorted
    bucket-partitioned quads BEFORE lineage commits, and the
    lineage/resume/verify machinery must work unchanged over whatever
    the sink wrote."""
    out = tempfile.mkdtemp(prefix="kg_sink_")
    calls = []

    def recording_sink(sorted_quads, out_dir):
        # write parquet like the default, but RECORD the call contract
        calls.append((sorted_quads.columns, out_dir,
                      os.path.exists(f"{out_dir}/lineage")))
        lin.parquet_quad_sink(sorted_quads, out_dir)

    try:
        commit = lin.write_bucketed(
            lin.with_bucket(extract_and_parse(pages, CONTEXTS), 8), out,
            quad_sink=recording_sink)
        assert len(calls) == 1
        cols, out_dir, lineage_existed_before_sink = calls[0]
        assert "bucket" in cols and out_dir == out
        # crash-safety ordering: quads sink FIRST, lineage commit after
        assert not lineage_existed_before_sink
        assert commit["buckets"] == 8
        assert lin.verify_lineage(spark, out).count() == 0
        s = lin.run_with_resume(spark, pages, out, CONTEXTS, buckets=8)
        assert s["buckets_previously_done"] == 8
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_resume_skips_completed_buckets(spark, pages):
    out = tempfile.mkdtemp(prefix="kg_resume2_")
    try:
        lin.run_with_resume(spark, pages, out, CONTEXTS, buckets=8)
        s = lin.run_with_resume(spark, pages, out, CONTEXTS, buckets=8)
        assert s["buckets_previously_done"] == 8  # nothing reprocessed
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_run_in_waves_equals_single_shot(spark, pages, monkeypatch):
    """Waves commit through run_with_resume, plain or memoized: each
    wave makes one extract_and_parse call carrying the memo flag, and
    either way the store equals the single-shot parse."""
    from jsonld_streaming_parser_js_spark.operators import parse
    memo_flags = []
    real_parse = parse.extract_and_parse

    def recording_parse(*args, memo=False, **kwargs):
        memo_flags.append(memo)
        return real_parse(*args, memo=memo, **kwargs)

    clean = set(map(tuple,
                    pages_to_quads(pages, CONTEXTS)
                    .select("subj", "pred", "obj", "graph").collect()))
    monkeypatch.setattr(parse, "extract_and_parse", recording_parse)
    for use_memo in (False, True):
        out = tempfile.mkdtemp(prefix="kg_waves_")
        try:
            lin.run_in_waves(spark, pages, out, CONTEXTS, buckets=16,
                             waves=3, memo=use_memo)
            assert memo_flags == [use_memo] * 3
            memo_flags.clear()
            waved = set(map(tuple,
                            pipe.quads_table(spark, out)
                            .select("subj", "pred", "obj", "graph")
                            .collect()))
            assert waved == clean
            assert lin.verify_lineage(spark, out).count() == 0
        finally:
            shutil.rmtree(out, ignore_errors=True)


def test_map_parallelism_probe_runs_no_job(spark, tmp_path):
    """ensure_map_parallelism decides without executing anything: on a
    join-rooted frame (a resume's broadcast anti-join) it launches no
    Spark job and returns the frame as it is; on a one-partition scan
    the floor still fires and adds its round-robin Exchange."""
    from jsonld_streaming_parser_js_spark.operators.parse import (
        ensure_map_parallelism)
    path = str(tmp_path / "one_file")
    (spark.range(2000).selectExpr("CAST(id AS STRING) AS url")
     .coalesce(1).write.parquet(path))
    scan = spark.read.parquet(path)
    assert scan.rdd.getNumPartitions() == 1
    spark.createDataFrame([(0,), (3,)], "bucket long").write.parquet(
        str(tmp_path / "done"))
    done = spark.read.parquet(str(tmp_path / "done"))
    joined = (lin.with_bucket(scan, 8)
              .join(F.broadcast(done), "bucket", "left_anti"))
    sc = spark.sparkContext
    sc.setJobGroup("map-parallelism-probe", "probe")
    try:
        probed = ensure_map_parallelism(joined, factor=2)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(
        "map-parallelism-probe") == []
    assert probed is joined
    floored = ensure_map_parallelism(scan, factor=2)
    plan = floored._jdf.queryExecution().executedPlan().toString()
    assert "RoundRobinPartitioning" in plan, plan
    assert floored.rdd.getNumPartitions() >= 2


def test_canonicalization_merges_site_authors(spark, pages):
    from tests.test_lane_oracles import cluster_summary
    quads = pages_to_quads(pages, CONTEXTS)
    clusters = cluster_summary(quads).collect()
    # 50 author entities, each minted under 7 site-local IRIs
    assert len(clusters) == 50
    assert all(r["n_members"] == 7 for r in clusters)
    # relabeling rewrites every non-canonical author IRI
    mapping = canon.canonical_mapping(quads)
    relabeled = canon.relabel_quads(quads, mapping)
    authors = (relabeled.where(F.col("pred") == "<http://schema.org/author>")
               .select("obj").distinct())
    assert authors.count() == 50


def _final_plan(df) -> str:
    """Execute the DataFrame's own plan so AQE finalizes, then return the
    executed-plan string (contains the runtime-chosen join strategies)."""
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_relabel_join_broadcasts_small_mapping(spark, pages):
    """No forced broadcast hint in relabel_quads — but a SMALL mapping must
    still end up broadcast at runtime (AQE converts the post-shuffle join
    under spark.sql.adaptive.autoBroadcastJoinThreshold)."""
    quads = pages_to_quads(pages, CONTEXTS)
    plan = _final_plan(canon.relabel_quads(quads, canon.canonical_mapping(quads)))
    assert "isFinalPlan=true" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_relabel_join_degrades_to_shuffle_not_forced_broadcast(spark, pages):
    """A mapping above the broadcast threshold must fall back to a shuffle
    join (graceful at web scale), never a forced broadcast (driver OOM).
    Simulated by disabling both static and adaptive thresholds — if any
    F.broadcast hint crept back into relabel_quads, the hint would override
    these configs and this test would see a BroadcastHashJoin."""
    quads = pages_to_quads(pages, CONTEXTS)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _final_plan(
            canon.relabel_quads(quads, canon.canonical_mapping(quads)))
        assert "BroadcastHashJoin" not in plan
        assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan)
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def test_aqe_skew_join_split_fires(spark):
    """The AQE path: a hot-key sort-merge join whose final adaptive plan
    shows the optimizer split the skewed partition
    (SortMergeJoin(skew=true) + 'AQEShuffleRead ... skewed').

    The join is sized to trigger the split on a local session: half of
    the rows share key 0, broadcast is disabled and the skew thresholds
    are lowered. Skew splitting itself stays enabled by the session
    defaults (sources/session.py)."""
    n_rows, n_keys = 400_000, 997
    fact = (spark.range(n_rows)
            .select(F.when(F.pmod("id", F.lit(2)) == 0, F.lit(0))
                    .otherwise(F.pmod("id", F.lit(n_keys))).alias("k"),
                    F.col("id").alias("v"),
                    F.md5(F.col("id").cast("string")).alias("pad")))
    dim = (spark.range(n_keys)
           .select(F.col("id").alias("k"),
                   F.md5(F.col("id").cast("string")).alias("attr")))
    joined = fact.join(dim, "k").groupBy().agg(F.count("*").alias("n"))
    configs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
            "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }
    for k, v in configs.items():
        spark.conf.set(k, v)
    try:
        [row] = joined.collect()
        assert row["n"] == 400_000  # every fact row joined exactly once
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k in configs:
            spark.conf.unset(k)


def test_extraction_tag_variants():
    from jsonld_streaming_parser_js_spark.operators.extract import (
        extract_blocks_from_html)
    html = (b'<html><script id="a" type="application/ld+json" async>{"x":1}'
            b"</script>"
            b"<script type='application/ld+json'>{\"y\":2}</script>"
            b'<SCRIPT TYPE="APPLICATION/LD+JSON">{"z":3}</SCRIPT>'
            b'<script type = "application/ld+json">{"w":4}</script>'
            b'<script type="text/javascript">ignore()</script></html>')
    assert extract_blocks_from_html(html) == [
        '{"x":1}', '{"y":2}', '{"z":3}', '{"w":4}']


def test_extraction_non_utf8_replaced():
    from jsonld_streaming_parser_js_spark.operators.extract import (
        extract_blocks_from_html)
    html = (b'<script type="application/ld+json">{"a":"\xff\xfe"}</script>')
    blocks = extract_blocks_from_html(html)
    assert len(blocks) == 1 and blocks[0].startswith('{"a":"')


def test_strict_mode_fails_fast(spark, pages):
    parsed = extract_and_parse(pages, CONTEXTS)
    with pytest.raises(ValueError, match="strict mode"):
        pipe.assert_no_errors(parsed)
    clean = parsed.where(F.col("error").isNull())
    pipe.assert_no_errors(clean)  # no raise


def test_strict_values_driver_lane_fail_fast(spark):
    """The strict-mode corpus of the kg_error_channels lane parses CLEAN
    in lenient mode (silent drops) but trips job-level fail-fast in
    strict mode — the reference's strictValues abort semantics at
    pipeline altitude."""
    from jsonld_streaming_parser_js_spark.functions.parser import (
        ParserOptions)
    from jsonld_streaming_parser_js_spark.operators.parse import (
        parse_blocks)
    from tests.test_lane_oracles import strict_blocks

    blocks = strict_blocks(spark)
    lenient = parse_blocks(blocks, CONTEXTS)
    pipe.assert_no_errors(lenient)  # no raise: drops, not errors
    strict = parse_blocks(blocks, CONTEXTS,
                          parser_options=ParserOptions(strict_values=True))
    with pytest.raises(ValueError, match="strict mode"):
        pipe.assert_no_errors(strict)


def test_rdf_direction_plumbed_through_pipeline(spark):
    # a page whose block carries @direction must honor the configured
    # rdfDirection all the way through the distributed pipeline
    import json as _json
    block = _json.dumps({"@context": {"@language": "ar", "@direction": "rtl"},
                         "@id": "http://ex.org/s", "http://ex.org/p": "v"})
    html = ('<script type="application/ld+json">' + block
            + "</script>").encode()
    pages_df = spark.createDataFrame(
        [("http://site.org/p1", html)], "url string, html binary")
    out = tempfile.mkdtemp(prefix="kg_dir_")
    try:
        lin.run_with_resume(spark, pages_df, out, {}, buckets=2,
                            rdf_direction="i18n-datatype")
        objs = [r["obj"] for r in
                spark.read.parquet(f"{out}/quads").collect()]
        assert any("i18n#ar_rtl" in (o or "") for o in objs), objs
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_resume_refuses_snapshot_mismatch(spark, pages):
    out = tempfile.mkdtemp(prefix="kg_snap_")
    try:
        lin.run_with_resume(spark, pages, out, CONTEXTS, buckets=4,
                            snapshot_id="v1")
        with pytest.raises(ValueError, match="resume refused"):
            lin.run_with_resume(spark, pages, out, CONTEXTS, buckets=4,
                                snapshot_id="v2")
        # same snapshot resumes fine
        s = lin.run_with_resume(spark, pages, out, CONTEXTS, buckets=4,
                                snapshot_id="v1")
        assert s["buckets_previously_done"] == 4
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_quads_files_clustered_by_pred(spark, pages):
    out = tempfile.mkdtemp(prefix="kg_sort_")
    try:
        lin.run_with_resume(spark, pages, out, CONTEXTS, buckets=2)
        import glob
        import pyarrow.parquet as pq
        f = sorted(glob.glob(f"{out}/quads/bucket=*/*.parquet"))[0]
        preds = [p for p in pq.read_table(f, columns=["pred"])
                 .column("pred").to_pylist() if p is not None]
        assert preds == sorted(preds), "pred column not clustered in file"
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_malformed_cached_context_fails_at_driver(spark, pages):
    """A bad broadcast-cache entry must fail ONCE at plan-build time on the
    driver (context pre-validation), not per-block inside executors."""
    import pytest
    from jsonld_streaming_parser_js_spark.functions.context import (
        JsonLdError)
    from jsonld_streaming_parser_js_spark.operators.parse import (
        extract_and_parse)
    bad_cache = {"https://kg.example.org/ctx/v1": "not a context document"}
    with pytest.raises(JsonLdError) as exc:
        extract_and_parse(pages, bad_cache)  # plan build, no action run
    assert exc.value.code == "invalid remote context"


def test_lineage_schema_drift_raises_not_silently_first_run(spark, tmp_path):
    """Unreadable/incompatible lineage must raise, not disable the
    snapshot-mixing guard by classifying as 'first run'."""
    import pytest
    from jsonld_streaming_parser_js_spark.plans import lineage as L
    out = str(tmp_path / "out")
    # a lineage dir written WITHOUT a snapshot_id column (schema drift)
    spark.range(3).selectExpr("id AS bucket", "id AS n_quads") \
        .write.parquet(f"{out}/lineage")
    with pytest.raises(Exception):
        L.check_snapshot(spark, out, "snap-2")
    # and a genuinely absent dir is still a clean first run
    assert L.check_snapshot(spark, str(tmp_path / "fresh"), "snap-2") is None


def test_ndjson_blocks_line_numbering_and_blanks(spark):
    from jsonld_streaming_parser_js_spark.operators.extract import (
        ndjson_blocks)
    docs = spark.createDataFrame(
        [("u1", '{"a":1}\n\n{"b":2}\n')], "url string, body string")
    rows = {(r["blk"], r["block"])
            for r in ndjson_blocks(docs).collect()}
    # blank lines dropped; blk keeps the ORIGINAL line number
    assert rows == {(0, '{"a":1}'), (2, '{"b":2}')}
    # CRLF dumps: \r must not leak into blocks or survive as blank lines
    crlf = spark.createDataFrame(
        [("u2", '{"a":1}\r\n\r\n{"b":2}\r\n')], "url string, body string")
    rows = {(r["blk"], r["block"]) for r in ndjson_blocks(crlf).collect()}
    assert rows == {(0, '{"a":1}'), (2, '{"b":2}')}


def test_pages_to_quads_dedup_is_kernel_local(spark):
    """r8 optimization guard: pages_to_quads no longer pays a corpus-wide
    dropDuplicates Exchange — duplicates are collapsed inside the kernel,
    which is sufficient because the dedup key contains (url, blk) and one
    block is parsed by exactly one kernel call. A block that EMITS
    duplicate quads (JSON-LD set semantics: a repeated array value) must
    still come out distinct, and the plan must be a single narrow stage."""
    from pyspark.sql import functions as F

    html = ('<html><head><script type="application/ld+json">'
            '{"@id": "http://ex.org/s",'
            ' "http://ex.org/p": ["dup", "dup", "other"]}'
            "</script></head><body></body></html>")
    pg = spark.createDataFrame([("http://ex.org/page", html)],
                               "url string, html string") \
        .select("url", F.encode("html", "UTF-8").alias("html"))
    out = pages_to_quads(pg, {})
    rows = [tuple(r) for r in out.collect()]
    # the duplicate emission collapsed; full output distinct
    assert sorted(rows) == sorted(set(rows)) and len(rows) == 2
    objs = sorted(r[4] for r in rows)
    assert objs == ['"dup"', '"other"']
    # plan shape: zero hash/range Exchange end to end — the quad corpus
    # is never shuffled (the r8 win this test pins). A round-robin
    # Exchange below the kernel is allowed: that is the small-input
    # parallelism floor (ensure_map_parallelism), not a corpus shuffle.
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan \
        and "Exchange rangepartitioning" not in plan, plan[:1500]
    # and the kernel dedup matches what the old global dropDuplicates
    # computed on the standard corpus: re-deduping is a no-op
    pages = pages_from_documents(spark, SF)
    q = pages_to_quads(pages, CONTEXTS)
    assert q.count() == q.dropDuplicates(
        ["url", "blk", "subj", "pred", "obj", "graph"]).count()
