"""Pipeline-level Spark tests (sf0.001): determinism, byte-identical
extraction, checkpoint-resume, canonicalization, graph views, errors.

Mirrors the reference's end-to-end test layer (SURVEY.md section 5) at the
pipeline granularity the reference doesn't have.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from jsonld_streaming_parser_js_spark.operators.extract import (
    extracted_text)
from jsonld_streaming_parser_js_spark.operators.parse import (
    extract_and_parse, pages_to_quads)
from jsonld_streaming_parser_js_spark.operators import canonicalize as canon
from jsonld_streaming_parser_js_spark.plans import lineage as lin
from jsonld_streaming_parser_js_spark.plans import pipeline as pipe
from jsonld_streaming_parser_js_spark.sources.pages import (
    CONTEXTS, pages_from_documents)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def pages(spark):
    return pages_from_documents(spark, SF).cache()


def test_entry_lanes_and_oracles_pair_up():
    """Every lane in the entry module has a DuckDB oracle and every
    oracle has a lane (no Spark session needed)."""
    import __spark_entry__ as e
    assert set(e.queries()) == set(e.oracle_sql())


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
        want = set(map(tuple, lin.upsert_quads(
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
    CRAWLED url set) the declarative upsert drops their stale quads,
    wave_diff emits them as 'removed', and the physical upsert_wave
    rewrites them out of the bucketed store."""
    base = pages_to_quads(pages, CONTEXTS)
    gone_url = base.select("url").first()["url"]
    empty_wave = base.limit(0)
    keys = spark.createDataFrame([(gone_url,)], "url string")

    # declarative: the url's quads vanish only when keys are passed
    with_keys = lin.upsert_quads(base, empty_wave, wave_keys=keys)
    assert with_keys.where(F.col("url") == gone_url).count() == 0
    without = lin.upsert_quads(base, empty_wave)
    assert without.where(F.col("url") == gone_url).count() > 0

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
    from jsonld_streaming_parser_js_spark.streaming.filesource import (
        write_ordered_slices)

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
        want = set(map(tuple, lin.upsert_quads(
            lin.upsert_quads(base_q, pages_to_quads(wave_a, CONTEXTS),
                             wave_keys=wave_a.select("url")),
            pages_to_quads(wave_b, CONTEXTS),
            wave_keys=wave_b.select("url")).collect()))
        assert got == want
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_quad_sink_swap_is_config_only(spark, pages):
    """Iceberg abstraction contract: the sink is the ONLY format-specific
    step. A recording sink slotted where iceberg_quad_sink would go must
    receive the sorted bucket-partitioned quads BEFORE lineage commits,
    and the lineage/resume/verify machinery must work unchanged over
    whatever the sink wrote."""
    out = tempfile.mkdtemp(prefix="kg_sink_")
    calls = []

    def recording_sink(sorted_quads, out_dir):
        # write parquet like the default, but RECORD the call contract —
        # exactly what iceberg_quad_sink does via writeTo().
        calls.append((sorted_quads.columns, out_dir,
                      os.path.exists(f"{out_dir}/lineage")))
        lin.parquet_quad_sink(sorted_quads, out_dir)

    try:
        s = lin.run_with_resume(spark, pages, out, CONTEXTS, buckets=8,
                                quad_sink=recording_sink)
        assert len(calls) == 1
        cols, out_dir, lineage_existed_before_sink = calls[0]
        assert "bucket" in cols and out_dir == out
        # crash-safety ordering: quads sink FIRST, lineage commit after
        assert not lineage_existed_before_sink
        assert s["buckets_done"] == 8
        assert lin.verify_lineage(spark, out).count() == 0
        # the iceberg sink builds the same one-call contract (no catalog
        # in this container: constructing it must not touch the session)
        assert callable(lin.iceberg_quad_sink("cat.db.quads"))
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


def test_run_in_waves_equals_single_shot(spark, pages):
    out = tempfile.mkdtemp(prefix="kg_waves_")
    try:
        lin.run_in_waves(spark, pages, out, CONTEXTS, buckets=16, waves=3)
        waved = set(map(tuple,
                        pipe.quads_table(spark, out)
                        .select("subj", "pred", "obj", "graph").collect()))
        clean = set(map(tuple,
                        pages_to_quads(pages, CONTEXTS)
                        .select("subj", "pred", "obj", "graph").collect()))
        assert waved == clean
        assert lin.verify_lineage(spark, out).count() == 0
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_canonicalization_merges_site_authors(spark, pages):
    quads = pages_to_quads(pages, CONTEXTS)
    clusters = canon.cluster_summary(quads).collect()
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


def test_graph_views(spark, pages):
    quads = pages_to_quads(pages, CONTEXTS).cache()
    views = pipe.graph_views(quads)
    nodes = views["nodes"]
    kinds = {r["kind"] for r in nodes.select("kind").distinct().collect()}
    assert "iri" in kinds and "literal" in kinds and "bnode" in kinds
    edges = views["edges"]
    assert edges.where(F.col("dst").startswith('"')).count() == 0
    # every edge src appears as a node
    missing = (edges.select(F.col("src").alias("term")).distinct()
               .join(nodes, "term", "left_anti"))
    assert missing.count() == 0
    # degree values: the single-shuffle flag aggregation must equal the
    # naive per-position counts (out = rows as subj, in = rows as obj)
    got = {r["term"]: (r["out_degree"], r["in_degree"])
           for r in nodes.collect()}
    out_c = {r["subj"]: r["n"] for r in
             quads.groupBy("subj").agg(F.count("*").alias("n")).collect()}
    in_c = {r["obj"]: r["n"] for r in
            quads.groupBy("obj").agg(F.count("*").alias("n")).collect()}
    assert set(got) == set(out_c) | set(in_c)
    for term, (o, i) in got.items():
        assert o == out_c.get(term, 0) and i == in_c.get(term, 0)
    # plan shape: exactly ONE shuffle over the term universe, no Union
    # (a union would re-run the upstream parse subtree per branch)
    p = (nodes._jdf.queryExecution().executedPlan().toString()
         .split("== Initial Plan ==")[0])  # AQE repeats the pre-exec plan
    term_ex = [ln for ln in p.splitlines()
               if "Exchange hashpartitioning(term" in ln]
    assert len(term_ex) == 1 and "Union" not in p, p[:2000]
    quads.unpersist()


def test_fuzzy_canonicalization_minhash(spark):
    # coreferent nodes with OVERLAPPING (not identical) feature sets:
    # exact-hash blocking misses these; MinHash-LSH + Jaccard verify links
    # them; an unrelated node stays unlinked.
    rows = []
    feats_a = [f"<http://s.org/f{i}>=\"v{i}\"" for i in range(10)]
    for node, feats in [
        ("<http://a.org/alice>", feats_a),
        ("<http://b.org/alice>", feats_a[:9] + ['<http://s.org/x>="y"']),
        ("<http://c.org/carol>", [f"<http://s.org/g{i}>=\"w{i}\""
                                  for i in range(10)]),
    ]:
        rows.append((node, feats))
    features = spark.createDataFrame(rows, "node string, features array<string>")
    edges = canon.candidate_edges_minhash(features, min_jaccard=0.5)
    got = {(r["src"], r["dst"]) for r in edges.collect()}
    assert ("<http://a.org/alice>", "<http://b.org/alice>") in got
    assert all("carol" not in s and "carol" not in d for s, d in got)
    comps = canon.connected_components(edges).collect()
    labels = {r["node"]: r["component"] for r in comps}
    assert labels["<http://a.org/alice>"] == labels["<http://b.org/alice>"]


def test_fuzzy_canonical_chain_needs_cc_iteration(spark):
    """The kg_canonical_fuzzy corpus (A-B-C chains, J(A,B)=J(B,C)=10/14,
    J(A,C)=0.5 < the 0.6 threshold) must produce a candidate graph of
    diameter >= 2 — i.e. hash-min CC genuinely iterates; a single
    block-min pass would mislabel C. Also checks the mapping equals a
    Python brute-force union-find over the realized edge list."""
    import __spark_entry__ as e

    quads = e._entity_quads(spark, "/root/testdata/sf0.001")
    feats = canon.node_features(quads)
    edges = canon.candidate_edges_minhash(feats, num_hashes=32, bands=16,
                                          min_jaccard=0.6)
    edge_list = [(r["src"], r["dst"]) for r in edges.collect()]
    adj = {}
    for s, d in edge_list:
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    # no A-C shortcut edge anywhere: every chain is a genuine path
    assert edge_list, "no candidate edges realized"
    assert all(not (s[-2] == "a" and d[-2] == "c") for s, d in edge_list)
    # at least one full a-b-c path (diameter 2) exists
    assert any(n.endswith("a>") and any(m.endswith("c>") for nb in adj[n]
                                        for m in adj.get(nb, ()))
               for n in adj), "no 2-hop chain realized"
    # CC output == brute-force union-find ground truth
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, d in edge_list:
        rs, rd = find(s), find(d)
        if rs != rd:
            parent[max(rs, rd)] = min(rs, rd)
    truth = {n: find(n) for n in adj}
    got = {r["node"]: r["component"]
           for r in canon.connected_components(edges).collect()}
    assert got == truth


def test_cc_self_loops_and_duplicate_edges(spark):
    """Caller self-loops and duplicated edges change nothing: one label
    row per node, and the same components as the clean edge list. A
    self-loop-only node labels itself."""
    clean = [("b", "a"), ("c", "b"), ("x", "y"), ("m", "n")]
    noisy = clean + [("b", "a"), ("a", "a"), ("c", "c"), ("q", "q")]
    want = {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x",
            "m": "m", "n": "m"}

    def labels(e):
        rows = canon.connected_components(
            spark.createDataFrame(e, "src string, dst string")).collect()
        assert len(rows) == len({r["node"] for r in rows})
        return {r["node"]: r["component"] for r in rows}

    assert labels(clean) == want
    assert labels(noisy) == {**want, "q": "q"}


def test_hash_min_cc_raises_past_max_iter(spark):
    """A chain longer than max_iter hops must raise, not return partial
    components."""
    edges = spark.createDataFrame(
        [(f"n{i}", f"n{i + 1}") for i in range(8)], "src string, dst string")
    with pytest.raises(RuntimeError, match="did not converge"):
        canon.connected_components(edges, max_iter=3)


def test_fuzzy_cc_diameter_bound(spark, pages):
    """Measured justification for hash-min in fuzzy canonicalization:
    LSH blocking only links near-duplicate feature sets, so
    candidate components have tiny diameters — hash-min converges in a
    handful of rounds on the real corpus."""
    quads = pages_to_quads(pages, CONTEXTS)
    feats = canon.node_features(quads)
    edges = canon.candidate_edges_minhash(feats, min_jaccard=0.5)
    st: dict = {}
    canon.connected_components(edges, stats=st).count()
    assert st["iterations"] <= 5


def test_pagerank_mass_and_authority_ordering(spark):
    """PageRank sanity on a known topology: a hub pointed at by many
    nodes outranks its pointers; total rank mass stays in (0, 1] (no
    dangling redistribution, documented convention); a chain's sink
    accumulates more than its head."""
    from jsonld_streaming_parser_js_spark.operators.graphalgo import (
        pagerank)
    e = ([(f"u{i}", "hub") for i in range(10)]
         + [("a", "b"), ("b", "c")])
    edges = spark.createDataFrame(e, "src string, dst string")
    r = {row["node"]: row["rank"]
         for row in pagerank(edges, iterations=5).collect()}
    assert all(r["hub"] > r[f"u{i}"] for i in range(10))
    assert r["c"] > r["a"]
    assert 0 < sum(r.values()) <= 1.0 + 1e-9
    # parallel-edge dedup convention: duplicated pairs change nothing
    # (rounded: the doubled input can produce a different partial-agg
    # merge tree, so exact fl-sum equality would be last-ulp flaky)
    r2 = {row["node"]: round(row["rank"], 12) for row in
          pagerank(edges.union(edges), iterations=5).collect()}
    assert r2 == {k: round(v, 12) for k, v in r.items()}


def test_pagerank_redistributed_sums_to_one_with_exact_oracle(spark):
    """The dangling-mass redistribution variant (r7 verdict ask #6):
    sink mass is spread uniformly each iteration, so the ranks form the
    canonical probability distribution (sum == 1, vs < 1 under the
    default drop convention), and the DuckDB oracle replays the exact
    computation including the per-iteration dangling-mass CTE."""
    import duckdb
    from jsonld_streaming_parser_js_spark.operators.graphalgo import (
        pagerank, pagerank_oracle_sql)
    # 'hub' and 'c' are dangling sinks; 'z' only dangles after round 1
    e = ([(f"u{i}", "hub") for i in range(6)]
         + [("a", "b"), ("b", "c"), ("a", "z")])
    edges = spark.createDataFrame(e, "src string, dst string")
    pr = pagerank(edges, iterations=4, redistribute_dangling=True)
    rows = pr.select("node", F.round("rank", 6).alias("r6"),
                     "rank").collect()
    assert abs(sum(r["rank"] for r in rows) - 1.0) < 1e-9
    # and the default convention really does lose the sink mass
    pr0 = pagerank(edges, iterations=4).agg(F.sum("rank")).first()[0]
    assert pr0 < 0.9
    values = ", ".join(f"('{s}', '{d}')" for s, d in e)
    sql = pagerank_oracle_sql(
        f"SELECT * FROM (VALUES {values}) AS t(src, dst)",
        iterations=4, redistribute_dangling=True)
    want = dict(duckdb.sql(sql).fetchall())
    assert {r["node"]: r["r6"] for r in rows} == want


def test_minhash_estimator_tracks_true_jaccard(spark):
    """Guards the 2^31-1 modulus choice: with a near-monotone hash family
    (the old 2^61-1 modulus over 31-bit hashes) signature agreement no
    longer estimates Jaccard. 32-hash agreement at true J=10/14 must land
    well inside (J +/- 0.25)."""
    feats_a = [f'<http://s.org/f>="t{i}"' for i in range(12)]
    feats_b = [f'<http://s.org/f>="t{i}"' for i in range(2, 14)]
    features = spark.createDataFrame(
        [("<http://x.org/a>", feats_a), ("<http://x.org/b>", feats_b)],
        "node string, features array<string>")
    edges = canon.candidate_edges_minhash(features, num_hashes=32,
                                          bands=16, min_jaccard=0.6)
    # J = 10/14 = 0.714 -> with a sound family the pair is found with
    # p ~ 1 - (1-J^2)^16 ~ 0.99998; the broken family measured 2/32
    # agreement and found nothing
    assert [(r["src"], r["dst"]) for r in edges.collect()] == [
        ("<http://x.org/a>", "<http://x.org/b>")]


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
    """The kg_strict_errors corpus parses CLEAN in lenient mode (silent
    drops) but trips job-level fail-fast in strict mode — the reference's
    strictValues abort semantics at pipeline altitude."""
    import __spark_entry__ as e
    from jsonld_streaming_parser_js_spark.functions.parser import (
        ParserOptions)
    from jsonld_streaming_parser_js_spark.operators.parse import (
        parse_blocks)

    blocks = e._strict_blocks(spark, "/root/testdata/sf0.001")
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


def test_nquads_roundtrip_adversarial(spark):
    """from_nquads must invert to_nquads on the nastiest legal terms:
    literals containing spaces, '<g>'-shaped text, ' .'-shaped tails and
    bnode-like tails; datatyped/tagged literals; IRI and bnode graph
    labels; default graph. Also checks the engine-parity claim directly:
    DuckDB (RE2) extracts the SAME four groups from the same lines as
    Spark (java.util.regex)."""
    import duckdb

    from jsonld_streaming_parser_js_spark.operators.serialize import (
        NQUADS_STMT_RE, from_nquads, to_nquads)
    rows = [
        ("u", 0, "<s>", "<p>", "<o>", ""),
        ("u", 0, "<s>", "<p>", "<o>", "<g>"),
        ("u", 0, "<s>", "<p>", '"a b"', "_:g"),
        ("u", 0, "<s>", "<p>", '"x _:b"', ""),
        ("u", 0, "<s>", "<p>", '"trap <g> ."', ""),
        ("u", 0, "<s>", "<p>", '"say \\"hi\\" now"', "<g>"),
        ("u", 0, "<s>", "<p>", '"v"^^<http://t>', "<g>"),
        ("u", 0, "<s>", "<p>", '"v"@en-US', ""),
        ("u", 0, "_:b0", "<p>", "_:b1", "_:g2"),
        ("u", 0, "<s>", "<p>", '"ends <g>"', ""),
        ("u", 0, "<s>", "<p>", '"tail _:x"@en', ""),
    ]
    quads = spark.createDataFrame(
        rows, "url string, blk int, subj string, pred string,"
              " obj string, graph string")
    lines = to_nquads(quads)
    parsed = from_nquads(lines)
    got = sorted(tuple(r) for r in
                 parsed.select("subj", "pred", "obj", "graph").collect())
    want = sorted((s, p, o, g) for _, _, s, p, o, g in rows)
    assert got == want
    assert all(r["ok"] for r in parsed.collect())
    # cross-engine regex parity on the identical line strings
    con = duckdb.connect()
    for (line,) in ((r["line"],) for r in lines.collect()):
        dd = con.execute(
            "SELECT regexp_extract($l, $p, 1), regexp_extract($l, $p, 2),"
            " regexp_extract($l, $p, 3), regexp_extract($l, $p, 4)",
            {"l": line, "p": NQUADS_STMT_RE}).fetchone()
        sp = [r for r in got if " ".join(
            [r[0], r[1], r[2]] + ([r[3]] if r[3] else [])) + " ." == line]
        assert sp and tuple(dd) == sp[0], (line, dd, sp)
    # parity also on NON-canonical lines (external whitespace/comment
    # forms and garbage): RE2 and java.util.regex must agree on both
    # the match verdict and every capture
    extern = ["<s>\t<p>\t<o>\t.", "  <s>  <p>  <o> <g> .  ",
              "<s> <p> <o> . # provenance", "foo bar baz .",
              '<s> <p> "unterminated .', '<s> <p> "x" extra .',
              '<s> <p> "trap \\" <g> ."@en .',
              # the \z-vs-$ engine divergence the r7 review caught:
              # java.util.regex lets $ match BEFORE a final \r, RE2
              # does not — \z makes both accept the CR line identically
              "<s> <p> <cr> .\r", "<s> <p> <o> . # c\r", "<s><p><o>."]
    sp_rows = {r["line"]: r for r in from_nquads(
        spark.createDataFrame([(l,) for l in extern], "line string"))
        .collect()}
    for line in extern:
        ok_dd, *dd = con.execute(
            "SELECT regexp_matches($l, $p),"
            " regexp_extract($l, $p, 1), regexp_extract($l, $p, 2),"
            " regexp_extract($l, $p, 3), regexp_extract($l, $p, 4)",
            {"l": line, "p": NQUADS_STMT_RE}).fetchone()
        r = sp_rows[line]
        assert (ok_dd, tuple(dd)) == (
            r["ok"], (r["subj"], r["pred"], r["obj"], r["graph"])), line


def test_from_nquads_error_channel(spark):
    """Blank and comment lines are dropped (the grammar's only
    non-statements); anything else malformed keeps its raw line with
    ok=false instead of poisoning the parse. r7 review hardening: each
    term position is shape-validated, so non-RDF garbage and truncated
    literals are rejected, while spec-legal external forms (tabs,
    multi-space, end-of-line comments) are accepted."""
    from jsonld_streaming_parser_js_spark.operators.serialize import (
        from_nquads)
    lines = spark.createDataFrame(
        [("<s> <p> <o> .",), ("",), ("   ",), ("# comment",),
         ("not a statement",), ("<s> <p> .",),
         # garbage that the old shape-agnostic regex let through
         ("foo bar baz .",), ('<s> <p> "unterminated .',),
         ('<s> <p> "x" extra .',), ("<s> \"notiri\" <o> .",),
         # spec-legal external dump forms (other toolchains emit these)
         ("<s>\t<p>\t<o>\t.",), ("  <s>  <p>  <o> <g> .  ",),
         ("<s> <p> <o> . # provenance comment",),
         ('<s> <p> "a b"@en-US . # trailing',),
         # CRLF dump split on '\n' leaves a trailing \r; tab-blank and
         # tab-indented comment lines are still non-statements
         ("<s> <p> <cr> .\r",), ("\t",), ("\t# tab-indented comment",),
         # documented limit: zero-space self-delimiting form is NOT
         # ingested (separators required for provable engine parity)
         ("<s><p><o>.",)],
        "line string")
    out = from_nquads(lines).collect()
    flags = {r["line"].strip(): r["ok"] for r in out}
    assert flags == {
        "<s> <p> <o> .": True, "not a statement": False,
        "<s> <p> .": False, "foo bar baz .": False,
        '<s> <p> "unterminated .': False, '<s> <p> "x" extra .': False,
        "<s> \"notiri\" <o> .": False,
        "<s>\t<p>\t<o>\t.": True, "<s>  <p>  <o> <g> .": True,
        "<s> <p> <o> . # provenance comment": True,
        '<s> <p> "a b"@en-US . # trailing': True,
        "<s> <p> <cr> .": True, "<s><p><o>.": False}
    by_line = {r["line"].strip(): r for r in out}
    tabbed = by_line["<s>\t<p>\t<o>\t."]
    assert (tabbed["subj"], tabbed["pred"], tabbed["obj"],
            tabbed["graph"]) == ("<s>", "<p>", "<o>", "")
    commented = by_line['<s> <p> "a b"@en-US . # trailing']
    assert (commented["obj"], commented["graph"]) == ('"a b"@en-US', "")


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
