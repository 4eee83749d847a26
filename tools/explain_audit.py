"""Physical-plan audit: assert the plan shapes that matter at 100 TB.

Writes EXPLAIN.md with the evidence and exits non-zero if any invariant
regresses (a plan-shape unit test, runnable in CI):

- parse pipeline: pages scan pruned; zero quad shuffles (dedup is
  kernel-local) — extract+parse is a narrow fused stage
- commit: one hash Exchange on bucket (one file per bucket); the lineage
  aggregate reuses it
- memo build (``run_with_resume(memo=True)``): the same one fused parse
  stage under the commit's bucket Exchange
- canonical relabel, memo, wave diff and BGP: the join/shuffle shapes
  each relies on
- warm point lookups (url, entity): every query they execute reads only
  its key's partition directories and has no Exchange
"""

from __future__ import annotations

import os
import re
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _shuffles(p: str) -> int:
    """Count REAL data shuffles: hash/range exchanges that are not
    Reused* references. Round-robin exchanges (the small-input
    parallelism floor, operators/parse.ensure_map_parallelism) and
    broadcast exchanges are not corpus shuffles."""
    return sum(1 for ln in p.splitlines()
               if ("Exchange hashpartitioning" in ln
                   or "Exchange rangepartitioning" in ln)
               and "ReusedExchange" not in ln)


def executed_plans(spark, action) -> list[str]:
    """Formatted physical plans of every SQL query ``action()``
    executes, in order, from the session's SQL status store."""
    store = spark._jsparkSession.sharedState().statusStore()

    def executions() -> dict:
        it, found = store.executionsList().iterator(), {}
        while it.hasNext():
            e = it.next()
            found[e.executionId()] = e
        return found

    before = set(executions())
    action()
    # the status store is fed by the listener bus, asynchronously
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return [e.physicalPlanDescription()
            for i, e in sorted(executions().items()) if i not in before]


def _locations(plans: list[str]) -> list[str]:
    """The scanned locations of ``plans``, one entry per scan."""
    return [ln.split("InMemoryFileIndex ", 1)[1]
            for p in plans for ln in p.splitlines()
            if ln.startswith("Location: ")]


def main() -> None:
    from jsonld_streaming_parser_js_spark.operators import (
        canonicalize as canon)
    from jsonld_streaming_parser_js_spark.operators.parse import (
        extract_and_parse, pages_to_quads)
    from jsonld_streaming_parser_js_spark.plans import lineage as lin
    from jsonld_streaming_parser_js_spark.sources.pages import (
        CONTEXTS, pages_from_documents)
    from jsonld_streaming_parser_js_spark.sources.session import get_spark

    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(cores=8)
    spark.sparkContext.setLogLevel("ERROR")

    checks: list[tuple[str, bool, str]] = []
    quads_df = pages_to_quads(pages_from_documents(spark, sf), CONTEXTS)

    def check(name: str, cond: bool, evidence: str) -> None:
        checks.append((name, cond, evidence))

    p = plan_of(quads_df)
    scan_lines = [ln.strip() for ln in p.splitlines() if "FileScan" in ln]
    check("parse: docs scan pruned",
          any("doc_id" in ln and "html" not in ln for ln in scan_lines),
          scan_lines[0][:160] if scan_lines else "no scan")
    # r8: quad dedup moved into the kernel (block-local by construction —
    # the dedup key contains (url, blk), and one block is parsed by one
    # kernel call), so the former corpus-wide dropDuplicates Exchange is
    # gone. The only Exchange that may remain is the ROUND-ROBIN input
    # parallelism floor (ensure_map_parallelism — fires on small inputs
    # only); the quad corpus itself is never shuffled.
    check("parse: zero quad shuffles (dedup is kernel-local)",
          _shuffles(p) == 0,
          f"hash/range Exchange x{_shuffles(p)}, "
          f"total Exchange x{p.count('Exchange')} "
          "(any surplus is the round-robin input floor)")

    # clustered commit: write_bucketed shuffles the parsed rows ONCE,
    # hash-partitioned on bucket (one task, so one file, per bucket), and
    # the lineage aggregate over the same cached rows adds no exchange.
    # The shipped write runs with a recording sink that captures, after
    # the quads land (AQE final plans), the frame handed to the sink and
    # the lineage aggregate over it.
    seen: dict[str, str] = {}

    def recording_sink(sorted_quads, out_dir):
        lin.parquet_quad_sink(sorted_quads, out_dir)
        seen["commit"] = plan_of(sorted_quads)
        seen["lineage"] = plan_of(lin.bucket_lineage(sorted_quads))

    commit_dir = tempfile.mkdtemp(prefix="audit_commit_")
    try:
        lin.write_bucketed(lin.with_bucket(extract_and_parse(
            pages_from_documents(spark, sf), CONTEXTS), 64), commit_dir,
            quad_sink=recording_sink)
    finally:
        shutil.rmtree(commit_dir, ignore_errors=True)
    p_commit = seen["commit"].split("== Initial Plan ==")[0]
    p_lin = seen["lineage"].split("== Initial Plan ==")[0]
    commit_ex = [ln.strip() for ln in p_commit.splitlines()
                 if "Exchange hashpartitioning" in ln]
    commit_key = (re.sub(r"#[0-9]+L?", "", re.search(
        r"hashpartitioning\([^)]*\)", commit_ex[0]).group(0))
        if commit_ex else "none")
    check("commit: ONE hash Exchange on bucket, lineage agg adds none",
          _shuffles(p_commit) == 1 and len(commit_ex) == 1
          and "hashpartitioning(bucket#" in commit_ex[0]
          and _shuffles(p_lin) == _shuffles(p_commit),
          f"commit hash/range Exchange x{_shuffles(p_commit)} "
          f"({commit_key}), lineage x{_shuffles(p_lin)} "
          "(the commit's, cached)")

    # memo build: run_with_resume(memo=True) parses inside the one fused
    # extract+parse stage, so the frame it commits has one MapInArrow, no
    # MapInPandas, no join and no hash/range Exchange but the bucket one
    real_write = lin.write_bucketed
    lin.write_bucketed = (lambda quads, out, snapshot_id="": real_write(
        quads, out, snapshot_id, quad_sink=recording_sink))
    memo_dir = tempfile.mkdtemp(prefix="audit_memo_")
    try:
        lin.run_with_resume(spark, pages_from_documents(spark, sf),
                            memo_dir, CONTEXTS, buckets=64, memo=True)
    finally:
        lin.write_bucketed = real_write
        shutil.rmtree(memo_dir, ignore_errors=True)
    p_memo = seen["commit"].split("== Initial Plan ==")[0]
    n_arrow = p_memo.count("MapInArrow")
    check("memo build: one fused parse stage, no Exchange before bucket's",
          _shuffles(p_memo) == 1 and "hashpartitioning(bucket#" in p_memo
          and n_arrow == 1 and "MapInPandas" not in p_memo
          and "Join" not in p_memo,
          f"hash/range Exchange x{_shuffles(p_memo)} (the bucket one), "
          f"MapInArrow x{n_arrow}, MapInPandas x"
          f"{p_memo.count('MapInPandas')}, Join x{p_memo.count('Join')}")

    # canonical relabel: the mapping join carries NO forced broadcast hint
    # (unbounded at web scale -> OOM risk); the small-mapping case must
    # still broadcast, chosen by AQE at runtime. Execute to finalize AQE.
    q = canon.relabel_quads(quads_df, canon.canonical_mapping(quads_df))
    q.collect()
    p = plan_of(q)
    check("canonical relabel: AQE broadcasts small mapping (no forced hint)",
          "isFinalPlan=true" in p and "BroadcastHashJoin" in p
          and "SortMergeJoin" not in p,
          f"final plan BHJ x{p.count('BroadcastHashJoin')}, SMJ x0; "
          "degrade-to-shuffle proven in "
          "test_relabel_join_degrades_to_shuffle_not_forced_broadcast")

    # distinct-block memo: all joins are equi-joins on the uniform md5
    # bkey (never all-pairs), and at runtime AQE broadcasts the small
    # distinct-parse side of the hit join (executed final plan).
    from jsonld_streaming_parser_js_spark.operators.memo import (
        parse_blocks_memo)
    from jsonld_streaming_parser_js_spark.operators.extract import (
        extract_blocks)
    mdf = parse_blocks_memo(
        extract_blocks(pages_from_documents(spark, sf)), CONTEXTS)
    mdf.collect()
    p = plan_of(mdf).split("== Initial Plan ==")[0]
    check("memo parse: bkey equi-joins, AQE broadcasts distinct side",
          "CartesianProduct" not in p
          and "BroadcastNestedLoopJoin" not in p
          and "BroadcastHashJoin" in p,
          f"BHJ x{p.count('BroadcastHashJoin')}, "
          f"SMJ x{p.count('SortMergeJoin')}, cartesian x0 "
          "(hit join + fallback semi-join, both on md5(block))")

    # wave_diff change feed: O(wave) by plan — (a) the cut expression
    # (the SHIPPED _wave_url_cut, pre-checkpoint) restricts base to the
    # wave's url set with a LeftSemi join; (b) the final diff plan reads
    # the cut from its ONE materialization (ExistingRDD — both EXCEPT
    # legs share it, the store is scanned once per diff) and nothing
    # goes cartesian
    from jsonld_streaming_parser_js_spark.plans.lineage import (
        _wave_url_cut, wave_diff)
    _quads_df = quads_df.localCheckpoint()
    _wave_pages = pages_from_documents(
        spark, sf, doc_filter="doc_id % 3 = 0", name_suffix=" v2")
    _wave_df = pages_to_quads(_wave_pages, CONTEXTS).localCheckpoint()
    _keys = _wave_pages.select("url")
    p_cut = plan_of(_wave_url_cut(_quads_df, _wave_df, wave_keys=_keys))
    p = plan_of(wave_diff(_quads_df, _wave_df, wave_keys=_keys))
    check("wave_diff: semi-join cut, one materialization, no cartesian",
          "LeftSemi" in p_cut and "ExistingRDD" in p
          and "Cartesian" not in p
          and "BroadcastNestedLoopJoin" not in p,
          f"cut LeftSemi x{p_cut.count('LeftSemi')}, final ExistingRDD="
          f"{'ExistingRDD' in p}, cartesian x{p.count('Cartesian')}, "
          f"BNLJ x{p.count('BroadcastNestedLoopJoin')}")

    # BGP over a parquet-backed quad store (the serving path): each
    # pattern leg is its own predicate-pushed scan — every scan's
    # PushedFilters bracket must carry the pred constant (bracket
    # CONTENTS, not substring-after-marker) — and the variable joins
    # never degenerate to a product
    from jsonld_streaming_parser_js_spark.operators import bgp as _bgp
    _bgpd = tempfile.mkdtemp(prefix="audit_bgp_")
    try:
        (quads_df.select("subj", "pred", "obj", "graph")
         .write.mode("overwrite").parquet(_bgpd))
        q = _bgp.bgp_match(spark.read.parquet(_bgpd), [
            ("?a", "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>",
             "<http://schema.org/Article>"),
            ("?a", "<http://schema.org/author>", "?p"),
            ("?p", "<http://schema.org/name>", "?n"),
        ])
        p = plan_of(q)
        brackets = [s.split("]", 1)[0]
                    for s in p.split("PushedFilters: [")[1:]]
        check("bgp: constants pushed to all 3 store scans, no product",
              len(brackets) == 3
              and all("pred" in b for b in brackets)
              and "Cartesian" not in p
              and "BroadcastNestedLoopJoin" not in p,
              f"scans with pred filter "
              f"{sum('pred' in b for b in brackets)}/{len(brackets)}, "
              f"cartesian x{p.count('Cartesian')}, "
              f"BNLJ x{p.count('BroadcastNestedLoopJoin')}")
    finally:
        shutil.rmtree(_bgpd, ignore_errors=True)

    # warm point lookups (the serving path): after one call has cached
    # the lineage and index-meta facts, a url lookup scans only the url's
    # bucket=k directory, and an entity lookup scans one sbucket=s index
    # directory, then only the subject's bucket directories; no query
    # shuffles (the audit store's reads fit in one scan split, so the
    # dedup is one partition). The key's bucket is one
    # more query, over a local relation: no scan and no Spark job.
    from pyspark.sql import functions as F
    from jsonld_streaming_parser_js_spark.plans.pipeline import quads_table
    _lookd = tempfile.mkdtemp(prefix="audit_lookup_")

    def warm_lookup(action) -> tuple[int, list[str], int]:
        """(queries, store-relative scan locations, Exchange count) of
        ``action()`` run a second time, after a first run warmed it."""
        action()
        plans = executed_plans(spark, action)
        return (len(plans),
                [loc.replace(f"file:{_lookd}/", "")
                 for loc in _locations(plans)],
                sum(p.count("Exchange") for p in plans))

    try:
        lin.write_bucketed(lin.with_bucket(extract_and_parse(
            pages_from_documents(spark, sf), CONTEXTS), 64), _lookd)
        lin.write_subject_index(spark, _lookd, 64)
        _url = quads_table(spark, _lookd).first()["url"]
        # the subject referenced from the most documents
        _subj = (quads_table(spark, _lookd)
                 .where(F.col("subj").startswith("<")).groupBy("subj")
                 .agg(F.countDistinct("url").alias("n"))
                 .orderBy(F.desc("n"), "subj").first()["subj"])

        n_q, locs, n_ex = warm_lookup(lambda: lin.read_url_quads(
            spark, _lookd, _url, 64).collect())
        check("url lookup: one bucket path, zero Exchange",
              len(locs) == 1 and "[quads/bucket=" in locs[0]
              and ", " not in locs[0] and n_ex == 0,
              f"queries x{n_q}, scans {locs}, Exchange x{n_ex}")

        got = {}

        def subj_op():
            got["df"] = lin.read_subject_quads(spark, _lookd, _subj)
            return got["df"].collect()

        n_q, locs, n_ex = warm_lookup(subj_op)
        n_buckets = len({r["bucket"] for r in
                         spark.read.parquet(f"{_lookd}/quads")
                         .where(F.col("subj") == _subj)
                         .select("bucket").collect()})
        n_paths = re.findall(r"InMemoryFileIndex\((\d+) paths\)",
                             plan_of(got["df"])
                             .split("== Initial Plan ==")[0])
        check("entity lookup: one sbucket path, then the subject's bucket "
              "paths, zero Exchange",
              len(locs) == 2 and "[subj_index/sbucket=" in locs[0]
              and ", " not in locs[0] and "[quads/bucket=" in locs[1]
              and n_paths == [str(n_buckets)] and n_ex == 0,
              f"queries x{n_q}, index scan {locs[:1]}, store scan "
              f"paths {n_paths} for the subject's {n_buckets} bucket(s), "
              f"Exchange x{n_ex}")
    finally:
        shutil.rmtree(_lookd, ignore_errors=True)

    with open(os.path.join(ROOT, "EXPLAIN.md"), "w") as f:
        f.write("# EXPLAIN audit — physical-plan invariants\n\n")
        f.write("Generated by `python tools/explain_audit.py`; re-run "
                "after plan-affecting changes.\n\n")
        f.write("| invariant | status | evidence |\n|---|---|---|\n")
        for name, ok, ev in checks:
            f.write(f"| {name} | {'PASS' if ok else 'FAIL'} |"
                    f" `{ev}` |\n")
    bad = [c for c in checks if not c[1]]
    for name, ok, ev in checks:
        print(("PASS" if ok else "FAIL"), name, "—", ev)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
