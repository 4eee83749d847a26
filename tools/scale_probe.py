"""Scale probe for the two iterated operators (r7 verdict ask #7).

The EXPLAIN invariants argue the 100x story analytically; this tool
MEASURES it on the sandbox's closest stand-in: the same jobs at
amplified input sizes, recording wall time, total shuffle write bytes
(Spark REST API), and CC iteration counts.

  - ``fuzzy`` leg: the kg_canonical_fuzzy entity corpus amplified by
    replicating documents with disjoint doc_id ranges (every replica is
    a NEW 3-node A-B-C chain — entity count scales linearly, exactly how
    a bigger crawl behaves). amplify=100 at sf0.1 is 1.5M entities /
    18M feature rows.
  - ``pagerank``, ``rdfs``, ``bgp`` legs: the real KG at amplified
    instance counts.

Usage: python tools/scale_probe.py [--fuzzy 1,30,100] [--pagerank 1,10,50]
       [--rdfs 1,10,50] [--bgp 1,10,50]
Every leg is opt-in (no defaults run), so a single-leg invocation
reproduces exactly the one BENCH.md table it names. Prints one JSON
line; BENCH.md quotes it.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _shuffle_write_bytes(spark) -> int:
    """Total shuffle write bytes across all retained stages (REST API),
    ANY status (a failed stage's partial shuffle writes are real bytes).
    Returns -1 when the UI is unreachable. Caveat: the UI retains only
    spark.ui.retainedStages stages (the probe session raises it to
    20000), so per-leg deltas are valid only while no eviction happened
    between the two samples — _delta() nulls a non-monotonic pair
    instead of reporting an undercount."""
    try:
        ui = spark.sparkContext.uiWebUrl
        app = spark.sparkContext.applicationId
        with urllib.request.urlopen(f"{ui}/api/v1/applications/{app}/stages",
                                    timeout=10) as fh:
            stages = json.loads(fh.read())
        return sum(s.get("shuffleWriteBytes", 0) for s in stages)
    except Exception:  # noqa: BLE001 - metrics are best-effort
        return -1


def _delta(sw0: int, sw1: int) -> int | None:
    """sw1-sw0, or None when either sample failed or stage eviction made
    the pair non-monotonic (an undercount must not masquerade as data)."""
    return (sw1 - sw0) if 0 <= sw0 <= sw1 else None


def amplified_entity_quads(spark, sf_dir: str, amplify: int):
    """The _entity_quads corpus from __spark_entry__, amplified: replica
    r gets doc_id' = doc_id + r * 10_000_000, so every replica is a
    fresh disjoint A-B-C chain (linear entity growth, same topology)."""
    from pyspark.sql import functions as F
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id")
            .withColumn("rep", F.explode(
                F.sequence(F.lit(0), F.lit(amplify - 1))))
            .select((F.col("doc_id")
                     + F.col("rep") * F.lit(10_000_000)).alias("doc_id")))
    ent = (docs
           .select("doc_id",
                   F.explode(F.sequence(F.lit(0), F.lit(2))).alias("r"))
           .select("doc_id", "r",
                   F.explode(F.sequence(F.lit(0), F.lit(11))).alias("j")))
    return ent.select(
        F.lit("synthetic://entities").alias("url"),
        F.lit(0).alias("blk"),
        F.concat(F.lit("<http://auth.example.org/e"),
                 F.col("doc_id").cast("string"),
                 F.expr("substr('abc', r + 1, 1)"),
                 F.lit(">")).alias("subj"),
        F.lit("<http://ex.org/feat>").alias("pred"),
        F.concat(F.lit('"t'), F.col("doc_id").cast("string"), F.lit("_"),
                 (F.col("r") * 2 + F.col("j")).cast("string"),
                 F.lit('"')).alias("obj"),
        F.lit("").alias("graph"))


def fuzzy_leg(spark, amplify: int) -> dict:
    from jsonld_streaming_parser_js_spark.operators import (
        canonicalize as canon)
    sw0 = _shuffle_write_bytes(spark)
    cc_stats: dict = {}
    t0 = time.time()
    quads = amplified_entity_quads(spark, SF_DIR, amplify)
    mapping = canon.canonical_mapping_fuzzy(
        quads, min_jaccard=0.6, num_hashes=32, bands=16,
        cc_stats=cc_stats)
    n_mapped = mapping.count()
    wall = time.time() - t0
    sw1 = _shuffle_write_bytes(spark)
    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    return {"amplify": amplify,
            "n_feature_rows": n_docs * 36 * amplify,
            "n_entities": 3 * n_docs * amplify,
            "n_mapped": n_mapped,
            "cc_iterations": cc_stats.get("iterations"),
            "wall_sec": round(wall, 1),
            "shuffle_write_bytes": _delta(sw0, sw1)}


def pagerank_base_edges(spark):
    """The real KG edge list, parsed ONCE and deduped to the simple
    directed pairs pagerank actually iterates (graphalgo dedupes
    internally; counting pre-dedup rows would overstate B/edge).
    localCheckpoint'd so every probe leg amplifies the same
    materialization instead of re-running the parse."""
    from pyspark.sql import functions as F

    import __spark_entry__ as entry

    q = entry._quads(spark, SF_DIR)
    return (q.where(~F.col("obj").startswith('"'))
            .select(F.col("subj").alias("src"),
                    F.col("obj").alias("dst"))
            .dropDuplicates(["src", "dst"])
            .localCheckpoint())


def pagerank_leg(spark, amplify: int, base) -> dict:
    """PageRank at an amplified graph (probe rotation, r7): the real KG
    edge list is replicated with a per-replica node-suffix rename, so
    every replica is a disjoint copy of the real topology — node and
    edge counts grow linearly while degree distribution and diameter
    stay exactly the crawl's. 5 fixed iterations as in the lane; the
    scale claim under test is wall ~ O(edges) per iteration (each
    iteration is one equi-join + one groupBy on uniform node ids)."""
    from pyspark.sql import functions as F

    from jsonld_streaming_parser_js_spark.operators import graphalgo

    edges = (base.withColumn("rep", F.explode(
                 F.sequence(F.lit(0), F.lit(amplify - 1))))
             .select(F.concat("src", F.lit("#r"),
                              F.col("rep").cast("string")).alias("src"),
                     F.concat("dst", F.lit("#r"),
                              F.col("rep").cast("string")).alias("dst")))
    sw0 = _shuffle_write_bytes(spark)
    t0 = time.time()
    pr = graphalgo.pagerank(edges, iterations=5)
    n_nodes = pr.count()
    wall = time.time() - t0
    sw1 = _shuffle_write_bytes(spark)
    return {"amplify": amplify,
            "n_edges": base.count() * amplify,
            "n_nodes": n_nodes,
            "iterations": 5,
            "wall_sec": round(wall, 1),
            "shuffle_write_bytes": _delta(sw0, sw1)}


def _amplify_instance_terms(base, amplify: int):
    """Replicate a quad frame with a per-replica suffix on INSTANCE
    terms only — vocabulary IRIs (schema.org / w3.org), literals, and
    the default-graph label stay intact, so every replica matches the
    same rules/patterns independently. ONE keep-list shared by the
    rdfs and bgp legs (their linearity claims must amplify
    identically)."""
    from pyspark.sql import functions as F

    sfx = F.concat(F.lit("#r"), F.col("rep").cast("string"))

    def rename(col: str):
        keep = (F.col(col).startswith('"')
                | F.col(col).startswith("<http://schema.org/")
                | F.col(col).startswith("<http://www.w3.org")
                | (F.col(col) == F.lit("")))
        return F.when(keep, F.col(col)).otherwise(F.concat(F.col(col), sfx))

    rep = base.withColumn("rep", F.explode(
        F.sequence(F.lit(0), F.lit(amplify - 1))))
    return rep.select(rename("subj").alias("subj"), "pred",
                      rename("obj").alias("obj"),
                      rename("graph").alias("graph"))


def rdfs_leg(spark, amplify: int, base) -> dict:
    """RDFS entailment at an amplified KG: the real quad set is
    replicated with a per-replica suffix on INSTANCE terms only
    (subjects, bnodes, entity objects) while vocabulary IRIs
    (schema.org classes/properties, rdf:/rdfs: terms) and literals are
    left intact — every replica is a disjoint instance graph over the
    SAME ontology, so rule hits (and the inferred fact count) grow
    exactly linearly. The scale claim under test: wall ~ O(quads) —
    the rule legs are broadcast probes over one materialized base and
    the only shuffle is the final dedupe/provenance groupBy on uniform
    quad keys."""
    from jsonld_streaming_parser_js_spark.operators.inference import (
        DEFAULT_ONTOLOGY, rdfs_entailment)

    quads = _amplify_instance_terms(base, amplify)
    sw0 = _shuffle_write_bytes(spark)
    t0 = time.time()
    ent = rdfs_entailment(quads, DEFAULT_ONTOLOGY)
    by_src = dict(ent.groupBy("src").count().collect())
    wall = time.time() - t0
    sw1 = _shuffle_write_bytes(spark)
    return {"amplify": amplify,
            "n_quads_in": base.count() * amplify,
            "n_asserted": by_src.get("asserted", 0),
            "n_inferred": by_src.get("inferred", 0),
            "wall_sec": round(wall, 1),
            "shuffle_write_bytes": _delta(sw0, sw1)}


def bgp_leg(spark, amplify: int, base) -> dict:
    """The three-pattern author conjunction (kg_bgp_query
    shape='authors') at an amplified KG — same instance-term rename as
    rdfs_leg so every replica matches independently. Scale claim under
    test: bindings grow exactly linearly and wall ~ O(quads) — three
    predicate-filtered legs of one materialized store, variable
    equi-joins on uniform term keys (AQE picks the strategy)."""
    from jsonld_streaming_parser_js_spark.operators import bgp as bgpmod

    # DISTINCT like the lane: BGP bag semantics over repeated facts
    # (author names recur per page) would multiply bindings
    # superlinearly — the serving store is the fact SET
    kg = (_amplify_instance_terms(base, amplify)
          .distinct().localCheckpoint())
    sw0 = _shuffle_write_bytes(spark)
    t0 = time.time()
    out = bgpmod.bgp_match(kg, [
        ("?a", "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>",
         "<http://schema.org/Article>"),
        ("?a", "<http://schema.org/author>", "?p"),
        ("?p", "<http://schema.org/name>", "?n"),
    ])
    n_bind = out.count()
    wall = time.time() - t0
    sw1 = _shuffle_write_bytes(spark)
    kg.unpersist()
    return {"amplify": amplify,
            "n_quads_in": base.count() * amplify,
            "n_bindings": n_bind,
            "wall_sec": round(wall, 1),
            "shuffle_write_bytes": _delta(sw0, sw1)}


def main() -> None:
    import argparse
    p = argparse.ArgumentParser()
    p.add_argument("--fuzzy", default="",
                   help="comma-separated amplify values, e.g. 1,30,100")
    p.add_argument("--pagerank", default="",
                   help="comma-separated amplify values, e.g. 1,10,50")
    p.add_argument("--rdfs", default="",
                   help="comma-separated amplify values, e.g. 1,10,50")
    p.add_argument("--bgp", default="",
                   help="comma-separated amplify values, e.g. 1,10,50")
    args = p.parse_args()

    from jsonld_streaming_parser_js_spark.sources.session import get_spark

    spark = get_spark(app="scale-probe",
                      extra_conf={"spark.ui.retainedStages": "20000"})
    spark.sparkContext.setLogLevel("ERROR")

    out: dict = {"sf": SF_DIR, "fuzzy": [], "pagerank": [],
                 "load_avg_1m": round(os.getloadavg()[0], 2)}
    for amp in [int(a) for a in args.fuzzy.split(",") if a]:
        leg = fuzzy_leg(spark, amp)
        out["fuzzy"].append(leg)
        print(f"# fuzzy x{amp}: {leg}", file=sys.stderr)

    pr_amps = [int(a) for a in args.pagerank.split(",") if a]
    if pr_amps:
        pr_base = pagerank_base_edges(spark)
        for amp in pr_amps:
            leg = pagerank_leg(spark, amp, pr_base)
            out["pagerank"].append(leg)
            print(f"# pagerank x{amp}: {leg}", file=sys.stderr)
        pr_base.unpersist()

    rdfs_amps = [int(a) for a in args.rdfs.split(",") if a]
    bgp_amps = [int(a) for a in args.bgp.split(",") if a]
    if rdfs_amps or bgp_amps:
        import __spark_entry__ as entry
        kg_base = (entry._quads(spark, SF_DIR)
                   .select("subj", "pred", "obj", "graph")
                   .localCheckpoint())
        if rdfs_amps:
            out["rdfs"] = []
            for amp in rdfs_amps:
                leg = rdfs_leg(spark, amp, kg_base)
                out["rdfs"].append(leg)
                print(f"# rdfs x{amp}: {leg}", file=sys.stderr)
        if bgp_amps:
            out["bgp"] = []
            for amp in bgp_amps:
                leg = bgp_leg(spark, amp, kg_base)
                out["bgp"].append(leg)
                print(f"# bgp x{amp}: {leg}", file=sys.stderr)
        kg_base.unpersist()

    out["load_avg_1m_end"] = round(os.getloadavg()[0], 2)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
