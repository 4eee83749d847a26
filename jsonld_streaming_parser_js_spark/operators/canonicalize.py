"""Entity canonicalization: merge coreferent ``@id`` nodes.

north-star pipeline stage: different pages mint different IRIs for the same
real-world entity (site-local author pages, etc.). We merge them with the
standard large-scale ER recipe (cf. PAPERS.md SparkER / BTS):

1. **Feature sets** per node: the set of (pred, literal-object) pairs.
2. **Candidate blocking**: MinHash-LSH over the feature set -> candidate
   edges. (For exact-duplicate feature sets a plain hash-block equi-join is
   used — cheaper and deterministic; LSH kicks in for fuzzy matches.)
3. **Connected components** over the candidate edge list via hash-min
   label propagation: iterated self-joins on a DataFrame edge list,
   converging in O(component diameter) rounds; each round is one shuffle
   keyed on node.
4. **Relabel**: every node maps to its component's lexicographically
   smallest member; an equi-join rewrites subj/obj in the quads table.

Scale notes: the edge list is tiny relative to quads (only nodes sharing a
block key); the CC loop uses ``localCheckpoint`` every few rounds to
truncate lineage; the final relabel join broadcasts when the mapping is
small, else shuffles on the join key with AQE skew split.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def node_features(quads: DataFrame) -> DataFrame:
    """Feature set per IRI node: sorted distinct 'pred=obj' strings over
    literal-valued properties (names, labels...)."""
    lit_quads = (quads
                 .where(F.col("obj").startswith('"'))
                 .where(F.col("subj").startswith("<")))
    return (lit_quads
            .groupBy(F.col("subj").alias("node"))
            .agg(F.array_sort(F.collect_set(
                F.concat_ws("=", "pred", "obj"))).alias("features")))


def candidate_edges_exact(features: DataFrame) -> DataFrame:
    """Blocking by identical feature-set hash -> candidate edges (a, b).

    Edges form a STAR to the block's minimum node, not all pairs: a
    boilerplate block of m nodes yields m-1 edges instead of m(m-1)/2
    (identical connected components, linear shuffle). The min-node
    aggregation is algebraic -> map-side combined, skew-free.
    """
    blocked = features.select(
        "node", F.md5(F.concat_ws("\x1f", "features")).alias("blk_key"))
    mins = (blocked.groupBy("blk_key")
            .agg(F.min("node").alias("dst")))
    return (blocked.join(mins, "blk_key")
            .where(F.col("node") != F.col("dst"))
            .select(F.col("node").alias("src"), "dst"))


# Mersenne prime 2^31-1: with 31-bit token hashes, a*h+b (< 2^62, fits
# BIGINT/uint64) wraps the modulus ~2^31 times, so h -> (a*h+b) mod p mixes
# like a random permutation. A LARGER modulus (2^61-1) would be a real bug
# here: the map would wrap at most twice, staying piecewise-monotone in h,
# so set-minima would track raw-hash minima and MinHash agreement would no
# longer estimate Jaccard (observed: 2/32 agreement at true J=0.71).
_MERSENNE = (1 << 31) - 1


def minhash_params(num_hashes: int):
    """The (a, b) universal-hash constants for the node-feature MinHash.

    Module-level so the DuckDB correctness oracle can inline the SAME
    constants as SQL literals (the kg_canonical_fuzzy oracle recomputes
    signatures + banding + Jaccard + connected components end-to-end).
    """
    import numpy as np

    rng = np.random.RandomState(7)
    a = rng.randint(1, _MERSENNE, size=num_hashes).astype(np.uint64)
    b = rng.randint(0, _MERSENNE, size=num_hashes).astype(np.uint64)
    return a, b


def candidate_edges_minhash(features: DataFrame, num_hashes: int = 32,
                            bands: int = 8,
                            min_jaccard: float = 0.5) -> DataFrame:
    """Fuzzy candidate blocking: MinHash-LSH over the node feature set.

    Catches coreferent nodes whose feature sets overlap but are not
    identical (exact-hash blocking misses those). Signature -> banded
    bucket join (equi-join; AQE splits skewed buckets) -> verify by exact
    Jaccard on the feature arrays (JVM-side array_intersect/union).
    """
    import hashlib

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as ST
    from collections.abc import Iterator

    rows = num_hashes // bands
    mersenne = _MERSENNE
    a, b = minhash_params(num_hashes)

    # NOTE (r8, measured): the static plan duplicates the feature/sig
    # subtrees across the self-join sides, but AQE reuses the identical
    # shuffle stages at runtime (stage-level evidence: the feature
    # aggregation executes once per run), so caching here bought nothing
    # and its materialization barriers + the AQE-less cached-plan
    # partitioning made cold runs ~3x slower — deliberately NOT cached.

    schema = ST.StructType([
        ST.StructField("node", ST.StringType()),
        ST.StructField("sig", ST.ArrayType(ST.LongType())),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            sigs = []
            for feats in batch["features"]:
                if len(feats) == 0:
                    sigs.append([0] * num_hashes)
                    continue
                hv = np.array(
                    [int.from_bytes(hashlib.md5(f.encode()).digest()[:4],
                                    "big") & 0x7FFFFFFF for f in feats],
                    dtype=np.uint64)
                m = (hv[None, :] * a[:, None] + b[:, None]) % mersenne
                sigs.append([int(x) for x in m.min(axis=1)])
            yield pd.DataFrame({"node": batch["node"], "sig": sigs})

    sigs = (features.select("node", "features")
            .mapInPandas(run, schema))
    banded = sigs.select(
        "node",
        F.posexplode(F.array(*[
            F.md5(F.concat_ws(",", *[
                F.col("sig")[band * rows + r].cast("string")
                for r in range(rows)]))
            for band in range(bands)])).alias("band", "bucket"))
    # The bands and features relations are CORPUS-SIZED by construction,
    # so they must never be broadcast off a STATIC size estimate:
    # generated lineages (explode over a small scan — how entity corpora
    # and array-expansion pipelines look) propagate tiny sizeInBytes
    # through Catalyst, and the static planner then plans BuildRight
    # broadcasts of relations that are actually millions of rows — the r7
    # amplify=100 scale probe OOM'd the driver exactly this way
    # (BENCH.md "Scale probe"). merge hints pin the STATIC plan to
    # sort-merge (shuffle-safe at any size); joins that are genuinely
    # tiny stay cheap because the hinted SMJ's inputs are already
    # partitioned and sorted only at their true (runtime) sizes.
    x, y = banded.alias("x"), banded.hint("merge").alias("y")
    cand = (x.join(y, (F.col("x.band") == F.col("y.band"))
                   & (F.col("x.bucket") == F.col("y.bucket"))
                   & (F.col("x.node") < F.col("y.node")))
            .select(F.col("x.node").alias("src"),
                    F.col("y.node").alias("dst"))
            .dropDuplicates())
    fa = features.select(F.col("node").alias("src"),
                         F.col("features").alias("f_src")).hint("merge")
    fb = features.select(F.col("node").alias("dst"),
                         F.col("features").alias("f_dst")).hint("merge")
    jac = (F.size(F.array_intersect("f_src", "f_dst"))
           / F.greatest(F.size(F.array_union("f_src", "f_dst")), F.lit(1)))
    return (cand.join(fa, "src").join(fb, "dst")
            .where(jac >= min_jaccard)
            .select("src", "dst"))


def connected_components(edges: DataFrame,
                         max_iter: int = 50,
                         stats: dict | None = None) -> DataFrame:
    """Hash-min connected components on an undirected edge list.

    Returns (node, component) where component = min node id (string order)
    in the component. Convergence is O(component diameter) rounds (one
    min-label hop per iteration); star-shaped candidate edges (see
    candidate_edges_exact) keep diameters tiny. Raises if max_iter rounds
    pass without converging — silently-partial components would corrupt
    canonicalization. localCheckpoint every iteration truncates lineage so
    plans stay flat at depth n.

    ``stats``: caller-owned dict; on return ``stats['iterations']`` holds
    the converged round count (an out-param instead of mutating a function
    attribute, which would be shared global state under concurrent
    callers — ADVICE r6).
    """
    # Checkpoint the EDGE LIST first: everything below derives from it,
    # so the expensive candidate pipeline feeding `edges` (LSH
    # signatures -> banding -> verify) materializes exactly ONCE.
    #
    # r8 iteration shape (guide §2.4 — remove shuffles outright): the
    # symmetric edge set is augmented with one SELF-LOOP per node, so
    # "min(own label, neighbor labels)" becomes a single
    # join + groupBy(min) — the old shape's second join (re-attaching
    # the old label to fold it in and compute the change flag) is gone,
    # one equi-join and one shuffle per iteration instead of two joins.
    # The change flag comes from the same aggregate: the self-loop row
    # carries the node's own (old) label, so
    # changed == min(all) < min(self row) — labels only ever decrease.
    # sym2 (edges + reversed edges + self-loops) is iteration-invariant
    # and checkpointed once; the initial labels read its self-loop rows
    # back narrowly (no extra job). Caller self-loops are dropped from
    # the edge and reversed legs (the synthesized self-loop leg already
    # covers their node), so each node has exactly one initial label.
    edges = edges.select("src", "dst").localCheckpoint()
    links = edges.where(F.col("src") != F.col("dst"))
    rev = links.select(F.col("dst").alias("src"),
                       F.col("src").alias("dst"))
    nodes = (edges.select(F.col("src").alias("node"))
             .union(edges.select(F.col("dst").alias("node")))
             .distinct())
    sym2 = (links.union(rev)
            .union(nodes.select(F.col("node").alias("src"),
                                F.col("node").alias("dst")))
            .localCheckpoint())
    labels = (sym2.where(F.col("src") == F.col("dst"))
              .select(F.col("src").alias("node"),
                      F.col("src").alias("component")))

    for it in range(max_iter):
        # one job per iteration: the convergence count doubles as the
        # action that materializes the LAZY localCheckpoint (full,
        # un-limited count — it must touch every partition so lineage
        # truncation is safe).
        upd = (sym2.join(labels, sym2["dst"] == labels["node"])
               .groupBy("src")
               .agg(F.min("component").alias("component"),
                    F.min(F.when(sym2["dst"] == sym2["src"],
                                 F.col("component"))).alias("_own"))
               .select(F.col("src").alias("node"), "component",
                       (F.col("component") < F.col("_own"))
                       .alias("_changed"))
               .localCheckpoint(eager=False))
        changed = upd.where(F.col("_changed")).count()
        labels = upd.drop("_changed")
        if changed == 0:
            if stats is not None:
                stats["iterations"] = it + 1
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} iterations "
        f"(component diameter exceeds max_iter; raise max_iter)")


def canonical_mapping(quads: DataFrame) -> DataFrame:
    """(node, canonical) for every node that belongs to a merged cluster.

    Exact-feature blocking makes each block a complete component, so the
    canonical member is simply the block minimum — no CC iterations needed
    (the CC loop is reserved for the fuzzy MinHash path, where candidate
    edges can chain across blocks: see canonical_mapping_fuzzy)."""
    features = node_features(quads)
    edges = candidate_edges_exact(features)  # star: (node, block-min)
    return edges.select(F.col("src").alias("node"),
                        F.col("dst").alias("canonical"))


def canonical_mapping_fuzzy(quads: DataFrame,
                            min_jaccard: float = 0.5,
                            num_hashes: int = 32,
                            bands: int = 8,
                            cc_stats: dict | None = None) -> DataFrame:
    """Fuzzy variant: MinHash-LSH candidates can chain A~B~C across
    blocks, so real connected components are required.

    Hash-min takes O(diameter) rounds, and entity-coref candidate graphs
    have tiny measured diameters because LSH blocking only links
    near-duplicates (see
    tests/test_spark_pipeline.py::test_fuzzy_cc_diameter_bound)."""
    features = node_features(quads)
    edges = candidate_edges_minhash(features, num_hashes=num_hashes,
                                    bands=bands, min_jaccard=min_jaccard)
    comps = connected_components(edges, stats=cc_stats)
    return (comps
            .where(F.col("node") != F.col("component"))
            .select("node", F.col("component").alias("canonical")))


def relabel_quads(quads: DataFrame, mapping: DataFrame) -> DataFrame:
    """Rewrite subj/obj through the canonical mapping (left equi-joins).

    Deliberately NO broadcast hint: the mapping's row count scales with the
    number of coreferent nodes — plausibly billions at web scale — and a
    forced ``F.broadcast`` bypasses Spark's size threshold entirely
    (driver/executor OOM instead of a graceful shuffle). Join strategy is
    left to Catalyst + AQE: a small mapping is still broadcast at runtime
    (AQE converts the post-shuffle join once the measured size is under
    ``spark.sql.adaptive.autoBroadcastJoinThreshold``), while a huge
    mapping shuffles on subj/obj with AQE skew-join splitting. Plan
    evidence: tests/test_spark_pipeline.py::test_relabel_join_* (both the
    broadcast-small and degrade-to-shuffle cases) and the EXPLAIN.md
    invariant.
    """
    m = mapping
    q = (quads
         .join(m.withColumnRenamed("node", "subj")
               .withColumnRenamed("canonical", "subj_canon"),
               "subj", "left")
         .join(m.withColumnRenamed("node", "obj")
               .withColumnRenamed("canonical", "obj_canon"),
               "obj", "left"))
    return q.select(
        "url", "blk",
        F.coalesce("subj_canon", "subj").alias("subj"),
        "pred",
        F.coalesce("obj_canon", "obj").alias("obj"),
        "graph")


def cluster_summary(quads: DataFrame) -> DataFrame:
    """(canonical, n_members) for merged clusters — the oracle-friendly
    view of canonicalization output (exact blocking: block == component,
    so members = star size + the canonical itself)."""
    edges = candidate_edges_exact(node_features(quads))
    # r8: src is globally UNIQUE by construction (node_features emits one
    # row per node, and candidate_edges_exact joins each node to exactly
    # one block minimum), so count(*) == countDistinct(src) — same value
    # without the distinct expansion's extra shuffle (guide §2.4).
    return (edges.groupBy(F.col("dst").alias("canonical"))
            .agg((F.count("src") + F.lit(1)).alias("n_members"))
            .orderBy("canonical"))
