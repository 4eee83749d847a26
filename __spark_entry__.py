"""Driver contract for the spark-graft builder (PySpark target).

``entry``    — flagship KG-construction query (pages -> quads) at sf0.001.
``queries``  — one callable per KG-construction lane; each takes
               (spark, sf_dir) -> DataFrame.
``oracle_sql`` — DuckDB ANSI-SQL twins. The synthetic pages table is built
               from ``documents`` with pure SQL string expressions
               (sources/pages.py), so the *expected quads* are exactly
               reconstructable in SQL — giving the full JSON-LD pipeline a
               value-level oracle, not just a row count.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jsonld_streaming_parser_js_spark.sources.pages import (
    CONTEXTS,
    block_a_sql,
    block_b_sql,
    block_c_sql,
    i18n_blocks,
    pages_from_documents,
    response_url_sql,
    responses_from_documents,
)
from jsonld_streaming_parser_js_spark.operators.responses import (
    parse_responses,
)
from jsonld_streaming_parser_js_spark.operators.extract import extract_blocks
from jsonld_streaming_parser_js_spark.operators.parse import (
    errors_only,
    parse_blocks,
    pages_to_quads,
    quads_only,
)
from jsonld_streaming_parser_js_spark.operators import bgp
from jsonld_streaming_parser_js_spark.operators import canonicalize as canon
from jsonld_streaming_parser_js_spark.operators import inference

RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"

# fuzzy-canonicalization MinHash shape, shared by the lane AND its DuckDB
# oracle (r7 drift sweep: the oracle's rows-per-band derives from these)
CANON_NUM_HASHES = 32
CANON_BANDS = 16


# ---------------------------------------------------------------------------
# shared plan fragments
# ---------------------------------------------------------------------------

def _pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pages_from_documents(spark, sf_dir)


def _quads(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pages_to_quads(_pages(spark, sf_dir), CONTEXTS)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full KG construction (extract -> parse -> dedup quads)."""
    return _quads(spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def _q_kg_quads(spark, sf_dir):
    return _quads(spark, sf_dir).orderBy("url", "blk", "pred", "obj")


def _q_kg_quads_memo(spark, sf_dir):
    """Distinct-block parse memo (operators/memo.py), BOTH guarantees in
    one lane (r7 registry consolidation — verdict ask #1):

    - corpus='pages': memoized parse of the standard pages table must be
      value-hash-identical to kg_quads (the oracle is the same expected-
      quads CTE) — memoization must never change the answer.
    - corpus='shared': the site-template corpus (7 distinct blocks across
      all pages, with an anonymous member node) value-checks the
      per-(url, blk) skolem-prefix rewrite across occurrences."""
    from jsonld_streaming_parser_js_spark.operators.memo import (
        pages_to_quads_memo, parse_blocks_memo)
    from jsonld_streaming_parser_js_spark.sources.pages import (
        shared_org_blocks)
    pages_leg = (pages_to_quads_memo(_pages(spark, sf_dir), CONTEXTS)
                 .withColumn("corpus", F.lit("pages")))
    shared_leg = (quads_only(
        parse_blocks_memo(shared_org_blocks(spark, sf_dir), {}))
        .withColumn("corpus", F.lit("shared")))
    return (pages_leg.unionByName(shared_leg)
            .select("corpus", "url", "blk", "subj", "pred", "obj", "graph")
            .orderBy("corpus", "url", "blk", "subj", "pred", "obj"))


def _q_kg_extract_blocks(spark, sf_dir):
    return extract_blocks(_pages(spark, sf_dir)).orderBy("url", "blk")


def _errors_lenient(spark, sf_dir):
    parsed = parse_blocks(extract_blocks(_pages(spark, sf_dir)), CONTEXTS)
    return errors_only(parsed)



def _q_kg_error_channels(spark, sf_dir):
    """ALL THREE error channels in one lane (r7 registry consolidation):
    channel='lenient' (malformed-JSON rows from the standard pages
    corpus), channel='strict' (strictValues mode converts every lenient
    drop into a coded error row), channel='http' (fromHttpResponse
    media-type / Link-header failures). Each keeps its full former
    per-channel value oracle — the union loses nothing."""
    # unsorted leg builders: a per-leg orderBy under the union would NOT
    # be eliminated by Catalyst (verified: Sort x3 survives beneath the
    # outer Sort) — three wasted range-partition shuffles per run
    legs = [_errors_lenient(spark, sf_dir)
            .withColumn("channel", F.lit("lenient")),
            _errors_strict(spark, sf_dir)
            .withColumn("channel", F.lit("strict")),
            _errors_http(spark, sf_dir)
            .withColumn("channel", F.lit("http"))]
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return (out.select("channel", "url", "blk", "error")
            .orderBy("channel", "url", "blk"))


def _strict_blocks(spark, sf_dir):
    """Deterministic strict-mode violation corpus (SQL-expressible both
    engines): doc_id%4 -> 0 unknown keyword, 1 non-IRI predicate,
    2 ill-formed language tag, 3 valid control block."""
    d = _docs(spark, sf_dir).select("doc_id")
    block = F.expr("""CASE doc_id % 4
  WHEN 0 THEN '{"@id": "http://ex.org/s", "@bogus": "x"}'
  WHEN 1 THEN '{"@id": "http://ex.org/s", "name": "x"}'
  WHEN 2 THEN '{"@id": "http://ex.org/s", "http://ex.org/p": {"@value": "v", "@language": "en_US"}}'
  ELSE '{"@id": "http://ex.org/s", "http://ex.org/p": "v"}' END""")
    return d.select(
        F.concat(F.lit("strict://doc/"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.lit(0).cast("int").alias("blk"),
        block.alias("block"))


def _errors_strict(spark, sf_dir):
    """strictValues END-TO-END at driver level (reference: lib/Util.ts
    609-660 'Invalid predicate/term IRI' + 'unknown keyword' + language
    validation): the same corpus parses clean in lenient mode (drops), but
    strict mode converts every drop into a coded error-channel row. The
    job-level fail-fast twin (plans/pipeline.py assert_no_errors) is
    negative-tested in tests/test_spark_pipeline.py."""
    from jsonld_streaming_parser_js_spark.functions.parser import (
        ParserOptions)
    parsed = parse_blocks(_strict_blocks(spark, sf_dir), CONTEXTS,
                          parser_options=ParserOptions(strict_values=True))
    return errors_only(parsed)


def _q_kg_quads_i18n(spark, sf_dir):
    """BOTH rdfDirection modes over the @direction fixture block, merged
    into one lane (r7 registry consolidation; each mode keeps its full
    former value oracle):

    - mode='i18n-datatype' (reference: lib/Util.ts:753-767 — the
      https://www.w3.org/ns/i18n# datatype encodes language+direction)
    - mode='compound-literal' (lib/Util.ts:768-782 — each directional
      literal becomes a bnode with rdf:value/rdf:language/rdf:direction;
      bnode labels are the deterministic skolemized per-block sequence)"""
    legs = []
    for mode in ("i18n-datatype", "compound-literal"):
        parsed = parse_blocks(i18n_blocks(spark, sf_dir), CONTEXTS,
                              rdf_direction=mode)
        legs.append(quads_only(parsed).withColumn("mode", F.lit(mode)))
    return (legs[0].unionByName(legs[1])
            .select("mode", "url", "blk", "subj", "pred", "obj", "graph")
            .orderBy("mode", "url", "subj", "pred"))


def _q_kg_http_quads(spark, sf_dir):
    """fromHttpResponse analog: media-type gate + Link-header root context
    (reference: lib/JsonLdParser.ts:109-162) over a captured-responses
    table."""
    parsed = parse_responses(responses_from_documents(spark, sf_dir),
                             CONTEXTS)
    return quads_only(parsed).orderBy("url", "pred")


def _errors_http(spark, sf_dir):
    parsed = parse_responses(responses_from_documents(spark, sf_dir),
                             CONTEXTS)
    return errors_only(parsed)


def _q_kg_ndjson_quads(spark, sf_dir):
    """NDJSON (JSON Lines) source format: one JSON-LD doc per line, split
    JVM-side, parsed by the same kernel — bulk-dump ingestion path."""
    from jsonld_streaming_parser_js_spark.operators.extract import (
        ndjson_blocks)
    u = "'https://dump.example.org/rec/' || CAST(doc_id AS STRING)"
    body = (
        "'{\"@id\":\"' || " + u + " || '#a\",\"http://schema.org/name\":"
        "\"Doc ' || CAST(doc_id AS STRING) || '\"}' || chr(10) || "
        "'{\"@id\":\"' || " + u + " || '#b\","
        "\"http://schema.org/position\":' || CAST(doc_id % 9 AS STRING)"
        " || '}'")
    docs = _docs(spark, sf_dir).select(
        F.expr(u).alias("url"), F.expr(body).alias("body"))
    parsed = parse_blocks(ndjson_blocks(docs), CONTEXTS)
    return quads_only(parsed).orderBy("url", "blk")


def _q_kg_canonical_clusters(spark, sf_dir):
    return canon.cluster_summary(_quads(spark, sf_dir))


def _q_kg_quads_canonical(spark, sf_dir):
    """Full north_rule pipeline: extract -> parse -> canonicalize (connected
    components over blocked candidates) -> relabel -> materialized quads."""
    quads = _quads(spark, sf_dir)
    mapping = canon.canonical_mapping(quads)
    return (canon.relabel_quads(quads, mapping)
            .orderBy("url", "blk", "pred", "obj"))


def _entity_quads(spark, sf_dir):
    """Deterministic coreference corpus for the FUZZY canonicalization path.

    Each document spawns one 3-node chain A-B-C whose feature sets are
    12-token sliding windows shifted by 2: J(A,B)=J(B,C)=10/14 (above the
    0.6 merge threshold), J(A,C)=8/16=0.5 (below it). So the only route
    from C to canonical A is transitive — MinHash-LSH candidates + REAL
    connected-components iteration, the north_rule's named mechanism.
    Pure SQL expressions from ``documents`` so the DuckDB oracle rebuilds
    the identical quads (same trick as sources/pages.py)."""
    from jsonld_streaming_parser_js_spark.operators.parse import (
        ensure_map_parallelism)
    # r8: floor the explode seed's parallelism — the 36x fan-out and the
    # downstream feature aggregation otherwise run on the single scan
    # split of the tiny seed file (guide §2.5 input skew)
    docs = ensure_map_parallelism(_docs(spark, sf_dir).select("doc_id"))
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


def _q_kg_canonical_fuzzy(spark, sf_dir):
    """north_rule mechanism end-to-end: MinHash-LSH candidate blocking ->
    Jaccard verify -> hash-min connected components (must iterate: the
    A-B-C chains have diameter 2) -> (node, canonical) mapping."""
    mapping = canon.canonical_mapping_fuzzy(
        _entity_quads(spark, sf_dir), min_jaccard=0.6,
        num_hashes=CANON_NUM_HASHES, bands=CANON_BANDS)
    return mapping.orderBy("node")


def _q_kg_nquads_roundtrip(spark, sf_dir):
    """N-Quads SOURCE round-trip (new r7): the full KG is serialized to
    W3C N-Quads (the interchange sink) and parsed BACK into lexical
    quad columns by operators/serialize.from_nquads — the ingestion
    path for dumps this engine (or any RDF toolchain the reference
    serves) writes. The oracle rebuilds the lines from the
    expected-quads CTE and re-parses them with the SAME anchored regex
    in DuckDB (RE2 vs java.util.regex), so the term-aware split —
    literal objects containing spaces / '<' / bnode-like tails, IRI vs
    bnode graph labels, default-graph omission — is value-checked
    cross-engine on every statement."""
    from jsonld_streaming_parser_js_spark.operators.serialize import (
        from_nquads, to_nquads)
    parsed = from_nquads(to_nquads(_quads(spark, sf_dir)))
    return (parsed.select("url", "blk", "subj", "pred", "obj", "graph",
                          "ok")
            .orderBy("url", "blk", "subj", "pred", "obj", "graph"))


def _q_kg_pagerank(spark, sf_dir):
    """PageRank over the KG's entity edges (5 fixed iterations,
    operators/graphalgo.py): the authority ranking a downstream
    entity-importance pipeline runs on the constructed graph. Fixed
    iteration count makes the computation deterministic, so the oracle
    replays it exactly (chained CTEs); round(6) absorbs the ~1e-13
    aggregation-order float divergence.

    WARNING (documented convention): this lane does NOT redistribute
    dangling-node mass, so ranks sum to < 1 when sinks exist — the
    oracle replays the same convention. A consumer expecting the
    canonical probability distribution must use
    ``pagerank(..., redistribute_dangling=True)`` (exact-replay
    pytest: test_pagerank_redistributed_sums_to_one_with_exact_oracle)."""
    from jsonld_streaming_parser_js_spark.operators import graphalgo
    q = _quads(spark, sf_dir)
    edges = (q.where(~F.col("obj").startswith('"'))
             .select(F.col("subj").alias("src"),
                     F.col("obj").alias("dst")))
    pr = graphalgo.pagerank(edges, iterations=5)
    return (pr.select("node", F.round("rank", 6).alias("rank"))
            .orderBy("node"))


def _q_kg_rdfs_entailment(spark, sf_dir):
    """RDFS forward-chaining materialization (operators/inference.py):
    the constructed KG closed under subClassOf / subPropertyOf /
    domain / range — the inference step every KG-construction pipeline
    runs between extraction and serving. The fixture ontology
    (inference.DEFAULT_ONTOLOGY, the SAME constant the oracle renders
    into its VALUES clause) exercises every rule plus their
    compositions: a two-level class chain on the asserted Article type,
    a class chain reachable only via the range rule (author IRIs ->
    Person -> Agent -> Thing), a two-level property chain
    (author -> contributor -> dcterms:contributor), and a range
    declaration on a literal-valued predicate (inLanguage) that the
    rdfs3 literal guard must fully suppress. The oracle replays the
    closure with a recursive CTE; src tags provenance
    ('asserted' | 'inferred') via the same min-tag groupBy."""
    ent = inference.rdfs_entailment(
        _quads(spark, sf_dir), inference.DEFAULT_ONTOLOGY)
    return ent.orderBy("subj", "pred", "obj", "graph")


def _q_kg_bgp_query(spark, sf_dir):
    """SPARQL-style graph-pattern queries (operators/bgp.py) — the
    serving path over the constructed KG, BOTH core evaluation modes
    in one lane (shape discriminator; columns v1/v2/v3 are each
    shape's bindings in pattern order):

    - shape='authors': the conjunctive BGP ``?a rdf:type schema:Article
      . ?a schema:author ?p . ?p schema:name ?n`` — predicate-pushed
      scans + equi-joins on shared variables (subject-subject AND
      object-subject joins), (v1, v2, v3) = (article, person, name).
      Executed from SPARQL TEXT via operators/sparql.py, so the
      front-end parser itself is value-oracle-witnessed.
    - shape='listpath': a property PATH composed with a regular
      pattern: ``?nav schema:crumbs ?l . ?l rdf:rest+ ?m`` over the
      breadcrumb list chains — path_closure evaluates rdf:rest+ by
      iterated squaring (O(log diameter) rounds), then joins the
      crumbs pattern like any leg; (v1, v2, v3) = (nav, list head,
      reachable tail). The oracle replays the closure with a
      recursive CTE.
    - shape='optional': SPARQL OPTIONAL (left-join) semantics:
      ``?l rdf:rest ?m OPTIONAL { ?m rdf:first ?v }`` — the chain
      tail rdf:nil has no rdf:first, so its rows bind v to null
      (reported as '' for cross-engine hashing); (v1, v2, v3) =
      (l, m, first-value-or-empty). The oracle is the same LEFT JOIN.

    The input is the DISTINCT fact set (the materialized KG a serving
    layer stores — author facts repeat across pages), so bindings are
    exact, not multiplicity-dependent."""
    # the computed KG feeds several pattern legs — materialize it once
    # (EAGER localCheckpoint: lazy only helps from the second action,
    # the legs fan out inside the first; shared-base rule); a
    # parquet-backed store would instead rely on per-leg predicate
    # pushdown (test_bgp_constants_push_to_parquet_scan)
    kg = (_quads(spark, sf_dir)
          .select("subj", "pred", "obj", "graph").distinct()
          .localCheckpoint())
    # the authors shape goes through the SPARQL TEXT front-end
    # (operators/sparql.py) on purpose: the parser's output is thereby
    # lane-witnessed against the DuckDB oracle, not just pytest'd —
    # the text below is the query a reference user would actually run
    from jsonld_streaming_parser_js_spark.operators.sparql import (
        sparql_query)
    authors = (sparql_query(kg, """
        PREFIX schema: <http://schema.org/>
        SELECT ?a ?p ?n WHERE {
          ?a a schema:Article .
          ?a schema:author ?p .
          ?p schema:name ?n .
        }""")
        .select(F.lit("authors").alias("shape"),
                F.col("a").alias("v1"), F.col("p").alias("v2"),
                F.col("n").alias("v3")))
    lists = (bgp.bgp_match(kg, [
        ("?nav", "<http://schema.org/crumbs>", "?l"),
        ("?l", f"<{RDF_NS}rest>+", "?m"),
    ]).select(F.lit("listpath").alias("shape"),
              F.col("nav").alias("v1"), F.col("l").alias("v2"),
              F.col("m").alias("v3")))
    opt = (bgp.bgp_match(kg, [("?l", f"<{RDF_NS}rest>", "?m")],
                         optional=[("?m", f"<{RDF_NS}first>", "?v")])
           .select(F.lit("optional").alias("shape"),
                   F.col("l").alias("v1"), F.col("m").alias("v2"),
                   F.coalesce(F.col("v"), F.lit("")).alias("v3")))
    return (authors.unionByName(lists).unionByName(opt)
            .orderBy("shape", "v1", "v2", "v3"))


def _q_kg_block_templates(spark, sf_dir):
    """Per-site template mining (the crawl-diagnostics view that decides
    whether the distinct-block memo pays off): group blocks by
    (host, md5(block)) and keep templates appearing on >= 10 pages. The
    corpus is the standard pages' blocks UNION the site-template org
    blocks, so real repeated templates surface while one-off blocks are
    filtered. Algebraic aggs on a hash key — map-side partials,
    skew-free at any corpus size."""
    from jsonld_streaming_parser_js_spark.sources.pages import (
        shared_org_blocks)
    blocks = (extract_blocks(_pages(spark, sf_dir))
              .select("url", "block")
              .unionByName(shared_org_blocks(spark, sf_dir)
                           .select("url", "block")))
    host = F.regexp_extract("url", r"^https?://([^/]+)", 1)
    return (blocks
            .groupBy(host.alias("host"),
                     F.md5("block").alias("template_md5"))
            .agg(F.count("*").alias("n_occurrences"),
                 F.countDistinct("url").alias("n_pages"))
            .where(F.col("n_pages") >= 10)  # pages, not occurrences: a
            # block repeated k times on ONE page is not a site template
            .orderBy("host", "template_md5"))


def _q_kg_upsert_wave(spark, sf_dir):
    """MERGE-style re-crawl upsert PLUS the change feed, under a
    ``change`` discriminator (r7 merge):

    - ``store`` rows (plans/lineage.upsert_quads): a wave re-crawls
      every doc_id%3==0 page with changed content (Article name gains
      ' v2'); the store must show the wave's quads for those urls and
      the original quads for the rest — delete-then-insert at document
      granularity. The physical twin (upsert_wave) rewrites only
      affected bucket partitions; tests assert untouched bucket files
      are not rewritten.
    - ``added``/``removed`` rows (plans/lineage.wave_diff): the
      crawl-to-crawl KG diff for the re-crawled urls — O(wave)
      semi-join + multiset EXCEPTs; deterministic skolemization keeps
      unchanged blocks byte-identical so only real content changes
      surface (here: exactly the Article-name literals).

    base and wave are localCheckpoint'd once and shared by both views
    (two consumers would otherwise re-run the parse pipeline — the memo
    lesson)."""
    from jsonld_streaming_parser_js_spark.plans.lineage import (
        upsert_quads, wave_diff)
    base = _quads(spark, sf_dir).localCheckpoint()
    wave_pages = pages_from_documents(
        spark, sf_dir, doc_filter="doc_id % 3 = 0", name_suffix=" v2")
    wave = pages_to_quads(wave_pages, CONTEXTS).localCheckpoint()
    # wave_keys = the CRAWLED url set (not the quads' urls): a re-crawled
    # page that now yields zero quads must still delete from the store
    # and emit 'removed' rows — the oracle's dw url set has exactly
    # these semantics
    keys = wave_pages.select("url")
    store = (upsert_quads(base, wave, wave_keys=keys)
             .withColumn("change", F.lit("store")))
    return (store.unionByName(wave_diff(base, wave, wave_keys=keys))
            .orderBy("change", "url", "blk", "pred", "obj"))

def _q_kg_nquads(spark, sf_dir):
    """N-Quads serialization sink: the full KG rendered as W3C N-Quads
    statements (pure JVM concat over the lexical quad columns — the
    interchange twin of the parquet sink). The oracle rebuilds identical
    lines from the expected-quads CTE, so terms AND the default-graph /
    named-graph grammar are value-checked end to end."""
    from jsonld_streaming_parser_js_spark.operators.serialize import (
        to_nquads)
    return (to_nquads(_quads(spark, sf_dir))
            .orderBy("url", "blk", "line"))


def _q_kg_graph_views(spark, sf_dir):
    """Node AND edge materializations of the KG in one long-format lane
    (r7 registry consolidation of kg_graph_nodes + kg_graph_edges; both
    former value oracles preserved):

    - view='node': (term, kind, out_degree, in_degree) — degrees cast to
      string for the shared column shape; the single-term-shuffle plan
      invariant stays EXPLAIN-checked on graph_views itself
    - view='edge': (src, rel, dst, graph) for non-literal objects"""
    from jsonld_streaming_parser_js_spark.plans.pipeline import graph_views
    views = graph_views(_quads(spark, sf_dir))
    nodes = views["nodes"].select(
        F.lit("node").alias("view"),
        F.col("term").alias("c1"), F.col("kind").alias("c2"),
        F.col("out_degree").cast("string").alias("c3"),
        F.col("in_degree").cast("string").alias("c4"))
    edges = views["edges"].select(
        F.lit("edge").alias("view"),
        F.col("src").alias("c1"), F.col("rel").alias("c2"),
        F.col("dst").alias("c3"), F.col("graph").alias("c4"))
    return (nodes.unionByName(edges)
            .orderBy("view", "c1", "c2", "c3", "c4"))


def _q_streaming_kg_quads(spark, sf_dir):
    """The STREAMING twin of kg_quads: pages land as 4 parquet files, a
    real file-source Structured Streaming job (maxFilesPerTrigger=1 -> 4
    micro-batches, exactly-once at file granularity via the checkpoint)
    runs the same fused extract+parse stage, and the drained sink is
    value-hashed against the SAME DuckDB oracle as batch kg_quads — the
    deterministic skolemizer makes streaming and batch byte-identical.
    The final collect materializes before the temp dirs are deleted
    (bounded: 4k rows at sf0.01; streaming ORACLE lane, not the
    production path — production keeps writeStream running)."""
    import shutil
    import tempfile
    from jsonld_streaming_parser_js_spark.streaming.stream import (
        read_pages_stream, start_quads_sink, stream_pages_to_quads)
    work = tempfile.mkdtemp(prefix="stream-kg-")
    try:
        _pages(spark, sf_dir).repartition(4).write.parquet(f"{work}/pages")
        stream = read_pages_stream(spark, f"{work}/pages",
                                   max_files_per_trigger=1)
        parsed = stream_pages_to_quads(stream, CONTEXTS)
        sink = start_quads_sink(quads_only(parsed), f"{work}/out",
                                f"{work}/ckpt")
        sink.awaitTermination()
        out = (spark.read.parquet(f"{work}/out")
               .dropDuplicates(["url", "blk", "subj", "pred", "obj",
                                "graph"])
               .orderBy("url", "blk", "pred", "obj"))
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _q_streaming_quad_rates(spark, sf_dir):
    """Watermarked event-time windowed aggregation over the quad stream
    WITH the late-data path exercised (r7 merge of the plain + late
    lanes — the late variant's contract strictly subsumes the plain
    one): crawl-time-ordered micro-batches -> fused extract+parse ->
    stream-static ts join -> 1-minute windows in APPEND mode, where a
    deterministic 1/5 url subset of every time range arrives one
    micro-batch LATE — inside windows already populated by earlier
    batches but within the watermark (derived from the corpus' slice
    width so the no-drop bound holds at every scale factor) — so the
    stateful aggregation must merge them before finalization. The
    oracle is the order-independent batch windowing over ALL pages: a
    dropped late row value-hash-fails. The explicit-watermark parameter
    path is pytest-covered (tests/test_streaming_multimodal.py)."""
    import shutil
    import tempfile
    from jsonld_streaming_parser_js_spark.streaming.stream import (
        streaming_quad_rates)
    work = tempfile.mkdtemp(prefix="stream-rates-")
    try:
        return streaming_quad_rates(spark, _pages(spark, sf_dir), work,
                                    CONTEXTS, watermark=None,
                                    late_every=5)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Merged lanes (see each docstring) check the UNION of their former
    # assertions: kg_quads_memo (+memo_shared), kg_error_channels
    # (lenient+strict+http), kg_graph_views (nodes+edges), kg_quads_i18n
    # (datatype+compound), kg_upsert_wave (store+added+removed),
    # streaming_quad_rates (+late twin).
    return {
        "kg_quads": _q_kg_quads,
        "kg_quads_memo": _q_kg_quads_memo,
        "kg_extract_blocks": _q_kg_extract_blocks,
        "kg_error_channels": _q_kg_error_channels,
        "kg_quads_i18n": _q_kg_quads_i18n,
        "kg_http_quads": _q_kg_http_quads,
        "kg_ndjson_quads": _q_kg_ndjson_quads,
        "kg_canonical_clusters": _q_kg_canonical_clusters,
        "kg_quads_canonical": _q_kg_quads_canonical,
        "kg_canonical_fuzzy": _q_kg_canonical_fuzzy,
        "kg_nquads": _q_kg_nquads,
        "kg_nquads_roundtrip": _q_kg_nquads_roundtrip,
        "kg_upsert_wave": _q_kg_upsert_wave,
        "kg_block_templates": _q_kg_block_templates,
        "kg_graph_views": _q_kg_graph_views,
        "kg_pagerank": _q_kg_pagerank,
        "kg_rdfs_entailment": _q_kg_rdfs_entailment,
        "kg_bgp_query": _q_kg_bgp_query,
        "streaming_kg_quads": _q_streaming_kg_quads,
        "streaming_quad_rates": _q_streaming_quad_rates,
    }


# ---------------------------------------------------------------------------
# oracles (DuckDB SQL on the pre-registered views)
# ---------------------------------------------------------------------------

_D_CTE = """
d AS (
  SELECT doc_id, n_chars, lang, text,
         'https://ex' || CAST(doc_id % 7 AS STRING)
           || '.example.org/page/' || CAST(doc_id AS STRING) AS url,
         CAST(doc_id AS STRING) AS did,
         CAST(n_chars AS STRING) AS nch,
         CAST(doc_id % 50 AS STRING) AS k,
         '<https://ex' || CAST(doc_id % 7 AS STRING)
           || '.example.org/author/' || CAST(doc_id % 50 AS STRING)
           || '>' AS author
  FROM documents
)
"""

_SCHEMA = "http://schema.org/"


def _expected_quads_cte(name: str = "q", src: str = "d",
                        name_sfx: str = "") -> str:
    """CTE reconstructing the exact quad set the pipeline must emit.

    ``src``/``name_sfx`` parameterize the RE-CRAWL WAVE variant (same
    urls, changed Article name) for the upsert lane — the oracle builds
    both the base corpus and the wave from one definition."""
    s = "'<' || url || '#article>'"
    nav = "'<' || url || '#nav>'"
    ent = "'<' || url || '#entity>'"
    g = "'<' || url || '#g>'"
    l0 = "'_:s' || substr(md5(url), 1, 16) || 'x1xl0'"
    l1 = "'_:s' || substr(md5(url), 1, 16) || 'x1xl1'"
    c_blk = "1 + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END"
    d = src
    rows = [
        f"SELECT url, 0 AS blk, {s} AS subj, '<{RDF_NS}type>' AS pred,"
        f" '<{_SCHEMA}Article>' AS obj, '' AS graph FROM {d}",
        f"SELECT url, 0, {s}, '<{_SCHEMA}name>',"
        f" '\"Doc ' || did || '{name_sfx}\"', '' FROM {d}",
        f"SELECT url, 0, {s}, '<{_SCHEMA}wordCount>', '\"' || nch ||"
        f" '\"^^<http://www.w3.org/2001/XMLSchema#integer>', '' FROM {d}",
        f"SELECT url, 0, {s}, '<{_SCHEMA}inLanguage>',"
        f" '\"' || lang || '\"', '' FROM {d}",
        f"SELECT url, 0, {s}, '<{_SCHEMA}author>', author, '' FROM {d}",
        f"SELECT url, 0, author, '<{_SCHEMA}name>',"
        f" '\"Author ' || k || '\"', '' FROM {d}",
        f"SELECT url, 1, {nav}, '<{_SCHEMA}crumbs>', {l0}, ''"
        f" FROM {d} WHERE doc_id % 3 = 0",
        f"SELECT url, 1, {l0}, '<{RDF_NS}first>', '\"Home\"', ''"
        f" FROM {d} WHERE doc_id % 3 = 0",
        f"SELECT url, 1, {l0}, '<{RDF_NS}rest>', {l1}, ''"
        f" FROM {d} WHERE doc_id % 3 = 0",
        f"SELECT url, 1, {l1}, '<{RDF_NS}first>',"
        f" '\"Doc ' || did || '\"', '' FROM {d} WHERE doc_id % 3 = 0",
        f"SELECT url, 1, {l1}, '<{RDF_NS}rest>', '<{RDF_NS}nil>', ''"
        f" FROM {d} WHERE doc_id % 3 = 0",
        f"SELECT url, {c_blk}, {ent}, '<{_SCHEMA}name>',"
        f" '\"Doc ' || did || '\"@en', " + g +
        f" FROM {d} WHERE doc_id % 5 = 0",
        f"SELECT url, {c_blk}, {ent}, '<{_SCHEMA}name>',"
        f" '\"Dok ' || did || '\"@de', " + g +
        f" FROM {d} WHERE doc_id % 5 = 0",
    ]
    return f"{name} AS (\n" + "\nUNION ALL\n".join(rows) + "\n)"


def _with_quads(select: str) -> str:
    return f"WITH {_D_CTE}, {_expected_quads_cte()}\n{select}"


def oracle_sql() -> dict[str, str]:
    oracles: dict[str, str] = {}

    oracles["kg_quads"] = _with_quads(
        "SELECT url, blk, subj, pred, obj, graph FROM q"
        " ORDER BY url, blk, pred, obj")

    from jsonld_streaming_parser_js_spark.sources.pages import (
        MALFORMED_BLOCK, block_b_sql, block_c_sql, shared_org_block_sql)
    _org_url = ("'https://ex' || CAST(doc_id % 7 AS STRING)"
                " || '.example.org/page/' || did")
    oracles["kg_block_templates"] = f"""
WITH {_D_CTE},
blk_rows AS (
  SELECT url, {block_a_sql("url")} AS block FROM d
  UNION ALL SELECT url, {block_b_sql("url")} FROM d WHERE doc_id % 3 = 0
  UNION ALL SELECT url, {block_c_sql("url")} FROM d WHERE doc_id % 5 = 0
  UNION ALL SELECT url, '{MALFORMED_BLOCK}' FROM d WHERE doc_id % 17 = 0
  UNION ALL SELECT {_org_url}, {shared_org_block_sql()} FROM d
)
SELECT regexp_extract(url, '^https?://([^/]+)', 1) AS host,
       md5(block) AS template_md5,
       CAST(count(*) AS BIGINT) AS n_occurrences,
       CAST(count(DISTINCT url) AS BIGINT) AS n_pages
FROM blk_rows GROUP BY 1, 2 HAVING count(DISTINCT url) >= 10
ORDER BY host, template_md5"""

    # kg_nquads_roundtrip: rebuild the exact N-Quads line (the
    # kg_nquads oracle's concat) then re-parse it with the SAME
    # anchored regex the Spark source uses — no single quotes in the
    # pattern and DuckDB single-quoted strings pass backslashes through
    # unprocessed, so the literal interpolates verbatim.
    from jsonld_streaming_parser_js_spark.operators.serialize import (
        NQUADS_STMT_RE)
    _nq_line = ("subj || ' ' || pred || ' ' || obj ||"
                " CASE WHEN graph <> '' THEN ' ' || graph ELSE '' END"
                " || ' .'")
    oracles["kg_nquads_roundtrip"] = _with_quads(f"""
SELECT url, blk,
       regexp_extract(line, '{NQUADS_STMT_RE}', 1) AS subj,
       regexp_extract(line, '{NQUADS_STMT_RE}', 2) AS pred,
       regexp_extract(line, '{NQUADS_STMT_RE}', 3) AS obj,
       regexp_extract(line, '{NQUADS_STMT_RE}', 4) AS graph,
       regexp_matches(line, '{NQUADS_STMT_RE}') AS ok
FROM (SELECT url, blk, {_nq_line} AS line FROM q)
ORDER BY url, blk, subj, pred, obj, graph""")

    from jsonld_streaming_parser_js_spark.operators.graphalgo import (
        pagerank_oracle_sql)
    oracles["kg_pagerank"] = pagerank_oracle_sql(
        _with_quads("SELECT subj AS src, obj AS dst FROM q"
                    " WHERE substr(obj, 1, 1) <> '\"'"), iterations=5)

    # RDFS entailment: recursive-CTE closure of the two hierarchies
    # over the SAME ontology constant the Spark operator consumes
    # (inference.ontology_values_sql), then the four rule joins and the
    # same min-tag dedupe/provenance groupBy as the operator
    _TYPE = inference.RDF_TYPE
    oracles["kg_rdfs_entailment"] = f"""
WITH RECURSIVE {_D_CTE}, {_expected_quads_cte()},
ont AS (SELECT * FROM {inference.ontology_values_sql()}),
scd AS (SELECT s AS sub, o AS sup FROM ont
        WHERE p = '{inference.RDFS_SUBCLASS}'),
scc AS (SELECT sub, sup FROM scd
        UNION
        SELECT d2.sub, c2.sup FROM scd d2 JOIN scc c2 ON d2.sup = c2.sub),
spd AS (SELECT s AS sub, o AS sup FROM ont
        WHERE p = '{inference.RDFS_SUBPROP}'),
spc AS (SELECT sub, sup FROM spd
        UNION
        SELECT d2.sub, c2.sup FROM spd d2 JOIN spc c2 ON d2.sup = c2.sub),
dmr AS (SELECT s AS dp, o AS dc FROM ont
        WHERE p = '{inference.RDFS_DOMAIN}'),
rgr AS (SELECT s AS rp, o AS rc FROM ont
        WHERE p = '{inference.RDFS_RANGE}'),
qd AS (SELECT subj, pred, obj, graph FROM q),
spq AS (SELECT qd.subj, spc.sup AS pred, qd.obj, qd.graph
        FROM qd JOIN spc ON qd.pred = spc.sub),
allp AS (SELECT * FROM qd UNION ALL SELECT * FROM spq),
domq AS (SELECT allp.subj, '{_TYPE}' AS pred, dmr.dc AS obj, allp.graph
         FROM allp JOIN dmr ON allp.pred = dmr.dp),
rngq AS (SELECT allp.obj AS subj, '{_TYPE}' AS pred, rgr.rc AS obj,
                allp.graph
         FROM allp JOIN rgr ON allp.pred = rgr.rp
         WHERE NOT starts_with(allp.obj, '"')),
typq AS (SELECT subj, obj, graph FROM allp WHERE pred = '{_TYPE}'
         UNION ALL SELECT subj, obj, graph FROM domq
         UNION ALL SELECT subj, obj, graph FROM rngq),
scq AS (SELECT t2.subj, '{_TYPE}' AS pred, scc.sup AS obj, t2.graph
        FROM typq t2 JOIN scc ON t2.obj = scc.sub),
tagged AS (SELECT subj, pred, obj, graph, 0 AS tag FROM qd
           UNION ALL SELECT subj, pred, obj, graph, 1 FROM spq
           UNION ALL SELECT subj, pred, obj, graph, 1 FROM domq
           UNION ALL SELECT subj, pred, obj, graph, 1 FROM rngq
           UNION ALL SELECT subj, pred, obj, graph, 1 FROM scq)
SELECT subj, pred, obj, graph,
       CASE WHEN min(tag) = 0 THEN 'asserted' ELSE 'inferred' END AS src
FROM tagged GROUP BY subj, pred, obj, graph
ORDER BY subj, pred, obj, graph"""

    # BGP: shape='authors' = the three-pattern conjunction as three
    # self-joins of the DISTINCT fact set; shape='listpath' = the
    # rdf:rest+ property path replayed as a recursive CTE, joined to
    # the crumbs pattern. Default graph only, like the operator call.
    oracles["kg_bgp_query"] = f"""
WITH RECURSIVE {_D_CTE}, {_expected_quads_cte()},
kg AS (SELECT DISTINCT subj, pred, obj, graph FROM q),
rest_e AS (SELECT subj AS src, obj AS dst FROM kg
           WHERE pred = '<{RDF_NS}rest>' AND graph = ''),
rest_c AS (SELECT src, dst FROM rest_e
           UNION
           SELECT e2.src, c2.dst
           FROM rest_e e2 JOIN rest_c c2 ON e2.dst = c2.src)
SELECT 'authors' AS shape, p1.subj AS v1, p2.obj AS v2, p3.obj AS v3
FROM kg p1
JOIN kg p2 ON p2.subj = p1.subj
JOIN kg p3 ON p3.subj = p2.obj
WHERE p1.pred = '{_TYPE}' AND p1.obj = '<http://schema.org/Article>'
  AND p1.graph = ''
  AND p2.pred = '<http://schema.org/author>' AND p2.graph = ''
  AND p3.pred = '<http://schema.org/name>' AND p3.graph = ''
UNION ALL
SELECT 'listpath', cr.subj, cr.obj, rc.dst
FROM kg cr JOIN rest_c rc ON rc.src = cr.obj
WHERE cr.pred = '<http://schema.org/crumbs>' AND cr.graph = ''
UNION ALL
SELECT 'optional', r.subj, r.obj, coalesce(fst.obj, '')
FROM kg r
LEFT JOIN kg fst ON fst.subj = r.obj
  AND fst.pred = '<{RDF_NS}first>' AND fst.graph = ''
WHERE r.pred = '<{RDF_NS}rest>' AND r.graph = ''
ORDER BY shape, v1, v2, v3"""

    # upsert: wave quads (changed names) replace their urls' quads wholesale
    oracles["kg_upsert_wave"] = (
        f"WITH {_D_CTE}, {_expected_quads_cte()},\n"
        "dw AS (SELECT * FROM d WHERE doc_id % 3 = 0),\n"
        + _expected_quads_cte(name="qw", src="dw", name_sfx=" v2")
        + """,
bw AS (SELECT url, blk, subj, pred, obj, graph FROM q
       WHERE url IN (SELECT url FROM dw)),
wv AS (SELECT url, blk, subj, pred, obj, graph FROM qw)
SELECT 'store' AS change, url, blk, subj, pred, obj, graph FROM (
  SELECT * FROM q WHERE url NOT IN (SELECT url FROM dw)
  UNION ALL SELECT * FROM qw)
UNION ALL
SELECT 'added' AS change, * FROM (
  SELECT * FROM wv EXCEPT ALL SELECT * FROM bw)
UNION ALL
SELECT 'removed' AS change, * FROM (
  SELECT * FROM bw EXCEPT ALL SELECT * FROM wv)
ORDER BY change, url, blk, pred, obj""")

    # memoized parse must be indistinguishable from the plain parse
    # (corpus='pages' replays the kg_quads expected-quads CTE); the
    # shared-template corpus (corpus='shared') value-checks the
    # per-(url, blk) skolem rewrite across occurrences
    _org = "'<https://ex' || k || '.example.org/#org>'"
    _orgb = "'_:s' || substr(md5(url), 1, 16) || 'x' || blk || 'xb0'"
    oracles["kg_quads_memo"] = f"""
WITH {_D_CTE}, {_expected_quads_cte()},
s AS (
  SELECT 'https://ex' || CAST(doc_id % 7 AS STRING)
           || '.example.org/page/' || CAST(doc_id AS STRING) AS url,
         CAST(doc_id % 2 AS INT) AS blk,
         CAST(doc_id % 7 AS STRING) AS k
  FROM documents
), qs AS (
  SELECT url, blk, {_org} AS subj,
         '<{RDF_NS}type>' AS pred,
         '<{_SCHEMA}Organization>' AS obj, '' AS graph FROM s
  UNION ALL
  SELECT url, blk, {_org}, '<{_SCHEMA}name>',
         '"Site ' || k || '"', '' FROM s
  UNION ALL
  SELECT url, blk, {_org}, '<{_SCHEMA}member>', {_orgb}, '' FROM s
  UNION ALL
  SELECT url, blk, {_orgb}, '<{_SCHEMA}name>',
         '"Bot ' || k || '"', '' FROM s
)
SELECT 'pages' AS corpus, url, blk, subj, pred, obj, graph FROM q
UNION ALL
SELECT 'shared', url, blk, subj, pred, obj, graph FROM qs
ORDER BY corpus, url, blk, subj, pred, obj"""

    oracles["kg_nquads"] = _with_quads(
        "SELECT url, blk,"
        " subj || ' ' || pred || ' ' || obj ||"
        " CASE WHEN graph <> '' THEN ' ' || graph ELSE '' END"
        " || ' .' AS line"
        " FROM q ORDER BY url, blk, line")

    oracles["kg_extract_blocks"] = f"""
WITH {_D_CTE}
SELECT url, blk, block FROM (
  SELECT url, 0 AS blk, {block_a_sql('url')} AS block FROM d
  UNION ALL
  SELECT url, 1, {block_b_sql('url')} FROM d WHERE doc_id % 3 = 0
  UNION ALL
  SELECT url, 1 + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END,
         {block_c_sql('url')} FROM d WHERE doc_id % 5 = 0
  UNION ALL
  SELECT url, 1 + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END
            + CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END,
         '{{"@id": broken' FROM d WHERE doc_id % 17 = 0
) ORDER BY url, blk"""

    # all three error channels in one lane: each SELECT is the former
    # standalone oracle verbatim, tagged with its channel
    _lenient_err = f"""
SELECT 'lenient' AS channel, url,
       1 + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END
         + CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS blk,
       'invalid json' AS error
FROM d WHERE doc_id % 17 = 0"""
    _strict_err = """
SELECT 'strict' AS channel,
       'strict://doc/' || doc_id::VARCHAR AS url, 0 AS blk,
       CASE doc_id % 4 WHEN 0 THEN 'invalid keyword'
                       WHEN 1 THEN 'invalid IRI mapping'
                       ELSE 'invalid language-tagged string' END AS error
FROM documents WHERE doc_id % 4 < 3"""
    # _http_err needs response_url_sql; assembled below once rurl exists

    i18n_s = "'<' || url || '#i18n>'"
    i18n_ns = "https://www.w3.org/ns/i18n#"
    _i18n_dt = f"""
SELECT 'i18n-datatype' AS mode, url, 0 AS blk, subj, pred, obj, graph
FROM (
  SELECT url, {i18n_s} AS subj, '<{_SCHEMA}headline>' AS pred,
         '"Doc ' || did || '"^^<{i18n_ns}ar_rtl>' AS obj, '' AS graph
  FROM d
  UNION ALL
  SELECT url, {i18n_s}, '<{_SCHEMA}alternativeHeadline>',
         '"Alt ' || did || '"^^<{i18n_ns}en_ltr>', '' FROM d
  UNION ALL
  SELECT url, {i18n_s}, '<{_SCHEMA}name>',
         '"Plain ' || did || '"^^<{i18n_ns}_ltr>', '' FROM d
)"""

    rurl = response_url_sql("doc_id")
    rsubj = f"'<' || {rurl} || '#r>'"
    oracles["kg_http_quads"] = f"""
SELECT url, 0 AS blk, subj, pred, obj, graph FROM (
  SELECT {rurl} AS url, {rsubj} AS subj, '<{_SCHEMA}name>' AS pred,
         '"Doc ' || CAST(doc_id AS STRING) || '"' AS obj, '' AS graph
  FROM documents WHERE doc_id % 10 <= 5
  UNION ALL
  SELECT {rurl}, {rsubj}, '<{_SCHEMA}headline>',
         '"H ' || CAST(doc_id AS STRING) || '"', ''
  FROM documents WHERE doc_id % 10 IN (6, 7)
) ORDER BY url, pred"""

    _http_err = f"""
SELECT 'http' AS channel, {rurl} AS url, 0 AS blk,
       CASE WHEN doc_id % 10 = 8 THEN 'loading document failed'
            ELSE 'multiple context link headers' END AS error
FROM documents WHERE doc_id % 10 IN (8, 9)"""
    oracles["kg_error_channels"] = f"""
WITH {_D_CTE}
SELECT channel, url, blk, error FROM (
{_lenient_err}
UNION ALL
{_strict_err}
UNION ALL
{_http_err}
) ORDER BY channel, url, blk"""

    nurl = "'https://dump.example.org/rec/' || CAST(doc_id AS STRING)"
    oracles["kg_ndjson_quads"] = f"""
SELECT url, blk, subj, pred, obj, graph FROM (
  SELECT {nurl} AS url, 0 AS blk,
         '<' || {nurl} || '#a>' AS subj,
         '<{_SCHEMA}name>' AS pred,
         '"Doc ' || CAST(doc_id AS STRING) || '"' AS obj, '' AS graph
  FROM documents
  UNION ALL
  SELECT {nurl}, 1, '<' || {nurl} || '#b>', '<{_SCHEMA}position>',
         '"' || CAST(doc_id % 9 AS STRING)
           || '"^^<http://www.w3.org/2001/XMLSchema#integer>', ''
  FROM documents
) ORDER BY url, blk"""

    bn = "'_:s' || substr(md5(url), 1, 16) || 'x0xl'"
    _i18n_cl = f"""
SELECT 'compound-literal' AS mode, url, 0 AS blk, subj, pred, obj, graph
FROM (
  SELECT url, {i18n_s} AS subj, '<{_SCHEMA}headline>' AS pred,
         {bn} || '0' AS obj, '' AS graph FROM d
  UNION ALL
  SELECT url, {i18n_s}, '<{_SCHEMA}alternativeHeadline>',
         {bn} || '1', '' FROM d
  UNION ALL
  SELECT url, {i18n_s}, '<{_SCHEMA}name>', {bn} || '2', '' FROM d
  UNION ALL
  SELECT url, {bn} || '0', '<{RDF_NS}value>',
         '"Doc ' || did || '"', '' FROM d
  UNION ALL
  SELECT url, {bn} || '0', '<{RDF_NS}language>', '"ar"', '' FROM d
  UNION ALL
  SELECT url, {bn} || '0', '<{RDF_NS}direction>', '"rtl"', '' FROM d
  UNION ALL
  SELECT url, {bn} || '1', '<{RDF_NS}value>',
         '"Alt ' || did || '"', '' FROM d
  UNION ALL
  SELECT url, {bn} || '1', '<{RDF_NS}language>', '"en"', '' FROM d
  UNION ALL
  SELECT url, {bn} || '1', '<{RDF_NS}direction>', '"ltr"', '' FROM d
  UNION ALL
  SELECT url, {bn} || '2', '<{RDF_NS}value>',
         '"Plain ' || did || '"', '' FROM d
  UNION ALL
  SELECT url, {bn} || '2', '<{RDF_NS}direction>', '"ltr"', '' FROM d
)"""
    # both rdfDirection modes in one lane (r7 merge): each branch is the
    # former standalone oracle verbatim, tagged with its mode
    oracles["kg_quads_i18n"] = f"""
WITH {_D_CTE}
{_i18n_dt}
UNION ALL
{_i18n_cl}
ORDER BY mode, url, subj, pred"""

    oracles["kg_canonical_clusters"] = f"""
WITH {_D_CTE}
SELECT min(author) AS canonical, count(DISTINCT author) AS n_members
FROM d GROUP BY doc_id % 50
HAVING count(DISTINCT author) > 1 ORDER BY canonical"""

    oracles["kg_quads_canonical"] = _with_quads("""
, canon AS (
  SELECT doc_id % 50 AS k, min(author) AS c FROM d GROUP BY doc_id % 50
),
m AS (
  SELECT DISTINCT d.author AS node, canon.c AS canonical
  FROM d JOIN canon ON d.doc_id % 50 = canon.k
  WHERE d.author <> canon.c
)
SELECT q.url, q.blk,
       coalesce(ms.canonical, q.subj) AS subj, q.pred,
       coalesce(mo.canonical, q.obj) AS obj, q.graph
FROM q
LEFT JOIN m ms ON q.subj = ms.node
LEFT JOIN m mo ON q.obj = mo.node
ORDER BY q.url, q.blk, q.pred, q.obj""")

    # Full value oracle for the FUZZY canonicalization mechanism: DuckDB
    # independently recomputes the node feature sets, the 32-hash MinHash
    # signatures (identical (a,b) literals from canon.minhash_params), the
    # 16-band bucket keys, the banded candidate join, the exact-Jaccard
    # verify at 0.6, AND the transitive closure (recursive CTE == the
    # fixpoint of Spark's iterated hash-min label propagation). No recall
    # assumption anywhere: a banding off-by-one, hash-family drift, or a
    # CC loop that stops early now breaks the value hash.
    cparams = canon.minhash_params(CANON_NUM_HASHES)
    crows = CANON_NUM_HASHES // CANON_BANDS
    cparam_rows = ", ".join(
        f"({j}, {int(a)}, {int(b)})"
        for j, (a, b) in enumerate(zip(cparams[0], cparams[1])))
    oracles["kg_canonical_fuzzy"] = f"""
WITH RECURSIVE
f AS (  -- node -> feature string 'pred=obj' (mirrors node_features)
  SELECT '<http://auth.example.org/e' || doc_id::VARCHAR
           || substr('abc', r + 1, 1) || '>' AS node,
         '<http://ex.org/feat>="t' || doc_id::VARCHAR || '_'
           || (r * 2 + j)::VARCHAR || '"' AS feat
  FROM documents, range(3) t1(r), range(12) t2(j)
),
hv AS (  -- 31-bit feature hash: first 4 md5 bytes, sign bit cleared
  SELECT node, ('0x' || substr(md5(feat), 1, 8))::BIGINT & 2147483647 AS h
  FROM f
),
params(j, a, b) AS (VALUES {cparam_rows}),
sig AS (  -- minhash_j = min (a_j*h + b_j) mod M  (fits BIGINT: a,h < 2^31)
  SELECT node, j, min((a * h + b) % {canon._MERSENNE}) AS m
  FROM hv CROSS JOIN params GROUP BY node, j
),
bands AS (  -- CANON_BANDS bands; md5 bucket key like the Spark side
  SELECT node, j // {crows} AS band,
         md5(string_agg(CAST(m AS STRING), ',' ORDER BY j)) AS bkey
  FROM sig GROUP BY node, j // {crows}
),
cand AS (
  SELECT x.node AS src, y.node AS dst
  FROM bands x JOIN bands y
    ON x.band = y.band AND x.bkey = y.bkey AND x.node < y.node
  GROUP BY 1, 2
),
sizes AS (SELECT node, count(*) AS n FROM f GROUP BY node),
inter AS (
  SELECT c.src, c.dst, count(*) AS ni
  FROM cand c
  JOIN f fa ON fa.node = c.src
  JOIN f fb ON fb.node = c.dst AND fb.feat = fa.feat
  GROUP BY 1, 2
),
edges AS (  -- exact-Jaccard verify at the 0.6 merge threshold
  SELECT i.src, i.dst FROM inter i
  JOIN sizes sa ON sa.node = i.src
  JOIN sizes sb ON sb.node = i.dst
  WHERE CAST(i.ni AS DOUBLE) / greatest(sa.n + sb.n - i.ni, 1) >= 0.6
),
sym AS (SELECT src AS a, dst AS b FROM edges
        UNION SELECT dst, src FROM edges),
reach AS (  -- transitive closure == CC fixpoint
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
),
comp AS (
  SELECT a AS node, least(a, min(b)) AS component FROM reach GROUP BY a
)
SELECT node, component AS canonical FROM comp
WHERE node <> component ORDER BY node"""

    # node + edge views in one long-format lane (r7 merge): each branch
    # is the former standalone oracle verbatim, degrees cast to string
    # for the shared column shape
    oracles["kg_graph_views"] = _with_quads("""
, terms AS (
  SELECT subj AS term FROM q UNION SELECT obj FROM q
),
outd AS (SELECT subj AS term, count(*) AS out_degree FROM q GROUP BY subj),
ind AS (SELECT obj AS term, count(*) AS in_degree FROM q GROUP BY obj)
SELECT view, c1, c2, c3, c4 FROM (
  SELECT 'node' AS view, t.term AS c1,
         -- starts_with, not LIKE '_:%': '_' is a single-char LIKE
         -- wildcard, so LIKE would also match any term whose SECOND
         -- char is ':' (e.g. a literal whose content begins with ':')
         CASE WHEN starts_with(t.term, '_:') THEN 'bnode'
              WHEN t.term LIKE '"%' THEN 'literal'
              WHEN t.term LIKE '<<%' THEN 'quoted'
              ELSE 'iri' END AS c2,
         CAST(coalesce(outd.out_degree, 0) AS STRING) AS c3,
         CAST(coalesce(ind.in_degree, 0) AS STRING) AS c4
  FROM terms t
  LEFT JOIN outd ON t.term = outd.term
  LEFT JOIN ind ON t.term = ind.term
  UNION ALL
  SELECT 'edge', subj, pred, obj, graph FROM q
  WHERE obj NOT LIKE '\"%'
) ORDER BY view, c1, c2, c3, c4""")

    # the streaming KG lane must produce byte-identical quads to batch
    oracles["streaming_kg_quads"] = oracles["kg_quads"]

    # watermarked windowed rates: batch twin groups the expected quads by
    # crawl minute (warc_ts = 2025-01-01 + doc_id%86400 seconds, the
    # sources/pages.py definition)
    oracles["streaming_quad_rates"] = _with_quads("""
SELECT strftime(time_bucket(INTERVAL 1 minute, ts.wts),
                '%Y-%m-%d %H:%M:%S') AS window_start,
       CAST(sum(per_url.nq) AS BIGINT) AS n_quads
FROM (SELECT url, CAST(count(*) AS BIGINT) AS nq FROM q GROUP BY url)
     per_url
JOIN (SELECT url, TIMESTAMP '2025-01-01 00:00:00'
             + (doc_id % 86400) * INTERVAL '1 second' AS wts FROM d) ts
  USING (url)
GROUP BY 1 ORDER BY 1""")

    return oracles
