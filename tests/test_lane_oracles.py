"""Value oracles for the KG-construction lanes, checked against DuckDB.

Each lane is a Spark plan over the synthetic pages built from
``documents`` (sources/pages.py). Its oracle rebuilds the exact expected
rows from the same parquet in DuckDB SQL. The check compares the row
count, the column names and an order-insensitive value hash (columns
sorted by name, rows sorted, values stringified), so a lane that drops,
adds or changes one row fails.

Lanes that union several views tag each row with a discriminator column
(``corpus``, ``channel``, ``mode``, ``shape``, ``change``); the oracle
for each view is its own SELECT under the same tag.
"""

from __future__ import annotations

import hashlib
import os
from collections.abc import Callable

import duckdb
import pytest
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jsonld_streaming_parser_js_spark.operators import bgp
from jsonld_streaming_parser_js_spark.operators import canonicalize as canon
from jsonld_streaming_parser_js_spark.operators.extract import (
    extract_blocks, ndjson_blocks)
from jsonld_streaming_parser_js_spark.operators.parse import (
    extract_and_parse, pages_to_quads, parse_blocks, quads_only)
from jsonld_streaming_parser_js_spark.operators.responses import (
    parse_responses)
from jsonld_streaming_parser_js_spark.plans import lineage as lin
from jsonld_streaming_parser_js_spark.plans.pipeline import quads_table
from jsonld_streaming_parser_js_spark.sources.pages import (
    CONTEXTS, block_a_sql, block_b_sql, block_c_sql, i18n_blocks,
    pages_from_documents, response_url_sql, responses_from_documents)
from tests.test_spark_pipeline import SF

RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDF_TYPE = f"<{RDF_NS}type>"
_SCHEMA = "http://schema.org/"


# ---------------------------------------------------------------------------
# shared plan fragments
# ---------------------------------------------------------------------------

def errors_only(parsed: DataFrame) -> DataFrame:
    return (parsed.where(F.col("error").isNotNull())
            .select("url", "blk", "error"))


def cluster_summary(quads: DataFrame) -> DataFrame:
    """(canonical, n_members) per merged cluster. Exact blocking makes
    each block one component, so members = star size + the canonical."""
    edges = canon.candidate_edges_exact(canon.node_features(quads))
    # src is unique (one block minimum per node), so count == distinct
    return (edges.groupBy(F.col("dst").alias("canonical"))
            .agg((F.count("src") + F.lit(1)).alias("n_members")))


def strict_blocks(spark: SparkSession) -> DataFrame:
    """Strict-mode violation corpus, SQL-expressible in both engines:
    doc_id%4 -> 0 unknown keyword, 1 non-IRI predicate, 2 ill-formed
    language tag, 3 valid control block."""
    block = F.expr("""CASE doc_id % 4
  WHEN 0 THEN '{"@id": "http://ex.org/s", "@bogus": "x"}'
  WHEN 1 THEN '{"@id": "http://ex.org/s", "name": "x"}'
  WHEN 2 THEN '{"@id": "http://ex.org/s", "http://ex.org/p": {"@value": "v", "@language": "en_US"}}'
  ELSE '{"@id": "http://ex.org/s", "http://ex.org/p": "v"}' END""")
    return _docs(spark).select(
        F.concat(F.lit("strict://doc/"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.lit(0).cast("int").alias("blk"),
        block.alias("block"))


def _pages(spark):
    return pages_from_documents(spark, SF)


def _quads(spark):
    return pages_to_quads(_pages(spark), CONTEXTS)


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


# ---------------------------------------------------------------------------
# lanes: (spark, work_dir) -> DataFrame
# ---------------------------------------------------------------------------

def _kg_quads(spark, work):
    return _quads(spark)


def _kg_quads_memo(spark, work):
    """The build's block memo (extract_and_parse(memo=True)).
    corpus='pages': the memoized parse of the standard pages equals
    kg_quads. corpus='shared': the site-template corpus (7 distinct
    blocks, with an anonymous member node) checks the per-(url, blk)
    skolem-prefix relabel across occurrences; a zero-quad block ahead of
    it puts it at blk 1 on odd documents."""
    from jsonld_streaming_parser_js_spark.sources.pages import (
        shared_org_blocks)
    pages_leg = (quads_only(
        extract_and_parse(_pages(spark), CONTEXTS, memo=True))
        .dropDuplicates(["url", "blk", "subj", "pred", "obj", "graph"])
        .withColumn("corpus", F.lit("pages")))
    script = '<script type="application/ld+json">'
    shared_pages = shared_org_blocks(spark, SF).select(
        "url", F.concat(
            F.when(F.col("blk") == 1, F.lit(script + "{}</script>"))
            .otherwise(F.lit("")),
            F.lit(script), F.col("block"), F.lit("</script>"))
        .alias("html"))
    shared_leg = (quads_only(extract_and_parse(shared_pages, {}, memo=True))
                  .withColumn("corpus", F.lit("shared")))
    return pages_leg.unionByName(shared_leg)


def _kg_extract_blocks(spark, work):
    return extract_blocks(_pages(spark))


def _kg_error_channels(spark, work):
    """The three error channels. 'lenient': malformed-JSON rows of the
    standard pages. 'strict': strictValues turns each lenient drop of
    ``strict_blocks`` into a coded error row. 'http': fromHttpResponse
    media-type and Link-header failures."""
    from jsonld_streaming_parser_js_spark.functions.parser import (
        ParserOptions)
    lenient = parse_blocks(extract_blocks(_pages(spark)), CONTEXTS)
    strict = parse_blocks(strict_blocks(spark), CONTEXTS,
                          parser_options=ParserOptions(strict_values=True))
    http = parse_responses(responses_from_documents(spark, SF), CONTEXTS)
    legs = [errors_only(parsed).withColumn("channel", F.lit(channel))
            for channel, parsed in (("lenient", lenient),
                                    ("strict", strict), ("http", http))]
    return legs[0].unionByName(legs[1]).unionByName(legs[2])


def _kg_quads_i18n(spark, work):
    """Both rdfDirection modes over the @direction fixture block:
    'i18n-datatype' encodes language+direction in an i18n# datatype;
    'compound-literal' makes each directional literal a blank node with
    rdf:value/rdf:language/rdf:direction."""
    legs = []
    for mode in ("i18n-datatype", "compound-literal"):
        parsed = parse_blocks(i18n_blocks(spark, SF), CONTEXTS,
                              rdf_direction=mode)
        legs.append(quads_only(parsed).withColumn("mode", F.lit(mode)))
    return (legs[0].unionByName(legs[1])
            .select("mode", "url", "blk", "subj", "pred", "obj", "graph"))


def _kg_http_quads(spark, work):
    """fromHttpResponse: media-type gate + Link-header root context over
    a captured-responses table."""
    return quads_only(parse_responses(
        responses_from_documents(spark, SF), CONTEXTS))


def _kg_ndjson_quads(spark, work):
    """NDJSON source: one JSON-LD document per line, split JVM-side and
    parsed by the same kernel."""
    u = "'https://dump.example.org/rec/' || CAST(doc_id AS STRING)"
    body = (
        "'{\"@id\":\"' || " + u + " || '#a\",\"http://schema.org/name\":"
        "\"Doc ' || CAST(doc_id AS STRING) || '\"}' || chr(10) || "
        "'{\"@id\":\"' || " + u + " || '#b\","
        "\"http://schema.org/position\":' || CAST(doc_id % 9 AS STRING)"
        " || '}'")
    docs = _docs(spark).select(F.expr(u).alias("url"),
                               F.expr(body).alias("body"))
    return quads_only(parse_blocks(ndjson_blocks(docs), CONTEXTS))


def _kg_canonical_clusters(spark, work):
    return cluster_summary(_quads(spark))


def _kg_quads_canonical(spark, work):
    """extract -> parse -> exact-feature canonicalization -> relabel."""
    quads = _quads(spark)
    return canon.relabel_quads(quads, canon.canonical_mapping(quads))


def _kg_upsert_wave(spark, work):
    """A re-crawl wave (every doc_id%3==0 page, Article name + ' v2')
    under a ``change`` tag. 'store': the committed store after the
    shipped ``upsert_wave`` — wave quads for the re-crawled urls, the
    original quads for the rest. 'added'/'removed': ``wave_diff``, the
    change feed for the re-crawled urls."""
    wave_pages = pages_from_documents(
        spark, SF, doc_filter="doc_id % 3 = 0", name_suffix=" v2")
    # the CRAWLED url set, not the quads' urls: a re-crawled page that
    # yields zero quads must still delete from the store
    keys = wave_pages.select("url")
    store = os.path.join(work, "store")
    lin.write_bucketed(lin.with_bucket(
        extract_and_parse(_pages(spark), CONTEXTS), 8), store)
    lin.upsert_wave(spark, store, extract_and_parse(wave_pages, CONTEXTS),
                    8, wave_keys=keys)
    base = _quads(spark).localCheckpoint()
    wave = pages_to_quads(wave_pages, CONTEXTS).localCheckpoint()
    return (quads_table(spark, store).withColumn("change", F.lit("store"))
            .unionByName(lin.wave_diff(base, wave, wave_keys=keys)))


def _kg_bgp_query(spark, work):
    """Graph-pattern queries over the distinct fact set, one ``shape``
    per evaluation mode; v1/v2/v3 are the bindings in pattern order.
    'authors': a three-pattern conjunction, run from SPARQL text.
    'listpath': ``rdf:rest+`` composed with the crumbs pattern.
    'optional': ``rdf:rest`` OPTIONAL ``rdf:first`` (unbound -> '')."""
    from jsonld_streaming_parser_js_spark.operators.sparql import (
        sparql_query)
    kg = (_quads(spark).select("subj", "pred", "obj", "graph").distinct()
          .localCheckpoint())
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
    return authors.unionByName(lists).unionByName(opt)


def _streaming_kg_quads(spark, work):
    """The streaming twin of kg_quads: pages land as 4 parquet files, a
    file-source stream (one file per micro-batch) runs the fused
    extract+parse stage, and the drained sink must equal kg_quads."""
    from jsonld_streaming_parser_js_spark.streaming.stream import (
        read_pages_stream, start_quads_sink)
    _pages(spark).repartition(4).write.parquet(f"{work}/pages")
    stream = read_pages_stream(spark, f"{work}/pages",
                               max_files_per_trigger=1)
    parsed = extract_and_parse(stream, CONTEXTS)
    start_quads_sink(quads_only(parsed), f"{work}/out",
                     f"{work}/ckpt").awaitTermination()
    return (spark.read.parquet(f"{work}/out")
            .dropDuplicates(["url", "blk", "subj", "pred", "obj", "graph"]))


LANES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "kg_quads": _kg_quads,
    "kg_quads_memo": _kg_quads_memo,
    "kg_extract_blocks": _kg_extract_blocks,
    "kg_error_channels": _kg_error_channels,
    "kg_quads_i18n": _kg_quads_i18n,
    "kg_http_quads": _kg_http_quads,
    "kg_ndjson_quads": _kg_ndjson_quads,
    "kg_canonical_clusters": _kg_canonical_clusters,
    "kg_quads_canonical": _kg_quads_canonical,
    "kg_upsert_wave": _kg_upsert_wave,
    "kg_bgp_query": _kg_bgp_query,
    "streaming_kg_quads": _streaming_kg_quads,
}


# ---------------------------------------------------------------------------
# oracles: DuckDB SQL over a ``documents`` view
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


def _expected_quads_cte(name: str = "q", src: str = "d",
                        name_sfx: str = "") -> str:
    """CTE of the exact quad set the pipeline must emit. ``src`` and
    ``name_sfx`` build the re-crawl wave (same urls, changed Article
    name) from the same definition."""
    s = "'<' || url || '#article>'"
    nav = "'<' || url || '#nav>'"
    ent = "'<' || url || '#entity>'"
    g = "'<' || url || '#g>'"
    l0 = "'_:s' || substr(md5(url), 1, 16) || 'x1xl0'"
    l1 = "'_:s' || substr(md5(url), 1, 16) || 'x1xl1'"
    c_blk = "1 + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END"
    d = src
    rows = [
        f"SELECT url, 0 AS blk, {s} AS subj, '{RDF_TYPE}' AS pred,"
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


def _oracles() -> dict[str, str]:
    o: dict[str, str] = {}

    o["kg_quads"] = _with_quads(
        "SELECT url, blk, subj, pred, obj, graph FROM q")
    # streaming and batch must be byte-identical
    o["streaming_kg_quads"] = o["kg_quads"]

    _org = "'<https://ex' || k || '.example.org/#org>'"
    _orgb = "'_:s' || substr(md5(url), 1, 16) || 'x' || blk || 'xb0'"
    o["kg_quads_memo"] = f"""
WITH {_D_CTE}, {_expected_quads_cte()},
s AS (
  SELECT 'https://ex' || CAST(doc_id % 7 AS STRING)
           || '.example.org/page/' || CAST(doc_id AS STRING) AS url,
         CAST(doc_id % 2 AS INT) AS blk,
         CAST(doc_id % 7 AS STRING) AS k
  FROM documents
), qs AS (
  SELECT url, blk, {_org} AS subj,
         '{RDF_TYPE}' AS pred,
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
SELECT 'shared', url, blk, subj, pred, obj, graph FROM qs"""

    o["kg_extract_blocks"] = f"""
WITH {_D_CTE}
SELECT url, 0 AS blk, {block_a_sql('url')} AS block FROM d
UNION ALL
SELECT url, 1, {block_b_sql('url')} FROM d WHERE doc_id % 3 = 0
UNION ALL
SELECT url, 1 + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END,
       {block_c_sql('url')} FROM d WHERE doc_id % 5 = 0
UNION ALL
SELECT url, 1 + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END
          + CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END,
       '{{"@id": broken' FROM d WHERE doc_id % 17 = 0"""

    rurl = response_url_sql("doc_id")
    rsubj = f"'<' || {rurl} || '#r>'"
    o["kg_error_channels"] = f"""
WITH {_D_CTE}
SELECT 'lenient' AS channel, url,
       1 + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END
         + CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS blk,
       'invalid json' AS error
FROM d WHERE doc_id % 17 = 0
UNION ALL
SELECT 'strict', 'strict://doc/' || doc_id::VARCHAR, 0,
       CASE doc_id % 4 WHEN 0 THEN 'invalid keyword'
                       WHEN 1 THEN 'invalid IRI mapping'
                       ELSE 'invalid language-tagged string' END
FROM documents WHERE doc_id % 4 < 3
UNION ALL
SELECT 'http', {rurl}, 0,
       CASE WHEN doc_id % 10 = 8 THEN 'loading document failed'
            ELSE 'multiple context link headers' END
FROM documents WHERE doc_id % 10 IN (8, 9)"""

    i18n_s = "'<' || url || '#i18n>'"
    i18n_ns = "https://www.w3.org/ns/i18n#"
    bn = "'_:s' || substr(md5(url), 1, 16) || 'x0xl'"
    o["kg_quads_i18n"] = f"""
WITH {_D_CTE}
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
)
UNION ALL
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

    o["kg_http_quads"] = f"""
SELECT {rurl} AS url, 0 AS blk, {rsubj} AS subj,
       '<{_SCHEMA}name>' AS pred,
       '"Doc ' || CAST(doc_id AS STRING) || '"' AS obj, '' AS graph
FROM documents WHERE doc_id % 10 <= 5
UNION ALL
SELECT {rurl}, 0, {rsubj}, '<{_SCHEMA}headline>',
       '"H ' || CAST(doc_id AS STRING) || '"', ''
FROM documents WHERE doc_id % 10 IN (6, 7)"""

    nurl = "'https://dump.example.org/rec/' || CAST(doc_id AS STRING)"
    o["kg_ndjson_quads"] = f"""
SELECT {nurl} AS url, 0 AS blk, '<' || {nurl} || '#a>' AS subj,
       '<{_SCHEMA}name>' AS pred,
       '"Doc ' || CAST(doc_id AS STRING) || '"' AS obj, '' AS graph
FROM documents
UNION ALL
SELECT {nurl}, 1, '<' || {nurl} || '#b>', '<{_SCHEMA}position>',
       '"' || CAST(doc_id % 9 AS STRING)
         || '"^^<http://www.w3.org/2001/XMLSchema#integer>', ''
FROM documents"""

    o["kg_canonical_clusters"] = f"""
WITH {_D_CTE}
SELECT min(author) AS canonical, count(DISTINCT author) AS n_members
FROM d GROUP BY doc_id % 50
HAVING count(DISTINCT author) > 1"""

    o["kg_quads_canonical"] = _with_quads("""
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
LEFT JOIN m mo ON q.obj = mo.node""")

    # the wave's quads replace their urls' quads wholesale
    o["kg_upsert_wave"] = (
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
  SELECT * FROM bw EXCEPT ALL SELECT * FROM wv)""")

    # 'authors': three self-joins of the distinct fact set; 'listpath':
    # rdf:rest+ replayed as a recursive CTE; 'optional': a LEFT JOIN.
    # Default graph only, like the Spark calls.
    o["kg_bgp_query"] = f"""
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
WHERE p1.pred = '{RDF_TYPE}' AND p1.obj = '<http://schema.org/Article>'
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
WHERE r.pred = '<{RDF_NS}rest>' AND r.graph = ''"""
    return o


ORACLES = _oracles()


# ---------------------------------------------------------------------------
# comparison
# ---------------------------------------------------------------------------

def _norm_cell(v) -> str:
    if v is None:
        return "\x00"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return f"{v:.6f}".rstrip("0").rstrip(".")
    return str(v)


def _sorted_lines(rows: list[tuple], cols: list[str]) -> list[str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    return sorted("\x1f".join(_norm_cell(r[i]) for i in order)
                  for r in rows)


def table_hash(rows: list[tuple], cols: list[str]) -> str:
    """Order-insensitive value hash: columns sorted by name, rows
    sorted, values stringified."""
    h = hashlib.md5()
    for line in _sorted_lines(rows, cols):
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{SF}/documents.parquet')")
    yield con
    con.close()


@pytest.mark.parametrize("lane", sorted(LANES))
def test_lane_matches_oracle(spark, duck, tmp_path, lane):
    sdf = LANES[lane](spark, str(tmp_path))
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    rel = duck.sql(ORACLES[lane])
    ocols, orows = rel.columns, rel.fetchall()
    assert orows, f"{lane}: the oracle returned no rows"
    assert (sorted(c.lower() for c in scols)
            == sorted(c.lower() for c in ocols)), (scols, ocols)
    if (len(srows) != len(orows)
            or table_hash(srows, scols) != table_hash(orows, ocols)):
        s = set(_sorted_lines(srows, scols))
        o = set(_sorted_lines(orows, ocols))
        pytest.fail(f"{lane}: {len(srows)} Spark rows vs {len(orows)} "
                    f"oracle rows; Spark-only {sorted(s - o)[:3]}, "
                    f"oracle-only {sorted(o - s)[:3]}")
