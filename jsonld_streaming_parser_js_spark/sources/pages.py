"""Synthetic Common-Crawl-style ``pages`` table (BASELINE.json input_hint).

Schema: ``(url string, warc_ts timestamp, html binary, text string,
lang string)``. Pages are derived **deterministically** from the
driver-provided ``documents`` parquet (``doc_id, text, lang, source,
n_chars``) using only Spark SQL string expressions — no Python row code, no
randomness — so that:

1. the same pages are regenerated identically at any scale factor or
   parallelism (determinism invariant), and
2. a DuckDB oracle can reconstruct the exact page/block/quad content from
   the same parquet with plain SQL (the lane oracles in
   ``tests/test_lane_oracles.py``).

Each page embeds 1-3 ``<script type="application/ld+json">`` blocks drawn
from fixture templates that exercise the kernel's feature families
(FIXTURES.md section 3), plus a malformed block on every 17th doc for the
error channel:

- block A (always, blk 0): schema.org Article with remote context (broadcast
  cache), typed number, IRI object -> 5 quads
- block B (doc_id % 3 == 0): ``@list`` breadcrumbs -> rdf:first/rest chain
- block C (doc_id % 5 == 0): named graph + ``@language`` container map
- block X (doc_id % 17 == 0): malformed JSON -> error row, no quads
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

CTX_IRI = "https://kg.example.org/ctx/v1"

# Pinned context documents for the broadcast context cache (model:
# /root/reference/mocks/contexts/index.ts:13-21 MockedDocumentLoader).
CONTEXTS: dict[str, dict] = {
    CTX_IRI: {"@context": {"@vocab": "http://schema.org/"}},
}


def page_url_sql(doc_id: str = "doc_id") -> str:
    return (f"'https://ex' || CAST({doc_id} % 7 AS STRING)"
            f" || '.example.org/page/' || CAST({doc_id} AS STRING)")


def block_a_sql(url: str = "url", name_suffix: str = "") -> str:
    """``name_suffix`` (a literal, e.g. ' v2') models a re-crawl wave
    where the page content changed — used by the upsert lane."""
    return (
        "'{\"@context\":\"" + CTX_IRI + "\",\"@id\":\"' || " + url
        + " || '#article\",\"@type\":\"Article\",\"name\":\"Doc ' || "
        "CAST(doc_id AS STRING) || '" + name_suffix + "\",\"wordCount\":'"
        " || CAST(n_chars AS STRING) || ',\"inLanguage\":\"' || lang || "
        "'\",\"author\":{\"@id\":\"https://ex' || "
        "CAST(doc_id % 7 AS STRING) || '.example.org/author/' || "
        "CAST(doc_id % 50 AS STRING) || '\",\"name\":\"Author ' || "
        "CAST(doc_id % 50 AS STRING) || '\"}}'"
    )


def block_b_sql(url: str = "url") -> str:
    return (
        "'{\"@context\":\"" + CTX_IRI + "\",\"@id\":\"' || " + url
        + " || '#nav\",\"crumbs\":{\"@list\":[\"Home\",\"Doc ' || "
        "CAST(doc_id AS STRING) || '\"]}}'"
    )


def block_c_sql(url: str = "url") -> str:
    return (
        "'{\"@context\":{\"label\":{\"@id\":\"http://schema.org/name\","
        "\"@container\":\"@language\"}},\"@id\":\"' || " + url
        + " || '#g\",\"@graph\":{\"@id\":\"' || " + url
        + " || '#entity\",\"label\":{\"en\":\"Doc ' || "
        "CAST(doc_id AS STRING) || '\",\"de\":\"Dok ' || "
        "CAST(doc_id AS STRING) || '\"}}}'"
    )


MALFORMED_BLOCK = '{"@id": broken'


def block_d_sql(url: str = "url") -> str:
    """i18n fixture block: default @language+@direction from the context,
    a per-value @direction override, and a direction-without-language value
    — exercises all three rdfDirection emission modes
    (reference: lib/Util.ts:753-782)."""
    return (
        "'{\"@context\":{\"@language\":\"ar\",\"@direction\":\"rtl\"},"
        "\"@id\":\"' || " + url + " || '#i18n\","
        "\"http://schema.org/headline\":\"Doc ' || "
        "CAST(doc_id AS STRING) || '\","
        "\"http://schema.org/alternativeHeadline\":{\"@value\":\"Alt ' || "
        "CAST(doc_id AS STRING) || '\",\"@language\":\"en\","
        "\"@direction\":\"ltr\"},"
        "\"http://schema.org/name\":{\"@value\":\"Plain ' || "
        "CAST(doc_id AS STRING) || '\",\"@direction\":\"ltr\"}}'"
    )


def shared_org_block_sql() -> str:
    """Site-template block: content keyed ONLY by the site (doc_id % 7),
    so every page of a site carries a byte-identical block — the
    real-crawl duplication shape the block memos exploit. Includes an
    anonymous node so the memo's skolem-prefix rewrite is exercised
    across urls/blks."""
    k = "CAST(doc_id % 7 AS STRING)"
    return (
        "'{\"@context\":{\"@vocab\":\"http://schema.org/\"},"
        "\"@id\":\"https://ex' || " + k + " || '.example.org/#org\","
        "\"@type\":\"Organization\",\"name\":\"Site ' || " + k
        + " || '\",\"member\":{\"name\":\"Bot ' || " + k + " || '\"}}'"
    )


def shared_org_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(url, blk, block): one site-template block per document; only 7
    distinct block strings across the whole corpus. ``blk = doc_id % 2``
    so the memo rewrite must handle non-zero block indexes."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        F.expr(page_url_sql()).alias("url"),
        F.expr("CAST(doc_id % 2 AS INT)").alias("blk"),
        F.expr(shared_org_block_sql()).alias("block"))


def i18n_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(url, blk, block) frame of i18n fixture blocks — one per document,
    SQL-expressible so the lane oracle can reconstruct expected quads."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        F.expr(page_url_sql()).alias("url"),
        F.lit(0).alias("blk"),
        F.expr(block_d_sql(page_url_sql())).alias("block"),
    )

# SQL that evaluates to the newline-joined block payloads == the ``text``
# column (byte-identical-extraction invariant target).
def text_sql(name_suffix: str = "") -> str:
    a, b, c = (block_a_sql("_url", name_suffix), block_b_sql("_url"),
               block_c_sql("_url"))
    return (
        f"({a}) || "
        f"(CASE WHEN doc_id % 3 = 0 THEN chr(10) || ({b}) ELSE '' END) || "
        f"(CASE WHEN doc_id % 5 = 0 THEN chr(10) || ({c}) ELSE '' END) || "
        f"(CASE WHEN doc_id % 17 = 0 THEN chr(10) || '{MALFORMED_BLOCK}'"
        f" ELSE '' END)"
    )


def _script(body_sql: str) -> str:
    return ("'<script type=\"application/ld+json\">' || (" + body_sql
            + ") || '</script>'")


def html_sql(name_suffix: str = "") -> str:
    a, b, c = (block_a_sql("_url", name_suffix), block_b_sql("_url"),
               block_c_sql("_url"))
    return (
        "'<html><head><title>Doc ' || CAST(doc_id AS STRING) || "
        "'</title><script src=\"/app.js\"></script>' || "
        + _script(a) + " || "
        f"(CASE WHEN doc_id % 3 = 0 THEN {_script(b)} ELSE '' END) || "
        f"(CASE WHEN doc_id % 5 = 0 THEN {_script(c)} ELSE '' END) || "
        f"(CASE WHEN doc_id % 17 = 0 THEN "
        + _script(f"'{MALFORMED_BLOCK}'")
        + " ELSE '' END) || "
        # body noise text is HTML-escaped: corpus text containing literal
        # '<script' must not inject extra extractable blocks
        "'</head><body><p>' || replace(text, '<', '&lt;') || "
        "'</p></body></html>'"
    )


def response_url_sql(doc_id: str = "doc_id") -> str:
    return (f"'https://api.ex' || CAST({doc_id} % 7 AS STRING)"
            f" || '.example.org/items/' || CAST({doc_id} AS STRING)")


def responses_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic HTTP-response capture table (url, media_type, link_headers,
    body) — SQL-expressible, exercising every fromHttpResponse branch:

    - doc_id%10 in 0..5: raw ``application/json`` + exactly one context
      Link header (plus a decoy ``rel=alternate`` link) -> parsed with the
      linked context
    - %10 in 6,7: ``application/ld+json`` with inline context (Link header
      present but correctly IGNORED for the JSON-LD media type)
    - %10 == 8: ``text/plain`` -> 'loading document failed'
    - %10 == 9: two context Link headers -> 'multiple context link headers'
    """
    u = response_url_sql()
    ctx_link = f'\'<{CTX_IRI}>; rel="http://www.w3.org/ns/json-ld#context"\''
    decoy = "'<https://cdn.example.org/other>; rel=\"alternate\"'"
    media = ("CASE WHEN doc_id % 10 <= 5 THEN 'application/json'"
             " WHEN doc_id % 10 <= 7 THEN 'application/ld+json'"
             " WHEN doc_id % 10 = 8 THEN 'text/plain'"
             " ELSE 'application/json' END")
    links = (f"CASE WHEN doc_id % 10 <= 5 THEN array({decoy}, {ctx_link})"
             f" WHEN doc_id % 10 <= 7 THEN array({ctx_link})"
             f" WHEN doc_id % 10 = 8 THEN CAST(array() AS array<string>)"
             f" ELSE array({ctx_link}, {ctx_link}) END")
    body = (
        "CASE WHEN doc_id % 10 <= 5 THEN"
        " '{\"@id\":\"' || " + u + " || '#r\",\"name\":\"Doc ' ||"
        " CAST(doc_id AS STRING) || '\"}'"
        " WHEN doc_id % 10 <= 7 THEN"
        " '{\"@context\":{\"@vocab\":\"http://schema.org/\"},"
        "\"@id\":\"' || " + u + " || '#r\",\"headline\":\"H ' ||"
        " CAST(doc_id AS STRING) || '\"}'"
        " ELSE '{}' END")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        F.expr(u).alias("url"),
        F.expr(media).alias("media_type"),
        F.expr(links).alias("link_headers"),
        F.expr(body).alias("body"))


def amplified_documents(spark: SparkSession, sf_dir: str, amplify: int,
                        repartition: int | None = None) -> DataFrame:
    """Deterministically replicate documents ``amplify``x with distinct
    doc_ids (bench-scale corpus synthesis; no randomness, no external
    data).

    The repartition happens BEFORE the explode: shuffling the seed rows
    (tiny) instead of the amplified corpus — at 1000x amplification that's
    the difference between a kB-scale and a GB-scale shuffle. The explode
    (``sequence``) is JVM-side row generation, fanned out per partition.
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    if repartition:
        docs = docs.repartition(repartition, "doc_id")
    if amplify <= 1:
        return docs
    return (docs
            .withColumn("rep", F.explode(F.sequence(
                F.lit(0), F.lit(amplify - 1))))
            .withColumn("doc_id",
                        F.col("doc_id") + F.col("rep") * F.lit(10_000_000))
            .drop("rep"))


def pages_from_documents(spark: SparkSession, sf_dir: str,
                         repartition: int | None = None,
                         amplify: int = 1,
                         doc_filter: str | None = None,
                         name_suffix: str = "") -> DataFrame:
    """documents parquet -> deterministic pages DataFrame.

    ``doc_filter`` (SQL predicate over doc_id) + ``name_suffix`` model a
    RE-CRAWL WAVE: the same urls regenerated with changed content (the
    upsert lane's input)."""
    docs = amplified_documents(spark, sf_dir, amplify, repartition)
    if doc_filter:
        docs = docs.where(F.expr(doc_filter))
    return docs.select(
        F.expr(page_url_sql()).alias("_url"),
        "doc_id", "n_chars", "lang", "text",
    ).select(
        F.col("_url").alias("url"),
        F.to_timestamp(
            F.expr("timestamp '2025-01-01 00:00:00' "
                   "+ make_interval(0, 0, 0, 0, 0, 0, doc_id % 86400)")
        ).alias("warc_ts"),
        F.encode(F.expr(html_sql(name_suffix)), "UTF-8").alias("html"),
        F.expr(text_sql(name_suffix)).alias("text"),
        F.col("lang"),
    )
