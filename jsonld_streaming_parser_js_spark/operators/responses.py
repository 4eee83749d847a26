"""HTTP-response source adapter: media-type gate + Link-header context.

Spark analog of the reference's ``JsonLdParser.fromHttpResponse``
(``/root/reference/lib/JsonLdParser.ts:109-162``) over a table of captured
HTTP responses ``(url, media_type, link_headers array<string>, body)``:

- ``application/ld+json`` (or a caller-listed well-known media type, default
  ``application/activity+json``): body parsed as-is; Link headers ignored.
- ``application/json`` / any ``*+json``: requires EXACTLY ONE Link header
  with ``rel="http://www.w3.org/ns/json-ld#context"`` — that IRI becomes the
  root context. Zero links -> ``loading document failed`` (suppressed by
  ``ignore_missing_context_link_header``); two or more ->
  ``multiple context link headers`` (reference ERROR_CODES analogs).
- anything else -> ``loading document failed`` (unsupported media type).

The gate and link extraction are pure JVM expressions (regexp over the
header array — whole-stage codegen, no Python); only the surviving bodies
cross into the Arrow-batched parse kernel. At corpus scale the gate is a
narrow filter, so rejected responses cost one predicate, not a parse.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .parse import BlockRow, _parse_stage

JSONLD_CONTEXT_REL = "http://www.w3.org/ns/json-ld#context"
DEFAULT_WELL_KNOWN = ("application/activity+json",)

# one Link element: <uri> followed by params up to the next comma; matches
# when the JSON-LD context relation appears in the (possibly
# space-separated, RFC 8288) quoted rel list. Dots escaped — the IRI is a
# literal, not a pattern. The param run steps over quoted strings as whole
# units, INCLUDING backslash-escaped quotes inside them
# ((?:"(?:\\.|[^"\\])*"|[^,"])*? at the regex level; backslashes are
# doubled below because the pattern travels through a Spark SQL string
# literal), so neither a comma nor an escaped quote inside an earlier
# quoted param (e.g. title="a \"b, c\"") ends the element early — matching
# the reference's RFC 8288 quoted-string/quoted-pair tokenizer
# (parseLinkHeader).
_CTX_REL_ESCAPED = JSONLD_CONTEXT_REL.replace(".", r"\\.")
_QUOTED_UNIT = r'"(?:\\\\.|[^"\\\\])*"'
_CTX_LINK_RE = (r'<([^>]*)>(?:' + _QUOTED_UNIT + r'|[^,"])*?rel="(?:[^"]* )?'
                + _CTX_REL_ESCAPED + r'( [^"]*)?"')


def gate_responses(responses: DataFrame,
                   well_known_media_types: tuple[str, ...] =
                   DEFAULT_WELL_KNOWN,
                   ignore_missing_context_link_header: bool = False
                   ) -> DataFrame:
    """responses -> (url, blk, block, ctx_iri, error) — the media-type /
    Link-header gate, fully JVM-side."""
    wk = list(well_known_media_types)
    ctx_links = F.expr(
        "flatten(transform("
        "coalesce(link_headers, CAST(array() AS array<string>)),"
        f" h -> regexp_extract_all(h, '{_CTX_LINK_RE}', 1)))")
    # NULL media_type (missing Content-Type) must take the unsupported-type
    # branch, not slip through three-valued logic as linked-JSON
    mt = F.coalesce(F.col("media_type"), F.lit(""))
    is_ld = (mt == "application/ld+json") | mt.isin(wk)
    is_json = (mt == "application/json") | mt.endswith("+json")
    n_ctx = F.size(ctx_links)
    error = (F.when(is_ld, F.lit(None).cast("string"))
             .when(~is_json, F.lit("loading document failed"))
             .when(n_ctx > 1, F.lit("multiple context link headers"))
             .when((n_ctx == 0)
                   & F.lit(not ignore_missing_context_link_header),
                   F.lit("loading document failed"))
             .otherwise(F.lit(None).cast("string")))
    ctx_iri = (F.when(is_ld, F.lit(None).cast("string"))
               .when(n_ctx == 1, ctx_links[0])
               .otherwise(F.lit(None).cast("string")))
    return responses.select(
        "url", F.lit(0).alias("blk"), F.col("body").alias("block"),
        ctx_iri.alias("ctx_iri"), error.alias("error"))


def parse_responses(responses: DataFrame, ctx_cache: dict | None = None,
                    well_known_media_types: tuple[str, ...] =
                    DEFAULT_WELL_KNOWN,
                    ignore_missing_context_link_header: bool = False,
                    rdf_direction: str | None = None) -> DataFrame:
    """responses -> parsed rows (QUAD_SCHEMA): gate, then kernel parse with
    the per-response Link-header context as the root context; a gated-out
    response is one error row and is never parsed."""
    gated = gate_responses(responses, well_known_media_types,
                           ignore_missing_context_link_header)

    def block_rows(batch: pa.RecordBatch) -> Iterator[BlockRow]:
        return zip(*(batch.column(c).to_pylist() for c in
                     ("url", "blk", "block", "ctx_iri", "error")))

    return _parse_stage(gated, block_rows, ctx_cache, rdf_direction)
