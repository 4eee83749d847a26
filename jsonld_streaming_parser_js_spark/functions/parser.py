"""Top-level JSON-LD 1.1 -> RDF quads entry point (pure Python).

``jsonld_to_quads`` is the per-document kernel the Spark pipeline invokes
inside the workers of its ``mapInArrow`` parse stage: parse -> expand ->
node map -> quads, mirroring the reference's end-to-end behavior
(``/root/reference/lib/JsonLdParser.ts`` lifecycle) in non-streaming mode.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field, fields
from typing import Any

from .context import (
    FLAGS,
    JsonLdError,
    KernelFlags,
    initial_context,
    process_context,
)

# ParserOptions carries one field per KernelFlags field (same names);
# jsonld_to_quads copies them over generically so adding a flag is a
# two-place change (KernelFlags + ParserOptions), never a silent leak
_FLAG_NAMES = tuple(f.name for f in fields(KernelFlags))
from .expand import expand
from .to_rdf import (
    BlankNodeIssuer,
    apply_default_graph,
    emit_quads,
    generate_node_map,
    skolemize_label,
    skolemize_quads,
)

Quad = tuple  # (subj, pred, obj, graph) as N-Triples lexical strings


@dataclass
class ParserOptions:
    """Mirrors the reference's IJsonLdParserOptions surface
    (``/root/reference/lib/JsonLdParser.ts:619-740``) minus streaming-only
    knobs (streamingProfile / allowOutOfOrderContext are moot: we always
    hold the full block)."""

    base_iri: str | None = None
    context: Any = None                 # root context (object/IRI/array)
    rdf_direction: str | None = None    # None|'i18n-datatype'|'compound-literal'
    produce_generalized_rdf: bool = False
    # named graph to emit otherwise-default-graph quads into (the
    # reference's defaultGraph option, lib/JsonLdParser.ts:686-688);
    # an N-Triples term ('<iri>' or '_:label'), or None for the default
    default_graph: str | None = None
    # 'json-ld-1.1' | 'json-ld-1.0' (reference: lib/JsonLdParser.ts:652) —
    # 1.0 mode rejects 1.1-only features with the spec's coded errors
    processing_mode: str = "json-ld-1.1"
    # allow reverse properties inside RDF-star embedded nodes (reference:
    # rdfstarReverseInEmbedded; default False = error)
    rdfstar_reverse_in_embedded: bool = False
    ctx_cache: dict = field(default_factory=dict)
    # --- IJsonLdParserOptions parity flags (see KernelFlags) ---------------
    # strictValues: error on silently-droppable constructs (unknown
    # keywords, non-IRI predicates/subjects/objects/types, malformed
    # language tags). The pipeline layer ADDITIONALLY offers fail-fast on
    # error-channel rows (plans/pipeline.py assert_no_errors).
    strict_values: bool = False
    # rdfstar=False: @annotation entries are silently ignored and embedded
    # @id nodes are invalid (reference lib/JsonLdParser.ts rdfstar option)
    rdfstar: bool = True
    # allowSubjectList: permit RDF lists in subject position via @reverse
    allow_subject_list: bool = False
    # normalizeLanguageTags: lowercase language tags (always on in 1.0).
    # Default TRUE: the reference's own W3C spec run enables it
    normalize_language_tags: bool = True
    # validateValueIndexes: error on non-string/conflicting @index values.
    # Default TRUE: the reference's own W3C spec run enables it
    validate_value_indexes: bool = True


def expand_document(doc: Any, options: ParserOptions) -> Any:
    ctx = initial_context(options.base_iri, options.processing_mode)
    if options.context is not None:
        ctx = process_context(ctx, options.context, options.base_iri,
                              options.ctx_cache)
    expanded = expand(ctx, None, doc, options.base_iri, options.ctx_cache)
    if expanded is None:
        return []
    if isinstance(expanded, dict):
        return [expanded]
    return expanded


def jsonld_to_quads(doc: Any, options: ParserOptions | None = None
                    ) -> list[Quad]:
    """Parsed JSON document -> list of quads (N-Triples lexical tuples)."""
    options = options or ParserOptions()
    # FLAGS is threading.local, so its __dict__ IS this thread's flag set:
    # swap it wholesale instead of 10 getattr/setattr per parse (measured
    # ~1.5% of kernel time at one parse per block)
    opt_dict = options.__dict__
    flags_dict = FLAGS.__dict__
    saved = dict(flags_dict)
    for name in _FLAG_NAMES:
        flags_dict[name] = opt_dict[name]
    if options.processing_mode == "json-ld-1.0":
        flags_dict["normalize_language_tags"] = True  # always on in 1.0
    try:
        return _jsonld_to_quads_impl(doc, options)
    finally:
        flags_dict.clear()
        flags_dict.update(saved)


def _jsonld_to_quads_impl(doc: Any, options: ParserOptions) -> list[Quad]:
    expanded = expand_document(doc, options)
    node_map: dict = {}
    issuer = BlankNodeIssuer(
        rdf_direction=options.rdf_direction,
        rdfstar_reverse_in_embedded=options.rdfstar_reverse_in_embedded)
    generate_node_map(expanded, node_map, issuer)
    quads = emit_quads(node_map, rdf_direction=options.rdf_direction,
                       produce_generalized_rdf=options.produce_generalized_rdf,
                       doc_issuer=issuer)
    # non-skolemized API: safe to remap here. Skolemizing callers
    # (parse_block) remap AFTER skolemize_quads instead — see the ordering
    # contract on apply_default_graph.
    return apply_default_graph(quads, options.default_graph)


def parse_block(block_text: str, url: str, blk: int,
                ctx_cache: dict | None = None,
                rdf_direction: str | None = None,
                context: Any = None,
                default_graph: str | None = None,
                parser_options: ParserOptions | None = None
                ) -> tuple[list[Quad], str | None]:
    """One extracted JSON-LD block -> (skolemized quads, error_code).

    Errors never abort the job: bad blocks yield ``([], code)`` — the Spark
    analog of the reference's recoverable error channel
    (``/root/reference/lib/ParsingContext.ts:380-382``); strictValues
    semantics are applied at the pipeline layer by filtering the error col.
    """
    try:
        doc = json.loads(block_text)
    except (ValueError, RecursionError):
        return [], "invalid json"
    try:
        # default_graph is applied AFTER skolemization below: a blank-node
        # graph term ('_:dg') must stay ONE shared graph across every
        # document, exactly like the reference's defaultGraph option
        # (lib/JsonLdParser.ts:686-688) — the per-(url, blk) skolemizer
        # would otherwise split it into per-document graphs
        # parser_options is the TEMPLATE (behavior flags + defaults); the
        # explicit per-call arguments win where given
        base_opts = parser_options or ParserOptions()
        default_graph = default_graph or base_opts.default_graph
        # manual shallow clone: dataclasses.replace re-runs __init__ and
        # measured ~4% of kernel time at one call per block
        options = ParserOptions.__new__(ParserOptions)
        options.__dict__.update(base_opts.__dict__)
        options.base_iri = url
        options.ctx_cache = ctx_cache or base_opts.ctx_cache
        options.rdf_direction = rdf_direction or base_opts.rdf_direction
        if context is not None:
            options.context = context
        options.default_graph = None
        quads = jsonld_to_quads(doc, options)
    except JsonLdError as exc:
        return [], exc.code
    except RecursionError:
        return [], "document too deep"
    except ValueError as exc:
        # e.g. NaN/Infinity inside an @json literal (json.loads accepts
        # them; RFC 8785 forbids them) — recoverable, never task-fatal
        return [], f"invalid value: {exc}"
    except Exception as exc:  # noqa: BLE001 — kernel-bug backstop
        # No kernel defect may kill a Spark task on untrusted input: route
        # anything unforeseen to the error channel instead
        return [], f"internal error: {type(exc).__name__}: {exc}"
    try:
        return apply_default_graph(
            skolemize_quads(quads, url, blk), default_graph), None
    except Exception as exc:  # noqa: BLE001 — same backstop for skolemizer
        return [], f"internal error: {type(exc).__name__}: {exc}"


# --- block memo ------------------------------------------------------------
# A block is parsed once under a placeholder base and reused for every
# occurrence when the parse is provably base-independent. Reserved-TLD
# (`.invalid`, RFC 2606) placeholder: no real crawl URL shares its
# authority, so its host in an output term marks base-dependence.
MEMO_URL = "https://jsonld-memo-placeholder.invalid/base"
MEMO_HOST = "jsonld-memo-placeholder.invalid"
# skolem namespace the placeholder parse emits: 's<md5(MEMO_URL)[:16]>x0'
MEMO_LABEL = skolemize_label(MEMO_URL, 0)
MEMO_BNODE_PREFIX = "_:" + MEMO_LABEL + "x"
# entries per block memo; a full memo is cleared (one re-parse per
# template block per clear)
MEMO_MAX_BLOCKS = 4096


def is_memoizable(quads: list[Quad], err: str | None) -> bool:
    """A placeholder parse is reusable iff it did not fail (an error may
    depend on what a relative context IRI resolved to), no term resolved
    against the placeholder base, and the placeholder label occurs only
    as THE prefix of plain bnode terms (not inside quoted triples or
    literals), which the prefix relabel rewrites soundly."""
    if err is not None:
        return False
    for quad in quads:
        for t in quad:
            if MEMO_HOST in t:
                return False
            if MEMO_LABEL in t and not (
                    t.startswith(MEMO_BNODE_PREFIX)
                    and MEMO_LABEL not in t[len(MEMO_BNODE_PREFIX):]):
                return False
    return True


def relabel_memo(quads: list[Quad], url: str, blk: int) -> list[Quad]:
    """Placeholder skolem prefix -> the ``(url, blk)`` prefix: exact
    prefix surgery, the rule of ``operators/memo._rewrite_prefix``."""
    bp = "_:" + skolemize_label(url, blk) + "x"
    n = len(MEMO_BNODE_PREFIX)
    return [tuple(bp + t[n:] if t.startswith(MEMO_BNODE_PREFIX) else t
                  for t in q) for q in quads]


def parse_block_memo(memo: dict, block_text: str, url: str, blk: int,
                     ctx_cache: dict | None = None,
                     rdf_direction: str | None = None,
                     parser_options: ParserOptions | None = None
                     ) -> tuple[list[Quad], str | None]:
    """:func:`parse_block` through ``memo`` (block text -> placeholder
    quads, or None for a non-memoizable block): a miss parses under
    ``MEMO_URL`` and classifies; a memoizable block is relabeled to
    ``(url, blk)``, any other is parsed per occurrence. The key is the
    block text alone, so the root context must not vary per call."""
    if block_text not in memo:
        if len(memo) >= MEMO_MAX_BLOCKS:
            memo.clear()
        quads, err = parse_block(block_text, MEMO_URL, 0, ctx_cache,
                                 rdf_direction,
                                 parser_options=parser_options)
        memo[block_text] = quads if is_memoizable(quads, err) else None
    quads = memo[block_text]
    if quads is None:
        return parse_block(block_text, url, blk, ctx_cache, rdf_direction,
                           parser_options=parser_options)
    return relabel_memo(quads, url, blk), None
