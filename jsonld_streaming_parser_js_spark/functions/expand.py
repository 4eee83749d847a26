"""JSON-LD 1.1 Expansion Algorithm (W3C json-ld11-api section 5.1-5.3).

The reference implements these semantics as a streaming entry-handler
dispatch over a SAX token stream (``/root/reference/lib/JsonLdParser.ts:
201-311`` + ``lib/entryhandler/*``).  Because the Spark pipeline always holds
a complete extracted JSON-LD block in worker memory (one page row -> n
blocks), we instead implement the *non-streaming* semantics the reference
exposes via ``streamingProfile:false`` / ``executeBufferedJobs``
(``lib/JsonLdParser.ts:536-602``): full recursive expansion of the parsed
document.  This matches the W3C toRdf output the reference is tested against
while being far simpler and vectorization-friendly.

Pure Python; no Spark imports.
"""

from __future__ import annotations

from typing import Any

from . import iri as iri_mod
from .context import (
    FLAGS,
    KEYWORDS,
    UNSET,
    Context,
    JsonLdError,
    as_list,
    expand_iri,
    has_keyword_form,
    process_context,
)

_VALUE_OBJECT_KEYS = frozenset({"@value", "@language", "@type", "@index",
                                "@direction", "@annotation"})

_GRAPH_OBJECT_KEYS = frozenset({"@graph", "@id", "@index"})


def _is_graph_object(v) -> bool:
    """W3C graph-object test: a map with @graph whose other keys are at
    most @id/@index (a node object with @graph + properties is NOT one)."""
    return (isinstance(v, dict) and "@graph" in v
            and not (v.keys() - _GRAPH_OBJECT_KEYS))


def _unalias_keys(ctx: Context, element: dict) -> dict[str, str]:
    """Map raw keys -> expanded property (keyword or IRI)."""
    out = {}
    for key in element:
        out[key] = expand_iri(ctx, key, vocab=True)
    return out


def expand(active_ctx: Context, active_prop: str | None, element: Any,
           base_url: str | None, ctx_cache: dict,
           from_map: bool = False) -> Any:
    """Expansion Algorithm. Returns expanded element (dict/list/None)."""
    if element is None:
        return None

    td = active_ctx.term(active_prop) if active_prop else None
    # property-scoped context: UNSET means "none"; an explicit null IS a
    # scoped context (it resets to the initial context, clearing protected
    # terms — reference test 'context null in a property scoped-context')
    has_scope = td is not None and td.context is not UNSET
    property_scoped = td.context if has_scope else None

    # scalars ---------------------------------------------------------------
    if not isinstance(element, (dict, list)):
        if active_prop is None or active_prop == "@graph":
            return None  # free-floating scalar
        if has_scope:
            active_ctx = process_context(active_ctx, property_scoped,
                                         td.base_url, ctx_cache,
                                         override_protected=True)
        return expand_value(active_ctx, active_prop, element)

    # arrays ----------------------------------------------------------------
    if isinstance(element, list):
        result = []
        scalar_ok = (active_prop is not None and active_prop != "@graph"
                     and not has_scope)
        for item in element:
            if scalar_ok and not isinstance(item, (dict, list)):
                # scalar fast path: expand() would only re-fetch the term
                # and land in expand_value (td/has_scope already in hand)
                if item is None:
                    continue
                expanded = expand_value(active_ctx, active_prop, item,
                                        td=td)
            else:
                expanded = expand(active_ctx, active_prop, item, base_url,
                                  ctx_cache, from_map)
            # JSON-LD 1.1 expansion step 5.2.1: under a @list container a
            # nested array becomes a nested list object; in 1.0 mode the
            # classic "list of lists" error still applies
            if (td is not None and "@list" in td.container
                    and (isinstance(expanded, list)
                         or (isinstance(expanded, dict)
                             and "@list" in expanded))):
                if active_ctx.mode == "json-ld-1.0":
                    raise JsonLdError("list of lists")
                if isinstance(expanded, list):
                    expanded = {"@list": expanded}
            if isinstance(expanded, list):
                result.extend(e for e in expanded if e is not None)
            elif expanded is not None:
                result.append(expanded)
        return result

    # maps ------------------------------------------------------------------
    # step 8: context reversion when the active context is non-propagating
    if active_ctx.previous_context is not None and not from_map:
        keys = _unalias_keys(active_ctx, element)
        expanded_keys = set(keys.values())
        if "@value" not in expanded_keys and \
                list(expanded_keys) != ["@id"] and \
                not (len(element) == 1 and "@id" in expanded_keys):
            active_ctx = active_ctx.previous_context

    if has_scope:
        active_ctx = process_context(
            active_ctx, property_scoped, td.base_url, ctx_cache,
            override_protected=True,
            propagate=(property_scoped.get("@propagate", True)
                       if isinstance(property_scoped, dict) else True))

    if "@context" in element:
        active_ctx = process_context(active_ctx, element["@context"],
                                     base_url, ctx_cache)

    # type-scoped contexts: lexicographically ordered type terms
    type_scoped_ctx = active_ctx
    input_type = None
    if type_scoped_ctx.may_alias_type():
        type_keys = [k for k in sorted(element)
                     if expand_iri(type_scoped_ctx, k, vocab=True)
                     == "@type"]
    else:
        # no term maps to @type, so only the literal key can (hot path:
        # skips an expand_iri per node key)
        type_keys = ["@type"] if "@type" in element else ()
    for key in type_keys:
        values = sorted(v for v in as_list(element[key])
                        if isinstance(v, str))
        for term in values:
            ttd = type_scoped_ctx.term(term)
            if ttd is not None and ttd.context is not UNSET:
                active_ctx = process_context(active_ctx, ttd.context,
                                             ttd.base_url, ctx_cache,
                                             propagate=False)
        if values:
            input_type = expand_iri(active_ctx, values[-1], vocab=True)

    result: dict[str, Any] = {}
    _expand_entries(active_ctx, type_scoped_ctx, active_prop, element,
                    result, base_url, ctx_cache, input_type)

    # post-processing (steps 15-19) ------------------------------------------
    if "@value" in result:
        extra = set(result) - _VALUE_OBJECT_KEYS
        if extra or (("@language" in result or "@direction" in result)
                     and "@type" in result):
            # @type may not be combined with @language OR @direction
            # (reference lib/Util.ts:390,401,410 — INVALID_VALUE_OBJECT)
            raise JsonLdError("invalid value object", repr(sorted(result)))
        if result.get("@type") == "@json":
            pass  # any JSON value allowed
        elif result["@value"] is None:
            return None
        elif ("@language" in result
              and not isinstance(result["@value"], str)):
            raise JsonLdError("invalid language-tagged value",
                              repr(result["@value"]))
        elif ("@direction" in result
              and not isinstance(result["@value"], str)):
            # reference lib/Util.ts:378 — direction requires a string value
            raise JsonLdError("invalid value object",
                              "'@value' must be a string when "
                              "'@direction' is set: "
                              + repr(result["@value"]))
        elif "@type" in result and not (
                isinstance(result["@type"], str)
                and iri_mod.is_absolute_iri(result["@type"])):
            # a literal datatype must be an IRI — a blank-node id is the
            # spec's invalid typed value (is_absolute_iri rejects '_:'
            # since a scheme must start with a letter)
            raise JsonLdError("invalid typed value", repr(result["@type"]))
    elif "@type" in result and not isinstance(result["@type"], list):
        result["@type"] = [result["@type"]]
    elif "@set" in result or "@list" in result:
        if set(result) - {"@set", "@list", "@index"}:
            raise JsonLdError("invalid set or list object",
                              repr(sorted(result)))
        if "@set" in result:
            return result["@set"]

    if list(result) == ["@language"]:
        return None

    if active_prop is None or active_prop == "@graph":
        if not result or "@value" in result or "@list" in result:
            return None
        if list(result) == ["@id"]:
            return None
        if list(result) == ["@graph"] and active_prop is None:
            return result["@graph"]

    return result


def _expand_entries(active_ctx: Context, type_scoped_ctx: Context,
                    active_prop: str | None, element: dict,
                    result: dict, base_url: str | None, ctx_cache: dict,
                    input_type: str | None) -> None:
    """Steps 13-14 of the Expansion Algorithm (including @nest recursion)."""
    nests: list[str] = []

    # inline vocab-IRI cache probe: expansion never runs inside
    # process_context, so the depth gate expand_iri checks is always open
    # here; keyword keys are never cached and fall through correctly
    iri_cache = active_ctx._iri_cache

    for key, value in element.items():
        if key == "@context":
            continue
        expanded_prop = iri_cache.get((key, True), UNSET)
        if expanded_prop is UNSET:
            expanded_prop = expand_iri(active_ctx, key, vocab=True)
        if expanded_prop is None:
            if FLAGS.strict_values:
                # reference strictValues: 'Unknown keyword ...' /
                # 'Invalid predicate IRI: ...' (lib/Util.ts:609-613) —
                # but a term EXPLICITLY mapped to null is a deliberate
                # drop, never an error (test 'predicate mapped to null')
                ktd0 = active_ctx.term(key)
                if ktd0 is not None and ktd0.iri is None:
                    continue
                if has_keyword_form(key):
                    raise JsonLdError("invalid keyword",
                                      f"unknown keyword {key!r}")
                raise JsonLdError("invalid IRI mapping",
                                  f"invalid predicate IRI: {key}")
            continue
        is_kw = expanded_prop in KEYWORDS
        if not is_kw and ":" not in expanded_prop:
            if FLAGS.strict_values:
                raise JsonLdError("invalid IRI mapping",
                                  f"invalid predicate IRI: {key}")
            continue

        if is_kw:
            if (active_ctx.mode == "json-ld-1.0"
                    and expanded_prop in ("@included", "@nest",
                                          "@direction", "@annotation",
                                          "@propagate", "@json", "@none")):
                # 1.1-only keywords are not keywords in 1.0: they have
                # keyword form, so they are silently dropped (reference:
                # EntryHandlerKeywordUnknownFallback semantics)
                continue
            if active_prop == "@reverse":
                raise JsonLdError("invalid reverse property map", key)
            if expanded_prop in result and expanded_prop not in (
                    "@included", "@type"):
                raise JsonLdError("colliding keywords", expanded_prop)

            if expanded_prop == "@id":
                if isinstance(value, dict):
                    if not FLAGS.rdfstar:
                        # with rdfstar disabled an object @id is simply a
                        # non-string @id (EntryHandlerKeywordId gate)
                        raise JsonLdError("invalid @id value", repr(value))
                    # JSON-LD-star embedded node (reference:
                    # lib/entryhandler/keyword/EntryHandlerKeywordId.ts:27-33)
                    embedded = expand(active_ctx, None, value, base_url,
                                      ctx_cache)
                    if embedded is None:
                        embedded = expand(active_ctx, "@annotation", value,
                                          base_url, ctx_cache)
                    # expand() can unwrap a top-level @graph to a list (e.g.
                    # {"@id": {"p": {"@id": {"@graph": ...}}}}); an embedded
                    # node must be exactly one node object
                    if not isinstance(embedded, dict):
                        raise JsonLdError("invalid embedded node",
                                          repr(value))
                    result["@id"] = embedded
                elif not isinstance(value, str):
                    raise JsonLdError("invalid @id value", repr(value))
                else:
                    result["@id"] = expand_iri(active_ctx, value,
                                               document_relative=True)
            elif expanded_prop == "@type":
                items = as_list(value)
                if not all(isinstance(v, str) for v in items):
                    raise JsonLdError("invalid type value", repr(value))
                expanded_types = [
                    expand_iri(type_scoped_ctx, v, vocab=True,
                               document_relative=True)
                    for v in items
                ]
                expanded_types = [t for t in expanded_types if t is not None]
                prev = result.get("@type")
                if prev is not None:
                    expanded_types = as_list(prev) + expanded_types
                result["@type"] = (expanded_types
                                   if isinstance(value, list)
                                   or prev is not None
                                   or len(expanded_types) != 1
                                   else expanded_types[0])
            elif expanded_prop == "@graph":
                expanded = expand(active_ctx, "@graph", value, base_url,
                                  ctx_cache)
                result["@graph"] = [e for e in as_list(expanded)
                                    if e is not None]
            elif expanded_prop == "@included":
                expanded = _expand_node_only_keyword(
                    active_ctx, None, value, base_url, ctx_cache,
                    "invalid @included value", allow_scalars=True)
                result.setdefault("@included", []).extend(expanded)
            elif expanded_prop == "@value":
                if input_type == "@json":
                    result["@value"] = value
                elif value is not None and isinstance(value, (dict, list)):
                    raise JsonLdError("invalid value object value",
                                      repr(value))
                else:
                    result["@value"] = value
            elif expanded_prop == "@language":
                if not isinstance(value, str):
                    raise JsonLdError("invalid language-tagged string",
                                      repr(value))
                result["@language"] = (value.lower()
                                       if FLAGS.normalize_language_tags
                                       else value)
            elif expanded_prop == "@direction":
                if value not in ("ltr", "rtl"):
                    raise JsonLdError("invalid base direction", repr(value))
                result["@direction"] = value
            elif expanded_prop == "@index":
                if not isinstance(value, str):
                    if FLAGS.validate_value_indexes:
                        raise JsonLdError("invalid @index value",
                                          repr(value))
                    continue  # reference: unvalidated indexes are ignored
                result["@index"] = value
            elif expanded_prop == "@list":
                if active_prop is None or active_prop == "@graph":
                    continue  # free-floating list
                if active_ctx.mode == "json-ld-1.0" and any(
                        isinstance(item, list)
                        for item in as_list(value)):
                    # W3C 1.0 expansion 8.4.5 / toRdf ter24: a nested
                    # raw array inside an explicit @list is the classic
                    # "list of lists" error. Checked PRE-expansion
                    # because array expansion flattens raw arrays (the
                    # 1.1-legal behavior) and would erase the evidence.
                    raise JsonLdError("list of lists")
                expanded = expand(active_ctx, active_prop, value, base_url,
                                  ctx_cache)
                items = [e for e in as_list(expanded) if e is not None]
                if active_ctx.mode == "json-ld-1.0" and any(
                        isinstance(e, dict) and "@list" in e
                        for e in items):
                    # post-expansion twin of the check above: catches
                    # nested LIST OBJECTS however they were spelled
                    # (aliased @list keys included)
                    raise JsonLdError("list of lists")
                result["@list"] = items
            elif expanded_prop == "@set":
                result["@set"] = expand(active_ctx, active_prop, value,
                                        base_url, ctx_cache)
            elif expanded_prop == "@reverse":
                if not isinstance(value, dict):
                    raise JsonLdError("invalid @reverse value", repr(value))
                expanded = expand(active_ctx, "@reverse", value, base_url,
                                  ctx_cache)
                if isinstance(expanded, dict) and "@reverse" in expanded:
                    # double-reversal cancels out
                    for prop, items in expanded["@reverse"].items():
                        result.setdefault(prop, []).extend(items)
                if isinstance(expanded, dict):
                    reverse_map = result.setdefault("@reverse", {})
                    for prop, items in expanded.items():
                        if prop == "@reverse":
                            continue
                        for item in items:
                            if isinstance(item, dict) and (
                                    "@value" in item
                                    or ("@list" in item
                                        and not FLAGS.allow_subject_list)):
                                raise JsonLdError(
                                    "invalid reverse property value", prop)
                            reverse_map.setdefault(prop, []).append(item)
                    if not reverse_map:
                        del result["@reverse"]
            elif expanded_prop == "@nest":
                nests.append(key)
            elif expanded_prop == "@annotation":
                if not FLAGS.rdfstar:
                    continue  # reference: annotations ignored (test :11487)
                # JSON-LD-star annotation object(s) — same node-only rule
                # (reference: EntryHandlerKeywordAnnotation.ts:24)
                result["@annotation"] = _expand_node_only_keyword(
                    active_ctx, "@annotation", value, base_url, ctx_cache,
                    "invalid annotation", allow_scalars=False)
            # unknown/unhandled keywords (@default etc.): drop
            continue

        # non-keyword entries ------------------------------------------------
        ktd = active_ctx.term(key)
        container = ktd.container if ktd is not None else frozenset()

        if ktd is not None and ktd.type_mapping == "@json":
            expanded_value: Any = {"@value": value, "@type": "@json"}
        elif "@language" in container and isinstance(value, dict):
            expanded_value = _expand_language_map(active_ctx, ktd, value)
        elif (("@index" in container or "@type" in container
               or "@id" in container) and isinstance(value, dict)):
            expanded_value = _expand_map(active_ctx, key, ktd, container,
                                         value, base_url, ctx_cache)
        elif not isinstance(value, (dict, list)):
            # scalar fast path: expand() would re-fetch the term and
            # re-check for a scoped context before landing in
            # expand_value — do it directly (ktd already in hand)
            if value is None:
                continue
            if ktd is not None and ktd.context is not UNSET:
                expanded_value = expand(active_ctx, key, value, base_url,
                                        ctx_cache)
            else:
                expanded_value = expand_value(active_ctx, key, value,
                                              td=ktd)
        else:
            expanded_value = expand(active_ctx, key, value, base_url,
                                    ctx_cache)

        if expanded_value is None:
            continue

        if "@list" in container and not (
                isinstance(expanded_value, dict)
                and "@list" in expanded_value):
            expanded_value = {"@list": as_list(expanded_value)}

        if ("@graph" in container and "@id" not in container
                and "@index" not in container):
            # W3C 13.8 wrap step: a SIMPLE @graph container wraps
            # UNCONDITIONALLY — even a value that is already a graph
            # object gets a fresh wrapping graph (toRdf te081/te095
            # "Creates an @graph container if value is a graph";
            # reference test 'with @id and graph map and @graph key':
            # edge -> _:g1 while the inner triples land in _:g2). Only
            # the [@graph, @id] / [@graph, @index] MAP path (13.7.4.2,
            # in _expand_map) carries the already-a-graph-object
            # exception (te084/te087/te098/te101/te105/te106; reference
            # lib/Util.ts:914 skips only for @graph-@id/@graph-@index).
            expanded_value = [{"@graph": as_list(v)}
                              for v in as_list(expanded_value)]

        if ktd is not None and ktd.reverse:
            reverse_map = result.setdefault("@reverse", {})
            for item in as_list(expanded_value):
                if isinstance(item, dict) and (
                        "@value" in item
                        or ("@list" in item
                            and not FLAGS.allow_subject_list)):
                    raise JsonLdError("invalid reverse property value", key)
                reverse_map.setdefault(expanded_prop, []).append(item)
        else:
            result.setdefault(expanded_prop, []).extend(
                as_list(expanded_value))

    # step 14: @nest recursion
    for nest_key in nests:
        for nested in as_list(element[nest_key]):
            if not isinstance(nested, dict) or any(
                    expand_iri(active_ctx, k, vocab=True) == "@value"
                    for k in nested):
                raise JsonLdError("invalid @nest value", nest_key)
            _expand_entries(active_ctx, type_scoped_ctx, active_prop, nested,
                            result, base_url, ctx_cache, input_type)


def _expand_node_only_keyword(active_ctx: Context, active_prop,
                              value, base_url, ctx_cache: dict,
                              code: str, allow_scalars: bool) -> list:
    """Shared @included/@annotation validation + expansion: values must
    expand to NODE objects only. The raw shape is checked first (expansion
    silently drops free-floating @value/@list objects), then a
    post-expansion sweep catches @set wrappers / aliases that smuggle
    value or list objects past the raw check.

    ``allow_scalars``: tolerate scalar array items (silently dropped by
    expansion) — @included does; @annotation makes them an error
    (reference: EntryHandlerKeyword{Included,Annotation}.ts)."""
    if not isinstance(value, (dict, list)):
        raise JsonLdError(code, repr(value))
    for item in as_list(value):
        if not isinstance(item, dict):
            if allow_scalars:
                continue
            raise JsonLdError(code, repr(item))
        item_keys = set(_unalias_keys(active_ctx, item).values())
        if "@value" in item_keys or "@list" in item_keys:
            raise JsonLdError(code, repr(item))
    expanded = [e for e in as_list(
        expand(active_ctx, active_prop, value, base_url, ctx_cache))
        if e is not None]
    if any(isinstance(e, dict) and ("@value" in e or "@list" in e)
           for e in expanded):
        raise JsonLdError(code)
    return expanded


def _expand_language_map(ctx: Context, td, value: dict) -> list:
    result = []
    direction = td.direction if td.direction is not UNSET else ctx.direction
    for lang, items in value.items():
        expanded_lang = None
        if lang != "@none" and not (ctx.term(lang) is not None
                                    and ctx.term(lang).iri == "@none"):
            expanded_lang = (lang.lower() if FLAGS.normalize_language_tags
                             else lang)
        for item in as_list(items):
            if item is None:
                continue
            if not isinstance(item, str):
                raise JsonLdError("invalid language map value", repr(item))
            obj = {"@value": item}
            if expanded_lang:
                obj["@language"] = expanded_lang
            if direction:
                obj["@direction"] = direction
            result.append(obj)
    return result


def _expand_map(ctx: Context, key: str, td, container: frozenset,
                value: dict, base_url: str | None, ctx_cache: dict) -> list:
    """Index / id / type container map expansion (step 13.8)."""
    result = []
    index_kind = ("@index" if "@index" in container
                  else "@id" if "@id" in container else "@type")
    for idx, items in value.items():
        map_ctx = ctx
        if index_kind == "@type":
            # W3C expansion 13.7.2: a @type map's values expand against the
            # PREVIOUS context when the active context is type-scoped (the
            # map keys introduce types, so type-scoped overrides must not
            # leak into the map values)
            if ctx.previous_context is not None:
                map_ctx = ctx.previous_context
            itd = map_ctx.term(idx)
            if itd is not None and itd.context is not UNSET:
                # 13.7.3.1: the key's own type-scoped context applies on top
                map_ctx = process_context(map_ctx, itd.context, itd.base_url,
                                          ctx_cache, propagate=False)
        idx_is_none = (idx == "@none"
                       or (map_ctx.term(idx) is not None
                           and map_ctx.term(idx).iri == "@none"))
        expanded = expand(map_ctx, key, as_list(items), base_url, ctx_cache,
                          from_map=True)
        for item in as_list(expanded):
            if item is None:
                continue
            if "@graph" in container and not _is_graph_object(item):
                item = {"@graph": as_list(item)}
            if index_kind == "@index" and not idx_is_none:
                if td is not None and td.index is not None:
                    # property-based index (reference:
                    # lib/containerhandler/ContainerHandlerIndex.ts:42-110)
                    if "@value" in item:
                        # values must be node objects (or @type:@id strings,
                        # which value expansion already turned into refs)
                        raise JsonLdError(
                            "invalid value object",
                            "property-based index containers require "
                            "node values")
                    expanded_index_prop = expand_iri(ctx, td.index,
                                                     vocab=True)
                    index_value = expand_value(ctx, td.index, idx)
                    # with a @graph container, item is already the wrapping
                    # graph object, so the index property lands on the
                    # GRAPH node (W3C tpi11; reference
                    # lib/containerhandler/ContainerHandlerIndex.ts:42-110)
                    item[expanded_index_prop] = (
                        [index_value] + as_list(
                            item.get(expanded_index_prop, [])))
                else:
                    item.setdefault("@index", idx)
            elif index_kind == "@id" and not idx_is_none:
                expanded_idx = expand_iri(ctx, idx, document_relative=True)
                item.setdefault("@id", expanded_idx)
            elif index_kind == "@type" and not idx_is_none:
                if isinstance(item, dict) and "@value" in item:
                    raise JsonLdError("invalid type mapping",
                                      "@type container entry is a value "
                                      "object")
                expanded_idx = expand_iri(map_ctx, idx, vocab=True,
                                          document_relative=True)
                item["@type"] = [expanded_idx] + as_list(
                    item.get("@type", []))
            result.append(item)
    return result


def expand_value(ctx: Context, active_prop: str, value: Any,
                 td: Any = UNSET) -> dict:
    """Value Expansion (W3C json-ld11-api section 5.3). ``td`` lets hot
    callers pass the already-fetched term definition (None is a valid
    "no term" value, so the sentinel is UNSET)."""
    if td is UNSET:
        td = ctx.term(active_prop)
    type_mapping = td.type_mapping if td is not None else None
    if isinstance(value, str):
        if type_mapping == "@id":
            return {"@id": expand_iri(ctx, value, document_relative=True)}
        if type_mapping == "@vocab":
            return {"@id": expand_iri(ctx, value, vocab=True,
                                      document_relative=True)}
    result: dict[str, Any] = {"@value": value}
    if type_mapping not in (None, "@id", "@vocab", "@none"):
        result["@type"] = type_mapping
    elif isinstance(value, str):
        language = (td.language if td is not None and td.language is not UNSET
                    else ctx.language)
        direction = (td.direction
                     if td is not None and td.direction is not UNSET
                     else ctx.direction)
        if language is not None:
            result["@language"] = language
        if direction is not None:
            result["@direction"] = direction
    return result
