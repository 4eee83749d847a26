"""RDF term model for the PySpark JSON-LD engine.

Terms are represented as plain Python strings in N-Triples lexical form so
that quad rows are a flat ``(subj, pred, obj, graph)`` string schema that
Spark can shuffle / hash / write without nested types:

- IRI          -> ``<http://example.org/x>``
- blank node   -> ``_:b0``
- literal      -> ``"abc"``, ``"abc"@en``, ``"1"^^<http://...#integer>``,
                  ``"abc"@en--ltr`` (RDF 1.2 base direction)
- quoted triple (RDF-star) -> ``<< <s> <p> "o" >>``

Canonical lexical forms for numbers mirror the reference implementation's
semantics (``/root/reference/lib/Util.ts:676-688`` ``intToString``): JSON
integral numbers below 1e21 serialize like ECMAScript ``Number.toString``
(``2.0 -> "2"``), everything else uses exponential notation equivalent to
``toExponential(15)`` with zero-run stripping (``11.0 -> "1.1E1"``,
``1e21 -> "1.0E21"``), and non-finite values map to ``INF`` / ``-INF``.

This module is pure Python (no Spark imports): it runs inside Arrow-batched
UDF workers and in unit tests without a SparkSession.
"""

from __future__ import annotations

import json
import math
import re

XSD = "http://www.w3.org/2001/XMLSchema#"
RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
XSD_STRING = XSD + "string"
XSD_INTEGER = XSD + "integer"
XSD_DOUBLE = XSD + "double"
XSD_BOOLEAN = XSD + "boolean"
RDF_TYPE = RDF + "type"
RDF_FIRST = RDF + "first"
RDF_REST = RDF + "rest"
RDF_NIL = RDF + "nil"
RDF_JSON = RDF + "JSON"
RDF_VALUE = RDF + "value"
RDF_LANGUAGE = RDF + "language"
RDF_DIRECTION = RDF + "direction"
I18N = "https://www.w3.org/ns/i18n#"
DEFAULT_GRAPH = ""


def iri(value: str) -> str:
    """Serialize an absolute IRI as an N-Triples term."""
    return f"<{value}>"


_LITERAL_ESCAPES = {
    "\\": "\\\\",
    '"': '\\"',
    "\n": "\\n",
    "\r": "\\r",
    "\t": "\\t",
}
_LITERAL_ESCAPE_RE = re.compile(r'[\\"\n\r\t]')


def _escape(value: str) -> str:
    # the search-first guard skips the sub() machinery for the overwhelming
    # majority of literals, which contain no escapable characters
    if _LITERAL_ESCAPE_RE.search(value) is None:
        return value
    return _LITERAL_ESCAPE_RE.sub(lambda m: _LITERAL_ESCAPES[m.group(0)], value)


def literal(value: str, datatype: str | None = None, language: str | None = None,
            direction: str | None = None) -> str:
    """Serialize a literal as an N-Triples term.

    ``datatype`` is an absolute IRI string (not a term). ``xsd:string`` is the
    implicit default and never serialized. Language-tagged strings get
    ``@lang``; RDF 1.2 base-direction literals get ``@lang--dir``.
    """
    lex = f'"{_escape(value)}"'
    if language:
        if direction:
            return f"{lex}@{language}--{direction}"
        return f"{lex}@{language}"
    if direction:
        # direction without language: RDF 1.2 allows ``@--dir`` is invalid;
        # the reference emits a directional literal with empty language.
        return f"{lex}@--{direction}"
    if datatype and datatype != XSD_STRING:
        return f"{lex}^^<{datatype}>"
    return lex


def quoted_triple(subj: str, pred: str, obj: str) -> str:
    """RDF-star quoted triple, serialized (avoids recursive Spark types)."""
    return f"<< {subj} {pred} {obj} >>"


def canonical_double(value: float) -> str:
    """Canonical xsd:double lexical form, matching the reference's
    ``toExponential(15).replace(/(\\d)0*e\\+?/, '$1E')`` semantics."""
    if math.isnan(value):
        return "NaN"
    if math.isinf(value):
        return "INF" if value > 0 else "-INF"
    mant, _, exp = f"{value:.15e}".partition("e")
    if "." in mant:
        mant = mant.rstrip("0")
        if mant.endswith("."):
            mant += "0"
    return f"{mant}E{int(exp)}"


def as_js_number(value):
    """JSON number as a JS engine would hold it: ints beyond 2^53 lose
    precision at JSON.parse (they become the nearest double) — the
    reference never sees the exact big integer, so neither may we."""
    if (isinstance(value, int) and not isinstance(value, bool)
            and abs(value) >= (1 << 53)):
        try:
            return float(value)
        except OverflowError:
            # JS JSON.parse of an int beyond double range yields Infinity
            return math.inf if value > 0 else -math.inf
    return value


def ecma_integral_string(num) -> str:
    """ECMAScript ``String()`` of an integral Number with magnitude < 1e21:
    plain decimal digits. For lossy magnitudes (>= 2^53) this is the
    SHORTEST-round-trip digits zero-padded (ECMA-262 6.1.6.1.20), NOT the
    binary-exact expansion ``str(int(num))`` would give."""
    if isinstance(num, int):
        return str(num)
    if abs(num) < (1 << 53):
        return str(int(num))
    s = repr(num)
    sign = ""
    if s.startswith("-"):
        sign, s = "-", s[1:]
    mant, _, exp = s.partition("e")
    ip, _, fp = mant.partition(".")
    digits = (ip + fp).rstrip("0") or "0"
    n = len(ip) + (int(exp) if exp else 0)
    return sign + digits + "0" * (n - len(digits))


def number_to_string(value, as_double: bool) -> str:
    """JSON number -> canonical lexical form (reference ``intToString``).

    Integral values below 1e21 use ECMAScript ``Number.toString`` form:
    plain decimal within +/-1e21, shortest exponential (``-1e+22``) beyond —
    matching the reference exactly (its integer gate is ``value < 1e21``
    with no abs(), so large-negative integral doubles stay "integers")."""
    if isinstance(value, bool):  # bool is an int subclass; guard first
        return "true" if value else "false"
    value = as_js_number(value)
    if not as_double and float(value) == int(value) and value < 1e21:
        if abs(value) < 1e21:
            return ecma_integral_string(value)
        return repr(float(value))  # ECMAScript-style shortest exponential
    return canonical_double(float(value))


def is_integral_json_number(value) -> bool:
    """True when the reference would type a JSON number xsd:integer:
    ``value % 1 === 0 && value < 1e21`` (lib/Util.ts:545) — applied to the
    JS-parsed (double) value, so huge integers are integral again."""
    try:
        value = as_js_number(value)
        return math.isfinite(value) and float(value) == int(value) and value < 1e21
    except (OverflowError, ValueError):
        return False


def canonicalize_json(value) -> str:
    """RFC 8785 (JCS) canonical JSON for ``@type: @json`` literals
    (reference: ``canonicalize`` npm package, lib/Util.ts:789-791)."""
    return _jcs(value)


def _jcs_number(num) -> str:
    num = as_js_number(num)  # RFC 8785 numbers are IEEE doubles
    if isinstance(num, int) and not isinstance(num, bool):
        return str(num)
    if num != num or num in (float("inf"), float("-inf")):
        raise ValueError("NaN/Infinity not allowed in JSON")
    if num == int(num) and abs(num) < 1e21:
        return ecma_integral_string(num)
    # ECMAScript Number::toString (ECMA-262 6.1.6.1.20): place the decimal
    # point among repr()'s shortest-round-trip digits — never reformat with
    # fixed precision, which truncates digits (RFC 8785 divergence)
    out = repr(num)
    sign = ""
    if out.startswith("-"):
        sign, out = "-", out[1:]
    mant, _, exp = out.partition("e")
    int_part, _, frac_part = mant.partition(".")
    raw = int_part + frac_part
    digits = raw.lstrip("0")
    lead_zeros = len(raw) - len(digits)
    # value = 0.<digits> * 10^n
    n = len(int_part) - lead_zeros + (int(exp) if exp else 0)
    digits = digits.rstrip("0")
    k = len(digits)
    if k <= n <= 21:
        return sign + digits + "0" * (n - k)
    if 0 < n <= 21:
        return sign + digits[:n] + "." + digits[n:]
    if -6 < n <= 0:
        return sign + "0." + "0" * (-n) + digits
    e = n - 1
    body = digits[0] + ("." + digits[1:] if k > 1 else "")
    return f"{sign}{body}e{'+' if e >= 0 else '-'}{abs(e)}"


def _jcs(value) -> str:
    if value is None:
        return "null"
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, str):
        return json.dumps(value, ensure_ascii=False)
    if isinstance(value, (int, float)):
        return _jcs_number(value)
    if isinstance(value, list):
        return "[" + ",".join(_jcs(v) for v in value) + "]"
    if isinstance(value, dict):
        items = sorted(value.items(), key=lambda kv: [ord(c) for c in kv[0]])
        return "{" + ",".join(json.dumps(k, ensure_ascii=False) + ":" + _jcs(v)
                              for k, v in items) + "}"
    raise ValueError(f"not JSON-serializable: {type(value)}")
