"""RFC 3986 IRI resolution + validation.

The reference delegates relative-IRI resolution to ``relative-to-absolute-iri``
and validation to ``validateIri`` (``/root/reference/lib/Util.ts`` imports).
We implement strict RFC 3986 section 5 resolution rather than
``urllib.parse.urljoin`` because urljoin diverges on abnormal references
(e.g. excess ``..`` segments, empty-path bases) that W3C toRdf cases exercise.

Pure Python, no Spark imports.
"""

from __future__ import annotations

import re
from functools import lru_cache

_SCHEME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+\-.]*:")
_ABSOLUTE_IRI_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+\-.]*:[^\s]*$")
# characters never allowed in an IRI (unescaped); [ and ] are allowed ONLY
# as an authority IP-literal (RFC 3986 section 3.2.2), handled below
_INVALID_IRI_CHARS_RE = re.compile(r'[\x00-\x20<>"{}|^`\\\[\]]')
# scheme://[userinfo@] [v6/vFuture literal] [:port] — the bracketed host is
# the one place brackets are legal (e.g. http://[2001:db8::7]:8080/x)
_IP_LITERAL_AUTHORITY_RE = re.compile(
    r"^([A-Za-z][A-Za-z0-9+\-.]*)://(?:[^\s/?#@\[\]]*@)?"
    r"(\[[0-9A-Fa-f:.]+\])(?::\d*)?(?=[/?#]|$)")


def has_scheme(value: str) -> bool:
    """True when the reference starts with a scheme (or compact-IRI prefix)
    colon — i.e. it is NOT a relative reference per RFC 3986 section 4.2."""
    return bool(_SCHEME_RE.match(value))


@lru_cache(maxsize=16384)
def is_absolute_iri(value: str) -> bool:
    """An absolute IRI (has a scheme, no forbidden characters).

    Memoized: a corpus repeats the same predicate/datatype IRIs millions of
    times, so the two-regex check collapses to one dict hit per repeat."""
    if not value or not _ABSOLUTE_IRI_RE.match(value):
        return False
    m = _IP_LITERAL_AUTHORITY_RE.match(value)
    if m:
        # excise ONLY the bracketed host: the scheme/userinfo prefix and the
        # tail still go through the forbidden-character scan (a '<' in the
        # userinfo must stay invalid)
        value = value[:m.start(2)] + value[m.end(2):]
    return not _INVALID_IRI_CHARS_RE.search(value)


@lru_cache(maxsize=4096)
def _parse(ref: str):
    """Split an IRI reference into (scheme, authority, path, query, fragment).

    authority / query / fragment are None when absent (vs empty string when
    present-but-empty), which matters for correct recomposition.
    """
    scheme = None
    m = _SCHEME_RE.match(ref)
    if m:
        scheme = ref[: m.end() - 1]
        ref = ref[m.end():]
    fragment = None
    if "#" in ref:
        ref, fragment = ref.split("#", 1)
    query = None
    if "?" in ref:
        ref, query = ref.split("?", 1)
    authority = None
    if ref.startswith("//"):
        rest = ref[2:]
        slash = rest.find("/")
        if slash == -1:
            authority, path = rest, ""
        else:
            authority, path = rest[:slash], rest[slash:]
    else:
        path = ref
    return scheme, authority, path, query, fragment


def remove_dot_segments(path: str) -> str:
    """RFC 3986 section 5.2.4."""
    output: list[str] = []
    while path:
        if path.startswith("../"):
            path = path[3:]
        elif path.startswith("./"):
            path = path[2:]
        elif path.startswith("/./"):
            path = "/" + path[3:]
        elif path == "/.":
            path = "/"
        elif path.startswith("/../"):
            path = "/" + path[4:]
            if output:
                output.pop()
        elif path == "/..":
            path = "/"
            if output:
                output.pop()
        elif path in (".", ".."):
            path = ""
        else:
            if path.startswith("/"):
                slash = path.find("/", 1)
            else:
                slash = path.find("/")
            if slash == -1:
                output.append(path)
                path = ""
            else:
                output.append(path[:slash])
                path = path[slash:]
    return "".join(output)


def _recompose(scheme, authority, path, query, fragment) -> str:
    out = []
    if scheme is not None:
        out.append(scheme + ":")
    if authority is not None:
        out.append("//" + authority)
    out.append(path)
    if query is not None:
        out.append("?" + query)
    if fragment is not None:
        out.append("#" + fragment)
    return "".join(out)


def resolve(base: str | None, ref: str) -> str:
    """RFC 3986 section 5.2.2 transform references (strict)."""
    if base is None or base == "":
        return ref
    r_scheme, r_auth, r_path, r_query, r_frag = _parse(ref)
    if r_scheme is not None:
        return _recompose(r_scheme, r_auth, remove_dot_segments(r_path),
                          r_query, r_frag)
    b_scheme, b_auth, b_path, b_query, _ = _parse(base)
    if r_auth is not None:
        return _recompose(b_scheme, r_auth, remove_dot_segments(r_path),
                          r_query, r_frag)
    if r_path == "":
        t_query = r_query if r_query is not None else b_query
        return _recompose(b_scheme, b_auth, b_path, t_query, r_frag)
    if r_path.startswith("/"):
        t_path = remove_dot_segments(r_path)
    else:
        if b_auth is not None and b_path == "":
            merged = "/" + r_path
        else:
            slash = b_path.rfind("/")
            merged = (b_path[: slash + 1] if slash != -1 else "") + r_path
        t_path = remove_dot_segments(merged)
    return _recompose(b_scheme, b_auth, t_path, r_query, r_frag)
