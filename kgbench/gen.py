"""Seeded workload generator: crawled pages with embedded JSON-LD blocks.

Everything is a pure function of (workload parameters, seed): the same
seed always yields byte-identical pages. The generator runs in one
Python process and writes plain parquet with pyarrow; the program under
test only ever sees that pages table and the context cache.

Two corpus shapes:

- ``unique``: every block is distinct (urls and text are page-specific).
  Block families follow the fixture families of ``sources/pages.py``:
  an Article with a remote context (always), an ``@list`` block, a named
  graph with a language map, direction literals, and ~1/17 malformed
  blocks. Article and list blocks reference ``BIG_CTX_IRI``, a large
  schema.org-shaped context synthesized deterministically.
- ``templated``: one page-unique block per page plus site-template blocks
  drawn from a small per-host pool, so each template block repeats on
  hundreds of pages. A few pool entries use relative IRIs (base-dependent,
  so the parse memo must fall back for them). Authors are minted under
  two IRI spellings with identical literal features, so entity
  canonicalization has real clusters to merge.
"""

from __future__ import annotations

import hashlib
import json
import os
import random

GENERATOR_VERSION = 1

BIG_CTX_IRI = "https://schema.org/"
SCHEMA = "http://schema.org/"
N_SYNTH_TERMS = 2000
N_FILES = 16

_SYLLABLES = ("ka", "lo", "mi", "ren", "ta", "vo", "shi", "qu", "der",
              "an", "bel", "cor", "dun", "el", "fa", "gor", "hin", "is",
              "jal", "mor", "nu", "os", "pra", "sel", "tor", "ul", "vin")
_LANGS = ("en", "de", "fr", "es", "nl", "it")
_JOBS = ("Editor", "Reporter", "Columnist", "Analyst", "Photographer")


def big_context() -> dict:
    """A schema.org-shaped remote context with ~2k term definitions.

    Real pages reference the schema.org context, which cannot be fetched
    here; this stand-in has the same shape (``@vocab``, prefixes, typed
    and ``@id``-coerced terms, and a long tail of plain terms)."""
    ctx: dict = {
        "@vocab": SCHEMA,
        "schema": SCHEMA,
        "xsd": "http://www.w3.org/2001/XMLSchema#",
        "id": "@id",
        "type": "@type",
        "author": {"@id": "schema:author", "@type": "@id"},
        "url": {"@id": "schema:url", "@type": "@id"},
        "sameAs": {"@id": "schema:sameAs", "@type": "@id"},
        "datePublished": {"@id": "schema:datePublished",
                          "@type": "xsd:date"},
        "wordCount": {"@id": "schema:wordCount", "@type": "xsd:integer"},
        "keywords": {"@id": "schema:keywords", "@container": "@set"},
        "itemListElement": {"@id": "schema:itemListElement",
                            "@container": "@list"},
    }
    for i in range(N_SYNTH_TERMS):
        name = f"prop{i:04d}"
        if i % 5 == 0:
            ctx[name] = {"@id": f"schema:{name}", "@type": "@id"}
        elif i % 5 == 1:
            ctx[name] = {"@id": f"schema:{name}", "@type": "xsd:string"}
        else:
            ctx[name] = f"schema:{name}"
    return {"@context": ctx}


def context_cache() -> dict[str, dict]:
    return {BIG_CTX_IRI: big_context()}


class _Text:
    """Seeded text source: pseudo-words from a fixed syllable set."""

    def __init__(self, rng: random.Random):
        self.rng = rng

    def word(self) -> str:
        r = self.rng
        return "".join(r.choice(_SYLLABLES) for _ in range(r.randint(2, 3)))

    def words(self, n: int) -> str:
        return " ".join(self.word() for _ in range(n))


def _skewed(rng: random.Random, n: int) -> int:
    """Index in [0, n) skewed toward 0: a few hub values, a long tail."""
    return min(int(n * rng.random() ** 3), n - 1)


def _script(block: str) -> str:
    return f'<script type="application/ld+json">{block}</script>'


def _html(title: str, blocks: list[str], body: str) -> str:
    return ("<html><head><title>" + title + "</title>"
            '<script src="/app.js"></script>'
            + "".join(_script(b) for b in blocks)
            + "</head><body><p>" + body + "</p></body></html>")


def _dumps(doc) -> str:
    return json.dumps(doc, separators=(",", ":"), ensure_ascii=False)


def author_iri(host: str, a: int, spelling: int = 0) -> str:
    return (f"https://{host}/author/{a}" if spelling == 0
            else f"https://{host}/people/{a}#me")


def _unique_page(i: int, seed: int, rng: random.Random, text: _Text,
                 hosts: int, authors: int) -> tuple[str, str]:
    h = i % hosts
    host = f"site{h}.s{seed}.example.org"
    url = f"https://{host}/page/{i}"
    a = _skewed(rng, authors)
    title = text.words(4).title()
    props = {f"prop{rng.randrange(N_SYNTH_TERMS):04d}": text.word()
             for _ in range(2)}
    for k in list(props):
        if int(k[4:]) % 5 == 0:  # @id-coerced term: give it an IRI value
            props[k] = f"https://{host}/ref/{props[k]}"
    blocks = [_dumps({
        "@context": BIG_CTX_IRI, "@id": url + "#article",
        "@type": "Article", "headline": title,
        "wordCount": rng.randint(100, 5000),
        "inLanguage": rng.choice(_LANGS),
        "datePublished": f"2025-{1 + i % 12:02d}-{1 + i % 28:02d}",
        "keywords": [text.word() for _ in range(3)],
        "author": {"@id": author_iri(host, a), "@type": "Person",
                   "name": f"Author {h}-{a}",
                   "jobTitle": _JOBS[a % len(_JOBS)]},
        **props,
    })]
    if i % 3 == 0:
        blocks.append(_dumps({
            "@context": BIG_CTX_IRI, "@id": url + "#nav",
            "@type": "BreadcrumbList",
            "itemListElement": ["Home", text.word().title(), title]}))
    if i % 5 == 0:
        blocks.append(_dumps({
            "@context": {"label": {"@id": SCHEMA + "name",
                                   "@container": "@language"}},
            "@id": url + "#g",
            "@graph": {"@id": url + "#entity",
                       "label": {"en": title, "de": text.words(2)}}}))
    if i % 7 == 0:
        blocks.append(_dumps({
            "@context": {"@language": "ar", "@direction": "rtl"},
            "@id": url + "#i18n",
            SCHEMA + "headline": text.words(3),
            SCHEMA + "alternativeHeadline": {
                "@value": text.words(3), "@language": "en",
                "@direction": "ltr"},
            SCHEMA + "name": {"@value": text.words(2),
                              "@direction": "ltr"}}))
    if i % 17 == 0:
        blocks.append('{"@id": broken ' + str(i))
    return url, _html(title, blocks, text.words(30))


def _template_pool(seed: int, hosts: int, pool: int) -> list[list[str]]:
    """Per-host pool of site-template blocks (fixed per seed). Entry
    ``pool - 1`` of every sixth host uses relative IRIs, so its parse
    depends on the page url."""
    rng = random.Random(f"pool-{seed}")
    text = _Text(rng)
    out = []
    for h in range(hosts):
        host = f"site{h}.s{seed}.example.org"
        org = f"https://{host}/#org"
        entries = []
        for k in range(pool):
            relative = h % 6 == 0 and k == pool - 1
            kind = k % 3
            if kind == 0:
                doc = {"@context": BIG_CTX_IRI,
                       "@id": "/#org" if relative else org,
                       "@type": "Organization", "name": f"Site {h}",
                       "sameAs": [f"https://social.example.org/{h}/{k}"],
                       "address": {"@type": "PostalAddress",
                                   "streetAddress": text.words(2),
                                   "addressLocality": text.word().title()}}
            elif kind == 1:
                doc = {"@context": BIG_CTX_IRI,
                       "@id": ("/#website" if relative
                               else f"https://{host}/#website"),
                       "@type": "WebSite", "name": f"Site {h} web",
                       "publisher": {"@id": org},
                       "potentialAction": {
                           "@type": "SearchAction",
                           "target": f"https://{host}/search?q={{q}}&v={k}",
                           "query-input": "required name=q"}}
            else:
                doc = {"@context": BIG_CTX_IRI,
                       "@id": ("/#nav" if relative
                               else f"https://{host}/#nav{k}"),
                       "@type": "SiteNavigationElement",
                       "name": [text.word().title() for _ in range(4)],
                       "url": f"https://{host}/section/{k}"}
            entries.append(_dumps(doc))
        out.append(entries)
    return out


def _templated_page(i: int, seed: int, rng: random.Random, text: _Text,
                    hosts: int, authors: int, pool: list[list[str]],
                    per_page: int) -> tuple[str, str]:
    h = i % hosts
    host = f"site{h}.s{seed}.example.org"
    url = f"https://{host}/page/{i}"
    a = _skewed(rng, authors)
    title = text.words(4).title()
    unique = _dumps({
        "@context": BIG_CTX_IRI, "@id": url, "@type": "WebPage",
        "headline": title, "description": text.words(8),
        "author": {"@id": author_iri(host, a, rng.randrange(2)),
                   "name": f"Author {h}-{a}",
                   "jobTitle": _JOBS[a % len(_JOBS)]}})
    picks = rng.sample(range(len(pool[h])), per_page)
    blocks = [unique] + [pool[h][k] for k in picks]
    return url, _html(title, blocks, text.words(30))


def generate(kind: str, seed: int, n_pages: int, hosts: int = 40,
             authors: int = 60, pool: int = 8,
             per_page: int = 3) -> tuple[list[str], list[str]]:
    """(urls, html) lists for one corpus; deterministic in every
    argument."""
    rng = random.Random(f"{kind}-{seed}")
    text = _Text(rng)
    urls, htmls = [], []
    if kind == "unique":
        for i in range(n_pages):
            u, h = _unique_page(i, seed, rng, text, hosts, authors)
            urls.append(u)
            htmls.append(h)
    elif kind == "templated":
        tpl = _template_pool(seed, hosts, pool)
        for i in range(n_pages):
            u, h = _templated_page(i, seed, rng, text, hosts, authors, tpl,
                                   per_page)
            urls.append(u)
            htmls.append(h)
    else:
        raise ValueError(f"unknown corpus kind {kind!r}")
    return urls, htmls


def corpus_key(kind: str, seed: int, params: dict) -> str:
    blob = json.dumps({"kind": kind, "seed": seed, "params": params,
                       "version": GENERATOR_VERSION}, sort_keys=True)
    return hashlib.sha256(blob.encode()).hexdigest()[:16]


def write_pages(path: str, urls: list[str], htmls: list[str]) -> None:
    """Pages table ``(url string, html binary)`` as ``N_FILES`` parquet
    files of equal row count, written atomically (temp dir + rename)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tmp = path + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    n = len(urls)
    for f in range(N_FILES):
        lo, hi = f * n // N_FILES, (f + 1) * n // N_FILES
        table = pa.table({
            "url": pa.array(urls[lo:hi], pa.string()),
            "html": pa.array([h.encode() for h in htmls[lo:hi]],
                             pa.binary())})
        pq.write_table(table, os.path.join(tmp, f"part-{f:03d}.parquet"))
    os.replace(tmp, path)


def ensure_corpus(cache_dir: str, kind: str, seed: int,
                  params: dict) -> tuple[str, list[str], list[str]]:
    """Generate (or reuse the cached) corpus; returns (parquet path, urls,
    html). The in-memory lists feed the in-process reference."""
    path = os.path.join(cache_dir, f"pages-{kind}-{corpus_key(kind, seed, params)}")
    urls, htmls = generate(kind, seed, **params)
    if not os.path.isdir(path):
        os.makedirs(cache_dir, exist_ok=True)
        write_pages(path, urls, htmls)
    return path, urls, htmls
