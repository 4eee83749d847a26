"""In-process expected results, derived with the kernel alone.

The reference parses every generated page in the benchmark process with
``extract_blocks_from_html`` + ``parse_block`` (no Spark stage, no memo,
no lineage writer) and derives from those rows everything the runs
check: the store fingerprint, the number of canonicalized nodes, and
the answer to every serving operation. Only the store checksum uses
Spark, for its ``xxhash64``, over a frame built from the kernel rows.
"""

from __future__ import annotations

from collections import defaultdict
from dataclasses import dataclass, field

from jsonld_streaming_parser_js_spark.functions.parser import parse_block
from jsonld_streaming_parser_js_spark.operators.extract import (
    extract_blocks_from_html,
)

SCHEMA_AUTHOR = "<http://schema.org/author>"
SCHEMA_HEADLINE = "<http://schema.org/headline>"


@dataclass
class Reference:
    rows: list[tuple] = field(default_factory=list)  # url blk s p o g
    n_errors: int = 0

    @property
    def n_quads(self) -> int:
        return len(self.rows)

    def by_url(self) -> dict[str, set]:
        out: dict[str, set] = defaultdict(set)
        for r in self.rows:
            out[r[0]].add(r)
        return out

    def by_subject(self) -> dict[str, set]:
        out: dict[str, set] = defaultdict(set)
        for r in self.rows:
            out[r[2]].add(r)
        return out

    def headlines_by_author(self) -> dict[str, list]:
        """author IRI term -> sorted (article, headline) pairs: the
        answer to the serving SPARQL query bound to that author."""
        heads: dict[tuple, list] = defaultdict(list)
        authors: dict[tuple, list] = defaultdict(list)
        for url, blk, s, p, o, g in set(self.rows):
            if g != "":
                continue
            if p == SCHEMA_HEADLINE:
                heads[(url, blk, s)].append(o)
            elif p == SCHEMA_AUTHOR:
                authors[(url, blk, s)].append(o)
        out: dict[str, list] = defaultdict(list)
        # the store is deduplicated per (url, blk); the join spans the
        # whole store, so pair within and across blocks by subject
        subj_heads: dict[str, list] = defaultdict(list)
        for (url, blk, s), hs in heads.items():
            subj_heads[s].extend(hs)
        for (url, blk, s), auths in authors.items():
            for a in auths:
                out[a].extend((s, h) for h in subj_heads.get(s, ()))
        return {a: sorted(v) for a, v in out.items()}

    def merged_nodes(self) -> int:
        """Node count the exact-feature canonicalization merges away:
        IRI subjects grouped by their set of ``pred=literal`` features,
        every group of k nodes contributing k - 1."""
        feats: dict[str, set] = defaultdict(set)
        for _, _, s, p, o, _ in self.rows:
            if o.startswith('"') and s.startswith("<"):
                feats[s].add(f"{p}={o}")
        groups: dict[tuple, int] = defaultdict(int)
        for f in feats.values():
            groups[tuple(sorted(f))] += 1
        return sum(k - 1 for k in groups.values())


def parse_pages(urls: list[str], htmls: list[str],
                ctx_cache: dict) -> Reference:
    ref = Reference()
    rows = ref.rows
    for url, html in zip(urls, htmls):
        for blk, block in enumerate(extract_blocks_from_html(html)):
            quads, err = parse_block(block, url, blk, ctx_cache)
            if err is not None:
                ref.n_errors += 1
                continue
            rows.extend((url, blk, s, p, o, g) for s, p, o, g in quads)
    return ref


def store_fingerprint(spark, ref: Reference) -> dict:
    """What the lineage table of a correct store sums to: total quads,
    errors, and the xor of the per-bucket checksums (xor is associative,
    so the per-bucket split does not matter)."""
    import pandas as pd
    from pyspark.sql import functions as F

    pdf = pd.DataFrame([r[2:] for r in ref.rows],
                       columns=["subj", "pred", "obj", "graph"])
    df = spark.createDataFrame(pdf, "subj string, pred string, "
                                    "obj string, graph string")
    x = df.agg(F.expr("bit_xor(xxhash64(subj, pred, obj, graph))")
               .alias("x")).first()["x"]
    return {"n_quads": ref.n_quads, "n_errors": ref.n_errors,
            "checksum": int(x)}


def lineage_fingerprint(spark, out_dir: str) -> dict:
    """The same three numbers, read from a store's lineage table."""
    from pyspark.sql import functions as F

    r = (spark.read.parquet(f"{out_dir}/lineage")
         .agg(F.sum("n_quads").alias("q"), F.sum("n_errors").alias("e"),
              F.expr("bit_xor(checksum)").alias("x")).first())
    return {"n_quads": int(r["q"] or 0), "n_errors": int(r["e"] or 0),
            "checksum": int(r["x"] or 0)}
