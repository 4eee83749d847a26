"""End-to-end KG-construction pipeline (north_star lifecycle).

``pages -> extract -> parse -> dedup -> [canonicalize] -> quads + lineage``
— the Spark re-expression of the reference's stream lifecycle
(``/root/reference/lib/JsonLdParser.ts`` 3.1-3.4, see SURVEY.md section 3.4),
plus the pipeline stages the reference leaves to its caller (entity
canonicalization, persistence, recovery).

Designed to ship via ``spark-submit --py-files`` (see ``jobs/build_kg.py``).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import canonicalize as canon
from ..operators.parse import extract_and_parse, quads_only
from . import lineage as lin


@dataclass
class PipelineConfig:
    out_dir: str
    buckets: int = 64
    canonicalize: bool = False
    rdf_direction: str | None = None
    ctx_cache: dict = field(default_factory=dict)
    snapshot_id: str = ""  # input table version tag recorded in lineage
    # distinct-block parse memo (operators/memo.py): False / True /
    # "auto" (measure the duplication ratio, memoize past break-even)
    memo: bool | str = False


def build_kg(spark: SparkSession, pages: DataFrame,
             cfg: PipelineConfig) -> dict:
    """Full run with checkpoint-resume; returns run stats."""
    stats = lin.run_with_resume(spark, pages, cfg.out_dir, cfg.ctx_cache,
                                cfg.buckets,
                                rdf_direction=cfg.rdf_direction,
                                snapshot_id=cfg.snapshot_id,
                                memo=cfg.memo)
    if cfg.canonicalize:
        quads = quads_table(spark, cfg.out_dir)
        # materialized once: the relabel join and the count both read it,
        # and each recompute re-runs the features and the blocking join
        # over the whole store
        mapping = canon.canonical_mapping(quads).localCheckpoint()
        relabeled = canon.relabel_quads(quads, mapping)
        (relabeled.write.mode("overwrite")
         .parquet(f"{cfg.out_dir}/quads_canonical"))
        stats["n_merged_nodes"] = mapping.count()
    return stats


def assert_no_errors(parsed: DataFrame, sample: int = 5) -> None:
    """strictValues analog (reference: errors abort the stream,
    /root/reference/lib/ParsingContext.ts:380-382): fail the job if any
    block errored, reporting a sample. Default pipelines instead keep the
    error channel as data (the only sane choice at 10^12 docs)."""
    bad = (parsed.where(F.col("error").isNotNull())
           .select("url", "blk", "error").limit(sample).collect())
    if bad:
        raise ValueError(
            "strict mode: malformed JSON-LD blocks present, e.g. "
            + "; ".join(f"{r['url']}#{r['blk']}: {r['error']}"
                        for r in bad))


def quads_table(spark: SparkSession, out_dir: str) -> DataFrame:
    """The committed quads (error rows filtered), deduplicated."""
    parsed = spark.read.parquet(f"{out_dir}/quads")
    return (quads_only(parsed)
            .dropDuplicates(["url", "blk", "subj", "pred", "obj", "graph"]))


def errors_table(spark: SparkSession, out_dir: str) -> DataFrame:
    parsed = spark.read.parquet(f"{out_dir}/quads")
    return (parsed.where(F.col("error").isNotNull())
            .select("url", "blk", "error"))


def graph_views(quads: DataFrame) -> dict[str, DataFrame]:
    """Materialized graph views: node and edge tables (the "graph
    materialize" stage of the north_rule).

    - nodes: every distinct term in subject/object position with kind
      (iri / bnode / literal / quoted-triple) and degree counts
    - edges: subject -> object rows for IRI/bnode objects (literal
      attributes excluded), ready for graph algorithms
    """
    kind = (F.when(F.col("term").startswith("_:"), "bnode")
            .when(F.col("term").startswith('"'), "literal")
            .when(F.col("term").startswith("<<"), "quoted")
            .otherwise("iri"))
    # ONE aggregation over the full term universe: explode each quad into
    # (subj,1)/(obj,0) flag rows and derive both degrees from the same
    # groupBy. The previous shape (distinct + two groupBys + two left
    # joins) spent 3 Exchanges on `term` where this spends 1 — at web
    # scale the term universe is the largest key space in the pipeline,
    # so every extra shuffle over it is the dominant cost. explode (not
    # union) keeps a SINGLE lineage: a union would duplicate the whole
    # upstream parse subtree per branch. The partial sum runs map-side
    # below the one Exchange; kind is a post-agg projection.
    tagged = (quads.select(F.explode(F.array(
        F.struct(F.col("subj").alias("term"), F.lit(1).alias("is_subj")),
        F.struct(F.col("obj").alias("term"), F.lit(0).alias("is_subj")),
    )).alias("x")).select("x.term", "x.is_subj"))
    nodes = (tagged.groupBy("term")
             .agg(F.sum("is_subj").alias("out_degree"),
                  F.sum(F.lit(1) - F.col("is_subj")).alias("in_degree"))
             .select("term", kind.alias("kind"),
                     "out_degree", "in_degree"))
    edges = (quads
             .where(~F.col("obj").startswith('"'))
             .select(F.col("subj").alias("src"),
                     F.col("pred").alias("rel"),
                     F.col("obj").alias("dst"),
                     "graph"))
    return {"nodes": nodes, "edges": edges}
