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
from ..operators.parse import quads_only
from . import lineage as lin


@dataclass
class PipelineConfig:
    out_dir: str
    buckets: int = 64
    canonicalize: bool = False
    rdf_direction: str | None = None
    ctx_cache: dict = field(default_factory=dict)
    snapshot_id: str = ""  # input table version tag recorded in lineage
    memo: bool = False  # in-worker block memo of the parse stage


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
    return (quads_only(lin.read_store(spark, out_dir))
            .dropDuplicates(lin.QUAD_KEY))
