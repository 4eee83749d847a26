"""spark-submit entry point: build the knowledge graph from a pages table.

Ship with:
    python tools/package.py                       # -> dist/kg_engine.zip
    spark-submit --py-files dist/kg_engine.zip jobs/build_kg.py \
        --pages  <pages parquet/iceberg path or 'synthetic:SF_DIR[:amp]'> \
        --out    <output dir> \
        --buckets 4096 --waves 8 --canonicalize

On a cluster the same command runs unchanged (no local[...] assumptions:
the master comes from spark-submit). Resume is automatic: rerunning with
the same --out skips committed buckets (plans/lineage.py).
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--waves", type=int, default=1)
    ap.add_argument("--canonicalize", action="store_true")
    ap.add_argument("--memo", action="store_true",
                    help="block memo in the parse stage: one kernel call "
                         "per distinct block per partition, no shuffle "
                         "(worth it when the crawl repeats site-template "
                         "blocks)")
    ap.add_argument("--snapshot-id", default="",
                    help="input table version tag recorded in lineage; "
                         "resume refuses a mismatched snapshot")
    ap.add_argument("--rdf-direction", default=None,
                    choices=[None, "i18n-datatype", "compound-literal",
                             "base"])
    ap.add_argument("--context-cache", default=None,
                    help="JSON file {ctx_iri: document} built by "
                         "tools/prefetch_contexts.py; defaults to the "
                         "built-in fixture CONTEXTS")
    args = ap.parse_args(argv)

    from jsonld_streaming_parser_js_spark.plans import lineage as lin
    from jsonld_streaming_parser_js_spark.plans.pipeline import (
        PipelineConfig, build_kg)
    from jsonld_streaming_parser_js_spark.sources.pages import (
        CONTEXTS, pages_from_documents)

    # validate the cache BEFORE building the Spark session: pure-Python
    # validation fails in milliseconds; a cluster session costs minutes
    if args.context_cache:
        from jsonld_streaming_parser_js_spark.functions.context import (
            JsonLdError, validate_context_cache)
        with open(args.context_cache, encoding="utf-8") as fh:
            ctx_cache = json.load(fh)
        if not isinstance(ctx_cache, dict):
            raise JsonLdError("invalid remote context",
                              f"{args.context_cache}: cache file must be a "
                              "JSON object {iri: document}")
        validate_context_cache(ctx_cache)  # fail ONCE at the driver
    else:
        ctx_cache = CONTEXTS

    from pyspark.sql import SparkSession
    spark = SparkSession.builder.appName("build-kg").getOrCreate()

    if args.pages.startswith("synthetic:"):
        parts = args.pages.split(":")
        amp = int(parts[2]) if len(parts) > 2 else 1
        pages = pages_from_documents(spark, parts[1], amplify=amp)
    else:
        pages = spark.read.parquet(args.pages)

    if args.waves > 1:
        lin.run_in_waves(spark, pages, args.out, ctx_cache,
                         buckets=args.buckets, waves=args.waves,
                         rdf_direction=args.rdf_direction,
                         snapshot_id=args.snapshot_id, memo=args.memo)
    cfg = PipelineConfig(out_dir=args.out, buckets=args.buckets,
                         canonicalize=args.canonicalize,
                         rdf_direction=args.rdf_direction,
                         ctx_cache=ctx_cache,
                         snapshot_id=args.snapshot_id,
                         memo=args.memo)
    # with waves > 1 this is a no-op resume pass (all buckets committed)
    # followed by the optional canonicalization step
    stats = build_kg(spark, pages, cfg)
    print(json.dumps(stats))


if __name__ == "__main__":
    main(sys.argv[1:])
