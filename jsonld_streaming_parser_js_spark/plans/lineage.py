"""Per-partition lineage + checkpoint-resume (north_rule requirement).

Unit of recovery: a **url bucket** — ``bucket = pmod(xxhash64(url), B)``.
Deterministic (same url -> same bucket on any run/cluster), uniform (hash),
and independent of physical partitioning, so a resume after a mid-job
failure never re-emits quads for completed buckets and never misses a url.

Layout under ``out_dir``:
- ``quads/``    parquet partitioned by ``bucket`` (dynamic partition
                overwrite: re-running a bucket replaces exactly that
                bucket). Each commit writes ONE file per bucket it
                touches: the rows are clustered by bucket before the
                write, so one task writes each bucket, and the file
                count is B, not tasks x B. Read only with
                ``STORE_SCHEMA`` declared: :func:`read_store` for the
                whole table, :func:`_read_partitions` for a lookup.
- ``lineage/``  one row per completed bucket — ``bucket``,
                ``snapshot_id``, ``n_quads``, ``n_errors`` and an
                order-insensitive ``checksum`` (xor of xxhash64 over the
                quad tuple) — written only AFTER the bucket's quads land
                (the commit record), as one file per commit.

At 10^12 documents: B is sized so a bucket is a few GB (e.g. B = 2^17);
lineage stays tiny (B rows), and a resume is an anti-join of the pages scan
against B completed bucket ids — a broadcast anti-join, no shuffle of the
pages table. Clustering by bucket is what keeps the commit at B files at
that scale: with thousands of parse tasks, an unclustered dynamic-partition
write would open a file per task per bucket.

Point lookups (``read_url_quads``, ``read_subject_quads``) cache what they
derive from ``lineage/`` and ``subj_index_meta/`` (the lineage row count,
the store fingerprint, the index meta row), keyed by directory path. Each
call first lists that directory (a Hadoop FileSystem call, no Spark job)
and reuses the cached value only while every file's (name, length, mtime)
is unchanged. That signature is enough because no writer edits a file in
place: ``write_bucketed`` appends, and ``upsert_wave`` and
``write_subject_index`` overwrite, and each of them writes new part files
with fresh UUID names, so every commit changes the listing.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as ST
from pyspark.sql.pandas.types import to_arrow_schema

from ..operators.parse import QUAD_SCHEMA, quads_only

# the committed ``quads/`` columns: the parse rows plus the partition
# column (inferred as int from the ``bucket=k`` directory names)
STORE_SCHEMA = ST.StructType(
    QUAD_SCHEMA.fields + [ST.StructField("bucket", ST.IntegerType())])
# the ``subj_index/`` columns, written and read with this one layout;
# ``sbucket`` is the partition column
INDEX_SCHEMA = ST.StructType([
    ST.StructField("subj", ST.StringType()),
    ST.StructField("url", ST.StringType()),
    ST.StructField("bucket", ST.LongType()),
    ST.StructField("sbucket", ST.IntegerType())])
# the columns a committed quad is deduplicated on
QUAD_KEY = ["url", "blk", "subj", "pred", "obj", "graph"]

# entries of the lookup cache (one per lineage or index-meta directory);
# the cache is cleared when full
FACTS_MAX_DIRS = 256
_facts: dict[str, tuple[tuple, object]] = {}


def bucket_expr(col: str, buckets: int):
    """THE bucketing formula — every writer and reader must route
    through this one definition (a reader re-spelling it that later
    drifts silently returns empty lookups)."""
    return F.pmod(F.xxhash64(col), F.lit(buckets))


def with_bucket(df: DataFrame, buckets: int, col: str = "url") -> DataFrame:
    return df.withColumn("bucket", bucket_expr(col, buckets))


def bucket_lineage(parsed: DataFrame,
                   snapshot_id: str = "") -> DataFrame:
    """parsed rows (quads + error rows, with bucket col) -> lineage rows.

    ``snapshot_id`` identifies the input table version (an Iceberg snapshot
    id in production; any caller-provided tag here) so a resume can refuse
    to mix buckets produced from different input snapshots. Over rows
    clustered by bucket (``_cluster_by_bucket``) the aggregate needs no
    exchange of its own."""
    quad = F.col("error").isNull()
    return (parsed.groupBy("bucket").agg(
        F.lit(snapshot_id).alias("snapshot_id"),
        F.sum(quad.cast("long")).alias("n_quads"),
        F.sum((~quad).cast("long")).alias("n_errors"),
        # xor-fold of per-quad hashes: order-insensitive and overflow-free
        # (a sum of xxhash64 longs overflows under ANSI mode)
        F.expr("bit_xor(CASE WHEN error IS NULL THEN "
               "xxhash64(subj, pred, obj, graph) ELSE 0 END)")
        .alias("checksum"),
    ))


def _read_lineage(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """Lineage table, or None ONLY when it does not exist yet (first run).

    Any other failure (corrupt files, schema drift such as a lineage dir
    written without a snapshot_id column) must raise: treating it as
    'first run' would silently disable the resume/snapshot guards.

    An absent directory is checked first rather than read and caught:
    once the session has run an ``observe`` (``write_bucketed``), Spark
    logs every failed query, so a fresh store would log a stack trace."""
    fs, path = _fs_path(spark, f"{out_dir}/lineage")
    if not fs.exists(path):
        return None
    try:
        return spark.read.parquet(f"{out_dir}/lineage")
    except Exception as exc:  # noqa: BLE001 — classify, re-raise the rest
        msg = str(exc)
        if ("PATH_NOT_FOUND" in msg or "Path does not exist" in msg
                or "UNABLE_TO_INFER_SCHEMA" in msg):
            return None
        raise


def parquet_quad_sink(sorted_quads: DataFrame, out_dir: str) -> None:
    """The quad sink: parquet + dynamic partition overwrite (idempotent
    per-bucket re-runs).

    Codec: zstd (default level 3). On the (pred, subj)-clustered quads
    layout it compressed 7.5x against 4.6x for snappy, with scans as
    fast or faster, in an earlier codec sweep of this layout. At 100 TB
    that codec choice is ~40% of the stored bytes."""
    spark = sorted_quads.sparkSession
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    (sorted_quads.write.mode("overwrite")
     .option("compression", "zstd")
     .partitionBy("bucket")
     .parquet(f"{out_dir}/quads"))


def _cluster_by_bucket(rows: DataFrame) -> DataFrame:
    """The commit layout: all rows of a bucket in ONE partition, so one
    task writes each bucket (one file per bucket per commit, not one per
    task per bucket) and the per-bucket lineage aggregate over the same
    partitioning adds no exchange. Spark's shuffle partitions and AQE
    choose the partition count (sources/session.py lets AQE coalesce a
    cached plan); coalescing merges whole partitions, so it never splits
    a bucket across tasks."""
    return rows.repartition("bucket")


def _sink_clustered(clustered: DataFrame, out_dir: str, quad_sink) -> None:
    """The one quad-write path (``write_bucketed`` and ``upsert_wave``):
    bucket-clustered rows, sorted inside each partition, into the sink."""
    # sortWithinPartitions (no shuffle): quads cluster by (pred, subj)
    # inside each file, so parquet dictionary/RLE encoding collapses the
    # boilerplate-heavy pred column — a large compression win at corpus
    # scale — and pred-filtered scans skip row groups via column stats
    # NB: "bucket" must lead the sort — the dynamic-partition writer
    # needs Sort(bucket) and the optimizer ELIMINATES any other
    # sortWithinPartitions beneath it (verified on PySpark 4.1.2)
    quad_sink(clustered.sortWithinPartitions("bucket", "pred", "subj"),
              out_dir)


def write_bucketed(parsed_with_bucket: DataFrame, out_dir: str,
                   snapshot_id: str = "",
                   quad_sink=parquet_quad_sink) -> dict:
    """Write quads (+error rows) partitioned by bucket, then commit lineage.

    Ordering is the crash-safety contract: quads land first (dynamic
    partition overwrite -> idempotent per bucket), lineage appends last.
    A crash between the two re-runs those buckets; dynamic overwrite makes
    the re-run idempotent.

    The rows are clustered by bucket and cached once; the sink writes one
    file per bucket from that cache, and the lineage rows are aggregated
    from the same cache (no second exchange) and appended as one file.
    Returns this commit's totals — ``{"buckets", "n_quads",
    "n_errors"}`` — observed on the lineage write itself, so callers
    need no read-back of ``lineage/``.

    ``quad_sink(sorted_df, out_dir)`` is the one format-specific step
    (``parquet_quad_sink``); it is a parameter so a test or the EXPLAIN
    audit can record what the commit hands the sink.
    """
    cached = _cluster_by_bucket(parsed_with_bucket).persist()
    try:
        _sink_clustered(cached, out_dir, quad_sink)
        totals = Observation("commit")
        # repartition(1), not coalesce(1): coalesce would pull the
        # aggregate itself into one task over the whole cache; this
        # gathers only its <= B output rows into the one lineage file
        (bucket_lineage(cached, snapshot_id)
         .observe(totals, F.count("*").alias("buckets"),
                  F.sum("n_quads").alias("n_quads"),
                  F.sum("n_errors").alias("n_errors"))
         .repartition(1).write.mode("append")
         .parquet(f"{out_dir}/lineage"))
        return {k: int(v or 0) for k, v in totals.get.items()}
    finally:
        cached.unpersist()


def wave_diff(base: DataFrame, wave: DataFrame,
              key: str = "url",
              wave_keys: DataFrame | None = None) -> DataFrame:
    """Crawl-to-crawl KG diff at document granularity: for the urls the
    wave re-crawled, which quads appeared and which disappeared?
    Returns quad rows tagged ``change`` in {'added', 'removed'} — the
    change feed a downstream incremental consumer (index refresh, cache
    invalidation, embedding re-compute) subscribes to instead of
    re-reading the store.

    ``wave_keys`` (the CRAWLED url set): pass it whenever a re-crawled
    page may now yield zero quads — such a page's old quads must emit
    as 'removed', but its url never appears in the wave QUADS, so the
    default (urls derived from wave) would silently drop the deletion
    from the feed and a subscriber would serve stale content forever.

    Scale design: base is first semi-joined to the wave's url set and
    the cut is localCheckpoint'd (both EXCEPT legs read it — without
    materialization the store scan would run twice per diff, per
    micro-batch in the continuous-feed pattern), so the multiset
    EXCEPTs cost O(wave), not O(store) — the same O(wave) principle as
    the physical upsert. Deterministic skolemization is what makes the
    diff MEANINGFUL: a re-crawled page's unchanged blocks reproduce
    byte-identical quads (blank-node labels included), so only real
    content changes surface."""
    # the cut is materialized ONCE (both EXCEPT legs read it); the
    # uncheckpointed expression is exposed as _wave_url_cut so the
    # EXPLAIN audit can assert the semi-join shape of the shipped query
    base_w = _wave_url_cut(base, wave, key, wave_keys).localCheckpoint()
    added = (wave.exceptAll(base_w)
             .withColumn("change", F.lit("added")))
    removed = (base_w.exceptAll(wave)
               .withColumn("change", F.lit("removed")))
    return added.unionByName(removed)


def _wave_url_cut(base: DataFrame, wave: DataFrame, key: str = "url",
                  wave_keys: DataFrame | None = None) -> DataFrame:
    """base restricted to the wave's (crawled or quad-derived) url set —
    the O(wave) cut wave_diff materializes; normalized to wave's column
    order so the multiset EXCEPTs operate on identical relations."""
    keys = (wave_keys.select(key) if wave_keys is not None
            else wave.select(key)).distinct()
    return base.join(keys, key, "left_semi").select(*wave.columns)


def upsert_wave(spark: SparkSession, out_dir: str,
                wave_parsed: DataFrame, buckets: int,
                snapshot_id: str = "",
                wave_keys: DataFrame | None = None) -> None:
    """Physical MERGE into the bucketed quad store: only the url-buckets
    the wave touches are recomputed and dynamically overwritten —
    untouched bucket partitions are NOT rewritten (asserted by file
    mtimes in tests). At 100 TB a crawl wave touches a small fraction of
    buckets, so the rewrite cost is O(wave), not O(store). New bucket
    content = (stored bucket minus wave urls) + wave rows; the affected
    buckets' lineage rows are REPLACED (compacted), not appended — this
    is the one writer that re-commits a committed bucket, and duplicate
    per-bucket rows would break verify_lineage and double-count resume
    stats. The quads take write_bucketed's clustered write path, so each
    affected bucket is rewritten as one file.

    ``wave_keys``: the CRAWLED url set (one ``url`` column). Required
    for deletion-correctness when a re-crawled page can yield ZERO
    parsed rows (no JSON-LD blocks anymore — extract emits nothing for
    such a page, so its url is absent from ``wave_parsed`` and the
    default url derivation would leave its stale quads in the store)."""
    check_snapshot(spark, out_dir, snapshot_id)
    wave_b = with_bucket(wave_parsed, buckets).persist()
    try:
        keys = (wave_keys.select("url") if wave_keys is not None
                else wave_b.select("url")).distinct()
        affected = with_bucket(keys, buckets).select("bucket").distinct()
        cols = ["url", "blk", "subj", "pred", "obj", "graph", "error",
                "bucket"]
        stored = (read_store(spark, out_dir)
                  .withColumn("bucket", F.col("bucket").cast("long"))
                  .select(*cols))
        keep = (stored
                .join(F.broadcast(affected), "bucket", "left_semi")
                .join(keys, "url", "left_anti"))
        # localCheckpoint (eager), NOT persist: the sink below OVERWRITES
        # the very parquet path `keep` reads from, so the plan must be
        # cut to a materialized RDD first — a mere cache can be evicted /
        # lost and the recompute would scan deleted files (and Spark's
        # self-overwrite detection would otherwise refuse the write).
        merged = _cluster_by_bucket(
            keep.unionByName(wave_b.select(*cols))).localCheckpoint()
        # lineage compaction: old rows for unaffected buckets + fresh
        # rows for the wave's buckets. Tiny (<= total buckets rows);
        # checkpointed before the overwrite of its own source dir. A
        # crash between the two writes leaves quads newer than lineage —
        # the same idempotent-bucket re-run contract as write_bucketed.
        # Old rows are projected to the current lineage columns: a store
        # written by an older release may carry columns since dropped.
        fresh = bucket_lineage(merged, snapshot_id)
        old_lineage = (spark.read.parquet(f"{out_dir}/lineage")
                       .join(F.broadcast(affected), "bucket", "left_anti")
                       .select(*fresh.columns))
        compacted = old_lineage.unionByName(fresh).localCheckpoint()
        _sink_clustered(merged, out_dir, parquet_quad_sink)
        (compacted.coalesce(1).write.mode("overwrite")
         .parquet(f"{out_dir}/lineage"))
    finally:
        wave_b.unpersist()


def read_store(spark: SparkSession, out_dir: str) -> DataFrame:
    """The one reader of the whole committed ``quads/`` table, with
    ``STORE_SCHEMA`` declared (no footer schema-inference job). Point
    lookups read only their keys' directories (:func:`_read_partitions`)
    with the same schema."""
    return spark.read.schema(STORE_SCHEMA).parquet(f"{out_dir}/quads")


def _fs_path(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Path) of ``path``: the one way this module
    looks at directories (JVM calls, never a Spark job)."""
    sc = spark.sparkContext
    p = sc._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(sc._jsc.hadoopConfiguration()), p


def _empty(spark: SparkSession, schema: ST.StructType) -> DataFrame:
    """An empty frame of ``schema``: a local relation, no Spark job."""
    return spark.createDataFrame(to_arrow_schema(schema).empty_table())


def _read_partitions(spark: SparkSession, table: str,
                     schema: ST.StructType, part: str,
                     keys: list[int]) -> tuple[DataFrame, bool]:
    """The ``part=k`` directories of ``table`` for ``keys``, read with
    ``schema`` declared, and whether they fit in one scan split.

    Only the directories that exist are listed: a writer creates a
    partition directory only for a key that holds rows, and Spark
    refuses a named path that does not exist. With none left, the frame
    is empty. The ``isin`` filter stays on the frame, so the scan's
    PartitionFilters carry it. Existence comes from one glob, no Spark
    job.

    "Fits in one split" means the listed files' bytes (the relation's
    size, from the file listing Spark makes when the frame is built) are
    at most ``spark.sql.files.maxPartitionBytes``: the most Spark's own
    scan planning gives one task, so reading them in one task loses no
    scan parallelism."""
    fs, pattern = _fs_path(
        spark, f"{table}/{part}={{{','.join(map(str, keys))}}}")
    found = fs.globStatus(pattern) or []
    if not found:
        return _empty(spark, schema), True
    frame = (spark.read.schema(schema).option("basePath", table)
             .parquet(*[st.getPath().toString() for st in found]))
    size = frame._jdf.queryExecution().analyzed().stats().sizeInBytes()
    limit = (spark._jsparkSession.sessionState().conf()
             .filesMaxPartitionBytes())
    return frame.where(F.col(part).isin(keys)), size <= limit


def _canonical(rows: DataFrame, one_split: bool) -> DataFrame:
    """A lookup's rows with the store's canonical quad semantics (error
    rows filtered, quad columns, deduplicated on ``QUAD_KEY``). Rows
    that fit in one scan split are deduplicated in ONE partition: the
    scan, filter and dedup are one stage with one task, no Exchange. A
    larger read keeps the parallel scan and dedups through a shuffle."""
    quads = quads_only(rows)
    if one_split:
        quads = quads.coalesce(1)
    return quads.dropDuplicates(QUAD_KEY)


def _dir_signature(spark: SparkSession, path: str) -> tuple | None:
    """(name, length, mtime) of every file directly under ``path``, or
    None when it does not exist — one FileSystem listing, no Spark job."""
    fs, p = _fs_path(spark, path)
    if not fs.exists(p):
        return None
    return tuple(sorted((s.getPath().getName(), s.getLen(),
                         s.getModificationTime())
                        for s in fs.listStatus(p)))


def _cached(spark: SparkSession, path: str, compute):
    """``compute()``, re-run only when ``path``'s signature changed since
    the cached call (module docstring). The signature is taken BEFORE
    the compute, so a commit racing it can only cause a recompute."""
    sig = _dir_signature(spark, path)
    hit = _facts.get(path)
    if sig is not None and hit is not None and hit[0] == sig:
        return hit[1]
    value = compute()  # a missing directory raises here, from Spark
    if len(_facts) >= FACTS_MAX_DIRS:
        _facts.clear()
    _facts[path] = (sig, value)
    return value


def _lineage_facts(spark: SparkSession, out_dir: str) -> tuple:
    """(row count, xor of checksums, total quads) of ``lineage/``."""
    def compute():
        r = (spark.read.parquet(f"{out_dir}/lineage")
             .agg(F.count("*"), F.expr("bit_xor(checksum)"),
                  F.sum("n_quads")).first())
        return tuple(r)
    return _cached(spark, f"{out_dir}/lineage", compute)


def _bucket_of(spark: SparkSession, key: str, buckets: int) -> int:
    """``key``'s bucket through the writer's own ``with_bucket``, over a
    one-row Arrow (local) relation: the optimizer folds the hash, so
    no Spark job runs (a list-built frame is RDD-backed: 2 jobs)."""
    one = spark.createDataFrame(pa.table({"key": [key]}))
    return int(with_bucket(one, buckets, col="key").first()["bucket"])


def read_url_quads(spark: SparkSession, out_dir: str, url: str,
                   buckets: int) -> DataFrame:
    """Point lookup: one url's quads WITHOUT scanning the store, with
    the store's canonical quad semantics (error rows filtered, quad
    columns, deduplicated — matching plans/pipeline.quads_table). The
    url's bucket is computed through the writer's OWN ``with_bucket``
    over a local one-row relation (no Spark job; a drift between reader
    and writer hashing would silently return empty lookups). Only that
    ``bucket=k`` directory is listed and read, the bucket PARTITION
    filter stays in the plan, and parquet gets the url predicate. When
    the bucket's files fit in one scan split (:func:`_read_partitions`),
    the dedup runs in ONE partition: no Exchange, and the warm lookup
    is one Spark job with one task; a larger bucket keeps the parallel
    scan and dedups through a shuffle. At 100 TB with B buckets this
    reads ~1/B of the store's files — the access path a serving layer
    uses for per-document retrieval.

    ``buckets`` must be the writer's bucket count: it is validated
    against the store's lineage row count (one row per NON-EMPTY
    bucket — with url-hash bucketing every bucket is occupied beyond
    trivial store sizes, so a sparse toy store trips this guard
    loudly rather than a wrong modulus returning an empty result
    indistinguishable from "url absent"). The count is cached while
    ``lineage/`` is unchanged (module docstring)."""
    buckets_written = _lineage_facts(spark, out_dir)[0]
    if buckets != buckets_written:
        raise ValueError(
            f"buckets={buckets} but the store's lineage records "
            f"{buckets_written} buckets — a mismatched modulus would "
            "silently return empty lookups")
    k = _bucket_of(spark, url, buckets)
    rows, one_split = _read_partitions(spark, f"{out_dir}/quads",
                                       STORE_SCHEMA, "bucket", [k])
    return _canonical(rows.where(F.col("url") == url), one_split)


def _store_fingerprint(spark: SparkSession, out_dir: str) -> str:
    """Cheap content identity of the committed store, derived from the
    lineage table (rows are REPLACED on upsert, so any mutation moves
    this): row count, xor of per-bucket checksums, total quads. Cached
    while ``lineage/`` is unchanged."""
    n, x, q = _lineage_facts(spark, out_dir)
    return f"{n}:{x}:{q}"


def write_subject_index(spark: SparkSession, out_dir: str,
                        buckets: int,
                        index_buckets: int | None = None) -> None:
    """Secondary index for ENTITY dereference: the quad store is
    bucketed by url (crawl-write locality), so "all quads about
    subject S" would otherwise scan every bucket. The index is a tiny
    (subj, url, bucket) table — distinct subject/document pairs —
    partitioned by ``sbucket`` (the shared :func:`bucket_expr` over
    subj), built with ONE pass over the store. Lookup is then two
    pruned point reads (index bucket -> url buckets), each O(1/B) of
    its table. Index size is O(distinct subject-document pairs):
    orders of magnitude under the quad count (subjects repeat per
    predicate).

    A meta row (index modulus + store fingerprint) is written beside
    the index; the reader derives its modulus from it and REFUSES a
    stale index (store mutated since the build) — both failure modes
    would otherwise be silent empty/incomplete dereferences."""
    idx_b = index_buckets or buckets
    quads = (read_store(spark, out_dir)
             .where(F.col("error").isNull())
             .select("subj", "url", "bucket").distinct())
    idx = (quads.withColumn("sbucket", bucket_expr("subj", idx_b))
           .select(*[F.col(f.name).cast(f.dataType)
                     for f in INDEX_SCHEMA.fields]))
    (idx.repartition("sbucket")
        .sortWithinPartitions("sbucket", "subj")
        .write.mode("overwrite").partitionBy("sbucket")
        .parquet(f"{out_dir}/subj_index"))
    (spark.createDataFrame(
        [(idx_b, _store_fingerprint(spark, out_dir))],
        "index_buckets long, store_fingerprint string")
     .write.mode("overwrite").parquet(f"{out_dir}/subj_index_meta"))


def read_subject_quads(spark: SparkSession, out_dir: str, subj: str,
                       max_fanout: int = 10_000) -> DataFrame:
    """Entity dereference via the subject index: read ONE sbucket
    directory for the subject's (url, bucket) pairs (a driver collect
    bounded by ``max_fanout``), then read exactly those url-bucket
    directories with the subject predicate pushed down. Canonical quad
    semantics (error-filtered, deduplicated; in one partition with no
    Exchange while the url-bucket files fit in one scan split, else
    through a shuffle over the parallel scan). Never scans the store;
    both reads list only their own directories and keep their
    partition filters, so a warm lookup within one split is two Spark
    jobs. A subject absent from the index, including one whose sbucket
    directory holds no subject at all, returns an empty frame with no
    further read.

    The index modulus comes from the index's own meta row (never a
    caller guess — a wrong modulus would prune the wrong directory and
    return empty), and the meta's store fingerprint must match the
    current lineage: a store mutated after the index build (upsert
    wave, resume) raises STALE instead of silently omitting the new
    documents' quads. The meta row and the fingerprint are cached while
    their directories are unchanged (module docstring), so the STALE
    check runs on every call without a Spark job.

    ``max_fanout`` guards the point-lookup shape: a hub entity
    referenced from more documents than this is not a point lookup any
    more (the IN-lists and pruning benefit both degrade), so the
    function raises with guidance instead of silently materializing a
    huge url list on the driver — dereference such subjects with a
    distributed join against the index (index.where(subj) ⋈ store)."""
    meta_dir = f"{out_dir}/subj_index_meta"
    idx_b, indexed_fp = _cached(spark, meta_dir, lambda: tuple(
        spark.read.parquet(meta_dir)
        .select("index_buckets", "store_fingerprint").first()))
    fp = _store_fingerprint(spark, out_dir)
    if indexed_fp != fp:
        raise ValueError(
            "subject index is STALE (store fingerprint "
            f"{fp} != indexed {indexed_fp}) — rebuild "
            "with write_subject_index after mutating the store")
    sb = _bucket_of(spark, subj, int(idx_b))
    index, _ = _read_partitions(spark, f"{out_dir}/subj_index",
                                INDEX_SCHEMA, "sbucket", [sb])
    hits = (index.where(F.col("subj") == subj).select("url", "bucket")
            .limit(max_fanout + 1).collect())
    if len(hits) > max_fanout:
        raise ValueError(
            f"subject {subj!r} appears in > {max_fanout} documents — "
            "a hub entity is not a point lookup; join the store "
            "against the pruned index instead")
    if not hits:
        return quads_only(_empty(spark, STORE_SCHEMA))
    bucket_set = sorted({int(r["bucket"]) for r in hits})
    url_set = sorted({r["url"] for r in hits})
    rows, one_split = _read_partitions(spark, f"{out_dir}/quads",
                                       STORE_SCHEMA, "bucket", bucket_set)
    return _canonical(rows.where(F.col("url").isin(url_set)
                                 & (F.col("subj") == subj)), one_split)


def check_snapshot(spark: SparkSession, out_dir: str,
                   snapshot_id: str) -> None:
    """Refuse to write alongside lineage from a different input snapshot.

    Mixing buckets produced from two table versions is silent corruption;
    every writer entry point (resume AND waves) must call this before its
    first commit."""
    if not snapshot_id:
        return
    lineage = _read_lineage(spark, out_dir)
    if lineage is None:
        return
    prior = lineage.select("snapshot_id").distinct().collect()
    prior_ids = {r["snapshot_id"] for r in prior} - {""}
    if prior_ids and prior_ids != {snapshot_id}:
        raise ValueError(
            f"resume refused: lineage records snapshot(s) "
            f"{sorted(prior_ids)} but this run is {snapshot_id!r}")


def run_with_resume(spark: SparkSession, pages: DataFrame, out_dir: str,
                    ctx_cache: dict, buckets: int = 64,
                    rdf_direction: str | None = None,
                    snapshot_id: str = "",
                    memo: bool = False) -> dict:
    """Process only urls in not-yet-committed buckets; returns stats.

    ``pages -> filter(uncommitted bucket) -> extract+parse -> write``.
    The filter is a broadcast anti-join on the bucket id (<= B rows), so
    resume adds zero shuffles to the happy path. The stats are the prior
    lineage totals (from the same read that feeds the anti-join) plus the
    totals ``write_bucketed`` observes on its commit; ``lineage/`` is not
    read back after the commit.

    The parse is the one fused ``extract_and_parse`` stage. ``memo=True``
    adds its in-worker block memo (one kernel call per distinct block
    per partition, no added shuffle; the same rows as a multiset), worth
    it when the crawl repeats site-template blocks."""
    pages_b = with_bucket(pages, buckets)
    check_snapshot(spark, out_dir, snapshot_id)
    # the one lineage read: prior totals for the stats, and the committed
    # bucket ids the anti-join skips
    prior = {"buckets": 0, "n_quads": 0, "n_errors": 0}
    lineage = _read_lineage(spark, out_dir)
    if lineage is not None:
        r = lineage.agg(F.countDistinct("bucket").alias("buckets"),
                        F.sum("n_quads").alias("n_quads"),
                        F.sum("n_errors").alias("n_errors")).first()
        prior = {k: int(r[k] or 0) for k in prior}
        done = lineage.select("bucket").distinct()
        pages_b = pages_b.join(F.broadcast(done), "bucket", "left_anti")

    from ..operators.parse import extract_and_parse
    parsed = extract_and_parse(pages_b, ctx_cache, rdf_direction, memo=memo)
    commit = write_bucketed(with_bucket(parsed, buckets), out_dir,
                            snapshot_id)
    return {"buckets_total": buckets,
            "buckets_previously_done": prior["buckets"],
            "buckets_done": prior["buckets"] + commit["buckets"],
            "n_quads": prior["n_quads"] + commit["n_quads"],
            "n_errors": prior["n_errors"] + commit["n_errors"]}


def run_in_waves(spark: SparkSession, pages: DataFrame, out_dir: str,
                 ctx_cache: dict, buckets: int = 64,
                 waves: int = 4,
                 rdf_direction: str | None = None,
                 snapshot_id: str = "",
                 memo: bool = False) -> list[dict]:
    """Process the corpus in `waves` independently-committed bucket ranges.

    Each wave is one ``run_with_resume`` over the pages of its bucket
    range, so its write+commit is atomic at the wave level: a crash
    between waves leaves a committed prefix that the next invocation
    skips — the operational checkpoint cadence for multi-day 100 TB
    backfills (waves ~ hours, recovery loses at most one wave).
    """
    stats = []
    per_wave = (buckets + waves - 1) // waves
    for w in range(waves):
        lo, hi = w * per_wave, min((w + 1) * per_wave, buckets)
        wave_pages = pages.where(bucket_expr("url", buckets)
                                 .between(lo, hi - 1))
        run_with_resume(spark, wave_pages, out_dir, ctx_cache, buckets,
                        rdf_direction, snapshot_id, memo)
        stats.append({"wave": w, "buckets": [lo, hi]})
    return stats


def verify_lineage(spark: SparkSession, out_dir: str) -> DataFrame:
    """Recompute per-bucket stats from the quads table and diff against the
    lineage records — the audit every resume can run cheaply."""
    quads = read_store(spark, out_dir)
    recomputed = bucket_lineage(quads).drop("snapshot_id")
    recorded = spark.read.parquet(f"{out_dir}/lineage")
    return (recomputed.alias("a")
            .join(recorded.alias("b"), "bucket", "full")
            .where(~F.col("a.n_quads").eqNullSafe(F.col("b.n_quads"))
                   | ~F.col("a.checksum").eqNullSafe(F.col("b.checksum"))
                   | ~F.col("a.n_errors").eqNullSafe(F.col("b.n_errors"))))
