"""KG-construction benchmark: one run of one workload.

    python3 kgbench/run.py --workload crawl_unique --seed 1 --seconds 16 \
        --trace 0

Each run builds a committed quad store from seeded crawled pages with
``build_kg`` for the first half of ``--seconds``, then serves lookups
from the last store it built for the second half: one closed-loop
client issuing url lookups, entity lookups and a bound-author SPARQL
query. The workloads differ in the pages and the build configuration
(see README.md in this directory for why each exists):

- ``crawl_unique``: every JSON-LD block is distinct, memo off; the
  Python kernel stage does most of the build work.
- ``crawl_templated``: pages dominated by repeated site-template blocks,
  ``build_kg(memo=True, canonicalize=True)``; the memo joins,
  canonicalization shuffles and lineage writes do most of the work.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``). Every file the run
writes lives under ``.kgbench/`` at the root of the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time

T0 = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(ROOT, ".kgbench")
CACHE = os.path.join(WORK, "cache")

BUCKETS = 64
SETUP_REPS = 3
WARMUP_S = 12.0
SERVE_WARMUP_OPS = 1
# one cycle of the serving mix: 12 url lookups (60%), 5 entity lookups
# (25%), 3 SPARQL queries (15%) in a fixed order, so every run sees the
# same sequence of op kinds. Op 0 is the discarded warm-up; the slow
# kinds come early so that runs of 5 to 7 measured ops have the same
# kind at their median (a url lookup) and at their p90 (an entity lookup)
SERVE_CYCLE = "USUQUUUUSUUQUSUUSUQS"
SPARQL_BY_AUTHOR = (
    "SELECT ?a ?h WHERE { ?a <http://schema.org/author> %s . "
    "?a <http://schema.org/headline> ?h }")

WORKLOADS = {
    "crawl_unique": {"corpus": "unique", "params": {"n_pages": 6000},
                     "memo": False, "canonicalize": False},
    "crawl_templated": {"corpus": "templated",
                        "params": {"n_pages": 2000, "hosts": 8, "pool": 6},
                        "memo": True, "canonicalize": True},
}


def log(msg: str) -> None:
    print(f"kgbench [{time.perf_counter() - T0:6.1f}s] {msg}",
          file=sys.stderr, flush=True)


def _import_program():
    """Fail fast (exit 2) when the program is not next to the
    benchmark."""
    sys.path.insert(0, ROOT)
    try:
        import jsonld_streaming_parser_js_spark.plans.pipeline  # noqa: F401
    except ImportError as exc:
        print(f"kgbench: program package not importable from {ROOT}: {exc}",
              file=sys.stderr)
        sys.exit(2)


def _spark_env() -> None:
    """Keep the JVM and its Python workers small and their files inside
    the checkout; workers import the program from the checkout root."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM spark-submit starts: no /tmp/hsperfdata, temp files here
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    pp = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")


def start_spark():
    from jsonld_streaming_parser_js_spark.sources.session import get_spark

    spark = get_spark(app="kgbench", cores=os.cpu_count() or 1, extra_conf={
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it every Python
    worker it forked) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — never leave the JVM behind
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def fresh_context_cache() -> dict:
    """A new dict each time: the program remembers validated caches by
    identity, so reusing one would skip the validation being timed."""
    from gen import context_cache

    path = os.path.join(CACHE, "context.json")
    if not os.path.exists(path):
        os.makedirs(CACHE, exist_ok=True)
        with open(path + ".tmp", "w") as fh:
            json.dump(context_cache(), fh)
        os.replace(path + ".tmp", path)
    with open(path) as fh:
        return json.load(fh)


class Run:
    """State of one benchmark run: workload config, generated inputs,
    the reference expectations and the Spark session."""

    def __init__(self, workload: str, seed: int, seconds: float,
                 trace: bool):
        from spans import Tracer

        self.name = workload
        self.cfg = WORKLOADS[workload]
        self.seed = seed
        self.phase_s = seconds / 2  # build phase, then serve phase
        self.tracer = Tracer(trace)
        self.traced = trace
        self.spark = None
        self.store = None
        self.buckets = BUCKETS
        self.outs = 0
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self._expected: dict | None = None
        self.spans_path = os.path.join(WORK, "spans",
                                       f"{workload}-{seed}.jsonl")

    def fail(self, problems: list[str]) -> bool:
        """Record one attempted operation; True when it was correct."""
        self.attempted += 1
        self.failed += bool(problems)
        self.problems += problems
        return not problems

    # -- inputs --------------------------------------------------------
    def prepare_inputs(self) -> None:
        from gen import ensure_corpus
        from reference import parse_pages

        self.pages_path, self.urls, self.htmls = ensure_corpus(
            CACHE, self.cfg["corpus"], self.seed, self.cfg["params"])
        self.ctx = fresh_context_cache()
        self.ref = parse_pages(self.urls, self.htmls, self.ctx)

    def expected(self) -> dict:
        """Expected store identity, computed in-process from the kernel
        rows. For a seed with recorded constants the two must agree; a
        disagreement (generator or kernel drift) fails the run."""
        from reference import store_fingerprint

        if self._expected is not None:
            return self._expected
        exp = {"fingerprint": store_fingerprint(self.spark, self.ref),
               "distinct_quads": len(set(self.ref.rows)),
               "merged_nodes": self.ref.merged_nodes()}
        with open(os.path.join(BENCH_DIR, "expected.json")) as fh:
            rec = json.load(fh).get(self.name, {}).get(str(self.seed))
        if rec is not None and rec != exp:
            self.problems.append(
                f"kernel reference {exp} differs from the recorded "
                f"constants {rec} for seed {self.seed}")
            exp = rec
        self._expected = exp
        return exp

    def new_out(self) -> str:
        self.outs += 1
        out = os.path.join(WORK, "stores", f"{self.name}-{self.outs}")
        shutil.rmtree(out, ignore_errors=True)
        return out

    # -- set-up --------------------------------------------------------
    def setup(self) -> float:
        """Median of SETUP_REPS set-ups, each on a fresh SparkSession in
        the running JVM: session start, context-cache validation and
        opening the pages table. The JVM launch happens once, before."""
        from jsonld_streaming_parser_js_spark.functions.context import (
            validate_context_cache,
        )

        self.spark = start_spark()
        times = []
        for _ in range(SETUP_REPS):
            self.spark.stop()
            t0 = time.perf_counter()
            self.spark = start_spark()
            ctx = fresh_context_cache()
            validate_context_cache(ctx)
            self.spark.read.parquet(self.pages_path).schema
            times.append(time.perf_counter() - t0)
        self.ctx = ctx
        return statistics.median(times)

    def warm_up(self) -> None:
        """Untimed builds over one of the corpus files for WARMUP_S: the
        first builds in a JVM pay JIT compilation and Python worker
        start-up, which a long-running build service pays once."""
        pages = self.spark.read.parquet(
            *(os.path.join(self.pages_path, f)
              for f in sorted(os.listdir(self.pages_path))[:1]))
        t_end = time.perf_counter() + WARMUP_S
        while time.perf_counter() < t_end:
            out = self.new_out()
            self.build(out, pages)
            shutil.rmtree(out, ignore_errors=True)

    def pipeline_config(self, out: str):
        from jsonld_streaming_parser_js_spark.plans.pipeline import (
            PipelineConfig,
        )
        return PipelineConfig(out_dir=out, buckets=BUCKETS,
                              ctx_cache=self.ctx, memo=self.cfg["memo"],
                              canonicalize=self.cfg["canonicalize"])

    # -- builds --------------------------------------------------------
    def build(self, out: str, pages=None) -> tuple[dict, float]:
        from jsonld_streaming_parser_js_spark.plans.pipeline import build_kg

        if pages is None:
            pages = self.spark.read.parquet(self.pages_path)
        t0 = time.perf_counter()
        stats = build_kg(self.spark, pages, self.pipeline_config(out))
        return stats, time.perf_counter() - t0

    def check_build(self, out: str, stats: dict) -> list[str]:
        """Problems with one committed store (empty when correct)."""
        from reference import lineage_fingerprint

        exp = self.expected()
        bad = []
        fp = lineage_fingerprint(self.spark, out)
        if fp != exp["fingerprint"]:
            bad.append(f"store fingerprint {fp} != {exp['fingerprint']}")
        if self.cfg["canonicalize"]:
            if stats.get("n_merged_nodes") != exp["merged_nodes"]:
                bad.append(f"merged {stats.get('n_merged_nodes')} nodes, "
                           f"expected {exp['merged_nodes']}")
            n = self.spark.read.parquet(f"{out}/quads_canonical").count()
            if n != exp["distinct_quads"]:
                bad.append(f"canonical store has {n} quads, expected "
                           f"{exp['distinct_quads']}")
        return bad

    def verify_store(self, out: str) -> list[str]:
        from jsonld_streaming_parser_js_spark.plans.lineage import (
            verify_lineage,
        )
        n = verify_lineage(self.spark, out).count()
        return [f"verify_lineage: {n} bucket(s) disagree"] if n else []

    def run_builds(self) -> dict:
        """Build the store repeatedly for the build phase; keeps the
        last store as the serving store."""
        times, quads = [], []
        t_end = time.perf_counter() + self.phase_s
        while not times or time.perf_counter() < t_end:
            if self.store:
                shutil.rmtree(self.store, ignore_errors=True)
            self.store = self.new_out()
            stats, dt = self.build(self.store)
            log(f"build {len(times) + 1}: {dt:.3f}s")
            self.fail(self.check_build(self.store, stats))
            times.append(dt)
            quads.append(stats["n_quads"])
        self.fail(self.verify_store(self.store))
        return {"build_quads_per_s": statistics.median(
                    q / t for q, t in zip(quads, times)),
                "_builds": len(times), "_quads": quads[0]}

    # -- serving -------------------------------------------------------
    def serve_plan(self) -> list[tuple[str, str]]:
        """Seeded op sequence. Keys follow the page distribution, so the
        entity and SPARQL keys favour hub authors."""
        from reference import SCHEMA_AUTHOR

        main = {r[0]: (r[2], r[4]) for r in self.ref.rows
                if r[1] == 0 and r[3] == SCHEMA_AUTHOR}
        rng = random.Random(f"serve-{self.seed}")
        plan = []
        for i in range(2000):
            kind = SERVE_CYCLE[i % len(SERVE_CYCLE)]
            url = rng.choice(self.urls)
            node, author = main[url]
            if kind == "U":
                plan.append(("url", url))
            elif kind == "S":
                plan.append(("subject",
                             node if rng.random() < 0.5 else author))
            else:
                plan.append(("sparql", author))
        return plan

    def serve_op(self, kind: str, key: str):
        """Run one serving op; returns its result in comparable form."""
        from jsonld_streaming_parser_js_spark.operators.sparql import (
            parse_sparql,
            sparql_query,
        )
        from jsonld_streaming_parser_js_spark.plans import lineage
        from jsonld_streaming_parser_js_spark.plans.pipeline import (
            quads_table,
        )

        spark, store, tr = self.spark, self.store, self.tracer
        if kind == "url":
            with tr.span("lineage.read_url"):
                rows = lineage.read_url_quads(spark, store, key,
                                              BUCKETS).collect()
            return {tuple(r) for r in rows}
        if kind == "subject":
            with tr.span("lineage.read_subject"):
                rows = lineage.read_subject_quads(spark, store,
                                                  key).collect()
            return {tuple(r) for r in rows}
        text = SPARQL_BY_AUTHOR % key
        with tr.span("sparql.query"):
            with tr.span("sparql.parse"):
                parse_sparql(text)
            rows = sparql_query(quads_table(spark, store), text).collect()
        return sorted(tuple(r) for r in rows)

    def run_serve(self) -> dict:
        """Closed loop, one client: index the store, discard warm-up
        ops, then send ops for the serve phase."""
        from jsonld_streaming_parser_js_spark.plans import lineage
        from spans import percentile

        with self.tracer.span("lineage.subject_index"):
            lineage.write_subject_index(self.spark, self.store, BUCKETS)
        answers = {"url": self.ref.by_url(),
                   "subject": self.ref.by_subject(),
                   "sparql": self.ref.headlines_by_author()}
        sc = self.spark.sparkContext
        lat, self.serve_jobs = [], []
        t_start = t_end = None
        for i, (kind, key) in enumerate(self.serve_plan()):
            if i == SERVE_WARMUP_OPS:
                t_start = time.perf_counter()
                t_end = t_start + self.phase_s
            elif t_end is not None and time.perf_counter() >= t_end:
                break
            measured = i >= SERVE_WARMUP_OPS
            self.tracer.enabled = self.traced and measured
            group = f"serve-op-{i}"
            if self.traced:
                sc.setJobGroup(group, kind)
            t0 = time.perf_counter()
            got = self.serve_op(kind, key)
            dt = time.perf_counter() - t0
            log(f"{kind} op {i}: {1000 * dt:.0f}ms")
            want = answers[kind].get(key, [] if kind == "sparql" else set())
            bad = ([] if got == want else
                   [f"{kind} {key}: {len(got)} rows, expected {len(want)}"])
            if not measured:
                self.problems += bad
                continue
            self.fail(bad)
            lat.append(dt)
            if self.traced:
                self.serve_jobs.append(
                    len(sc.statusTracker().getJobIdsForGroup(group)))
        if self.traced:
            sc.setJobGroup("", "")
        self.tracer.enabled = self.traced
        wall = time.perf_counter() - t_start
        return {"serve_ops_per_s": len(lat) / wall,
                "serve_p50_ms": 1000 * statistics.median(lat),
                "serve_p90_ms": 1000 * percentile(lat, 90),
                "_ops": len(lat)}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=16.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    _import_program()
    sys.path.insert(0, BENCH_DIR)
    _spark_env()
    shutil.rmtree(os.path.join(WORK, "stores"), ignore_errors=True)

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    log("generating inputs and the kernel reference")
    run.prepare_inputs()
    try:
        log("set-up")
        setup_s = run.setup()
        log("warm-up build")
        run.warm_up()
        run.expected()
        if args.trace:
            from layers import traced_sweep
            metrics = traced_sweep(run)
        else:
            log("build phase")
            metrics = {"setup_s": setup_s, **run.run_builds()}
            log("serve phase")
            metrics.update(run.run_serve())
    finally:
        log("stopping Spark")
        if run.spark is not None:
            stop_spark(run.spark)
        shutil.rmtree(os.path.join(WORK, "stores"), ignore_errors=True)
        log("done")

    for p in run.problems[:20]:
        print(f"kgbench: PROBLEM {p}", file=sys.stderr)
    report(args, run, metrics)
    return 0


def report(args, run: Run, metrics: dict) -> None:
    """Human-readable lines, then the one JSON result line."""
    from metrics import END_TO_END, PER_LAYER

    declared = PER_LAYER if args.trace else END_TO_END
    attempted = max(run.attempted, 1)
    print(f"workload={args.workload} seed={args.seed} "
          f"attempted={run.attempted} failed={run.failed}")
    print(f"  failed_ops_frac = {run.failed / attempted:.4g} ratio")
    if not args.trace:
        print(f"  ({metrics['_builds']} builds of {metrics['_quads']} "
              f"quads, {metrics['_ops']} serving ops)")
        print(f"  serve_p90_ms = {metrics['serve_p90_ms']:.6g} ms "
              "(informational)")
    out = {}
    for name, unit in declared.items():
        out[name] = {"value": float(metrics[name]), "unit": unit}
        print(f"  {name} = {metrics[name]:.6g} {unit}")
    print(json.dumps({"correct": not run.problems and run.failed == 0,
                      "attempted": attempted, "failed": run.failed,
                      "metrics": out}))


if __name__ == "__main__":
    sys.exit(main())
