"""RDFS forward-chaining entailment over the KG quad set.

Materializes the rho-df entailment regime (Munoz, Perez, Gutierrez,
"Minimal deductive systems for RDF" — the subClassOf / subPropertyOf /
domain / range fragment every production RDFS reasoner ships):

- rdfs7  (s p o), (p subPropertyOf+ q)    ->  (s q o)
- rdfs2  (s p o), (p domain C)            ->  (s rdf:type C)
- rdfs3  (s p o), (p range C), o not lit  ->  (o rdf:type C)
- rdfs9  (s rdf:type C), (C subClassOf+ D)->  (s rdf:type D)

Reflexive closure rules (rdfs6/rdfs8/rdfs10) are deliberately out of
scope — rho-df's minimal system omits them, and they add no facts a
query over instance data can distinguish.

Completeness without a data-side fixpoint: the class/property
hierarchies are closed FIRST (driver-side transitive closure over the
ontology — the schema-is-small assumption every RDFS-on-Spark design
makes), then the rules compose in one pass because the rule dependency
graph is acyclic: subPropertyOf produces property assertions, which
feed domain/range, which produce type assertions, which feed
subClassOf — and nothing feeds back into subPropertyOf. Acyclicity
REQUIRES that the ontology never constrains ``rdf:type`` itself (no
``rdf:type rdfs:subPropertyOf ...``, no domain/range ON ``rdf:type``)
— such an ontology would route inferred type triples back into the
property rules, which a single pass cannot honor, so
``split_ontology`` rejects it loudly (same guard pattern as the
non-RDFS-predicate check). ``... rdfs:subPropertyOf rdf:type`` (a
property whose assertions ARE type assertions) is fine: sp-lifted
rows flow into the subClassOf leg like any other type row. So the
materialization is exactly four broadcast joins over ONE scan of the
quad set, never an iterate-until-fixpoint over 100 TB.

Scale design (100 TB): the ontology is a bounded driver-side list
(loud guard at ``max_ontology_rows``), closed in Python and shipped as
``F.broadcast`` literal DataFrames — the corpus side is never
broadcast and never re-shuffled for a rule. The only shuffle is the
final groupBy on the full quad key, which simultaneously deduplicates
multi-derivation facts and tags provenance (min(tag): asserted beats
inferred) — one Exchange end-to-end, EXPLAIN-checked (zero
SortMergeJoin, zero cartesian). The plan TEXT replicates the broadcast
probes across rule branches (Spark shares exchanges, not arbitrary
subplans; ``allp`` feeds four legs) — a deliberate trade: every
replica is a cheap map-side hash probe over the ONE materialized base
(eager localCheckpoint below), so total cost is ~6 scan passes of the
checkpointed quad frame + 1 shuffle, never 6 parses or 6 shuffles.
Checkpointing the intermediates too would cut the passes but pay two
extra corpus-sized disk materializations — the wrong side of the
trade for a single-action materialization job.

Graph attribution: an inferred quad lands in the graph of its premise
quad (the common materialized-inference convention); a fact derivable
in several graphs materializes once per graph.

Reference scope note: the reference (jsonld-streaming-parser.js) stops
at quad emission — entailment is downstream-KG functionality this
engine adds for the kg-construction tier; cited spec is W3C RDF 1.1
Semantics section 9.2 (RDFS entailment patterns rdfs2/3/7/9).
"""

from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

RDF_TYPE = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"
RDFS_SUBCLASS = "<http://www.w3.org/2000/01/rdf-schema#subClassOf>"
RDFS_SUBPROP = "<http://www.w3.org/2000/01/rdf-schema#subPropertyOf>"
RDFS_DOMAIN = "<http://www.w3.org/2000/01/rdf-schema#domain>"
RDFS_RANGE = "<http://www.w3.org/2000/01/rdf-schema#range>"
RDFS_LABEL = "<http://www.w3.org/2000/01/rdf-schema#label>"

_SCHEMA = "http://schema.org/"

# Fixture ontology over the predicates/classes the synthetic pages
# corpus actually emits (sources/pages.py). SINGLE SOURCE OF TRUTH:
# the DuckDB oracle renders its VALUES clause from this same constant
# (ontology_values_sql), so Spark and oracle can never drift.
#   - two-level subClassOf chain on the asserted type (Article)
#   - a class chain reached ONLY via the range rule (Person -> Agent)
#   - two-level subPropertyOf chain on a data predicate (author)
#   - domain + range on author (range objects are IRIs)
#   - range on inLanguage: its objects are all LITERALS, so the
#     literal guard of rdfs3 must suppress every inference from it
DEFAULT_ONTOLOGY: tuple[tuple[str, str, str], ...] = (
    (f"<{_SCHEMA}Article>", RDFS_SUBCLASS, f"<{_SCHEMA}CreativeWork>"),
    (f"<{_SCHEMA}CreativeWork>", RDFS_SUBCLASS, f"<{_SCHEMA}Thing>"),
    (f"<{_SCHEMA}Person>", RDFS_SUBCLASS, f"<{_SCHEMA}Agent>"),
    (f"<{_SCHEMA}Agent>", RDFS_SUBCLASS, f"<{_SCHEMA}Thing>"),
    (f"<{_SCHEMA}author>", RDFS_SUBPROP, f"<{_SCHEMA}contributor>"),
    (f"<{_SCHEMA}contributor>", RDFS_SUBPROP,
     "<http://purl.org/dc/terms/contributor>"),
    (f"<{_SCHEMA}name>", RDFS_SUBPROP, RDFS_LABEL),
    (f"<{_SCHEMA}author>", RDFS_DOMAIN, f"<{_SCHEMA}CreativeWork>"),
    (f"<{_SCHEMA}author>", RDFS_RANGE, f"<{_SCHEMA}Person>"),
    (f"<{_SCHEMA}inLanguage>", RDFS_RANGE, f"<{_SCHEMA}Language>"),
)


def transitive_closure(pairs: Iterable[tuple[str, str]]
                       ) -> set[tuple[str, str]]:
    """Non-reflexive transitive closure of a small relation.

    Semi-naive iteration on a Python set — the ontology fits on the
    driver by contract (see ``rdfs_entailment``'s guard). Cycle-safe
    (set union is the fixpoint) and deterministic."""
    closure = set(pairs)
    frontier = set(closure)
    # index sup -> subs once per round over the frontier only
    while frontier:
        step = {(a, d)
                for (a, b) in closure for (c, d) in frontier if b == c}
        frontier = step - closure
        closure |= frontier
    return closure


def split_ontology(ontology: Sequence[tuple[str, str, str]]) -> dict:
    """Partition ontology triples by RDFS vocabulary and close the two
    hierarchies. Returns dict with keys sc/sp (closed pair sets) and
    dom/rng (direct pair sets)."""
    sc = transitive_closure(
        (s, o) for s, p, o in ontology if p == RDFS_SUBCLASS)
    sp = transitive_closure(
        (s, o) for s, p, o in ontology if p == RDFS_SUBPROP)
    dom = {(s, o) for s, p, o in ontology if p == RDFS_DOMAIN}
    rng = {(s, o) for s, p, o in ontology if p == RDFS_RANGE}
    known = {RDFS_SUBCLASS, RDFS_SUBPROP, RDFS_DOMAIN, RDFS_RANGE}
    extra = sorted({p for _, p, _ in ontology} - known)
    if extra:
        raise ValueError(
            f"ontology contains non-RDFS predicates {extra}; "
            "rdfs_entailment handles subClassOf/subPropertyOf/domain/"
            "range only — strip instance triples before passing")
    # acyclicity guard: constraining rdf:type itself (as a subProperty
    # SOURCE or as the predicate of a domain/range) would feed inferred
    # type triples BACK into the property rules, which the single-pass
    # composition cannot honor — reject loudly instead of silently
    # under-entailing (``p subPropertyOf rdf:type`` is fine: sp-lifted
    # rows land in the subClassOf leg like any asserted type row)
    if any(sub == RDF_TYPE for sub, _ in sp) \
            or any(p == RDF_TYPE for p, _ in dom | rng):
        raise ValueError(
            "ontology constrains rdf:type itself (rdf:type as a "
            "subPropertyOf source, or domain/range declared on "
            "rdf:type); the single-pass rule composition would be "
            "incomplete for it — rewrite the ontology without "
            "rdf:type meta-constraints")
    # same feedback hole from the other side: a property whose
    # subPropertyOf TARGET is an RDFS schema predicate would make
    # rdfs7 emit schema triples (e.g. '<C1> rdfs:subClassOf <C2>')
    # that the driver-CLOSED hierarchies can never absorb — reject
    # loudly instead of silently under-entailing
    schema_preds = known
    if any(sup in schema_preds for _, sup in sp):
        raise ValueError(
            "ontology maps a property onto an RDFS schema predicate "
            "via subPropertyOf (target is subClassOf/subPropertyOf/"
            "domain/range); the inferred schema triples would need to "
            "re-close the driver-side hierarchies, which the "
            "single-pass composition cannot honor — materialize those "
            "schema facts into the ontology argument instead")
    return {"sc": sc, "sp": sp, "dom": dom, "rng": rng}


def rdfs_entailment(quads: DataFrame,
                    ontology: Sequence[tuple[str, str, str]] | DataFrame,
                    max_ontology_rows: int = 100_000,
                    materialize_input: bool = True) -> DataFrame:
    """Materialize the RDFS closure of ``quads`` under ``ontology``.

    ``quads``: (.., subj, pred, obj, graph) in N-Triples lexical form
    (the engine's standard quad frame). ``ontology``: schema triples as
    a driver-side sequence of (s, p, o) term strings, or a DataFrame
    with subj/pred/obj columns (bounded-collected with a loud guard).

    Returns (subj, pred, obj, graph, src) where src is 'asserted' for
    facts present in the input and 'inferred' for facts only the rules
    produce. The output is distinct on (subj, pred, obj, graph):
    projecting away url/blk is deliberate — an inferred fact can have
    many premise locations, and the entailed KG is a set of facts, not
    a set of occurrences.

    r8 execution shape (guide §2.4/§3): for any realistically-sized
    ontology the four rules COMPILE AWAY into per-predicate emission
    tables (the hierarchies are already closed driver-side, so the full
    rule fixpoint per input row is a pure function of (pred, obj)) —
    one scan of the quad frame, one explode over inline literal maps,
    one shuffle (the dedupe/provenance groupBy). Zero joins, zero
    broadcasts, zero materializations: the old plan's ~8 broadcast
    builds and ~22 replicated probe legs (each a separate pass over the
    checkpointed base) are gone, and ``materialize_input`` becomes moot
    on this path because the base is referenced exactly once. Above
    ``_INLINE_ONTOLOGY_MAX`` compiled entries the operator falls back
    to the former broadcast-join plan (inline literals would bloat the
    plan); both paths are value-identical (twin-tested).

    ``materialize_input`` (join path only): the rule legs reference the
    quad frame from ~6 plan branches; on a COMPUTED input (the parse
    pipeline) that would re-run the upstream job per branch (the
    shared-base lesson of connected_components / pagerank), so the
    base projection is EAGERLY localCheckpoint'd once. Pass False when
    ``quads`` is a cheap columnar store scan — there, re-scanning with
    per-leg predicate pushdown beats materializing the full frame.
    """
    if isinstance(ontology, DataFrame):
        # loud bound: a silent .collect() of an unexpectedly-large
        # "ontology" is a driver OOM; fail with the contract instead
        rows = ontology.select("subj", "pred", "obj") \
            .limit(max_ontology_rows + 1).collect()
        if len(rows) > max_ontology_rows:
            raise ValueError(
                f"ontology exceeds max_ontology_rows={max_ontology_rows}; "
                "rdfs_entailment assumes schema << data (close a huge "
                "hierarchy with the two-phase CC operator instead)")
        ontology = [(r[0], r[1], r[2]) for r in rows]

    parts = split_ontology(ontology)
    tables = _compile_emission_tables(parts)
    n_entries = sum(len(v) for t in tables for v in t.values())
    if n_entries <= _INLINE_ONTOLOGY_MAX:
        return _entail_inline(quads, tables)
    return _entail_joins(quads, parts, materialize_input)


# Inline-compilation bound: total emitted (key -> target) entries above
# which the literal-map plan would bloat (plan text grows linearly with
# entries); past it the broadcast-join path is the right trade.
_INLINE_ONTOLOGY_MAX = 4096


def _compile_emission_tables(parts: dict) -> tuple[dict, dict, dict, dict]:
    """Compile the closed ontology into the four emission tables the
    single-pass plan consumes. All rule COMPOSITION happens here, on the
    driver, over the bounded schema:

    - lift[p]  = sp+(p) \\ {p}: predicates every p-assertion lifts to
      (rdfs7 over the closed property hierarchy)
    - sdom[p]  = sc-closure of { dom(q) : q in {p} u sp+(p) }: classes
      the SUBJECT gets typed with (rdfs2 over asserted + lifted
      assertions, composed with rdfs9)
    - srng[p]  = same for ranges -> classes the non-literal OBJECT gets
      (rdfs3 composed with rdfs9)
    - tlift[C] = sc+(C) \\ {C}: superclasses of an asserted (or
      sp-lifted-to-rdf:type) type object (rdfs9)
    """
    sp_lift: dict[str, set] = {}
    for sub, sup in parts["sp"]:
        sp_lift.setdefault(sub, set()).add(sup)
    sc_lift: dict[str, set] = {}
    for sub, sup in parts["sc"]:
        sc_lift.setdefault(sub, set()).add(sup)
    dom_of: dict[str, set] = {}
    for p, c in parts["dom"]:
        dom_of.setdefault(p, set()).add(c)
    rng_of: dict[str, set] = {}
    for p, c in parts["rng"]:
        rng_of.setdefault(p, set()).add(c)

    def sc_closed(classes: set) -> set:
        out = set(classes)
        for c in classes:
            out |= sc_lift.get(c, set())
        return out

    lift = {p: sorted(s - {p}) for p, s in sp_lift.items() if s - {p}}
    sdom: dict[str, list] = {}
    srng: dict[str, list] = {}
    preds = set(sp_lift) | set(dom_of) | set(rng_of)
    for p in preds:
        family = {p} | sp_lift.get(p, set())
        d = sc_closed(set().union(*(dom_of.get(q, set()) for q in family)))
        r = sc_closed(set().union(*(rng_of.get(q, set()) for q in family)))
        if d:
            sdom[p] = sorted(d)
        if r:
            srng[p] = sorted(r)
    tlift = {c: sorted(s - {c}) for c, s in sc_lift.items() if s - {c}}
    return lift, sdom, srng, tlift


def _sql_str(s: str) -> str:
    """Spark SQL single-quoted string literal (default escape rules)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _map_literal(table: dict[str, list]) -> str:
    """``map('<k>', array('<v>', ...), ...)`` literal expression."""
    items = []
    for k in sorted(table):
        vals = ", ".join(_sql_str(v) for v in table[k])
        items.append(f"{_sql_str(k)}, array({vals})")
    return "map(" + ", ".join(items) + ")"


def _entail_inline(quads: DataFrame,
                   tables: tuple[dict, dict, dict, dict]) -> DataFrame:
    """Single-pass closure: explode per-row emissions generated from the
    compiled literal maps. One scan, one shuffle, no joins."""
    lift, sdom, srng, tlift = tables
    t = _sql_str(RDF_TYPE)
    empty = "CAST(array() AS array<struct<s string, p string, o string>>)"
    legs = ["array(named_struct('s', subj, 'p', pred, 'o', obj))"]

    def from_map(table: dict, body: str, guard: str | None = None) -> None:
        if not table:
            return
        leg = (f"transform(coalesce(element_at({_map_literal(table)}, "
               f"pred), array()), x -> {body})")
        if guard:
            leg = f"IF({guard}, {leg}, {empty})"
        legs.append(leg)

    # rdfs7: lifted predicate assertions
    from_map(lift, "named_struct('s', subj, 'p', x, 'o', obj)")
    # rdfs9 composed onto assertions LIFTED TO rdf:type (the
    # 'p subPropertyOf rdf:type' corner split_ontology allows)
    if any(RDF_TYPE in vals for vals in lift.values()) and tlift:
        type_lifting_preds = sorted(
            p for p, vals in lift.items() if RDF_TYPE in vals)
        pred_in = " OR ".join(
            f"pred = {_sql_str(p)}" for p in type_lifting_preds)
        legs.append(
            f"IF({pred_in}, transform(coalesce(element_at("
            f"{_map_literal(tlift)}, obj), array()), "
            f"x -> named_struct('s', subj, 'p', {t}, 'o', x)), {empty})")
    # rdfs2 (+ rdfs9 composition, pre-closed driver-side)
    from_map(sdom, f"named_struct('s', subj, 'p', {t}, 'o', x)")
    # rdfs3 (+ rdfs9) — literal guard: a literal never gets typed
    from_map(srng, f"named_struct('s', obj, 'p', {t}, 'o', x)",
             guard="NOT startswith(obj, '\"')")
    # rdfs9 on asserted type rows
    if tlift:
        legs.append(
            f"IF(pred = {t}, transform(coalesce(element_at("
            f"{_map_literal(tlift)}, obj), array()), "
            f"x -> named_struct('s', subj, 'p', {t}, 'o', x)), {empty})")

    emissions = "concat(" + ", ".join(legs) + ")"
    base = quads.select("subj", "pred", "obj", "graph")
    exploded = base.select(
        F.posexplode(F.expr(emissions)).alias("i", "e"), "graph")
    tagged = exploded.select(
        F.col("e.s").alias("subj"), F.col("e.p").alias("pred"),
        F.col("e.o").alias("obj"), "graph",
        # position 0 is the asserted row itself; everything after is
        # rule-derived (min-tag provenance, identical to the join path)
        F.when(F.col("i") == 0, F.lit(0)).otherwise(F.lit(1)).alias("tag"))
    return (tagged.groupBy("subj", "pred", "obj", "graph")
            .agg(F.min("tag").alias("tag"))
            .select("subj", "pred", "obj", "graph",
                    F.when(F.col("tag") == 0, F.lit("asserted"))
                     .otherwise(F.lit("inferred")).alias("src")))


def _entail_joins(quads: DataFrame, parts: dict,
                  materialize_input: bool) -> DataFrame:
    """The former broadcast-join plan — kept as the large-ontology path
    (inline literals would bloat the plan past _INLINE_ONTOLOGY_MAX)."""
    spark = quads.sparkSession

    def _pairs_df(pairs: set[tuple[str, str]], a: str, b: str) -> DataFrame:
        # sorted for a deterministic plan; explicit schema so empty
        # rule sets still build (createDataFrame([]) needs one)
        return spark.createDataFrame(
            sorted(pairs), schema=f"{a} string, {b} string")

    sc_df = _pairs_df(parts["sc"], "c_sub", "c_sup")
    sp_df = _pairs_df(parts["sp"], "p_sub", "p_sup")
    dom_df = _pairs_df(parts["dom"], "dom_p", "dom_c")
    rng_df = _pairs_df(parts["rng"], "rng_p", "rng_c")

    base = quads.select("subj", "pred", "obj", "graph")
    if materialize_input:
        # EAGER on purpose: a lazy checkpoint only pays off from the
        # second action on, but the rule legs fan the base out ~6x
        # inside the FIRST action (measured 12.3s lazy vs 3.4s eager
        # at sf0.01) — same call shape as pagerank's edge checkpoint
        base = base.localCheckpoint()

    # rdfs7: lift every assertion through the CLOSED property hierarchy
    spq = (base.join(F.broadcast(sp_df), base["pred"] == sp_df["p_sub"])
           .select("subj", F.col("p_sup").alias("pred"), "obj", "graph"))
    # domain/range consume sp-lifted assertions too (the fixpoint
    # rdfs7 -> rdfs2/3 composes to)
    allp = base.unionByName(spq)

    # rdfs2
    domq = (allp.join(F.broadcast(dom_df), allp["pred"] == dom_df["dom_p"])
            .select("subj", F.lit(RDF_TYPE).alias("pred"),
                    F.col("dom_c").alias("obj"), "graph"))
    # rdfs3 — literal guard: a literal never gets a type assertion
    rngq = (allp.where(~F.col("obj").startswith('"'))
            .join(F.broadcast(rng_df), allp["pred"] == rng_df["rng_p"])
            .select(F.col("obj").alias("subj"),
                    F.lit(RDF_TYPE).alias("pred"),
                    F.col("rng_c").alias("obj"), "graph"))

    # rdfs9 over ALL type assertions: asserted ones plus the ones
    # rdfs2/rdfs3 just produced (rng -> sc composition, e.g. the
    # author IRIs become Person, then Agent, then Thing)
    typq = (allp.where(F.col("pred") == RDF_TYPE)
            .select("subj", "obj", "graph")
            .unionByName(domq.select("subj", "obj", "graph"))
            .unionByName(rngq.select("subj", "obj", "graph")))
    scq = (typq.join(F.broadcast(sc_df), typq["obj"] == sc_df["c_sub"])
           .select("subj", F.lit(RDF_TYPE).alias("pred"),
                   F.col("c_sup").alias("obj"), "graph"))

    inferred = (spq.unionByName(domq).unionByName(rngq).unionByName(scq))

    # ONE shuffle: dedupe + provenance in a single groupBy — asserted
    # (tag 0) wins over inferred (tag 1) when both derive the fact
    tagged = (base.withColumn("tag", F.lit(0))
              .unionByName(inferred.withColumn("tag", F.lit(1))))
    return (tagged.groupBy("subj", "pred", "obj", "graph")
            .agg(F.min("tag").alias("tag"))
            .select("subj", "pred", "obj", "graph",
                    F.when(F.col("tag") == 0, F.lit("asserted"))
                     .otherwise(F.lit("inferred")).alias("src")))


def ontology_values_sql(
        ontology: Sequence[tuple[str, str, str]] = DEFAULT_ONTOLOGY) -> str:
    """Render the ontology as a DuckDB VALUES clause — the oracle
    builds its recursive-CTE closure from the SAME constant the Spark
    operator consumes (shared-constants rule, no literal drift)."""
    rows = ",\n    ".join(
        f"('{s}', '{p}', '{o}')" for s, p, o in ontology)
    return f"(VALUES\n    {rows}) AS ont(s, p, o)"
