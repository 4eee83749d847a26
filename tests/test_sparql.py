"""SPARQL text front-end (operators/sparql.py): the parser must either
produce exactly the pattern-operator semantics or raise — never
silently misparse. Equivalence is asserted against hand-built
bgp_match/bgp_construct calls on the same frames, plus the real
fixture KG."""

import pytest
from pyspark.sql import functions as F

from jsonld_streaming_parser_js_spark.operators import bgp
from jsonld_streaming_parser_js_spark.operators.sparql import (
    SparqlSyntaxError,
    parse_sparql,
    sparql_query,
)

S = "http://schema.org/"
RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
QUAD_SCHEMA = "subj string, pred string, obj string, graph string"

KG = [
    ("<a1>", f"<{RDF}type>", f"<{S}Article>", ""),
    ("<a1>", f"<{S}author>", "<p1>", ""),
    ("<a2>", f"<{RDF}type>", f"<{S}Article>", ""),
    ("<a2>", f"<{S}author>", "<p2>", ""),
    ("<p1>", f"<{S}name>", '"P1"', ""),
    ("<p2>", f"<{S}name>", '"P2"', ""),
    ("<p1>", f"<{S}email>", '"p1@x"', ""),
    # list chain for the path test
    ("<l0>", f"<{RDF}rest>", "<l1>", ""),
    ("<l1>", f"<{RDF}rest>", "<nil>", ""),
]


def _kg(spark):
    return spark.createDataFrame(KG, schema=QUAD_SCHEMA)


def _fixture_quads(spark):
    """The quads of the synthetic pages corpus (sources/pages.py)."""
    from jsonld_streaming_parser_js_spark.operators.parse import (
        pages_to_quads)
    from jsonld_streaming_parser_js_spark.sources.pages import (
        CONTEXTS, pages_from_documents)
    from tests.test_spark_pipeline import SF
    return pages_to_quads(pages_from_documents(spark, SF), CONTEXTS)


PREFIXES = f"PREFIX schema: <{S}>\nPREFIX rdf: <{RDF}>\n"


def test_parse_select_shape():
    q = parse_sparql(PREFIXES + """
      SELECT DISTINCT ?a ?n WHERE {
        ?a a schema:Article .
        ?a schema:author ?p .
        ?p schema:name ?n .
        FILTER (?n != "P1")
      } LIMIT 5
    """)
    assert q["form"] == "select" and q["distinct"] is True
    assert q["project"] == ["a", "n"] and q["limit"] == 5
    patterns, optional, filters, minus = q["branches"][0]
    assert patterns[0] == ("?a", f"<{RDF}type>", f"<{S}Article>")
    assert filters == ["( `n` != '\"P1\"' )"]
    assert optional == [] and minus == []


def test_select_executes_like_bgp_match(spark):
    df = _kg(spark)
    got = sparql_query(df, PREFIXES + """
      SELECT ?a ?n WHERE {
        ?a a schema:Article .
        ?a schema:author ?p .
        ?p schema:name ?n .
      }""")
    want = bgp.bgp_match(df, [
        ("?a", f"<{RDF}type>", f"<{S}Article>"),
        ("?a", f"<{S}author>", "?p"),
        ("?p", f"<{S}name>", "?n")]).select("a", "n")
    assert (sorted(map(tuple, got.collect()))
            == sorted(map(tuple, want.collect())))
    assert got.columns == ["a", "n"]


def test_filter_and_limit(spark):
    got = sparql_query(_kg(spark), PREFIXES + """
      SELECT ?a ?n WHERE {
        ?a schema:author ?p . ?p schema:name ?n .
        FILTER (?n != "P1")
      }""")
    assert [(r.a, r.n) for r in got.collect()] == [("<a2>", '"P2"')]
    got = sparql_query(_kg(spark), PREFIXES
                       + "SELECT ?a WHERE { ?a a schema:Article } LIMIT 1")
    assert got.count() == 1


def test_optional_group_is_all_or_nothing(spark):
    """OPTIONAL { A . B } is ONE LeftJoin of the joint group: p1 has an
    email but nobody has a phone, so BOTH vars must come back null —
    the triple-by-triple reading would wrongly bind ?e for p1."""
    df = _kg(spark)
    joint = sparql_query(df, PREFIXES + """
      SELECT ?p ?e ?t WHERE {
        ?a schema:author ?p .
        OPTIONAL { ?p schema:email ?e . ?p schema:phone ?t }
      }""")
    assert {(r.p, r.e, r.t) for r in joint.collect()} == {
        ("<p1>", None, None), ("<p2>", None, None)}
    # two separate OPTIONAL blocks: independent left joins
    separate = sparql_query(df, PREFIXES + """
      SELECT ?p ?e ?t WHERE {
        ?a schema:author ?p .
        OPTIONAL { ?p schema:email ?e }
        OPTIONAL { ?p schema:phone ?t }
      }""")
    assert {(r.p, r.e, r.t) for r in separate.collect()} == {
        ("<p1>", '"p1@x"', None), ("<p2>", None, None)}
    # BOUND filter over the optional var
    bound = sparql_query(df, PREFIXES + """
      SELECT ?p WHERE {
        ?a schema:author ?p .
        OPTIONAL { ?p schema:email ?e }
        FILTER (BOUND(?e))
      }""")
    assert [r.p for r in bound.collect()] == ["<p1>"]


def test_property_path_in_text(spark):
    got = sparql_query(_kg(spark), PREFIXES
                       + "SELECT ?m WHERE { <l0> rdf:rest+ ?m }")
    assert {r.m for r in got.collect()} == {"<l1>", "<nil>"}


def test_construct_in_text(spark):
    got = sparql_query(_kg(spark), PREFIXES + """
      CONSTRUCT { ?p schema:wrote ?a } WHERE {
        ?a a schema:Article . ?a schema:author ?p .
      }""")
    assert {(r.subj, r.pred, r.obj, r.graph) for r in got.collect()} == {
        ("<p1>", f"<{S}wrote>", "<a1>", ""),
        ("<p2>", f"<{S}wrote>", "<a2>", "")}


def test_select_star_and_typed_literals(spark):
    df = _kg(spark)
    got = sparql_query(df, PREFIXES
                       + 'SELECT * WHERE { ?p schema:name "P1" }')
    assert got.columns == ["p"] and [r.p for r in got.collect()] == ["<p1>"]
    # lang tag / datatype suffixes produce the engine's term encoding
    q = parse_sparql(PREFIXES + 'SELECT ?x WHERE { ?x schema:name '
                     '"Doc"@en } ')
    assert q["branches"][0][0][0][2] == '"Doc"@en'
    q = parse_sparql(PREFIXES + 'SELECT ?x WHERE { ?x schema:n '
                     '"5"^^<http://www.w3.org/2001/XMLSchema#integer> }')
    assert q["branches"][0][0][0][2] == (
        '"5"^^<http://www.w3.org/2001/XMLSchema#integer>')


def test_union_branches_null_pad_and_bag_union(spark):
    """Top-level { A } UNION { B }: solutions union over the variable
    union with branch-unbound vars null (SPARQL bag semantics)."""
    df = _kg(spark)
    got = sparql_query(df, PREFIXES + """
      SELECT ?p ?n ?e WHERE {
        { ?p schema:name ?n }
        UNION
        { ?p schema:email ?e }
      }""")
    assert {(r.p, r.n, r.e) for r in got.collect()} == {
        ("<p1>", '"P1"', None), ("<p2>", '"P2"', None),
        ("<p1>", None, '"p1@x"')}
    # three branches + DISTINCT projection
    got = sparql_query(df, PREFIXES + """
      SELECT DISTINCT ?p WHERE {
        { ?p schema:name ?n } UNION { ?p schema:email ?e }
        UNION { ?a schema:author ?p }
      }""")
    assert {r.p for r in got.collect()} == {"<p1>", "<p2>"}


def test_order_by_asc_desc_and_validation(spark):
    df = _kg(spark)
    got = sparql_query(df, PREFIXES + """
      SELECT ?p ?n WHERE { ?p schema:name ?n } ORDER BY DESC(?n)""")
    assert [r.n for r in got.collect()] == ['"P2"', '"P1"']
    got = sparql_query(df, PREFIXES + """
      SELECT ?n WHERE { ?p schema:name ?n } ORDER BY ?n LIMIT 1""")
    assert [r.n for r in got.collect()] == ['"P1"']
    # spec order is OrderBy THEN Project: sorting by a non-projected
    # bound variable is valid SPARQL for a plain SELECT
    got = sparql_query(df, PREFIXES + """
      SELECT ?n WHERE { ?p schema:name ?n } ORDER BY DESC(?p)""")
    assert [r.n for r in got.collect()] == ['"P2"', '"P1"']
    with pytest.raises(SparqlSyntaxError, match="ORDER BY references"):
        sparql_query(df, PREFIXES + "SELECT ?n WHERE "
                     "{ ?p schema:name ?n } ORDER BY ?zzz")
    # SELECT DISTINCT restricts ORDER BY to the projection (spec's own
    # DISTINCT constraint)
    with pytest.raises(SparqlSyntaxError, match="ORDER BY references"):
        sparql_query(df, PREFIXES + "SELECT DISTINCT ?n WHERE "
                     "{ ?p schema:name ?n } ORDER BY ?p")


def test_graph_patterns_var_and_iri(spark):
    """GRAPH ?g binds the named-graph label per solution (default
    graph excluded); GRAPH <iri> selects one named graph; the graph
    var must join across patterns (same-graph constraint)."""
    rows = KG + [
        ("<e1>", f"<{S}name>", '"E1"', "<g1>"),
        ("<e1>", f"<{S}note>", '"N1"', "<g1>"),
        ("<e2>", f"<{S}name>", '"E2"', "<g2>"),
        # same subject, but note lives in ANOTHER graph -> the joint
        # two-pattern GRAPH block must NOT match e2
        ("<e2>", f"<{S}note>", '"N2"', "<g3>"),
    ]
    df = spark.createDataFrame(rows, schema=QUAD_SCHEMA)
    got = sparql_query(df, PREFIXES + """
      SELECT ?g ?x WHERE { GRAPH ?g { ?x schema:name ?n } }""")
    assert {(r.g, r.x) for r in got.collect()} == {
        ("<g1>", "<e1>"), ("<g2>", "<e2>")}
    # same-graph constraint across two patterns
    got = sparql_query(df, PREFIXES + """
      SELECT ?x WHERE { GRAPH ?g {
        ?x schema:name ?n . ?x schema:note ?t } }""")
    assert [r.x for r in got.collect()] == ["<e1>"]
    # constant graph
    got = sparql_query(df, PREFIXES + """
      SELECT ?x WHERE { GRAPH <g2> { ?x schema:name ?n } }""")
    assert [r.x for r in got.collect()] == ["<e2>"]
    # paths inside GRAPH ?var raise AT PARSE TIME
    with pytest.raises(SparqlSyntaxError, match="per graph"):
        parse_sparql(PREFIXES + """
          SELECT ?x WHERE { GRAPH ?g { ?x rdf:rest+ ?y } }""")
    # sharing only the graph label is still a per-graph cross product
    # — the connectivity guard must not be silenced by ?g
    with pytest.raises(ValueError, match="cartesian"):
        sparql_query(df, PREFIXES + """
          SELECT * WHERE { GRAPH ?g {
            ?x schema:name ?n . ?a schema:note ?b } }""")
    # GRAPH mixed with default-graph triples names the restriction
    with pytest.raises(SparqlSyntaxError, match="ENTIRE WHERE body"):
        parse_sparql(PREFIXES + """
          SELECT * WHERE { ?x schema:name ?n .
            GRAPH ?g { ?a schema:note ?b } }""")
    # malformed graph_var at the operator API raises loudly
    with pytest.raises(ValueError, match="graph_var must be"):
        bgp.bgp_match(df, [("?x", f"<{S}name>", "?n")],
                      graph=None, graph_var="")


def test_graph_var_on_fixture_named_graphs(spark):
    """The real corpus's language-labeled entities live in per-page
    named graphs (<url#g>) — GRAPH ?g must surface exactly those."""
    kg = (_fixture_quads(spark)
          .select("subj", "pred", "obj", "graph").distinct()
          .localCheckpoint())
    got = sparql_query(kg, PREFIXES + """
      SELECT ?g ?ent ?n WHERE { GRAPH ?g {
        ?ent schema:name ?n } }""")
    rows = got.collect()
    assert rows and all(r.g.endswith('#g>') for r in rows)
    assert all(r.ent.endswith('#entity>') for r in rows)
    # two labels (@en/@de) per entity
    assert len(rows) == 2 * len({r.ent for r in rows})


def test_minus_negation(spark):
    """MINUS removes solutions compatible on the shared required-bound
    vars: authors WITHOUT an email; the validation guards fire on
    disjoint and nullable-key shapes."""
    df = _kg(spark)
    got = sparql_query(df, PREFIXES + """
      SELECT ?p WHERE {
        ?a schema:author ?p .
        MINUS { ?p schema:email ?e }
      }""")
    assert [r.p for r in got.collect()] == ["<p2>"]
    # multi-triple MINUS group: all-or-nothing match
    got = sparql_query(df, PREFIXES + """
      SELECT ?p WHERE {
        ?a schema:author ?p .
        MINUS { ?p schema:email ?e . ?p schema:phone ?t }
      }""")
    assert {r.p for r in got.collect()} == {"<p1>", "<p2>"}
    # disjoint-domain MINUS raises (SPARQL: a silent no-op)
    with pytest.raises(ValueError, match="shares no variable"):
        sparql_query(df, PREFIXES + """
          SELECT ?p WHERE {
            ?a schema:author ?p .
            MINUS { ?x schema:email ?e }
          }""")
    # nullable shared key (bound only by an OPTIONAL) raises
    with pytest.raises(ValueError, match="nullable key|OPTIONAL"):
        bgp.bgp_match(df, [("?a", f"<{S}author>", "?p")],
                      optional=[("?p", f"<{S}email>", "?e")],
                      minus=[("?x", f"<{S}mailbox>", "?e")])


def test_triple_less_groups_raise_at_parse():
    for body in ("{ } UNION { ?a schema:x ?b }",
                 "{ FILTER (?a != <x>) } UNION { ?a schema:x ?b }",
                 "{ OPTIONAL { ?a schema:x ?b } }"):
        with pytest.raises(SparqlSyntaxError,
                           match="no required triple|lone braced"):
            parse_sparql(PREFIXES + "SELECT * WHERE { " + body + " }")


def test_unsupported_constructs_raise():
    with pytest.raises(SparqlSyntaxError, match="nested group"):
        parse_sparql(PREFIXES + "SELECT ?a WHERE { ?a schema:x ?b . "
                     "{ ?c schema:y ?d } }")
    with pytest.raises(SparqlSyntaxError, match="lone braced"):
        parse_sparql(PREFIXES
                     + "SELECT ?a WHERE { { ?a schema:x ?b } }")
    with pytest.raises(SparqlSyntaxError, match="UNION under CONSTRUCT"):
        parse_sparql(PREFIXES + "CONSTRUCT { ?a schema:z ?b } WHERE "
                     "{ { ?a schema:x ?b } UNION { ?a schema:y ?b } }")
    with pytest.raises(SparqlSyntaxError, match="UNION"):
        parse_sparql(PREFIXES + "SELECT ?a WHERE { ?a schema:x ?b . "
                     "UNION { ?a schema:y ?b } }")
    with pytest.raises(SparqlSyntaxError, match="undeclared prefix"):
        parse_sparql("SELECT ?a WHERE { ?a nope:x ?b }")
    with pytest.raises(SparqlSyntaxError, match="trailing"):
        parse_sparql(PREFIXES + "SELECT ?a WHERE { ?a schema:x ?b } junk")
    with pytest.raises(SparqlSyntaxError, match="SELECT or CONSTRUCT"):
        parse_sparql("ASK { ?a ?b ?c }")
    with pytest.raises(SparqlSyntaxError, match="unsupported FILTER"):
        parse_sparql(PREFIXES + 'SELECT ?a WHERE { ?a schema:x ?b '
                     'FILTER (regex(?b, "x")) }')
    with pytest.raises(SparqlSyntaxError, match="unrecognized"):
        parse_sparql(PREFIXES + "SELECT ?a WHERE { ?a schema:x ?b "
                     "FILTER (?b = 'single-quoted') }")


def test_pname_trailing_dot_is_triple_terminator(spark):
    """'schema:Article.' = pname + terminator (PN_LOCAL cannot end
    with '.'), NOT the IRI <...Article.> — the misparse the review
    caught."""
    got = sparql_query(_kg(spark), PREFIXES
                       + "SELECT ?a WHERE { ?a a schema:Article. }")
    assert {r.a for r in got.collect()} == {"<a1>", "<a2>"}


def test_dot_after_optional_and_filter_blocks(spark):
    """GroupGraphPatternSub allows a '.' after any block — the
    dot-separated style must parse, and a FILTER may follow an
    OPTIONAL."""
    got = sparql_query(_kg(spark), PREFIXES + """
      SELECT ?p ?e WHERE {
        ?a schema:author ?p .
        OPTIONAL { ?p schema:email ?e } .
        FILTER (?p != <p0>) .
      }""")
    assert {(r.p, r.e) for r in got.collect()} == {
        ("<p1>", '"p1@x"'), ("<p2>", None)}


def test_required_triple_after_optional_raises():
    with pytest.raises(SparqlSyntaxError, match="after an OPTIONAL"):
        parse_sparql(PREFIXES + """SELECT ?a WHERE {
            ?a schema:author ?p .
            OPTIONAL { ?p schema:email ?e }
            ?p schema:hasEmail ?e
        }""")


def test_filter_escaping_and_reserved_word_vars(spark):
    # a literal containing an N-Triples-escaped quote and a backslash:
    # the FILTER comparison must target the SAME term string the
    # pattern position matches
    kg = spark.createDataFrame(
        [("<s>", f"<{S}name>", '"a\\"b\\\\c"', "")], schema=QUAD_SCHEMA)
    got = sparql_query(kg, PREFIXES + '''
      SELECT ?x WHERE { ?x schema:name ?n
        FILTER (?n = "a\\"b\\\\c") }''')
    assert [r.x for r in got.collect()] == ["<s>"]
    # a SPARQL var named like a SQL reserved word must still filter
    got = sparql_query(_kg(spark), PREFIXES + '''
      SELECT ?from WHERE { ?from a schema:Article
        FILTER (?from != <a1>) }''')
    assert [r["from"] for r in got.collect()] == ["<a2>"]


def test_a_keyword_is_predicate_only():
    with pytest.raises(SparqlSyntaxError, match="predicate position"):
        parse_sparql(PREFIXES + "SELECT ?x WHERE { ?x ?p a }")


def test_langtag_case_preserved():
    q = parse_sparql(PREFIXES
                     + 'SELECT ?x WHERE { ?x schema:name "Doc"@en-US }')
    assert q["branches"][0][0][0][2] == '"Doc"@en-US'


def test_optional_group_anchored_through_required_vars(spark):
    """Group triples connected only via REQUIRED vars are legal SPARQL
    and must evaluate (the internal product is keyed away by the left
    join); a triple anchored to nothing raises."""
    rows = KG + [("<a1>", f"<{S}editor>", "<p2>", ""),
                 ("<p2>", f"<{S}phone>", '"t2"', "")]
    df = spark.createDataFrame(rows, schema=QUAD_SCHEMA)
    got = sparql_query(df, PREFIXES + """
      SELECT ?a ?e ?t WHERE {
        ?a schema:author ?p .
        ?a schema:editor ?q .
        OPTIONAL { ?p schema:email ?e . ?q schema:phone ?t }
      }""")
    assert {(r.a, r.e, r.t) for r in got.collect()} == {
        ("<a1>", '"p1@x"', '"t2"')}
    with pytest.raises(ValueError, match="unanchored product"):
        bgp.bgp_match(df, [("?a", f"<{S}author>", "?p")],
                      optional=[[("?p", f"<{S}email>", "?e"),
                                 ("?z", f"<{S}phone>", "?t")]])


def test_projecting_unbound_variable_raises(spark):
    with pytest.raises(SparqlSyntaxError, match="unbound"):
        sparql_query(_kg(spark), PREFIXES
                     + "SELECT ?zzz WHERE { ?a schema:author ?p }")


def test_parse_roundtrip_property():
    """Property test: random pattern tuples serialized to SPARQL text
    parse back to exactly the same tuples (the parser neither drops
    nor mangles terms)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    iri = st.from_regex(r"<http://e\.org/[a-z]{1,8}>", fullmatch=True)
    var = st.from_regex(r"\?[a-z]{1,6}", fullmatch=True)
    lit = st.from_regex(r'"[a-zA-Z0-9 ]{0,10}"', fullmatch=True)
    subj = st.one_of(iri, var)
    pred = st.one_of(iri, var)
    obj = st.one_of(iri, var, lit)

    @settings(max_examples=60, deadline=None)
    @given(st.lists(st.tuples(subj, pred, obj), min_size=1, max_size=4))
    def check(patterns):
        text = "SELECT * WHERE { " + " . ".join(
            " ".join(t) for t in patterns) + " }"
        q = parse_sparql(text)
        assert q["branches"][0][0] == [tuple(p) for p in patterns]

    check()


def test_sparql_against_fixture_kg_matches_lane_shape(spark):
    """The lane's author conjunction expressed as SPARQL text must
    reproduce the kg_bgp_query shape='authors' rows on the real
    corpus."""
    from tests.test_lane_oracles import LANES
    kg = (_fixture_quads(spark)
          .select("subj", "pred", "obj", "graph").distinct()
          .localCheckpoint())
    got = sparql_query(kg, PREFIXES + """
      SELECT ?a ?p ?n WHERE {
        ?a a schema:Article .
        ?a schema:author ?p .
        ?p schema:name ?n .
      }""")
    lane = (LANES["kg_bgp_query"](spark, None)
            .where("shape = 'authors'").select("v1", "v2", "v3"))
    assert (sorted(map(tuple, got.collect()))
            == sorted(map(tuple, lane.collect())))
