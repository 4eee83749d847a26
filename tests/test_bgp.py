"""BGP matching (operators/bgp.py) unit tests on hand-built quad frames —
exact row assertions, independent of the synthetic corpus (the
corpus-level value check is the kg_bgp_query lane in
tests/test_lane_oracles.py)."""

import pytest

from jsonld_streaming_parser_js_spark.operators import bgp

S = "http://schema.org/"
RDF_TYPE = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"
QUAD_SCHEMA = "subj string, pred string, obj string, graph string"


def _quads_df(spark, rows):
    return spark.createDataFrame(rows, schema=QUAD_SCHEMA)


BGP_QUADS = [
    ("<a1>", RDF_TYPE, f"<{S}Article>", ""),
    ("<a1>", f"<{S}author>", "<p1>", ""),
    ("<a2>", RDF_TYPE, f"<{S}Article>", ""),
    ("<a2>", f"<{S}author>", "<p1>", ""),
    ("<p1>", f"<{S}name>", '"P1"', ""),
    # distractors: wrong type, named-graph fact, self-loop
    ("<o1>", RDF_TYPE, f"<{S}Organization>", ""),
    ("<a3>", RDF_TYPE, f"<{S}Article>", "<g>"),
    ("<p1>", f"<{S}knows>", "<p1>", ""),
    ("<p1>", f"<{S}knows>", "<a1>", ""),
]


def test_bgp_three_pattern_conjunction(spark):
    out = bgp.bgp_match(_quads_df(spark, BGP_QUADS), [
        ("?a", RDF_TYPE, f"<{S}Article>"),
        ("?a", f"<{S}author>", "?p"),
        ("?p", f"<{S}name>", "?n"),
    ])
    rows = {(r.a, r.p, r.n) for r in out.collect()}
    assert rows == {("<a1>", "<p1>", '"P1"'),
                    ("<a2>", "<p1>", '"P1"')}


def test_bgp_repeated_variable_is_self_equality(spark):
    out = bgp.bgp_match(_quads_df(spark, BGP_QUADS),
                        [("?x", f"<{S}knows>", "?x")])
    assert [r.x for r in out.collect()] == ["<p1>"]


def test_bgp_graph_selection(spark):
    pat = [("?a", RDF_TYPE, f"<{S}Article>")]
    default_g = {r.a for r in
                 bgp.bgp_match(_quads_df(spark, BGP_QUADS), pat).collect()}
    assert default_g == {"<a1>", "<a2>"}
    union_g = {r.a for r in
               bgp.bgp_match(_quads_df(spark, BGP_QUADS), pat,
                             graph=None).collect()}
    assert union_g == {"<a1>", "<a2>", "<a3>"}


def test_bgp_disconnected_pattern_raises_unless_opted_in(spark):
    df = _quads_df(spark, BGP_QUADS)
    pats = [("?a", RDF_TYPE, f"<{S}Article>"),
            ("?x", f"<{S}name>", "?n")]
    with pytest.raises(ValueError, match="cartesian"):
        bgp.bgp_match(df, pats)
    out = bgp.bgp_match(df, pats, allow_product=True)
    assert out.count() == 2 * 1  # 2 articles x 1 name fact


def test_bgp_bag_vs_set_semantics(spark):
    # duplicated input fact -> the SAME binding twice under bag
    # semantics; distinct=True (and only it) collapses the duplicate
    df = _quads_df(spark, BGP_QUADS + [("<a1>", f"<{S}author>", "<p1>", "")])
    pats = [("?a", f"<{S}author>", "?p")]
    bag = sorted((r.a, r.p) for r in bgp.bgp_match(df, pats).collect())
    assert bag == [("<a1>", "<p1>"), ("<a1>", "<p1>"), ("<a2>", "<p1>")]
    dis = sorted((r.a, r.p) for r in
                 bgp.bgp_match(df, pats, distinct=True).collect())
    assert dis == [("<a1>", "<p1>"), ("<a2>", "<p1>")]


def test_bgp_ground_pattern_is_existence_filter(spark):
    """All-constant patterns are valid SPARQL: they gate the other
    bindings on the triple's existence (no cartesian opt-in needed),
    in any position in the pattern list."""
    df = _quads_df(spark, BGP_QUADS)
    hit = [("?a", RDF_TYPE, f"<{S}Article>"),
           ("<p1>", f"<{S}name>", '"P1"')]  # exists -> pass-through
    assert bgp.bgp_match(df, hit).count() == 2
    miss = [("?a", RDF_TYPE, f"<{S}Article>"),
            ("<p1>", f"<{S}name>", '"NOPE"')]  # absent -> empty
    assert bgp.bgp_match(df, miss).count() == 0
    # ground-first prefix then variables: same gating, columns intact
    first = bgp.bgp_match(df, [("<p1>", f"<{S}name>", '"P1"'),
                               ("?a", RDF_TYPE, f"<{S}Article>")])
    assert first.columns == ["a"] and first.count() == 2


def test_path_closure_chain_cycle_and_rounds(spark):
    """Iterated squaring: a depth-7 chain closes in ~log2(7) rounds,
    not 7; cycles terminate with the finite closure."""
    P = f"<{S}next>"
    chain = [(f"<n{i}>", P, f"<n{i+1}>", "") for i in range(7)]
    stats = {}
    clo = bgp.path_closure(_quads_df(spark, chain), P, stats=stats)
    pairs = {(r.src, r.dst) for r in clo.collect()}
    assert pairs == {(f"<n{i}>", f"<n{j}>")
                     for i in range(7) for j in range(i + 1, 8)}
    assert stats["pairs"] == 28
    # distance doubles per round: 7 hops within 3 doublings (+1
    # convergence-confirm round)
    assert stats["rounds"] <= 4
    cyc = [("<a>", P, "<b>", ""), ("<b>", P, "<a>", "")]
    got = {(r.src, r.dst)
           for r in bgp.path_closure(_quads_df(spark, cyc), P).collect()}
    assert got == {("<a>", "<b>"), ("<b>", "<a>"),
                   ("<a>", "<a>"), ("<b>", "<b>")}
    with pytest.raises(RuntimeError, match="did not converge"):
        bgp.path_closure(_quads_df(spark, chain), P, max_rounds=2)


def test_bgp_path_pattern_composes_with_regular_patterns(spark):
    """``?nav crumbs ?l . ?l rest+ ?m`` — the path leg joins the
    regular leg on the shared variable like any other leg."""
    R = f"<{S}rest>"
    rows = [("<nav>", f"<{S}crumbs>", "<l0>", ""),
            ("<l0>", R, "<l1>", ""),
            ("<l1>", R, "<nil>", ""),
            # distractor chain not reachable from a crumbs head
            ("<x0>", R, "<x1>", "")]
    out = bgp.bgp_match(_quads_df(spark, rows), [
        ("?nav", f"<{S}crumbs>", "?l"),
        ("?l", R + "+", "?m"),
    ])
    got = {(r.nav, r.l, r.m) for r in out.collect()}
    assert got == {("<nav>", "<l0>", "<l1>"), ("<nav>", "<l0>", "<nil>")}


def test_path_reachable_seeded_forward_reverse_and_depth_guard(spark):
    P = f"<{S}next>"
    rows = ([(f"<n{i}>", P, f"<n{i+1}>", "") for i in range(5)]
            # disjoint chain that a seeded walk must never touch
            + [("<x0>", P, "<x1>", ""), ("<x1>", P, "<x2>", "")])
    df = _quads_df(spark, rows)
    fwd = {r.dst for r in bgp.path_reachable(df, P, "<n2>").collect()}
    assert fwd == {"<n3>", "<n4>", "<n5>"}
    rev = {r.dst for r in
           bgp.path_reachable(df, P, "<n2>", reverse=True).collect()}
    assert rev == {"<n0>", "<n1>"}
    # absent seed -> empty, no error
    assert bgp.path_reachable(df, P, "<nope>").count() == 0
    with pytest.raises(RuntimeError, match="max_rounds"):
        bgp.path_reachable(df, P, "<n0>", max_rounds=2)


def test_bgp_seeded_path_patterns_dispatch(spark):
    """Constant-endpoint path patterns use the frontier walk, and both
    directions bind correctly inside a BGP."""
    R = f"<{S}rest>"
    rows = [("<nav>", f"<{S}crumbs>", "<l0>", ""),
            ("<l0>", R, "<l1>", ""),
            ("<l1>", R, "<nil>", ""),
            ("<x0>", R, "<x1>", "")]
    df = _quads_df(spark, rows)
    # constant source
    out = bgp.bgp_match(df, [("<l0>", R + "+", "?m")])
    assert {r.m for r in out.collect()} == {"<l1>", "<nil>"}
    # constant destination (reverse walk) composed with a regular leg
    out = bgp.bgp_match(df, [("?l", R + "+", "<nil>"),
                             ("?nav", f"<{S}crumbs>", "?l")])
    assert {(r.l, r.nav) for r in out.collect()} == {("<l0>", "<nav>")}
    # both endpoints constant: existence gate over the path
    hit = bgp.bgp_match(df, [("?nav", f"<{S}crumbs>", "?l"),
                             ("<l0>", R + "+", "<nil>")])
    assert hit.count() == 1
    miss = bgp.bgp_match(df, [("?nav", f"<{S}crumbs>", "?l"),
                              ("<l0>", R + "+", "<x1>")])
    assert miss.count() == 0


def test_bgp_validates_before_evaluating_path_legs(spark):
    """A malformed/disconnected pattern AFTER a path leg must raise
    without running the closure's Spark jobs (validate-then-evaluate)."""
    R = f"<{S}rest>"
    df = _quads_df(spark, [("<l0>", R, "<l1>", "")])
    calls = []
    orig = bgp.path_closure
    try:
        bgp.path_closure = lambda *a, **k: calls.append(1) or orig(*a, **k)
        with pytest.raises(ValueError, match="cartesian"):
            bgp.bgp_match(df, [("?a", R + "+", "?b"),
                               ("?x", f"<{S}name>", "?y")])
        with pytest.raises(ValueError, match="not a triple"):
            bgp.bgp_match(df, [("?a", R + "+", "?b"), ("?x", "?y")])
    finally:
        bgp.path_closure = orig
    assert calls == []  # no closure evaluated for invalid BGPs


def test_bgp_optional_left_join_semantics(spark):
    """OPTIONAL keeps bindings on non-match with null new vars; a
    matched optional binds them; chained optionals extend left-to-right."""
    rows = BGP_QUADS + [("<p1>", f"<{S}email>", '"p1@x"', "")]
    df = _quads_df(spark, rows)
    out = bgp.bgp_match(
        df,
        [("?a", f"<{S}author>", "?p")],
        optional=[("?p", f"<{S}email>", "?e"),
                  ("?p", f"<{S}phone>", "?t")])  # phone never matches
    got = {(r.a, r.p, r.e, r.t) for r in out.collect()}
    assert got == {("<a1>", "<p1>", '"p1@x"', None),
                   ("<a2>", "<p1>", '"p1@x"', None)}
    # validation: ground / disconnected optionals raise
    with pytest.raises(ValueError, match="ground"):
        bgp.bgp_match(df, [("?a", f"<{S}author>", "?p")],
                      optional=[("<p1>", f"<{S}email>", '"p1@x"')])
    with pytest.raises(ValueError, match="disconnected OPTIONAL"):
        bgp.bgp_match(df, [("?a", f"<{S}author>", "?p")],
                      optional=[("?x", f"<{S}email>", "?e")])
    # well-designed restriction: joining on a var a prior OPTIONAL
    # left nullable diverges from SPARQL LeftJoin -> must raise
    with pytest.raises(ValueError, match="well-designed"):
        bgp.bgp_match(df, [("?a", f"<{S}author>", "?p")],
                      optional=[("?p", f"<{S}email>", "?e"),
                                ("?e", f"<{S}mailbox>", "?x")])


def test_bgp_malformed_filter_fails_before_path_jobs(spark):
    df = _quads_df(spark, [("<l0>", f"<{S}rest>", "<l1>", "")])
    calls = []
    orig = bgp.path_closure
    try:
        bgp.path_closure = lambda *a, **k: calls.append(1) or orig(*a, **k)
        with pytest.raises(ValueError, match="invalid filter"):
            bgp.bgp_match(df, [("?a", f"<{S}rest>+", "?b")],
                          filters=["not valid sql (("])
        # referencing a variable the BGP never binds is also caught
        with pytest.raises(ValueError, match="invalid filter"):
            bgp.bgp_match(df, [("?a", f"<{S}rest>+", "?b")],
                          filters=["nosuchvar > ''"])
    finally:
        bgp.path_closure = orig
    assert calls == []


def test_bgp_filters_restrict_bindings(spark):
    df = _quads_df(spark, BGP_QUADS)
    out = bgp.bgp_match(
        df,
        [("?a", RDF_TYPE, f"<{S}Article>"),
         ("?a", f"<{S}author>", "?p")],
        filters=["a > '<a1>'"])
    assert {(r.a, r.p) for r in out.collect()} == {("<a2>", "<p1>")}
    # a filter over an optional variable sees its nulls (three-valued
    # logic: null comparison drops the row, the SPARQL FILTER behavior)
    out = bgp.bgp_match(
        df,
        [("?a", f"<{S}author>", "?p")],
        optional=[("?p", f"<{S}email>", "?e")],
        filters=["e IS NOT NULL"])
    assert out.count() == 0


def test_bgp_construct_reshapes_and_drops_null_slots(spark):
    """CONSTRUCT: bindings instantiate template quads; an unmatched
    OPTIONAL variable drops only the triples using it (SPARQL 16.2),
    and the output is a distinct quad frame."""
    rows = BGP_QUADS + [("<p1>", f"<{S}email>", '"p1@x"', "")]
    out = bgp.bgp_construct(
        _quads_df(spark, rows),
        [("?a", f"<{S}author>", "?p")],
        template=[("?p", f"<{S}wrote>", "?a"),
                  ("?p", f"<{S}contact>", "?e")],
        optional=[("?p", f"<{S}phone>", "?e")],  # never matches -> null
        graph_out="<g:out>")
    got = {(r.subj, r.pred, r.obj, r.graph) for r in out.collect()}
    # the ?e triple vanished (null slot); the ?p/?a triples dedup over
    # the two articles' shared author into two distinct facts
    assert got == {("<p1>", f"<{S}wrote>", "<a1>", "<g:out>"),
                   ("<p1>", f"<{S}wrote>", "<a2>", "<g:out>")}
    with pytest.raises(ValueError, match="never binds"):
        bgp.bgp_construct(_quads_df(spark, rows),
                          [("?a", f"<{S}author>", "?p")],
                          template=[("?a", f"<{S}x>", "?nope")])
    with pytest.raises(ValueError, match="at least one template"):
        bgp.bgp_construct(_quads_df(spark, rows),
                          [("?a", f"<{S}author>", "?p")], template=[])


def test_optional_group_chain_anchored_through_group_triple(spark):
    """OPTIONAL { ?p hasAddr ?addr . ?addr street ?st }: the second
    triple anchors through ?addr (another GROUP triple's var), not a
    required var — a common well-designed shape that must evaluate."""
    rows = BGP_QUADS + [("<p1>", f"<{S}hasAddr>", "<ad1>", ""),
                        ("<ad1>", f"<{S}street>", '"Main St"', "")]
    df = _quads_df(spark, rows)
    out = bgp.bgp_match(
        df, [("?a", f"<{S}author>", "?p")],
        optional=[[("?p", f"<{S}hasAddr>", "?addr"),
                   ("?addr", f"<{S}street>", "?st")]])
    assert {(r.a, r.addr, r.st) for r in out.collect()} == {
        ("<a1>", "<ad1>", '"Main St"'), ("<a2>", "<ad1>", '"Main St"')}


def test_bgp_path_max_rounds_passthrough(spark):
    P = f"<{S}next>"
    chain = [(f"<n{i}>", P, f"<n{i+1}>", "") for i in range(7)]
    df = _quads_df(spark, chain)
    with pytest.raises(RuntimeError, match="did not converge"):
        bgp.bgp_match(df, [("?x", P + "+", "?y")], path_max_rounds=2)
    ok = bgp.bgp_match(df, [("?x", P + "+", "?y")], path_max_rounds=5)
    assert ok.count() == 28
    with pytest.raises(RuntimeError, match="max_rounds"):
        bgp.bgp_match(df, [("<n0>", P + "+", "?y")], path_max_rounds=2)


def test_bgp_filter_with_all_ground_pattern(spark):
    """A var-free BGP plus a constant filter must not crash the
    validation probe (empty schema string is itself a DDL error)."""
    df = _quads_df(spark, BGP_QUADS)
    hit = bgp.bgp_match(df, [("<p1>", f"<{S}name>", '"P1"')],
                        filters=["1 = 1"])
    assert hit.count() == 1
    miss = bgp.bgp_match(df, [("<p1>", f"<{S}name>", '"P1"')],
                         filters=["1 = 0"])
    assert miss.count() == 0


def test_bgp_input_validation(spark):
    df = _quads_df(spark, BGP_QUADS)
    with pytest.raises(ValueError, match="at least one"):
        bgp.bgp_match(df, [])
    with pytest.raises(ValueError, match="not a triple"):
        bgp.bgp_match(df, [("?a", "?b")])


def test_bgp_constants_push_to_parquet_scan(spark, tmp_path):
    """Serving path: over a parquet-backed quad store, the pattern
    constants must reach the scan as PushedFilters (bracket-contents
    check, not substring-after-marker)."""
    store = str(tmp_path / "quads")
    _quads_df(spark, BGP_QUADS).write.parquet(store)
    out = bgp.bgp_match(spark.read.parquet(store), [
        ("?a", RDF_TYPE, f"<{S}Article>"),
        ("?a", f"<{S}author>", "?p"),
    ])
    plan = out._jdf.queryExecution().executedPlan().toString()
    brackets = [s.split("]", 1)[0]
                for s in plan.split("PushedFilters: [")[1:]]
    # EVERY pattern leg's scan must carry its pred constant — checking
    # only the first bracket would let the second leg regress silently
    assert len(brackets) == 2
    assert all("pred" in b and "EqualTo" in b for b in brackets)
    rows = {(r.a, r.p) for r in out.collect()}
    assert rows == {("<a1>", "<p1>"), ("<a2>", "<p1>")}
