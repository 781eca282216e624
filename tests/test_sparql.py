"""SPARQL front-end: parser unit tests + engine semantics on a
hand-built corpus, including the shared-section (SH) ID-space guards
that make cross-role joins exact for arbitrary vocabularies (the case
the extraction grammar never produces — see plans.pattern.scan_bgp)."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from qendpoint_spark.dictionary import build_dictionary
from qendpoint_spark.encoding import encode_triples
from qendpoint_spark.plans import scan_bgp
from qendpoint_spark.sparql import SparqlEngine, parse_query
from qendpoint_spark.sparql.parser import (
    Aggregate,
    PathRepeat,
    PathSeq,
    Term,
    TriplePattern,
    UnionGroup,
    Var,
)

# ---------------------------------------------------------------- parser


def test_parser_bgp_shorthand_and_prefixes():
    q = parse_query(
        """
        PREFIX ex: <http://ex/>
        SELECT ?s WHERE { ?s ex:p ?o ; ex:q "lit"@en , 5 . ?o a ex:C }
        """
    )
    pats = [e for e in q.where.elements if isinstance(e, TriplePattern)]
    assert len(pats) == 4
    assert pats[0].p == Term("http://ex/p")
    assert pats[1].o == Term('"lit"@en')
    assert pats[2].o.as_term() == Term(
        '"5"^^<http://www.w3.org/2001/XMLSchema#integer>'
    )
    assert pats[3].p == Term(
        "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    )


def test_parser_paths_union_modifiers():
    q = parse_query(
        """
        SELECT DISTINCT ?a (COUNT(?b) AS ?n) WHERE {
          { ?a <http://ex/p>/<http://ex/q> ?b }
          UNION { ?a <http://ex/r>+ ?b }
        } GROUP BY ?a ORDER BY DESC(?n) LIMIT 7 OFFSET 2
        """
    )
    assert q.distinct and q.limit == 7 and q.offset == 2
    assert isinstance(q.projection[1], Aggregate)
    u = q.where.elements[0]
    assert isinstance(u, UnionGroup)
    p1 = u.branches[0].elements[0].p
    assert isinstance(p1, PathSeq) and len(p1.steps) == 2
    p2 = u.branches[1].elements[0].p
    assert isinstance(p2, PathRepeat) and p2.min_hops == 1


def test_parser_errors():
    with pytest.raises(SyntaxError):
        parse_query("SELECT ?x WHERE { ?x <http://ex/p> }")
    with pytest.raises(SyntaxError):
        parse_query("SELECT ?x WHERE { ?x ex:p ?y }")  # undeclared prefix


def test_parser_comments_escapes_negatives():
    q = parse_query(
        """
        # leading comment
        SELECT ?x WHERE {
          ?x <http://ex/p> "a\\tb\\u0041" .   # inline comment
          FILTER(?x > -5)
        }
        """
    )
    pats = [e for e in q.where.elements if isinstance(e, TriplePattern)]
    assert pats[0].o == Term('"a\tbA"')
    # malformed \u escape passes through instead of raising
    q2 = parse_query('ASK { ?x <http://ex/p> "bad\\uZZZZ" }')
    assert q2.where.elements[0].o == Term('"bad\\uZZZZ"')


def test_parser_fuzz_no_unexpected_exceptions():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=300, deadline=None)
    @given(st.text(max_size=120))
    def run(s):
        try:
            parse_query(s)
        except (SyntaxError, NotImplementedError):
            pass  # the two documented failure modes

    run()


# ---------------------------------------------------------------- engine

# a vocabulary engineered so subject-only and object-only IDs collide
# numerically: SH = {A}; S-only = {S1} (sid 2); O-only = {O1} (oid 2)
_TRIPLES = [
    ("A", "p", "A"),
    ("S1", "p", "O1"),
    ("S1", "q", "O1"),
]


@pytest.fixture(scope="module")
def mini(spark):
    tri = spark.createDataFrame(_TRIPLES, "s string, p string, o string")
    d = build_dictionary(tri).cache()
    enc = encode_triples(tri, d).cache()
    return tri, d, enc


def test_sh_guard_blocks_id_collision(spark, mini):
    """?x p ?y . ?y q ?z — ?y joins object-role against subject-role.
    No term is both an object of p and a subject of q except... none:
    objects(p) = {A, O1}, subjects(q) = {S1}; A is not a q-subject.
    Yet O1's object id == S1's subject id (both 2): without the SH
    guard the join fabricates a solution."""
    tri, d, enc = mini
    from qendpoint_spark.encoding import ops_table, spo_table

    pid = {r["term"]: r["id"] for r in d.filter(F.col("section") == "P").collect()}
    spo, ops = spo_table(enc), ops_table(enc)
    n_sh = d.filter(F.col("section") == "SH").count()
    assert n_sh == 1
    pats = [("x", pid["p"], "y"), ("y", pid["q"], "z")]
    unguarded = scan_bgp(spo, ops, pats)
    assert unguarded.count() == 1  # the documented hazard
    guarded = scan_bgp(spo, ops, pats, n_shared=n_sh)
    assert guarded.count() == 0  # exact


@pytest.fixture(scope="module")
def engine(spark, mini):
    tri, d, enc = mini
    return SparqlEngine(enc, d)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_engine_bgp_guard(engine):
    out = engine.query(
        "SELECT ?x ?z WHERE { ?x <p> ?y . ?y <q> ?z }"
    )
    assert _rows(out) == []
    # one pattern binding a variable as predicate and as subject would
    # compare ids of two namespaces
    with pytest.raises(NotImplementedError, match="namespaces"):
        engine.query("SELECT ?x WHERE { ?x ?x ?o }")


def test_engine_select_and_filter(engine):
    out = engine.query(
        'SELECT ?s ?o WHERE { ?s <q> ?o . FILTER(STR(?s) = "S1") }'
    )
    assert _rows(out) == [("S1", "O1")]


def test_engine_optional_bound(engine):
    out = engine.query(
        "SELECT ?s ?z WHERE { ?s <p> ?o OPTIONAL { ?s <q> ?z } }"
    )
    rows = _rows(out)
    assert ("A", None) in rows and ("S1", "O1") in rows


def test_engine_union_cross_role_decodes_terms(engine):
    """?v binds object-role in one branch, subject-role in the other;
    the union must reconcile through term strings, not raw ids (O1 and
    S1 share id 2 — an id-level union would conflate them)."""
    out = engine.query(
        "SELECT ?v WHERE { { ?x <p> ?v } UNION { ?v <q> ?y } }"
    )
    assert _rows(out) == [("A",), ("O1",), ("S1",)]


def test_engine_ask_construct(engine):
    assert engine.query("ASK { <S1> <q> <O1> }").collect()[0][0] is True
    assert engine.query("ASK { <A> <q> <O1> }").collect()[0][0] is False
    out = engine.query(
        "CONSTRUCT { ?o <inv_p> ?s } WHERE { ?s <p> ?o }"
    )
    assert ("A", "inv_p", "A") in _rows(out)


@pytest.fixture(scope="module")
def chain_engine(spark):
    """d1 -m-> e, d2 -m-> e, plus an ent chain e1 -n-> e2 -n-> e3 where
    every ei is SH (appears as both subject and object somewhere)."""
    rows = [
        ("d1", "m", "e"),
        ("d2", "m", "e"),
        ("e1", "n", "e2"),
        ("e2", "n", "e3"),
        ("e3", "t", "e1"),  # closes SH membership for e1/e3
        ("n", "t", "e1"),  # predicate IRI as a subject (pred metadata)
    ]
    tri = spark.createDataFrame(rows, "s string, p string, o string")
    d = build_dictionary(tri).cache()
    return SparqlEngine(encode_triples(tri, d).cache(), d)


def test_engine_seq_inverse_path_no_overclamp(chain_engine):
    """`m/^m` joins object-role ids on BOTH sides of the middle join —
    the SH clamp must NOT apply (e is O-only here, id > n_shared), so
    docs sharing a mention pair up."""
    out = chain_engine.query("SELECT ?a ?b WHERE { ?a <m>/^<m> ?b }")
    assert _rows(out) == [
        ("d1", "d1"), ("d1", "d2"), ("d2", "d1"), ("d2", "d2")
    ]


def test_engine_plus_and_star_paths(chain_engine):
    plus = chain_engine.query("SELECT ?a ?b WHERE { ?a <n>+ ?b }")
    assert _rows(plus) == [
        ("e1", "e2"), ("e1", "e3"), ("e2", "e3")
    ]
    star = chain_engine.query("SELECT ?a ?b WHERE { ?a <n>* ?b }")
    # SPARQL 1.1: the zero-length path matches EVERY node of the graph
    # (all subjects and objects), not just nodes on an <n>-edge
    nodes = {"d1", "d2", "e", "e1", "e2", "e3", "n"}
    assert set(_rows(star)) == {
        ("e1", "e2"), ("e1", "e3"), ("e2", "e3"),
    } | {(x, x) for x in nodes}


def test_engine_agg_group_having(chain_engine):
    out = chain_engine.query(
        "SELECT ?o (COUNT(?s) AS ?c) WHERE { ?s <m> ?o } "
        "GROUP BY ?o HAVING(?c >= 2)"
    )
    assert _rows(out) == [("e", 2)]


def test_engine_values_and_minus(chain_engine):
    out = chain_engine.query(
        "SELECT ?s WHERE { ?s <m> ?o . VALUES ?s { <d1> } }"
    )
    assert _rows(out) == [("d1",)]
    out = chain_engine.query(
        "SELECT ?s ?o WHERE { ?s <n> ?o MINUS { ?s <n> <e3> } }"
    )
    assert _rows(out) == [("e1", "e2")]


def test_engine_exists_not_exists(chain_engine):
    out = chain_engine.query(
        "SELECT ?s WHERE { ?s <n> ?o . FILTER EXISTS { ?s <t> ?x } }"
    )
    assert _rows(out) == []  # only e3 has a t-edge, e3 has no n-edge
    out = chain_engine.query(
        "SELECT ?s WHERE { ?s <n> ?o . FILTER NOT EXISTS { ?o <n> ?x } }"
    )
    assert _rows(out) == [("e2",)]  # e2->e3 survives: e3 has no n-out
    # disjoint NOT EXISTS: globally true subgroup empties the result
    # (where MINUS would keep everything — the spec's distinction)
    out = chain_engine.query(
        "SELECT ?s WHERE { ?s <n> ?o . FILTER NOT EXISTS { ?a <m> ?b } }"
    )
    assert _rows(out) == []
    out = chain_engine.query(
        "SELECT ?s ?o WHERE { ?s <n> ?o MINUS { ?a <m> ?b } }"
    )
    assert len(_rows(out)) == 2


def test_engine_from_catalog(spark, tmp_path):
    """hdtsparql-style flow: publish a warehouse with the pipeline,
    point the engine at it, query through the materialized access
    paths (PSO routing + stats-driven BGP order included)."""
    from qendpoint_spark.catalog import Catalog
    from qendpoint_spark.pipeline import run_pipeline

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .filter(F.col("doc_id") < 60)
    )
    catalog = Catalog(spark, str(tmp_path / "wh"))
    run_pipeline(
        spark, catalog, source_df=docs, source_kind="documents",
        source_fingerprint="sparql-cat-test", num_partitions=4,
        with_pso=True,
    )
    eng = SparqlEngine.from_catalog(catalog)
    assert eng.stats is not None and eng.pso is not None
    out = eng.query(
        "PREFIX p: <http://example.org/prop/>\n"
        "SELECT ?doc (COUNT(?e) AS ?n) WHERE { ?doc p:mentions ?e } "
        "GROUP BY ?doc"
    )
    got = {r["doc"]: r["n"] for r in out.collect()}
    assert len(got) > 0
    # independent recompute from the raw corpus
    from qendpoint_spark.extraction import extract_triples_from_documents

    tri = extract_triples_from_documents(docs)
    exp = {
        r["s"]: r["n"]
        for r in tri.filter(
            F.col("p") == "http://example.org/prop/mentions"
        ).groupBy("s").agg(F.count("o").alias("n")).collect()
    }
    assert got == exp


_P = "PREFIX p: <http://example.org/prop/>\n"
_XSD_BOOL = "http://www.w3.org/2001/XMLSchema#boolean"


@pytest.fixture(scope="module")
def published_docs(spark, documents, tmp_path_factory):
    """(catalog, docs): a documents corpus published by run_pipeline."""
    from qendpoint_spark.catalog import Catalog
    from qendpoint_spark.pipeline import run_pipeline

    docs = documents.filter(F.col("doc_id") < 80)
    catalog = Catalog(spark, str(tmp_path_factory.mktemp("consts") / "wh"))
    run_pipeline(
        spark, catalog, source_df=docs, source_kind="documents",
        source_fingerprint="sparql-consts-test", num_partitions=4,
    )
    return catalog, docs


def _shared_entity(catalog) -> str:
    """An entity IRI in the SH section: mentioned (object) and labelled
    (subject)."""
    return (
        catalog.read("dict_terms")
        .filter((F.col("section") == "SH") & F.col("term").startswith("http"))
        .orderBy("term").first()["term"]
    )


def test_catalog_engine_constants_match_in_memory(spark, published_docs):
    """The block-directory lookup of a from_catalog engine and the
    Spark lookup of an in-memory engine give the same answers for an
    SH term in both roles, typed and lang literals, predicates, and
    unknown terms (absent -> the pattern matches nothing)."""
    from qendpoint_spark.extraction import extract_triples_from_documents

    catalog, docs = published_docs
    cat_eng = SparqlEngine.from_catalog(catalog)
    assert cat_eng.n_shared == catalog.read("dict_terms").filter(
        F.col("section") == "SH"
    ).count()
    tri = extract_triples_from_documents(docs)
    d = build_dictionary(tri).cache()
    mem_eng = SparqlEngine(encode_triples(tri, d).cache(), d)
    ent = _shared_entity(catalog)
    queries = {
        "sh_both_roles": f"SELECT ?doc ?l WHERE {{ ?doc p:mentions <{ent}> . "
                         f"<{ent}> p:label ?l }}",
        "typed_literal": "SELECT ?doc WHERE { ?doc p:flag true }",
        "lang_literal": 'SELECT ?doc WHERE { ?doc p:lang "en"@en }',
        "optional_unknown": 'SELECT ?doc ?x WHERE { ?doc p:lang "en"@en '
                               "OPTIONAL { ?doc p:mentions <http://example.org/ent/__absent__> . "
                               "?doc p:source ?x } }",
        "unknown_subject": "SELECT ?o WHERE { <http://example.org/doc/__absent__> ?p ?o }",
        "unknown_predicate": "SELECT ?s WHERE { ?s <http://example.org/prop/none> ?o }",
    }
    for name, text in queries.items():
        got = _rows(cat_eng.query(_P + text))
        assert got == _rows(mem_eng.query(_P + text)), name
        assert bool(got) != name.startswith("unknown_"), name
    # an SH IRI looked up as subject and as object resolves to one id
    sid = cat_eng._const_id("s", ent)
    assert 0 < sid <= cat_eng.n_shared and cat_eng._const_id("o", ent) == sid
    assert cat_eng._const_id("o", f'"true"^^<{_XSD_BOOL}>') > cat_eng.n_shared


def test_catalog_engine_query_runs_no_spark_job(spark, published_docs):
    """Building a from_catalog engine and answering point, fresh-subject,
    two-hop and star BGPs submits no Spark job: the tables are read with
    their recorded schemas, the predicate stats with pyarrow, constants
    come from the block directory, n_shared from the dict_terms
    lineage, and each BGP runs on the driver over the row-group
    directories, so collecting its projection runs no job either."""
    import time

    catalog, _ = published_docs
    ent = _shared_entity(catalog)
    doc = "http://example.org/doc/3"
    queries = {
        "spo_point": f"SELECT ?o WHERE {{ <{doc}> p:lang ?o }}",
        "fresh_lookup": f"SELECT ?p ?o WHERE {{ <{doc}> ?p ?o }}",
        "two_hop": f"SELECT ?e ?l WHERE {{ <{doc}> p:mentions ?e . ?e p:label ?l }}",
        "star": f'SELECT ?doc WHERE {{ ?doc p:mentions <{ent}> ; p:lang "en"@en }}',
    }
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = "test-catalog-lookup"
    sc.setJobGroup(group, "engine build and driver-side queries")
    try:
        eng = SparqlEngine.from_catalog(catalog)
        rows = {name: eng.query(_P + q).collect() for name, q in queries.items()}
        time.sleep(1)  # the status store hears of jobs asynchronously
        assert list(tracker.getJobIdsForGroup(group)) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert all(rows.values()), {k: len(v) for k, v in rows.items()}


def test_catalog_engine_row_group_without_statistics(spark, tmp_path):
    """A term too long for parquet-mr's footer statistics (here the
    row group's max) leaves its row group without min/max; the directory treats such a row group
    as a candidate for every term, so all of its terms still resolve.
    Unicode terms check that the directory's order is the byte order
    the writer's statistics use."""
    from qendpoint_spark.catalog import Catalog
    from qendpoint_spark.pipeline import run_pipeline

    long_lit = '"' + "x" * 5000 + '"'
    rows = [
        ("http://ex/a", "p", long_lit),
        ("http://ex/a", "p", '"short"'),
        ("http://ex/中文", "p", '"\U0001F600"@en'),
        ("http://ex/z", "q", "http://ex/a"),
    ]
    tri = spark.createDataFrame(rows, "s string, p string, o string")
    catalog = Catalog(spark, str(tmp_path / "wh"))
    run_pipeline(
        spark, catalog, source_df=tri, source_kind="triples",
        source_fingerprint="long-term-test", num_partitions=1,
        with_stats=False,
    )
    blocks = catalog.lineage("dict_terms")["blocks"]
    assert sum(b["rows"] for b in blocks) == catalog.lineage("dict_terms")["row_count"]
    assert any(b["min"] is None for b in blocks)
    eng = SparqlEngine.from_catalog(catalog)
    assert eng.n_shared == 1  # http://ex/a
    for lit in (long_lit, '"short"'):
        out = eng.query(f"SELECT ?s WHERE {{ ?s <p> {lit} }}")
        assert _rows(out) == [("http://ex/a",)], lit[:10]
    out = eng.query('SELECT ?s WHERE { ?s <p> "\U0001F600"@en }')
    assert _rows(out) == [("http://ex/中文",)]
    out = eng.query("SELECT ?o WHERE { <http://ex/中文> ?p ?o }")
    assert _rows(out) == [('"\U0001F600"@en',)]
    out = eng.query("SELECT ?z ?o WHERE { ?z <q> <http://ex/a> . <http://ex/a> <p> ?o }")
    assert len(_rows(out)) == 2


@pytest.fixture(scope="module")
def quad_engine(spark):
    rows = [
        ("d1", "m", "x", "g1"),
        ("d1", "m", "y", "g2"),
        ("d2", "m", "x", "g2"),
    ]
    q = spark.createDataFrame(
        rows, "s string, p string, o string, g string"
    )
    d = build_dictionary(q).cache()
    encq = encode_triples(q, d).cache()
    tri = encq.drop("g").dropDuplicates(["s", "p", "o"])
    return SparqlEngine(tri, d, quads=encq)


def test_pipeline_publishes_quads_for_catalog_engine(spark, tmp_path):
    """Quad input through run_pipeline publishes quads_spog; a
    from_catalog engine then serves GRAPH and FROM directly."""
    from qendpoint_spark.catalog import Catalog
    from qendpoint_spark.pipeline import run_pipeline

    rows = [
        ("d1", "m", "x", "g1"),
        ("d1", "m", "x", "g1"),  # dup statement collapses
        ("d2", "m", "x", "g2"),
    ]
    q = spark.createDataFrame(
        rows, "s string, p string, o string, g string"
    )
    catalog = Catalog(spark, str(tmp_path / "wh"))
    run_pipeline(
        spark, catalog, source_df=q, source_kind="triples",
        source_fingerprint="quads-test", num_partitions=2,
        with_stats=False,
    )
    eng = SparqlEngine.from_catalog(catalog)
    assert eng.quads is not None
    out = eng.query("SELECT ?s ?g WHERE { GRAPH ?g { ?s <m> <x> } }")
    assert sorted(tuple(r) for r in out.collect()) == [
        ("d1", "g1"), ("d2", "g2")
    ]
    out = eng.query("SELECT ?s FROM <g2> WHERE { ?s <m> ?o }")
    assert [tuple(r) for r in out.collect()] == [("d2",)]
    # default graph = graph-projected statements (deduped)
    assert catalog.read("triples_spo").count() == 2


def test_engine_graph_patterns(quad_engine):
    out = quad_engine.query(
        "SELECT ?s ?g WHERE { GRAPH ?g { ?s <m> <x> } }"
    )
    assert _rows(out) == [("d1", "g1"), ("d2", "g2")]
    out = quad_engine.query(
        "SELECT ?s ?o WHERE { GRAPH <g2> { ?s <m> ?o } }"
    )
    assert _rows(out) == [("d1", "y"), ("d2", "x")]
    # default graph (outside GRAPH) = union of graphs here
    out = quad_engine.query("SELECT ?s WHERE { ?s <m> <y> }")
    assert _rows(out) == [("d1",)]
    # graph var joins across groups on gid
    # both patterns must hold within the SAME graph: no graph has
    # d1-m-x together with a d2 triple -> empty
    out = quad_engine.query(
        "SELECT ?g WHERE { GRAPH ?g { <d1> <m> <x> . <d2> <m> ?z } }"
    )
    assert _rows(out) == []
    # ... while g2 does contain d1-m-y and d2-m-x
    out = quad_engine.query(
        "SELECT ?g WHERE { GRAPH ?g { <d1> <m> ?a . <d2> <m> ?b } }"
    )
    assert _rows(out) == [("g2",)]


def test_graph_var_joins_subject_and_object_outside_graph(spark):
    """A graph variable also used as a subject or object outside its
    GRAPH joins on the term: graph ids and subject/object ids are
    different namespaces. The metadata sits in graph gm, so the
    default graph (the union of graphs here) holds it."""
    rows = [
        ("a", "n", "b", "g1"),
        ("c", "n", "d", "g2"),
        ("e", "n", "f", "g3"),
        ("g1", "meta", "m1", "gm"),
        ("g2", "meta", "m2", "gm"),
        ("gx", "meta", "m3", "gm"),
        ("r", "about", "g2", "gm"),
    ]
    q = spark.createDataFrame(rows, "s string, p string, o string, g string")
    d = build_dictionary(q)
    encq = encode_triples(q, d)
    eng = SparqlEngine(encq.drop("g").dropDuplicates(["s", "p", "o"]), d,
                       quads=encq)
    out = eng.query(
        "SELECT ?g ?m WHERE { GRAPH ?g { ?s <n> ?o } ?g <meta> ?m }"
    )
    assert _rows(out) == [("g1", "m1"), ("g2", "m2")]
    out = eng.query(
        "SELECT ?g ?x WHERE { ?x <about> ?g GRAPH ?g { ?s <n> ?o } }"
    )
    assert _rows(out) == [("g2", "r")]


def test_engine_from_dataset_clauses(quad_engine):
    # FROM narrows the default graph to g1's triples
    out = quad_engine.query("SELECT ?s ?o FROM <g1> WHERE { ?s <m> ?o }")
    assert _rows(out) == [("d1", "x")]
    out = quad_engine.query(
        "SELECT ?s ?o FROM <g1> FROM <g2> WHERE { ?s <m> ?o }"
    )
    assert len(_rows(out)) == 3
    # FROM NAMED restricts which graphs GRAPH ?g ranges over
    out = quad_engine.query(
        "SELECT ?g ?s FROM NAMED <g2> WHERE { GRAPH ?g { ?s <m> ?o } }"
    )
    assert _rows(out) == [("g2", "d1"), ("g2", "d2")]
    # FROM without FROM NAMED empties the named-graph set
    out = quad_engine.query(
        "SELECT ?g FROM <g1> WHERE { GRAPH ?g { ?s <m> ?o } }"
    )
    assert _rows(out) == []


def test_engine_plan_shapes(chain_engine, quad_engine):
    """Plan assertions: the decode joins the engine adds for
    projection/filter must broadcast the small P/G sections, and a
    multi-pattern BGP through the engine must not degenerate into a
    cartesian product."""
    plan = chain_engine.query(
        "SELECT ?s ?pr WHERE { ?s ?pr ?o }"
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # predicate decode broadcasts
    assert "CartesianProduct" not in plan
    plan = chain_engine.query(
        "SELECT ?a ?b WHERE { ?a <m> ?x . ?x <n>* ?b }"
    )._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    plan = quad_engine.query(
        "SELECT ?s ?g WHERE { GRAPH ?g { ?s <m> ?o } }"
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # graph decode broadcasts


def test_engine_construct_where_shorthand(chain_engine):
    out = chain_engine.query("CONSTRUCT WHERE { ?s <m> ?o }")
    assert _rows(out) == [("d1", "m", "e"), ("d2", "m", "e")]


def test_engine_describe(chain_engine):
    out = chain_engine.query("DESCRIBE <e>")
    assert _rows(out) == [("d1", "m", "e"), ("d2", "m", "e")]
    out = chain_engine.query("DESCRIBE ?x WHERE { ?x <t> ?y }")
    assert _rows(out) == [
        ("e2", "n", "e3"), ("e3", "t", "e1"), ("n", "t", "e1")
    ]


def test_engine_construct_bnode_template(chain_engine):
    out = chain_engine.query(
        "CONSTRUCT { ?s <via> _:b } WHERE { ?s <m> ?o }"
    )
    rows = _rows(out)
    assert len(rows) == 2  # one fresh bnode per solution, not shared
    assert len({r[2] for r in rows}) == 2
    assert all(r[2].startswith("_:b_") for r in rows)


def test_engine_pred_var_cross_role_join(chain_engine):
    """?p is a predicate in one pattern and a subject in the next —
    distinct ID namespaces, so the engine must join on decoded terms.
    Only predicate `n` has metadata (`n t e1`), so the n-edges
    survive."""
    out = chain_engine.query(
        "SELECT ?a ?b WHERE { ?a ?p ?b . ?p <t> ?x }"
    )
    assert _rows(out) == [("e1", "e2"), ("e2", "e3")]


def test_engine_subquery_and_new_aggs(chain_engine):
    out = chain_engine.query(
        "SELECT ?o ?n WHERE { ?s <m> ?o . "
        "{ SELECT ?o (COUNT(?x) AS ?n) WHERE { ?x <m> ?o } GROUP BY ?o } }"
    )
    assert _rows(out) == [("e", 2), ("e", 2)]  # one row per outer match
    out = chain_engine.query(
        'SELECT ?o (GROUP_CONCAT(?s; SEPARATOR=",") AS ?ss) '
        "WHERE { ?s <m> ?o } GROUP BY ?o"
    )
    assert _rows(out) == [("e", "d1,d2")]
    out = chain_engine.query(
        "SELECT ?o (SAMPLE(?s) AS ?s0) WHERE { ?s <m> ?o } GROUP BY ?o"
    )
    assert _rows(out) == [("e", "d1")]


def _published(catalog):
    from qendpoint_spark.encoding import decode_triples

    return _rows(decode_triples(
        catalog.read("triples_spo"), catalog.read("dict_terms")
    ))


def test_update_apply(spark, mini, tmp_path):
    """Batch SPARQL UPDATE over a published warehouse: data ops + a
    DELETE/INSERT WHERE, then an insert-only script."""
    from qendpoint_spark.catalog import Catalog
    from qendpoint_spark.pipeline import run_pipeline
    from qendpoint_spark.sparql import apply_update

    tri, d, enc = mini

    def publish(name):
        catalog = Catalog(spark, str(tmp_path / name))
        run_pipeline(
            spark, catalog, source_df=tri, source_kind="triples",
            source_fingerprint="upd-test", num_partitions=2, with_stats=False,
        )
        return catalog

    catalog = publish("wh")
    apply_update(
        spark, catalog,
        'INSERT DATA { <N1> <q> "v" } ;'
        "DELETE DATA { <A> <p> <A> } ;"
        "DELETE { ?x <q> ?y } INSERT { ?y <rev_q> ?x } WHERE { ?x <q> ?y } ;"
        # no solutions: an empty insert delta and an empty delete set
        "DELETE { ?x <none> ?y } INSERT { ?y <none> ?x } WHERE { ?x <none> ?y }",
        num_partitions=2,
    )
    assert _published(catalog) == [
        ('"v"', "rev_q", "N1"),  # the inserted data row, also reversed
        ("O1", "rev_q", "S1"),   # S1-q-O1 reversed
        ("S1", "p", "O1"),
    ]
    catalog = publish("wh_insert")
    apply_update(
        spark, catalog, "INSERT DATA { <X> <p> <Y> . <X> <p> <Z> }",
        num_partitions=2,
    )
    got = _published(catalog)
    assert ("X", "p", "Y") in got and ("X", "p", "Z") in got
    assert len(got) == len(_TRIPLES) + 2


def test_update_diffcat_matches_rebuild(spark, tmp_path):
    """An update is one ID-space diffcat per op group, and its result
    is the warehouse run_pipeline publishes from the expected set,
    table for table. The deletes turn SH terms into S (b) and O (a),
    drop a subject's last use (z) and a predicate's last use (q)."""
    from qendpoint_spark.catalog import Catalog
    from qendpoint_spark.pipeline import run_pipeline
    from qendpoint_spark.sparql import apply_update

    schema = "s string, p string, o string"

    def publish(name, rows):
        catalog = Catalog(spark, str(tmp_path / name))
        run_pipeline(
            spark, catalog, source_df=spark.createDataFrame(rows, schema),
            source_kind="triples", source_fingerprint=name, num_partitions=2,
        )
        return catalog

    catalog = publish("wh", [
        ("a", "p", "b"), ("b", "p", "c"), ("c", "p", "d"),
        ("z", "q", "a"), ("d", "r", "e"), ("e", "r", "a"),
    ])
    apply_update(
        spark, catalog,
        "INSERT DATA { <n> <p> <a> } ;"
        "DELETE DATA { <z> <q> <a> . <a> <p> <b> } ;"
        "DELETE { ?x <r> <a> } INSERT { ?x <r2> <a> } WHERE { ?x <r> <a> }",
        num_partitions=2,
    )
    expected = publish("expected", [
        ("b", "p", "c"), ("c", "p", "d"), ("d", "r", "e"),
        ("e", "r2", "a"), ("n", "p", "a"),
    ])

    def tables(cat):
        return {
            "dict_terms": _rows(cat.read("dict_terms").select(
                "term", "section", "sec_rank", "id"
            )),
            "triples_spo": _rows(cat.read("triples_spo")),
            "triples_ops": _rows(cat.read("triples_ops")),
            "header": _rows(cat.read("header")),
        }

    got = tables(catalog)
    assert got == tables(expected)
    sections = {t: sec for t, sec, _, _ in got["dict_terms"]}
    assert (sections["a"], sections["b"]) == ("O", "S")
    assert "z" not in sections and "q" not in sections


def test_update_delete_after_insert_keeps_merged_data(spark, tmp_path):
    """A delete after a merge-path publish works on the published
    state: publish {A p B, C p D}, INSERT DATA {X p Y}, then
    DELETE DATA {A p B} leaves {C p D, X p Y}."""
    from qendpoint_spark.catalog import Catalog
    from qendpoint_spark.encoding import decode_triples
    from qendpoint_spark.pipeline import run_pipeline
    from qendpoint_spark.sparql import apply_update

    catalog = Catalog(spark, str(tmp_path / "wh"))
    base = spark.createDataFrame(
        [("A", "p", "B"), ("C", "p", "D")], "s string, p string, o string"
    )
    run_pipeline(
        spark, catalog, source_df=base, source_kind="triples",
        source_fingerprint="ins-del", num_partitions=2,
    )

    def state():
        return _rows(decode_triples(
            catalog.read("triples_spo"), catalog.read("dict_terms")
        ))

    apply_update(spark, catalog, "INSERT DATA { <X> <p> <Y> }", num_partitions=2)
    assert state() == [("A", "p", "B"), ("C", "p", "D"), ("X", "p", "Y")]
    apply_update(spark, catalog, "DELETE DATA { <A> <p> <B> }", num_partitions=2)
    assert state() == [("C", "p", "D"), ("X", "p", "Y")]
    header = catalog.read("header").collect()[0]
    assert header.n_triples == header.n_raw_triples == 2


def test_merge_into_quad_warehouse_is_refused(spark, tmp_path):
    """The merge re-ranks dict_terms but cannot rewrite quads_spog, so
    every update of a quad warehouse (insert, delete, DELETE WHERE)
    raises before any write instead of answering GRAPH queries with
    the pre-merge ids — and before any Spark job, so a refused update
    runs neither the batch cut nor the merge's rank jobs."""
    import time

    from qendpoint_spark.catalog import Catalog
    from qendpoint_spark.pipeline import incremental_update_triples, run_pipeline
    from qendpoint_spark.sparql import apply_update

    catalog = Catalog(spark, str(tmp_path / "wh"))
    quads = spark.createDataFrame(
        [("m", "p", "n", "g1"), ("m", "p", "n", "g2"), ("a", "p", "b", "g1")],
        "s string, p string, o string, g string",
    )
    run_pipeline(
        spark, catalog, source_df=quads, source_kind="triples",
        source_fingerprint="quad-merge", num_partitions=2,
    )
    tables = ("dict_terms", "triples_spo", "quads_spog", "triples_ops", "header")

    def snapshot():
        return {t: (_rows(catalog.read(t)), catalog.lineage(t)) for t in tables}

    before = snapshot()
    sc = spark.sparkContext
    # a DELETE DATA without GRAPH targets the default graph; it must not
    # remove the statement from every named graph either
    updates = [
        lambda text=text: apply_update(spark, catalog, text, num_partitions=2)
        for text in (
            "INSERT DATA { <x> <p> <y> }",
            "DELETE DATA { <m> <p> <n> }",
            "DELETE WHERE { ?s <p> <n> }",
        )
    ]
    # a lazy batch straight into the pipeline entry point
    batch = quads.drop("g").filter(F.col("s") == "m")
    updates.append(lambda: incremental_update_triples(spark, catalog, batch))
    for i, update in enumerate(updates):
        group = f"test-quad-refusal-{i}"
        sc.setJobGroup(group, "refused quad update")
        try:
            with pytest.raises(NotImplementedError, match="quads_spog"):
                update()
            time.sleep(1)  # the status store hears of jobs asynchronously
            assert list(sc.statusTracker().getJobIdsForGroup(group)) == [], i
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert snapshot() == before
    out = SparqlEngine.from_catalog(catalog).query(
        "SELECT ?g ?s ?o WHERE { GRAPH ?g { ?s <p> ?o } }"
    )
    assert _rows(out) == [("g1", "a", "b"), ("g1", "m", "n"), ("g2", "m", "n")]
    # republished from triples, the warehouse drops its stale quad table
    # (data and lineage), and merges again
    run_pipeline(
        spark, catalog, source_df=quads.drop("g"), source_kind="triples",
        source_fingerprint="quad-merge-triples", num_partitions=2,
    )
    assert not catalog.exists("quads_spog")
    assert catalog.lineage("quads_spog") is None
    apply_update(spark, catalog, "INSERT DATA { <x> <p> <y> }", num_partitions=2)
    assert catalog.read("header").collect()[0].n_raw_triples == 3


def test_engine_empty_corpus_and_unicode(spark):
    """Degenerate and non-ASCII inputs through the full text->plan
    path: an empty corpus answers (not errors), and unicode terms
    round-trip the parser's \\u escapes against the dictionary."""
    empty = spark.createDataFrame([], "s string, p string, o string")
    d0 = build_dictionary(empty)
    eng0 = SparqlEngine(encode_triples(empty, d0), d0)
    assert eng0.query("SELECT ?s WHERE { ?s <p> ?o }").count() == 0
    assert eng0.query("ASK { ?s ?p ?o }").collect()[0][0] is False

    rows = [
        ("http://ex/中文", "p", '"café"@fr'),
        ("http://ex/a", "p", '"\U0001F600"'),
    ]
    tri = spark.createDataFrame(rows, "s string, p string, o string")
    d = build_dictionary(tri)
    eng = SparqlEngine(encode_triples(tri, d), d)
    out = eng.query(
        'SELECT ?s WHERE { ?s <p> "caf\\u00e9"@fr }'
    )
    assert [r[0] for r in out.collect()] == ["http://ex/中文"]
    out = eng.query("SELECT ?o WHERE { <http://ex/中文> <p> ?o }")
    assert [r[0] for r in out.collect()] == ['"café"@fr']
    # projecting a never-bound variable is legal: unbound -> NULL
    out = eng.query("SELECT ?nope ?o WHERE { <http://ex/中文> <p> ?o }")
    assert [tuple(r) for r in out.collect()] == [(None, '"café"@fr')]
    out = eng.query(
        "SELECT ?s ?o WHERE { ?s <p> ?o . FILTER(STRLEN(STR(?o)) = 1) }"
    )  # the astral-plane emoji is ONE codepoint
    assert [r[1] for r in out.collect()] == ['"\U0001F600"']


def test_engine_term_tests(chain_engine):
    out = chain_engine.query(
        "SELECT ?s ?o WHERE { ?s ?pr ?o . FILTER(isIRI(?o)) }"
    )
    assert len(_rows(out)) == 6  # every object here is an IRI
    out = chain_engine.query(
        "SELECT ?s WHERE { ?s ?pr ?o . FILTER(isLiteral(?o)) }"
    )
    assert _rows(out) == []


# ------------------------------------------- round-4 semantics fixes


@pytest.fixture(scope="module")
def num_engine(spark):
    """Products with numeric prices as typed literals, for value-order
    comparisons between two BOUND operands (RDF4J dispatches on value
    type; lexical comparison would say "10" < "9")."""
    xsd_int = "http://www.w3.org/2001/XMLSchema#integer"
    rows = [
        ("a", "price", f'"9"^^<{xsd_int}>'),
        ("b", "price", f'"10"^^<{xsd_int}>'),
        ("c", "price", f'"100"^^<{xsd_int}>'),
        ("a", "cost", f'"50"^^<{xsd_int}>'),
        ("b", "cost", f'"5"^^<{xsd_int}>'),
        ("c", "cost", f'"100"^^<{xsd_int}>'),
        ("a", "tag", '"x"'),
        ("b", "tag", '"y"'),
    ]
    tri = spark.createDataFrame(rows, "s string, p string, o string")
    d = build_dictionary(tri).cache()
    return SparqlEngine(encode_triples(tri, d).cache(), d)


def test_engine_var_var_numeric_comparison(num_engine):
    # "10" < "9" lexically but 10 > 9 numerically: value comparison wins
    out = num_engine.query(
        "SELECT ?s WHERE { ?s <price> ?p . ?s <cost> ?c . "
        "FILTER(?p < ?c) }"
    )
    assert _rows(out) == [("a",)]  # 9 < 50; b: 10 > 5; c: 100 = 100
    out = num_engine.query(
        "SELECT ?s WHERE { ?s <price> ?p . ?s <cost> ?c . "
        "FILTER(?p >= ?c) }"
    )
    assert _rows(out) == [("b",), ("c",)]


def test_engine_order_by_numeric_value(num_engine):
    out = num_engine.query(
        "SELECT ?s WHERE { ?s <price> ?p } ORDER BY ?p"
    )
    assert [r[0] for r in out.collect()] == ["a", "b", "c"]  # 9,10,100
    out = num_engine.query(
        "SELECT ?s WHERE { ?s <price> ?p } ORDER BY DESC(?p)"
    )
    assert [r[0] for r in out.collect()] == ["c", "b", "a"]


def test_engine_distinct_with_independent_order_key(num_engine):
    # ?s repeats per (price, cost) pair; DISTINCT must dedup on the
    # PROJECTED column only even though the sort key ?p is not
    # functionally dependent on it in general
    out = num_engine.query(
        "SELECT DISTINCT ?s WHERE { ?s ?pr ?o } ORDER BY ?o"
    )
    rows = [r[0] for r in out.collect()]
    assert sorted(rows) == ["a", "b", "c"]
    assert len(rows) == 3


def test_engine_compat_join_after_optional(chain_engine):
    # ?x is bound only inside OPTIONAL, then re-joined by EXISTS: the
    # unbound rows must stay compatible (kept), not be equi-dropped
    out = chain_engine.query(
        "SELECT ?s ?x WHERE { ?s <n> ?o . "
        "OPTIONAL { ?s <t> ?x } "
        "FILTER NOT EXISTS { ?x <n> ?z } }"
    )
    # e1-n->e2 (x unbound: e1 has no t-edge... e3-t->e1 means e3 binds)
    # chain: e1<n>e2, e2<n>e3; t-edges: e3->e1, n->e1. So OPTIONAL binds
    # nothing for s=e1/e2 -> ?x NULL, compatible with every ?x, but NOT
    # EXISTS { ?x <n> ?z } with ?x unbound asks "no n-edge exists at
    # all" -> false (n-edges exist) -> both rows dropped... unless ?x
    # stays NULL-compatible. Pin the compat-join behavior: NULL ?x means
    # the EXISTS group is just { ?x <n> ?z } with ?x free -> matches ->
    # NOT EXISTS removes the row. Bound-?x rows: none here.
    assert _rows(out) == []


def test_engine_minus_disjoint_after_optional(chain_engine):
    # MINUS with the only shared var possibly-NULL: rows whose ?x is
    # unbound share NO bound variable with the MINUS group -> kept
    # (SPARQL 1.1 §8.3 requires a common bound variable for removal)
    out = chain_engine.query(
        "SELECT ?s ?x WHERE { ?s <n> ?o . "
        "OPTIONAL { ?s <t> ?x } "
        "MINUS { ?x <n> ?z } }"
    )
    # OPTIONAL binds ?x for no s in {e1,e2} -> both rows ?x=NULL ->
    # MINUS shares no bound var -> both kept
    assert _rows(out) == [("e1", None), ("e2", None)]


def test_engine_optional_then_inner_join_compat(chain_engine):
    # join a possibly-null ?x against a pattern binding ?x: the NULL
    # row must merge with EVERY ?x (compatibility), bound rows equi-join
    out = chain_engine.query(
        "SELECT ?s ?x WHERE { "
        "{ SELECT ?s ?x WHERE { ?s <n> ?o OPTIONAL { ?s <t> ?x } } } "
        "?x <t> ?e1 . }"
    )
    # inner: (e1,NULL),(e2,NULL); pattern ?x <t> ?e1 binds x in {e3,n}
    # NULL rows merge with both -> (e1,e3),(e1,n),(e2,e3),(e2,n)
    assert _rows(out) == [
        ("e1", "e3"), ("e1", "n"), ("e2", "e3"), ("e2", "n")
    ]


def test_parser_zero_or_one_and_nps():
    from qendpoint_spark.sparql.parser import PathNeg

    q = parse_query("SELECT ?a ?b WHERE { ?a <http://ex/p>? ?b }")
    p = q.where.elements[0].p
    assert isinstance(p, PathRepeat) and (p.min_hops, p.max_hops) == (0, 1)
    q = parse_query("SELECT ?a WHERE { ?a !(<http://ex/p>|<http://ex/q>) ?b }")
    p = q.where.elements[0].p
    assert isinstance(p, PathNeg)
    assert p.fwd == ("http://ex/p", "http://ex/q") and p.bwd == ()
    q = parse_query("SELECT ?a WHERE { ?a !^<http://ex/p> ?b }")
    p = q.where.elements[0].p
    assert p.fwd == () and p.bwd == ("http://ex/p",)
    q = parse_query(
        "SELECT ?a WHERE { ?a !(<http://ex/p>|^<http://ex/q>) ?b }"
    )  # mixed-direction set parses; the engine rejects it at compile
    p = q.where.elements[0].p
    assert p.fwd == ("http://ex/p",) and p.bwd == ("http://ex/q",)
    # `?x` right after a path primary is a VARIABLE, not the modifier
    q = parse_query("SELECT ?a WHERE { ?a <http://ex/p>?b . }")
    assert q.where.elements[0].o == Var("b")


def test_engine_zero_or_one_path(chain_engine):
    out = chain_engine.query("SELECT ?a ?b WHERE { ?a <n>? ?b }")
    nodes = {"d1", "d2", "e", "e1", "e2", "e3", "n"}
    assert set(_rows(out)) == {
        ("e1", "e2"), ("e2", "e3"),
    } | {(x, x) for x in nodes}


def test_engine_negated_property_set(chain_engine):
    # all edges except <n>: the two m-edges and the two t-edges
    out = chain_engine.query("SELECT ?a ?b WHERE { ?a !<n> ?b }")
    assert _rows(out) == [
        ("d1", "e"), ("d2", "e"), ("e3", "e1"), ("n", "e1")
    ]
    # all edges except m and t = just the n-chain
    out = chain_engine.query("SELECT ?a ?b WHERE { ?a !(<m>|<t>) ?b }")
    assert _rows(out) == [("e1", "e2"), ("e2", "e3")]
    # inverse-only negated set: backwards over everything but ^t
    out = chain_engine.query("SELECT ?a ?b WHERE { ?a !(^<m>|^<n>) ?b }")
    assert _rows(out) == [("e1", "e3"), ("e1", "n")]
    # excluding an unknown predicate excludes nothing
    out = chain_engine.query("SELECT ?a ?b WHERE { ?a !<zzz> ?b }")
    assert len(_rows(out)) == 6
    # mixed forward/inverse members: NPS(P ∪ ^Q) = NPS(P) | ^NPS(Q)
    # (§9.1) — forward edges not labeled m, plus inverse edges not
    # labeled t (i.e. reversed m- and n-edges)
    out = chain_engine.query("SELECT ?a ?b WHERE { ?a !(<m>|^<t>) ?b }")
    assert _rows(out) == [
        ("e", "d1"), ("e", "d2"), ("e1", "e2"), ("e2", "e1"),
        ("e2", "e3"), ("e3", "e1"), ("e3", "e2"), ("n", "e1"),
    ]


def test_engine_mixed_role_path_alternatives(chain_engine):
    """`p|^p` binds conflicting ID spaces per branch: the pattern
    decomposes into per-branch compiles reconciled by _union."""
    out = chain_engine.query("SELECT ?a ?b WHERE { ?a (<m>|^<m>) ?b }")
    assert _rows(out) == [
        ("d1", "e"), ("d2", "e"), ("e", "d1"), ("e", "d2")
    ]
    # constant source, mixed alternative: e reaches its m-subjects
    out = chain_engine.query("SELECT ?b WHERE { <e> (<m>|^<m>) ?b }")
    assert _rows(out) == [("d1",), ("d2",)]
    # distribution out of a sequence: (m|^m)/m — only ^m/m connects
    out = chain_engine.query("SELECT ?a ?b WHERE { ?a (<m>|^<m>)/<m> ?b }")
    assert _rows(out) == [("e", "e")]
    # pure existence: both endpoints constant across mixed branches
    assert chain_engine.query(
        "ASK { <d1> (<m>|^<t>) <e> }"
    ).collect()[0][0] is True
    assert chain_engine.query(
        "ASK { <d1> (^<m>|^<t>) <e> }"
    ).collect()[0][0] is False


def test_engine_unit_solution_groups(chain_engine):
    """Groups may start with BIND / MINUS or hold only VALUES: they
    translate over the unit pattern (spec 18.2.2.6)."""
    out = chain_engine.query("SELECT ?x WHERE { BIND(3 + 4 AS ?x) }")
    assert _rows(out) == [(7,)]
    # VALUES-only group: inline terms need not exist in any ID space
    out = chain_engine.query('SELECT ?x WHERE { VALUES ?x { <e1> "zzz" } }')
    assert _rows(out) == [('"zzz"',), ("e1",)]
    # VALUES-only subgroup joined against a pattern group (term vs id)
    out = chain_engine.query(
        "SELECT ?a ?b WHERE { { VALUES ?a { <e1> <zz> } } { ?a <n> ?b } }"
    )
    assert _rows(out) == [("e1", "e2")]
    # MINUS first: Minus(unit, B) removes nothing (no shared vars)
    out = chain_engine.query(
        'SELECT ?x WHERE { VALUES ?x { "q" } MINUS { ?a <n> ?b } }'
    )
    assert _rows(out) == [('"q"',)]


def test_engine_mixed_role_closure_term_space(chain_engine):
    """`(p|^p)+` — undirected reachability — closes over a mixed-role
    edge set, which evaluates exactly in term space."""
    out = chain_engine.query("SELECT ?a ?b WHERE { ?a (<n>|^<n>)+ ?b }")
    ns = {"e1", "e2", "e3"}
    assert set(_rows(out)) == {(x, y) for x in ns for y in ns}
    # zero-or-more over a mixed set: component pairs + every graph node
    out = chain_engine.query("SELECT ?a ?b WHERE { ?a (<m>|^<m>)* ?b }")
    comp = {"d1", "d2", "e"}
    nodes = {"d1", "d2", "e", "e1", "e2", "e3", "n"}
    assert set(_rows(out)) == {
        (x, y) for x in comp for y in comp
    } | {(x, x) for x in nodes}


def test_engine_values_undef(chain_engine):
    out = chain_engine.query(
        "SELECT ?s ?o WHERE { ?s <n> ?o . "
        "VALUES (?s ?o) { (<e1> UNDEF) (UNDEF <e3>) } }"
    )
    # row1: s=e1, o free -> (e1,e2); row2: o=e3, s free -> (e2,e3)
    assert _rows(out) == [("e1", "e2"), ("e2", "e3")]
    # UNDEF-only column still joins (unconstrained on that var)
    out = chain_engine.query(
        "SELECT ?s WHERE { ?s <m> ?o . VALUES ?s { UNDEF } }"
    )
    assert _rows(out) == [("d1",), ("d2",)]


def test_engine_string_numeric_builtin_functions(num_engine):
    # SUBSTR/CONCAT/REPLACE/STRBEFORE/STRAFTER over an IRI binding
    out = num_engine.query(
        "SELECT ?s ?sub ?cat ?rep ?bef ?aft WHERE { ?s <tag> ?o . "
        'BIND(SUBSTR(STR(?s), 1, 1) AS ?sub) '
        'BIND(CONCAT(STR(?s), "-", STR(?o)) AS ?cat) '
        'BIND(REPLACE(STR(?o), "x", "y") AS ?rep) '
        'BIND(STRBEFORE("ab-cd", "-") AS ?bef) '
        'BIND(STRAFTER("ab-cd", "-") AS ?aft) }'
    )
    rows = {r["s"]: tuple(r) for r in out.collect()}
    assert rows["a"][1] == "a" and rows["a"][2] == "a-x"
    assert rows["a"][3] == "y" and rows["b"][3] == "y"
    assert rows["a"][4] == "ab" and rows["a"][5] == "cd"
    # ROUND/CEIL/FLOOR numeric semantics (XPath: ROUND half-up)
    out = num_engine.query(
        "SELECT ?r ?c ?f WHERE { ?s <tag> ?o . "
        "BIND(ROUND(2.5) AS ?r) BIND(CEIL(2.1) AS ?c) "
        "BIND(FLOOR(2.9) AS ?f) } LIMIT 1"
    )
    assert tuple(out.collect()[0]) == (3.0, 3.0, 2.0)
    # ISNUMERIC distinguishes numeric literals from IRIs and strings
    out = num_engine.query(
        "SELECT ?s WHERE { ?s <price> ?p . FILTER(ISNUMERIC(?p)) }"
    )
    assert len(out.collect()) == 3
    out = num_engine.query(
        "SELECT ?s WHERE { ?s <tag> ?o . FILTER(ISNUMERIC(?s)) }"
    )
    assert out.collect() == []


def test_engine_term_constructors_and_lang(chain_engine):
    # STRDT / STRLANG / IRI build terms; LANGMATCHES filters tags
    out = chain_engine.query(
        'SELECT ?d ?l ?i WHERE { ?s <m> ?o . '
        'BIND(STRDT("5", <http://www.w3.org/2001/XMLSchema#integer>) AS ?d) '
        'BIND(STRLANG("hi", "en-US") AS ?l) '
        'BIND(IRI("http://ex/built") AS ?i) } LIMIT 1'
    )
    r = out.collect()[0]
    assert r["d"] == '"5"^^<http://www.w3.org/2001/XMLSchema#integer>'
    assert r["l"] == '"hi"@en-US'
    assert r["i"] == "http://ex/built"
    out = chain_engine.query(
        'SELECT ?ok ?star ?no WHERE { ?s <m> ?o . '
        'BIND(LANGMATCHES("en-US", "en") AS ?ok) '
        'BIND(LANGMATCHES("fr", "*") AS ?star) '
        'BIND(LANGMATCHES("de", "en") AS ?no) } LIMIT 1'
    )
    assert tuple(out.collect()[0]) == (True, True, False)


def test_engine_hash_and_datetime_functions(chain_engine):
    import hashlib

    out = chain_engine.query(
        'SELECT ?m ?s2 WHERE { ?s <m> ?o . '
        'BIND(MD5("abc") AS ?m) BIND(SHA256("abc") AS ?s2) } LIMIT 1'
    )
    r = out.collect()[0]
    assert r["m"] == hashlib.md5(b"abc").hexdigest()
    assert r["s2"] == hashlib.sha256(b"abc").hexdigest()
    out = chain_engine.query(
        'SELECT ?y ?mo ?h WHERE { ?s <m> ?o . '
        'BIND(YEAR("2024-03-07T10:30:00"^^'
        "<http://www.w3.org/2001/XMLSchema#dateTime>) AS ?y) "
        'BIND(MONTH("2024-03-07T10:30:00"^^'
        "<http://www.w3.org/2001/XMLSchema#dateTime>) AS ?mo) "
        'BIND(HOURS("2024-03-07T10:30:00"^^'
        "<http://www.w3.org/2001/XMLSchema#dateTime>) AS ?h) } LIMIT 1"
    )
    assert tuple(out.collect()[0]) == (2024.0, 3.0, 10.0)


def test_parser_in_and_not_in():
    from qendpoint_spark.sparql.parser import BinOp, UnaryOp

    q = parse_query("SELECT ?x WHERE { ?x <p> ?o . FILTER(?o IN (1, 2)) }")
    f = [e for e in q.where.elements if hasattr(e, "expr")][0].expr
    assert isinstance(f, BinOp) and f.op == "||"  # =-chain desugaring
    q = parse_query(
        'SELECT ?x WHERE { ?x <p> ?o . FILTER(?o NOT IN ("a")) }'
    )
    f = [e for e in q.where.elements if hasattr(e, "expr")][0].expr
    assert isinstance(f, UnaryOp) and f.op == "!"


def test_engine_star_path_constant_endpoints(chain_engine):
    # <e1> n* ?x: reachable set {e2,e3} plus the zero-length {e1}
    out = chain_engine.query("SELECT ?b WHERE { <e1> <n>* ?b }")
    assert _rows(out) == [("e1",), ("e2",), ("e3",)]
    # ?a n* <e3>: ancestors {e1,e2} plus zero {e3}
    out = chain_engine.query("SELECT ?a WHERE { ?a <n>* <e3> }")
    assert _rows(out) == [("e1",), ("e2",), ("e3",)]
    # zero-or-one from a constant
    out = chain_engine.query("SELECT ?b WHERE { <e1> <n>? ?b }")
    assert _rows(out) == [("e1",), ("e2",)]
    # both-constant: zero-length (same term) and via-edges and neither
    assert chain_engine.query("ASK { <d1> <n>* <d1> }").collect()[0][0]
    assert chain_engine.query("ASK { <e1> <n>* <e3> }").collect()[0][0]
    assert not chain_engine.query("ASK { <d1> <n>* <e3> }").collect()[0][0]


def test_engine_conformance_mini_suite(chain_engine):
    """A breadth net of small SPARQL 1.1 behaviors in one pass (the
    engines are module-cached, so each case is cheap): every case is a
    (query, expected-rows) pair over the chain fixture."""
    e = chain_engine.query
    cases = [
        # COUNT DISTINCT vs COUNT
        ("SELECT (COUNT(?o) AS ?n) (COUNT(DISTINCT ?o) AS ?d) "
         "WHERE { ?s <m> ?o }", [(2, 1)]),
        # nested OPTIONAL
        ("SELECT ?s ?x ?y WHERE { ?s <n> ?o "
         "OPTIONAL { ?s <t> ?x OPTIONAL { ?x <n> ?y } } }",
         [("e1", None, None), ("e2", None, None)]),
        # UNION of paths with LIMIT/OFFSET paging determinism
        ("SELECT ?a WHERE { { ?a <m> ?v } UNION { ?a <t> ?v } } "
         "ORDER BY ?a LIMIT 2 OFFSET 1", [("d2",), ("e3",)]),
        # FILTER on LANG of a constant-bound var, and BOUND
        ("SELECT ?s WHERE { ?s <n> ?o . FILTER(BOUND(?s) && !BOUND(?z)) }",
         [("e1",), ("e2",)]),
        # expression in ORDER BY (not a bare var)
        # expression sort key ties (both subjects have STRLEN 2):
        # break with a secondary bare-var key so LIMIT is deterministic
        ("SELECT ?a WHERE { ?a <m> ?v } ORDER BY DESC(STRLEN(STR(?a))) "
         "?a LIMIT 1", [("d1",)]),
        # IN over IRIs + NOT IN exclusion
        ("SELECT ?s WHERE { ?s <n> ?o . FILTER(?s IN (<e1>, <zz>)) }",
         [("e1",)]),
        ("SELECT ?s WHERE { ?s <n> ?o . FILTER(?s NOT IN (<e1>)) }",
         [("e2",)]),
        # VALUES joined after OPTIONAL (compat join both directions)
        ("SELECT ?s WHERE { ?s <n> ?o . VALUES ?s { <e1> UNDEF } }",
         [("e1",), ("e1",), ("e2",)]),
        # ASK false on empty pattern; true on existing
        ("ASK { <e1> <n>/<n> <e3> }", [(True,)]),
        ("ASK { <e3> <n> ?x }", [(False,)]),
        # CONSTRUCT with constant predicate template
        ("CONSTRUCT { ?a <linked> ?b } WHERE { ?a <n> ?b }",
         [("e1", "linked", "e2"), ("e2", "linked", "e3")]),
    ]
    for q, want in cases:
        got = _rows(e(q))
        assert got == sorted(want), f"query failed: {q}\n got {got}"


# --------------------------------------------- round-5 GRAPH + agg-expr


@pytest.fixture(scope="module")
def rich_quad_engine(spark):
    """Two named graphs with chains + labels: g1 holds a-n->b-n->c,
    g2 holds a-n->x with labels — enough structure for paths, OPTIONAL
    and nested groups scoped per graph."""
    rows = [
        ("a", "n", "b", "g1"),
        ("b", "n", "c", "g1"),
        ("a", "lab", "A", "g1"),
        ("a", "n", "x", "g2"),
        ("x", "lab", "X", "g2"),
        ("a", "lab", "A2", "g2"),
    ]
    q = spark.createDataFrame(
        rows, "s string, p string, o string, g string"
    )
    d = build_dictionary(q).cache()
    encq = encode_triples(q, d).cache()
    tri = encq.drop("g").dropDuplicates(["s", "p", "o"])
    return SparqlEngine(tri, d, quads=encq)


def test_graph_const_complex_bodies(rich_quad_engine):
    e = rich_quad_engine
    # property path scoped to one graph: g1's chain only
    out = e.query("SELECT ?x ?y WHERE { GRAPH <g1> { ?x <n>+ ?y } }")
    assert _rows(out) == [("a", "b"), ("a", "c"), ("b", "c")]
    # OPTIONAL inside GRAPH: only g2's x has a label on an n-target
    out = e.query(
        "SELECT ?s ?l WHERE { GRAPH <g2> "
        "{ ?s <n> ?o OPTIONAL { ?o <lab> ?l } } }"
    )
    assert _rows(out) == [("a", "X")]
    # zero-length path ranges over the NAMED GRAPH's nodes, not the
    # dataset's (g1 nodes: a,b,c,A — never x/X/A2)
    out = e.query(
        "SELECT ?x WHERE { GRAPH <g1> { ?x <n>* ?y } FILTER(?x = ?y) }"
    )
    assert _rows(out) == [("A",), ("a",), ("b",), ("c",)]
    # a graph that is not a named graph of the dataset has no solution,
    # not even the unit solution a BIND extends
    out = e.query("SELECT ?x WHERE { GRAPH <absent> { BIND(1 AS ?x) } }")
    assert _rows(out) == []


def test_graph_var_complex_bodies(rich_quad_engine):
    e = rich_quad_engine
    # sequence path per graph: only g1 chains two n-steps
    out = e.query(
        "SELECT ?g ?x ?y WHERE { GRAPH ?g { ?x <n>/<n> ?y } }"
    )
    assert _rows(out) == [("g1", "a", "c")]
    # nested UNION group per graph, graph var projected
    out = e.query(
        "SELECT ?g ?v WHERE { GRAPH ?g { { ?s <lab> ?v } UNION "
        "{ ?s <n> ?v . ?v <lab> ?w } } }"
    )
    assert _rows(out) == [
        ("g1", "A"), ("g2", "A2"), ("g2", "X"), ("g2", "x")
    ]
    # graph var from a complex body joins with outer patterns on gid
    out = e.query(
        "SELECT ?g WHERE { GRAPH ?g { ?x <n>+ <c> } }"
    )
    assert _rows(out) == [("g1",), ("g1",)]  # from a and from b


def _quad_engine(spark, rows):
    """(engine, encoded quads, dictionary) over (s, p, o, g) rows; the
    default graph is the union of the named graphs."""
    q = spark.createDataFrame(rows, "s string, p string, o string, g string")
    d = build_dictionary(q).cache()
    encq = encode_triples(q, d).localCheckpoint(eager=True)
    tri = encq.drop("g").dropDuplicates(["s", "p", "o"])
    return SparqlEngine(tri, d, quads=encq), encq, d


def _many_graphs(n):
    """n named graphs g0..g{n-1}, each with a -n-> b; the even ones
    also label b, and every tenth chains b -n-> c."""
    rows = []
    for i in range(n):
        g = f"g{i}"
        rows.append(("a", "n", "b", g))
        if i % 2 == 0:
            rows.append(("b", "lab", f"L{i}", g))
        if i % 10 == 0:
            rows.append(("b", "n", "c", g))
    return rows


_GRAPH_OPTIONAL = (
    "SELECT ?g ?s ?l WHERE { GRAPH ?g { ?s <n> ?o OPTIONAL { ?o <lab> ?l } } }"
)


@pytest.fixture(scope="module")
def thousand_graphs(spark):
    return _quad_engine(spark, _many_graphs(1000))


def test_graph_var_thousand_graphs(thousand_graphs):
    """GRAPH ?g over 1,000 named graphs with OPTIONAL, MINUS and p+
    bodies: one plan, whatever the number of graphs."""
    e = thousand_graphs[0]
    got = _rows(e.query(_GRAPH_OPTIONAL))
    want = sorted(
        [(f"g{i}", "a", f"L{i}" if i % 2 == 0 else None) for i in range(1000)]
        + [(f"g{i}", "b", None) for i in range(0, 1000, 10)],
        key=lambda r: tuple(x or "" for x in r),
    )
    assert sorted(got, key=lambda r: tuple(x or "" for x in r)) == want
    got = _rows(e.query(
        "SELECT ?g WHERE { GRAPH ?g { ?s <n> ?o MINUS { ?o <lab> ?l } } }"
    ))
    assert got == sorted(
        [(f"g{i}",) for i in range(1, 1000, 2)]
        + [(f"g{i}",) for i in range(0, 1000, 10)]
    )
    got = _rows(e.query("SELECT ?g ?x ?y WHERE { GRAPH ?g { ?x <n>+ ?y } }"))
    want = [(f"g{i}", "a", "b") for i in range(1000)] + [
        (f"g{i}", x, "c") for i in range(0, 1000, 10) for x in ("a", "b")
    ]
    assert got == sorted(want)


def _plan_nodes(df) -> int:
    def count(node):
        kids = node.children()
        return 1 + sum(count(kids.apply(i)) for i in range(kids.size()))

    return count(df._jdf.queryExecution().optimizedPlan())


def test_graph_plan_size_independent_of_graph_count(thousand_graphs):
    """The optimized plan of a GRAPH ?g query has as many nodes over
    10 named graphs as over 1,000."""
    e, encq, d = thousand_graphs
    first_ten = [e._const_id("g", f"g{i}") for i in range(10)]
    quads = encq.filter(F.col("g").isin(first_ten))
    ten = SparqlEngine(quads.drop("g").dropDuplicates(["s", "p", "o"]), d, quads=quads)
    assert ten.query("SELECT DISTINCT ?g WHERE { GRAPH ?g { ?s <n> ?o } }").count() == 10
    assert _plan_nodes(ten.query(_GRAPH_OPTIONAL)) == _plan_nodes(e.query(_GRAPH_OPTIONAL))


#: (s, p, o, g): g1 chains a-n->b-n->c; b's label is in g2, so an
#: OPTIONAL in g1 must not see it. g3 is a two-node cycle without
#: labels. The <m> rows are the ground-pattern case of quad_engine.
_PARITY_QUADS = [
    ("a", "n", "b", "g1"),
    ("b", "n", "c", "g1"),
    ("a", "lab", "A", "g1"),
    ("c", "lab", "C", "g1"),
    ("d1", "m", "x", "g1"),
    ("a", "n", "x", "g2"),
    ("x", "lab", "X", "g2"),
    ("a", "lab", "A2", "g2"),
    ("b", "lab", "B2", "g2"),
    ("d1", "m", "y", "g2"),
    ("d2", "m", "x", "g2"),
    ("p", "n", "q", "g3"),
    ("q", "n", "p", "g3"),
]

#: GRAPH bodies; each is also run as a query over one graph's triples
_PARITY_BODIES = {
    "optional": "?s <n> ?o OPTIONAL { ?o <lab> ?l }",
    "minus_shared": "?s <n> ?o MINUS { ?o <lab> ?l }",
    "minus_disjoint": "?s <n> ?o MINUS { ?x <lab> ?y }",
    "not_exists": "?s <n> ?o FILTER NOT EXISTS { ?o <lab> ?l }",
    "exists_disjoint": "?s <n> ?o FILTER EXISTS { ?x <lab> ?y }",
    "union": "{ ?s <n> ?o } UNION { ?s <lab> ?o }",
    "bind": "?s <n> ?o BIND(STR(?o) AS ?t)",
    "bind_only": 'BIND("k" AS ?k)',
    "values": "?s <n> ?o VALUES ?s { <a> <p> }",
    "values_only": "VALUES ?v { <a> <z> }",
    "plus": "?x <n>+ ?y",
    "star": "?x <n>* ?y",
    "zero_or_one_const": "<a> <n>? ?y",
    "seq": "?x <n>/<n> ?y",
    "ground": "<d1> <m> <x> . <d2> <m> ?z",
    "nested_graph": "?s <n> ?o . GRAPH ?h { ?o <lab> ?l }",
    "filter_graph_var": "?s <n> ?o FILTER(?g = <g1>)",
    "filter_graph_var_optional": "?s <n> ?o OPTIONAL { ?o <lab> ?l } FILTER(?g = <g1>)",
    "subselect_group_by": "{ SELECT ?s (COUNT(?o) AS ?c) WHERE { ?s <n> ?o } GROUP BY ?s }",
    "subselect_count": "{ SELECT (COUNT(?o) AS ?c) WHERE { ?s <lab> ?o } }",
    "subselect_limit": "{ SELECT ?s ?o WHERE { ?s <n> ?o } ORDER BY ?s ?o LIMIT 1 }",
}


#: no graph holds both ground statements, and the body sees no ?g: a
#: FILTER on it tests an unbound variable
_EMPTY_BODIES = {"ground", "filter_graph_var", "filter_graph_var_optional"}


@pytest.fixture(scope="module")
def parity_quads(spark):
    """The dataset's engine, and per named graph an engine whose
    default graph is that graph's triples (same dictionary)."""
    e, encq, d = _quad_engine(spark, _PARITY_QUADS)
    per_graph = {}
    for g in ("g1", "g2", "g3"):
        gid = e._const_id("g", g)
        tri = encq.filter(F.col("g") == gid).drop("g")
        per_graph[g] = SparqlEngine(tri, d, quads=encq)
    return e, per_graph


def _bag(df, graph=None):
    """Solutions as a multiset of sorted (var, term) tuples, hidden
    columns dropped, with ("g", graph) added when given."""
    cols = [c for c in df.columns if not c.startswith("__")]
    extra = [] if graph is None else [("g", graph)]
    return Counter(
        tuple(sorted([(c, r[c]) for c in cols] + extra, key=str))
        for r in df.collect()
    )


def _per_graph_reference(per_graph, body, graphs):
    """SPARQL 1.1 §18.6 built by hand: the body run as a query over
    each named graph's triples, ?g added, then the union."""
    out = Counter()
    for g in graphs:
        out.update(_bag(per_graph[g].query(f"SELECT * WHERE {{ {body} }}"), g))
    return out


@pytest.mark.parametrize("name", sorted(_PARITY_BODIES))
def test_graph_var_matches_per_graph_evaluation(parity_quads, name):
    e, per_graph = parity_quads
    body = _PARITY_BODIES[name]
    got = _bag(e.query(f"SELECT * WHERE {{ GRAPH ?g {{ {body} }} }}"))
    want = _per_graph_reference(per_graph, body, ("g1", "g2", "g3"))
    assert got == want
    assert bool(want) != (name in _EMPTY_BODIES)


def test_graph_from_named_matches_per_graph_evaluation(parity_quads):
    e, per_graph = parity_quads
    body = _PARITY_BODIES["optional"]
    got = _bag(e.query(f"SELECT * FROM NAMED <g2> WHERE {{ GRAPH ?g {{ {body} }} }}"))
    assert got == _per_graph_reference(per_graph, body, ("g2",))
    # FROM without FROM NAMED: no named graph, so no solution
    got = e.query(f"SELECT * FROM <g1> WHERE {{ GRAPH ?g {{ {body} }} }}")
    assert got.collect() == []


def test_aggregate_expression_args(num_engine):
    # SUM over a computed product; prices 9,10,100 costs 50,5,100
    out = num_engine.query(
        "SELECT (SUM(?p * ?c) AS ?t) WHERE { ?s <price> ?p . "
        "?s <cost> ?c }"
    )
    assert _rows(out) == [(9 * 50 + 10 * 5 + 100 * 100,)]
    # COUNT(DISTINCT expr): tags "x","y" -> distinct STR count 2
    out = num_engine.query(
        "SELECT (COUNT(DISTINCT STR(?o)) AS ?n) WHERE { ?s <tag> ?o }"
    )
    assert _rows(out) == [(2,)]
    # AVG/MAX over arithmetic on a single var, grouped
    out = num_engine.query(
        "SELECT ?s (MAX(?p + 1) AS ?m) WHERE { ?s <price> ?p } "
        "GROUP BY ?s ORDER BY ?s"
    )
    assert _rows(out) == [("a", 10.0), ("b", 11.0), ("c", 101.0)]
    # conditional aggregation: SUM(IF(...)) — the classic pivot shape
    out = num_engine.query(
        "SELECT (SUM(IF(?p >= 10, 1, 0)) AS ?big) WHERE "
        "{ ?s <price> ?p }"
    )
    assert _rows(out) == [(2.0,)]


def test_projection_expressions(num_engine):
    e = num_engine
    # ratio of two aggregates in one projection expression
    out = e.query(
        "SELECT (SUM(?p)/COUNT(*) AS ?mean) WHERE { ?s <price> ?p }"
    )
    assert _rows(out) == [((9 + 10 + 100) / 3,)]
    # grouped: expression over two aggregates
    out = e.query(
        "SELECT ?s (SUM(?p) + SUM(?c) AS ?tot) WHERE "
        "{ ?s <price> ?p . ?s <cost> ?c } GROUP BY ?s ORDER BY ?s"
    )
    assert _rows(out) == [("a", 59.0), ("b", 15.0), ("c", 200.0)]
    # HAVING with a direct (unaliased) aggregate
    out = e.query(
        "SELECT ?s WHERE { ?s <price> ?p } GROUP BY ?s "
        "HAVING(SUM(?p) >= 10) ORDER BY ?s"
    )
    assert _rows(out) == [("b",), ("c",)]
    # pure projection expression without aggregation (BIND-like)
    out = e.query(
        "SELECT ?s (?p * 10 AS ?x) WHERE { ?s <price> ?p } ORDER BY ?s"
    )
    assert _rows(out) == [("a", 90.0), ("b", 100.0), ("c", 1000.0)]
    # value-identical aggregates share one computed column
    out = e.query(
        "SELECT (SUM(?p) - SUM(?p) AS ?zero) WHERE { ?s <price> ?p }"
    )
    assert _rows(out) == [(0.0,)]
    # function applied over an aggregate result
    out = e.query(
        'SELECT (CONCAT("n=", STR(COUNT(*))) AS ?label) '
        "WHERE { ?s <price> ?p }"
    )
    assert _rows(out) == [("n=3",)]


def test_values_first_minus_removes_matches(spark, mini):
    """ADVICE r6 high: VALUES is joined at its syntactic position when
    a following MINUS observes its bindings (spec 18.2.2.6)."""
    tri, d, enc = mini
    eng = SparqlEngine(enc, d)
    # A matches ?a <p> ?b, so MINUS must remove it; S1 matches q... use
    # a predicate only A has as subject via p: subjects(p) = {A, S1}.
    gone = eng.query("SELECT ?a WHERE { VALUES ?a { <A> } MINUS { ?a <p> ?b } }")
    assert gone.collect() == []
    # O1 is never a subject of <p> -> survives
    kept = eng.query("SELECT ?a WHERE { VALUES ?a { <O1> } MINUS { ?a <p> ?b } }")
    assert [tuple(r) for r in kept.collect()] == [("O1",)]


def test_values_first_bind_sees_bindings(spark, mini):
    tri, d, enc = mini
    eng = SparqlEngine(enc, d)
    out = eng.query(
        "SELECT ?y WHERE { VALUES ?x { 1 2 } BIND(?x + 1 AS ?y) }"
    )
    assert sorted(float(r[0]) for r in out.collect()) == [2.0, 3.0]


def test_values_shared_with_bind_after_patterns_is_loud(spark, mini):
    import pytest as _pytest

    tri, d, enc = mini
    eng = SparqlEngine(enc, d)
    with _pytest.raises(NotImplementedError):
        eng.query(
            "SELECT ?y WHERE { ?s <p> ?o VALUES ?x { 1 } "
            "BIND(?x + 1 AS ?y) }"
        ).collect()
    # ?x is only maybe-bound (OPTIONAL): VALUES would fill the unbound
    # rows before BIND reads them, so deferring it is not sound either
    with _pytest.raises(NotImplementedError):
        eng.query(
            "SELECT ?y WHERE { ?s <p> ?o OPTIONAL { ?s <q> ?x } "
            "VALUES ?x { <O1> } BIND(STR(?x) AS ?y) }"
        ).collect()


def test_values_first_optional_keeps_unmatched(spark, mini):
    """OPTIONAL observes a preceding VALUES (spec 18.2.2.6): <Z> has no
    <p> edge, so it survives with ?b unbound instead of being dropped."""
    tri, d, enc = mini
    eng = SparqlEngine(enc, d)
    out = eng.query(
        "SELECT ?x ?b WHERE { VALUES ?x { <A> <Z> } OPTIONAL { ?x <p> ?b } }"
    )
    assert _rows(out) == [("A", "A"), ("Z", None)]


def test_values_shared_with_bind_bound_by_pattern(spark, mini):
    """A VALUES variable the preceding pattern already binds may stay
    deferred past BIND: the join only filters rows."""
    tri, d, enc = mini
    eng = SparqlEngine(enc, d)
    out = eng.query(
        "SELECT ?s ?y WHERE { ?s <p> ?x . VALUES ?x { <A> } "
        "BIND(STR(?x) AS ?y) }"
    )
    assert _rows(out) == [("A", "A")]
