"""Driver-side BGPs (plans.local.local_bgp) against the Spark path.

A published warehouse gives SparqlEngine.from_catalog row-group
directories for its triple tables and id ranges for its dictionary, so a
bounded BGP is read, bind-joined and decoded on the driver. The Spark
side of every comparison is an engine over the same committed frames
without directories, so it runs scan_bgp and decodes with joins."""

from __future__ import annotations

import time

import pytest

from qendpoint_spark.catalog import Catalog
from qendpoint_spark.encoding import decode_triples
from qendpoint_spark.pipeline import run_pipeline
from qendpoint_spark.plans import local as local_mod
from qendpoint_spark.sparql import SparqlEngine, apply_update

_INT = "http://www.w3.org/2001/XMLSchema#integer"
_LONG = '"' + "x" * 5000 + '"'  # too long for the footer's term statistics

# SH = {A, B}; S-only S1 (sid 3), S2, _:n1; O-only <!o> sorts first
# among the objects, so its oid is 3 as well: raw id equality between
# S1 and <!o> would join two different terms
_TRIPLES = [
    ("A", "p", "A"),
    ("B", "p", "A"),
    ("A", "q", "B"),
    ("B", "q", '"lb"'),
    ("S1", "p", "!o"),
    ("S1", "q", "O1"),
    ("_:n1", "p", "B"),
    ("S2", "r", _LONG),
    ("S2", "r", '"short"'),
    ("S1", "n", f'"5"^^<{_INT}>'),
    ("S2", "n", f'"2"^^<{_INT}>'),
    ("A", "n", f'"7"^^<{_INT}>'),
]


def _publish(spark, path):
    tri = spark.createDataFrame(_TRIPLES, "s string, p string, o string")
    catalog = Catalog(spark, str(path))
    run_pipeline(
        spark, catalog, source_df=tri, source_kind="triples",
        source_fingerprint="local-bgp-test", num_partitions=2,
    )
    return catalog


def _spark_engine(catalog, stats):
    """An engine over the same committed frames without directories."""
    return SparqlEngine(
        dict_terms=catalog.read("dict_terms"),
        spo=catalog.read("triples_spo"),
        ops=catalog.read("triples_ops"),
        stats=stats,
    )


@pytest.fixture(scope="module")
def engines(spark, tmp_path_factory):
    catalog = _publish(spark, tmp_path_factory.mktemp("local_bgp") / "wh")
    blocks = catalog.lineage("dict_terms")["blocks"]
    assert any(b["min"] is None for b in blocks)  # the long literal's
    assert all(b["id_min"] is not None for b in blocks)
    assert len(catalog.lineage("triples_spo")["blocks"]) >= 2
    local = SparqlEngine.from_catalog(catalog)
    assert local.row_groups is not None
    return local, _spark_engine(catalog, local.stats)


def _run(engine, text):
    """(sorted rows, columns, schema, [local path taken per BGP])."""
    taken = []
    plain = engine._local_bgp

    def spy(batch):
        bf = plain(batch)
        taken.append(bf is not None)
        return bf

    engine._local_bgp = spy
    try:
        df = engine.query(text)
    finally:
        del engine._local_bgp
    return sorted(tuple(r) for r in df.collect()), df.columns, df.schema, taken


_LOCAL_QUERIES = {
    # ?y joins object ids to subject ids: only SH ids join, so the
    # S1/<!o> id collision fabricates nothing
    "sh_var_both_roles": "SELECT ?x ?y ?z WHERE { ?x <p> ?y . ?y <q> ?z }",
    "sh_const_both_roles": "SELECT ?x ?z WHERE { ?x <p> <A> . <A> <q> ?z }",
    "repeated_var": "SELECT ?x WHERE { ?x <p> ?x }",
    "bnode_var": "SELECT ?x ?z WHERE { ?x <p> _:b . _:b <q> ?z }",
    "bnode_term": "SELECT ?o WHERE { _:n1 <p> ?o }",
    "star": "SELECT ?s ?v ?o WHERE { ?s <n> ?v ; <q> ?o }",
    "three_roles": "SELECT ?x ?w WHERE { ?x <p> ?y . ?y <q> ?z . ?y <n> ?w }",
    "long_literal_var": "SELECT ?s ?o WHERE { ?s <r> ?o }",
    "long_literal_const": f"SELECT ?s WHERE {{ ?s <r> {_LONG} }}",
    "select_star": "SELECT * WHERE { ?s ?p ?o }",
    "cross_product": f'SELECT ?a ?b WHERE {{ ?a <r> "short" . ?b <n> "7"^^<{_INT}> }}',
    "filter": "SELECT ?s WHERE { ?s <n> ?v FILTER(?v > 3) }",
    "optional": "SELECT ?x ?l WHERE { ?x <p> ?y OPTIONAL { ?y <q> ?l } }",
    "count": "SELECT (COUNT(?x) AS ?c) WHERE { ?x <p> ?y }",
    "distinct_order": "SELECT DISTINCT ?y WHERE { ?x <p> ?y } ORDER BY ?y",
    "construct": "CONSTRUCT { ?y <rev> ?x } WHERE { ?x <p> ?y }",
    "absent_object": "SELECT ?s WHERE { ?s <p> <http://absent> }",
    "absent_subject": "SELECT ?p ?o WHERE { <http://absent> ?p ?o }",
    "absent_predicate": "SELECT ?s ?o WHERE { ?s <absent> ?o }",
    # a pattern without variables is an existence test on the bindings
    "ground_only": "SELECT * WHERE { <A> <q> <B> }",
    "ground_and_vars": "SELECT ?x ?y WHERE { <A> <q> <B> . ?x <p> ?y }",
    "ground_filter": "SELECT ?s WHERE { ?s <n> ?v . <S2> <r> \"short\" FILTER(?v > 3) }",
    "absent_ground": "SELECT ?x ?y WHERE { ?x <p> ?y . <A> <q> <A> }",
    "absent_ground_only": "SELECT * WHERE { <B> <q> <A> }",
}


@pytest.mark.parametrize("name", sorted(_LOCAL_QUERIES))
def test_local_bgp_matches_spark_path(engines, name):
    local, spark_eng = engines
    rows, cols, schema, taken = _run(local, _LOCAL_QUERIES[name])
    assert taken and all(taken), name
    s_rows, s_cols, s_schema, s_taken = _run(spark_eng, _LOCAL_QUERIES[name])
    assert s_taken == [False] * len(s_taken)
    assert rows == s_rows
    assert cols == s_cols and schema == s_schema
    assert bool(rows) != name.startswith("absent_")


def test_local_bgp_known_answers(engines):
    """The shared-section guard, checked against the answers."""
    local, _ = engines
    rows, *_ = _run(local, _LOCAL_QUERIES["sh_var_both_roles"])
    assert rows == [("A", "A", "B"), ("B", "A", "B"), ("_:n1", "B", '"lb"')]
    rows, *_ = _run(local, _LOCAL_QUERIES["repeated_var"])
    assert rows == [("A",)]
    rows, *_ = _run(local, _LOCAL_QUERIES["long_literal_const"])
    assert rows == [("S2",)]


@pytest.mark.parametrize("text, answer", [
    ("ASK { <A> <q> <B> }", True),
    ("ASK { <A> <q> <A> }", False),
    ("ASK { <A> <q> <B> . ?x <p> <A> }", True),
    ("ASK { <A> <q> <http://absent> }", False),
    ('ASK { <A> <q> <B> . <S2> <r> "short" }', True),
])
def test_local_bgp_ask_ground(engines, text, answer):
    local, spark_eng = engines
    rows, _c, _s, taken = _run(local, text)
    assert taken == [True]
    assert rows == _run(spark_eng, text)[0] == [(answer,)]


def test_local_bgp_limit(engines):
    local, spark_eng = engines
    full, *_ = _run(spark_eng, "SELECT ?x ?y WHERE { ?x <p> ?y }")
    rows, _cols, _schema, taken = _run(local, "SELECT ?x ?y WHERE { ?x <p> ?y } LIMIT 2")
    assert taken == [True] and len(rows) == 2 and set(rows) <= set(full)


def test_local_bgp_falls_back(engines, monkeypatch):
    """A variable in predicate and subject position, and a BGP over
    either row bound, run on Spark and give the Spark path's answer."""
    local, spark_eng = engines
    conflict = "SELECT ?s ?z WHERE { ?s ?p ?o . ?p <q> ?z }"
    rows, _c, _s, taken = _run(local, conflict)
    assert taken == [] and rows == _run(spark_eng, conflict)[0]
    bgp = _LOCAL_QUERIES["sh_var_both_roles"]
    expected = _run(spark_eng, bgp)[0]
    for bound in ("LOCAL_BGP_ROWS", "LOCAL_BINDING_ROWS"):
        with monkeypatch.context() as m:
            m.setattr(local_mod, bound, 2)
            rows, _c, _s, taken = _run(local, bgp)
        assert taken == [False] and rows == expected, bound


def test_local_bgp_large_predicate_reads_nothing(engines, monkeypatch):
    """A first pattern `?s <p> ?o` binds exactly the predicate's
    n_triples: past LOCAL_BINDING_ROWS the BGP runs on Spark without
    reading a row group first, and gives the Spark path's answer."""
    local, spark_eng = engines
    text = "SELECT ?x ?y WHERE { ?x <p> ?y }"  # <p> has 4 triples
    expected = _run(spark_eng, text)[0]
    assert _run(local, text)[0] == expected  # resolves <p> beforehand
    reads = []
    plain = local_mod.RowGroupDirectory.read

    def counted(self, *args, **kwargs):
        reads.append(self.root)
        return plain(self, *args, **kwargs)

    monkeypatch.setattr(local_mod, "LOCAL_BINDING_ROWS", 3)
    monkeypatch.setattr(local_mod.RowGroupDirectory, "read", counted)
    rows, _c, _s, taken = _run(local, text)
    assert taken == [False] and rows == expected
    assert reads == []


@pytest.mark.parametrize("text", [
    # 3 x 4 rows with no shared variable: a 12-row cross product
    "SELECT ?s ?v ?x ?y WHERE { ?s <n> ?v . ?x <p> ?y }",
    # 4 x 4 rows on ?y, which holds A twice on each side: 6 rows
    "SELECT ?x ?z ?y WHERE { ?x <p> ?y . ?z <p> ?y }",
])
def test_local_bgp_bound_checked_before_join(engines, monkeypatch, text):
    """Both inputs of a join fit LOCAL_BINDING_ROWS but its result
    does not: the BGP runs on Spark and the join is never built on
    the driver."""
    local, spark_eng = engines
    expected = _run(spark_eng, text)[0]
    assert len(expected) > 5

    def unbuilt(*args):
        raise AssertionError("join built past the bindings bound")

    monkeypatch.setattr(local_mod, "LOCAL_BINDING_ROWS", 5)
    monkeypatch.setattr(local_mod, "_join", unbuilt)
    rows, _c, _s, taken = _run(local, text)
    assert taken == [False] and rows == expected


def test_local_bgp_runs_no_spark_job(spark, engines):
    """A projection, FILTER or LIMIT above a driver-side BGP folds into
    the local relation: collecting it submits no Spark job."""
    local, _ = engines
    sc = spark.sparkContext
    group = "test-local-bgp"
    sc.setJobGroup(group, "driver-side BGPs")
    try:
        for name in ("sh_var_both_roles", "star", "filter", "bnode_var"):
            local.query(_LOCAL_QUERIES[name]).collect()
        local.query("SELECT ?x WHERE { ?x <p> ?y } LIMIT 1").collect()
        time.sleep(1)  # the status store hears of jobs asynchronously
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


_UPDATES = {
    "delete_insert": (
        "DELETE { ?x <q> ?y } INSERT { ?y <rev_q> ?x } "
        "WHERE { ?x <q> ?y . ?y <p> ?z }",
        [True, True],  # the INSERT and DELETE templates
        [("B", "rev_q", "A")],
        [("A", "q", "B")],
    ),
    "delete_where_ground": (
        "DELETE WHERE { <A> <q> <B> . ?s <n> ?v }",
        [True],
        [("A", "p", "A")],
        [("A", "q", "B"), ("S1", "n", f'"5"^^<{_INT}>')],
    ),
}


@pytest.mark.parametrize("name", sorted(_UPDATES))
def test_update_where_on_driver_matches_spark_path(spark, tmp_path, monkeypatch, name):
    """DELETE/INSERT WHERE instantiates its templates through
    from_catalog; the published result is the same whether its WHERE
    ran on the driver or on Spark."""
    update, paths, kept, deleted = _UPDATES[name]
    taken = []
    plain = SparqlEngine._local_bgp

    def spy(self, batch):
        bf = plain(self, batch)
        taken.append(bf is not None)
        return bf

    def published(catalog):
        return sorted(tuple(r) for r in decode_triples(
            catalog.read("triples_spo"), catalog.read("dict_terms")
        ).collect())

    monkeypatch.setattr(SparqlEngine, "_local_bgp", spy)
    on_driver = _publish(spark, tmp_path / "driver")
    apply_update(spark, on_driver, update, num_partitions=2)
    assert taken == paths
    monkeypatch.setattr(SparqlEngine, "_local_bgp", lambda self, batch: None)
    on_spark = _publish(spark, tmp_path / "spark")
    apply_update(spark, on_spark, update, num_partitions=2)
    got = published(on_driver)
    assert got == published(on_spark)
    assert set(kept) <= set(got) and not set(deleted) & set(got)
