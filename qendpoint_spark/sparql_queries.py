"""Driver-gate rows for the SPARQL text front-end (sparql/).

Each row runs a SPARQL *string* through SparqlEngine against the
encoded tables built from the documents corpus — exercising the whole
stack: extraction grammar -> dictionary -> encode -> parser -> routed
BGP/path planner -> late-materialized decode. The oracles recompute
the same answers in DuckDB at the string-triple level (the `triples`
CTE from entry_queries mirrors the extraction grammar exactly), so a
pass means the ID round-trip through the engine is value-exact.

Reference anchor: the reference's user API is SPARQL text over the
HDT store (EndpointStore + RDF4J SPARQLParser); these rows are the
parity checks a reference user would care about when switching.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from qendpoint_spark.entry_queries import (
    _dict,
    _docs,
    _enc,
    _scratch_dir,
    _triples_cte,
    updated_state,
)

_P = "PREFIX p: <http://example.org/prop/>\n"
_PRE = "\nWITH " + _triples_cte("triples") + "\n"

_MENTIONS = "http://example.org/prop/mentions"
_LABEL = "http://example.org/prop/label"
_LANG = "http://example.org/prop/lang"
_SOURCE = "http://example.org/prop/source"
_NCHARS = "http://example.org/prop/nchars"
_CRAWL = "http://example.org/prop/crawldate"
_FLAG = "http://example.org/prop/flag"
_PROV = "http://example.org/prop/provenance"
_FROMSRC = "http://example.org/prop/fromSource"
_TRUE = '"true"^^<http://www.w3.org/2001/XMLSchema#boolean>'

_ENGINES: dict[tuple[int, str], object] = {}


def _quad_engine(spark: SparkSession, sf_dir: str, per_doc: bool = False):
    """Engine over the quad grammar (per-source named graphs, or one
    named graph per document): quads table for GRAPH patterns, default
    graph = union of all graphs."""
    key = (id(spark), sf_dir, "quads", per_doc)
    if key not in _ENGINES:
        from pyspark.sql import functions as F

        from qendpoint_spark.dictionary import build_dictionary
        from qendpoint_spark.encoding import encode_triples
        from qendpoint_spark.entry_queries import _docs, quad_triples_str
        from qendpoint_spark.sparql import SparqlEngine

        base = quad_triples_str(_docs(spark, sf_dir))
        if per_doc:
            base = base.withColumn("g", F.regexp_replace(
                "s", "^http://example.org/doc/", "http://example.org/graph/doc/"
            ))
        qdict = build_dictionary(base)
        encq = encode_triples(base, qdict).localCheckpoint(eager=True)
        tri = encq.drop("g").dropDuplicates(["s", "p", "o"])
        _ENGINES[key] = SparqlEngine(tri, qdict, quads=encq)
        if len(_ENGINES) > 8:
            _ENGINES.pop(next(iter(_ENGINES)))
    return _ENGINES[key]


def _qq(text: str, per_doc: bool = False):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return _quad_engine(spark, sf_dir, per_doc).query(text)

    return run


def _engine(spark: SparkSession, sf_dir: str):
    key = (id(spark), sf_dir)
    if key not in _ENGINES:
        from qendpoint_spark.encoding import predicate_index, pso_table
        from qendpoint_spark.plans import PatternStats
        from qendpoint_spark.sparql import SparqlEngine

        enc = _enc(spark, sf_dir)
        _ENGINES[key] = SparqlEngine(
            enc,
            _dict(spark, sf_dir),
            pso=pso_table(enc),
            stats=PatternStats(predicate_index(enc)),
        )
        if len(_ENGINES) > 8:
            _ENGINES.pop(next(iter(_ENGINES)))
    return _ENGINES[key]


def _q(text: str):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return _engine(spark, sf_dir).query(text)

    return run


def _catalog_engine(spark: SparkSession, sf_dir: str):
    """Engine over a warehouse that run_pipeline published from the
    documents corpus: constants resolve through the dict_terms block
    directory, not a Spark lookup."""
    key = (id(spark), sf_dir, "catalog")
    if key not in _ENGINES:
        import hashlib

        from qendpoint_spark.catalog import Catalog
        from qendpoint_spark.pipeline import run_pipeline
        from qendpoint_spark.sparql import SparqlEngine

        fp = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
        catalog = Catalog(spark, f"{_scratch_dir()}/qs_sparql_wh_{fp}")
        run_pipeline(
            spark, catalog, source_df=_docs(spark, sf_dir),
            source_kind="documents", source_fingerprint=fp, force=True,
        )
        _ENGINES[key] = SparqlEngine.from_catalog(catalog)
        if len(_ENGINES) > 8:
            _ENGINES.pop(next(iter(_ENGINES)))
    return _ENGINES[key]


def _qc(text: str):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return _catalog_engine(spark, sf_dir).query(text)

    return run


_UPDATE_TEXT = (
    _P
    + "DELETE { ?doc p:flag ?f } WHERE { ?doc p:flag ?f } ;\n"
    + "INSERT { ?e <http://example.org/prop/mentionedBy> ?doc } "
    + "WHERE { ?doc p:mentions ?e } ;\n"
    + "INSERT DATA { <http://example.org/meta> "
    + '<http://example.org/prop/version> "v2" }'
)


def _sparql_update_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch SPARQL UPDATE over a published warehouse of the corpus:
    drop every flag triple, materialize inverse mentions edges, append
    one metadata statement — the pipeline analog of the reference's
    delta-store UPDATE path (EndpointStoreConnection), each op one
    ID-space diffcat (sparql/update.py)."""
    fp = f"sparql-update-row:{sf_dir}"
    return updated_state(spark, _docs(spark, sf_dir), fp, [_UPDATE_TEXT])


SPARQL_QUERIES = {
    # 2-pattern BGP through the full parse->plan->decode stack
    "sparql_select_join": _q(
        _P
        + "SELECT ?doc ?label WHERE { ?doc p:mentions ?ent . "
        "?ent p:label ?label }"
    ),
    # numeric FILTER over a typed literal (value comparison, not term)
    "sparql_filter_numeric": _q(
        _P
        + "SELECT ?doc ?nc WHERE { ?doc p:nchars ?nc . FILTER(?nc >= 500) }"
    ),
    # string functions over an IRI binding
    "sparql_filter_str": _q(
        _P
        + "SELECT ?doc ?ent WHERE { ?doc p:mentions ?ent . "
        'FILTER(STRSTARTS(STR(?ent), "http://example.org/ent/s")) }'
    ),
    # UNION with a shared object-role variable across branches
    "sparql_union": _q(
        _P
        + "SELECT ?doc ?v WHERE { { ?doc p:source ?v } UNION "
        "{ ?doc p:lang ?v } }"
    ),
    # OPTIONAL with a selective inner join; unmatched docs keep NULL
    "sparql_optional": _q(
        _P
        + "SELECT ?doc ?ent WHERE { ?doc p:lang ?l OPTIONAL { "
        '?doc p:mentions ?ent . ?ent p:label "scan" } }'
    ),
    # GROUP BY + COUNT + HAVING
    "sparql_agg_having": _q(
        _P
        + "SELECT ?doc (COUNT(?ent) AS ?n) WHERE { ?doc p:mentions ?ent }"
        " GROUP BY ?doc HAVING(?n >= 5)"
    ),
    # sequence path whose middle node is a blank node (SH membership)
    "sparql_path_seq": _q(
        _P + "SELECT ?doc ?src WHERE { ?doc p:provenance/p:fromSource ?src }"
    ),
    # inverse path step
    "sparql_path_inverse": _q(
        _P + "SELECT ?ent ?doc WHERE { ?ent ^p:mentions ?doc }"
    ),
    # CONSTRUCT: template instantiation back to term-level triples
    "sparql_construct": _q(
        _P
        + "CONSTRUCT { ?ent <http://example.org/prop/mentionedBy> ?doc } "
        "WHERE { ?doc p:mentions ?ent }"
    ),
    # ASK with a constant object term resolved through the dictionary
    "sparql_ask": _q(_P + "ASK { ?doc p:flag true }"),
    # VALUES inline data + BIND computed column
    "sparql_values_bind": _q(
        _P
        + "SELECT ?doc ?lang ?len WHERE { ?doc p:lang ?lang . "
        'VALUES ?lang { "en"@en "de"@de } '
        "BIND(STRLEN(STR(?doc)) AS ?len) }"
    ),
    # DISTINCT + ORDER BY DESC + LIMIT (unique keys: deterministic)
    "sparql_distinct_order_limit": _q(
        _P
        + "SELECT DISTINCT ?lang WHERE { ?doc p:lang ?lang } "
        "ORDER BY DESC(?lang) LIMIT 3"
    ),
    # MINUS with a constant-term pattern
    "sparql_minus": _q(
        _P
        + "SELECT ?doc WHERE { ?doc p:crawldate ?d MINUS "
        "{ ?doc p:flag true } }"
    ),
    # FILTER EXISTS -> semi join on the shared variable
    "sparql_exists": _q(
        _P
        + "SELECT ?doc WHERE { ?doc p:crawldate ?d . "
        'FILTER EXISTS { ?doc p:mentions ?e . ?e p:label "scan" } }'
    ),
    # FILTER NOT EXISTS -> anti join (vs MINUS: differs on disjoint
    # groups; here shared-var so both would agree — the operator is
    # still exercised end to end through the parser)
    "sparql_not_exists": _q(
        _P
        + "SELECT ?doc WHERE { ?doc p:crawldate ?d . "
        'FILTER NOT EXISTS { ?doc p:mentions ?e . ?e p:label "scan" } }'
    ),
    # variable predicate + term-test function over the full scan
    "sparql_isblank": _q(
        "SELECT ?s ?o WHERE { ?s ?pr ?o . FILTER(isBlank(?o)) }"
    ),
    # nested { SELECT } joined with the outer group
    "sparql_subquery": _q(
        _P
        + "SELECT ?doc ?l ?n WHERE { ?doc p:lang ?l . "
        "{ SELECT ?doc (COUNT(?e) AS ?n) WHERE { ?doc p:mentions ?e } "
        "GROUP BY ?doc } }"
    ),
    # GROUP_CONCAT with explicit separator (sorted-deterministic)
    "sparql_group_concat": _q(
        _P
        + 'SELECT ?doc (GROUP_CONCAT(?label; SEPARATOR="|") AS ?ls) '
        "WHERE { ?doc p:mentions ?e . ?e p:label ?label } GROUP BY ?doc"
    ),
    # SAMPLE (deterministic min-of-lexical choice)
    "sparql_sample": _q(
        _P
        + "SELECT ?l (SAMPLE(?doc) AS ?d0) WHERE { ?doc p:lang ?l } "
        "GROUP BY ?l"
    ),
    # DESCRIBE: incident triples of the resources bound by WHERE
    "sparql_describe": _q(
        _P + 'DESCRIBE ?e WHERE { ?e p:label "scan" }'
    ),
    # GRAPH with a graph variable over the quad table
    "sparql_graph_var": _qq(
        _P + "SELECT ?doc ?g WHERE { GRAPH ?g { ?doc p:source ?src } }"
    ),
    # GRAPH with a constant graph IRI (bound gid pushed into the scan)
    "sparql_graph_const": _qq(
        _P
        + "SELECT ?doc ?l WHERE { GRAPH "
        "<http://example.org/graph/src3> { ?doc p:lang ?l } }"
    ),
    # batch SPARQL UPDATE folded over the triple state
    "sparql_update_apply": _sparql_update_apply,
    # zero-or-one path (`?` modifier): provenance edge or self — the
    # zero-length half matches EVERY graph node (SPARQL 1.1 §18.4)
    "sparql_path_zero_or_one": _q(
        _P + "SELECT ?a ?b WHERE { ?a p:provenance? ?b }"
    ),
    # negated property set: every edge EXCEPT mentions/provenance,
    # multiset semantics (one solution per matching triple)
    "sparql_negated_pset": _q(
        _P + "SELECT ?doc ?v WHERE { ?doc !(p:mentions|p:provenance) ?v }"
    ),
    # VALUES with UNDEF: the unconstrained row joins every solution
    # (solution-compatibility, not equality)
    "sparql_values_undef": _q(
        _P
        + "SELECT ?doc ?lang WHERE { ?doc p:lang ?lang . "
        'VALUES (?lang) { ("en"@en) (UNDEF) } }'
    ),
    # VALUES first, then OPTIONAL (spec 18.2.2.6): OPTIONAL extends
    # the inline rows, so the IRI with no lang edge keeps ?l unbound
    "sparql_values_optional": _q(
        _P
        + "SELECT ?doc ?l WHERE { VALUES ?doc { <http://example.org/doc/1> "
        "<http://example.org/doc/2> <http://example.org/doc/none> } "
        "OPTIONAL { ?doc p:lang ?l } }"
    ),
    # a VALUES variable that BIND reads, already bound by the pattern
    # before it: the deferred VALUES join only filters rows
    "sparql_values_bind_shared": _q(
        _P
        + "SELECT ?doc ?lang ?tag WHERE { ?doc p:lang ?lang . "
        'VALUES ?lang { "en"@en "de"@de } BIND(STR(?lang) AS ?tag) }'
    ),
    # ORDER BY over a typed numeric literal: value order (9 < 10),
    # with a lexical tiebreak so LIMIT is deterministic
    "sparql_order_numeric": _q(
        _P
        + "SELECT ?doc ?nc WHERE { ?doc p:nchars ?nc } "
        "ORDER BY DESC(?nc) DESC(?doc) LIMIT 5"
    ),
    # DISTINCT whose ORDER BY key is NOT functionally dependent on the
    # projection: dedup must act on the projected column only
    "sparql_distinct_indep_order": _q(
        _P
        + "SELECT DISTINCT ?ent WHERE { ?doc p:mentions ?ent } "
        "ORDER BY ?doc"
    ),
    # aggregates over COMPUTED arguments (round 5): arithmetic inside
    # AVG, a conditional SUM(IF(...)), COUNT(DISTINCT STR(...)) — the
    # expression materializes as a pre-aggregation column
    "sparql_agg_expr": _q(
        _P
        + "SELECT ?lang (AVG(?nc * 2) AS ?avg2) "
        "(SUM(IF(?nc >= 500, 1, 0)) AS ?big) "
        "(COUNT(DISTINCT STR(?doc)) AS ?docs) "
        "WHERE { ?doc p:lang ?lang . ?doc p:nchars ?nc } GROUP BY ?lang"
    ),
    # OPTIONAL inside a constant GRAPH: the body compiles through the
    # group machinery over the quads, the gid filter pushed into the scan
    "sparql_graph_optional": _qq(
        _P
        + "SELECT ?doc ?l WHERE { GRAPH "
        "<http://example.org/graph/src3> "
        "{ ?doc p:source ?src OPTIONAL { ?doc p:lang ?l } } }"
    ),
    # projection EXPRESSIONS over aggregates (round 5): a ratio of two
    # aggregates in one (expr AS ?v), plus a direct (unaliased)
    # aggregate inside HAVING
    "sparql_proj_expr": _q(
        _P
        + "SELECT ?lang (SUM(?nc)/COUNT(*) AS ?mean_nc) "
        "WHERE { ?doc p:lang ?lang . ?doc p:nchars ?nc } "
        "GROUP BY ?lang HAVING(COUNT(*) > 10)"
    ),
    # property path (alternation) under a graph VARIABLE: the path's
    # edges carry the graph id, ?g is that key at the GRAPH boundary
    "sparql_graph_path": _qq(
        _P
        + "SELECT ?g ?doc ?v WHERE { GRAPH ?g "
        "{ ?doc (p:lang|p:source) ?v } }"
    ),
    # OPTIONAL under a graph VARIABLE over one named graph per document
    # (500 graphs at sf0.01, 5,000 at sf0.1): one plan keyed on the
    # graph id, whatever the number of graphs
    "sparql_graph_var_optional": _qq(
        _P
        + "SELECT ?g ?doc ?src ?l WHERE { GRAPH ?g "
        "{ ?doc p:source ?src OPTIONAL { ?doc p:lang ?l } } }",
        per_doc=True,
    ),
    # mixed-role path alternative (round 5): p|^p binds conflicting ID
    # spaces per branch — decomposed into per-branch pattern compiles
    # reconciled by _union (set semantics, like every path alt)
    "sparql_path_mixed_alt": _q(
        _P + "SELECT ?a ?b WHERE { ?a (p:mentions|^p:mentions) ?b }"
    ),
    # mixed NPS (round 5): !(p|^q) = !(p) | ^!(q) per SPARQL 1.1 §9.1
    "sparql_nps_mixed": _q(
        _P + "SELECT ?a ?b WHERE { ?a !(p:mentions|^p:provenance) ?b }"
    ),
    # closure over a mixed-role edge set (round 5): undirected
    # reachability (p|^p)+ — evaluated exactly in term space (the
    # branch edge sets interleave inside the closure, so no ID-space
    # decomposition exists)
    "sparql_path_undirected_closure": _q(
        _P
        + "SELECT ?a ?b WHERE { ?a (p:provenance|^p:provenance)+ ?b }"
    ),
    # constants resolved through a published warehouse's dictionary
    # block directory: an SH entity as object and as subject, a typed
    # and a lang literal, and an unknown IRI inside OPTIONAL (absent ->
    # the optional part matches nothing, ?x stays unbound)
    "sparql_catalog_consts": _qc(
        _P
        + "SELECT ?doc ?l ?x WHERE { ?doc p:mentions <http://example.org/ent/scan> . "
        "<http://example.org/ent/scan> p:label ?l . "
        '?doc p:lang "en"@en ; p:flag true '
        "OPTIONAL { ?doc p:mentions <http://example.org/ent/__absent__> ; "
        "p:source ?x } }"
    ),
    # a bounded BGP evaluated on the driver over the row-group
    # directories (plans.local): a two-hop through an SH entity (object
    # of mentions, subject of label), a star on ?doc and a FILTER
    # over the BGP's decoded terms
    "sparql_catalog_bgp": _qc(
        _P
        + "SELECT ?doc ?e ?l ?src WHERE { ?doc p:mentions ?e . ?e p:label ?l . "
        '?doc p:source ?src ; p:lang "en"@en ; p:nchars ?n '
        "FILTER(?n >= 500) }"
    ),
}


def _quads_cte(graph: str) -> str:
    """The quad grammar as a `quads` CTE, each statement in the named
    graph of the SQL expression `graph`."""
    return f"""
WITH quads AS (
  SELECT DISTINCT * FROM (
    SELECT 'http://example.org/doc/' || doc_id AS s,
           'http://example.org/prop/lang' AS p,
           '"' || lang || '"@' || lang AS o,
           {graph} AS g
    FROM documents
    UNION ALL
    SELECT 'http://example.org/doc/' || doc_id,
           'http://example.org/prop/source',
           '"' || source || '"',
           {graph}
    FROM documents
  )
)
"""


_QUADS_CTE = _quads_cte("'http://example.org/graph/' || source")
_DOC_QUADS_CTE = _quads_cte("'http://example.org/graph/doc/' || doc_id")


SPARQL_ORACLES = {
    "sparql_select_join": _PRE
    + f"""
SELECT t1.s AS doc, t2.o AS label
FROM triples t1 JOIN triples t2 ON t1.o = t2.s
WHERE t1.p = '{_MENTIONS}' AND t2.p = '{_LABEL}'
""",
    "sparql_filter_numeric": _PRE
    + f"""
SELECT s AS doc, o AS nc FROM triples
WHERE p = '{_NCHARS}'
  AND CAST(regexp_extract(o, '^"([^"]*)"', 1) AS DOUBLE) >= 500
""",
    "sparql_filter_str": _PRE
    + f"""
SELECT s AS doc, o AS ent FROM triples
WHERE p = '{_MENTIONS}' AND o LIKE 'http://example.org/ent/s%'
""",
    "sparql_union": _PRE
    + f"""
SELECT s AS doc, o AS v FROM triples WHERE p = '{_SOURCE}'
UNION ALL
SELECT s AS doc, o AS v FROM triples WHERE p = '{_LANG}'
""",
    "sparql_optional": _PRE
    + f"""
SELECT t.s AS doc, m.ent AS ent
FROM triples t LEFT JOIN (
  SELECT t1.s AS d2, t1.o AS ent
  FROM triples t1 JOIN triples t2 ON t1.o = t2.s
  WHERE t1.p = '{_MENTIONS}' AND t2.p = '{_LABEL}' AND t2.o = '"scan"'
) m ON t.s = m.d2
WHERE t.p = '{_LANG}'
""",
    "sparql_agg_having": _PRE
    + f"""
SELECT s AS doc, CAST(COUNT(o) AS BIGINT) AS n FROM triples
WHERE p = '{_MENTIONS}' GROUP BY s HAVING COUNT(o) >= 5
""",
    "sparql_path_seq": _PRE
    + f"""
SELECT DISTINCT t1.s AS doc, t2.o AS src
FROM triples t1 JOIN triples t2 ON t1.o = t2.s
WHERE t1.p = '{_PROV}' AND t2.p = '{_FROMSRC}'
""",
    "sparql_path_inverse": _PRE
    + f"""
SELECT o AS ent, s AS doc FROM triples WHERE p = '{_MENTIONS}'
""",
    "sparql_construct": _PRE
    + f"""
SELECT DISTINCT o AS s, 'http://example.org/prop/mentionedBy' AS p, s AS o
FROM triples WHERE p = '{_MENTIONS}'
""",
    "sparql_ask": _PRE
    + f"""
SELECT EXISTS(
  SELECT 1 FROM triples WHERE p = '{_FLAG}' AND o = '{_TRUE}'
) AS ask
""",
    "sparql_values_bind": _PRE
    + f"""
SELECT s AS doc, o AS lang, CAST(length(s) AS INTEGER) AS len
FROM triples
WHERE p = '{_LANG}' AND o IN ('"en"@en', '"de"@de')
""",
    "sparql_distinct_order_limit": _PRE
    + f"""
SELECT DISTINCT o AS lang FROM triples WHERE p = '{_LANG}'
ORDER BY o DESC LIMIT 3
""",
    "sparql_minus": _PRE
    + f"""
SELECT t.s AS doc FROM triples t
WHERE t.p = '{_CRAWL}'
  AND t.s NOT IN (
    SELECT s FROM triples WHERE p = '{_FLAG}' AND o = '{_TRUE}'
  )
""",
    "sparql_exists": _PRE
    + f"""
SELECT t.s AS doc FROM triples t
WHERE t.p = '{_CRAWL}'
  AND EXISTS (
    SELECT 1 FROM triples t1 JOIN triples t2 ON t1.o = t2.s
    WHERE t1.p = '{_MENTIONS}' AND t2.p = '{_LABEL}'
      AND t2.o = '"scan"' AND t1.s = t.s
  )
""",
    "sparql_not_exists": _PRE
    + f"""
SELECT t.s AS doc FROM triples t
WHERE t.p = '{_CRAWL}'
  AND NOT EXISTS (
    SELECT 1 FROM triples t1 JOIN triples t2 ON t1.o = t2.s
    WHERE t1.p = '{_MENTIONS}' AND t2.p = '{_LABEL}'
      AND t2.o = '"scan"' AND t1.s = t.s
  )
""",
    "sparql_isblank": _PRE
    + """
SELECT s, o FROM triples WHERE o LIKE '_:%'
""",
    "sparql_subquery": _PRE
    + f"""
SELECT t.s AS doc, t.o AS l, m.n AS n
FROM triples t JOIN (
  SELECT s, CAST(COUNT(o) AS BIGINT) AS n FROM triples
  WHERE p = '{_MENTIONS}' GROUP BY s
) m ON t.s = m.s
WHERE t.p = '{_LANG}'
""",
    "sparql_group_concat": _PRE
    + f"""
SELECT t1.s AS doc, string_agg(t2.o, '|' ORDER BY t2.o) AS ls
FROM triples t1 JOIN triples t2 ON t1.o = t2.s
WHERE t1.p = '{_MENTIONS}' AND t2.p = '{_LABEL}'
GROUP BY t1.s
""",
    "sparql_sample": _PRE
    + f"""
SELECT o AS l, min(s) AS d0 FROM triples WHERE p = '{_LANG}' GROUP BY o
""",
    "sparql_describe": _PRE
    + f"""
, r AS (SELECT s FROM triples WHERE p = '{_LABEL}' AND o = '"scan"')
SELECT DISTINCT t.s, t.p, t.o FROM triples t
WHERE t.s IN (SELECT s FROM r) OR t.o IN (SELECT s FROM r)
""",
    "sparql_graph_var": _QUADS_CTE
    + f"""
SELECT s AS doc, g FROM quads WHERE p = '{_SOURCE}'
""",
    "sparql_graph_const": _QUADS_CTE
    + f"""
SELECT s AS doc, o AS l FROM quads
WHERE p = '{_LANG}' AND g = 'http://example.org/graph/src3'
""",
    "sparql_update_apply": _PRE
    + f"""
SELECT s, p, o FROM triples WHERE p != '{_FLAG}'
UNION
SELECT DISTINCT o AS s, 'http://example.org/prop/mentionedBy' AS p,
       s AS o
FROM triples WHERE p = '{_MENTIONS}'
UNION
SELECT 'http://example.org/meta', 'http://example.org/prop/version',
       '"v2"'
""",
    "sparql_path_zero_or_one": _PRE
    + f"""
SELECT a, b FROM (
  SELECT x AS a, x AS b FROM (
    SELECT s AS x FROM triples UNION SELECT o AS x FROM triples
  )
  UNION
  SELECT s AS a, o AS b FROM triples WHERE p = '{_PROV}'
)
""",
    "sparql_negated_pset": _PRE
    + f"""
SELECT s AS doc, o AS v FROM triples
WHERE p NOT IN ('{_MENTIONS}', '{_PROV}')
""",
    "sparql_values_undef": _PRE
    + f"""
SELECT s AS doc, o AS lang FROM triples
WHERE p = '{_LANG}' AND o = '"en"@en'
UNION ALL
SELECT s AS doc, o AS lang FROM triples WHERE p = '{_LANG}'
""",
    "sparql_values_optional": _PRE
    + f"""
SELECT v.doc AS doc, t.o AS l
FROM (VALUES ('http://example.org/doc/1'), ('http://example.org/doc/2'),
             ('http://example.org/doc/none')) v(doc)
LEFT JOIN triples t ON t.s = v.doc AND t.p = '{_LANG}'
""",
    "sparql_values_bind_shared": _PRE
    + f"""
SELECT s AS doc, o AS lang, regexp_extract(o, '^"([^"]*)"', 1) AS tag
FROM triples
WHERE p = '{_LANG}' AND o IN ('"en"@en', '"de"@de')
""",
    "sparql_order_numeric": _PRE
    + f"""
SELECT s AS doc, o AS nc FROM triples WHERE p = '{_NCHARS}'
ORDER BY CAST(regexp_extract(o, '^"([^"]*)"', 1) AS DOUBLE) DESC, s DESC
LIMIT 5
""",
    "sparql_distinct_indep_order": _PRE
    + f"""
SELECT DISTINCT o AS ent FROM triples WHERE p = '{_MENTIONS}'
""",
    "sparql_agg_expr": _PRE
    + f"""
SELECT l.o AS lang,
       AVG(CAST(regexp_extract(n.o, '^"([^"]*)"', 1) AS DOUBLE) * 2)
         AS avg2,
       CAST(SUM(CASE WHEN
         CAST(regexp_extract(n.o, '^"([^"]*)"', 1) AS DOUBLE) >= 500
         THEN 1 ELSE 0 END) AS DOUBLE) AS big,
       CAST(COUNT(DISTINCT l.s) AS BIGINT) AS docs
FROM triples l JOIN triples n ON l.s = n.s
WHERE l.p = '{_LANG}' AND n.p = '{_NCHARS}'
GROUP BY l.o
""",
    "sparql_proj_expr": _PRE
    + f"""
SELECT l.o AS lang,
       SUM(CAST(regexp_extract(n.o, '^"([^"]*)"', 1) AS DOUBLE))
         / CAST(COUNT(*) AS DOUBLE) AS mean_nc
FROM triples l JOIN triples n ON l.s = n.s
WHERE l.p = '{_LANG}' AND n.p = '{_NCHARS}'
GROUP BY l.o HAVING COUNT(*) > 10
""",
    "sparql_graph_optional": _QUADS_CTE
    + f"""
SELECT s.s AS doc, l.o AS l
FROM quads s LEFT JOIN quads l
  ON s.s = l.s AND l.p = '{_LANG}'
 AND l.g = 'http://example.org/graph/src3'
WHERE s.p = '{_SOURCE}' AND s.g = 'http://example.org/graph/src3'
""",
    "sparql_graph_path": _QUADS_CTE
    + f"""
SELECT g, s AS doc, o AS v FROM quads
WHERE p IN ('{_LANG}', '{_SOURCE}')
""",
    "sparql_graph_var_optional": _DOC_QUADS_CTE
    + f"""
SELECT s.g, s.s AS doc, s.o AS src, l.o AS l
FROM quads s LEFT JOIN quads l
  ON l.s = s.s AND l.g = s.g AND l.p = '{_LANG}'
WHERE s.p = '{_SOURCE}'
""",
    "sparql_path_mixed_alt": _PRE
    + f"""
SELECT a, b FROM (
  SELECT s AS a, o AS b FROM triples WHERE p = '{_MENTIONS}'
  UNION
  SELECT o AS a, s AS b FROM triples WHERE p = '{_MENTIONS}'
)
""",
    "sparql_nps_mixed": _PRE
    + f"""
SELECT a, b FROM (
  SELECT s AS a, o AS b FROM triples WHERE p <> '{_MENTIONS}'
  UNION
  SELECT o AS a, s AS b FROM triples WHERE p <> '{_PROV}'
)
""",
    "sparql_path_undirected_closure": "\nWITH RECURSIVE "
    + _triples_cte("triples")
    + f""",
edges AS (
  SELECT s AS src, o AS dst FROM triples WHERE p = '{_PROV}'
  UNION
  SELECT o AS src, s AS dst FROM triples WHERE p = '{_PROV}'
),
closure AS (
  SELECT src, dst FROM edges
  UNION
  SELECT c.src, e.dst FROM closure c JOIN edges e ON c.dst = e.src
)
SELECT src AS a, dst AS b FROM closure
""",
    "sparql_catalog_consts": _PRE
    + f"""
SELECT m.s AS doc, l.o AS l, opt.x AS x
FROM triples m
JOIN triples l ON l.s = m.o AND l.p = '{_LABEL}'
JOIN triples g ON g.s = m.s AND g.p = '{_LANG}' AND g.o = '"en"@en'
JOIN triples f ON f.s = m.s AND f.p = '{_FLAG}' AND f.o = '{_TRUE}'
LEFT JOIN (
  SELECT a.s, b.o AS x FROM triples a JOIN triples b
    ON b.s = a.s AND b.p = '{_SOURCE}'
  WHERE a.p = '{_MENTIONS}' AND a.o = 'http://example.org/ent/__absent__'
) opt ON opt.s = m.s
WHERE m.p = '{_MENTIONS}' AND m.o = 'http://example.org/ent/scan'
""",
    "sparql_catalog_bgp": _PRE
    + f"""
SELECT m.s AS doc, m.o AS e, l.o AS l, src.o AS src
FROM triples m
JOIN triples l ON l.s = m.o AND l.p = '{_LABEL}'
JOIN triples src ON src.s = m.s AND src.p = '{_SOURCE}'
JOIN triples g ON g.s = m.s AND g.p = '{_LANG}' AND g.o = '"en"@en'
JOIN triples n ON n.s = m.s AND n.p = '{_NCHARS}'
WHERE m.p = '{_MENTIONS}'
  AND CAST(regexp_extract(n.o, '^"([^"]*)"', 1) AS DOUBLE) >= 500
""",
}
