"""SPARQL text front-end: parser + DataFrame algebra compiler.

The reference serves SPARQL strings (EndpointStore + RDF4J's
SPARQLParser; qendpoint-store/.../EndpointStore.java, the repl in
qendpoint-backend). This package is the Spark-native equivalent:
`parse_query` turns a SPARQL string into a small AST and
`SparqlEngine.query` compiles the AST onto the encoded HDT-style
tables through the existing routed planners (plans.pattern /
plans.paths), decoding bindings to lexical terms only at the edges
(late materialization).
"""

from qendpoint_spark.sparql.parser import parse_query, parse_update
from qendpoint_spark.sparql.algebra import SparqlEngine
from qendpoint_spark.sparql.update import apply_update

__all__ = [
    "parse_query",
    "parse_update",
    "SparqlEngine",
    "apply_update",
]
