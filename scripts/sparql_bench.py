"""SPARQL query-latency bench: warm per-query wall times over the
encoded tables at $SPARK_GRAFT_SF_DIR (default sf0.1), local[$SPARK_
GRAFT_CPUS]. The dataset is built once (extract -> dict -> encode,
cached); each query then runs COLD_RUNS+N times and the best warm time
is reported — the serving-side figure a reference user cares about
(their .hdt is pre-built too).

Prints ONE JSON line {"metric": "sparql_query_suite", ...,
"queries": {name: sec}} and writes BENCH/sparql_bench_latest.json.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from qendpoint_spark.dictionary import build_dictionary  # noqa: E402
from qendpoint_spark.encoding import (  # noqa: E402
    encode_triples,
    predicate_index,
    pso_table,
)
from qendpoint_spark.extraction import (  # noqa: E402
    extract_triples_from_documents,
)
from qendpoint_spark.plans import PatternStats  # noqa: E402
from qendpoint_spark.session import get_spark  # noqa: E402
from qendpoint_spark.sparql import SparqlEngine  # noqa: E402

P = "PREFIX p: <http://example.org/prop/>\n"

SUITE = {
    "bgp_join": "SELECT ?doc ?label WHERE { ?doc p:mentions ?ent . "
                "?ent p:label ?label }",
    "bgp_star": "SELECT ?doc ?e ?l ?n WHERE { ?doc p:mentions ?e ; "
                "p:lang ?l ; p:nchars ?n }",
    "filter_numeric": "SELECT ?doc ?nc WHERE { ?doc p:nchars ?nc . "
                      "FILTER(?nc >= 500) }",
    "agg_group": "SELECT ?doc (COUNT(?e) AS ?n) WHERE "
                 "{ ?doc p:mentions ?e } GROUP BY ?doc",
    "path_seq": "SELECT ?doc ?src WHERE "
                "{ ?doc p:provenance/p:fromSource ?src }",
    "optional": "SELECT ?doc ?e WHERE { ?doc p:lang ?l OPTIONAL "
                '{ ?doc p:mentions ?e . ?e p:label "scan" } }',
    "exists": "SELECT ?doc WHERE { ?doc p:crawldate ?d . "
              "FILTER EXISTS { ?doc p:mentions ?e } }",
    "order_limit": "SELECT DISTINCT ?label WHERE { ?e p:label ?label } "
                   "ORDER BY ?label LIMIT 20",
}

WARM_RUNS = 3


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    expand = int(os.environ.get("SPARK_GRAFT_EXPAND", "40"))
    spark = get_spark("sparql-bench", cores=cpus)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    if expand > 1:  # same corpus replication as bench.py
        from pyspark.sql import functions as F

        max_id = docs.agg(F.max("doc_id")).collect()[0][0] + 1
        reps = spark.range(expand).withColumnRenamed("id", "rep")
        docs = (
            docs.crossJoin(reps)
            .withColumn(
                "doc_id", F.col("doc_id") + F.col("rep") * F.lit(max_id)
            )
            .drop("rep")
        )
    tri = extract_triples_from_documents(docs).localCheckpoint(eager=True)
    d = build_dictionary(tri)
    enc = encode_triples(tri, d).localCheckpoint(eager=True)
    n_triples = enc.count()
    eng = SparqlEngine(
        enc, d, pso=pso_table(enc).localCheckpoint(eager=True),
        stats=PatternStats(predicate_index(enc)),
    )
    results: dict[str, float] = {}
    rows: dict[str, int] = {}
    for name, q in SUITE.items():
        df = eng.query(P + q)
        best = float("inf")
        for i in range(WARM_RUNS + 1):
            t0 = time.time()
            n = df.count()
            dt = time.time() - t0
            if i > 0:  # first run warms codegen/broadcasts
                best = min(best, dt)
        results[name] = round(best, 3)
        rows[name] = n
    out = {
        "metric": "sparql_query_suite",
        "value": round(sum(results.values()), 3),
        "unit": "sec",
        "queries": results,
        "rows": rows,
        "sf": sf_dir.rstrip("/").split("/")[-1].replace("sf", ""),
        "triples": n_triples,
        "cpus": cpus,
        "expand": expand,
    }
    print(json.dumps(out))
    (REPO / "BENCH" / "sparql_bench_latest.json").write_text(
        json.dumps(out, indent=2)
    )
    spark.stop()


if __name__ == "__main__":
    main()
