"""SPARQL query-latency bench over a published warehouse: run_pipeline
publishes the documents at $SPARK_GRAFT_SF_DIR (default sf0.1,
replicated $SPARK_GRAFT_EXPAND times as in bench.py) into a temporary
warehouse on local[$SPARK_GRAFT_CPUS], and SparqlEngine.from_catalog
serves the suite — the reference user's flow of pointing hdtsparql at
a pre-built .hdt file.

Each query runs WARM_RUNS+1 times as `query()` + `count()`, so the
dictionary lookups of its constants are inside the timer. The first run
of a query is reported under "cold": it includes the block-directory
lookups and codegen warm-up; "queries" holds the best warm run.

Prints ONE JSON line {"metric": "sparql_query_suite", ...,
"queries": {name: sec}} and writes BENCH/sparql_bench_latest.json.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

from qendpoint_spark.catalog import Catalog  # noqa: E402
from qendpoint_spark.pipeline import run_pipeline  # noqa: E402
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
        max_id = docs.agg(F.max("doc_id")).collect()[0][0] + 1
        reps = spark.range(expand).withColumnRenamed("id", "rep")
        docs = (
            docs.crossJoin(reps)
            .withColumn(
                "doc_id", F.col("doc_id") + F.col("rep") * F.lit(max_id)
            )
            .drop("rep")
        )
    warehouse = tempfile.mkdtemp(prefix="qs_sparql_bench_")
    try:
        catalog = Catalog(spark, warehouse)
        report = run_pipeline(
            spark, catalog, source_df=docs, source_kind="documents",
            source_fingerprint=f"sparql-bench:{sf_dir}:{expand}",
            num_partitions=cpus * 2, with_pso=True, force=True,
        )
        eng = SparqlEngine.from_catalog(catalog)
        results: dict[str, float] = {}
        cold: dict[str, float] = {}
        rows: dict[str, int] = {}
        for name, q in SUITE.items():
            times = []
            for _ in range(WARM_RUNS + 1):
                t0 = time.time()
                n = eng.query(P + q).count()
                times.append(time.time() - t0)
            cold[name] = round(times[0], 3)
            results[name] = round(min(times[1:]), 3)
            rows[name] = n
        directory = eng.directory
        out = {
            "metric": "sparql_query_suite",
            "value": round(sum(results.values()), 3),
            "unit": "sec",
            "queries": results,
            "cold": cold,
            "rows": rows,
            "dict_row_groups": len(directory.blocks),
            "lookups": directory.lookups,
            "row_groups_read": directory.row_groups_read,
            "sf": sf_dir.rstrip("/").split("/")[-1].replace("sf", ""),
            "triples": report.n_triples,
            "cpus": cpus,
            "expand": expand,
        }
    finally:
        shutil.rmtree(warehouse, ignore_errors=True)
    print(json.dumps(out))
    (REPO / "BENCH" / "sparql_bench_latest.json").write_text(
        json.dumps(out, indent=2)
    )
    spark.stop()


if __name__ == "__main__":
    main()
