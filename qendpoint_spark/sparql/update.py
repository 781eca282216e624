"""Batch SPARQL UPDATE application.

The reference serves SPARQL UPDATE through a live delta store merged
into the HDT as one diffcat: a delete bitmap over triple positions
plus a cat of the insert delta (EndpointStoreConnection, MergeRunnable
step 2, HDTManager.diffHDT). `apply_update` does the same on the
published ID tables. Consecutive INSERT DATA / DELETE DATA ops fold on
the driver into one (insert set, delete set) pair; each DELETE/INSERT
WHERE instantiates its templates as a CONSTRUCT over the committed
pre-op state. Each group is one pipeline.incremental_update_triples
call: the deletes leave by a left_anti on the id key plus the live
dictionary (merge.diff_datasets), then the survivors and the insert
delta merge through KCat and are republished. Nothing is decoded.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession

from qendpoint_spark.sparql.algebra import SparqlEngine
from qendpoint_spark.sparql.parser import (
    DeleteData,
    InsertData,
    Modify,
    NumLit,
    Query,
    parse_update,
)


def _digest(text: str) -> str:
    """Deterministic update-script fingerprint.  Python's hash() is
    randomized per process (PYTHONHASHSEED), which would give the same
    update a different lineage identity every run and defeat the
    catalog's resume/idempotent-skip semantics."""
    return hashlib.sha256(text.encode("utf-8")).hexdigest()[:16]


def _ground(triples: list) -> set[tuple[str, str, str]]:
    def lex(x) -> str:
        return (x.as_term() if isinstance(x, NumLit) else x).lex

    return {(lex(t.s), lex(t.p), lex(t.o)) for t in triples}


def apply_update(
    spark: SparkSession,
    catalog,
    text: str,
    num_partitions: int | None = None,
):
    """Apply an update script to a published warehouse, one ID-space
    diffcat per op group; returns the last group's PipelineReport.
    A quad warehouse refuses every update before any Spark job
    (publish_merged cannot rewrite quads_spog), a WHERE's CONSTRUCT
    included."""
    from qendpoint_spark.pipeline import (
        PipelineReport,
        incremental_update_triples,
        refuse_quad_merge,
    )

    ops = parse_update(text)
    if ops:
        refuse_quad_merge(catalog)
    digest = _digest(text)
    reports: list[PipelineReport] = []

    def publish(new_tri: DataFrame | None, delete_tri: DataFrame | None):
        reports.append(incremental_update_triples(
            spark, catalog, new_tri,
            batch_fingerprint=f"sparql-update:{digest}:{len(reports)}",
            num_partitions=num_partitions, delete_tri=delete_tri,
        ))

    def rows(triples: set) -> DataFrame | None:
        schema = "s string, p string, o string"
        return spark.createDataFrame(sorted(triples), schema) if triples else None

    ins: set = set()
    dels: set = set()
    # DATA ops fold on the driver; any other op (and the closing None)
    # publishes the pending fold first
    for op in ops + [None]:
        if isinstance(op, InsertData):
            ins |= _ground(op.triples)
            continue
        if isinstance(op, DeleteData):
            ins -= _ground(op.triples)
            dels |= _ground(op.triples)
            continue
        if ins or dels:
            publish(rows(ins), rows(dels))
            ins, dels = set(), set()
        if isinstance(op, Modify):
            # both templates instantiate against the committed
            # PRE-operation state; deletes apply before inserts
            engine = SparqlEngine.from_catalog(catalog)

            def construct(tmpl: list) -> DataFrame | None:
                return engine.execute(Query(
                    "CONSTRUCT", True, [], tmpl, op.where, [], None, [],
                    None, None,
                )) if tmpl else None

            publish(construct(op.insert_tmpl), construct(op.delete_tmpl))
    return reports[-1] if reports else PipelineReport()
