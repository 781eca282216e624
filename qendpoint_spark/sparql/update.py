"""Batch SPARQL UPDATE application.

The reference serves SPARQL UPDATE through a live delta store merged
periodically into the HDT (EndpointStoreConnection + merge runner,
qendpoint-store). The batch-pipeline analog applies an update script
as a SET TRANSFORMATION over the string-triple state and republishes:

- `apply_update_to_triples(triples_str, text)` — pure transformation:
  fold the parsed operations over a (s,p,o) DataFrame (INSERT DATA =
  union-distinct, DELETE DATA = anti join, DELETE/INSERT WHERE =
  CONSTRUCT the affected triples via the query engine, then set ops).
- `apply_update(spark, catalog, text)` — publish the result through
  the pipeline; an insert-only script routes through the KCat
  id-remap merge (pipeline.incremental_update_triples), which never
  re-extracts or re-encodes the published triples, instead of a full
  rebuild. A script with a delete folds over the published ID tables
  decoded to strings (the warehouse keeps no string triples).

Ground terms use the repo's HDT lexical forms, so the output composes
with every other stage.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession


def _digest(text: str) -> str:
    """Deterministic update-script fingerprint.  Python's hash() is
    randomized per process (PYTHONHASHSEED), which would give the same
    update a different lineage identity every run and defeat the
    catalog's resume/idempotent-skip semantics."""
    return hashlib.sha256(text.encode("utf-8")).hexdigest()[:16]


from qendpoint_spark.sparql.parser import (
    DeleteData,
    InsertData,
    Modify,
    NumLit,
    Query,
    parse_update,
)

KEYS = ["s", "p", "o"]


def _ground_df(spark: SparkSession, triples: list) -> DataFrame:
    def lex(x) -> str:
        t = x.as_term() if isinstance(x, NumLit) else x
        return t.lex

    rows = [(lex(t.s), lex(t.p), lex(t.o)) for t in triples]
    return spark.createDataFrame(rows, "s string, p string, o string")


def _bound_triples(cur: DataFrame, tmpl: list, where) -> DataFrame:
    """Instantiate a template against the WHERE solutions over the
    CURRENT state: dictionary-encode the state, run the engine's
    CONSTRUCT machinery, return (s,p,o) term strings."""
    from qendpoint_spark.dictionary import build_dictionary
    from qendpoint_spark.encoding import encode_triples
    from qendpoint_spark.sparql.algebra import SparqlEngine, _collect_consts

    d = build_dictionary(cur)
    enc = encode_triples(cur, d)
    eng = SparqlEngine(enc, d)
    q = Query("CONSTRUCT", True, [], tmpl, where, [], None, [], None, None)
    eng._prefetch_consts(_collect_consts(q))
    bf = eng._compile_group(where)
    return eng._construct(bf, q)


def apply_update_to_triples(
    cur: DataFrame, text_or_ops, spark: SparkSession | None = None
) -> DataFrame:
    """Fold a SPARQL UPDATE over a distinct (s,p,o) string-triple
    DataFrame; returns the new state (distinct)."""
    ops = (
        parse_update(text_or_ops)
        if isinstance(text_or_ops, str)
        else text_or_ops
    )
    spark = spark or cur.sparkSession
    for op in ops:
        if isinstance(op, InsertData):
            cur = cur.unionByName(
                _ground_df(spark, op.triples)
            ).dropDuplicates(KEYS)
        elif isinstance(op, DeleteData):
            cur = cur.join(_ground_df(spark, op.triples), KEYS, "left_anti")
        elif isinstance(op, Modify):
            # SPARQL semantics: both templates instantiate against the
            # PRE-operation state; deletes apply before inserts
            dels = (
                _bound_triples(cur, op.delete_tmpl, op.where)
                if op.delete_tmpl
                else None
            )
            ins = (
                _bound_triples(cur, op.insert_tmpl, op.where)
                if op.insert_tmpl
                else None
            )
            if dels is not None:
                cur = cur.join(dels, KEYS, "left_anti")
            if ins is not None:
                cur = cur.unionByName(ins).dropDuplicates(KEYS)
        else:
            raise NotImplementedError(f"unsupported update op {op!r}")
        # each op sees the previous op's committed state, and the
        # engine re-encodes per Modify — cut the lineage between ops
        cur = cur.localCheckpoint(eager=True)
    return cur


def apply_update(
    spark: SparkSession,
    catalog,
    text: str,
    num_partitions: int | None = None,
):
    """Apply an update script to a published warehouse. Insert-only
    scripts go through the KCat incremental merge (the reference's
    delta-store + merge-runner path); anything with a delete rebuilds
    from the transformed state of the published statements —
    quads_spog when present, else triples_spo, decoded through
    dict_terms — (the reference's full-recompute fallback, HDTDiff
    territory). The published tables, not the pipeline's staging
    triples, are the state: a merge rewrites them alone."""
    ops = parse_update(text)
    if all(isinstance(op, InsertData) for op in ops):
        from qendpoint_spark.pipeline import incremental_update_triples

        batch = None
        for op in ops:
            g = _ground_df(spark, op.triples)
            batch = g if batch is None else batch.unionByName(g)
        batch = batch.dropDuplicates(KEYS)
        return incremental_update_triples(
            spark,
            catalog,
            batch,
            batch_fingerprint=f"sparql-update:{_digest(text)}",
            num_partitions=num_partitions,
        )
    from qendpoint_spark.encoding import decode_triples
    from qendpoint_spark.pipeline import run_pipeline

    table = "quads_spog" if catalog.exists("quads_spog") else "triples_spo"
    cur = decode_triples(catalog.read(table), catalog.read("dict_terms"))
    new = apply_update_to_triples(cur, ops, spark)
    return run_pipeline(
        spark,
        catalog,
        source_df=new,
        source_kind="triples",
        source_fingerprint=f"sparql-update:{_digest(text)}",
        num_partitions=num_partitions,
        force=True,
    )
