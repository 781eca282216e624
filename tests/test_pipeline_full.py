"""Full pipeline with optional linking + canonicalization stages."""

from __future__ import annotations

import gc
import time

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from qendpoint_spark import pipeline
from qendpoint_spark.catalog import Catalog
from qendpoint_spark.datagen import generate_pages, generate_sameas
from qendpoint_spark.encoding import decode_triples
from qendpoint_spark.linking import build_alias_dict
from qendpoint_spark.pipeline import run_pipeline


def test_pipeline_with_link_and_canon(spark, tmp_path):
    pages = generate_pages(spark, 100, seed=3).cache()
    pages.count()
    alias = build_alias_dict(
        spark.createDataFrame(
            [
                Row(alias="shuffle", entity_iri="kb:Shuffle", prior=0.9),
                Row(alias="shuffle", entity_iri="kb:ShuffleDance", prior=0.1),
                Row(alias="partition", entity_iri="kb:Partition", prior=0.5),
            ]
        )
    )
    # sameas edges collapsing two entity IRIs the extractor emits
    sameas = spark.createDataFrame(
        [
            Row(
                iri_a="http://example.org/ent/shuffle",
                iri_b="http://example.org/ent/partition",
            )
        ]
    )
    cat = Catalog(spark, str(tmp_path / "wh"))
    rep = run_pipeline(
        spark, cat, source_df=pages, source_kind="pages",
        source_fingerprint="t100:3", num_partitions=4,
        alias_dict=alias, sameas=sameas,
    )
    names = [s.name for s in rep.stages]
    assert "linked_mentions" in names and "triples_canon" in names

    linked = cat.read("linked_mentions")
    got = {r.alias: r.entity_iri for r in linked.collect()}
    assert got.get("shuffle") == "kb:Shuffle"  # top-1 by prior
    assert got.get("partition") == "kb:Partition"

    # canonicalization collapsed partition -> shuffle (binary min IRI:
    # .../ent/partition < .../ent/shuffle, so partition is canonical);
    # triples_canon is a staging table, so check the published triples
    assert not cat.exists("triples_canon")
    canon = decode_triples(cat.read("triples_spo"), cat.read("dict_terms"))
    assert canon.filter(F.col("o") == "http://example.org/ent/shuffle").count() == 0
    assert canon.filter(F.col("o") == "http://example.org/ent/partition").count() > 0

    # downstream dictionary excludes the collapsed IRI
    d = cat.read("dict_terms")
    assert d.filter(F.col("term") == "http://example.org/ent/shuffle").count() == 0

    # resume with same fingerprint: all stages resumed
    rep2 = run_pipeline(
        spark, cat, source_df=pages, source_kind="pages",
        source_fingerprint="t100:3", num_partitions=4,
        alias_dict=alias, sameas=sameas,
    )
    assert all(s.resumed for s in rep2.stages)


def test_pipeline_empty_corpus(spark, tmp_path):
    """empty1.nt analog: a 0-row documents table must flow through
    every stage (extract -> dictionary -> encode -> indexes -> header)
    committing empty tables, not erroring."""
    from pyspark.sql import types as T

    from qendpoint_spark.catalog import Catalog
    from qendpoint_spark.pipeline import run_pipeline

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ])
    empty = spark.createDataFrame([], schema)
    cat = Catalog(spark, str(tmp_path / "wh"))
    report = run_pipeline(spark, cat, source_df=empty, source_kind="documents",
                          source_fingerprint="empty", num_partitions=2)
    assert report.n_triples == 0
    assert cat.read("dict_terms").count() == 0
    assert cat.read("triples_spo").count() == 0
    hdr = cat.read("header").collect()[0]
    assert hdr.n_triples == 0 and hdr.n_distinct_subjects == 0


def test_incremental_update_releases_cache_on_failure(spark, documents, tmp_path,
                                                      monkeypatch):
    """An OPS failure while republishing an incremental update must not
    leak the cached triples_spo blocks: every RDD the call persists is
    gone again once its frames are garbage."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    run_pipeline(spark, cat, source_df=documents.filter(F.col("doc_id") % 2 == 0),
                 source_kind="documents", source_fingerprint="even",
                 num_partitions=4)
    batch = pipeline.extract_triples_from_documents(
        documents.filter(F.col("doc_id") % 2 == 1)
    )

    def failing_ops(triples_spo, **_):
        triples_spo.count()  # the SPO cache is populated, then the job dies
        raise RuntimeError("injected OPS failure")

    monkeypatch.setattr(pipeline, "ops_table", failing_ops)
    jsc = spark.sparkContext._jsc

    def persistent_ids() -> set[int]:
        gc.collect()
        spark._jvm.System.gc()
        return set(jsc.getPersistentRDDs().keySet())

    before = persistent_ids()
    with pytest.raises(RuntimeError, match="injected OPS failure"):
        pipeline.incremental_update_triples(spark, cat, batch, num_partitions=4)
    for _ in range(20):  # JVM weak references clear asynchronously
        leaked = persistent_ids() - before
        if not leaked:
            break
        time.sleep(0.5)
    assert not leaked


# Spark jobs of one small update: the merge's one rank, the base remap,
# the publish cut and the table writes, most of them AQE query stages
# (36-37 measured; the update that also ranked and remapped the batch
# in an id space of its own ran 51)
UPDATE_JOB_BUDGET = 40


def test_incremental_update_job_budget_and_release(spark, documents, tmp_path):
    """One update of a small batch stays within UPDATE_JOB_BUDGET Spark
    jobs, and on success leaves the persistent RDDs as it found them,
    without waiting for garbage collection."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    run_pipeline(spark, cat, source_df=documents.filter(F.col("doc_id") % 2 == 0),
                 source_kind="documents", source_fingerprint="even",
                 num_partitions=4)
    batch = pipeline.extract_triples_from_documents(
        documents.filter(F.col("doc_id") % 2 == 1)
    )
    sc = spark.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keySet())
    group = f"update-budget-{time.time_ns()}"
    sc.setJobGroup(group, group)
    try:
        pipeline.incremental_update_triples(spark, cat, batch, num_partitions=4)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < jobs <= UPDATE_JOB_BUDGET, jobs
    # nothing the update persisted outlives it, with no GC in between
    # (an earlier frame's RDD may be cleaned meanwhile, so not ==)
    assert set(sc._jsc.getPersistentRDDs().keySet()) - before == set()


def test_incremental_update_evaluates_batch_once(spark, documents, tmp_path):
    """A lazy batch runs once per update: the merge's rank and the
    encode both read one cached copy of it. A Python UDF on the batch's o
    column counts its evaluations in an accumulator; the published
    tables still equal run_pipeline over A ∪ B."""
    tri_b = pipeline.extract_triples_from_documents(
        documents.filter(F.col("doc_id") % 2 == 1)
    ).localCheckpoint(eager=True)
    n_rows = tri_b.count()
    evaluated = spark.sparkContext.accumulator(0)

    @F.udf("string")
    def counted(o):
        evaluated.add(1)
        return o

    cat = Catalog(spark, str(tmp_path / "inc"))
    run_pipeline(spark, cat, source_df=documents.filter(F.col("doc_id") % 2 == 0),
                 source_kind="documents", source_fingerprint="even",
                 num_partitions=4)
    batch = tri_b.withColumn("o", counted("o"))
    pipeline.incremental_update_triples(spark, cat, batch, num_partitions=4)
    assert evaluated.value == n_rows

    full = Catalog(spark, str(tmp_path / "full"))
    run_pipeline(spark, full, source_df=documents, source_kind="documents",
                 source_fingerprint="all", num_partitions=4)
    for name, cols in [("dict_terms", ["term", "section", "sec_rank", "id"]),
                       ("triples_spo", ["s", "p", "o"]),
                       ("triples_ops", ["o", "p", "s"])]:
        a, b = cat.read(name).select(*cols), full.read(name).select(*cols)
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0, name


def test_published_encodings(spark, documents, tmp_path):
    """The published ID tables use the compact Parquet layouts (writer
    v2): the ascending sort keys are DELTA_BINARY_PACKED with no
    dictionary page, `p` keeps its dictionary, dictionary terms are
    front coded (DELTA_BYTE_ARRAY), the lineage records the same, and
    pyarrow and DuckDB read back Spark's rows."""
    from collections import Counter

    import duckdb
    import pyarrow.parquet as pq

    cat = Catalog(spark, str(tmp_path / "wh"))
    run_pipeline(spark, cat, source_df=documents, source_kind="documents",
                 source_fingerprint="encodings", num_partitions=2)

    def files(table):
        return sorted(
            str(f) for f in (tmp_path / "wh" / table).rglob("*.parquet")
        )

    def chunks(table, col):
        out = []
        for f in files(table):
            md = pq.read_metadata(f)
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                out += [rg.column(i) for i in range(rg.num_columns)
                        if rg.column(i).path_in_schema == col]
        assert out, (table, col)
        return out

    for table, col in [("triples_spo", "s"), ("triples_ops", "o"),
                       ("triples_ops", "s")]:
        for cc in chunks(table, col):
            assert "DELTA_BINARY_PACKED" in cc.encodings, (table, col, cc.encodings)
            assert not cc.has_dictionary_page, (table, col)
        assert "DELTA_BINARY_PACKED" in (
            cat.lineage(table)["columns"][col]["encodings"]
        )
    for table in ("triples_spo", "triples_ops"):
        assert all(cc.has_dictionary_page for cc in chunks(table, "p")), table
    for cc in chunks("dict_terms", "term"):
        assert "DELTA_BYTE_ARRAY" in cc.encodings, cc.encodings

    con = duckdb.connect()
    for table in ("triples_spo", "triples_ops", "dict_terms"):
        cols = pq.read_schema(files(table)[0]).names
        spark_rows = Counter(tuple(r) for r in cat.read(table).select(*cols).collect())
        arrow_rows = Counter(
            tuple(r.values())
            for f in files(table)
            for r in pq.read_table(f, columns=cols).to_pylist()
        )
        duck_rows = Counter(con.execute(
            f"SELECT {', '.join(cols)} FROM read_parquet(?, hive_partitioning=false)",
            [files(table)],
        ).fetchall())
        assert sum(spark_rows.values()) > 0, table
        assert arrow_rows == spark_rows, table
        assert duck_rows == spark_rows, table
