"""Published = Header + Dictionary + Triples: the staging tables
(triples_str, triples_canon) keep only their lineage after a publish,
resume from it, and the header built from commit metadata equals the
header scanned from the string triples."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from qendpoint_spark import pipeline
from qendpoint_spark.catalog import Catalog
from qendpoint_spark.datagen import generate_pages
from qendpoint_spark.encoding import build_header
from qendpoint_spark.linking import canonicalize_triples
from qendpoint_spark.pipeline import run_pipeline

SAMEAS = [Row(iri_a="http://example.org/ent/shuffle",
              iri_b="http://example.org/ent/partition")]


def _case(spark, documents, kind):
    """(run_pipeline kwargs, the string triples the header describes)."""
    if kind == "documents":
        docs = documents.filter(F.col("doc_id") % 3 == 0)
        return dict(source_df=docs, source_kind="documents"), \
            pipeline._extractor("documents")(docs)
    if kind in ("pages", "sameas"):
        pages = generate_pages(spark, 60, seed=5)
        tri = pipeline._extractor("pages")(pages)
        if kind == "pages":
            return dict(source_df=pages, source_kind="pages"), tri
        sameas = spark.createDataFrame(SAMEAS)
        return dict(source_df=pages, source_kind="pages", sameas=sameas), \
            canonicalize_triples(tri, sameas)
    if kind == "triples_dup":
        rows = [("http://x/a", "http://x/p", '"v"'),
                ("http://x/a", "http://x/p", '"v"'),
                ("http://x/b", "http://x/p", "http://x/a"),
                ("http://x/b", "http://x/q", '"é"@fr'),
                ("http://x/b", "http://x/q", '"é"@fr')]
        src = spark.createDataFrame(rows, "s string, p string, o string")
        return dict(source_df=src, source_kind="triples"), src.distinct()
    if kind == "quads":
        # the same triple in two graphs: n_raw_triples (statements) 4,
        # n_triples (graph-projected) 3
        rows = [("http://x/a", "http://x/p", '"v"', "http://x/g1"),
                ("http://x/a", "http://x/p", '"v"', "http://x/g2"),
                ("http://x/b", "http://x/p", "http://x/a", "http://x/g1"),
                ("http://x/b", "http://x/q", '"w"', "http://x/g2")]
        src = spark.createDataFrame(rows, "s string, p string, o string, g string")
        return dict(source_df=src, source_kind="triples"), src
    assert kind == "empty"
    src = spark.createDataFrame([], "s string, p string, o string")
    return dict(source_df=src, source_kind="triples"), src


@pytest.mark.parametrize(
    "kind", ["documents", "pages", "triples_dup", "quads", "sameas", "empty"]
)
def test_header_from_commits_matches_scan(spark, documents, tmp_path, kind):
    """The published header (lineage counts + one aggregate over the
    statement ids) equals build_header's scan of the string triples and
    the dictionary, column for column."""
    kwargs, tri = _case(spark, documents, kind)
    cat = Catalog(spark, str(tmp_path / "wh"))
    run_pipeline(spark, cat, source_fingerprint=kind, num_partitions=2, **kwargs)
    assert not cat.exists("triples_str") and not cat.exists("triples_canon")
    got = cat.read("header")
    want = build_header(tri, cat.read("dict_terms"), cat.read("triples_spo"))
    assert got.columns == want.columns
    assert got.collect()[0].asDict() == want.collect()[0].asDict()
    if kind == "quads":
        row = got.collect()[0]
        assert (row.n_raw_triples, row.n_triples, row.n_graphs) == (4, 3, 2)


def _publish(spark, cat, documents):
    return run_pipeline(
        spark, cat, source_df=documents.filter(F.col("doc_id") % 4 == 0),
        source_kind="documents", source_fingerprint="staging", num_partitions=2,
    )


def _rows(cat, name):
    return sorted(tuple(r) for r in cat.read(name).collect())


def test_rerun_after_publish_extracts_nothing(spark, documents, tmp_path,
                                              monkeypatch):
    cat = Catalog(spark, str(tmp_path / "wh"))
    rep1 = _publish(spark, cat, documents)
    lin = cat.lineage("triples_str")
    assert not cat.exists("triples_str")
    assert lin["staging"] == "data dropped"
    assert lin["row_count"] == rep1.stage("triples_str").rows > 0
    spo, header = _rows(cat, "triples_spo"), _rows(cat, "header")

    def no_extraction(kind):
        raise AssertionError("extraction ran on a resumed pipeline")

    monkeypatch.setattr(pipeline, "_extractor", no_extraction)
    rep2 = _publish(spark, cat, documents)
    assert all(s.resumed for s in rep2.stages)
    assert rep2.stage("triples_str").rows == lin["row_count"]
    assert not os.path.exists(cat.table_path("triples_str"))
    assert _rows(cat, "triples_spo") == spo and _rows(cat, "header") == header


def test_lost_consumer_reextracts(spark, documents, tmp_path):
    """A consumer that must rebuild while the staging data is gone runs
    the extraction again, as a fresh run would."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    _publish(spark, cat, documents)
    spo, dict_rows = _rows(cat, "triples_spo"), _rows(cat, "dict_terms")
    shutil.rmtree(cat.table_path("dict_terms"))
    rep = _publish(spark, cat, documents)
    assert not rep.stage("triples_str").resumed
    assert not rep.stage("dict_terms").resumed
    assert _rows(cat, "dict_terms") == dict_rows
    assert _rows(cat, "triples_spo") == spo
    assert not cat.exists("triples_str")
    assert cat.lineage("triples_str")["staging"] == "data dropped"
