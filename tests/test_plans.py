"""Physical-plan assertions: the optimizations the 100-TB design relies
on must actually appear in the plans (not just be intended).

- pattern scans push equality filters into the Parquet scan
  (PushedFilters) and prune columns (ReadSchema);
- the predicate-map join in encode is a broadcast hash join;
- no plan contains a cartesian product;
- whole-stage codegen covers the extraction expressions.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from qendpoint_spark.catalog import Catalog
from qendpoint_spark.datagen import generate_pages
from qendpoint_spark.dictionary import build_dictionary
from qendpoint_spark.encoding import encode_triples
from qendpoint_spark.extraction import extract_triples_from_documents
from qendpoint_spark.pipeline import run_pipeline
from qendpoint_spark.plans import choose_order, scan_pattern


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_pattern_scan_pushdown(spark, tmp_path):
    pages = generate_pages(spark, 80, seed=9).cache()
    cat = Catalog(spark, str(tmp_path / "wh"))
    run_pipeline(spark, cat, source_df=pages, source_kind="pages",
                 source_fingerprint="plans", num_partitions=4, with_pso=True)
    spo = cat.read("triples_spo")
    ops = cat.read("triples_ops")
    pso = cat.read("triples_pso")
    q = scan_pattern(spo, ops, s=3, p=1, pso=pso)
    plan = _plan(q)
    assert "PushedFilters" in plan
    assert "EqualTo(s,3)" in plan and "EqualTo(p,1)" in plan
    # column pruning: projection of two columns reads only those
    proj = spo.select("s", "p").filter(F.col("s") == 1)
    pplan = _plan(proj)
    rs = [ln for ln in pplan.splitlines() if "ReadSchema" in ln]
    assert rs and "o:" not in rs[0]
    # ?P? routes to the PSO table (ReadSchema leads with p: the scan's
    # leading sort key) and pushes the leading-key filter
    qp = scan_pattern(spo, ops, p=1, pso=pso)
    pplan = _plan(qp)
    assert "struct<p:bigint,s:bigint,o:bigint>" in pplan
    assert "EqualTo(p,1)" in pplan
    # rows identical to the unrouted fallback scan (which reads SPO)
    fallback = scan_pattern(spo, ops, p=1)
    assert "struct<s:bigint,p:bigint,o:bigint>" in _plan(fallback)
    assert qp.exceptAll(fallback).count() == 0
    assert fallback.exceptAll(qp).count() == 0


def test_msd_layout_prunes_files(spark, tmp_path):
    """dict_terms is written partitioned by (section, datatype) — a
    datatype-scoped read must hit PartitionFilters (file-level pruning),
    the MSD typed-subsection access pattern."""
    pages = generate_pages(spark, 60, seed=11).cache()
    cat = Catalog(spark, str(tmp_path / "wh"))
    run_pipeline(spark, cat, source_df=pages, source_kind="pages",
                 source_fingerprint="msd", num_partitions=4)
    d = cat.read("dict_terms")
    assert {"kind", "datatype"} <= set(d.columns)
    q = d.filter((F.col("section") == "O") & (F.col("datatype") == "NO_DATATYPE"))
    plan = _plan(q)
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "datatype" in pf[0] and "section" in pf[0]
    # partition values survive the path encode/decode roundtrip
    kinds = {r.kind for r in d.select("kind").distinct().collect()}
    assert "ref" in kinds
    # the encode path still works off the MSD-partitioned dictionary
    assert cat.read("triples_spo").count() > 0


def test_msd_sections_cover_grammar_datatypes(spark, documents, tmp_path):
    """The documents grammar emits FOUR typed-literal datatypes
    (integer, date, decimal, boolean) plus lang-tagged and plain
    strings and bnode refs — each must land in its own MSD partition
    directory, and a date-scoped read must prune to that directory."""
    from qendpoint_spark.encoding.header import with_datatype

    tr = extract_triples_from_documents(documents).localCheckpoint(eager=True)
    d = with_datatype(build_dictionary(tr, num_partitions=4))
    path = str(tmp_path / "msd")
    d.write.partitionBy("section", "datatype").parquet(path)
    back = spark.read.parquet(path)
    dts = {r.datatype for r in back.select("datatype").distinct().collect()}
    for xsd in ("integer", "date", "decimal", "boolean"):
        assert f"http://www.w3.org/2001/XMLSchema#{xsd}" in dts, dts
    assert "@en" in dts or any(str(x).startswith("@") for x in dts)
    assert "NO_DATATYPE" in dts
    # bnode terms are refs (datatype NULL partition) and live in SH
    bn = back.filter(F.col("term").startswith("_:"))
    assert bn.count() > 0
    assert {r.section for r in bn.select("section").distinct().collect()} == {"SH"}
    q = back.filter(
        F.col("datatype") == "http://www.w3.org/2001/XMLSchema#date"
    )
    pf = [ln for ln in _plan(q).splitlines() if "PartitionFilters" in ln]
    assert pf and "datatype" in pf[0]
    assert q.count() > 0


def test_choose_order_routing():
    assert choose_order(1, None, None) == "spo"
    assert choose_order(1, 2, None) == "spo"
    assert choose_order(1, 2, 3) == "spo"
    assert choose_order(1, None, 3) == "sop"  # both bound keys lead SOP
    assert choose_order(None, 2, 3) == "pos"  # both bound keys lead POS
    assert choose_order(None, None, 3) == "ops"
    assert choose_order(None, 2, None) == "pso"
    assert choose_order(None, None, None) == "spo"


def test_encode_broadcasts_predicate_map(spark, documents):
    tr = extract_triples_from_documents(documents).localCheckpoint(eager=True)
    d = build_dictionary(tr, num_partitions=4).localCheckpoint(eager=True)
    enc = encode_triples(tr, d)
    plan = _plan(enc)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_extraction_stays_codegen(spark, documents):
    # AQE wraps plans in AdaptiveSparkPlan whose codegen stages only
    # appear after execution; inspect the static plan instead
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        tr = extract_triples_from_documents(documents)
        plan = _plan(tr)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    # '*(n)' prefixes mark whole-stage-codegen spans in compact plan text
    assert "*(" in plan
    # no row-at-a-time python eval in the documents path
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bgp_stats_ordering(spark, tmp_path):
    """Cardinality-driven BGP: stats rank a selective pattern first and
    the join result equals the unordered semantics."""
    from qendpoint_spark.encoding import predicate_index
    from qendpoint_spark.plans import PatternStats, scan_bgp

    pages = generate_pages(spark, 60, seed=13).cache()
    cat = Catalog(spark, str(tmp_path / "wh"))
    run_pipeline(spark, cat, source_df=pages, source_kind="pages",
                 source_fingerprint="bgp", num_partitions=4, with_pso=True)
    spo = cat.read("triples_spo")
    stats = PatternStats(predicate_index(spo))
    # a fully-bound pattern estimates far below a predicate-only one
    some_p = next(iter(stats.by_p))
    assert stats.estimate(1, some_p, None) < stats.estimate(None, some_p, None)
    # unknown predicate -> zero
    assert stats.estimate(None, 10**9, None) == 0.0
    patterns = [("doc", 3, "ent"), ("ent", 1, "label")]
    got = scan_bgp(spo, cat.read("triples_ops"), patterns, stats=stats,
                   pso=cat.read("triples_pso"))
    ref = scan_bgp(spo, cat.read("triples_ops"), patterns, stats=None)
    assert set(got.columns) == {"doc", "ent", "label"}
    cols = sorted(got.columns)  # exceptAll is positional
    g, r = got.select(*cols), ref.select(*cols)
    assert g.exceptAll(r).count() == 0 and r.exceptAll(g).count() == 0
    assert got.count() > 0


def test_dictionary_agg_is_map_side_combined(spark, tmp_path, documents):
    """Skew defense of the dictionary build: the role aggregation must
    have a partial (map-side) phase BEFORE the exchange, so a hot term
    (rdf:type-style) collapses per-partition instead of concentrating
    on one reducer — the salting-equivalent for aggregations. The role
    facts come from one explode per triple, so over a parquet triples
    table the aggregation scans it once, with no Union of per-role
    scans."""
    from qendpoint_spark.dictionary.builder import role_sections

    tr = extract_triples_from_documents(documents).localCheckpoint(eager=True)
    plan = _plan(role_sections(tr))
    assert "partial_max" in plan, plan[:2000]

    path = str(tmp_path / "triples_str")
    tr.write.parquet(path)
    plan = _plan(role_sections(spark.read.parquet(path)))
    assert plan.count("FileScan") == 1, plan[:4000]
    assert "Union" not in plan, plan[:4000]
    assert "partial_max" in plan, plan[:2000]


def test_alternate_order_pushdown(spark, tmp_path, documents):
    """SOP/POS/OSP written as range-sorted parquet: composite masks
    route to them and push BOTH bound filters into the scan; ReadSchema
    leads with the table's sort order."""
    from qendpoint_spark.encoding.indexes import sorted_table

    tr = extract_triples_from_documents(documents).localCheckpoint(eager=True)
    d = build_dictionary(tr, num_partitions=4).localCheckpoint(eager=True)
    enc = encode_triples(tr, d).localCheckpoint(eager=True)
    tabs = {}
    for order in ("spo", "ops", "sop", "pos", "osp"):
        path = str(tmp_path / order)
        sorted_table(enc, order, num_partitions=4).write.parquet(path)
        tabs[order] = spark.read.parquet(path)

    # S?O -> SOP, both filters pushed, schema leads (s,o,p)
    q = scan_pattern(tabs["spo"], tabs["ops"], s=1, o=1, sop=tabs["sop"])
    plan = _plan(q)
    assert "struct<s:bigint,o:bigint,p:bigint>" in plan
    assert "EqualTo(s,1)" in plan and "EqualTo(o,1)" in plan

    # ?PO -> POS
    q = scan_pattern(tabs["spo"], tabs["ops"], p=1, o=1, pos=tabs["pos"])
    plan = _plan(q)
    assert "struct<p:bigint,o:bigint,s:bigint>" in plan
    assert "EqualTo(p,1)" in plan and "EqualTo(o,1)" in plan

    # OSP leading-key scan prunes on o
    plan = _plan(tabs["osp"].filter(F.col("o") == 1))
    assert "struct<o:bigint,s:bigint,p:bigint>" in plan
    assert "EqualTo(o,1)" in plan

    # routing falls back to SPO/OPS when the alternate table is absent
    assert choose_order(1, None, 1) == "sop"
    assert choose_order(None, 1, 1) == "pos"
    fb = scan_pattern(tabs["spo"], tabs["ops"], s=1, o=1)
    assert "struct<s:bigint,p:bigint,o:bigint>" in _plan(fb)


def test_bgp_repeated_variable_in_pattern(spark):
    """('x', p, 'x') implies s == o within the pattern: one output
    column, equality applied (reflexive-edge query)."""
    from qendpoint_spark.plans import scan_bgp

    rows = [(1, 1, 1), (2, 1, 3), (4, 2, 4), (5, 2, 6)]
    enc = spark.createDataFrame(rows, "s long, p long, o long")
    got = scan_bgp(enc, enc, [("x", 1, "x")])
    assert got.columns == ["x"]
    assert {r.x for r in got.collect()} == {1}
    # joined with a second pattern on the shared variable
    got2 = scan_bgp(enc, enc, [("x", 1, "x"), ("x", 1, "y")])
    assert sorted(got2.columns) == ["x", "y"]
    assert {(r.x, r.y) for r in got2.collect()} == {(1, 1)}


def test_bgp_build_side_broadcast(spark, tmp_path):
    """Stats-driven build/probe selection: the smaller-estimated BGP
    side is explicitly broadcast; the star result matches the
    stats-free plan."""
    from qendpoint_spark.encoding import predicate_index
    from qendpoint_spark.plans import PatternStats, scan_bgp

    pages = generate_pages(spark, 60, seed=21).cache()
    cat = Catalog(spark, str(tmp_path / "wh"))
    run_pipeline(spark, cat, source_df=pages, source_kind="pages",
                 source_fingerprint="bgp2", num_partitions=4, with_pso=True)
    spo = cat.read("triples_spo")
    stats = PatternStats(predicate_index(spo))
    patterns = [("doc", 3, "ent"), ("ent", 1, "label")]
    got = scan_bgp(spo, cat.read("triples_ops"), patterns, stats=stats,
                   pso=cat.read("triples_pso"))
    assert "BroadcastHashJoin" in _plan(got)
    ref = scan_bgp(spo, cat.read("triples_ops"), patterns, stats=None)
    cols = sorted(got.columns)
    g, r = got.select(*cols), ref.select(*cols)
    assert g.exceptAll(r).count() == 0 and r.exceptAll(g).count() == 0
