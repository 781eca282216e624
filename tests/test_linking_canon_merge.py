"""Entity linking, connected-components canonicalization, and the
golden-cat merge identity (example1 + example2 == example1+2 pattern,
qendpoint-core test resources / HDTManagerTest.combineHDTResult)."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from qendpoint_spark.dictionary import build_dictionary
from qendpoint_spark.encoding import encode_triples
from qendpoint_spark.extraction import extract_triples_from_documents
from qendpoint_spark.linking import (
    build_alias_dict,
    canonicalize_triples,
    connected_components,
    link_mentions,
)
from qendpoint_spark.merge import diff_datasets, merge_datasets


def test_link_mentions_top1_deterministic(spark):
    mentions = spark.createDataFrame(
        [
            Row(doc_iri="d1", alias="apple"),
            Row(doc_iri="d1", alias="paris"),
            Row(doc_iri="d2", alias="paris"),
            Row(doc_iri="d2", alias="unknown"),
        ]
    )
    aliases = build_alias_dict(
        spark.createDataFrame(
            [
                Row(alias="apple", entity_iri="e:AppleInc", prior=0.7),
                Row(alias="apple", entity_iri="e:AppleFruit", prior=0.3),
                Row(alias="paris", entity_iri="e:ParisFR", prior=0.5),
                Row(alias="paris", entity_iri="e:ParisTX", prior=0.5),
            ]
        )
    )
    for bc in (True, False):
        linked = link_mentions(mentions, aliases, broadcast_dict=bc)
        got = {(r.doc_iri, r.alias): r.entity_iri for r in linked.collect()}
        assert got == {
            ("d1", "apple"): "e:AppleInc",  # higher prior
            ("d1", "paris"): "e:ParisFR",  # prior tie -> entity asc
            ("d2", "paris"): "e:ParisFR",
        }


def test_connected_components_chain_star_skew(spark):
    # chain 0-1-2-3-4, star 10<-{11..14}, skewed hub 20 with 50 spokes,
    # plus an isolated self-loop
    edges = (
        [(i, i + 1) for i in range(4)]
        + [(10, j) for j in range(11, 15)]
        + [(20, j) for j in range(21, 71)]
        + [(99, 99)]
    )
    df = spark.createDataFrame(edges, "u long, v long")
    comp = {r.node: r.component for r in connected_components(df).collect()}
    assert all(comp[i] == 0 for i in range(5))
    assert all(comp[j] == 10 for j in [10, 11, 12, 13, 14])
    assert all(comp[j] == 20 for j in range(20, 71))
    assert 99 not in comp  # self-loop only: no equivalence information


def test_canonicalize_triples(spark):
    triples = spark.createDataFrame(
        [
            Row(s="e:a", p="p:x", o="e:b"),
            Row(s="e:b", p="p:x", o="e:c"),
            Row(s="e:z", p="p:x", o='"lit"'),
        ]
    )
    sameas = spark.createDataFrame(
        [Row(iri_a="e:b", iri_b="e:a"), Row(iri_a="e:c", iri_b="e:b")]
    )
    out = {(r.s, r.p, r.o) for r in canonicalize_triples(triples, sameas).collect()}
    # a,b,c all collapse to e:a; (a,x,b)->(a,x,a), (b,x,c)->(a,x,a) dedup
    assert out == {("e:a", "p:x", "e:a"), ("e:z", "p:x", '"lit"')}


def _encode(spark, docs):
    tr = extract_triples_from_documents(docs).persist()
    d = build_dictionary(tr, num_partitions=4).persist()
    return encode_triples(tr, d).persist(), d


def test_golden_cat_merge(spark, documents):
    """merge(encode(A), encode(B)) == encode(A ∪ B) — full structural
    equality on dictionary and triples, assertEqualsHDT-style."""
    a = documents.filter(F.col("doc_id") % 2 == 0)
    b = documents.filter(F.col("doc_id") % 2 == 1)
    enc_a, dict_a = _encode(spark, a)
    enc_b, dict_b = _encode(spark, b)
    enc_u, dict_u = _encode(spark, documents)

    merged_dict, merged_triples, remaps = merge_datasets(
        [(enc_a, dict_a), (enc_b, dict_b)], num_partitions=4
    )
    merged_dict = merged_dict.persist()
    merged_triples = merged_triples.persist()
    got_d = {(r.term, r.section, r.sec_rank, r.id) for r in merged_dict.collect()}
    exp_d = {(r.term, r.section, r.sec_rank, r.id) for r in dict_u.collect()}
    assert got_d == exp_d
    got_t = sorted((r.s, r.p, r.o) for r in merged_triples.collect())
    exp_t = sorted((r.s, r.p, r.o) for r in enc_u.collect())
    assert got_t == exp_t

    # remap sanity: applying remap[0] to enc_a reproduces a subset of merged
    remap = remaps[0]
    sm = remap.filter(F.col("space") == "subj").select(
        F.col("old_id").alias("s"), F.col("new_id").alias("ns")
    )
    pm = remap.filter(F.col("space") == "pred").select(
        F.col("old_id").alias("p"), F.col("new_id").alias("np")
    )
    om = remap.filter(F.col("space") == "obj").select(
        F.col("old_id").alias("o"), F.col("new_id").alias("no")
    )
    remapped = (
        enc_a.join(sm, "s").join(pm, "p").join(om, "o")
        .select(F.col("ns").alias("s"), F.col("np").alias("p"), F.col("no").alias("o"))
    )
    assert remapped.count() == enc_a.count()
    assert remapped.exceptAll(merged_triples).count() == 0


def test_diff(spark, documents):
    """diff == encode of the surviving subset (HDTDiff semantics)."""
    tr = extract_triples_from_documents(documents)
    dele = tr.filter(F.col("p").contains("mentions"))
    d = build_dictionary(tr, num_partitions=4)
    new_dict, new_enc, _ = merge_datasets(
        [diff_datasets(encode_triples(tr, d), d, encode_triples(dele, d))],
        num_partitions=4,
    )
    survivors = tr.join(dele, ["s", "p", "o"], "left_anti")
    exp_dict = build_dictionary(survivors, num_partitions=4)
    exp_enc = encode_triples(survivors, exp_dict)
    assert {tuple(r) for r in new_dict.collect()} == {
        tuple(r) for r in exp_dict.collect()
    }
    assert sorted(tuple(r) for r in new_enc.collect()) == sorted(
        tuple(r) for r in exp_enc.collect()
    )


def test_merge_quads_golden_identity(spark):
    import pytest

    rows = [
        Row(s=f"http://x/s{i % 3}", p=f"http://x/p{i % 2}",
            o=f'"v{i}"', g=f"http://x/g{i % 2}")
        for i in range(12)
    ]
    quads = spark.createDataFrame(rows)
    half_a = spark.createDataFrame(rows[:7])
    half_b = spark.createDataFrame(rows[5:])  # overlapping statements
    inputs = []
    for half in (half_a, half_b):
        d = build_dictionary(half)
        inputs.append((encode_triples(half, d), d))
    merged_dict, merged, _remaps = merge_datasets(inputs)
    full_dict = build_dictionary(quads)
    expected = encode_triples(quads, full_dict)
    cols = ["s", "p", "o", "g"]
    a, b = merged.select(*cols), expected.select(*cols)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # G terms re-ranked into the merged graph namespace
    assert merged_dict.filter(F.col("section") == "G").count() == 2

    # mixed triple/quad inputs are refused
    tri = spark.createDataFrame([Row(s="http://x/s", p="http://x/p", o='"v"')])
    td = build_dictionary(tri)
    with pytest.raises(ValueError, match="mix"):
        merge_datasets([(encode_triples(tri, td), td), inputs[0]])


def test_diff_quads_match_on_graph(spark):
    rows = [
        Row(s="http://x/s", p="http://x/p", o='"v"', g="http://x/g1"),
        Row(s="http://x/s", p="http://x/p", o='"v"', g="http://x/g2"),
    ]
    quads = spark.createDataFrame(rows)
    d = build_dictionary(quads)
    # deleting the g1 statement must keep the identical triple in g2
    delete = encode_triples(spark.createDataFrame([rows[0]]), d)
    _, new_enc, _ = merge_datasets(
        [diff_datasets(encode_triples(quads, d), d, delete)]
    )
    assert new_enc.count() == 1


def test_incremental_update_equals_full_rebuild(spark, documents, tmp_path):
    """Pipeline-level golden cat: publish(A) + incremental_update(B)
    == publish(A ∪ B), table for table."""
    from qendpoint_spark.catalog import Catalog
    from qendpoint_spark.pipeline import incremental_update, run_pipeline

    docs_a = documents.filter(F.col("doc_id") % 2 == 0)
    docs_b = documents.filter(F.col("doc_id") % 2 == 1)

    cat_inc = Catalog(spark, str(tmp_path / "inc"))
    run_pipeline(spark, cat_inc, source_df=docs_a, source_kind="documents",
                 source_fingerprint="half-a", num_partitions=4, with_pso=True)
    incremental_update(spark, cat_inc, docs_b, batch_fingerprint="half-b",
                       num_partitions=4)

    cat_full = Catalog(spark, str(tmp_path / "full"))
    run_pipeline(spark, cat_full, source_df=documents, source_kind="documents",
                 source_fingerprint="full", num_partitions=4, with_pso=True)

    # EVERY published table must describe the merged dataset — the
    # derived tables (pso/stats/header) went stale after a merge once
    for name, cols in [("dict_terms", ["term", "section", "sec_rank", "id"]),
                       ("triples_spo", ["s", "p", "o"]),
                       ("triples_ops", ["o", "p", "s"]),
                       ("triples_pso", ["p", "s", "o"]),
                       ("predicate_index", None),
                       ("header", None)]:
        a = cat_inc.read(name)
        b = cat_full.read(name)
        if cols is not None:
            a, b = a.select(*cols), b.select(*cols)
        else:
            a, b = a.select(*sorted(a.columns)), b.select(*sorted(b.columns))
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0, name
