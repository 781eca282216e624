"""Golden cross-path equality: distributed pipeline vs single-process
oracle (the reference's assertEqualsHDT discipline,
HDTManagerTest.java:196-266), plus HDTVerify-style invariants
(HDTVerify.java:91-405)."""

from __future__ import annotations

from pyspark.sql import functions as F

from qendpoint_spark.dictionary import build_dictionary
from qendpoint_spark.dictionary.rank import zip_with_rank
from qendpoint_spark.encoding import (
    decode_triples,
    encode_triples,
    ops_table,
    spo_table,
    with_adjacency_bits,
)
from qendpoint_spark.extraction import extract_triples_from_documents
from qendpoint_spark.oracle import (
    oracle_dictionary,
    oracle_encode,
    oracle_extract_documents,
)


def _doc_rows(documents):
    return [r.asDict() for r in documents.collect()]


def test_zip_with_rank_contiguous(spark):
    # (rows, partitions): the usual shape, thousands of partitions (the
    # per-partition base is one array literal, which must stay
    # codegen-safe), and more partitions than rows (empty partitions)
    for n, parts in ((10_000, 16), (10_000, 1_024), (10, 64)):
        df = spark.range(0, n).select(
            F.concat(F.lit("t"), F.col("id").cast("string")).alias("term")
        )
        ranked, counts = zip_with_rank(df, ["term"], "rid", num_partitions=parts)
        assert counts == {}
        got = ranked.collect()
        assert sorted(r.rid for r in got) == list(range(1, n + 1))
        # rank order is binary term order
        by_rank = [r.term for r in sorted(got, key=lambda r: r.rid)]
        assert by_rank == sorted(by_rank, key=lambda t: t.encode())


def test_zip_with_rank_count_by(spark):
    """Per-group counts piggyback on the stats pass and come back with
    the ranked frame; each group's ranks are one contiguous run."""
    df = spark.range(0, 5_000).select(
        F.concat(F.lit("t"), F.col("id").cast("string")).alias("term"),
        (F.col("id") % 3).cast("int").alias("grp"),
    )
    ranked, counts = zip_with_rank(df, ["grp", "term"], "rid", num_partitions=8,
                                   count_by="grp")
    assert counts == {0: 1667, 1: 1667, 2: 1666}
    got = ranked.collect()
    assert sorted(r.rid for r in got) == list(range(1, 5_001))
    lo = 1
    for grp in (0, 1, 2):
        ids = sorted(r.rid for r in got if r.grp == grp)
        assert ids == list(range(lo, lo + counts[grp]))
        lo += counts[grp]


def test_build_dictionary_sections_contiguous(spark, documents):
    """build_dictionary returns a plain frame over the rank's
    checkpoint: repeated scans see the same ids, every section ranks
    1..n, and ids follow the global-id rule (S/O offset by |SH|)."""
    dict_df = build_dictionary(
        extract_triples_from_documents(documents), num_partitions=8
    )
    rows = sorted(map(tuple, dict_df.collect()))
    assert rows == sorted(map(tuple, dict_df.collect()))
    by_sec: dict[str, list[tuple[int, int]]] = {}
    for _term, sec, rank, gid in rows:
        by_sec.setdefault(sec, []).append((rank, gid))
    n_sh = len(by_sec.get("SH", []))
    for sec, ranks in by_sec.items():
        assert sorted(r for r, _ in ranks) == list(range(1, len(ranks) + 1))
        base = n_sh if sec in ("S", "O") else 0
        assert all(gid == rank + base for rank, gid in ranks)


def test_extraction_matches_oracle(spark, documents):
    got = {
        (r.s, r.p, r.o)
        for r in extract_triples_from_documents(documents).collect()
    }
    expected = oracle_extract_documents(_doc_rows(documents))
    assert got == expected
    # P/R vs reference-rule output: exact ⇒ ≥ 0.95 gate holds trivially
    assert len(got & expected) / len(expected) >= 0.95


def test_dictionary_matches_oracle(spark, documents):
    triples = extract_triples_from_documents(documents)
    dict_df = build_dictionary(triples, num_partitions=8)
    got = {
        (r.term, r.section, r.sec_rank, r.id) for r in dict_df.collect()
    }
    expected = set(
        oracle_dictionary(oracle_extract_documents(_doc_rows(documents)))
    )
    assert got == expected


def test_encoding_matches_oracle(spark, documents):
    triples = extract_triples_from_documents(documents)
    dict_df = build_dictionary(triples, num_partitions=8)
    enc = encode_triples(triples, dict_df)
    got = sorted((r.s, r.p, r.o) for r in enc.collect())
    expected = oracle_encode(oracle_extract_documents(_doc_rows(documents)))
    assert got == expected


def test_invariants_and_roundtrip(spark, documents):
    """HDTVerify ports: sections sorted/duplicate-free, IDs dense,
    SPO unique, subjects correlative 1..n, decode∘encode == identity."""
    triples = extract_triples_from_documents(documents)
    dict_df = build_dictionary(triples, num_partitions=8).cache()
    enc = encode_triples(triples, dict_df).cache()

    # ids dense per space
    for secs, space in ((["SH", "S"], "subject"), (["SH", "O"], "object"), (["P"], "pred")):
        ids = sorted(
            r.id for r in dict_df.filter(F.col("section").isin(secs)).collect()
        )
        assert ids == list(range(1, len(ids) + 1)), space

    # sections duplicate-free on term; term unique within subject/object space
    n_terms = dict_df.count()
    assert dict_df.select("term", "section").distinct().count() == n_terms

    # subjects correlative 1..n (WriteBitmapTriples.java:262-265)
    subj = sorted(r.s for r in enc.select("s").distinct().collect())
    assert subj == list(range(1, len(subj) + 1))

    # SPO unique
    assert enc.count() == enc.dropDuplicates(["s", "p", "o"]).count()

    # sorted materializations contain identical row sets
    spo = spo_table(enc, num_partitions=4)
    ops = ops_table(enc, num_partitions=4)
    assert spo.count() == enc.count() == ops.count()
    assert (
        spo.select("s", "p", "o").exceptAll(enc.select("s", "p", "o")).count() == 0
    )
    assert (
        ops.select("s", "p", "o").exceptAll(enc.select("s", "p", "o")).count() == 0
    )

    # spo table file order is globally sorted
    rows = [(r.s, r.p, r.o) for r in spo.toLocalIterator()]
    assert rows == sorted(rows)

    # adjacency bits: #bit_y==1 = #distinct subjects; #bit_z==1 = #distinct (s,p)
    bits = with_adjacency_bits(enc, num_partitions=4)
    n_y = bits.filter(F.col("bit_y") == 1).count()
    n_z = bits.filter(F.col("bit_z") == 1).count()
    assert n_y == enc.select("s").distinct().count()
    assert n_z == enc.select("s", "p").distinct().count()

    # decode(encode(x)) == x
    dec = decode_triples(enc, dict_df)
    orig = {(r.s, r.p, r.o) for r in triples.distinct().collect()}
    got = {(r.s, r.p, r.o) for r in dec.collect()}
    assert got == orig
    dict_df.unpersist()
    enc.unpersist()
