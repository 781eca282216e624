"""merge_incremental (two-input KCat id-remap merge) — output parity
with a from-scratch build_dictionary + encode_triples over A ∪ B,
across migration, overlap and namespace-collision shapes."""

from __future__ import annotations

import random

from qendpoint_spark.dictionary import build_dictionary
from qendpoint_spark.encoding import encode_triples
from qendpoint_spark.merge import merge_incremental

_TRIPLES = "s string, p string, o string"
_QUADS = "s string, p string, o string, g string"


def _mk(spark, rows, schema=_TRIPLES):
    df = spark.createDataFrame(rows, schema).distinct()
    d = build_dictionary(df)
    return encode_triples(df, d).localCheckpoint(eager=True), d


def _check(spark, a_rows, b_rows, label, schema=_TRIPLES):
    """merge_incremental(A, B) assigns exactly the ids a from-scratch
    build over A ∪ B does, and remaps the triples into that space."""
    md, mt = merge_incremental(_mk(spark, a_rows, schema), _mk(spark, b_rows, schema))
    union = spark.createDataFrame(a_rows + b_rows, schema).distinct()
    rd = build_dictionary(union)
    rt = encode_triples(union, rd)
    cols = ["term", "section", "sec_rank", "id"]
    dm = {tuple(r) for r in md.select(*cols).collect()}
    dr = {tuple(r) for r in rd.select(*cols).collect()}
    assert dm == dr, f"{label}: dict mismatch {sorted(dm ^ dr)[:8]}"
    keys = rt.columns
    tm = sorted(tuple(r) for r in mt.select(*keys).collect())
    tr = sorted(tuple(r) for r in rt.collect())
    assert tm == tr, f"{label}: triples mismatch {set(tm) ^ set(tr)}"


def test_migrations_and_overlap(spark):
    # c: O->SH in base (B uses it as subject); d: S->SH; b,c overlap rows
    _check(
        spark,
        [("a", "p1", "b"), ("b", "p1", "c"), ("d", "p2", "a")],
        [("c", "p1", "d"), ("e", "p3", "b"), ("b", "p1", "c")],
        "migrations",
    )


def test_namespace_collisions(spark):
    # predicate string reused as a subject/object term and vice versa —
    # the independent P namespace must not leak into s/o migrations
    _check(
        spark,
        [("a", "p1", "b")],
        [("p1", "p1", "p1"), ("a", "b", "c")],
        "namespaces",
    )


def test_identity_and_disjoint(spark):
    _check(spark, [("a", "p", "b")], [("a", "p", "b")], "identical")
    _check(spark, [("a", "p", "b"), ("x", "q", "y")], [("zz", "zz", "zz")], "disjoint")


def test_randomized_small_vocab(spark):
    # small vocabulary forces dense overlaps + role migrations
    random.seed(13)
    vocab = [f"t{i:02d}" for i in range(16)]
    preds = [f"p{i}" for i in range(3)] + ["t05"]
    for trial in range(4):
        a_rows = [
            (random.choice(vocab), random.choice(preds), random.choice(vocab))
            for _ in range(random.randint(8, 40))
        ]
        b_rows = [
            (random.choice(vocab), random.choice(preds), random.choice(vocab))
            for _ in range(random.randint(1, 6))
        ]
        _check(spark, a_rows, b_rows, f"trial{trial}")


def test_quads_incremental(spark):
    # g2 is a graph of A only, g3 of B only; (a p b) sits in two graphs
    _check(
        spark,
        [("a", "p", "b", "g1"), ("b", "p", "c", "g2")],
        [("c", "p", "a", "g1"), ("a", "p", "b", "g3")],
        "quads",
        schema=_QUADS,
    )
