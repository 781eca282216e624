"""merge_incremental (two-input KCat id-remap merge) and the merge of
an id-space input with a string batch — output parity with a
from-scratch build_dictionary + encode_triples over A ∪ B, across
migration, overlap and namespace-collision shapes; and
incremental_update_triples against run_pipeline over the same set."""

from __future__ import annotations

import random

import pytest

from qendpoint_spark.catalog import Catalog
from qendpoint_spark.dictionary import build_dictionary
from qendpoint_spark.dictionary.builder import role_sections
from qendpoint_spark.encoding import encode_triples
from qendpoint_spark.merge import merge_datasets, merge_incremental
from qendpoint_spark.pipeline import incremental_update_triples, run_pipeline

_TRIPLES = "s string, p string, o string"
_QUADS = "s string, p string, o string, g string"


def _mk(spark, rows, schema=_TRIPLES):
    df = spark.createDataFrame(rows, schema).distinct()
    d = build_dictionary(df)
    return encode_triples(df, d).localCheckpoint(eager=True), d


def _check(spark, a_rows, b_rows, label, schema=_TRIPLES):
    """merge_incremental(A, B) assigns exactly the ids a from-scratch
    build over A ∪ B does, and remaps the triples into that space; so
    does merge_datasets with B as a string input (its triples and role
    table), which B reaches without an id space of its own."""
    b_str = spark.createDataFrame(b_rows, schema).distinct()
    merges = {
        "ids": merge_incremental(_mk(spark, a_rows, schema), _mk(spark, b_rows, schema)),
        "strings": merge_datasets(
            [_mk(spark, a_rows, schema), (b_str, role_sections(b_str))]
        )[:2],
    }
    union = spark.createDataFrame(a_rows + b_rows, schema).distinct()
    rd = build_dictionary(union)
    rt = encode_triples(union, rd)
    cols = ["term", "section", "sec_rank", "id"]
    dr = {tuple(r) for r in rd.select(*cols).collect()}
    keys = rt.columns
    tr = sorted(tuple(r) for r in rt.collect())
    for how, (md, mt) in merges.items():
        dm = {tuple(r) for r in md.select(*cols).collect()}
        assert dm == dr, f"{label}/{how}: dict mismatch {sorted(dm ^ dr)[:8]}"
        tm = sorted(tuple(r) for r in mt.select(*keys).collect())
        assert tm == tr, f"{label}/{how}: triples mismatch {set(tm) ^ set(tr)}"


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


# base A, batch B, deleted D: c is an O term of A that B uses as a
# subject (O -> SH); the predicate p1 is also a subject IRI; (a p1 b)
# is already published; d, e and p3 are new to the base. The delete
# case removes (b p1 c): b keeps only its object role (SH -> O) and c
# keeps B's subject role (O -> S).
_BASE = [("a", "p1", "b"), ("b", "p1", "c"), ("p1", "p2", "a")]
_BATCH = [("c", "p1", "d"), ("a", "p1", "b"), ("e", "p3", "p1")]


@pytest.mark.parametrize("deleted", [[], [("b", "p1", "c")]],
                         ids=["insert", "delete_and_insert"])
def test_incremental_update_equals_pipeline(spark, tmp_path, deleted):
    """incremental_update_triples(A, B, delete_tri=D) publishes the
    dict_terms and triples_spo that run_pipeline publishes over
    (A - D) ∪ B."""
    def frame(rows):
        return spark.createDataFrame(rows, _TRIPLES)

    def publish(rows, name):
        cat = Catalog(spark, str(tmp_path / name))
        run_pipeline(spark, cat, source_df=frame(rows), source_kind="triples",
                     source_fingerprint=name, num_partitions=2)
        return cat

    inc = publish(_BASE, "inc")
    incremental_update_triples(
        spark, inc, frame(_BATCH), num_partitions=2,
        delete_tri=frame(deleted) if deleted else None,
    )
    full = publish([r for r in _BASE if r not in deleted] + _BATCH, "full")
    for name, cols in [("dict_terms", ["term", "section", "sec_rank", "id"]),
                       ("triples_spo", ["s", "p", "o"])]:
        got = sorted(tuple(r) for r in inc.read(name).select(*cols).collect())
        want = sorted(tuple(r) for r in full.read(name).select(*cols).collect())
        assert got == want, name
