"""Self-tests for the benchmark's own code (no Spark session needed).

Run from the repository root:  python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))
sys.path.insert(0, os.path.dirname(HERE))

import checks  # noqa: E402
import inputs  # noqa: E402
from layertrace import Span, covered, self_times, tail_percentile  # noqa: E402


@pytest.mark.parametrize("make", [
    lambda seed: inputs.documents(300, seed),
    lambda seed: inputs.pages(300, seed, batch="b"),
])
def test_same_seed_same_inputs_other_seed_different(make):
    assert make(7).equals(make(7))
    assert not make(7).equals(make(8))


def test_pages_shape_has_recrawls_empties_and_unicode():
    t = inputs.pages(100, 1, batch="b").to_pylist()
    urls = [r["url"] for r in t]
    assert len(urls) == 110 and len(set(urls)) == 100
    assert any(r["text"] == "" for r in t)
    assert any(tok in r["text"] for r in t for tok in inputs.UNICODE_TOKENS)


def test_self_time_subtracts_union_of_children():
    spans = [
        Span("pipeline.run", 0.0, 10.0),
        Span("extraction.call", 1.0, 3.0, parent=0),
        Span("catalog.triples_str.write", 2.0, 5.0, parent=0),  # overlaps
        Span("encoding.call", 9.0, 12.0, parent=0),  # runs past the parent
        Span("catalog.footer", 3.5, 4.0, parent=2),
    ]
    own = self_times(spans)
    assert own[0] == pytest.approx(10.0 - (4.0 + 1.0))
    assert own[1] == pytest.approx(2.0)
    assert own[2] == pytest.approx(2.5)
    assert own[4] == pytest.approx(0.5)
    assert covered([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)


def test_tail_percentile_keeps_ten_samples_beyond():
    assert tail_percentile(list(range(10))) is None
    assert tail_percentile(list(range(11))) == (0, pytest.approx(100 / 11), 11)
    value, pct, n = tail_percentile([float(x) for x in reversed(range(100))])
    assert (value, pct, n) == (89.0, pytest.approx(90.0), 100)
    value, pct, n = tail_percentile(list(range(20)))
    assert (value, pct) == (9, pytest.approx(50.0))


def test_checksum_catches_one_changed_triple_and_ignores_order():
    con = duckdb.connect()
    rows = [(s, p, o) for s in range(50) for p in range(3) for o in range(4)]
    con.execute("CREATE TABLE a (s BIGINT, p BIGINT, o BIGINT)")
    con.executemany("INSERT INTO a VALUES (?, ?, ?)", rows)
    base = checks.digest(con, "SELECT * FROM a", checks.SPO_COLS)
    shuffled = checks.digest(con, "SELECT * FROM a ORDER BY o DESC, s", checks.SPO_COLS)
    assert base == shuffled
    con.execute("UPDATE a SET o = 99 WHERE s = 17 AND p = 1 AND o = 2")
    changed = checks.digest(con, "SELECT * FROM a", checks.SPO_COLS)
    assert changed[0] == base[0] and changed[1] != base[1]


def test_pages_twin_uses_latest_crawl_and_distinct_labels():
    import datetime as dt

    import pyarrow as pa

    t0 = dt.datetime(2026, 1, 1)
    pages = pa.table({
        "url": ["u1", "u1", "u2"],
        "warc_ts": [t0, t0 - dt.timedelta(days=30), t0],
        "text": ["graph graph sky", "stale graph", ""],
        "lang": ["en", "de", "fr"],
    })
    got = set(zip(*checks.pages_triples(pages).to_pydict().values()))
    assert got == {
        ("u1", checks.P_LANG, '"en"@en'),
        ("u1", checks.P_MENTIONS, checks.ENT + "graph"),
        (checks.ENT + "graph", checks.P_LABEL, '"graph"'),
        ("u2", checks.P_LANG, '"fr"@fr'),
    }
