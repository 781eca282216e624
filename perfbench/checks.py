"""Correctness twins: DuckDB/Python recomputations of what the program
publishes, compared outside every timed region.

- Documents: the extraction grammar and the four-section dictionary +
  encode as SQL, reused from the package's own oracle
  (`entry_queries._triples_cte` / `_dict_enc_cte`).
- Pages: the pages grammar (latest crawl per url, lang literal,
  mentions of distinct tokens of length >= 4, one label per token),
  written here in plain Python.
- Tables are compared by row count plus an order-insensitive checksum.
- Queries: one DuckDB twin per SPARQL template, evaluated over the
  published parquet decoded through the published dictionary.
"""

from __future__ import annotations

import random
from collections import Counter

import duckdb
import pyarrow as pa

from qendpoint_spark.entry_queries import _dict_enc_cte, _triples_cte
from qendpoint_spark.extraction.triples import (
    BASE,
    MIN_MENTION_LEN,
    P_LABEL,
    P_LANG,
    P_MENTIONS,
    P_NCHARS,
    P_SOURCE,
    XSD_INTEGER,
)

ENT = BASE + "ent/"
DOC = BASE + "doc/"


def digest(con: duckdb.DuckDBPyConnection, relation: str, cols: str) -> tuple[int, int]:
    """(row count, sum of row hashes) — equal for equal multisets of
    rows in any order; one changed row changes the sum."""
    n, h = con.execute(
        f"SELECT count(*), coalesce(sum(hash({cols})), 0) FROM ({relation})"
    ).fetchone()
    return int(n), int(h)


SPO_COLS = "s::BIGINT, p::BIGINT, o::BIGINT"
DICT_COLS = "term::VARCHAR, section::VARCHAR, id::BIGINT"


def pages_triples(pages: pa.Table) -> pa.Table:
    """The pages grammar over the latest crawl of each url."""
    latest: dict[str, tuple] = {}
    for r in pages.select(["url", "warc_ts", "text", "lang"]).to_pylist():
        key = (r["warc_ts"], r["text"], r["lang"])
        if r["url"] not in latest or key > latest[r["url"]]:
            latest[r["url"]] = key
    rows, tokens = [], set()
    for url, (_ts, text, lang) in latest.items():
        rows.append((url, P_LANG, f'"{lang}"@{lang}'))
        for tok in dict.fromkeys((text or "").split(" ")):
            if len(tok) >= MIN_MENTION_LEN:
                rows.append((url, P_MENTIONS, ENT + tok))
                tokens.add(tok)
    rows += [(ENT + t, P_LABEL, f'"{t}"') for t in tokens]
    s, p, o = zip(*rows) if rows else ((), (), ())
    return pa.table({"s": list(s), "p": list(p), "o": list(o)})


def expected_digests(con: duckdb.DuckDBPyConnection, docs_path: str,
                     batch: pa.Table | None = None) -> dict[str, tuple[int, int]]:
    """Digests of triples_spo and dict_terms for the documents at
    docs_path, unioned with a pre-extracted triple batch if given."""
    con.execute(
        f"CREATE OR REPLACE VIEW documents AS SELECT * FROM read_parquet('{docs_path}')"
    )
    if batch is None:
        ctes = _triples_cte("triples")
    else:
        con.register("batch_triples", batch)
        ctes = (_triples_cte("base_triples") + ",\ntriples AS (SELECT s, p, o "
                "FROM base_triples UNION SELECT s, p, o FROM batch_triples)")
    # materialized once: the dictionary CTEs read it four times
    con.execute(f"CREATE OR REPLACE TEMP TABLE exp_triples AS WITH {ctes} "
                "SELECT s, p, o FROM triples")
    prelude = "WITH " + _dict_enc_cte("exp_triples")
    con.execute(f"CREATE OR REPLACE TEMP TABLE exp_dict AS {prelude} "
                "SELECT term, section, id FROM dict")
    con.execute(f"CREATE OR REPLACE TEMP TABLE exp_enc AS {prelude} "
                "SELECT s, p, o FROM enc")
    return {
        "triples_spo": digest(con, "SELECT * FROM exp_enc", SPO_COLS),
        "dict_terms": digest(con, "SELECT * FROM exp_dict", DICT_COLS),
    }


def open_published(con: duckdb.DuckDBPyConnection, warehouse: str) -> None:
    """Views over the published tables plus `t`, the decoded triples."""
    con.execute(
        "CREATE OR REPLACE VIEW pub_dict AS SELECT term, section, id FROM "
        f"read_parquet('{warehouse}/dict_terms/**/*.parquet', hive_partitioning=true)"
    )
    con.execute(
        "CREATE OR REPLACE VIEW pub_spo AS SELECT s, p, o FROM "
        f"read_parquet('{warehouse}/triples_spo/*.parquet')"
    )
    con.execute("""CREATE OR REPLACE TEMP TABLE t AS
        SELECT sm.term AS s, pm.term AS p, om.term AS o FROM pub_spo x
        JOIN pub_dict sm ON x.s = sm.id AND sm.section IN ('SH', 'S')
        JOIN pub_dict pm ON x.p = pm.id AND pm.section = 'P'
        JOIN pub_dict om ON x.o = om.id AND om.section IN ('SH', 'O')""")


def published_digests(con: duckdb.DuckDBPyConnection) -> dict[str, tuple[int, int]]:
    return {
        "triples_spo": digest(con, "SELECT * FROM pub_spo", SPO_COLS),
        "dict_terms": digest(con, "SELECT * FROM pub_dict", DICT_COLS),
    }


# -- query templates -------------------------------------------------------

TEMPLATES = ("spo_point", "ops_count", "range_filter", "two_hop", "star",
             "fresh_lookup")


def _integer(n: int) -> str:
    return f'"{n}"^^<{XSD_INTEGER}>'


def make_query(template: str, rng: random.Random, docs: int, tokens: list[str],
               fresh: list[str]) -> tuple[str, str, list]:
    """(SPARQL, twin SQL over `t`, twin parameters) for one template.
    docs: doc ids 0..docs-1 exist; fresh: subjects written by the run."""
    d = f"{DOC}{rng.randrange(docs)}"
    if template == "spo_point":
        return (f"SELECT ?o WHERE {{ <{d}> <{P_LANG}> ?o }}",
                "SELECT o FROM t WHERE s = ? AND p = ?", [d, P_LANG])
    if template == "ops_count":
        e = ENT + rng.choice(tokens)
        return (f"SELECT (COUNT(?s) AS ?c) WHERE {{ ?s <{P_MENTIONS}> <{e}> }}",
                "SELECT count(*) FROM t WHERE p = ? AND o = ?", [P_MENTIONS, e])
    if template == "range_filter":
        lo = rng.randrange(100, 500)
        return (f"SELECT ?s WHERE {{ ?s <{P_NCHARS}> ?n "
                f"FILTER(?n >= {lo} && ?n < {lo + 3}) }}",
                "SELECT s FROM t WHERE p = ? AND CAST(regexp_extract(o, "
                "'^\"(-?[0-9]+)\"', 1) AS BIGINT) BETWEEN ? AND ?",
                [P_NCHARS, lo, lo + 2])
    if template == "two_hop":
        return (f"SELECT ?e ?l WHERE {{ <{d}> <{P_MENTIONS}> ?e . "
                f"?e <{P_LABEL}> ?l }}",
                "SELECT a.o, b.o FROM t a JOIN t b ON a.o = b.s "
                "WHERE a.s = ? AND a.p = ? AND b.p = ?", [d, P_MENTIONS, P_LABEL])
    if template == "star":
        n = rng.randrange(100, 500)
        return (f"SELECT ?s ?l ?src WHERE {{ ?s <{P_LANG}> ?l ; "
                f"<{P_SOURCE}> ?src ; <{P_NCHARS}> {n} }}",
                "SELECT a.s, a.o, b.o FROM t a JOIN t b ON a.s = b.s "
                "JOIN t c ON a.s = c.s WHERE a.p = ? AND b.p = ? AND c.p = ? "
                "AND c.o = ?", [P_LANG, P_SOURCE, P_NCHARS, _integer(n)])
    if template == "fresh_lookup":
        u = rng.choice(fresh)
        return (f"SELECT ?p ?o WHERE {{ <{u}> ?p ?o }}",
                "SELECT p, o FROM t WHERE s = ?", [u])
    raise ValueError(f"unknown template {template!r}")


def rows_multiset(rows) -> Counter:
    return Counter(tuple(str(v) for v in r) for r in rows)


def query_matches(con: duckdb.DuckDBPyConnection, twin_sql: str, params: list,
                  spark_rows) -> bool:
    return rows_multiset(con.execute(twin_sql, params).fetchall()) == rows_multiset(spark_rows)
