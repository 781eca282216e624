"""Seeded input generators for the benchmark.

Inputs are made in plain Python from the workload seed and written as
parquet, so Spark (the program) and DuckDB (the correctness twins) read
the very same bytes, and the same seed always gives the same files.

- documents(doc_id, text, lang, source, n_chars): the shape of the
  TPC-H-style `documents` table the pipeline's documents path was built
  for — 10-100 tokens per document over a 30-word vocabulary, five
  languages, twenty sources.
- pages(url, warc_ts, html, text, lang): Common-Crawl-style pages with
  recrawled urls (an older, stale copy), empty pages, unicode tokens
  (CJK, NBSP, astral plane) and html rendered from text, so the
  extract(html) == text invariant has something to verify.
"""

from __future__ import annotations

import datetime as dt
import html as _html
import random

import pyarrow as pa

DOC_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
DOC_LANGS = ["en", "zh", "es", "fr", "de"]
DOC_LANG_WEIGHTS = [41, 15, 15, 15, 14]
N_SOURCES = 20

PAGE_VOCAB = [
    "shuffle", "partition", "dictionary", "triple", "subject", "predicate",
    "object", "graph", "entity", "mention", "crawl", "index", "encode",
    "bitmap", "section", "prefix", "lineage", "resume", "checkpoint",
]
UNICODE_TOKENS = ["汉字测试", "ünïcode", "астра", "𝄞clef𝄞", "nbsp\u00a0tok"]
PAGE_LANGS = ["en", "de", "fr", "es", "zh-hant"]
URL_PREFIX = "https://crawl.example.com/p/"
CRAWL_EPOCH = dt.datetime(2026, 1, 1)

DOCS_SCHEMA = pa.schema([
    ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
    ("source", pa.string()), ("n_chars", pa.int64()),
])
PAGES_SCHEMA = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us")),
    ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
])


def _rng(seed: int, stream: str) -> random.Random:
    # string seeds hash deterministically (random.seed uses sha512)
    return random.Random(f"{seed}:{stream}")


def documents(n_docs: int, seed: int) -> pa.Table:
    """n_docs documents with doc_id 0..n_docs-1, rows in a seeded order."""
    rng = _rng(seed, "documents")
    rows = []
    for doc_id in range(n_docs):
        n_tok = rng.randint(10, 100)
        text = " ".join(rng.choices(DOC_VOCAB, k=n_tok))
        rows.append((
            doc_id, text,
            rng.choices(DOC_LANGS, weights=DOC_LANG_WEIGHTS)[0],
            f"src{rng.randrange(N_SOURCES)}", len(text),
        ))
    rng.shuffle(rows)
    return pa.Table.from_pylist(
        [dict(zip(DOCS_SCHEMA.names, r)) for r in rows], schema=DOCS_SCHEMA
    )


def render_html(url: str, text: str) -> bytes:
    """Page template whose <article> body is the html-escaped text."""
    return (
        "<html><head><meta charset=\"utf-8\"><title>"
        + _html.escape(url, quote=False)
        + "</title></head><body><nav>site nav</nav><article>"
        + _html.escape(text, quote=False)
        + "</article><footer>site footer</footer></body></html>"
    ).encode("utf-8")


def pages(n_pages: int, seed: int, batch: str, recrawl_every: int = 10,
          empty_every: int = 17, unicode_every: int = 7) -> pa.Table:
    """n_pages urls under URL_PREFIX/<batch>/, plus one older recrawl of
    every `recrawl_every`-th url (so the latest-crawl dedup has work)."""
    rng = _rng(seed, f"pages:{batch}")
    rows = []
    for i in range(n_pages):
        url = f"{URL_PREFIX}{batch}/{i}"
        toks = rng.choices(PAGE_VOCAB, k=rng.randint(5, 40))
        if i % unicode_every == 0:
            toks.append(rng.choice(UNICODE_TOKENS))
        text = "" if i % empty_every == 0 else " ".join(toks)
        ts = CRAWL_EPOCH + dt.timedelta(seconds=rng.randrange(86400))
        lang = rng.choice(PAGE_LANGS)
        rows.append((url, ts, text, lang))
        if i % recrawl_every == 0:
            rows.append((url, ts - dt.timedelta(days=30), "stale " + text,
                         rng.choice(PAGE_LANGS)))
    rng.shuffle(rows)
    return pa.Table.from_pylist(
        [
            {"url": u, "warc_ts": ts, "html": render_html(u, t), "text": t,
             "lang": lang}
            for u, ts, t, lang in rows
        ],
        schema=PAGES_SCHEMA,
    )
