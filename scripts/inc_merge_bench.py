"""Incremental-merge benchmark: big base ⊕ small delta.

Compares, on the same expanded corpus (default sf0.1 x expand, same
shape as bench.py):

  full_rebuild     extract + dictionary + encode over base ∪ delta from
                   scratch (what a naive pipeline does per batch)
  kcat_incremental merge_incremental(base, delta) — the KCat int-remap
                   merge, term re-rank ∝ |terms(base ∪ delta)| (the
                   delta's own build is timed as delta_build)

Reports wall seconds per path and the delta fraction. The base build
itself is excluded from both timings (it exists already in the
compaction scenario — CatTreeImpl.doGenerationSync).

Usage: python scripts/inc_merge_bench.py [expand] [delta_pct]
Writes BENCH/inc_merge_latest.json.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from qendpoint_spark.dictionary import build_dictionary  # noqa: E402
from qendpoint_spark.encoding import encode_triples  # noqa: E402
from qendpoint_spark.extraction import (  # noqa: E402
    extract_triples_from_documents,
)
from qendpoint_spark.merge import merge_incremental  # noqa: E402
from qendpoint_spark.session import get_spark  # noqa: E402

EXPAND = int(sys.argv[1]) if len(sys.argv) > 1 else 40
DELTA_PCT = int(sys.argv[2]) if len(sys.argv) > 2 else 1
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))


def expand_docs(docs, k: int):
    n = docs.count()
    return docs.crossJoin(
        F.broadcast(
            docs.sparkSession.range(k).select(F.col("id").alias("rep"))
        )
    ).select(
        (F.col("doc_id") + F.col("rep") * n).alias("doc_id"),
        "text", "lang", "source", "n_chars",
    )


def build(docs):
    tri = extract_triples_from_documents(docs).localCheckpoint(eager=True)
    d = build_dictionary(tri)
    enc = encode_triples(tri, d, assume_distinct=True).localCheckpoint(eager=True)
    return tri, d, enc


def main() -> None:
    spark = get_spark("inc-merge-bench", cores=CPUS)
    docs = expand_docs(
        spark.read.parquet(f"{SF_DIR}/documents.parquet"), EXPAND
    ).localCheckpoint(eager=True)
    mod = 100 // DELTA_PCT
    base_docs = docs.filter(F.col("doc_id") % mod != 0).localCheckpoint(eager=True)
    delta_docs = docs.filter(F.col("doc_id") % mod == 0).localCheckpoint(eager=True)

    # base exists already in the compaction scenario
    _, base_dict, base_enc = build(base_docs)
    n_base = base_enc.count()

    timings: dict[str, float] = {}

    t0 = time.time()
    d_tri, d_dict, d_enc = build(delta_docs)
    timings["delta_build"] = round(time.time() - t0, 2)

    t0 = time.time()
    md, mt = merge_incremental((base_enc, base_dict), (d_enc, d_dict))
    n_inc = mt.count()
    md.count()
    timings["kcat_incremental"] = round(time.time() - t0, 2)

    t0 = time.time()
    _, _, full_enc = build(docs)
    n_full = full_enc.count()
    timings["full_rebuild"] = round(time.time() - t0, 2)

    assert n_inc == n_full, (n_inc, n_full)
    out = {
        "expand": EXPAND, "delta_pct": DELTA_PCT, "cpus": CPUS,
        "base_triples": n_base, "merged_triples": n_full,
        "timings_s": timings,
        "speedup_incr_vs_rebuild": round(
            timings["full_rebuild"]
            / max(timings["kcat_incremental"] + timings["delta_build"], 0.01),
            2,
        ),
    }
    path = Path(__file__).resolve().parent.parent / "BENCH" / "inc_merge_latest.json"
    path.write_text(json.dumps(out, indent=2) + "\n")
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
