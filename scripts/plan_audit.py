"""Formatted-plan audit of the engine's hot paths.

Prints `.explain("formatted")` for the core pipeline stages and the
headline queries so reviewers can verify — without running anything at
scale — that the plans have the 100-TB properties the design claims:

- PushedFilters / PartitionFilters on every pattern scan,
- broadcast joins on the P/G dictionary maps,
- partial (map-side) aggregation before every exchange,
- no CartesianProduct / BroadcastNestedLoopJoin anywhere,
- no BatchEvalPython in the documents hot path.

Usage: python scripts/plan_audit.py [sf_dir] [> BENCH/plans_rN.txt]
"""

from __future__ import annotations

import io
import sys
from contextlib import redirect_stdout
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from qendpoint_spark.session import get_spark  # noqa: E402


def formatted(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("plan-audit", cores=8)

    from qendpoint_spark.dictionary import build_dictionary
    from qendpoint_spark.dictionary.builder import role_sections
    from qendpoint_spark.encoding import (
        encode_triples,
        ops_table,
        predicate_index,
        pso_table,
        spo_table,
    )
    from qendpoint_spark.extraction import extract_triples_from_documents
    from qendpoint_spark.plans import PatternStats, scan_bgp, scan_pattern

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tri = extract_triples_from_documents(docs)
    sections = []
    sections.append(("extract (documents -> triples_str)", formatted(tri)))
    sections.append(("dictionary role aggregation", formatted(role_sections(tri))))
    tri_c = tri.localCheckpoint(eager=True)
    d = build_dictionary(tri_c)
    enc = encode_triples(tri_c, d, assume_distinct=True)
    sections.append(("encode (P broadcast first, AQE joins)", formatted(enc)))
    enc_c = enc.localCheckpoint(eager=True)
    sections.append(("spo_table (range sort)", formatted(spo_table(enc_c))))
    sections.append(("predicate_index stats", formatted(predicate_index(enc_c))))
    # write the sorted tables so the scans below are real parquet reads
    # (PushedFilters only exist against a file source)
    import tempfile

    wh = tempfile.mkdtemp(prefix="qs_plan_audit_")
    for name, t in (("spo", spo_table(enc_c)), ("ops", ops_table(enc_c)),
                    ("pso", pso_table(enc_c))):
        t.write.mode("overwrite").parquet(f"{wh}/{name}")
    spo = spark.read.parquet(f"{wh}/spo")
    ops = spark.read.parquet(f"{wh}/ops")
    pso = spark.read.parquet(f"{wh}/pso")
    sections.append(
        ("scan_pattern ?P? via PSO", formatted(scan_pattern(spo, ops, p=3, pso=pso)))
    )
    stats = PatternStats(predicate_index(enc_c))
    sections.append(
        (
            "scan_bgp stats-ordered 2-pattern join",
            formatted(
                scan_bgp(spo, ops, [("doc", 3, "ent"), ("ent", 1, "label")],
                         stats=stats, pso=pso)
            ),
        )
    )

    red_flags = ("CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython")
    for title, plan in sections:
        print("=" * 72)
        print(f"== {title}")
        print("=" * 72)
        print(plan)
        hits = [f for f in red_flags if f in plan]
        print(f"-- red flags: {hits if hits else 'none'}\n")
    spark.stop()


if __name__ == "__main__":
    main()
