"""hdtInfo analog: print a warehouse's header + stage lineage.

Reference: qendpoint-cli/bin/hdtInfo.sh (dump the .hdt header's
dataset-invariant triples). The pipeline's `header` table carries the
same invariants (counts per section, raw size — encoding/header.py);
lineage rows add per-stage provenance the reference keeps in its
sidecar files. A staging stage (triples_str, triples_canon), whose data
the pipeline deletes once its consumers commit, prints as
`staging (data dropped)` from its lineage row.

Usage: python scripts/hdtinfo.py <warehouse_dir>
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from qendpoint_spark.catalog import Catalog  # noqa: E402
from qendpoint_spark.session import get_spark  # noqa: E402


def main() -> None:
    if len(sys.argv) != 2:
        print(__doc__, file=sys.stderr)
        sys.exit(2)
    if sys.argv[1].endswith(".hdt"):
        # binary container: print its embedded header + section counts
        # without a Spark session (pure file parse)
        from qendpoint_spark.hdt import read_hdt

        parsed = read_hdt(sys.argv[1])
        print("# header (embedded N-Triples)")
        for line in parsed["header"].splitlines():
            print("  " + line)
        print("# sections")
        for sec, terms in parsed["sections"].items():
            print(f"  {sec:3s} {len(terms):>12,} terms")
        print(f"# triples {len(parsed['triples']):,} (order SPO)")
        return
    spark = get_spark("hdtinfo")
    catalog = Catalog(spark, sys.argv[1])
    if catalog.exists("header"):
        print("# header")
        for r in catalog.read("header").collect():
            print("  " + "\t".join(str(v) for v in r))
    print("# stages")
    for ln in catalog.all_lineage():
        print(
            f"  {ln.get('stage', '?'):18s}"
            f" rows={ln.get('row_count', '?'):>12}"
            f" partitions={len(ln.get('partitions', [])):>4}"
            f" completed={ln.get('completed_at', '?')}"
            f" fp={str(ln.get('input_fingerprint', ''))[:16]}"
            + (f" staging ({ln['staging']})" if "staging" in ln else "")
        )
    spark.stop()


if __name__ == "__main__":
    main()
