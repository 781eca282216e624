"""hdtCat / hdtDiff analog: k-way warehouse merge, or diff, into a new
warehouse.

Reference: qendpoint-cli/bin/hdtCat.sh / hdtDiffCat.sh (KCatImpl /
HDTDiff over .hdt files). Here: merge_datasets joins each input's INT
triples through its (space, old_id -> new_id) remap — no triple string
ever decodes or shuffles (merge/kcat.py); --diff remaps the delete
input into the base's id space the same way and subtracts it there
(diff_datasets) — then publishes the result through
pipeline.publish_merged, the same publish incremental_update uses:
dictionary (MSD layout) + SPO/OPS, plus a refresh of any PSO, stats
and header tables the output warehouse already holds.

Inputs and --output may each be a warehouse dir OR a binary .hdt
file (mix freely): `hdtcat.py --output merged.hdt a.hdt b.hdt` is the
reference CLI's exact shape.

Usage:
    python scripts/hdtcat.py --output /path/out_wh WH1 WH2 [WH3 ...]
    python scripts/hdtcat.py --diff --output /path/out_wh WH_BASE WH_DEL
        (--diff subtracts WH_DEL's statements from WH_BASE)
    [--cpus N] [--partitions N]
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from qendpoint_spark.catalog import Catalog  # noqa: E402
from qendpoint_spark import merge  # noqa: E402
from qendpoint_spark.pipeline import publish_merged  # noqa: E402
from qendpoint_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("inputs", nargs="+")
    ap.add_argument("--output", required=True)
    ap.add_argument("--diff", action="store_true")
    ap.add_argument("--cpus", type=int, default=8)
    ap.add_argument("--partitions", type=int, default=None)
    args = ap.parse_args()
    if args.diff and len(args.inputs) != 2:
        ap.error("--diff takes exactly two warehouses: BASE DEL")
    if len(args.inputs) < 2:
        ap.error("need at least two input warehouses")

    spark = get_spark("hdtcat", cores=args.cpus)

    def load(path: str):
        """(triples_spo, dict_terms) from a warehouse dir OR a binary
        .hdt file — the reference's hdtCat operates on .hdt files."""
        if path.endswith(".hdt"):
            from qendpoint_spark.hdt import hdt_to_dataframes

            d, enc = hdt_to_dataframes(spark, path)
            return enc, d
        c = Catalog(spark, path)
        return c.read("triples_spo"), c.read("dict_terms")

    inputs = [load(p) for p in args.inputs]
    if args.diff:
        # the delete statements move into the base's id space (terms
        # the base lacks drop out), then diff + re-rank in ID space
        (base, base_dict), (delete, delete_dict) = inputs
        remap = merge.build_remap(delete_dict, base_dict)
        delete = merge.remap_triples(delete, remap)
        inputs = [merge.diff_datasets(base, base_dict, delete)]
    md, mt, _ = merge.merge_datasets(inputs, num_partitions=args.partitions)

    if args.output.endswith(".hdt"):
        from qendpoint_spark.hdt import write_hdt

        sizes = write_hdt(md, mt, args.output)
        print(
            f"{'diff' if args.diff else 'cat'} -> {args.output}: "
            f"{sizes['num_triples']:,} triples, {sizes['total']:,} bytes"
        )
        spark.stop()
        return

    fp = ("diff:" if args.diff else "cat:") + "|".join(args.inputs)
    report = publish_merged(
        Catalog(spark, args.output), md, mt, fp, num_partitions=args.partitions
    )
    print(f"{'diff' if args.diff else 'cat'} -> {args.output}: "
          f"{report.n_triples:,} triples")
    spark.stop()


if __name__ == "__main__":
    main()
