from qendpoint_spark.merge.kcat import (
    build_remap,
    diff_datasets,
    merge_datasets,
    merge_incremental,
    remap_triples,
)

__all__ = [
    "merge_datasets",
    "diff_datasets",
    "merge_incremental",
    "build_remap",
    "remap_triples",
]
