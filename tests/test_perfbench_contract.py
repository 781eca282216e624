"""The package surface perfbench's traced run (`--trace 1`) relies on.

`perfbench/layertrace.py::LayerTrace.install` wraps layer entry points
by module attribute name (pipeline.build_dictionary, encode_triples,
object_index, ..., merge.merge_datasets, merge.merge_incremental,
Catalog.write_stage) and, after the timed region, counts the last
merge input's term table (`parts[-1][1].count()`). A rename, or a
merge input that cannot be read after the update, fails only the
traced run, so this installs the trace against the package and runs
one traced tiny update.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import functions as F

import qendpoint_spark.merge as merge_pkg
import qendpoint_spark.pipeline as pipeline_mod
from qendpoint_spark.catalog import Catalog
from qendpoint_spark.datagen import generate_pages

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "perfbench"))

from layertrace import LayerTrace  # noqa: E402


def test_layer_trace_installs_and_counts_a_traced_update(spark, documents, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    pipeline_mod.run_pipeline(
        spark, cat, source_df=documents.filter(F.col("doc_id") < 40),
        source_kind="documents", source_fingerprint="base", num_partitions=2,
    )
    originals = (pipeline_mod.build_dictionary, merge_pkg.merge_datasets,
                 Catalog.__dict__["write_stage"])
    tr = LayerTrace(spark.sparkContext)
    tr.install()
    try:
        pipeline_mod.incremental_update(
            spark, cat, generate_pages(spark, 20, seed=5), source_kind="pages",
            batch_fingerprint="batch", num_partitions=2,
        )
    finally:
        tr.uninstall()
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    assert (pipeline_mod.build_dictionary, merge_pkg.merge_datasets,
            Catalog.__dict__["write_stage"]) == originals
    names = {s.name for s in tr.spans}
    assert {"pipeline.update", "merge.call", "catalog.dict_terms.write",
            "catalog.triples_spo.write"} <= names
    # the batch's term table still reads after the update released
    # what it cached
    assert len(tr.merge_deltas) == 1
    assert tr.merge_deltas[0].count() > 0
