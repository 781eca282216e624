"""Sorted triple materializations + secondary index tables.

HDT's physical structures map to differently-sorted columnar tables
(SURVEY.md §1.6):

- BitmapTriples SPO layout (WriteBitmapTriples.load,
  WriteBitmapTriples.java:202-309)  -> SPO-sorted table. At rest
  (Parquet writer v2, set in Catalog.write_stage) the ascending sort
  keys — SPO `s`, OPS `o` and `s`, PSO `p` and `s` — are
  DELTA_BINARY_PACKED with no dictionary: bit-packed deltas in the
  role of the bit-packed SeqY/SeqZ sequences. The other ID columns
  (`p`, SPO `o`) keep the dictionary with RLE/bit-packed indexes,
  which measured smaller there.
- FOQ object index / OPS access (BitmapTriples.
  createIndexObjectMemoryEfficient, BitmapTriples.java:730-917)
  -> the same rows sorted (o,p,s).
- PredicateIndexArray (?P? access, PredicateIndexArray.java:72-150)
  -> per-predicate stats table (count + s/o ranges); at rest a
  PSO-sorted copy would serve ?P? scans, the stats table feeds
  cardinality-based planning (EndpointStoreEvaluationStatisticsHDT
  analog).
- BitY/BitZ adjacency boundary flags (WriteBitmapTriples.java:257-293)
  -> `lag()` parity columns for oracle tests; at scale they are
  derived per-partition after a range repartition on s (no global
  window).

Writing: `repartitionByRange(*keys).sortWithinPartitions(*keys)` keeps
the global sort while writing from all tasks in parallel — the Spark
equivalent of the reference's single-threaded sequential encode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _range_sorted(df: DataFrame, cols: list[str], num_partitions: int | None) -> DataFrame:
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    return df.repartitionByRange(n, *cols).sortWithinPartitions(*cols)


#: the reference's full set of component orders
#: (core/enums/TripleComponentOrder.java:41-61)
ORDERS = ("spo", "sop", "pso", "pos", "osp", "ops")


def sorted_table(
    triples_id: DataFrame, order: str = "spo", num_partitions: int | None = None
) -> DataFrame:
    """Materialize any of the six component orders as a globally sorted
    (range-partitioned) table — the generic analog of the reference's
    alternate-order index files (BitmapTriplesIndexFile.java:160-260).
    Column order in the output follows the sort order, so the leading
    sort key is the table's pruning key."""
    if order not in ORDERS:
        raise ValueError(f"unknown order {order!r}; expected one of {ORDERS}")
    cols = list(order)
    return _range_sorted(triples_id.select(*cols), cols, num_partitions)


def spo_table(triples_id: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Globally SPO-sorted (range-partitioned) triple table."""
    return sorted_table(triples_id, "spo", num_partitions)


def ops_table(triples_id: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Same rows re-sorted (o,p,s) — the FOQ/OPS index as a table."""
    return sorted_table(triples_id, "ops", num_partitions)


def pso_table(triples_id: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """PSO-sorted table: the ?P? / ?PS access path. The reference
    builds a dedicated predicate index for exactly this access
    (PredicateIndexArray.java:72-150); here the leading-p sort makes a
    bound-predicate filter a contiguous range -> Parquet row-group
    pruning does the seek."""
    return sorted_table(triples_id, "pso", num_partitions)


def predicate_index(triples_id: DataFrame) -> DataFrame:
    """Per-predicate stats (PredicateIndexArray analog + planner stats)."""
    return triples_id.groupBy("p").agg(
        F.count(F.lit(1)).alias("n_triples"),
        F.countDistinct("s").alias("n_subjects"),
        F.countDistinct("o").alias("n_objects"),
        F.min("s").alias("min_s"),
        F.max("s").alias("max_s"),
    )


def object_index(triples_id: DataFrame) -> DataFrame:
    """Per-object stats (FOQ index counting pass,
    BitmapTriples.java:750-770)."""
    return triples_id.groupBy("o").agg(
        F.count(F.lit(1)).alias("n_triples"),
        F.countDistinct("p").alias("n_predicates"),
    )


def with_adjacency_bits(triples_id: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Attach bit_y / bit_z parity columns.

    bit_y = 1 where a row starts a new subject run, bit_z = 1 where it
    starts a new (s,p) run — the complement view of the reference's
    "last of run" bitmaps (WriteBitmapTriples.java:257-293; first-vs-
    last choice is a convention, counts match).

    Scale shape: range-repartition on s so each subject's run lives in
    one partition, then *partition-local* windows (partitionBy s / s,p)
    — never a global Window.orderBy.
    """
    part = _range_sorted(triples_id.select("s", "p", "o"), ["s", "p", "o"], num_partitions)
    wy = Window.partitionBy("s").orderBy("p", "o")
    wz = Window.partitionBy("s", "p").orderBy("o")
    return part.select(
        "s",
        "p",
        "o",
        F.when(F.row_number().over(wy) == 1, F.lit(1)).otherwise(F.lit(0)).alias("bit_y"),
        F.when(F.row_number().over(wz) == 1, F.lit(1)).otherwise(F.lit(0)).alias("bit_z"),
    )
