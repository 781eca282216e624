"""Scalable contiguous rank assignment (distributed zipWithIndex).

The reference assigns dictionary IDs with a single-threaded streaming
counter over the k-way-merged term stream
(qendpoint-core CompressFourSectionDictionary.java:88-133) — a serial
bottleneck Spark must not reproduce. Here:

1. range-partition on the sort key + sortWithinPartitions (ONE full
   shuffle; Spark samples balanced boundaries, so skewed term prefixes
   spread across partitions),
2. `monotonically_increasing_id()` — a narrow op that increments by 1
   within each partition, so after the local sort it enumerates rows in
   global order *within* each range partition. A lazy
   `localCheckpoint` pins that partitioning (and the ids, which depend
   on it) for every later scan,
3. per-partition (min_mid, count) — a map-side-combined aggregate of
   num_partitions rows collected to the driver (bounded metadata:
   <= num_partitions x |groups| rows). This stats pass is the action
   that materializes the checkpoint. Its cumulative counts become one
   per-partition base, applied as an array literal lookup
   `rank = element_at(array(base...), __pid + 1) + mid` — no join, and
   codegen-safe at thousands of partitions.

Cost: one range shuffle + one cheap stats pass. No global
single-partition window (`Window.orderBy` without partitionBy
serializes every row through one task — the classic 100-TB killer) and
no second full shuffle. Deterministic: ranks depend only on the total
order of `sort_cols`, not on sampled boundary placement. The
contiguity invariant (ids are exactly start..start+n-1) is asserted by
tests.

`count_by` piggybacks per-group row counts on the SAME stats pass —
callers that need group totals (the dictionary's section sizes) get
them without a second full scan of the ranked table.

The checkpointed blocks live as long as the returned frame, like every
other `localCheckpoint` in the package; there is nothing to release.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def zip_with_rank(
    df: DataFrame,
    sort_cols: list[str],
    id_col: str = "id",
    start: int = 1,
    num_partitions: int | None = None,
    count_by: str | None = None,
) -> tuple[DataFrame, dict]:
    """(ranked, counts): attach a contiguous `start`-based rank over the
    total order of sort_cols.

    Rows must be distinct on sort_cols (dictionary terms are — the
    reference enforces the same with DuplicatedIterator,
    CompressUtil.java:151-229). Binary/unsigned-UTF8 string order is
    Spark's native StringType order, matching HDT section order
    (CompactString.java:104-106).

    The ranked DataFrame stays range-partitioned and locally sorted on
    sort_cols — callers writing section tables get the HDT on-disk sort
    order for free.

    counts: per-value row counts of the `count_by` column (value -> n)
    from the same stats job; empty when count_by is None.
    """
    if num_partitions is None:
        num_partitions = df.sparkSession.sparkContext.defaultParallelism
    part = (
        df.repartitionByRange(num_partitions, *[F.col(c) for c in sort_cols])
        .sortWithinPartitions(*sort_cols)
        .withColumn("__pid", F.spark_partition_id())
        .withColumn("__mid", F.monotonically_increasing_id())
        .localCheckpoint(eager=False)
    )
    # ONE stats pass materializes the checkpoint and yields both the
    # per-partition offsets and (optionally) the per-group totals.
    group_cols = ["__pid"] + ([count_by] if count_by else [])
    stat_rows = (
        part.groupBy(*group_cols)
        .agg(F.min("__mid").alias("__min_mid"), F.count(F.lit(1)).alias("__cnt"))
        .collect()
    )
    per_pid: dict[int, list[int]] = {}
    counts: dict = {}
    for r in stat_rows:
        ent = per_pid.setdefault(r["__pid"], [r["__min_mid"], 0])
        ent[0] = min(ent[0], r["__min_mid"])
        ent[1] += r["__cnt"]
        if count_by:
            counts[r[count_by]] = counts.get(r[count_by], 0) + r["__cnt"]
    # base[pid] = rows before pid + start - min_mid; empty partitions
    # are never looked up and keep 0
    base = [0] * (max(per_pid, default=0) + 1)
    acc = start
    for pid in sorted(per_pid):
        mn, cnt = per_pid[pid]
        base[pid] = acc - mn
        acc += cnt
    offset = F.element_at(
        F.array(*[F.lit(b).cast("long") for b in base]), F.col("__pid") + 1
    )
    ranked = part.withColumn(id_col, F.col("__mid") + offset).drop(
        "__pid", "__mid"
    )
    return ranked, counts
