"""Stage checkpoint catalog: Iceberg-shaped table + lineage bookkeeping.

The reference persists its merge/restart progress as marker files and
keeps each CatTree chunk as an HDT file on disk
(MergeRunnable.markRestartStepCompleted, MergeRunnable.java:517-519,
495-507; CatTreeImpl.doGenerationSync chunk HDTs,
CatTreeImpl.java:254-390). Our equivalent: every stage writes its
output table + a lineage row (stage, input fingerprint, row count,
wall ms, per-partition rows); a rerun with the same fingerprint reads
the committed table instead of recomputing — idempotent resume.

Iceberg itself needs jars not present in the v1 sandbox image, so the
warehouse is a directory of parquet tables with an atomic `_SUCCESS`-
style commit marker (write to tmp path, rename); the write API mirrors
`df.writeTo(table)` so swapping in a real Iceberg catalog is a
constructor argument, not a rewrite. All data paths stay identical at
cluster scale — parquet files written by executors, only the tiny
lineage JSON is driver-side.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass
from urllib.parse import unquote

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def _storage_options(columns: list[str], sort_cols: list[str] | None) -> dict[str, str]:
    """Parquet writer options for one committed table — the at-rest
    analog of HDT's compact layouts. Writer v2 gives DELTA_BYTE_ARRAY
    (front coding, like the PFC dictionary sections) where a string
    column's dictionary does not pay, and DELTA_BINARY_PACKED for
    integer columns written without a dictionary: the bit-packed
    SeqY/SeqZ analog. A sorted table turns the dictionary off on its
    leading sort key and on `s`, the columns that ascend within long
    runs (SPO s; OPS o, s; PSO p, s); the other ID columns keep it,
    where it measured smaller."""
    opts = {"parquet.writer.version": "v2"}
    if sort_cols:
        for c in (sort_cols[0], "s"):
            if c in columns:
                opts[f"parquet.enable.dictionary#{c}"] = "false"
    return opts


def _partition_values(rel_path: str) -> dict[str, str | None]:
    """Partition columns of a data file from its `key=value/...` path
    (Spark escapes values as %XX and writes NULL as the Hive default)."""
    values: dict[str, str | None] = {}
    for seg in rel_path.split(os.sep)[:-1]:
        key, _, val = seg.partition("=")
        values[key] = None if val == "__HIVE_DEFAULT_PARTITION__" else unquote(val)
    return values


def _column_range(rg, name: str) -> tuple:
    """(min, max) of one column of a row group from its footer
    statistics, or (None, None) when the writer kept none."""
    for c in range(rg.num_columns):
        cc = rg.column(c)
        st = cc.statistics
        if cc.path_in_schema == name and st is not None and st.has_min_max:
            return st.min, st.max
    return None, None


def _block_entry(rel_path: str, index: int, rg, key: str) -> dict:
    """One row-group directory entry: the row group's file, index, row
    count and partition values, with the footer's min/max of `key`
    (None when the writer kept no statistics for it). A `term`-keyed
    table (the dictionary) also records the min/max of its `id`
    column: ids ascend with the term inside a section, so the same
    entries locate a term by value and by id."""
    lo, hi = _column_range(rg, key)
    entry = {"path": rel_path, "row_group": index, "rows": rg.num_rows,
             **_partition_values(rel_path), "min": lo, "max": hi}
    if key == "term":
        entry["id_min"], entry["id_max"] = _column_range(rg, "id")
    return entry


@dataclass
class StageResult:
    name: str
    path: str
    rows: int
    wall_ms: int
    resumed: bool


class Catalog:
    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse
        os.makedirs(warehouse, exist_ok=True)

    # -- lineage ----------------------------------------------------------
    def _lineage_path(self, stage: str) -> str:
        return os.path.join(self.warehouse, f"_lineage_{stage}.json")

    def lineage(self, stage: str) -> dict | None:
        p = self._lineage_path(stage)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def _write_lineage(self, stage: str, record: dict) -> None:
        tmp = self._lineage_path(stage) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(record, f)
        os.replace(tmp, self._lineage_path(stage))

    def all_lineage(self) -> list[dict]:
        out = []
        for f in sorted(os.listdir(self.warehouse)):
            if f.startswith("_lineage_"):
                with open(os.path.join(self.warehouse, f)) as fh:
                    out.append(json.load(fh))
        return out

    # -- tables -----------------------------------------------------------
    def table_path(self, name: str) -> str:
        return os.path.join(self.warehouse, name)

    def exists(self, name: str) -> bool:
        return os.path.exists(self.table_path(name))

    def read(self, name: str) -> DataFrame:
        """The committed table. Its schema comes from the lineage when
        the commit recorded one, which spares Spark the job that infers
        a parquet schema from a footer."""
        record = self.lineage(name)
        reader = self.spark.read
        if record is not None and "schema" in record:
            reader = reader.schema(StructType.fromJson(record["schema"]))
        return reader.parquet(self.table_path(name))

    def write_stage(
        self,
        stage: str,
        df: DataFrame,
        input_fingerprint: str,
        sort_cols: list[str] | None = None,
        force: bool = False,
        partition_by: list[str] | None = None,
    ) -> StageResult:
        """Commit `df` as the output of `stage`, or skip if an identical
        run already committed (same stage + fingerprint)."""
        existing = self.lineage(stage)
        path = self.table_path(stage)
        if (
            not force
            and existing is not None
            and existing.get("input_fingerprint") == input_fingerprint
            and os.path.exists(path)
        ):
            return StageResult(
                stage, path, existing["row_count"], existing["wall_ms"], True
            )
        t0 = time.time()
        tmp = path + ".__tmp__"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        opts = _storage_options(df.columns, sort_cols)

        def write(partitioned: bool) -> None:
            writer = df.write.mode("overwrite").options(**opts)
            if partitioned:
                writer = writer.partitionBy(*partition_by)
            writer.parquet(tmp)

        write(bool(partition_by))
        if partition_by and not any(
            f.endswith(".parquet")
            for _r, _d, fs in os.walk(tmp) for f in fs
        ):
            # empty frame + partitionBy writes NO data files (not even
            # a schema), leaving the table unreadable; rewrite the
            # empty table unpartitioned so the schema is preserved
            # (the reference's empty1.nt case)
            write(False)
        # per-partition lineage rows (FIXTURES.md §8) and per-column
        # storage (bytes + encodings) from parquet footer metadata — no
        # extra Spark job over the data (footers only; an Iceberg
        # catalog would expose the same via its manifest files).
        # Recursive walk covers partitionBy layouts (section=SH/...).
        files = []
        for root, _dirs, fnames in os.walk(tmp):
            for fname in fnames:
                if fname.endswith(".parquet"):
                    files.append(os.path.join(root, fname))
        # A table keyed by `term` (the dictionary) or sorted by
        # `sort_cols` also records its row-group directory from the
        # same footers: per row group, the partition values, the row
        # count and the min/max of the key (the term, or the leading
        # sort key). The dictionary's entries are the PFC block
        # directory (PFCDictionarySection.java:96-150) and, with their
        # id ranges, its extract(id) directory; a sorted triple
        # table's are the range location BitmapTriples.search does on
        # the leading component. SparqlEngine.from_catalog resolves
        # constants, bounded triple patterns and decodes by reading
        # the candidate row groups instead of running a Spark job.
        key = "term" if "term" in df.columns else (sort_cols or [None])[0]
        blocks = [] if key is not None else None
        per_part = []
        columns: dict[str, dict] = {}
        for i, fpath in enumerate(sorted(files)):
            md = pq.read_metadata(fpath)
            rel = os.path.relpath(fpath, tmp)
            per_part.append(
                {"partition_id": i, "row_count": md.num_rows, "path": rel}
            )
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                for c in range(rg.num_columns):
                    cc = rg.column(c)
                    col = columns.setdefault(
                        cc.path_in_schema, {"compressed_bytes": 0, "encodings": []}
                    )
                    col["compressed_bytes"] += cc.total_compressed_size
                    col["encodings"] = sorted(set(col["encodings"]) | set(cc.encodings))
                if blocks is not None:
                    blocks.append(_block_entry(rel, g, rg, key))
        rows = sum(p["row_count"] for p in per_part)
        if os.path.exists(path):
            shutil.rmtree(path)
        os.rename(tmp, path)
        wall_ms = int((time.time() - t0) * 1000)
        record = {
            "stage": stage,
            "input_fingerprint": input_fingerprint,
            "row_count": rows,
            "wall_ms": wall_ms,
            "completed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "partitions": per_part,
            "sort_cols": sort_cols or [],
            "columns": columns,
            "schema": df.schema.jsonValue(),
        }
        if blocks is not None:
            record["blocks"] = blocks
        self._write_lineage(stage, record)
        return StageResult(stage, path, rows, wall_ms, False)

    def drop(self, stage: str, staging: bool = False) -> None:
        """Delete a committed table's data. staging=True keeps its
        lineage row (fingerprint, row counts, per-file rows), marked
        `"staging": "data dropped"`: a staging table whose consumers
        have all committed. Otherwise the lineage row goes too."""
        shutil.rmtree(self.table_path(stage), ignore_errors=True)
        record = self.lineage(stage)
        if record is None:
            return
        if staging:
            self._write_lineage(stage, {**record, "staging": "data dropped"})
        else:
            os.remove(self._lineage_path(stage))

    def partition_rows(self, stage: str, key: str) -> dict[str, int]:
        """Committed rows per value of the partition column `key`, from
        the per-file rows in the stage's lineage: no data is read."""
        rows: dict[str, int] = {}
        for part in self.lineage(stage)["partitions"]:
            value = _partition_values(part["path"]).get(key)
            if value is not None:
                rows[value] = rows.get(value, 0) + part["row_count"]
        return rows
