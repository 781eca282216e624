"""Bounded basic graph patterns on the driver, over row-group directories.

The reference answers a triple pattern in process: `BitmapTriples.search`
locates the bound leading component's range in the sorted structure and
iterates it (core/triples/impl/BitmapTriples.java:303-378). Here the
sorted structures are the committed SPO/OPS(/PSO) tables, and the range
location is the row-group directory the catalog records at commit (per
row group: file, row count, leading-key min/max from the footer). A
pattern whose bound leading key falls in a few row groups is read with
pyarrow, filtered and bind-joined on the driver. Scheduling one Spark
job costs more CPU than reading and joining about a million rows this
way (`LOCAL_BGP_ROWS`), and than handing Spark about 50k bindings as a
local relation (`LOCAL_BINDING_ROWS`), so a BGP within both bounds
never leaves the driver.

`local_bgp` executes the plan that `plans.pattern.plan_bgp` makes for
`scan_bgp`: the same join order, variable roles and shared-section
guard, so the two executors return the same bindings.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from qendpoint_spark.plans.pattern import BgpStep, PatternStats, pattern_vars

#: rows of candidate row groups up to which a pattern is read on the
#: driver. Measured on 4 vCPU: pyarrow reads, filters and hash-joins
#: committed id columns at about 10M rows per CPU-second, and the CPU
#: floor of one Spark job over a local relation is about 100 ms, so the
#: break-even is about 1M rows. A point lookup at sf0.1 x 40 (5.3M
#: triples, one ~660k-row row group per file) stays under it; a bind
#: join across all of that warehouse does not.
LOCAL_BGP_ROWS = 1_000_000

#: bindings up to which a driver-side BGP is handed to Spark. Spark
#: gets them as one single-partition local relation, built through
#: Arrow and evaluated by Catalyst's interpreter, so the driver path's
#: CPU grows with rows x variables. Measured on 4 vCPU (warm `count()`
#: of the same BGP on both paths, 1-4 variables, 5k-200k bindings) the
#: driver path costs less than the Spark path up to 75k-150k bindings
#: (75k at four variables); at 50k it costs 32-64% of it.
LOCAL_BINDING_ROWS = 50_000

_SPO = pa.schema([("s", pa.int64()), ("p", pa.int64()), ("o", pa.int64())])


class RowGroupDirectory:
    """Row groups of one committed table with their [min, max] of a key
    column: a sorted triple table's leading sort key, or the `id` or
    `term` of a dictionary section. Each row group's range is tested on
    its own, so overlapping ranges (one dictionary section written as
    several files) need no special case. A row group without statistics
    for the key (min None) is a candidate for every value."""

    def __init__(self, root: str, blocks: list[dict]):
        self.root = root
        self.blocks = blocks
        self.rows = sum(b["rows"] for b in blocks)
        self._ranged = [b for b in blocks if b["min"] is not None]
        self._unranged = [b for b in blocks if b["min"] is None]
        # terms compare as Python strs (code point order, which is the
        # UTF-8 byte order of the footer statistics)
        dtype = (object if self._ranged and isinstance(self._ranged[0]["min"], str)
                 else np.int64)
        self._mins = np.array([b["min"] for b in self._ranged], dtype=dtype)
        self._maxs = np.array([b["max"] for b in self._ranged], dtype=dtype)

    def candidates(self, values: np.ndarray) -> list[dict]:
        """Row groups that may hold one of the sorted, unique `values`
        (int64 ids, or an object array of terms)."""
        if not len(values):
            return []
        i = np.searchsorted(values, self._mins)
        hit = (i < len(values)) & (
            values[np.minimum(i, len(values) - 1)] <= self._maxs
        )
        return [b for b, h in zip(self._ranged, hit) if h] + self._unranged

    def read(self, blocks: list[dict], columns: list[str],
             schema: pa.Schema = _SPO) -> pa.Table:
        """The given row groups' columns as one table."""
        by_path: dict[str, list[int]] = {}
        for b in blocks:
            by_path.setdefault(b["path"], []).append(b["row_group"])
        parts = []
        for path, groups in by_path.items():
            with pq.ParquetFile(os.path.join(self.root, path)) as f:
                parts.append(f.read_row_groups(groups, columns=columns))
        if not parts:
            return schema.empty_table()
        return pa.concat_tables(parts)


def sorted_ids(columns: list) -> np.ndarray:
    """Sorted unique ids of some int64 (chunked) arrays."""
    arrays = [np.asarray(c.to_numpy(), dtype=np.int64) for c in columns]
    return np.unique(np.concatenate(arrays)) if arrays else np.array([], np.int64)


def _join(a: pa.Table, b: pa.Table, on: list[str]) -> pa.Table:
    """Inner join of two binding tables on `on`; with no shared
    variable, their cartesian product (a hash join on a constant key)."""
    if on:
        return a.join(b, on, join_type="inner")

    def keyed(t):
        return t.append_column("__aux_k", pa.array(np.zeros(t.num_rows, np.int64)))

    return keyed(a).join(keyed(b), "__aux_k").drop_columns(["__aux_k"])


def _join_rows(a: pa.Table, b: pa.Table, on: list[str]) -> int:
    """Rows of `_join(a, b, on)`, from per-key counts of each side,
    without building the join."""
    if not on:
        return a.num_rows * b.num_rows

    def counts(t, name):
        c = t.group_by(on).aggregate([([], "count_all")])
        return c.rename_columns([name if n == "count_all" else n for n in c.column_names])

    both = counts(a, "__n_a").join(counts(b, "__n_b"), on)
    return pc.sum(pc.multiply(both["__n_a"], both["__n_b"])).as_py() or 0


def _and(mask, cond):
    return cond if mask is None else pc.and_(mask, cond)


def local_bgp(
    steps: list[BgpStep],
    roles: dict[str, str],
    tables: dict[str, RowGroupDirectory],
    n_shared: int | None = None,
    stats: PatternStats | None = None,
) -> pa.Table | None:
    """Evaluate a planned BGP on the driver: one int64 column per
    variable (in `roles` order), or None as soon as a pattern's
    candidate row groups exceed LOCAL_BGP_ROWS or a join would make
    more than LOCAL_BINDING_ROWS bindings (counted before the join is
    built), in which case the caller runs scan_bgp instead. A first
    pattern `?s <p> ?o` binds exactly the predicate's n_triples (from
    `stats`), so past the bound it returns None before reading a row
    group. A BGP of patterns without variables returns zero columns
    and one row when every pattern matches, else none.

    tables maps a leading key ('s', 'o', optionally 'p') to the
    directory of the table sorted on it. Each pattern reads the table
    whose bound key selects the fewest rows: a constant, or (a bind
    join) the ids the earlier patterns bound for a shared variable.
    With no bound key every row group of the SPO table is read. The
    rows are filtered on the key's values, the pattern's constants,
    repeated variables and the shared-section guard of 'so'
    variables, then hash-joined to the bindings so far."""
    s, p, o = steps[0].pattern
    if (stats is not None and isinstance(s, str) and isinstance(o, str)
            and s != o and not isinstance(p, str)
            and stats.by_p.get(p, {}).get("n_triples", 0) > LOCAL_BINDING_ROWS):
        return None
    acc: pa.Table | None = None
    for step in steps:
        pat = dict(zip("spo", step.pattern))
        best = None  # (rows, key, directory, blocks, values)
        for key, table in tables.items():
            x = pat[key]
            if isinstance(x, str):
                if x not in step.on:
                    continue
                values = sorted_ids([acc[x]])
            else:
                values = np.array([x], dtype=np.int64)
            blocks = table.candidates(values)
            rows = sum(b["rows"] for b in blocks)
            if best is None or rows < best[0]:
                best = (rows, key, table, blocks, values)
        if best is None:
            table = tables["s"]
            best = (table.rows, None, table, table.blocks, None)
        rows, key, table, blocks, values = best
        if rows > LOCAL_BGP_ROWS:
            return None
        t = table.read(blocks, ["s", "p", "o"])
        mask = None
        if key is not None:
            mask = pc.is_in(t[key], value_set=pa.array(values, pa.int64()))
        first = pattern_vars(step.pattern)
        for k, x in pat.items():
            if not isinstance(x, str):
                mask = _and(mask, pc.equal(t[k], x))
            elif first[x] != k:
                # a variable repeated within the pattern
                mask = _and(mask, pc.equal(t[first[x]], t[k]))
                if n_shared is not None and {first[x], k} == {"s", "o"}:
                    mask = _and(mask, pc.less_equal(t[k], n_shared))
        if n_shared is not None:
            for v, k in first.items():
                if roles[v] == "so":
                    mask = _and(mask, pc.less_equal(t[k], n_shared))
        if mask is not None:
            t = t.filter(mask)
        # a pattern without variables keeps its matching rows (0 or 1)
        # as a zero-column leaf: the join below is then an existence test
        leaf = t.select(list(first.values())).rename_columns(list(first))
        if acc is None:
            acc = leaf
        else:
            # the bound holds before a join is built: a cross product or
            # a low-cardinality key can make far more rows than either side
            if (acc.num_rows * leaf.num_rows > LOCAL_BINDING_ROWS
                    and _join_rows(acc, leaf, step.on) > LOCAL_BINDING_ROWS):
                return None
            acc = _join(acc, leaf, step.on)
        if acc.num_rows > LOCAL_BINDING_ROWS:
            return None
        if not acc.num_rows:
            return pa.schema([(v, pa.int64()) for v in roles]).empty_table()
    return acc.select(list(roles))
