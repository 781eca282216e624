"""Spans, layer wrappers and Spark stage metrics for the traced run.

Spans are recorded from the benchmark's side: `LayerTrace.install()`
wraps the public functions each layer exposes to the pipeline (the
module attributes `run_pipeline` / `incremental_update` look up at call
time), so nothing inside the package changes. Every span also sets the
Spark job group to its name, so the jobs a layer triggers — and their
stage metrics in the status store — are attributed to that span.

With tracing off the benchmark uses `NullTrace`, whose spans cost
nothing and set no job group.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq

import qendpoint_spark.encoding as encoding_pkg
import qendpoint_spark.merge as merge_pkg
import qendpoint_spark.pipeline as pipeline_mod
from qendpoint_spark.catalog import Catalog
from qendpoint_spark.sparql import SparqlEngine

UNGROUPED = "ungrouped"


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end) intervals."""
    total, reach = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= reach:
            continue
        total += b - max(a, reach)
        reach = b
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        clipped = [(max(a, s.start), min(b, s.end))
                   for a, b in children.get(i, [])]
        out.append((s.end - s.start) - covered([c for c in clipped if c[1] > c[0]]))
    return out


def tail_percentile(samples: list[float]) -> tuple[float, float, int] | None:
    """(value, percentile, n) of the highest percentile that still has
    at least ten samples beyond it, or None below eleven samples."""
    xs = sorted(samples)
    n = len(xs)
    if n < 11:
        return None
    k = n - 11  # xs[k+1:] holds exactly ten samples
    return xs[k], 100.0 * (k + 1) / n, n


class NullTrace:
    """Tracing off: spans are no-ops."""

    @contextlib.contextmanager
    def span(self, name: str):
        yield


@dataclass
class LayerTrace:
    """Spans, counters and wrapped layer functions for one traced run."""

    sc: object
    spans: list[Span] = field(default_factory=list)
    counts: dict[str, float] = field(default_factory=dict)
    stage_results: list = field(default_factory=list)
    merge_deltas: list = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    _undo: list = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, 0.0, parent=parent))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        self.sc.setJobGroup(name, name)
        self.spans[idx].start = time.perf_counter()
        try:
            yield
        finally:
            self.spans[idx].end = time.perf_counter()
            self._stack.pop()
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                pname = self.spans[parent].name
                self.sc.setJobGroup(pname, pname)

    def count(self, key: str, amount: float = 1) -> None:
        self.counts[key] = self.counts.get(key, 0) + amount

    # -- wrapping -------------------------------------------------------
    def _wrap(self, fn, name):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def _patch(self, owner, attr, replacement) -> None:
        self._undo.append((owner, attr, owner.__dict__[attr] if isinstance(
            owner, type) else getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def install(self) -> None:
        """Wrap every layer entry point the pipeline calls."""
        layers = [
            (pipeline_mod, "run_pipeline", "pipeline.run"),
            (pipeline_mod, "incremental_update", "pipeline.update"),
            (pipeline_mod, "extract_triples_from_documents", "extraction.call"),
            (pipeline_mod, "extract_triples_from_pages", "extraction.call"),
            (pipeline_mod, "build_dictionary", "dictionary.build"),
        ]
        for attr in ("encode_triples", "spo_table", "ops_table", "pso_table",
                     "predicate_index", "object_index", "build_header",
                     "with_datatype"):
            layers.append((pipeline_mod, attr, "encoding.call"))
        # incremental_update imports these two at call time
        for attr in ("build_header", "decode_triples"):
            layers.append((encoding_pkg, attr, "encoding.call"))
        for owner, attr, name in layers:
            self._patch(owner, attr, self._wrap(getattr(owner, attr), name))
        merge_incremental = self._wrap(merge_pkg.merge_incremental, "merge.call")
        merge_datasets = self._wrap(merge_pkg.merge_datasets, "merge.call")

        # each keeps the delta dictionary, counted after the timed region
        def traced_incremental(base, delta, *args, **kwargs):
            self.merge_deltas.append(delta[1])
            return merge_incremental(base, delta, *args, **kwargs)

        def traced_datasets(parts, *args, **kwargs):
            self.merge_deltas.append(parts[-1][1])
            return merge_datasets(parts, *args, **kwargs)

        self._patch(merge_pkg, "merge_incremental", traced_incremental)
        self._patch(merge_pkg, "merge_datasets", traced_datasets)

        write_stage = Catalog.write_stage

        def traced_write(cat, stage, *args, **kwargs):
            with self.span(f"catalog.{stage}.write"):
                res = write_stage(cat, stage, *args, **kwargs)
            self.stage_results.append(res)
            return res

        self._patch(Catalog, "write_stage", traced_write)

        read_metadata = pq.read_metadata

        def timed_footer(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return read_metadata(*args, **kwargs)
            finally:
                self.count("catalog.footer_s", time.perf_counter() - t0)
                self.count("catalog.footer_reads")

        self._patch(pq, "read_metadata", timed_footer)

        from_catalog = SparqlEngine.__dict__["from_catalog"].__func__
        self._patch(SparqlEngine, "from_catalog",
                    classmethod(self._wrap(from_catalog, "sparql.engine")))
        self._patch(SparqlEngine, "query",
                    self._wrap(SparqlEngine.query, "sparql.plan"))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, original = self._undo.pop()
            setattr(owner, attr, original)

    # -- reductions -----------------------------------------------------
    def total(self, prefix: str) -> float:
        """Summed wall of outermost spans whose name starts with prefix
        (a span nested in a same-prefix span is not counted twice)."""
        out = 0.0
        for s in self.spans:
            if not s.name.startswith(prefix):
                continue
            p = s.parent
            while p is not None and not self.spans[p].name.startswith(prefix):
                p = self.spans[p].parent
            if p is None:
                out += s.end - s.start
        return out

    def self_time(self, prefix: str) -> float:
        own = self_times(self.spans)
        return sum(t for s, t in zip(self.spans, own) if s.name.startswith(prefix))

    def tiled(self, prefix: str) -> float:
        """Self time plus direct children's walls, summed over the
        outermost spans named with prefix — equals their wall when the
        children do not overlap."""
        own = self_times(self.spans)
        out = 0.0
        for i, s in enumerate(self.spans):
            if s.name.startswith(prefix) and s.parent is None:
                out += own[i] + sum(c.end - c.start for c in self.spans if c.parent == i)
        return out


class SparkStageMetrics:
    """Per-job-group task time, shuffle and spill from the status store.

    The benchmark's session raises spark.ui.retainedJobs/Stages so no
    job of a run is evicted before it is read. Jobs are selected by
    submission time; jobs no span claimed land in `ungrouped`. The store
    is read as JSON (Spark's own Jackson + Scala module) in two calls.
    """

    def __init__(self, spark):
        sc = spark.sparkContext
        self.jvm = sc._jvm
        self.empty = sc._gateway.new_array(self.jvm.double, 0)
        self.jsc = sc._jsc.sc()
        self.mapper = self.jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self.mapper.registerModule(
            self.jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())

    def _read(self, obj) -> list[dict]:
        return json.loads(self.mapper.writeValueAsString(obj))

    def collect(self, t0_epoch: float, t1_epoch: float,
                span_names: set[str]) -> dict[str, dict]:
        self.jsc.listenerBus().waitUntilEmpty(60_000)
        store = self.jsc.statusStore()
        lo, hi = t0_epoch * 1000, t1_epoch * 1000
        stage_group: dict[int, str] = {}
        out: dict[str, dict] = {}

        def group(name: str) -> dict:
            return out.setdefault(name, {
                "jobs": 0, "task_ms": 0, "shuffle_write_bytes": 0,
                "spill_bytes": 0, "tasks_ms": [],
            })

        for job in self._read(store.jobsList(None)):
            if job["submissionTime"] is None or not lo <= job["submissionTime"] <= hi:
                continue
            # jobs that adaptive execution submits from its own threads
            # carry the description but not the group id
            name = job["jobGroup"] or job["description"]
            name = name if name in span_names else UNGROUPED
            group(name)["jobs"] += 1
            for sid in job["stageIds"]:
                stage_group[sid] = name
        for st in self._read(store.stageList(None, True, False, self.empty, None)):
            if st["stageId"] not in stage_group:
                continue
            g = group(stage_group[st["stageId"]])
            g["task_ms"] += st["executorRunTime"]
            g["shuffle_write_bytes"] += st["shuffleWriteBytes"]
            g["spill_bytes"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
            g["tasks_ms"] += [t["taskMetrics"]["executorRunTime"]
                              for t in (st["tasks"] or {}).values()
                              if t.get("taskMetrics")]
        for g in out.values():
            times = g.pop("tasks_ms")
            med = statistics.median(times) if times else 0
            g["task_skew"] = max(times) / med if med else 0.0
        return out
