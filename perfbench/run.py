"""KG-construction benchmark: build, merge-while-querying, per-layer trace.

Usage (from the repository root):

    python3 perfbench/run.py --workload build_docs --seed 1 --seconds 3 --trace 0

Workloads (inputs are generated from --seed, see inputs.py):

- build_docs: one `run_pipeline` over freshly generated documents into
  an empty warehouse (force=True, num_partitions = 2 x cpus, as in
  bench.py), then a closed-loop SPARQL query mix over the result.
- update_query: setup publishes a documents base with `run_pipeline`;
  the timed region merges one seeded pages batch with
  `incremental_update`, opens a fresh `SparqlEngine.from_catalog` and
  runs the query mix, which includes a read-your-writes lookup of a url
  from the batch.

The query mix is one client in a closed loop for --seconds. Every
output is checked after the timed region against the twins in
checks.py; a mismatch or a failed operation counts in `failed`.

With --trace 0 the last stdout line holds the end-to-end metrics; with
--trace 1 the layer entry points are wrapped (layertrace.py) and it
holds the per-layer metrics. The line before it is a report with the
wall-clock figures (write wall, triples/s, query p50 and tail), the
checks and the host settings. The end-to-end timings are CPU time of the
program's processes, because wall time on a shared host moves with the
neighbours' load (see METRICS.md).
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
# pandas UDF workers unpickle functions by module path
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)

import duckdb  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402
from pyspark import SparkContext  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

import qendpoint_spark.pipeline as pipeline_mod  # noqa: E402
from qendpoint_spark.catalog import Catalog  # noqa: E402
from qendpoint_spark.extraction.html_text import extract_text_udf  # noqa: E402
from qendpoint_spark.session import get_spark  # noqa: E402
from qendpoint_spark.sparql import SparqlEngine  # noqa: E402

import checks  # noqa: E402
import inputs  # noqa: E402
import layertrace  # noqa: E402

CPUS = len(os.sched_getaffinity(0))
HEAP = "2g"
SETUP_REPEATS = 3
BUILD_DOCS = 10_000
BASE_DOCS = 2_000
BATCH_PAGES = 2_000
TABLES = ("triples_str", "dict_terms", "triples_spo", "triples_ops",
          "predicate_index", "object_index", "header")
# extraction.call and encoding.call only build lazy plans (no Spark
# jobs); their work runs inside the catalog write spans they feed
GROUPS = ("pipeline.run", "pipeline.update", "dictionary.build",
          *(f"catalog.{t}.write" for t in TABLES),
          "merge.call", "sparql.engine", "sparql.plan", "sparql.exec")
MB = 1024 * 1024
T_START = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:7.1f}s] {msg}",
          file=sys.stderr, flush=True)


# -- host process helpers --------------------------------------------------

def _children(pid: int) -> list[int]:
    kids = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    if int(f.read().rsplit(")", 1)[1].split()[1]) == pid:
                        kids.append(int(entry))
            except (OSError, IndexError, ValueError):
                pass
    return kids


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        out += kids
        todo += kids
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark) -> None:
    """Stop the session, the JVM and every process under it, and wait."""
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    tree = _descendants(proc.pid) if proc else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for pid in tree:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            os.kill(pid, signal.SIGKILL)
    SparkContext._gateway = None
    SparkContext._jvm = None


CLK_TCK = os.sysconf("SC_CLK_TCK")


def cpu_s(jvm_pid: int) -> float:
    """CPU seconds (user + system) spent so far by this process and by
    the JVM and its live descendants (incl. children they reaped)."""
    own = os.times()
    total = own.user + own.system
    for pid in [jvm_pid, *_descendants(jvm_pid)]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited since the scan
        total += sum(int(x) for x in fields[11:15]) / CLK_TCK
    return total


def _hwm_reset(pid: int) -> None:
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


def _hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def table_files(path: str) -> list[str]:
    return [os.path.join(r, f) for r, _d, fs in os.walk(path) for f in fs
            if f.endswith(".parquet")]


# -- the run -----------------------------------------------------------------

class Bench:
    def __init__(self, args):
        self.seed = args.seed
        self.seconds = args.seconds
        self.work = os.path.join(ROOT, ".bench_work")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(os.path.join(self.work, "in"))
        self.attempted = 0
        self.failed = 0
        self.checks: dict[str, bool] = {}
        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench", cores=CPUS,
            extra_conf={
                "spark.driver.memory": HEAP,
                "spark.local.dir": os.path.join(self.work, "spark-local"),
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                # C1 only: a run's operations last seconds, and C2
                # compilation threads cost more than they return there.
                # Serial GC sizes the heap by free ratio, not by GC-time
                # goals, so peak RSS does not follow the host's speed.
                "spark.driver.extraJavaOptions": "-XX:TieredStopAtLevel=1 -XX:+UseSerialGC",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.session_s = time.perf_counter() - t0
        log(f"session up in {self.session_s:.1f}s")
        self.sc = self.spark.sparkContext
        self.jvm_pid = int(self.sc._jvm.java.lang.ProcessHandle.current().pid())
        self.traced = bool(args.trace)
        self.tracer = layertrace.LayerTrace(self.sc) if self.traced else layertrace.NullTrace()
        self.query_ms: list[float] = []
        self.query_cpu_ms: list[float] = []
        self.query_tpl: list[str] = []
        self.plan_ms: list[float] = []
        self.exec_ms: list[float] = []
        self.executed: list[tuple[str, list, list]] = []

    # setup ---------------------------------------------------------------
    def load(self, table, name: str):
        """Write an input table as parquet; return (path, cached frame)."""
        path = os.path.join(self.work, "in", f"{name}.parquet")
        pq.write_table(table, path)
        df = self.spark.read.parquet(path).repartition(2 * CPUS).persist()
        df.count()
        return path, df

    def repeated_setup(self, make):
        """Run make() SETUP_REPEATS times; keep the last result and return
        it with the median wall (earlier copies are released)."""
        walls, out = [], None
        for _ in range(SETUP_REPEATS):
            if out is not None:
                for _path, df in out.values():
                    df.unpersist(blocking=True)
            t0 = time.perf_counter()
            out = make()
            walls.append(time.perf_counter() - t0)
            log(f"inputs ready in {walls[-1]:.1f}s")
        return out, statistics.median(walls)

    # timed region ----------------------------------------------------------
    def begin(self) -> None:
        log("setup done; timed region starts")
        if self.traced:
            self.tracer.install()
        _hwm_reset(self.jvm_pid)
        self.t0_epoch = time.time()

    def end(self) -> None:
        self.t1_epoch = time.time()
        log(f"timed region done: write {self.write_s:.1f}s, {len(self.query_ms)} queries")
        self.peak_rss_mb = _hwm_mb(self.jvm_pid)
        if self.traced:
            self.tracer.uninstall()
            self.spark_groups = layertrace.SparkStageMetrics(self.spark).collect(
                self.t0_epoch, self.t1_epoch, {s.name for s in self.tracer.spans})
            log("layer metrics read")

    def query_loop(self, catalog: Catalog, n_docs: int, tokens: list[str],
                   fresh: list[str]) -> None:
        """One client in a closed loop: rounds of every template, each
        with fresh seeded parameters, until --seconds have passed (at
        least one round)."""
        rng = random.Random(f"{self.seed}:queries")
        engine = SparqlEngine.from_catalog(catalog)
        deadline = time.perf_counter() + self.seconds
        while not self.query_ms or time.perf_counter() < deadline:
            for tpl in checks.TEMPLATES:
                self.run_query(engine, tpl, *checks.make_query(
                    tpl, rng, n_docs, tokens, fresh))

    def run_query(self, engine, tpl: str, sparql: str, sql: str, params: list) -> None:
        self.attempted += 1
        t0, c0 = time.perf_counter(), cpu_s(self.jvm_pid)
        try:
            df = engine.query(sparql)
            t1 = time.perf_counter()
            with self.tracer.span("sparql.exec"):
                rows = df.collect()
        except Exception as exc:  # a failed query is a measured outcome
            print(f"query {tpl} failed: {exc!r}", file=sys.stderr)
            self.failed += 1
            return
        t2 = time.perf_counter()
        self.query_cpu_ms.append((cpu_s(self.jvm_pid) - c0) * 1000)
        self.plan_ms.append((t1 - t0) * 1000)
        self.exec_ms.append((t2 - t1) * 1000)
        self.query_ms.append((t2 - t0) * 1000)
        self.query_tpl.append(tpl)
        self.executed.append((sql, params, rows))

    # checks ----------------------------------------------------------------
    def check(self, name: str, ok: bool) -> None:
        self.attempted += 1
        self.checks[name] = bool(ok)
        if not ok:
            self.failed += 1
            print(f"check failed: {name}", file=sys.stderr)

    def check_published(self, con, warehouse: str, expected: dict) -> None:
        checks.open_published(con, warehouse)
        got = checks.published_digests(con)
        for table, digest in expected.items():
            self.check(f"{table}_twin", got[table] == digest)
        bad = sum(not checks.query_matches(con, sql, params, rows)
                  for sql, params, rows in self.executed)
        self.check("queries_twin", bad == 0)

    # workloads -------------------------------------------------------------
    def build_docs(self) -> None:
        made, input_s = self.repeated_setup(lambda: {
            "docs": self.load(inputs.documents(BUILD_DOCS, self.seed), "docs")
        })
        docs_path, docs = made["docs"]
        self.setup_s = self.session_s + input_s
        warehouse = os.path.join(self.work, "wh")
        catalog = Catalog(self.spark, warehouse)

        self.begin()
        t0, c0 = time.perf_counter(), cpu_s(self.jvm_pid)
        report = pipeline_mod.run_pipeline(
            self.spark, catalog, source_df=docs, source_kind="documents",
            source_fingerprint=f"perfbench:docs:{self.seed}",
            num_partitions=2 * CPUS, force=True,
        )
        self.write_s = time.perf_counter() - t0
        self.write_cpu_s = cpu_s(self.jvm_pid) - c0
        self.write_metric = "build_s"
        self.attempted += len(report.stages)
        fresh = [f"{checks.DOC}{d}" for d in random.Random(self.seed).sample(
            range(BUILD_DOCS), 50)]
        self.query_loop(catalog, BUILD_DOCS, tokens_of(inputs.DOC_VOCAB), fresh)
        self.end()

        self.finish(warehouse, report.n_triples)
        with duckdb.connect() as con:
            self.check_published(con, warehouse,
                                 checks.expected_digests(con, docs_path))

    def update_query(self) -> None:
        def make():
            return {
                "base": self.load(inputs.documents(BASE_DOCS, self.seed), "base"),
                "batch": self.load(inputs.pages(BATCH_PAGES, self.seed,
                                                batch=f"b{self.seed}"), "batch"),
            }

        made, input_s = self.repeated_setup(make)
        base_path, base = made["base"]
        batch_path, batch = made["batch"]
        warehouse = os.path.join(self.work, "wh")
        catalog = Catalog(self.spark, warehouse)
        t0 = time.perf_counter()
        pipeline_mod.run_pipeline(
            self.spark, catalog, source_df=base, source_kind="documents",
            source_fingerprint=f"perfbench:base:{self.seed}",
            num_partitions=2 * CPUS, force=True,
        )
        self.setup_s = self.session_s + input_s + (time.perf_counter() - t0)
        log(f"base published in {time.perf_counter() - t0:.1f}s")
        base.unpersist(blocking=True)
        batch_table = pq.read_table(batch_path)
        fresh = sorted(set(batch_table.column("url").to_pylist()))
        # extract(html) == text on the generated input; this pandas-UDF job
        # also starts the Python workers the batch extraction will reuse
        mismatched = (
            batch.select(extract_text_udf("html").alias("x"), "text")
            .filter(~F.col("x").eqNullSafe(F.col("text"))).count()
        )
        self.check("extract_text_invariant", mismatched == 0)

        self.begin()
        t0, c0 = time.perf_counter(), cpu_s(self.jvm_pid)
        report = pipeline_mod.incremental_update(
            self.spark, catalog, batch, source_kind="pages",
            batch_fingerprint=f"perfbench:batch:{self.seed}",
            num_partitions=2 * CPUS,
        )
        self.write_s = time.perf_counter() - t0
        self.write_cpu_s = cpu_s(self.jvm_pid) - c0
        self.write_metric = "update_s"
        self.attempted += 1 + len(report.stages)
        self.query_loop(catalog, BASE_DOCS,
                        tokens_of(inputs.DOC_VOCAB + inputs.PAGE_VOCAB), fresh)
        self.end()

        self.finish(warehouse, report.n_triples)
        with duckdb.connect() as con:
            self.check_published(con, warehouse, checks.expected_digests(
                con, base_path, checks.pages_triples(batch_table)))

    # results ---------------------------------------------------------------
    def finish(self, warehouse: str, n_triples: int) -> None:
        self.n_triples = n_triples
        self.table_stats = {}
        for t in TABLES:
            files = table_files(os.path.join(warehouse, t))
            self.table_stats[t] = (sum(os.path.getsize(f) for f in files), len(files))
        all_bytes = sum(os.path.getsize(f) for f in table_files(warehouse))
        self.bytes_per_triple = all_bytes / n_triples

    def end_to_end(self) -> dict[str, tuple[float, str]]:
        return {
            "triples_per_cpu_s": (self.n_triples / self.write_cpu_s, "triples/cpu-s"),
            "query_cpu_p50_ms": (statistics.median(self.query_cpu_ms), "ms"),
            "bytes_per_triple": (self.bytes_per_triple, "B"),
            "peak_rss_mb": (self.peak_rss_mb, "MB"),
            "setup_s": (self.setup_s, "s"),
        }

    def per_layer(self) -> dict[str, tuple[float, str]]:
        tr: layertrace.LayerTrace = self.tracer
        out = {
            "pipeline.self_s": (tr.self_time("pipeline."), "s"),
            "extraction.call_s": (tr.total("extraction."), "s"),
            "dictionary.build_s": (tr.total("dictionary."), "s"),
            "dictionary.terms": (sum(r.rows for r in tr.stage_results
                                     if r.name == "dict_terms"), "count"),
            "encoding.call_s": (tr.total("encoding."), "s"),
        }
        for t in TABLES:
            nbytes, nfiles = self.table_stats[t]
            out[f"catalog.{t}.write_s"] = (sum(
                r.wall_ms for r in tr.stage_results if r.name == t) / 1000, "s")
            out[f"catalog.{t}.bytes"] = (nbytes, "B")
            out[f"catalog.{t}.files"] = (nfiles, "count")
        out["catalog.footer_s"] = (tr.counts.get("catalog.footer_s", 0.0), "s")
        out["catalog.footer_reads"] = (tr.counts.get("catalog.footer_reads", 0), "count")
        out["merge.call_s"] = (tr.total("merge."), "s")
        out["merge.delta_terms"] = (sum(d.count() for d in tr.merge_deltas), "count")
        out["sparql.engine_ms"] = (tr.total("sparql.engine") * 1000, "ms")
        out["sparql.plan_ms"] = (statistics.median(self.plan_ms), "ms")
        out["sparql.exec_ms"] = (statistics.median(self.exec_ms), "ms")
        groups = self.spark_groups
        sparql_jobs = sum(groups.get(g, {}).get("jobs", 0)
                          for g in ("sparql.plan", "sparql.exec"))
        out["sparql.jobs_per_query"] = (sparql_jobs / len(self.query_ms), "count")
        for g in GROUPS:
            m = groups.get(g, {})
            out[f"spark.{g}.task_s"] = (m.get("task_ms", 0) / 1000, "s")
            out[f"spark.{g}.shuffle_write_mb"] = (m.get("shuffle_write_bytes", 0) / MB, "MB")
            out[f"spark.{g}.spill_mb"] = (m.get("spill_bytes", 0) / MB, "MB")
            out[f"spark.{g}.task_skew"] = (m.get("task_skew", 0.0), "ratio")
        out["spark.ungrouped.task_s"] = (
            groups.get(layertrace.UNGROUPED, {}).get("task_ms", 0) / 1000, "s")
        total_ms = sum(m["task_ms"] for m in groups.values())
        grouped_ms = total_ms - groups.get(layertrace.UNGROUPED, {}).get("task_ms", 0)
        out["spark.grouped_pct"] = (100.0 * grouped_ms / total_ms if total_ms else 0.0, "%")
        out["trace.closure_pct"] = (100.0 * abs(
            tr.tiled("pipeline.") - self.write_s) / self.write_s, "%")
        return out

    def report(self) -> dict:
        tail = layertrace.tail_percentile(self.query_ms)
        return {
            self.write_metric: self.write_s,
            "triples_per_s": self.n_triples / self.write_s,
            "query_p50_ms": statistics.median(self.query_ms),
            "query_tail_ms": None if tail is None else tail[0],
            "query_tail_pct": None if tail is None else tail[1],
            "queries": len(self.query_ms),
            "query_ms_by_template": {
                t: [round(ms, 1) for ms, q in zip(self.query_ms, self.query_tpl) if q == t]
                for t in checks.TEMPLATES},
            "error_rate": self.failed / self.attempted,
            "checks": self.checks,
            "host": {"cpus": CPUS, "heap": HEAP, "substrate": self.work,
                     "mem_total_mb": _mem_total_mb()},
        }


def tokens_of(vocab: list[str]) -> list[str]:
    return [t for t in vocab if len(t) >= 4]


def _mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        return int(f.readline().split()[1]) / 1024.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("build_docs", "update_query"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    bench = Bench(args)
    try:
        getattr(bench, args.workload)()
        metrics = bench.per_layer() if bench.traced else bench.end_to_end()
        report = bench.report()
    finally:
        log("checks done; stopping Spark")
        stop_spark(bench.spark)
        shutil.rmtree(bench.work, ignore_errors=True)
        log("stopped")
    print("report " + json.dumps(report, default=str))
    print(json.dumps({
        "correct": bench.failed == 0 and all(bench.checks.values()),
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
