"""End-to-end KG-construction pipeline with checkpointed, resumable stages.

Stage graph (SURVEY.md §7.1; each stage = one committed table + lineage):

  extract     pages/documents -> triples_str(s,p,o[,g])       [staging]
  link        triples_str -> linked_mentions        (alias_dict given)
  canon       triples_str -> triples_canon          [staging] (sameas given)
  dictionary  triples_str|canon -> dict_terms(term, section, sec_rank, id)
  encode      triples_str|canon x dict -> triples_spo (SPO-sorted, unique)
              [+ quads_spog for quad input]
  ops         triples_spo -> triples_ops (OPS-sorted)   [+ triples_pso]
  stats       predicate_index stats table, header

Published = Header + Dictionary + Triples, as an HDT file is
(HDTBase.java:99-119): no string triples. triples_str and triples_canon
are staging tables. Their data is deleted once every consumer has
committed (dictionary, encode, and link when requested); their lineage
rows stay. The header comes from commit metadata (encoding/header.py),
not from a scan of the staging data.

Resume: each stage records its input fingerprint; rerunning with an
unchanged input skips straight to reading the committed table —
mirroring the reference's persisted restart step
(MergeRunnable.java:495-519) and CatTree chunk checkpoints. A staging
stage resumes from its lineage alone, row count included, so a rerun
after a full publish extracts nothing. When a consumer must rebuild and
the staging data is gone, the staging stage is built again first, as in
a fresh run.
"""

from __future__ import annotations

import contextlib
import hashlib
import time
import weakref
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from qendpoint_spark.catalog import Catalog, StageResult
from qendpoint_spark.dictionary import build_dictionary
from qendpoint_spark.dictionary.builder import role_sections
from qendpoint_spark.encoding import (
    build_header,
    encode_triples,
    object_index,  # noqa: F401 -- re-exported; perfbench's layer trace wraps it
    ops_table,
    predicate_index,
    pso_table,
    spo_table,
    with_datatype,
)
from qendpoint_spark.extraction import (
    extract_triples_from_documents,
    extract_triples_from_pages,
)


@dataclass
class PipelineReport:
    stages: list[StageResult] = field(default_factory=list)
    n_triples: int = 0
    wall_s: float = 0.0

    def stage(self, name: str) -> StageResult:
        return next(s for s in self.stages if s.name == name)


def _fingerprint(*parts: str) -> str:
    return hashlib.sha256("||".join(parts).encode()).hexdigest()[:16]


def _resume(
    catalog: Catalog, name: str, fp: str, need_data: bool = True
) -> StageResult | None:
    """StageResult for a committed, fingerprint-matching stage whose
    table still EXISTS on disk — lineage alone is not enough (a deleted
    table directory with a surviving _lineage_*.json must trigger a
    rebuild, mirroring Catalog.write_stage's own existence check).
    need_data=False: the lineage alone, for a staging stage."""
    lin = catalog.lineage(name)
    if lin is None or lin.get("input_fingerprint") != fp:
        return None
    if need_data and not catalog.exists(name):
        return None
    return StageResult(
        name, catalog.table_path(name), lin["row_count"], lin["wall_ms"], True
    )


class _Staging:
    """A staging stage. A fingerprint-matching lineage row resumes it
    without its data (the data is deleted once its consumers commit);
    frame() is its one read, and builds it again first when a consumer
    must rebuild and the data is gone."""

    def __init__(self, catalog: Catalog, report: PipelineReport, name: str,
                 fp: str, build: Callable[[], DataFrame], force: bool):
        self.catalog, self.name, self.fp, self.build = catalog, name, fp, build
        self.stages, self.index = report.stages, len(report.stages)
        self.res = (
            None if force else _resume(catalog, name, fp, need_data=False)
        ) or self._write()
        report.stages.append(self.res)

    def _write(self) -> StageResult:
        return self.catalog.write_stage(self.name, self.build(), self.fp, force=True)

    def frame(self) -> DataFrame:
        if not self.catalog.exists(self.name):
            self.res = self.stages[self.index] = self._write()
        return self.catalog.read(self.name)

    def drop(self) -> None:
        self.catalog.drop(self.name, staging=True)


def _extractor(source_kind: str):
    """source_kind -> the function turning source rows into
    triples_str(s,p,o). "triples": the source already IS triples_str —
    the rdf2hdt path, where parsing (sources.read_rdf_source) replaces
    extraction. Parsed RDF may repeat statements (HDT stores a set; the
    reference dedups in its triple sort) — unlike extraction, which
    emits distinct by construction — so it dedups, quads on the full
    (s,p,o,g) statement key."""
    if source_kind == "triples":
        return lambda df: df.dropDuplicates(
            ["s", "p", "o"] + (["g"] if "g" in df.columns else [])
        )
    if source_kind == "documents":
        return extract_triples_from_documents
    return extract_triples_from_pages


def _header(catalog: Catalog, triples_spo: DataFrame) -> DataFrame:
    """The header from commit metadata: section counts from the
    dict_terms lineage's per-file rows, n_triples from the triples_spo
    lineage, and one aggregate over the statement table (quads_spog
    when it exists, else triples_spo) for n_raw_triples and
    original_size."""
    statements = (
        catalog.read("quads_spog") if catalog.exists("quads_spog") else triples_spo
    )
    return build_header(
        None,
        catalog.read("dict_terms"),
        statements,
        n_triples=catalog.lineage("triples_spo")["row_count"],
        sections=catalog.partition_rows("dict_terms", "section"),
    )


def _publish_tail(
    catalog: Catalog,
    report: PipelineReport,
    fp: str,
    num_partitions: int | None,
    with_pso: bool,
    with_stats: bool,
    force: bool,
) -> None:
    """OPS -> [PSO] -> [predicate index, header] over the
    committed triples_spo, appending each stage to `report`. fp is the
    triples_spo fingerprint. One persist serves every consumer (OPS
    re-sort's sample + shuffle passes, optional PSO, the stats
    aggregate, the header's size aggregate) — 4-5 parquet re-decodes
    otherwise — and is released on every path, failures included."""
    n = num_partitions
    fp_ops = _fingerprint(fp, "ops", str(report.n_triples))
    stages = [(
        "triples_ops", lambda t: ops_table(t, num_partitions=n),
        ["o", "p", "s"], fp_ops,
    )]
    if with_pso:
        stages.append((
            "triples_pso", lambda t: pso_table(t, num_partitions=n),
            ["p", "s", "o"], _fingerprint(fp, "pso", str(report.n_triples)),
        ))
    if with_stats:
        fp_stats = _fingerprint(fp_ops, "stats")
        stages += [
            ("predicate_index", predicate_index, None, fp_stats),
            ("header", lambda t: _header(catalog, t), None, fp_stats),
        ]
    # an object_index left by an earlier publish would describe
    # another dataset; nothing reads it (kg_object_index computes it)
    catalog.drop("object_index")
    triples_spo = catalog.read("triples_spo").persist()
    try:
        for name, build, sort_cols, stage_fp in stages:
            res = None if force else _resume(catalog, name, stage_fp)
            if res is None:
                res = catalog.write_stage(
                    name, build(triples_spo), stage_fp, sort_cols=sort_cols, force=force
                )
            report.stages.append(res)
    finally:
        triples_spo.unpersist()


def run_pipeline(
    spark: SparkSession,
    catalog: Catalog,
    source_df: DataFrame | None = None,
    source_kind: str = "documents",
    source_fingerprint: str = "",
    num_partitions: int | None = None,
    with_stats: bool = True,
    with_pso: bool = False,
    force: bool = False,
    alias_dict: DataFrame | None = None,
    sameas: DataFrame | None = None,
) -> PipelineReport:
    """Run extract [-> link] [-> canonicalize] -> dictionary -> encode
    -> ops (-> stats).

    source_df: the pages or documents DataFrame. source_fingerprint
    should identify the input snapshot (path + row count, config...);
    stages resume when it is unchanged. A run that resumes every
    consumer of the extraction never reads source_df.

    alias_dict(alias, entity_iri, prior[, block_key]): when given, the
    `linked_mentions` stage scores every mention (the ent/<alias>
    objects emitted by extraction) against it — broadcast join +
    deterministic top-1 (north_star EL stage).

    sameas(iri_a, iri_b): when given, the `triples_canon` stage rewrites
    subjects/objects through large-star/small-star connected components
    and all downstream stages consume the canonical triples.
    """
    t_start = time.time()
    report = PipelineReport()
    fp0 = _fingerprint(source_kind, source_fingerprint)

    # S1 extract (staging) ------------------------------------------------
    extracted = _Staging(
        catalog, report, "triples_str", fp0,
        lambda: _extractor(source_kind)(source_df), force,
    )
    staged = [extracted]

    # S1b entity linking (optional artifact stage) --------------------------
    if alias_dict is not None:
        from qendpoint_spark.extraction.triples import BASE, P_MENTIONS
        from qendpoint_spark.linking import link_mentions

        fp_l = _fingerprint(fp0, "link", str(extracted.res.rows))
        res_l = None if force else _resume(catalog, "linked_mentions", fp_l)
        if res_l is None:
            prefix_len = len(BASE + "ent/")
            mentions = (
                extracted.frame().filter(F.col("p") == P_MENTIONS)
                .select(
                    F.col("s").alias("doc_iri"),
                    F.col("o").substr(F.lit(prefix_len + 1), F.length("o")).alias("alias"),
                )
            )
            linked = link_mentions(mentions, alias_dict, broadcast_dict=True)
            res_l = catalog.write_stage("linked_mentions", linked, fp_l, force=force)
        report.stages.append(res_l)

    # S1c canonicalization (optional staging; downstream consumes it) -------
    source = extracted
    if sameas is not None:
        from qendpoint_spark.linking import canonicalize_triples

        source = _Staging(
            catalog, report, "triples_canon",
            _fingerprint(fp0, "canon", str(extracted.res.rows)),
            lambda: canonicalize_triples(extracted.frame(), sameas), force,
        )
        staged.append(source)

    # S2 dictionary ---------------------------------------------------------
    fp1 = _fingerprint(fp0, "dict", str(source.res.rows))
    res = None if force else _resume(catalog, "dict_terms", fp1)
    if res is None:
        dict_terms = build_dictionary(source.frame(), num_partitions=num_partitions)
        # MSD physical layout (MultipleSectionDictionary.java:51-60):
        # one partition directory per (section, datatype) — the object
        # sections split per literal datatype exactly as the reference's
        # typed subsections, so a datatype- or section-scoped read is
        # file-pruned (PartitionFilters, asserted in tests/test_plans.py).
        # File-count note (measured r06): the rank's (sec_key, term)
        # range partitioning already lands ~1 directory per task (the
        # dominant S section has a single NULL-datatype dir), so the
        # dynamic-partition write emits only ~76 files — an extra
        # (section, datatype, term) re-range was tried and cost more
        # than it saved.
        res = catalog.write_stage(
            "dict_terms",
            with_datatype(dict_terms),
            fp1,
            force=force,
            partition_by=["section", "datatype"],
        )
    report.stages.append(res)

    # S3 encode + SPO materialize -----------------------------------------
    # quad input (a `g` column): the full (s,p,o,g) encode is published
    # as quads_spog — GRAPH/FROM queries read it (sparql.algebra) — and
    # the triple tables carry the graph-projected statements, so every
    # triple-shaped stage (OPS/PSO/stats) is unchanged
    fp2 = _fingerprint(fp1, "encode", str(res.rows))
    res = None if force else _resume(catalog, "triples_spo", fp2)
    if res is None:
        triples_str = source.frame()
        dict_terms = catalog.read("dict_terms")
        if "g" in triples_str.columns:
            encq = encode_triples(
                triples_str, dict_terms, assume_distinct=True
            )
            catalog.write_stage(
                "quads_spog",
                encq.repartition(
                    *([num_partitions] if num_partitions else []), "g"
                ).sortWithinPartitions("g", "s", "p", "o"),
                fp2,
                force=force,
            )
            enc = encq.drop("g").dropDuplicates(["s", "p", "o"])
        else:
            # a quad table left by an earlier quad input would describe
            # another dataset
            catalog.drop("quads_spog")
            # the extraction stage emits distinct triples by construction
            enc = encode_triples(
                triples_str, dict_terms, assume_distinct=True
            )
        # spo_table's repartitionByRange runs a boundary-SAMPLING pass
        # that fully recomputes its narrow child — without this persist
        # the whole encode (string scan + two hash joins) executes TWICE
        # per write (guide §2.4: don't compute things you throw away).
        # The cache is ~3 longs/row, populated by the sample pass itself.
        enc = enc.persist()
        try:
            res = catalog.write_stage(
                "triples_spo",
                spo_table(enc, num_partitions=num_partitions),
                fp2,
                sort_cols=["s", "p", "o"],
                force=force,
            )
        finally:
            enc.unpersist()
    report.stages.append(res)
    report.n_triples = res.rows
    # every consumer of the staging tables has committed
    for stage in staged:
        stage.drop()
    _publish_tail(
        catalog, report, fp2, num_partitions, with_pso, with_stats, force
    )
    report.wall_s = time.time() - t_start
    return report


def incremental_update(
    spark: SparkSession,
    catalog: Catalog,
    new_docs: DataFrame,
    source_kind: str = "documents",
    batch_fingerprint: str = "",
    num_partitions: int | None = None,
) -> PipelineReport:
    """KCat-style compaction of a new document batch into the PUBLISHED
    tables — the reference's CatTree incremental generation (§2D,
    CatTreeImpl.doGenerationSync: build a chunk HDT, then cat it with
    the accumulated one). The batch is extracted and merged as string
    triples with the published dataset through the one KCat merge
    (merge/kcat.py: one rank of the published and batch term tables,
    integer remap joins for the published triples, the batch encoded
    straight into the merged ids), and republished with every derived
    table (publish_merged). Identity
    proven in tests:
    pipeline(A) + incremental_update(B) == pipeline(A ∪ B).
    """
    return incremental_update_triples(
        spark,
        catalog,
        _extractor(source_kind)(new_docs),
        batch_fingerprint=_fingerprint(
            "incremental", source_kind, batch_fingerprint
        ),
        num_partitions=num_partitions,
    )


def incremental_update_triples(
    spark: SparkSession,
    catalog: Catalog,
    new_tri: DataFrame | None,
    batch_fingerprint: str = "",
    num_partitions: int | None = None,
    delete_tri: DataFrame | None = None,
) -> PipelineReport:
    """incremental_update for a PRE-EXTRACTED string-triple batch —
    the entry point the streaming ingest-compact path uses (staging
    generations are already triples; CatTreeImpl merges chunk HDTs the
    same way without re-parsing the source). new_tri must be distinct
    on (s,p,o) — streaming.compact_staging guarantees it; overlap with
    the PUBLISHED data is fine (the merge is a set union).

    delete_tri: string triples removed first, as the reference's
    diffcat does: encoded against the published dictionary and
    subtracted in ID space (diff_datasets). new_tri=None merges the
    survivors alone.

    The batch never gets an id space of its own: it enters
    merge_datasets as its last input, as string triples plus their
    role table (role_sections), so the update ranks ONE dictionary and
    encodes the batch once, against it. Both reads go through one cut
    of the batch (localCheckpoint): a lazy batch — the pages
    extraction's pandas UDF, a CONSTRUCT's WHERE query,
    compact_staging's dropDuplicates — would otherwise run once per
    read. persist() made the whole update ~1.5x the CPU on the pages
    batch, and a row cache that keeps the batch's lineage ~1.1x (4
    vCPU). Every block the update caches is released when it returns
    (_released); on success the batch cut stays until its two frames
    are garbage, since a caller may still hold the merge inputs.
    """
    from qendpoint_spark import merge

    refuse_quad_merge(catalog)
    t_start = time.time()
    with _released(spark) as keep:
        if new_tri is not None:
            new_tri = new_tri.localCheckpoint()
            batch = (new_tri, role_sections(new_tri))
            keep(*batch)
        base = (catalog.read("triples_spo"), catalog.read("dict_terms"))
        if delete_tri is not None:
            delete_id = encode_triples(delete_tri, base[1], assume_distinct=True)
            base = merge.diff_datasets(*base, delete_id)
        merged_dict, merged_triples, _ = merge.merge_datasets(
            [base] + ([batch] if new_tri is not None else []),
            num_partitions=num_partitions,
        )
        report = publish_merged(
            catalog,
            merged_dict,
            merged_triples,
            batch_fingerprint or _fingerprint("incremental", "triples"),
            num_partitions,
        )
    report.wall_s = time.time() - t_start
    return report


@contextlib.contextmanager
def _released(spark: SparkSession):
    """Unpersist every RDD persisted inside the block when it exits.
    An update's cached blocks (the batch cut, the rank, the remap, the
    merged triples, diff_datasets' sets) are otherwise released only
    when the JVM drops the RDDs, which in a fresh session took more
    than 10 s after the frames became garbage.

    Yields keep(*frames): on success, what the block persisted before
    the call stays until the last of those frames is garbage (CPython
    frees a frame when its last reference goes), so a frame the caller
    still holds keeps reading; on failure it goes with the rest."""
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    kept: set[int] = set()

    def keep(*frames: DataFrame) -> None:
        rdds = {i: r for i, r in jsc.getPersistentRDDs().items() if i not in before}
        kept.update(rdds)
        alive = [len(frames)]

        def collected() -> None:
            alive[0] -= 1
            if not alive[0]:
                for rdd in rdds.values():
                    rdd.unpersist(False)

        for frame in frames:
            weakref.finalize(frame, collected).atexit = False

    try:
        yield keep
    except BaseException:
        kept.clear()
        raise
    finally:
        stay = before | kept
        for rdd_id, rdd in jsc.getPersistentRDDs().items():
            if rdd_id not in stay:
                rdd.unpersist(False)


def refuse_quad_merge(catalog: Catalog) -> None:
    """Raise before any Spark job when the warehouse holds quads_spog,
    which a merge cannot rewrite (see publish_merged)."""
    if catalog.exists("quads_spog"):
        raise NotImplementedError(
            "merging into a warehouse with quads_spog is not supported: "
            "its graph statements would keep the pre-merge dictionary ids"
        )


def publish_merged(
    catalog: Catalog,
    merged_dict: DataFrame,
    merged_triples: DataFrame,
    fp: str,
    num_partitions: int | None = None,
) -> PipelineReport:
    """Publish a merged (or diffed) dataset — dict_terms in the MSD
    layout, triples_spo, then OPS plus EVERY derived table the catalog
    already holds (PSO, predicate stats, header): a merge that
    left stats describing the pre-merge dataset would silently mis-plan
    every subsequent ?P? scan. A fresh catalog gets dict/SPO/OPS.

    A quad warehouse is refused before any write: the merge re-ranks
    dict_terms, and quads_spog would keep the pre-merge ids, so GRAPH
    queries would decode them to other terms.

    merged_dict arrives materialized (rank_sections checkpoints it),
    but merged_triples may still lazily read the catalog's CURRENT
    dict_terms/triples_spo through the merge's remap joins, and the
    writes below overwrite both — so it is cut first. (A versioned
    table format would let readers pin the old version; the os.rename
    Catalog has no snapshots, so the cut is explicit here.)"""
    refuse_quad_merge(catalog)
    merged_triples = merged_triples.localCheckpoint(eager=True)
    report = PipelineReport()
    report.stages.append(
        catalog.write_stage(
            "dict_terms",
            with_datatype(merged_dict),
            fp,
            force=True,
            partition_by=["section", "datatype"],
        )
    )
    res = catalog.write_stage(
        "triples_spo",
        spo_table(merged_triples, num_partitions=num_partitions),
        fp,
        sort_cols=["s", "p", "o"],
        force=True,
    )
    report.stages.append(res)
    report.n_triples = res.rows
    _publish_tail(
        catalog,
        report,
        fp,
        num_partitions,
        with_pso=catalog.exists("triples_pso"),
        with_stats=any(map(catalog.exists, ("predicate_index", "header"))),
        force=True,
    )
    return report
