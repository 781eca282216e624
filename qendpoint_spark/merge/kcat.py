"""k-way dataset merge (HDTCat / KCat) and diff on encoded tables.

Reference: KCatImpl.cat merges k HDTs by (1) merging the sorted
dictionary sections while recomputing the shared section across all
inputs, (2) building per-input old-ID -> new-ID long-array maps
(KCatMerger's SyncSeq arrays), (3) remapping and merge-sorting all
triples WITHOUT ever re-extracting term strings from the triples
(KCatImpl.java:370-420, KCatMerger.java:49-511,
GroupBySubjectMapIterator.java:26).

The Spark realization follows the same decomposition:

1. merged dictionary = ONE rank of the union of the inputs' term
   tables (role flags recovered from section labels, one
   map-side-combined groupBy(term)) — cost ∝ Σ|terms_i|, the triples
   are never decoded. A STRING input (triples plus role_sections: no
   ids) joins the same rank and gets no id space of its own;
2. per id-space input, one remap table (space, old_id -> new_id) = the
   old dictionary joined to the merged one on (term, namespace), cut
   once — a string join over the TERM tables only;
3. merged triples = each id-space input's INT triples joined to its
   remap per component (8-byte-key joins; Catalyst broadcasts the
   remaps under the adaptive threshold — predicates/graphs virtually
   always — and falls back to shuffled joins above it), plus each
   string input encoded straight against the merged dictionary
   (encode_triples), unioned, deduped on the int key.

Nothing wider than a term string ever shuffles, and the id-space
inputs are touched only as longs. The incremental compaction of a
small batch into a published dataset (CatTreeImpl.doGenerationSync)
is the same merge with the batch as its string input: the reference
builds a chunk HDT only because it keeps chunks on disk, and a batch
id space that is never published would cost a rank and a remap for
nothing.

A diff (HDTDiff, the delete half of a diffcat) is a left_anti on the id
key plus the live dictionary — diff_datasets — and then this same
merge, alone (k = 1) or beside an insert delta.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from qendpoint_spark.dictionary import merge_role_sections, rank_sections
from qendpoint_spark.encoding import encode_triples


def _spaces(sec: Column) -> Column:
    """The id spaces a section's ids live in: SH terms belong to BOTH
    the subject and the object space."""
    return (
        F.when(sec == "SH", F.array(F.lit("subj"), F.lit("obj")))
        .when(sec == "S", F.array(F.lit("subj")))
        .when(sec == "O", F.array(F.lit("obj")))
        .when(sec == "G", F.array(F.lit("graph")))
        .otherwise(F.array(F.lit("pred")))
    )


def _namespace(sec: Column) -> Column:
    """0 = the shared subject/object universe, 1 = P, 2 = G."""
    return F.when(sec == "P", 1).when(sec == "G", 2).otherwise(0)


def build_remap(old_dict: DataFrame, merged_dict: DataFrame) -> DataFrame:
    """(term, space, old_section, old_id, section, new_id) — the analog
    of KCatMerger's per-input SyncSeq arrays: ONE (term, namespace)
    join of the input dictionary with the merged one, exploded to the
    spaces both sections share (old O -> new SH when another input
    uses the term as a subject), cut once for remap_triples' per-space
    filters. merge_datasets' merged dictionary covers every old id;
    against another dictionary (hdtcat --diff) an id whose term or
    space it lacks drops out."""
    old = old_dict.select(
        "term",
        _namespace(F.col("section")).alias("ns"),
        F.col("section").alias("old_section"),
        F.col("id").alias("old_id"),
    )
    new = merged_dict.select(
        "term",
        _namespace(F.col("section")).alias("ns"),
        "section",
        F.col("id").alias("new_id"),
    )
    shared = F.array_intersect(
        _spaces(F.col("old_section")), _spaces(F.col("section"))
    )
    return (
        old.join(new, ["term", "ns"])
        .select("term", F.explode(shared).alias("space"),
                "old_section", "old_id", "section", "new_id")
        .localCheckpoint(eager=False)
    )


def remap_triples(triples_id: DataFrame, remap: DataFrame) -> DataFrame:
    """Rewrite an input's INT triples into the merged ID space via
    three (four with graphs) integer equi-joins — KCatImpl's triple
    remap pass (KCatImpl.java:397-420). The remap is projected to
    (old_id, new_id) longs per space before joining, so no term string
    enters any exchange; predicate/graph remaps are explicitly
    broadcast (tiny namespaces), subject/object remaps are left to
    Catalyst/AQE (broadcast under the threshold, SMJ + skew split
    above)."""
    with_graph = "g" in triples_id.columns

    def space_map(space: str) -> DataFrame:
        return remap.filter(F.col("space") == space).select(
            F.col("old_id").alias("__old"), F.col("new_id").alias("__new")
        )

    rp = space_map("pred")
    rs = space_map("subj")
    ro = space_map("obj")
    out = (
        triples_id.join(F.broadcast(rp), triples_id["p"] == rp["__old"])
        .drop("p", "__old")
        .withColumnRenamed("__new", "p")
    )
    if with_graph:
        rg = space_map("graph")
        out = (
            out.join(F.broadcast(rg), out["g"] == rg["__old"])
            .drop("g", "__old")
            .withColumnRenamed("__new", "g")
        )
    out = (
        out.join(rs, out["s"] == rs["__old"])
        .drop("s", "__old")
        .withColumnRenamed("__new", "s")
    )
    out = (
        out.join(ro, out["o"] == ro["__old"])
        .drop("o", "__old")
        .withColumnRenamed("__new", "o")
    )
    return out.select(*(["s", "p", "o"] + (["g"] if with_graph else [])))


def merge_datasets(
    inputs: list[tuple[DataFrame, DataFrame]],
    num_partitions: int | None = None,
) -> tuple[DataFrame, DataFrame, list[DataFrame | None]]:
    """inputs: [(triples, terms), ...] (k >= 1; one input re-ranks a
    diff_datasets result). An id-space input is (triples_id,
    dict_terms); a string input is (triples_str, role table) — its
    distinct string triples and role_sections(triples_str), terms
    without ids.

    Returns (merged_dict, merged_triples_id, remaps) where remaps[i] is
    input i's build_remap, None for a string input. The merged
    dictionary is ONE rank of the union of the inputs' term tables
    (cost ∝ |terms|); id-space triples move into it through integer
    remap joins (cost ∝ |triples| as longs, never decoded, as in
    KCatImpl.java:370-420) and string triples are encoded against it
    directly, so a batch never gets an id space of its own.

    Quad datasets merge too (all inputs must agree: either every input
    has a `g` column or none — a mixed merge would silently drop graph
    context, so it raises). Graph terms re-rank into the merged G
    namespace like any other space.
    """
    graphness = {("g" in t.columns) for t, _ in inputs}
    if len(graphness) > 1:
        raise ValueError(
            "merge_datasets: cannot mix triple and quad inputs — lift "
            "the triple datasets into a default graph first"
        )
    with_graph = graphness.pop()
    keys = ["s", "p", "o"] + (["g"] if with_graph else [])
    # the merged dict feeds every remap join and encode; rank_sections
    # already returns it over a checkpoint, so none recomputes the rank
    merged_dict = rank_sections(
        merge_role_sections([d for _, d in inputs]),
        num_partitions=num_partitions,
    )
    remaps = [
        build_remap(d, merged_dict) if "id" in d.columns else None
        for _, d in inputs
    ]
    merged = None
    for (t, _), r in zip(inputs, remaps):
        part = (
            encode_triples(t, merged_dict, assume_distinct=True)
            if r is None else remap_triples(t, r)
        )
        merged = part if merged is None else merged.unionByName(part)
    # inputs are individually distinct and each remap is injective per
    # space, so duplicates only arise ACROSS inputs; the dedup shuffles
    # 8-byte ids, never strings.
    if len(inputs) > 1:
        merged = merged.dropDuplicates(keys)
    return merged_dict, merged, remaps


def merge_incremental(
    base: tuple[DataFrame, DataFrame],
    delta: tuple[DataFrame, DataFrame],
    num_partitions: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """base ⊕ delta, each (triples_id, dict_terms): merge_datasets over
    the two inputs, returning (merged_dict, merged_triples_id) without
    the remaps."""
    merged_dict, merged, _ = merge_datasets([base, delta], num_partitions)
    return merged_dict, merged


def _role_ids(triples_id: DataFrame) -> DataFrame:
    """(space, id) per triple and role, from one scan."""
    cols = [("subj", "s"), ("pred", "p"), ("obj", "o"), ("graph", "g")]
    roles = F.array(*[
        F.struct(F.lit(space).alias("space"), F.col(c).alias("id"))
        for space, c in cols if c in triples_id.columns
    ])
    return triples_id.select(F.explode(roles).alias("r")).select("r.*")


def diff_datasets(
    triples_id: DataFrame,
    dict_terms: DataFrame,
    delete_id: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """HDTDiff analog (HDTManager.diffHDT, HDTManager.java:1059) in ID
    space. delete_id holds ids of triples_id's space (encode the delete
    strings against dict_terms: a term it lacks means nothing to
    delete).

    Returns (survivors, live_dict), a merge_datasets input. survivors
    is a left_anti on the (s,p,o[,g]) id key — a quad deletion removes
    the statement from one graph only. live_dict(term, section, id)
    keeps the terms the survivors still use under their OLD ids, with
    sections derived again (DictionaryDiff): an SH term that loses a
    role becomes S or O, a term with no use left is dropped. Only ids
    in the delete set can lose a role, so only those are checked."""
    keys = ["s", "p", "o"] + (["g"] if "g" in triples_id.columns else [])
    # survivors and the roles they lost both read the delete set
    delete_id = delete_id.select(*keys).localCheckpoint()
    survivors = triples_id.join(delete_id, keys, "left_anti")
    touched = _role_ids(delete_id).distinct()
    still = _role_ids(survivors).join(touched, ["space", "id"], "left_semi")
    # one row per id that lost a role; a non-null space column = lost
    lost = (
        touched.join(still, ["space", "id"], "left_anti")
        .groupBy("id").pivot("space", ["subj", "obj", "pred", "graph"]).count()
    )
    sec = F.col("section")
    is_s = sec.isin("SH", "S") & F.col("subj").isNull()
    is_o = sec.isin("SH", "O") & F.col("obj").isNull()
    section = (
        F.when(sec == "P", F.when(F.col("pred").isNull(), sec))
        .when(sec == "G", F.when(F.col("graph").isNull(), sec))
        .when(is_s & is_o, F.lit("SH"))
        .when(is_s, F.lit("S"))
        .when(is_o, F.lit("O"))
    )
    # cut once: the merge's rank and its remap join both read it
    live_dict = (
        dict_terms.join(lost, "id", "left")
        .select("term", section.alias("section"), "id")
        .filter(F.col("section").isNotNull())
        .localCheckpoint()
    )
    return survivors, live_dict
