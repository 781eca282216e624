"""Four-section HDT dictionary build on the DataFrame API.

Reference semantics (SURVEY.md §1.3, qendpoint-core):

- sections: SH (terms that occur as BOTH subject and object), S
  (subject-only), O (object-only), P (predicates, independent namespace)
  — FourSectionDictionary.java, split computed by the co-scan in
  CompressFourSectionDictionary.java:86-158.
- IDs: 1-based rank within each section, sorted by unsigned-UTF8-byte
  order; global subject id = rank(SH) or |SH| + rank(S); global object
  id = rank(SH) or |SH| + rank(O); predicate ids are their own 1..|P|
  space (BaseDictionary.getGlobalId, BaseDictionary.java:60-81).

Spark realization: one scan of the triples explodes each triple into
its (term, role) facts, one map-side-combined groupBy(term) over them
computes each term's section key (the reference's sorted co-scan of the
subject and object streams), then ONE `zip_with_rank` over
(sec_key, term) ranks every section at once; per-section ranks and
global ids are CASE arithmetic over the section sizes that the rank's
stats pass returns. The result is a plain DataFrame over the rank's
checkpointed range partitioning, so consumers may scan it any number of
times; nothing needs releasing or re-checkpointing.

At 100 TB the term table is billions of rows: everything here is
hash/range-shuffle parallel, the only driver-side collection is
zip_with_rank's per-partition stats (<= num_partitions x 5 rows, which
also carry the section sizes), and there is no global-window
bottleneck.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from qendpoint_spark.dictionary.rank import zip_with_rank

SECTION_SHARED = "SH"
SECTION_SUBJECT = "S"
SECTION_OBJECT = "O"
SECTION_PREDICATE = "P"
SECTION_GRAPH = "G"
# the SH < S < O < P < G section order as the sec_key role_sections uses
SECTION_KEYS = [SECTION_SHARED, SECTION_SUBJECT, SECTION_OBJECT,
                SECTION_PREDICATE, SECTION_GRAPH]


def build_dictionary(
    triples_str: DataFrame, num_partitions: int | None = None
) -> DataFrame:
    """triples_str(s,p,o string) -> dict_terms(term, section, sec_rank, id).

    `id` is the reference's *global* id: for SH/S it is the subject-space
    id, for SH/O the object-space id (SH terms have equal subject and
    object ids by construction), for P the predicate-space id.
    Output columns:
      term      string   dictionary lexical form
      section   string   SH | S | O | P
      sec_rank  long     1-based rank within the section
      id        long     global id per §1.3 offset rule

    Shuffle budget — exactly two full shuffles of the term universe:

    1. role aggregation: one scan of triples_str explodes each triple
       into its (term, role) facts — one explode per triple, not a
       union of per-role scans, so a lazy input runs once — and
       groupBy(term) with max() flags. Partial (map-side) aggregation
       collapses the rdf:type-style hot terms before the shuffle, so
       term skew never concentrates on one reducer. This one pass
       replaces the reference's separate subject/object sorted streams +
       co-scan (CompressFourSectionDictionary.java:86-158): the SH/S/O
       split is a CASE over the two flags. Predicates are an
       independent ID namespace (the same string may be both a
       predicate and a subject), so they ride along as separate rows
       keyed (is_pred=1, term).
    2. one global range-partitioned rank (zip_with_rank) over the
       composite key (sec_key, term) — sections are contiguous in that
       order, so per-section ranks fall out by subtracting the section's
       cumulative offset (the section totals ride on zip_with_rank's
       per-partition stats pass — no extra job).
    """
    return rank_sections(role_sections(triples_str), num_partitions=num_partitions)


def rank_sections(
    sectioned: DataFrame, num_partitions: int | None = None
) -> DataFrame:
    """(term, sec_key) -> dict_terms(term, section, sec_rank, id): the
    ranking half of build_dictionary, factored out so dictionary MERGES
    (merge/kcat.py) can rank a section table derived from input
    dictionaries' term tables directly — no triple decode, cost
    ∝ |terms| (KCatMerger merges sorted dictionary sections the same
    way, KCatMerger.java:49-511)."""
    ranked, counts = zip_with_rank(
        sectioned,
        ["sec_key", "term"],
        "grank",
        num_partitions=num_partitions,
        count_by="sec_key",
    )
    # section totals come from zip_with_rank's own stats pass — the
    # groupBy("sec_key").collect() second full scan this replaced cost a
    # whole extra job over the ranked table per build (measured ~1-2 s
    # at the sf0.1 bench).
    n_sh = counts.get(0, 0)
    n_s = counts.get(1, 0)
    n_o = counts.get(2, 0)
    sec_offset = {0: 0, 1: n_sh, 2: n_sh + n_s, 3: n_sh + n_s + n_o,
                  4: n_sh + n_s + n_o + counts.get(3, 0)}
    # global id: SH -> sec_rank, S/O -> n_sh + sec_rank, P/G -> sec_rank
    id_base = {0: 0, 1: n_sh, 2: n_sh, 3: 0, 4: 0}
    sec_name = dict(enumerate(SECTION_KEYS))

    sec_col = F.col("sec_key")
    rank_col = F.col("grank")

    def by_key(mapping: dict[int, object]):
        expr = None
        for key, val in mapping.items():
            lit = F.lit(val)
            expr = (
                F.when(sec_col == key, lit)
                if expr is None
                else expr.when(sec_col == key, lit)
            )
        return expr

    section = by_key(sec_name)
    sec_rank = (rank_col - by_key(sec_offset)).cast("long")
    gid = (sec_rank + by_key(id_base)).cast("long")
    return ranked.select(
        "term",
        section.alias("section"),
        sec_rank.alias("sec_rank"),
        gid.alias("id"),
    )


def _section_key(roles: DataFrame) -> DataFrame:
    """(term, ns, is_s, is_o) -> (term, sec_key): the SH < S < O < P < G
    section split as 0..4 (ns 1 = predicate, 2 = graph namespace)."""
    return roles.select(
        "term",
        F.when(F.col("ns") == 1, F.lit(3))
        .when(F.col("ns") == 2, F.lit(4))
        .when((F.col("is_s") == 1) & (F.col("is_o") == 1), F.lit(0))
        .when(F.col("is_s") == 1, F.lit(1))
        .otherwise(F.lit(2))
        .alias("sec_key"),
    )


def role_sections(triples_str: DataFrame) -> DataFrame:
    """(term, sec_key) with sections SH < S < O < P < G encoded as
    0..4 — the pre-rank stage of build_dictionary, exposed so plan
    tests can assert the role aggregation reads its input once and is
    map-side combined (the skew defense: hot terms collapse
    per-partition before the exchange)."""
    # (term, flag) role facts from ONE scan: each triple explodes into
    # one fact per role; flags: 1=subject, 2=object, 4=predicate,
    # 8=graph. Predicates and graphs are independent ID namespaces
    # (quad dictionaries, core/dictionary/impl quad variants), so they
    # aggregate apart from the s/o universe via the ns key.
    flags = [("s", 1), ("o", 2), ("p", 4), ("g", 8)]
    facts = triples_str.select(F.explode(F.array(*[
        F.struct(F.col(c).alias("term"), F.lit(f).alias("f"))
        for c, f in flags if c in triples_str.columns
    ])).alias("r")).select("r.*")
    ns = (
        F.when(F.col("f") == 4, F.lit(1))
        .when(F.col("f") == 8, F.lit(2))
        .otherwise(F.lit(0))
    )
    roles = (
        facts.withColumn("ns", ns)
        .groupBy("term", "ns")
        .agg(F.max(F.when(F.col("f") == 1, 1).otherwise(0)).alias("is_s"),
             F.max(F.when(F.col("f") == 2, 1).otherwise(0)).alias("is_o"))
    )
    return _section_key(roles)


def merge_role_sections(dicts: list[DataFrame]) -> DataFrame:
    """(term, sec_key) for the UNION of k term tables — the merge
    analog of role_sections that never touches triples.

    Each input row already encodes the term's roles: a dictionary row
    by its section label (SH = subject+object, S = subject-only, O =
    object-only; P/G are separate namespaces), a role table row
    (role_sections, no ids) by its sec_key. The merged section split
    is a groupBy(term) max() over the recovered role flags — exactly
    the co-scan KCatMerger does over the k sorted section streams
    (KCatMerger.java:49-511), as one map-side-combined aggregation.
    Cost ∝ Σ|terms_i|, independent of triple count.
    """
    facts = None
    for d in dicts:
        key = (
            F.col("sec_key") if "sec_key" in d.columns
            else F.array_position(
                F.array(*map(F.lit, SECTION_KEYS)), F.col("section")) - 1
        )
        f = d.select(
            "term",
            F.when(key == 3, 1).when(key == 4, 2).otherwise(0).alias("ns"),
            F.when(key.isin(0, 1), 1).otherwise(0).alias("is_s"),
            F.when(key.isin(0, 2), 1).otherwise(0).alias("is_o"),
        )
        facts = f if facts is None else facts.unionByName(f)
    return _section_key(
        facts.groupBy("term", "ns").agg(
            F.max("is_s").alias("is_s"), F.max("is_o").alias("is_o")
        )
    )


def subject_map(dict_terms: DataFrame) -> DataFrame:
    """term -> subject-space id (SH ∪ S)."""
    return dict_terms.filter(
        F.col("section").isin(SECTION_SHARED, SECTION_SUBJECT)
    ).select("term", F.col("id").alias("sid"))


def object_map(dict_terms: DataFrame) -> DataFrame:
    """term -> object-space id (SH ∪ O)."""
    return dict_terms.filter(
        F.col("section").isin(SECTION_SHARED, SECTION_OBJECT)
    ).select("term", F.col("id").alias("oid"))


def predicate_map(dict_terms: DataFrame) -> DataFrame:
    """term -> predicate-space id (P)."""
    return dict_terms.filter(F.col("section") == SECTION_PREDICATE).select(
        "term", F.col("id").alias("pid")
    )


def graph_map(dict_terms: DataFrame) -> DataFrame:
    """term -> graph-space id (G, quad mode)."""
    return dict_terms.filter(F.col("section") == SECTION_GRAPH).select(
        "term", F.col("id").alias("gid")
    )
