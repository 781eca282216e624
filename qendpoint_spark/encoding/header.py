"""Dataset header: the HDT Header analog.

The reference's header is a tiny RDF graph of dataset metadata —
triple counts, distinct counts, original size
(core/header/PlainHeader.java; `_:statistics <hdt:originalSize>`
written at HDTDiskImporter.java:295). Here it is a one-row stats table.

A published warehouse holds exactly Header + Dictionary + Triples (no
string triples), so the pipeline builds its header from what the
commits already know: section counts from the dict_terms lineage's
per-file rows, n_triples from the triples_spo lineage, and one
aggregate over the committed statement ids for n_raw_triples and
original_size, weighted by per-role term lengths. The same function
also builds the header by scanning string triples and the dictionary
(the oracle row's path); both give the same row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from qendpoint_spark.dictionary.builder import (
    object_map,
    predicate_map,
    subject_map,
)

HEADER_SECTIONS = (
    ("SH", "n_shared"),
    ("S", "n_subjects_only"),
    ("O", "n_objects_only"),
    ("P", "n_predicates"),
    ("G", "n_graphs"),
)


def _raw_from_ids(triples_id: DataFrame, dict_terms: DataFrame) -> DataFrame:
    """(n_raw_triples, original_size) over statement ids: each id joins
    its role's term length (F.length of the dictionary term), so no
    triple is decoded to a string. The length maps are (long, int) —
    broadcast-sized wherever the dictionary is."""
    out = triples_id.select("s", "p", "o")
    for role_map, col in ((subject_map, "s"), (predicate_map, "p"), (object_map, "o")):
        ids = role_map(dict_terms).toDF("term", col)
        out = out.join(ids.select(col, F.length("term").alias(f"{col}_len")), col)
    return out.agg(
        F.count(F.lit(1)).alias("n_raw_triples"),
        F.sum(
            F.col("s_len") + F.col("p_len") + F.col("o_len") + F.lit(2)
        ).cast("long").alias("original_size"),
    )


def build_header(
    triples_str: DataFrame | None,
    dict_terms: DataFrame,
    triples_id: DataFrame,
    n_triples: int | None = None,
    sections: dict[str, int] | None = None,
) -> DataFrame:
    """One row: dataset statistics for planner stats + parity with the
    reference header fields.

    Distinct counts and max ids come from DICTIONARY INVARIANTS, not
    from scanning the encoded table: the dictionary is built from these
    very triples, so every subject-space id 1..|SH|+|S| occurs (ditto
    objects/predicates/graphs) and the per-space maxima are the section
    sizes. Precondition: triples_id is the unfiltered encode of the
    triples the dictionary was built from.

    triples_str: the string triples for n_raw_triples and
    original_size (raw-size accounting, SectionCompressor.java:268).
    None takes both from triples_id instead — its row count, and the
    per-role term lengths summed over its ids — which is how the
    pipeline builds the header without keeping string triples.

    n_triples: the exact encoded-triple count when the caller holds it
    (the pipeline reads it from the committed table's lineage); else a
    count pass over triples_id.

    sections: rows per dictionary section when the caller holds them
    (the pipeline reads them from the dict_terms lineage); else a pivot
    over dict_terms.
    """
    spark = dict_terms.sparkSession
    if triples_str is None:
        raw = _raw_from_ids(triples_id, dict_terms)
    else:
        raw = triples_str.agg(
            F.count(F.lit(1)).alias("n_raw_triples"),
            F.sum(
                F.length("s") + F.length("p") + F.length("o") + F.lit(2)
            ).cast("long").alias("original_size"),
        )
    if sections is not None:
        counts = spark.range(1).select(*(
            F.lit(sections.get(sec, 0)).cast("long").alias(name)
            for sec, name in HEADER_SECTIONS
        ))
    else:
        counts = (
            dict_terms.groupBy()
            .pivot("section", [sec for sec, _ in HEADER_SECTIONS])
            .agg(F.count(F.lit(1)))
            .select(*(
                F.coalesce(F.col(sec), F.lit(0)).alias(name)
                for sec, name in HEADER_SECTIONS
            ))
        )
    if n_triples is not None:
        enc = spark.range(1).select(
            F.lit(n_triples).cast("long").alias("n_triples")
        )
    else:
        enc = triples_id.agg(F.count(F.lit(1)).alias("n_triples"))
    return (
        raw.crossJoin(counts)
        .crossJoin(enc)
        .withColumn(
            "n_distinct_subjects",
            (F.col("n_shared") + F.col("n_subjects_only")).cast("long"),
        )
        .withColumn("n_distinct_predicates", F.col("n_predicates").cast("long"))
        .withColumn(
            "n_distinct_objects",
            (F.col("n_shared") + F.col("n_objects_only")).cast("long"),
        )
        .withColumn(
            "max_subject_id",
            (F.col("n_shared") + F.col("n_subjects_only")).cast("long"),
        )
        .withColumn(
            "max_object_id",
            (F.col("n_shared") + F.col("n_objects_only")).cast("long"),
        )
    )


#: chars that must be escaped in an exported literal lexical form —
#: symmetric with sources.ntriples._unescape_one (reference
#: UnicodeEscape.escapeString via TripleWriterNtriples)
_NT_SPECIAL_RE = '[\\\\"\\n\\r\\t\\x08\\f]'


def _escape_literal(c):
    """Escape the LEXICAL part of a literal term ('"lex"', '"lex"@lang',
    '"lex"^^<dt>'): backslash, quote and control chars become their
    \\-escapes so the emitted line is one well-formed N-Triples
    statement. (?s) because the lexical form may contain newlines; the
    greedy group ends at the LAST quote, so inner quotes stay in lex."""
    lex = F.regexp_extract(c, '(?s)^"(.*)"([^"]*)$', 1)
    suf = F.regexp_extract(c, '(?s)^"(.*)"([^"]*)$', 2)
    esc = lex
    for pat, rep in (
        (r"\\", r"\\\\"),  # \ -> \\  (first, so later escapes survive)
        ('"', r'\\"'),
        ("\\n", r"\\n"),
        ("\\r", r"\\r"),
        ("\\t", r"\\t"),
        ("\\x08", r"\\b"),
        ("\\f", r"\\f"),
    ):
        esc = F.regexp_replace(esc, pat, rep)
    return F.concat(F.lit('"'), esc, F.lit('"'), suf)


def export_ntriples(triples_str: DataFrame) -> DataFrame:
    """HDT -> .nt line sink (TripleWriterNtriples / HDT2RDF analog,
    core/hdt/writer/TripleWriterNtriples.java): one N-Triples line per
    statement; IRIs get angle brackets, bnodes pass through, literal
    lexical forms are \\-escaped symmetrically with read_ntriples'
    unescape (UnicodeEscape.escapeString) so export ∘ import is exact.
    Write with df.write.text(path)."""

    def term(col, obj=False):
        c = F.col(col)
        is_lit = c.startswith('"')
        is_bnode = c.startswith("_:")
        lit = F.when(c.rlike(_NT_SPECIAL_RE), _escape_literal(c)).otherwise(c)
        return (
            F.when(is_lit, lit)
            .when(is_bnode, c)
            .otherwise(F.concat(F.lit("<"), c, F.lit(">")))
        )

    return triples_str.select(
        F.concat_ws(
            " ", term("s"), term("p"), term("o", obj=True), F.lit(".")
        ).alias("value")
    )


# --- front-coding parity view (PFCDictionarySection analog) ------------


def pfc_view(dict_terms: DataFrame, block_size: int = 16) -> DataFrame:
    """Plain-Front-Coding view of the dictionary sections: every
    block_size-th term is a block head stored whole; followers store
    (lcp with predecessor, suffix) — the reference's on-disk section
    encoding (PFCDictionarySection.java:59,96-150). At rest Parquet's
    delta/dict encodings already play this role; this view exists for
    structural parity checks and size accounting.

    Windows partition by section — each section's rank order is the
    front-coding order, and the window keys are high-cardinality-safe
    because sections are re-range-partitioned by (section, sec_rank).
    """
    w = Window.partitionBy("section").orderBy("sec_rank")
    prev = F.lag("term").over(w)
    is_head = ((F.col("sec_rank") - 1) % block_size == 0) | prev.isNull()
    # longest common prefix with the predecessor, computed as the
    # largest i <= min(len) with equal prefixes (binary-safe on UTF-8
    # because dictionary order is byte order)
    df = dict_terms.withColumn("lag_term", prev)
    term_c, lag_c = F.col("term"), F.col("lag_term")
    minlen = F.least(F.length(term_c), F.length(lag_c))
    # fold over prefix lengths: once prefixes diverge at i they stay
    # divergent, so the accumulated max is exactly the LCP
    lcp = F.aggregate(
        F.sequence(F.lit(1), F.greatest(minlen, F.lit(1))),
        F.lit(0),
        lambda acc, i: F.when(
            (i <= minlen)
            & (term_c.substr(F.lit(1), i) == lag_c.substr(F.lit(1), i)),
            i,
        ).otherwise(acc),
    )
    lcp_col = F.when(is_head | lag_c.isNull(), F.lit(0)).otherwise(lcp).cast("int")
    return (
        df.withColumn("is_head", is_head.cast("int"))
        .withColumn("lcp", lcp_col)
        .withColumn(
            "suffix",
            F.when(F.col("lcp") == 0, F.col("term")).otherwise(
                F.expr("substring(term, lcp + 1, length(term))")
            ),
        )
        .select("section", "sec_rank", "term", "is_head", "lcp", "suffix")
    )


# --- PSFC variant (PSFCFourSectionDictionary analog) --------------------


def psfc_encode(col):
    """Prefix-Suffix Front Coding transform
    (PSFCFourSectionDictionary.encode, core/dictionary/impl/
    PSFCFourSectionDictionary.java:26-40): a literal's datatype/lang
    suffix moves to the FRONT — '"123"^^<dt>' -> '^^<dt>"123"' — so
    same-type literals become prefix-compressible neighbors. Terms
    without a suffix (plain literals, IRIs, bnodes) pass through."""
    has_suffix = col.startswith('"') & ~col.endswith('"')
    # position of the LAST '"' = the lexical part's end
    pos = F.length(col) - F.instr(F.reverse(col), '"') + 1
    lex = col.substr(F.lit(1), pos)
    suffix = col.substr(pos + 1, F.length(col) - pos)
    return F.when(has_suffix, F.concat(suffix, lex)).otherwise(col)


def psfc_decode(col):
    """Inverse of psfc_encode (PSFCFourSectionDictionary.decode)."""
    is_enc = (col.startswith("^") | col.startswith("@")) & col.endswith('"')
    p0 = F.instr(col, '"')
    suffix = col.substr(F.lit(1), p0 - 1)
    lex = col.substr(p0, F.length(col) - p0 + 1)
    return F.when(is_enc, F.concat(lex, suffix)).otherwise(col)


def psfc_view(dict_terms: DataFrame, block_size: int = 16) -> DataFrame:
    """The PFC block view over the PSFC-transformed section order: the
    reference's PSFC dictionary sorts each section by the TRANSFORMED
    string, so ranks are reassigned here (one partition-local window
    per section, same shape as pfc_view)."""
    w = Window.partitionBy("section").orderBy("term")
    enc = dict_terms.select(
        "section", psfc_encode(F.col("term")).alias("term")
    ).withColumn("sec_rank", F.row_number().over(w))
    return pfc_view(enc, block_size=block_size)


# --- typed-literal sectioning (MultipleSectionDictionary analog) -------

XSD_STRING = "http://www.w3.org/2001/XMLSchema#string"
NO_DATATYPE = "NO_DATATYPE"


def with_datatype(dict_terms: DataFrame) -> DataFrame:
    """Attach the reference's literal grouping key
    (LiteralsUtils.getType, core/util/LiteralsUtils.java:177-188):
      - non-literal terms (IRI/bnode)      -> kind 'ref'
      - "v"^^<dt>                           -> kind 'typed', datatype dt
      - "v"@lang                            -> kind 'lang', the tag
      - plain "v"                           -> kind 'plain', NO_DATATYPE
    The MSD layout is then a secondary sort on (datatype, term) — a
    partition/sort-key choice, not a different table."""
    is_lit = F.col("term").startswith('"')
    dt = F.regexp_extract(F.col("term"), r'\^\^<([^>]+)>$', 1)
    lang = F.regexp_extract(F.col("term"), r'"@([A-Za-z0-9-]+)$', 1)
    return dict_terms.withColumn(
        "kind",
        F.when(~is_lit, F.lit("ref"))
        .when(dt != "", F.lit("typed"))
        .when(lang != "", F.lit("lang"))
        .otherwise(F.lit("plain")),
    ).withColumn(
        "datatype",
        F.when(~is_lit, F.lit(None).cast("string"))
        .when(dt != "", dt)
        .when(lang != "", F.concat(F.lit("@"), lang))
        .otherwise(F.lit(NO_DATATYPE)),
    )
