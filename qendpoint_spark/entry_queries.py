"""Query registry backing __spark_entry__.py.

Each query callable takes (spark, sf_dir) and returns a DataFrame; each
has a matching ANSI-SQL oracle (DuckDB) in ORACLES below that recomputes
the same result from the raw parquet views — the KG pipeline's
extraction grammar (extraction/triples.py) is deliberately
SQL-expressible so the *entire* pipeline (extract → dictionary → encode
→ indexes) is oracle-checkable end-to-end, not just row counts.

The shared SQL prelude (_KG_PRELUDE) mirrors, stage by stage:
  toks     = mention detection (extraction.triples.mentions_udf)
  triples  = extraction rules  (extract_triples_from_documents)
  dict     = four-section dictionary (dictionary.builder)
  enc      = ID substitution + dedup  (encoding.encoder)
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from qendpoint_spark.dictionary import build_dictionary
from qendpoint_spark.encoding import (
    decode_triples,
    encode_triples,
    object_index,
    ops_table,
    predicate_index,
    spo_table,
    with_adjacency_bits,
)
from qendpoint_spark.encoding.header import (
    build_header,
    export_ntriples,
    pfc_view,
    psfc_view,
    with_datatype,
)
from qendpoint_spark.extraction import extract_triples_from_documents

# ---------------------------------------------------------------- caching

_CACHE: dict[tuple[int, str, str], DataFrame] = {}
_CACHE_MAX = 24  # bounded: evict+unpersist oldest in long-lived sessions


def _cache_put(key: tuple[int, str, str], df) -> DataFrame:
    while len(_CACHE) >= _CACHE_MAX:
        old = _CACHE.pop(next(iter(_CACHE)))
        for item in old if isinstance(old, tuple) else (old,):
            try:
                item.unpersist()
            except Exception:
                pass  # session may already be gone
    _CACHE[key] = df
    return df


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (id(spark), sf_dir, "triples")
    if key not in _CACHE:
        _cache_put(key, extract_triples_from_documents(_docs(spark, sf_dir)).cache())
    return _CACHE[key]


def _dict(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (id(spark), sf_dir, "dict")
    if key not in _CACHE:
        _cache_put(key, build_dictionary(_triples(spark, sf_dir)).cache())
    return _CACHE[key]


def _enc(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (id(spark), sf_dir, "enc")
    if key not in _CACHE:
        _cache_put(
            key,
            encode_triples(_triples(spark, sf_dir), _dict(spark, sf_dir)).cache(),
        )
    return _CACHE[key]


# ---------------------------------------------------------------- queries


def _scratch_dir() -> str:
    """Where the rows that commit a scratch warehouse write it."""
    return os.environ.get("SPARK_GRAFT_SCRATCH") or (
        "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"
    )


def _gate_tmp_path(suffix: str, prefix: str) -> str:
    """Racy-free temp path for the round-trip gates: mkstemp creates
    the file (the writers truncate it) instead of the deprecated
    tempfile.mktemp name-then-open gap (ADVICE r6)."""
    import tempfile

    fd, path = tempfile.mkstemp(suffix=suffix, prefix=prefix)
    os.close(fd)
    return path


def q_kg_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _triples(spark, sf_dir)


def q_kg_dictionary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _dict(spark, sf_dir)


def q_kg_spo(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spo_table(_enc(spark, sf_dir))


def q_kg_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ops_table(_enc(spark, sf_dir))


def q_kg_adjacency_bits(spark: SparkSession, sf_dir: str) -> DataFrame:
    return with_adjacency_bits(_enc(spark, sf_dir))


def q_kg_predicate_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    return predicate_index(_enc(spark, sf_dir))


def q_kg_object_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    return object_index(_enc(spark, sf_dir))


def q_kg_decode_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return decode_triples(_enc(spark, sf_dir), _dict(spark, sf_dir)).distinct()


def q_kg_hdt_file_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serialize the encoded dataset to a real binary `.hdt` container
    (HDTBase.saveToHDT framing: ControlInfo + four PFC sections +
    SPO BitmapTriples, hdt/writer.py), parse it back (hdt/reader.py),
    and decode the recovered tables to term triples — if any byte of
    the container (CRC, VByte, front-coding, adjacency bitmaps) were
    wrong, the decoded multiset would not hash-match the extraction
    oracle."""
    import tempfile

    from qendpoint_spark.hdt import hdt_to_dataframes, write_hdt

    path = _gate_tmp_path(".hdt", "qes_gate_")
    write_hdt(_dict(spark, sf_dir), _enc(spark, sf_dir), path)
    try:
        # read_hdt parses eagerly into driver lists, so the file can
        # be deleted before the lazy decode runs
        d2, enc2 = hdt_to_dataframes(spark, path)
    finally:
        import os

        os.unlink(path)
    return decode_triples(enc2, d2).distinct()


def q_kg_hdt_msd_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same proof for the MSD (`dictionaryMult`) container: serialize
    with per-datatype object sections + the type-IRI section table
    (MultipleSectionDictionary.java:123-206), parse back, decode. The
    object ids are remapped to (datatype, value) order on write, so a
    hash-match additionally proves the remap and its inverse."""
    import tempfile

    from qendpoint_spark.hdt import hdt_to_dataframes, write_hdt_msd

    path = _gate_tmp_path(".hdt", "qes_gate_msd_")
    write_hdt_msd(_dict(spark, sf_dir), _enc(spark, sf_dir), path)
    try:
        d2, enc2 = hdt_to_dataframes(spark, path)
    finally:
        import os

        os.unlink(path)
    return decode_triples(enc2, d2).distinct()


def q_kg_hdt_quads_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HDTQ round-trip: quad-grammar dataset -> FourQuad dictionary +
    BitmapQuad triples with the per-graph MultiRoaringBitmap layer
    (BitmapQuadTriples.java:206-219) -> parse -> decode (s,p,o,g)."""
    import tempfile

    from qendpoint_spark.hdt import hdt_to_dataframes, write_hdtq

    base = quad_triples_str(_docs(spark, sf_dir)).dropDuplicates()
    qdict = build_dictionary(base)
    encq = encode_triples(base, qdict, assume_distinct=True)
    path = _gate_tmp_path(".hdt", "qes_gate_hdtq_")
    write_hdtq(qdict, encq, path)
    try:
        d2, enc2 = hdt_to_dataframes(spark, path)
    finally:
        import os

        os.unlink(path)
    return decode_triples(enc2, d2).distinct()


def q_kg_rdfxml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RDF/XML interchange round-trip: extraction triples -> one
    RDF/XML document (sources/rdfxml.py:serialize_rdfxml, namespace
    split + attribute/text escaping) -> distributed re-parse
    (read_rdfxml, per-file ElementTree over mapInPandas). A hash-match
    vs the extraction oracle proves serializer and parser agree on
    every construct the corpus exercises (IRIs, typed/lang literals,
    XML escaping)."""
    import tempfile

    from qendpoint_spark.sources.rdfxml import read_rdfxml, write_rdfxml

    path = _gate_tmp_path(".rdf", "qes_gate_rdfxml_")
    write_rdfxml(_triples(spark, sf_dir), path)
    try:
        return (
            read_rdfxml(spark, path, scoped_bnodes=False)
            .distinct()
            .localCheckpoint(eager=True)
        )
    finally:
        os.unlink(path)


def q_kg_jsonld_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-LD interchange round-trip: extraction triples -> expanded
    JSON-LD (sources/jsonld.py:serialize_jsonld) -> distributed
    re-parse (read_jsonld) -> (s, p, o). Same proof shape as the
    RDF/XML row for the second RIOT format family."""
    import tempfile

    from qendpoint_spark.sources.jsonld import read_jsonld, write_jsonld

    path = _gate_tmp_path(".jsonld", "qes_gate_jsonld_")
    write_jsonld(_triples(spark, sf_dir), path)
    try:
        return (
            read_jsonld(spark, path, scoped_bnodes=False)
            .select("s", "p", "o")
            .distinct()
            .localCheckpoint(eager=True)
        )
    finally:
        os.unlink(path)


def q_kg_shared_section(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _dict(spark, sf_dir)
        .filter(F.col("section") == "SH")
        .select("term", "id")
    )


def q_kg_header(spark: SparkSession, sf_dir: str) -> DataFrame:
    return build_header(
        _triples(spark, sf_dir), _dict(spark, sf_dir), _enc(spark, sf_dir)
    )


def q_kg_ntriples(spark: SparkSession, sf_dir: str) -> DataFrame:
    return export_ntriples(_triples(spark, sf_dir))


def q_kg_pfc_sections(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pfc_view(_dict(spark, sf_dir))


def q_kg_psfc_sections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSFC section view: literals' datatype/lang suffixes moved to the
    front (PSFCFourSectionDictionary.encode), sections re-ranked over
    the transformed strings, then PFC block/lcp/suffix structure."""
    return psfc_view(_dict(spark, sf_dir))


def q_kg_datatype_sections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MSD layout roundtrip: the dictionary is COMMITTED the way the
    pipeline publishes it — Catalog.write_stage partitioned by
    (section, datatype), the reference's typed object subsections
    (MultipleSectionDictionary.java:51-60) as partition directories,
    in the catalog's at-rest encodings — and read back, so the gate
    checks the published format, not just the datatype computation.
    Datatype-scoped reads are file-pruned (PartitionFilters assertion
    in tests/test_plans.py)."""
    import hashlib

    from qendpoint_spark.catalog import Catalog

    msd = with_datatype(_dict(spark, sf_dir))
    fp = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    cat = Catalog(spark, f"{_scratch_dir()}/qs_msd_{fp}")
    cat.write_stage(
        "dict_terms", msd, fp, force=True, partition_by=["section", "datatype"]
    )
    return cat.read("dict_terms").select(
        "term", "section", "id", "kind", "datatype"
    )


def quad_triples_str(docs: DataFrame) -> DataFrame:
    """The quad grammar: per-document metadata triples in per-source
    named graphs — shared by the quad encode row and the SPARQL GRAPH
    rows (and mirrored by the string-level quads CTE in the oracles)."""
    return docs.select(
        F.concat(F.lit("http://example.org/doc/"), F.col("doc_id").cast("string")).alias("s"),
        F.lit("http://example.org/prop/lang").alias("p"),
        F.concat(F.lit('"'), F.col("lang"), F.lit('"@'), F.col("lang")).alias("o"),
        F.concat(F.lit("http://example.org/graph/"), F.col("source")).alias("g"),
    ).unionByName(
        docs.select(
            F.concat(F.lit("http://example.org/doc/"), F.col("doc_id").cast("string")).alias("s"),
            F.lit("http://example.org/prop/source").alias("p"),
            F.concat(F.lit('"'), F.col("source"), F.lit('"')).alias("o"),
            F.concat(F.lit("http://example.org/graph/"), F.col("source")).alias("g"),
        )
    )


def q_kg_quads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quad mode: per-document metadata triples in per-source named
    graphs -> G-section dictionary + (s,p,o,g) encode."""
    base = quad_triples_str(_docs(spark, sf_dir))
    qdict = build_dictionary(base)
    return encode_triples(base, qdict)


def q_kg_pattern_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """?P? pattern scan via the access-path planner — routed to the
    PSO-sorted table so the bound predicate is the LEADING sort key
    (pruned scan, PredicateIndexArray analog): p = the 'mentions'
    predicate (id 7 — P section sorted: crawldate<density<flag<
    fromSource<label<lang<mentions<nchars<provenance<source, stable
    across SFs)."""
    from qendpoint_spark.encoding import ops_table, pso_table, spo_table
    from qendpoint_spark.plans import scan_pattern

    enc = _enc(spark, sf_dir)
    return scan_pattern(spo_table(enc), ops_table(enc), p=7, pso=pso_table(enc))


def q_kg_pattern_scan_obj(spark: SparkSession, sf_dir: str) -> DataFrame:
    """??O pattern via the OPS table: o = 1, the binary-smallest
    shared term — now the provenance bnode _:b0 ('_' sorts before
    'h'), exercising bnode SH membership."""
    from qendpoint_spark.encoding import ops_table, spo_table
    from qendpoint_spark.plans import scan_pattern

    enc = _enc(spark, sf_dir)
    return scan_pattern(spo_table(enc), ops_table(enc), o=1)


def q_kg_pattern_scan_sp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SP? pattern via the SPO table: s = 1 (binary-smallest shared
    term — the provenance bnode _:b0), p = 4 ('fromSource', the only
    predicate on provenance bnodes)."""
    from qendpoint_spark.encoding import ops_table, spo_table
    from qendpoint_spark.plans import scan_pattern

    enc = _enc(spark, sf_dir)
    return scan_pattern(spo_table(enc), ops_table(enc), s=1, p=4)


def q_kg_pattern_scan_so(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S?O composite mask routed to the SOP table — both bound
    components are SOP's LEADING sort keys, so both filters prune
    (TripleComponentOrder mask matching; alternate-order index files
    BitmapTriplesIndexFile.java:160-260). s = smallest doc subject of a
    'mentions' (p=7) triple, o = its smallest mentioned entity."""
    from qendpoint_spark.encoding.indexes import sorted_table
    from qendpoint_spark.plans import scan_pattern

    enc = _enc(spark, sf_dir)
    ss = enc.filter(F.col("p") == 7).agg(F.min("s")).collect()[0][0]
    oo = (
        enc.filter((F.col("p") == 7) & (F.col("s") == ss))
        .agg(F.min("o"))
        .collect()[0][0]
    )
    return scan_pattern(
        spo_table(enc), ops_table(enc), s=ss, o=oo, sop=sorted_table(enc, "sop")
    )


def q_kg_pattern_scan_po(spark: SparkSession, sf_dir: str) -> DataFrame:
    """?PO composite mask routed to the POS table (p,o leading keys):
    p = 7 ('mentions'), o = the most-mentioned entity's object id —
    stable because it is defined by the data, not the ID assignment."""
    from qendpoint_spark.encoding.indexes import sorted_table
    from qendpoint_spark.plans import scan_pattern

    enc = _enc(spark, sf_dir)
    oo = (
        enc.filter(F.col("p") == 7)
        .groupBy("o")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("o"))
        .limit(1)
        .collect()[0][0]
    )
    return scan_pattern(
        spo_table(enc), ops_table(enc), p=7, o=oo, pos=sorted_table(enc, "pos")
    )


def q_kg_sorted_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All six component-order materializations (SPO/SOP/PSO/POS/OSP/
    OPS — TripleComponentOrder.java:41-61): each sorted table must
    preserve the triple multiset exactly; one signature row per order."""
    from qendpoint_spark.encoding.indexes import ORDERS, sorted_table

    enc = _enc(spark, sf_dir)
    parts = [
        sorted_table(enc, order)
        .select(F.lit(order).alias("ord"), "s", "p", "o")
        .groupBy("ord")
        .agg(
            F.count(F.lit(1)).alias("n_triples"),
            F.sum("s").alias("sum_s"),
            F.sum("p").alias("sum_p"),
            F.sum("o").alias("sum_o"),
        )
        for order in ORDERS
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def q_kg_cat_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental KCat (big base ⊕ small delta) through
    merge_incremental, the two-input KCat id-remap merge
    (merge/kcat.py): base = 98% of the corpus, delta = the
    doc_id % 50 == 0 slice, each encoded in its own ID space. The
    oracle encodes the full corpus directly, so re-ranking the merged
    term tables and remapping both inputs' int triples must reproduce
    the from-scratch ID assignment exactly (KCatImpl.java:370-420)."""
    return _inc_merge(spark, sf_dir)[1]


def q_kg_cat_incremental_dict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The merged dictionary from the same incremental merge — checks
    section membership (incl. S->SH / O->SH migrations), per-section
    ranks and global ids against the from-scratch build."""
    return _inc_merge(spark, sf_dir)[0].select("term", "section", "sec_rank", "id")


def _inc_merge(spark: SparkSession, sf_dir: str):
    key = (id(spark), sf_dir, "inc_merge")
    if key not in _CACHE:
        from qendpoint_spark.merge import merge_incremental

        docs = _docs(spark, sf_dir)
        parts = []
        for keep_base in (True, False):
            cond = (F.col("doc_id") % 50 != 0) if keep_base else (
                F.col("doc_id") % 50 == 0
            )
            tri = extract_triples_from_documents(
                docs.filter(cond)
            ).localCheckpoint(eager=True)
            d = build_dictionary(tri)
            parts.append((encode_triples(tri, d), d))
        md, mt = merge_incremental(parts[0], parts[1])
        _cache_put(key, (md.cache(), mt.cache()))
    return _CACHE[key]


def q_kg_bgp_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-pattern BGP (?doc mentions ?ent) ⋈ (?ent label ?label) through
    the cardinality-driven planner: PatternStats (the predicate_index
    stats the reference feeds its optimizer) picks the smaller pattern
    first, leaves route through scan_pattern (PSO pruning for the
    bound-predicate leaves)."""
    from qendpoint_spark.encoding import (
        ops_table,
        predicate_index,
        pso_table,
        spo_table,
    )
    from qendpoint_spark.plans import PatternStats, scan_bgp

    enc = _enc(spark, sf_dir)
    stats = PatternStats(predicate_index(enc))
    return scan_bgp(
        spo_table(enc),
        ops_table(enc),
        [("doc", 7, "ent"), ("ent", 5, "label")],
        stats=stats,
        pso=pso_table(enc),
    )


def q_kg_bgp_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-pattern STAR on the doc subject: (?doc mentions ?ent) ⋈
    (?doc lang ?lang) ⋈ (?doc nchars ?nc). The stats-driven planner
    picks build/probe sides per join (small side broadcast — asserted
    in tests/test_plans.py) and propagates the |A||B|/max(V) estimate
    across the star."""
    from qendpoint_spark.encoding import (
        ops_table,
        predicate_index,
        pso_table,
        spo_table,
    )
    from qendpoint_spark.plans import PatternStats, scan_bgp

    enc = _enc(spark, sf_dir)
    stats = PatternStats(predicate_index(enc))
    return scan_bgp(
        spo_table(enc),
        ops_table(enc),
        [("doc", 7, "ent"), ("doc", 6, "lang"), ("doc", 8, "nc")],
        stats=stats,
        pso=pso_table(enc),
    ).select("doc", "ent", "lang", "nc")


def q_kg_bgp_optional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL OPTIONAL: (?doc lang ?lang) OPTIONAL (?doc mentions ?ent)
    — a left outer extension on the shared ?doc variable; docs whose
    text yields no qualifying mention keep a NULL ?ent binding."""
    from qendpoint_spark.encoding import ops_table, pso_table, spo_table
    from qendpoint_spark.plans import scan_bgp_optional

    enc = _enc(spark, sf_dir)
    return scan_bgp_optional(
        spo_table(enc),
        ops_table(enc),
        required=[("doc", 6, "lang")],
        optional=[("doc", 7, "ent")],
        pso=pso_table(enc),
    )


def q_kg_bgp_minus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL MINUS: (?doc crawldate ?d) MINUS (?doc flag "true") —
    anti-join on ?doc; the bound-object id for the boolean literal is
    resolved through the dictionary exactly as a SPARQL engine resolves
    a constant term (1-row bounded lookup, like PatternStats)."""
    from qendpoint_spark.dictionary.builder import object_map
    from qendpoint_spark.encoding import ops_table, pso_table, spo_table
    from qendpoint_spark.extraction.triples import XSD_BOOLEAN
    from qendpoint_spark.plans import scan_bgp_minus

    enc = _enc(spark, sf_dir)
    true_term = '"true"^^<' + XSD_BOOLEAN + ">"
    oid = (
        object_map(_dict(spark, sf_dir))
        .filter(F.col("term") == true_term)
        .collect()
    )
    true_oid = oid[0]["oid"] if oid else -1
    return scan_bgp_minus(
        spo_table(enc),
        ops_table(enc),
        required=[("doc", 1, "d")],
        minus=[("doc", 3, int(true_oid))],
        pso=pso_table(enc),
    )


def q_kg_path_seq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL property path `mentions/label` over the ENCODED tables:
    two routed path steps (PSO leading-key pruning on the bound
    predicate) joined on the middle entity node — RDF4J's sequence-path
    join done set-at-a-time (plans/paths.py). IDs stay longs end to
    end; shared-section ids make the object→subject middle join exact."""
    from qendpoint_spark.encoding import ops_table, pso_table, spo_table
    from qendpoint_spark.plans import path_seq, path_step

    enc = _enc(spark, sf_dir)
    spo, ops, pso = spo_table(enc), ops_table(enc), pso_table(enc)
    mentions = path_step(spo, ops, p=7, pso=pso)  # prop/mentions
    label = path_step(spo, ops, p=5, pso=pso)  # prop/label
    return path_seq(mentions, label)


def q_kg_path_inv_alt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Property path `(^mentions)|label`: inverse step (column swap, no
    shuffle) unioned with a forward step — RDF4J's alternative-path
    union + inverse-path swap as DataFrame algebra."""
    from qendpoint_spark.encoding import ops_table, pso_table, spo_table
    from qendpoint_spark.plans import path_alt, path_inverse, path_step

    enc = _enc(spark, sf_dir)
    spo, ops, pso = spo_table(enc), ops_table(enc), pso_table(enc)
    inv_mentions = path_inverse(path_step(spo, ops, p=7, pso=pso))
    label = path_step(spo, ops, p=5, pso=pso)
    return path_alt(inv_mentions, label)


def _succession_edges(
    docs: DataFrame, segment: int | None = None
) -> DataFrame:
    """doc_id -> doc_id+1 successor edges (a deterministic chain over
    the corpus, the graph shape property-path closures are hardest on);
    segment=k breaks the chain every k docs so the full `p+` closure
    stays linear in the corpus (reachability on an unbroken n-chain is
    inherently O(n^2) pairs — that variant is exercised with a hop
    bound instead)."""
    a = docs.select(F.col("doc_id").alias("src"))
    b = docs.select(F.col("doc_id").alias("dst"))
    edges = a.join(b, a["src"] + 1 == b["dst"])
    if segment is not None:
        edges = edges.filter(F.col("src") % segment != segment - 1)
    return edges.select("src", "dst")


def q_kg_path_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbounded `p+` transitive closure (semi-naive frontier loop,
    plans/paths.py) over segmented successor chains — diameter 7, so
    the loop genuinely iterates; every round shuffles only the newly
    discovered 8-byte pairs. Oracle: DuckDB recursive CTE."""
    from qendpoint_spark.plans import transitive_closure

    return transitive_closure(
        _succession_edges(_docs(spark, sf_dir), segment=8)
    )


def q_kg_path_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded `p{1,4}` closure over the UNBROKEN successor chain — the
    form a 100-TB pipeline prefers on long-diameter graphs (output
    bounded by k·|V| instead of the O(n²) full reachability set)."""
    from qendpoint_spark.plans import transitive_closure

    return transitive_closure(
        _succession_edges(_docs(spark, sf_dir)), max_hops=4
    )


def q_kg_ntriples_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sink/source round-trip through TEXT: export the extracted
    triples as N-Triples lines, re-parse them with read_ntriples
    (RDFParserSimple analog), return the parsed set — the oracle is
    the extraction grammar, so any export- or parse-side corruption
    hash-fails."""
    import hashlib

    from qendpoint_spark.encoding.header import export_ntriples
    from qendpoint_spark.sources import read_ntriples

    path = f"{_scratch_dir()}/qs_nt_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}"
    export_ntriples(_triples(spark, sf_dir)).write.mode("overwrite").text(path)
    return read_ntriples(spark, path)


def q_kg_cat_identity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-cat identity through the REAL merge path (merge/kcat.py):
    split the corpus on doc_id parity, run extract -> dictionary ->
    encode independently per half (separate ID spaces!), then KCat-merge
    the two encoded datasets. The oracle encodes the full corpus
    directly — identical output proves decode/remap/re-rank round-trip
    exactly (the reference's HDTManagerTest.java:196-266 fixture
    identity, example1.nt + example2.nt == example1+2.nt)."""
    from qendpoint_spark.merge import merge_datasets

    docs = _docs(spark, sf_dir)
    halves = []
    for par in (0, 1):
        tri = extract_triples_from_documents(
            docs.filter(F.col("doc_id") % 2 == par)
        ).localCheckpoint(eager=True)
        d = build_dictionary(tri)
        halves.append((encode_triples(tri, d), d))
    _, merged_triples, _ = merge_datasets(halves)
    return merged_triples


def q_kg_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HDTDiff through the real diff path: subtract the triples
    extracted from the doc_id % 7 == 0 documents in ID space, then
    re-rank (diff_datasets + merge_datasets). Note shared terms (entity
    labels mentioned by surviving docs too) correctly survive the
    subtraction — the delete set is a TRIPLE set, not a document set."""
    from qendpoint_spark.merge import diff_datasets, merge_datasets

    d = _dict(spark, sf_dir)
    del_tri = extract_triples_from_documents(
        _docs(spark, sf_dir).filter(F.col("doc_id") % 7 == 0)
    )
    _, new_enc, _ = merge_datasets(
        [diff_datasets(_enc(spark, sf_dir), d, encode_triples(del_tri, d))]
    )
    return new_enc


def updated_state(
    spark: SparkSession, docs: DataFrame, fp: str, scripts: list
) -> DataFrame:
    """Publish `docs` into a scratch warehouse, apply_update each
    script in turn, and return the decoded published state."""
    import shutil
    import tempfile

    from qendpoint_spark.catalog import Catalog
    from qendpoint_spark.pipeline import run_pipeline
    from qendpoint_spark.sparql import apply_update

    wh = tempfile.mkdtemp(prefix="qs_update_wh_", dir=_scratch_dir())
    try:
        cat = Catalog(spark, wh)
        run_pipeline(
            spark, cat, source_df=docs, source_kind="documents", source_fingerprint=fp
        )
        for text in scripts:
            apply_update(spark, cat, text)
        return decode_triples(
            cat.read("triples_spo"), cat.read("dict_terms")
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(wh, ignore_errors=True)


_DOC = "http://example.org/doc/"
_SOURCE = "http://example.org/prop/source"
#: the base corpus slice the update row publishes, and the documents
#: whose source triples its DELETE DATA removes (a subset of the slice)
_UPD_BASE, _UPD_DELETE = 5, 45
_UPD_INSERT = (
    f'<{_DOC}new1> <{_SOURCE}> "inserted" . '
    f"<{_DOC}new1> <http://example.org/prop/mentions> <http://example.org/ent/shuffle> . "
    f'<{_DOC}5> <http://example.org/prop/crawldate> '
    f'"2024-06-06"^^<http://www.w3.org/2001/XMLSchema#date>'
)


def q_kg_update_insert_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A delete after a merge-path publish, through the warehouse API:
    run_pipeline over the doc_id % 5 == 0 slice, apply_update INSERT
    DATA (two new triples and one already present), then DELETE DATA
    (the source triples of the doc_id % 45 == 0 documents and one
    inserted triple), into a scratch warehouse. The decoded published
    state must be (base ∪ insert) − delete."""
    docs = _docs(spark, sf_dir)
    deleted = [
        f'<{_DOC}{r.doc_id}> <{_SOURCE}> "{r.source}"'
        for r in docs.filter(F.col("doc_id") % _UPD_DELETE == 0)
        .select("doc_id", "source").collect()
    ] + [f'<{_DOC}new1> <{_SOURCE}> "inserted"']
    base = docs.filter(F.col("doc_id") % _UPD_BASE == 0)
    return updated_state(spark, base, f"update-row:{sf_dir}", [
        f"INSERT DATA {{ {_UPD_INSERT} }}",
        f"DELETE DATA {{ {' . '.join(deleted)} }}",
    ])


QUERIES = {
    "kg_extract_triples": q_kg_extract,
    "kg_quads_encode": q_kg_quads,
    "kg_pattern_scan_p": q_kg_pattern_scan,
    "kg_pattern_scan_o": q_kg_pattern_scan_obj,
    "kg_pattern_scan_sp": q_kg_pattern_scan_sp,
    "kg_header": q_kg_header,
    "kg_ntriples_export": q_kg_ntriples,
    "kg_datatype_sections": q_kg_datatype_sections,
    "kg_pfc_sections": q_kg_pfc_sections,
    "kg_psfc_sections": q_kg_psfc_sections,
    "kg_dictionary": q_kg_dictionary,
    "kg_encode_spo": q_kg_spo,
    "kg_ops_index": q_kg_ops,
    "kg_adjacency_bits": q_kg_adjacency_bits,
    "kg_predicate_index": q_kg_predicate_index,
    "kg_object_index": q_kg_object_index,
    "kg_decode_roundtrip": q_kg_decode_roundtrip,
    "kg_hdt_file_roundtrip": q_kg_hdt_file_roundtrip,
    "kg_hdt_msd_roundtrip": q_kg_hdt_msd_roundtrip,
    "kg_hdt_quads_roundtrip": q_kg_hdt_quads_roundtrip,
    "kg_rdfxml_roundtrip": q_kg_rdfxml_roundtrip,
    "kg_jsonld_roundtrip": q_kg_jsonld_roundtrip,
    "kg_shared_section": q_kg_shared_section,
    "kg_cat_identity": q_kg_cat_identity,
    "kg_cat_incremental": q_kg_cat_incremental,
    "kg_cat_incremental_dict": q_kg_cat_incremental_dict,
    "kg_pattern_scan_so": q_kg_pattern_scan_so,
    "kg_pattern_scan_po": q_kg_pattern_scan_po,
    "kg_sorted_orders": q_kg_sorted_orders,
    "kg_diff": q_kg_diff,
    "kg_bgp_join": q_kg_bgp_join,
    "kg_bgp_star": q_kg_bgp_star,
    "kg_bgp_optional": q_kg_bgp_optional,
    "kg_bgp_minus": q_kg_bgp_minus,
    "kg_path_seq": q_kg_path_seq,
    "kg_path_inv_alt": q_kg_path_inv_alt,
    "kg_path_closure": q_kg_path_closure,
    "kg_path_bounded": q_kg_path_bounded,
    "kg_ntriples_ingest": q_kg_ntriples_ingest,
    "kg_update_insert_delete": q_kg_update_insert_delete,
}

# ---------------------------------------------------------------- oracles

def _triples_cte(name: str, where: str = "") -> str:
    """The extraction grammar (extraction/triples.py) as SQL, over an
    optionally filtered documents set — shared by the main prelude and
    the merge/diff oracles so the grammar can never diverge."""
    w = f" WHERE {where}" if where else ""
    return f"""{name}_toks AS (
  SELECT DISTINCT doc_id, tok FROM (
    SELECT doc_id, unnest(string_split(coalesce(text, ''), ' ')) AS tok
    FROM documents{w}
  ) WHERE length(tok) >= 4
),
{name} AS (
  SELECT DISTINCT s, p, o FROM (
    SELECT 'http://example.org/doc/' || doc_id AS s,
           'http://example.org/prop/lang' AS p,
           '"' || lang || '"@' || lang AS o
    FROM documents{w}
    UNION ALL
    SELECT 'http://example.org/doc/' || doc_id,
           'http://example.org/prop/source',
           '"' || source || '"'
    FROM documents{w}
    UNION ALL
    SELECT 'http://example.org/doc/' || doc_id,
           'http://example.org/prop/nchars',
           '"' || n_chars || '"^^<http://www.w3.org/2001/XMLSchema#integer>'
    FROM documents{w}
    UNION ALL
    SELECT 'http://example.org/doc/' || doc_id,
           'http://example.org/prop/crawldate',
           '"2024-' || lpad(((doc_id % 12) + 1)::VARCHAR, 2, '0') || '-'
                    || lpad(((doc_id % 28) + 1)::VARCHAR, 2, '0')
                    || '"^^<http://www.w3.org/2001/XMLSchema#date>'
    FROM documents{w}
    UNION ALL
    SELECT 'http://example.org/doc/' || doc_id,
           'http://example.org/prop/density',
           '"' || (n_chars // 100)::VARCHAR || '.'
               || lpad((n_chars % 100)::VARCHAR, 2, '0')
               || '"^^<http://www.w3.org/2001/XMLSchema#decimal>'
    FROM documents{w}
    UNION ALL
    SELECT 'http://example.org/doc/' || doc_id,
           'http://example.org/prop/flag',
           '"' || CASE WHEN n_chars % 2 = 0 THEN 'true' ELSE 'false' END
               || '"^^<http://www.w3.org/2001/XMLSchema#boolean>'
    FROM documents{w}
    UNION ALL
    SELECT 'http://example.org/doc/' || doc_id,
           'http://example.org/prop/provenance',
           '_:b' || doc_id
    FROM documents{w}
    UNION ALL
    SELECT '_:b' || doc_id,
           'http://example.org/prop/fromSource',
           '"' || source || '"'
    FROM documents{w}
    UNION ALL
    SELECT 'http://example.org/doc/' || doc_id,
           'http://example.org/prop/mentions',
           'http://example.org/ent/' || tok
    FROM {name}_toks
    UNION ALL
    SELECT DISTINCT 'http://example.org/ent/' || tok,
           'http://example.org/prop/label',
           '"' || tok || '"'
    FROM {name}_toks
  )
)"""


def _dict_enc_cte(triples: str) -> str:
    """Four-section dictionary + encode (SURVEY §1.3 ID algebra) over a
    named (s,p,o) CTE."""
    return f"""subs AS (SELECT DISTINCT s AS term FROM {triples}),
objs AS (SELECT DISTINCT o AS term FROM {triples}),
preds AS (SELECT DISTINCT p AS term FROM {triples}),
sh AS (SELECT term FROM subs INTERSECT SELECT term FROM objs),
sonly AS (SELECT term FROM subs EXCEPT SELECT term FROM objs),
oonly AS (SELECT term FROM objs EXCEPT SELECT term FROM subs),
nsh AS (SELECT count(*) AS n FROM sh),
dict AS (
  SELECT term, 'SH' AS section,
         row_number() OVER (ORDER BY term) AS sec_rank,
         row_number() OVER (ORDER BY term) AS id
  FROM sh
  UNION ALL
  SELECT term, 'S',
         row_number() OVER (ORDER BY term),
         (SELECT n FROM nsh) + row_number() OVER (ORDER BY term)
  FROM sonly
  UNION ALL
  SELECT term, 'O',
         row_number() OVER (ORDER BY term),
         (SELECT n FROM nsh) + row_number() OVER (ORDER BY term)
  FROM oonly
  UNION ALL
  SELECT term, 'P',
         row_number() OVER (ORDER BY term),
         row_number() OVER (ORDER BY term)
  FROM preds
),
smap AS (SELECT term, id AS sid FROM dict WHERE section IN ('SH','S')),
pmap AS (SELECT term, id AS pid FROM dict WHERE section = 'P'),
omap AS (SELECT term, id AS oid FROM dict WHERE section IN ('SH','O')),
enc AS (
  SELECT DISTINCT sm.sid AS s, pm.pid AS p, om.oid AS o
  FROM {triples} t
  JOIN smap sm ON t.s = sm.term
  JOIN pmap pm ON t.p = pm.term
  JOIN omap om ON t.o = om.term
)
"""


_KG_PRELUDE = "\nWITH " + _triples_cte("triples") + ",\n" + _dict_enc_cte("triples")

# golden-cat identity: encode(A) ++ encode(B) re-merged == encode(A ∪ B)
# (the reference's own flagship merge test, HDTManagerTest.java:196-266,
# example1.nt + example2.nt == example1+2.nt) — the extraction grammar
# is per-document + global distinct, so the full-corpus prelude IS the
# merged truth.
_CAT_ORACLE = _KG_PRELUDE + "SELECT s, p, o FROM enc"

_DIFF_ORACLE = (
    "\nWITH "
    + _triples_cte("triples_all")
    + ",\n"
    + _triples_cte("triples_del", "doc_id % 7 = 0")
    + """,
survivors AS (
  SELECT s, p, o FROM triples_all
  EXCEPT
  SELECT s, p, o FROM triples_del
),
"""
    + _dict_enc_cte("survivors")
    + "SELECT s, p, o FROM enc"
)

_UPDATE_ORACLE = (
    "\nWITH "
    + _triples_cte("base", f"doc_id % {_UPD_BASE} = 0")
    + f""",
inserted(s, p, o) AS (VALUES
  ('{_DOC}new1', '{_SOURCE}', '"inserted"'),
  ('{_DOC}new1', 'http://example.org/prop/mentions', 'http://example.org/ent/shuffle'),
  ('{_DOC}5', 'http://example.org/prop/crawldate',
   '"2024-06-06"^^<http://www.w3.org/2001/XMLSchema#date>')
),
deleted AS (
  SELECT '{_DOC}' || doc_id AS s, '{_SOURCE}' AS p, '"' || source || '"' AS o
  FROM documents WHERE doc_id % {_UPD_DELETE} = 0
  UNION ALL
  SELECT '{_DOC}new1', '{_SOURCE}', '"inserted"'
)
SELECT s, p, o FROM base
UNION
SELECT s, p, o FROM inserted
EXCEPT
SELECT s, p, o FROM deleted"""
)

_QUADS_CTE = """
WITH quads AS (
  SELECT DISTINCT * FROM (
    SELECT 'http://example.org/doc/' || doc_id AS s,
           'http://example.org/prop/lang' AS p,
           '"' || lang || '"@' || lang AS o,
           'http://example.org/graph/' || source AS g
    FROM documents
    UNION ALL
    SELECT 'http://example.org/doc/' || doc_id,
           'http://example.org/prop/source',
           '"' || source || '"',
           'http://example.org/graph/' || source
    FROM documents
  )
)"""

_QUAD_ORACLE = _QUADS_CTE + """,
subs AS (SELECT DISTINCT s AS term FROM quads),
objs AS (SELECT DISTINCT o AS term FROM quads),
sh AS (SELECT term FROM subs INTERSECT SELECT term FROM objs),
sonly AS (SELECT term FROM subs EXCEPT SELECT term FROM objs),
oonly AS (SELECT term FROM objs EXCEPT SELECT term FROM subs),
nsh AS (SELECT count(*) AS n FROM sh),
smap AS (
  SELECT term, row_number() OVER (ORDER BY term) AS sid FROM sh
  UNION ALL
  SELECT term, (SELECT n FROM nsh) + row_number() OVER (ORDER BY term)
  FROM sonly
),
omap AS (
  SELECT term, row_number() OVER (ORDER BY term) AS oid FROM sh
  UNION ALL
  SELECT term, (SELECT n FROM nsh) + row_number() OVER (ORDER BY term)
  FROM oonly
),
pmap AS (
  SELECT term, row_number() OVER (ORDER BY term) AS pid
  FROM (SELECT DISTINCT p AS term FROM quads)
),
gmap AS (
  SELECT term, row_number() OVER (ORDER BY term) AS gid
  FROM (SELECT DISTINCT g AS term FROM quads)
)
SELECT DISTINCT sm.sid AS s, pm.pid AS p, om.oid AS o, gm.gid AS g
FROM quads q
JOIN smap sm ON q.s = sm.term
JOIN pmap pm ON q.p = pm.term
JOIN omap om ON q.o = om.term
JOIN gmap gm ON q.g = gm.term"""

ORACLES = {
    "kg_extract_triples": _KG_PRELUDE + "SELECT s, p, o FROM triples",
    "kg_quads_encode": _QUAD_ORACLE,
    "kg_pfc_sections": _KG_PRELUDE
    + """
    , lagged AS (
      SELECT term, section, sec_rank,
             lag(term) OVER (PARTITION BY section ORDER BY sec_rank) AS lag_term
      FROM dict
    ),
    lcps AS (
      SELECT term, section, sec_rank, lag_term,
             CASE WHEN (sec_rank - 1) % 16 = 0 OR lag_term IS NULL THEN 1 ELSE 0 END
               AS is_head,
             coalesce(list_max(list_transform(
               generate_series(1, greatest(least(length(term), length(lag_term)), 1)),
               i -> CASE WHEN substring(term, 1, i) = substring(lag_term, 1, i)
                         THEN i ELSE 0 END)), 0) AS raw_lcp
      FROM lagged
    )
    SELECT section, sec_rank, term, is_head,
           (CASE WHEN is_head = 1 OR lag_term IS NULL THEN 0 ELSE raw_lcp END)::INTEGER
             AS lcp,
           CASE WHEN (CASE WHEN is_head = 1 OR lag_term IS NULL THEN 0 ELSE raw_lcp END) = 0
                THEN term
                ELSE substring(term,
                  (CASE WHEN is_head = 1 OR lag_term IS NULL THEN 0 ELSE raw_lcp END) + 1,
                  length(term)) END AS suffix
    FROM lcps""",
    "kg_psfc_sections": _KG_PRELUDE
    + """
    , psfc AS (
      SELECT section,
             CASE WHEN term LIKE '"%' AND NOT term LIKE '%"'
                  THEN substring(term,
                                 length(term) - strpos(reverse(term), '"') + 2)
                       || substring(term, 1,
                                    length(term) - strpos(reverse(term), '"') + 1)
                  ELSE term END AS term
      FROM dict
    ),
    ranked AS (
      SELECT section, term,
             row_number() OVER (PARTITION BY section ORDER BY term) AS sec_rank
      FROM psfc
    ),
    lagged AS (
      SELECT term, section, sec_rank,
             lag(term) OVER (PARTITION BY section ORDER BY sec_rank) AS lag_term
      FROM ranked
    ),
    lcps AS (
      SELECT term, section, sec_rank, lag_term,
             CASE WHEN (sec_rank - 1) % 16 = 0 OR lag_term IS NULL THEN 1 ELSE 0 END
               AS is_head,
             coalesce(list_max(list_transform(
               generate_series(1, greatest(least(length(term), length(lag_term)), 1)),
               i -> CASE WHEN substring(term, 1, i) = substring(lag_term, 1, i)
                         THEN i ELSE 0 END)), 0) AS raw_lcp
      FROM lagged
    )
    SELECT section, sec_rank, term, is_head,
           (CASE WHEN is_head = 1 OR lag_term IS NULL THEN 0 ELSE raw_lcp END)::INTEGER
             AS lcp,
           CASE WHEN (CASE WHEN is_head = 1 OR lag_term IS NULL THEN 0 ELSE raw_lcp END) = 0
                THEN term
                ELSE substring(term,
                  (CASE WHEN is_head = 1 OR lag_term IS NULL THEN 0 ELSE raw_lcp END) + 1,
                  length(term)) END AS suffix
    FROM lcps""",
    "kg_pattern_scan_p": _KG_PRELUDE + "SELECT s, p, o FROM enc WHERE p = 7",
    "kg_pattern_scan_o": _KG_PRELUDE + "SELECT s, p, o FROM enc WHERE o = 1",
    "kg_pattern_scan_sp": _KG_PRELUDE
    + "SELECT s, p, o FROM enc WHERE s = 1 AND p = 4",
    "kg_header": _KG_PRELUDE
    + """
    SELECT * FROM
    (SELECT count(*) AS n_raw_triples,
            sum(length(s) + length(p) + length(o) + 2)::BIGINT AS original_size
     FROM triples),
    (SELECT sum(CASE WHEN section = 'SH' THEN 1 ELSE 0 END)::BIGINT AS n_shared,
            sum(CASE WHEN section = 'S' THEN 1 ELSE 0 END)::BIGINT AS n_subjects_only,
            sum(CASE WHEN section = 'O' THEN 1 ELSE 0 END)::BIGINT AS n_objects_only,
            sum(CASE WHEN section = 'P' THEN 1 ELSE 0 END)::BIGINT AS n_predicates,
            sum(CASE WHEN section = 'G' THEN 1 ELSE 0 END)::BIGINT AS n_graphs
     FROM dict),
    (SELECT count(*) AS n_triples,
            count(DISTINCT s) AS n_distinct_subjects,
            count(DISTINCT p) AS n_distinct_predicates,
            count(DISTINCT o) AS n_distinct_objects,
            max(s) AS max_subject_id, max(o) AS max_object_id
     FROM enc)""",
    "kg_ntriples_export": _KG_PRELUDE
    + """
    SELECT concat_ws(' ',
      CASE WHEN s LIKE '"%' OR s LIKE '_:%' THEN s ELSE '<' || s || '>' END,
      CASE WHEN p LIKE '"%' OR p LIKE '_:%' THEN p ELSE '<' || p || '>' END,
      CASE WHEN o LIKE '"%' OR o LIKE '_:%' THEN o ELSE '<' || o || '>' END,
      '.') AS value
    FROM triples""",
    "kg_datatype_sections": _KG_PRELUDE
    + r"""
    SELECT term, section, id,
      CASE WHEN term NOT LIKE '"%' THEN 'ref'
           WHEN regexp_extract(term, '\^\^<([^>]+)>$', 1) <> '' THEN 'typed'
           WHEN regexp_extract(term, '"@([A-Za-z0-9-]+)$', 1) <> '' THEN 'lang'
           ELSE 'plain' END AS kind,
      CASE WHEN term NOT LIKE '"%' THEN NULL
           WHEN regexp_extract(term, '\^\^<([^>]+)>$', 1) <> ''
                THEN regexp_extract(term, '\^\^<([^>]+)>$', 1)
           WHEN regexp_extract(term, '"@([A-Za-z0-9-]+)$', 1) <> ''
                THEN '@' || regexp_extract(term, '"@([A-Za-z0-9-]+)$', 1)
           ELSE 'NO_DATATYPE' END AS datatype
    FROM dict""",
    "kg_dictionary": _KG_PRELUDE + "SELECT term, section, sec_rank, id FROM dict",
    "kg_encode_spo": _KG_PRELUDE + "SELECT s, p, o FROM enc",
    "kg_ops_index": _KG_PRELUDE + "SELECT o, p, s FROM enc",
    "kg_adjacency_bits": _KG_PRELUDE
    + """
    SELECT s, p, o,
           CASE WHEN row_number() OVER (PARTITION BY s ORDER BY p, o) = 1
                THEN 1 ELSE 0 END AS bit_y,
           CASE WHEN row_number() OVER (PARTITION BY s, p ORDER BY o) = 1
                THEN 1 ELSE 0 END AS bit_z
    FROM enc""",
    "kg_predicate_index": _KG_PRELUDE
    + """
    SELECT p, count(*) AS n_triples, count(DISTINCT s) AS n_subjects,
           count(DISTINCT o) AS n_objects, min(s) AS min_s, max(s) AS max_s
    FROM enc GROUP BY p""",
    "kg_object_index": _KG_PRELUDE
    + """
    SELECT o, count(*) AS n_triples, count(DISTINCT p) AS n_predicates
    FROM enc GROUP BY o""",
    "kg_decode_roundtrip": _KG_PRELUDE + "SELECT s, p, o FROM triples",
    "kg_hdt_file_roundtrip": _KG_PRELUDE + "SELECT s, p, o FROM triples",
    "kg_hdt_msd_roundtrip": _KG_PRELUDE + "SELECT s, p, o FROM triples",
    "kg_rdfxml_roundtrip": _KG_PRELUDE + "SELECT s, p, o FROM triples",
    "kg_jsonld_roundtrip": _KG_PRELUDE + "SELECT s, p, o FROM triples",
    "kg_hdt_quads_roundtrip": _QUADS_CTE
    + " SELECT DISTINCT s, p, o, g FROM quads",
    "kg_shared_section": _KG_PRELUDE
    + "SELECT term, id FROM dict WHERE section = 'SH'",
    "kg_cat_identity": _CAT_ORACLE,
    "kg_cat_incremental": _CAT_ORACLE,
    "kg_cat_incremental_dict": _KG_PRELUDE
    + "SELECT term, section, sec_rank, id FROM dict",
    "kg_pattern_scan_so": _KG_PRELUDE
    + """
    , sel AS (SELECT min(s) AS ss FROM enc WHERE p = 7),
    sel2 AS (SELECT min(o) AS oo FROM enc
             WHERE p = 7 AND s = (SELECT ss FROM sel))
    SELECT s, p, o FROM enc
    WHERE s = (SELECT ss FROM sel) AND o = (SELECT oo FROM sel2)""",
    "kg_pattern_scan_po": _KG_PRELUDE
    + """
    , sel AS (SELECT o AS oo FROM enc WHERE p = 7
              GROUP BY o ORDER BY count(*) DESC, o ASC LIMIT 1)
    SELECT s, p, o FROM enc WHERE p = 7 AND o = (SELECT oo FROM sel)""",
    "kg_sorted_orders": _KG_PRELUDE
    + """
    SELECT ord, n_triples, sum_s, sum_p, sum_o
    FROM (VALUES ('spo'),('sop'),('pso'),('pos'),('osp'),('ops')) AS t(ord),
         (SELECT count(*) AS n_triples, sum(s)::BIGINT AS sum_s,
                 sum(p)::BIGINT AS sum_p, sum(o)::BIGINT AS sum_o
          FROM enc) AS a""",
    "kg_diff": _DIFF_ORACLE,
    "kg_update_insert_delete": _UPDATE_ORACLE,
    "kg_bgp_join": _KG_PRELUDE
    + """
    SELECT e1.s AS doc, e1.o AS ent, e2.o AS label
    FROM enc e1 JOIN enc e2 ON e1.o = e2.s
    WHERE e1.p = 7 AND e2.p = 5""",
    "kg_bgp_star": _KG_PRELUDE
    + """
    SELECT e1.s AS doc, e1.o AS ent, e2.o AS lang, e3.o AS nc
    FROM enc e1
    JOIN enc e2 ON e1.s = e2.s
    JOIN enc e3 ON e1.s = e3.s
    WHERE e1.p = 7 AND e2.p = 6 AND e3.p = 8""",
    "kg_ntriples_ingest": _KG_PRELUDE + "SELECT s, p, o FROM triples",
    "kg_bgp_optional": _KG_PRELUDE
    + """
    SELECT r.s AS doc, r.o AS lang, m.o AS ent
    FROM enc r LEFT JOIN (SELECT s, o FROM enc WHERE p = 7) m
      ON r.s = m.s
    WHERE r.p = 6""",
    "kg_bgp_minus": _KG_PRELUDE
    + """
    SELECT r.s AS doc, r.o AS d
    FROM enc r
    WHERE r.p = 1 AND NOT EXISTS (
      SELECT 1 FROM enc m
      WHERE m.p = 3 AND m.s = r.s
        AND m.o = (SELECT oid FROM omap
                   WHERE term = '"true"^^<http://www.w3.org/2001/XMLSchema#boolean>')
    )""",
    "kg_path_seq": _KG_PRELUDE
    + """
    SELECT DISTINCT e1.s AS src, e2.o AS dst
    FROM enc e1 JOIN enc e2 ON e1.o = e2.s
    WHERE e1.p = 7 AND e2.p = 5""",
    "kg_path_inv_alt": _KG_PRELUDE
    + """
    SELECT o AS src, s AS dst FROM enc WHERE p = 7
    UNION
    SELECT s, o FROM enc WHERE p = 5""",
    "kg_path_closure": """
WITH RECURSIVE e AS (
  SELECT a.doc_id AS src, b.doc_id AS dst
  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
  WHERE a.doc_id % 8 <> 7
),
walk(src, dst) AS (
  SELECT src, dst FROM e
  UNION
  SELECT w.src, e.dst FROM walk w JOIN e ON e.src = w.dst
)
SELECT src, dst FROM walk""",
    "kg_path_bounded": """
WITH RECURSIVE e AS (
  SELECT a.doc_id AS src, b.doc_id AS dst
  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
),
walk(src, dst, d) AS (
  SELECT src, dst, 1 AS d FROM e
  UNION
  SELECT w.src, e.dst, w.d + 1 FROM walk w JOIN e ON e.src = w.dst
  WHERE w.d < 4
)
SELECT DISTINCT src, dst FROM walk""",
}
