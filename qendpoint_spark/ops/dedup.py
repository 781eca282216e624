"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine — the dedup ladder of a web-scale training-data
pipeline over `documents` / `embeddings`.

Scale shapes:
- exact: one groupBy on a 128-bit content hash (map-side combined).
- n-gram Jaccard: inverted-index self-join on shingles — the classic
  candidate-pair generation; output bounded by co-shingled pairs, AQE
  splits hot shingles.
- MinHash: signatures as NUM_HASHES aggregate columns over one scan
  (no row blowup); LSH bands hash signature slices so the join key
  count is |docs| x bands, never all-pairs.
- SimHash: token-hash bit votes -> 16-bit fingerprint; equal
  fingerprints = candidates.
- embedding dedup: label-blocked quantized-cosine pairs (quantized
  int dot products keep cross-engine determinism; see similarity.py).

All deterministic and ANSI-SQL-expressible for the DuckDB oracle.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

NUM_HASHES = 16
BANDS = 4
ROWS_PER_BAND = NUM_HASHES // BANDS
QUANT = 1000  # embedding fixed-point quantization


def sized_num_hashes(n: int) -> int:
    """MinHash signature width as a function of corpus size: 16 below
    1M docs, 32 below 100M, 64 beyond. More hashes shrink the Jaccard
    estimator's std error (sqrt(J(1-J)/H)) — at web scale the dup-pair
    verdicts feed irreversible deletions, so the estimate must tighten
    as the corpus (and the cost of a wrong merge) grows. Rows-per-band
    stays 4, so bands = H/4 and the LSH S-curve threshold (1/b)^(1/4)
    moves DOWN (more recall) at larger H; precision is restored by the
    exact-verify stage (dedup_minhash_accuracy measures it)."""
    if n < 1_000_000:
        return NUM_HASHES
    return 32 if n < 100_000_000 else 64


def sized_simhash_bits(n: int) -> int:
    """SimHash width as a function of corpus size: equal-fingerprint
    blocking produces ~n^2/2^bits random collisions, so keeping
    expected false candidates <= n needs bits >= log2(n); +8 bits of
    margin, floor 16 (toy corpora), cap 64 (one long)."""
    return min(64, max(16, int(math.ceil(math.log2(max(n, 2)))) + 8))


def _hash8(col):
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def exact_dedup(documents: DataFrame) -> DataFrame:
    """(doc_id, text_hash, keeper_id, group_size): keeper = min doc_id
    of the normalized-text group; rows with group_size > 1 are dups."""
    hashed = documents.select(
        "doc_id", F.md5(F.lower(F.trim(F.coalesce(F.col("text"), F.lit(""))))).alias("text_hash")
    )
    groups = hashed.groupBy("text_hash").agg(
        F.min("doc_id").alias("keeper_id"), F.count(F.lit(1)).alias("group_size")
    )
    return hashed.join(groups, "text_hash").select(
        "doc_id", "text_hash", "keeper_id", "group_size"
    )


def shingle_table(documents: DataFrame, k: int = 3) -> DataFrame:
    """Distinct (doc_id, shingle) with k-token shingles; documents with
    fewer than k tokens contribute their whole text as one shingle."""
    toks = F.split(F.coalesce(F.col("text"), F.lit("")), " ")
    n = F.size(toks)
    shingles = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - F.lit(k - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
        ),
    ).otherwise(F.array(F.concat_ws(" ", toks)))
    return (
        documents.select("doc_id", F.explode(shingles).alias("shingle"))
        .filter(F.length("shingle") > 0)
        .distinct()
    )


def ngram_jaccard_pairs(
    documents: DataFrame, k: int = 3, threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Candidate pairs by inverted-index join + exact Jaccard filter.
    Returns (doc_a, doc_b, n_common, n_a, n_b, jaccard).

    max_df (OPT-IN; default None = exact) is the document-frequency
    cutoff on the inverted index: a shingle occurring in more than
    max_df documents is dropped BEFORE the self-join. Without it, one
    boilerplate shingle with df = 10^6 alone emits 5*10^11 candidate
    pairs — a skewed-key blowup AQE can split but never shrink (the
    standard production-dedup guard; same role as stop-shingle lists).
    It is opt-in because it silently LOSES recall: a pair overlapping
    only via hot shingles (exact duplicates of boilerplate-heavy docs)
    produces zero candidates even at true jaccard 1.0. At corpus scale
    enable it deliberately, sized to the corpus (df cutoff ≫ expected
    duplicate-cluster size). With it on, overlap counts come from the
    filtered index (hot-shingle-only overlap scores lower —
    conservative), while set sizes n_a/n_b stay exact over the full
    shingle sets."""
    sh = shingle_table(documents, k)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    idx = sh
    if max_df is not None:
        rare = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_df)
            .select("shingle")
        )
        idx = sh.join(rare, "shingle", "left_semi")
    a = idx.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = idx.select(F.col("doc_id").alias("doc_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    from qendpoint_spark.ops.textstats import round6_exact

    return (
        common.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
        .withColumn(
            "jaccard",
            round6_exact(
                F.col("n_common"),
                F.col("n_a") + F.col("n_b") - F.col("n_common"),
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_common", "n_a", "n_b", "jaccard")
    )


def minhash_signatures(
    documents: DataFrame, k: int = 3, num_hashes: int | None = None
) -> DataFrame:
    """MinHash values as columns mh0..mh{H-1}: one aggregate pass over
    the shingle table, h_i(s) = hash8(s || '#' || i). num_hashes=None
    self-sizes via sized_num_hashes(|documents|); pass an explicit H to
    pin (the oracle-backed gate rows pin 16)."""
    if num_hashes is None:
        num_hashes = sized_num_hashes(documents.count())
    sh = shingle_table(documents, k)
    aggs = [
        F.min(_hash8(F.concat(F.col("shingle"), F.lit(f"#{i}")))).alias(f"mh{i}")
        for i in range(num_hashes)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_lsh_pairs(
    documents: DataFrame, k: int = 3, num_hashes: int | None = None,
    bucket_cap: int = 1024,
) -> DataFrame:
    """LSH banding: band_hash = md5 of ROWS_PER_BAND signature values;
    candidate pairs collide in >= 1 band. Returns distinct
    (doc_a, doc_b). num_hashes self-sizes like minhash_signatures;
    bands = H / ROWS_PER_BAND.

    bucket_cap bounds the per-task memory of the pair expansion: a
    bucket with more than bucket_cap colliding docs (a degenerate
    near-dup cluster — exact dedup upstream removes identical docs,
    but a boilerplate corpus can still collapse millions of NEAR-
    identical docs into one bucket) is routed through a shuffled
    self-join instead of a single collect_list array on one task. The
    emitted pair set is IDENTICAL either way — this is a physical
    routing split, not a cap on results — and the count of such
    buckets is logged (no silent caps)."""
    if num_hashes is None:
        num_hashes = sized_num_hashes(documents.count())
    sig = minhash_signatures(documents, k, num_hashes=num_hashes)
    # Single pass over the signatures: all band hashes in one select +
    # posexplode, then bucket-grouped pair emission.  The previous
    # formulation (union of per-band selects, self-joined) recomputed
    # the signature aggregation once per band per join side — 8 scans /
    # 36 aggregates in the physical plan, which spilled superlinearly
    # past ~10^5 docs (round-4 probe: 32x wall at 4x docs).  This plan
    # is 1 scan, 1 signature agg, 1 bucket shuffle, 1 distinct.
    band_hashes = [
        F.md5(
            F.concat_ws(
                ":",
                *[
                    F.col(f"mh{b * ROWS_PER_BAND + r}").cast("string")
                    for r in range(ROWS_PER_BAND)
                ],
            )
        )
        for b in range(num_hashes // ROWS_PER_BAND)
    ]
    allb = sig.select(
        "doc_id",
        F.posexplode(F.array(*band_hashes)).alias("band", "band_hash"),
    )
    # Pairs within a bucket: collect the (small) colliding id list and
    # expand combinations.  Bucket sizes are duplicate-cluster sized by
    # LSH design; the quadratic-within-bucket emission below is exactly
    # the candidate-set semantics (same output as the old self-join).
    # r06: buckets above bucket_cap no longer build one giant array on
    # a single task — they take the join path below.
    allb = allb.persist()
    hot = None
    try:
        hot = (
            allb.groupBy("band", "band_hash")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > bucket_cap)
            .select("band", "band_hash")
            .persist()
        )
        n_hot = hot.count()
        if n_hot:
            import logging

            logging.getLogger(__name__).warning(
                "minhash_lsh_pairs: %d bucket(s) over bucket_cap=%d routed "
                "through the self-join path (pair set unchanged)",
                n_hot, bucket_cap,
            )
        buckets = (
            allb.join(F.broadcast(hot), ["band", "band_hash"], "left_anti")
            .groupBy("band", "band_hash")
            .agg(F.collect_list("doc_id").alias("ids"))
            .filter(F.size("ids") > 1)
        )
        cold_pairs = (
            buckets.select(F.explode("ids").alias("doc_a"), "ids")
            .select("doc_a", F.explode("ids").alias("doc_b"))
            .filter(F.col("doc_a") < F.col("doc_b"))
        )
        pairs = cold_pairs
        if n_hot:
            hot_rows = allb.join(F.broadcast(hot), ["band", "band_hash"],
                                 "left_semi")
            hot_pairs = (
                hot_rows.select("band", "band_hash",
                                F.col("doc_id").alias("doc_a"))
                .join(
                    hot_rows.select("band", "band_hash",
                                    F.col("doc_id").alias("doc_b")),
                    ["band", "band_hash"],
                )
                .filter(F.col("doc_a") < F.col("doc_b"))
                .select("doc_a", "doc_b")
            )
            pairs = cold_pairs.select("doc_a", "doc_b").unionByName(hot_pairs)
        out = pairs.select("doc_a", "doc_b").distinct()
        # materialize before releasing the bucket caches (callers run one
        # action over the result; a second action would rebuild allb)
        out = out.localCheckpoint(eager=True)
    finally:
        allb.unpersist()
        if hot is not None:
            hot.unpersist()
    return out


def simhash_table(documents: DataFrame, bits: int | None = None) -> DataFrame:
    """bits-wide SimHash over token frequencies: bit j is the sign of
    sum over tokens of count * (2*bit_j(hash8(tok)) - 1). bits=None
    self-sizes via sized_simhash_bits(|documents|); the oracle-backed
    gate row pins 16 (its corpus is tiny)."""
    if bits is None:
        bits = sized_simhash_bits(documents.count())
    occ = (
        documents.select(
            "doc_id",
            F.explode(F.split(F.coalesce(F.col("text"), F.lit("")), " ")).alias("tok"),
        )
        .filter(F.length("tok") > 0)
        .withColumn("h", _hash8(F.col("tok")))
    )
    # ONE aggregation with `bits` conditional sums — no per-bit row
    # explosion and (r06) NO token-count pre-aggregation. The r5 shape
    # first computed cnt per (doc, tok) via its own groupBy — a full
    # string-keyed shuffle of every distinct (doc, tok) pair whose
    # sort/agg buffers were the superlinear-wall suspect in the r5
    # probe (BENCH/dedup_scale_probe_r5b: 2.37x linear at 640k docs;
    # the probe script is in git history, scripts/dedup_scale_probe.py).
    # But sum(cnt * bit_j(h_tok)) over distinct pairs equals
    # sum(bit_j(h(token))) over raw token OCCURRENCES, and sum(cnt) is
    # just the occurrence count, so the counting pass is mathematically
    # redundant: aggregate the occurrences directly. Occurrences of one
    # doc are colocated (explode is narrow), so the partial aggregate
    # collapses per doc map-side and the only exchange carries
    # |docs| x (bits+1) longs — no string shuffle at all. Bit j of the
    # fingerprint is set iff 2*sum_j > total — identical values to the
    # r5 and r3 formulations (the pinned bits=16 gate row hashes the
    # same).
    bit_sums = [
        F.sum(F.expr(f"shiftright(h, {j}) & 1")).alias(f"__b{j}")
        for j in range(bits)
    ]
    per_doc = occ.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("__total"), *bit_sums
    )
    sim = F.lit(0).cast("long")
    for j in range(bits):
        sim = sim + F.when(
            F.col(f"__b{j}") * 2 > F.col("__total"),
            F.expr(f"shiftleft(cast(1 AS bigint), {j})"),
        ).otherwise(F.lit(0).cast("long"))
    return per_doc.select("doc_id", sim.cast("long").alias("simhash"))


def embedding_dup_pairs_lsh(
    embeddings: DataFrame,
    min_cos: float = 0.3,
    bits: int | None = None,
    tables: int | None = None,
    planes: list[list[int]] | None = None,
) -> DataFrame:
    """Near-duplicate vectors with HYPERPLANE-LSH blocking — the
    at-scale replacement for label blocking (a hot label's block goes
    quadratic; an LSH bucket's size is corpus/2^bits per table by
    construction). Candidates = pairs sharing any of the `tables`
    signature buckets (defaults: similarity.HYPERPLANES, shared
    literals with the SQL oracle), then exact quantized cosine >=
    min_cos. bits=None (the default) SIZES ITSELF to the corpus:
    bits = max(3, log2(n) - 8), keeping the expected bucket clique
    (n / 2^bits)^2 / 2 per table bounded at ~2^16 comparisons
    regardless of corpus size — the scale dial applied, not just
    documented. Pass explicit bits/tables/planes to pin a fixed
    signature (the oracle-checked gate row does, so its DuckDB twin
    shares the literal planes)."""
    import math

    from qendpoint_spark.ops.similarity import (
        LSH_BITS,
        LSH_TABLES,
        lsh_signature,
        make_hyperplanes,
    )

    tables = LSH_TABLES if tables is None else tables
    if bits is None:
        if planes is not None:
            bits = LSH_BITS
        else:
            n = embeddings.count()
            bits = max(LSH_BITS, int(math.log2(max(n, 2))) - 8)
    if planes is None and (bits != LSH_BITS or tables != LSH_TABLES):
        first = embeddings.select("embedding").head()
        dim = len(first[0]) if first else 64
        planes = make_hyperplanes(tables * bits, dim=dim)
    q = embeddings.select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x: F.round(x.cast("double") * QUANT).cast("long"),
        ).alias("qv"),
    )
    per_table = [
        q.select(
            "vec_id", F.lit(t).alias("tbl"),
            lsh_signature("qv", t, bits=bits, planes=planes).alias("bucket"),
        )
        for t in range(tables)
    ]
    buckets = per_table[0]
    for df in per_table[1:]:
        buckets = buckets.unionByName(df)
    a = buckets.select(F.col("vec_id").alias("vec_a"), "tbl", "bucket")
    b = buckets.select(F.col("vec_id").alias("vec_b"), "tbl", "bucket")
    cand = (
        a.join(b, ["tbl", "bucket"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )
    va = q.select(F.col("vec_id").alias("vec_a"), F.col("qv").alias("qa"))
    vb = q.select(F.col("vec_id").alias("vec_b"), F.col("qv").alias("qb"))
    dot = F.aggregate(
        F.zip_with(F.col("qa"), F.col("qb"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    norm = lambda c: F.aggregate(  # noqa: E731
        F.transform(F.col(c), lambda x: x * x),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return (
        cand.join(va, "vec_a")
        .join(vb, "vec_b")
        .withColumn("qdot", dot)
        .withColumn(
            "cos_q",
            F.round(
                dot / F.sqrt(norm("qa").cast("double") * norm("qb").cast("double")),
                6,
            ),
        )
        .filter(F.col("cos_q") >= min_cos)
        .select("vec_a", "vec_b", "qdot", "cos_q")
    )


def embedding_dup_pairs(
    embeddings: DataFrame, min_cos: float = 0.3
) -> DataFrame:
    """Near-duplicate vectors: label-blocked pairs with quantized cosine
    >= min_cos. Quantization (round(x*QUANT) ints) makes dot products
    exact integers -> deterministic across engines; the final cosine is
    a single float expression tree (sqrt/div/round), bit-stable.

    Blocking by `label` mirrors production blocking (cluster id /
    LSH bucket) — the join never goes all-pairs."""
    q = embeddings.select(
        F.col("vec_id"),
        F.col("label"),
        F.transform(
            F.col("embedding"), lambda x: F.round(x.cast("double") * QUANT).cast("long")
        ).alias("qv"),
    )
    a = q.select(F.col("vec_id").alias("vec_a"), "label", F.col("qv").alias("qa"))
    b = q.select(F.col("vec_id").alias("vec_b"), "label", F.col("qv").alias("qb"))
    pairs = a.join(b, "label").filter(F.col("vec_a") < F.col("vec_b"))
    dot = F.aggregate(
        F.zip_with(F.col("qa"), F.col("qb"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    norm = lambda c: F.aggregate(  # noqa: E731
        F.transform(F.col(c), lambda x: x * x),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return (
        pairs.withColumn("qdot", dot)
        .withColumn("qna", norm("qa"))
        .withColumn("qnb", norm("qb"))
        .withColumn(
            "cos_q",
            F.round(
                F.col("qdot")
                / F.sqrt(F.col("qna").cast("double") * F.col("qnb").cast("double")),
                6,
            ),
        )
        .filter(F.col("cos_q") >= min_cos)
        .select("vec_a", "vec_b", "label", "qdot", "cos_q")
    )
