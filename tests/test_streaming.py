"""Structured-Streaming incremental ingest: micro-batch extraction
appends == one-shot batch extraction after compaction (the CatTree
"chunk now, merge later" equivalence, SURVEY.md §2D/§3.3)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from qendpoint_spark.datagen import generate_pages
from qendpoint_spark.extraction import extract_triples_from_pages
from qendpoint_spark.streaming import (
    compact_staging,
    sessionize_events,
    stream_ingest_pages,
)


def test_stream_ingest_equals_batch(spark, tmp_path):
    landing = str(tmp_path / "landing")
    staging = str(tmp_path / "staging")
    ckpt = str(tmp_path / "ckpt")

    pages = generate_pages(spark, 120, seed=11).cache()
    # two file drops (micro-batch boundaries)
    pages.filter(F.pmod(F.xxhash64("url"), F.lit(2)) == 0).write.parquet(f"{landing}/drop1.parquet")
    pages.filter(F.pmod(F.xxhash64("url"), F.lit(2)) == 1).write.parquet(f"{landing}/drop2.parquet")

    stream_ingest_pages(spark, landing, staging, ckpt)
    staged = compact_staging(spark, staging)
    batch = extract_triples_from_pages(pages)
    got = {(r.s, r.p, r.o) for r in staged.collect()}
    exp = {(r.s, r.p, r.o) for r in batch.collect()}
    assert got == exp

    # drop a third file: only the new batch is processed (checkpoint)
    extra = generate_pages(spark, 150, seed=11).filter(
        ~F.col("url").isin([r.url for r in pages.select("url").distinct().collect()])
    )
    extra.write.parquet(f"{landing}/drop3.parquet")
    stream_ingest_pages(spark, landing, staging, ckpt)
    staged2 = compact_staging(spark, staging)
    assert staged2.count() > staged.count()


def test_sessionize_stream(spark):
    out = sessionize_events(spark, "/root/testdata/sf0.001")
    assert out.count() > 0
    assert out.filter(F.col("session_end") < F.col("session_start")).count() == 0
    # per-user event totals preserved
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    got = {r.user_id: r.total for r in out.groupBy("user_id").agg(F.sum("n_events").alias("total")).collect()}
    exp = {r.user_id: r.total for r in ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("total")).collect()}
    assert got == exp


def test_stream_compact_incremental_merge(spark, tmp_path):
    """Streamed generations compact into the PUBLISHED dataset through
    the KCat merge: publish(drop1) + stream(drop2) +
    incremental_update_triples(staging) == publish(drop1 ∪ drop2) —
    the CatTree generation/cat structure end-to-end over streaming."""
    from qendpoint_spark.catalog import Catalog
    from qendpoint_spark.pipeline import (
        incremental_update_triples,
        run_pipeline,
    )

    landing = str(tmp_path / "landing")
    staging = str(tmp_path / "staging")
    ckpt = str(tmp_path / "ckpt")

    pages = generate_pages(spark, 90, seed=23).cache()
    half = F.pmod(F.xxhash64("url"), F.lit(2))
    drop1 = pages.filter(half == 0)
    drop2 = pages.filter(half == 1)

    cat_inc = Catalog(spark, str(tmp_path / "inc"))
    run_pipeline(spark, cat_inc, source_df=drop1, source_kind="pages",
                 source_fingerprint="drop1", num_partitions=4)

    drop2.write.parquet(f"{landing}/drop2.parquet")
    stream_ingest_pages(spark, landing, staging, ckpt)
    incremental_update_triples(
        spark, cat_inc, compact_staging(spark, staging),
        batch_fingerprint="gen2", num_partitions=4,
    )

    cat_full = Catalog(spark, str(tmp_path / "full"))
    run_pipeline(spark, cat_full, source_df=pages, source_kind="pages",
                 source_fingerprint="full", num_partitions=4)
    for name in ("dict_terms", "triples_spo", "triples_ops"):
        cols = sorted(
            c for c in cat_inc.read(name).columns if not c.startswith("_")
        )
        a = cat_inc.read(name).select(*cols)
        b = cat_full.read(name).select(*cols)
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0, name


def test_stream_ingest_crash_resume_exactly_once(spark, tmp_path):
    """Kill the drain AFTER a batch's sink write but BEFORE its
    checkpoint commit (the at-least-once replay window), restart, and
    assert staging holds each batch EXACTLY once — the idempotent
    per-batch-overwrite sink makes the replay a no-op instead of a
    duplicate (streaming analog of the reference's MergeRestartTest)."""
    landing = str(tmp_path / "landing")
    pages = generate_pages(spark, 80, seed=31).cache()
    half = F.pmod(F.xxhash64("url"), F.lit(2))
    pages.filter(half == 0).write.parquet(f"{landing}/drop1.parquet")
    pages.filter(half == 1).write.parquet(f"{landing}/drop2.parquet")

    # reference run: same landing, no fault
    ref_staging = str(tmp_path / "staging_ref")
    stream_ingest_pages(spark, landing, ref_staging, str(tmp_path / "ck_ref"))

    # faulted run: crash after the first batch's files hit staging
    staging = str(tmp_path / "staging")
    ckpt = str(tmp_path / "ckpt")
    with pytest.raises(Exception, match="injected crash"):
        stream_ingest_pages(
            spark, landing, staging, ckpt, fail_after_batch_write=0
        )
    # restart WITHOUT the fault: checkpoint replays the uncommitted
    # batch (overwriting its partition), then drains the rest
    stream_ingest_pages(spark, landing, staging, ckpt)

    got = sorted(
        tuple(r)
        for r in spark.read.parquet(staging).select("s", "p", "o").collect()
    )
    want = sorted(
        tuple(r)
        for r in spark.read.parquet(ref_staging)
        .select("s", "p", "o")
        .collect()
    )
    assert got == want  # multiset equality: no duplicated batch
    # and the restart actually REPLAYED (staging non-empty, all pages)
    assert (
        spark.read.parquet(staging).select("s").distinct().count()
        == extract_triples_from_pages(pages).select("s").distinct().count()
    )
