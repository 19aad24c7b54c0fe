"""Streaming consumers over engine snapshot tables: the file-stream tail
must see exactly what a batch read sees (AvailableNow == batch), and the
watermarked window agg must produce the batch-equivalent counts."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crawler_spark import corpus, engine, rules, streaming
from crawler_spark.catalog import Catalog


@pytest.fixture(scope="module")
def small_crawl(spark, tmp_path_factory):
    """One finished crawl whose tables the stream tests only read."""
    base = tmp_path_factory.mktemp("small_crawl")
    pages_path = str(base / "pages")
    corpus.write_corpus(spark, pages_path, n_hosts=2, n_filler=10)
    tasks = rules.synthetic_tasks(max_depth=5, n_book_hosts=2, n_sun_hosts=1)
    cfg = engine.CrawlConfig(tasks=tasks, pages_path=pages_path, use_bloom=False)
    cat = Catalog(str(base / "wh"))
    state = engine.run_crawl(spark, cat, cfg)
    assert state["finished"]
    return cat


def test_stream_tail_equals_batch(spark, small_crawl):
    cat = small_crawl
    batch = {
        (r.task, r.rule, r.url)
        for r in cat.read(spark, "results").collect()
    }
    tail = streaming.run_to_memory(
        streaming.stream_table(spark, cat, "results"), "t_results_tail"
    )
    got = {(r.task, r.rule, r.url) for r in tail.collect()}
    assert got == batch
    assert len(tail.collect()) == cat.read(spark, "results").count()


def test_windowed_items_equal_batch_agg(spark, small_crawl):
    cat = small_crawl
    stream = streaming.stream_table(spark, cat, "results")
    win = streaming.run_to_memory(
        streaming.items_per_window(stream, window="1 minute"), "t_results_win"
    )
    got = {
        (r.task, r.rule): r.n_items
        for r in win.groupBy("task", "rule").agg(
            F.sum("n_items").alias("n_items")
        ).collect()
    }
    want = {
        (r.task, r.rule): r.cnt
        for r in cat.read(spark, "results")
        .groupBy("task", "rule").agg(F.count("*").alias("cnt")).collect()
    }
    assert got == want


def test_dedup_stream_equals_batch_kernel(spark, tmp_path):
    # 40 docs across 4 id-ordered files, duplicate texts planted across
    # file boundaries (doc i and i+13 share text for i % 7 == 0), plus
    # checkpointed stream state must dedup ACROSS micro-batches.
    from crawler_spark.functions import dedup, textops

    docs = spark.range(40).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 13 % 7 == 0, F.format_string("dup text %d", (F.col("id") % 13).cast("int")))
        .otherwise(F.format_string("unique text %d", F.col("id").cast("int")))
        .alias("text"),
    )
    src = str(tmp_path / "docs_stream")
    for lo in range(0, 40, 10):  # 4 files, id-ordered by file name
        docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < lo + 10)) \
            .coalesce(1).write.parquet(f"{src}/part{lo:02d}")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withColumn("fp", textops.fingerprint_md5(F.col("text")))
    )
    got = {
        (r.fp, r.doc_id)
        for r in streaming.run_to_memory(
            streaming.dedup_stream(stream), "t_dedup_stream", mode="update"
        ).collect()
    }
    batch = dedup.dedup_exact(docs, "doc_id")
    want = {(r.fp, r.doc_id) for r in batch.filter(~F.col("is_dup")).collect()}
    assert got == want
    # sanity: the corpus really has cross-batch duplicates
    assert len(want) < 40
