"""Unit: contiguous seq assignment, catalog snapshots, politeness rank."""

from __future__ import annotations

from pyspark.sql import functions as F

from crawler_spark.catalog import Catalog
from crawler_spark.frontier import assign_seq
from crawler_spark.politeness import apply_robots, rank_by_budget
from crawler_spark.rules import synthetic_tasks


def test_assign_seq_contiguous_and_ordered(spark):
    rows = [(i % 7, i, f"u{i}") for i in range(500)]
    df = spark.createDataFrame(rows, "parent_seq long, link_pos int, url string")
    out, n = assign_seq(df, ["parent_seq", "link_pos"], start_seq=1000)
    assert n == 500
    got = out.orderBy("seq").collect()
    assert [r.seq for r in got] == list(range(1000, 1500))
    # seq order == (parent_seq, link_pos) order
    keys = [(r.parent_seq, r.link_pos) for r in got]
    assert keys == sorted(keys)


def test_assign_seq_deterministic_across_parallelism(spark):
    rows = [(i * 37 % 1000, i, f"u{i}") for i in range(300)]
    df = spark.createDataFrame(rows, "parent_seq long, link_pos int, url string")
    a, _ = assign_seq(df.repartition(3), ["parent_seq", "link_pos"], 0, num_partitions=2)
    b, _ = assign_seq(df.repartition(11), ["parent_seq", "link_pos"], 0, num_partitions=7)
    am = {(r.parent_seq, r.link_pos): r.seq for r in a.collect()}
    bm = {(r.parent_seq, r.link_pos): r.seq for r in b.collect()}
    assert am == bm


def test_assign_seq_counts_and_offsets_share_one_partitioning(spark):
    """A shuffled 20k-row input: the range partitioner samples its
    bounds on every execution, so counts taken from one execution and
    offsets applied in another repeat and skip seqs.  The ids must be
    exactly start..start+n-1 in key order."""
    df = (
        spark.range(20_000)
        .select(
            (F.col("id") * 7919 % 20_000).alias("parent_seq"),
            (F.col("id") % 3).cast("int").alias("link_pos"),
        )
        .repartition(8, "parent_seq")
        .groupBy("parent_seq", "link_pos")
        .count()
    )
    out, n = assign_seq(df, ["parent_seq", "link_pos"], start_seq=0)
    assert n == 20_000
    got = [(r.seq, r.parent_seq, r.link_pos) for r in out.orderBy("seq").collect()]
    assert [s for s, _, _ in got] == list(range(n))
    keys = [(p, lp) for _, p, lp in got]
    assert keys == sorted(keys)


def test_catalog_snapshots_and_rollback(spark, tmp_path):
    cat = Catalog(str(tmp_path / "wh"))
    df1 = spark.range(5).withColumnRenamed("id", "x")
    df2 = spark.range(5, 8).withColumnRenamed("id", "x")
    s1 = cat.write(df1, "t")
    s2 = cat.write(df2, "t")
    assert cat.read(spark, "t").count() == 8
    assert cat.read(spark, "t", snapshot_id=s1).count() == 5
    s3 = cat.write(df2, "t", mode="overwrite")
    assert cat.read(spark, "t").count() == 3
    cat.rollback("t", s2)
    assert cat.read(spark, "t").count() == 8
    assert cat.current_snapshot_id("t") == s2 and s3 == s2 + 1


def test_commit_buckets_partial_overwrite(spark, tmp_path):
    """Bucketed partial-overwrite commits (the frontier's delta path):
    only listed buckets change, empty coverage empties a bucket, and
    time travel / rollback see consistent per-bucket states."""
    cat = Catalog(str(tmp_path / "wh"))
    B = 8
    base = spark.range(64).withColumnRenamed("id", "k")
    s1, n1 = cat.commit_buckets(base, "t", "k", B)  # reset (bootstrap)
    assert n1 == 64 and cat.read(spark, "t").count() == 64

    # rewrite buckets {0, 3}: k=64 lands in bucket 0, k=3 stays in 3
    delta = spark.createDataFrame([(64,), (3,)], "k long")
    s2, n2 = cat.commit_buckets(delta, "t", "k", B, buckets=[0, 3])
    assert n2 == 2
    got = sorted(r.k for r in cat.read(spark, "t").collect())
    expect = sorted(
        [k for k in range(64) if k % B not in (0, 3)] + [64, 3]
    )
    assert got == expect

    # empty coverage: bucket 1 becomes empty even though no file is written
    s3, _ = cat.commit_buckets(
        spark.createDataFrame([], "k long"), "t", "k", B, buckets=[1]
    )
    got3 = sorted(r.k for r in cat.read(spark, "t").collect())
    assert got3 == [k for k in expect if k % B != 1]

    # time travel + rollback restore earlier per-bucket states
    assert sorted(r.k for r in cat.read(spark, "t", snapshot_id=s1).collect()) \
        == list(range(64))
    assert sorted(r.k for r in cat.read(spark, "t", snapshot_id=s2).collect()) \
        == expect
    cat.rollback("t", s2)
    assert sorted(r.k for r in cat.read(spark, "t").collect()) == expect
    assert cat.current_snapshot_id("t") == s2 and s3 == s2 + 1


def test_commit_buckets_rejects_modulus_mismatch(spark, tmp_path):
    """r3 review: a partial commit under a different bucket modulus
    would orphan rows owned under the old one — it must raise; a reset
    commit may change the modulus."""
    import pytest

    cat = Catalog(str(tmp_path / "wh"))
    cat.commit_buckets(spark.range(16).withColumnRenamed("id", "k"), "t", "k", 8)
    assert cat.bucket_count("t") == 8
    with pytest.raises(ValueError, match="live bucket state is 8"):
        cat.commit_buckets(
            spark.createDataFrame([(0,)], "k long"), "t", "k", 16, buckets=[0]
        )
    # r5 review: a partial commit over NON-bucket-owned live state (plain
    # overwrite) must also raise — the old rows would stay live alongside
    # the bucket rows as stale duplicates
    cat.write(spark.range(4).withColumnRenamed("id", "k"), "t", "overwrite")
    assert cat.bucket_count("t") is None
    with pytest.raises(ValueError, match="live bucket state is None"):
        cat.commit_buckets(
            spark.createDataFrame([(0,)], "k long"), "t", "k", 8, buckets=[0]
        )
    # reset commit rewrites everything: modulus change allowed
    cat.commit_buckets(spark.range(16).withColumnRenamed("id", "k"), "t", "k", 16)
    assert cat.bucket_count("t") == 16
    assert cat.read(spark, "t").count() == 16


def test_resume_with_different_frontier_buckets(spark, tmp_path):
    """r3 review scenario: crawl 2 rounds at B=16, resume at B=32 — the
    engine must force a reset commit under the new modulus instead of a
    partial commit that silently drops pending rows; final artifacts
    equal an uninterrupted B=32 run."""
    import dataclasses

    from crawler_spark import corpus, engine
    from crawler_spark.rules import synthetic_tasks

    pages_path = str(tmp_path / "pages")
    corpus.write_corpus(spark, pages_path, n_hosts=3, n_filler=10)
    tasks = synthetic_tasks(n_book_hosts=3, n_sun_hosts=2)
    base = dict(tasks=tasks, pages_path=pages_path, round_seconds=6.0)

    cat_ref = Catalog(str(tmp_path / "wh_ref"))
    engine.run_crawl(spark, cat_ref, engine.CrawlConfig(**base, frontier_buckets=32))

    cat = Catalog(str(tmp_path / "wh"))
    cfg16 = engine.CrawlConfig(**base, frontier_buckets=16)
    pages_prepared = engine.prepare_pages(spark.read.parquet(pages_path))
    state = engine.bootstrap(spark, cat, cfg16)
    for _ in range(2):
        state = engine.run_round(spark, cat, cfg16, state, pages_prepared, None)
    assert not state["finished"]

    cfg32 = dataclasses.replace(cfg16, frontier_buckets=32)
    state = engine.resume(cat)
    while not state["finished"] and state["round"] < cfg32.max_rounds:
        state = engine.run_round(spark, cat, cfg32, state, pages_prepared, None)

    for t in ("seen", "results", "schedule_log"):
        got = sorted(map(str, cat.read(spark, t).drop("ts").collect()))
        want = sorted(map(str, cat_ref.read(spark, t).drop("ts").collect()))
        assert got == want, t


def test_expire_snapshots_prunes_unreferenced_dirs(spark, tmp_path):
    """Iceberg-style expiry: dirs no snapshot >= keep_from references are
    deleted; live data (including old commits still owning clean buckets)
    survives."""
    import os

    cat = Catalog(str(tmp_path / "wh"))
    B = 4
    s1, _ = cat.commit_buckets(
        spark.range(16).withColumnRenamed("id", "k"), "t", "k", B
    )
    # two rounds of partial rewrites of bucket 0 only
    s2, _ = cat.commit_buckets(
        spark.createDataFrame([(0,)], "k long"), "t", "k", B, buckets=[0]
    )
    s3, _ = cat.commit_buckets(
        spark.createDataFrame([(4,)], "k long"), "t", "k", B, buckets=[0]
    )
    table_dir = str(tmp_path / "wh" / "t")
    assert len([d for d in os.listdir(table_dir) if d.startswith("snap-")]) == 3

    removed = cat.expire_snapshots("t", keep_from=s3)
    # snap-2 (bucket 0's overwritten intermediate) is garbage; snap-1
    # still owns buckets 1-3 and must survive even though id < keep_from
    assert removed == 1
    dirs = sorted(d for d in os.listdir(table_dir) if d.startswith("snap-"))
    assert dirs == [f"snap-{s1:06d}", f"snap-{s3:06d}"]
    got = sorted(r.k for r in cat.read(spark, "t").collect())
    assert got == sorted([4] + [k for k in range(16) if k % B != 0])
    # rollback to the kept id still works; to the expired one does not
    cat.rollback("t", s3)
    assert cat.current_snapshot_id("t") == s3


def test_rank_by_budget_salted_equals_plain(spark):
    """Two-phase salted rank must pick exactly the same set as the plain
    per-host window (the over-admit proof in politeness.py)."""
    tasks = synthetic_tasks()
    rows = [
        (f"https://h{i%5}/x{i}", f"h{i%5}", "book_list", i % 3, i, 1234567 + i * 9176)
        for i in range(400)
    ]
    df = spark.createDataFrame(
        rows, "url_norm string, host string, task_name string, priority int, seq long, url_hash long"
    )
    df = apply_robots(df, None, round_seconds=30.0)
    plain_sched, plain_def = rank_by_budget(df, tasks, 30.0, salt_buckets=1)
    salt_sched, salt_def = rank_by_budget(df, tasks, 30.0, salt_buckets=4)
    a = {r.url_norm for r in plain_sched.collect()}
    b = {r.url_norm for r in salt_sched.collect()}
    assert a == b
    assert {r.url_norm for r in plain_def.collect()} == {
        r.url_norm for r in salt_def.collect()
    }
    # budget respected: floor(1/3 * 30) = 10 per (task, host)
    counts = salt_sched.groupBy("task_name", "host").count().collect()
    assert all(r["count"] <= 10 for r in counts)


def test_robots_disallow_and_delay(spark):
    tasks = synthetic_tasks()
    cand = spark.createDataFrame(
        [
            ("https://a/x/1", "a", "book_list", 0, 1, 11),
            ("https://a/private/2", "a", "book_list", 0, 2, 22),
            ("https://b/x/3", "b", "book_list", 0, 3, 33),
        ],
        "url_norm string, host string, task_name string, priority int, seq long, url_hash long",
    )
    robots = spark.createDataFrame(
        [("a", 15.0, ["/private/"], None), ("b", None, None, None)],
        "host string, crawl_delay_s double, disallow_prefixes array<string>, fetched_ts timestamp",
    )
    out = apply_robots(cand, robots, round_seconds=30.0)
    rows = {r.url_norm: r.robots_budget for r in out.collect()}
    assert "https://a/private/2" not in rows  # disallowed
    assert rows["https://a/x/1"] == 2  # floor(30/15)
    assert rows["https://b/x/3"] is None  # uncapped
