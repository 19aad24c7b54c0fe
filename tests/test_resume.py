"""Checkpoint/resume: stop after round k, resume, final tables identical
(SURVEY.md §5 item 4).  Also covers rollback of a torn (uncommitted)
round: table snapshots newer than the committed state are discarded.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crawler_spark import corpus, engine, rules
from crawler_spark.catalog import Catalog


def _cfg(pages_path, tasks, **kw):
    return engine.CrawlConfig(
        tasks=tasks, pages_path=pages_path, round_seconds=12.0,
        use_bloom=True, salt_buckets=2, **kw,
    )


def _snapshot_tables(spark, cat):
    out = {}
    for t in ("seen", "results", "schedule_log", "failures"):
        if cat.exists(t):
            rows = cat.read(spark, t).drop("ts").collect()
            out[t] = sorted(map(str, rows))
    return out


@pytest.fixture(scope="module")
def reference(spark, tmp_path_factory):
    """One corpus and one uninterrupted crawl of it, shared by every
    test here: -> (pages_path, tasks, final tables).  The seen set never
    reaches the default bloom_min_seen, so this is the plain anti-join
    crawl every resumed variant must reproduce."""
    base = tmp_path_factory.mktemp("resume")
    pages_path = str(base / "pages")
    corpus.write_corpus(spark, pages_path, n_hosts=3, n_filler=10)
    tasks = rules.synthetic_tasks(n_book_hosts=3, n_sun_hosts=2)
    cat = Catalog(str(base / "wh_ref"))
    engine.run_crawl(spark, cat, _cfg(pages_path, tasks))
    return pages_path, tasks, _snapshot_tables(spark, cat)


def test_stop_and_resume_identical(spark, tmp_path, reference):
    pages_path, tasks, want = reference

    # interrupted run: 2 rounds, then a fresh process resumes
    cat_b = Catalog(str(tmp_path / "wh_b"))
    cfg = _cfg(pages_path, tasks)
    pages_prepared = engine.prepare_pages(spark.read.parquet(pages_path))
    state = engine.bootstrap(spark, cat_b, cfg)
    for _ in range(2):
        if state["finished"]:
            break
        state = engine.run_round(spark, cat_b, cfg, state, pages_prepared, None)
    assert not state["finished"]

    # simulate a torn write after the last committed round
    torn = cat_b.read(spark, "seen").limit(1).withColumn("round", F.lit(99))
    cat_b.write(torn, "seen")

    state2 = engine.resume(cat_b)
    assert state2["round"] == state["round"]
    assert not cat_b.read(spark, "seen").where(F.col("round") == 99).count()
    while not state2["finished"] and state2["round"] < cfg.max_rounds:
        state2 = engine.run_round(spark, cat_b, cfg, state2, pages_prepared, None)

    assert _snapshot_tables(spark, cat_b) == want


@pytest.fixture(scope="module")
def bloom_resumed(spark, tmp_path_factory, reference):
    """Two rounds below bloom_min_seen, then a resume whose threshold
    the seen set has reached, so every resumed round probes the bloom.
    IncrementalBloom's job entry points are counted around each part:
    -> (state, calls after part 1, state2, calls after part 2, final
    tables)."""
    from crawler_spark.seen import IncrementalBloom

    pages_path, tasks, _ = reference
    calls = {"rebuild_from": 0, "or_delta": 0}
    cat = Catalog(str(tmp_path_factory.mktemp("bloom_resumed") / "wh"))
    with pytest.MonkeyPatch.context() as mp:
        for name in calls:
            orig = getattr(IncrementalBloom, name)

            def counted(self, *a, _orig=orig, _name=name, **kw):
                calls[_name] += 1
                return _orig(self, *a, **kw)

            mp.setattr(IncrementalBloom, name, counted)

        state = engine.run_crawl(
            spark, cat,
            _cfg(pages_path, tasks, bloom_min_seen=1 << 30, max_rounds=2),
        )
        calls_below = dict(calls)
        state2 = engine.run_crawl(
            spark, cat,
            _cfg(pages_path, tasks, bloom_min_seen=state["seen_count"]),
            do_resume=True,
        )
    return state, calls_below, state2, dict(calls), _snapshot_tables(spark, cat)


def test_stop_and_resume_identical_bloom_probe(reference, bloom_resumed):
    """Resume with the bloom probe active: the first resumed round loads
    the bloom from the seen table and every resumed round probes it;
    final tables must equal the uninterrupted run's."""
    _, _, want = reference
    state, _, state2, _, got = bloom_resumed
    assert not state["finished"]
    assert state2["finished"]
    assert got == want


def test_bloom_jobs_only_in_probing_rounds(bloom_resumed):
    """No bloom job runs in a round below bloom_min_seen: a crawl that
    stays below it never builds or merges the bloom.  A crawl resumed
    past it loads the bloom from `seen` exactly once, in its first
    round, and OR-merges every later round's delta."""
    state, calls_below, state2, calls, _ = bloom_resumed
    assert not state["finished"] and state["seen_count"] > 0
    assert calls_below == {"rebuild_from": 0, "or_delta": 0}

    assert state2["finished"] and state2["round"] > state["round"] + 1
    # the catch-up load, sized 2x the seen set, never saturates here
    assert state2["seen_count"] <= 1024
    assert calls["rebuild_from"] == 1
    assert calls["or_delta"] >= 1
