"""Crawl-equivalence gate (SURVEY.md §5 item 2, BASELINE.json north_rule):

the Spark engine and the pure-Python single-worker oracle must agree on
  1. the final URL-seen set (set equality),
  2. crawl order under the determinism contract (round, priority DESC,
     seq ASC),
  3. extracted items byte-for-byte,
  4. parked failures,
given the same seed list + politeness budget over the same corpus.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crawler_spark import corpus, engine, oracle, rules
from crawler_spark.catalog import Catalog


def _run_both(spark, tmp_path, *, salt_buckets, use_bloom, round_seconds=30.0,
              n_hosts=4, max_depth=5, gbk=False, tasks=None, n_filler=30,
              **cfg_kw):
    pages_path = str(tmp_path / "pages")
    corpus.write_corpus(spark, pages_path, n_hosts=n_hosts, n_filler=n_filler, gbk=gbk)
    if tasks is None:
        tasks = rules.synthetic_tasks(
            max_depth=max_depth, n_book_hosts=n_hosts, n_sun_hosts=max(1, n_hosts // 2)
        )
    cfg = engine.CrawlConfig(
        tasks=tasks, pages_path=pages_path, round_seconds=round_seconds,
        use_bloom=use_bloom, salt_buckets=salt_buckets, **cfg_kw,
    )
    cat = Catalog(str(tmp_path / "wh"))
    state = engine.run_crawl(spark, cat, cfg)
    assert state["finished"], "crawl did not drain the frontier"

    pages = spark.read.parquet(pages_path).collect()
    from crawler_spark.urlnorm import canon_py

    corpus_dict = {canon_py(r.url): bytes(r.html) for r in pages}
    orc = oracle.crawl_oracle(
        tasks, corpus_dict, round_seconds=round_seconds,
        min_body_bytes=cfg.min_body_bytes, ban_marker=cfg.ban_marker,
        max_attempts=cfg.max_attempts, charset_sniff=cfg.charset_sniff,
    )
    return cat, state, orc


def _assert_match(spark, cat, state, orc):
    """The four-artifact equality gate shared by every engine-vs-oracle
    scenario: seen set, crawl order, items byte-for-byte, parked."""
    engine_seen = {r.url_norm for r in cat.read(spark, "seen").collect()}
    assert engine_seen == orc.seen
    log = (
        cat.read(spark, "schedule_log")
        .orderBy("round", F.desc("priority"), "seq")
        .collect()
    )
    engine_order = [(r.round, r.priority, r.seq, r.url_norm) for r in log]
    assert engine_order == orc.order
    eng_items = sorted(
        (r.task, r.rule, r.url, tuple(sorted((r.data or {}).items())))
        for r in cat.read(spark, "results").collect()
    )
    assert eng_items == sorted(orc.items)
    parked = (
        {r.url for r in cat.read(spark, "failures").collect()}
        if cat.exists("failures")
        else set()
    )
    from crawler_spark.urlnorm import canon_py

    assert {canon_py(u) for u in parked} == set(orc.parked)


@pytest.mark.parametrize(
    "salt_buckets,use_bloom", [(1, False), (2, True)],
    ids=["plain", "salted+bloom"],
)
def test_engine_matches_oracle(spark, tmp_path, salt_buckets, use_bloom):
    cat, state, orc = _run_both(
        spark, tmp_path, salt_buckets=salt_buckets, use_bloom=use_bloom
    )

    # 1. URL-seen set
    engine_seen = {r.url_norm for r in cat.read(spark, "seen").collect()}
    assert engine_seen == orc.seen

    # 2. crawl order: (round, priority DESC, seq ASC) over the schedule log
    log = (
        cat.read(spark, "schedule_log")
        .orderBy("round", F.desc("priority"), "seq")
        .collect()
    )
    engine_order = [(r.round, r.priority, r.seq, r.url_norm) for r in log]
    assert engine_order == orc.order

    # 3. items byte-for-byte
    eng_items = sorted(
        (r.task, r.rule, r.url, tuple(sorted((r.data or {}).items())))
        for r in cat.read(spark, "results").collect()
    )
    assert eng_items == sorted(orc.items)

    # 4. parked failures
    parked = (
        {r.url for r in cat.read(spark, "failures").collect()}
        if cat.exists("failures")
        else set()
    )
    from crawler_spark.urlnorm import canon_py

    assert {canon_py(u) for u in parked} == set(orc.parked)

    # 5. rounds agree
    assert state["round"] == orc.rounds + (0 if orc.rounds else 0)


def test_engine_matches_oracle_shuffle_fetch_join(spark, tmp_path):
    """broadcast_max_rows=0 forces the size-gated fallback: the fetch
    join and the miss anti-join run WITHOUT the broadcast hint (AQE picks
    the strategy) — results must be byte-identical to the hinted path."""
    cat, state, orc = _run_both(
        spark, tmp_path, salt_buckets=1, use_bloom=False, broadcast_max_rows=0
    )
    _assert_match(spark, cat, state, orc)


def test_engine_matches_oracle_bloom_probe(spark, tmp_path):
    """bloom_min_seen=1: every round after the first probes the long-lived
    bloom (loaded from `seen` in round 2, OR-merged after) as the F4
    pre-filter; exactness must be preserved by the confirming
    anti-join."""
    cat, state, orc = _run_both(
        spark, tmp_path, salt_buckets=1, use_bloom=True, bloom_min_seen=1,
    )
    _assert_match(spark, cat, state, orc)


def test_engine_matches_oracle_gbk_sniff(spark, tmp_path):
    """P11: a mixed-encoding corpus (25% of topic/detail pages GBK with a
    meta declaration) under charset_sniff=True — the byte-identical
    invariant must hold across the transcode, including the short-body
    gate measured on the UTF-8 re-encoding."""
    cat, state, orc = _run_both(
        spark, tmp_path, salt_buckets=1, use_bloom=False,
        gbk=True, charset_sniff=True,
    )
    _assert_match(spark, cat, state, orc)
    # the corpus really did contain GBK pages that were successfully seen
    from crawler_spark.urlnorm import xxhash64_py

    pages = spark.read.parquet(str(tmp_path / "pages")).collect()
    gbk_urls = [
        r.url for r in pages
        if bytes(r.html)[:5] == b"<meta" or b"charset=\"GBK\"" in bytes(r.html)[:30]
    ]
    assert gbk_urls, "corpus contains no GBK pages"
    from crawler_spark.urlnorm import canon_py

    engine_seen = {r.url_norm for r in cat.read(spark, "seen").collect()}
    assert any(canon_py(u) in engine_seen for u in gbk_urls)


def test_reload_task_refetches(spark, tmp_path):
    """Task.Reload (crawler.go:85): a reload task re-fetches URLs it has
    already seen when they are re-discovered, and every in-round
    duplicate copy is fetched; the oracle agrees on all artifacts."""
    tasks = {
        "sun_reload": rules.Task(
            name="sun_reload",
            seeds=(
                ("https://host000.example.test/group/0", "group_list", 1),
                ("https://host000.example.test/group/1", "group_list", 1),
            ),
            rules={
                "group_list": rules.LinkRule(
                    pattern=rules.SYN_TOPIC_RE, url_group=1, next_rule="topic",
                ),
                "topic": rules.MatchRule(pattern=rules.CONTENT_RE),
            },
            rate_limits=((2, 30),),  # budget 2/host/round -> groups span rounds
            reload=True,
        ),
    }
    cat, state, orc = _run_both(
        spark, tmp_path, salt_buckets=1, use_bloom=False,
        n_hosts=1, n_filler=0, tasks=tasks,
    )
    _assert_match(spark, cat, state, orc)
    # group 0 and group 1 share topic ids -> some topic must have been
    # scheduled (and fetched) more than once
    from collections import Counter

    sched = Counter(
        r.url_norm for r in cat.read(spark, "schedule_log").collect()
    )
    # sanity: the non-reload twin schedules every URL exactly once
    import dataclasses

    tasks_noreload = {
        "sun_reload": dataclasses.replace(tasks["sun_reload"], reload=False)
    }
    cat2, state2, orc2 = _run_both(
        spark, tmp_path / "nr", salt_buckets=1, use_bloom=False,
        n_hosts=1, n_filler=0, tasks=tasks_noreload,
    )
    _assert_match(spark, cat2, state2, orc2)
    sched2 = Counter(
        r.url_norm for r in cat2.read(spark, "schedule_log").collect()
    )
    # without reload, a URL that entered the seen set is never scheduled
    # again (banned/dead URLs are excluded: the retry-once path
    # legitimately re-schedules those in both configs)
    seen2 = {r.url_norm for r in cat2.read(spark, "seen").collect()}
    assert seen2 and all(sched2[u] == 1 for u in seen2)
    # the reload run re-fetched at least one URL the non-reload run
    # deduplicated: scheduled >1 times with reload, exactly once without
    refetched = [u for u, c in sched.items() if c > 1 and sched2.get(u) == 1]
    assert refetched, "reload task never re-fetched a seen URL"


def test_depth_cutoff(spark, tmp_path):
    """max_depth=1: details (depth 2) never fetched, tags (depth 1) are."""
    cat, state, orc = _run_both(
        spark, tmp_path, salt_buckets=1, use_bloom=False, max_depth=1
    )
    engine_seen = {r.url_norm for r in cat.read(spark, "seen").collect()}
    assert engine_seen == orc.seen
    assert not any("/detail/" in u for u in engine_seen)
    assert any("/tag/" in u for u in engine_seen)


def test_tight_budget_spills_rounds(spark, tmp_path):
    """round_seconds=6 -> budget 2/host/round: same final state, more
    rounds; politeness cap never exceeded per (task, host, round)."""
    cat, state, orc = _run_both(
        spark, tmp_path, salt_buckets=2, use_bloom=True, round_seconds=6.0
    )
    engine_seen = {r.url_norm for r in cat.read(spark, "seen").collect()}
    assert engine_seen == orc.seen
    log = cat.read(spark, "schedule_log")
    sched = (
        log.withColumn("host", F.regexp_extract("url_norm", r"://([^/]+)", 1))
        .groupBy("round", "host")
        .count()
    )
    # budget = floor(min(1/2, 20/60) * 6) = 2, two tasks can share a host
    assert sched.agg(F.max("count")).collect()[0][0] <= 2 * 2
    engine_order = [
        (r.round, r.priority, r.seq, r.url_norm)
        for r in log.orderBy("round", F.desc("priority"), "seq").collect()
    ]
    assert engine_order == orc.order


def test_frontier_delta_commit_touches_only_dirty_buckets(spark, tmp_path):
    """VERDICT r2 #2: a round must rewrite O(touched buckets), not the
    whole frontier.  With 64 buckets and a tight budget, later rounds'
    commits must cover strictly fewer buckets than the table has, every
    commit's coverage must be bounded by that round's scheduled+new rows
    (a bucket is dirty only by losing or gaining rows), and the
    equivalence gate must still hold bit-for-bit."""
    cat, state, orc = _run_both(
        spark, tmp_path, salt_buckets=1, use_bloom=True, round_seconds=6.0,
        frontier_buckets=64,
    )
    _assert_match(spark, cat, state, orc)

    manifest = cat.snapshots("frontier_pending")
    partial = [m for m in manifest if m["mode"] == "buckets" and not m.get("reset")]
    assert partial, "no partial bucket commits recorded"
    assert any(len(m["buckets"]) < 64 for m in partial), (
        "every round rewrote all 64 buckets — delta commit is not pruning"
    )
    # per-round bound: |dirty buckets| <= scheduled + new rows that round
    met = cat.read(spark, "metrics")
    by_round = {
        (r.round, r.key): r.value
        for r in met.where(F.col("key").isin("scheduled", "new_rows")).collect()
    }
    # bucket commits appear in round order after the reset commit
    for rnd, m in enumerate(partial, start=1):
        bound = by_round[(rnd, "scheduled")] + by_round[(rnd, "new_rows")]
        assert len(m["buckets"]) <= bound, (rnd, len(m["buckets"]), bound)

    # per-partition lineage: every partial commit's dirty-bucket list
    # must be replayed verbatim as bucket_commit lineage rows keyed on
    # that snapshot id — a resume/audit can invalidate exactly these
    # buckets and trust every other bucket's prior snapshot
    lin = cat.read(spark, "lineage")
    by_sid: dict[int, set[int]] = {}
    for r in lin.where(F.col("stage") == "bucket_commit").collect():
        assert r.table.startswith("frontier_pending/_bucket=")
        by_sid.setdefault(r.snapshot_id, set()).add(
            int(r.table.split("=", 1)[1])
        )
    for m in partial:
        assert by_sid.get(m["id"]) == set(m["buckets"]), (
            "lineage bucket_commit rows disagree with the snapshot "
            f"manifest for snapshot {m['id']}"
        )


def test_frontier_compaction_and_expiry_equivalence(spark, tmp_path):
    """Periodic full-bucket compaction (flushes clean buckets' dead rows)
    plus per-round snapshot expiry must leave every crawl artifact
    bit-identical, and the warehouse must not accrue one dir per table
    per round."""
    import os

    cat, state, orc = _run_both(
        spark, tmp_path, salt_buckets=1, use_bloom=True, round_seconds=6.0,
        frontier_buckets=16, frontier_compact_every=2, expire_snapshots=True,
    )
    _assert_match(spark, cat, state, orc)
    assert state["round"] >= 4  # compaction actually fired (round 2, 4, ..)
    fdir = str(tmp_path / "wh" / "frontier_pending")
    n_dirs = len([d for d in os.listdir(fdir) if d.startswith("snap-")])
    # without expiry: one dir per round + bootstrap; with it: only dirs a
    # current bucket still references survive
    assert n_dirs < state["round"] + 1, n_dirs


def test_all_round2_features_stacked(spark, tmp_path):
    """Feature-interaction gate: GBK corpus + charset sniff + bloom probe
    from round 2 + salted rank + shuffle-gated fetch join + robots parsed
    from the corpus, all at once over a tight budget (20 rounds) — the
    combination no single-feature test exercises."""
    pages_path = str(tmp_path / "pages")
    corpus.write_corpus(
        spark, pages_path, n_hosts=10, n_filler=300, gbk=True, robots=True
    )
    tasks = rules.synthetic_tasks(max_depth=5, n_book_hosts=10, n_sun_hosts=5)
    cfg = engine.CrawlConfig(
        tasks=tasks, pages_path=pages_path, round_seconds=12.0,
        salt_buckets=4, use_bloom=True, bloom_min_seen=1,
        charset_sniff=True, robots_from_corpus=True, broadcast_max_rows=0,
    )
    cat = Catalog(str(tmp_path / "wh"))
    state = engine.run_crawl(spark, cat, cfg)
    assert state["finished"]

    from crawler_spark.urlnorm import canon_py

    pp = spark.read.parquet(pages_path).collect()
    cd = {canon_py(r.url): bytes(r.html) for r in pp}
    orc = oracle.crawl_oracle(
        tasks, cd, round_seconds=12.0, min_body_bytes=cfg.min_body_bytes,
        ban_marker=cfg.ban_marker, max_attempts=cfg.max_attempts,
        charset_sniff=True, robots=corpus.robots_dict_for_hosts(10),
    )
    _assert_match(spark, cat, state, orc)
    assert state["round"] >= 10  # the tight budget really spilled rounds
