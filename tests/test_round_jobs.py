"""Spark job budget of one scheduling round (ROADMAP item 3).

At this scale a round's cost is fixed per Spark job, not per row, so the
number of jobs a round launches is pinned: counted through a job group
and the status tracker.  Every job of the round also carries a
``crawl r<N>: <layer>`` description, which the per-layer profile
(``perfbench/layers.py``) groups by.
"""

from __future__ import annotations

import re

from crawler_spark import corpus, engine, rules
from crawler_spark.catalog import Catalog

# round 2 below runs 15 jobs on a 4-core session: 5 commit schedule_log
# (three rank shuffles, the seen broadcast, the write), 2 commit seen,
# 1 commit results, 2 commit failures, 3 assign_seq (range sample,
# shuffle, checkpoint) and 2 frontier delta; it ran 32 when counts and
# dirty buckets had jobs of their own and the frontier commit re-ranked
MAX_JOBS_PER_ROUND = 18


def test_round_job_budget_and_labels(spark, tmp_path):
    pages = str(tmp_path / "pages")
    corpus.write_corpus(spark, pages, n_hosts=3, n_filler=10)
    cfg = engine.CrawlConfig(
        tasks=rules.synthetic_tasks(n_book_hosts=3, n_sun_hosts=2),
        pages_path=pages, round_seconds=12.0, salt_buckets=2,
    )
    cat = Catalog(str(tmp_path / "wh"))
    prepared = engine.prepare_pages(spark.read.parquet(pages))
    state = engine.bootstrap(spark, cat, cfg)
    # round 2 is the first that reads a non-empty seen table
    state = engine.run_round(spark, cat, cfg, state, prepared, None)

    sc = spark.sparkContext
    sc.setJobDescription(None)
    group = "round-job-budget"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        state = engine.run_round(spark, cat, cfg, state, prepared, None)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert state["round"] == 2 and state["last_round"]["scheduled"] > 0
    # job records reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()

    ids = sorted(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < len(ids) <= MAX_JOBS_PER_ROUND, len(ids)
    store = sc._jsc.sc().statusStore()
    descs = []
    for i in ids:
        d = store.job(i).description()
        descs.append(d.get() if d.isDefined() else None)
    unlabelled = [(i, d) for i, d in zip(ids, descs) if not re.match(r"crawl r2: \S", d or "")]
    assert not unlabelled, unlabelled
