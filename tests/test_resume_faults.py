"""Crash inside a round's commit sequence, then resume: final tables are
bit-identical to an uninterrupted crawl's (ROADMAP aim 3).

``test_resume.py`` stops only between rounds.  Here round 2 raises at
each commit boundary: after ``schedule_log``, after ``seen``, after the
``results``/``failures`` group, after the frontier bucket commit, and
just before the state JSON — inside ``Catalog.write_counted``,
``Catalog.commit_buckets`` and ``engine.save_state``.  Every case starts
from a copy of the reference crawl's warehouse as round 1 left it.
"""

from __future__ import annotations

import shutil

import pytest

from crawler_spark import corpus, engine, rules
from crawler_spark.catalog import Catalog

ROUNDS = 3


class Crash(Exception):
    pass


def _tables(spark, cat):
    out = {}
    for t in ("frontier_pending", "seen", "results", "schedule_log", "failures"):
        if cat.exists(t):
            out[t] = sorted(map(str, cat.read(spark, t).drop("ts").collect()))
    return out


def _counters(state):
    return {k: state[k] for k in ("round", "max_seq", "seen_count", "finished")}


@pytest.fixture(scope="module")
def reference(spark, tmp_path_factory):
    """One 3-host corpus and one uninterrupted crawl of it; a round hook
    copies the warehouse as round 1 committed it.  -> (cfg, round-1
    warehouse, final state, final tables)."""
    base = tmp_path_factory.mktemp("resume_faults")
    pages = str(base / "pages")
    corpus.write_corpus(spark, pages, n_hosts=3, n_filler=10)
    cfg = engine.CrawlConfig(
        tasks=rules.synthetic_tasks(n_book_hosts=3, n_sun_hosts=2),
        pages_path=pages, round_seconds=12.0, salt_buckets=2,
        max_rounds=ROUNDS,
    )
    wh, round1 = str(base / "wh"), str(base / "round1")

    def keep_round1(spark, cat, state):
        if state["round"] == 1:
            shutil.copytree(wh, round1)

    state = engine.run_crawl(spark, Catalog(wh), cfg, round_hook=keep_round1)
    assert state["round"] == ROUNDS and not state["finished"]
    return cfg, round1, state, _tables(spark, Catalog(wh))


def _crash_after(mp, name, table):
    """Make ``Catalog.<name>`` raise right after it committed ``table``."""
    orig = getattr(Catalog, name)

    def crashing(self, df, tbl, *a, **kw):
        out = orig(self, df, tbl, *a, **kw)
        if tbl == table:
            raise Crash(f"after {table}")
        return out

    mp.setattr(Catalog, name, crashing)


def _crash_before_state(mp):
    def crashing(cat, state):
        raise Crash("before the state JSON")

    mp.setattr(engine, "save_state", crashing)


@pytest.mark.parametrize(
    "boundary",
    ["schedule_log", "seen", "failures", "frontier_pending", "state"],
)
def test_crash_in_round2_resumes_identical(spark, tmp_path, reference, boundary):
    cfg, round1, want_state, want = reference
    wh = str(tmp_path / "wh")
    shutil.copytree(round1, wh)
    cat = Catalog(wh)

    with pytest.MonkeyPatch.context() as mp:
        if boundary == "state":
            _crash_before_state(mp)
        elif boundary == "frontier_pending":
            _crash_after(mp, "commit_buckets", boundary)
        else:
            _crash_after(mp, "write_counted", boundary)
        with pytest.raises(Crash):
            engine.run_crawl(spark, cat, cfg, do_resume=True)
    # the crash left round 2 uncommitted
    assert engine.load_state(cat)["round"] == 1

    state = engine.run_crawl(spark, cat, cfg, do_resume=True)
    assert _counters(state) == _counters(want_state)
    assert _tables(spark, cat) == want
