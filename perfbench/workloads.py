"""Workloads of the crawl benchmark: corpus, seeded crawl and oracle.

A workload is a synthetic corpus (``corpus.generate_pages``) plus the
engine defaults ``bench.py`` crawls it with.  The corpus holds twice the
hosts a crawl visits and does not depend on the seed, so it is written
once per checkout and reused.  The seed picks the hosts the synthetic
tasks start from: a quarter of them from each ``host id mod 4`` class, so
every seed crawls the same mix of robots rules (even hosts disallow
``/detail/``, every 4th host has a crawl delay) and schedules the same
number of URLs per round, while every crawled ``url_hash`` — and with it
every frontier bucket, budget salt and bloom bit — changes with the seed.
The oracle crawls the same input.
"""

from __future__ import annotations

import dataclasses
import math
import os
import random
import shutil
from dataclasses import dataclass

from crawler_spark import corpus, oracle, rules
from crawler_spark.urlnorm import canon_py, host_py

# Engine settings of bench.py, shared by every workload.
ROUND_SECONDS = 30.0
SALT_BUCKETS = 4
MAX_DEPTH = 5
# Token-bucket rate of the synthetic tasks (rules.Task.rate_limits):
# 1 request / 2 s and 20 / 60 s, so 1/3 request/s.
RATE_PER_S = min(1 / 2, 20 / 60)

# Every crawl is cut after this many scheduling rounds (CrawlConfig.
# max_rounds).  A round costs 10-25 s on a 4-core box whatever it
# schedules, so whole 4- and 11-round crawls do not fit the benchmark's
# run budget (README.md, "Why two rounds"); two rounds run every job a
# round runs, and round 2 is the first whose slice depends on assign_seq.
ROUNDS = 2


@dataclass(frozen=True)
class Workload:
    name: str
    n_hosts: int  # hosts a crawl starts from; the corpus holds twice as many
    n_filler: int
    robots: bool = False
    # seed the book task at its tag pages instead of its index pages, so
    # book details are scheduled (or robots-refused) within ROUNDS
    seed_tags: bool = False

    @property
    def corpus_hosts(self) -> int:
        return 2 * self.n_hosts


WORKLOADS = {
    w.name: w
    for w in (
        Workload("bench-crawl", n_hosts=48, n_filler=15_000),
        Workload("polite-tail", n_hosts=48, n_filler=1_500, robots=True, seed_tags=True),
    )
}


def _host(h: int) -> str:
    return f"host{h:03d}.example.test"


def corpus_path(base: str, wl: Workload) -> str:
    return os.path.join(
        base, f"{wl.name}-h{wl.corpus_hosts}-f{wl.n_filler}-r{int(wl.robots)}"
    )


def write_corpus(spark, wl: Workload, path: str) -> None:
    """Write the workload's corpus to ``path`` unless it is there.

    Written to a scratch directory and renamed into place, so a run that
    stops half-way never leaves a partial corpus behind."""
    if os.path.isdir(path):
        return
    tmp = f"{path}.tmp-{os.getpid()}"
    corpus.write_corpus(
        spark, tmp, n_hosts=wl.corpus_hosts, n_filler=wl.n_filler, robots=wl.robots
    )
    try:
        os.rename(tmp, path)
    except OSError:  # another run finished the same corpus first
        shutil.rmtree(tmp, ignore_errors=True)


def seed_hosts(wl: Workload, seed: int) -> list[str]:
    """The hosts a crawl starts from: n_hosts / 4 of each id class mod 4."""
    rng = random.Random(seed)
    ids = []
    for r in range(4):
        ids += rng.sample(range(r, wl.corpus_hosts, 4), wl.n_hosts // 4)
    return [_host(h) for h in sorted(ids)]


def tasks_for(wl: Workload, hosts: list[str]) -> dict[str, rules.Task]:
    """``rules.synthetic_tasks`` seeded at ``hosts`` only."""
    keep = set(hosts)
    tasks = rules.synthetic_tasks(
        max_depth=MAX_DEPTH, n_book_hosts=wl.corpus_hosts, n_sun_hosts=wl.corpus_hosts
    )
    out = {}
    for name, t in tasks.items():
        seeds = [s for s in t.seeds if host_py(s[0]) in keep]
        if wl.seed_tags and name == "book_list":
            # the three tags each index page links (rule 'tag', max_links=3)
            seeds = [
                (url.replace("/index/0", f"/tag/tag{k}"), "book_list", prio)
                for url, _, prio in seeds for k in range(3)
            ]
        out[name] = dataclasses.replace(t, seeds=tuple(seeds))
    return out


@dataclass
class Expected:
    """What a correct crawl of one (workload, seed) must produce."""

    rounds: int
    slices: dict[int, list[tuple[int, int, str]]]  # round -> (prio, seq, url_norm)
    seen: set[str]
    items: list[tuple]  # sorted (task, rule, url, sorted data tuple)
    parked: set[str]
    golden: dict[str, str]  # url_norm -> golden extraction text
    body_bytes: dict[str, int]  # url_norm -> raw page length
    banned: set[str]  # url_norm of pages carrying the ban marker
    budgets: dict[tuple[str, str], int]  # (task, host) -> per-round budget
    disallowed: dict[str, list[str]]  # host -> disallowed path prefixes
    oracle_s: float


def _read_pages(path: str) -> list[tuple[str, bytes, str]]:
    """(url, html, text) of every page a crawl can reach.

    Filler pages (``/f/<i>``) are left out: no page links to them, so
    neither the engine nor the oracle can ever schedule one."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    out = []
    for f in sorted(os.listdir(path)):
        if f.endswith(".parquet"):
            t = pq.read_table(os.path.join(path, f), columns=["url", "html", "text"])
            t = t.filter(pc.invert(pc.match_substring_regex(t["url"], r"/f/\d+$")))
            out += zip(t["url"].to_pylist(), t["html"].to_pylist(), t["text"].to_pylist())
    return out


def expected_for(wl: Workload, hosts: list[str], pages_path: str) -> Expected:
    """Run the single-worker oracle on the corpus at ``pages_path``."""
    import time

    pages = _read_pages(pages_path)
    tasks = tasks_for(wl, hosts)
    # the generator's closed-form robots rules (corpus.robots_dict_for_hosts)
    robots = corpus.robots_dict_for_hosts(wl.corpus_hosts) if wl.robots else {}
    t0 = time.perf_counter()
    orc = oracle.crawl_oracle(
        tasks, {canon_py(u): h for u, h, _ in pages},
        round_seconds=ROUND_SECONDS, robots=robots, max_rounds=ROUNDS,
    )
    oracle_s = time.perf_counter() - t0
    slices: dict[int, list] = {r: [] for r in range(1, orc.rounds + 1)}
    for rnd, prio, seq, un in orc.order:
        slices[rnd].append((prio, seq, un))
    base = math.floor(RATE_PER_S * ROUND_SECONDS)
    budgets = {}
    for h in range(wl.corpus_hosts):
        delay = robots.get(_host(h), (None, []))[0]
        cap = min(base, max(1, math.floor(ROUND_SECONDS / delay))) if delay else base
        for task in tasks:
            budgets[(task, _host(h))] = cap
    return Expected(
        rounds=orc.rounds,
        slices=slices,
        seen=set(orc.seen),
        items=sorted(orc.items),
        parked=set(orc.parked),
        golden={canon_py(u): t for u, _, t in pages},
        body_bytes={canon_py(u): len(h) for u, h, _ in pages},
        banned={canon_py(u) for u, h, _ in pages if corpus.BAN_MARKER.encode() in h},
        budgets=budgets,
        disallowed={h: p for h, (_, p) in robots.items() if p},
        oracle_s=oracle_s,
    )
