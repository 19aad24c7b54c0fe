"""Correctness checks of one crawl, and their mutation self-test.

Pure Python over rows collected from the catalog, so the checks cost no
Spark job and can be fed mutated copies of real outputs.

An operation is one scheduling round.  A round fails when its slice of
``schedule_log`` — (priority, seq, url_norm) ordered by priority DESC,
seq ASC — differs from the oracle's slice for that round, when it holds
a ``seq`` that appears twice in the log, or when it breaks the budget or
robots properties or schedules a page whose item differs from the
golden text.  A crawl whose seen set, items, parked set or round count
is wrong fails every one of its rounds.

``Verdict.faults`` collects every failure other than a schedule-order
one.  The order faults are the known defect the benchmark counts; any
other fault means the program produced wrong output, and the run
reports ``correct: false``.
"""

from __future__ import annotations

import copy
from collections import Counter
from dataclasses import dataclass, field

from crawler_spark.urlnorm import canon_py, host_py

# Which synthetic task crawls which page kind (rules.synthetic_tasks).
KIND_TASK = {
    "index": "book_list", "tag": "book_list", "detail": "book_list",
    "group": "sun_room", "topic": "sun_room",
}
MIN_BODY_BYTES = 6000  # the engine's short-page gate (CrawlConfig default)


def url_path(url_norm: str) -> str:
    rest = url_norm.split("://", 1)[-1]
    return "/" + rest.split("/", 1)[1] if "/" in rest else "/"


def page_kind(url_norm: str) -> str:
    return url_path(url_norm).split("/")[1]


@dataclass
class Observed:
    """A crawl's outputs, as read back from the catalog."""

    rounds: int
    schedule: list[tuple[int, int, int, str]]  # (round, priority, seq, url_norm)
    seen: set[str]
    items: list[tuple]  # (round, task, rule, url, sorted data tuple)
    parked: set[str]


@dataclass
class Verdict:
    attempted: int
    order_faults: dict[int, list[str]] = field(default_factory=dict)
    faults: list[tuple[int | None, str]] = field(default_factory=list)

    @property
    def failed_rounds(self) -> set[int]:
        if any(r is None for r, _ in self.faults):
            return set(range(1, self.attempted + 1))
        return set(self.order_faults) | {r for r, _ in self.faults}

    @property
    def failed(self) -> int:
        return len(self.failed_rounds)


def _slices(schedule) -> dict[int, list[tuple[int, int, str]]]:
    out: dict[int, list] = {}
    for rnd, prio, seq, un in schedule:
        out.setdefault(rnd, []).append((prio, seq, un))
    for rows in out.values():
        rows.sort(key=lambda r: (-r[0], r[1], r[2]))
    return out


def check(exp, obs: Observed, field_names: list[str]) -> Verdict:
    """``exp``: a ``workloads.Expected``.  ``field_names``: the book
    detail fields in golden-text order."""
    v = Verdict(attempted=exp.rounds)
    if obs.rounds != exp.rounds:
        v.faults.append((None, f"{obs.rounds} rounds, oracle {exp.rounds}"))

    # ---- per-round schedule slices against the oracle
    got = _slices(obs.schedule)
    for rnd in sorted(set(got) | set(exp.slices)):
        if got.get(rnd, []) != exp.slices.get(rnd, []):
            v.order_faults.setdefault(rnd, []).append("slice differs")
    dup = {s for s, n in Counter(s for _, _, s, _ in obs.schedule).items() if n > 1}
    for rnd, _, seq, _ in obs.schedule:
        if seq in dup:
            v.order_faults.setdefault(rnd, []).append(f"duplicate seq {seq}")

    # ---- final state against the oracle.  A crawl cut after some rounds
    # only has the oracle's state when it scheduled what the oracle did:
    # a different slice picks different URLs under the budget.  So the
    # comparison applies when every slice matched; otherwise the failed
    # rounds already account for the difference, and the state is checked
    # against the crawl's own schedule below.
    if not v.order_faults:
        if obs.seen != exp.seen:
            v.faults.append((None, f"seen differs from the oracle's in {len(obs.seen ^ exp.seen)} urls"))
        if sorted(i[1:] for i in obs.items) != exp.items:
            v.faults.append((None, "items differ from the oracle's"))
        if obs.parked != exp.parked:
            v.faults.append((None, f"parked differs from the oracle's in {len(obs.parked ^ exp.parked)} urls"))

    # ---- final state against the crawl's own schedule: a fetched page is
    # seen unless banned; a page missing or banned on each of its two
    # attempts (CrawlConfig.max_attempts) is parked
    times = Counter(un for _, _, _, un in obs.schedule)
    failing = {un for un in times if un not in exp.body_bytes or un in exp.banned}
    want_seen = set(times) - failing
    if obs.seen != want_seen:
        v.faults.append((None, f"seen differs from the schedule's in {len(obs.seen ^ want_seen)} urls"))
    want_parked = {un for un in failing if times[un] >= 2}
    if obs.parked != want_parked:
        v.faults.append((None, f"parked differs from the schedule's in {len(obs.parked ^ want_parked)} urls"))

    # ---- politeness: budget per (task, host, round), robots disallow
    taken = Counter(
        (rnd, KIND_TASK.get(page_kind(un), "?"), host_py(un))
        for rnd, _, _, un in obs.schedule
    )
    for (rnd, task, host), n in sorted(taken.items()):
        cap = exp.budgets.get((task, host))
        if cap is None or n > cap:
            v.faults.append((rnd, f"{n} scheduled on ({task}, {host}), budget {cap}"))
    for rnd, _, _, un in obs.schedule:
        prefixes = exp.disallowed.get(host_py(un), [])
        if any(url_path(un).startswith(p) for p in prefixes):
            v.faults.append((rnd, f"robots-disallowed {un} scheduled"))

    # ---- items against the generator's golden text, byte for byte
    titles = {}
    for text in exp.golden.values():
        for line in text.split("\n"):
            if "|" in line:
                url, title = line.split("|", 1)
                titles[canon_py(url)] = title
    item_urls = set()
    for rnd, _task, rule, url, data in obs.items:
        un = canon_py(url)
        item_urls.add(un)
        golden = exp.golden.get(un)
        kind = page_kind(un)
        d = dict(data)
        if kind == "detail":
            ok = (
                "\n".join(d.get(f, "") for f in field_names) == golden
                and d.get("书名") == titles.get(un)
            )
        else:
            ok = kind == "topic" and golden == "MATCH" and not d
        if not ok:
            v.faults.append((rnd, f"item of {un} differs from golden text"))
    want = {
        un for un in obs.seen
        if exp.body_bytes.get(un, 0) >= MIN_BODY_BYTES
        and (page_kind(un) == "detail"
             or (page_kind(un) == "topic" and exp.golden.get(un) == "MATCH"))
    }
    if item_urls != want:
        v.faults.append((None, f"{len(item_urls ^ want)} pages lack or gain an item"))
    return v


def self_test(exp, obs: Observed, field_names: list[str], base: Verdict) -> list[str]:
    """Feed mutated copies of ``obs`` to :func:`check`; return the names
    of the mutations it failed to report (empty = the checks work).
    ``base`` is the verdict on ``obs`` itself."""
    missed = []

    m = copy.deepcopy(obs)
    m.seen.discard(min(m.seen, default=""))
    if not any("seen differs" in f for _, f in check(exp, m, field_names).faults):
        missed.append("one seen row dropped")

    # swap the seqs of the first and last rows of the first passing round
    m = copy.deepcopy(obs)
    rnd = min(set(range(1, base.attempted + 1)) - base.failed_rounds, default=None)
    rows = [i for i, row in enumerate(m.schedule) if row[0] == rnd]
    if len(rows) < 2:
        missed.append("two seqs swapped (no passing round to mutate)")
    else:
        i, j = rows[0], rows[-1]
        (ra, pa, sa, ua), (rb, pb, sb, ub) = m.schedule[i], m.schedule[j]
        m.schedule[i], m.schedule[j] = (ra, pa, sb, ua), (rb, pb, sa, ub)
        if rnd not in check(exp, m, field_names).order_faults:
            missed.append("two seqs swapped")

    m = copy.deepcopy(obs)
    if not m.items:
        missed.append("one item byte changed (no item to mutate)")
    else:
        # a field value's first byte, or the URL's of a match item
        rnd, task, rule, url, data = m.items[0]
        if data:
            (name, val), rest = data[0], data[1:]
            data = ((name, chr(ord(val[0]) ^ 1) + val[1:]),) + rest
        else:
            url = chr(ord(url[0]) ^ 1) + url[1:]
        m.items[0] = (rnd, task, rule, url, data)
        if not any("golden" in f for _, f in check(exp, m, field_names).faults):
            missed.append("one item byte changed")
    return missed
