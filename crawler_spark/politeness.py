"""Politeness: token buckets -> per-round budgets, robots.txt, skew rank.

The reference enforces politeness in the *time domain*: every fetch waits
on a multi-rate token bucket (/root/reference/limiter/limiter.go:16-45;
1 req/2s AND 20 req/60s, config.toml:5) plus a random sleep
(collect/request.go:52-53).  A round-based DataFrame engine enforces the
same contract in the *count domain* (SURVEY.md §4, §7 hard part 4):

    budget(task, host, round) = floor(min_bucket_rate(task) * round_secs)
    optionally min'd with floor(round_secs / robots.crawl_delay(host))

and admits the top-``budget`` frontier rows per (task, host) under the
scheduling order (priority DESC, seq ASC — schedule.go:52-62 semantics).
The random sleep is subsumed: it only slows the reference down, never
changes which URLs may be fetched in a window.

Skew (north_rule: "salted host-bucketed partitions to defeat hot-host
skew"): a single window over a hot host serializes that host's millions
of frontier rows through one task.  Two-phase rank fixes it:

  phase 1  rank within (task, host, salt), salt = url_hash mod S
           -> keeps at most S x budget rows per host, in parallel
  phase 2  exact rank within (task, host) over the tiny survivor set

Phase 1 never drops a row phase 2 would keep: the global top-k of a
(priority, seq) order is contained in the union of per-salt top-k's.
Both phases flag the rows of ONE frame (``flag_by_budget``), so a round
ranks once and takes scheduled and deferred as two filters of it; phase
2 groups phase 1's rejects by their salt, so they never meet in one
hot-host partition either.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .rules import Task

def sched_order() -> list:
    """The determinism contract: priority DESC, discovery seq ASC."""
    return [F.col("priority").desc(), F.col("seq").asc()]


def base_budget(task: Task, round_seconds: float) -> int:
    """floor(min over token buckets of events/per_seconds * round_secs).

    limiter/limiter.go:33-41 waits on *every* bucket, so the effective
    rate is the min; config.toml:5's {1/2s, 20/60s} -> 1/3 req/s."""
    rate = min(e / s for e, s in task.rate_limits)
    return max(1, math.floor(rate * round_seconds))


def budget_col(tasks: dict[str, Task], round_seconds: float) -> F.Column:
    """Per-row base budget looked up from task_name (tiny literal map)."""
    kv = []
    for name, t in tasks.items():
        kv += [F.lit(name), F.lit(base_budget(t, round_seconds))]
    return F.element_at(F.create_map(*kv), F.col("task_name"))


def parse_robots_py(text: str, user_agent: str = "*") -> tuple[float | None, list[str]]:
    """Minimal deterministic robots.txt parser (RFC 9309 subset): group
    headers of stacked User-agent lines, then Disallow / Crawl-delay
    records applying to every UA in the header.  Group selection follows
    the RFC: if any group names ``user_agent`` specifically, ONLY those
    groups apply; otherwise the '*' groups do.  Comments (#) and blank
    lines ignored; empty Disallow (allow-all) ignored; non-numeric
    Crawl-delay ignored.  Returns (crawl_delay_s | None,
    [disallow_prefixes])."""
    groups: list[tuple[list[str], list[tuple[str, str]]]] = []
    cur_uas: list[str] = []
    records: list[tuple[str, str]] = []
    in_header = False
    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line:
            continue
        key, sep, val = line.partition(":")
        if not sep:
            continue
        key, val = key.strip().lower(), val.strip()
        if key == "user-agent":
            if not in_header:
                if cur_uas:
                    groups.append((cur_uas, records))
                cur_uas, records = [], []
            cur_uas.append(val.lower())
            in_header = True
        else:
            in_header = False
            records.append((key, val))
    if cur_uas:
        groups.append((cur_uas, records))

    ua = user_agent.lower()
    chosen = [g for g in groups if ua != "*" and ua in g[0]]
    if not chosen:
        chosen = [g for g in groups if "*" in g[0]]
    delay: float | None = None
    prefixes: list[str] = []
    for _, recs in chosen:
        for key, val in recs:
            if key == "disallow" and val:
                prefixes.append(val)
            elif key == "crawl-delay":
                try:
                    delay = float(val)
                except ValueError:
                    pass
    return delay, prefixes


def parse_robots_pages(
    pages: DataFrame, user_agent: str = "*", text_col: str = "html"
) -> DataFrame:
    """Robots table straight from the corpus: filter ``*/robots.txt``
    rows, parse each body (Arrow-batched; robots files are tiny and one
    per host, so this is a negligible side input), return
    (host, crawl_delay_s, disallow_prefixes) — the schema
    ``apply_robots`` consumes.  The reference has no robots support at
    all; this supplies the north_rule's robots cache table from the same
    pages source the fetch join reads."""
    import pandas as pd
    import pyspark.sql.types as T

    from .urlnorm import host_col

    schema = T.StructType(
        [
            T.StructField("host", T.StringType()),
            T.StructField("crawl_delay_s", T.DoubleType()),
            T.StructField("disallow_prefixes", T.ArrayType(T.StringType())),
        ]
    )
    robots = pages.where(
        F.col("url").rlike(r"^[a-zA-Z][a-zA-Z0-9+.\-]*://[^/?#]+/robots\.txt$")
    ).select(host_col(F.col("url")).alias("host"), F.col(text_col).alias("body"))

    def run(batches):
        for pdf in batches:
            hosts, delays, prefs = [], [], []
            for h, b in zip(pdf["host"], pdf["body"]):
                raw = bytes(b) if isinstance(b, (bytes, bytearray, memoryview)) else (
                    b.encode("utf-8") if b is not None else b""
                )
                d, p = parse_robots_py(raw.decode("utf-8", errors="replace"), user_agent)
                hosts.append(h)
                delays.append(d)
                prefs.append(p)
            yield pd.DataFrame(
                {"host": hosts, "crawl_delay_s": delays, "disallow_prefixes": prefs}
            )

    return robots.mapInPandas(run, schema=schema)


def apply_robots(
    candidates: DataFrame, robots: DataFrame | None, round_seconds: float,
    broadcast_robots: bool = True,
) -> DataFrame:
    """Left-join robots rules; drop disallowed paths; attach the
    crawl-delay budget cap as ``robots_budget`` (null = uncapped).

    ``broadcast_robots`` is the caller's build-side gate (engine.crawl
    counts the rules table once at bootstrap against broadcast_max_rows):
    hinted broadcast below it, plain host-key join above — a 10^8-host
    rules table must shuffle, not ship to every executor."""
    if robots is None:
        return candidates.withColumn("robots_budget", F.lit(None).cast("int"))
    r = robots.select(
        "host",
        "crawl_delay_s",
        F.coalesce("disallow_prefixes", F.array()).alias("_dis"),
    )
    if broadcast_robots:
        r = F.broadcast(r)
    out = candidates.join(r, on="host", how="left")
    path = F.coalesce(
        F.nullif(F.regexp_extract("url_norm", r"^[a-z][a-z0-9+.\-]*://[^/?#]*(/[^?#]*)", 1), F.lit("")),
        F.lit("/"),
    )
    disallowed = F.exists("_dis", lambda p: path.startswith(p))
    out = out.where(~F.coalesce(disallowed, F.lit(False)))
    robots_budget = F.when(
        F.col("crawl_delay_s").isNotNull() & (F.col("crawl_delay_s") > 0),
        F.greatest(F.floor(F.lit(round_seconds) / F.col("crawl_delay_s")), F.lit(1)),
    ).cast("int")
    return out.withColumn("robots_budget", robots_budget).drop("crawl_delay_s", "_dis")


def flag_by_budget(
    candidates: DataFrame,
    tasks: dict[str, Task],
    round_seconds: float,
    salt_buckets: int = 1,
    politeness_key: str = "host",
) -> DataFrame:
    """``candidates`` plus a boolean ``_sched``: true on the rows the
    per-host top-k under SCHED_ORDER admits this round, false on the
    rows deferred to a later one.  Ranking once into one flagged frame
    lets a caller persist it and take scheduled and deferred as two
    filters of the same rows, instead of running the rank windows once
    per output.

    Budget = min(base token-bucket budget, robots crawl-delay budget).
    Deferred rows stay pending for the next round — phase 1 *defers*,
    never drops.  Phase 2 ranks within (task, key, phase-1 survivor):
    it is exact on the survivors, and the rows phase 1 already deferred
    stay spread over their salts instead of meeting in one hot-host
    partition.

    ``politeness_key``: "host" (default — the reference-equivalent
    semantics the oracle suite pins) or "registered_domain" — one
    budget per REGISTRABLE domain (hoststats.registered_domain, PSL),
    so a site fanning out across subdomains (shard0..shard999.cdn.
    example.co.uk) cannot multiply its crawl rate; hosts with no
    registrable domain (bare public suffixes, IPs) fall back to the
    hostname.
    """
    df = candidates.withColumn(
        "_budget",
        F.least(
            budget_col(tasks, round_seconds),
            F.coalesce(F.col("robots_budget"), F.lit(1 << 30)),
        ),
    ).drop("robots_budget")
    if politeness_key == "registered_domain":
        from .functions.hoststats import registered_domain

        df = df.withColumn(
            "_pkey", F.coalesce(registered_domain("host"), F.col("host"))
        )
    elif politeness_key == "host":
        df = df.withColumn("_pkey", F.col("host"))
    else:
        raise ValueError(f"unknown politeness_key: {politeness_key!r}")
    part2 = [F.col("task_name"), F.col("_pkey")]
    survivor = F.lit(True)
    if salt_buckets > 1:
        salt = F.pmod(F.col("url_hash"), F.lit(salt_buckets))
        w1 = Window.partitionBy("task_name", "_pkey", salt).orderBy(*sched_order())
        # phase 1 keeps <= salt_buckets x budget rows per host (parallel
        # across salts); its rejects keep their salt as phase-2 group
        df = df.withColumn("_p1", F.row_number().over(w1) <= F.col("_budget"))
        part2.append(F.when(F.col("_p1"), F.lit(-1)).otherwise(salt))
        survivor = F.col("_p1")
    w2 = Window.partitionBy(*part2).orderBy(*sched_order())
    return df.withColumn(
        "_sched", survivor & (F.row_number().over(w2) <= F.col("_budget"))
    ).drop("_p1", "_budget", "_pkey")


def rank_by_budget(
    candidates: DataFrame,
    tasks: dict[str, Task],
    round_seconds: float,
    salt_buckets: int = 1,
    politeness_key: str = "host",
) -> tuple[DataFrame, DataFrame]:
    """-> (scheduled, deferred): the two halves of :func:`flag_by_budget`."""
    df = flag_by_budget(
        candidates, tasks, round_seconds, salt_buckets, politeness_key
    )
    return (
        df.where(F.col("_sched")).drop("_sched"),
        df.where(~F.col("_sched")).drop("_sched"),
    )
