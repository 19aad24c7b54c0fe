"""The round driver: one scheduling round == one DataFrame job.

Reference dataflow being reproduced (SURVEY.md §3.1, engine/crawler.go):

    pull -> depth check -> visited check -> fetch -> ban/short filters
         -> rule.ParseFunc -> push new requests / emit items -> store

Spark translation per round (all declarative, Catalyst-optimized):

    pending --depth filter--> --bloom+anti-join seen--> --in-round dedup-->
    --robots--> --per-host budget rank--> scheduled
    scheduled --inner-join pages (broadcast build side)--> hits; misses by
    anti-join; ban/short routed per reference semantics; per-(task,rule)
    SQL parse kernels -> items to results, links to frontier children;
    retries re-queued once (crawler.go:179-194); contiguous seq ids
    assigned to the discovery delta; only the DIRTY frontier buckets
    (pmod(url_hash, B)) rewritten — Iceberg dynamic-partition-overwrite
    shape, O(touched buckets) I/O per round instead of a full-table
    write; state checkpointed last (atomic) so any round is resumable.

Seen-set timing: the reference marks visited *before* fetch and un-marks
on failure (crawler.go:92,180-185).  With synchronous rounds, marking
*after* the outcome is equivalent (failed rows were never observable as
seen between rounds) and is what makes retry idempotent here.

Fetch-join strategy: ``pages JOIN broadcast(scheduled)`` — build side is
the (budget-bounded, small) scheduled set, so the huge corpus is only
*streamed*, never shuffled and never cached.  Each round makes exactly
ONE pass over the corpus: scan -> decode -> join -> ban/short flags ->
all rule kernels as a single CASE-dispatch projection
(parsers.dispatch_cols); only the narrow parsed result (no bodies) is
stashed, and misses are recovered by a cheap broadcast anti-join
against its keys.  At 100 TB the pages table would additionally be
bucketed by url_norm / carry Iceberg bloom skip indexes so the scan
prunes files; the join shape stays identical.

Job chain: Spark runs the round as a chain of jobs (under AQE every
shuffle and broadcast stage is a job of its own), and at small scale a
round costs per job, not per row.  So the chain carries no job that only
recomputes or counts: the candidates are ranked once into a stashed,
``_sched``-flagged frame (scheduled and deferred are two filters of it);
the schedule_log commit observes the candidate count and the scheduled
rows' frontier buckets; ``assign_seq``'s checkpoint observes its
per-partition counts and the new rows' buckets (the dirty set); the
misses are stashed once for failures and retries; the frontier and seen
reads carry their schemas, so planning them opens no parquet footer.
Every job carries a ``crawl r<N>: <layer>`` description, and
``tests/test_round_jobs.py`` pins the count.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from . import corpus as corpus_mod
from .catalog import Catalog
from .frontier import (
    FRONTIER_COLS,
    assign_seq,
    children_from_parsed,
    seed_frontier,
)
from .parsers import dispatch_cols
from .politeness import apply_robots, flag_by_budget
from .rules import FieldsRule, LinkRule, Task
from .schemas import FRONTIER_SCHEMA, LINEAGE_SCHEMA, METRICS_SCHEMA, SEEN_SCHEMA
from .seen import IncrementalBloom, dedup_candidates

TABLES = [
    "frontier_pending", "seen", "results", "failures",
    "metrics", "lineage", "schedule_log",
]


@dataclass
class CrawlConfig:
    tasks: dict[str, Task]
    pages_path: str
    robots_path: str | None = None
    round_seconds: float = 30.0
    min_body_bytes: int = corpus_mod.MIN_BODY_BYTES
    ban_marker: str = corpus_mod.BAN_MARKER
    max_attempts: int = 2  # 1 re-push then park (crawler.go:188-192)
    salt_buckets: int = 1
    # politeness budget key: "host" (reference-equivalent, oracle-pinned)
    # or "registered_domain" (one budget per PSL registrable domain —
    # subdomain fan-out can't multiply a site's crawl rate)
    politeness_key: str = "host"
    # F4 pre-filter: one long-lived IncrementalBloom in front of the
    # exact anti-join (False = the plain anti-join every round)
    use_bloom: bool = True
    # a round probes the bloom only once the seen set has this many rows:
    # below it the bloom build costs more than the exact anti-join it
    # saves; production target is ~10^8+ per host-bucket
    bloom_min_seen: int = 1024
    # P11: sniff charset (BOM + meta prescan, first 1 KiB) per page and
    # transcode, instead of assuming the corpus is UTF-8
    charset_sniff: bool = False
    # parse <host>/robots.txt rows out of the pages table itself at
    # bootstrap (politeness.parse_robots_pages) instead of requiring a
    # pre-built robots parquet; robots_path wins when both are set
    robots_from_corpus: bool = False
    # fetch-join build-side gate: broadcast the scheduled set only while
    # its row count stays under this; beyond it (10^7-host crawls with
    # big budgets) fall back to a shuffle join and let AQE/statistics
    # pick the strategy — never force-broadcast an unbounded build side
    broadcast_max_rows: int = 4_000_000
    # frontier_pending is stored bucketed by pmod(url_hash, B); each
    # round rewrites only the buckets that gained or lost rows (Iceberg
    # dynamic-partition-overwrite shape) instead of the whole table —
    # at a 10^9-row pending set with small round budgets a full rewrite
    # per round is the dominant cost.  Production sizing: enough buckets
    # that one bucket ~ one write task's worth of rows (e.g. 4096).
    frontier_buckets: int = 16
    # every N rounds, rewrite ALL frontier buckets with the live set
    # (deferred + new) instead of only the dirty ones: flushes the dead
    # rows clean buckets may retain (depth-exceeded / now-seen /
    # dup-copy lingerers) and resets the per-bucket commit chains.
    # None = never compact (delta-only).  Iceberg equivalent: periodic
    # rewrite_data_files on the frontier table.
    frontier_compact_every: int | None = 8
    # after each round's checkpoint, expire snapshot dirs no state >= the
    # committed round can reference (Iceberg expire_snapshots): a long
    # crawl otherwise accrues one dir per table per round forever.  Off
    # by default so tests keep full time travel.
    expire_snapshots: bool = False
    max_rounds: int = 64
    collect_metrics: bool = True
    # S5 fetch stage: 'corpus' (default; the oracle path — scheduled set
    # joined against the pages table) or 'http' (production seam: real
    # GETs via fetch.fetch_http's mapInPandas kernel — UA/proxy from
    # fetchopts, per-task Cookie, non-200 -> fetch miss).  The sandbox
    # has no network, so 'http' is exercised in tests through
    # fetch_transport; a deployment leaves fetch_transport=None
    # (requests-backed default_transport).
    fetch_mode: str = "corpus"
    fetch_timeout_s: float = 10.0
    fetch_proxies: tuple = ()
    fetch_transport: object | None = None


# ------------------------------------------------------------------ state
def _state_path(cat: Catalog) -> str:
    return os.path.join(cat.warehouse, "_crawl_state.json")


def load_state(cat: Catalog) -> dict | None:
    p = _state_path(cat)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def save_state(cat: Catalog, state: dict) -> None:
    p = _state_path(cat)
    tmp = p + ".tmp"
    with open(tmp, "w") as f:
        json.dump(state, f)
    os.replace(tmp, p)


def prepare_pages(pages: DataFrame) -> DataFrame:
    """Corpus -> fetchable form keyed by canonical URL.

    ``html`` stays raw binary here — the UTF-8 decode (P11; a
    charset-sniffing pandas UDF slots in for raw WARC bytes) happens
    AFTER the fetch join, so only scheduled rows ever inflate to char
    data; ``body_bytes`` is the raw length for the reference's
    len(body)<6000 gate (crawler.go:113).  This is a lazy *plan*, not a
    cache: the round streams it once per round (scan -> join -> decode),
    which is the only honest shape at 10^10 pages."""
    from .urlnorm import canon_col

    return pages.select(
        F.col("html"),
        F.length(F.col("html")).alias("body_bytes"),
        canon_col(F.col("url")).alias("url_norm"),
    )


def _max_depth_col(tasks: dict[str, Task]) -> F.Column:
    kv = []
    for name, t in tasks.items():
        kv += [F.lit(name), F.lit(t.max_depth)]
    return F.element_at(F.create_map(*kv), F.col("task_name"))


def _reload_col(tasks: dict[str, Task]) -> F.Column:
    """Task.Reload as a per-row flag (crawler.go:85: reload tasks skip
    the visited check entirely)."""
    kv = []
    for name, t in tasks.items():
        kv += [F.lit(name), F.lit(bool(t.reload))]
    return F.element_at(F.create_map(*kv), F.col("task_name"))


def bootstrap(spark: SparkSession, cat: Catalog, cfg: CrawlConfig) -> dict:
    seeds = seed_frontier(spark, cfg.tasks)
    spark.sparkContext.setJobDescription("crawl r0: bootstrap")
    snap, n = cat.commit_buckets(
        seeds, "frontier_pending", "url_hash", cfg.frontier_buckets
    )
    spark.sparkContext.setJobDescription(None)
    state = {
        "round": 0,
        "max_seq": n - 1,
        "seen_count": 0,
        "finished": False,
        "snapshots": {"frontier_pending": snap},
    }
    save_state(cat, state)
    return state


def resume(cat: Catalog) -> dict:
    """Roll every table back to the last committed round's snapshots."""
    state = load_state(cat)
    if state is None:
        raise FileNotFoundError("no crawl state to resume from")
    for table, snap_id in state["snapshots"].items():
        cat.rollback(table, snap_id)
    for table in TABLES:
        if table not in state["snapshots"] and cat.exists(table):
            cat.drop(table)
    return state


def _stash(df: DataFrame) -> DataFrame:
    """Keep ``df``'s rows for the round's several consumers.

    A lazy local checkpoint, not ``persist()``: the first action that
    reads the frame stores its rows inside that action's own job, while
    AQE builds a persisted frame in a table-cache query stage, one extra
    job before its first consumer.  The plan's shuffle and broadcast
    stages run at this call, under the caller's job description."""
    return df.localCheckpoint(eager=False)


def _release(df: DataFrame) -> None:
    """Drop the rows a :func:`_stash` frame stored (``unpersist`` does
    not reach a checkpoint; left alone they wait for the JVM's GC)."""
    df._jdf.queryExecution().logical().rdd().unpersist(False)


class _BgAction:
    """One overlapped driver action on a ``pyspark.InheritableThread``.

    Pinned-mode safe concurrency for the round's independent commit
    actions: the inheritable thread owns a dedicated JVM thread with
    local properties copied from the parent, so ``setJobDescription``
    inside the action labels only this action's jobs, and the paired
    JVM thread / py4j connection are released when ``result`` joins —
    a plain ``ThreadPoolExecutor`` thread leaks both until garbage
    collection and, with ``PYSPARK_PIN_THREAD=false``, races the main
    thread's job description."""

    def __init__(self, fn):
        from pyspark import InheritableThread

        self._out: dict = {}

        def run():
            try:
                self._out["value"] = fn()
            except BaseException as e:  # re-raised at result()
                self._out["error"] = e

        self._t = InheritableThread(target=run)
        self._t.start()

    def result(self):
        self._t.join()
        if "error" in self._out:
            raise self._out["error"]
        return self._out.get("value")


def run_round(
    spark: SparkSession,
    cat: Catalog,
    cfg: CrawlConfig,
    state: dict,
    pages_prepared: DataFrame,
    robots_df: DataFrame | None,
    bloom: IncrementalBloom | None = None,
    robots_small: bool = True,
    # dispatch_cols(cfg.tasks) built once by the caller: the CASE
    # projection costs ~2k py4j calls, so run_crawl pays it per crawl,
    # not per round
    rule_cols: dict[str, F.Column] | None = None,
) -> dict:
    round_no = state["round"] + 1
    t0 = time.time()
    _sc = spark.sparkContext

    def label(layer: str | None) -> None:
        # every job of the round carries a `crawl r<N>: <layer>`
        # description: the Spark UI / REST API groups stage walls by it
        _sc.setJobDescription(layer and f"crawl r{round_no}: {layer}")

    # schema'd reads: planning them opens no parquet footer (no job)
    pending = cat.read(spark, "frontier_pending", schema=FRONTIER_SCHEMA)
    seen_df = cat.read_or_empty(spark, "seen", SEEN_SCHEMA)
    any_reload = any(t.reload for t in cfg.tasks.values())

    # F3 depth cutoff (deterministic -> dropping at schedule == at pull)
    cand = pending.where(F.col("depth") <= _max_depth_col(cfg.tasks))
    # F4 seen dedup: approx pre-filter + exact anti-join.  Reload tasks
    # bypass the visited check entirely (crawler.go:85) — split them out
    # before the dedup and union back after (no-op when no task reloads).
    if any_reload:
        rel_rows = cand.where(_reload_col(cfg.tasks))
        cand = cand.where(~_reload_col(cfg.tasks))
    # the round probes the bloom only once the seen set is large enough
    # for the probe to pay; a probing round first catches the bloom up
    # with the committed seen table when it lags (first probing round of
    # a crawl, or of a resumed one) — the only eager pre-filter work
    probe = bloom is not None and state["seen_count"] >= cfg.bloom_min_seen
    bloom_wall = 0.0
    if probe and bloom.n != state["seen_count"]:
        _t = time.time()
        label("dedup prefilter")
        bloom.rebuild_from(seen_df.select("url_hash"), state["seen_count"])
        label(None)
        bloom_wall = time.time() - _t
    round_bcs: list = []  # probe broadcasts, destroyed after the round's actions
    # lazy: the probe UDF runs inside the `commit schedule_log` jobs
    cand = dedup_candidates(
        cand, seen_df, state["seen_count"],
        prefilter=bloom if probe else None, bc_sink=round_bcs,
    )
    # in-round duplicate URLs: keep the schedulable-first copy, drop the
    # rest (reference: duplicate skipped at pull once first copy marked
    # visited, crawler.go:85-90).  Reload rows are exempt: the reference
    # fetches every pulled copy of a reload-task URL.
    wdup = Window.partitionBy("url_hash").orderBy(
        F.col("priority").desc(), F.col("seq").asc()
    )
    cand = (
        cand.withColumn("_dup", F.row_number().over(wdup))
        .where(F.col("_dup") == 1)
        .drop("_dup")
    )
    if any_reload:
        cand = cand.unionByName(rel_rows)
    # F5 politeness: robots + per-(task,host) round budget, skew-salted.
    # Ranked ONCE into one flagged, stashed frame: scheduled and deferred
    # are two filters of its rows, so no later consumer re-runs the dedup
    # or the rank windows.  The dedup and rank shuffles run here.
    label("commit schedule_log")
    ranked = _stash(flag_by_budget(
        apply_robots(
            cand, robots_df, cfg.round_seconds, broadcast_robots=robots_small
        ),
        cfg.tasks, cfg.round_seconds, cfg.salt_buckets,
        politeness_key=cfg.politeness_key,
    ))
    scheduled = ranked.where(F.col("_sched")).select(*FRONTIER_COLS)
    deferred = ranked.where(~F.col("_sched")).select(*FRONTIER_COLS)
    # frontier bucket of a row (the frontier table is pmod(url_hash, B)
    # bucketed; see the frontier delta-commit below)
    B = cfg.frontier_buckets
    _bcol = F.pmod(F.col("url_hash"), F.lit(B)).cast("int")

    # ---- commit plumbing (state last = the checkpoint barrier).  Row
    # counts come from the write itself (parquet footers / Iceberg
    # snapshot summary) — no standalone .count() actions in the round.
    snaps = dict(state["snapshots"])
    rows: dict[str, int] = {}
    stage_wall: dict[str, float] = {}

    def commit(df: DataFrame, table: str, mode: str = "append") -> None:
        t = time.time()
        label(f"commit {table}")
        # skip_empty: long crawls must not accrue one empty snapshot dir
        # per table per round (manifest + union growth); overwrites always
        # commit (they reset the live set)
        snaps[table], rows[table] = cat.write_counted(
            df, table, mode, skip_empty=(mode == "append")
        )
        label(None)
        stage_wall[table] = time.time() - t

    # crawl-order artifact committed FIRST: it stores `ranked`'s rows, so
    # every later consumer — the fetch-join broadcast build, the miss
    # anti-join, deferred — reads them instead of re-running the
    # dedup/rank pipeline.  The same pass observes the candidate count
    # and the buckets the scheduled rows leave, so neither costs a job of
    # its own.
    ranked_obs = Observation()
    commit(
        ranked.observe(
            ranked_obs,
            F.count(F.lit(1)).alias("n_cand"),
            F.collect_set(F.when(F.col("_sched"), _bcol)).alias("buckets"),
        )
        .where(F.col("_sched"))
        .select(
            F.lit(round_no).alias("round"), "seq", "priority", "url_norm", "url_hash"
        ),
        "schedule_log",
    )
    n_scheduled = rows["schedule_log"]
    observed = ranked_obs.get
    # rank PARTITIONS the candidates into scheduled/deferred
    n_deferred = observed["n_cand"] - n_scheduled
    dirty_buckets = set(observed["buckets"])

    # S5 fetch + parse: ONE streaming pass over the corpus per round.
    # The corpus is never cached (at 10^10 URLs it never could be) —
    # scan -> join -> decode -> flags -> every rule kernel as CASE
    # dispatch — and only the *narrow* result (no bodies) is stashed.
    # Build-side gate: broadcast the scheduled set only below
    # broadcast_max_rows; above it (huge budgets x 10^7 hosts would blow
    # the driver) fall back to an un-hinted join — AQE picks the
    # strategy from runtime stats, and at 100 TB the pages table is
    # additionally bucketed by url_norm so the shuffle is one-sided.
    small_build = n_scheduled <= cfg.broadcast_max_rows

    def build(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if small_build else df

    if cfg.fetch_mode == "http":
        # production fetch seam: real GETs instead of the corpus join;
        # output shape is identical (scheduled cols + html/body_bytes),
        # so everything below this line is mode-agnostic
        from .fetch import fetch_http

        hits = fetch_http(
            scheduled,
            cookies={n: t.cookie for n, t in cfg.tasks.items() if t.cookie},
            proxies=tuple(cfg.fetch_proxies),
            timeout_s=cfg.fetch_timeout_s,
            transport=cfg.fetch_transport,
        )
    else:
        hits = pages_prepared.join(build(scheduled), on="url_norm", how="inner")
    if cfg.charset_sniff:
        # P11: BOM + meta prescan per page (Arrow-batched; only the
        # scheduled rows — never the corpus scan — pay the Python hop).
        # The short-body gate then measures the UTF-8 re-encoding, same
        # as the reference's len() over the transcoded body
        # (crawler.go:113 after collect.go:43-47).
        from .charset import sniff_decode_col

        hits = hits.withColumn("body", sniff_decode_col(F.col("html")))
        hits = hits.withColumn("body_bytes", F.octet_length(F.encode(F.col("body"), "UTF-8")))
    else:
        hits = hits.withColumn("body", F.decode(F.col("html"), "UTF-8"))
    label("commit seen")  # the stash runs the fetch join's broadcast
    parsed = _stash(hits.select(
        *FRONTIER_COLS,
        F.col("body").contains(cfg.ban_marker).alias("banned"),  # F8
        (F.col("body_bytes") < cfg.min_body_bytes).alias("short"),  # F9
        *[
            c.alias(name)
            for name, c in (
                rule_cols or dispatch_cols(cfg.tasks, body_col="body")
            ).items()
        ],
    ))

    # ---- fetch misses (needed by the seen-delta when tasks reload)
    misses = scheduled.join(
        build(parsed.select("url_norm")), on="url_norm", how="left_anti"
    )

    # Seen-set timing per reference: StoreVisited runs for every pulled
    # request (crawler.go:92) and SetFailure un-visits only non-reload
    # tasks (crawler.go:180-185).  Net effect per round: non-reload rows
    # are seen unless they failed (ban/miss); reload rows are seen
    # unconditionally.
    if any_reload:
        is_rel = _reload_col(cfg.tasks)
        seen_delta = (
            parsed.where(~F.col("banned") | is_rel)
            .select("url_hash", "url_norm")
            .unionByName(misses.where(is_rel).select("url_hash", "url_norm"))
            .withColumn("round", F.lit(round_no))
        )
    else:
        seen_delta = (
            parsed.where(~F.col("banned"))  # ok + short are marked seen
            .select("url_hash", "url_norm")
            .withColumn("round", F.lit(round_no))
        )
    commit(seen_delta, "seen")  # first action: stores parsed's rows
    n_seen_delta = rows["seen"]

    # incremental bloom maintenance, only on a bloom this round probed
    # (so it held every seen key): OR the delta in at fixed geometry;
    # rebuild from the committed seen table only on capacity saturation
    # (doubling -> amortized O(1) full scans over the whole crawl)
    if probe and n_seen_delta:
        label("bloom delta")
        if bloom.saturated_by(n_seen_delta):
            bloom.rebuild_from(
                cat.read(spark, "seen").select("url_hash"),
                state["seen_count"] + n_seen_delta,
            )
        else:
            bloom.or_delta(seen_delta.select("url_hash"), n_seen_delta)
        label(None)

    ok = parsed.where(~F.col("banned") & ~F.col("short"))
    items = ok.where(F.col("emit")).select(
        F.col("task_name").alias("task"),
        F.col("rule_name").alias("rule"),
        F.col("url"),
        F.current_timestamp().alias("ts"),
        F.col("data"),
        F.lit(round_no).alias("round"),
    )

    # ---- failures: fetch miss or ban -> retry once, then park (F7).
    # Stashed: the failures commit and the retries in assign_seq both
    # read it, so the miss anti-join (its broadcast runs here) runs once.
    banned = parsed.where(F.col("banned")).select(*FRONTIER_COLS)
    label("commit failures")
    failed = _stash(misses.unionByName(banned))
    label(None)
    retries = (
        failed.where(F.col("attempts") + 1 < cfg.max_attempts)
        .withColumn("attempts", F.col("attempts") + 1)
        .withColumn("parent_seq", F.col("seq"))
        .withColumn("link_pos", F.lit(0))
        .withColumn("round", F.lit(round_no))
    )
    parked = (
        failed.where(F.col("attempts") + 1 >= cfg.max_attempts)
        .select(
            "url_hash", "url",
            F.lit(round_no).alias("round"),
            F.lit("fetch_failed").alias("reason"),
            (F.col("attempts") + 1).alias("attempts"),
        )
    )

    # ---- overlapped commit group.  Everything from here to the join
    # below depends only on the (already stored) parsed, ranked and
    # failed rows, never on each other, so the driver runs the actions
    # CONCURRENTLY instead of paying their planning + job walls in
    # sequence (r5 scaling decomposition: the per-round serial action
    # chain, not executor work, was the 8->32 ceiling).  Each action
    # runs on a pyspark.InheritableThread: in pinned mode (the
    # PYSPARK_PIN_THREAD default) each gets its OWN JVM thread with
    # copied local properties, so job descriptions set inside never
    # race the main thread's, and the paired JVM thread + py4j
    # connection are released deterministically at join (plain pool
    # threads leak them until Python GC — PySpark documents
    # InheritableThread as required for exactly this).  Each writes a
    # DIFFERENT table; the state checkpoint (the atomic commit
    # barrier) still happens strictly after all of them.
    _f_results = _BgAction(lambda: commit(items, "results"))
    _f_failures = _BgAction(lambda: commit(parked, "failures"))
    # assign_seq in the main thread: it is eager (its checkpoint runs)
    # and the next section needs its output.
    # ---- discovery delta: one explode over the parsed cache covers
    # all LinkRule branches (rule constants ride the rows); seq
    # assignment children-then-retries per the deterministic-core
    # contract (SURVEY.md §7 hard part 1).
    children = children_from_parsed(ok, _max_depth_col(cfg.tasks), round_no)
    noseq = [c for c in FRONTIER_COLS if c != "seq"]
    new_rows = (
        children.select(*noseq).withColumn("_retry", F.lit(0))
        .unionByName(retries.select(*noseq).withColumn("_retry", F.lit(1)))
    )
    _t = time.time()
    label("assign_seq")
    # its checkpoint also observes the new rows' buckets into the dirty set
    new_rows, n_new = assign_seq(
        new_rows, ["_retry", "parent_seq", "link_pos"],
        start_seq=state["max_seq"] + 1,
        bucket_col=_bcol, bucket_sink=dirty_buckets,
    )
    new_rows = new_rows.select(*FRONTIER_COLS)
    seq_wall = time.time() - _t  # eager: the checkpoint runs the pipeline

    # ---- frontier delta-commit, still inside the pool scope so the
    # bucket rewrite (the round's second-largest action) overlaps the
    # results/failures commits and the deferred count.  Rewrite ONLY
    # dirty buckets: a bucket is dirty iff it lost rows (something
    # scheduled from it) or gained rows (children/retries landed in
    # it); its new contents are the deferred + new rows of that
    # bucket.  Clean buckets are untouched on disk — they may retain
    # rows that this round's deterministic filters dropped
    # (depth-exceeded, now-seen, in-round dup copies, robots): every
    # one of those is re-dropped identically next round, so the
    # *live* frontier (what can ever be scheduled) is exactly
    # deferred ∪ new, the same set the old full overwrite wrote.
    # Liveness counters therefore come from deferred/new, never from
    # table row counts.  The dirty set was gathered by passes that
    # already ran: the schedule_log commit observed the scheduled rows'
    # buckets, assign_seq's checkpoint the new rows'.
    _t = time.time()
    compact = bool(
        cfg.frontier_compact_every
        and round_no % cfg.frontier_compact_every == 0
    )
    # a resumed crawl may carry a different frontier_buckets than the
    # table on disk (partial commit under the new modulus would orphan
    # rows owned under the old one), and a hook/operator may have
    # rewritten the frontier with a plain overwrite (no live bucket
    # state — partial commits are rejected by both catalog backends):
    # either way, force a reset commit this round
    if cat.bucket_count("frontier_pending") != B:
        compact = True
    label("frontier delta (commit)")
    dirty = sorted(dirty_buckets)
    if compact:
        # full rewrite of the live set: flushes clean buckets' dead rows
        snaps["frontier_pending"], rows["frontier_pending"] = (
            cat.commit_buckets(
                deferred.unionByName(new_rows),
                "frontier_pending", "url_hash", B,
            )
        )
    elif dirty:
        delta = deferred.unionByName(new_rows).where(_bcol.isin(dirty))
        snaps["frontier_pending"], rows["frontier_pending"] = (
            cat.commit_buckets(
                delta, "frontier_pending", "url_hash", B, buckets=dirty
            )
        )
    label(None)
    stage_wall["frontier_pending"] = time.time() - _t
    # the joins below re-raise the first failure, so no commit can be
    # silently lost before the checkpoint barrier (BaseException is
    # captured thread-side and re-thrown here — nothing is swallowed)
    _f_results.result()
    _f_failures.result()
    n_items = rows["results"]
    n_parked = rows["failures"]
    n_pending = n_deferred + n_new

    wall = time.time() - t0
    if cfg.collect_metrics:
        mrows = [
            (round_no, "schedule", "scheduled", float(n_scheduled)),
            (round_no, "fetch", "seen_delta", float(n_seen_delta)),
            (round_no, "fetch", "parked", float(n_parked)),
            (round_no, "parse", "items", float(n_items)),
            (round_no, "frontier", "new_rows", float(n_new)),
            (round_no, "frontier", "pending_next", float(n_pending)),
            (round_no, "round", "wall_seconds", wall),
        ] + [
            (round_no, "stage_wall", t, float(w)) for t, w in stage_wall.items()
        ] + [
            (round_no, "stage_wall", "dedup_bloom", float(bloom_wall)),
            (round_no, "stage_wall", "assign_seq", float(seq_wall)),
        ]
        snaps["metrics"] = cat.write_rows(mrows, METRICS_SCHEMA, "metrics")
        lrows = [
            (round_no, "commit", t, int(sid), rows.get(t, -1))
            for t, sid in snaps.items()
        ]
        # per-partition lineage: which frontier buckets this round's
        # snapshot rewrote (a resume/audit can invalidate exactly these
        # and trust every other bucket's prior snapshot).  Free — the
        # dirty list is already computed for the delta commit itself; a
        # full compact rewrite touches all B buckets by definition and
        # is recorded by its table-level row above.  rows=-1: per-bucket
        # counts would cost an extra aggregation job per round.
        if not compact and dirty and "frontier_pending" in snaps:
            fp_sid = int(snaps["frontier_pending"])
            lrows += [
                (round_no, "bucket_commit",
                 f"frontier_pending/_bucket={k}", fp_sid, -1)
                for k in dirty
            ]
        snaps["lineage"] = cat.write_rows(lrows, LINEAGE_SCHEMA, "lineage")

    for df in (ranked, parsed, failed):
        _release(df)
    for bc in round_bcs:
        bc.destroy()

    new_state = {
        "round": round_no,
        "max_seq": state["max_seq"] + n_new,
        "seen_count": state["seen_count"] + n_seen_delta,
        "finished": n_pending == 0,
        "snapshots": snaps,
        "last_round": {
            "scheduled": n_scheduled,
            "seen_delta": n_seen_delta,
            "items": n_items,
            "new_rows": n_new,
            "pending_next": n_pending,
            "wall_seconds": wall,
        },
    }
    save_state(cat, new_state)
    if cfg.expire_snapshots:
        # the checkpoint just committed is the oldest state resume can
        # target; dirs no snapshot >= it references are garbage
        for table, sid in snaps.items():
            cat.expire_snapshots(table, keep_from=int(sid))
    return new_state


def run_crawl(
    spark: SparkSession,
    cat: Catalog,
    cfg: CrawlConfig,
    do_resume: bool = False,
    round_hook=None,
) -> dict:
    """Crawl loop.  ``round_hook(spark, cat, state) -> None``, when
    given, runs before EVERY scheduling round — the composition seam
    for frontier policies that live outside the reference's semantics
    (focused-crawl rescoring, recrawl priorities, reputation demotion):
    the hook reads catalog tables and commits an updated
    ``frontier_pending``; the round then schedules from what it finds.
    Default None = the reference-equivalent loop, bit-identical
    (equivalence suite runs hookless)."""
    if do_resume:
        state = resume(cat)
    else:
        state = bootstrap(spark, cat, cfg)
    # built empty: the first round that probes loads it from `seen`
    bloom = IncrementalBloom(capacity=1 << 14) if cfg.use_bloom else None
    # the corpus footer read and the robots count below
    spark.sparkContext.setJobDescription("crawl r0: bootstrap")
    # http fetch mode needs no pages table (and may have no pages_path)
    pages_prepared = (
        prepare_pages(spark.read.parquet(cfg.pages_path))
        if cfg.fetch_mode != "http"
        else None
    )
    robots_df: DataFrame | None = None
    robots_small = True
    if cfg.robots_path:
        robots_df = spark.read.parquet(cfg.robots_path)
    elif cfg.robots_from_corpus:
        # one corpus pass at bootstrap, kept DISTRIBUTED: the parsed
        # rules stay a persisted DataFrame (never .collect()ed — one row
        # per robots-bearing host is 10^8 rows on a web-scale crawl, a
        # driver OOM if pinned; VERDICT r3 "What's wrong #3")
        from .politeness import parse_robots_pages

        robots_df = parse_robots_pages(spark.read.parquet(cfg.pages_path)).persist()
    if robots_df is not None:
        # one bootstrap count: materializes the persist (so no round
        # rescans the corpus) and feeds the same build-side gate the
        # fetch join uses — broadcast only under broadcast_max_rows,
        # else a plain join that AQE plans from runtime stats
        n_robots = robots_df.count()
        if n_robots == 0:
            robots_df.unpersist()
            robots_df = None
        else:
            robots_small = n_robots <= cfg.broadcast_max_rows
    spark.sparkContext.setJobDescription(None)
    rule_cols = dispatch_cols(cfg.tasks, body_col="body")
    while not state["finished"] and state["round"] < cfg.max_rounds:
        if round_hook is not None:
            round_hook(spark, cat, state)
        state = run_round(
            spark, cat, cfg, state, pages_prepared, robots_df, bloom,
            robots_small=robots_small, rule_cols=rule_cols,
        )
    return state


def results_wide(results: DataFrame, task: Task) -> DataFrame:
    """K5 reference-parity view: one column per ItemField instead of the
    engine's ``data map<string,string>`` — the exact column set the
    reference's sink creates at save time (collector/sqlstorage/
    sqlstorage.go:68-88: ItemFields + Url + Time, all strings).  Missing
    map keys surface as '' (ExtraString contract).  A downstream SQL
    consumer of e.g. ``douban_book_list`` reads named columns, no
    element_at gymnastics."""
    # per-name dedup via dict insertion order: a duplicate name within one
    # rule's fields, or a tmp_field colliding with a later rule's field,
    # must yield ONE output column (ADVICE r2 — the old list comprehension
    # checked membership against a stale snapshot)
    _names: dict[str, None] = {}
    for rule in task.rules.values():
        if isinstance(rule, FieldsRule):
            if rule.tmp_field is not None:
                _names.setdefault(rule.tmp_field[0])
            for f in rule.fields:
                _names.setdefault(f.name)
    rule_fields = list(_names)
    return results.where(F.col("task") == task.name).select(
        *[
            F.coalesce(F.element_at(F.col("data"), f), F.lit("")).alias(f)
            for f in rule_fields
        ],
        F.col("url").alias("Url"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("Time"),
    )
