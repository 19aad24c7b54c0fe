#!/usr/bin/env python3
"""Benchmark harness (driver contract, BASELINE.md measurement protocol).

Default mode — run every driver-contract query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], plus one
full crawl of the synthetic corpus (the engine's real workload), and
print ONE JSON line:

    {"metric": "...", "value": <total_sec>, "unit": "sec",
     "queries": {...}, "sf": ..., "crawl": {...}}

Scaling mode (BASELINE.md: evidence the N->4N criterion at two local
parallelism levels on identical input):

    python bench.py --crawl-only --cores 8  --corpus /tmp/c --json out8.json
    python bench.py --crawl-only --cores 32 --corpus /tmp/c --json out32.json

`scripts/bench_scaling.py` orchestrates both runs in fresh subprocesses
(one JVM each) and writes BENCH/BASELINE.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

DEFAULT_SF_DIR = "/root/testdata/sf0.1"

# Crawl-bench corpus shape (identical bytes at any parallelism: corpus.py
# values are pure functions of the row id; written once, read by both runs).
CRAWL_HOSTS = int(os.environ.get("CRAWL_BENCH_HOSTS", "384"))
CRAWL_FILLER = int(os.environ.get("CRAWL_BENCH_FILLER", "120000"))
ROUND_SECONDS = 30.0


def _sf_from_dir(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def _force(df) -> int:
    """Fully execute a query plan without collecting rows to the driver."""
    return df.write.format("noop").mode("overwrite").save() or 0


QUERY_REPS = int(os.environ.get("CRAWL_BENCH_QUERY_REPS", "2"))


def bench_queries(spark, sf_dir: str) -> tuple[dict[str, float], dict[str, float]]:
    """Returns (best_of_QUERY_REPS, rep1) walls per query.  This VM has
    +-2x run-to-run noise, and the per-round BENCH_r{N}.json is compared
    across rounds — best-of-2 keeps a one-off scheduler hiccup from
    reading as a regression.  Rep 1 runs all queries, then rep 2 (so rep
    2 never benefits from a same-query warm cache beyond what rep 1
    already built — matching how a user would hit a warm session).

    BOTH series are emitted (VERDICT r3 #5: the recorded run must always
    sit beside the best-of, same rep protocol across compared rounds).

    COLD protocol (r5, VERDICT r4 #2): every cross-query plan memo
    (dedup probe persists + shingle LRU) is cleared before each timed
    query, so no row's number is flattered by a persist another query
    built — what the sweep records is what a user running that one
    query pays.  Set CRAWL_BENCH_WARM=1 for the legacy warm protocol
    (used once in ROUNDS.md for the r4-comparable drift cross-check)."""
    from crawler_spark.entry_queries import QUERIES
    from crawler_spark.functions import dedup

    warm = os.environ.get("CRAWL_BENCH_WARM", "") == "1"
    times: dict[str, float] = {}
    rep1: dict[str, float] = {}
    for rep in range(QUERY_REPS):
        for name in sorted(QUERIES):
            if not warm:
                dedup.clear_plan_caches()
            t0 = time.time()
            _force(QUERIES[name](spark, sf_dir))
            wall = round(time.time() - t0, 3)
            if rep == 0:
                rep1[name] = wall
            if name not in times or wall < times[name]:
                times[name] = wall
    return times, rep1


def ensure_corpus(spark, path: str) -> dict:
    """Write the crawl-bench corpus once (skip if present and complete).
    Returns its shape from the sidecar meta, so a --corpus dir generated
    with different env settings can't silently mismatch the task list."""
    meta_path = os.path.join(path, "_meta.json")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        if os.path.exists(meta_path):
            with open(meta_path) as f:
                return json.load(f)
        return {"n_hosts": CRAWL_HOSTS, "n_filler": CRAWL_FILLER}
    from crawler_spark import corpus

    corpus.write_corpus(spark, path, n_hosts=CRAWL_HOSTS, n_filler=CRAWL_FILLER)
    meta = {"n_hosts": CRAWL_HOSTS, "n_filler": CRAWL_FILLER}
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    return meta


def bench_crawl(spark, corpus_path: str, cores: int) -> dict:
    """Run a full synthetic crawl; report URLs scheduled+fetched+deduped/s.

    'URLs processed' = frontier rows that completed the schedule->dedup->
    fetch->parse round trip = sum of per-round scheduled counts (every
    scheduled row was bloom+anti-join deduped and joined against pages).
    """
    from crawler_spark import engine, rules
    from crawler_spark.catalog import Catalog

    meta = ensure_corpus(spark, corpus_path)
    n_hosts = meta["n_hosts"]
    tasks = rules.synthetic_tasks(
        max_depth=5, n_book_hosts=n_hosts, n_sun_hosts=n_hosts
    )
    wh_base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    wh = tempfile.mkdtemp(prefix="crawl_bench_wh_", dir=wh_base)
    try:
        cfg = engine.CrawlConfig(
            tasks=tasks,
            pages_path=corpus_path,
            round_seconds=ROUND_SECONDS,
            use_bloom=True,
            salt_buckets=4,
            collect_metrics=True,
        )
        cat = Catalog(wh)
        t0 = time.time()
        state = engine.run_crawl(spark, cat, cfg)
        wall = time.time() - t0
        sched = cat.read(spark, "schedule_log").count()
        seen = cat.read(spark, "seen").count()
        items = cat.read(spark, "results").count()
        # per-round walls + scheduled counts from the metrics table; the
        # steady-state metric discards round 1 (corpus decode+cache warmup)
        # per the BASELINE.md protocol.
        mrows = cat.read(spark, "metrics").collect()
        walls = {r.round: r.value for r in mrows
                 if r.stage == "round" and r.key == "wall_seconds"}
        scheds = {r.round: r.value for r in mrows
                  if r.stage == "schedule" and r.key == "scheduled"}
        steady = sorted(r for r in walls if r >= 2)
        ss_wall = sum(walls[r] for r in steady)
        ss_sched = sum(scheds.get(r, 0.0) for r in steady)
    finally:
        shutil.rmtree(wh, ignore_errors=True)
    ss_tput = (ss_sched / ss_wall) if ss_wall else 0.0
    return {
        "rounds": state["round"],
        "urls_scheduled": sched,
        "urls_seen": seen,
        "items": items,
        "wall_sec": round(wall, 3),
        "cores": cores,
        "urls_per_sec": round(sched / wall, 3),
        "urls_per_sec_per_core": round(sched / wall / cores, 4),
        "round_walls": {str(r): round(walls[r], 3) for r in sorted(walls)},
        "steady_urls_per_sec": round(ss_tput, 3),
        "steady_urls_per_sec_per_core": round(ss_tput / cores, 4),
        "corpus_hosts": n_hosts,
        "corpus_filler": meta["n_filler"],
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument("--sf-dir", default=None)
    ap.add_argument("--crawl-only", action="store_true")
    ap.add_argument("--skip-crawl", action="store_true")
    ap.add_argument("--corpus", default=None, help="crawl corpus dir (reused)")
    ap.add_argument("--json", default=None, help="also write result JSON here")
    args = ap.parse_args()

    sf_dir = args.sf_dir or os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    cores = args.cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from crawler_spark.session import get_spark

    spark = get_spark("bench", cores=cores, shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    # warmup: JIT + codegen, AND the pyspark.daemon worker pool — a cold
    # Python-UDF stage pays ~12s of worker fork/import otherwise
    spark.range(0, 1_000_000).selectExpr("sum(id)").collect()
    spark.range(0, cores * 4, 1, cores).mapInPandas(lambda it: it, "id long").count()

    queries: dict[str, float] = {}
    queries_rep1: dict[str, float] = {}
    crawl: dict = {}
    corpus_path = args.corpus or os.path.join(
        tempfile.gettempdir(), f"crawl_bench_corpus_h{CRAWL_HOSTS}_f{CRAWL_FILLER}"
    )

    if not args.crawl_only:
        queries, queries_rep1 = bench_queries(spark, sf_dir)
    if not args.skip_crawl:
        # best-of-CRAWL_BENCH_REPS, same rationale as the query reps
        # (±2x VM noise); the corpus is generated once and reused, so
        # rep 2 costs only the crawl itself.  Rep 1 is kept beside the
        # best (VERDICT r3 #5).
        reps = int(os.environ.get("CRAWL_BENCH_REPS", "2"))
        best = None
        for rep in range(max(1, reps)):
            t0 = time.time()
            c = bench_crawl(spark, corpus_path, cores)
            c_wall = round(time.time() - t0, 3)
            if rep == 0:
                queries_rep1["crawl_full"] = c_wall
                crawl_rep1_steady = c["steady_urls_per_sec"]
            if best is None or c["steady_urls_per_sec"] > best[0]["steady_urls_per_sec"]:
                best = (c, c_wall)
        crawl, queries["crawl_full"] = best
        crawl["rep1_steady_urls_per_sec"] = crawl_rep1_steady

    total = round(sum(queries.values()), 3)
    out = {
        "metric": "driver-contract queries + full synthetic crawl, total wall",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "queries_rep1": queries_rep1,
        "reps": QUERY_REPS,
        "sf": _sf_from_dir(sf_dir),
        "cores": cores,
        "crawl": crawl,
    }
    full_path = args.json or os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH", "last_bench_full.json"
    )
    try:
        os.makedirs(os.path.dirname(full_path), exist_ok=True)
        with open(full_path, "w") as f:
            f.write(json.dumps(out) + "\n")
    except OSError:
        full_path = None
    # The driver captures only the LAST 2000 chars of stdout (BENCH_r3/r4
    # "parsed": null), so the final line must be a COMPACT summary: the
    # headline queries + crawl essentials, full record in `full_path`.
    headline = [
        "crawl_full", "schedule_round", "politeness_rank", "dedup_anti_join",
        "dedup_exact", "dedup_minhash_lsh", "simhash_pairs", "dedup_containment",
        "fuzzy_dedup_e2e", "substring_scrub", "scrub_apply", "repetition_scores",
        "bm25_topk", "text_quality", "lang_id_lm", "html_extract",
        "token_budget", "winnow_counts_prod", "mirror_hosts", "site_template",
        "cluster_keep_best",
    ]
    crawl_keys = [
        "rounds", "urls_scheduled", "wall_sec", "cores", "urls_per_sec",
        "steady_urls_per_sec", "steady_urls_per_sec_per_core",
    ]
    compact = {
        "metric": out["metric"],
        "value": total,
        "unit": "sec",
        "queries": {k: queries[k] for k in headline if k in queries},
        "n_queries": len(queries),
        "reps": QUERY_REPS,
        "protocol": "cold" if os.environ.get("CRAWL_BENCH_WARM", "") != "1" else "warm",
        "sf": out["sf"],
        "cores": cores,
        "crawl": {k: crawl[k] for k in crawl_keys if k in crawl},
        "full_record": full_path,
    }
    line = json.dumps(compact)
    while len(line) > 1900 and compact["queries"]:
        compact["queries"].popitem()
        line = json.dumps(compact)
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
