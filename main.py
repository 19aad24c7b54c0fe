#!/usr/bin/env python3
"""spark-submit entry point for the crawl engine.

Package + run (north_rule deliverable):

    python scripts/package.py                      # -> dist/crawler_spark.zip
    spark-submit --py-files dist/crawler_spark.zip main.py \
        --pages /data/pages --warehouse /data/wh \
        --hosts 12000 --round-seconds 30 --salt-buckets 8

On a cluster, drop ``--cores`` (the cluster manager sizes executors) and
point --pages/--warehouse at shared storage; everything else is
identical to the local run.  ``--resume`` rolls every table back to the
last committed round's snapshots and continues.

Tasks default to the synthetic registry sized by --hosts; pass
--tasks-json for dynamic rule configs (rules.dynamic_task shape:
the reference's JS-task surface as data).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def build_tasks(args):
    from crawler_spark import rules

    if args.tasks_json:
        with open(args.tasks_json) as f:
            specs = json.load(f)
        return {
            s["name"]: rules.dynamic_task(
                s["name"], [tuple(x) for x in s["seeds"]], s["rules"],
                **s.get("options", {}),
            )
            for s in specs
        }
    return rules.synthetic_tasks(
        max_depth=args.max_depth, n_book_hosts=args.hosts, n_sun_hosts=args.hosts
    )


def main() -> int:
    ap = argparse.ArgumentParser(description="PySpark frontier crawl engine")
    ap.add_argument("--pages", required=True, help="corpus parquet/Iceberg path")
    ap.add_argument("--warehouse", required=True, help="catalog warehouse dir")
    ap.add_argument("--robots", default=None, help="robots parquet path")
    ap.add_argument("--tasks-json", default=None)
    ap.add_argument("--hosts", type=int, default=8)
    ap.add_argument("--max-depth", type=int, default=5)
    ap.add_argument("--round-seconds", type=float, default=30.0)
    ap.add_argument("--salt-buckets", type=int, default=4)
    ap.add_argument(
        "--politeness-key", choices=["host", "registered_domain"],
        default="host",
        help="budget granularity: per hostname (reference-equivalent) "
             "or per PSL registrable domain (subdomain fan-out shares "
             "one budget)",
    )
    ap.add_argument("--max-rounds", type=int, default=64)
    ap.add_argument(
        "--no-bloom", action="store_true",
        help="dedup with the exact anti-join alone, no bloom pre-filter",
    )
    ap.add_argument(
        "--charset-sniff", action="store_true",
        help="P11: sniff charset (BOM + meta prescan) per page and transcode",
    )
    ap.add_argument(
        "--fetch-mode", choices=["corpus", "http"], default="corpus",
        help="S5: 'corpus' joins the frontier against --pages (the oracle "
             "path); 'http' issues real GETs (fetch.fetch_http — requires "
             "network; UA/proxy deterministic per URL, per-task Cookie)",
    )
    ap.add_argument(
        "--fetch-timeout", type=float, default=10.0,
        help="http mode: per-request timeout seconds (reference Timeout)",
    )
    ap.add_argument(
        "--proxy", action="append", default=[],
        help="http mode: proxy URL (repeatable; deterministic per-URL pick)",
    )
    ap.add_argument(
        "--broadcast-max-rows", type=int, default=4_000_000,
        help="fetch-join build-side gate: above this, no broadcast hint",
    )
    ap.add_argument(
        "--frontier-buckets", type=int, default=16,
        help="pmod(url_hash, B) buckets for frontier delta commits "
             "(production: ~4096 so one bucket ~ one write task)",
    )
    ap.add_argument(
        "--frontier-compact-every", type=int, default=8,
        help="full live-set rewrite every N rounds (0 = never); flushes "
             "clean buckets' dead rows",
    )
    ap.add_argument(
        "--expire-snapshots", action="store_true",
        help="after each checkpoint, delete snapshot dirs no state >= "
             "the committed round can reference (recommended for long "
             "crawls; disables older time travel)",
    )
    ap.add_argument(
        "--wide-results", action="store_true",
        help="also write results_wide_<task> tables (one column per "
             "ItemField, the reference sink's schema)",
    )
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--cores", type=int, default=None, help="local[N]; omit on a cluster")
    args = ap.parse_args()

    from crawler_spark import engine
    from crawler_spark.catalog import Catalog
    from crawler_spark.session import get_spark

    spark = get_spark("crawler_spark", cores=args.cores)
    spark.sparkContext.setLogLevel("WARN")
    cfg = engine.CrawlConfig(
        tasks=build_tasks(args),
        pages_path=args.pages,
        robots_path=args.robots,
        round_seconds=args.round_seconds,
        salt_buckets=args.salt_buckets,
        politeness_key=args.politeness_key,
        use_bloom=not args.no_bloom,
        charset_sniff=args.charset_sniff,
        broadcast_max_rows=args.broadcast_max_rows,
        frontier_buckets=args.frontier_buckets,
        frontier_compact_every=args.frontier_compact_every or None,
        expire_snapshots=args.expire_snapshots,
        max_rounds=args.max_rounds,
        fetch_mode=args.fetch_mode,
        fetch_timeout_s=args.fetch_timeout,
        fetch_proxies=tuple(args.proxy),
    )
    cat = Catalog(args.warehouse)
    t0 = time.time()
    state = engine.run_crawl(spark, cat, cfg, do_resume=args.resume)
    if args.wide_results and cat.exists("results"):
        results = cat.read(spark, "results")
        for tname, task in cfg.tasks.items():
            wide = engine.results_wide(results, task)
            if wide.columns[:-2]:  # only tasks with ItemFields
                cat.write_counted(wide, f"results_wide_{tname}", mode="overwrite")
    out = {
        "finished": state["finished"],
        "rounds": state["round"],
        "seen": state["seen_count"],
        "wall_sec": round(time.time() - t0, 1),
        "last_round": state.get("last_round", {}),
    }
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
