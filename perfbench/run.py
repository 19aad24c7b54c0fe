#!/usr/bin/env python3
"""Oracle-checked crawl benchmark.

    python3 perfbench/run.py --workload bench-crawl --seed 1 --seconds 5 --trace 0

Run from the repository root.  One run:

1. writes the workload's corpus, once per checkout, in a Spark session of
   its own (``--make-corpus``), so every measured session starts equally
   cold;
2. starts a ``local[nproc]`` Spark session (``setup_s``) and runs the
   pure-Python oracle on the crawl the seed picks (untimed);
3. runs ``engine.run_crawl`` crawls of the corpus, one at a time, until
   ``--seconds`` have passed (at least one), each cut after
   ``workloads.ROUNDS`` rounds;
4. checks every crawl round by round against the oracle, the golden text
   and the politeness rules, and runs the checks' mutation self-test;
5. prints one JSON line: ``correct``, ``attempted`` and ``failed`` rounds,
   and the end-to-end metrics (``--trace 0``) or the per-layer metrics of
   a traced run (``--trace 1``, Spark UI on).

Its files — corpora, warehouses, Spark's shuffle and temp files — stay
under ``.bench_build/perfbench/`` in the working directory, and the Spark
JVM it starts has exited when it ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

T0 = time.perf_counter()
ROOT = os.path.abspath(os.getcwd())
# one directory per run, so runs sharing a checkout never delete each
# other's shuffle files or warehouses
WORK = os.path.join(ROOT, ".bench_build", "perfbench", f"run-{os.getpid()}")
CORPORA = os.path.join(ROOT, ".bench_build", "perfbench", "corpus")


def _environment() -> None:
    """Keep Spark's files and temp files inside the working directory,
    and make the repo importable here and in Spark's Python workers."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_TMPFS="0",  # no shuffle files on /dev/shm
        SPARK_GRAFT_DRIVER_MEM="2g",  # session.py pre-touches the whole heap
        SPARK_LOCAL_IP="127.0.0.1",
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}",
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    sys.path.insert(0, ROOT)


def _start_session(trace: bool):
    from crawler_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))  # nproc
    conf = {
        "spark.local.dir": os.path.join(WORK, "local"),
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    spark = get_spark("perfbench", cores=cores, shuffle_partitions=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_session(spark) -> None:
    """Stop Spark, then end the JVM and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _cpu_s(pid: int) -> float:
    """CPU seconds used so far by this process and by ``pid`` and its
    descendants (the Spark JVM and its Python workers), reaped children
    included."""
    import resource

    ticks = os.sysconf("SC_CLK_TCK")
    parent, times = {}, {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        parent[int(p)] = int(fields[1])
        times[int(p)] = sum(int(x) for x in fields[11:15]) / ticks
    total = 0.0
    for p, t in times.items():
        q = p
        while q > 1 and q != pid:
            q = parent.get(q, 0)
        if q == pid:
            total += t
    ru = resource.getrusage(resource.RUSAGE_SELF)
    return total + ru.ru_utime + ru.ru_stime


def _crawl(spark, wl, pages_path: str, hosts, wh: str):
    """One crawl; returns (catalog, state, marks, cpu_s).  ``marks`` are
    the epoch times of the crawl's start, of each round's start and of the
    crawl's end; the round hook only records the time."""
    from pyspark import SparkContext

    import workloads
    from crawler_spark import engine
    from crawler_spark.catalog import Catalog

    cfg = engine.CrawlConfig(
        tasks=workloads.tasks_for(wl, hosts),
        pages_path=pages_path,
        round_seconds=workloads.ROUND_SECONDS,
        use_bloom=True,
        salt_buckets=workloads.SALT_BUCKETS,
        collect_metrics=True,
        robots_from_corpus=wl.robots,
        max_rounds=workloads.ROUNDS,
    )
    cat = Catalog(wh)
    jvm = SparkContext._gateway.proc.pid
    cpu0 = _cpu_s(jvm)
    marks = [time.time()]
    state = engine.run_crawl(
        spark, cat, cfg, round_hook=lambda *_: marks.append(time.time())
    )
    marks.append(time.time())
    return cat, state, marks, _cpu_s(jvm) - cpu0


def _observe(cat, state):
    """Read the crawl's append-only output tables straight from their
    snapshot files (every snapshot of an append-only table is live), so
    checking costs no Spark job."""
    import pyarrow.parquet as pq

    from checks import Observed
    from crawler_spark.urlnorm import canon_py

    def rows(table, *cols):
        snaps = cat.snapshots(table)
        if any(m["mode"] != "append" for m in snaps):
            raise ValueError(f"{table}: expected an append-only table")
        out = []
        for m in snaps:
            t = pq.read_table(os.path.join(cat.warehouse, table, m["dir"]), columns=list(cols))
            out += zip(*(t[c].to_pylist() for c in cols))
        return out

    return Observed(
        rounds=state["round"],
        schedule=rows("schedule_log", "round", "priority", "seq", "url_norm"),
        seen={un for (un,) in rows("seen", "url_norm")},
        items=[
            (rnd, task, rule, url, tuple(sorted(data or ())))
            for rnd, task, rule, url, data in rows("results", "round", "task", "rule", "url", "data")
        ],
        parked={canon_py(url) for (url,) in rows("failures", "url")},
    )


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--make-corpus", action="store_true",
                    help="only write the workload's corpus, then exit")
    args = ap.parse_args()
    if not args.make_corpus and (args.seed is None or args.seconds is None):
        ap.error("--seed and --seconds are required")

    if not os.path.isdir(os.path.join(ROOT, "crawler_spark")):
        print("perfbench: run from the repository root (crawler_spark/ not found)",
              file=sys.stderr)
        return 2
    shutil.rmtree(WORK, ignore_errors=True)
    _environment()
    import checks
    import workloads
    from crawler_spark import rules

    wl = workloads.WORKLOADS.get(args.workload)
    if wl is None:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    field_names = [f.name for f in rules.BOOK_FIELDS]
    pages = workloads.corpus_path(CORPORA, wl)
    if args.make_corpus:
        spark = _start_session(False)
        try:
            workloads.write_corpus(spark, wl, pages)
        finally:
            _stop_session(spark)
            shutil.rmtree(WORK, ignore_errors=True)
        return 0
    if not os.path.isdir(pages):
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", wl.name, "--make-corpus"],
            check=True,
        )

    phases = {}  # diagnostics: seconds spent in each phase of the run

    def phase(name: str, t: float) -> float:
        now = time.perf_counter()
        phases[name] = round(phases.get(name, 0.0) + now - t, 3)
        return now

    t = phase("start", T0)
    spark = _start_session(bool(args.trace))
    tracer = None
    try:
        t_session = phase("session", t)
        setup_s = t_session - t
        hosts = workloads.seed_hosts(wl, args.seed)
        exp = workloads.expected_for(wl, hosts, pages)
        t = phase("oracle", t_session)
        if args.trace:
            import layers

            tracer = layers.Tracer(spark)
            tracer.install()
        crawls = []  # (marks, warehouse bytes, cpu s)
        verdicts = []
        missed: list[str] = []
        t_end = time.perf_counter() + args.seconds
        while not crawls or time.perf_counter() < t_end:
            wh = os.path.join(WORK, f"wh-{len(crawls)}")
            cat, state, marks, cpu = _crawl(spark, wl, pages, hosts, wh)
            t = phase("crawls", t)
            if tracer:
                tracer.crawl_done(marks, wh)
            obs = _observe(cat, state)
            v = checks.check(exp, obs, field_names)
            if not verdicts:
                missed = checks.self_test(exp, obs, field_names, v)
            verdicts.append(v)
            crawls.append((marks, _dir_bytes(wh), cpu))
            shutil.rmtree(wh, ignore_errors=True)
            t = phase("checks", t)
    finally:
        if tracer:
            tracer.uninstall()
        _stop_session(spark)
        shutil.rmtree(WORK, ignore_errors=True)
    phase("stop", t)

    faults = [f for v in verdicts for f in v.faults]
    for i, v in enumerate(verdicts):
        order = {r: f[:2] for r, f in v.order_faults.items()}
        print(f"crawl {i}: rounds failed {sorted(v.failed_rounds)} of {v.attempted}; "
              f"order faults {order}", file=sys.stderr)
    for rnd, f in faults[:20]:
        print(f"fault (round {rnd}): {f}", file=sys.stderr)
    for m in missed:
        print(f"self-test: the checks missed the mutation '{m}'", file=sys.stderr)

    walls = [c[0][-1] - c[0][0] for c in crawls]
    round_walls = [[b - a for a, b in zip(c[0][1:], c[0][2:])] for c in crawls]
    if args.trace:
        metrics = tracer.metrics()
    else:
        # Wall times go to the diagnostic line only: on a shared host they
        # moved by up to 2x between runs minutes apart (README.md).
        metrics = {
            "crawl_cpu_s": (statistics.median(c[2] for c in crawls), "s"),
            "warehouse_mb": (statistics.median(c[1] for c in crawls) / 1e6, "MB"),
            "setup_s": (setup_s, "s"),
        }
    print(json.dumps({
        "workload": wl.name, "seed": args.seed, "oracle_s": round(exp.oracle_s, 4),
        "crawl_walls_s": [round(w, 3) for w in walls],
        "round_walls_s": [[round(w, 3) for w in rw] for rw in round_walls],
        "phases_s": phases,
    }))
    print(json.dumps({
        "correct": not faults and not missed,
        "attempted": sum(v.attempted for v in verdicts),
        "failed": sum(v.failed for v in verdicts),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
