"""Per-layer metrics of a traced crawl.

Two sources, both outside the program:

- timers around the calls the engine makes into each layer module.
  ``Tracer.install`` swaps the engine's bound references (``engine.
  assign_seq``, ``IncrementalBloom.or_delta`` and ``.rebuild_from``, the
  ``Catalog`` commit methods) for timed wrappers; ``uninstall`` puts the
  originals back.  No program file changes.
- Spark's job and stage records, read from the application's status REST
  API (the UI is enabled in traced runs only) and grouped by the job
  descriptions the engine sets: ``crawl r<N>: dedup prefilter``,
  ``commit <table>``, ``bloom delta``, ``assign_seq``, ``frontier delta``.

The commit group of a round runs on threads, so the timed walls overlap:
they are not a decomposition of the round wall.
"""

from __future__ import annotations

import inspect
import json
import os
import re
import statistics
import time
import urllib.request
from datetime import datetime

_DESC = re.compile(r"crawl r\d+: (.*)")

# (per-layer metric name, unit) in the order BENCHMARK.json lists them
METRICS = [
    ("engine.driver_gap_s", "s"),
    ("engine.jobs_per_round", "count"),
    ("engine.stages_per_round", "count"),
    ("engine.shuffle_write_bytes", "bytes"),
    ("engine.crawl_wall_traced_s", "s"),
    ("seen.bloom_delta_s", "s"),
    ("seen.bloom_rebuild_s", "s"),
    ("seen.bloom_rebuilds", "count"),
    ("seen.prefilter_job_s", "s"),
    ("politeness.schedule_commit_s", "s"),
    ("politeness.shuffle_bytes", "bytes"),
    ("corpus.fetch_parse_s", "s"),
    ("corpus.input_bytes", "bytes"),
    ("corpus.task_skew", "ratio"),
    ("frontier.assign_seq_s", "s"),
    ("frontier.commit_s", "s"),
    ("frontier.rows_written", "count"),
    ("frontier.rows_written_per_new_row", "ratio"),
    ("catalog.append_s", "s"),
    ("catalog.meta_write_s", "s"),
    ("catalog.bytes_written", "bytes"),
    ("catalog.snapshots", "count"),
]


def _union_s(intervals) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def _epoch(ts: str) -> float:
    return datetime.strptime(ts.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


class Tracer:
    """Times the engine's layer calls and reads Spark's job records, one
    crawl at a time (``crawl_done``)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._api = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self.spans: list[tuple[str, float, float, dict]] = []
        self._saved: list[tuple[object, str, object]] = []
        self.per_crawl: list[dict[str, float]] = []

    # ------------------------------------------------------------ timers
    def _wrap(self, owner, attr: str) -> None:
        orig = getattr(owner, attr)
        sig = inspect.signature(orig)
        spans = self.spans

        def timed(*args, **kwargs):
            t0 = time.time()
            out = orig(*args, **kwargs)
            bound = sig.bind(*args, **kwargs).arguments
            spans.append((attr, t0, time.time(), {"table": bound.get("table"), "out": out}))
            return out

        self._saved.append((owner, attr, orig))
        setattr(owner, attr, timed)

    def install(self) -> None:
        from crawler_spark import engine
        from crawler_spark.catalog import Catalog
        from crawler_spark.seen import IncrementalBloom

        self._wrap(engine, "assign_seq")
        self._wrap(IncrementalBloom, "or_delta")
        self._wrap(IncrementalBloom, "rebuild_from")
        self._wrap(Catalog, "write_counted")
        self._wrap(Catalog, "commit_buckets")
        self._wrap(Catalog, "write_rows")

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()

    # ------------------------------------------------------------ REST
    def _get(self, path: str):
        with urllib.request.urlopen(f"{self._api}/{path}", timeout=30) as r:
            return json.load(r)

    # ------------------------------------------------------------ per crawl
    def crawl_done(self, marks: list[float], warehouse: str) -> None:
        """Record one crawl.  ``marks``: epoch times of each round's start
        and, last, of the crawl's end; the first mark is the crawl's
        start (before bootstrap)."""
        begin, end = marks[0], marks[-1]
        rounds = len(marks) - 2
        spans = [s for s in self.spans if begin <= s[1] <= end]
        self.spans.clear()

        def span_s(name, tables=None):
            return sum(
                b - a for n, a, b, info in spans
                if n == name and (tables is None or info["table"] in tables)
            )

        jobs = [
            j for j in self._get("jobs")
            if j.get("submissionTime") and begin <= _epoch(j["submissionTime"]) <= end
        ]
        stages = {
            s["stageId"]: s for s in self._get("stages")
            if s.get("status") == "COMPLETE" and s.get("submissionTime")
        }

        def iv(j):
            return _epoch(j["submissionTime"]), _epoch(j.get("completionTime") or j["submissionTime"])

        def jobs_of(prefix):
            return [
                j for j in jobs
                if (m := _DESC.match(j.get("description") or "")) and m.group(1).startswith(prefix)
            ]

        def stages_of(js):
            return [stages[i] for j in js for i in j["stageIds"] if i in stages]

        run_stages = stages_of(jobs)
        seen_stages = stages_of(jobs_of("commit seen"))
        skews = []
        for s in seen_stages:
            if s.get("inputBytes", 0) > 0 and s.get("numTasks", 0) >= 2:
                q = self._get(
                    f"stages/{s['stageId']}/{s['attemptId']}/taskSummary?quantiles=0.5,1.0"
                )["executorRunTime"]
                if q[0] > 0:
                    skews.append(q[1] / q[0])

        # frontier commit: from the round's first 'frontier delta' job
        # (the dirty-bucket scan) to the end of its commit_buckets call
        frontier_s, rows_written = 0.0, 0
        for a, b in zip(marks[1:], marks[2:]):
            ivs = [iv(j) for j in jobs_of("frontier delta") if a <= iv(j)[0] <= b]
            calls = [(s0, s1, info) for n, s0, s1, info in spans
                     if n == "commit_buckets" and a <= s0 <= b]
            rows_written += sum(info["out"][1] for _, _, info in calls)
            if ivs or calls:
                frontier_s += (
                    max([s1 for _, s1, _ in calls] + [e for _, e in ivs])
                    - min([s0 for s0, _, _ in calls] + [s for s, _ in ivs])
                )
        new_rows = sum(
            info["out"][1] for n, a, _, info in spans if n == "assign_seq"
        )
        files = [
            os.path.join(d, f) for d, _, fs in os.walk(warehouse) for f in fs
            if "/snap-" in os.path.join(d, f)
        ]
        snaps = {
            os.path.join(d, x) for d, dirs, _ in os.walk(warehouse)
            for x in dirs if x.startswith("snap-")
        }
        self.per_crawl.append({
            "engine.driver_gap_s": (end - begin) - _union_s(iv(j) for j in jobs),
            "engine.jobs_per_round": len(jobs) / rounds,
            "engine.stages_per_round": len(run_stages) / rounds,
            "engine.shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in run_stages),
            "engine.crawl_wall_traced_s": end - begin,
            "seen.bloom_delta_s": span_s("or_delta"),
            "seen.bloom_rebuild_s": span_s("rebuild_from"),
            "seen.bloom_rebuilds": sum(1 for s in spans if s[0] == "rebuild_from"),
            "seen.prefilter_job_s": _union_s(iv(j) for j in jobs_of("dedup prefilter")),
            "politeness.schedule_commit_s": span_s("write_counted", {"schedule_log"}),
            "politeness.shuffle_bytes": sum(
                s["shuffleWriteBytes"] for s in stages_of(jobs_of("commit schedule_log"))
            ),
            "corpus.fetch_parse_s": span_s("write_counted", {"seen"}),
            "corpus.input_bytes": sum(s["inputBytes"] for s in seen_stages),
            "corpus.task_skew": statistics.median(skews) if skews else 1.0,
            "frontier.assign_seq_s": span_s("assign_seq"),
            "frontier.commit_s": frontier_s,
            "frontier.rows_written": rows_written,
            "frontier.rows_written_per_new_row": rows_written / max(new_rows, 1),
            "catalog.append_s": span_s("write_counted", {"results", "failures"}),
            "catalog.meta_write_s": span_s("write_rows", {"metrics", "lineage"}),
            "catalog.bytes_written": sum(os.path.getsize(f) for f in files),
            "catalog.snapshots": len(snaps),
        })

    def metrics(self) -> dict[str, tuple[float, str]]:
        """Median over the traced crawls of each per-layer metric."""
        return {
            name: (statistics.median(c[name] for c in self.per_crawl), unit)
            for name, unit in METRICS
        }
