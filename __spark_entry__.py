"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship scheduling-round query at sf0.001;
``queries``/``oracle_sql`` expose every SQL-checkable operator shape
(crawl scheduling, dedup suite, text analysis, link graph) —
see crawler_spark/entry_queries.py for the implementations and the
mapping to SURVEY.md §2.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from crawler_spark.entry_queries import ORACLES, QUERIES


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: one politeness scheduling round over documents-as-frontier
    (anti-join seen set + per-source budget rank) at sf0.001."""
    return QUERIES["schedule_round"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(ORACLES)
