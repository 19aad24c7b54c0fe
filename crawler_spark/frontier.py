"""Frontier construction: seeds, link->child expansion, scalable seq ids.

The reference keeps the frontier as two in-memory Go slices with
FIFO-within-priority drain (/root/reference/engine/schedule.go:45-75).
Here the frontier is a table and FIFO is an explicit ``seq`` column
assigned at discovery time (SURVEY.md §7 hard part 1): total order =
(priority DESC, seq ASC).

``assign_seq`` gives *contiguous, deterministic* ids without a
single-partition window: range-repartition by the (unique) order key,
materialise that partitioning once, collect the tiny per-partition count
vector, then add per-partition offsets to an intra-partition row_number.
Cost: one checkpoint job plus one count job over the (small) discovery
delta — never over the whole frontier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import urlnorm
from .rules import Task
from .schemas import FRONTIER_SCHEMA

FRONTIER_COLS = [f.name for f in FRONTIER_SCHEMA.fields]


def with_url_identity(df: DataFrame, url_col: str = "url", method: str = "GET") -> DataFrame:
    """Attach url_norm / url_hash / host derived from ``url_col``."""
    return (
        df.withColumn("url_norm", urlnorm.canon_col(F.col(url_col)))
        .withColumn("url_hash", urlnorm.url_hash_col(F.col("url_norm"), F.lit(method)))
        .withColumn("host", urlnorm.host_col(F.col(url_col)))
    )


def seed_frontier(spark: SparkSession, tasks: dict[str, Task]) -> DataFrame:
    """Root expansion (S1): one frontier row per seed, seq = seed order.

    Mirrors engine/crawler.go:48-75 (Rule.Root() -> scheduler.Push) with
    the seed list coming from task config instead of Go closures.
    """
    rows = []
    seq = 0
    for tname in sorted(tasks):
        task = tasks[tname]
        for url, rule_name, priority in task.seeds:
            un = urlnorm.canon_py(url)
            rows.append(
                (
                    url, un, urlnorm.url_hash_py(un), urlnorm.host_py(url),
                    tname, rule_name, "GET", 0, priority, seq, -1, 0,
                    None, 0, 0,
                )
            )
            seq += 1
    return spark.createDataFrame(rows, FRONTIER_SCHEMA)


def assign_seq(
    df: DataFrame,
    order_cols: list[str],
    start_seq: int,
    num_partitions: int | None = None,
) -> tuple[DataFrame, int]:
    """Add contiguous ``seq`` = start_seq + rank(order_cols) (0-based);
    returns (df, n_rows) — the count falls out of the offset pass free.

    order_cols must be a unique key.  Deterministic regardless of input
    partitioning: the global rank depends only on the total order of the
    key, not on range-sampler boundaries.  That holds only if the counts
    and the offsets see the SAME partitioning: ``repartitionByRange``
    samples its bounds anew on every execution, so the ``_pid``-tagged
    frame is checkpointed (eagerly, lineage cut) and both passes read it.
    """
    sc_cols = [F.col(c) for c in order_cols]
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    parted = (
        df.repartitionByRange(n, *sc_cols)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    counts = {r._pid: r.cnt for r in parted.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()}
    offsets = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    off_map = F.create_map(
        *[F.lit(x) for kv in offsets.items() for x in kv]
    ) if offsets else F.create_map()
    w = Window.partitionBy("_pid").orderBy(*sc_cols)
    out = (
        parted.withColumn(
            "seq",
            F.lit(start_seq)
            + F.coalesce(F.element_at(off_map, F.col("_pid")), F.lit(0))
            + F.row_number().over(w)
            - 1,
        )
        .drop("_pid")
    )
    return out, acc


def children_from_parsed(
    parsed: DataFrame, max_depth_col: "F.Column", round_no: int
) -> DataFrame:
    """Explode the dispatch-parsed ``links`` into child frontier rows.

    Rule constants ride the rows as columns (next_rule, child_priority,
    tmp_key — parsers.dispatch_cols), so one explode covers every
    LinkRule branch in the registry.  Reference parity: depth+1
    (douban_group.go:52), depth cutoff at discovery (request.go:34-40 —
    deterministic, so dropping early ≡ dropping at pull), TmpData carry
    (dobuan_book.go:112-113), child priority from the rule (roots 1,
    children 0 in every reference task).
    """
    ex = (
        parsed.where(F.col("links").isNotNull() & (F.size("links") > 0))
        .select(
            F.col("task_name"),
            F.col("depth"),
            F.col("seq").alias("parent_seq"),
            F.col("next_rule"),
            F.col("child_priority"),
            F.col("tmp_key"),
            F.posexplode("links").alias("link_pos", "link"),
        )
        .select(
            F.col("link.link_url").alias("url"),
            F.col("task_name"),
            F.col("next_rule").alias("rule_name"),
            F.lit("GET").alias("method"),
            (F.col("depth") + 1).cast("int").alias("depth"),
            F.coalesce(F.col("child_priority"), F.lit(0)).alias("priority"),
            F.col("parent_seq"),
            F.col("link_pos").cast("int").alias("link_pos"),
            F.when(
                F.col("tmp_key").isNotNull(),
                F.create_map(F.col("tmp_key"), F.col("link.link_title")),
            ).otherwise(F.lit(None).cast("map<string,string>")).alias("tmp"),
        )
        .where(F.col("depth") <= max_depth_col)
        .withColumn("attempts", F.lit(0))
        .withColumn("round", F.lit(round_no))
    )
    return with_url_identity(ex)
