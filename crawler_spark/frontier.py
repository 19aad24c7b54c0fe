"""Frontier construction: seeds, link->child expansion, scalable seq ids.

The reference keeps the frontier as two in-memory Go slices with
FIFO-within-priority drain (/root/reference/engine/schedule.go:45-75).
Here the frontier is a table and FIFO is an explicit ``seq`` column
assigned at discovery time (SURVEY.md §7 hard part 1): total order =
(priority DESC, seq ASC).

``assign_seq`` gives *contiguous, deterministic* ids without a
single-partition window: range-repartition by the (unique) order key,
sort and materialise that partitioning once, observing the tiny
per-partition count vector on the way, then add per-partition offsets to
each row's position in its partition.  Cost: the range sample and one
checkpoint over the (small) discovery delta — never over the whole
frontier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
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
    bucket_col: F.Column | None = None,
    bucket_sink: set | None = None,
) -> tuple[DataFrame, int]:
    """Add contiguous ``seq`` = start_seq + rank(order_cols) (0-based);
    returns (df, n_rows) — the count falls out of the offset pass free.

    order_cols must be a unique key.  Deterministic regardless of input
    partitioning: the global rank depends only on the total order of the
    key, not on range-sampler boundaries.  That holds only if the counts
    and the offsets see the SAME partitioning: ``repartitionByRange``
    samples its bounds anew on every execution, so the sorted,
    ``_pid``-tagged frame is checkpointed (eagerly, lineage cut) and both
    passes read it.  The checkpoint keeps each partition's rows in sort
    order, so a row's rank inside its partition is its
    ``monotonically_increasing_id`` minus the partition's base
    (``_pid << 33``) — no second shuffle for a row_number window.

    The per-partition counts are observed on the checkpoint job itself,
    one ``count_if`` per partition.  ``bucket_sink``: when given, the
    same observation collects the distinct ``bucket_col`` values of the
    rows into it (the engine's dirty frontier buckets), so they cost no
    job of their own.
    """
    sc_cols = [F.col(c) for c in order_cols]
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    obs = Observation()
    metrics = [F.count_if(F.col("_pid") == k).alias(f"n{k}") for k in range(n)]
    if bucket_sink is not None:
        metrics.append(F.collect_set(bucket_col).alias("buckets"))
    parted = (
        df.repartitionByRange(n, *sc_cols)
        .sortWithinPartitions(*sc_cols)
        .withColumn("_pid", F.spark_partition_id())
        .observe(obs, *metrics)
        .localCheckpoint(eager=True)
    )
    got = obs.get
    if bucket_sink is not None:
        bucket_sink.update(got["buckets"])
    offsets, acc = [], 0
    for k in range(n):
        offsets += [F.lit(k), F.lit(acc)]
        acc += got[f"n{k}"]
    out = (
        parted.withColumn(
            "seq",
            F.lit(start_seq)
            + F.element_at(F.create_map(*offsets), F.col("_pid"))
            + F.monotonically_increasing_id()
            - F.shiftleft(F.col("_pid").cast("long"), 33),
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
