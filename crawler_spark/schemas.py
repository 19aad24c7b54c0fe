"""Fixed StructType schemas of the engine tables a round reads back or
writes from driver-side rows.

The reference derives output schemas dynamically at save time
(/root/reference/collector/sqlstorage/sqlstorage.go:68-88) and keeps the
frontier as in-memory Go structs (collect/request.go:13-27).  Here the
frontier and seen tables, which every round reads, have a static,
Arrow-compatible schema declared once (SURVEY.md §1), so planning their
reads opens no parquet footer; metrics and lineage are written from
driver rows against theirs.  The tables a round only appends (results,
failures, schedule_log) take the schema of the frame that writes them.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------- frontier
# One row per discovered request.  Mirrors collect/request.go:13-27 plus
# the engine-side columns the reference keeps in channel/queue state:
#   seq         discovery order (FIFO-within-priority contract,
#               engine/schedule.go:52-62)
#   parent_seq / link_pos   lineage of the discovery (deterministic
#               ordering key before seq assignment)
#   attempts    retry budget state (engine/crawler.go:179-194: 1 re-push)
#   round       scheduling round that discovered the row
FRONTIER_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("url_norm", T.StringType(), False),
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("task_name", T.StringType(), False),
        T.StructField("rule_name", T.StringType(), False),
        T.StructField("method", T.StringType(), False),
        T.StructField("depth", T.IntegerType(), False),
        T.StructField("priority", T.IntegerType(), False),
        T.StructField("seq", T.LongType(), False),
        T.StructField("parent_seq", T.LongType(), False),
        T.StructField("link_pos", T.IntegerType(), False),
        T.StructField("tmp", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("attempts", T.IntegerType(), False),
        T.StructField("round", T.IntegerType(), False),
    ]
)

# ---------------------------------------------------------------- seen
# Exact URL-seen set (reference: md5 map, engine/crawler.go:16-17).  The
# bloom filter is a pre-filter only; this table is the truth.
SEEN_SCHEMA = T.StructType(
    [
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("url_norm", T.StringType(), False),
        T.StructField("round", T.IntegerType(), False),
    ]
)

# ---------------------------------------------------------------- metrics / lineage
METRICS_SCHEMA = T.StructType(
    [
        T.StructField("round", T.IntegerType(), False),
        T.StructField("stage", T.StringType(), False),
        T.StructField("key", T.StringType(), False),
        T.StructField("value", T.DoubleType(), False),
    ]
)

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("round", T.IntegerType(), False),
        T.StructField("stage", T.StringType(), False),
        T.StructField("table", T.StringType(), False),
        T.StructField("snapshot_id", T.LongType(), False),
        T.StructField("rows", T.LongType(), False),
    ]
)
