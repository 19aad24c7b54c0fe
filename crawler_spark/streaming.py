"""Structured Streaming surfaces over the engine's snapshot tables.

The crawl engine itself is a batch round loop by design (SURVEY.md §7:
rounds map 1:1 to the reference's scheduler drain semantics and give
deterministic ordering + snapshot resume).  What Structured Streaming
adds — and what this module provides — is the *consumer* side: the
catalog's append-only snapshot directories are exactly a file-stream
source, so downstream jobs can tail results/metrics/seen live while the
crawl runs, with no coupling to the round driver.

    warehouse/results/snap-000001/part-*.parquet   <- each round commits
    warehouse/results/snap-000002/part-*.parquet      a new snapshot dir

A file-source stream over ``warehouse/<table>/*/`` discovers each new
snapshot's files as they are committed (commit order == discovery
order), which makes every engine table a live feed for free.  On
Iceberg-proper the same call sites become ``readStream.format("iceberg")``.

Provided shapes:
- ``stream_table``       raw live tail of any engine table
- ``items_per_window``   watermarked tumbling-window counts of extracted
                         items per task (the standard late-data-tolerant
                         monitoring agg)
- ``run_to_memory``      drive any of the above into an in-memory sink
                         with Trigger.AvailableNow (used by tests and
                         ad-hoc inspection; production would writeStream
                         to Kafka/Iceberg instead)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import Catalog
from .schemas import METRICS_SCHEMA, RESULTS_SCHEMA, SEEN_SCHEMA

_SCHEMAS = {
    "results": RESULTS_SCHEMA,
    "seen": SEEN_SCHEMA,
    "metrics": METRICS_SCHEMA,
}


def stream_table(
    spark: SparkSession, cat: Catalog, table: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming DataFrame tailing ``table``'s committed snapshots.

    The glob ``<warehouse>/<table>/*`` matches every snap-* dir; the
    file source tracks seen files, so each new snapshot commit surfaces
    exactly once.  Schema comes from the static engine schemas — a
    streaming source cannot infer it, and the engine's schemas are fixed
    by design (SURVEY.md §1)."""
    if table not in _SCHEMAS:
        raise ValueError(f"no streaming schema for table {table!r}")
    reader = (
        spark.readStream.schema(_SCHEMAS[table])
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(f"{cat.warehouse}/{table}")


def items_per_window(
    results_stream: DataFrame,
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Tumbling-window item counts per (task, rule) with a watermark —
    the late-data-tolerant monitoring aggregation.  State is bounded by
    the watermark: windows older than ``watermark`` past the max seen
    event time are finalized and evicted (at 100 TB this is what keeps a
    perpetual crawl's monitoring state from growing without bound)."""
    return (
        results_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "task", "rule")
        .agg(F.count("*").alias("n_items"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "task", "rule", "n_items",
        )
    )


def sessionize_stream(
    events_stream: DataFrame, gap_seconds: int = 1800,
) -> DataFrame:
    """Streaming gap-sessionization — the custom stateful operator shape
    (applyInPandasWithState): state per user_id holds the accumulated
    (epoch_s, event_id) pairs; each micro-batch folds its rows in and
    re-emits that user's sessions (output mode 'update').  The session
    algebra itself is the shared pure function sessions.sessionize_py,
    so the streaming operator and the batch window-SQL kernel
    (sessions.sessionize) cannot drift — equality is asserted in tests.

    Production notes: state grows with a user's history — a real
    deployment adds an event-time timeout (GroupStateTimeout.
    EventTimeTimeout + watermark) to close and evict idle sessions,
    exactly where this state would be trimmed to only the open session.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from .functions.sessions import sessionize_py

    out_schema = (
        "user_id long, session_no long, n_events long, start_s long, end_s long"
    )
    state_schema = "ss array<long>, es array<long>"

    def fn(key, pdfs, state: GroupState):
        pairs: list[tuple[int, int]] = []
        if state.exists:
            ss, es = state.get
            pairs = list(zip(ss, es))
        for pdf in pdfs:
            epoch = pd.to_datetime(pdf["ts"]).astype("int64") // 10**9
            pairs.extend(
                (int(s), int(e)) for s, e in zip(epoch, pdf["event_id"])
            )
        state.update(([p[0] for p in pairs], [p[1] for p in pairs]))
        sess = sessionize_py(pairs, gap_seconds)
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(sess),
                "session_no": [s[0] for s in sess],
                "n_events": [s[1] for s in sess],
                "start_s": [s[2] for s in sess],
                "end_s": [s[3] for s in sess],
            }
        )

    return events_stream.groupBy("user_id").applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def dedup_stream(
    docs_stream: DataFrame, id_col: str = "doc_id", fp_col: str = "fp",
) -> DataFrame:
    """Streaming exact dedup — the incremental twin of
    functions/dedup.dedup_exact: a document passes iff its fingerprint
    has not been seen in any earlier micro-batch (per-fp presence
    state); within one batch the smallest id wins.  When batches arrive
    id-ordered (the file source discovers snapshot files in path order),
    keep-first-across-batches == the batch kernel's keep-min-id — the
    equivalence tests assert set equality of survivors.

    Production notes: presence state grows with the distinct-fp count;
    a perpetual deployment bounds it the same way the batch engine
    does — the bloom seen-filter stage in front (crawler_spark/
    seen.py) keeps the exact state to the maybe-new minority — or
    evicts via event-time timeout where re-emission after N days is
    acceptable.  Input must already carry ``fp_col`` (scan-local
    fingerprint_md5) so the shuffle key is the hash, never the text."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = f"{fp_col} string, {id_col} long"
    state_schema = "seen boolean"

    def fn(key, pdfs, state: GroupState):
        mn = None
        for pdf in pdfs:
            if len(pdf):
                m = int(pdf[id_col].min())
                mn = m if mn is None or m < mn else mn
        if mn is not None and not state.exists:
            state.update((True,))
            yield pd.DataFrame({fp_col: [key[0]], id_col: [mn]})

    return docs_stream.groupBy(fp_col).applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def revisit_stream(
    fetches_stream: DataFrame,
    key_col: str = "url_id",
    digest_col: str = "digest",
    epoch_col: str = "epoch",
) -> DataFrame:
    """Streaming WARC revisit classification — the incremental twin of
    functions/snapshots.revisit_records: state per (url, digest) holds
    the first capture epoch; the first arrival is a ``response``, every
    later identical fetch a ``revisit`` pointing at it.  When batches
    arrive epoch-ordered (one crawl snapshot per micro-batch, which is
    exactly how a recrawl pipeline ingests), first-arrival == min-epoch,
    so the streaming output equals the batch kernel row-for-row — the
    equivalence test asserts it.

    Production notes: state is one long per DISTINCT (url, digest) —
    the same cardinality the batch kernel shuffles — and is the natural
    fit for event-time timeout eviction when the archive's revisit
    window is bounded (the WARC spec allows capping how far back a
    revisit may refer)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        f"{key_col} long, {epoch_col} long, {digest_col} string, "
        "record_type string, refers_to_epoch long"
    )
    state_schema = "first_epoch long"

    def fn(key, pdfs, state: GroupState):
        first = state.get[0] if state.exists else None
        epochs: list[int] = []
        for pdf in pdfs:
            epochs.extend(int(e) for e in pdf[epoch_col])
        if not epochs:
            return
        epochs.sort()
        if first is None:
            first = epochs[0]
        state.update((first,))
        yield pd.DataFrame({
            key_col: [key[0]] * len(epochs),
            epoch_col: epochs,
            digest_col: [key[1]] * len(epochs),
            "record_type": [
                "response" if e == first else "revisit" for e in epochs
            ],
            "refers_to_epoch": [first] * len(epochs),
        })

    return fetches_stream.groupBy(key_col, digest_col).applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def run_to_memory(
    df: DataFrame, query_name: str, timeout_sec: float = 120.0,
    mode: str | None = None,
) -> DataFrame:
    """Execute a streaming DataFrame with Trigger.AvailableNow into an
    in-memory sink and return the materialized result.  AvailableNow
    processes everything currently committed then stops — the streaming
    twin of a batch read, which is what makes the batch-vs-stream
    equivalence testable.  ``mode`` overrides the inferred output mode
    (stateful operators declare their own: sessionize_stream -> 'update')."""
    spark = df.sparkSession
    if mode is None:
        mode = "complete" if df.isStreaming and _has_aggregate(df) else "append"
    q = (
        df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_sec)
    return spark.table(query_name)


def _has_aggregate(df: DataFrame) -> bool:
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
    except Exception:
        return False
    return "Aggregate" in plan
