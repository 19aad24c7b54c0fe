"""Training-data pipeline operators (web-scale corpus processing).

Beyond the reference's crawl operators, a 100 TB training-data pipeline
needs dedup / text-analysis / link-graph stages.  The modules an entry
point (``main.py`` or ``examples/``) uses: ``dedup``, ``textops``,
``graph`` and ``hoststats`` by the corpus build, ``graph`` and
``anchors`` by the trust and focused crawls, ``sketches`` by the crawl
monitor.  ``snapshots`` and ``hreflang`` are reached only from the
contract rows and tests; ``tests/test_package.py`` walks the imports
from the entry points and names exactly these two, so one that gains a
caller or is deleted must leave that list.  All hot paths are built-in
Spark SQL expressions (JVM, codegen); Python appears only as
Arrow-batched pandas UDFs where Spark lacks the primitive (simhash
bit-banging, winnowing).
"""

from pyspark.sql import DataFrame


def fan_out(df: DataFrame) -> DataFrame:
    """Spread a SMALL scan across the session's cores before
    per-row-heavy compute (Arrow fingerprint passes, shingle explodes).

    A production 100 TB table arrives as thousands of splits, so this is
    a NO-OP at scale (the gate: plan parallelism already >= session
    default parallelism).  Locally, a KB-scale parquet file is ONE split
    — Spark's split math (min(maxPartitionBytes, max(openCostInBytes,
    bytes/minPartitionNum))) never divides a file under openCostInBytes,
    and a single-row-group parquet can't split anyway — which serializes
    every downstream per-row kernel on one core until the first shuffle.
    One tiny round-robin exchange (the input is small by the same gate)
    buys full parallelism for the expensive stage that follows.

    The gate reads the physical plan's partition count (no job runs).
    """
    if df.isStreaming:  # micro-batch sizing is the stream's own knob
        return df
    sc = df.sparkSession.sparkContext
    cores = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= cores:
        return df
    return df.repartition(cores)
