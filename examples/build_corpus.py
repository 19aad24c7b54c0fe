#!/usr/bin/env python3
"""End-to-end training-corpus build: the composition a user of the
reference switching to this repo runs after the crawl.

    spark-submit --py-files dist/crawler_spark.zip \
        examples/build_corpus.py --docs /data/documents.parquet \
        --out /data/corpus --budget-tokens 200000 --shards 8

Funnel (every stage is a verified contract operator; counts for each
stage land in <out>/stats.json):

    encoding gate (mojibake)  ->  unicode normalization
      ->  soft-404 gate  ->  badwords page gate
      ->  C4-style quality keep  ->  Gopher document rules
      ->  exact dedup  ->  MinHash+LSH near-dup clusters (keep lowest)
      ->  token-budget selection (best-quality-first, no global sort)
      ->  leakage-free registrable-domain train/dev/test split
      ->  deterministic shard assignment, written partitioned by
          (split, shard)

Each gate here is joined by doc_id for clarity; all four flag kernels
are scan-local projections, so a production build fuses them into one
pass (see corpus_clean / fuzzy_dedup_e2e in entry_queries for the
fused shapes the contract verifies).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def _stage(df, counts: dict, name: str):
    """Compute one gate's survivors once and count them.  The eager
    local checkpoint cuts the lineage, so the next gate, its count and
    the final write read these rows instead of re-running every gate
    before them.  Spark's context cleaner frees the blocks once the frame
    is garbage-collected."""
    df = df.localCheckpoint(eager=True)
    counts[name] = df.count()
    return df


def build(spark, docs, budget_tokens: int, n_shards: int,
          host_col: str = "source"):
    """Run the funnel; returns (final DataFrame, per-stage counts)."""
    from crawler_spark.functions import dedup, graph, hoststats, textops

    counts = {"input": docs.count()}

    moji = textops.mojibake_stats(docs).where(~F.col("is_mojibake"))
    docs = docs.join(moji.select("doc_id"), "doc_id", "left_semi")
    docs = _stage(docs, counts, "encoding_gate")

    # normalize AFTER the encoding gate (mojibake wants raw text) and
    # BEFORE anything fingerprint-based: typographic variants must not
    # fragment dedup fingerprints or token counts downstream.
    docs = docs.withColumn(
        "text", textops.normalize_unicode_col(F.col("text"))
    )

    s404 = textops.soft404_detect(
        docs.withColumn("__title", F.lit("")), title_col="__title"
    ).where(~F.col("is_soft404"))
    docs = docs.join(s404.select("doc_id"), "doc_id", "left_semi")
    docs = _stage(docs, counts, "soft404_gate")

    bad = textops.badwords_stats(docs).where(~F.col("is_flagged"))
    docs = docs.join(bad.select("doc_id"), "doc_id", "left_semi")
    docs = _stage(docs, counts, "badwords_gate")

    quality = textops.quality_features(docs).where(F.col("keep"))
    docs = docs.join(quality.select("doc_id"), "doc_id", "left_semi")
    docs = _stage(docs, counts, "quality_gate")

    gopher = textops.gopher_quality(docs).where(F.col("keep"))
    docs = docs.join(gopher.select("doc_id"), "doc_id", "left_semi")
    docs = _stage(docs, counts, "gopher_gate")

    docs = dedup.dedup_exact(docs, "doc_id").where(~F.col("is_dup")).drop(
        "fp", "is_dup"
    )
    docs = _stage(docs, counts, "exact_dedup")

    pairs = dedup.minhash_lsh_dedup(docs, "doc_id").select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    )
    comps = graph.connected_components(pairs)
    losers = comps.where(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    docs = docs.join(losers, "doc_id", "left_anti")
    docs = _stage(docs, counts, "near_dedup")

    scored = quality.select(
        "doc_id",
        F.col("stop_ratio_micro").alias("score_micro"),
        F.col("n_tokens_ws").alias("n_tokens"),
    ).join(docs.select("doc_id"), "doc_id", "left_semi")
    kept = textops.select_to_token_budget(scored, budget_tokens).where(
        F.col("kept")
    )
    docs = docs.join(kept.select("doc_id"), "doc_id", "left_semi")
    docs = _stage(docs, counts, "token_budget")

    docs = hoststats.domain_split(docs, host_col=host_col)
    sharded = textops.assign_shards(docs.select("doc_id"), n_shards)
    out = _stage(docs.join(sharded, "doc_id"), counts, "output")
    return out, counts


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--docs", required=True, help="documents parquet path")
    ap.add_argument("--out", required=True, help="output directory")
    ap.add_argument("--budget-tokens", type=int, default=1_000_000)
    ap.add_argument("--shards", type=int, default=8)
    ap.add_argument("--host-col", default="source")
    ap.add_argument("--cores", type=int, default=None)
    args = ap.parse_args()

    from crawler_spark.session import get_spark

    cores = args.cores or int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    spark = get_spark("build_corpus", cores=cores, shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")

    docs = spark.read.parquet(args.docs)
    out, counts = build(
        spark, docs, args.budget_tokens, args.shards, host_col=args.host_col
    )
    (
        out.repartition(args.shards, "shard")
        .sortWithinPartitions("shard", "pos")
        .write.mode("overwrite")
        .partitionBy("split", "shard")
        .parquet(os.path.join(args.out, "shards"))
    )
    with open(os.path.join(args.out, "stats.json"), "w") as f:
        json.dump(counts, f, indent=2)
    print(json.dumps(counts))
    return 0


if __name__ == "__main__":
    sys.exit(main())
