"""URL-seen membership: bloom pre-filter + exact anti-join (F4).

The reference's seen set is an exact in-memory ``map[string]bool`` keyed
md5(url+method) behind a mutex (/root/reference/engine/crawler.go:16-17,
163-177).  At 10^10 URLs the exact set must live in a table, and probing
it every round is a join against a huge build side — so a **bloom filter
pre-filter** splits candidates into "definitely new" (skip the join) and
"maybe seen" (exact anti-join confirms).  Bloom false positives therefore
cost a join probe, never a dropped URL (SURVEY.md §7 hard part 2).

Scale notes:
- the engine's one pre-filter is :class:`IncrementalBloom`, built
  *distributed* (per-partition numpy bitmaps OR-merged on the driver)
  and broadcast into the probe.  A round probes only once the seen set
  reaches ``CrawlConfig.bloom_min_seen``; the first such round (or the
  first after a resume) loads the filter from the seen table, later
  rounds OR their seen delta in, and the filter is rebuilt only on
  capacity saturation — never a full-table rebuild per round.  At
  10^10 keys a single filter would be ~10 GB, so production would
  additionally shard by Iceberg host-bucket and each executor load only
  its buckets' shards; the build takes any pre-filtered slice
  (``build_bloom(df, ...)``).
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_MIX = np.uint64(0x9E3779B97F4A7C15)  # odd constant -> second hash stream


class Bloom:
    """Vectorized bloom filter over int64 keys (numpy bit array)."""

    def __init__(self, m_bits: int, k: int, bits: np.ndarray | None = None):
        self.m_bits = m_bits
        self.k = k
        self.bits = bits if bits is not None else np.zeros((m_bits + 7) // 8, dtype=np.uint8)

    @staticmethod
    def sized(n_items: int, fpp: float = 0.01) -> "Bloom":
        n = max(n_items, 1)
        m = max(64, int(-n * math.log(fpp) / (math.log(2) ** 2)))
        k = max(1, round(m / n * math.log(2)))
        return Bloom(m, k)

    def _positions(self, keys: np.ndarray) -> np.ndarray:
        h1 = keys.astype(np.uint64)
        h2 = (h1 * _MIX) | np.uint64(1)
        idx = np.empty((self.k, len(keys)), dtype=np.uint64)
        for i in range(self.k):
            idx[i] = (h1 + np.uint64(i) * h2) % np.uint64(self.m_bits)
        return idx

    def add(self, keys: np.ndarray) -> None:
        if len(keys) == 0:
            return
        pos = self._positions(keys).ravel()
        np.bitwise_or.at(self.bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8))

    def contains(self, keys: np.ndarray) -> np.ndarray:
        if len(keys) == 0:
            return np.zeros(0, dtype=bool)
        pos = self._positions(keys)
        out = np.ones(len(keys), dtype=bool)
        for i in range(self.k):
            p = pos[i]
            out &= (self.bits[(p >> 3).astype(np.int64)] >> (p & 7).astype(np.uint8)) & 1 == 1
        return out

    def merge(self, other: "Bloom") -> None:
        assert (self.m_bits, self.k) == (other.m_bits, other.k)
        np.bitwise_or(self.bits, other.bits, out=self.bits)


def build_bloom_bits(df: DataFrame, key_col: str, m_bits: int, k: int) -> Bloom:
    """Distributed build at a FIXED geometry: one partial bitmap per
    partition, OR-merged on the driver."""

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        b = Bloom(m_bits, k)
        any_rows = False
        for pdf in batches:
            if len(pdf):
                any_rows = True
                b.add(pdf[key_col].to_numpy(dtype=np.int64))
        if any_rows:
            yield pd.DataFrame({"bits": [b.bits.tobytes()]})

    parts = df.select(key_col).mapInPandas(partial, schema="bits binary").collect()
    out = Bloom(m_bits, k)
    for row in parts:
        out.merge(Bloom(m_bits, k, np.frombuffer(row.bits, dtype=np.uint8).copy()))
    return out


def build_bloom(df: DataFrame, key_col: str, n_items: int, fpp: float = 0.01) -> Bloom:
    """Distributed build sized for ``n_items`` at ``fpp``."""
    proto = Bloom.sized(n_items, fpp)
    return build_bloom_bits(df, key_col, proto.m_bits, proto.k)


class IncrementalBloom:
    """Long-lived bloom seen pre-filter maintained ACROSS rounds (the
    engine's pre-filter when ``CrawlConfig.use_bloom``).

    Rebuilding the filter from the FULL seen table every round would be
    a whole-table scan plus full-bitmap build per round, which at a
    10^10-row seen set is the round's dominant fixed cost.  So the
    round's seen delta is OR-merged in (partial bitmaps per partition,
    identical distributed build), and the filter is rebuilt from the
    seen table only when inserts saturate the sized capacity — capacity
    doubles on rebuild, so rebuild work is amortized O(1) scans over the
    crawl, exactly Iceberg-compaction economics.  Bloom semantics keep
    this exactness-free: false positives only cost the confirming
    anti-join probe, and OR-merging can never create a false negative.
    """

    def __init__(self, capacity: int, fpp: float = 0.01):
        self.capacity = max(int(capacity), 1024)
        self.fpp = fpp
        self.bloom = Bloom.sized(self.capacity, fpp)
        self.n = 0

    # vectorized probe for dedup_candidates / split_by_filter
    def contains_many(self, keys: np.ndarray) -> np.ndarray:
        return self.bloom.contains(np.asarray(keys, dtype=np.int64))

    def saturated_by(self, n_more: int) -> bool:
        return self.n + n_more > self.capacity

    def or_delta(self, delta_df: DataFrame, n_new: int) -> None:
        """OR the round's new keys in, at the filter's fixed geometry."""
        if n_new <= 0:
            return
        part = build_bloom_bits(
            delta_df, "url_hash", self.bloom.m_bits, self.bloom.k
        )
        self.bloom.merge(part)
        self.n += n_new

    def rebuild_from(self, seen_df: DataFrame, n_total: int) -> None:
        """Re-size to 2x the current membership and rebuild from the
        authoritative seen table (first load / resume / saturation)."""
        self.capacity = max(2 * int(n_total), 1024)
        self.bloom = build_bloom(
            seen_df, "url_hash", n_items=self.capacity, fpp=self.fpp
        )
        self.n = int(n_total)


def split_by_filter(
    candidates: DataFrame, approx_contains, key_col: str = "url_hash",
    bc_sink: list | None = None,
) -> tuple[DataFrame, DataFrame]:
    """-> (definitely_new, maybe_seen) for a vectorized approximate-
    membership probe ``approx_contains(np.int64[:]) -> bool[:]`` (the
    engine passes ``IncrementalBloom.contains_many``).  The probe runs as
    an Arrow-batched pandas UDF over the broadcast filter state;
    exactness is restored downstream by the anti-join on maybe_seen only.
    ``bc_sink``: the broadcast handle is appended so the caller can
    destroy it once the round's actions are done — without it a 64-round
    crawl accrues one filter broadcast per round on driver and
    executors."""
    spark = candidates.sparkSession
    bc = spark.sparkContext.broadcast(approx_contains)
    if bc_sink is not None:
        bc_sink.append(bc)

    @F.pandas_udf("boolean")
    def might_contain(keys: pd.Series) -> pd.Series:
        return pd.Series(bc.value(keys.to_numpy(dtype=np.int64)))

    flagged = candidates.withColumn("_maybe", might_contain(F.col(key_col)))
    return (
        flagged.where(~F.col("_maybe")).drop("_maybe"),
        flagged.where(F.col("_maybe")).drop("_maybe"),
    )


def dedup_candidates(
    candidates: DataFrame,
    seen_df: DataFrame,
    seen_count: int,
    prefilter: IncrementalBloom | None = None,
    bc_sink: list | None = None,
) -> DataFrame:
    """Exact F4 semantics: candidates minus seen (left anti on url_hash).
    With a ``prefilter`` (a bloom already holding every seen key), only
    its "maybe seen" split meets the exact anti-join; "definitely new"
    rows skip it.  False positives therefore cost an exact-join probe,
    never a dropped URL.  The caller decides whether a round probes
    (``CrawlConfig.bloom_min_seen``); this function only builds the
    plan — the probe runs when the result is first executed."""
    if seen_count == 0:
        return candidates
    seen_keys = seen_df.select("url_hash")
    if prefilter is None:
        return candidates.join(seen_keys, on="url_hash", how="left_anti")
    fresh, maybe = split_by_filter(
        candidates, prefilter.contains_many, bc_sink=bc_sink
    )
    confirmed = maybe.join(seen_keys, on="url_hash", how="left_anti")
    return fresh.unionByName(confirmed)


_MD5_SLICE_POSITIONS = 16 ** 3  # one 3-hex-digit slice: positions 0..4095
_MD5_SLICES = 32 // 3  # whole 3-hex slices in a 32-hex md5 digest


def bloom_fpr_stats(
    members: DataFrame,
    probes: DataFrame,
    key_col: str = "key",
    m_bits: int = 2048,
    k: int = 4,
) -> DataFrame:
    """Relational twin of the bloom membership mechanism, built so the
    whole filter — bit positions, saturation, false-positive rate —
    is oracle-replayable: positions come from k 3-hex-digit md5 slices
    (``% m_bits``) instead of the production numpy double-hash family
    (:class:`Bloom`), the cross-engine md5 trick the sketch family
    documents.  The *mechanism* pinned here is exactly what the
    engine's pre-filter relies on: no member can miss (every member
    sets its own positions — the no-false-negative guarantee that
    makes bloom safe as a pre-filter in front of the exact anti-join,
    SURVEY §7 hard part 2), and non-member hits happen at a rate
    governed by saturation, compared against the analytic
    ``(bits_set/m)^k`` expectation.

    Returns ONE row: ``(n_members, bits_set, n_probes, n_false_pos,
    fpr_milli, expected_fpr_milli)`` where probes are assumed disjoint
    from members (every probe hit is a false positive).

    Scale shape: the bit table is ``distinct pos`` — at most m_bits
    rows however many members stream in (build is a bounded
    aggregation, the same property the numpy build gets from fixed
    bitmaps); probes explode to <= k rows each and join the
    m_bits-bounded bit table (broadcast).  The production engine keeps
    the numpy bitmap + mapInPandas probe (seen.Bloom) for constant
    factors; this twin exists for the correctness contract.

    Geometry limits: a 3-hex slice addresses 4096 positions and the
    32-hex md5 holds 10 whole slices, so ``1 <= m_bits <= 4096`` and
    ``1 <= k <= 10`` (ValueError otherwise).  An empty probe frame
    reports ``n_false_pos = fpr_milli = 0``.  ``expected_fpr_milli`` is
    ``floor(1000 * r^k)`` with ``r = bits_set / m_bits`` multiplied out
    in doubles, left to right — no long product to overflow.
    """
    if not 1 <= m_bits <= _MD5_SLICE_POSITIONS:
        raise ValueError(
            f"m_bits={m_bits}: 3-hex md5 slices address only "
            f"1..{_MD5_SLICE_POSITIONS} bits"
        )
    if not 1 <= k <= _MD5_SLICES:
        raise ValueError(f"k={k}: a 32-hex md5 holds only {_MD5_SLICES} 3-hex slices")

    def pos(i: int) -> F.Column:
        return (
            F.conv(
                F.substring(F.md5(F.col(key_col)), 3 * i + 1, 3), 16, 10
            ).cast("int")
            % m_bits
        )

    karr = F.array_distinct(F.array(*[pos(i) for i in range(k)]))
    bitpos = (
        members.select(F.explode(karr).alias("pos")).distinct()
    )
    nm = members.agg(F.count(F.lit(1)).cast("long").alias("n_members"))
    bs = bitpos.agg(F.count(F.lit(1)).cast("long").alias("bits_set"))

    pr = probes.select(
        F.col(key_col).alias("pkey"),
        karr.alias("pp"),
        F.size(karr).alias("np"),
    )
    hits = (
        pr.select("pkey", "np", F.explode("pp").alias("pos"))
        .join(F.broadcast(bitpos.withColumn("hit", F.lit(1))), "pos", "left")
        .groupBy("pkey", "np")
        .agg(F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("nhit"))
    )
    agg = hits.agg(
        F.count(F.lit(1)).cast("long").alias("n_probes"),
        F.sum(
            F.when(F.col("nhit") == F.col("np"), F.lit(1)).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("n_false_pos"),
    )
    ratio = F.col("bits_set").cast("double") / F.lit(float(m_bits))
    power = ratio
    for _ in range(k - 1):
        power = power * ratio
    n_false_pos = F.coalesce(F.col("n_false_pos"), F.lit(0).cast("long"))
    return (
        nm.crossJoin(F.broadcast(bs))
        .crossJoin(F.broadcast(agg))
        .select(
            "n_members",
            "bits_set",
            "n_probes",
            n_false_pos.alias("n_false_pos"),
            F.when(
                F.col("n_probes") > 0,
                F.floor(n_false_pos * F.lit(1000) / F.col("n_probes")),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("fpr_milli"),
            F.floor(power * F.lit(1000.0)).cast("long").alias("expected_fpr_milli"),
        )
    )
