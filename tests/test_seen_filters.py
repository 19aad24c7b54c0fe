"""Bloom membership structures + dedup exactness (F4)."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from crawler_spark.seen import (
    Bloom,
    IncrementalBloom,
    dedup_candidates,
    split_by_filter,
)

I64 = st.integers(min_value=-(1 << 63), max_value=(1 << 63) - 1)


@settings(max_examples=50, deadline=None)
@given(st.lists(I64, min_size=0, max_size=200), st.lists(I64, min_size=0, max_size=50))
def test_bloom_no_false_negatives(members, probes):
    b = Bloom.sized(len(members) or 1, fpp=0.01)
    b.add(np.array(members, dtype=np.int64))
    got = b.contains(np.array(members, dtype=np.int64))
    assert got.all()  # no false negatives ever


def test_bloom_fpp_reasonable():
    rng = np.random.default_rng(42)
    members = rng.integers(-(1 << 62), 1 << 62, size=20_000, dtype=np.int64)
    others = rng.integers(-(1 << 62), 1 << 62, size=20_000, dtype=np.int64)
    others = np.setdiff1d(others, members)
    b = Bloom.sized(len(members), fpp=0.01)
    b.add(members)
    fp = b.contains(others).mean()
    assert fp < 0.03, fp


def test_distributed_bloom_build_and_split(spark):
    seen_keys = list(range(0, 2000, 2))
    cand_keys = list(range(0, 3000, 3))
    seen_df = spark.createDataFrame([(k,) for k in seen_keys], "url_hash long")
    cand_df = spark.createDataFrame([(k,) for k in cand_keys], "url_hash long")
    bloom = IncrementalBloom(capacity=1024)
    bloom.rebuild_from(seen_df, len(seen_keys))
    fresh, maybe = split_by_filter(cand_df, bloom.contains_many)
    fresh_keys = {r.url_hash for r in fresh.collect()}
    # nothing actually seen may land in "definitely new"
    assert not (fresh_keys & set(seen_keys))
    # union is a partition of candidates
    maybe_keys = {r.url_hash for r in maybe.collect()}
    assert fresh_keys | maybe_keys == set(cand_keys)
    assert not (fresh_keys & maybe_keys)


def test_dedup_candidates_exact(spark):
    seen_df = spark.createDataFrame([(k,) for k in range(0, 100, 2)], "url_hash long")
    cand = spark.createDataFrame([(k, f"u{k}") for k in range(100)], "url_hash long, url string")
    bloom = IncrementalBloom(capacity=1024)
    bloom.rebuild_from(seen_df, 50)
    for prefilter in (None, bloom):
        out = dedup_candidates(cand, seen_df, seen_count=50, prefilter=prefilter)
        keys = sorted(r.url_hash for r in out.collect())
        assert keys == list(range(1, 100, 2)), prefilter


def test_incremental_bloom_no_false_negatives_across_deltas(spark):
    """IncrementalBloom: OR-merged per-round deltas can never develop a
    false negative, and the saturation rebuild keeps every key while
    doubling capacity."""
    ib = IncrementalBloom(capacity=2048, fpp=0.01)
    all_keys: list[int] = []
    for r in range(5):
        batch = list(range(r * 700, (r + 1) * 700))
        all_keys += batch
        if ib.saturated_by(len(batch)):
            seen_df = _keys_df(spark, all_keys)
            cap_before = ib.capacity
            ib.rebuild_from(seen_df, len(all_keys))
            assert ib.capacity >= 2 * cap_before or ib.capacity >= 2 * len(all_keys)
        else:
            ib.or_delta(_keys_df(spark, batch), len(batch))
        got = ib.contains_many(np.array(all_keys, dtype=np.int64))
        assert got.all(), f"round {r}: {(~got).sum()} false negatives"
    # fpp sanity on the final filter
    others = np.arange(10_000, 30_000, dtype=np.int64)
    assert ib.contains_many(others).mean() < 0.05


def _keys_df(spark, keys):
    return spark.createDataFrame([(int(k),) for k in keys], "url_hash long")
