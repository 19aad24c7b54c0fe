"""seen.bloom_fpr_stats: the no-false-negative guarantee (probing the
member set itself hits every time), plus exact parity against a
plain-Python md5 replay of positions, saturation and the analytic
expectation at several geometries; the empty-probe and out-of-range
geometry edges.
"""

from __future__ import annotations

import hashlib
import math
import os
import random
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from crawler_spark import seen  # noqa: E402


def _positions(key, m, k):
    h = hashlib.md5(key.encode()).hexdigest()
    return {int(h[3 * i: 3 * i + 3], 16) % m for i in range(k)}


def _py_stats(members, probes, m=2048, k=4):
    bits = set()
    for key in members:
        bits |= _positions(key, m, k)
    nfp = sum(1 for p in probes if _positions(p, m, k) <= bits)
    ratio = len(bits) / m
    power = ratio
    for _ in range(k - 1):
        power *= ratio
    return {
        "n_members": len(members),
        "bits_set": len(bits),
        "n_probes": len(probes),
        "n_false_pos": nfp,
        "fpr_milli": math.floor(nfp * 1000 / len(probes)) if probes else 0,
        "expected_fpr_milli": math.floor(power * 1000.0),
    }


def _spark_stats(spark, members, probes, **geometry):
    mdf = spark.createDataFrame([(x,) for x in members], "key string")
    pdf = spark.createDataFrame([(x,) for x in probes], "key string")
    return seen.bloom_fpr_stats(mdf, pdf, "key", **geometry).collect()[0].asDict()


def test_members_never_miss(spark):
    members = [f"u{i}" for i in range(120)]
    got = _spark_stats(spark, members, members)
    # probing the member set: every probe hits all its own positions
    assert got["n_false_pos"] == got["n_probes"] == 120


def test_randomized_parity(spark):
    rng = random.Random(909)
    for trial in range(3):
        nm = rng.randint(20, 400)
        members = [f"m{rng.randrange(10**6)}" for _ in range(nm)]
        probes = sorted({f"p{rng.randrange(10**6)}" for _ in range(nm)})
        assert _spark_stats(spark, sorted(set(members)), probes) == _py_stats(
            sorted(set(members)), probes
        ), f"t={trial}"


def test_k3_parity(spark):
    """The analytic expectation follows k: (bits_set/m)^3 here, not a
    fixed 4th power."""
    members = sorted({f"m{i * 7}" for i in range(300)})
    probes = sorted({f"p{i * 11}" for i in range(300)})
    got = _spark_stats(spark, members, probes, k=3)
    assert got == _py_stats(members, probes, k=3)
    r = got["bits_set"] / 2048
    assert got["expected_fpr_milli"] == math.floor(r * r * r * 1000)


def test_wide_geometry_does_not_overflow(spark):
    """m=4096, k=10: bits_set^k * 1000 is far past a long; the expectation
    must still match the Python replay and stay a rate in [0, 1000]."""
    members = [f"m{i}" for i in range(2000)]
    probes = [f"p{i}" for i in range(400)]
    got = _spark_stats(spark, members, probes, m_bits=4096, k=10)
    assert got["bits_set"] ** 10 * 1000 > 2**63
    assert got == _py_stats(members, probes, m=4096, k=10)
    assert 0 < got["expected_fpr_milli"] <= 1000


def test_empty_probes_give_zero_rate(spark):
    got = _spark_stats(spark, ["a", "b"], [])
    assert got["n_probes"] == 0
    assert got["n_false_pos"] == 0
    assert got["fpr_milli"] == 0


def test_unaddressable_geometry_rejected(spark):
    mdf = spark.createDataFrame([("a",)], "key string")
    for geometry in ({"m_bits": 4097}, {"m_bits": 0}, {"k": 11}, {"k": 0}):
        with pytest.raises(ValueError):
            seen.bloom_fpr_stats(mdf, mdf, "key", **geometry)
