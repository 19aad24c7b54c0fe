"""sketches.count_min_sketch / count_min_estimate: the never-undercount
guarantee, constant sketch size, and exact parity against a
plain-Python md5 replay of bucket assignment + min-over-rows estimate.
"""

from __future__ import annotations

import hashlib
import os
import random
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from crawler_spark.functions import sketches  # noqa: E402


def _py_cm(values, probes):
    sk = Counter()
    for v in values:
        h = hashlib.md5(str(v).encode()).hexdigest()
        for r in range(4):
            sk[(r, int(h[2 * r: 2 * r + 2], 16) % 64)] += 1
    out = {}
    for t in probes:
        h = hashlib.md5(str(t).encode()).hexdigest()
        out[t] = min(
            sk.get((r, int(h[2 * r: 2 * r + 2], 16) % 64), 0)
            for r in range(4)
        )
    return out


def _spark_cm(spark, values, probes):
    df = spark.createDataFrame([(v,) for v in values], "term string")
    pr = spark.createDataFrame([(p,) for p in probes], "term string")
    sk = sketches.count_min_sketch(df, "term")
    assert sk.count() <= 256  # constant size whatever streamed in
    return {
        r["term"]: r["cm_est"]
        for r in sketches.count_min_estimate(sk, pr).collect()
    }


def test_never_undercounts_and_heavy_hitter_visible(spark):
    vals = ["zeta"] * 500 + [f"tail{i}" for i in range(300)]
    exact = Counter(vals)
    got = _spark_cm(spark, vals, ["zeta", "tail7", "absent"])
    assert got["zeta"] >= 500
    assert got["tail7"] >= 1
    # collisions only ever ADD
    for t in ("zeta", "tail7"):
        assert got[t] >= exact[t]


def test_randomized_parity(spark):
    rng = random.Random(808)
    for trial in range(3):
        vals = [f"w{rng.randrange(80)}" for _ in range(rng.randint(50, 400))]
        probes = sorted({rng.choice(vals) for _ in range(8)} | {"missing"})
        assert _spark_cm(spark, vals, probes) == _py_cm(
            vals, probes
        ), f"t={trial}"


def test_estimate_keeps_extra_columns_and_null_terms(spark):
    """A probe frame may carry columns named like the kernel's internal
    ones (r, b, rb), and a null term is kept with cm_est 0."""
    sk = sketches.count_min_sketch(
        spark.createDataFrame([("a",), ("a",), ("b",)], "term string"), "term"
    )
    pr = spark.createDataFrame(
        [("a", 1, 2, 3), ("b", 4, 5, 6), (None, 7, 8, 9)],
        "term string, r int, b int, rb int",
    )
    got = sorted(
        (x["term"] or "", x["r"], x["b"], x["rb"], x["cm_est"])
        for x in sketches.count_min_estimate(sk, pr).collect()
    )
    want = _py_cm(["a", "a", "b"], ["a", "b"])
    assert got == [("", 7, 8, 9, 0), ("a", 1, 2, 3, want["a"]),
                   ("b", 4, 5, 6, want["b"])]
