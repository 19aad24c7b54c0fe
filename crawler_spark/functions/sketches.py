"""Cardinality / frequency sketches: HyperLogLog distinct counting and
Count-Min frequency estimation — the sublinear-memory operators a
100 TB frontier needs for "how many distinct URLs per host" and "which
tokens are heavy" questions where exact groupBy-distinct would shuffle
the full key universe.

Integer-exact by construction so the DuckDB oracle can replay every
step hash-for-hash:

- the item hash is md5 (identical hex in both engines — the same
  cross-engine trick the minhash/simhash family documents; swap in
  xxhash64 for production speed, one line);
- the HLL register rank (leading-zero count) is computed from the HEX
  DIGITS of the register word with string ops + a 16-way CASE, never
  via float log2, so there is no correctly-rounded-transcendental
  hazard anywhere;
- the final estimator division is the one long->double division both
  engines round identically (IEEE 754, the bm25 discipline).

HLL estimator (Flajolet et al., AofA'07): m registers, register j
keeps M_j = max rank; E = alpha_m * m^2 / sum_j 2^(-M_j).  We use the
RAW estimator (no small/large-range correction — those need ln); the
contract row therefore reports the raw estimate alongside the exact
count and the observed per-key relative error, which is what pins the
implementation.

Scale shape (the whole point): one groupBy (key, register) max — the
shuffle carries AT MOST m rows per key regardless of input size, i.e.
the sketch *is* the map-side combiner — then one m-row-per-key sum.
Register densification (empty registers count 2^0) joins against a
keys x m frame built from the agg output itself; nothing is collected.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# m = 64 registers (p = 6 bits), 24-bit register words from hex digits
# 3..8 of md5; rank in 1..25.  alpha_64 = 0.7213/(1 + 1.079/64) =
# 0.70934 -> 709 milli (the Flajolet et al. constant for m = 64).
HLL_M = 64
HLL_WORD_BITS = 24
HLL_ALPHA_MILLI = 709


def _hll_rank(word_hex: F.Column) -> F.Column:
    """Rank = leading zero bits of the 24-bit word + 1, from hex
    digits: each leading '0' digit contributes 4 bits; the first
    nonzero digit d contributes {1:3, 2-3:2, 4-7:1, 8-f:0} more."""
    lz = F.length(F.regexp_extract(word_hex, "^(0*)", 1))
    d = F.concat(word_hex, F.lit("x")).substr(lz + 1, F.lit(1))
    extra = (
        F.when(d == "1", F.lit(3))
        .when(d.isin("2", "3"), F.lit(2))
        .when(d.isin("4", "5", "6", "7"), F.lit(1))
        .otherwise(F.lit(0))
    )
    return (lz * 4 + extra + 1).cast("int")


def hll_registers(
    df: DataFrame, key_cols: list[str], value_col: str
) -> DataFrame:
    """Sparse register table ``key_cols + (reg, m)`` — max rank per
    (key, register).  This IS the sketch state: at most HLL_M rows per
    key, and register tables from disjoint (or overlapping) shards
    merge by register-wise MAX into exactly the table the whole input
    would produce — the mergeability that lets 1000 executors sketch
    independently and combine (pinned by the hll_merge contract row).
    """
    h = F.md5(F.col(value_col).cast("string"))
    reg = (F.conv(F.substring(h, 1, 2), 16, 10).cast("int") % HLL_M).alias(
        "reg"
    )
    rank = _hll_rank(F.substring(h, 3, HLL_WORD_BITS // 4)).alias("rank")
    return (
        df.select(*key_cols, reg, rank)
        .groupBy(*key_cols, "reg")
        .agg(F.max("rank").alias("m"))
    )


def hll_estimate(regs: DataFrame, key_cols: list[str]) -> DataFrame:
    """Raw-HLL estimate from a (possibly merged) register table:
    densify empty registers to rank 0, S = sum 2^(maxrank - M_j),
    E = alpha*m^2*2^maxrank / S via the identically-rounded
    long->double division + floor.  Returns ``key_cols + (hll_est)``.
    """
    keys = regs.select(*key_cols).distinct()
    dense = keys.select(
        *key_cols,
        F.explode(F.sequence(F.lit(0), F.lit(HLL_M - 1))).alias("reg"),
    ).join(regs, [*key_cols, "reg"], "left").select(
        *key_cols, F.coalesce(F.col("m"), F.lit(0)).alias("m")
    )
    maxrank = HLL_WORD_BITS + 1
    numer = HLL_ALPHA_MILLI * HLL_M * HLL_M * (1 << maxrank)
    s = dense.groupBy(*key_cols).agg(
        F.sum(
            F.expr(f"shiftleft(cast(1 as bigint), {maxrank} - m)")
        ).alias("s")
    )
    return s.select(
        *key_cols,
        F.floor(F.lit(numer) / (F.lit(1000) * F.col("s")))
        .cast("long")
        .alias("hll_est"),
    )


def hll_distinct(
    df: DataFrame, key_cols: list[str], value_col: str
) -> DataFrame:
    """Raw-HLL distinct-count estimate of ``value_col`` per key group.
    Returns ``key_cols + (hll_est: long)``.  64 registers (~6.5%
    expected standard error); integer-exact, oracle-replayable.
    Composition of :func:`hll_registers` + :func:`hll_estimate`.
    """
    return hll_estimate(hll_registers(df, key_cols, value_col), key_cols)


# --------------------------------------------------------------- count-min
# d = 4 hash rows x w = 64 buckets; row r's bucket comes from hex
# digits (2r+1, 2r+2) of the item's md5 — four independent-enough
# slices of one hash evaluation (the simhash-chunks trick).
CM_D = 4
CM_W = 64


def _cm_bucket(item: F.Column, r: int) -> F.Column:
    return (
        F.conv(F.substring(F.md5(item), 2 * r + 1, 2), 16, 10).cast("int")
        % CM_W
    )


def count_min_sketch(df: DataFrame, value_col: str) -> DataFrame:
    """Build a Count-Min sketch (Cormode & Muthukrishnan, J.Alg'05)
    over the occurrences of ``value_col``: returns the d*w = 256-row
    table ``(r, b, cnt)`` — constant size however many occurrences
    stream through, which is the point: the shuffle reduces to 256
    keys with map-side combine, vs a full groupBy over the term
    universe.  Estimates only ever OVER-count (collisions add), never
    under — the guarantee the contract row pins against exact counts.
    """
    item = F.col(value_col).cast("string")
    rows = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        _cm_bucket(item, r).alias("b"),
                    )
                    for r in range(CM_D)
                ]
            )
        ).alias("rb")
    )
    return rows.groupBy(
        F.col("rb.r").alias("r"), F.col("rb.b").alias("b")
    ).agg(F.count(F.lit(1)).alias("cnt"))


def count_min_estimate(sketch: DataFrame, probes: DataFrame,
                       term_col: str = "term") -> DataFrame:
    """Point-estimate each probe term from a built sketch: est =
    min over the d rows of the term's bucket counter.  Adds
    ``cm_est`` to every probe row; missing counters (bucket never hit)
    and null terms count 0.  Only the term column enters the probe
    explode, so the probe frame may carry any other columns.  The
    sketch side is 256 rows — broadcast by size automatically."""
    t = F.col(term_col).cast("string")
    keyed = probes.select(
        term_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"), _cm_bucket(t, r).alias("b")
                    )
                    for r in range(CM_D)
                ]
            )
        ).alias("rb"),
    ).select(term_col, F.col("rb.r").alias("r"), F.col("rb.b").alias("b"))
    est = (
        keyed.join(F.broadcast(sketch), ["r", "b"], "left")
        .groupBy(term_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cm_est"))
    )
    # left join: a null term matches no estimate row and gets 0
    return probes.join(est, term_col, "left").withColumn(
        "cm_est", F.coalesce(F.col("cm_est"), F.lit(0))
    )
