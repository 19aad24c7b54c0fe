"""Deduplication suite: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Design notes (100 TB scale):

- **exact**: groupBy(md5(normalized text)) keep min id.  One shuffle on
  the fingerprint; map-side partial aggregation applies.
- **n-gram Jaccard**: never all-pairs — the *inverted-index* join
  (doc,shingle) self-joined on shingle only pairs documents that share a
  shingle, then jaccard = |∩| / (|A|+|B|-|∩|).  Shuffle is bounded by
  posting-list sizes; a stop-shingle cap (drop shingles appearing in
  > max_df docs) bounds the quadratic blowup exactly like stop-words.
- **MinHash+LSH**: H=32 md5 min-hashes -> 8 bands x 4 rows; band
  signature equality proposes candidates; exact Jaccard verifies.
  md5 (not xxhash) is used for the signatures so the DuckDB oracle can
  reproduce the *identical* candidate set — at production scale swap in
  xxhash64 seeds for speed (one-line change in ``_minhash_col``).
- **SimHash**: 64-bit signature from token xxhashes via a vectorized
  pandas UDF; near-dup = signatures within Hamming distance d (banded
  into 4 x 16-bit chunks for blocking).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .textops import fingerprint_md5


# ---------------------------------------------------------------- exact
def dedup_exact(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Keep the lowest-id document per exact (normalized) fingerprint.
    Adds ``fp`` and ``is_dup``; survivors have is_dup = false."""
    out = df.withColumn("fp", fingerprint_md5(F.col(text_col)))
    w = Window.partitionBy("fp").orderBy(F.col(id_col).asc())
    return out.withColumn("is_dup", F.row_number().over(w) > 1)


# ------------------------------------------------------------- shingles
# At most TWO live shingle caches module-wide (LRU), keyed by
# canonicalized plan hash: the Jaccard and MinHash queries over the same
# input share one materialization (Spark's cache manager matches
# semantically-equal plans), and one query family over a DERIVED input
# (e.g. containment's planted-twin union) can coexist with the plain
# corpus plan — with one slot, alternating the two inputs re-paid the
# full shingle build per query (measured 4.8s of dedup_minhash_lsh's
# 5.1s bench wall: the containment row evicted the corpus shingles
# every rep).  Anything beyond two evicts the least-recently-used
# instead of leaking executor storage across bench loops/long sessions.
_SHINGLE_SLOTS = 2
_shingle_lru: dict = {}  # key -> DataFrame, insertion-ordered (LRU last)


def _cached_shingles(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    sh = shingles(df, id_col, text_col, n)
    try:
        canon = sh._jdf.queryExecution().analyzed().canonicalized()
        # full canonical plan string, not just the 32-bit semanticHash: a
        # hash collision would silently return a different DataFrame; and
        # the owning session identity, so a cached DataFrame bound to a
        # stopped/restarted SparkSession is never reused (ADVICE r2)
        key = (id(sh.sparkSession), canon.semanticHash(), canon.toString())
    except Exception:  # non-classic backends: fall back to no sharing
        key = object()
    if key in _shingle_lru:
        _shingle_lru[key] = _shingle_lru.pop(key)  # refresh recency
        return _shingle_lru[key]
    while len(_shingle_lru) >= _SHINGLE_SLOTS:
        _, prev = next(iter(_shingle_lru.items()))
        _shingle_lru.pop(next(iter(_shingle_lru)))
        try:
            prev.unpersist(False)
        except Exception:
            pass  # session already stopped
    sh.persist()
    _shingle_lru[key] = sh
    return sh


def shingles(
    df: DataFrame, id_col: str, text_col: str = "text", n: int = 3,
    distinct: bool = True,
) -> DataFrame:
    """Word n-gram shingles per doc: (id, shingle); distinct by default.
    ``distinct=False`` skips the (doc, shingle) dedup shuffle — for
    consumers that filter the stream first (e.g. a broadcast-set probe)
    and dedup the tiny survivor set instead."""
    toks = F.split(F.col(text_col), " ")
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j + 1) for j in range(n)]),
        ),
    ).otherwise(F.array().cast("array<string>"))
    from . import fan_out

    out = fan_out(df).select(
        F.col(id_col).alias("doc"), F.explode(grams).alias("shingle")
    )
    return out.distinct() if distinct else out


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    threshold_micro: int = 500_000,
    max_df: int | None = 100_000,
) -> DataFrame:
    """Exact n-gram Jaccard >= threshold pairs via inverted-index join.

    Returns (doc_a, doc_b, jac_micro), doc_a < doc_b.  ``max_df`` drops
    stop-shingles (posting lists longer than max_df) — at web scale this
    is what keeps the self-join subquadratic, so it is ON by default: a
    shingle shared by >100k documents is a stop-phrase, not a dedup
    signal (same reasoning as stop-words; a hot shingle would otherwise
    contribute 10^10 join pairs on its own).  Below the cap the result
    is exact Jaccard — the contract-scale corpora never reach it, which
    is what keeps the DuckDB oracle equality intact.  Pass None to force
    exactness at any scale.
    """
    sh = _cached_shingles(df, id_col, text_col, n)
    sizes = sh.groupBy("doc").agg(F.count("*").alias("sz"))
    if max_df is not None:
        keep = sh.groupBy("shingle").agg(F.count("*").alias("df_")).where(
            F.col("df_") <= max_df
        )
        sh = sh.join(keep.select("shingle"), "shingle")
    a = sh.alias("a")
    b = sh.alias("b")
    shared = (
        a.join(b, "shingle")
        .where(F.col("a.doc") < F.col("b.doc"))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
    )
    out = (
        shared.join(sizes.withColumnRenamed("doc", "doc_a").withColumnRenamed("sz", "sz_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc", "doc_b").withColumnRenamed("sz", "sz_b"), "doc_b")
        .withColumn(
            "jac_micro",
            F.floor(
                F.col("inter") * 1_000_000 / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
            ).cast("long"),
        )
        .where(F.col("jac_micro") >= threshold_micro)
        .select("doc_a", "doc_b", "jac_micro")
    )
    return out


# ---------------------------------------------------------------- minhash
# 32 min-hashes from ONE md5 evaluation per shingle: the first 8 hex
# chars give a 32-bit base hash h; the i-th min-hash is the min over
# shingles of the affine transform (MH_A[i] * h + MH_B[i]) mod 2^32 —
# the standard pairwise-independent minhash family.  MH_A[i] is odd and
# < 2^31, so a*h + b < 2^63 + 2^32 stays exact in int64 on BOTH engines
# (no overflow wrap relied on), and the identical expression reproduces
# in DuckDB SQL, which is what keeps the oracle bit-exact.  vs the old
# 4-md5 16-bit-slice scheme: 4x fewer digest evaluations, integer
# min-aggs instead of string min-aggs, and 32-bit hashes (fewer chance
# band collisions).
N_HASHES = 32
N_BANDS = 8
ROWS_PER_BAND = N_HASHES // N_BANDS

# Deterministic affine coefficients (Knuth multiplicative constant walk;
# any fixed pairwise-distinct odd a_i works — these are shared verbatim
# with the DuckDB oracle via this module).
MH_A = [(((2 * i + 1) * 2654435761) % (1 << 31)) | 1 for i in range(N_HASHES)]
MH_B = [((i + 1) * 2246822519) % (1 << 32) for i in range(N_HASHES)]


def minhash_signatures(sh: DataFrame, with_size: bool = False) -> DataFrame:
    """(doc, mh_0..mh_31): affine min-hashes (see module comment).

    The md5-derived 32-bit base hash is projected ONCE per shingle row
    before the aggregate; the 32 min()s are then pure int64 affine
    expressions in whole-stage codegen (Catalyst does not CSE across
    aggregate expressions, so hashing inside each aggregate would pay
    32 digests per row — measured ~2x on the sf0.1 contract query back
    when the digests were the per-agg work).

    ``with_size`` appends ``sz`` (the doc's distinct-shingle count) as a
    33rd aggregate in the SAME groupBy — consumers that need both (the
    incremental probe) get sizes for free instead of paying a second
    explode + shuffle over the shingle stream."""
    base = sh.select(
        "doc",
        F.conv(F.substring(F.md5(F.col("shingle")), 1, 8), 16, 10)
        .cast("long")
        .alias("_h"),
    )
    aggs = [
        F.min((F.col("_h") * F.lit(MH_A[i]) + F.lit(MH_B[i])) % F.lit(1 << 32))
        .alias(f"mh_{i}")
        for i in range(N_HASHES)
    ]
    if with_size:
        aggs.append(F.count(F.lit(1)).alias("sz"))
    return base.groupBy("doc").agg(*aggs)


def lsh_bands(sig: DataFrame, extra_cols: tuple[str, ...] = ()) -> DataFrame:
    """(doc, *extra_cols, band, bsig) from a signature frame — the LSH
    *index* rows.  ``extra_cols`` are carried through the explode so a
    consumer needing per-doc attributes alongside the bands (e.g. the
    incremental probe's ``sz``) reads the signature plan ONCE — a second
    select against ``sig`` would re-evaluate the whole 32-aggregate
    upstream (Catalyst does not share subplans across consumers).

    Bands come from ONE posexplode projection, not an N_BANDS-way
    union: each union branch re-evaluates the whole upstream signature
    aggregate (same no-subplan-sharing reason), so the union form paid
    8 aggregate passes per join side — measured 3-5s vs <1s on the
    sf0.1 contract row."""
    band_sigs = [
        F.concat_ws(
            "|",
            *[F.col(f"mh_{b * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)],
        )
        for b in range(N_BANDS)
    ]
    return sig.select(
        "doc", *extra_cols,
        F.posexplode(F.array(*band_sigs)).alias("band", "bsig"),
    )


def lsh_candidate_pairs(sig: DataFrame) -> DataFrame:
    """Band the signature; equal band-signature -> candidate pair."""
    allb = lsh_bands(sig)
    a, b2 = allb.alias("a"), allb.alias("b")
    return (
        a.join(b2, ["band", "bsig"])
        .where(F.col("a.doc") < F.col("b.doc"))
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    threshold_micro: int = 800_000,
    max_df: int | None = 100_000,
) -> DataFrame:
    """Broder CONTAINMENT pairs — the asymmetric companion to Jaccard:
    containment(A in B) = |A ∩ B| / |A|.  A short doc fully quoted
    inside a long one scores containment ~1.0 while its symmetric
    Jaccard is tiny (|A|/|B|), so aggregator/quote/mirror relationships
    that ngram_jaccard_pairs structurally cannot reach surface here.

    Returns ``(doc_sub, doc_sup, cont_micro)`` — doc_sub's shingles are
    >= threshold contained in doc_sup; BOTH directions of a pair are
    evaluated (containment is not symmetric) and doc_sub != doc_sup.
    Same inverted-index join and ``max_df`` stop-shingle discipline as
    the Jaccard kernel — shuffle bounded by posting lists, never
    all-pairs.

    ``inter(A,B)`` is symmetric, so the posting-list self-join keeps
    only ``a.doc < b.doc`` and the two containment directions are
    emitted from the ONE materialized intersection row (post-agg
    explode) — half the pair shuffle of the naive ``!=`` join, which
    was the contract's slowest row (VERDICT r3 "What's wrong #2").

    The denominator is the doc's TRUE distinct-shingle count, taken
    before any ``max_df`` cap; capping only drops stop-shingles from
    the intersection, so a capped run can under- but never over-score
    containment.
    """
    sh = _cached_shingles(df, id_col, text_col, n)
    sizes = sh.groupBy("doc").agg(F.count("*").alias("sz"))
    if max_df is not None:
        keep = sh.groupBy("shingle").agg(F.count("*").alias("df_")).where(
            F.col("df_") <= max_df
        )
        sh = sh.join(keep.select("shingle"), "shingle")
    inter = _containment_inter(sh)
    both = (
        inter.join(
            sizes.select(F.col("doc").alias("doc_lo"), F.col("sz").alias("sz_lo")),
            "doc_lo",
        )
        .join(
            sizes.select(F.col("doc").alias("doc_hi"), F.col("sz").alias("sz_hi")),
            "doc_hi",
        )
        .select(
            "inter",
            F.explode(
                F.array(
                    F.struct(
                        F.col("doc_lo").alias("doc_sub"),
                        F.col("doc_hi").alias("doc_sup"),
                        F.col("sz_lo").alias("sz_sub"),
                    ),
                    F.struct(
                        F.col("doc_hi").alias("doc_sub"),
                        F.col("doc_lo").alias("doc_sup"),
                        F.col("sz_hi").alias("sz_sub"),
                    ),
                )
            ).alias("d"),
        )
    )
    return (
        both.withColumn(
            "cont_micro",
            F.floor(F.col("inter") * 1_000_000 / F.col("d.sz_sub")).cast("long"),
        )
        .where(F.col("cont_micro") >= threshold_micro)
        .select(F.col("d.doc_sub").alias("doc_sub"),
                F.col("d.doc_sup").alias("doc_sup"), "cont_micro")
    )


def _containment_inter(sh: DataFrame) -> DataFrame:
    """One row per UNORDERED doc pair sharing >=1 shingle:
    ``(doc_lo, doc_hi, inter)`` with ``doc_lo < doc_hi`` — the
    intersection is computed (and shuffled) once per pair, never per
    direction (asserted in tests/test_dedup_scale.py)."""
    a, b = sh.alias("a"), sh.alias("b")
    return (
        a.join(b, "shingle")
        .where(F.col("a.doc") < F.col("b.doc"))
        .groupBy(F.col("a.doc").alias("doc_lo"), F.col("b.doc").alias("doc_hi"))
        .agg(F.count("*").alias("inter"))
    )


def minhash_lsh_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    threshold_micro: int = 500_000,
) -> DataFrame:
    """Candidates from LSH bands, verified by exact Jaccard.

    ``sh`` is cached (bounded, see _cached_shingles): it feeds sizes,
    signatures, and both sides of the verification join — four
    otherwise-recomputed explode passes."""
    sh = _cached_shingles(df, id_col, text_col, n)
    sizes = sh.groupBy("doc").agg(F.count("*").alias("sz"))
    cands = lsh_candidate_pairs(minhash_signatures(sh))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        cands.join(a, cands["doc_a"] == F.col("a.doc"))
        .join(b, (cands["doc_b"] == F.col("b.doc")) & (F.col("a.shingle") == F.col("b.shingle")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc", "doc_a").withColumnRenamed("sz", "sz_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc", "doc_b").withColumnRenamed("sz", "sz_b"), "doc_b")
        .withColumn(
            "jac_micro",
            F.floor(
                F.col("inter") * 1_000_000 / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
            ).cast("long"),
        )
        .where(F.col("jac_micro") >= threshold_micro)
        .select("doc_a", "doc_b", "jac_micro")
    )


_probe_slots: dict = {}


def _probe_persist(sh: DataFrame, tag: str) -> DataFrame:
    """Persist a probe-side shingle frame, evicting the previous holder
    of ``tag`` — bounds probe storage to one (old, new) pair module-wide
    across bench loops / long sessions.  A repeat call with the SAME
    canonical plan reuses the live persist instead of rebuilding it
    (the production analog: the indexed side IS a persisted table, so
    probing it twice never re-shingles the corpus)."""
    try:
        canon = sh._jdf.queryExecution().analyzed().canonicalized()
        key = (id(sh.sparkSession), canon.semanticHash(), canon.toString())
    except Exception:
        key = object()
    prev_key, prev = _probe_slots.get(tag, (None, None))
    if prev_key == key:
        return prev
    if prev is not None:
        try:
            prev.unpersist(False)
        except Exception:
            pass  # session already stopped
    sh.persist()
    _probe_slots[tag] = (key, sh)
    return sh


def clear_plan_caches() -> None:
    """Unpersist and drop every cross-call memo slot (the probe persists
    and the shingle LRU).  bench.py calls this before each timed query so
    every recorded number is COLD — no cross-query plan reuse (VERDICT r4
    "What's wrong" #2: a warm-memo number misrepresented scrub_apply by
    6.8x vs the driver's run).  Within one query execution the persists
    still work normally; only reuse ACROSS query invocations is cut."""
    for _key, df in list(_probe_slots.values()):
        try:
            df.unpersist(False)
        except Exception:
            pass  # session already stopped
    _probe_slots.clear()
    for df in list(_shingle_lru.values()):
        try:
            df.unpersist(False)
        except Exception:
            pass  # session already stopped
    _shingle_lru.clear()


def minhash_probe_index(
    indexed: DataFrame,
    incoming: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    threshold_micro: int = 500_000,
) -> DataFrame:
    """Incremental cross-snapshot dedup: probe an *incoming* batch
    against the LSH index of an already-deduplicated corpus, without
    re-pairing the corpus with itself.

    This is how fuzzy dedup actually runs at 100 TB: the corpus's band
    rows ``(band, bsig, doc)`` are persisted once (in production: a
    bucketed table partitioned by ``pmod(hash(bsig), B)``); each new
    crawl snapshot only computes signatures for ITS documents —
    O(batch), not O(corpus) — joins them against the index, and
    verifies exact Jaccard on the matched candidates only.  The corpus
    side is never self-joined and never re-shingled beyond the matched
    candidate docs.

    Returns one row per contaminated incoming doc:
    ``(doc_id, match_id, jac_micro)`` — the best indexed match (max
    Jaccard, ties broken by min match_id).  Incoming docs with no match
    >= threshold are absent (they are the survivors the caller appends
    to the corpus + index).
    """
    # Each side feeds TWO consumers (signature agg + verify join); an
    # unpersisted plan pays the explode+md5 shingle pass twice per side
    # (measured 2x on the sf0.1 contract row).  Bounded module slot,
    # same discipline as _cached_shingles: at most one persisted pair
    # probe-wide, previous pair evicted on the next call.  In production
    # the indexed side is a persisted table to begin with — this persist
    # is the local stand-in for that lifecycle.
    sh_old = _probe_persist(shingles(indexed, id_col, text_col, n), "old")
    sh_new = _probe_persist(shingles(incoming, id_col, text_col, n), "new")
    # one groupBy per side yields signature AND size; ``sz`` rides the
    # band rows so the signature plan is read exactly once per side
    # (explode passes per side: the sig agg + the verify join = 2, vs 3
    # with a separate size agg; and no double sig evaluation, which a
    # second select against the sig frame would cost)
    index_rows = lsh_bands(
        minhash_signatures(sh_old, with_size=True), extra_cols=("sz",)
    )
    probe_rows = lsh_bands(
        minhash_signatures(sh_new, with_size=True), extra_cols=("sz",)
    )
    cands = (
        probe_rows.alias("p")
        .join(index_rows.alias("x"), ["band", "bsig"])
        .select(
            F.col("p.doc").alias("doc_new"), F.col("x.doc").alias("doc_old"),
            F.col("p.sz").alias("sz_a"), F.col("x.sz").alias("sz_b"),
        )
        .distinct()
    )
    return _probe_verify_best(cands, sh_new, sh_old, id_col, threshold_micro)


def _probe_verify_best(
    cands: DataFrame, sh_new: DataFrame, sh_old: DataFrame,
    id_col: str, threshold_micro: int,
) -> DataFrame:
    """Shared probe tail: exact-Jaccard verify on the candidate pairs,
    then best match per incoming doc (max jac, ties -> min match_id)."""
    a, b = sh_new.alias("a"), sh_old.alias("b")
    inter = (
        cands.join(a, cands["doc_new"] == F.col("a.doc"))
        .join(b, (cands["doc_old"] == F.col("b.doc")) & (F.col("a.shingle") == F.col("b.shingle")))
        # sz_a/sz_b are constant per (doc_new, doc_old) — grouping on
        # them carries the sizes through without a join back to the sigs
        .groupBy("doc_new", "doc_old", "sz_a", "sz_b")
        .agg(F.count("*").alias("inter"))
    )
    scored = (
        inter.withColumn(
            "jac_micro",
            F.floor(
                F.col("inter") * 1_000_000 / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
            ).cast("long"),
        )
        .where(F.col("jac_micro") >= threshold_micro)
    )
    w = Window.partitionBy("doc_new").orderBy(
        F.col("jac_micro").desc(), F.col("doc_old").asc()
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(
            F.col("doc_new").alias(id_col),
            F.col("doc_old").alias("match_id"),
            "jac_micro",
        )
    )


# ----------------------------------------- persisted LSH index lifecycle
# The 100 TB lifecycle the probe's docstring promises, made concrete on
# the catalog shim (Iceberg equivalent noted per step):
#   1. minhash_build_index(corpus)   -> band rows (doc, sz, band, bsig,
#      bsig_hash) — computed ONCE per corpus
#   2. cat.commit_buckets(rows, tbl, "bsig_hash", B)  (reset commit; at
#      scale: a bucket-partitioned Iceberg table)
#   3. minhash_probe_prebuilt(cat.read(tbl), batch, corpus)  per
#      snapshot — signature work O(batch); corpus TEXT is touched only
#      for candidate-matched docs (semi-join before the shingle explode)
#   4. minhash_index_append(survivor rows)  -> rewrites ONLY the buckets
#      the new rows land in (Iceberg: MERGE/dynamic-partition overwrite)

def minhash_build_index(
    docs: DataFrame, id_col: str, text_col: str = "text", n: int = 3,
) -> DataFrame:
    """Band index rows for a corpus: ``(doc, sz, band, bsig,
    bsig_hash)``.  ``bsig_hash`` = xxhash64(band, bsig) is the bucketing
    key for Catalog.commit_buckets — equal band signatures land in the
    same bucket, so a bucketed probe join is co-partitioned."""
    sh = shingles(docs, id_col, text_col, n)
    rows = lsh_bands(minhash_signatures(sh, with_size=True), extra_cols=("sz",))
    return rows.withColumn("bsig_hash", F.xxhash64("band", "bsig"))


def minhash_probe_prebuilt(
    index_rows: DataFrame,
    incoming: DataFrame,
    indexed_docs: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    threshold_micro: int = 500_000,
) -> DataFrame:
    """minhash_probe_index against a PREBUILT index (step 3 above):
    ``index_rows`` is the stored band table (from minhash_build_index /
    cat.read), so the corpus side pays NO signature work at probe time;
    ``indexed_docs`` supplies text for the exact-Jaccard verify and is
    semi-joined down to candidate-matched docs BEFORE the shingle
    explode — O(matches), not O(corpus).  Same output contract as
    minhash_probe_index (asserted equal in tests)."""
    sh_new = _probe_persist(shingles(incoming, id_col, text_col, n), "new")
    probe_rows = lsh_bands(
        minhash_signatures(sh_new, with_size=True), extra_cols=("sz",)
    )
    cands = _probe_persist(
        probe_rows.alias("p")
        .join(index_rows.alias("x"), ["band", "bsig"])
        .select(
            F.col("p.doc").alias("doc_new"), F.col("x.doc").alias("doc_old"),
            F.col("p.sz").alias("sz_a"), F.col("x.sz").alias("sz_b"),
        )
        .distinct(),
        "cands",
    )
    matched_old = indexed_docs.join(
        cands.select(F.col("doc_old").alias(id_col)).distinct(),
        id_col,
        "semi",
    )
    sh_old = shingles(matched_old, id_col, text_col, n)
    return _probe_verify_best(cands, sh_new, sh_old, id_col, threshold_micro)


def minhash_index_append(
    spark,
    cat,
    table: str,
    new_index_rows: DataFrame,
    n_buckets: int = 32,
) -> tuple[int, int]:
    """Delta-append survivor band rows into the stored index (step 4):
    only the buckets the new rows hash into are rewritten (existing
    rows in those buckets are carried over; all other buckets keep
    their files untouched).  The bucket-id collect is bounded by
    n_buckets, never by row count.  Returns (snapshot_id, rows)."""
    bcol = F.pmod(F.col("bsig_hash"), F.lit(n_buckets)).cast("int")
    touched = sorted(
        r.b for r in new_index_rows.select(bcol.alias("b")).distinct().collect()
    )
    if not touched:
        return cat.current_snapshot_id(table), 0
    existing = (
        cat.read(spark, table)
        .drop("_bucket")
        .where(bcol.isin([int(b) for b in touched]))
    )
    return cat.commit_buckets(
        existing.unionByName(new_index_rows),
        table,
        "bsig_hash",
        n_buckets,
        buckets=touched,
    )


# ---------------------------------------------------------------- simhash
def simhash_py(tokens: list[str]) -> int:
    """64-bit SimHash over token hashes (pure Python core for tests)."""
    from ..urlnorm import xxhash64_py

    acc = np.zeros(64, dtype=np.int64)
    for t in tokens:
        h = np.uint64(xxhash64_py(t.encode("utf-8")) & ((1 << 64) - 1))
        bits = (h >> np.arange(64, dtype=np.uint64)) & np.uint64(1)
        acc += np.where(bits == 1, 1, -1)
    out = 0
    for i in range(64):
        if acc[i] > 0:
            out |= 1 << i
    return out - (1 << 64) if out >= (1 << 63) else out


def simhash(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """(id, simhash long), fully JVM-side (no Python in the hot path):
    explode tokens -> xxhash64 (codegen) -> 64 per-bit sign sums ->
    reassemble the signature with bitwise ORs.  Bit-identical to
    :func:`simhash_py` (same XXH64 seed-42 token hashes, same >0 tie
    rule) — that equivalence is asserted in the test suite."""
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.explode(F.split(F.coalesce(F.col(text_col), F.lit("")), " ")).alias("tok"),
    ).select("doc", F.xxhash64(F.col("tok")).alias("h"))
    bit_sums = toks.groupBy("doc").agg(
        *[
            F.sum(
                F.shiftrightunsigned(F.col("h"), i).bitwiseAND(F.lit(1)) * 2 - 1
            ).alias(f"b{i}")
            for i in range(64)
        ]
    )
    sig = F.lit(0).cast("long")
    for i in range(64):
        sig = sig.bitwiseOR(
            F.when(F.col(f"b{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i))
            .otherwise(F.lit(0).cast("long"))
        )
    return bit_sums.select("doc", sig.alias("simhash"))


def simhash_md5_chunks(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """(doc, ck_0..ck_3): the 64-bit SimHash as four 16-bit chunk values,
    token hashes sliced from one md5 per token (4 hex chars per chunk —
    the same slicing trick as the MinHash oracle, dedup.py:105-110), so a
    DuckDB oracle reproduces the signatures bit-exactly.  Fully JVM-side:
    explode -> md5 -> conv -> 64 per-bit sign sums.  xxhash64 is the
    production hash (:func:`simhash`); this twin trades one md5 per token
    for oracle reproducibility."""
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.explode(F.split(F.coalesce(F.col(text_col), F.lit("")), " ")).alias("tok"),
    ).select(
        "doc",
        *[
            F.conv(F.substring(F.md5(F.col("tok")), 4 * c + 1, 4), 16, 10)
            .cast("long").alias(f"v{c}")
            for c in range(4)
        ],
    )
    bit_sums = toks.groupBy("doc").agg(
        *[
            F.sum(
                F.shiftrightunsigned(F.col(f"v{c}"), j).bitwiseAND(F.lit(1)) * 2 - 1
            ).alias(f"b{c}_{j}")
            for c in range(4)
            for j in range(16)
        ]
    )
    cks = []
    for c in range(4):
        sig = F.lit(0).cast("long")
        for j in range(16):
            sig = sig.bitwiseOR(
                F.when(F.col(f"b{c}_{j}") > 0, F.shiftleft(F.lit(1).cast("long"), j))
                .otherwise(F.lit(0).cast("long"))
            )
        cks.append(sig.alias(f"ck_{c}"))
    return bit_sums.select("doc", *cks)


def simhash_md5_near_pairs(df: DataFrame, id_col: str, text_col: str = "text",
                           max_hamming: int = 8) -> DataFrame:
    """Near-dup pairs from the md5-chunk SimHash: block on any equal
    16-bit chunk (guaranteed complete for hamming <= 3; approximate-by-
    design above, same as the xxhash64 kernel), hamming = sum of chunk
    bit_counts.  Returns (doc_a, doc_b, hamming) — DuckDB-reproducible."""
    sigs = simhash_md5_chunks(df, id_col, text_col)
    # ONE posexplode, not a 4-way union: each union arm re-evaluates the
    # whole 64-aggregate signature plan on BOTH join sides (8 passes)
    allc = sigs.select(
        "doc", "ck_0", "ck_1", "ck_2", "ck_3",
        F.posexplode(F.array("ck_0", "ck_1", "ck_2", "ck_3")).alias("chunk", "ck"),
    )
    a, b = allc.alias("a"), allc.alias("b")
    ham = sum(
        F.bit_count(F.col(f"a.ck_{c}").bitwiseXOR(F.col(f"b.ck_{c}")))
        for c in range(4)
    )
    return (
        a.join(b, ["chunk", "ck"])
        .where(F.col("a.doc") < F.col("b.doc"))
        .select(
            F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"),
            ham.cast("int").alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def drop_common_lines(df: DataFrame, id_col: str, text_col: str = "text",
                      min_docs: int = 3, sep: str = "\n",
                      broadcast_boiler: bool = True) -> DataFrame:
    """C4-style line-level boilerplate removal: a line whose trimmed form
    appears in >= ``min_docs`` distinct documents is dropped from every
    document; surviving lines are reassembled in original order.

    Returns one row per input document:
    ``(id, n_lines, n_kept, kept_text)`` — kept_text = '' when every
    line is boilerplate (the caller typically filters those docs out).

    Scale shape: posexplode is a scan-local ~lines-per-doc row expansion;
    the boilerplate set is one shuffle on the line fingerprint with
    map-side partial distinct; the tag join keys on the same fingerprint
    (hot boilerplate fps are exactly the skewed keys — AQE skew-join
    handles them, or broadcast the boilerplate set, which is tiny: only
    fps with >= min_docs owners survive the HAVING); reassembly is one
    shuffle on the doc id.  Everything is built-in SQL — no Python.
    """
    ident = F.col(id_col)
    lines = df.select(
        ident.alias("__doc"),
        F.posexplode(F.split(F.col(text_col), sep)).alias("__pos", "__line"),
    ).withColumn("__fp", F.md5(F.trim(F.col("__line"))))
    boiler = (
        lines.groupBy("__fp")
        .agg(F.countDistinct("__doc").alias("__nd"))
        .where(F.col("__nd") >= min_docs)
        .select("__fp")
    )
    if broadcast_boiler:
        # the boilerplate set (distinct fps owned by >= min_docs docs) is
        # orders of magnitude smaller than the corpus and broadcasting it
        # sidesteps the hot-fp shuffle skew; pass False at extreme scale
        # to fall back to a shuffled join under AQE skew handling.
        boiler = F.broadcast(boiler)
    tagged = lines.join(boiler.withColumn("__is_b", F.lit(True)), "__fp", "left")
    kept_struct = F.when(
        F.col("__is_b").isNull(), F.struct(F.col("__pos"), F.col("__line"))
    )
    return (
        tagged.groupBy("__doc")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.count(kept_struct).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(kept_struct)),
                    lambda s: s.getField("__line"),
                ),
                sep,
            ).alias("kept_text"),
        )
        .withColumnRenamed("__doc", id_col)
    )


def drop_site_template_lines(
    df: DataFrame, id_col: str, host_col: str = "host",
    text_col: str = "text", min_docs: int = 3, sep: str = "\n",
) -> DataFrame:
    """PER-SITE template removal: a line is boilerplate iff its trimmed
    form appears in >= ``min_docs`` distinct documents OF THE SAME
    HOST, and is dropped from that host's documents only.

    The host-keyed sibling of :func:`drop_common_lines` (corpus-global
    threshold) — and the shape production template removal actually
    uses: site headers/nav/footers repeat within one site, while a
    corpus-GLOBAL min_docs at web scale convicts legitimately common
    sentences ("The quick brown fox...", boilerplate disclaimers
    quoted in articles) that are content, not chrome.  Same output
    contract ``(id, host, n_lines, n_kept, kept_text)`` so the stages
    compose with the global and intra-doc stages.

    Scale shape: posexplode is scan-local; the template set is one
    groupBy on (host, line-fp) with map-side partial distinct; the tag
    join keys on the SAME (host, fp) pair — hot keys are per-host
    footers, so rows-per-key is bounded by the host's page count,
    never corpus-wide (the global stage's universal-footer skew cannot
    exist here); reassembly is one groupBy on the doc id.  The
    template set scales with the number of hosts, so it is NOT
    broadcast by default (unlike the global stage's tiny boiler set) —
    the join shuffles under AQE.  Everything is built-in SQL — no
    Python.
    """
    lines = df.select(
        F.col(id_col).alias("__doc"),
        F.col(host_col).alias("__host"),
        F.posexplode(F.split(F.col(text_col), sep)).alias("__pos", "__line"),
    ).withColumn("__fp", F.md5(F.trim(F.col("__line"))))
    boiler = (
        lines.groupBy("__host", "__fp")
        .agg(F.countDistinct("__doc").alias("__nd"))
        .where(F.col("__nd") >= min_docs)
        .select("__host", "__fp")
        .withColumn("__is_b", F.lit(True))
    )
    tagged = lines.join(boiler, ["__host", "__fp"], "left")
    kept_struct = F.when(
        F.col("__is_b").isNull(), F.struct(F.col("__pos"), F.col("__line"))
    )
    return (
        tagged.groupBy("__doc", "__host")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.count(kept_struct).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(kept_struct)),
                    lambda s: s.getField("__line"),
                ),
                sep,
            ).alias("kept_text"),
        )
        .withColumnRenamed("__doc", id_col)
        .withColumnRenamed("__host", host_col)
    )


def drop_repeated_lines(df: DataFrame, id_col: str, text_col: str = "text",
                        sep: str = "\n") -> DataFrame:
    """Intra-document repeated-line removal: within each document, keep
    only the FIRST occurrence of each trimmed line form; later repeats
    are dropped and the document reassembled in original order.

    The cutting complement of ``textops.repetition_scores`` (which only
    FLAGS repetitious documents, Gopher A1.1) and the within-doc twin of
    :func:`drop_common_lines` (which drops lines shared ACROSS >=
    min_docs documents) — the Gopher/RefinedWeb pipelines apply exactly
    this cut to nav menus and list boilerplate repeated inside one page
    before corpus-level dedup runs.

    Returns one row per input document:
    ``(id, n_lines, n_kept, kept_text)`` — same contract shape as
    :func:`drop_common_lines` so the two stages compose.

    Scale shape: posexplode is a scan-local ~lines-per-doc expansion;
    the first-occurrence pick is one window over (doc, line
    fingerprint) and reassembly one groupBy on the doc id — two
    shuffles, BOTH keyed on the document id, so rows-per-key is bounded
    by lines-per-doc and no corpus-wide hot key can exist (unlike the
    cross-doc stage, where a universal footer is the skewed key).
    Everything is built-in SQL — no Python.
    """
    ident = F.col(id_col)
    lines = df.select(
        ident.alias("__doc"),
        F.posexplode(F.split(F.col(text_col), sep)).alias("__pos", "__line"),
    ).withColumn("__fp", F.md5(F.trim(F.col("__line"))))
    # Window partitioned by __doc ALONE (ordered __fp then __pos): equal
    # fps form contiguous runs sorted by position, so a run START is
    # exactly the first occurrence — and because the window's required
    # distribution is hashpartitioning(__doc), the reassembly groupBy
    # below reuses it and the whole kernel costs ONE shuffle (the
    # (__doc,__fp)-windowed row_number variant costs two; plan-asserted
    # in tests).
    w = Window.partitionBy("__doc").orderBy("__fp", "__pos")
    prev_fp = F.lag("__fp").over(w)
    first = lines.withColumn(
        "__first", prev_fp.isNull() | (prev_fp != F.col("__fp"))
    )
    kept_struct = F.when(
        F.col("__first"), F.struct(F.col("__pos"), F.col("__line"))
    )
    return (
        first.groupBy("__doc")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.count(kept_struct).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(kept_struct)),
                    lambda s: s.getField("__line"),
                ),
                sep,
            ).alias("kept_text"),
        )
        .withColumnRenamed("__doc", id_col)
    )


def simhash_near_pairs(df: DataFrame, id_col: str, text_col: str = "text",
                       max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs within Hamming distance via 4x16-bit band blocking
    (any pair within distance 3 shares at least one exact 16-bit chunk)."""
    sigs = simhash(df, id_col, text_col)
    # ONE posexplode, not a 4-way union (same aggregate-fanout reasoning
    # as simhash_md5_near_pairs)
    allc = sigs.select(
        "doc", "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("simhash"), c * 16)
                    .bitwiseAND(F.lit(0xFFFF))
                    for c in range(4)
                ]
            )
        ).alias("chunk", "ck"),
    )
    a, b = allc.alias("a"), allc.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(b, ["chunk", "ck"])
        .where(F.col("a.doc") < F.col("b.doc"))
        .select(
            F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"),
            ham.alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def contaminated_docs(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_hits: int = 1,
) -> DataFrame:
    """Benchmark decontamination: flag corpus docs sharing any word
    n-gram with a benchmark/eval set (the train-test-overlap scrub every
    LLM data pipeline runs before training — cf. GPT-3 appx C / PaLM
    13-gram decontamination; n is a knob).  Returns ``(doc_id, n_hits)``
    where n_hits = distinct contaminated shingles in the doc.

    Scale shape: the benchmark shingle set is tiny (eval suites are
    MB-scale) and is broadcast, so the 100 TB corpus is streamed through
    a map-side hash join — the corpus shingle stream is NOT
    pre-deduplicated (that would be a full (doc, shingle) shuffle);
    instead the broadcast probe filters first and countDistinct dedups
    only the matched survivor set, so the sole shuffle carries
    contaminated shingles only.
    """
    csh = shingles(corpus, id_col, text_col, n, distinct=False)
    bset = shingles(benchmark, id_col, text_col, n).select("shingle").distinct()
    return (
        csh.join(F.broadcast(bset), "shingle")
        .groupBy(F.col("doc").alias(id_col))
        .agg(F.countDistinct("shingle").alias("n_hits"))
        .where(F.col("n_hits") >= min_hits)
    )


def substring_scrub_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 12,
    w: int = 4,
    min_shared: int = 3,
    max_df: int | None = 1000,
) -> DataFrame:
    """The production END of exact-substring dedup (Lee et al. 2021
    remove each duplicated span, keeping one copy): emit the char spans
    to CUT from every doc that verbatim-overlaps a lower-id doc.

    Keep-first policy: for every qualified dup pair (a < b), doc b's
    copy of the shared material is removed, doc a's is kept.  A doc's
    cut set is the union over all its lower-id partners of the
    positions of shared winnow fingerprints; each fingerprint witnesses
    the interval ``[pos, pos + k)`` and overlapping/adjacent intervals
    are merged into maximal spans (within a true shared substring the
    winnow guarantee places a pick at least every ``w`` positions and
    ``w < k``, so the covering intervals always chain).

    Returns ``(id_col, span_start, span_end, n_fp)`` — 1-based char
    offsets, end exclusive, n_fp = picks merged into the span.  Apply
    with :func:`apply_scrub_spans`.

    Scale shape: one linear Arrow fingerprint pass (textops.
    winnow_picks_pos), the same capped inverted-index fp join as
    dup_substring_pairs, then ONE window over (doc, pos) for the
    interval merge — no text is shuffled, only (doc, fp, pos) triples.
    """
    from .textops import winnow_picks_pos

    # the picks frame feeds FIVE consumers (vals twice per side of the
    # pair join, the dup-fp join, the position lookup); unpersisted,
    # each consumer re-runs the Arrow fingerprint pass over the full
    # corpus.  Same bounded-slot persistence as the minhash probe.
    picks = _probe_persist(
        winnow_picks_pos(df, id_col, text_col, k, w), "scrub_picks"
    )
    vals = picks.select(F.col(id_col).alias("doc"), "fp").distinct()
    if max_df is not None:
        keep = vals.groupBy("fp").agg(F.count("*").alias("df_")).where(
            F.col("df_") <= max_df
        )
        vals = vals.join(keep.select("fp"), "fp")
    a, b = vals.alias("a"), vals.alias("b")
    pairs = (
        a.join(b, "fp")
        .where(F.col("a.doc") < F.col("b.doc"))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )
    # fps doc b must scrub: shared with ANY qualified lower-id partner
    dup_fps = (
        pairs.join(vals.alias("va"), F.col("va.doc") == F.col("doc_a"))
        .join(
            vals.alias("vb"),
            (F.col("vb.doc") == F.col("doc_b")) & (F.col("vb.fp") == F.col("va.fp")),
        )
        .select(F.col("doc_b").alias("doc"), F.col("vb.fp").alias("fp"))
        .distinct()
    )
    pos = (
        picks.select(F.col(id_col).alias("doc"), "fp", "pos")
        .join(dup_fps, ["doc", "fp"])
        .select("doc", "pos")
        .distinct()
    )
    wo = Window.partitionBy("doc").orderBy("pos")
    prev_end = F.max(F.col("pos") + k).over(
        wo.rowsBetween(Window.unboundedPreceding, -1)
    )
    brk = F.when(F.col("pos") > prev_end, F.lit(1)).otherwise(F.lit(0))
    islands = pos.withColumn(
        "isl", F.sum(brk).over(wo.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        islands.groupBy("doc", "isl")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + k).alias("span_end"),
            F.count("*").alias("n_fp"),
        )
        .select(
            F.col("doc").alias(id_col),
            F.col("span_start").cast("long"),
            F.col("span_end").cast("long"),
            F.col("n_fp").cast("long"),
        )
    )


def apply_scrub_spans(
    df: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cut the spans out of the text: docs with no spans pass through
    unchanged; spans are removed right-to-left so earlier offsets stay
    valid.  Built-in SQL only — the span list is aggregated per doc and
    folded over the text with ``F.aggregate`` (sorted descending by
    start), so the cut itself is whole-stage-codegen, not Python."""
    agg = spans.groupBy(id_col).agg(
        F.reverse(
            F.array_sort(
                F.collect_list(F.struct("span_start", "span_end"))
            )
        ).alias("__spans")
    )
    cut = F.aggregate(
        F.col("__spans"),
        F.col(text_col),
        lambda acc, s: F.concat(
            acc.substr(F.lit(1).cast("int"), (s["span_start"] - 1).cast("int")),
            acc.substr(
                s["span_end"].cast("int"),
                (F.length(acc) - s["span_end"] + 1).cast("int"),
            ),
        ),
    )
    from . import fan_out

    # the span side is tiny (docs with cuts) and broadcasts, so without
    # fan-out the concat/substr fold runs on the scan's own splits — one
    # core for a local single-split file
    return (
        fan_out(df).join(agg, id_col, "left")
        .withColumn(
            "scrubbed",
            F.when(F.col("__spans").isNull(), F.col(text_col)).otherwise(cut),
        )
        .drop("__spans")
    )


# ----------------------------------------------- shared-substring pairs
def dup_substring_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 12,
    w: int = 4,
    min_shared: int = 3,
    max_df: int | None = 1000,
) -> DataFrame:
    """Verbatim-overlap duplicate pairs via winnowing fingerprints — the
    scalable approximation of exact duplicated-substring dedup (Lee et
    al. 2021, "Deduplicating Training Data Makes Language Models
    Better": their suffix array finds exact repeated spans; winnowing's
    (k, w) guarantee means any shared substring of length >= k+w-1
    shares at least one SELECTED fingerprint, so long verbatim overlaps
    always surface as candidates without a global suffix sort).

    Returns ``(doc_a, doc_b, n_shared)``, doc_a < doc_b, where n_shared
    counts DISTINCT shared selected fingerprints; pairs below
    ``min_shared`` are dropped (one hash collision or one common phrase
    is not an overlap).  ``max_df`` drops stop-fingerprints whose
    posting list exceeds max_df docs — boilerplate shared by everyone
    is a stop-phrase, not a dedup signal; same subquadratic discipline
    (and the same contract-scale-exactness argument) as
    dedup_ngram_jaccard's cap.

    Scale shape: fingerprinting is per-doc parallel, then ONE
    inverted-index self-join on fp with map-side-combined pair counts —
    identical join displacement to the minhash band join.  The
    fingerprint step is textops.winnow_picks, the linear mod-2^64 Arrow
    kernel — O(doc length), no row amplification, vectorized for any k,
    and still DuckDB-reproducible (hugeint % 2^64 recomputation in the
    oracle).
    """
    from .textops import winnow_picks

    picks = winnow_picks(df, id_col, text_col, k, w)
    if max_df is not None:
        keep = picks.groupBy("fp").agg(F.count("*").alias("df_")).where(
            F.col("df_") <= max_df
        )
        picks = picks.join(keep.select("fp"), "fp")
    a = picks.alias("a")
    b = picks.alias("b")
    return (
        a.join(b, "fp")
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


# ------------------------------------------------- edit-distance near-dup
def edit_near_pairs(
    df: DataFrame,
    id_col: str,
    title_col: str = "title",
    max_len: int = 64,
) -> DataFrame:
    """Edit-distance-1 similarity join over a short-string column
    (titles, canonical URLs, product names) via the FastSS / SymSpell
    deletion-neighborhood trick (Bocek et al., "Fast Similarity Search
    in Large Dictionaries", 2007): two strings are within Levenshtein
    distance 1 iff their 1-deletion neighborhoods (the string itself
    plus every single-character deletion) intersect — substitution
    shares the both-sides deletion, insert/delete shares the shorter
    string itself.  Candidate generation is therefore an *exact*
    inverted-index equi-join (no recall loss, unlike LSH), and the
    final ``F.levenshtein <= 1`` filter only removes the neighborhood
    false positives (distance-2 pairs that happen to share a variant).

    Operates on DISTINCT normalized strings (SymSpell's dictionary
    assumption): exact-duplicate titles are collapsed to their min-id
    representative first, which is what bounds the join — a universal
    title ("Not Found") contributes ONE dictionary entry however many
    documents carry it, so no exact-dup group can go quadratic.
    Compose with ``dedup_exact`` when full-document exact dups should
    be removed before title comparison.  Strings are truncated to
    ``max_len`` chars, bounding the per-string key fan-out at
    ``max_len + 1``.

    Returns ``(doc_a, doc_b, dist)`` with doc_a < doc_b — the min-id
    representatives of the two distinct titles — and dist in {1}
    (distance-0 pairs are impossible between distinct strings).

    Unicode note: Spark's string ops count UTF-16 code units, so BMP
    text (accented Latin, CJK, Cyrillic — one unit per char) behaves
    exactly like the plain-Python model (tested); astral-plane chars
    (emoji) count as 2 units in both the deletion variants and
    ``levenshtein``, consistently on both sides of the join, so recall
    still holds — distances just measure units, not grapheme edits.

    Scale shape: one groupBy(title) to build the dictionary, one
    posexplode bounded by max_len+1 keys/string, one equi-join on the
    variant key, one distinct on candidate pairs, then a scan-side
    levenshtein verify.  All JVM-side (whole-stage codegen; no Python).
    Hot variant keys (many distinct titles one deletion apart — e.g.
    numbered series "page 1".."page 9") grow posting lists linearly and
    the candidate set quadratically per key; those keys are real
    near-dup families, not noise, so they are kept — the max_len cap
    and dictionary distinctness are the blowup bounds.
    """
    norm = F.substring(F.lower(F.trim(F.col(title_col))), 1, max_len)
    dict_df = (
        df.select(F.col(id_col).cast("long").alias("doc"), norm.alias("t"))
        .where(F.length("t") > 0)
        .groupBy("t")
        .agg(F.min("doc").alias("doc"))
    )
    # 1-deletion neighborhood: t itself + delete(i) for each position
    variants = dict_df.select(
        "doc",
        "t",
        F.explode(
            F.array_union(
                F.array(F.col("t")),
                F.expr(
                    "transform(sequence(1, length(t)), "
                    "i -> concat(substring(t, 1, i - 1), "
                    "substring(t, i + 1, length(t))))"
                ),
            )
        ).alias("v"),
    )
    a = variants.alias("a")
    b = variants.alias("b")
    cands = (
        a.join(b, F.col("a.v") == F.col("b.v"))
        .where(F.col("a.doc") < F.col("b.doc"))
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.col("a.t").alias("ta"),
            F.col("b.t").alias("tb"),
        )
        .distinct()
    )
    return cands.select(
        "doc_a",
        "doc_b",
        F.levenshtein("ta", "tb").cast("long").alias("dist"),
    ).where(F.col("dist") <= 1)
