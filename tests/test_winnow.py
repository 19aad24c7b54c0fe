"""Winnowing kernels: the vectorized production kernels must agree with
the pure-Python reference on every doc, including the short-text /
all-repeats edge cases."""

from __future__ import annotations

from crawler_spark.functions import textops

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, ""),
    (2, "abcd"),            # len < k -> no fingerprints
    (3, "abcde"),           # len == k -> exactly one k-gram
    (4, "aaaaaaaaaaaaaaaa"),  # all k-grams identical -> one pick
    (5, "MiXeD CaSe TeXt NoRmAlIzEs"),
    (6, "abcdefg"),         # n_hashes (3) < window (4) -> single window
    (7, "xyz " * 40),
]


def test_winnow_counts_prod_matches_python_rolling(spark):
    """The PRODUCTION count kernel (vectorized numpy, no per-char Python)
    must equal len(winnow_fingerprints_py(., 'rolling')) on every doc."""
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    got = {r.doc_id: r.n_fp for r in textops.winnow_counts(df, "doc_id").collect()}
    want = {i: len(textops.winnow_fingerprints_py(t, 5, 4)) for i, t in DOCS}
    assert got == want


def test_winnow_count_vec_matches_python_fuzz():
    """Property check on random unicode-ish strings and several (k, w):
    the vectorized kernel must reproduce the Python rolling reference's
    exact pick VALUES (not just counts)."""
    import random

    rng = random.Random(11)
    alpha = "abcdefg é中"
    for _ in range(200):
        s = "".join(rng.choice(alpha) for _ in range(rng.randrange(0, 40)))
        for k, w in ((5, 4), (3, 2), (7, 5)):
            want = textops.winnow_fingerprints_py(s, k, w)
            assert textops._winnow_count_vec(s, k, w) == len(want), (s, k, w)
            picks = textops._winnow_picks_vec(s, k, w)
            if picks is None:
                # int64-overflow gate (131^(k-1) * max_codepoint * k):
                # documented Python fallback, hit for k=7 on astral-ish
                # alphabets — counts above already verified the fallback
                assert k >= 7, (s, k, w)
            else:
                assert picks == want, (s, k, w)


def test_winnow_hash_kinds_same_pick_structure():
    """Both hash kinds pick the same NUMBER of fingerprints for texts
    whose k-grams are all distinct is NOT guaranteed (different argmins)
    -- but the guarantee bounds hold for both: at least one pick per
    window stride, dedup keeps consecutive repeats out."""
    t = "the quick brown fox jumps over the lazy dog"
    for kind in ("rolling", "poly64"):
        picks = textops.winnow_fingerprints_py(t, 5, 4, hash_kind=kind)
        assert picks  # non-empty for len >= k
        # winnowing density bound: every window contributes; picks can't
        # exceed the number of windows
        n_hashes = len(t) - 5 + 1
        assert len(picks) <= max(1, n_hashes - 4 + 1)


def test_dup_substring_pairs_guarantee_and_noise_floor(spark):
    from crawler_spark.functions import dedup

    shared = "the exact same long verbatim overlapping span of text"
    docs = spark.createDataFrame(
        [
            (1, "aaaa bbbb cccc " + shared + " dddd eeee"),
            (2, shared + " ffff gggg hhhh iiii jjjj kkkk"),
            (3, "zzzz yyyy xxxx wwww vvvv uuuu tttt ssss rrrr qqqq"),
        ],
        "doc_id long, text string",
    )
    out = dedup.dup_substring_pairs(docs, k=12, w=4, min_shared=2, max_df=100)
    rows = out.collect()
    # (k,w) guarantee: the 54-char shared span must surface the (1,2) pair
    assert [(r.doc_a, r.doc_b) for r in rows] == [(1, 2)]
    assert rows[0].n_shared >= 2


def test_winnow_picks_vec64_matches_python_poly64():
    """The any-k vectorized mod-2^64 kernel must reproduce the pure
    Python poly64 reference's exact pick sequence — no overflow gate,
    so every (k, w) stays vectorized, including k=20 on astral-ish
    alphabets where the 2^61-1 kernel falls back to Python."""
    import random

    rng = random.Random(13)
    alpha = "abcdefg é中\U0001F600"
    for _ in range(200):
        s = "".join(rng.choice(alpha) for _ in range(rng.randrange(0, 60)))
        for k, w in ((5, 4), (3, 2), (20, 4), (12, 7)):
            want = textops.winnow_fingerprints_py(s, k, w, hash_kind="poly64")
            got = textops._winnow_picks_vec64(s, k, w)
            assert got == want, (s, k, w)
            assert all(-(1 << 63) <= p < (1 << 63) for p in got)


def test_winnow_picks_prod_dataframe(spark):
    """winnow_picks (the production pair-mining input) returns the
    DISTINCT poly64 pick values per doc."""
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    got = {
        (r.doc_id, r.fp)
        for r in textops.winnow_picks(df, "doc_id", k=5, w=4).collect()
    }
    want = {
        (i, f)
        for i, t in DOCS
        for f in set(textops.winnow_fingerprints_py(t, 5, 4, hash_kind="poly64"))
    }
    assert got == want


def test_dup_substring_pairs_prod_and_sql_agree_on_planted(spark):
    """The prod mod-2^64 fingerprint kernel honours the (k,w) guarantee:
    the planted verbatim overlap surfaces as the only pair."""
    from crawler_spark.functions import dedup

    shared = "the exact same long verbatim overlapping span of text"
    docs = spark.createDataFrame(
        [
            (1, "aaaa bbbb cccc " + shared + " dddd eeee"),
            (2, shared + " ffff gggg hhhh iiii jjjj kkkk"),
            (3, "zzzz yyyy xxxx wwww vvvv uuuu tttt ssss rrrr qqqq"),
        ],
        "doc_id long, text string",
    )
    out = dedup.dup_substring_pairs(docs, k=12, w=4, min_shared=2, max_df=100)
    assert [(r.doc_a, r.doc_b) for r in out.collect()] == [(1, 2)]
