"""Incremental cross-snapshot ops: minhash index probe + WARC revisits."""

from __future__ import annotations

from pyspark.sql import functions as F

from crawler_spark.functions import dedup, snapshots


def _mk_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_probe_flags_only_incoming_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    indexed = _mk_docs(spark, [(1, base), (2, "completely unrelated words here zebra")])
    incoming = _mk_docs(
        spark,
        [
            (10, base + " extra"),        # near-dup of 1
            (11, "nothing in common at all with any indexed text"),
        ],
    )
    out = dedup.minhash_probe_index(indexed, incoming, "doc_id").collect()
    assert len(out) == 1
    assert out[0].doc_id == 10 and out[0].match_id == 1
    assert out[0].jac_micro >= 500_000


def test_probe_picks_best_match_deterministically(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    # two indexed docs: 2 is an exact dup (jac 1.0), 1 is a near-dup
    indexed = _mk_docs(spark, [(1, base + " tail"), (2, base)])
    incoming = _mk_docs(spark, [(5, base)])
    out = dedup.minhash_probe_index(indexed, incoming, "doc_id").collect()
    assert len(out) == 1
    assert out[0].match_id == 2 and out[0].jac_micro == 1_000_000


def test_probe_never_pairs_corpus_with_itself(spark):
    base = "one two three four five six seven eight nine ten"
    # indexed contains an internal dup pair (1, 2) — must NOT be reported
    indexed = _mk_docs(spark, [(1, base), (2, base)])
    incoming = _mk_docs(spark, [(5, "distinct payload with no overlap whatsoever")])
    assert dedup.minhash_probe_index(indexed, incoming, "doc_id").count() == 0


def test_prebuilt_index_probe_matches_self_contained(spark, tmp_path):
    """Build -> commit bucketed -> read -> probe == the self-contained
    probe (same split, same corpus)."""
    from crawler_spark.catalog import Catalog

    base = "the quick brown fox jumps over the lazy dog again and again"
    indexed = _mk_docs(
        spark,
        [(1, base), (2, "completely unrelated words here zebra"),
         (3, "another separate indexed document with its own text")],
    )
    incoming = _mk_docs(
        spark,
        [(10, base + " extra"), (11, "nothing shared with any indexed text")],
    )
    cat = Catalog(str(tmp_path / "wh"))
    rows = dedup.minhash_build_index(indexed, "doc_id")
    cat.commit_buckets(rows, "mh_index", "bsig_hash", 8)
    stored = cat.read(spark, "mh_index").drop("_bucket")
    got = sorted(
        dedup.minhash_probe_prebuilt(stored, incoming, indexed, "doc_id").collect()
    )
    want = sorted(
        dedup.minhash_probe_index(indexed, incoming, "doc_id").collect()
    )
    assert [r.asDict() for r in got] == [r.asDict() for r in want]
    assert got and got[0].doc_id == 10 and got[0].match_id == 1


def test_index_append_rewrites_only_touched_buckets(spark, tmp_path):
    from crawler_spark.catalog import Catalog

    cat = Catalog(str(tmp_path / "wh"))
    corpus = _mk_docs(
        spark,
        [(i, f"doc number {i} body alpha beta gamma delta {i} epsilon zeta")
         for i in range(1, 9)],
    )
    cat.commit_buckets(
        dedup.minhash_build_index(corpus, "doc_id"), "mh_index", "bsig_hash", 8
    )
    before = cat.read(spark, "mh_index").count()
    survivor = _mk_docs(spark, [(100, "a brand new surviving document text here")])
    new_rows = dedup.minhash_build_index(survivor, "doc_id")
    n_new = new_rows.count()
    snap, _ = dedup.minhash_index_append(spark, cat, "mh_index", new_rows, 8)
    last = cat.snapshots("mh_index")[-1]
    assert last["id"] == snap and not last["reset"]
    assert 0 < len(last["buckets"]) < 8  # partial rewrite, not the table
    after = cat.read(spark, "mh_index")
    assert after.count() == before + n_new
    # the appended doc is now probe-visible
    dup = _mk_docs(spark, [(200, "a brand new surviving document text here")])
    allc = corpus.union(survivor)
    hit = dedup.minhash_probe_prebuilt(
        after.drop("_bucket"), dup, allc, "doc_id"
    ).collect()
    assert len(hit) == 1 and hit[0].match_id == 100
    assert hit[0].jac_micro == 1_000_000


def test_revisit_records_classification(spark):
    fetches = spark.createDataFrame(
        [
            # url 1: content constant -> epoch 0 response, 1-2 revisits of 0
            (1, 0, "d0"), (1, 1, "d0"), (1, 2, "d0"),
            # url 2: changes at 1, reverts at 2 -> revisit points at epoch 0
            (2, 0, "a"), (2, 1, "b"), (2, 2, "a"),
        ],
        "url_id long, epoch long, digest string",
    )
    out = {
        (r.url_id, r.epoch): (r.record_type, r.refers_to_epoch)
        for r in snapshots.revisit_records(fetches).collect()
    }
    assert out[(1, 0)] == ("response", 0)
    assert out[(1, 1)] == ("revisit", 0)
    assert out[(1, 2)] == ("revisit", 0)
    assert out[(2, 0)] == ("response", 0)
    assert out[(2, 1)] == ("response", 1)
    assert out[(2, 2)] == ("revisit", 0)


def test_revisit_saved_bytes_rollup(spark):
    """The archival win: payload bytes are only stored for responses."""
    fetches = spark.createDataFrame(
        [(1, 0, "x", 100), (1, 1, "x", 100), (1, 2, "y", 120)],
        "url_id long, epoch long, digest string, length long",
    )
    out = snapshots.revisit_records(fetches)
    saved = out.where(F.col("record_type") == "revisit").agg(
        F.sum("length")
    ).collect()[0][0]
    assert saved == 100


def test_containment_catches_subset_jaccard_misses(spark):
    """A short doc fully contained in a long one: containment ~1.0,
    symmetric Jaccard far below its threshold."""
    base = " ".join(f"w{i}" for i in range(40))
    sub = " ".join(f"w{i}" for i in range(10))
    df = _mk_docs(spark, [(1, base), (2, sub)])
    cont = dedup.ngram_containment_pairs(df, "doc_id", threshold_micro=800_000).collect()
    assert [(r.doc_sub, r.doc_sup, r.cont_micro) for r in cont] == [(2, 1, 1_000_000)]
    jac = dedup.ngram_jaccard_pairs(df, "doc_id", threshold_micro=500_000).collect()
    assert jac == []  # jaccard = 8/38 — symmetric measure misses it


def test_containment_intersection_materialized_once_per_pair(spark):
    """The r4 kernel joins postings with doc_lo < doc_hi and emits both
    containment directions from the ONE aggregated intersection row —
    half the pair shuffle of the old != join (VERDICT r3 #2).  Assert
    (a) the intersection frame holds exactly one row per unordered pair,
    (b) both directions still come out, with direction-correct scores."""
    from crawler_spark.functions.dedup import _cached_shingles, _containment_inter

    base = " ".join(f"w{i}" for i in range(40))
    sub = " ".join(f"w{i}" for i in range(10))
    other = " ".join(f"w{i}" for i in range(5, 25))
    df = _mk_docs(spark, [(1, base), (2, sub), (3, other)])
    sh = _cached_shingles(df, "doc_id", "text", 3)
    inter = _containment_inter(sh).collect()
    pairs = [(r.doc_lo, r.doc_hi) for r in inter]
    assert len(pairs) == len(set(pairs))  # one row per pair
    assert all(lo < hi for lo, hi in pairs)  # never both directions
    assert set(pairs) == {(1, 2), (1, 3), (2, 3)}
    # low threshold -> every direction with nonzero containment surfaces
    cont = {
        (r.doc_sub, r.doc_sup): r.cont_micro
        for r in dedup.ngram_containment_pairs(
            df, "doc_id", threshold_micro=1
        ).collect()
    }
    # sub(2) in base(1): all 8 of sub's shingles appear in base
    assert cont[(2, 1)] == 1_000_000
    # base(1) in sub(2): 8 of base's 38 shingles
    assert cont[(1, 2)] == int(8 * 1_000_000 / 38)
    assert set(cont) == {
        (1, 2), (2, 1), (1, 3), (3, 1), (2, 3), (3, 2),
    }
