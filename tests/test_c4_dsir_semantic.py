"""Unit tests for the r4 pipeline additions: C4 line filters, DSIR
importance weights and repetition scores.  Each
rule/branch is pinned on tiny constructed inputs; the cross-engine hash
gate (test_entry_contract) covers the sf0.01 contract rows."""

from __future__ import annotations

from crawler_spark.functions import textops


# ------------------------------------------------------------ c4_clean
GOOD1 = "this line is a perfectly fine sentence ending properly."
GOOD2 = "another acceptable line with plenty of words right here."


def _c4(spark, text, **kw):
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    return textops.c4_clean(df, **kw).collect()


def test_c4_keeps_good_doc(spark):
    rows = _c4(spark, GOOD1 + "\n" + GOOD2)
    assert len(rows) == 1
    assert rows[0].n_lines == 2 and rows[0].n_kept == 2


def test_c4_terminal_punctuation_rule(spark):
    # second line lacks terminal punctuation -> dropped -> doc below min_lines
    assert _c4(spark, GOOD1 + "\nno terminal punctuation on this line") == []
    # question mark / quote endings count as terminal
    rows = _c4(spark, GOOD1 + "\nis this a valid question line ending well?")
    assert rows[0].n_kept == 2


def test_c4_min_words_rule(spark):
    assert _c4(spark, GOOD1 + "\ntoo short.") == []
    rows = _c4(spark, GOOD1 + "\nfive words are enough here.")
    assert rows[0].n_kept == 2


def test_c4_token_blocklist_rules(spark):
    for bad in (
        "please enable javascript to view this content today.",
        "Lorem Ipsum dolor sit amet consectetur adipiscing elit.",
        "code sample follows if (x) { return y; }.",
    ):
        assert _c4(spark, GOOD1 + "\n" + bad) == []


def test_c4_doc_gate_and_order(spark):
    # 3 good lines, min_lines=3 passes; md5 covers original order
    t = GOOD1 + "\nbad line no punct\n" + GOOD2
    rows = _c4(spark, t, min_lines=2)
    assert rows[0].n_lines == 3 and rows[0].n_kept == 2
    import hashlib

    want = hashlib.md5((GOOD1 + "\n" + GOOD2).encode()).hexdigest()
    assert rows[0].cleaned_md5 == want


def test_c4_zero_shuffle_plan(spark):
    df = spark.createDataFrame([(1, GOOD1)], "doc_id long, text string")
    plan = textops.c4_clean(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # corpus never shuffled


# ----------------------------------------------------- dsir_importance
def test_dsir_target_like_scores_higher(spark):
    # target distribution = "spark sql" bigrams; doc 1 is target-like,
    # doc 2 is pure off-target -> doc 1's mean ratio must be higher
    corpus = spark.createDataFrame(
        [
            (1, "spark sql spark sql spark sql"),
            (2, "zebra yak zebra yak zebra yak"),
        ],
        "doc_id long, text string",
    )
    target = spark.createDataFrame(
        [(10, "spark sql spark sql")], "doc_id long, text string"
    )
    rows = {
        r.doc_id: r
        for r in textops.dsir_importance(corpus, target, n_buckets=64).collect()
    }
    assert rows[1].dsir_score_micro > rows[2].dsir_score_micro
    assert rows[1].n_feats == 5 and rows[2].n_feats == 5


def test_dsir_docs_without_features_survive_with_zero(spark):
    corpus = spark.createDataFrame(
        [(1, "solo"), (2, "two words")], "doc_id long, text string"
    )
    target = spark.createDataFrame([(9, "two words")], "doc_id long, text string")
    rows = {r.doc_id: r for r in textops.dsir_importance(corpus, target).collect()}
    assert rows[1].n_feats == 0 and rows[1].dsir_score_micro == 0
    assert rows[2].n_feats == 1


def test_dsir_model_is_broadcast(spark):
    corpus = spark.createDataFrame(
        [(1, "a b c d"), (2, "c d e f")], "doc_id long, text string"
    )
    plan = (
        textops.dsir_importance(corpus, corpus)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan  # bucket model never sort-merge-joined


# ------------------------------------- repetition_scores (r4 rewrite)
def test_repetition_scores_known_values(spark):
    # "a b a b a b": 2-grams = [a b, b a, a b, b a, a b] -> top "a b" x3
    # of 5; 3-grams = [a b a, b a b, a b a, b a b] -> all 4 duplicated
    df = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "u v w x y z")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in textops.repetition_scores(df).collect()}
    assert rows[1].top2_frac_micro == 3 * 1_000_000 // 5
    assert rows[1].dup3_frac_micro == 1_000_000
    assert rows[2].top2_frac_micro == 1_000_000 // 5  # all distinct, max run 1
    assert rows[2].dup3_frac_micro == 0


def test_repetition_scores_short_docs_zero(spark):
    df = spark.createDataFrame(
        [(1, "solo"), (2, "two words")], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in textops.repetition_scores(df).collect()}
    assert (rows[1].top2_frac_micro, rows[1].dup3_frac_micro) == (0, 0)
    # two words: one 2-gram (top fraction 1.0), no 3-grams
    assert (rows[2].top2_frac_micro, rows[2].dup3_frac_micro) == (1_000_000, 0)


def test_repetition_scores_zero_shuffle(spark):
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    for kernel in (textops.repetition_scores, textops.repetition_scores_sql):
        plan = kernel(df)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan


def test_repetition_scores_arrow_sql_equivalence(spark):
    # the Arrow production kernel and the built-in fold twin emit the
    # same integers on adversarial inputs: nulls, empty, single token,
    # heavy repetition, unicode, multi-space-free synthetic docs
    rows = [
        (1, None),
        (2, ""),
        (3, "solo"),
        (4, "a a a a a a a a"),
        (5, "the quick brown fox jumps over the lazy dog the quick brown"),
        (6, "ü ber ü ber ü"),
        (7, "x y " * 50),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = {r.doc_id: (r.top2_frac_micro, r.dup3_frac_micro)
         for r in textops.repetition_scores(df).collect()}
    b = {r.doc_id: (r.top2_frac_micro, r.dup3_frac_micro)
         for r in textops.repetition_scores_sql(df).collect()}
    assert a == b and len(a) == 7
