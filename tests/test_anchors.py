"""Anchor extraction/rollup edge cases (beyond the closed-form contract
query): attribute order, pages with no links, tie-breaking."""
from crawler_spark.functions import anchors


def test_anchor_pairs_edges(spark):
    pages = spark.createDataFrame(
        [
            ('<a class="q" href="/x" rel="nofollow">Home</a>'
             '<p>noise</p><a href="/y">Y page</a>',),
            ("<html>no links at all</html>",),
            ('<a href="/x">Home</a><a href="/x">Start</a>',),
        ],
        "html string",
    )
    pairs = anchors.anchor_pairs(pages).collect()
    assert sorted((r.target, r.anchor) for r in pairs) == [
        ("/x", "Home"), ("/x", "Home"), ("/x", "Start"), ("/y", "Y page"),
    ]
    out = {r.target: r for r in anchors.anchor_summary(
        anchors.anchor_pairs(pages)).collect()}
    assert out["/x"].n_refs == 3 and out["/x"].top_anchor == "Home"
    assert out["/y"].n_refs == 1


def test_anchor_summary_tie_breaks_lexicographic(spark):
    pairs = spark.createDataFrame(
        [("/t", "beta"), ("/t", "alpha")], "target string, anchor string"
    )
    row = anchors.anchor_summary(pairs).collect()[0]
    assert row.n_refs == 2 and row.top_anchor == "alpha"
