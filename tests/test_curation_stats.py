"""Unit tests for the late-r4 curation-stat kernels: link-farm
detection (graph.link_spam_stats) and vocabulary stats
(textops.vocab_stats).
Contract-level oracle equivalence is covered by test_entry_contract;
these pin the hand-checkable edge cases."""

from __future__ import annotations

from crawler_spark.functions import graph, textops


def _rows(df, key):
    return {r[key]: r.asDict() for r in df.collect()}


def test_link_spam_stats_hand_graph(spark):
    edges = spark.createDataFrame(
        [
            ("a", "b"), ("b", "a"),        # reciprocal pair
            ("a", "c"),                     # one-way
            ("a", "b"),                     # duplicate: collapses
            ("d", "d"),                     # self-edge: dropped
            ("c", "a"),                     # makes a->c reciprocal too
        ],
        ["src", "dst"],
    )
    got = _rows(graph.link_spam_stats(edges), "host")
    assert got["a"]["outdeg"] == 2 and got["a"]["n_recip"] == 2
    assert got["a"]["recip_ppm"] == 1_000_000 and got["a"]["link_farm"]
    # b: outdeg 1 -> fully reciprocal but below min_outdeg
    assert got["b"]["outdeg"] == 1 and got["b"]["recip_ppm"] == 1_000_000
    assert not got["b"]["link_farm"]
    assert "d" not in got  # only a self-edge: no qualifying outlinks


def test_vocab_stats_counts(spark):
    docs = spark.createDataFrame(
        [
            ("s1", "a a b"),
            ("s1", "b  c"),  # double space: empty token filtered
            ("s2", "z"),
        ],
        ["source", "text"],
    )
    got = _rows(textops.vocab_stats(docs), "source")
    s1 = got["s1"]
    assert s1["n_tokens"] == 5 and s1["n_types"] == 3 and s1["n_hapax"] == 1
    assert s1["ttr_ppm"] == 600_000            # floor(3e6/5)
    assert s1["hapax_ppm"] == 333_333          # floor(1e6/3)
    s2 = got["s2"]
    assert s2["n_tokens"] == 1 and s2["n_types"] == 1 and s2["n_hapax"] == 1
    assert s2["ttr_ppm"] == 1_000_000 and s2["hapax_ppm"] == 1_000_000


def test_readability_hand_computed(spark):
    docs = spark.createDataFrame(
        [
            (1, "Hello world. It is fun."),
            (2, "abc"),      # no punctuation: sentence floor at 1
            (3, ""),         # empty: word guard at 1, zero syllables
        ],
        ["doc_id", "text"],
    )
    got = _rows(textops.readability_scores(docs), "doc_id")
    r = got[1]
    assert (r["n_words"], r["n_sentences"], r["n_syllables"]) == (5, 2, 6)
    # floor(390*5/2 + 11800*6/5 - 15590) = floor(-455.0)
    assert r["fk_grade_milli"] == -455
    # floor(206835 - 1015*5/2 - 84600*6/5) = floor(102777.5)
    assert r["reading_ease_milli"] == 102777
    assert got[2]["n_sentences"] == 1 and got[2]["n_syllables"] == 1
    assert got[3]["n_words"] == 0 and got[3]["fk_grade_milli"] == -15200


def test_html_meta_extraction(spark):
    pages = spark.createDataFrame(
        [
            (1, '<html lang="en"><head><title> A Title </title>'
                '<meta name="description" content="d1">'
                '<link rel="canonical" href="https://x.com/a">'
                "</head><body>x</body></html>"),
            (2, '<HTML LANG="fr"><HEAD><TITLE>B</TITLE></HEAD>x</HTML>'),
            (3, "<html><body>no head at all</body></html>"),
        ],
        ["doc_id", "html"],
    )
    got = _rows(textops.html_meta(pages), "doc_id")
    a = got[1]
    assert a["title"] == "A Title" and a["title_len"] == 7  # trimmed
    assert a["meta_desc"] == "d1"
    assert a["canonical"] == "https://x.com/a"
    assert a["lang_attr"] == "en"
    b = got[2]
    assert b["title"] == "B" and b["lang_attr"] == "fr"  # (?i) both attrs
    assert b["meta_desc"] == "" and b["canonical"] == ""
    c = got[3]  # ExtraString contract: '' on every no-match
    assert (c["title"], c["meta_desc"], c["canonical"], c["lang_attr"]) == \
        ("", "", "", "") and c["title_len"] == 0


def test_img_alt_pairs_filters_and_order(spark):
    pages = spark.createDataFrame(
        [
            (1, '<body><img src="/a.jpg" alt="a fine caption">'
                '<img src="/b.jpg">'                      # no alt: dropped
                '<IMG ALT="upper tag ok" SRC="/c.jpg">'   # (?i), order-flipped
                '<img src="/d.jpg" alt="tiny">'           # < 5 chars: dropped
                '<img alt="no src here at all">'          # no src: dropped
                '<img src="/e.jpg" alt="  padded alt  ">'  # trimmed
                "</body>"),
            (2, "<body>no images</body>"),
        ],
        ["doc_id", "html"],
    )
    rows = textops.img_alt_pairs(pages).collect()
    assert {r.doc_id for r in rows} == {1}
    got = {r.img_idx: (r.src, r.alt, r.alt_len) for r in rows}
    assert got == {
        0: ("/a.jpg", "a fine caption", 14),
        2: ("/c.jpg", "upper tag ok", 12),
        5: ("/e.jpg", "padded alt", 10),
    }


def test_robots_meta_directives(spark):
    pages = spark.createDataFrame(
        [
            (1, '<head><meta name="robots" content="noindex"></head>'
                '<a href="/x">x</a>'),
            (2, '<head><meta name="robots" content="NONE"></head>'
                '<a href="/x" rel="nofollow">x</a><a href="/y">y</a>'),
            (3, "<head></head><a rel='single-quoted' href='/x'>x</a>"
                '<a rel="ugc nofollow" href="/y">y</a>'),
            (4, '<head><meta name="robots" content="NOFOLLOW"></head>'),
        ],
        ["doc_id", "html"],
    )
    got = _rows(textops.robots_meta(pages), "doc_id")
    assert got[1]["noindex"] and not got[1]["nofollow"]
    assert got[2]["noindex"] and got[2]["nofollow"]  # 'none' implies both
    assert got[2]["n_links"] == 2 and got[2]["n_nofollow_links"] == 1
    assert not got[3]["noindex"] and not got[3]["nofollow"]
    assert got[3]["n_links"] == 2 and got[3]["n_nofollow_links"] == 1
    assert got[4]["nofollow"] and not got[4]["noindex"]  # case-folded
    assert got[4]["n_links"] == 0
