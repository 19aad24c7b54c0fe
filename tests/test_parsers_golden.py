"""Parser kernels P1-P8: golden tests on the reference's own fixture
pages (read live from /root/reference/testhtml — public test data, not
copied into this repo) + SQL-vs-pure-Python differential tests.

The pure-Python kernels use the exact reference regexes transcribed from
parse/doubangroup/dobuan_book.go:63,93,124-129 and douban_group.go:39-40,
with ExtraString first-group-or-'' semantics — so SQL == python == Go.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from crawler_spark import parsers, rules

REF = "/root/reference/testhtml"
pytestmark = pytest.mark.skipif(
    not os.path.isdir(REF), reason="reference fixtures unavailable"
)


def _read(name: str) -> str:
    with open(os.path.join(REF, name), "rb") as f:
        return f.read().decode("utf-8")


@pytest.fixture(scope="module")
def fixtures():
    return {
        "index": _read("index.html"),
        "tag": _read("fiction_tag.html"),
        "detail": _read("book_detail.html"),
    }


def _sql_one(spark, rule, body, url="https://book.douban.com", tmp=None):
    df = spark.createDataFrame(
        [(url, body, tmp)], "url string, body string, tmp map<string,string>"
    )
    return parsers.apply_rule_sql(df, rule).select("links", "data", "emit").collect()[0]


def test_parse_tag_golden(spark, fixtures):
    """P3: 3 tag links out of index.html, host-prefixed (dobuan_book.go:63-91)."""
    rule = rules.douban_tasks()["douban_book_list"].rules["tag"]
    py = parsers.parse_links_py(fixtures["index"], rule, "https://book.douban.com")
    assert len(py) == 3  # truncation cap
    assert all(u.startswith("https://book.douban.com/tag/") for u, _ in py)
    row = _sql_one(spark, rule, fixtures["index"])
    assert [(l.link_url, l.link_title) for l in row.links] == py


def test_parse_book_list_golden(spark, fixtures):
    """P4: 3 book links with title carried as tmp (dobuan_book.go:93-122)."""
    rule = rules.douban_tasks()["douban_book_list"].rules["book_list"]
    py = parsers.parse_links_py(fixtures["tag"], rule, "ignored")
    assert len(py) == 3
    assert all(t for _, t in py)  # every link has a title
    row = _sql_one(spark, rule, fixtures["tag"])
    assert [(l.link_url, l.link_title) for l in row.links] == py


def test_parse_book_detail_golden(spark, fixtures):
    """P5+P6: 7 fields, ExtraString semantics, 页数 via Atoi->str."""
    rule = rules.douban_tasks()["douban_book_list"].rules["book_detail"]
    tmp = {"book_name": "测试书名"}
    py = parsers.parse_fields_py(fixtures["detail"], rule, tmp)
    assert set(py) == set(rules.BOOK_ITEM_FIELDS)
    assert py["书名"] == "测试书名"
    assert py["作者"] != ""  # fixture has an author
    assert py["页数"].lstrip("+-").isdigit()  # Atoi semantics -> numeric string
    row = _sql_one(spark, rule, fixtures["detail"], tmp=tmp)
    assert dict(row.data) == py


def test_sun_room_kernels(spark):
    """P1/P2 over douban-shaped snippets (no topic fixture in reference)."""
    t = rules.douban_tasks()["find_douban_sun_room"]
    body = (
        '<td><a href="https://www.douban.com/group/topic/123abc/" class="">'
        "标题一</a></td>"
        '<td><a href="https://www.douban.com/group/topic/456xyz/" title="x">'
        "标题二</a></td>"
    )
    g = t.rules["group_list"]
    py = parsers.parse_links_py(body, g, "x")
    assert [u for u, _ in py] == [
        "https://www.douban.com/group/topic/123abc/",
        "https://www.douban.com/group/topic/456xyz/",
    ]
    row = _sql_one(spark, g, body)
    assert [l.link_url for l in row.links] == [u for u, _ in py]

    m = t.rules["topic"]
    hit = '<div class="topic-content">这里有一个阳台朝南</div><div class="x">'
    miss = '<div class="topic-content">没有那个东西</div><div class="x">'
    assert parsers.parse_match_py(hit, m) and not parsers.parse_match_py(miss, m)
    assert _sql_one(spark, m, hit).emit
    assert not _sql_one(spark, m, miss).emit


def test_atoi_semantics():
    assert parsers._atoi_str("381") == "381"
    assert parsers._atoi_str("+381") == "381"
    assert parsers._atoi_str("-5") == "-5"
    assert parsers._atoi_str("381页") == "0"
    assert parsers._atoi_str("") == "0"
    assert parsers._atoi_str(" 381") == "0"  # Go Atoi rejects spaces


def test_results_wide_reference_columns(spark, fixtures):
    """K5 parity: results_wide emits exactly the reference sink's column
    set — ItemFields + Url + Time, all strings (sqlstorage.go:68-88) —
    from the engine's map-typed results, '' for missing fields."""
    import datetime

    from crawler_spark.engine import results_wide

    task = rules.douban_tasks()["douban_book_list"]
    data = parsers.parse_fields_py(
        fixtures["detail"], task.rules["book_detail"], {"book_name": "测试书"}
    )
    ts = datetime.datetime(2026, 1, 2, 3, 4, 5)
    df = spark.createDataFrame(
        [
            ("douban_book_list", "book_detail", "https://book.douban.com/b/1", ts, data),
            # a row with a sparse map: absent fields must surface as ''
            ("douban_book_list", "book_detail", "https://book.douban.com/b/2", ts,
             {"书名": "only-name"}),
            ("other_task", "r", "u", ts, {}),
        ],
        "task string, rule string, url string, ts timestamp, data map<string,string>",
    )
    wide = results_wide(df, task)
    assert wide.columns == list(rules.BOOK_ITEM_FIELDS) + ["Url", "Time"]
    rows = {r["Url"]: r for r in wide.collect()}
    assert set(rows) == {
        "https://book.douban.com/b/1", "https://book.douban.com/b/2"
    }  # other tasks' rows excluded
    r1 = rows["https://book.douban.com/b/1"]
    assert r1["书名"] == "测试书"
    assert all(r1[f] == data[f] for f in data)
    assert r1["Time"] == "2026-01-02 03:04:05"  # rule.go:50 format
    r2 = rows["https://book.douban.com/b/2"]
    assert r2["书名"] == "only-name"
    assert all(r2[f] == "" for f in rules.BOOK_ITEM_FIELDS if f != "书名")


def test_results_wide_dedups_colliding_field_names(spark):
    """ADVICE r2: duplicate names within one rule's fields, or a
    tmp_field colliding with a later rule's field, must produce exactly
    one output column."""
    import datetime

    from crawler_spark.engine import results_wide

    t = rules.Task(
        name="t",
        seeds=(),
        rules={
            "a": rules.FieldsRule(
                fields=(rules.FieldSpec("x", r"x=(\d+)"),
                        rules.FieldSpec("x", r"x2=(\d+)")),
                tmp_field=("carry", "carry_key"),
            ),
            "b": rules.FieldsRule(
                fields=(rules.FieldSpec("carry", r"c=(\d+)"),
                        rules.FieldSpec("y", r"y=(\d+)")),
            ),
        },
    )
    ts = datetime.datetime(2026, 1, 2, 3, 4, 5)
    df = spark.createDataFrame(
        [("t", "a", "u1", ts, {"x": "1", "carry": "2", "y": "3"})],
        "task string, rule string, url string, ts timestamp, data map<string,string>",
    )
    wide = results_wide(df, t)
    assert wide.columns == ["carry", "x", "y", "Url", "Time"]
    assert len(wide.columns) == len(set(wide.columns))
