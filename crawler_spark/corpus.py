"""Deterministic synthetic Common-Crawl-style corpus (FIXTURES.md §1).

Generates the ``pages`` table — schema per BASELINE.json input_hint:
``(url, warc_ts, html binary, text, lang)`` — entirely with Spark column
expressions over ``spark.range`` (no driver loops, no RNG: every value is
a pure function of the row id, so any scale regenerates byte-identically
and fully parallel).

The page graph is closed under the synthetic crawl tasks
(rules.synthetic_tasks):

per host h (hostNNN.example.test):
  /index/0          5 tag anchors              -> crawled depth 0
  /tag/tagK  K<5    5 book anchors each        -> depth 1 (first 3 tags)
  /detail/I  I<25   book field spans           -> depth 2 (3 books x 3 tags)
  /group/G   G<2    8 topic anchors + 1 dead   -> sun_room depth 0
  /topic/tT/ T<12   30% contain the 阳台 block  -> depth 1
plus filler pages on zipf-skewed hosts (hot host000) for scan realism.

``text`` is the **golden extraction**: exactly what a correct parser
extracts from ``html`` (links joined by \\n, field values in rule order,
MATCH/'' for predicate pages) — the per-row byte-identical invariant is
``engine extraction == pages.text`` (tests/test_invariant.py).

Failure-path knobs (all deterministic):
- every /group/G page links one nonexistent /topic/zzG/  -> fetch miss,
  retry once, park (engine/crawler.go:179-194 semantics)
- topics with xxhash64(url,'ban')%20==7 carry the reference's ban marker
  (engine/crawler.go:107) -> failure+retry path
- topics with xxhash64(url,'short')%20==3 are left <6000 bytes -> silent
  drop, still marked seen (engine/crawler.go:113-120)
- 2% of filler pages are short, 1% carry the ban marker
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

BAN_MARKER = "你访问豆瓣的方式有点像机器人程序"
MIN_BODY_BYTES = 6000
PAD_CHARS = 6200  # chars >= bytes; CJK pads even wider

N_TAGS = 5
BOOKS_PER_TAG = 5
N_DETAILS = N_TAGS * BOOKS_PER_TAG
N_GROUPS = 2
TOPICS_PER_GROUP = 8
N_TOPICS = 12

BASE_TS = "2026-01-01 00:00:00"


def _host(h) -> F.Column:
    return F.format_string("host%03d.example.test", h)


def _base(h) -> F.Column:
    return F.concat(F.lit("https://"), _host(h))


def _pad(content: F.Column, n_chars: int = PAD_CHARS) -> F.Column:
    return F.rpad(content, n_chars, "<!-- filler padding comment -->\n")


def _finish(df: DataFrame, kind: str, lang: str = "zh") -> DataFrame:
    """page_str/text/url/ord -> final pages schema (+kind for debugging)."""
    return df.select(
        F.col("url"),
        (F.to_timestamp(F.lit(BASE_TS)) + F.make_interval(secs=F.col("ord"))).alias(
            "warc_ts"
        ),
        F.encode(F.col("page_str"), "utf-8").alias("html"),
        F.col("text"),
        F.lit(lang).alias("lang"),
        F.lit(kind).alias("kind"),
    )


def robots_dict_for_hosts(n_hosts: int) -> dict[str, tuple[float | None, list[str]]]:
    """Closed-form twin of the generated robots pages (oracle input)."""
    out: dict[str, tuple[float | None, list[str]]] = {}
    for h in range(0, n_hosts, 2):
        out[f"host{h:03d}.example.test"] = (
            12.0 if h % 4 == 0 else None,
            ["/detail/"],
        )
    return out


def generate_pages(
    spark: SparkSession,
    n_hosts: int = 8,
    n_filler: int = 0,
    partitions: int | None = None,
    robots: bool = False,
) -> DataFrame:
    """Build the corpus DataFrame (url, warc_ts, html, text, lang, kind)."""
    p = partitions or spark.sparkContext.defaultParallelism
    hosts = spark.range(0, n_hosts, 1, min(p, max(1, n_hosts))).withColumnRenamed(
        "id", "h"
    )

    # ---------------------------------------------------------- index
    anchors = F.concat(
        *[
            F.format_string(
                '<li><a href="/tag/tag%d" class="tag">tag%d</a></li>\n', F.lit(k), F.lit(k)
            )
            for k in range(N_TAGS)
        ]
    )
    golden = F.concat_ws(
        "\n", *[F.concat(_base(F.col("h")), F.lit(f"/tag/tag{k}")) for k in range(3)]
    )
    index = hosts.select(
        F.concat(_base(F.col("h")), F.lit("/index/0")).alias("url"),
        _pad(F.concat(F.lit("<html><body><ul>\n"), anchors, F.lit("</ul></body></html>"))).alias(
            "page_str"
        ),
        golden.alias("text"),
        (F.col("h") * 1000).alias("ord"),
    )

    # ---------------------------------------------------------- tag pages
    tags = hosts.crossJoin(
        spark.range(N_TAGS).withColumnRenamed("id", "k")
    )
    book_id = lambda j: F.col("k") * BOOKS_PER_TAG + F.lit(j)  # noqa: E731
    book_anchor = lambda j: F.format_string(  # noqa: E731
        '<p><a class="bk" href="%s/detail/%d" title="Book %d-%d"></a></p>\n',
        _base(F.col("h")),
        book_id(j),
        F.col("h"),
        book_id(j),
    )
    tag_body = F.concat(
        F.lit("<html><body>\n"), *[book_anchor(j) for j in range(BOOKS_PER_TAG)], F.lit("</body></html>")
    )
    tag_golden = F.concat_ws(
        "\n",
        *[
            F.format_string(
                "%s/detail/%d|Book %d-%d",
                _base(F.col("h")),
                book_id(j),
                F.col("h"),
                book_id(j),
            )
            for j in range(3)
        ],
    )
    tag = tags.select(
        F.format_string("https://host%03d.example.test/tag/tag%d", F.col("h"), F.col("k")).alias("url"),
        _pad(tag_body).alias("page_str"),
        tag_golden.alias("text"),
        (F.col("h") * 1000 + 10 + F.col("k")).alias("ord"),
    )

    # ---------------------------------------------------------- detail pages
    details = hosts.crossJoin(spark.range(N_DETAILS).withColumnRenamed("id", "i"))
    author = F.format_string("Author %d-%d", F.col("h"), F.col("i"))
    pages_v = (F.lit(100) + F.col("i") * 3).cast("string")
    publisher = F.format_string("Pub %d", F.col("i") % 7)
    score = F.format_string("%d.%d", F.lit(7) + F.col("i") % 3, F.col("i") % 10)
    price = F.format_string("%d.00元", (F.col("i") % 50) + 10)
    intro = F.format_string("Intro text %d %d 简介内容", F.col("h"), F.col("i"))
    detail_body = F.concat(
        F.lit('<html><body>\n<span class="pl"> 作者</span>:\n <a href="/a">'),
        author,
        F.lit('</a><br/>\n<span class="pl">出版社:</span> <a href="/p">'),
        publisher,
        F.lit('</a><br/>\n<span class="pl">页数:</span> '),
        pages_v,
        F.lit('<br/>\n<span class="pl">定价:</span>'),
        price,
        F.lit('<br/>\n<strong class="ll rating_num " property="v:average">'),
        score,
        F.lit('</strong>\n<div class="intro"><p>'),
        intro,
        F.lit("</p></div>\n</body></html>"),
    )
    # golden field order == rules.BOOK_FIELDS order
    detail_golden = F.concat_ws("\n", author, pages_v, publisher, score, price, intro)
    detail = details.select(
        F.format_string("https://host%03d.example.test/detail/%d", F.col("h"), F.col("i")).alias("url"),
        _pad(detail_body).alias("page_str"),
        detail_golden.alias("text"),
        (F.col("h") * 1000 + 100 + F.col("i")).alias("ord"),
    )

    # ---------------------------------------------------------- group pages
    groups = hosts.crossJoin(spark.range(N_GROUPS).withColumnRenamed("id", "g"))
    topic_id = lambda j: (F.col("g") * 6 + F.lit(j)) % N_TOPICS  # noqa: E731
    topic_anchor = lambda j: F.format_string(  # noqa: E731
        '<td><a href="%s/topic/t%d/" class="tt">主题 %d 讨论</a></td>\n',
        _base(F.col("h")),
        topic_id(j),
        topic_id(j),
    )
    dead_anchor = F.format_string(
        '<td><a href="%s/topic/zz%d/" class="tt">dead link %d</a></td>\n',
        _base(F.col("h")),
        F.col("g"),
        F.col("g"),
    )
    group_body = F.concat(
        F.lit("<html><table>\n"),
        *[topic_anchor(j) for j in range(TOPICS_PER_GROUP)],
        dead_anchor,
        F.lit("</table></html>"),
    )
    # golden = bare URLs: ParseGroupUrl captures the anchor text too but
    # discards it (douban_group.go:47-57 uses only m[1])
    group_golden = F.concat_ws(
        "\n",
        *[
            F.format_string("%s/topic/t%d/", _base(F.col("h")), topic_id(j))
            for j in range(TOPICS_PER_GROUP)
        ],
        F.format_string("%s/topic/zz%d/", _base(F.col("h")), F.col("g")),
    )
    group = groups.select(
        F.format_string("https://host%03d.example.test/group/%d", F.col("h"), F.col("g")).alias("url"),
        _pad(group_body).alias("page_str"),
        group_golden.alias("text"),
        (F.col("h") * 1000 + 200 + F.col("g")).alias("ord"),
    )

    # ---------------------------------------------------------- topic pages
    topics = hosts.crossJoin(spark.range(N_TOPICS).withColumnRenamed("id", "t"))
    turl = F.format_string("https://host%03d.example.test/topic/t%d/", F.col("h"), F.col("t"))
    sunny = F.pmod(F.xxhash64(turl, F.lit("sun")), F.lit(10)) < 3
    banned = F.pmod(F.xxhash64(turl, F.lit("ban")), F.lit(20)) == 7
    short = F.pmod(F.xxhash64(turl, F.lit("short")), F.lit(20)) == 3
    topic_body = F.concat(
        F.lit("<html><body>\n"),
        F.when(banned, F.lit(BAN_MARKER + "\n")).otherwise(F.lit("")),
        F.lit('<div class="topic-content">'),
        F.when(sunny, F.lit("这个房子的阳台朝南，采光很好")).otherwise(
            F.lit("普通房间，没有特别之处")
        ),
        F.lit('</div><div class="footer"></div>\n</body></html>'),
    )
    topic_golden = F.when(sunny, F.lit("MATCH")).otherwise(F.lit(""))
    topic = topics.select(
        turl.alias("url"),
        F.when(short, _pad(topic_body, 500)).otherwise(_pad(topic_body)).alias("page_str"),
        topic_golden.alias("text"),
        (F.col("h") * 1000 + 300 + F.col("t")).alias("ord"),
    )

    parts = [
        _finish(index, "index"),
        _finish(tag, "tag"),
        _finish(detail, "detail"),
        _finish(group, "group"),
        _finish(topic, "topic"),
    ]

    if robots:
        # one /robots.txt per even host: a decoy group for another agent
        # (must be skipped), then the wildcard group — Disallow /detail/
        # for every even host, Crawl-delay 12 for every 4th host.  The
        # closed form is mirrored by tests (robots_dict_for_hosts).
        rhosts = hosts.where(F.col("h") % 2 == 0)
        rbody = F.concat(
            F.lit("# synthetic robots\nUser-agent: fancybot\nDisallow: /\n\n"
                  "User-agent: *\nDisallow: /detail/\n"),
            F.when(F.col("h") % 4 == 0, F.lit("Crawl-delay: 12\n")).otherwise(F.lit("")),
        )
        rdf = rhosts.select(
            F.concat(_base(F.col("h")), F.lit("/robots.txt")).alias("url"),
            rbody.alias("page_str"),
            F.lit("").alias("text"),
            (F.col("h") * 1000 + 900).alias("ord"),
        )
        parts.append(_finish(rdf, "robots", lang="en"))

    # ---------------------------------------------------------- filler
    if n_filler > 0:
        filler = spark.range(0, n_filler, 1, p).withColumnRenamed("id", "i")
        # zipf-ish host skew: u^3 concentrates mass on low host ids
        u = (F.pmod(F.xxhash64(F.col("i"), F.lit("fh")), F.lit(1_000_000)) / 1_000_000.0)
        fh = F.floor(F.pow(u, 3.0) * n_hosts).cast("long")
        furl = F.format_string("https://host%03d.example.test/f/%d", fh, F.col("i"))
        fshort = F.pmod(F.xxhash64(furl, F.lit("fs")), F.lit(50)) == 1  # 2%
        fban = F.pmod(F.xxhash64(furl, F.lit("fb")), F.lit(100)) == 2  # 1%
        fbody = F.concat(
            F.lit("<html><body><p>filler document "),
            F.col("i").cast("string"),
            F.when(fban, F.lit(" " + BAN_MARKER)).otherwise(F.lit("")),
            F.lit("</p></body></html>"),
        )
        # filler pages stay small (600 chars): they model frontier/corpus
        # row count, not byte volume — padding them like crawlable pages
        # just turns the fetch-join scan into a pure decompress-bandwidth
        # benchmark (they are never scheduled, so the 6000-byte gate
        # never sees them)
        fdf = filler.select(
            furl.alias("url"),
            F.when(fshort, _pad(fbody, 400)).otherwise(_pad(fbody, 600)).alias("page_str"),
            F.lit("").alias("text"),
            (F.lit(10_000_000) + F.col("i")).alias("ord"),
        )
        parts.append(_finish(fdf, "filler", lang="en"))

    out = parts[0]
    for d in parts[1:]:
        out = out.unionByName(d)
    return out


HOT_SHINGLE_TEXT = "all rights reserved terms of service apply"


def with_hot_shingle(
    df: DataFrame,
    hot_frac: float = 0.3,
    hot_text: str = HOT_SHINGLE_TEXT,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Hot-shingle corpus knob (VERDICT r2 #5): append a shared
    boilerplate phrase to ``hot_frac`` of documents (deterministic by
    id), planting shingles whose document frequency is hot_frac * n_docs
    — the web-scale stop-phrase shape (footer boilerplate) that makes an
    uncapped inverted-index self-join quadratic in the hot set.  Used to
    evidence that ``max_df`` keeps the dedup family subquadratic.

    Selection is ``id % 100 < round(hot_frac * 100)``, so for hot_frac
    in whole percent and sequential ids the planted fraction is exact
    (``round(1/hot_frac)``-style moduli drift badly: 0.3 -> 33.3%,
    0.67 -> 100%)."""
    cut = int(round(hot_frac * 100))
    return df.withColumn(
        text_col,
        F.when(
            F.col(id_col) % 100 < cut,
            F.concat(F.col(text_col), F.lit(" " + hot_text)),
        ).otherwise(F.col(text_col)),
    )


def with_gbk_reencoding(df: DataFrame) -> DataFrame:
    """Re-encode a deterministic subset of topic/detail pages as GBK with
    a ``<meta charset="GBK">`` declaration in the first 1 KiB — the P11
    charset-sniff exercise (douban's historical encoding; reference
    transcodes via DeterminEncoding, collect.go:93-101).  The golden
    ``text`` column is unchanged: a correct sniff+decode recovers the
    identical character stream, so the byte-identical invariant holds iff
    P11 works.  Runs as one Arrow-batched pass (mapInPandas) — Python
    codecs are the only GBK encoder available (Spark's F.encode charset
    list excludes it)."""
    from .urlnorm import xxhash64_py

    schema = df.schema

    def run(batches):
        import pandas as pd  # noqa: F401

        for pdf in batches:
            out = []
            for url, kind, hb in zip(pdf["url"], pdf["kind"], pdf["html"]):
                raw = bytes(hb)
                if kind in ("topic", "detail") and xxhash64_py(
                    (url + "|gbk").encode("utf-8")
                ) % 4 == 1:
                    s = raw.decode("utf-8")
                    raw = ('<meta charset="GBK">' + s).encode("gbk")
                out.append(raw)
            pdf = pdf.copy()
            pdf["html"] = out
            yield pdf

    return df.mapInPandas(run, schema)


def write_corpus(
    spark: SparkSession, path: str, n_hosts: int = 8, n_filler: int = 0,
    gbk: bool = False, robots: bool = False,
) -> None:
    """Write the corpus hash-distributed by url across all files.

    generate_pages unions homogeneous blocks (all tag pages together,
    all filler together); written as-is, a scan's parse work would pile
    onto the few files holding crawlable pages and serialize the round
    on ~1/4 of the cores (measured).  Real WARC archives interleave page
    types, and the same lesson holds at 100 TB: keep per-file work
    uniform, or the scan's critical path is the skewed file."""
    df = generate_pages(spark, n_hosts, n_filler, robots=robots)
    if gbk:
        df = with_gbk_reencoding(df)
    df = df.drop("kind")
    p = spark.sparkContext.defaultParallelism
    df.repartition(p, F.col("url")).write.mode("overwrite").parquet(path)
