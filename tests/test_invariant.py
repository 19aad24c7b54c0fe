"""Per-row invariant (BASELINE.json input_hint): byte-identical extracted
text per url — the engine's extraction over ``html`` must equal the
corpus's golden ``text`` column for every fetched page.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from crawler_spark import corpus, parsers, rules
from crawler_spark.frontier import with_url_identity


def _extraction_col(rule) -> F.Column:
    """Canonical extraction string per rule kind (matches corpus golden)."""
    if isinstance(rule, rules.LinkRule):
        return F.concat_ws(
            "\n",
            F.transform(
                F.col("links"),
                lambda l: F.when(
                    l["link_title"].isNull(), l["link_url"]
                ).otherwise(F.concat_ws("|", l["link_url"], l["link_title"])),
            ),
        )
    if isinstance(rule, rules.MatchRule):
        return F.when(F.col("emit"), F.lit("MATCH")).otherwise(F.lit(""))
    if isinstance(rule, rules.FieldsRule):
        return F.concat_ws(
            "\n", *[F.element_at(F.col("data"), f.name) for f in rule.fields]
        )
    raise TypeError(rule)


KIND_TO_RULE = {
    "index": ("book_list", "tag"),
    "tag": ("book_list", "book_list"),
    "detail": ("book_list", "book_detail"),
    "group": ("sun_room", "group_list"),
    "topic": ("sun_room", "topic"),
}


def test_extraction_matches_golden_text(spark):
    pages = corpus.generate_pages(spark, n_hosts=5, n_filler=0)
    pages = pages.withColumn("body", F.decode("html", "UTF-8"))
    tasks = rules.synthetic_tasks(n_book_hosts=5, n_sun_hosts=5)
    checked = 0
    for kind, (tname, rname) in KIND_TO_RULE.items():
        rule = tasks[tname].rules[rname]
        branch = pages.where(F.col("kind") == kind).withColumn(
            "tmp", F.lit(None).cast("map<string,string>")
        )
        parsed = parsers.apply_rule_sql(branch, rule, body_col="body")
        if isinstance(rule, rules.FieldsRule):
            # golden detail text excludes the tmp-carried 书名 field
            ext = F.concat_ws(
                "\n", *[F.element_at(F.col("data"), f.name) for f in rule.fields]
            )
        else:
            ext = _extraction_col(rule)
        bad = parsed.withColumn("_ext", ext).where(F.col("_ext") != F.col("text"))
        rows = bad.select("url", "text", "_ext").limit(3).collect()
        assert not rows, f"{kind}: extraction != golden, e.g. {rows}"
        checked += parsed.count()
    assert checked == 5 * (1 + corpus.N_TAGS + corpus.N_DETAILS + corpus.N_GROUPS + corpus.N_TOPICS)


def test_extraction_matches_golden_text_gbk_sniff(spark):
    """P11 invariant: the GBK-re-encoded subset must extract
    byte-identically through sniff_decode (the golden text column is
    encoding-independent)."""
    from crawler_spark.charset import sniff_decode_col

    pages = corpus.with_gbk_reencoding(
        corpus.generate_pages(spark, n_hosts=4, n_filler=0)
    )
    # persisted: the sniff UDF runs once, not once per kind below
    pages = pages.withColumn("body", sniff_decode_col(F.col("html"))).persist()
    # the re-encoding really hit a subset
    n_gbk = pages.where(F.substring(F.col("html"), 1, 5) == F.lit(b"<meta")).count()
    assert n_gbk > 0
    tasks = rules.synthetic_tasks(n_book_hosts=4, n_sun_hosts=4)
    for kind, (tname, rname) in KIND_TO_RULE.items():
        rule = tasks[tname].rules[rname]
        branch = pages.where(F.col("kind") == kind).withColumn(
            "tmp", F.lit(None).cast("map<string,string>")
        )
        parsed = parsers.apply_rule_sql(branch, rule, body_col="body")
        if isinstance(rule, rules.FieldsRule):
            ext = F.concat_ws(
                "\n", *[F.element_at(F.col("data"), f.name) for f in rule.fields]
            )
        else:
            ext = _extraction_col(rule)
        bad = parsed.withColumn("_ext", ext).where(F.col("_ext") != F.col("text"))
        rows = bad.select("url", "text", "_ext").limit(3).collect()
        assert not rows, f"{kind}: extraction != golden under GBK, e.g. {rows}"
    pages.unpersist()


def test_corpus_is_deterministic(spark):
    a = corpus.generate_pages(spark, n_hosts=3, n_filler=20)
    b = corpus.generate_pages(spark, n_hosts=3, n_filler=20)
    ah = a.select(F.sha2(F.concat_ws("|", "url", F.base64("html"), "text"), 256).alias("h"))
    bh = b.select(F.sha2(F.concat_ws("|", "url", F.base64("html"), "text"), 256).alias("h"))
    assert ah.exceptAll(bh).count() == 0 and bh.exceptAll(ah).count() == 0


def test_corpus_body_size_gates(spark):
    pages = corpus.generate_pages(spark, n_hosts=4, n_filler=100)
    with_len = pages.withColumn("n", F.length("html"))
    # crawlable kinds are padded past the reference's 6000-byte gate,
    # except the deterministic short-topic slice
    short_crawlable = with_len.where(
        (F.col("kind").isin("index", "tag", "detail", "group"))
        & (F.col("n") < corpus.MIN_BODY_BYTES)
    )
    assert short_crawlable.count() == 0
    # some topics/fillers ARE short (drop-path coverage)
    assert with_len.where(F.col("n") < corpus.MIN_BODY_BYTES).count() > 0


def test_url_identity_helper(spark):
    pages = corpus.generate_pages(spark, n_hosts=2, n_filler=0)
    df = with_url_identity(pages.select("url"))
    r = df.where(F.col("url").endswith("/index/0")).first()
    assert r.host.startswith("host00")
    assert r.url_norm == r.url  # already canonical
    assert isinstance(r.url_hash, int)
