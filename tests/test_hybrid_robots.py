"""robots.txt, boilerplate n-gram, chunking and registered-domain
contract-surface kernels.

Their contract rows hash these against DuckDB at sf0.01
(test_entry_contract.py); these units pin the RFC 9309 behaviors the
synthetic robots corpus exercises and the kernels' closed forms.
"""
from pyspark.sql import functions as F


def test_robots_rules_contract_behaviors(spark):
    # drive the contract query directly at sf0.001 and check the RFC
    # behaviors the synthetic corpus encodes
    from crawler_spark.entry_queries import q_robots_rules

    rows = {r.host: r for r in q_robots_rules(spark, "/root/testdata/sf0.001").collect()}
    assert len(rows) == 97
    # hid=0: crawl-delay 1, one prefix, badbot group ignored
    h0 = rows["h0.example"]
    assert h0.delay_milli == 1000 and h0.n_prefixes == 1
    # hid=1: no crawl-delay (1 % 3 != 0), 2 disallow lines (hid%4+1)
    h1 = rows["h1.example"]
    assert h1.delay_milli == -1 and h1.n_prefixes == 2
    # badbot's "Disallow: /" must never leak into the '*' group: every
    # prefix set is exactly hid%4+1 strong (empty Disallow ignored too)
    for hid in range(97):
        assert rows[f"h{hid}.example"].n_prefixes == hid % 4 + 1


def test_boilerplate_ngrams_known_values(spark):
    from crawler_spark.functions import textops

    footer = "all rights reserved by example corp"
    rows = [
        (1, "unique words one " + footer),
        (2, "other body text two " + footer),
        (3, footer + " " + footer),  # repeats in-doc: occurrences > docs
        (4, "short"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = textops.boilerplate_ngrams(df, n=5, k=3).collect()
    top = out[0]
    # both footer 5-grams hit docs 1,2,3 (twice in 3); the tie breaks
    # on shingle asc — "all rights..." sorts before "rights..."
    assert top.rank == 1 and top.n_docs == 3
    assert top.shingle == "all rights reserved by example"
    assert top.n_occurrences == 4
    assert {r.shingle for r in out[:2]} == {
        "all rights reserved by example",
        "rights reserved by example corp",
    }
    assert len(out) == 3


def test_boilerplate_ngrams_topk_plan(spark):
    from crawler_spark.functions import textops

    df = spark.createDataFrame([(1, "a b c d e f")], "doc_id long, text string")
    plan = (
        textops.boilerplate_ngrams(df)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # vocab-sized phrase table cut by TakeOrdered, never globally sorted
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_chunk_documents_boundaries(spark):
    from crawler_spark.functions import textops

    text = " ".join(f"t{i}" for i in range(10))
    df = spark.createDataFrame([(1, text), (2, "only three tokens")],
                               "doc_id long, text string")
    out = textops.chunk_documents(df, max_tokens=4, stride=3).collect()
    d1 = sorted([r for r in out if r.doc_id == 1], key=lambda r: r.chunk_id)
    # starts 0,3,6,9 -> windows [t0..t3],[t3..t6],[t6..t9],[t9]
    assert [(r.chunk_id, r.start_tok, r.n_tokens) for r in d1] == [
        (0, 1, 4), (1, 4, 4), (2, 7, 4), (3, 10, 1)
    ]
    import hashlib
    assert d1[0].chunk_md5 == hashlib.md5(b"t0 t1 t2 t3").hexdigest()
    assert d1[3].chunk_md5 == hashlib.md5(b"t9").hexdigest()
    d2 = [r for r in out if r.doc_id == 2]
    assert len(d2) == 1 and d2[0].n_tokens == 3


def test_chunk_documents_zero_shuffle(spark):
    from crawler_spark.functions import textops

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    plan = (
        textops.chunk_documents(df)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_registered_domain_psl_semantics(spark):
    from crawler_spark.functions.hoststats import registered_domain

    cases = {
        "shop.example.co.uk": "example.co.uk",   # multi-label suffix
        "www.example.co.uk": "example.co.uk",
        "example.co.uk": "example.co.uk",
        "co.uk": None,                            # host IS a public suffix
        "a.b.site.github.io": "site.github.io",   # private-section entry
        "github.io": None,
        "www.site.com": "site.com",
        "com": None,
        "site7.example": "site7.example",         # '*' default rule
        "example": None,                          # single-label unknown TLD
        "deep.www.site7.example": "site7.example",
        "x.blogspot.com": "x.blogspot.com",
    }
    df = spark.createDataFrame([(h,) for h in cases], "host string")
    got = {r.host: r.reg for r in
           df.select("host", registered_domain("host").alias("reg")).collect()}
    assert got == cases


def test_registered_domain_scan_local(spark):
    from crawler_spark.functions.hoststats import registered_domain

    df = spark.createDataFrame([("a.b.com",)], "host string")
    plan = (
        df.select(registered_domain("host"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    # pure expressions: no Exchange, no join, no Python stage
    for bad in ("Exchange", "Join", "BatchEvalPython", "ArrowEvalPython"):
        assert bad not in plan


def test_rank_by_budget_registered_domain_key(spark):
    from pyspark.sql import functions as F

    from crawler_spark.politeness import rank_by_budget
    from crawler_spark.rules import synthetic_tasks

    tasks = synthetic_tasks(n_book_hosts=1, n_sun_hosts=0)
    tname = next(iter(tasks))
    # 3 subdomains of ONE registrable domain + 1 separate domain,
    # 2 rows each; robots unconstrained
    rows = []
    seq = 0
    for host in ("a.site.co.uk", "b.site.co.uk", "c.site.co.uk",
                 "other.co.uk"):
        for j in range(2):
            rows.append((tname, host, f"http://{host}/p{j}", seq, 5, None))
            seq += 1
    df = spark.createDataFrame(
        rows,
        "task_name string, host string, url string, seq long, "
        "priority int, robots_budget int",
    ).withColumn("url_hash", F.xxhash64("url"))
    # force budget = 3 rows per key via robots_budget (base budget large)
    df = df.withColumn("robots_budget", F.lit(3))

    sched_h, _ = rank_by_budget(df, tasks, 30.0, politeness_key="host")
    sched_d, _ = rank_by_budget(
        df, tasks, 30.0, politeness_key="registered_domain"
    )
    by_host = len(sched_h.collect())
    # host key: every host under budget -> all 8 scheduled
    assert by_host == 8
    got = sched_d.collect()
    # registrable-domain key: site.co.uk fan-out shares ONE budget of 3;
    # other.co.uk keeps its own 2
    assert len(got) == 5
    assert sum(1 for r in got if r.host.endswith("site.co.uk")) == 3
    # output schema unchanged (no _pkey leakage)
    assert "_pkey" not in sched_d.columns
