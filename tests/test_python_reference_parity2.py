"""Third-engine randomized parity, part 2 — table_extract vs a Python
regex mini-parser, hreflang_clusters vs a Python cluster/election
reference, and soft404_detect vs a Python vote.  Same discipline as
part 1: one seeded batch per kernel, plain-Python references
independent of both Spark and the DuckDB oracles.
"""

from __future__ import annotations

import os
import random
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from crawler_spark.functions import hreflang, textops  # noqa: E402


def _py_tables(html):
    out = []
    for ti, tbl in enumerate(
        re.findall(r"<table[^>]*>.*?</table>", html, re.I | re.S)
    ):
        for ri, row in enumerate(
            re.findall(r"<tr[^>]*>.*?</tr>", tbl, re.I | re.S)
        ):
            cells = re.findall(r"<t[dh][^>]*>(.*?)</t[dh]>", row,
                               re.I | re.S)
            clean = [
                re.sub(r"\s+", " ",
                       re.sub(r"<[^>]+>", " ", c), flags=re.ASCII).strip()
                for c in cells
            ]
            out.append((ti, ri, len(cells),
                        bool(re.search(r"<th[^>]*>", row, re.I | re.S)),
                        " | ".join(clean)))
    return out


def test_table_extract_vs_python(spark):
    rng = random.Random(8)
    htmls = []
    for _ in range(60):
        parts = ["<p>lead</p>"]
        for t in range(rng.randint(0, 3)):
            rows = []
            for r in range(rng.randint(1, 4)):
                tag = "th" if (r == 0 and rng.random() < 0.5) else "td"
                cells = "".join(
                    f"<{tag}>{rng.choice(['x', '<b>y</b>', '', ' z  q '])}"
                    f"</{tag}>"
                    for _ in range(rng.randint(1, 3))
                )
                rows.append(f"<tr>{cells}</tr>")
            parts.append(f"<table id=t{t}>{''.join(rows)}</table>gap")
        htmls.append("".join(parts))
    df = spark.createDataFrame(
        [(i, h) for i, h in enumerate(htmls)], "doc_id long, html string"
    )
    got = {}
    for r in textops.table_extract(df).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["table_idx"], r["row_idx"], r["n_cells"], r["is_header"],
             r["row_text"]))
    for i, h in enumerate(htmls):
        assert sorted(got.get(i, [])) == sorted(_py_tables(h)), h


def test_hreflang_vs_python(spark):
    rng = random.Random(9)
    rows = []
    meta = {}
    for c in range(20):
        langs = rng.sample(["en", "de", "fr", "ja", "pt"],
                           rng.randint(1, 4))
        xdef = rng.random() < 0.5
        urls = {l: f"https://x.io/c{c}/{l}" for l in langs}
        tags = "".join(
            f'<link rel="alternate" hreflang="{l}" href="{urls[l]}">'
            for l in langs
        )
        if xdef:
            tags += ('<link rel="alternate" hreflang="x-default" '
                     f'href="{urls[langs[0]]}">')
        present = [l for l in langs if rng.random() < 0.9] or langs[:1]
        for l in present:
            doc = len(rows)
            rows.append((doc, urls[l], f"<head>{tags}</head>"))
            meta[doc] = (c, l, langs, xdef, urls, present)
    df = spark.createDataFrame(rows, "doc_id long, url string, html string")
    got = {r["doc_id"]: r.asDict()
           for r in hreflang.hreflang_clusters(df).collect()}
    # python reference
    clusters = {}
    for doc, (c, l, langs, xdef, urls, present) in meta.items():
        cid = urls[langs[0]] if xdef else min(urls.values())
        clusters.setdefault(cid, []).append((doc, l, urls[l]))
    for cid, members in clusters.items():
        en = sorted(u for _, l, u in members if l == "en")
        keep_url = en[0] if en else min(u for _, _, u in members)
        for doc, l, u in members:
            g = got[doc]
            assert g["cluster_id"] == cid, doc
            assert g["page_lang"] == l
            assert g["is_keeper"] == (u == keep_url), (doc, cid)


def test_soft404_vs_python(spark):
    rng = random.Random(10)
    phrases = ["page not found", "error 404", "no longer available",
               "nothing was found"]
    rows = []
    for i in range(120):
        n = rng.randint(3, 80)
        body = " ".join(rng.choice(["lorem", "ipsum", "web", "data"])
                        for _ in range(n))
        if rng.random() < 0.3:
            pos = rng.randint(0, len(body))
            body = body[:pos] + " " + rng.choice(phrases).upper() + body[pos:]
        title = rng.choice(["Nice Page", "404", "Error!", "Home",
                            "Not Found"])
        rows.append((i, title, body))
    df = spark.createDataFrame(rows,
                               "doc_id long, title string, text string")
    got = {r["doc_id"]: r.asDict()
           for r in textops.soft404_detect(df).collect()}
    body_re = re.compile(textops.SOFT404_BODY_RE)
    title_re = re.compile(textops.SOFT404_TITLE_RE)
    for i, title, body in rows:
        ph = bool(body_re.search(body.lower()))
        th = bool(title_re.search(title.lower()))
        sh = len(re.split(r"\s+", body, flags=re.ASCII)) < 30
        score = 2 * ph + 2 * th + sh
        g = got[i]
        assert (g["phrase_hit"], g["title_hit"], g["short_body"]) == \
            (ph, th, sh), (i, title, body)
        assert g["score"] == score and g["is_soft404"] == (score >= 2)
