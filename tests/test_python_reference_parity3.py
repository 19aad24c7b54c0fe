"""Third-engine randomized parity, part 3 — the older late-r4
never-driver-checked extraction kernels: img_alt_pairs, robots_meta,
html_meta.  Same discipline as parts 1-2.
"""

from __future__ import annotations

import os
import random
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from crawler_spark.functions import textops  # noqa: E402


def test_img_alt_pairs_vs_python(spark):
    rng = random.Random(12)
    rows = []
    for i in range(100):
        tags = []
        for t in range(rng.randint(0, 4)):
            attrs = []
            if rng.random() < 0.8:
                attrs.append(f'src="/img/{i}_{t}.png"')
            if rng.random() < 0.8:
                attrs.append(
                    'alt="' + " ".join(
                        rng.choice(["a", "tiny", "a caption of words"])
                        for _ in range(rng.randint(0, 3))) + '"')
            rng.shuffle(attrs)
            tags.append("<img " + " ".join(attrs) + ">")
        rows.append((i, "<p>x</p>".join(tags)))
    df = spark.createDataFrame(rows, "doc_id long, html string")
    got = {}
    for r in textops.img_alt_pairs(df).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["img_idx"], r["src"], r["alt"], r["alt_len"]))
    for i, html in rows:
        want = []
        for idx, tag in enumerate(re.findall(r"(?i)<img\b[^>]*>", html)):
            sm = re.search(r'(?i)src="([^"]*)"', tag)
            am = re.search(r'(?i)alt="([^"]*)"', tag)
            src = sm.group(1) if sm else ""
            alt = (am.group(1) if am else "").strip()
            if src and len(alt) >= 5:
                want.append((idx, src, alt, len(alt)))
        assert sorted(got.get(i, [])) == sorted(want), html


def test_robots_meta_vs_python(spark):
    rng = random.Random(13)
    rows = []
    for i in range(100):
        content = rng.choice(
            ["", "noindex", "nofollow", "noindex, nofollow", "NONE",
             "index, follow"])
        meta = (f'<meta name="robots" content="{content}">'
                if rng.random() < 0.8 else "")
        anchors = "".join(
            '<a href="/x"' + (
                ' rel="nofollow"' if rng.random() < 0.4 else
                (' rel="ugc nofollow"' if rng.random() < 0.2 else "")
            ) + ">t</a>"
            for _ in range(rng.randint(0, 5))
        )
        rows.append((i, f"<head>{meta}</head><body>{anchors}</body>"))
    df = spark.createDataFrame(rows, "doc_id long, html string")
    got = {r["doc_id"]: r.asDict()
           for r in textops.robots_meta(df).collect()}
    for i, html in rows:
        m = re.search(
            r'(?i)<meta[^>]+name="robots"[^>]+content="([^"]*)"', html)
        c = (m.group(1) if m else "").lower()
        none = "none" in c
        noindex = "noindex" in c or none
        nofollow = "nofollow" in c or none
        n_links = len(re.findall(r"(?i)<a\b[^>]*>", html))
        n_nof = len(re.findall(
            r'(?i)<a\b[^>]*rel="[^"]*nofollow[^"]*"[^>]*>', html))
        g = got[i]
        assert (g["noindex"], g["nofollow"], g["n_links"],
                g["n_nofollow_links"]) == (noindex, nofollow, n_links,
                                           n_nof), html


def test_html_meta_vs_python(spark):
    rng = random.Random(14)
    rows = []
    for i in range(100):
        parts = ["<html" + (f' lang="{rng.choice(["en", "de-AT"])}"'
                            if rng.random() < 0.6 else "") + ">"]
        if rng.random() < 0.8:
            parts.append(f"<title>  Doc {i} title  </title>")
        if rng.random() < 0.5:
            parts.append(f'<meta name="description" content="desc {i}">')
        if rng.random() < 0.5:
            parts.append(f'<link rel="canonical" href="https://c/{i}">')
        rows.append((i, "".join(parts) + "<body>b</body></html>"))
    df = spark.createDataFrame(rows, "doc_id long, html string")
    got = {r["doc_id"]: r.asDict()
           for r in textops.html_meta(df).collect()}
    for i, html in rows:
        t = re.search(r"(?i)<title[^>]*>([^<]*)</title>", html)
        title = (t.group(1) if t else "").strip()
        d = re.search(
            r'(?i)<meta[^>]+name="description"[^>]+content="([^"]*)"', html)
        c = re.search(
            r'(?i)<link[^>]+rel="canonical"[^>]+href="([^"]*)"', html)
        lg = re.search(r'(?i)<html[^>]+lang="([^"]*)"', html)
        g = got[i]
        assert g["title"] == title and g["title_len"] == len(title)
        assert g["meta_desc"] == (d.group(1) if d else "")
        assert g["canonical"] == (c.group(1) if c else "")
        assert g["lang_attr"] == (lg.group(1) if lg else "")
