"""Third-engine randomized parity, part 9 — the late-r4 debtor kernels
the earlier parity parts did not reach: link-farm stats, Heaps-law
vocab stats, intra-document repeated-line removal, unicode
normalization, structured-data typing, bitext pair mining, adaptive
revisit scheduling, and focused-crawl scoring.  Same
discipline as parts 1-8: one seeded batch per kernel, plain-Python
references independent of both Spark and the DuckDB oracles.
"""

from __future__ import annotations

import os
import random
import re
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from crawler_spark.functions import (  # noqa: E402
    anchors,
    dedup,
    graph,
    hreflang,
    snapshots,
    textops,
)


# ------------------------------------------------------------ link_spam
def test_link_spam_vs_python(spark):
    rng = random.Random(11)
    hostnames = [f"h{i}.example" for i in range(25)]
    edges = set()
    for _ in range(300):
        a, b = rng.sample(hostnames, 2)
        edges.add((a, b))
        if rng.random() < 0.3:
            edges.add((b, a))  # plant reciprocals
    rows = [(s, d) for s, d in edges for _ in range(rng.randint(1, 2))]
    rng.shuffle(rows)  # duplicates + order noise: the distinct must absorb
    df = spark.createDataFrame(rows, "src string, dst string")
    got = {r["host"]: (r["outdeg"], r["n_recip"], r["recip_ppm"],
                       r["link_farm"])
           for r in graph.link_spam_stats(df).collect()}
    # python reference over the canonical edge set
    out_of = {}
    for s, d in edges:
        out_of.setdefault(s, set()).add(d)
    for s, outs in out_of.items():
        outdeg = len(outs)
        n_recip = sum(1 for d in outs if s in out_of.get(d, ()))
        ppm = n_recip * 1_000_000 // outdeg
        farm = ppm >= 500_000 and outdeg >= 2
        assert got[s] == (outdeg, n_recip, ppm, farm), s
    assert set(got) == set(out_of)
    assert any(v[3] for v in got.values())  # planted farms must surface


# ---------------------------------------------------------- vocab_stats
def test_vocab_stats_vs_python(spark):
    rng = random.Random(12)
    vocab = [f"w{i}" for i in range(40)]
    rows = []
    for i in range(150):
        src = f"s{i % 3}"
        toks = [rng.choice(vocab) for _ in range(rng.randint(0, 12))]
        if rng.random() < 0.2:
            toks.append(f"hapax{i}")  # guaranteed singletons
        rows.append((src, " ".join(toks)))
    rows.append(("s0", ""))  # empty doc: contributes nothing
    df = spark.createDataFrame(rows, "source string, text string")
    got = {r["source"]: (r["n_tokens"], r["n_types"], r["n_hapax"],
                         r["ttr_ppm"], r["hapax_ppm"])
           for r in textops.vocab_stats(df).collect()}
    by_src: dict[str, Counter] = {}
    for src, text in rows:
        c = by_src.setdefault(src, Counter())
        for w in text.split(" "):
            if w:
                c[w] += 1
    for src, c in by_src.items():
        n_tok = sum(c.values())
        n_typ = len(c)
        n_hap = sum(1 for v in c.values() if v == 1)
        exp = (n_tok, n_typ, n_hap,
               n_typ * 1_000_000 // n_tok, n_hap * 1_000_000 // n_typ)
        assert got[src] == exp, src
    assert set(got) == {s for s, c in by_src.items() if c}


# ------------------------------------------------------- intradoc dedup
def test_intradoc_dedup_vs_python(spark):
    rng = random.Random(14)
    lines_pool = ["nav menu", "  nav menu ", "body text", "footer",
                  "unique %d", "", "  "]
    rows = []
    for i in range(80):
        ls = []
        for _ in range(rng.randint(1, 10)):
            pick = rng.choice(lines_pool)
            ls.append(pick % i if "%d" in pick else pick)
        rows.append((i, "\n".join(ls)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_lines"], r["n_kept"], r["kept_text"])
           for r in dedup.drop_repeated_lines(df, "doc_id").collect()}
    for i, text in rows:
        ls = text.split("\n")
        seen, kept = set(), []
        for ln in ls:
            fp = ln.strip()
            if fp not in seen:
                seen.add(fp)
                kept.append(ln)
        assert got[i] == (len(ls), len(kept), "\n".join(kept)), i


# -------------------------------------------------------- unicode_clean
def test_unicode_clean_vs_python(spark):
    rng = random.Random(15)
    atoms = ["plain", "café", "‘q’", "“w”",
             "a–b", "c—d", "e―f", "x…y",
             "z​z", "‌", "‍", "﻿", "­soft",
             "nb sp", "id　eo", "ctrl\x07bell", "tab\there",
             "\x0bvt", "\x7fdel", "  runs   of    space ", "😀emoji"]
    rows = []
    for i in range(120):
        rows.append((i, " ".join(rng.choice(atoms)
                                 for _ in range(rng.randint(0, 8)))))

    def py_norm(t: str) -> str:
        t = re.sub("[​‌‍﻿­]", "", t)
        t = t.translate(str.maketrans(
            textops.UNICODE_TRANSLATE_SRC, textops.UNICODE_TRANSLATE_DST))
        t = t.replace("…", "...")
        t = re.sub(r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]", " ", t)
        return re.sub(r"\s+", " ", t).strip()

    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["text"]
           for r in textops.unicode_clean(df).collect()}
    for i, t in rows:
        assert got[i] == py_norm(t), repr(t)
        assert got[i] == py_norm(got[i])  # idempotent


# --------------------------------------------------------- schema_types
def test_schema_types_vs_python(spark):
    rng = random.Random(16)
    types = list(textops.SCHEMA_TYPES) + ["WebPage", "Person", ""]
    ogs = ["article", "video.other", "website", "product", ""]
    rows = []
    for i in range(150):
        parts = ["<html><head>"]
        st = rng.choice(types)
        og = rng.choice(ogs)
        if st and rng.random() < 0.8:
            parts.append(
                f'<script type="application/ld+json">'
                f'{{"@type": "{st}"}}</script>')
        else:
            st = ""
        if og and rng.random() < 0.8:
            parts.append(f'<meta property="og:type" content="{og}">')
        else:
            og = ""
        parts.append("</head><body>x</body></html>")
        rows.append((i, "".join(parts), st, og))
    df = spark.createDataFrame(
        [(i, h) for i, h, _, _ in rows], "doc_id long, html string")
    got = {r["doc_id"]: (r["schema_type"], r["og_type"],
                         r["content_class"])
           for r in textops.schema_types(df).collect()}
    classes = {"Article": "article", "NewsArticle": "article",
               "BlogPosting": "article", "Review": "article",
               "Recipe": "instruction", "HowTo": "instruction",
               "QAPage": "qa", "FAQPage": "qa",
               "Product": "commerce", "Event": "commerce",
               "JobPosting": "commerce", "VideoObject": "media",
               "SoftwareApplication": "media", "Dataset": "media"}
    for i, _h, st, og in rows:
        exp_st = st if st in classes else None
        exp_og = og or None
        if exp_st:
            exp_cls = classes[exp_st]
        elif exp_og == "article":
            exp_cls = "article"
        elif exp_og == "video.other":
            exp_cls = "media"
        elif exp_og:
            exp_cls = "other"
        else:
            exp_cls = "unlabeled"
        assert got[i] == (exp_st, exp_og, exp_cls), (i, st, og)


# ---------------------------------------------------------- bitext pairs
def test_bitext_pairs_vs_python(spark):
    rng = random.Random(17)
    rows, meta = [], []
    for c in range(25):
        langs = rng.sample(["en", "de", "fr", "ja", "pt"],
                           rng.randint(1, 4))
        urls = {lang: f"https://x.io/c{c}/{lang}" for lang in langs}
        tags = "".join(
            f'<link rel="alternate" hreflang="{lang}" href="{urls[lang]}">'
            for lang in langs)
        for lang in langs:
            doc = len(rows)
            rows.append((doc, urls[lang], f"<head>{tags}</head>"))
            meta.append((doc, c, lang, min(urls.values())))
    df = spark.createDataFrame(rows, "doc_id long, url string, html string")
    got = sorted(
        (r["id_pivot"], r["id_other"], r["cluster_id"], r["lang_other"])
        for r in hreflang.bitext_pairs(df).collect())
    by_cluster: dict[str, list[tuple[int, str]]] = {}
    for doc, _c, lang, cid in meta:
        by_cluster.setdefault(cid, []).append((doc, lang))
    exp = sorted(
        (p, o, cid, ol)
        for cid, members in by_cluster.items()
        for p, pl in members if pl == "en"
        for o, ol in members if ol != "en")
    assert got == exp
    assert len(exp) > 0  # multi-lang clusters with an en pivot exist


# ----------------------------------------------------- refetch_schedule
def test_refetch_schedule_vs_python(spark):
    rng = random.Random(18)
    rows = []
    for i in range(200):
        rows.append((
            i,
            rng.choice([30, 60, 3600, 86_400, 20 * 86_400, 40 * 86_400]),
            rng.random() < 0.5,
            rng.choice([None, 0, 120, 7200, 60 * 86_400]),
            rng.random() < 0.2,
        ))
    df = spark.createDataFrame(
        rows, "doc_id long, prev_interval_s long, changed boolean,"
              " max_age_s long, no_store boolean")
    got = {r["doc_id"]: (r["next_interval_s"], r["source"])
           for r in snapshots.refetch_schedule(df).collect()}
    lo, hi = 60, 30 * 86_400
    for i, prev, changed, max_age, no_store in rows:
        adaptive = min(max(prev // 2 if changed else prev * 2, lo), hi)
        if not no_store and max_age is not None:
            declared = min(max(max_age, lo), hi)
        else:
            declared = lo
        nxt = max(adaptive, declared)
        src = "declared" if declared > adaptive else "adaptive"
        assert got[i] == (nxt, src), (i, prev, changed, max_age, no_store)


# ----------------------------------------------------- focused_priority
def test_focused_priority_vs_python(spark):
    rng = random.Random(19)
    kws = ("quantum", "qubit", "entangle")
    anchor_pool = ["Quantum computing 101", "buy shoes", "Qubit lab",
                   "sports news", "ENTANGLEMENT demo", "misc page"]
    targets = [f"https://t{i}.io/{rng.choice(['quantum', 'blog'])}/p"
               for i in range(12)]
    rows = [(rng.choice(targets), rng.choice(anchor_pool))
            for _ in range(300)]
    df = spark.createDataFrame(rows, "target string, anchor string")
    got = {r["target"]: (r["n_refs"], r["n_hit_refs"], r["url_hits"],
                         r["focus_micro"])
           for r in anchors.focused_priority(df, kws).collect()}

    def hits(s: str) -> int:
        low = s.lower()
        return sum(1 for k in kws if k in low)

    refs: dict[str, list[str]] = {}
    for t, a in rows:
        refs.setdefault(t, []).append(a)
    for t, ancs in refs.items():
        n_refs = len(ancs)
        n_hit = sum(1 for a in ancs if hits(a) > 0)
        uh = hits(t)
        fm = (n_hit * 1_000_000 // n_refs) + 250_000 * min(uh, 4)
        assert got[t] == (n_refs, n_hit, uh, fm), t
    assert set(got) == set(refs)
