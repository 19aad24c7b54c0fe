"""Third-engine randomized parity, part 4 — readability_scores
(Flesch-Kincaid milli fixed-point, where Python floats ARE IEEE
doubles so floor() must agree bit-for-bit).
"""

from __future__ import annotations

import math
import os
import random
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from crawler_spark.functions import textops  # noqa: E402


def test_readability_vs_python(spark):
    rng = random.Random(16)
    texts = []
    words = ["the", "syllable", "onomatopoeia", "a", "rhythm", "try",
             "beautiful", "queueing", "strength", "io"]
    for _ in range(120):
        n = rng.randint(1, 60)
        toks = [rng.choice(words) for _ in range(n)]
        # sprinkle sentence punctuation and double spaces
        s = ""
        for t in toks:
            s += t + rng.choice([" ", " ", "  ", ". ", "?! ", "... "])
        texts.append(s.strip())
    texts.append("")          # empty doc: the greatest(...,1) floors
    texts.append("!!!")       # punctuation only
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r.asDict()
           for r in textops.readability_scores(df).collect()}
    for i, t in enumerate(texts):
        n_words = len(re.findall(r"[^ ]+", t))
        n_sents = max(len(re.findall(r"[.!?]+", t)), 1)
        n_syl = len(re.findall(r"[aeiouy]+", t.lower()))
        w = max(n_words, 1)
        grade = math.floor(390.0 * w / n_sents + 11800.0 * n_syl / w
                           - 15590.0)
        ease = math.floor(206835.0 - 1015.0 * w / n_sents
                          - 84600.0 * n_syl / w)
        g = got[i]
        assert g["n_words"] == n_words and g["n_sentences"] == n_sents
        assert g["n_syllables"] == n_syl
        assert g["fk_grade_milli"] == grade, repr(t)
        assert g["reading_ease_milli"] == ease, repr(t)
