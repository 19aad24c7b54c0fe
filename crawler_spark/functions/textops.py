"""Text analysis: language-ID, quality scoring, token counting,
document fingerprinting.  Everything here is expressible as built-in
Spark SQL functions except the winnowing/simhash kernels (pandas UDFs).

Determinism contract: any column that feeds the DuckDB oracle is either
integral, a string, or a ``*_micro`` fixed-point long (floor(x * 1e6)) —
no raw doubles cross the comparison boundary.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# small closed-class English stopword set for the n-gram/stopword heuristic
EN_STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "that", "for", "on")
EN_STOP_RE = r"\b(" + "|".join(EN_STOPWORDS) + r")\b"
BPE_ISH_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
PUNCT_RE = r"[.,!?;:]"


# PII patterns for training-corpus scrubbing.  Constructs restricted to
# the Java-regex ∩ RE2 common subset so the Spark kernel and the DuckDB
# oracle substitute identically (no lookaround, no backrefs).
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    (r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b", "<PHONE>"),
)


def pii_redact(text: Column) -> Column:
    """Redact emails, IPv4 literals, and US-style phone numbers — the
    standard pre-training scrub pass.  A chain of JVM regexp_replace
    (whole-stage codegen, no Python).  Pattern order is fixed and
    identical in the DuckDB oracle; note the email rule requires an
    alphabetic TLD, so a numeric-host 'a@1.2.3.4' falls through to the
    IP rule (tests/test_pii.py pins this)."""
    out = text
    for pat, tok in PII_PATTERNS:
        out = F.regexp_replace(out, pat, tok)
    return out


def token_count_ws(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(F.split(text, r"\s+"))


def token_count_bpe(text: Column) -> Column:
    """BPE-ish pre-tokenizer count: letter runs, digit runs, single
    punctuation — the standard GPT-2-style pre-split shape."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_ISH_RE), F.lit(0)))


def en_stopword_hits(text: Column) -> Column:
    return F.size(F.regexp_extract_all(F.lower(text), F.lit(EN_STOP_RE), F.lit(1)))


def lang_guess(text: Column, threshold_micro: int = 30_000) -> Column:
    """Stopword-ratio language ID: >=3% closed-class English tokens -> en.
    (A full n-gram profile model slots in as a pandas UDF; the heuristic
    is the deterministic, oracle-checkable core.)"""
    ratio_micro = stopword_ratio_micro(text)
    return F.when(ratio_micro >= threshold_micro, F.lit("en")).otherwise(F.lit("unk"))


def stopword_ratio_micro(text: Column) -> Column:
    toks = token_count_ws(text)
    return F.when(toks > 0, F.floor(en_stopword_hits(text) * 1_000_000 / toks)).otherwise(
        F.lit(0)
    ).cast("long")


def punct_ratio_micro(text: Column) -> Column:
    n = F.length(text)
    p = F.size(F.regexp_extract_all(text, F.lit(PUNCT_RE), F.lit(0)))
    return F.when(n > 0, F.floor(p * 1_000_000 / n)).otherwise(F.lit(0)).cast("long")


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword quality features + a composite
    keep/drop flag (the C4-style heuristic filter shape)."""
    t = F.col(text_col)
    out = (
        df.withColumn("n_chars_calc", F.length(t).cast("long"))
        .withColumn("n_tokens_ws", token_count_ws(t).cast("long"))
        .withColumn("n_tokens_bpe", token_count_bpe(t).cast("long"))
        .withColumn("stop_ratio_micro", stopword_ratio_micro(t))
        .withColumn("punct_ratio_micro", punct_ratio_micro(t))
    )
    keep = (
        (F.col("n_tokens_ws") >= 10)
        & (F.col("n_chars_calc") >= 50)
        & (F.col("stop_ratio_micro") >= 10_000)
    )
    return out.withColumn("keep", keep)


def gopher_quality(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """The remaining Gopher document-quality rules (Rae et al. 2021
    §A1.1) beyond quality_features/repetition_scores, in integer micro
    fixed point — all codegen, all oracle-checkable:

      mean_word_len_micro   non-whitespace chars / words; keep 3..10
      alpha_word_frac_micro words containing an [A-Za-z]; keep >= 0.80
      symbol_ratio_micro    '#' or '...' occurrences / words; keep <= 0.10
      bullet_frac_micro     lines starting '- '; keep <= 0.90
      ellipsis_frac_micro   lines ending '...'; keep <= 0.30

    ``keep`` is the conjunction.  One scan, zero shuffles: every metric
    is a per-row expression over split arrays (higher-order filters stay
    in whole-stage codegen)."""
    t = F.col(text_col)
    toks = F.split(t, r"\s+")
    nt = F.size(toks)
    lines = F.split(t, "\n")
    nl = F.size(lines)
    nonws = F.length(F.regexp_replace(t, r"\s", ""))
    alpha = F.size(F.filter(toks, lambda x: x.rlike("[A-Za-z]")))
    syms = F.size(F.regexp_extract_all(t, F.lit(r"#|\.\.\."), F.lit(0)))
    bullets = F.size(F.filter(lines, lambda x: x.startswith("- ")))
    ellip = F.size(F.filter(lines, lambda x: x.endswith("...")))

    def frac(num, den):
        return (
            F.when(den > 0, F.floor(num * 1_000_000 / den))
            .otherwise(F.lit(0))
            .cast("long")
        )

    out = df.select(
        F.col(id_col),
        frac(nonws, nt).alias("mean_word_len_micro"),
        frac(alpha, nt).alias("alpha_word_frac_micro"),
        frac(syms, nt).alias("symbol_ratio_micro"),
        frac(bullets, nl).alias("bullet_frac_micro"),
        frac(ellip, nl).alias("ellipsis_frac_micro"),
    )
    keep = (
        F.col("mean_word_len_micro").between(3_000_000, 10_000_000)
        & (F.col("alpha_word_frac_micro") >= 800_000)
        & (F.col("symbol_ratio_micro") <= 100_000)
        & (F.col("bullet_frac_micro") <= 900_000)
        & (F.col("ellipsis_frac_micro") <= 300_000)
    )
    return out.withColumn("keep", keep)


def normalize_text(text: Column) -> Column:
    """Canonical form for fingerprinting: lowercase, collapse whitespace."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def fingerprint_md5(text: Column) -> Column:
    """Exact-dedup fingerprint: md5 of normalized text (hex string —
    identical in Spark and DuckDB, so oracle-checkable)."""
    return F.md5(normalize_text(text))


# ------------------------------------------------- html -> visible text
_HTML_STRIP_STEPS = (
    # kill script/style/comment blocks wholesale (lazy, dotall via [\s\S])
    (r"(?i)<script[\s\S]*?</script\s*>", " "),
    (r"(?i)<style[\s\S]*?</style\s*>", " "),
    (r"<!--[\s\S]*?-->", " "),
    # block-level closers become newlines so words don't concatenate
    (r"(?i)</(p|div|li|tr|h[1-6]|br|td)\s*>|<br\s*/?>", "\n"),
    # every remaining tag vanishes
    (r"<[^>]+>", " "),
)
_HTML_ENTITIES = (
    ("&nbsp;", " "), ("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"),
    ("&quot;", '"'), ("&#39;", "'"),
)


def html_to_text(html: Column) -> Column:
    """Visible-text extraction (the boilerplate-strip step of a
    crawl-to-corpus pipeline), entirely built-in SQL: drop script/style/
    comment blocks, break on block tags, strip remaining tags, decode
    the common entities, collapse whitespace.  Deliberately a regex
    pipeline, not a DOM parse — it runs inside whole-stage codegen on
    10^10 pages; a DOM-accurate extractor (trafilatura et al.) is a
    mapInPandas swap-in at the same call site.  Python twin:
    :func:`html_to_text_py` (asserted equal in tests, incl. on the
    reference's real fixture pages)."""
    out = html
    for pat, rep in _HTML_STRIP_STEPS:
        out = F.regexp_replace(out, pat, rep)
    for ent, rep in _HTML_ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(rep))
    out = F.regexp_replace(out, r"[ \t\r\f]+", " ")
    out = F.regexp_replace(out, r" ?\n[ \n]*", "\n")
    # regex trim, not F.trim: Spark's trim strips only spaces, while the
    # Python twin's .strip() (and what callers want) also strips \n
    return F.regexp_replace(out, r"^\s+|\s+$", "")


def html_to_text_py(html: str) -> str:
    """Pure-Python twin of :func:`html_to_text` (same regex pipeline)."""
    import re

    out = html
    for pat, rep in _HTML_STRIP_STEPS:
        out = re.sub(pat, rep, out)
    for ent, rep in _HTML_ENTITIES:
        out = out.replace(ent, rep)
    out = re.sub(r"[ \t\r\f]+", " ", out)
    out = re.sub(r" ?\n[ \n]*", "\n", out)
    return out.strip()


# ------------------------------------------------- compression quality
def compression_ratio_micro(df: DataFrame, text_col: str = "text",
                            out_col: str = "zratio_micro") -> DataFrame:
    """Gopher-style compressibility signal: floor(1e6 * zlib_size /
    raw_size) per doc (low ratio = highly repetitive text).  zlib level
    6, deterministic across platforms for a given zlib version.  Arrow-
    batched pandas UDF (no SQL-side zlib exists); rows-only — DuckDB has
    no zlib either, so this op is verified by unit tests, not the
    oracle gate."""
    import pyspark.sql.types as T

    schema = T.StructType(df.schema.fields + [T.StructField(out_col, T.LongType())])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import zlib

        for pdf in batches:
            vals = []
            for t in pdf[text_col]:
                raw = (t or "").encode("utf-8")
                if not raw:
                    vals.append(0)
                else:
                    vals.append(len(zlib.compress(raw, 6)) * 1_000_000 // len(raw))
            pdf = pdf.copy()
            pdf[out_col] = vals
            yield pdf

    return df.mapInPandas(run, schema=schema)


# ------------------------------------------------------------- sampling
def hash_bucket_micro(key: Column, seed: str = "sample") -> Column:
    """Deterministic uniform bucket in [0, 1e6) from a row key: first 8
    hex chars of md5(seed|key) mod 1e6.  md5 (not xxhash) so DuckDB
    reproduces the exact sample — the same oracle trade as the MinHash
    signatures.  Production swap: xxhash64 for speed, same call sites."""
    h = F.conv(F.substring(F.md5(F.concat(F.lit(seed + "|"), key.cast("string"))), 1, 8), 16, 10)
    return F.pmod(h.cast("long"), F.lit(1_000_000))


def sample_stratified(
    df: DataFrame, fractions: dict[str, float],
    strat_col: str = "source", key_col: str = "doc_id",
    seed: str = "sample", default_fraction: float = 0.0,
) -> DataFrame:
    """Deterministic per-stratum sampling: keep a row iff its hash
    bucket < fraction(stratum) * 1e6.  Unlike ``df.sample``, the kept
    set is a pure function of (key, seed) — stable across reruns,
    partitionings, and engines (re-ingesting a 100 TB corpus yields the
    identical sample), and joins/anti-joins against other tables sampled
    with the same seed stay consistent.  Scan-local: no shuffle."""
    kv = []
    for s, frac in fractions.items():
        kv += [F.lit(s), F.lit(int(frac * 1_000_000))]
    cut = F.coalesce(
        F.element_at(F.create_map(*kv), F.col(strat_col)),
        F.lit(int(default_fraction * 1_000_000)),
    )
    return df.where(hash_bucket_micro(F.col(key_col), seed) < cut)


def sample_temperature(
    df: DataFrame,
    target_frac_micro: int,
    strat_col: str = "source",
    key_col: str = "doc_id",
    seed: str = "mix",
) -> DataFrame:
    """Temperature-based data mixing (the mT5/multilingual rebalancing
    shape, T=2): per-source sampling rates ∝ sqrt(count)/count, so
    over-represented sources are down-weighted toward sqrt scaling
    while the overall expected kept fraction is ``target_frac_micro``
    (micro-units of the corpus).  All arithmetic is integer except one
    IEEE-correctly-rounded sqrt per SOURCE (not per row), identical in
    Spark and DuckDB, so the kept set is a pure deterministic function
    of (key, seed) like :func:`sample_stratified`.

    rate_s = target * N_total * floor(1e6*sqrt(n_s)) /
             (sum_t floor(1e6*sqrt(n_t)) * n_s)     — floored to micro.

    Scale shape: pass 1 is a per-source count (tiny agg), the rate
    table is broadcast back, pass 2 is a scan-local hash-bucket filter
    — no corpus shuffle at any point.
    """
    counts = df.groupBy(strat_col).agg(F.count(F.lit(1)).alias("n_s"))
    w = counts.withColumn(
        "w_s", F.floor(F.sqrt(F.col("n_s")) * 1_000_000).cast("long")
    )
    tot = w.agg(
        F.sum("n_s").alias("n_total"), F.sum("w_s").alias("w_total")
    )
    rates = w.crossJoin(F.broadcast(tot)).select(
        strat_col,
        F.floor(
            (F.lit(target_frac_micro) * F.col("n_total") * F.col("w_s"))
            / (F.col("w_total") * F.col("n_s"))
        ).cast("long").alias("rate_micro"),
    )
    return (
        df.join(F.broadcast(rates), strat_col)
        .where(hash_bucket_micro(F.col(key_col), seed) < F.col("rate_micro"))
        .drop("rate_micro")
    )
# ----------------------------------------------------------- repetition
def repetition_scores(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021 §A1.1),
    adapted to whitespace tokens:

    - ``top2_frac_micro``: occurrences of the most frequent word 2-gram
      / total 2-gram occurrences (boilerplate/SEO spam marker);
    - ``dup3_frac_micro``: fraction of 3-gram occurrences whose gram
      appears more than once in the doc (self-repetition marker).

    Docs too short for an n-gram score 0.  ZERO shuffle: both signals
    are per-document, so neither implementation ever leaves the scan
    partition (the r1-r3 shape exploded the corpus gram stream into two
    (doc, gram) groupBys — every gram in the corpus shuffled twice).

    Production kernel: mapInPandas over Arrow batches — one O(L)
    counting-dict pass per doc.  The built-in twin
    :func:`repetition_scores_sql` (sorted-run fold) computes the same
    integers from pure Catalyst expressions, but higher-order-function
    lambdas are interpreted per element (no codegen), benching ~19x
    slower at identical plan shape; it stays as the oracle-shaped twin,
    equivalence-pinned in tests/test_c4_dsir_semantic.py."""
    out_schema = (
        f"{id_col} long, top2_frac_micro long, dup3_frac_micro long"
    )

    def _score_batches(batches):
        import pandas as pd

        for pdf in batches:
            ids, t2, d3 = [], [], []
            for i, txt in zip(pdf[id_col], pdf[text_col]):
                t2v = d3v = 0
                if txt is not None:
                    toks = txt.split(" ")
                    n = len(toks)
                    if n >= 2:
                        c2: dict = {}
                        for g in zip(toks, toks[1:]):
                            c2[g] = c2.get(g, 0) + 1
                        t2v = max(c2.values()) * 1_000_000 // (n - 1)
                    if n >= 3:
                        c3: dict = {}
                        for g in zip(toks, toks[1:], toks[2:]):
                            c3[g] = c3.get(g, 0) + 1
                        d3v = (
                            sum(v for v in c3.values() if v > 1)
                            * 1_000_000
                            // (n - 2)
                        )
                ids.append(i)
                t2.append(t2v)
                d3.append(d3v)
            yield pd.DataFrame(
                {id_col: ids, "top2_frac_micro": t2, "dup3_frac_micro": d3}
            )

    return df.select(id_col, text_col).mapInPandas(_score_batches, out_schema)


def repetition_scores_sql(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Built-in-only twin of :func:`repetition_scores` (same integers,
    same zero-shuffle shape): each doc's gram array is sorted in-row and
    the repeated-gram structure read off the sorted array's run lengths
    with one aggregate fold (max run = top gram count; elements in runs
    >= 2 = duplicated occurrences).  Kept because it is the shape the
    DuckDB oracle mirrors and needs no Python workers; the Arrow kernel
    wins locally only because Catalyst interprets HOF lambdas."""
    toks = F.split(F.col(text_col), " ")

    def gram_arr(n: int):
        return F.when(
            F.size(toks) >= n,
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - n),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(toks, i + j + 1) for j in range(n)]
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))

    def run_stats(garr):
        """(max_run, dup_occurrences) over the sorted gram array: a run
        reaching length 2 contributes both elements, each further
        element one more."""
        acc0 = F.struct(
            F.lit("").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("maxrun"),
            F.lit(0).cast("long").alias("dup"),
        )

        def step(acc, x):
            newrun = F.when(x == acc["prev"], acc["run"] + 1).otherwise(
                F.lit(1).cast("long")
            )
            return F.struct(
                x.alias("prev"),
                newrun.alias("run"),
                F.greatest(acc["maxrun"], newrun).alias("maxrun"),
                (
                    acc["dup"]
                    + F.when(newrun == 2, F.lit(2))
                    .when(newrun > 2, F.lit(1))
                    .otherwise(F.lit(0))
                ).alias("dup"),
            )

        return F.aggregate(F.array_sort(garr), acc0, step)

    # staged projection: the sort+fold is non-cheap and referenced by
    # two output fields — keep it evaluated once (CollapseProject keeps
    # non-cheap expressions staged, SPARK-36718)
    staged = df.select(
        F.col(id_col),
        run_stats(gram_arr(2)).alias("__s2"),
        (F.size(toks) - 1).cast("long").alias("__tot2"),
        run_stats(gram_arr(3)).alias("__s3"),
        (F.size(toks) - 2).cast("long").alias("__tot3"),
    )
    return staged.select(
        F.col(id_col),
        F.when(
            F.col("__tot2") > 0,
            F.floor(F.col("__s2.maxrun") * 1_000_000 / F.col("__tot2")),
        ).otherwise(F.lit(0)).cast("long").alias("top2_frac_micro"),
        F.when(
            F.col("__tot3") > 0,
            F.floor(F.col("__s3.dup") * 1_000_000 / F.col("__tot3")),
        ).otherwise(F.lit(0)).cast("long").alias("dup3_frac_micro"),
    )


# ------------------------------------------------------------- winnowing
def _lower_keep_len(s: str) -> str:
    """LENGTH-PRESERVING lowercase for fingerprint hashing: chars whose
    full lowercase expands (U+0130 'İ' -> 'i̇', ligatures under
    casefold, etc.) are kept as-is, so every char offset computed on the
    lowered string is a valid offset in the ORIGINAL — the invariant
    substring scrubbing relies on when it cuts the un-lowered text at
    winnow-pick positions (ADVICE r3: plain str.lower() shifted all
    later offsets on such chars, silently cutting the wrong spans on
    Turkish/Lithuanian webtext).  str.lower() maps each char to >=1
    chars, so equal total length proves per-char alignment — the common
    (ASCII and most non-Latin) case stays one C call."""
    t = s.lower()
    if len(t) == len(s):
        return t
    return "".join(c if len(lc := c.lower()) != 1 else lc for c in s)


def winnow_fingerprints_py(
    text: str, k: int = 5, w: int = 4, hash_kind: str = "rolling"
) -> list[int]:
    """Winnowing (Schleimer et al., SIGMOD'03): hash k-grams,
    min-per-window, dedup consecutive picks.  Pure Python core shared by
    the pandas UDF and unit tests.

    hash_kind 'rolling' = Karp-Rabin mod (2^61 - 1), the classic
    kernel (int64-vectorizable only up to k~9); 'poly64' = the same
    polynomial with natural mod-2^64 wraparound — vectorizable for ANY
    k (uint64 numpy) AND DuckDB-reproducible (hugeint % 2^64), window
    argmin taken on the UNSIGNED value, picks reinterpreted as int64
    two's complement at output."""
    s = _lower_keep_len(text)
    n = len(s)
    if n < k:
        return []
    hashes: list[int] = []
    signed_out = False
    if hash_kind == "poly64":
        signed_out = True
        B, M = 131, 1 << 64
        pw = pow(B, k - 1, M)
        h = 0
        for i, ch in enumerate(map(ord, s)):
            h = (h * B + ch) % M
            if i >= k:
                h = (h - ord(s[i - k]) * pw * B) % M
            if i >= k - 1:
                hashes.append(h)
    else:
        B, M = 131, (1 << 61) - 1
        pw = pow(B, k - 1, M)
        h = 0
        for i, ch in enumerate(map(ord, s)):
            h = (h * B + ch) % M
            if i >= k:
                h = (h - ord(s[i - k]) * pw * B) % M
            if i >= k - 1:
                hashes.append(h)
    picks = []
    last = -1
    for i in range(0, max(1, len(hashes) - w + 1)):
        win = hashes[i : i + w]
        j = i + min(range(len(win)), key=lambda x: (win[x], x))
        if j != last:
            picks.append(hashes[j])
            last = j
    if signed_out:
        picks = [p - (1 << 64) if p >= (1 << 63) else p for p in picks]
    return picks


def _winnow_picks_vec(s: str, k: int, w: int) -> "list[int] | None":
    """Vectorized winnowing — one numpy pass per document, identical
    picks to ``winnow_fingerprints_py(s, k, w, 'rolling')`` (asserted in
    tests).  Direct polynomial k-gram hashes via a sliding-window dot
    product (no per-character Python), leftmost-argmin per window,
    consecutive-pick dedup as one vector compare.  Returns None when the
    int64-overflow gate fails (large k; caller falls back to the Python
    rolling kernel)."""
    import numpy as np

    s = _lower_keep_len(s)
    n = len(s)
    if n < k:
        return []
    B, M = 131, (1 << 61) - 1
    pows = [pow(B, k - 1 - j, M) for j in range(k)]
    codes = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
    # int64-overflow gate on the DOCUMENT'S max code point: sum of k
    # terms (coeff * code) must fit int64.  Always true for the default
    # k=5 (131^4 * 0x10FFFF * 5 ~ 2^60.7); ASCII text stays vectorized
    # up to k~9
    if max(pows) * int(codes.max()) * k >= (1 << 63):
        return None
    win = np.lib.stride_tricks.sliding_window_view(codes, k)
    h = (win * np.array(pows, dtype=np.int64)).sum(axis=1) % M
    L = len(h)
    if L <= w:
        return [int(h[min(range(L), key=lambda x: (h[x], x))])]
    wv = np.lib.stride_tricks.sliding_window_view(h, w)
    j = np.arange(L - w + 1) + wv.argmin(axis=1)  # argmin ties -> leftmost
    keep = np.ones(len(j), dtype=bool)
    keep[1:] = j[1:] != j[:-1]
    return h[j[keep]].tolist()


def _winnow_count_vec(s: str, k: int, w: int) -> int:
    picks = _winnow_picks_vec(s, k, w)
    if picks is None:
        return len(winnow_fingerprints_py(s, k, w))
    return len(picks)


def _winnow_picks_vec64(s: str, k: int, w: int) -> "list[int]":
    """Vectorized winnowing with the mod-2^64 polynomial k-gram hash —
    one numpy pass per document for ANY k (uint64 multiplication wraps
    naturally, so there is no overflow gate, unlike the 2^61-1 kernel's
    k~9 int64 ceiling).  The window argmin compares the UNSIGNED hash
    (matching DuckDB's hugeint % 2^64 recomputation); picked values are
    reinterpreted as int64 two's complement so they fit a Spark long.
    Identical picks to winnow_fingerprints_py(s, k, w, 'poly64') —
    asserted in tests."""
    import numpy as np

    s = _lower_keep_len(s)
    n = len(s)
    if n < k:
        return []
    pows = np.array([pow(131, k - 1 - j, 1 << 64) for j in range(k)],
                    dtype=np.uint64)
    codes = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32).astype(np.uint64)
    win = np.lib.stride_tricks.sliding_window_view(codes, k)
    with np.errstate(over="ignore"):
        h = (win * pows).sum(axis=1, dtype=np.uint64)
    L = len(h)
    if L <= w:
        return [int(h[int(np.argmin(h))].astype(np.int64))]
    wv = np.lib.stride_tricks.sliding_window_view(h, w)
    j = np.arange(L - w + 1) + wv.argmin(axis=1)  # argmin ties -> leftmost
    keep = np.ones(len(j), dtype=bool)
    keep[1:] = j[1:] != j[:-1]
    return h[j[keep]].astype(np.int64).tolist()


def winnow_picks(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    k: int = 12, w: int = 4,
) -> DataFrame:
    """PRODUCTION winnow pick-values path: distinct selected fingerprint
    VALUES per doc as ``(id_col, fp)`` — the inverted-index input for
    shared-substring pair mining — via the linear mod-2^64 Arrow kernel
    (_winnow_picks_vec64).  O(doc length) per document with NO row
    amplification, vectorized for any k, and still fully
    oracle-checkable: DuckDB recomputes the same hash as
    hugeint % 2^64 per position (entry _dup_substrings oracle)."""
    import pyspark.sql.types as T

    id_field = df.schema[id_col]
    schema = T.StructType([id_field, T.StructField("fp", T.LongType())])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list = []
            fps: list[int] = []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                for f in set(_winnow_picks_vec64(t or "", k, w)):
                    ids.append(i)
                    fps.append(f)
            yield pd.DataFrame({id_col: pd.Series(ids, dtype=pdf[id_col].dtype),
                                "fp": pd.Series(fps, dtype="int64")})

    from . import fan_out

    return fan_out(df.select(id_col, text_col)).mapInPandas(run, schema=schema)


def _winnow_picks_pos_vec64(s: str, k: int, w: int) -> "list[tuple[int, int]]":
    """_winnow_picks_vec64 with positions: returns [(pos0, fp), ...]
    where pos0 is the 0-based char offset of the selected k-gram
    (strictly increasing — consecutive dedup on a non-decreasing argmin
    sequence IS position-distinctness).  Same hash, same leftmost-argmin
    tie-break, same int64 reinterpretation of the uint64 hash.

    Positions refer to the ORIGINAL string: hashing lowers via
    :func:`_lower_keep_len`, so an offset here is always a valid cut
    point in the un-lowered text that apply_scrub_spans slices."""
    import numpy as np

    s = _lower_keep_len(s)
    n = len(s)
    if n < k:
        return []
    pows = np.array([pow(131, k - 1 - j, 1 << 64) for j in range(k)],
                    dtype=np.uint64)
    codes = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32).astype(np.uint64)
    win = np.lib.stride_tricks.sliding_window_view(codes, k)
    with np.errstate(over="ignore"):
        h = (win * pows).sum(axis=1, dtype=np.uint64)
    L = len(h)
    if L <= w:
        p = int(np.argmin(h))
        return [(p, int(h[p].astype(np.int64)))]
    wv = np.lib.stride_tricks.sliding_window_view(h, w)
    j = np.arange(L - w + 1) + wv.argmin(axis=1)  # argmin ties -> leftmost
    keep = np.ones(len(j), dtype=bool)
    keep[1:] = j[1:] != j[:-1]
    jj = j[keep]
    return list(zip(jj.tolist(), h[jj].astype(np.int64).tolist()))


def winnow_picks_pos(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    k: int = 12, w: int = 4,
) -> DataFrame:
    """Winnow picks WITH positions: ``(id_col, fp, pos)`` — pos is the
    1-BASED char offset of the selected k-gram (matching the DuckDB
    oracle's ``generate_series(1, ...)`` indexing).  Same linear
    mod-2^64 Arrow kernel as :func:`winnow_picks`; the position column
    is what turns pair mining into span *scrubbing* (the interval a
    fingerprint witnesses is ``[pos, pos + k)``)."""
    import pyspark.sql.types as T

    id_field = df.schema[id_col]
    schema = T.StructType([
        id_field,
        T.StructField("fp", T.LongType()),
        T.StructField("pos", T.LongType()),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list = []
            fps: list[int] = []
            poss: list[int] = []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                for p, f in _winnow_picks_pos_vec64(t or "", k, w):
                    ids.append(i)
                    fps.append(f)
                    poss.append(p + 1)
            yield pd.DataFrame({
                id_col: pd.Series(ids, dtype=pdf[id_col].dtype),
                "fp": pd.Series(fps, dtype="int64"),
                "pos": pd.Series(poss, dtype="int64"),
            })

    from . import fan_out

    return fan_out(df.select(id_col, text_col)).mapInPandas(run, schema=schema)


def winnow_counts(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    k: int = 5, w: int = 4,
) -> DataFrame:
    """PRODUCTION winnowing count path: Arrow-batched linear kernel,
    O(doc length) work per document with no row amplification.  Counts
    use the rolling polynomial hash mod 2^61-1, which DuckDB recomputes
    per position for the contract oracle (_winnow_prod_oracle).

    Returns (id_col, n_fp); n_fp = 0 for texts shorter than k."""
    import pyspark.sql.types as T

    id_field = df.schema[id_col]
    schema = T.StructType([id_field, T.StructField("n_fp", T.LongType())])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_fp": [
                        _winnow_count_vec(t or "", k, w) for t in pdf[text_col]
                    ],
                }
            )

    from . import fan_out

    return fan_out(df.select(id_col, text_col)).mapInPandas(run, schema=schema)


# ----------------------------------------------------- sequence packing
def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    part_col: str = "source",
    seq_len: int = 512,
) -> DataFrame:
    """Concat-and-chunk training-sequence packing (GPT-style): documents
    are concatenated in deterministic (id) order within each ``part_col``
    shard and cut into fixed ``seq_len``-token chunks; a document may
    straddle a chunk boundary.  Returns, per document, its token count
    and the [first_chunk, last_chunk] range it lands in within its shard
    — exactly what a sequence-assembly job needs to co-locate the pieces
    of each output sequence.

    Scale shape: one window per shard (cumulative token sum in id
    order).  The running sum is inherently sequential *within* a shard,
    so shards are the parallelism unit — at 100 TB pack per (source,
    bucket) sub-shard rather than per source; packing only needs a
    deterministic order, not a single global one.  All integer
    arithmetic, whole-stage codegen, no Python.
    """
    w = Window.partitionBy(part_col).orderBy(id_col)
    toks = token_count_ws(F.col(text_col)).cast("long")
    out = (
        df.select(F.col(id_col), F.col(part_col), toks.alias("n_tokens"))
        .withColumn("__end", F.sum("n_tokens").over(w))
        .withColumn("__off", F.col("__end") - F.col("n_tokens"))
    )
    first = F.floor(F.col("__off") / seq_len).cast("long")
    last = F.floor(
        (F.col("__off") + F.greatest(F.col("n_tokens"), F.lit(1)) - 1) / seq_len
    ).cast("long")
    return out.select(
        id_col, part_col, "n_tokens",
        first.alias("first_chunk"), last.alias("last_chunk"),
        (last - first + 1).alias("n_chunks"),
    )


# ----------------------------------------------------- bigram LM quality
def bigram_lm_scores(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """CCNet-style corpus-LM fluency score, integer-exact: train a word
    bigram model on the corpus itself (c(w1,w2) and c(w1,·) as shuffle
    aggs), then score each document by the mean conditional probability
    of its bigrams, in micro units:

        per-bigram  p_micro = floor(1e6 * c(w1,w2) / c(w1,·))
        per-doc     lm_score_micro = floor(avg(p_micro))

    Boilerplate-heavy or template text scores high, rare/garbled text
    scores low — the same separation a KenLM perplexity filter gives,
    with the model swap-in being a broadcast-join against external
    (w1,w2)->logp tables.  All counting/scoring is integer arithmetic so
    the result is bit-identical across engines (no float log / float
    summation order anywhere).

    Scale shape: one (w1,w2) shuffle to train, one w1-sum over the
    trained table (tiny), one join of corpus bigrams against the model
    keyed (w1,w2) — hot head-words are the skewed keys; AQE skew-join or
    broadcasting the model head handles them.
    """
    words = F.split(F.lower(F.col(text_col)), r"\s+")
    n = F.size(words)
    pairs = F.arrays_zip(
        F.slice(words, 1, n - 1).alias("w1"), F.slice(words, 2, n - 1).alias("w2")
    )
    big = (
        df.select(F.col(id_col).alias("__doc"), F.explode(pairs).alias("p"))
        .select("__doc", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    c2 = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    model = c2.join(c1, "w1").withColumn(
        "p_micro", F.floor(F.col("c2") * 1_000_000 / F.col("c1")).cast("long")
    )
    return (
        big.join(model.select("w1", "w2", "p_micro"), ["w1", "w2"])
        .groupBy("__doc")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.floor(F.sum("p_micro") / F.count(F.lit(1))).cast("long").alias(
                "lm_score_micro"
            ),
        )
        .withColumnRenamed("__doc", id_col)
    )


def lang_id_lm(
    train: DataFrame,
    score: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """Competitive per-language bigram-LM language ID (the langid.py /
    CLD model shape, integer-exact): train one word-bigram model per
    language from lang-labeled ``train`` docs (c(lang,w1,w2) /
    c(lang,w1,·) as shuffle aggs), score every ``score`` doc under
    EVERY language's model, and predict the argmax.

        per-bigram   p_micro(lang) = floor(1e6 * c2 / c1)
        per-doc/lang score_micro   = floor(sum(matched p_micro) / n_bigrams)
        prediction  = max score, ties -> lexicographically first lang

    A bigram absent from a language's model contributes 0 — the
    n_bigrams denominator is the doc's FULL bigram count, so coverage
    and probability both pull the score (a model matching 3 of 100
    bigrams cannot win on 3 lucky hits).  All arithmetic is integer
    floor — bit-identical across engines.

    Scale shape: one (lang,w1,w2) shuffle to train; scoring joins the
    corpus bigram stream against the model keyed (w1,w2) — fan-out
    bounded by the number of languages sharing a bigram; per-doc
    winner is a window over n_langs rows.  Production trains on a
    held-out labeled set (pass it as ``train``); the contract query
    self-trains, which is the honest in-corpus shape.

    Returns ``(id_col, pred_lang, score_micro, n_bigrams)`` for every
    scored doc with >= 1 bigram.
    """
    def bigrams(df: DataFrame, *extra: str) -> DataFrame:
        words = F.split(F.lower(F.col(text_col)), r"\s+")
        n = F.size(words)
        pairs = F.arrays_zip(
            F.slice(words, 1, n - 1).alias("w1"), F.slice(words, 2, n - 1).alias("w2")
        )
        return df.select(
            *extra, F.explode(pairs).alias("p")
        ).select(*extra, F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))

    c2 = bigrams(train, lang_col).groupBy(lang_col, "w1", "w2").agg(
        F.count(F.lit(1)).alias("c2")
    )
    c1 = c2.groupBy(lang_col, "w1").agg(F.sum("c2").alias("c1"))
    model = c2.join(c1, [lang_col, "w1"]).select(
        F.col(lang_col).alias("__mlang"), "w1", "w2",
        F.floor(F.col("c2") * 1_000_000 / F.col("c1")).cast("long").alias("p_micro"),
    )
    sb = bigrams(score.withColumnRenamed(id_col, "__doc"), "__doc")
    nb = sb.groupBy("__doc").agg(F.count(F.lit(1)).alias("n_bigrams"))
    per_lang = (
        sb.join(model, ["w1", "w2"])
        .groupBy("__doc", "__mlang")
        .agg(F.sum("p_micro").alias("sum_p"))
        .join(nb, "__doc")
        .withColumn(
            "score_micro",
            F.floor(F.col("sum_p") / F.col("n_bigrams")).cast("long"),
        )
    )
    w = Window.partitionBy("__doc").orderBy(
        F.col("score_micro").desc(), F.col("__mlang").asc()
    )
    return (
        per_lang.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(
            F.col("__doc").alias(id_col),
            F.col("__mlang").alias("pred_lang"),
            "score_micro",
            F.col("n_bigrams").cast("long").alias("n_bigrams"),
        )
    )


def hashed_linear_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
    seed: str = "q",
    threshold_micro: int = 0,
) -> DataFrame:
    """Hashed-feature linear quality classifier — the fastText/CCNet
    model-filter shape (CCNet trains a fastText linear model over
    hashed token features and keeps documents the model scores as
    "Wikipedia-like"; same stage in the LLaMA data pipeline).  The
    reference has no model filtering (its quality gate is the byte-length
    cut at engine/crawler.go:113); this is the training-corpus upgrade.

    score(doc) = floor-mean over tokens of w[bucket(token)], micro-units.

    Engine shape (what matters at 100 TB): the whole score is computed
    with higher-order functions on the token array — ``transform``
    (token -> bucket -> weight) then ``aggregate`` (sum) — so it is
    scan-local and needs ZERO shuffle: one corpus pass at any scale,
    inside whole-stage codegen.  The weights here are a deterministic
    closed-form function of the bucket id (md5-derived, range
    [-1000, 1000] micro) so DuckDB reproduces exact scores; the
    production swap is a broadcast ``weights(bucket, w_micro)`` model
    table map-side-joined after a posexplode — same bucket convention,
    still no corpus shuffle.  Floor division is spelled
    ``(s - pmod(s, n)) / n`` so both engines floor identically for
    negative sums.  ``threshold_micro`` is the keep decision boundary —
    CCNet calibrates it to a score percentile of the reference corpus,
    so it is a parameter, not a constant.
    """
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), "[^a-z]+"), lambda x: x != F.lit("")
    )

    def weight(tok: Column) -> Column:
        bucket = F.pmod(
            F.conv(F.substring(F.md5(tok), 1, 8), 16, 10).cast("long"),
            F.lit(n_buckets),
        )
        w = F.conv(
            F.substring(F.md5(F.concat(F.lit(seed + "|"), bucket.cast("string"))), 1, 8),
            16,
            10,
        ).cast("long")
        return F.pmod(w, F.lit(2001)) - F.lit(1000)

    ssum = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, x: acc + weight(x)
    )
    n = F.size(toks).cast("long")
    # staged projections: higher-order functions evaluate interpreted
    # (outside codegen CSE), so referencing the token aggregate from
    # several output columns would recompute the whole md5 chain per
    # column.  CollapseProject keeps non-cheap expressions staged
    # (SPARK-36718), so ssum/n are computed exactly once.
    staged = df.select(
        F.col(id_col), ssum.alias("__ssum"), n.alias("__n")
    )
    s, cnt = F.col("__ssum"), F.col("__n")
    mean = F.when(
        cnt > 0, ((s - F.pmod(s, cnt)) / cnt).cast("long")
    ).otherwise(F.lit(0).cast("long"))
    return staged.select(
        F.col(id_col),
        cnt.cast("int").alias("n_toks"),
        mean.alias("score_micro"),
    ).withColumn("keep", F.col("score_micro") > F.lit(threshold_micro))


#: Stopword set for the perceptron's deterministic training label: a
#: stopword-density split (prose reads high, keyword/template spam
#: reads low) — the same signal Gopher's stop_word rule keys on.
PERCEPTRON_STOPWORDS = (
    "the", "and", "of", "to", "a", "in", "is", "for", "on", "it",
)


def train_quality_perceptron(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 64,
    epochs: int = 4,
    label_mult: int = 5,
) -> DataFrame:
    """TRAINED hashed-feature quality classifier — the upgrade of
    :func:`hashed_linear_score` from given weights to weights LEARNED
    from the corpus (CCNet/fastText train their model-filter; the
    given-weights row only applies one).  Batch perceptron, integer
    arithmetic throughout so both engines reproduce every weight
    bit-for-bit (float GD cannot be hash-compared across engines):

    - features: x[b] = count of tokens hashing to bucket b (same
      lower/[^a-z]+ tokenization and md5-bucket convention as
      hashed_linear_score, ``n_buckets`` buckets);
    - label: y = +1 iff ``label_mult`` * (stopword tokens) >=
      n_tokens else -1 (stopword-density prose split);
    - epoch: margin_d = y_d * sum_b w[b] * x_d[b]; every doc with
      margin <= 0 is misclassified; w[b] += sum over misclassified
      of y_d * x_d[b].  Training docs = docs with >= 1 token.

    Returns the model trajectory: one row per (epoch, bucket) with
    the post-epoch weight and that epoch's misclassified count —
    ``(epoch, bucket, w, n_mis)``, epochs * n_buckets rows.

    Scale shape: the feature matrix (doc, bucket, cnt) is built with
    ONE corpus pass + one map-side-combined shuffle and persisted;
    each epoch is two shuffles over that matrix (margins per doc,
    delta per bucket — both partial-aggregated).  Model state is
    ``n_buckets`` ints resident on the driver between epochs — the
    distributed-gradient-descent shape: the driver aggregates a
    bucket-sized delta (bounded collect, n_buckets rows/epoch,
    documented like the bloom state), never doc-sized data."""
    w, _feat, _lab, out_rows = _perceptron_fit(
        df, text_col, id_col, n_buckets, epochs, label_mult
    )
    return df.sparkSession.createDataFrame(
        out_rows, "epoch int, bucket int, w long, n_mis long"
    )


def _perceptron_fit(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_buckets: int,
    epochs: int,
    label_mult: int,
):
    """Shared batch-perceptron loop (see train_quality_perceptron for
    semantics and the scale-shape audit).  Returns ``(w, feat, lab,
    trajectory_rows)`` so the trainer emits the trajectory and the
    inference kernel applies the final weights without re-deriving the
    loop."""
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), "[^a-z]+"), lambda x: x != F.lit("")
    )
    base = df.select(F.col(id_col).alias("doc"), toks.alias("t"))
    stop_arr = F.array(*[F.lit(s) for s in PERCEPTRON_STOPWORDS])
    lab = base.where(F.size("t") > 0).select(
        "doc",
        F.when(
            F.size(F.filter(F.col("t"), lambda x: F.array_contains(stop_arr, x)))
            * label_mult
            >= F.size("t"),
            F.lit(1),
        )
        .otherwise(F.lit(-1))
        .cast("long")
        .alias("y"),
    )
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("long"),
        F.lit(n_buckets),
    ).cast("int")
    feat = (
        base.select("doc", F.explode("t").alias("tok"))
        .select("doc", bucket.alias("b"))
        .groupBy("doc", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    # the one corpus-scale artifact; reused by every epoch
    from . import dedup as _dedup

    feat = _dedup._probe_persist(feat, "perceptron_feat")
    lab = _dedup._probe_persist(lab, "perceptron_lab")

    w = [0] * n_buckets
    out_rows: list[tuple[int, int, int, int]] = []
    for ep in range(1, epochs + 1):
        warr = F.array(*[F.lit(x).cast("long") for x in w])
        margins = (
            feat.select(
                "doc",
                (F.element_at(warr, F.col("b") + 1) * F.col("c")).alias("p"),
            )
            .groupBy("doc")
            .agg(F.sum("p").alias("s"))
        )
        mis = lab.join(margins, "doc").where(F.col("y") * F.col("s") <= 0)
        mis = mis.select("doc", "y").persist()
        n_mis = mis.count()
        delta = (
            mis.join(feat, "doc")
            .groupBy("b")
            .agg(F.sum(F.col("y") * F.col("c")).cast("long").alias("d"))
            .collect()  # bounded: <= n_buckets rows (the gradient)
        )
        mis.unpersist(False)
        for r in delta:
            w[r["b"]] += r["d"]
        out_rows.extend((ep, b, w[b], n_mis) for b in range(n_buckets))
    return w, feat, lab, out_rows


def infer_quality_perceptron(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 64,
    epochs: int = 4,
    label_mult: int = 5,
) -> DataFrame:
    """Model-filter INFERENCE — the half of the CCNet/fastText quality
    gate that actually touches the 100-TB corpus: train the perceptron
    (see :func:`train_quality_perceptron`), then score EVERY labeled
    doc with the final weight vector and emit the admission decision.

    Returns ``(doc, score, pred, y, correct)``: the integer margin
    ``score = sum_b w[b] * x[b]``, the model's call ``pred`` (+1 iff
    score > 0 — the trainer's own decision boundary: margin <= 0 is
    misclassified), the stopword-density label ``y``, and
    ``correct = 1`` iff they agree (training accuracy, per doc).

    Scale shape: inference is the cheap half — the final weights ride
    the plan as an ``n_buckets``-long literal array (the kmeans /
    hashed_linear_score "model rides the plan" pattern, never a join),
    so scoring is ONE map-side-combined (doc) shuffle over the persisted
    feature matrix plus a join to the label frame; nothing model-sized
    is ever shuffled.  Training cost is the trainer's (bounded driver
    state, n_buckets ints)."""
    w, feat, lab, _rows = _perceptron_fit(
        df, text_col, id_col, n_buckets, epochs, label_mult
    )
    warr = F.array(*[F.lit(x).cast("long") for x in w])
    scores = (
        feat.select(
            "doc",
            (F.element_at(warr, F.col("b") + 1) * F.col("c")).alias("p"),
        )
        .groupBy("doc")
        .agg(F.sum("p").cast("long").alias("score"))
    )
    pred = F.when(F.col("score") > 0, F.lit(1)).otherwise(F.lit(-1)).cast("long")
    return (
        lab.join(scores, "doc")
        .withColumn("pred", pred)
        .withColumn(
            "correct",
            F.when(F.col("pred") == F.col("y"), F.lit(1))
            .otherwise(F.lit(0))
            .cast("int"),
        )
        .select("doc", "score", "pred", "y", "correct")
    )


def tfidf_topk(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """Per-document top-k salient terms by TF-IDF — the keyword /
    topic-signal extraction step a corpus-analysis pipeline runs over a
    crawl (and the feature input for URL/topic routing).  Emits
    ``(id, term, tf, idf_micro, score, rank)`` with rank 1..k per doc,
    ties broken term-asc so the pick is deterministic.

    Integer-exact variant: idf_micro = floor(1e6 * N / df_t) (linear
    inverse document frequency) so the score is bit-identical across
    engines; the classic ``ln(N/df)`` swap is one expression at the
    same call site — it only reorders near-ties, and float ln cannot be
    hash-compared across engines.

    Scale shape: tokenization is scan-local; tf is ONE (doc, term)
    shuffle with map-side combine; document frequency is a groupBy over
    the per-doc distinct term set (partial-aggregated); N and the df
    table join back map-side (df table is vocabulary-sized — broadcast
    when it fits, AQE decides); the top-k is a per-doc window over at
    most |doc| terms, never a global sort.
    """
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), "[^a-z]+"), lambda x: x != F.lit("")
    )
    terms = df.select(F.col(id_col).alias("__id"), F.explode(toks).alias("term"))
    tf = terms.groupBy("__id", "term").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = df.select(
        F.count(F.lit(1)).cast("long").alias("__n")
    )
    dfreq = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("__df"))
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "idf_micro",
            F.floor(F.col("__n") * 1_000_000 / F.col("__df")).cast("long"),
        )
        .select("term", "idf_micro")
    )
    scored = tf.join(dfreq, "term").withColumn(
        "score", (F.col("tf") * F.col("idf_micro")).cast("long")
    )
    w = Window.partitionBy("__id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= F.lit(k))
        .select(
            F.col("__id").alias(id_col),
            "term",
            F.col("tf").cast("long").alias("tf"),
            "idf_micro",
            "score",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def sample_host_cap(
    df: DataFrame,
    host_col: str = "source",
    id_col: str = "doc_id",
    cap: int = 100,
    seed: str = "hostcap",
) -> DataFrame:
    """Per-domain contribution cap — the RefinedWeb/C4-style domain
    balancing step: no host may contribute more than ``cap`` documents
    to the corpus, and which documents survive is decided by a
    deterministic hash order (bucket, then id), never by partition
    order, so the sample is bit-reproducible across engines, reruns,
    and partitionings.

    Scale shape: ONE window shuffle on the host key; the per-host sort
    is bounded by the host's own document count.  A mega-host (the
    exact case the cap exists for) makes that one group large — if a
    single host's documents exceed an executor's sort budget, the
    two-phase swap at the same call site is: salt the window
    (host, pmod(bucket, S)), rank within salts, then re-rank the ≤S*cap
    survivors — same discipline as the politeness rank
    (politeness.py), documented not default because the plain window is
    exact and cheaper below ~10^7 docs/host.
    """
    w = Window.partitionBy(host_col).orderBy(
        hash_bucket_micro(F.col(id_col), seed=seed), F.col(id_col)
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= F.lit(cap))
        .drop("__rn")
    )


def select_to_token_budget(
    df: DataFrame,
    budget_tokens: int,
    score_col: str = "score_micro",
    tokens_col: str = "n_tokens",
    id_col: str = "doc_id",
    bin_width: int = 5000,
    seed: str = "budget",
) -> DataFrame:
    """Token-budget corpus selection: keep the highest-quality documents
    whose token counts fill ``budget_tokens``, WITHOUT a global sort —
    the curation step every corpus release runs ("fill a 1.4T-token
    budget best-quality-first") done the way it survives 100 TB.

    Shape: (1) bin each doc's integer quality score (``score_col``,
    micro units in [0, 1e6]) into ``score_micro div bin_width`` buckets;
    (2) aggregate token counts per bin — a <=201-row histogram, partial-
    aggregated map-side; (3) a window over that tiny histogram finds the
    BOUNDARY bin: every bin strictly above it fits the budget whole, the
    boundary bin is filled greedily in deterministic hash order
    (bucket, id — :func:`hash_bucket_micro`, so the kept set is a pure
    function of the data and reproducible in DuckDB), bins below are
    dropped.  The only per-doc sort is the boundary bin's own documents
    (~1/n_bins of the corpus in expectation); the corpus itself is never
    globally sorted.  Greedy prefix fill, not knapsack: a boundary doc
    whose tokens overflow the remainder is dropped and the fill stops —
    deterministic and unbiased, residual error bounded by one bin.

    If one boundary bin still exceeds a sort budget at extreme scale,
    recurse: re-bin the boundary bin by the hash bucket itself —
    same histogram-threshold trick, documented not default.

    Pass the slim (id, score, tokens) projection, not the full doc
    frame: the full/boundary union re-evaluates the input once per
    branch, which is two scans of three pruned columns — text bytes
    must not ride through this kernel.

    Returns every input row plus ``bin`` and boolean ``kept``.
    """
    b = F.lit(int(budget_tokens))
    binned = df.withColumn(
        "bin", F.expr(f"{score_col} div {int(bin_width)}").cast("long")
    )
    hist = binned.groupBy("bin").agg(F.sum(tokens_col).alias("__bt"))
    wdesc = (
        Window.orderBy(F.col("bin").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    mark = (
        hist.withColumn(
            "__cum_excl", F.coalesce(F.sum("__bt").over(wdesc), F.lit(0))
        )
        .select(
            "bin",
            (F.col("__cum_excl") + F.col("__bt") <= b).alias("__full"),
            ((F.col("__cum_excl") <= b) & (b < F.col("__cum_excl") + F.col("__bt"))).alias(
                "__bnd"
            ),
            (b - F.col("__cum_excl")).alias("__rem"),
        )
    )
    tagged = binned.join(F.broadcast(mark), "bin")
    rest = tagged.where(~F.col("__bnd")).withColumn("kept", F.col("__full"))
    wfill = Window.orderBy(
        hash_bucket_micro(F.col(id_col), seed=seed), F.col(id_col)
    ).rowsBetween(Window.unboundedPreceding, 0)
    bnd = tagged.where(F.col("__bnd")).withColumn(
        "kept", F.sum(tokens_col).over(wfill) <= F.col("__rem")
    )
    return rest.unionByName(bnd).drop("__bt", "__full", "__bnd", "__rem")


def assign_shards(
    df: DataFrame,
    n_shards: int,
    id_col: str = "doc_id",
    seed: str = "shard",
) -> DataFrame:
    """Deterministic training-shard assignment — the "global shuffle"
    every corpus release runs before handing shards to a trainer: each
    doc gets a ``shard`` in [0, n_shards) and a 0-based ``pos`` within
    that shard, and reading shards in (shard, pos) order is a
    pseudorandom permutation of the corpus (sources interleave
    uniformly because position derives from a hash, not ingest order).

    Shard = md5 bucket mod n_shards, pos = rank by (bucket, id) within
    the shard (:func:`hash_bucket_micro` convention, so DuckDB replays
    the exact permutation and re-ingesting the corpus reproduces it
    bit-for-bit — ``df.orderBy(rand())`` gives none of that).

    Scale shape: ONE shuffle on the shard key — the same partitioning
    the shard writer needs, so the sort feeds the write directly; each
    shard sorts independently (corpus/n_shards rows), there is no
    global sort.  At 100 TB pick n_shards so a shard fits an executor
    sort buffer (~2^20 docs/shard); the window is per-shard, so shard
    count scales the parallelism, not the cost.
    """
    b = hash_bucket_micro(F.col(id_col), seed)
    out = df.withColumn("shard", F.pmod(b, F.lit(int(n_shards))).cast("int"))
    w = Window.partitionBy("shard").orderBy(
        hash_bucket_micro(F.col(id_col), seed), F.col(id_col)
    )
    return out.withColumn("pos", (F.row_number().over(w) - 1).cast("long"))


# ------------------------------------------------------ DSIR importance
def dsir_importance(
    corpus: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 4096,
) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al. 2023): score
    every corpus document by how target-like its hashed n-gram feature
    distribution is, so a training mix can up-sample documents that look
    like a trusted target set (the DSIR selection step in the
    RedPajama-v2 / Dolma-style pipelines).

    Integer-exact variant: each word bigram hashes to one of
    ``n_buckets`` buckets (md5-derived 32-bit base hash, the same
    cross-engine-stable family as minhash); the bucket importance is the
    add-one-smoothed count ratio in micro units,

        ratio_micro(b) = (1e6 * (c_target(b)+1)) div (c_raw(b)+1)

    and the document score is the floored mean ratio over its feature
    occurrences.  The global normalization (N_raw+B)/(N_target+B) that
    the paper's log-ratio carries is constant across documents, so it is
    dropped — resampling order is unchanged, and every op stays in
    64-bit integer `div` arithmetic (bit-identical across engines; the
    numerator overflows long only past ~9e12 target bigram occurrences,
    where the model estimation would be sampled anyway).

    Scale shape: the bucket model is at most ``n_buckets`` rows — the
    two count aggregations partial-aggregate down to <=n_buckets keys
    per partition before the shuffle, and the scoring join broadcasts
    the model; the only full-width shuffle is the per-doc groupBy.  The
    corpus bigram stream is evaluated twice (model pass + scoring pass)
    rather than persisted: both are scan-local projections, and at
    100 TB a re-scan is cheaper than caching an exploded bigram table.
    """
    B = int(n_buckets)

    def feats(df: DataFrame) -> DataFrame:
        words = F.split(F.lower(F.col(text_col)), r"\s+")
        n = F.size(words)
        pairs = F.arrays_zip(
            F.slice(words, 1, n - 1).alias("w1"),
            F.slice(words, 2, n - 1).alias("w2"),
        )
        gram = F.concat_ws(" ", F.col("p.w1"), F.col("p.w2"))
        return (
            df.select(F.col(id_col).alias("__doc"), F.explode(pairs).alias("p"))
            .select(
                "__doc",
                F.pmod(
                    F.conv(F.substring(F.md5(gram), 1, 8), 16, 10).cast("long"),
                    F.lit(B),
                ).alias("bucket"),
            )
        )

    c_t = feats(target).groupBy("bucket").agg(F.count(F.lit(1)).alias("ct"))
    raw = feats(corpus)
    c_r = raw.groupBy("bucket").agg(F.count(F.lit(1)).alias("cr"))
    model = (
        c_r.join(c_t, "bucket", "left")
        .select(
            "bucket",
            F.expr(
                "(1000000 * (coalesce(ct, 0) + 1)) div (cr + 1)"
            ).alias("ratio_micro"),
        )
    )
    scored = (
        raw.join(F.broadcast(model), "bucket")
        .groupBy("__doc")
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            F.expr("sum(ratio_micro) div count(1)").alias("dsir_score_micro"),
        )
    )
    return (
        corpus.select(F.col(id_col).alias("__doc"))
        .join(scored, "__doc", "left")
        .select(
            F.col("__doc").alias(id_col),
            F.coalesce(F.col("n_feats"), F.lit(0)).cast("long").alias("n_feats"),
            F.coalesce(F.col("dsir_score_micro"), F.lit(0))
            .cast("long")
            .alias("dsir_score_micro"),
        )
    )


# ------------------------------------------------------------ C4 filters
def c4_clean(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 5,
    min_lines: int = 2,
) -> DataFrame:
    """The C4 line-level cleaning rules (Raffel et al. 2020 §2.2), the
    most-cited public webtext filter set: keep only lines that end in a
    terminal punctuation mark, have at least ``min_words`` words, and
    contain neither the word "javascript", the phrase "lorem ipsum", nor
    a curly brace; drop documents with fewer than ``min_lines``
    surviving lines.  (The reference pipeline's short-body gate,
    engine.py F9, is the crawl-time cousin; this is the corpus-release
    pass.)

    Emits ``(id, n_lines, n_kept, cleaned_md5)`` for surviving docs —
    the md5 is over the kept lines re-joined in original order, so a
    hash match proves the per-line verdicts AND the reassembly order.

    Scale shape: ZERO shuffle — every rule is a higher-order-function
    predicate over the line array (split/filter/size/array_join run
    inside the scan projection), the same corpus-never-shuffled
    discipline as blocklist_filter.  At 100 TB this is one codegen'd
    pass over the text column.
    """
    lines = F.split(F.col(text_col), "\n")
    word_count = lambda ln: F.size(  # noqa: E731
        F.filter(F.split(ln, " "), lambda w: w != F.lit(""))
    )
    kept = F.filter(
        lines,
        lambda ln: ln.rlike(r'[.!?"]\s*$')
        & (word_count(ln) >= F.lit(min_words))
        & ~F.lower(ln).contains("javascript")
        & ~F.lower(ln).contains("lorem ipsum")
        & ~ln.contains("{"),
    )
    staged = df.select(
        F.col(id_col),
        F.size(lines).alias("n_lines"),
        kept.alias("__kept"),
    )
    return staged.where(F.size("__kept") >= F.lit(min_lines)).select(
        F.col(id_col),
        F.col("n_lines").cast("int").alias("n_lines"),
        F.size("__kept").cast("int").alias("n_kept"),
        F.md5(F.array_join(F.col("__kept"), "\n")).alias("cleaned_md5"),
    )


# ------------------------------------ CCNet perplexity bucketing + BM25
def ccnet_perplexity_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """CCNet's head/middle/tail split (Wenzek et al. 2020 §4.3): score
    every document under a per-language word-bigram LM, then cut each
    language's corpus into score terciles — "head" is the most fluent
    third, the slice CCNet ships as the highest-quality training data.

    Integer-exact twin of :func:`bigram_lm_scores`, conditioned on
    language (c(lang,w1,w2) / c(lang,w1,·) floor-micro probabilities),
    so bucket boundaries are bit-identical across engines.  Bucket
    assignment is rank-based, not value-quantile-based:

        rn      = row_number over (lang) ordered by score desc, id asc
        bucket  = floor((rn - 1) * 3 / n_lang)  ->  0 head, 1 middle,
                                                    2 tail

    which is exactly ntile(3) for n % 3 == 0 and deterministic (no
    tie-dependent quantile interpolation) otherwise.

    Scale shape: one (lang,w1,w2) shuffle to train, one model join
    keyed (lang,w1,w2) — per-language vocabularies shard the hot-word
    skew that the corpus-wide LM concentrates — and the tercile window
    is per-language rank over docs, the same per-key window every
    priority queue in the engine uses.  No global sort.

    Returns ``(id, lang, lm_score_micro, n_bigrams, bucket)`` for every
    doc with >= 1 bigram; ``bucket`` in {'head','middle','tail'}.
    """
    words = F.split(F.lower(F.col(text_col)), r"\s+")
    n = F.size(words)
    pairs = F.arrays_zip(
        F.slice(words, 1, n - 1).alias("w1"), F.slice(words, 2, n - 1).alias("w2")
    )
    big = df.select(
        F.col(id_col).alias("__doc"),
        F.col(lang_col).alias("__lang"),
        F.explode(pairs).alias("p"),
    ).select("__doc", "__lang", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    c2 = big.groupBy("__lang", "w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    c1 = c2.groupBy("__lang", "w1").agg(F.sum("c2").alias("c1"))
    model = c2.join(c1, ["__lang", "w1"]).select(
        "__lang", "w1", "w2",
        F.floor(F.col("c2") * 1_000_000 / F.col("c1")).cast("long").alias("p_micro"),
    )
    scored = (
        big.join(model, ["__lang", "w1", "w2"])
        .groupBy("__doc", "__lang")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.floor(F.sum("p_micro") / F.count(F.lit(1))).cast("long").alias(
                "lm_score_micro"
            ),
        )
    )
    w = Window.partitionBy("__lang").orderBy(
        F.desc("lm_score_micro"), F.asc("__doc")
    )
    cnt = Window.partitionBy("__lang")
    idx = F.floor((F.row_number().over(w) - 1) * 3 / F.count(F.lit(1)).over(cnt))
    return scored.select(
        F.col("__doc").alias(id_col),
        F.col("__lang").alias(lang_col),
        "lm_score_micro",
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        F.element_at(
            F.array(F.lit("head"), F.lit("middle"), F.lit("tail")),
            (idx + 1).cast("int"),
        ).alias("bucket"),
    )


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    k1_micro: int = 1_200_000,
    b_micro: int = 750_000,
) -> DataFrame:
    """BM25 keyword retrieval over the corpus (Robertson/Okapi) — the
    ranked-search primitive a crawl-corpus index serves, and the lexical
    side of hybrid (BM25 + ANN) retrieval.  k1 = 1.2, b = 0.75 as micro
    fixed-point.

    Integer-exact at milli resolution so Spark and the SQL oracle agree
    bit-for-bit (the classic ln-idf is monotone in this rational idf,
    so ranking is BM25 ranking; document-level scores differ from the
    float formula only by the fixed-point grid):

        avgdl       = floor(sum(dl) / N)            (plain int)
        idf_milli   = floor(1000 (2N - 2df + 1) / (2df + 1))
        norm_micro  = (1e6 - b) + floor(b dl / avgdl)
        denom       = tf 1e6 + floor(k1 norm_micro / 1e6)
        tfn_milli   = floor(tf (k1 + 1e6) 1000 / denom)
        score_milli = sum over query terms floor(idf_milli tfn_milli
                                                 / 1000)

    Every intermediate stays < 2^53, so the long->double division both
    engines perform rounds identically (documented ceiling: N < 2^40
    docs; beyond that swap the rational idf for log-idf and accept
    float comparison).

    Scale shape: the query-term filter is applied scan-side BEFORE any
    shuffle (tf is a (doc, term) groupBy over matched terms only — for
    a q-term query the shuffle carries at most q rows per doc); dl/N/
    avgdl are scan-local plus one tiny global agg broadcast back; df_t
    is a q-row table, broadcast.  Top-k is one global window over docs
    that matched >= 1 term — rank by (score desc, id asc), k rows out.
    """
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), "[^a-z]+"), lambda x: x != F.lit("")
    )
    base = df.select(F.col(id_col).alias("__id"), toks.alias("__toks")).select(
        "__id", "__toks", F.size("__toks").cast("long").alias("dl")
    )
    stats = base.agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.floor(F.sum("dl") / F.count(F.lit(1))).cast("long").alias("avgdl"),
    )
    terms = base.select(
        "__id", "dl", F.explode("__toks").alias("term")
    ).where(F.col("term").isin(list(query_terms)))
    tf = terms.groupBy("__id", "dl", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    dfq = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("__df"))
        .crossJoin(F.broadcast(stats))
        .select(
            "term",
            F.floor(
                (2 * F.col("__n") - 2 * F.col("__df") + 1)
                * 1000
                / (2 * F.col("__df") + 1)
            ).cast("long").alias("idf_milli"),
            "avgdl",
        )
    )
    K, B = F.lit(k1_micro).cast("long"), F.lit(b_micro).cast("long")
    norm = (F.lit(1_000_000) - B) + F.floor(B * F.col("dl") / F.col("avgdl"))
    denom = F.col("tf") * 1_000_000 + F.floor(K * norm / 1_000_000)
    tfn = F.floor(F.col("tf") * (K + 1_000_000) * 1000 / denom)
    scored = (
        tf.join(F.broadcast(dfq), "term")
        .withColumn(
            "contrib",
            F.floor(F.col("idf_milli") * tfn / 1000).cast("long"),
        )
        .groupBy("__id")
        .agg(
            F.sum("contrib").cast("long").alias("score_milli"),
            F.count(F.lit(1)).cast("long").alias("n_terms"),
        )
    )
    w = Window.orderBy(F.desc("score_milli"), F.asc("__id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= F.lit(k))
        .select(
            F.col("__id").alias(id_col),
            "score_milli",
            "n_terms",
            F.col("rank").cast("int").alias("rank"),
        )
    )


# ------------------------------------------------- boilerplate mining
def boilerplate_ngrams(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    k: int = 100,
) -> DataFrame:
    """Corpus-wide boilerplate phrase mining: the ``k`` word n-grams
    that appear in the most DISTINCT documents (plus their total
    occurrence counts) — the frequency pass a webtext pipeline runs to
    build its strip-list of navigation chrome, cookie banners, and
    license footers (the n-gram analog of :func:`~crawler_spark.
    functions.dedup.drop_common_lines`' per-line rule).

    Returns ``(shingle, n_docs, n_occurrences, rank)`` ordered by
    (n_docs desc, n_occurrences desc, shingle asc), rank <= k.

    Scale shape: ONE (shingle) shuffle — per-doc dedup happens inside
    the aggregate (count(distinct doc) partial-aggregates map-side on
    the (shingle, doc) pairs), and the top-k is a TakeOrdered over the
    aggregated phrase table, never a global sort of the gram stream.
    At 10^10 docs swap the exact distinct count for
    approx_count_distinct and keep the identical plan — boilerplate
    mining needs ranks, not exact cardinalities (documented trade, same
    as corpus_stats)."""
    from .dedup import shingles

    sh = shingles(df, id_col, text_col, n, distinct=False)
    agg = sh.groupBy("shingle").agg(
        F.countDistinct("doc").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_occurrences"),
    )
    order = [F.desc("n_docs"), F.desc("n_occurrences"), F.asc("shingle")]
    # orderBy+limit compiles to TakeOrderedAndProject — the vocab-sized
    # phrase table is never globally sorted nor single-partitioned; the
    # rank window runs AFTER the cut, over k rows only
    top = agg.orderBy(*order).limit(k)
    return top.select(
        "shingle",
        "n_docs",
        "n_occurrences",
        F.row_number().over(Window.orderBy(*order)).cast("int").alias("rank"),
    )


# --------------------------------------------------- document chunking
def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_tokens: int = 128,
    stride: int = 96,
) -> DataFrame:
    """Context-window chunking: split every document into token windows
    of ``max_tokens`` starting every ``stride`` tokens (overlap =
    max_tokens - stride) — the pass that prepares long documents for a
    fixed-context trainer, upstream of :func:`sequence_pack` (which
    packs the resulting pieces).

    Returns ``(id_col, chunk_id, start_tok, n_tokens, chunk_md5)`` —
    chunk_id = start // stride, start_tok 1-based, md5 over the
    space-rejoined window so content (not just counts) hash-compares.

    Scale shape: ZERO shuffle — chunk starts are a per-row
    ``sequence(0, n-1, stride)`` posexplode and each window is an
    in-row ``slice``; rows amplify by ~n/stride but never leave the
    scan partition, and only (id, md5, ints) leave the projection.
    """
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    starts = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(stride))
    ex = df.select(
        F.col(id_col), toks.alias("__t"), F.explode(starts).alias("__s")
    )
    chunk = F.slice(F.col("__t"), F.col("__s") + 1, max_tokens)
    return ex.select(
        F.col(id_col),
        (F.col("__s") / stride).cast("long").alias("chunk_id"),
        (F.col("__s") + 1).cast("long").alias("start_tok"),
        F.size(chunk).cast("long").alias("n_tokens"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_md5"),
    )


# --------------------------------------------- tokenizer-training prep
def bpe_pair_counts(
    df: DataFrame,
    text_col: str = "text",
    k: int = 50,
) -> DataFrame:
    """First BPE merge iteration over the corpus: corpus-wide counts of
    adjacent symbol pairs inside words — the statistic a tokenizer
    trainer (BPE / WordPiece) computes to pick its first merge rules.
    Words are ``[a-z]+`` runs of the lowercased text; every adjacent
    character pair inside a word contributes that word's corpus
    frequency.  Returns the top ``k`` pairs as
    ``(pair, cnt, rank)`` ordered by (cnt desc, pair asc).

    Scale shape: the ONLY corpus-scale shuffle is the word-frequency
    groupBy (map-side partial counts on short word keys); the pair
    expansion then runs over the DISTINCT-WORD table — vocab-sized,
    orders of magnitude smaller than the token stream — so the second
    shuffle moves (2-char pair, long) rows from a vocab-sized input.
    Top-k is TakeOrderedAndProject over the ~26^2-row pair table; the
    rank window runs after the cut, over k rows only.  At 10^10 docs
    the word-count stage is the whole cost and it partial-aggregates;
    subsequent BPE iterations re-run only the vocab-sized stages with
    merged symbols (drive the loop over the persisted word-frequency
    table, not the corpus)."""
    words = df.select(
        F.explode(
            F.expr(f"regexp_extract_all(lower({text_col}), '[a-z]+', 0)")
        ).alias("w")
    )
    wf = (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
        .where(F.length("w") >= 2)
    )
    # adjacent pair = 2-char substring at i; sequence is ascending
    # because length(w) >= 2 is already enforced above
    pairs = wf.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1),"
                   " i -> substring(w, i, 2))")
        ).alias("pair"),
        "f",
    )
    agg = pairs.groupBy("pair").agg(F.sum("f").cast("long").alias("cnt"))
    order = [F.desc("cnt"), F.asc("pair")]
    top = agg.orderBy(*order).limit(k)
    return top.select(
        "pair",
        "cnt",
        F.row_number().over(Window.orderBy(*order)).cast("int").alias("rank"),
    )


def bpe_train_merges(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 8,
) -> DataFrame:
    """Iterated BPE tokenizer training (the loop :func:`bpe_pair_counts`
    documents but computes only the first step of): learn the first
    ``n_merges`` merge rules over the corpus.  Classic Sennrich-style
    BPE on ``[a-z]+`` word runs of the lowercased text: each iteration
    counts adjacent-symbol pairs weighted by word frequency, merges the
    argmax pair — ties broken (cnt desc, lhs asc, rhs asc) — greedily
    left-to-right in every word, and repeats over the merged vocabulary.
    Returns one row per learned rule: ``(step, lhs, rhs, merged, cnt)``.

    Scale shape — the whole point of the loop structure: the corpus is
    touched EXACTLY ONCE, by the word-frequency groupBy (map-side
    partial counts on short word keys), and the result is persisted as
    the working table.  Every one of the ``n_merges`` iterations then
    runs over that VOCAB-sized table: pair counting is an explode +
    groupBy over (distinct word × word length) rows, the argmax is a
    TakeOrderedAndProject whose single row is COLLECTED to the driver
    (bounded: one (lhs, rhs, cnt) row per merge — the model state,
    same discipline as the kmeans centroids and the perceptron
    gradient), and the merge is the zero-shuffle `aggregate` fold
    above with the winning pair folded in as string LITERALS — no
    iteration re-reads or re-shuffles the corpus, so 10^10 docs cost
    one shuffle + n_merges vocab-local passes.  (Catalyst HOF lambdas
    are interpreted, but the fold runs over the vocab table, not the
    token stream.)

    The literal-fold + driver-collect structure replaced an all-lazy
    union-of-rules plan: Catalyst does not share subplans across union
    arms, so rule k's branch re-derived every earlier step's pair
    shuffle and broadcast argmax from scratch — O(n^3) shuffle passes
    total, measured 25-36s cold at sf0.1 vs ~5s for this form with
    identical output."""
    words = df.select(
        F.explode(
            F.expr(f"regexp_extract_all(lower({text_col}), '[a-z]+', 0)")
        ).alias("w")
    )
    wf = (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
        .where(F.length("w") >= 2)
    )
    # the ONE corpus-scale result; every iteration below re-derives
    # from this persisted frame (local import: dedup imports textops)
    from . import dedup as _dedup

    wf = _dedup._probe_persist(wf, "bpe_wf")
    cur_expr = "transform(sequence(1, length(w)), i -> substring(w, i, 1))"
    # guard size(t) >= 2: sequence(1, 0) would DESCEND ([1, 0])
    pair_expr = (
        "case when size(t) >= 2 then "
        "transform(sequence(1, size(t) - 1), "
        "          i -> named_struct('lhs', t[i - 1], 'rhs', t[i])) "
        "else cast(array() as array<struct<lhs:string,rhs:string>>) end"
    )
    rules: list[tuple[int, str, str, str, int]] = []
    for step in range(1, n_merges + 1):
        cur = wf.select(F.expr(cur_expr).alias("t"), "f")
        pair_cnt = (
            cur.select(F.explode(F.expr(pair_expr)).alias("p"), "f")
            .groupBy("p.lhs", "p.rhs")
            .agg(F.sum("f").cast("long").alias("cnt"))
        )
        best = (
            pair_cnt.orderBy(F.desc("cnt"), F.asc("lhs"), F.asc("rhs"))
            .limit(1)
            .collect()  # bounded: ONE row per merge (the model state)
        )
        if not best:
            break
        bl, br, bcnt = best[0]["lhs"], best[0]["rhs"], int(best[0]["cnt"])
        rules.append((step, bl, br, bl + br, bcnt))
        cur_expr = _bpe_fold_literal(cur_expr, bl, br)
    return df.sparkSession.createDataFrame(
        rules, "step int, lhs string, rhs string, merged string, cnt long"
    )


def _bpe_fold_literal(inner: str, lhs: str, rhs: str) -> str:
    """Greedy left-to-right merge of the winning (lhs, rhs) pair baked
    in as string literals over an inner token-array expression, as a
    single Catalyst `aggregate` fold — zero shuffle, a projection over
    the vocab-sized word table.  State = (arr: merged-so-far, prev: one
    unemitted lookbehind token); emitting `prev` only when it cannot
    start a merge reproduces the exact scan a Python BPE trainer does
    (after a merge `prev` is cleared, so the merged token never
    re-merges within the same pass — "aaa" + (a,a) -> [aa, a]).
    Symbols are concatenations of ``[a-z]`` chars by construction (the
    vocab regex), so plain single-quoting is safe; the assert guards
    the invariant."""
    assert lhs.isalpha() and rhs.isalpha() and lhs.islower() and rhs.islower()
    m = lhs + rhs
    return f"""
aggregate(
  {inner},
  named_struct('arr', cast(array() as array<string>),
               'prev', cast(null as string)),
  (acc, s) -> case
    when acc.prev = '{lhs}' and s = '{rhs}' then
      named_struct('arr', array_append(acc.arr, '{m}'),
                   'prev', cast(null as string))
    when acc.prev is null then named_struct('arr', acc.arr, 'prev', s)
    else named_struct('arr', array_append(acc.arr, acc.prev), 'prev', s)
  end,
  acc -> case when acc.prev is null then acc.arr
              else array_append(acc.arr, acc.prev) end
)
"""


def bpe_encode(
    df: DataFrame,
    rules: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply learned BPE merge rules to the corpus — the inference half
    of :func:`bpe_train_merges`, the quality_train/quality_infer
    pairing: train once, then encode everything.  ``rules`` is the
    ordered ``(lhs, rhs)`` merge list (bounded model state, collected
    from the trainer's output — n_merges rows, never corpus-scale).
    Returns per-doc tokenizer stats:
    ``(id_col, n_words, n_chars, n_tokens, compression_ppm)`` where
    ``n_tokens`` counts post-merge symbols over the doc's ``[a-z]+``
    word runs and ``compression_ppm = floor(1e6 * n_tokens / n_chars)``
    (1e6 = no merge applied anywhere; lower = better compression).

    Scale shape — encode cost is VOCAB-bounded, not corpus-bounded:
    the chained merge fold (interpreted HOF lambdas) runs once per
    DISTINCT word, with the rules baked in as string literals
    (:func:`_bpe_fold_literal`, same scan semantics as the trainer);
    occurrences then pick up their token count through a word-keyed
    join (stopword hot keys -> AQE skew handling) and one
    map-side-combined doc aggregate.  Folding at every occurrence
    instead would be zero-shuffle but pay the interpreted fold
    O(corpus) times — the wrong trade at 10^10 docs, where distinct
    words grow ~Heaps-law sublinearly."""
    words = df.select(
        F.col(id_col),
        F.explode_outer(
            F.expr(f"regexp_extract_all(lower({text_col}), '[a-z]+', 0)")
        ).alias("w"),
    )
    fold = "transform(sequence(1, length(w)), i -> substring(w, i, 1))"
    for lhs, rhs in rules:
        fold = _bpe_fold_literal(fold, lhs, rhs)
    enc = (
        words.where(F.col("w").isNotNull())
        .select("w")
        .distinct()
        .select("w", F.expr(f"cast(size({fold}) as bigint)").alias("n_tok"))
    )
    per_doc = (
        words.join(enc, "w", "left")
        .groupBy(id_col)
        .agg(
            F.count("w").cast("long").alias("n_words"),
            F.coalesce(F.sum(F.length("w")), F.lit(0))
            .cast("long")
            .alias("n_chars"),
            F.coalesce(F.sum("n_tok"), F.lit(0)).cast("long").alias("n_tokens"),
        )
    )
    return per_doc.select(
        id_col,
        "n_words",
        "n_chars",
        "n_tokens",
        F.floor(
            F.col("n_tokens") * F.lit(1_000_000)
            / F.greatest(F.col("n_chars"), F.lit(1))
        )
        .cast("long")
        .alias("compression_ppm"),
    )


# ----------------------------------------------- encoding-quality gate
#: Literal alternation of classic UTF-8-as-Latin-1 double-encoding
#: signatures plus the replacement char.  Pure literals where no
#: alternative is a prefix of another (the lone '\u00e2\u20ac' covers the
#: \u2019/\u201c/\u201d punctuation family), so Java regex (Spark) and
#: RE2 (DuckDB) count identical non-overlapping matches regardless of
#: alternation order.
MOJIBAKE_PATTERN = (
    "\u00c3\u00a9|\u00c3\u00bc|\u00c3\u00b1|\u00c3\u00a4|"
    "\u00c3\u00b6|\u00c3\u00a8|\u00c3\u00a0|\u00e2\u20ac|"
    "\u00c2\u00b7|\u00c2\u00bb|\u00c2\u00a0|\ufffd"
)


def mojibake_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Encoding-quality gate (ftfy-style detection, not repair): count
    classic mojibake signatures — UTF-8 bytes decoded as Latin-1/cp1252
    ('Ã©' for é, 'â€™' for ’, 'Â·' for ·) and the U+FFFD replacement
    char — and flag documents carrying any.  A webtext pipeline runs
    this before language ID: double-encoded docs poison n-gram LMs and
    dedup shingles alike.

    Returns ``(id_col, n_chars, n_moji, moji_ppm, is_mojibake)`` —
    ``moji_ppm`` is integer-exact parts-per-million (``n_moji * 1e6 div
    n_chars``) so the ratio hash-compares across engines.

    Scale shape: ZERO shuffle — one regexp count per row inside the
    scan projection, whole-stage codegen, only (id, 3 longs, bool)
    leave the scan."""
    n_chars = F.length(F.col(text_col)).cast("long")
    n_moji = F.regexp_count(F.col(text_col), F.lit(MOJIBAKE_PATTERN)).cast(
        "long"
    )
    return df.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        n_moji.alias("n_moji"),
        F.when(n_chars > 0, (n_moji * F.lit(1_000_000)).cast("long"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("__num"),
        n_chars.alias("__den"),
    ).select(
        id_col,
        "n_chars",
        "n_moji",
        F.when(F.col("__den") > 0, F.expr("__num div __den"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("moji_ppm"),
        (F.col("n_moji") > 0).alias("is_mojibake"),
    )


# ----------------------------------------------- C4 badwords page drop
#: Stand-in for the public "bad words" blocklist C4 filters with (the
#: real list is a drop-in replacement for this tuple — the kernel is
#: list-agnostic).  Lowercase whole-token matches only: 'scunthorpe'
#: never trips it.
BADWORDS = ("viagra", "casino", "xxx", "porn", "payday", "jackpot")


def badwords_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    words: tuple[str, ...] = BADWORDS,
) -> DataFrame:
    """C4-style badwords gate: tokenize on non-letter runs, count
    whole tokens that appear on the blocklist, flag the page on ANY
    hit (C4 drops the whole page, not the line).  Token-level
    matching, not substring — the classic Scunthorpe false positive is
    structurally impossible.

    Returns ``(id_col, n_tokens, n_bad, bad_ppm, is_flagged)`` with
    integer-exact parts-per-million.

    Scale shape: ZERO shuffle — the token split, list membership, and
    counts are per-row higher-order functions inside the scan
    projection; the blocklist is a literal array (a broadcast join
    swap-in when the real multi-thousand-word list arrives), and only
    (id, 3 longs, bool) leave the scan."""
    bad = F.array(*[F.lit(w) for w in words])
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), "[^a-z]+"), lambda t: t != ""
    )
    staged = df.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.filter(toks, lambda t: F.array_contains(bad, t)))
        .cast("long")
        .alias("n_bad"),
    )
    return staged.select(
        id_col,
        "n_tokens",
        "n_bad",
        F.when(
            F.col("n_tokens") > 0,
            F.expr("(n_bad * cast(1000000 as bigint)) div n_tokens"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("bad_ppm"),
        (F.col("n_bad") > 0).alias("is_flagged"),
    )


# ------------------------------------- density-based content extraction
def main_content(
    df: DataFrame,
    id_col: str = "doc_id",
    html_col: str = "html",
    min_chars: int = 25,
) -> DataFrame:
    """Boilerpipe-style main-content extraction: split the page into
    blocks at block-level tag boundaries, score each block by visible
    text length and link density, keep blocks that read like prose
    (>= ``min_chars`` visible chars AND anchor text < 1/3 of visible
    text — integer arithmetic, no floats), and reassemble.  The
    density-based upgrade of :func:`html_to_text`'s whole-page strip:
    nav chrome, related-links boxes, and footers are link-dense and
    short, so they drop out.

    Returns ``(id_col, content, n_blocks, n_kept)`` — content is the
    kept blocks' visible text joined by newline.

    Scale shape: ZERO shuffle — block split, per-block tag strip, and
    density filter are per-row higher-order functions inside the scan
    projection (whole-stage codegen); a DOM-accurate extractor is a
    mapInPandas swap-in at the same call site, same as html_to_text."""
    block_sep = (
        r"</?(?:p|div|li|ul|ol|nav|footer|header|h[1-6]|table|tr|td|br)"
        r"[^>]*>"
    )
    blocks = F.split(F.col(html_col), block_sep)
    vis = lambda b: F.trim(F.regexp_replace(b, "<[^>]*>", ""))
    anchor_len = lambda b: F.length(
        F.array_join(
            F.regexp_extract_all(b, F.lit("<a[^>]*>([^<]*)</a>"), F.lit(1)),
            "",
        )
    ).cast("long")
    scored = df.select(
        F.col(id_col),
        F.transform(
            blocks,
            lambda b: F.struct(vis(b).alias("v"), anchor_len(b).alias("alen")),
        ).alias("__b"),
    )
    kept = F.filter(
        F.col("__b"),
        lambda s: (F.length(s["v"]) >= min_chars)
        & (s["alen"] * 3 < F.length(s["v"])),
    )
    return scored.select(
        F.col(id_col),
        F.array_join(F.transform(kept, lambda s: s["v"]), "\n").alias(
            "content"
        ),
        F.size("__b").cast("long").alias("n_blocks"),
        F.size(kept).cast("long").alias("n_kept"),
    )


# --------------------------------------------- Unicode script detection
#: (name, Java-regex char class) — Spark side.  The DuckDB oracle uses
#: RE2's \x{...} syntax for the same ranges (its own regex dialect,
#: same semantics).
SCRIPT_CLASSES = (
    ("latin", "[A-Za-z\u00c0-\u024f]"),
    ("cyrillic", "[\u0400-\u04ff]"),
    ("cjk", "[\u4e00-\u9fff\u3040-\u30ff]"),
    ("arabic", "[\u0600-\u06ff]"),
    ("hangul", "[\uac00-\ud7af]"),
)


def script_ratios(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Unicode-script mix detection: per-document character counts for
    the five major script ranges plus a majority-script label — the
    gate a multilingual pipeline runs before language ID (mixed-script
    spam and wrong-script injection score high on n-gram LMs trained on
    the wrong alphabet; script is the cheaper, sharper first cut).

    Returns ``(id_col, n_latin, n_cyrillic, n_cjk, n_arabic, n_hangul,
    script)`` — script = argmax count with the SCRIPT_CLASSES order as
    the deterministic tiebreak, 'none' when all counts are zero.

    Scale shape: ZERO shuffle — five regexp counts per row inside the
    scan projection (whole-stage codegen); only (id, 5 longs, label)
    leave the scan."""
    counts = {
        name: F.regexp_count(F.col(text_col), F.lit(cls)).cast("long")
        for name, cls in SCRIPT_CLASSES
    }
    names = [n for n, _ in SCRIPT_CLASSES]
    staged = df.select(
        F.col(id_col), *[counts[n].alias(f"n_{n}") for n in names]
    )
    # argmax with first-listed-wins tiebreak: name i wins if its count
    # is strictly greater than every earlier count and >= every later
    label = F.lit("none")
    total = None
    for n in names:
        c = F.col(f"n_{n}")
        total = c if total is None else total + c
    # build CASE from last to first so earlier names take priority on ties
    for n in reversed(names):
        c = F.col(f"n_{n}")
        cond = None
        for m in names:
            if m == n:
                continue
            other = F.col(f"n_{m}")
            # earlier-listed m must be strictly smaller; later-listed
            # m only needs to not exceed
            this = (other < c) if names.index(m) < names.index(n) else (other <= c)
            cond = this if cond is None else (cond & this)
        label = F.when((c > 0) & cond, F.lit(n)).otherwise(label)
    return staged.select(
        id_col,
        *[f"n_{n}" for n in names],
        label.alias("script"),
    )


def vocab_stats(
    docs: DataFrame, text_col: str = "text", group_col: str = "source"
) -> DataFrame:
    """Per-group vocabulary statistics: ``(group, n_tokens, n_types,
    n_hapax, ttr_ppm, hapax_ppm)``.

    The Heaps-law dashboard row of a corpus release: total tokens,
    distinct types, hapax legomena (types seen once), type-token ratio
    and hapax share as integer ppm.  A source whose TTR collapses is
    template spam; one whose hapax share explodes is OCR noise or
    mojibake — both are mixture-weight inputs next to corpus_stats.

    Scale shape: explode -> groupBy(group, word) -> groupBy(group),
    both aggregations partial map-side, so the full token stream is
    combined within partitions before any shuffle; the second shuffle
    moves one row per (group, type) — vocabulary-sized, not
    corpus-sized.  Hot groups shard across partitions by the word key.
    """
    w = F.explode(F.split(F.col(text_col), " ")).alias("w")
    tok = docs.select(F.col(group_col).alias("grp"), w).where(F.col("w") != "")
    wc = tok.groupBy("grp", "w").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        wc.groupBy("grp")
        .agg(
            F.sum("cnt").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_types"),
            F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_hapax"),
        )
        .select(
            F.col("grp").alias(group_col),
            "n_tokens",
            "n_types",
            "n_hapax",
            F.floor(F.col("n_types") * 1_000_000 / F.col("n_tokens"))
            .cast("long")
            .alias("ttr_ppm"),
            F.floor(F.col("n_hapax") * 1_000_000 / F.col("n_types"))
            .cast("long")
            .alias("hapax_ppm"),
        )
    )


def readability_scores(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-doc readability: ``(id, n_words, n_sentences, n_syllables,
    fk_grade_milli, reading_ease_milli)``.

    Flesch-Kincaid grade and Flesch reading ease with the classic
    vowel-group syllable heuristic (non-overlapping ``[aeiouy]+`` runs)
    and ``[.!?]+`` sentence runs — the curation-signal tier between
    cheap length stats (text_quality) and the trained classifier
    (quality_classifier): grade-level windows select training-mix
    slices the way FineWeb-Edu-style pipelines do.  Scores are milli
    fixed-point; the one double division per term is written
    identically in the oracle, so IEEE-754 makes floor() agree
    bit-for-bit.

    Scale shape: a scan-local projection of split/regexp counts —
    zero shuffle, zero Python.
    """
    text = F.col(text_col)
    # non-space runs == whitespace-split word count, but stays inside
    # whole-stage codegen (a filter() HOF lambda is interpreted)
    words = F.regexp_count(text, F.lit("[^ ]+"))
    sents = F.greatest(F.regexp_count(text, F.lit("[.!?]+")), F.lit(1))
    syls = F.regexp_count(F.lower(text), F.lit("[aeiouy]+"))
    w = F.greatest(words, F.lit(1)).cast("long")
    s = sents.cast("long")
    y = syls.cast("long")
    grade = F.floor(390.0 * w / s + 11800.0 * y / w - 15590.0)
    ease = F.floor(206835.0 - 1015.0 * w / s - 84600.0 * y / w)
    return docs.select(
        F.col(id_col),
        words.cast("long").alias("n_words"),
        s.alias("n_sentences"),
        y.alias("n_syllables"),
        grade.cast("long").alias("fk_grade_milli"),
        ease.cast("long").alias("reading_ease_milli"),
    )


def html_meta(
    df: DataFrame, id_col: str = "doc_id", html_col: str = "html"
) -> DataFrame:
    """Page-metadata extraction: ``(id, title, meta_desc, canonical,
    lang_attr, title_len)`` — '' when a field is absent (the
    ExtraString contract, parsers.py).

    The generic twin of the reference's per-rule field extraction
    (rule.go parseBookDetail pulls 7 named fields with one regex each;
    reference/testhtml golden pages): title for display/title-dedup,
    meta description for snippets, rel=canonical for URL collapse, and
    the html lang attribute as a language-ID prior.  Single-grammar
    attribute regexes (name-before-content, double quotes) — the
    DOM-accurate extractor is a mapInPandas swap-in at the same call
    site, the same seam main_content documents.

    Scale shape: four anchored regexp_extracts in one scan projection —
    zero shuffle, zero Python.
    """
    h = F.col(html_col)
    title = F.trim(F.regexp_extract(h, "(?i)<title[^>]*>([^<]*)</title>", 1))
    desc = F.regexp_extract(
        h, '(?i)<meta[^>]+name="description"[^>]+content="([^"]*)"', 1
    )
    canon = F.regexp_extract(
        h, '(?i)<link[^>]+rel="canonical"[^>]+href="([^"]*)"', 1
    )
    lang = F.regexp_extract(h, '(?i)<html[^>]+lang="([^"]*)"', 1)
    return df.select(
        F.col(id_col),
        title.alias("title"),
        desc.alias("meta_desc"),
        canon.alias("canonical"),
        lang.alias("lang_attr"),
        F.length(title).cast("long").alias("title_len"),
    )


def img_alt_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    html_col: str = "html",
    min_alt_chars: int = 5,
) -> DataFrame:
    """Image-text pair mining: ``(id, img_idx, src, alt, alt_len)`` —
    one row per ``<img>`` tag carrying BOTH a src and an alt of at
    least ``min_alt_chars`` visible characters.

    The LAION-style pairing step: alt text is the caption supervision
    for image-text training; a downstream image fetch consumes the src
    urls.
    Tag-level extraction with per-tag attribute regexes, so attribute
    ORDER within the tag doesn't matter; pairs with empty src or
    too-short alt are dropped (the classic LAION length filter).

    Scale shape: one regexp_extract_all + posexplode per row (output
    grows with tag count, not corpus width), then scan-local attribute
    extracts and the length filter — no shuffle, no Python.
    """
    h = F.col(html_col)
    tags = F.regexp_extract_all(h, F.lit(r"(?i)<img\b[^>]*>"), 0)
    t = df.select(
        F.col(id_col), F.posexplode(tags).alias("img_idx", "tag")
    )
    src = F.regexp_extract(F.col("tag"), '(?i)src="([^"]*)"', 1)
    alt = F.trim(F.regexp_extract(F.col("tag"), '(?i)alt="([^"]*)"', 1))
    return (
        t.select(
            F.col(id_col),
            F.col("img_idx").cast("long").alias("img_idx"),
            src.alias("src"),
            alt.alias("alt"),
            F.length(alt).cast("long").alias("alt_len"),
        )
        .where((F.col("src") != "") & (F.col("alt_len") >= min_alt_chars))
    )


def robots_meta(
    df: DataFrame, id_col: str = "doc_id", html_col: str = "html"
) -> DataFrame:
    """Robots-Exclusion-Protocol page directives: ``(id, noindex,
    nofollow, n_links, n_nofollow_links)``.

    The page-level complement of robots.txt (politeness.py parses the
    host-level file): ``<meta name="robots" content="noindex">`` means
    the page must not enter the corpus, ``nofollow`` (or the ``none``
    shorthand, which implies both) means its outlinks must not enter
    the frontier, and per-anchor ``rel="nofollow"`` excludes single
    links from the link graph (anchors.py / graph.py consumers).
    A crawler that ignores these ships takedown liabilities; the
    reference respects only robots.txt.

    Scale shape: two regexp extracts + two regexp_extract_all counts
    in one scan projection — zero shuffle, zero Python.
    """
    h = F.col(html_col)
    content = F.lower(
        F.regexp_extract(
            h, '(?i)<meta[^>]+name="robots"[^>]+content="([^"]*)"', 1
        )
    )
    none = content.contains("none")
    noindex = content.contains("noindex") | none
    nofollow = content.contains("nofollow") | none
    n_links = F.size(F.regexp_extract_all(h, F.lit(r"(?i)<a\b[^>]*>"), 0))
    n_nof = F.size(
        F.regexp_extract_all(
            h, F.lit(r'(?i)<a\b[^>]*rel="[^"]*nofollow[^"]*"[^>]*>'), 0
        )
    )
    return df.select(
        F.col(id_col),
        noindex.alias("noindex"),
        nofollow.alias("nofollow"),
        n_links.cast("long").alias("n_links"),
        n_nof.cast("long").alias("n_nofollow_links"),
    )


# ------------------------------------------- unicode normalization
# 1:1 typographic map (translate: single JVM pass, no regex): NBSP /
# narrow-NBSP / ideographic space -> space; curly single/double quotes
# -> ASCII; en/em/horizontal-bar dashes -> hyphen.
UNICODE_TRANSLATE_SRC = "  　‘’“”–—―"
UNICODE_TRANSLATE_DST = "   ''\"\"---"


def normalize_unicode_col(text: Column) -> Column:
    """NFKC-lite webtext cleanup as one ordered codegen chain.

    Web-extracted text is full of typographic unicode that fragments
    tokenizer vocabularies and breaks exact-match dedup ("don't" with
    U+2019 and "don't" with U+0027 are different fingerprints); every
    production corpus (C4, Gopher, RefinedWeb) runs a normalization
    pass like this before dedup and filtering.  The reference stores
    parser output verbatim.

    Ordered steps (order is load-bearing, see the \\x0B note):
    1. DROP invisibles: zero-widths U+200B..D, BOM/ZWNBSP U+FEFF,
       soft hyphen U+00AD — they split tokens while displaying as
       nothing.
    2. 1:1 typographic map via ``translate`` (table above).
    3. U+2026 ellipsis -> "..." (1:N, so regexp not translate).
    4. Control chars (C0 minus tab/LF/CR, plus DEL) -> space.
    5. Collapse whitespace runs, trim.  Runs AFTER step 4 so the
       Java-vs-RE2 ``\\s`` divergence on \\x0B can never matter: by
       the time ``\\s+`` runs, no \\x0B survives in either engine.

    Scale shape: zero shuffle, zero Python — three regexp_replace +
    one translate + trim in a single WholeStageCodegen projection.
    Idempotent: applying twice is a no-op (test-asserted).
    """
    t = F.regexp_replace(text, "[​‌‍﻿­]", "")
    t = F.translate(t, UNICODE_TRANSLATE_SRC, UNICODE_TRANSLATE_DST)
    t = F.regexp_replace(t, "…", "...")
    t = F.regexp_replace(t, r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]", " ")
    return F.trim(F.regexp_replace(t, r"\s+", " "))


def unicode_clean(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """``(id, text)`` with :func:`normalize_unicode_col` applied — the
    corpus-cleanup stage upstream of fingerprinting and filtering."""
    return df.select(
        F.col(id_col),
        normalize_unicode_col(F.col(text_col)).alias(text_col),
    )


# ------------------------------------------------ soft-404 detection
# Error-page phrases (checked against lowercased body text, substring
# alternation — plain literals, RE2/Java-identical).
SOFT404_BODY_RE = (
    "(page not found|404 not found|error 404"
    "|page cannot be found|no longer available"
    "|page does not exist|nothing was found)"
)
SOFT404_TITLE_RE = "(404|not found|error)"


def soft404_detect(
    df: DataFrame,
    id_col: str = "doc_id",
    title_col: str = "title",
    text_col: str = "text",
    short_tokens: int = 30,
) -> DataFrame:
    """Soft-404 classification: pages served with HTTP 200 whose
    CONTENT is an error page — a large, well-documented contaminant of
    web corpora (dead permalinks behind misconfigured servers return
    styled "not found" pages with status 200, so status-code filtering
    misses them entirely; the reference trusts the status code alone,
    collect.go).  Returns ``(id, phrase_hit, title_hit, short_body,
    score, is_soft404)``.

    Deterministic weighted vote, no model: an error phrase in the body
    (+2), an error-ish title (+2), a body under ``short_tokens``
    whitespace tokens (+1); ``is_soft404`` at score >= 2 — so either
    strong signal alone convicts, the weak length signal alone never
    does.  The flags are kept so downstream can re-weight without
    re-scanning 100 TB.

    Scale shape: ZERO shuffle — two rlike + one split-size + integer
    arithmetic in a single codegen scan projection.
    """
    body_l = F.lower(F.col(text_col))
    title_l = F.lower(F.col(title_col))
    phrase = body_l.rlike(SOFT404_BODY_RE)
    title = title_l.rlike(SOFT404_TITLE_RE)
    short = token_count_ws(F.col(text_col)) < short_tokens
    score = (
        phrase.cast("long") * 2 + title.cast("long") * 2
        + short.cast("long")
    )
    return df.select(
        F.col(id_col),
        phrase.alias("phrase_hit"),
        title.alias("title_hit"),
        short.alias("short_body"),
        score.alias("score"),
        (score >= 2).alias("is_soft404"),
    )


# ------------------------------------------------ HTML table mining
TABLE_RE = r"(?is)<table[^>]*>.*?</table>"
TR_RE = r"(?is)<tr[^>]*>.*?</tr>"
CELL_RE = r"(?is)<t[dh][^>]*>(.*?)</t[dh]>"


def table_extract(
    df: DataFrame, id_col: str = "doc_id", html_col: str = "html",
) -> DataFrame:
    """HTML tables -> structured rows: ``(id, table_idx, row_idx,
    n_cells, is_header, row_text)`` with cells joined by ``" | "``.

    Tables are among the highest-value structures in webtext (table-QA
    and reasoning corpora linearize them exactly like this), and
    text-extraction pipelines that strip tags flatten them into word
    soup — the row/cell structure must be mined BEFORE the generic
    html_to_text pass destroys it.  The reference's parser only runs
    field regexes (rule.go) and has no table awareness.

    is_header: the row's cells came from ``<th>`` (all-or-any: a row
    with at least one <th> is a header row, matching how real-world
    markup uses them).  Cell text is de-tagged (nested <b>/<a> etc.)
    and whitespace-normalized.

    Scale shape: two scan-local posexplodes (tables per doc, rows per
    table — output scales with table content, not corpus width) and
    per-row transform HOFs; ZERO shuffle, zero Python (all regex
    codegen).  Docs with no tables produce no rows.

    Known regex-level limit: a NESTED <table> truncates its outer
    table at the inner ``</table>`` (lazy match) — the inner table's
    cells still extract, so content is kept, but layout-table nesting
    (a 1990s idiom) yields one merged table.  Acceptable for corpus
    mining; a full HTML parser is the swap-in if row fidelity on
    nested layouts ever matters.
    """
    tables = F.regexp_extract_all(F.col(html_col), F.lit(TABLE_RE), F.lit(0))
    t = df.select(
        F.col(id_col),
        F.posexplode(tables).alias("table_idx", "__tbl"),
    )
    r = t.select(
        F.col(id_col),
        "table_idx",
        F.posexplode(
            F.regexp_extract_all(F.col("__tbl"), F.lit(TR_RE), F.lit(0))
        ).alias("row_idx", "__row"),
    )
    cells = F.regexp_extract_all(F.col("__row"), F.lit(CELL_RE), F.lit(1))
    clean = F.transform(
        cells,
        lambda c: F.trim(
            F.regexp_replace(F.regexp_replace(c, r"<[^>]+>", " "), r"\s+", " ")
        ),
    )
    return r.select(
        F.col(id_col),
        F.col("table_idx").cast("long").alias("table_idx"),
        F.col("row_idx").cast("long").alias("row_idx"),
        F.size(cells).cast("long").alias("n_cells"),
        F.col("__row").rlike("(?is)<th[^>]*>").alias("is_header"),
        F.array_join(clean, " | ").alias("row_text"),
    )


# ------------------------------------------- structured-data typing
# schema.org types a corpus router cares about, canonical casing.
SCHEMA_TYPES = (
    "Article", "NewsArticle", "BlogPosting", "Product", "Recipe",
    "QAPage", "FAQPage", "HowTo", "Review", "Event", "JobPosting",
    "Dataset", "VideoObject", "SoftwareApplication",
)


def schema_types(
    df: DataFrame, id_col: str = "doc_id", html_col: str = "html",
) -> DataFrame:
    """Structured-data content typing: ``(id, schema_type, og_type,
    content_class)`` from JSON-LD ``@type`` and OpenGraph ``og:type``.

    Publishers self-label pages with machine-readable types (JSON-LD
    per schema.org, og:type per OpenGraph); a training-data pipeline
    routes on them — recipes/how-tos/QA pages into instruction-ish
    subsets, product/job/event boilerplate down-weighted, news vs blog
    provenance kept — far more cheaply and precisely than a text
    classifier.  The reference parses only its own hand-written field
    regexes.

    schema_type: first JSON-LD ``"@type": "X"`` whose X is in the
    curated ``SCHEMA_TYPES`` list (unknown types -> null, so the
    column is an enum a router can trust).  og_type: the raw
    ``<meta property="og:type" content>``, lowercased.
    content_class: the routing decision — schema_type's class when
    labeled (article/commerce/instruction/qa/media/other buckets),
    else og_type-derived, else 'unlabeled'.

    Scale shape: ZERO shuffle — two regexp extracts + CASE chains in
    one codegen scan projection.
    """
    h = F.col(html_col)
    alts = "|".join(SCHEMA_TYPES)
    st = F.regexp_extract(
        h, r'"@type"\s*:\s*"(' + alts + r')"', 1
    )
    st = F.when(st != "", st)
    og = F.lower(F.regexp_extract(
        h, r'(?i)<meta[^>]*property="og:type"[^>]*content="([^"]*)"', 1
    ))
    og = F.when(og != "", og)
    instruction = st.isin("Recipe", "HowTo")
    qa = st.isin("QAPage", "FAQPage")
    article = st.isin("Article", "NewsArticle", "BlogPosting", "Review")
    commerce = st.isin("Product", "Event", "JobPosting")
    media = st.isin("VideoObject", "SoftwareApplication", "Dataset")
    cls = (
        F.when(article, "article")
        .when(instruction, "instruction")
        .when(qa, "qa")
        .when(commerce, "commerce")
        .when(media, "media")
        .when(og.isNotNull() & (og == "article"), "article")
        .when(og.isNotNull() & (og == "video.other"), "media")
        .when(og.isNotNull(), "other")
        .otherwise("unlabeled")
    )
    return df.select(
        F.col(id_col),
        st.alias("schema_type"),
        og.alias("og_type"),
        cls.alias("content_class"),
    )


# ------------------------------------------------- PMI collocation mining
def pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    k: int = 20,
) -> DataFrame:
    """Top-k adjacent-bigram collocations by PMI lift, integer-exact —
    the phrase-mining pass a tokenizer/vocab pipeline runs to decide
    which word pairs deserve merged tokens (the statistic behind
    word2vec's phrase pass and BPE-adjacent phrase tables).

    Tokens are lowercased ``[a-z]+`` runs (the package's text-analysis
    norm).  For each adjacent pair with corpus count >= ``min_count``:

        cond_ppm = floor(1e6 * c(w1,w2) / c(w1))        -- p(w2|w1) ppm
        lift_ppm = floor(cond_ppm * N / c(w2))          -- PMI lift

    where N = total token count.  lift_ppm ~ 1e6 * p(w1,w2)/(p(w1)p(w2))
    up to the inner quantization — both engines replay the SAME two
    floors, so the value (not just the ranking) is engine-portable.
    exp(PMI) is monotone in lift, so top-k by lift IS top-k by PMI.
    Returns ``(w1, w2, pair_cnt, cnt1, cnt2, lift_ppm, rank)`` under the
    total order (lift_ppm desc, pair_cnt desc, w1, w2).

    Scale shape: bigrams are built JVM-side inside the scan (arrays_zip
    over slice — zero shuffle, no Python); one (w1,w2) shuffle with
    map-side partial counts, where ``min_count`` prunes the Zipf hapax
    tail BEFORE any join; one vocab-keyed count; two joins keyed on
    single words (stopword heads are the hot keys — AQE skew-join) with
    the 1-row total broadcast; top-k is a distributed TakeOrdered
    (orderBy+limit), never a single-partition global sort — the
    row_number window runs on the k survivors only.
    """
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), "[^a-z]+"), lambda x: x != ""
    )
    base = df.select(toks.alias("toks"))
    n = F.size(F.col("toks"))
    # n >= 2 guard: slice() rejects negative lengths on token-free rows
    big = base.where(n >= 2).select(
        F.explode(
            F.arrays_zip(
                F.slice(F.col("toks"), 1, n - 1).alias("w1"),
                F.slice(F.col("toks"), 2, n - 1).alias("w2"),
            )
        ).alias("p")
    ).select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    c2 = (
        big.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("pair_cnt"))
        .where(F.col("pair_cnt") >= min_count)
    )
    uni = (
        base.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    tot = uni.agg(F.sum("cnt").cast("long").alias("n_tokens"))
    scored = (
        c2.join(uni.select(F.col("w").alias("w1"), F.col("cnt").alias("cnt1")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("cnt").alias("cnt2")), "w2")
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "cond_ppm",
            F.floor(F.col("pair_cnt") * 1_000_000 / F.col("cnt1")).cast("long"),
        )
        .withColumn(
            "lift_ppm",
            F.floor(F.col("cond_ppm") * F.col("n_tokens") / F.col("cnt2")).cast(
                "long"
            ),
        )
    )
    order = [
        F.col("lift_ppm").desc(),
        F.col("pair_cnt").desc(),
        F.col("w1").asc(),
        F.col("w2").asc(),
    ]
    topk = scored.orderBy(*order).limit(k)
    return topk.select(
        "w1",
        "w2",
        F.col("pair_cnt").cast("long").alias("pair_cnt"),
        F.col("cnt1").cast("long").alias("cnt1"),
        F.col("cnt2").cast("long").alias("cnt2"),
        "lift_ppm",
        F.row_number().over(Window.orderBy(*order)).cast("int").alias("rank"),
    )


def zipf_ratio_profile(
    df: DataFrame,
    text_col: str = "text",
    ranks: tuple[int, ...] = (1, 2, 4, 8, 16, 32),
) -> DataFrame:
    """Rank-frequency shape diagnostic: for each probe rank r, the
    integer milli-ratio freq(r)/freq(2r) between the r-th and 2r-th
    most frequent tokens.  Under Zipf's law freq(r) ~ r^-s the ratio
    is 2^s at every r (2000 milli for the canonical s=1), so a flat
    ratio column is the natural-language signature while template/spam
    corpora bend it — the corpus-level complement of the per-document
    repetition and vocab-growth (Heaps) rows.  No float log anywhere:
    the doubling-ratio probe IS the log-log slope at octave spacing,
    in exact integer arithmetic.

    Returns ``(r, freq_r, freq_2r, ratio_milli)`` for every probe rank
    with 2r inside the vocabulary.

    Scale shape: one map-side-combined term count, then top-(2*max r)
    by (cnt desc, term asc) — a LIMIT over a distributed sort, i.e.
    TakeOrderedAndProject, never a full-vocab window: the vocabulary
    is Zipf-huge at corpus scale and must not be globally ranked for a
    64-row answer.  The ranked probe frame is tiny and self-joins
    broadcast.
    """
    need = 2 * max(ranks)
    counts = (
        df.select(
            F.explode(F.split(F.lower(F.col(text_col)), "[^a-z]+")).alias(
                "term"
            )
        )
        .where(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    top = counts.orderBy(F.desc("cnt"), F.asc("term")).limit(need)
    ranked = top.select(
        F.row_number()
        .over(Window.orderBy(F.desc("cnt"), F.asc("term")))
        .alias("rank"),
        F.col("cnt"),
    )
    probes = ranked.where(
        F.col("rank").isin(list(ranks))
    ).select(F.col("rank").alias("r"), F.col("cnt").alias("freq_r"))
    doubles = ranked.select(
        (F.col("rank") / 2).cast("int").alias("r"),
        F.col("cnt").alias("freq_2r"),
        F.col("rank").alias("rank2"),
    ).where(F.col("rank2") % 2 == 0).drop("rank2")
    return probes.join(F.broadcast(doubles), "r").select(
        F.col("r").cast("long").alias("r"),
        F.col("freq_r").cast("long").alias("freq_r"),
        F.col("freq_2r").cast("long").alias("freq_2r"),
        F.floor(F.col("freq_r") * F.lit(1000) / F.col("freq_2r"))
        .cast("long")
        .alias("ratio_milli"),
    )
