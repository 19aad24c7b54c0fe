"""Vectorized parse kernels P1-P8 (SURVEY.md §2.3).

Two implementations of the same semantics, cross-validated in tests:

1. **SQL-expression kernels** (`apply_rule_sql` for one rule;
   `dispatch_cols` compiles the whole registry into one CASE projection
   — the engine hot path: one pass over the fetch join per round).
   regexp_extract_all / regexp_extract / rlike stay inside whole-stage
   codegen; no Python in the loop at all.  Java regex and Go RE2 agree
   on every pattern the rule registry uses (leftmost-first, lazy
   quantifiers, [\\s\\S] classes) — asserted by the golden tests.
2. **pure-Python kernels** (`parse_*_py`) — the single-worker oracle
   (oracle.py) runs these per row; the golden and equivalence tests
   hold the SQL kernels to them.

Reference parity notes:
- link extraction = Go FindAllSubmatch loop (douban_group.go:47-57,
  dobuan_book.go:66-90): non-overlapping leftmost matches in document
  order, optional truncation to max_links (anti-ban cap of 3).
- field extraction = ExtraString (dobuan_book.go:151-158): first match's
  group 1, '' when absent; 页数 goes through strconv.Atoi -> int -> the
  SQL sink re-stringifies it (sqlstorage.go:108-121), so the stored value
  is str(int) with non-numeric -> '0'.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .rules import FieldsRule, LinkRule, MatchRule, Rule

_INT_RE = r"^[+-]?[0-9]+$"

_META = set("\\^$.|?*+()[]{}")


def required_literals(pattern: str, min_len: int = 2) -> list[str]:
    """Literal substrings every match of ``pattern`` must contain.

    Used to guard regex kernels with cheap ``contains`` pre-filters:
    measured 200x on the sun-room rule — ``rlike(CONTENT_RE)`` costs
    ~0.55 ms per 6 KB non-matching page (and stops scaling with cores),
    while ``contains('阳台') AND rlike(...)`` short-circuits the 70%
    non-matching pages at memchr speed.  Exactness: a depth-0,
    unquantified literal run is a necessary condition of the regex, so
    ``guard AND rlike == rlike``.  Conservative: returns [] if the
    pattern has top-level alternation; runs inside groups or character
    classes are skipped; a run's last char is dropped when a quantifier
    follows it.
    """
    if "|" in pattern:
        return []
    lits: list[str] = []
    cur: list[str] = []
    depth = 0
    i = 0

    def flush() -> None:
        if cur:
            lits.append("".join(cur))
            cur.clear()

    while i < len(pattern):
        ch = pattern[i]
        if ch == "\\":
            flush()
            i += 2
            continue
        if ch == "[":
            flush()
            j = i + 1
            if j < len(pattern) and pattern[j] == "^":
                j += 1
            if j < len(pattern) and pattern[j] == "]":
                j += 1
            while j < len(pattern) and pattern[j] != "]":
                if pattern[j] == "\\":
                    j += 1
                j += 1
            i = j + 1
            continue
        if ch == "(":
            flush()
            depth += 1
            i += 1
            continue
        if ch == ")":
            flush()
            depth -= 1
            i += 1
            continue
        if ch == "{":
            # counted quantifier {n}/{n,m}: the preceding char may repeat
            # 0+ times -> not required; the digits/comma body is quantifier
            # syntax, NOT literal text (a 'foo.{0,50}bar' guard must never
            # require '0,50' in the page)
            if cur:
                cur.pop()
            flush()
            j = pattern.find("}", i + 1)
            i = len(pattern) if j == -1 else j + 1
            continue
        if ch in _META:
            if ch in "?*" and cur:
                cur.pop()  # preceding char is quantified -> not required
            flush()
            i += 1
            continue
        if depth == 0:
            cur.append(ch)
        i += 1
    flush()
    return [l for l in lits if len(l) >= min_len]


def guard_col(body: Column, pattern: str) -> Column:
    """AND of contains() pre-filters for the pattern's required literals
    (True when the pattern has no usable literal)."""
    out = F.lit(True)
    for lit in required_literals(pattern):
        out = out & body.contains(lit)
    return out


# =====================================================================
# 1. SQL-expression kernels (hot path — JVM, whole-stage codegen)
# =====================================================================

def _same_host_prefix(url: Column) -> Column:
    return F.regexp_extract(url, r"^([a-zA-Z][a-zA-Z0-9+.\-]*://[^/?#]*)", 1)


def links_sql(body: Column, parent_url: Column, rule: LinkRule) -> Column:
    """array<struct<link_url, link_title>> per the reference findall loop."""
    urls = F.regexp_extract_all(body, F.lit(rule.pattern), F.lit(rule.url_group))
    if rule.title_group is not None:
        titles = F.regexp_extract_all(
            body, F.lit(rule.pattern), F.lit(rule.title_group)
        )
    else:
        titles = F.transform(urls, lambda _: F.lit(None).cast("string"))
    links = F.arrays_zip(urls.alias("link_url"), titles.alias("link_title"))
    if rule.url_prefix == "same_host":
        prefix = _same_host_prefix(parent_url)
        links = F.transform(
            links,
            lambda s: F.struct(
                F.concat(prefix, s["link_url"]).alias("link_url"),
                s["link_title"].alias("link_title"),
            ),
        )
    if rule.max_links is not None:
        links = F.slice(links, 1, rule.max_links)
    # literal pre-guard: pages lacking a required literal can't match, so
    # skip the findall entirely (identical result: empty list)
    empty = F.array().cast("array<struct<link_url:string,link_title:string>>")
    return F.when(guard_col(body, rule.pattern), links).otherwise(empty)


def fields_sql(body: Column, tmp: Column, rule: FieldsRule) -> Column:
    """map<string,string> of extracted fields (ExtraString semantics)."""
    kv: list[Column] = []
    if rule.tmp_field is not None:
        out_name, tmp_key = rule.tmp_field
        kv += [F.lit(out_name), F.coalesce(F.element_at(tmp, tmp_key), F.lit(""))]
    for f in rule.fields:
        # literal pre-guard == ExtraString's ''-on-no-match semantics
        v = F.when(
            guard_col(body, f.pattern), F.regexp_extract(body, f.pattern, f.group)
        ).otherwise(F.lit(""))
        if f.as_int:
            v = F.when(v.rlike(_INT_RE), v.cast("long")).otherwise(F.lit(0))
            v = v.cast("string")
        kv += [F.lit(f.name), v]
    return F.create_map(*kv)


def apply_rule_sql(df: DataFrame, rule: Rule, body_col: str = "body") -> DataFrame:
    """Attach (links, data, emit) columns for one rule branch."""
    body = F.col(body_col)
    empty_links = F.lit(None).cast(
        "array<struct<link_url:string,link_title:string>>"
    )
    empty_map = F.lit(None).cast("map<string,string>")
    if isinstance(rule, LinkRule):
        return (
            df.withColumn("links", links_sql(body, F.col("url"), rule))
            .withColumn("data", empty_map)
            .withColumn("emit", F.lit(False))
        )
    if isinstance(rule, MatchRule):
        return (
            df.withColumn("links", empty_links)
            .withColumn("data", empty_map)
            .withColumn(
                "emit", guard_col(body, rule.pattern) & body.rlike(rule.pattern)
            )
        )
    if isinstance(rule, FieldsRule):
        return (
            df.withColumn("links", empty_links)
            .withColumn("data", fields_sql(body, F.col("tmp"), rule))
            .withColumn("emit", F.lit(True))
        )
    raise TypeError(f"unknown rule type: {type(rule)}")


def dispatch_cols(tasks, body_col: str = "body") -> dict[str, Column]:
    """Rule dispatch as CASE expressions — the whole registry in ONE
    projection, so a round needs exactly one pass over the fetched pages
    (no per-(task,rule) DataFrame branch scans; at 100 TB each branch
    scan would be another full pass over the fetch join).

    Returns columns keyed: links, data, emit, next_rule, child_priority,
    tmp_key.  Rows are matched on (task_name, rule_name).  Scales to
    O(100) rules (codegen'd when-chains); a registry with thousands of
    rules would switch to a broadcast-joined rule table + parameterized
    kernels instead.
    """
    body = F.col(body_col)
    links = F.lit(None).cast("array<struct<link_url:string,link_title:string>>")
    data = F.lit(None).cast("map<string,string>")
    emit = F.lit(False)
    next_rule = F.lit(None).cast("string")
    child_priority = F.lit(None).cast("int")
    tmp_key = F.lit(None).cast("string")
    for tname in sorted(tasks):
        task = tasks[tname]
        for rname in sorted(task.rules):
            rule = task.rules[rname]
            cond = (F.col("task_name") == tname) & (F.col("rule_name") == rname)
            if isinstance(rule, LinkRule):
                links = F.when(cond, links_sql(body, F.col("url"), rule)).otherwise(links)
                next_rule = F.when(cond, F.lit(rule.next_rule)).otherwise(next_rule)
                child_priority = F.when(
                    cond, F.lit(rule.child_priority)
                ).otherwise(child_priority)
                if rule.title_group is not None:
                    tmp_key = F.when(cond, F.lit(rule.tmp_key)).otherwise(tmp_key)
            elif isinstance(rule, MatchRule):
                emit = F.when(
                    cond, guard_col(body, rule.pattern) & body.rlike(rule.pattern)
                ).otherwise(emit)
            elif isinstance(rule, FieldsRule):
                data = F.when(cond, fields_sql(body, F.col("tmp"), rule)).otherwise(data)
                emit = F.when(cond, F.lit(True)).otherwise(emit)
            else:
                raise TypeError(f"unknown rule type: {type(rule)}")
    return {
        "links": links, "data": data, "emit": emit,
        "next_rule": next_rule, "child_priority": child_priority,
        "tmp_key": tmp_key,
    }


# =====================================================================
# 2. pure-Python kernels (the oracle's per-row parse)
# =====================================================================

def parse_links_py(
    body: str, rule: LinkRule, parent_url: str
) -> list[tuple[str, str | None]]:
    out: list[tuple[str, str | None]] = []
    for m in re.finditer(rule.pattern, body):
        u = m.group(rule.url_group)
        if rule.url_prefix == "same_host":
            pm = re.match(r"^([a-zA-Z][a-zA-Z0-9+.\-]*://[^/?#]*)", parent_url)
            u = (pm.group(1) if pm else "") + u
        t = m.group(rule.title_group) if rule.title_group is not None else None
        out.append((u, t))
    if rule.max_links is not None:
        out = out[: rule.max_links]
    return out


def parse_match_py(body: str, rule: MatchRule) -> bool:
    return re.search(rule.pattern, body) is not None


def _atoi_str(s: str) -> str:
    return str(int(s)) if re.fullmatch(r"[+-]?[0-9]+", s) else "0"


def parse_fields_py(
    body: str, rule: FieldsRule, tmp: dict[str, str] | None
) -> dict[str, str]:
    data: dict[str, str] = {}
    if rule.tmp_field is not None:
        out_name, tmp_key = rule.tmp_field
        data[out_name] = (tmp or {}).get(tmp_key, "")
    for f in rule.fields:
        m = re.search(f.pattern, body)
        v = m.group(f.group) if m else ""
        data[f.name] = _atoi_str(v) if f.as_int else v
    return data
