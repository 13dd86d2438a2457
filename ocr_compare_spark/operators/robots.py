"""robots.txt parsing + crawl-permission gate (RFC 9309) — the
politeness/opt-out compliance stage of a web-scale pipeline: given
per-host robots.txt captures (Common Crawl publishes them as a WARC
tier) and a crawler product token, drop the corpus rows the host
disallows for that agent.

Split along the repo's hot/cold path rule:

- **parse** (`agent_rules`): line-stateful control flow, one row per
  HOST — a bounded, tiny input however big the corpus is — so it is
  an honest Arrow-batched mapInPandas around a plain-python RFC 9309
  parser (`py_agent_rules`, also the pytest mirror). Output carries
  the selected agent group's rules as PARALLEL ARRAYS
  (allows/plens/regexes — no nested struct columns cross Arrow) with
  each path pattern pre-compiled to an anchored regex (specials
  escaped, ``*`` -> ``.*``, trailing ``$`` -> end anchor) so the
  per-document hot path stays JVM-side.
- **match** (`allowed_expr` / `robots_gate`): per corpus row, all
  native — filter the rule indexes whose regex matches the url path
  (``regexp_like`` with a column pattern), pick the winner by
  ``max(struct(pattern_len, allow))`` — RFC's longest-match rule
  with allow winning length ties — default allow when nothing
  matches or the host has no robots row. The join is a slim
  broadcast on host.

Parser semantics pinned by tests (RFC 9309 + the Google reference
cases): case-insensitive keys and agent tokens, ``#`` comments,
CRLF, consecutive ``User-agent`` lines forming one group, a new
group starting only after rule lines, multiple groups for the same
agent merged, empty Allow/Disallow values producing NO rule, the
``*`` group used only when no specific group matches, and
``Crawl-delay``/``Sitemap`` extras (delay per selected group,
sitemaps global).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

_LINE_SPLIT = re.compile(r"\r\n|\r|\n")
_SPECIALS = re.compile(r"[.\[\]{}()+?^|\\]")


def pattern_to_regex(pattern: str) -> str:
    """RFC 9309 path pattern -> anchored Java/RE2-safe regex:
    escape regex specials, ``*`` -> ``.*``, ONE trailing ``$`` is an
    end anchor (inner ``$`` is literal)."""
    anchored = pattern.endswith("$")
    if anchored:
        pattern = pattern[:-1]
    body = "".join(
        ".*" if ch == "*" else (_SPECIALS.sub(lambda m: "\\" + m.group(0), ch) if _SPECIALS.match(ch) else ("\\$" if ch == "$" else ch))
        for ch in pattern
    )
    return "^" + body + ("$" if anchored else "")


def py_parse_robots(body: str):
    """(groups, sitemaps): groups = list of (agents_lowered,
    rules [(allow, pattern)], crawl_delay|None). The python mirror
    the Arrow path wraps and pytest pins against."""
    groups: list[tuple[list[str], list[tuple[bool, str]], float | None]] = []
    sitemaps: list[str] = []
    in_agent_run = False
    for raw in _LINE_SPLIT.split(body or ""):
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, value = line.partition(":")
        key = key.strip().lower()
        value = value.strip()
        if key == "sitemap":
            if value:
                sitemaps.append(value)
            continue
        if key == "user-agent":
            if in_agent_run and groups:
                groups[-1][0].append(value.lower())
            else:
                groups.append(([value.lower()], [], None))
            in_agent_run = True
            continue
        in_agent_run = False
        if not groups:
            continue  # rules before any user-agent line are ignored
        if key in ("allow", "disallow"):
            if value:  # empty value = no rule (RFC: matches nothing)
                groups[-1][1].append((key == "allow", value))
        elif key == "crawl-delay":
            try:
                if groups[-1][2] is None:
                    groups[-1] = (groups[-1][0], groups[-1][1], float(value))
            except ValueError:
                pass
    return groups, sitemaps


def py_agent_rules(body: str, agent: str):
    """Select + merge the groups governing ``agent`` (exact
    case-insensitive product-token match; the ``*`` groups only when
    no specific group exists). Returns (rules, crawl_delay,
    sitemaps)."""
    groups, sitemaps = py_parse_robots(body)
    agent = agent.lower()
    chosen = [g for g in groups if agent in g[0]]
    if not chosen:
        chosen = [g for g in groups if "*" in g[0]]
    rules: list[tuple[bool, str]] = []
    delay = None
    for g in chosen:
        rules.extend(g[1])
        if delay is None:
            delay = g[2]
    return rules, delay, sitemaps


AGENT_RULES_SCHEMA = (
    "host string, allows array<boolean>, plens array<int>, "
    "regexes array<string>, crawl_delay double, n_sitemaps int"
)


def agent_rules(
    robots: DataFrame, agent: str, host_col: str = "host", body_col: str = "robots_txt"
) -> DataFrame:
    """Per-host rule table for one crawler token — parallel-array
    rules with pre-compiled regexes, ready for the native matcher.
    One output row per input row (hosts without usable rules get
    empty arrays = allow-all)."""

    def gen(batches):
        for pdf in batches:
            out = {
                "host": pdf[host_col],
                "allows": [],
                "plens": [],
                "regexes": [],
                "crawl_delay": [],
                "n_sitemaps": [],
            }
            for body in pdf[body_col]:
                rules, delay, sitemaps = py_agent_rules(body, agent)
                out["allows"].append([a for a, _ in rules])
                out["plens"].append([len(p) for _, p in rules])
                out["regexes"].append([pattern_to_regex(p) for _, p in rules])
                out["crawl_delay"].append(delay)
                out["n_sitemaps"].append(len(sitemaps))
            yield pd.DataFrame(out)

    return robots.select(host_col, body_col).mapInPandas(gen, AGENT_RULES_SCHEMA)


def allowed_expr(path: Column) -> Column:
    """Native RFC decision over the parallel-array rule columns
    (allows/plens/regexes in scope): max(struct(plen, allow)) over
    the matching rules, allow when none match or no robots row
    joined (null arrays)."""
    idxs = F.sequence(F.lit(0), F.size("regexes") - 1)
    # regexp_like with a COLUMN pattern — interpreted, but the rule
    # arrays are per-host-tiny and the call is once per (doc, rule)
    matches = F.filter(
        idxs,
        lambda i: F.call_function("regexp_like", path, F.get(F.col("regexes"), i)),
    )
    best = F.array_max(
        F.transform(
            matches,
            lambda i: F.struct(
                F.get(F.col("plens"), i).alias("plen"),
                F.get(F.col("allows"), i).alias("allow"),
            ),
        )
    )
    return F.coalesce(best["allow"], F.lit(True))


def url_path(url: Column) -> Column:
    """Path component of an absolute url ('' -> '/')."""
    p = F.regexp_replace(url, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*", "")
    p = F.regexp_replace(p, r"[?#].*$", "")
    return F.when(p == "", F.lit("/")).otherwise(p)


def robots_gate(
    docs: DataFrame,
    robots: DataFrame,
    agent: str,
    url_col: str = "url",
    host_col: str = "host",
    body_col: str = "robots_txt",
    out_col: str = "robots_allowed",
) -> DataFrame:
    """Join each doc to its host's parsed rules (broadcast — the
    rule table is one slim row per host) and decide natively.
    Hosts with no robots row allow everything. Adds ``out_col``
    plus ``crawl_delay``."""
    from ocr_compare_spark.functions.url import host_of

    rules = agent_rules(robots, agent, host_col, body_col)
    # host_of lowercases; normalize the robots side too so mixed-case
    # capture hosts still join
    joined = docs.withColumn("_host", host_of(F.col(url_col))).join(
        F.broadcast(rules.select(F.lower("host").alias("_host"), *rules.columns[1:])),
        "_host",
        "left",
    )
    return (
        joined.withColumn(out_col, allowed_expr(url_path(F.col(url_col))))
        .drop("_host", "allows", "plens", "regexes", "n_sitemaps")
    )
