"""RFC 9309 robots.txt parse + gate (operators/robots.py): pattern
translation, parser group semantics, longest-match decisions, and
Spark==python-mirror parity end to end."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from ocr_compare_spark.operators import robots
from tests.mirrors import py_allowed


def test_pattern_to_regex():
    cases = {
        "/doc/": "^/doc/",
        "/doc/*2$": "^/doc/.*2$",
        "/": "^/",
        "/a.b+c": "^/a\\.b\\+c",
        "/p$q": "^/p\\$q",  # inner $ literal
        "/end$": "^/end$",
        "*": "^.*",
    }
    for pat, want in cases.items():
        assert robots.pattern_to_regex(pat) == want, pat
    assert re.match(robots.pattern_to_regex("/doc/*2$"), "/doc/42")
    assert not re.match(robots.pattern_to_regex("/doc/*2$"), "/doc/421")
    assert re.match(robots.pattern_to_regex("/a.b"), "/a.b")
    assert not re.match(robots.pattern_to_regex("/a.b"), "/aXb")


RFC_BODY = (
    "# policy\r\n"
    "User-agent: a\r\n"
    "User-Agent: b\n"
    "Disallow: /private/   # trailing comment\n"
    "Allow: /private/ok\n"
    "Crawl-delay: 2\n"
    "\n"
    "user-agent: a\n"
    "Disallow: /extra\n"
    "Disallow:\n"  # empty value -> no rule
    "Sitemap: https://x/s.xml\n"
    "User-agent: *\n"
    "Disallow: /\n"
)


def test_parser_groups_and_merge():
    groups, sitemaps = robots.py_parse_robots(RFC_BODY)
    assert sitemaps == ["https://x/s.xml"]
    assert [g[0] for g in groups] == [["a", "b"], ["a"], ["*"]]
    assert groups[0][1] == [(False, "/private/"), (True, "/private/ok")]
    assert groups[0][2] == 2.0
    assert groups[1][1] == [(False, "/extra")]  # empty disallow skipped
    # merge: both 'a' groups govern agent A (case-insensitive)
    rules, delay, _ = robots.py_agent_rules(RFC_BODY, "A")
    assert rules == [(False, "/private/"), (True, "/private/ok"), (False, "/extra")]
    assert delay == 2.0
    # unknown agent falls back to the * group
    rules, delay, _ = robots.py_agent_rules(RFC_BODY, "zbot")
    assert rules == [(False, "/")] and delay is None
    # rules before any user-agent line are ignored; empty body allows
    assert robots.py_agent_rules("Disallow: /\n", "a") == ([], None, [])
    assert robots.py_agent_rules("", "a") == ([], None, [])


def test_longest_match_allow_ties():
    rules = [(False, "/p"), (True, "/p")]  # equal length: allow wins
    assert py_allowed("/page", rules)
    rules = [(True, "/p"), (False, "/page")]  # longer disallow wins
    assert not py_allowed("/page", rules)
    assert py_allowed("/other", rules)  # no match -> allow
    assert py_allowed("/anything", [])  # no rules -> allow


HOSTS = [
    ("h1.example.com", RFC_BODY),
    (
        "h2.example.com",
        "User-agent: bot\nDisallow: /\nAllow: /doc/1*\n\nUser-agent: BOT\nAllow: /doc/5\n",
    ),
    ("h3.example.com", None),  # no usable robots -> allow all
]
URLS = [
    (i, f"https://h{(i % 3) + 1}.example.com/doc/{i}") for i in range(40)
] + [(100, "https://h1.example.com/private/ok"), (101, "https://h1.example.com/private/x")]


def test_gate_matches_python_mirror(spark):
    rdf = spark.createDataFrame(HOSTS, "host string, robots_txt string")
    docs = spark.createDataFrame(URLS, "doc_id long, url string")
    for agent in ("a", "bot", "nobody"):
        got = {
            r.doc_id: (r.robots_allowed, r.crawl_delay)
            for r in robots.robots_gate(docs, rdf, agent).collect()
        }
        body = {h: b for h, b in HOSTS}
        for doc_id, url in URLS:
            host = re.match(r"https://([^/]+)", url).group(1)
            path = url[len("https://" + host):]
            rules, delay, _ = robots.py_agent_rules(body[host] or "", agent)
            assert got[doc_id][0] == py_allowed(path, rules), (agent, url)
            assert got[doc_id][1] == delay, (agent, url)
    # spot-pin the interesting decisions for agent 'bot' on h2
    got = {
        r.doc_id: r.robots_allowed
        for r in robots.robots_gate(docs, rdf, "bot").collect()
    }
    # /doc/1, /doc/10..19 allowed (Allow /doc/1*), /doc/4 blocked
    assert got[1] and got[10] and got[16]
    assert not got[4] and not got[22]
    # /doc/5... wait: doc 5 -> host h3 (5%3+1=3) -> allowed anyway
    assert got[5]


def test_agent_rules_empty_and_delay_types(spark):
    rdf = spark.createDataFrame(HOSTS, "host string, robots_txt string")
    rows = {r.host: r for r in robots.agent_rules(rdf, "a").collect()}
    assert rows["h1.example.com"].crawl_delay == 2.0
    assert rows["h1.example.com"].n_sitemaps == 1
    assert rows["h3.example.com"].regexes == []
    assert rows["h3.example.com"].crawl_delay is None
