"""Tests for the RFC 9309 robots.txt evaluator (functions/robots.py):
spec examples, precedence rules, parser edge cases, and the
hostile-pattern bound (iterative matcher, no regex backtracking)."""

from __future__ import annotations

import time

from ethiopia_legal_etl_spark.functions.robots import (
    _pattern_matches,
    parse_robots,
    robots_allowed,
)

RFC_STYLE = """
# comments are stripped
User-Agent: *
Disallow: /private/
Allow: /private/open.html
Disallow: /*.gif$

User-Agent: goodbot
User-Agent: bestbot
Disallow: /tmp/
Allow: /
"""


def test_longest_match_precedence_and_wildcards():
    g = parse_robots(RFC_STYLE)
    assert robots_allowed(g, "anybot", "/index.html") is True
    assert robots_allowed(g, "anybot", "/private/x.html") is False
    # the longer allow carve-out overrides the prefix disallow
    assert robots_allowed(g, "anybot", "/private/open.html") is True
    # $ anchors the extension rule
    assert robots_allowed(g, "anybot", "/img/cat.gif") is False
    assert robots_allowed(g, "anybot", "/img/cat.gifx") is True


def test_shared_group_and_agent_case_insensitivity():
    g = parse_robots(RFC_STYLE)
    # goodbot and bestbot share one rule group (RFC 9309 2.2.1)
    assert robots_allowed(g, "GoodBot", "/tmp/x") is False
    assert robots_allowed(g, "BESTBOT", "/tmp/x") is False
    assert robots_allowed(g, "bestbot", "/home") is True
    # unknown agents fall back to the '*' group
    assert robots_allowed(g, "unknown", "/tmp/x") is True


def test_allow_wins_length_ties():
    g = parse_robots("User-agent: *\nAllow: /page\nDisallow: /page")
    assert robots_allowed(g, "x", "/page") is True


def test_empty_disallow_and_no_rules_mean_allowed():
    g = parse_robots("User-agent: *\nDisallow:")
    assert robots_allowed(g, "x", "/anything") is True
    assert robots_allowed({}, "x", "/anything") is True


def test_parser_tolerates_noise():
    g = parse_robots(
        "Disallow: /orphan-before-any-group\n"
        "  user-agent :  SpIdEr  # trailing comment\n"
        "\n"
        "DISALLOW: /a\n"
        "not-a-directive\n"
        "Crawl-delay: 10\n"
    )
    # field names case-insensitive; orphan rules ignored; unknown
    # directives skipped. NOTE: 'user-agent :' with a space before the
    # colon is NOT the RFC grammar — the agent key is 'user-agent'
    # only after strip, so verify the lenient path
    assert robots_allowed(g, "spider", "/a/x") is False
    assert robots_allowed(g, "spider", "/b") is True


def test_pattern_matcher_star_and_anchor_semantics():
    assert _pattern_matches("/a*/b*.pdf$", "/aX/bYZ.pdf")
    assert not _pattern_matches("/a*/b*.pdf$", "/aX/bYZ.pdfQ")
    assert _pattern_matches("/a*", "/aXYZ")
    assert _pattern_matches("*", "/anything")
    assert _pattern_matches("/p$", "/p")
    assert not _pattern_matches("/p$", "/pq")
    # '*' then '$': any tail allowed
    assert _pattern_matches("/d/*$", "/d/whatever")


def test_anchored_suffix_repeated_in_path_still_matches():
    # Greedy-LEFTMOST placement of the final literal once
    # landed on the early '.pdf' and reported these as NON-matching —
    # the crawl gate failed OPEN on disallowed URLs
    assert _pattern_matches("/*.pdf$", "/a.pdf.pdf")
    assert _pattern_matches("/*.pdf$", "/a.pdfq.pdf")
    assert _pattern_matches("/*ab*b$", "/xabb")
    assert not _pattern_matches("/*.pdf$", "/a.pdf.pdfx")
    # and the gate consequence: the URL is actually disallowed
    groups = parse_robots("User-agent: *\nDisallow: /*.pdf$\n")
    assert robots_allowed(groups, "anybot", "/a.pdf.pdf") is False


def test_hostile_pattern_cannot_blow_up():
    # classic catastrophic-backtracking shape for regex engines; the
    # iterative matcher must stay linear-ish
    pattern = "/a" + "*a" * 30 + "$"
    path = "/" + "a" * 2000 + "b"
    t0 = time.perf_counter()
    assert _pattern_matches(pattern, path) is False
    assert time.perf_counter() - t0 < 0.5
