"""RFC 9309 robots.txt matcher: direct spec-case unit tests for
spark/links.py::robots_rules / robots_allowed (group selection,
longest-match precedence, allow-wins-ties, wildcards, '$' anchors,
empty/missing rules), a hypothesis property test of the path-pattern
matcher against a regex translation, plus a closed-form replay of
robots_txt_filter."""

from __future__ import annotations

import re
import sys
from pathlib import Path

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entry  # noqa: E402
from readability_spark.spark.links import (  # noqa: E402
    _robots_pattern_match,
    robots_allowed,
    robots_rules,
)
from readability_spark.spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    spark = get_spark(
        app_name="robots-tests", master="local[8]", shuffle_partitions=8
    )
    yield spark
    spark.stop()


def _decide(txt, agent, path):
    return robots_allowed(robots_rules(txt, agent), path)


class TestRobotsRules:
    def test_specific_group_overrides_star(self):
        txt = "User-agent: *\nDisallow: /\nUser-agent: graftbot\nDisallow: /x/\n"
        assert _decide(txt, "graftbot", "/y") is True
        assert _decide(txt, "graftbot", "/x/1") is False
        assert _decide(txt, "otherbot", "/y") is False

    def test_star_fallback_when_no_group(self):
        txt = "User-agent: *\nDisallow: /private/\n"
        assert _decide(txt, "graftbot", "/private/a") is False
        assert _decide(txt, "graftbot", "/public") is True

    def test_no_rules_allows_everything(self):
        assert _decide("", "graftbot", "/anything") is True
        assert _decide("User-agent: x\nDisallow: /\n", "graftbot", "/a") is True

    def test_longest_match_wins(self):
        txt = "User-agent: *\nDisallow: /a/\nAllow: /a/b/\n"
        assert _decide(txt, "g", "/a/x") is False
        assert _decide(txt, "g", "/a/b/x") is True

    def test_allow_wins_exact_tie(self):
        txt = "User-agent: *\nDisallow: /page\nAllow: /page\n"
        assert _decide(txt, "g", "/page1") is True

    def test_wildcard_and_anchor(self):
        txt = "User-agent: *\nDisallow: /*.php$\n"
        assert _decide(txt, "g", "/a.php") is False
        assert _decide(txt, "g", "/a.php?x=1") is True  # $ anchors the end
        assert _decide(txt, "g", "/a.html") is True
        # the anchored last literal matches at the end, not at its first hit
        assert _decide(txt, "g", "/a.php.php") is False
        assert _decide(txt, "g", "/a.php.ph") is True

    def test_mid_wildcard(self):
        txt = "User-agent: *\nDisallow: /a/*/secret\n"
        assert _decide(txt, "g", "/a/b/secret") is False
        assert _decide(txt, "g", "/a/secret") is True

    def test_empty_disallow_is_noop(self):
        txt = "User-agent: *\nDisallow:\n"
        assert _decide(txt, "g", "/x") is True

    def test_adjacent_ua_lines_share_group(self):
        txt = "User-agent: a\nUser-agent: b\nDisallow: /\n"
        assert _decide(txt, "a", "/x") is False
        assert _decide(txt, "b", "/x") is False
        assert _decide(txt, "c", "/x") is True

    def test_comments_and_unknown_directives_ignored(self):
        txt = (
            "# hi\nUser-agent: *\nCrawl-delay: 10\n"
            "Disallow: /x # trailing comment\n"
        )
        assert _decide(txt, "g", "/x1") is False
        assert _decide(txt, "g", "/y") is True

    def test_case_insensitive_fields_and_agent(self):
        txt = "USER-AGENT: GraftBot\nDISALLOW: /x/\n"
        assert _decide(txt, "graftbot", "/x/a") is False

    def test_most_specific_agent_token_wins(self):
        txt = (
            "User-agent: graft\nDisallow: /a/\n"
            "User-agent: graftbot\nDisallow: /b/\n"
        )
        # only the token equal to the agent selects a group; 'graft' is
        # another product token even though 'graftbot' contains it
        assert _decide(txt, "graftbot", "/a/x") is True
        assert _decide(txt, "graftbot", "/b/x") is False

    def test_group_selection_is_exact_token(self):
        txt = (
            "User-agent: *\nDisallow: /star/\n"
            "User-agent: bot\nDisallow: /\n"
            "User-agent: graftbot-images\nDisallow: /\n"
        )
        # neither 'bot' (a substring) nor 'graftbot-images' (a superstring)
        # is graftbot's group: it falls back to '*'
        assert _decide(txt, "graftbot", "/a") is True
        assert _decide(txt, "graftbot", "/star/a") is False
        assert _decide(txt, "bot", "/a") is False
        assert _decide(txt, "GraftBot-Images", "/a") is False


@pytest.mark.parametrize("template", ["_ROBOTS_T0", "_ROBOTS_T1", "_ROBOTS_T2"])
def test_template_matches_closed_form_past_sf001(template):
    """The oracle's closed form (template 0 allows all, 1 and 2 allow
    doc_id < 100) must hold for every 6-digit doc_id, not only the ids
    below 1000 that the sf0.01 gate generates."""
    rules = robots_rules(getattr(entry, template), "graftbot")
    wrong = [
        doc_id
        for doc_id in range(5000)
        if robots_allowed(rules, f"/articles/doc-{doc_id:06d}.html")
        != (template == "_ROBOTS_T0" or doc_id < 100)
    ]
    assert wrong == []


def test_robots_filter_replay(spark):
    """Closed-form replay of the three synthesized template decisions."""
    docs = [
        (r.doc_id, r.source)
        for r in entry._docs(spark, SF_DIR).collect()
    ]
    want = {}
    for doc_id, source in docs:
        hot = doc_id % 10 < 4
        dom = "hot" if hot else source
        url = f"https://{dom}.example.com/articles/doc-{doc_id:06d}.html"
        allowed = True if hot else doc_id < 100
        want[url] = allowed
    got = {
        r.url: r.crawl_allowed
        for r in entry.robots_txt_filter(spark, SF_DIR).collect()
    }
    assert got == want
    # both verdicts occur — the gate is informative
    assert any(got.values()) and not all(got.values())


def test_frontier_plan_composition(spark):
    """The frontier must be the exact composition of its three inputs:
    robots verdicts (template closed form), pagerank_links' own served
    priorities, and the per-host top-3 budget."""
    ranks = {
        r.doc_id: r.rank_norm
        for r in entry.pagerank_links(spark, SF_DIR).collect()
    }
    docs = [(r.doc_id, r.source) for r in entry._docs(spark, SF_DIR).collect()]
    cands: dict = {}
    for doc_id, source in docs:
        hot = doc_id % 10 < 4
        if not (hot or doc_id < 100):
            continue  # robots-disallowed
        host = ("hot" if hot else source) + ".example.com"
        cands.setdefault(host, []).append(doc_id)
    want = {}
    for host, ids in cands.items():
        ranked = sorted(ids, key=lambda d: (-ranks[d], d))
        for slot, d in enumerate(ranked[: entry._CFP_HOST_BUDGET], 1):
            want[d] = (host, ranks[d], slot)
    got = {
        r.doc_id: (r.host, r.priority, r.slot)
        for r in entry.crawl_frontier_plan(spark, SF_DIR).collect()
    }
    assert got == want
    # every host is budget-capped and at least one host hit the cap
    from collections import Counter

    per_host = Counter(h for h, _p, _s in got.values())
    assert max(per_host.values()) == entry._CFP_HOST_BUDGET
    assert all(n <= entry._CFP_HOST_BUDGET for n in per_host.values())


def _pattern_regex(pattern):
    """RFC 9309 pattern as a regex: '*' is any run of characters, a final
    '$' anchors the end, and the pattern matches a prefix of the path."""
    anchored = pattern.endswith("$")
    body = pattern[:-1] if anchored else pattern
    return ".*".join(map(re.escape, body.split("*"))) + (r"\Z" if anchored else "")


_PATTERN_CHARS = st.sampled_from("/a.h*")
_PATTERNS = st.builds(
    lambda chars, anchored: "/" + "".join(chars) + ("$" if anchored else ""),
    st.lists(_PATTERN_CHARS, max_size=8),
    st.booleans(),
)
_PATHS = st.lists(st.sampled_from("/a.h"), max_size=12).map(lambda c: "/" + "".join(c))


@settings(max_examples=2000, deadline=None)
@given(_PATTERNS, _PATHS)
def test_pattern_match_agrees_with_regex(pattern, path):
    got = _robots_pattern_match(pattern, path)
    if re.match(_pattern_regex(pattern), path, re.DOTALL):
        assert got == len(pattern)
    else:
        assert got is None
