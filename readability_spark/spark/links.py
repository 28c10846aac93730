"""Outlink extraction from raw page HTML — the link-graph ingestion path
when all you have is the crawl itself (the WAT route, `spark/warc.py::
read_wat_metadata`, covers the case where Common Crawl already extracted
the links for you; this covers everything else).  Output feeds the same
consumers as the WAT tier: `pagerank_links` centrality, host-level link
stats, crawl frontier construction.

Reference tie-in: the anchors are walked with the engine's own DOM
(`readability_spark/dom.py`, the html5ever-parity parser the extraction
pipeline runs on), and URL resolution follows `urifix.py`'s public
mozilla `fixRelativeUris` rules (<base href> honored, in-page #fragment
links kept relative when no <base> redefines the base).

Scale: one vectorized mapInPandas pass — the same batch shape as
`extract_articles` — emitting one row per anchor; no shuffle, no join;
per-row parse failures isolate to zero emitted links for that page (the
extraction pass's failure-isolation discipline).
"""

from __future__ import annotations

from typing import Iterator
from urllib.parse import urljoin

import pandas as pd

from .. import dom
from ..urifix import _base_uri

OUTLINKS_SCHEMA = (
    "url string, link_no int, href string, target string, anchor_text string"
)


def _page_links(url: str, html) -> list:
    if html is None:
        return []
    try:
        raw = bytes(html).decode("utf-8")
    except (UnicodeDecodeError, TypeError):
        return []
    try:
        doc = dom.parse_document(raw)
    except Exception:
        return []
    base = _base_uri(doc, url)
    rows = []
    link_no = 0
    for node in dom.select(doc, "a"):
        href = node.attr("href")
        if href is None or not href.strip():
            continue
        href = href.strip()
        if base == url and href.startswith("#"):
            target = href  # in-page link stays relative (urifix rule)
        else:
            try:
                target = urljoin(base, href)
            except ValueError:
                target = href
        rows.append((url, link_no, href, target, node.text().strip()))
        link_no += 1
    return rows


def page_outlinks(pages, url_col="url", html_col="html"):
    """pages(url, html, ...) -> one row per <a href>, document order:
    (url, link_no, href, target, anchor_text)."""
    cols = pages.select(url_col, html_col)

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for url, html in zip(pdf[url_col], pdf[html_col]):
                rows.extend(_page_links(url, html))
            yield pd.DataFrame(
                rows, columns=["url", "link_no", "href", "target", "anchor_text"]
            )

    return cols.mapInPandas(extract, schema=OUTLINKS_SCHEMA)


SEO_META_SCHEMA = "url string, canonical string, noindex boolean"


def _page_seo_meta(url: str, html):
    if html is None:
        return (url, None, False)
    try:
        raw = bytes(html).decode("utf-8")
    except (UnicodeDecodeError, TypeError):
        return (url, None, False)
    try:
        doc = dom.parse_document(raw)
    except Exception:
        return (url, None, False)
    base = _base_uri(doc, url)
    canonical = None
    for node in dom.select(doc, "link"):
        rel = node.attr("rel")
        href = node.attr("href")
        if rel is None or href is None or not href.strip():
            continue
        # rel is a space-separated token list, matched case-insensitively
        # (html5 link-type rules); FIRST canonical in tree order wins —
        # the Google-documented behavior for conflicting declarations
        if "canonical" in rel.strip().lower().split():
            try:
                canonical = urljoin(base, href.strip())
            except ValueError:
                canonical = href.strip()
            break
    noindex = False
    for node in dom.select(doc, "meta"):
        name = node.attr("name")
        content = node.attr("content")
        if name is None or content is None:
            continue
        if name.strip().lower() == "robots":
            # comma-separated directive tokens — 'noindex' must be a
            # whole token ('noindexing' or substring hits must not count)
            tokens = [t.strip().lower() for t in content.split(",")]
            if "noindex" in tokens:
                noindex = True
                break
    return (url, canonical, noindex)


def page_seo_meta(pages, url_col="url", html_col="html"):
    """pages(url, html, ...) -> (url, canonical, noindex): the two SEO
    dedup/curation signals a crawl pipeline reads per page — the page's
    declared canonical URL (<link rel=canonical>, first in tree order,
    href resolved like outlinks: <base href> honored) and whether robots
    directives forbid indexing.  Same vectorized mapInPandas batch shape
    and failure isolation as `page_outlinks` (undecodable pages emit
    null canonical / noindex=false rather than failing the task)."""
    cols = pages.select(url_col, html_col)

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                _page_seo_meta(url, html)
                for url, html in zip(pdf[url_col], pdf[html_col])
            ]
            yield pd.DataFrame(rows, columns=["url", "canonical", "noindex"])

    return cols.mapInPandas(extract, schema=SEO_META_SCHEMA)


def robots_rules(robots_txt: str, agent: str = "*"):
    """Parse a robots.txt body into the (allow, pattern) rule list for
    ``agent`` per RFC 9309 section 2.2.1: the group whose user-agent token
    equals ``agent`` (case-insensitively) applies, else the '*' group, else
    no rules.  A token that is only part of the agent name (``bot`` for
    ``graftbot``) does not select its group.  Adjacent user-agent lines
    share one group; unknown directives are ignored.  Returns a list of
    (is_allow, pattern)."""
    groups: dict = {}
    current: list = []
    last_was_ua = False
    for raw in robots_txt.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        field, _, value = line.partition(":")
        field = field.strip().lower()
        value = value.strip()
        if field == "user-agent":
            # adjacent user-agent lines open ONE shared group; a later
            # group for the same agent replaces the earlier one (the
            # common crawler simplification of RFC 9309's group merge)
            if not last_was_ua:
                current = []
            groups[value.lower()] = current
            last_was_ua = True
        elif field in ("allow", "disallow"):
            last_was_ua = False
            current.append((field == "allow", value))
        else:
            last_was_ua = False
    agent = agent.lower()
    return list(groups.get(agent if agent in groups else "*", []))


def _robots_pattern_match(pattern: str, path: str):
    """RFC 9309 path-pattern match: literal prefix with '*' wildcards and
    an optional '$' end anchor.  Returns the matched-pattern LENGTH for
    precedence (longest match wins), or None when the pattern does not
    match.  An empty pattern matches everything at length 0."""
    anchored = pattern.endswith("$")
    parts = (pattern[:-1] if anchored else pattern).split("*")
    # an anchored pattern's last literal must end the path; every literal
    # before it matches leftmost, which leaves it the most room
    tail = parts.pop() if anchored and len(parts) > 1 else None
    if not path.startswith(parts[0]):
        return None
    pos = len(parts[0])
    for part in parts[1:]:
        j = path.find(part, pos)
        if j < 0:
            return None
        pos = j + len(part)
    if tail is not None:
        if not path.endswith(tail) or len(path) - len(tail) < pos:
            return None
    elif anchored and pos != len(path):
        return None
    return len(pattern)


def robots_allowed(rules, path: str) -> bool:
    """RFC 9309 decision: the rule with the LONGEST matching pattern
    wins; on a tie between allow and disallow, allow wins; no matching
    rule (or no rules at all) means allowed."""
    best_len = -1
    best_allow = True
    for is_allow, pattern in rules:
        if pattern == "":
            continue  # empty Disallow: allows everything (no-op rule)
        m = _robots_pattern_match(pattern, path)
        if m is None:
            continue
        if m > best_len or (m == best_len and is_allow and not best_allow):
            best_len = m
            best_allow = is_allow
    return best_allow


ROBOTS_SCHEMA = "url string, crawl_allowed boolean, matched_agent string"


def robots_filter(
    pages, robots_col="robots_txt", agent="graftbot", url_col="url", keep_cols=()
):
    """pages(url, robots_txt, ...) -> (url, crawl_allowed, matched_agent):
    evaluate each page URL against ITS host's robots.txt under RFC 9309
    (exact user-agent group, longest-match precedence, allow
    wins ties, wildcards + '$' anchors) in one vectorized mapInPandas
    pass — the crawl-politeness gate a fetch frontier applies before a
    URL is ever requested.  In production the per-host robots bodies are
    a small dim joined on host; here they ride as a column.  ``keep_cols``
    names (name, spark_type) pairs of input columns to pass through
    unchanged, saving callers a corpus-sized join back onto the url."""
    from urllib.parse import urlsplit

    keep_names = [c[0] for c in keep_cols]
    cols = pages.select(url_col, robots_col, *keep_names)
    schema = ROBOTS_SCHEMA + "".join(f", {n} {t}" for n, t in keep_cols)

    def decide(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            cache: dict = {}
            kept = [pdf[n] for n in keep_names]
            for i, (url, body) in enumerate(zip(pdf[url_col], pdf[robots_col])):
                body = body or ""
                rules = cache.get(body)
                if rules is None:
                    rules = robots_rules(body, agent)
                    cache[body] = rules
                sp = urlsplit(url)
                path = sp.path or "/"
                if sp.query:
                    path = f"{path}?{sp.query}"
                rows.append(
                    (url, robots_allowed(rules, path), agent)
                    + tuple(k.iloc[i] for k in kept)
                )
            yield pd.DataFrame(
                rows,
                columns=["url", "crawl_allowed", "matched_agent", *keep_names],
            )

    return cols.mapInPandas(decide, schema=schema)
