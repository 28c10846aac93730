"""Crash-freedom fuzz: extract_row must NEVER raise — any input yields a
row with status ok/error (SURVEY.md §1.2: a failed document must not kill
the Arrow batch).  Also pins the row-level contract: ok rows carry an
Article with the documented field types; error rows carry a reason."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from readability_spark.model import Article
from readability_spark.options import Options
from readability_spark.pipeline import extract_row

_tokens = st.sampled_from(
    list("<>/&;!?='\"abcZ09 \xa0é世")
    + [
        "<p>", "</p>", "<div>", "</div>", "<script>", "</script>", "<br>",
        "<!--", "-->", "&amp;", "&#65;", "&#xFFFF;", "<html lang='en'>",
        "<title>", "</title>", "<meta property='og:title' content='x'>",
        '<script type="application/ld+json">', '{"@type":"Article"}',
        "<table><td>", "<noscript><img src='a.png'></noscript>",
        "<a href='/x'>", "</a>", "<font size=2>", "</font>",
    ]
)
_soup = st.lists(_tokens, max_size=50).map("".join)
_raw = st.one_of(_soup, _soup.map(lambda s: s.encode("utf-8")), st.binary(max_size=120))

_OPTIONS = [
    Options(),
    Options(content_extraction=True, min_text_length=0),
    Options(fix_relative_uris=True),
    Options(max_elements=10),
]


@settings(max_examples=400, deadline=None)
@given(_raw, st.integers(0, len(_OPTIONS) - 1))
def test_extract_row_never_raises(raw, opt_idx):
    article, status, error = extract_row(
        raw, options=_OPTIONS[opt_idx], base_url="https://example.com/a/b.html"
    )
    assert status in ("ok", "error")
    if status == "ok":
        assert isinstance(article, Article)
        assert isinstance(article.title, str)
        assert isinstance(article.text_content, str)
        assert article.length == len(article.text_content.encode("utf-8"))
        assert error is None
    else:
        assert article is None
        assert isinstance(error, str) and error


@settings(max_examples=150, deadline=None)
@given(_soup)
def test_extract_deterministic(html):
    a = extract_row(html)
    b = extract_row(html)
    if a[0] is None:
        assert b[0] is None and a[1:] == b[1:]
    else:
        assert a[0] == b[0] and a[1:] == b[1:]


def test_pathologically_deep_nesting_extracts():
    """Common-Crawl junk can nest deeper than Python's recursion limit.
    Parse, stages, text() and the serializer walk the tree iteratively by
    construction (no recursion, no fallback), so depth has no limit."""
    html = "<body>" + "<div>" * 3000 + "deep text" + "</div>" * 3000 + "</body>"
    article, status, error = extract_row(html)
    assert status == "ok", error
    assert "deep text" in article.text_content
    assert article.content.count("<div>") == 3000


_wrapper_tokens = st.sampled_from(
    [
        "<div>", "</div>", "<section>", "</section>", "<div class='a'>",
        "<div id='x'>", "<p>prose, with commas, long enough to score.</p>",
        "<br>", "<hr>", "<p>", "</p>", "x",
    ]
)
_wrapper_soup = st.lists(_wrapper_tokens, max_size=40).map("".join)


@settings(max_examples=150, deadline=None)
@given(_wrapper_soup)
def test_scored_path_deterministic_on_wrapper_soup(html):
    """The scored pipeline (scoring + prep + simplifyNestedElements) is
    deterministic and crash-free on arbitrary div/section wrapper nests —
    the shapes _simplifyNestedElements rewrites."""
    opts = Options(content_extraction=True, min_text_length=0)
    a = extract_row(html, options=opts)
    b = extract_row(html, options=opts)
    assert a[1] == b[1]
    if a[0] is not None:
        assert a[0].text_content == b[0].text_content
        assert a[0].content == b[0].content
