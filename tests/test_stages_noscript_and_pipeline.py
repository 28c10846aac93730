"""Tier-1 parity tests: UnwrapNoscriptImages, ElementLimit, and end-to-end
single-document extraction semantics.

Cites: /root/reference/src/stage/unwrap_noscript_images.rs:95-186,
/root/reference/src/stage/element_limit.rs:10-27,
/root/reference/src/readability.rs:38-63.

1:1 case map: all 9 ``#[test]`` fns in unwrap_noscript_images.rs appear in
NOSCRIPT_CASES under identical names (9/9).  element_limit.rs has no inline
tests; the three element-limit tests here pin the stage's documented
behavior (/root/reference/src/stage/element_limit.rs:10-27) directly.
"""

import pytest

from conftest import run_stage_test
from readability_spark import ElementLimitExceeded, Options, extract, extract_row
from readability_spark.model import Context
from readability_spark.stages import element_limit, unwrap_noscript_images
from readability_spark import dom

NOSCRIPT_CASES = [
    (
        "basic_unwrap",
        '<html><body><img alt="x"/><noscript><img src="real.jpg"/></noscript></body></html>',
        '<html><head></head><body><img alt="x" src="real.jpg"></body></html>',
    ),
    (
        "remove_placeholder_without_src",
        '<html><body><img class="lazy"/></body></html>',
        "<html><head></head><body></body></html>",
    ),
    (
        "keep_valid_image",
        '<html><body><img src="valid.jpg"/></body></html>',
        '<html><head></head><body><img src="valid.jpg"></body></html>',
    ),
    (
        "non_image_noscript_unchanged",
        "<html><body><noscript><p>Enable JS</p></noscript></body></html>",
        "<html><head></head><body><noscript><p>Enable JS</p></noscript></body></html>",
    ),
    (
        "no_previous_sibling_unchanged",
        '<html><body><noscript><img src="x.jpg"/></noscript></body></html>',
        '<html><head></head><body><noscript><img src="x.jpg"></noscript></body></html>',
    ),
    (
        "nested_wrapper",
        '<html><body><div><img/></div><noscript><img src="real.jpg"/></noscript></body></html>',
        '<html><head></head><body><img src="real.jpg"></body></html>',
    ),
    (
        "preserves_data_src",
        '<html><body><img data-src="lazy.jpg"/></body></html>',
        '<html><head></head><body><img data-src="lazy.jpg"></body></html>',
    ),
    (
        "preserves_srcset",
        '<html><body><img srcset="img-320w.jpg 320w, img-480w.jpg 480w"/></body></html>',
        '<html><head></head><body><img srcset="img-320w.jpg 320w, img-480w.jpg 480w"></body></html>',
    ),
    (
        "preserves_image_extension_in_attr",
        '<html><body><img data-lazy="image.png"/></body></html>',
        '<html><head></head><body><img data-lazy="image.png"></body></html>',
    ),
]


@pytest.mark.parametrize("name,document,expected", NOSCRIPT_CASES, ids=[c[0] for c in NOSCRIPT_CASES])
def test_unwrap_noscript_images(name, document, expected):
    run_stage_test(unwrap_noscript_images, document, expected_html=expected)


# ---------------------- element_limit.rs:10-27


def test_element_limit_noop_when_unset():
    doc = dom.parse_document("<html><body><p>x</p></body></html>")
    element_limit(Context(document=doc))  # default options: no limit


def test_element_limit_raises_over_limit():
    doc = dom.parse_document("<html><body><p>x</p><p>y</p></body></html>")
    ctx = Context(document=doc, options=Options(max_elements=3))
    with pytest.raises(ElementLimitExceeded) as exc:
        element_limit(ctx)
    assert exc.value.found == 5 and exc.value.limit == 3


def test_element_limit_ok_at_limit():
    doc = dom.parse_document("<html><body><p>x</p></body></html>")
    element_limit(Context(document=doc, options=Options(max_elements=4)))


# ---------------------- end-to-end Article assembly (readability.rs:38-63)


def test_extract_full_document():
    html = (
        '<html lang="en" dir="ltr"><head><title>My Great Article Headline Today | Site</title>'
        '<meta property="og:site_name" content="Site"/>'
        '<meta property="article:published_time" content="2024-05-05"/>'
        "</head><body>"
        '<div class="sidebar">junk</div>'
        '<div class="byline">Jane Doe</div>'
        "<p>First paragraph.</p>"
        "<script>var x;</script>"
        "</body></html>"
    )
    article = extract(html)
    assert article.title == "My Great Article Headline Today"
    assert article.site_name == "Site"
    assert article.published_time == "2024-05-05"
    assert article.byline == "Jane Doe"
    assert article.excerpt == "First paragraph."
    assert article.lang == "en"
    assert article.dir == "ltr"
    # content: scripts/sidebar removed, head/title kept, serializer rules
    assert "<script>" not in article.content
    assert "sidebar" not in article.content
    # text_content includes the head <title> text (dom_query Document::text)
    assert article.text_content == (
        "My Great Article Headline Today | SiteJane DoeFirst paragraph."
    )
    assert article.length == len(article.text_content.encode("utf-8"))


def test_extract_title_defaults_to_empty_string():
    article = extract("<html><body><div>no title here</div></body></html>")
    assert article.title == ""
    assert article.byline is None


def test_extract_length_counts_utf8_bytes():
    article = extract("<html><body><p>héllo</p></body></html>")
    assert article.text_content == "héllo"
    assert article.length == 6  # é is 2 bytes


def test_extract_row_malformed_inputs():
    for bad in [None, b"", b"   ", "\xff".encode("utf-16"), b"\xff\xfe\xff"]:
        art, status, err = extract_row(bad)
        assert art is None and status == "error" and err

    art, status, err = extract_row(b"<html><body><p>ok</p></body></html>")
    assert status == "ok" and err is None and art.text_content == "ok"


def test_extract_row_decompresses_gzip_members():
    """A gzip member (magic bytes 1f 8b) extracts exactly like its plain
    bytes; a corrupt member is a row error prefixed 'gzip:'; plain HTML,
    bytes or str, is untouched by the check."""
    import gzip

    html = (
        '<html lang="en"><head><title>T</title></head><body>'
        '<p>Some <a href="/x">text</a> here.</p></body></html>'
    )
    opts = Options(fix_relative_uris=True)
    base = "https://example.com/a/b.html"
    plain = extract_row(html.encode(), options=opts, base_url=base)
    assert plain[1] == "ok"
    assert plain == extract_row(html, options=opts, base_url=base)
    for level in (1, 9):
        member = gzip.compress(html.encode(), level, mtime=0)
        assert extract_row(member, options=opts, base_url=base) == plain
        assert extract_row(bytearray(member), options=opts, base_url=base) == plain
    assert extract_row(gzip.compress(b"", mtime=0)) == (None, "error", "empty document")

    for corrupt in (b"\x1f\x8b\x08\x00garbage", gzip.compress(html.encode())[:-9]):
        art, status, err = extract_row(corrupt)
        assert art is None and status == "error" and err.startswith("gzip: ")


def test_extract_row_element_limit_is_row_error():
    art, status, err = extract_row(
        "<html><body><p>a</p><p>b</p></body></html>", options=Options(max_elements=2)
    )
    assert art is None and status == "error"
    assert "elements found" in err


def test_extract_determinism():
    html = '<html><body><div>foo<br><br>bar</div><p class="byline">X</p></body></html>'
    a1, a2 = extract(html), extract(html)
    assert a1 == a2
