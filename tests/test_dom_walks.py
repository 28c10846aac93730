"""The DOM tree walks (``Node.text``, ``Node.descendants``, ``select``,
``element_count``, ``prep.clean_styles``) against small recursive
references on random trees, on a tree deeper than the interpreter's
recursion limit, and for linear post-parse cost on deep ``<div>`` nests."""

from __future__ import annotations

import gc
import sys
import time

from hypothesis import given, settings
from hypothesis import strategies as st

from readability_spark import dom, prep
from readability_spark.options import Options
from readability_spark.pipeline import run_pipeline
from readability_spark.scoring import grab_article

SELECTORS = (
    "div", "p, span", "*", "div[class=a]", "a[href='x']", "div > p",
    "* > span", "svg > *",
)

_leaf = st.one_of(
    st.text("ab ", max_size=3).map(lambda t: ("text", t)),
    st.just(("comment", "c")),
)
_attrs = st.dictionaries(
    st.sampled_from(["class", "href", "align", "width"]),
    st.sampled_from(["a", "x"]),
    max_size=2,
)
_tree = st.recursive(
    _leaf,
    lambda kids: st.tuples(
        st.just("el"),
        st.sampled_from(["div", "p", "span", "a", "svg", "td"]),
        _attrs,
        st.lists(kids, max_size=4),
    ),
    max_leaves=40,
)


def _build(spec, parent):
    if spec[0] == "text":
        node = dom.new_text(spec[1])
    elif spec[0] == "comment":
        node = dom.Node(dom.COMMENT, data=spec[1])
    else:
        node = dom.new_element(spec[1], spec[2])
        for kid in spec[3]:
            _build(kid, node)
    parent.append_child(node)


def _document(specs):
    doc = dom.Node(dom.DOCUMENT)
    for spec in specs:
        _build(spec, doc)
    return doc


# ---------------------------------------------------------------- references


def ref_descendants(node):
    out = []
    for child in node.children:
        out.append(child)
        out.extend(ref_descendants(child))
    return out


def ref_text(node):
    if node.kind == dom.TEXT:
        return node.data
    return "".join(ref_text(child) for child in node.children)


def ref_elements(node):
    return [n for n in ref_descendants(node) if n.kind == dom.ELEMENT]


def ref_clean_styles(node, in_svg=False):
    """Expected attrs after clean_styles: {id(element): attrs}."""
    out = {}
    if node.kind == dom.ELEMENT:
        in_svg = in_svg or node.name == "svg"
        attrs = dict(node.attrs)
        if not in_svg:
            for name in prep.PRESENTATIONAL_ATTRIBUTES:
                attrs.pop(name, None)
            if node.name in prep.DEPRECATED_SIZE_ATTRIBUTE_ELEMS:
                attrs.pop("width", None)
                attrs.pop("height", None)
        out[id(node)] = attrs
    for child in node.children:
        out.update(ref_clean_styles(child, in_svg))
    return out


@settings(max_examples=200, deadline=None)
@given(st.lists(_tree, max_size=4))
def test_walks_match_recursive_reference(specs):
    doc = _document(specs)
    roots = [doc] + ref_descendants(doc)
    for root in roots:
        assert root.descendants() == ref_descendants(root)
        assert root.text() == ref_text(root)
        assert dom.element_count(root) == len(ref_elements(root))
        for selector in SELECTORS:
            expected = [n for n in ref_elements(root) if dom.matches(n, selector)]
            assert dom.select(root, selector) == expected, selector

    expected = ref_clean_styles(doc)
    prep.clean_styles(doc)
    assert {id(n): dict(n.attrs) for n in ref_elements(doc)} == expected


def test_walks_deeper_than_recursion_limit():
    depth = 3 * sys.getrecursionlimit()
    doc = dom.Node(dom.DOCUMENT)
    parent = doc
    for _ in range(depth):
        div = dom.new_element("div", {"class": "a", "align": "left"})
        div.append_child(dom.new_text("x"))
        parent.append_child(div)
        parent = div
    inner = doc.children[0]

    assert doc.text() == "x" * depth
    assert len(doc.descendants()) == 2 * depth
    assert dom.element_count(doc) == depth
    assert dom.element_count(inner) == depth - 1
    assert len(dom.select(doc, "div")) == depth
    assert len(dom.select(inner, "div[class=a]")) == depth - 1
    assert len(dom.select(inner, "div > div")) == depth - 1
    prep.clean_styles(doc)
    assert all(n.attrs == {"class": "a"} for n in dom.select(doc, "div"))


def _deep_nest(depth):
    """The tree parse_document builds for ``<body>`` + ``depth`` nested
    ``<div>``s around ``<p>deep text</p>``, assembled directly: parsing
    such a nest is itself quadratic (each start tag scans the open-element
    stack for a ``<p>`` to close), and only post-parse work is timed here."""
    doc = dom.parse_document("<body><p>deep text</p></body>")
    body = dom.select(doc, "body")[0]
    top = inner = dom.new_element("div")
    for _ in range(depth - 1):
        div = dom.new_element("div")
        inner.append_child(div)
        inner = div
    inner.append_child(body.children[0])
    body.append_child(top)
    return doc


def _post_parse_seconds(depth):
    """Min of 3: the 16 stages, grab_article, text() and serialize on a
    ``depth``-deep div nest."""
    opts = Options(content_extraction=True)
    best = float("inf")
    for _ in range(3):
        doc = _deep_nest(depth)
        # the collector's pauses grow with the whole test process's heap,
        # not with this document
        gc.collect()
        gc.disable()
        try:
            t0 = time.perf_counter()
            ctx = run_pipeline(doc, opts)
            root = grab_article(doc, opts, title=ctx.metadata.title) or doc
            assert "deep text" in root.text()
            dom.serialize(root)
            best = min(best, time.perf_counter() - t0)
        finally:
            gc.enable()
    return best


def test_post_parse_work_scales_linearly_on_deep_nests():
    """4x the depth must cost well under 16x (quadratic) the time."""
    ratio = _post_parse_seconds(8000) / _post_parse_seconds(2000)
    assert ratio < 8, ratio
