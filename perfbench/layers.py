"""In-process layer timer.

The layer timer recomposes ``pipeline.extract_row`` from the engine's public
functions — ``dom.parse_document``, each stage of ``pipeline.DEFAULT_STAGES``
on a ``model.Context``, ``scoring.grab_article``, ``Node.text()`` and
``dom.serialize`` — with a span around each, and checks that the composed
result equals ``extract_row``'s for every document it times.
"""

from __future__ import annotations

import time
from collections import defaultdict

from readability_spark import dom
from readability_spark.model import Article, Context, ExtractionError
from readability_spark.pipeline import DEFAULT_STAGES, extract_row
from readability_spark.scoring import grab_article

STAGE_NAMES = tuple(stage.__name__ for stage in DEFAULT_STAGES)


def _count_nodes(node):
    n, stack = 0, [node]
    while stack:
        cur = stack.pop()
        n += 1
        stack.extend(cur.children)
    return n


def traced_extract_row(html, options, want_content, spans, counts):
    """``extract_row`` recomposed from the public layer functions, adding
    each layer's seconds to ``spans`` and the parsed node count to
    ``counts``."""
    clock = time.perf_counter
    try:
        if html is None:
            return None, "error", "null html"
        if isinstance(html, (bytes, bytearray)):
            html = bytes(html).decode("utf-8")
        if not html.strip():
            return None, "error", "empty document"
        t0 = clock()
        document = dom.parse_document(html)
        spans["dom.parse"] += clock() - t0
        counts["dom.nodes"] += _count_nodes(document)
        ctx = Context(document=document, options=options)
        for stage in DEFAULT_STAGES:
            t0 = clock()
            stage(ctx)
            spans[f"stages.{stage.__name__}"] += clock() - t0
        content_root = document
        if options.content_extraction:
            t0 = clock()
            selected = grab_article(document, options, title=ctx.metadata.title)
            spans["scoring.grab_article"] += clock() - t0
            if selected is not None:
                content_root = selected
        t0 = clock()
        text_content = content_root.text()
        spans["dom.text"] += clock() - t0
        content = None
        if want_content:
            t0 = clock()
            content = dom.serialize(content_root)
            spans["dom.serialize"] += clock() - t0
        article = Article(
            byline=ctx.metadata.byline,
            content=content,
            dir=ctx.dir,
            excerpt=ctx.metadata.excerpt,
            lang=ctx.lang,
            length=len(text_content.encode("utf-8")),
            published_time=ctx.metadata.published_time,
            site_name=ctx.metadata.site_name,
            text_content=text_content,
            title=ctx.metadata.title if ctx.metadata.title is not None else "",
        )
        return article, "ok", None
    except ExtractionError as exc:
        return None, "error", str(exc)
    except Exception as exc:  # mirrors extract_row's failure isolation
        return None, "error", f"{type(exc).__name__}: {exc}"


def time_layers(htmls, weights, options, want_content):
    """Time every page once untraced (``extract_row``) and once traced.

    Returns (weighted per-layer milliseconds, weighted node count, weighted
    untraced extract milliseconds, number of documents whose composed
    result differs from ``extract_row``).  Each page counts ``weight``
    times, its multiplicity in the workload input, so the totals are those
    of one pass over the whole input."""
    if options.fix_relative_uris:
        raise ValueError("the layer timer does not recompose fix_relative_uris")
    layer_ms = defaultdict(float)
    nodes = 0.0
    extract_ms = 0.0
    mismatches = 0
    for html, weight in zip(htmls, weights):
        t0 = time.perf_counter()
        want = extract_row(html, options=options, want_content=want_content)
        extract_ms += (time.perf_counter() - t0) * 1000.0 * weight
        spans, counts = defaultdict(float), defaultdict(int)
        got = traced_extract_row(html, options, want_content, spans, counts)
        if got != want:
            mismatches += 1
        for name, secs in spans.items():
            layer_ms[name] += secs * 1000.0 * weight
        nodes += counts["dom.nodes"] * weight
    return dict(layer_ms), nodes, extract_ms, mismatches
