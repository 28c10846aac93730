"""Expected outputs of the benchmark's workloads and the failure count
that compares a run's output rows against them.

Each extraction workload's expected rows have a closed form that does not
run the extractor: the contract page mirrors the ``_SQL_*`` oracle
expressions of ``__spark_entry__.py``, the adversarial shapes are derived
from their templates, and the fixture corpus is pinned
as one digest per base row (``fixture_digests.json``), taken once from
``pipeline.extract_row``.
"""

from __future__ import annotations

import hashlib
import json
from collections import Counter
from pathlib import Path

ARTICLE_COLS = (
    "byline",
    "content",
    "dir",
    "excerpt",
    "lang",
    "length",
    "published_time",
    "site_name",
    "text_content",
    "title",
)

DIGESTS_PATH = Path(__file__).resolve().parent / "fixture_digests.json"


def _with_length(fields):
    fields["length"] = len(fields["text_content"].encode("utf-8"))
    return fields


def contract_expected(doc_id, text, lang):
    """All ten Article columns of ``pages.synthesize_html(doc_id, text,
    lang)`` under the default Options.  ``text`` holds no character that
    HTML escaping changes (the generator's vocabulary is plain words)."""
    title = f"Daily Report Number {doc_id} Edition"
    published = f"2026-02-{1 + doc_id % 27:02d}"
    return _with_length(
        {
            "status": "ok",
            "title": title,
            "byline": f"Reporter {doc_id % 20}",
            "site_name": "ExampleSite",
            "published_time": published,
            "lang": lang.strip() or None,
            "dir": None,
            "excerpt": text.strip(),
            "text_content": (
                f"{title} | ExampleSite{title}{text} Section {doc_id} closing remarks."
            ),
            "content": (
                f'<html lang="{lang}"><head><title>{title} | ExampleSite</title>'
                '<meta property="og:site_name" content="ExampleSite">'
                f'<meta name="author" content="Reporter {doc_id % 20}">'
                f'<meta property="article:published_time" content="{published}">'
                f'</head><body><div id="page-main"><h1>{title}</h1><p>{text}</p>'
                f"<p> Section {doc_id} closing remarks.</p></div></body></html>"
            ),
        }
    )


def deep_nest_html(depth, words):
    return (
        f"<html><head><title>Deep Nest {depth}</title></head><body>"
        + "<div>" * depth
        + f"<p>{words}</p>"
        + "</div>" * depth
        + "</body></html>"
    )


def wide_list_html(width, words):
    items = "".join(f"<li>{words} {j}</li>" for j in range(width))
    return (
        f"<html><head><title>Wide List {width}</title></head><body>"
        f"<ul>{items}</ul></body></html>"
    )


def _whole_document(title, body, body_text, excerpt):
    """Fields of a page whose scored selection is too short to keep, so
    content_extraction falls back to the whole cleaned document."""
    return _with_length(
        {
            "status": "ok",
            "title": title,
            "byline": None,
            "site_name": None,
            "published_time": None,
            "lang": None,
            "dir": None,
            "excerpt": excerpt,
            "text_content": title + body_text,
            "content": f"<html><head><title>{title}</title></head><body>{body}</body></html>",
        }
    )


def deep_nest_expected(depth, words):
    body = "<div>" * depth + f"<p>{words}</p>" + "</div>" * depth
    return _whole_document(f"Deep Nest {depth}", body, words, excerpt=words)


def wide_list_expected(width, words):
    items = [f"{words} {j}" for j in range(width)]
    body = "<ul>" + "".join(f"<li>{t}</li>" for t in items) + "</ul>"
    return _whole_document(f"Wide List {width}", body, "".join(items), excerpt=None)


def row_digest(row):
    """Digest of a row's status and Article columns (absent columns and
    nulls hash as null)."""
    blob = json.dumps(
        [row.get("status")] + [row.get(c) for c in ARTICLE_COLS], ensure_ascii=False
    )
    return hashlib.sha256(blob.encode("utf-8")).hexdigest()


def fixture_expected(article, status):
    """The expected row for one fixture document: ``extract_row``'s Article
    fields, or null fields for a document the workload expects to fail."""
    row = {"status": status}
    for col in ARTICLE_COLS:
        row[col] = None if article is None else getattr(article, col)
    return row


def load_fixture_digests():
    return json.loads(DIGESTS_PATH.read_text())


def pin_fixture_digests(n_rows):
    """Write ``fixture_digests.json``: {base url: row digest} for
    ``fixtures.build_rows(n_rows)`` under Options(content_extraction=True).
    Run only when the fixture corpus or the extractor's pinned behaviour is
    meant to change."""
    from readability_spark.fixtures import build_rows
    from readability_spark.options import Options
    from readability_spark.pipeline import extract_row

    opts = Options(content_extraction=True)
    digests = {}
    for r in build_rows(n_rows):
        article, status, _ = extract_row(r.html, options=opts)
        digests[r.url] = row_digest(fixture_expected(article, status))
    DIGESTS_PATH.write_text(json.dumps(digests, indent=0, sort_keys=True) + "\n")


def _matches(expected, row):
    if isinstance(expected, str):
        return row_digest(row) == expected
    return all(row.get(k) == v for k, v in expected.items())


def count_failures(expected, rows):
    """Number of failed documents in one run's output.

    ``expected`` maps each attempted url to its expected fields (a dict,
    compared field by field) or to a ``row_digest``.  A document fails
    when its row is missing, when it appears more than once (every copy
    after the first counts), or when its fields differ; a row whose url
    was never attempted also counts as one failure."""
    seen = Counter()
    failed = 0
    for row in rows:
        url = row["url"]
        seen[url] += 1
        want = expected.get(url)
        if want is None or seen[url] > 1 or not _matches(want, row):
            failed += 1
    failed += sum(1 for url in expected if seen[url] == 0)
    return failed


def oracle_failures(expected_rows, got_rows):
    """Rows of a query result that differ from its oracle's, as a multiset
    difference of normalized rows (missing + extra)."""
    want = Counter(expected_rows)
    got = Counter(got_rows)
    return sum(((want - got) + (got - want)).values())


if __name__ == "__main__":
    import sys

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    from perfbench.workloads import FIXTURE_BASE_ROWS

    pin_fixture_digests(FIXTURE_BASE_ROWS)
    print(f"wrote {DIGESTS_PATH}")
