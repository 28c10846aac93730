"""Self-test of the benchmark's output checks: the closed forms agree with
the extractor, and a corrupted byte, a dropped row or a duplicated row
each make the failure count non-zero."""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[2]))

from perfbench import checks  # noqa: E402
from perfbench.workloads import FIXTURE_BASE_ROWS, documents  # noqa: E402
from readability_spark.fixtures import build_rows  # noqa: E402
from readability_spark.options import Options  # noqa: E402
from readability_spark.pipeline import extract_row  # noqa: E402
from readability_spark.spark.pages import page_url, synthesize_html  # noqa: E402

SCORED = Options(content_extraction=True)


def _row(url, html, options=None):
    article, status, _ = extract_row(html, options=options)
    row = checks.fixture_expected(article, status)
    return {"url": url, "status": status, **{c: row[c] for c in checks.ARTICLE_COLS}}


def _contract_case():
    docs = documents(7, 40)
    expected, rows = {}, []
    for doc_id, text, lang, source in zip(docs.doc_id, docs.text, docs.lang, docs.source):
        doc_id = int(doc_id) + 1_000_000  # a replicated id, as in the workload
        url = page_url(doc_id, source)
        expected[url] = checks.contract_expected(doc_id, text, lang)
        rows.append(_row(url, synthesize_html(doc_id, text, lang).encode()))
    return expected, rows


def _fixture_case():
    digests = checks.load_fixture_digests()
    expected, rows = {}, []
    for r in build_rows(FIXTURE_BASE_ROWS):
        url = f"{r.url}?copy=0-0"
        expected[url] = digests[r.url]
        rows.append(_row(url, r.html, options=SCORED))
    for shape, size in (("deep", 120), ("wide", 300)):
        url = f"https://adversarial.example.net/{shape}.html"
        make_html = checks.deep_nest_html if shape == "deep" else checks.wide_list_html
        make_row = checks.deep_nest_expected if shape == "deep" else checks.wide_list_expected
        expected[url] = make_row(size, "market science culture")
        rows.append(_row(url, make_html(size, "market science culture").encode(), options=SCORED))
    return expected, rows


CASES = {"contract": _contract_case, "fixture": _fixture_case}


@pytest.fixture(scope="module", params=sorted(CASES))
def case(request):
    return CASES[request.param]()


def test_expected_rows_match_the_extractor(case):
    expected, rows = case
    assert checks.count_failures(expected, rows) == 0


def test_fixture_corpus_has_error_rows():
    _, rows = _fixture_case()
    errors = [r for r in rows if r["status"] == "error"]
    assert errors and all(r[c] is None for r in errors for c in checks.ARTICLE_COLS)


def _corrupt_one_byte(rows):
    rows = [dict(r) for r in rows]
    victim = next(r for r in rows if r.get("text_content"))
    text = victim["text_content"]
    victim["text_content"] = text[:-1] + chr(ord(text[-1]) ^ 1)
    return rows


def test_corrupted_byte_fails(case):
    expected, rows = case
    assert checks.count_failures(expected, _corrupt_one_byte(rows)) == 1


def test_dropped_row_fails(case):
    expected, rows = case
    assert checks.count_failures(expected, rows[1:]) == 1


def test_duplicated_row_fails(case):
    expected, rows = case
    assert checks.count_failures(expected, rows + [rows[3]]) == 1


def test_error_row_with_article_fields_fails():
    expected, rows = _fixture_case()
    rows = [dict(r) for r in rows]
    victim = next(r for r in rows if r["status"] == "error")
    victim["title"] = ""
    assert checks.count_failures(expected, rows) == 1


def test_oracle_failures_count_missing_extra_and_changed_rows():
    want = ["1\x1fa", "2\x1fb", "3\x1fc"]
    assert checks.oracle_failures(want, list(want)) == 0
    assert checks.oracle_failures(want, want[1:]) == 1
    assert checks.oracle_failures(want, want + [want[0]]) == 1
    assert checks.oracle_failures(want, ["1\x1fa", "2\x1fB", "3\x1fc"]) == 2


def test_pinned_digests_cover_the_corpus():
    digests = json.loads(checks.DIGESTS_PATH.read_text())
    assert sorted(digests) == sorted(r.url for r in build_rows(FIXTURE_BASE_ROWS))
