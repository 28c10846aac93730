"""readability_spark: a PySpark-native main-content extraction engine.

A brand-new implementation (not a port) of the extraction semantics of
terror/readability (reference at /root/reference), designed Spark-first:
the per-document 16-stage DOM pipeline runs as pure Python inside
Arrow-vectorized ``mapInPandas`` batches, while everything dataset-level
(scan, partitioning, skew salting, resume anti-joins, metrics aggregation)
is declarative DataFrame API left to Catalyst + AQE.

Public surface (SURVEY.md section 7.5):

    extract(html, base_url=None, options=Options()) -> Article
    extract_row(html, options, base_url, want_content) -> (article, status, error)
    extract_articles(df, options=None, article_columns=None, metrics_acc=None) -> DataFrame
    run_job(spark, pages_df, output_path, lineage_path, run_id, ...) -> JobReport

``extract_row`` is the one per-document extraction path:
``extract_articles``, and so ``run_job`` and the streaming job, runs each
row through it.  It takes str or UTF-8 bytes, decompresses a
gzip member (magic bytes ``\\x1f\\x8b``) first, and turns any failure into
a ``status='error'`` result instead of an exception.  ``extract_articles``
reads the pages contract ``(url, warc_ts, html, text, lang)``: it consumes
``html``, and with ``Options(fix_relative_uris=True)`` resolves each row's
URIs against its own ``url``.
"""

from .model import Article, ElementLimitExceeded, ExtractionError, Metadata
from .options import DEFAULT_OPTIONS, Options
from .pipeline import extract, extract_row

__all__ = [
    "Article",
    "DEFAULT_OPTIONS",
    "ElementLimitExceeded",
    "ExtractionError",
    "Metadata",
    "Options",
    "extract",
    "extract_row",
]
