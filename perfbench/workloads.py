"""The benchmark's workloads: seeded input generation (cached), one call of
the closed loop, and the untimed check of that call's output.

Every input is a pure function of the seed.  The program under test sees
only the generated pages parquet (or, for ``neardup_dedup``, the generated
documents table).
"""

from __future__ import annotations

import hashlib
import inspect
import json
import os
import random
import shutil
import time
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from . import checks
from .session import cores

#: vocabulary, language mix and source count of the ``documents`` table of
#: the sf test data (TESTDATA.md), so generated documents have its shape
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
#: the near-dup workload's vocabulary: the same words with 64 numbered
#: variants each, so unrelated documents share no 5-word chunk and stay
#: far below the 0.5 Jaccard threshold, and only planted near-duplicates
#: form clusters.  With the 31-word vocabulary almost every pair of long
#: documents clears the threshold and the number of label-propagation
#: rounds changes from seed to seed.
NEARDUP_WORDS = tuple(f"{w}{k}" for k in range(64) for w in WORDS)
LANGS = ("en", "zh", "es", "fr", "de")
LANG_WEIGHTS = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20

#: fixtures.build_rows size: every one of the 97 families appears >= 3 times
FIXTURE_BASE_ROWS = 660

#: run_job's layout as scripts/extract_job.py runs it: 64 logical
#: partitions, 4 salts, 2 commit groups, so 256 mapInPandas tasks a call
JOB_ARGS = {"num_partitions": 64, "salt_n": 4, "commit_groups": 2}


def warm_up_args():
    """The warm-up only has to start the Python workers and compile the
    job's code paths: two tasks a core do that."""
    return {"num_partitions": cores(), "salt_n": 2, "commit_groups": 1}


def documents(seed, n, dup_share=0.0, words=WORDS):
    """``n`` word-soup documents shaped like that table: 10-95 words
    (a whole number of 5-word chunks), ``source`` round-robin over 20
    sources.  A ``dup_share`` of them are
    near-duplicates: the text of an earlier original (non-duplicate)
    document with one word replaced, so each near-duplicate cluster is a
    star around its original, as copies of one page are."""
    rng = np.random.default_rng(seed)
    lens = 5 * rng.integers(2, 20, n)
    picks = rng.integers(0, len(words), int(lens.sum()))
    texts, pos = [], 0
    for k in lens:
        texts.append(" ".join(words[w] for w in picks[pos : pos + k]))
        pos += k
    dup = rng.random(n) < dup_share
    dup[0] = False
    originals = np.flatnonzero(~dup)
    for i in np.flatnonzero(dup):
        earlier = originals[: np.searchsorted(originals, i)]
        toks = texts[int(earlier[rng.integers(0, len(earlier))])].split(" ")
        toks[int(rng.integers(0, len(toks)))] = words[int(rng.integers(0, len(words)))]
        texts[i] = " ".join(toks)
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_WEIGHTS),
            "source": [f"src{i % N_SOURCES}" for i in range(n)],
            "n_chars": [len(t) for t in texts],
        }
    )


def _write_pages(pages, dest):
    """The pages table, one file per core so the scan runs on every core."""
    (dest / "pages.parquet").mkdir()
    for part in range(cores()):
        _write_parquet(pages.iloc[part :: cores()], dest / "pages.parquet" / f"part-{part}.parquet")


def _pages_meta(dest):
    """Document count and html bytes of the pages table."""
    html = pq.read_table(dest / "pages.parquet", columns=["html"]).column("html")
    return {"docs": len(html), "input_bytes": int(pc.sum(pc.binary_length(html)).as_py())}


def _write_parquet(df, path):
    # Spark reads microsecond timestamps only
    pq.write_table(
        pa.Table.from_pandas(df, preserve_index=False), path, coerce_timestamps="us"
    )


@dataclass
class Inputs:
    """A generated, cached input: its directory and the facts the run and
    the checks need (document count, input bytes, generator parameters)."""

    dir: Path
    meta: dict

    @property
    def docs(self):
        return self.meta["docs"]

    @property
    def input_bytes(self):
        return self.meta["input_bytes"]


@dataclass
class Call:
    """One timed call of the closed loop."""

    wall_s: float
    peak_rss_bytes: int
    output: object  # output directory, or collected rows for a query chain
    docs_written: int = 0
    attempted: int = 0
    failed: int = 0
    extract_ms: list = field(default_factory=list)


class Workload:
    name: str
    kind: str  # "extract" (run_job) or "query" (catalog query chain)

    def cache_key(self):
        """Hash of the generator's source and size parameters, the page
        templates and the fixture corpus (bench._synth_tag covers pages.py),
        so an edit to any of them regenerates instead of reusing stale
        inputs."""
        import bench
        from readability_spark import fixtures
        from readability_spark.spark.pages import pages_from_documents

        blob = (
            bench._synth_tag(pages_from_documents)
            + inspect.getsource(inspect.getmodule(Workload))
            + inspect.getsource(checks)
            + inspect.getsource(fixtures)
            + repr(sorted((k, v) for k, v in vars(type(self)).items()
                          if isinstance(v, (int, float, str, tuple))))
        )
        return hashlib.md5(blob.encode()).hexdigest()[:8]

    def ensure_inputs(self, seed, cache_root: Path, work: Path) -> Inputs:
        """Generate the seed's input once; later runs reuse the cache.
        ``work`` holds the scratch files of a generating session."""
        dest = cache_root / f"{self.name}-seed{seed}-{self.cache_key()}"
        meta_path = dest / "meta.json"
        if not meta_path.exists():
            tmp = cache_root / f".{dest.name}.{os.getpid()}"
            shutil.rmtree(tmp, ignore_errors=True)
            tmp.mkdir(parents=True)
            t0 = time.perf_counter()
            meta = self.generate(seed, tmp, work)
            meta["gen_s"] = time.perf_counter() - t0
            (tmp / "meta.json").write_text(json.dumps(meta))
            shutil.rmtree(dest, ignore_errors=True)
            os.rename(tmp, dest)
            _prune(cache_root, self.name, keep=8)
        return Inputs(dest, json.loads(meta_path.read_text()))


def _prune(cache_root, name, keep):
    entries = sorted(
        cache_root.glob(f"{name}-seed*"), key=lambda p: p.stat().st_mtime, reverse=True
    )
    for old in entries[keep:]:
        shutil.rmtree(old, ignore_errors=True)


class ExtractionWorkload(Workload):
    """A pages parquet extracted by ``run_job`` into a fresh output and
    lineage path on every call."""

    kind = "extract"
    options = None

    def __init__(self):
        self._pages = None

    def warm_up(self, spark, work: Path):
        """Start the Python workers (each imports pandas, pyarrow and the
        engine) and compile the job's JVM code paths with one ``run_job``
        over a few in-memory pages."""
        from readability_spark.spark.job import run_job
        from readability_spark.spark.pages import synthesize_html

        n = 8 * cores()
        pdf = pd.DataFrame(
            {
                "url": [f"https://warm.example.com/{i}" for i in range(n)],
                "html": [synthesize_html(i, "spark scan the data", "en").encode() for i in range(n)],
            }
        )
        run_job(
            spark,
            spark.createDataFrame(pdf),
            str(work / "warm-up" / "articles"),
            str(work / "warm-up" / "lineage"),
            run_id="warm-up",
            options=self.options,
            **warm_up_args(),
        )
        shutil.rmtree(work / "warm-up")
        self._pages = None

    def call(self, spark, inputs, out: Path, k: int):
        from readability_spark.spark.job import run_job

        if self._pages is None:
            self._pages = spark.read.parquet(str(inputs.dir / "pages.parquet"))
        run_job(
            spark,
            self._pages,
            str(out / "articles"),
            str(out / "lineage"),
            run_id=f"perfbench-{k}",
            options=self.options,
            **JOB_ARGS,
        )
        return out

    def check(self, inputs, call: Call, expected):
        cols = ["url", "status", "extract_ms", *checks.ARTICLE_COLS]
        rows = pq.read_table(call.output / "articles", columns=cols).to_pylist()
        call.docs_written = len(rows)
        call.attempted = inputs.docs
        call.failed = checks.count_failures(expected, rows)
        call.extract_ms = [r["extract_ms"] for r in rows]
        shutil.rmtree(call.output, ignore_errors=True)

    def sample(self, inputs):
        """One copy of every distinct page, with the number of times it
        occurs in the input, for the in-process layer timer."""
        t = pq.read_table(inputs.dir / "sample.parquet")
        return t.column("html").to_pylist(), t.column("weight").to_pylist()


class ContractPages(ExtractionWorkload):
    """Generated documents replicated by ``bench.replicated_documents`` and
    rendered by ``pages.pages_from_documents``, in a short-lived session
    that ends before the measured one starts."""

    name = "contract_pages"
    base_docs = 4000
    replicas = 4

    def generate(self, seed, dest, work):
        import bench
        from readability_spark.spark.pages import page_url, pages_from_documents

        from .session import start_session, stop_session

        docs = documents(seed, self.base_docs)
        _write_parquet(docs, dest / "documents.parquet")
        spark = start_session(work / "generate")
        try:
            bench.replicated_documents(spark, str(dest), self.replicas).write.parquet(
                str(dest / "replicated.parquet")
            )
            replicated = spark.read.parquet(str(dest / "replicated.parquet"))
            pages_from_documents(replicated).repartition(cores()).write.parquet(
                str(dest / "pages.parquet")
            )
        finally:
            stop_session(spark)
        pages = pq.read_table(dest / "pages.parquet", columns=["url", "html"]).to_pydict()
        originals = {page_url(int(d), s) for d, s in zip(docs.doc_id, docs.source)}
        sample = pd.DataFrame(
            {"html": [h for u, h in zip(pages["url"], pages["html"]) if u in originals]}
        )
        sample["weight"] = self.replicas
        _write_parquet(sample, dest / "sample.parquet")
        return _pages_meta(dest)

    def expected(self, inputs):
        from readability_spark.spark.pages import page_url

        docs = pq.read_table(inputs.dir / "replicated.parquet").to_pydict()
        return {
            page_url(doc_id, source): checks.contract_expected(doc_id, text, lang)
            for doc_id, text, lang, source in zip(
                docs["doc_id"], docs["text"], docs["lang"], docs["source"]
            )
        }


class FixtureMix(ExtractionWorkload):
    """The 97-family fixture corpus, replicated, plus a fixed handful of
    adversarial shapes (deep ``<div>`` nests, very wide sibling lists)
    whose exact size the seed varies slightly."""

    name = "fixture_mix"
    replicas = 48
    deep_depths = (1000, 500, 500)
    wide_widths = (20000, 20000)

    @property
    def options(self):
        from readability_spark.options import Options

        return Options(content_extraction=True)

    def generate(self, seed, dest, work):
        from readability_spark.fixtures import WORDS as FIXTURE_WORDS
        from readability_spark.fixtures import build_rows

        rng = random.Random(seed)
        rows = build_rows(FIXTURE_BASE_ROWS)
        urls, htmls, ts, texts, langs = [], [], [], [], []
        for rep in range(self.replicas):
            for r in rows:
                urls.append(f"{r.url}?copy={seed}-{rep}")
                htmls.append(r.html)
                ts.append(r.warc_ts)
                texts.append(r.text)
                langs.append(r.lang)
        adversarial = []
        for k, depth in enumerate(self.deep_depths):
            adversarial.append(("deep", depth + rng.randrange(40), k))
        for k, width in enumerate(self.wide_widths):
            adversarial.append(("wide", width + rng.randrange(400), k))
        adv_pages = []
        for shape, size, k in adversarial:
            words = " ".join(rng.choice(FIXTURE_WORDS) for _ in range(3))
            make = checks.deep_nest_html if shape == "deep" else checks.wide_list_html
            html = make(size, words).encode()
            adv_pages.append(
                {"url": f"https://adversarial.example.net/{shape}-{k}.html",
                 "shape": shape, "size": size, "words": words}
            )
            urls.append(adv_pages[-1]["url"])
            htmls.append(html)
            ts.append(rows[0].warc_ts)
            texts.append(html.decode())
            langs.append("")
        order = list(range(len(urls)))
        rng.shuffle(order)
        pages = pd.DataFrame(
            {
                "url": [urls[i] for i in order],
                "warc_ts": [ts[i] for i in order],
                "html": [htmls[i] for i in order],
                "text": [texts[i] for i in order],
                "lang": [langs[i] for i in order],
            }
        )
        _write_pages(pages, dest)
        n_base = len(rows)
        sample = pd.DataFrame(
            {
                "html": [r.html for r in rows] + htmls[-len(adv_pages):],
                "weight": [self.replicas] * n_base + [1] * len(adv_pages),
            }
        )
        _write_parquet(sample, dest / "sample.parquet")
        return {
            "docs": len(urls),
            "input_bytes": sum(len(h) for h in htmls),
            "adversarial": adv_pages,
        }

    def expected(self, inputs):
        digests = checks.load_fixture_digests()
        out = {}
        for url in pq.read_table(inputs.dir / "pages.parquet", columns=["url"]).column(
            "url"
        ).to_pylist():
            if url.startswith("https://adversarial."):
                continue
            base = url.split("?copy=", 1)[0]
            if base not in digests:
                raise RuntimeError(
                    f"no pinned digest for fixture page {base}; re-pin with "
                    "python3 perfbench/checks.py"
                )
            out[url] = digests[base]
        for page in inputs.meta["adversarial"]:
            make = (
                checks.deep_nest_expected
                if page["shape"] == "deep"
                else checks.wide_list_expected
            )
            out[page["url"]] = make(page["size"], page["words"])
        return out


class NeardupDedup(Workload):
    """``dedup_clusters`` then ``curated_corpus_neardup`` over a generated
    documents table with planted near-duplicates; checked against each
    query's DuckDB oracle, computed once per generated table."""

    name = "neardup_dedup"
    kind = "query"
    n_docs = 2000
    dup_share = 0.15
    queries = ("dedup_clusters", "curated_corpus_neardup")

    def generate(self, seed, dest, work):
        import duckdb

        import __spark_entry__ as entry
        from tools.check_oracles import norm_cell

        docs = documents(seed, self.n_docs, self.dup_share, NEARDUP_WORDS)
        _write_parquet(docs, dest / "documents.parquet")
        con = duckdb.connect()
        try:
            con.execute(
                f"CREATE VIEW documents AS SELECT * FROM '{dest / 'documents.parquet'}'"
            )
            oracle = {}
            for q in self.queries:
                rel = con.execute(entry.oracle_sql()[q])
                cols = [d[0] for d in rel.description]
                oracle[q] = _normalize(rel.fetchall(), cols, norm_cell)
        finally:
            con.close()
        (dest / "oracle.json").write_text(json.dumps(oracle))
        return {
            "docs": len(docs),
            "input_bytes": int(sum(len(t.encode()) for t in docs.text)),
        }

    def warm_up(self, spark, work: Path):
        """Compile the chain's JVM code paths by running it once over a
        small documents table."""
        import __spark_entry__ as entry

        table = work / "warm-up"
        table.mkdir(parents=True)
        _write_parquet(
            documents(0, 200, self.dup_share, NEARDUP_WORDS), table / "documents.parquet"
        )
        for q in self.queries:
            entry.queries()[q](spark, str(table)).collect()
        shutil.rmtree(table)

    def call(self, spark, inputs, out, k):
        import __spark_entry__ as entry

        result = {}
        for q in self.queries:
            df = entry.queries()[q](spark, str(inputs.dir))
            result[q] = (df.columns, [tuple(r) for r in df.collect()])
        return result

    def expected(self, inputs):
        return json.loads((inputs.dir / "oracle.json").read_text())

    def check(self, inputs, call: Call, expected):
        from tools.check_oracles import norm_cell

        call.attempted = sum(len(rows) for rows in expected.values())
        call.failed = 0
        for q, (cols, rows) in call.output.items():
            call.failed += checks.oracle_failures(
                expected[q], _normalize(rows, cols, norm_cell)
            )
        call.docs_written = inputs.docs
        call.output = None


def _normalize(rows, cols, norm_cell):
    """Rows as column-order-independent strings (check_oracles' form)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return ["\x1f".join(norm_cell(row[i]) for i in order) for row in rows]


WORKLOADS = {
    w.name: w
    for w in (ContractPages(), FixtureMix(), NeardupDedup())
}
