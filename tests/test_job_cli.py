"""spark-submit entry point + source/sink abstraction tests."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "scripts"))

from extract_job import parse_args  # noqa: E402
from readability_spark.spark import session, sources  # noqa: E402
from readability_spark.spark.session import get_spark  # noqa: E402

ROOT = Path(__file__).resolve().parents[1]
DAEMON = "spark.python.daemon.module"


class TestCli:
    def test_parse_defaults(self):
        args = parse_args(
            ["--input", "i", "--output", "o", "--lineage", "l", "--run-id", "r"]
        )
        assert args.num_partitions == 64
        assert args.salt_n == 4
        assert args.commit_groups == 2
        assert args.warmup is False

    def test_parse_overrides(self):
        args = parse_args(
            [
                "--input", "i", "--output", "o", "--lineage", "l", "--run-id", "r",
                "--num-partitions", "8", "--salt-n", "2", "--commit-groups", "1",
                "--warmup", "--report-json", "/tmp/x.json",
            ]
        )
        assert (args.num_partitions, args.salt_n, args.commit_groups) == (8, 2, 1)
        assert args.warmup and args.report_json == "/tmp/x.json"


class TestEngineConf:
    """engine_conf: the worker daemon is a local-master setting only, and
    spark-submit's own conf wins over every engine default."""

    @pytest.mark.parametrize("master", ["local", "local[4]", "local[*]"])
    def test_local_master_gets_worker_daemon(self, master):
        assert session.engine_conf(master)[DAEMON] == "readability_spark.worker_daemon"

    @pytest.mark.parametrize(
        "master", ["spark://host:7077", "yarn", "k8s://https://host:443", "local-cluster[2,1,1024]"]
    )
    def test_cluster_master_keeps_spark_daemon(self, master):
        conf = session.engine_conf(master)
        assert DAEMON not in conf
        assert conf == session.ENGINE_CONF

    def test_package_from_zip_keeps_spark_daemon(self, monkeypatch):
        monkeypatch.setattr(session, "_PACKAGE_ROOT", ROOT / "readability_spark.zip")
        assert DAEMON not in session.engine_conf("local[4]")

    def test_submitted_conf_wins(self):
        submitted = {
            "spark.master": "local[4]",
            DAEMON: "pyspark.daemon",
            "spark.sql.shuffle.partitions": "7",
        }
        defaults = session.submitted_defaults(submitted)
        assert not set(defaults) & set(submitted)
        assert defaults["spark.sql.parquet.columnarReaderBatchSize"] == "512"
        assert DAEMON in session.submitted_defaults({"spark.master": "local[4]"})
        assert DAEMON not in session.submitted_defaults({"spark.master": "spark://h:7077"})

    def test_spark_submit_conf_wins_end_to_end(self, tmp_path):
        """The session scripts/extract_job.py builds, under a real
        spark-submit: submitted keys keep their values, the rest get the
        engine's defaults."""
        from pyspark.find_spark_home import _find_spark_home

        script = tmp_path / "conf_probe.py"
        script.write_text(
            "import json\n"
            "from readability_spark.spark.session import submitted_spark\n"
            "spark = submitted_spark('conf-probe')\n"
            "keys = ['spark.sql.shuffle.partitions', 'spark.python.daemon.module',\n"
            "        'spark.sql.parquet.columnarReaderBatchSize']\n"
            "print('CONF ' + json.dumps({k: spark.conf.get(k) for k in keys}))\n"
            "spark.stop()\n"
        )
        env = dict(os.environ, PYTHONPATH=os.pathsep.join([str(ROOT), os.environ.get("PYTHONPATH", "")]))
        out = subprocess.run(
            [
                os.path.join(_find_spark_home(), "bin", "spark-submit"),
                "--master", "local[1]",
                "--conf", "spark.ui.enabled=false",
                "--conf", "spark.sql.shuffle.partitions=7",
                "--conf", f"{DAEMON}=pyspark.daemon",
                str(script),
            ],
            cwd=ROOT, env=env, capture_output=True, text=True, timeout=300,
        )
        lines = [ln for ln in out.stdout.splitlines() if ln.startswith("CONF ")]
        assert lines, out.stderr[-2000:]
        assert json.loads(lines[0][5:]) == {
            "spark.sql.shuffle.partitions": "7",
            DAEMON: "pyspark.daemon",
            "spark.sql.parquet.columnarReaderBatchSize": "512",
        }


class TestSources:
    @pytest.fixture(scope="class")
    def spark(self):
        spark = get_spark(app_name="sources-tests", master="local[2]", shuffle_partitions=2)
        yield spark
        spark.stop()

    def test_table_ref_detection(self):
        assert sources.is_table_ref("table:cat.db.pages")
        assert not sources.is_table_ref("/tmp/pages")

    def test_parquet_roundtrip_with_partitioning(self, spark, tmp_path):
        df = spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "a")], "id long, part string"
        )
        ref = str(tmp_path / "t")
        sources.append_ref(df, ref, ("part",))
        sources.append_ref(df, ref, ("part",))  # append semantics
        back = sources.read_ref(spark, ref)
        assert back.count() == 6
        assert set(back.columns) == {"id", "part"}


class TestSingleDocCli:
    """python -m readability_spark FILE — parity with the reference binary
    (/root/reference/src/main.rs:12-34: print content, errors -> exit 1)."""

    def test_prints_content(self, tmp_path, capsys):
        from readability_spark.__main__ import main

        f = tmp_path / "page.html"
        f.write_text("<html><body><p>Hello.</p></body></html>", encoding="utf-8")
        assert main([str(f)]) == 0
        out = capsys.readouterr().out.strip()
        assert out == "<html><head></head><body><p>Hello.</p></body></html>"

    def test_json_mode_and_scored_flag(self, tmp_path, capsys):
        import json

        from readability_spark.__main__ import main

        f = tmp_path / "page.html"
        f.write_text(
            "<html><head><title>T</title></head><body><div id='main-content'>"
            + "<p>Prose, with commas, long enough to score as the top candidate here.</p>"
            + "</div><div id='footer-junk'><a href='/'>x</a></div></body></html>",
            encoding="utf-8",
        )
        assert main([str(f), "--json", "--scored", "--min-text-length", "0"]) == 0
        d = json.loads(capsys.readouterr().out)
        assert d["title"] == "T"
        assert d["content"].startswith('<div id="readability-content">')

    def test_missing_file_exits_1(self, capsys):
        from readability_spark.__main__ import main

        assert main(["/nonexistent.html"]) == 1
        assert "error:" in capsys.readouterr().err


class TestTableRefJob:
    """Exercise the catalog-table branch of sources.append_ref/read_ref end
    to end: run_job writing articles + lineage to session-catalog tables
    (v1 saveAsTable fallback; on an Iceberg catalog the same call path uses
    the transactional V2 writeTo — sources.py docstring)."""

    @pytest.fixture(scope="class")
    def spark(self):
        spark = get_spark(
            app_name="tableref-tests", master="local[2]", shuffle_partitions=2
        )
        yield spark

    def test_run_job_and_resume_on_catalog_tables(self, spark):
        from readability_spark.fixtures import build_rows
        from readability_spark.spark.job import (
            LINEAGE_SCHEMA,
            extract_articles,
            run_job,
            with_partition_id,
        )

        rows = build_rows(40)
        pages = spark.createDataFrame(
            [(r.url, r.warc_ts, r.html, r.text, r.lang) for r in rows],
            "url string, warc_ts timestamp, html binary, text string, lang string",
        )
        try:
            extract_articles(with_partition_id(pages, 4)).limit(0).writeTo(
                "articles_ref_t"
            ).using("parquet").create()
            spark.createDataFrame([], LINEAGE_SCHEMA).writeTo(
                "lineage_ref_t"
            ).using("parquet").create()
            rep = run_job(
                spark, pages, "table:articles_ref_t", "table:lineage_ref_t",
                run_id="t1", num_partitions=4, salt_n=2, commit_groups=2,
            )
            assert rep.docs == 40 and rep.partitions_processed == 4
            # resume: lineage table says everything committed -> no recompute
            rep2 = run_job(
                spark, pages, "table:articles_ref_t", "table:lineage_ref_t",
                run_id="t1", num_partitions=4, salt_n=2, commit_groups=2,
            )
            assert rep2.partitions_processed == 0
            assert spark.table("articles_ref_t").count() == 40
            assert spark.table("lineage_ref_t").count() == 4
        finally:
            spark.sql("DROP TABLE IF EXISTS articles_ref_t")
            spark.sql("DROP TABLE IF EXISTS lineage_ref_t")
