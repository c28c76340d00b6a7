"""North-rule deployment shape: the pipeline runs via REAL spark-submit
--py-files from a neutral cwd — the package resolves from the shipped zip
(including the C kernel source), not from a repo checkout."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import zipfile

import pytest

SPARK_SUBMIT = "/opt/spark/bin/spark-submit"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.skipif(not os.path.exists(SPARK_SUBMIT), reason="no spark-submit")
def test_spark_submit_pyfiles(spark, tmp_path):
    from capelinker_spark.fixtures import make_corpus, pages_df, truth_df
    from capelinker_spark.util import build_pyfiles_zip

    corpus = make_corpus(n_entities=120, seed=7)
    pages_df(spark, corpus["pages"]).write.parquet(str(tmp_path / "pages"))
    truth_df(spark, corpus["truth"]).write.parquet(str(tmp_path / "truth"))

    zpath = str(tmp_path / "capelinker_spark.zip")
    build_pyfiles_zip(zpath)
    with zipfile.ZipFile(zpath) as z:
        names = z.namelist()
    assert "capelinker_spark/functions/_strdistc.c" in names  # C kernel ships

    script = str(tmp_path / "submit_linkage.py")
    shutil.copy(os.path.join(REPO, "tools", "submit_linkage.py"), script)
    env = {
        k: v for k, v in os.environ.items() if not k.startswith("PYTHONPATH")
    }
    proc = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master", "local[4]",
            "--conf", "spark.sql.shuffle.partitions=8",
            "--conf", "spark.ui.enabled=false",
            "--py-files", zpath,
            script,
            "--pages", str(tmp_path / "pages"),
            "--truth", str(tmp_path / "truth"),
            "--workdir", str(tmp_path / "wd"),
            "--salt", "auto",
        ],
        capture_output=True,
        text=True,
        timeout=480,
        cwd=str(tmp_path),  # neutral cwd: no repo on sys.path
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    summary = json.loads(
        [l for l in proc.stdout.splitlines() if l.startswith("{")][-1]
    )
    assert summary["mode"] == "single"
    assert summary["links"] > 50
    assert summary["entities"] > 0
    assert os.path.isdir(tmp_path / "wd" / "clusters")


@pytest.mark.skipif(not os.path.exists(SPARK_SUBMIT), reason="no spark-submit")
def test_spark_submit_curation(spark, tmp_path):
    """The curation pipeline ships the same way: real spark-submit
    --py-files from a neutral cwd, per-domain policies passed as JSON
    config, stage checkpoints + lineage landing in the workdir."""
    from capelinker_spark.util import build_pyfiles_zip

    good = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (i, f"{good} variant {i} end.", "en",
         f"https://{['good.org', 'bad.net'][i % 2]}/p/{i}")
        for i in range(40)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, url string"
    ).write.parquet(str(tmp_path / "docs"))

    zpath = str(tmp_path / "capelinker_spark.zip")
    build_pyfiles_zip(zpath)
    script = str(tmp_path / "submit_curation.py")
    shutil.copy(os.path.join(REPO, "tools", "submit_curation.py"), script)
    env = {
        k: v for k, v in os.environ.items() if not k.startswith("PYTHONPATH")
    }
    proc = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master", "local[4]",
            "--conf", "spark.sql.shuffle.partitions=8",
            "--conf", "spark.ui.enabled=false",
            "--py-files", zpath,
            script,
            "--docs", str(tmp_path / "docs"),
            "--workdir", str(tmp_path / "wd"),
            "--min-tokens", "1", "--min-alpha-ratio", "0.1",
            "--url-col", "url",
            "--domain-policies",
            '{"bad.net": {"min_quality_prob": 1.1}}',
        ],
        capture_output=True,
        text=True,
        timeout=480,
        cwd=str(tmp_path),
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    summary = json.loads(
        [l for l in proc.stdout.splitlines() if l.startswith("{")][-1]
    )
    assert summary["docs_in"] == 40
    assert summary["kept"] == 20          # bad.net's threshold 1.1 drops all
    assert summary["sequences"] >= 1
    assert os.path.exists(str(tmp_path / "wd" / "_lineage.jsonl"))


def test_ensure_workers_importable_ships_one_private_zip(tmp_path, monkeypatch):
    """Each process builds its package zip once, in a private temp directory
    that is gone after the process exits; a package imported from a zip
    (not a directory) ships nothing; an empty package raises instead of
    writing an empty zip."""
    import sys
    import types

    import capelinker_spark
    from capelinker_spark import util

    code = (
        "import types\n"
        "from capelinker_spark import util\n"
        "added = []\n"
        "sc = types.SimpleNamespace(addPyFile=added.append)\n"
        "spark = types.SimpleNamespace(sparkContext=sc)\n"
        "util.ensure_workers_importable(spark)\n"
        "util.ensure_workers_importable(spark)\n"
        "import os, zipfile\n"
        "assert len(added) == 1 and os.path.isfile(added[0])\n"
        "assert 'capelinker_spark/functions/_strdistc.c' in "
        "zipfile.ZipFile(added[0]).namelist()\n"
        "print(added[0])\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        cwd=REPO, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    zpath = proc.stdout.strip().splitlines()[-1]
    assert not os.path.exists(os.path.dirname(zpath))  # removed at exit

    added = []
    fake = types.SimpleNamespace(
        sparkContext=types.SimpleNamespace(addPyFile=added.append)
    )
    zipped = str(tmp_path / "deps.zip" / "capelinker_spark" / "__init__.py")
    monkeypatch.setattr(capelinker_spark, "__file__", zipped)
    monkeypatch.setattr(util, "_ADDED", set())  # keep the fake's id out
    util.ensure_workers_importable(fake)
    assert added == []

    empty = tmp_path / "pkg" / "capelinker_spark"
    empty.mkdir(parents=True)
    monkeypatch.setattr(capelinker_spark, "__file__", str(empty / "__init__.py"))
    with pytest.raises(RuntimeError, match="no package sources"):
        util.build_pyfiles_zip(str(tmp_path / "out.zip"))
    assert not os.path.exists(tmp_path / "out.zip")
