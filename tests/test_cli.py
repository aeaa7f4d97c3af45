"""CLI / spark-submit packaging tests.

Covers the deployment surface: in-process CLI run (same code path as
the spark-submit script body), incremental --max-buckets + cached
rerun, the --print-submit command line, and the SparkFiles-shipped
model artifact (`--ship-model-npz` / SPARK_LANGID_NPZ — reference M2
"ship the model to the worker", vllm_offline:41-53).
"""

from __future__ import annotations

import json
import os
import zipfile

import pytest

from curator_spark import cli
from curator_spark.functions import vectorized as V


def test_print_submit_command(tmp_path, capsys):
    rc = cli.main([
        "--input", "/x/in", "--out", "/x/out", "--print-submit",
        "--cores", "8",
    ])
    assert rc == 0
    import shlex

    cmd = shlex.split(capsys.readouterr().out.strip())
    assert cmd[0] == "spark-submit"
    assert cmd[cmd.index("--master") + 1] == "local[8]"
    assert cmd[cmd.index("--input") + 1] == "/x/in"
    assert cmd[cmd.index("--out") + 1] == "/x/out"
    zip_path = cmd[cmd.index("--py-files") + 1]
    names = zipfile.ZipFile(zip_path).namelist()
    assert "curator_spark/pipeline/run.py" in names
    assert "curator_spark/stages/score.py" in names


def test_cli_run_and_resume(spark, pages_path, tmp_path, capsys):
    out = str(tmp_path / "out")
    # incremental first run: 5 buckets only
    rc = cli.main([
        "--input", pages_path, "--out", out,
        "--cores", "8", "--max-buckets", "5",
    ])
    assert rc == 0
    first = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert len(first["buckets_processed"]) == 5

    # completing run picks up ONLY the remaining buckets
    rc = cli.main(["--input", pages_path, "--out", out, "--cores", "8"])
    assert rc == 0
    second = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert not second["cached"]
    assert not (set(second["buckets_processed"]) & set(first["buckets_processed"]))

    # identical rerun is a fingerprint cache hit; --compact folds the
    # two incremental commits into one
    rc = cli.main(["--input", pages_path, "--out", out, "--cores", "8",
                   "--compact"])
    assert rc == 0
    third = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert third["cached"]
    assert third["compacted_snapshot_id"] is not None

    # --delete-urls on the cached run: copy-on-write row delete
    from curator_spark.pipeline.run import QualityPipeline
    from curator_spark.config import QualityConfig

    pipe = QualityPipeline(out, QualityConfig())
    df = pipe.read_output(spark, third["fingerprint"])
    n = df.count()
    victims = [r["url"] for r in df.select("url").limit(2).collect()]
    dl = str(tmp_path / "deletes.txt")
    with open(dl, "w") as fh:
        fh.write("\n".join(victims) + "\n")
    rc = cli.main(["--input", pages_path, "--out", out, "--cores", "8",
                   "--delete-urls", dl])
    assert rc == 0
    fourth = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert fourth["cached"] and fourth["deleted"]["deleted_rows"] == 2
    assert pipe.read_output(spark, third["fingerprint"]).count() == n - 2


@pytest.mark.skipif(
    __import__("shutil").which("spark-submit") is None,
    reason="spark-submit not on PATH",
)
def test_real_spark_submit(pages_path, tmp_path):
    """The printed command actually runs under spark-submit, importing
    the package from the --py-files zip (executor-side import path)."""
    import shlex
    import subprocess

    args = cli.build_parser().parse_args(
        ["--input", pages_path, "--out", str(tmp_path / "out"), "--cores", "4"]
    )
    cmd = shlex.split(cli.submit_command(args)) + ["--cores", "4"]
    proc = subprocess.run(
        cmd, cwd=str(tmp_path), capture_output=True, text=True, timeout=420
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    summary = json.loads(
        [l for l in proc.stdout.splitlines() if l.startswith("{")][-1]
    )
    assert summary["docs_seen"] == 1200 and summary["failed_rows"] == 0
    assert os.path.isdir(str(tmp_path / "out" / "_manifests"))


def test_model_artifact_roundtrip(tmp_path):
    npz = str(tmp_path / "langid_lm.npz")
    langs = ("en", "de", "fr", "es", "it")
    V.save_artifacts(npz, langs)
    table, lm, got_langs = V.load_artifacts(npz)
    assert got_langs == langs
    import numpy as np

    np.testing.assert_array_equal(table, V.get_langid_table(langs))
    np.testing.assert_array_equal(lm, V.get_bigram_lm())


def test_shipped_npz_scores_identically(spark, pages_path, tmp_path):
    """SPARK_LANGID_NPZ path must produce the same scores as in-worker
    training (artifact = the same tables by construction)."""
    from curator_spark.config import QualityConfig
    from curator_spark.stages.score import with_scores

    cfg = QualityConfig()
    cols = ["lang_pred", "lang_score", "perplexity"]
    df = spark.read.parquet(pages_path).limit(300).select("url", "text")
    base = with_scores(df, cfg, "text").select("url", *cols).toPandas()

    npz = str(tmp_path / "langid_lm.npz")
    V.save_artifacts(npz, cfg.langs)
    os.environ["SPARK_LANGID_NPZ"] = npz
    try:
        shipped = with_scores(df, cfg, "text").select("url", *cols).toPandas()
    finally:
        del os.environ["SPARK_LANGID_NPZ"]
    m = base.merge(shipped, on="url", suffixes=("_a", "_b"))
    assert len(m) == len(base) == 300
    for c in cols:
        assert (m[f"{c}_a"] == m[f"{c}_b"]).all(), c


def test_shipped_npz_loaded_once_per_worker(tmp_path, monkeypatch):
    """Every task resolves the models; with a shipped artifact the
    resolver must hand back the one copy it loaded. A reload per task
    pinned a fresh ~1 MB langid transpose-cache entry per task for the
    life of the (reused) Python worker."""
    import numpy as np

    from curator_spark.config import QualityConfig
    from curator_spark.stages.score import resolve_models

    langs = QualityConfig().langs
    npz = str(tmp_path / "langid_lm.npz")
    V.save_artifacts(npz, langs)
    monkeypatch.setenv("SPARK_LANGID_NPZ", npz)
    V._TABLE_T_CACHE.clear()
    for _ in range(5):
        table, model_langs, lm = resolve_models(langs)
        V.langid_scores(["the cat sat on the mat"], model_langs, table)
    assert len(V._TABLE_T_CACHE) == 1
    assert model_langs == langs
    # the artifact's LM is the one scored with, not a worker retrain
    _, shipped_lm, _ = V.load_artifacts(npz)
    np.testing.assert_array_equal(lm, shipped_lm)


def test_spark_files_lookup_errors_propagate(spark, tmp_path, monkeypatch):
    """Only a process with no Spark context skips the SparkFiles lookup
    and uses the artifact path as given; an error inside the lookup
    itself (a programming error) propagates instead of being taken for
    "no context"."""
    from pyspark import SparkContext
    from pyspark.files import SparkFiles

    from curator_spark.config import QualityConfig
    from curator_spark.stages.score import resolve_models

    langs = QualityConfig().langs
    npz = str(tmp_path / "langid_lm.npz")
    V.save_artifacts(npz, langs)
    monkeypatch.setenv("SPARK_LANGID_NPZ", npz)

    def broken(cls, filename):
        raise AttributeError("broken SparkFiles lookup")

    monkeypatch.setattr(SparkFiles, "get", classmethod(broken))
    with pytest.raises(AttributeError, match="broken SparkFiles lookup"):
        resolve_models(langs)
    # no context at all: the lookup is skipped, not attempted
    monkeypatch.setattr(SparkContext, "_active_spark_context", None)
    assert resolve_models(langs)[1] == langs


def test_default_cores_shared_by_session_and_cli(monkeypatch):
    """get_spark and --cores fall back to one helper: SPARK_GRAFT_CPUS,
    else this process's CPU affinity (never a fixed 32)."""
    from curator_spark.engine.session import default_cores

    args = ["--input", "in", "--out", "out"]
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cores() == 3
    assert cli.build_parser().parse_args(args).cores == 3
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert default_cores() == len(os.sched_getaffinity(0))
    assert cli.build_parser().parse_args(args).cores == default_cores()
