"""Smoke test for the spark-submit job entrypoint (reference U2/U3 analog)."""

import json
import os
import subprocess
import sys

from autoscan_spark.sources.transcripts import synthesize_transcripts

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_extract_job_cli(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("job"))
    src = os.path.join(base, "transcripts")
    out = os.path.join(base, "out")
    synthesize_transcripts(spark, 15, seed=21).write.parquet(src)

    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    res = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO_ROOT, "jobs", "extract_job.py"),
            "--input", src,
            "--output", out,
            "--mode", "low",
            "--buckets", "4",
            "--waves", "2",
        ],
        capture_output=True,
        text=True,
        env=env,
        check=True,
    )
    stats = json.loads(res.stdout.strip().splitlines()[-1])
    assert stats["committed_buckets"] == 4
    assert stats["n_turns"] > 0

    ex = spark.read.parquet(os.path.join(out, "extracted"))
    docs = spark.read.parquet(os.path.join(out, "doc_markdown"))
    lineage = spark.read.parquet(os.path.join(out, "lineage"))
    assert ex.count() == stats["n_turns"]
    assert docs.count() == 15
    assert lineage.count() == 4

    # re-run resumes to a no-op
    res2 = subprocess.run(
        [sys.executable, os.path.join(REPO_ROOT, "jobs", "extract_job.py"),
         "--input", src, "--output", out, "--buckets", "4"],
        capture_output=True, text=True, env=env, check=True,
    )
    stats2 = json.loads(res2.stdout.strip().splitlines()[-1])
    assert stats2["committed_buckets"] == 0
    # the summary counts only turns committed by this call
    assert stats2["n_turns"] == 0


def test_extract_job_polish_checkpointed(spark, tmp_path_factory):
    """--polish must apply on the (default) checkpointed path too — the
    committed doc_markdown equals the batch polish_documents(fold) output."""
    base = str(tmp_path_factory.mktemp("job_polish"))
    src = os.path.join(base, "transcripts")
    out = os.path.join(base, "out")
    synthesize_transcripts(spark, 12, seed=33).write.parquet(src)

    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    subprocess.run(
        [sys.executable, os.path.join(REPO_ROOT, "jobs", "extract_job.py"),
         "--input", src, "--output", out, "--buckets", "4", "--polish"],
        capture_output=True, text=True, env=env, check=True,
    )
    got = {
        r["conv_id"]: r["markdown"]
        for r in spark.read.parquet(os.path.join(out, "doc_markdown")).collect()
    }

    from autoscan_spark.plans.pipeline import extract_pipeline

    _, docs = extract_pipeline(spark.read.parquet(src), mode="low", polish=True)
    want = {r["conv_id"]: r["markdown"] for r in docs.collect()}
    assert got == want and len(got) == 12

    # polish is checkpoint identity: resuming WITHOUT --polish must refuse,
    # not silently mix polished and unpolished buckets
    res = subprocess.run(
        [sys.executable, os.path.join(REPO_ROOT, "jobs", "extract_job.py"),
         "--input", src, "--output", out, "--buckets", "4"],
        capture_output=True, text=True, env=env,
    )
    assert res.returncode != 0
    assert "refusing to mix" in res.stderr


def test_no_checkpoint_cache_gives_single_kernel_pass(spark, tmp_path_factory):
    """The checkpoint wave caches extract_pipeline's extraction output, so
    the docs fold reads InMemoryTableScan instead of re-running the kernel
    stage."""
    from autoscan_spark.plans.pipeline import extract_pipeline

    transcripts = synthesize_transcripts(spark, 5, seed=7)
    extracted, docs = extract_pipeline(transcripts, mode="low")
    extracted.cache()
    try:
        extracted.count()  # populate, as the wave's first write does
        plan = docs._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryRelation" in plan
        # the extraction kernel (MapInArrow) must appear only INSIDE the
        # InMemoryRelation's cached-plan printout, never above the cache
        # boundary — i.e. the fold reads the cache, not a re-run kernel
        above_cache = plan.split("InMemoryRelation")[0]
        assert "InMemoryTableScan" in above_cache
        assert "MapInArrow" not in above_cache
    finally:
        extracted.unpersist()


def test_spark_submit_pyfiles_end_to_end(spark, tmp_path_factory):
    """The north rule's own submission shape: a REAL `spark-submit
    --py-files autoscan_spark.zip` run, launched from a neutral working
    directory so executor python workers can only import the package
    from the shipped archive (a run with an empty zip fails there with
    ModuleNotFoundError — that control was verified when this protocol
    landed). Skipped where the spark-submit launcher is absent."""
    import shutil

    spark_submit = shutil.which("spark-submit")
    if spark_submit is None:
        import pytest

        pytest.skip("spark-submit launcher not on PATH")
    base = str(tmp_path_factory.mktemp("submit"))
    src = os.path.join(base, "transcripts")
    synthesize_transcripts(spark, 10, seed=5).write.parquet(src)

    sys.path.insert(0, os.path.join(REPO_ROOT, "scripts"))
    from make_pyfiles_zip import build_zip

    zip_path = build_zip(os.path.join(base, "autoscan_spark.zip"))
    neutral = os.path.join(base, "neutral_cwd")
    os.makedirs(neutral)
    res = subprocess.run(
        [
            spark_submit, "--master", "local[2]",
            "--py-files", zip_path,
            os.path.join(REPO_ROOT, "jobs", "extract_job.py"),
            "--input", src,
            "--output", os.path.join(base, "out"),
            "--mode", "low",
            "--buckets", "2",
        ],
        capture_output=True,
        text=True,
        cwd=neutral,
        check=True,
        timeout=240,
    )
    stats = json.loads(res.stdout.strip().splitlines()[-1])
    assert stats["committed_buckets"] == 2
    assert stats["n_turns"] > 0
    docs = spark.read.parquet(os.path.join(base, "out", "doc_markdown"))
    assert docs.count() == 10
