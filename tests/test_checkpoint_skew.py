"""Checkpoint/resume semantics (north rule) + skew handling tests."""

import os

import pytest
from pyspark.sql import functions as F

from autoscan_spark.kernels.pagejoin import join_pages
from autoscan_spark.operators.extract import drop_failed, extract_turns
from autoscan_spark.operators.fold import fold_documents
from autoscan_spark.plans.checkpoint import CheckpointedExtraction
from autoscan_spark.plans.pipeline import with_bucket
from autoscan_spark.sources.transcripts import synthesize_transcripts

N_CONVS = 40


@pytest.fixture(scope="module")
def transcripts(spark):
    df = synthesize_transcripts(spark, N_CONVS, seed=7).cache()
    df.count()
    return df


def _read_sorted(spark, path, cols):
    return [
        tuple(r)
        for r in spark.read.parquet(path).select(*cols).orderBy(*cols).collect()
    ]


def test_kill_resume_no_duplicates(spark, transcripts, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("ckpt"))
    one_shot = CheckpointedExtraction(root=os.path.join(base, "oneshot"), n_buckets=8)
    resumed = CheckpointedExtraction(root=os.path.join(base, "resumed"), n_buckets=8)

    # reference: single uninterrupted run
    assert one_shot.run(transcripts, waves=1) == 8

    # killed run: 4 waves planned, die after 2 commits
    first = resumed.run(transcripts, waves=4, max_waves=2)
    assert 0 < first < 8
    committed_mid = resumed.committed_buckets(spark)
    assert len(committed_mid) == first

    # resume: only the remaining buckets are processed
    second = resumed.run(transcripts, waves=1)
    assert first + second == 8
    assert resumed.run(transcripts) == 0  # fully committed → no-op

    cols = ["conv_id", "turn_idx", "extracted_text", "status"]
    assert _read_sorted(spark, resumed.extracted_path, cols) == _read_sorted(
        spark, one_shot.extracted_path, cols
    )
    dcols = ["conv_id", "markdown"]
    assert _read_sorted(spark, resumed.docs_path, dcols) == _read_sorted(
        spark, one_shot.docs_path, dcols
    )

    # no duplicates: (conv_id, turn_idx) unique
    ex = spark.read.parquet(resumed.extracted_path)
    assert ex.count() == ex.select("conv_id", "turn_idx").distinct().count()


def test_recommit_partial_bucket_idempotent(spark, transcripts, tmp_path_factory):
    """Re-running a bucket (e.g. crash AFTER data write but BEFORE the lineage
    commit) must overwrite, not append."""
    base = str(tmp_path_factory.mktemp("ckpt2"))
    ck = CheckpointedExtraction(root=os.path.join(base, "c"), n_buckets=4)
    ck.run(transcripts, waves=4, max_waves=1)
    n1 = spark.read.parquet(ck.extracted_path).count()

    # simulate "data written, lineage commit lost": wipe lineage, rerun all
    import shutil

    shutil.rmtree(ck.lineage_path)
    ck.run(transcripts, waves=1)
    ex = spark.read.parquet(ck.extracted_path)
    assert ex.select("conv_id", "turn_idx").distinct().count() == ex.count()
    assert ex.count() >= n1


def test_lineage_contents(spark, transcripts, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("ckpt3"))
    ck = CheckpointedExtraction(root=os.path.join(base, "c"), n_buckets=4)
    ck.run(transcripts)
    lin = ck.lineage(spark)
    rows = lin.collect()
    assert {r["partition_id"] for r in rows} == {0, 1, 2, 3}
    assert sum(r["rows_in"] for r in rows) == transcripts.count()
    ok_count = drop_failed(extract_turns(transcripts, mode="low")).count()
    assert sum(r["rows_out"] for r in rows) == ok_count
    assert all(r["extractor_version"] == "ex-v1" for r in rows)
    assert all(r["wave_wall_s"] > 0 for r in rows)
    assert all(r["committed_at"] is not None for r in rows)
    # single run, waves=1 → one commit group, one shared wave wall
    assert {r["wave_id"] for r in rows} == {0}
    assert len({r["wave_wall_s"] for r in rows}) == 1


def test_lineage_wave_ids_distinguish_commit_groups(spark, transcripts, tmp_path_factory):
    """waves=4 over 4 buckets → each bucket is its own commit group: lineage
    must carry DISTINCT wave ids (and per-wave walls), so a wave's wall is
    never misread as a per-bucket measurement."""
    base = str(tmp_path_factory.mktemp("ckptw"))
    ck = CheckpointedExtraction(root=os.path.join(base, "c"), n_buckets=4)
    ck.run(transcripts, waves=4)
    rows = ck.lineage(spark).collect()
    assert len(rows) == 4
    assert {r["wave_id"] for r in rows} == {0, 1, 2, 3}
    assert all(r["wave_wall_s"] > 0 for r in rows)


def test_lineage_counts_per_bucket_with_empty_buckets(spark, transcripts, tmp_path_factory):
    """More buckets than conversations: every bucket still commits one
    lineage row, and rows_in/rows_out equal the per-bucket input turns and
    ok turns — 0/0 for a bucket no conversation hashes to."""
    n = 64
    base = str(tmp_path_factory.mktemp("ckpt_empty"))
    ck = CheckpointedExtraction(root=os.path.join(base, "c"), n_buckets=n)
    assert ck.run(transcripts) == n
    rows = ck.lineage(spark).collect()
    assert sorted(r["partition_id"] for r in rows) == list(range(n))

    def per_bucket(df):
        return {r["bucket"]: r["count"] for r in with_bucket(df, n).groupBy("bucket").count().collect()}

    want_in = per_bucket(transcripts)
    want_out = per_bucket(drop_failed(extract_turns(transcripts, mode="low")))
    assert len(want_in) < n  # some buckets really are empty
    assert {r["partition_id"]: r["rows_in"] for r in rows} == {b: want_in.get(b, 0) for b in range(n)}
    assert {r["partition_id"]: r["rows_out"] for r in rows} == {b: want_out.get(b, 0) for b in range(n)}


@pytest.mark.parametrize("mode", ["high", "low"])
def test_checkpointed_matches_pipeline(spark, tmp_path_factory, mode):
    """The checkpointed wave writes exactly what extract_pipeline computes
    with the same mode."""
    from autoscan_spark.plans.pipeline import extract_pipeline

    tr = synthesize_transcripts(spark, 24, seed=11)
    if mode == "high":
        # high mode fails fast on kernel errors, like the reference; low
        # mode keeps the -error conversations so the drop path is compared
        tr = tr.filter(~F.col("conv_id").endswith("-error"))
    base = str(tmp_path_factory.mktemp("ckpt_modes"))
    ck = CheckpointedExtraction(root=os.path.join(base, "c"), n_buckets=4, mode=mode)
    ck.run(tr, waves=2)

    extracted, docs = extract_pipeline(tr, mode=mode)
    cols = list(extracted.columns)
    assert _read_sorted(spark, ck.extracted_path, cols) == sorted(
        tuple(r) for r in extracted.select(*cols).collect()
    )
    dcols = list(docs.columns)
    assert _read_sorted(spark, ck.docs_path, dcols) == sorted(
        tuple(r) for r in docs.select(*dcols).collect()
    )


def test_resume_refuses_other_turn_range(spark, transcripts, tmp_path_factory):
    """The turn range is part of the checkpoint's identity: resuming a
    range-limited run without the range must fail, not mix ranges across
    buckets."""
    base = str(tmp_path_factory.mktemp("ckpt_range"))
    root = os.path.join(base, "c")
    ranged = CheckpointedExtraction(root=root, n_buckets=4, last_turn=3)
    assert ranged.run(transcripts, waves=4, max_waves=1) == 1
    ex = spark.read.parquet(ranged.extracted_path)
    assert ex.agg(F.max("turn_idx")).first()[0] <= 3
    with pytest.raises(ValueError, match="last_turn"):
        CheckpointedExtraction(root=root, n_buckets=4).run(transcripts)
    # the same range resumes
    assert ranged.run(transcripts) == 3


@pytest.mark.parametrize("waves", [1, 2])
def test_wave_reads_source_once(spark, transcripts, tmp_path_factory, waves):
    """Each wave scans the source once: the lineage counts come from the
    cached extraction output, not a second pass over the transcripts. An
    identity ``mapInArrow`` counts every source row an action reads."""
    acc = spark.sparkContext.accumulator(0)

    def count_rows(batches):
        for batch in batches:
            acc.add(batch.num_rows)
            yield batch

    src = transcripts.mapInArrow(count_rows, schema=transcripts.schema)
    base = str(tmp_path_factory.mktemp("ckpt_reads"))
    ck = CheckpointedExtraction(root=os.path.join(base, "c"), n_buckets=4)
    assert ck.run(src, waves=waves) == 4
    assert acc.value == waves * transcripts.count()


def test_one_wave_job_budget(spark, transcripts, tmp_path_factory):
    """A fresh one-wave run takes at most 6 Spark jobs: the first write
    builds the bucket-clustered cache (the repartition's map stage, the
    cache itself, then the extracted write); the doc_markdown write, the
    lineage-count aggregation and the lineage append then take one job each,
    with no shuffle. A fresh run reads no lineage."""
    base = str(tmp_path_factory.mktemp("ckpt_jobs"))
    ck = CheckpointedExtraction(root=os.path.join(base, "c"), n_buckets=4)
    sc = spark.sparkContext
    sc.setJobGroup("one_wave_job_budget", "one checkpoint wave")
    try:
        ck.run(transcripts, waves=1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("one_wave_job_budget")
    assert len(jobs) <= 6, f"{len(jobs)} jobs"


def test_one_file_per_bucket_per_table(spark, transcripts, tmp_path_factory):
    """One wave over a multi-partition input writes each bucket from one
    task: every non-empty bucket dir of both tables holds one parquet
    file."""
    base = str(tmp_path_factory.mktemp("ckpt_files"))
    ck = CheckpointedExtraction(root=os.path.join(base, "c"), n_buckets=8)
    assert ck.run(transcripts.repartition(4), waves=1) == 8
    for path in (ck.extracted_path, ck.docs_path):
        dirs = [d for d in os.listdir(path) if d.startswith("bucket=")]
        assert dirs
        files = {d: [f for f in os.listdir(os.path.join(path, d)) if f.endswith(".parquet")] for d in dirs}
        assert all(len(f) == 1 for f in files.values()), files


def test_unreadable_lineage_fails_the_run(spark, transcripts, tmp_path_factory):
    """A lineage file that cannot be read must fail the run, not read as
    "nothing committed": that would redo every committed bucket and append
    a second lineage row for each."""
    base = str(tmp_path_factory.mktemp("ckpt_badlin"))
    ck = CheckpointedExtraction(root=os.path.join(base, "c"), n_buckets=4)
    assert ck.run(transcripts, waves=4, max_waves=1) == 1
    with open(os.path.join(ck.lineage_path, "part-99999-planted.parquet"), "wb") as f:
        f.write(b"not a parquet file")
    with pytest.raises(Exception, match="part-99999-planted"):
        ck.run(transcripts)


def test_lineage_dir_without_data_files_commits_nothing(spark, tmp_path_factory):
    """A lineage dir holding no data file yet (the first commit died inside
    its write, leaving only ``_temporary``) reads as no committed bucket."""
    base = str(tmp_path_factory.mktemp("ckpt_tmplin"))
    ck = CheckpointedExtraction(root=os.path.join(base, "c"), n_buckets=4)
    os.makedirs(os.path.join(ck.lineage_path, "_temporary", "0"))
    assert ck.committed_buckets(spark) == set()
    assert ck.lineage(spark).count() == 0


def test_bucket_is_conv_stable(spark, transcripts):
    """Every conversation maps to exactly one bucket."""
    b = with_bucket(transcripts, 16)
    per_conv = b.groupBy("conv_id").agg(F.countDistinct("bucket").alias("n"))
    assert per_conv.filter("n != 1").count() == 0


# ---------------- skew ----------------


def test_fold_on_skewed_conversation(spark):
    """One 3,000-turn conversation folds in one aggregation buffer to
    exactly the reference join of its ok pages, in turn order."""
    skewed = synthesize_transcripts(spark, 10, seed=3, skew_conv_turns=3000)
    extracted = drop_failed(extract_turns(skewed, mode="low")).cache()
    hot = extracted.groupBy("conv_id").count().orderBy(F.desc("count")).first()
    assert hot["count"] >= 1000
    pages = [
        r["extracted_text"]
        for r in extracted.filter(F.col("conv_id") == hot["conv_id"])
        .orderBy("turn_idx")
        .collect()
    ]
    doc = fold_documents(extracted).filter(F.col("conv_id") == hot["conv_id"]).first()
    extracted.unpersist()
    assert doc["markdown"] == join_pages(pages)
    assert doc["n_turns"] == len(pages) == hot["count"]
    # the monster conversation really is there
    assert len(doc["markdown"]) > 100_000


def test_resume_refuses_old_lineage_schema(spark, tmp_path_factory):
    """A checkpoint written before the lineage-schema change (v1, no
    lineage_version in meta) must be refused, not silently appended to
    with a second parquet schema. A still older meta, written before
    ``polish`` entered it, lacks both keys and is refused the same way."""
    base = str(tmp_path_factory.mktemp("ck_ver"))
    ck = CheckpointedExtraction(root=os.path.join(base, "c"), n_buckets=4)
    ck._check_meta(spark)  # writes current meta
    meta = ck._read_meta(spark)
    assert meta["lineage_version"] >= 2
    del meta["lineage_version"]  # simulate a pre-versioning checkpoint
    ck._write_meta(spark, meta)
    fresh = CheckpointedExtraction(root=os.path.join(base, "c"), n_buckets=4)
    with pytest.raises(ValueError, match="lineage"):
        fresh._check_meta(spark)
    del meta["polish"]  # simulate a pre-polish checkpoint
    ck._write_meta(spark, meta)
    with pytest.raises(ValueError, match="lineage"):
        fresh._check_meta(spark)


def test_meta_of_uri_root_is_found_from_any_cwd(spark, tmp_path_factory, monkeypatch):
    """The identity check reads the meta from the data's filesystem: a
    ``file://`` root checked from one working directory must refuse a
    different bucket count checked from another, rather than write a
    second meta under ``<cwd>/file:/...``."""
    base = str(tmp_path_factory.mktemp("ck_uri"))
    root = "file://" + os.path.join(base, "c")
    monkeypatch.chdir(tmp_path_factory.mktemp("cwd_a"))
    CheckpointedExtraction(root=root, n_buckets=4)._check_meta(spark)
    monkeypatch.chdir(tmp_path_factory.mktemp("cwd_b"))
    with pytest.raises(ValueError, match="n_buckets"):
        CheckpointedExtraction(root=root, n_buckets=8)._check_meta(spark)
    assert os.path.exists(os.path.join(base, "c", "_checkpoint_meta.json"))
