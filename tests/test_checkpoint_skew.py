"""Checkpoint/resume semantics (north rule) + skew handling tests."""

import os

import pytest
from pyspark.sql import functions as F

from autoscan_spark.operators.extract import drop_failed, extract_turns
from autoscan_spark.operators.fold import fold_documents
from autoscan_spark.plans.checkpoint import CheckpointedExtraction, with_bucket
from autoscan_spark.plans.salting import partition_sizes, salted_repartition
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


@pytest.mark.parametrize("mode,two_phase", [("high", False), ("low", True)])
def test_checkpointed_matches_pipeline(spark, tmp_path_factory, mode, two_phase):
    """The checkpointed wave writes exactly what extract_pipeline computes
    with the same mode and fold strategy."""
    from autoscan_spark.plans.pipeline import extract_pipeline

    # high mode fails fast on kernel errors, like the reference
    tr = synthesize_transcripts(spark, 24, seed=11).filter(~F.col("conv_id").endswith("-error"))
    base = str(tmp_path_factory.mktemp("ckpt_modes"))
    ck = CheckpointedExtraction(
        root=os.path.join(base, "c"), n_buckets=4, mode=mode, two_phase_fold=two_phase
    )
    ck.run(tr, waves=2)

    extracted, docs = extract_pipeline(tr, mode=mode, two_phase_fold=two_phase)
    cols = list(extracted.columns)
    assert _read_sorted(spark, ck.extracted_path, cols) == sorted(
        tuple(r) for r in extracted.select(*cols).collect()
    )
    dcols = list(docs.columns)
    assert _read_sorted(spark, ck.docs_path, dcols) == sorted(
        tuple(r) for r in docs.select(*dcols).collect()
    )


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
    """A fresh one-wave run takes at most 6 Spark jobs: the extracted and
    doc_markdown writes, one lineage-count aggregation and the lineage
    append (the shuffled steps add their AQE map-stage jobs)."""
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


def test_bucket_is_conv_stable(spark, transcripts):
    """Every conversation maps to exactly one bucket."""
    b = with_bucket(transcripts, 16)
    per_conv = b.groupBy("conv_id").agg(F.countDistinct("bucket").alias("n"))
    assert per_conv.filter("n != 1").count() == 0


# ---------------- skew ----------------


def test_salted_repartition_bounds_skew(spark):
    """One 5000-turn conversation among 1-turn conversations: salting must
    spread the monster across partitions."""
    skewed = synthesize_transcripts(
        spark, 40, seed=3, skew_conv_turns=5000
    )
    from pyspark.sql import functions as F

    salted = salted_repartition(skewed, 32, salts=16)
    sizes = partition_sizes(salted)
    total = sum(sizes)
    assert total == skewed.count()

    # unsalted baseline: repartition by conv_id puts all 5000 monster turns
    # in ONE partition
    unsalted_sizes = partition_sizes(skewed.repartition(32, F.col("conv_id")))
    assert max(unsalted_sizes) >= 5000

    # salted: the monster is spread over up to 16 salt groups; even with
    # group→partition hash collisions no partition should hold more than a
    # quarter of it
    assert max(sizes) <= 5000 / 4, f"sizes={sorted(sizes, reverse=True)[:5]}"


def test_two_phase_fold_on_skewed_conversation(spark):
    skewed = synthesize_transcripts(spark, 10, seed=3, skew_conv_turns=3000)
    extracted = drop_failed(extract_turns(skewed, mode="low")).cache()
    flat = {r["conv_id"]: r["markdown"] for r in fold_documents(extracted).collect()}
    two = {
        r["conv_id"]: r["markdown"]
        for r in fold_documents(extracted, two_phase=True, chunk_size=256).collect()
    }
    extracted.unpersist()
    assert flat == two
    # the monster conversation really is there
    assert any(len(v) > 100_000 for v in two.values())


def test_resolve_fold_strategy_auto(spark):
    """'auto' picks flat for uniform corpora, two-phase when a sampled
    estimate finds a hot conversation; bools pass through untouched."""
    from pyspark.sql import functions as F

    from autoscan_spark.operators.fold import resolve_fold_strategy

    flat = spark.range(0, 20_000).select(
        F.concat(F.lit("c"), (F.col("id") % 2000).cast("string")).alias("conv_id")
    )
    assert resolve_fold_strategy(flat, "auto", sample_fraction=0.05,
                                 threshold_turns=1000) is False
    skew = spark.range(0, 50_000).select(F.lit("hot").alias("conv_id")).union(flat)
    assert resolve_fold_strategy(skew, "auto", sample_fraction=0.05,
                                 threshold_turns=1000) is True
    # non-auto values resolve without any action
    assert resolve_fold_strategy(flat, True) is True
    assert resolve_fold_strategy(flat, False) is False
    # empty input → flat (no evidence of skew)
    assert resolve_fold_strategy(flat.limit(0), "auto") is False


def test_pipeline_auto_fold_output_invariant(spark):
    """two_phase_fold='auto' must not change results — only the physical
    fold strategy."""
    from autoscan_spark.plans.pipeline import extract_pipeline

    tr = synthesize_transcripts(spark, 10, seed=3, skew_conv_turns=3000)
    _, auto_docs = extract_pipeline(tr, two_phase_fold="auto", fold_chunk_size=256)
    _, flat_docs = extract_pipeline(tr, two_phase_fold=False)
    a = {r["conv_id"]: r["markdown"] for r in auto_docs.collect()}
    f = {r["conv_id"]: r["markdown"] for r in flat_docs.collect()}
    assert a == f


def test_salted_extraction_identical_results(spark):
    """Salting changes physical partitioning only — extraction output must be
    identical with and without it."""
    from autoscan_spark.operators.extract import extract_turns

    tr = synthesize_transcripts(spark, 30, seed=9)
    plain = {
        (r["conv_id"], r["turn_idx"]): (r["extracted_text"], r["status"])
        for r in extract_turns(tr, mode="low").collect()
    }
    salted = {
        (r["conv_id"], r["turn_idx"]): (r["extracted_text"], r["status"])
        for r in extract_turns(
            salted_repartition(tr, 16, salts=8), mode="low"
        ).collect()
    }
    assert plain == salted


def test_resume_refuses_old_lineage_schema(spark, tmp_path_factory):
    """A checkpoint written before the lineage-schema change (v1, no
    lineage_version in meta) must be refused, not silently appended to
    with a second parquet schema."""
    import json

    import pytest

    base = str(tmp_path_factory.mktemp("ck_ver"))
    ck = CheckpointedExtraction(root=os.path.join(base, "c"), n_buckets=4)
    ck._check_meta()  # writes current meta
    with open(ck._meta_path) as f:
        meta = json.load(f)
    assert meta["lineage_version"] >= 2
    del meta["lineage_version"]  # simulate a pre-versioning checkpoint
    with open(ck._meta_path, "w") as f:
        json.dump(meta, f)
    fresh = CheckpointedExtraction(root=os.path.join(base, "c"), n_buckets=4)
    with pytest.raises(ValueError, match="lineage"):
        fresh._check_meta()
