"""Physical-plan assertions: the plan shapes we designed for 100 TB must
actually materialize — pushdown reaches the scan, the pipeline has exactly
the shuffles we budgeted, small dimensions broadcast."""

import re

import pytest

from pyspark.sql import functions as F

from autoscan_spark.operators.extract import drop_failed, extract_turns
from autoscan_spark.operators.fold import fold_documents
from autoscan_spark.sources.transcripts import synthesize_transcripts


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_turn_range_filter_pushed_to_scan(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plan")) + "/t"
    synthesize_transcripts(spark, 20, seed=4).write.parquet(path)
    tr = spark.read.parquet(path)
    ex = extract_turns(tr, mode="low", first_turn=2, last_turn=5)
    plan = _executed_plan(ex)
    # the turn_idx predicate must appear in PushedFilters of the parquet scan
    m = re.search(r"PushedFilters: \[(.*?)\]", plan)
    assert m, plan
    assert "turn_idx" in m.group(1), f"no pushdown: {m.group(1)}"


def test_column_pruning_reaches_scan(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plan2")) + "/t"
    synthesize_transcripts(spark, 20, seed=4).write.parquet(path)
    tr = spark.read.parquet(path)
    ex = extract_turns(tr, mode="low")
    plan = _executed_plan(ex)
    m = re.search(r"ReadSchema: (struct<[^>]*>)", plan)
    assert m, plan
    # tool and ts are never used by the kernel — they must be pruned
    assert "tool" not in m.group(1)
    assert "ts:" not in m.group(1)


def test_low_pipeline_has_exactly_one_shuffle(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plan3")) + "/t"
    synthesize_transcripts(spark, 20, seed=4).write.parquet(path)
    tr = spark.read.parquet(path)
    docs = fold_documents(drop_failed(extract_turns(tr, mode="low")))
    plan = _executed_plan(docs)
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, f"expected 1 shuffle, got {n_exchanges}:\n{plan}"
    # one Python crossing: the extraction kernel; the fold runs in the JVM
    assert plan.count("MapInArrow") == 1, plan
    assert "ArrowEvalPython" not in plan, plan


def test_high_pipeline_shuffle_budget(spark, tmp_path_factory):
    """High mode: exactly TWO exchanges — the repartition by conv_id feeding
    the serial kernel, and the fold agg's. The second is cheap in rows: the
    fold's partial aggregation (collect_list) completes within the already
    conversation-grouped partitions, so it moves ONE row per conversation,
    not raw turns. (MapInArrow output does not advertise the conv_id
    partitioning, so Catalyst cannot elide it outright.) Both modes run the
    one extraction kernel: a single MapInArrow and no scalar Python UDF."""
    path = str(tmp_path_factory.mktemp("plan4")) + "/t"
    synthesize_transcripts(spark, 20, seed=4).filter(
        ~F.col("conv_id").endswith("-error")
    ).write.parquet(path)
    tr = spark.read.parquet(path)
    docs = fold_documents(extract_turns(tr, mode="high"))
    plan = _executed_plan(docs)
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 2, f"expected 2 shuffles, got {n_exchanges}:\n{plan}"
    assert "partial_" in plan  # map-side partial aggregation present
    assert plan.count("MapInArrow") == 1, plan
    assert "ArrowEvalPython" not in plan, plan


@pytest.mark.parametrize("mode", ["low", "high"])
def test_clustered_wave_fold_and_counts_do_not_shuffle(spark, tmp_path_factory, mode):
    """A checkpoint wave caches the kernel output repartitioned by bucket.
    Above that cache, neither the fold (grouped by bucket and conv_id) nor
    the per-bucket lineage count adds an exchange, in either mode."""
    from autoscan_spark.plans.pipeline import extract_pipeline

    path = str(tmp_path_factory.mktemp("plan_wave")) + "/t"
    synthesize_transcripts(spark, 20, seed=4).write.parquet(path)
    src = spark.read.parquet(path)
    if mode == "high":
        # high mode fails the job on the -error conversations' payloads
        src = src.filter(~F.col("conv_id").endswith("-error"))
    extracted, docs = extract_pipeline(src, mode=mode, n_buckets=8)
    extracted.cache()
    try:
        extracted.count()  # populate, as the wave's first write does
        counts = extracted.groupBy("bucket").count()
        for df in (docs, counts):
            plan = _executed_plan(df)
            above_cache = plan.split("InMemoryRelation")[0]
            assert "InMemoryTableScan" in above_cache, plan
            assert "Exchange" not in above_cache, plan
            # the repartition by bucket sits inside the cache
            assert "Exchange hashpartitioning(bucket" in plan, plan
    finally:
        extracted.unpersist()


# Building the pipeline once took 695 gateway calls in low mode and 1,079
# for a 64-bucket wave, when the fold, the bucket and the wave filter were
# Column trees built one call per node; as SQL text they take 93 and 117.
# Rebuilding the page clean alone as a Column tree adds about 150.
PIPELINE_BUILD_CALL_BUDGET = 200


def test_pipeline_build_gateway_call_budget(spark, tmp_path_factory):
    """Building the pipeline's plan is driver time paid before any task
    runs, mostly in py4j round trips. The fold, the bucket and the wave
    filter are SQL text the engine parses in one call each; a rewrite back
    to per-node Column calls blows this budget instead of only slowing
    every run."""
    import threading

    from autoscan_spark.plans.pipeline import bucket_wave, extract_pipeline

    path = str(tmp_path_factory.mktemp("plan_calls")) + "/t"
    synthesize_transcripts(spark, 20, seed=4).write.parquet(path)
    src = spark.read.parquet(path)
    builds = {
        "low": lambda: extract_pipeline(src, mode="low"),
        "n_buckets=64": lambda: extract_pipeline(
            bucket_wave(src, 64, list(range(64))), mode="low", n_buckets=64
        ),
    }
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    caller = threading.get_ident()
    calls = [0]

    def counting(*args, **kwargs):
        # py4j's finalizer thread releases dead objects concurrently
        if threading.get_ident() == caller:
            calls[0] += 1
        return send(*args, **kwargs)

    counts = {}
    for name, build in builds.items():
        build()  # warm-up: first-use class and function lookups
        client.send_command = counting
        try:
            calls[0] = 0
            build()
            counts[name] = calls[0]
        finally:
            del client.send_command  # back to the class method
    assert all(n <= PIPELINE_BUILD_CALL_BUDGET for n in counts.values()), counts


def test_broadcast_join_for_small_dimension(spark, sf_dir):
    from autoscan_spark.plans.driver_queries import q_orders_by_nation

    plan = _executed_plan(q_orders_by_nation(spark, sf_dir))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_minhash_plan_shape(spark, sf_dir):
    """MinHash signature plan: the per-shingle xxhash64 pre-hash stays a JVM
    ``transform`` (pins Spark's hash function, whole-stage codegen eligible);
    the 64 modular permutations run in exactly ONE Arrow-batched kernel —
    never row-at-a-time Python, never one lambda per permutation (the old
    64-interpreted-lambda form cost ~25 s of JIT warmup per executor)."""
    from autoscan_spark.operators.dedup import minhash_signatures, word_shingles
    from autoscan_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    sig = minhash_signatures(word_shingles(docs), num_hashes=16)
    plan = _executed_plan(sig)
    assert "transform" in plan and "xxhash64" in plan
    assert "BatchEvalPython" not in plan  # row-at-a-time Python forbidden
    assert plan.count("ArrowEvalPython") == 1


def test_minhash_verify_prunes_before_shingling(spark, sf_dir):
    """The Jaccard-verify step must re-shingle only candidate rows: the
    broadcast left-semi prune on pair ids sits BELOW the shingle
    projection (built explicitly — Spark 4.1 does not push a semi-join
    below a Project), so no `array_distinct` shingle computation appears
    anywhere beneath a LeftSemi join. Handing verify the corpus-wide
    shingled frame would shuffle corpus-sized arrays at 100 TB."""
    from autoscan_spark.operators.dedup import minhash_dedup
    from autoscan_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = minhash_dedup(docs, threshold=0.1, n=3, num_hashes=16, bands=8)
    lines = out._jdf.queryExecution().optimizedPlan().toString().split("\n")

    def indent(line):
        return len(line) - len(line.lstrip(" :+-"))

    semi_joins = 0
    for i, line in enumerate(lines):
        if "Join LeftSemi" not in line:
            continue
        semi_joins += 1
        d = indent(line)
        for below in lines[i + 1:]:
            if below.strip() and indent(below) <= d:
                break
            assert "array_distinct" not in below, (
                "shingle computation beneath the candidate-id semi-join:\n"
                + below
            )
    assert semi_joins >= 2  # one per verify side


def test_minhash_signature_matches_reference_formula(spark, sf_dir):
    """The vectorized kernel is bit-identical to the definition
    sig[i] = min_s (a_i * (xxhash64(s) mod P) + b_i) mod P: recompute in
    plain Python from JVM-side xxhash64 values and compare."""
    from autoscan_spark.operators.dedup import (
        _P,
        _perm_params,
        minhash_signatures,
        word_shingles,
    )
    from autoscan_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(20)
    shingled = word_shingles(docs)
    got = {
        r["doc_id"]: r["signature"]
        for r in minhash_signatures(shingled, num_hashes=16).select(
            "doc_id", "signature"
        ).collect()
    }
    hashed = shingled.selectExpr(
        "doc_id", "transform(shingles, s -> pmod(xxhash64(s), 2147483647)) AS hs"
    ).collect()
    params = _perm_params(16)
    for r in hashed:
        want = [min((a * h + b) % _P for h in r["hs"]) for a, b in params]
        assert got[r["doc_id"]] == want


def test_cosine_is_jvm_side(spark, sf_dir):
    from autoscan_spark.plans.driver_queries import q_embedding_cosine

    plan = _executed_plan(q_embedding_cosine(spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_ivf_recall_candidates_need_no_distinct(spark, sf_dir):
    """A corpus row lies in one cell and a query probes distinct cells, so
    ivf_recall's (query, neighbor) candidates are unique without a
    ``distinct``: the only aggregate left in its plan is the per-query hit
    count, and none is keyed on the candidates' vector arrays."""
    from autoscan_spark.plans.driver_queries import q_ivf_recall_at_5

    plan = _executed_plan(q_ivf_recall_at_5(spark, sf_dir))
    keys = re.findall(r"Aggregate\(keys=\[([^\]]*)\]", plan)
    assert keys, plan
    assert all(re.fullmatch(r"query_id#\d+L?", k) for k in keys), keys


def test_words_split_evaluated_once_per_plan(spark, sf_dir):
    """The tokenizing split is hoisted into one projection (with_words);
    inlining it would evaluate it once per consumer expression (5× in
    lang_id, 4× in quality_features, 3× in repetition_stats, once per
    shingle, window or bigram in the lambda-bearing ops) because
    Catalyst has no CSE across lambda-bearing expressions. CollapseProject
    must NOT re-inline the non-cheap producer."""
    from autoscan_spark.operators.dedup import winnow_fingerprints, word_shingles
    from autoscan_spark.operators.textstats import (
        bigram_rarity,
        lang_id,
        oov_rate,
        quality_features,
        repetition_stats,
        tfidf_top_terms,
        token_frequencies,
        word_entropy,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for op in (
        lang_id,
        quality_features,
        repetition_stats,
        word_shingles,
        winnow_fingerprints,
        bigram_rarity,
        word_entropy,
        token_frequencies,
        tfidf_top_terms,
    ):
        plan = _executed_plan(op(docs))
        n = plan.count("split(trim(lower")
        assert n == 1, f"{op.__name__}: split evaluated {n}× in plan:\n{plan[:2000]}"
    # an explode over the words must not get a split re-evaluated in an
    # inferred filter; oov_rate's vocabulary and per-doc branches each scan
    # the input, so it holds one split per branch
    plan = _executed_plan(oov_rate(docs))
    n = plan.count("split(trim(lower")
    assert n == 2, f"oov_rate: split evaluated {n}× in plan (want 1 per branch):\n{plan[:2000]}"


def test_ngram_jaccard_builds_grams_once_per_side(spark, tmp_path_factory):
    """Gram arrays are materialized once per side, then referenced by both
    array_intersect and array_union — the inlined form builds each array
    twice per pair."""
    import pandas as pd

    from autoscan_spark.operators.dedup import ngram_jaccard

    # must be a file-backed source: ConvertToLocalRelation constant-folds a
    # LocalRelation straight through the projections
    path = str(tmp_path_factory.mktemp("plan_ngram")) + "/pairs"
    spark.createDataFrame(
        pd.DataFrame([("abcdef", "abcxyz")], columns=["text_a", "text_b"])
    ).write.parquet(path)
    pairs = spark.read.parquet(path)
    plan = _executed_plan(ngram_jaccard(pairs))
    n = plan.count("array_distinct(CASE WHEN")
    assert n == 2, f"gram arrays built {n}× (want 2 = once per side):\n{plan[:2000]}"


def test_bucketed_tables_join_without_shuffle(spark, tmp_path_factory):
    """Bucketing is the 100-TB co-location strategy: two tables bucketed by
    the same key join WITHOUT any exchange — the sort-merge join reads
    bucket files directly. This is the layout the checkpointed sink's
    bucket(n, conv_id) scheme maps onto for Iceberg."""
    import uuid

    from autoscan_spark.sources.transcripts import synthesize_transcripts

    tr = synthesize_transcripts(spark, 30, seed=9)
    a = f"bkt_a_{uuid.uuid4().hex[:8]}"
    b = f"bkt_b_{uuid.uuid4().hex[:8]}"
    # force sort-merge: at test size the planner would broadcast the small
    # side (which also disables bucketed scans); at 100 TB neither side fits
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        tr.select("conv_id", "turn_idx", "text").write.bucketBy(
            8, "conv_id"
        ).sortBy("conv_id").mode("overwrite").saveAsTable(a)
        tr.groupBy("conv_id").count().write.bucketBy(8, "conv_id").sortBy(
            "conv_id"
        ).mode("overwrite").saveAsTable(b)

        joined = spark.table(a).join(spark.table(b), "conv_id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        n_ex = plan.count("Exchange")
        assert n_ex == 0, f"bucketed join still shuffles ({n_ex} exchanges):\n{plan[:2000]}"
        assert "SortMergeJoin" in plan
        # and it is not just a plan artifact — the join actually runs
        assert joined.count() == tr.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.sql(f"DROP TABLE IF EXISTS {a}")
        spark.sql(f"DROP TABLE IF EXISTS {b}")


def test_line_dedup_shuffle_budget(spark, sf_dir):
    """line_dedup costs exactly TWO hash shuffles — the corpus-wide
    first-occurrence window on the 128-bit line hash, and the per-doc
    reassembly groupBy. The totals join must not add a third (broadcast
    at test size; co-partitioned on doc_id at scale)."""
    from autoscan_spark.operators.dedup import line_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _executed_plan(line_dedup(docs))
    n = plan.count("Exchange hashpartitioning")
    assert n == 2, f"expected 2 shuffles, got {n}:\n{plan[:2000]}"


def test_temperature_sample_broadcasts_rates(spark, sf_dir):
    """The sampling pass is shuffle-free: the only exchange is the tiny
    per-stratum count agg, and the rates table joins back by BROADCAST —
    the 100 TB side is never shuffled."""
    from autoscan_spark.operators.sampling import temperature_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _executed_plan(temperature_sample(docs, "lang", "doc_id"))
    assert "BroadcastHashJoin" in plan, plan[:2000]
    n = plan.count("Exchange hashpartitioning")
    assert n == 1, f"expected 1 shuffle (counts agg only), got {n}:\n{plan[:2000]}"


def test_shipping_priority_topk_is_takeordered(spark, sf_dir):
    """Deterministic top-10 compiles to TakeOrderedAndProject (per-partition
    heap + driver merge), never a global sort."""
    from autoscan_spark.plans.driver_queries import q_shipping_priority

    plan = _executed_plan(q_shipping_priority(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan[:2000]
    assert "Sort [revenue_c4" not in plan
