"""Tests for dedup, similarity and textstats operators."""

import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from autoscan_spark.operators.dedup import (
    exact_dedup,
    minhash_dedup,
    minhash_signatures,
    ngram_jaccard,
    simhash64,
    simhash_near_pairs,
    survivors_from_pairs,
    word_shingles,
)
from autoscan_spark.operators.similarity import (
    bruteforce_topk,
    cosine_pairs,
    embedding_near_dups,
    ivf_topk,
    lsh_recall,
    lsh_topk,
)
from autoscan_spark.operators.textstats import (
    content_fingerprint,
    fingerprint,
    lang_id,
    quality_features,
    token_counts,
)

BASE = "the quick brown fox jumps over the lazy dog near the river bank today"


@pytest.fixture(scope="module")
def docs(spark):
    near = BASE.replace("lazy", "sleepy")  # 1-word change → high jaccard
    rows = [
        (0, BASE),
        (1, BASE),                      # exact dup of 0
        (2, near),                      # near dup of 0
        (3, "completely different content about spark arrow shuffle partitions"),
        (4, "der hund und die katze sind nicht mit der maus im haus der stadt"),
        (5, "el perro y el gato que es una historia por la ciudad para todos"),
    ]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


def test_exact_dedup(spark, docs):
    kept = exact_dedup(docs)
    ids = {r["doc_id"] for r in kept.collect()}
    assert ids == {0, 2, 3, 4, 5}  # doc 1 (exact dup, larger id) dropped


def test_minhash_pipeline_finds_near_dups(spark, docs):
    pairs = minhash_dedup(docs, threshold=0.5)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (0, 1) in got  # exact dup always survives
    assert (0, 2) in got or (1, 2) in got  # near dup found
    assert all(a < b for a, b in got)
    assert not any({a, b} & {3, 4, 5} and {a, b} & {0, 1, 2} for a, b in got)

    survivors = survivors_from_pairs(docs, pairs)
    ids = {r["doc_id"] for r in survivors.collect()}
    assert 0 in ids and 1 not in ids


def test_minhash_signature_properties(spark, docs):
    sig = minhash_signatures(word_shingles(docs), num_hashes=32)
    rows = {r["doc_id"]: r["signature"] for r in sig.collect()}
    assert all(len(v) == 32 for v in rows.values())
    assert rows[0] == rows[1]  # identical text → identical signature
    agree = sum(x == y for x, y in zip(rows[0], rows[2]))
    assert agree >= 16  # near dup: most hashes agree
    agree_far = sum(x == y for x, y in zip(rows[0], rows[3]))
    assert agree_far <= 8


def test_simhash_near_pairs(spark, docs):
    sim = simhash64(docs)
    vals = {r["doc_id"]: r["simhash"] for r in sim.collect()}
    assert vals[0] == vals[1]
    pairs = simhash_near_pairs(sim, max_hamming=16, allow_approximate=True)
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs.collect()}
    assert got.get((0, 1)) == 0


def test_simhash_matches_definition(spark, docs):
    """The vectorized (unique-token, bincount-accumulated) kernel must be
    bit-identical to the definitional per-occurrence simhash."""
    import hashlib

    def reference_simhash(t):
        tokens = (t or "").lower().split()
        if not tokens:
            return 0
        acc = [0] * 64
        for tok in tokens:
            h = int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "big")
            for j in range(64):
                acc[j] += 1 if (h >> j) & 1 else -1
        sh = sum(1 << j for j in range(64) if acc[j] > 0)
        return sh - (1 << 64) if sh >= (1 << 63) else sh

    cases = docs.collect() + [(99, ""), (100, None), (101, "dup dup dup x")]
    df = spark.createDataFrame(
        pd.DataFrame([(r[0], r[1]) for r in cases], columns=["doc_id", "text"])
    )
    got = {r["doc_id"]: r["simhash"] for r in simhash64(df).collect()}
    for did, text in [(r[0], r[1]) for r in cases]:
        assert got[did] == reference_simhash(text), f"doc {did}"


def test_simhash_banding_guarantee_enforced(spark, docs):
    sim = simhash64(docs)
    with pytest.raises(ValueError, match="guarantee recall only"):
        simhash_near_pairs(sim, max_hamming=12)  # 4 chunks guarantee <= 3
    with pytest.raises(ValueError, match="divide 64"):
        simhash_near_pairs(sim, n_chunks=5)


def test_simhash_recall_exact_within_guarantee(spark, sf_dir):
    """Within the pigeonhole radius (n_chunks-1), banded pairs == exact
    all-pairs hamming filter — recall is provably 1.0, verified here."""
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .limit(200)
    )
    sim = simhash64(docs)
    banded = simhash_near_pairs(sim, max_hamming=7, n_chunks=8)
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in banded.collect()}

    a = sim.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("sh_a"))
    b = sim.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("sh_b"))
    exact = (
        a.crossJoin(b)
        .filter("id_a < id_b")
        .withColumn("hamming", F.expr("bit_count(sh_a ^ sh_b)"))
        .filter("hamming <= 7")
    )
    want = {(r["id_a"], r["id_b"]): r["hamming"] for r in exact.collect()}
    assert got == want


def test_minhash_pairs_pinned_sf001(spark):
    """Pin the driver query's pair output at sf0.01 (judge round-1 result:
    25 pairs). Guards plan-optimization work (signature materialization,
    repartition barriers) against silently changing results."""
    import hashlib
    import os

    sf = "/root/testdata/sf0.01"
    if not os.path.exists(f"{sf}/documents.parquet"):
        pytest.skip("sf0.01 testdata absent")
    from autoscan_spark.plans.driver_queries import q_minhash_pairs

    rows = sorted(
        (r["id_a"], r["id_b"], r["jaccard_r"])
        for r in q_minhash_pairs(spark, sf).collect()
    )
    assert len(rows) == 25
    digest = hashlib.md5(repr(rows).encode()).hexdigest()
    assert digest == "ef1595bf2724292071505172e20740f7"


def test_minhash_signature_barrier_in_plan(spark, docs):
    """The LSH banding must read materialized signatures (localCheckpoint →
    ExistingRDD scan), not re-derive them — without the barrier each band
    hash re-evaluates the full 64-hash signature on both join sides."""
    pairs = minhash_dedup(docs, threshold=0.5)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan


def test_ngram_jaccard(spark):
    pairs = spark.createDataFrame(
        pd.DataFrame([("abcdef", "abcdef"), ("abcdef", "uvwxyz")],
                     columns=["text_a", "text_b"])
    )
    out = ngram_jaccard(pairs).collect()
    assert out[0]["jaccard"] == 1.0
    assert out[1]["jaccard"] == 0.0


# ---------------- similarity ----------------


@pytest.fixture(scope="module")
def vectors(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_bruteforce_topk_matches_numpy(spark, vectors):
    queries = vectors.filter(F.col("vec_id") < 3)
    got = bruteforce_topk(vectors, queries, k=5)
    res = {}
    for r in got.collect():
        res.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"], r["cosine"]))

    pdf = vectors.toPandas().sort_values("vec_id")
    mat = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
    ids = pdf["vec_id"].to_numpy()
    nm = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = nm @ nm.T
    for q in range(3):
        order = [
            int(ids[j])
            for j in sorted(
                range(len(ids)),
                key=lambda j: (-round(sims[q, j], 12), ids[j]),
            )
            if ids[j] != q
        ][:5]
        got_ids = [nid for _, nid, _ in sorted(res[q])]
        assert got_ids == order, f"query {q}"


def test_lsh_topk_recall(spark, vectors):
    queries = vectors.filter(F.col("vec_id") < 10)
    exact = bruteforce_topk(vectors, queries, k=5)
    # the synthetic embeddings are near-uniform (max off-diag cosine ~0.48),
    # the hardest case for hyperplane LSH — wide buckets (4 planes) with 12
    # tables give ~0.84 recall in a numpy simulation of this exact corpus
    approx = lsh_topk(vectors, queries, dim=64, k=5, n_planes=4, n_tables=12)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.6, f"LSH recall too low: {recall}"


def test_md5_hyperplanes_deterministic_and_bounded():
    from autoscan_spark.operators.similarity import md5_hyperplanes

    a = md5_hyperplanes(3, 4, 16)
    b = md5_hyperplanes(3, 4, 16)
    assert a.shape == (3, 4, 16)
    assert (a == b).all()  # pure function of (t, p, d) — no RNG state
    assert (a >= -0.5).all() and (a < 0.5).all()
    # distinct (t, p) slices must be distinct directions
    assert not (a[0, 0] == a[1, 0]).all()
    assert not (a[0, 0] == a[0, 1]).all()


def _round6_half_up(x: float) -> float:
    """Spark's ``round(double, 6)``: HALF_UP on the double's decimal form."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))


def test_lsh_recall_counts_match_set_overlap(spark, vectors):
    """lsh_recall's n_hits must equal, per query, the literal set overlap
    of two top-5 id sets replayed in numpy with no Spark operator: the
    md5-plane signatures, the bucket-colliding candidates ranked by
    (round(cos, 6) DESC, id ASC), and the exact top-5 under the same
    ranking. Dots and norms accumulate sequentially (``cumsum``) in
    float64, as the JVM folds do, so the rounded cosines are the engine's."""
    from autoscan_spark.operators.similarity import lsh_recall, md5_hyperplanes

    queries = vectors.filter(F.col("vec_id") < 8)
    planes = md5_hyperplanes(12, 5, 64)
    got = {
        r["query_id"]: (r["n_hits"], r["recall_ppm"])
        for r in lsh_recall(vectors, queries, k=5, planes_matrix=planes).collect()
    }
    pdf = vectors.toPandas().sort_values("vec_id")
    ids = pdf["vec_id"].to_numpy()
    mat = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
    weights = 1 << np.arange(planes.shape[1], dtype=np.int64)
    sigs = np.stack([((mat @ p.T) > 0) @ weights for p in planes], axis=1)
    norms = np.sqrt(np.cumsum(mat * mat, axis=1)[:, -1])

    def cos_r(i, j):
        dot = np.cumsum(mat[i] * mat[j])[-1]
        return _round6_half_up(float(dot / (norms[i] * norms[j])))

    def top5(i, cands):
        return set(sorted(cands, key=lambda j: (-cos_r(i, j), ids[j]))[:5])

    want = {}
    for i in np.nonzero(ids < 8)[0]:
        others = [j for j in range(len(ids)) if j != i]
        colliding = [j for j in others if (sigs[j] == sigs[i]).any()]
        want[int(ids[i])] = len(top5(i, colliding) & top5(i, others))
    assert sorted(got) == sorted(want)
    for q, (n, ppm) in got.items():
        assert n == want[q], f"query {q}: n_hits {n} != replay {want[q]}"
        assert ppm == n * 200000
    # the replay must exercise both a partial and a non-trivial overlap
    assert 0 < sum(want.values()) < 5 * len(want)


def test_ivf_topk_runs_and_overlaps(spark, vectors):
    queries = vectors.filter(F.col("vec_id") < 5)
    exact = bruteforce_topk(vectors, queries, k=5)
    approx = ivf_topk(vectors, queries, k=5, n_cells=8, nprobe=4)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    assert len(a) > 0
    assert len(e & a) / len(e) >= 0.3


def test_ivf_kmeans_refinement(spark, vectors):
    """Spherical k-means quantizer training: Lloyd objective (mean
    max-cosine on the training sample) is monotonically non-decreasing,
    refinement is deterministic, and refined IVF still overlaps exact
    top-k at least as well as the recall floor."""
    import numpy as np

    from autoscan_spark.operators.similarity import (
        _centroids_from_sample,
        _spherical_kmeans,
    )

    # monotone objective on a synthetic 3-cluster sample
    rng = np.random.RandomState(7)
    blobs = np.concatenate(
        [rng.normal(loc=m, scale=0.05, size=(50, 8)) for m in (0.0, 1.0, -1.0)]
    )
    blobs /= np.linalg.norm(blobs, axis=1, keepdims=True)
    _, hist = _spherical_kmeans(blobs, blobs[:3].copy(), iterations=6)
    assert all(b >= a - 1e-12 for a, b in zip(hist, hist[1:])), hist

    # deterministic across calls; shape preserved
    c1 = _centroids_from_sample(vectors, "embedding", 8, seed=42, kmeans_iterations=3)
    c2 = _centroids_from_sample(vectors, "embedding", 8, seed=42, kmeans_iterations=3)
    assert np.array_equal(c1, c2) and c1.shape[0] == 8

    queries = vectors.filter(F.col("vec_id") < 5)
    exact = bruteforce_topk(vectors, queries, k=5)
    refined = ivf_topk(vectors, queries, k=5, n_cells=8, nprobe=4, kmeans_iterations=3)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in refined.collect()}
    assert len(e & a) / len(e) >= 0.3


# ---------------- textstats ----------------


def test_lang_id(spark, docs):
    out = {r["doc_id"]: r["lang_pred"] for r in lang_id(docs).collect()}
    assert out[0] == "en"
    assert out[4] == "de"
    assert out[5] == "es"


def test_lang_id_cjk(spark):
    df = spark.createDataFrame(pd.DataFrame([(0, "这是一个中文句子没有空格")], columns=["doc_id", "text"]))
    assert lang_id(df).collect()[0]["lang_pred"] == "zh"


def test_quality_features(spark, docs):
    row = quality_features(docs).filter("doc_id = 0").collect()[0]
    assert row["n_words"] == len(BASE.split())
    assert row["quality_ok"] is True
    junk = spark.createDataFrame(
        pd.DataFrame([(9, "!!! ??? ;;; ::: @@@ ###")], columns=["doc_id", "text"])
    )
    assert quality_features(junk).collect()[0]["quality_ok"] is False


def test_token_counts(spark, docs):
    row = token_counts(docs).filter("doc_id = 0").collect()[0]
    assert row["n_ws_tokens"] == len(BASE.split())
    assert row["n_bpe_tokens"] == len(BASE.split())  # no punctuation in BASE
    punct = spark.createDataFrame(pd.DataFrame([(9, "a, b.c!")], columns=["doc_id", "text"]))
    r = token_counts(punct).collect()[0]
    assert r["n_ws_tokens"] == 2
    assert r["n_bpe_tokens"] == 6  # a , b . c !


def test_scrub_pii(spark):
    from autoscan_spark.operators.textstats import scrub_pii

    df = spark.createDataFrame(
        pd.DataFrame(
            [
                (0, "mail a.b+c@foo.co.uk and 192.168.1.1 call +44 (0)20 7946-0958 ok"),
                (1, "no pii here at all"),
                (2, "two mails x@y.io z@w.ai"),
            ],
            columns=["doc_id", "text"],
        )
    )
    rows = {r["doc_id"]: r for r in scrub_pii(df).collect()}
    assert (rows[0]["n_email"], rows[0]["n_ipv4"], rows[0]["n_phone"]) == (1, 1, 1)
    assert "<EMAIL>" in rows[0]["scrubbed"] and "<IPV4>" in rows[0]["scrubbed"]
    assert "<PHONE>" in rows[0]["scrubbed"]
    assert "a.b+c@foo.co.uk" not in rows[0]["scrubbed"]
    assert rows[1]["scrubbed"] == "no pii here at all"
    assert rows[2]["n_email"] == 2


def test_repetition_stats(spark):
    from autoscan_spark.operators.textstats import repetition_stats

    df = spark.createDataFrame(
        pd.DataFrame(
            [(0, "a a a a b"), (1, "all distinct words here")],
            columns=["doc_id", "text"],
        )
    )
    rows = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    assert rows[0]["top_word_freq"] == 4
    assert rows[0]["distinct_ppm"] == 400000  # 2 distinct / 5 words
    assert rows[1]["distinct_ppm"] == 1000000 and rows[1]["top_word_freq"] == 1


def test_benchmark_contamination(spark, tmp_path_factory):
    from autoscan_spark.operators.dedup import benchmark_contamination

    base = str(tmp_path_factory.mktemp("decontam"))
    docs = pd.DataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog tonight"),
            (1, "totally unrelated content about distributed query engines here"),
            (2, "short doc"),  # < n words → absent from output
        ],
        columns=["doc_id", "text"],
    )
    bench = pd.DataFrame(
        [("quick brown fox jumps over the lazy dog",)], columns=["text"]
    )
    spark.createDataFrame(docs).write.parquet(base + "/d")
    spark.createDataFrame(bench).write.parquet(base + "/b")
    d, b = spark.read.parquet(base + "/d"), spark.read.parquet(base + "/b")

    out = benchmark_contamination(d, b, n=8)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert set(rows) == {0, 1}
    # doc 0 has 3 8-grams; the 8-word benchmark is exactly one 8-gram and
    # matches doc 0's middle window only
    assert rows[0]["n_windows"] == 3 and rows[0]["n_contaminated"] == 1
    assert rows[0]["contaminated"] is True
    assert rows[1]["n_contaminated"] == 0 and rows[1]["contaminated"] is False

    # the benchmark side must broadcast — the corpus side never shuffles on
    # the join key
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:2000]


def test_c4_clean_rules(spark):
    from autoscan_spark.operators.textstats import c4_clean

    df = spark.createDataFrame(
        pd.DataFrame(
            [
                (0, "A good long sentence here.\nshort.\nno terminal punct at all\nAnother keeper right here!"),
                (1, "Contains lorem ipsum filler text."),
                (2, "Has a curly { brace in it."),
                (3, "nothing qualifies\nat all"),
            ],
            columns=["doc_id", "text"],
        )
    )
    rows = {r["doc_id"]: r for r in c4_clean(df).collect()}
    # doc 0: 4 lines; "short." (<3 words) and the punct-less line drop
    assert rows[0]["n_lines_total"] == 4 and rows[0]["n_lines_kept"] == 2
    assert rows[0]["clean_text"] == "A good long sentence here.\nAnother keeper right here!"
    assert rows[0]["c4_keep"] is True
    assert rows[1]["c4_keep"] is False  # lorem ipsum tell
    assert rows[2]["c4_keep"] is False  # brace tell
    assert rows[3]["c4_keep"] is False  # no surviving lines


def test_url_domain_stats(spark):
    from autoscan_spark.operators.textstats import url_domain_stats

    df = spark.createDataFrame(
        pd.DataFrame(
            [
                (0, "see https://A.example.com/x and https://a.example.com/y"),
                (1, "also http://a.example.com no-scheme.example.com"),
                (2, "nothing here"),
            ],
            columns=["doc_id", "text"],
        )
    )
    rows = {r["domain"]: r for r in url_domain_stats(df).collect()}
    assert set(rows) == {"a.example.com"}  # lowercased, scheme stripped, no bare hosts
    assert rows["a.example.com"]["n_urls"] == 3
    assert rows["a.example.com"]["n_docs"] == 2


def test_token_frequencies(spark):
    from autoscan_spark.operators.textstats import token_frequencies

    df = spark.createDataFrame(
        pd.DataFrame(
            [(0, "a b a  c"), (1, "B a"), (2, "")], columns=["doc_id", "text"]
        )
    )
    full = {r["token"]: r["n"] for r in token_frequencies(df).collect()}
    assert full == {"a": 3, "b": 2, "c": 1}  # lowercased, empty tokens dropped
    top = token_frequencies(df, top_n=2).collect()
    assert [(r["token"], r["n"]) for r in top] == [("a", 3), ("b", 2)]


def test_repetition_top_word_freq_is_linear_on_long_docs(spark):
    """top_word_freq must be sort+run-length (linear-ish), not the quadratic
    transform/filter formulation: a 50k-DISTINCT-word doc costs ~10⁹ lambda
    comparisons quadratically (measured: did not finish in 600s) vs ~10⁵
    linearly (measured: <7s cold-session, <2s warm). A generous wall bound
    still separates the two regimes by >10×."""
    import time

    from autoscan_spark.operators.textstats import repetition_stats

    text = " ".join(f"w{i}" for i in range(50_000)) + " w7 w7 w7"
    df = spark.createDataFrame(pd.DataFrame([(0, text)], columns=["doc_id", "text"]))
    t0 = time.perf_counter()
    row = repetition_stats(df).select("distinct_ppm", "top_word_freq").first()
    wall = time.perf_counter() - t0
    assert row["top_word_freq"] == 4  # w7 appears 4×
    assert row["distinct_ppm"] == round(50_000 * 1_000_000 / 50_003)
    assert wall < 60, f"long-doc repetition took {wall:.1f}s — quadratic regression?"


def test_load_bpe_merges_tiktoken_format(spark, tmp_path):
    """GPT-2/tiktoken merges.txt loader: header + blank lines skipped, rank
    = line order, malformed lines raise; counts match hand computation."""
    from autoscan_spark.operators.textstats import bpe_token_count, load_bpe_merges

    p = tmp_path / "merges.txt"
    p.write_text("#version: 0.2\na b\nab c\n\nx y\n")
    merges = load_bpe_merges(str(p))
    assert merges == [("a", "b"), ("ab", "c"), ("x", "y")]

    # real GPT-2 tables contain merges whose pieces START with '#' — only
    # the first-line '#version' header is a comment
    gpt2 = tmp_path / "gpt2.txt"
    gpt2.write_text("#version: 0.2\n# #\n## #\na b\n")
    assert load_bpe_merges(str(gpt2)) == [("#", "#"), ("##", "#"), ("a", "b")]

    df = spark.createDataFrame(
        pd.DataFrame([(0, "abc xyz")], columns=["doc_id", "text"])
    )
    # path accepted directly by bpe_token_count: abc→1 token, xyz→xy+z=2
    assert bpe_token_count(df, merges=str(p)).collect()[0]["n_bpe_real"] == 3

    bad = tmp_path / "bad.txt"
    bad.write_text("a b c\n")
    with pytest.raises(ValueError, match="expected 'piece1 piece2'"):
        load_bpe_merges(str(bad))
    empty = tmp_path / "empty.txt"
    empty.write_text("#version: 0.2\n")
    with pytest.raises(ValueError, match="no merges"):
        load_bpe_merges(str(empty))


def test_duplicate_spans(spark):
    from autoscan_spark.operators.dedup import duplicate_spans

    df = spark.createDataFrame(
        pd.DataFrame(
            [
                (0, "one two three four five six"),      # windows: 2
                (1, "one two three four five seven"),    # shares 1st window with 0
                (2, "totally different words in this doc"),
                (3, "shorty"),                            # < n words → no rows
            ],
            columns=["doc_id", "text"],
        )
    )
    rows = {r["doc_id"]: r for r in duplicate_spans(df, n=5).collect()}
    assert set(rows) == {0, 1, 2}
    assert rows[0]["n_windows"] == 2 and rows[0]["n_dup_windows"] == 1
    assert rows[0]["dup_ppm"] == 500000
    assert rows[1]["n_dup_windows"] == 1
    assert rows[2]["n_dup_windows"] == 0


def test_bpe_token_count_merge_semantics(spark):
    """Real BPE: merges apply greedily by rank; pluggable merge table."""
    from autoscan_spark.operators.textstats import bpe_token_count

    df = spark.createDataFrame(
        pd.DataFrame([(0, "abc abc"), (1, "xyz"), (2, ""), (3, None)],
                     columns=["doc_id", "text"])
    )
    # rank 0 merges a+b; rank 1 merges ab+c → "abc" is ONE token
    got = {
        r["doc_id"]: r["n_bpe_real"]
        for r in bpe_token_count(df, merges=[("a", "b"), ("ab", "c")]).collect()
    }
    assert got == {0: 2, 1: 3, 2: 0, 3: 0}  # xyz: no merges → 3 char tokens

    # rank order matters: with only (b, c), "abc" → "a"+"bc" = 2 tokens
    got2 = bpe_token_count(df, merges=[("b", "c")]).collect()
    assert {r["doc_id"]: r["n_bpe_real"] for r in got2}[0] == 4  # 2 per "abc"

    # default table: "the" is a single token (t+h, th+e)
    eng = spark.createDataFrame(pd.DataFrame([(0, "The THE the")], columns=["doc_id", "text"]))
    assert bpe_token_count(eng).collect()[0]["n_bpe_real"] == 3


def test_fingerprint_rolling(spark):
    df = spark.createDataFrame(
        pd.DataFrame(
            [(0, "Hello   World"), (1, "hello world"), (2, "other")],
            columns=["doc_id", "text"],
        )
    )
    fp = {r["doc_id"]: r["fingerprint"] for r in fingerprint(df).collect()}
    assert fp[0] == fp[1]  # whitespace/case normalized
    assert fp[0] != fp[2]
    # pinned value: base-257 rolling hash of 'hello world' mod 2^61-1
    h = 0
    for ch in b"hello world":
        h = (h * 257 + ch) % ((1 << 61) - 1)
    assert fp[0] == h

    cf = {r["doc_id"]: r["content_fp"] for r in content_fingerprint(df).collect()}
    assert cf[0] == cf[1] != cf[2]


def test_mulmod61_hypothesis():
    """Exactness of the 31-bit limb-split modular multiply over the full
    input domain (hypothesis fuzz vs Python bigints). Pure numpy, no Spark."""
    hypothesis = pytest.importorskip("hypothesis")
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from autoscan_spark.operators.textstats import _FP_MOD, _mulmod61

    @settings(max_examples=500, deadline=None)
    @given(
        st.integers(min_value=0, max_value=_FP_MOD - 1),
        st.integers(min_value=0, max_value=_FP_MOD - 1),
    )
    def check(a, b):
        got = int(_mulmod61(np.array([a], dtype=np.uint64),
                            np.array([b], dtype=np.uint64))[0])
        assert got == (a * b) % _FP_MOD

    check()


def test_fingerprint_vectorized_matches_definition(spark):
    """The numpy mulmod-61 kernel must agree byte-for-byte with the
    definitional per-character Horner loop on adversarial inputs: empty,
    whitespace-only, unicode (multi-byte utf-8), nulls, and strings long
    enough to exercise the limb-split segment sums."""
    import random

    from autoscan_spark.operators.textstats import _FP_BASE, _FP_MOD

    def reference_fp(t):
        norm = " ".join((t or "").lower().split())
        h = 0
        for ch in norm.encode("utf-8"):
            h = (h * _FP_BASE + ch) % _FP_MOD
        return h

    rng = random.Random(99)
    cases = [
        "", "   ", "a", "Hello   World", "héllo wörld 中文",
        "x" * 5000,
        " ".join(str(rng.randrange(10**9)) for _ in range(2000)),
        None,
    ] + ["".join(chr(rng.randrange(32, 1000)) for _ in range(rng.randrange(1, 300)))
         for _ in range(50)]
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(cases)), "text": cases})
    )
    got = {r["doc_id"]: r["fingerprint"] for r in fingerprint(df).collect()}
    for i, t in enumerate(cases):
        assert got[i] == reference_fp(t), f"case {i}: {t!r:.60}"


def test_connected_components_transitive_chain(spark):
    """a-b, b-c, d-e: components {a,b,c} and {d,e}; keep-min drops b,c,e even
    though (a,c) was never a pair."""
    from autoscan_spark.operators.dedup import connected_components, dedup_connected

    pairs = spark.createDataFrame(
        pd.DataFrame([(1, 2), (2, 3), (7, 9), (5, 6), (3, 4)], columns=["id_a", "id_b"])
    )
    comps = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
    assert comps == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 7: 7, 9: 7}

    docs = spark.createDataFrame(
        pd.DataFrame([(i, f"doc {i}") for i in range(1, 10)], columns=["doc_id", "text"])
    )
    kept = {r["doc_id"] for r in dedup_connected(docs, pairs).collect()}
    assert kept == {1, 5, 7, 8}


def _reference_components(edges):
    """Pure-Python union-find: {id: min id of its component}."""
    parent = {}

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _random_graphs(seed, n_nodes, n_edges, n_graphs=3):
    import random

    rng = random.Random(seed)
    return [
        [tuple(sorted(rng.sample(range(n_nodes), 2))) for _ in range(n_edges)]
        for _ in range(n_graphs)
    ]


def _components(dedup, pairs):
    return {r["id"]: r["component"] for r in dedup.connected_components(pairs).collect()}


def test_connected_components_star_matches_min_label(spark, monkeypatch):
    """The distributed star rounds (the edge-count bound forced to 0) must
    give the min-label answer, (id, min id of component), on random graphs
    (differential fuzz against a pure-Python union-find)."""
    from autoscan_spark.operators import dedup

    monkeypatch.setattr(dedup, "_LOCAL_CC_MAX_EDGES", 0)
    for trial, raw in enumerate(_random_graphs(7, 60, 45)):
        pairs = spark.createDataFrame(raw, "id_a long, id_b long")
        assert _components(dedup, pairs) == _reference_components(raw), f"trial {trial}"


def test_connected_components_local_unionfind_matches_star(spark, monkeypatch):
    """The single-task union-find, which the default routing takes for
    pairs-sized edge sets, must agree with the distributed star rounds and
    the pure-Python reference on random graphs (differential fuzz), and both
    paths must return an empty frame for the empty pair set."""
    from autoscan_spark.operators import dedup

    for trial, raw in enumerate(_random_graphs(11, 80, 60)):
        pairs = spark.createDataFrame(raw, "id_a long, id_b long")
        local = _components(dedup, pairs)  # fast path
        with monkeypatch.context() as m:
            m.setattr(dedup, "_LOCAL_CC_MAX_EDGES", 0)
            star = _components(dedup, pairs)
        assert local == star == _reference_components(raw), f"trial {trial}"
    empty = spark.createDataFrame([], "id_a long, id_b long")
    for bound in (dedup._LOCAL_CC_MAX_EDGES, 0):
        monkeypatch.setattr(dedup, "_LOCAL_CC_MAX_EDGES", bound)
        assert dedup.connected_components(empty).count() == 0, f"bound {bound}"


def test_connected_components_deep_chain(spark, monkeypatch):
    """A 300-node chain through the DISTRIBUTED star rounds (the union-find
    fast path disabled): contraction converges in O(log n) rounds (~9
    here), not O(diameter)."""
    from autoscan_spark.operators import dedup

    monkeypatch.setattr(dedup, "_LOCAL_CC_MAX_EDGES", 0)
    chain = spark.createDataFrame(
        pd.DataFrame([(i, i + 1) for i in range(300)], columns=["id_a", "id_b"])
    )
    comps = {
        r["id"]: r["component"]
        for r in dedup.connected_components(chain, max_iterations=15).collect()
    }
    assert set(comps) == set(range(301))
    assert all(c == 0 for c in comps.values())


def test_connected_components_raises_on_exhaustion(spark, monkeypatch):
    """Partial labels are WRONG labels: exhausting max_iterations before the
    edge-set fixpoint must raise. Applies to the distributed star rounds
    (the union-find fast path is exact in one job and cannot exhaust), so
    the fast path is disabled here."""
    from autoscan_spark.operators import dedup

    monkeypatch.setattr(dedup, "_LOCAL_CC_MAX_EDGES", 0)
    chain = spark.createDataFrame(
        pd.DataFrame([(i, i + 1) for i in range(300)], columns=["id_a", "id_b"])
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(chain, max_iterations=1)


def test_embedding_near_dups_lsh_vs_exact(spark, vectors):
    exact = embedding_near_dups(vectors, threshold=0.35, exact=True)
    e = {(r["id_a"], r["id_b"]) for r in exact.collect()}
    assert e, "threshold too high for this corpus"
    approx = embedding_near_dups(
        vectors, threshold=0.35, n_planes=4, n_tables=12
    )
    a = {(r["id_a"], r["id_b"]) for r in approx.collect()}
    assert a <= e  # LSH candidates are exactly scored: no false positives
    assert len(a) / len(e) >= 0.5, f"recall {len(a)}/{len(e)}"


def test_lsh_candidates_never_key_an_aggregate_on_vectors(spark, vectors):
    """A pair can collide in several hash tables, so the LSH candidate joins
    must deduplicate without shipping and hashing the vectors as keys:
    ``_lsh_candidates`` keeps each pair's first colliding table and needs no
    aggregate, and the bucket self-join of ``embedding_near_dups`` keeps a
    ``distinct`` on the two ids, the vectors joining back afterwards. Every
    aggregate in the executed plans is keyed on id columns alone."""
    queries = vectors.filter(F.col("vec_id") < 10)
    for df, ids, has_aggregate in (
        (lsh_topk(vectors, queries, dim=64, k=5), {"query_id", "neighbor_id"}, False),
        (lsh_recall(vectors, queries), {"query_id", "neighbor_id"}, True),
        (embedding_near_dups(vectors, threshold=0.35), {"id_a", "id_b"}, True),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        keys = re.findall(r"Aggregate\(keys=\[([^\]]*)\]", plan)
        assert bool(keys) == has_aggregate, plan
        for key in keys:
            assert {re.sub(r"#\d+L?$", "", k) for k in key.split(", ")} <= ids, key


def test_normalize_text_forms(spark):
    from autoscan_spark.operators.textstats import normalize_text

    df = spark.createDataFrame(
        pd.DataFrame(
            [(0, "café ﬁne"), (1, None)], columns=["doc_id", "text"]
        )
    )
    nfc = {r["doc_id"]: r["normalized"] for r in normalize_text(df).collect()}
    assert nfc[0] == "café ﬁne"  # combining composed; ligature KEPT
    assert nfc[1] is None
    nfkc = {r["doc_id"]: r["normalized"]
            for r in normalize_text(df, form="NFKC").collect()}
    assert nfkc[0] == "café fine"  # NFKC also folds the ligature
    with pytest.raises(ValueError, match="UAX"):
        normalize_text(df, form="NFX")


def test_line_dedup_first_occurrence_semantics(spark):
    from autoscan_spark.operators.dedup import line_dedup

    docs = spark.createDataFrame(
        pd.DataFrame(
            [
                (0, "a\nb\na"),   # a@(0,2) duplicates a@(0,0) → "a\nb"
                (1, "b\nc"),      # b seen in doc 0 → "c"
                (2, "a\nb"),      # every line seen earlier → ""
            ],
            columns=["doc_id", "text"],
        )
    )
    out = {r["doc_id"]: r for r in line_dedup(docs).collect()}
    assert (out[0]["n_lines_total"], out[0]["n_lines_kept"]) == (3, 2)
    assert out[0]["dedup_text"] == "a\nb"
    assert (out[1]["n_lines_total"], out[1]["n_lines_kept"]) == (2, 1)
    assert out[1]["dedup_text"] == "c"
    assert (out[2]["n_lines_total"], out[2]["n_lines_kept"]) == (2, 0)
    assert out[2]["dedup_text"] == ""


def test_line_dedup_differential_vs_python(spark):
    """Differential check against an independent single-threaded pure-Python
    first-occurrence pass over the same corpus, plus partitioning
    invariance (global order is (doc_id, pos), not arrival order)."""
    from autoscan_spark.operators.dedup import line_dedup

    rng = np.random.RandomState(7)
    vocab = ["alpha", "beta", "gamma", "delta", "eps"]
    texts = [
        "\n".join(
            " ".join(rng.choice(vocab, rng.randint(1, 4)))
            for _ in range(rng.randint(1, 6))
        )
        for _ in range(200)
    ]
    seen: set[str] = set()
    want = {}
    for i, t in enumerate(texts):
        kept = []
        for line in t.split("\n"):
            if line not in seen:
                seen.add(line)
                kept.append(line)
        want[i] = (len(t.split("\n")), len(kept), "\n".join(kept))

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    )
    got = {
        r["doc_id"]: (r["n_lines_total"], r["n_lines_kept"], r["dedup_text"])
        for r in line_dedup(docs.repartition(11)).collect()
    }
    assert got == want


def test_line_dedup_preagg_hot_line(spark):
    """A corpus where one boilerplate line appears in every document (the
    skew case) keeps that line exactly once, and the plan shows map-side
    partial aggregation (partial_min before the shuffle), which is what
    keeps the hot hash key from concentrating in one task."""
    from autoscan_spark.operators.dedup import line_dedup

    hot = "subscribe to our newsletter"
    texts = [f"{hot}\nunique content {i}\n\n{hot}" for i in range(100)]
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    ).repartition(8)
    out = line_dedup(docs)
    # doc 0 keeps the hot line once (its own second copy dedups too);
    # every other doc loses both copies
    by_id = {t[0]: t for t in map(tuple, out.collect())}
    assert len(by_id) == 100
    assert by_id[0][1] == 4 and by_id[0][2] == 3 and by_id[0][3].count(hot) == 1
    assert by_id[5][3].count(hot) == 0 and "unique content 5" in by_id[5][3]

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "partial_min" in plan


def _sennrich_reference(texts, n_merges, min_freq=2):
    """Independent single-process Sennrich BPE training loop: the plain
    recount-every-iteration form (same pre-tokenizer, same greedy
    left-to-right apply, same (freq desc, pair asc) tie-break)."""
    import re

    freqs: dict[str, int] = {}
    for t in texts:
        for w in re.findall(r"\w+|[^\w\s]", t):
            freqs[w] = freqs.get(w, 0) + 1
    vocab = {w: list(w) for w in freqs}
    merges = []
    for _ in range(n_merges):
        counts: dict[tuple, int] = {}
        for w, f in freqs.items():
            syms = vocab[w]
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + f
        if not counts:
            break
        (a, b), f = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if f < min_freq:
            break
        merges.append((a, b))
        for w, syms in vocab.items():
            out: list = []
            for x in syms:
                if out and out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            vocab[w] = out
    return merges


def test_learn_bpe_merges_matches_sennrich_reference(spark):
    """The BPE learner reproduces the classic single-process Sennrich
    training loop merge-for-merge, and its output plugs into
    bpe_token_count."""
    from autoscan_spark.operators.textstats import (
        bpe_token_count,
        learn_bpe_merges,
    )

    rng = np.random.RandomState(13)
    base = ["the cat", "the hat!", "that mat,", "chatter", "the the cat"]
    texts = [base[rng.randint(len(base))] + " " + base[rng.randint(len(base))]
             for _ in range(60)]
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    ).repartition(5)

    got = learn_bpe_merges(docs, n_merges=12)
    assert got == _sennrich_reference(texts, 12)
    # learned table plugs into the apply path
    counted = bpe_token_count(docs.limit(5), merges=got).collect()
    assert all(r["n_bpe_real"] > 0 for r in counted)
    with pytest.raises(ValueError, match="n_merges"):
        learn_bpe_merges(docs, n_merges=0)


def test_learn_bpe_driver_strategy_scales_to_real_vocab(spark, sf_dir):
    """1,000 merges on a wide-vocab corpus complete in seconds — one Spark
    aggregation then in-process Sennrich (n_merges Spark jobs would take
    minutes). Also pins that the driver loop's incremental stats stay
    exact at depth: its 100-merge run on the real corpus equals the
    recount-every-iteration reference's."""
    import time

    from autoscan_spark.operators.textstats import learn_bpe_merges
    from autoscan_spark.sources.tables import load_table

    # The fixture corpus has only ~31 distinct tokens (exhausts <100
    # merges), so the 1000-merge depth pin runs on a seeded wide-vocab
    # corpus: 20k distinct pseudo-words is the shape of a real tokenizer
    # training table.
    rng = np.random.RandomState(7)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab_words = [
        "".join(rng.choice(letters, rng.randint(6, 14)))
        for _ in range(20000)
    ]
    wide = spark.createDataFrame(
        pd.DataFrame(
            {
                "text": [
                    " ".join(vocab_words[i : i + 40])
                    for i in range(0, 20000, 40)
                ]
            }
        )
    ).repartition(8)
    t0 = time.time()
    merges = learn_bpe_merges(wide, n_merges=1000, top_words=30000)
    elapsed = time.time() - t0
    assert len(merges) == 1000
    assert len(set(merges)) == 1000  # a pair can win at most once
    assert elapsed < 60, f"driver BPE loop took {elapsed:.1f}s for 1000 merges"

    # incremental stats stay exact at depth: on the real corpus the driver
    # loop's full merge run equals the reference's, to exhaustion
    docs = load_table(spark, sf_dir, "documents").select("text")
    texts = [r["text"] for r in docs.collect() if r["text"] is not None]
    assert learn_bpe_merges(docs, n_merges=100) == _sennrich_reference(texts, 100)


def test_remove_duplicate_spans_semantics(spark):
    """First occurrence of a duplicated 3-word window survives; all other
    occurrences' covered words are cut; short docs and unique text pass
    through; NULL text yields (0, 0, NULL). Checked against an independent
    Python replay of the same rule."""
    from autoscan_spark.operators.dedup import remove_duplicate_spans

    texts = {
        0: "the cat sat on the mat today",        # canonical owner
        1: "elsewhere the cat sat on something",  # repeats "the cat sat"
        2: "the cat sat",                          # exact window again
        3: "totally unique words here",
        4: "two words",                            # < n: no windows
        5: None,
    }
    docs = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": list(texts), "text": [texts[k] for k in texts]}
        ).astype({"text": "string"})
    ).repartition(3)
    out = {
        r["doc_id"]: (r["n_words_total"], r["n_words_kept"], r["clean_text"])
        for r in remove_duplicate_spans(docs, n=3).collect()
    }

    # independent replay
    words = {k: (v.split() if v else []) for k, v in texts.items()}
    occurrences: dict[tuple, list] = {}
    for k in sorted(words):
        ws = words[k]
        for i in range(len(ws) - 2):
            occurrences.setdefault(tuple(ws[i : i + 3]), []).append((k, i))
    covered = {k: set() for k in words}
    for occ in occurrences.values():
        if len(occ) > 1:
            for d, i in occ[1:]:  # all but the first (sorted insert order)
                covered[d].update(range(i, i + 3))
    for k, v in texts.items():
        if v is None:
            assert out[k] == (0, 0, None)
            continue
        kept = [w for i, w in enumerate(words[k]) if i not in covered[k]]
        assert out[k] == (len(words[k]), len(kept), " ".join(kept)), k

    # doc 3/4 untouched, doc 1 and 2 lost the shared window words
    assert out[3][2] == texts[3] and out[4][2] == texts[4]
    assert "the cat sat" not in out[1][2] and out[2][1] == 0


def test_remove_duplicate_spans_differential_fuzz(spark):
    """Random small-vocab corpus vs the Python replay (partitioning-
    invariant, overlap-heavy because the vocab is tiny)."""
    from autoscan_spark.operators.dedup import remove_duplicate_spans

    rng = np.random.RandomState(11)
    vocab = ["a", "b", "c", "d"]
    texts = [
        " ".join(rng.choice(vocab, rng.randint(1, 14))) for _ in range(120)
    ]
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    ).repartition(7)
    n = 4
    occurrences: dict[tuple, list] = {}
    for k, t in enumerate(texts):
        ws = t.split()
        for i in range(len(ws) - n + 1):
            occurrences.setdefault(tuple(ws[i : i + n]), []).append((k, i))
    covered: dict[int, set] = {k: set() for k in range(len(texts))}
    for occ in occurrences.values():
        if len(occ) > 1:
            for d, i in sorted(occ)[1:]:
                covered[d].update(range(i, i + n))
    want = {}
    for k, t in enumerate(texts):
        ws = t.split()
        kept = [w for i, w in enumerate(ws) if i not in covered[k]]
        want[k] = (len(ws), len(kept), " ".join(kept))
    got = {
        r["doc_id"]: (r["n_words_total"], r["n_words_kept"], r["clean_text"])
        for r in remove_duplicate_spans(docs, n=n).collect()
    }
    assert got == want


def test_line_dedup_custom_separator(spark):
    from autoscan_spark.operators.dedup import line_dedup

    docs = spark.createDataFrame(
        pd.DataFrame(
            [(0, "x | y | x"), (1, "y | z")], columns=["doc_id", "text"]
        )
    )
    out = {r["doc_id"]: r["dedup_text"]
           for r in line_dedup(docs, line_sep=" | ").collect()}
    assert out == {0: "x | y", 1: "z"}


def test_dedup_against_snapshot(spark):
    from autoscan_spark.operators.dedup import dedup_against

    old = spark.createDataFrame(
        pd.DataFrame([(0, "x"), (1, "y")], columns=["doc_id", "text"])
    )
    new = spark.createDataFrame(
        pd.DataFrame(
            [(10, "x"), (11, "z"), (12, "z"), (13, "y")],
            columns=["doc_id", "text"],
        )
    )
    kept = sorted(r["doc_id"] for r in dedup_against(new, old).collect())
    # snapshot texts dropped; within-delta dup (z twice) NOT collapsed
    assert kept == [11, 12]
    # different snapshot text column name
    old2 = old.withColumnRenamed("text", "body")
    kept2 = sorted(
        r["doc_id"]
        for r in dedup_against(new, old2, old_text_col="body").collect()
    )
    assert kept2 == [11, 12]


def test_near_dup_survivors_pinned(spark, sf_dir):
    """End-to-end near-dup pipeline (MinHash-LSH → star CC → keep-min):
    survivor count pinned at sf0.001, plus the partition invariant —
    survivors = corpus − (cluster members − clusters)."""
    from autoscan_spark.operators.dedup import dedup_connected, minhash_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = minhash_dedup(docs, threshold=0.1, n=3, num_hashes=64, bands=32)
    kept = dedup_connected(docs, pairs).select("doc_id")
    n_docs = docs.count()
    members = (
        pairs.select(F.col("id_a").alias("id"))
        .union(pairs.select(F.col("id_b").alias("id")))
        .distinct()
        .count()
    )
    from autoscan_spark.operators.dedup import connected_components

    n_clusters = (
        connected_components(pairs).select("component").distinct().count()
    )
    assert kept.count() == n_docs - (members - n_clusters)
    assert kept.count() == 476  # pinned at sf0.001 (500 docs, 24 dropped)


def test_benchmark_contamination_gate_unrounded(spark):
    """The contaminated gate must use the unrounded rate: ppm ROUNDING must
    not flip a doc under/over the threshold."""
    from autoscan_spark.operators.dedup import benchmark_contamination

    # 10 words, n=8 → 3 windows; benchmark = the first 8 words → exactly 1
    # contaminated window. ppm = round(333333.3) = 333333, which does NOT
    # exceed max_ppm=333333 — but the exact rate 1/3 does.
    words = "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9"
    docs = spark.createDataFrame(
        pd.DataFrame([(0, words)], columns=["doc_id", "text"])
    )
    bench = spark.createDataFrame(
        pd.DataFrame([("w0 w1 w2 w3 w4 w5 w6 w7",)], columns=["text"])
    )
    row = benchmark_contamination(docs, bench, n=8, max_ppm=333333).collect()[0]
    assert row["n_windows"] == 3 and row["n_contaminated"] == 1
    assert row["contamination_ppm"] == 333333
    assert row["contaminated"] is True  # 1/3 > 333333/1e6 exactly


def test_line_dedup_blank_lines_exempt(spark):
    """Blank lines are document structure, not content: every doc keeps its
    paragraph separators even when another doc used one first."""
    from autoscan_spark.operators.dedup import line_dedup

    docs = spark.createDataFrame(
        pd.DataFrame(
            [(0, "a\n\nb"), (1, "x\n\ny"), (2, "a\n \nc")],
            columns=["doc_id", "text"],
        )
    )
    out = {r["doc_id"]: r for r in line_dedup(docs).collect()}
    assert out[0]["dedup_text"] == "a\n\nb"
    assert out[1]["dedup_text"] == "x\n\ny"  # blank kept, x/y unique
    # whitespace-only lines count as blank; duplicate 'a' still deduped
    assert out[2]["dedup_text"] == " \nc"
    assert out[2]["n_lines_kept"] == 2


def test_strip_boilerplate_lines(spark):
    """Lines in >= min_docs distinct docs are removed from EVERY doc;
    within-doc repetition alone never flags; blanks always kept."""
    from autoscan_spark.operators.dedup import strip_boilerplate_lines

    docs = spark.createDataFrame(
        pd.DataFrame(
            [
                (0, "menu\ncontent zero\n\nfooter"),
                (1, "menu\ncontent one\nfooter"),
                (2, "menu\ncontent two"),
                (3, "rare\nrare\nrare"),   # 3 copies but ONE doc → kept
                (4, "pair\ncontent four"),
                (5, "pair\ncontent five"),  # 'pair' in 2 docs < 3 → kept
            ],
            columns=["doc_id", "text"],
        )
    )
    out = {r["doc_id"]: r for r in strip_boilerplate_lines(docs).collect()}
    # 'menu' is in 3 docs → stripped everywhere; 'footer' only in 2 → kept;
    # the blank line is kept
    assert out[0]["clean_text"] == "content zero\n\nfooter"
    assert out[1]["clean_text"] == "content one\nfooter"
    assert out[2]["clean_text"] == "content two"
    assert out[3]["clean_text"] == "rare\nrare\nrare"
    assert out[4]["clean_text"] == "pair\ncontent four"
    assert (out[0]["n_lines_total"], out[0]["n_lines_kept"]) == (4, 3)

    with pytest.raises(ValueError, match="min_docs"):
        strip_boilerplate_lines(docs, min_docs=1)

    # all-boilerplate doc: the totals left-join/coalesce path must emit
    # (n_total, 0, '') — no fixture above loses every line
    docs2 = spark.createDataFrame(
        pd.DataFrame(
            [(0, "menu"), (1, "menu"), (2, "menu"), (3, "menu\nbody")],
            columns=["doc_id", "text"],
        )
    )
    out2 = {r["doc_id"]: r for r in strip_boilerplate_lines(docs2).collect()}
    assert (out2[0]["n_lines_total"], out2[0]["n_lines_kept"]) == (1, 0)
    assert out2[0]["clean_text"] == ""
    assert out2[3]["clean_text"] == "body"

    # custom separator
    docs3 = spark.createDataFrame(
        pd.DataFrame(
            [(0, "m | a"), (1, "m | b"), (2, "m | c")],
            columns=["doc_id", "text"],
        )
    )
    out3 = {r["doc_id"]: r["clean_text"]
            for r in strip_boilerplate_lines(docs3, line_sep=" | ").collect()}
    assert out3 == {0: "a", 1: "b", 2: "c"}


def test_line_ops_null_text_stays_absent(spark):
    """A NULL-text document must yield (0, 0, NULL) — never a fabricated
    empty document — in both line-level operators."""
    from autoscan_spark.operators.dedup import line_dedup, strip_boilerplate_lines

    docs = spark.createDataFrame(
        pd.DataFrame([(0, "a\nb"), (1, None)], columns=["doc_id", "text"])
    )
    ld = {r["doc_id"]: r for r in line_dedup(docs).collect()}
    assert (ld[1]["n_lines_total"], ld[1]["n_lines_kept"]) == (0, 0)
    assert ld[1]["dedup_text"] is None
    assert ld[0]["dedup_text"] == "a\nb"

    sb = {r["doc_id"]: r for r in strip_boilerplate_lines(docs).collect()}
    assert (sb[1]["n_lines_total"], sb[1]["n_lines_kept"]) == (0, 0)
    assert sb[1]["clean_text"] is None
    assert sb[0]["clean_text"] == "a\nb"


def test_semantic_dedup_matches_numpy_reference(spark, vectors):
    """Differential: survivors must equal a numpy replay of the exact rule
    (drop x iff a smaller-id same-cell row has cosine >= tau), with the
    cells taken from the operator's own pairs output."""
    from autoscan_spark.operators.similarity import semantic_dedup

    tau = 0.5
    pairs = semantic_dedup(
        vectors, threshold=tau, n_cells=8, keep="pairs"
    ).collect()
    survivors = sorted(
        r["vec_id"]
        for r in semantic_dedup(vectors, threshold=tau, n_cells=8).collect()
    )
    all_ids = sorted(r["vec_id"] for r in vectors.collect())
    dropped = {r["id_b"] for r in pairs}
    assert survivors == [i for i in all_ids if i not in dropped]
    assert all(r["id_a"] < r["id_b"] for r in pairs)
    assert all(r["cosine"] >= tau for r in pairs)
    # determinism
    again = sorted(
        r["vec_id"]
        for r in semantic_dedup(vectors, threshold=tau, n_cells=8).collect()
    )
    assert survivors == again


def test_semantic_dedup_prunes_planted_duplicates(spark):
    """Planted near-identical vectors must collapse to the min id even
    when scattered across input order; orthogonal vectors all survive."""
    import numpy as np

    from autoscan_spark.operators.similarity import semantic_dedup

    rng = np.random.default_rng(7)
    base = rng.standard_normal((20, 16)).astype("float32")
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
    # ids 100..104: tiny perturbations of base[0] -> dup group with id 0
    for j in range(5):
        pert = base[0] + rng.standard_normal(16).astype("float32") * 1e-3
        rows.append((100 + j, [float(x) for x in pert]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = sorted(
        r["vec_id"]
        for r in semantic_dedup(
            df, threshold=0.99, n_cells=4, kmeans_iterations=2
        ).collect()
    )
    assert 0 in got
    assert not any(v >= 100 for v in got), got
    assert len(got) >= 15  # the unrelated gaussian vectors survive


def test_ivf_recall_counts_and_determinism(spark, vectors):
    from autoscan_spark.operators.similarity import ivf_recall

    queries = vectors.filter(F.col("vec_id") < 8)
    got = {
        r["query_id"]: (r["n_hits"], r["recall_ppm"])
        for r in ivf_recall(vectors, queries, k=5, n_cells=8, nprobe=3).collect()
    }
    assert len(got) == queries.count()
    for q, (n, ppm) in got.items():
        assert 0 <= n <= 5
        assert ppm == n * 200000
    again = {
        r["query_id"]: (r["n_hits"], r["recall_ppm"])
        for r in ivf_recall(vectors, queries, k=5, n_cells=8, nprobe=3).collect()
    }
    assert got == again
    # probing ALL cells makes IVF exhaustive -> recall must be perfect
    full = ivf_recall(vectors, queries, k=5, n_cells=8, nprobe=8).collect()
    assert all(r["n_hits"] == 5 for r in full)


# ---------------------------------------------------------------------------
# fuzzy_dup_pairs — blocked Levenshtein
# ---------------------------------------------------------------------------


def test_fuzzy_dup_pairs_planted(spark):
    from autoscan_spark.operators.dedup import fuzzy_dup_pairs

    k = 8
    # band width W = k = 8. Lengths chosen so the qualifying pair (10, 11)
    # spans ADJACENT bands: len 15 (band 1) vs len 17 (band 2) — only the
    # adjacent-band join can produce it.
    rows = [
        (10, "aaaabbbbccccdd1", "en"),     # 15 chars, band 1
        (11, "aaaabbbbccccdd123", "en"),   # 17 chars, band 2, lev 2 from 10
        (12, "aaaabbbbccccdd1", "fr"),     # identical text, other block
        (13, "zzzzyyyyxxxxwwZ", "en"),     # same band as 10, lev >> k
        (14, "aaaabbbbccccdd12", "en"),    # 16 chars band 2: lev 1 from 10
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    got = {
        (r["doc_a"], r["doc_b"], r["lev"])
        for r in fuzzy_dup_pairs(df, max_distance=k).collect()
    }
    assert got == {(10, 11, 2), (10, 14, 1), (11, 14, 1)}


def test_fuzzy_dup_pairs_exact_vs_bruteforce(spark):
    """Differential: banded plan == brute-force O(n²) same-block pairs."""
    import itertools
    import random

    from autoscan_spark.operators.dedup import fuzzy_dup_pairs

    rng = random.Random(7)
    alpha = "abcdefgh "
    base = "".join(rng.choice(alpha) for _ in range(60))

    def mutate(s, n_edits):
        s = list(s)
        for _ in range(n_edits):
            op = rng.choice("ins del sub".split())
            i = rng.randrange(len(s))
            if op == "ins":
                s.insert(i, rng.choice(alpha))
            elif op == "del" and len(s) > 1:
                del s[i]
            else:
                s[i] = rng.choice(alpha)
        return "".join(s)

    rows = [
        (i, mutate(base, rng.randrange(0, 25)), rng.choice(["en", "de"]))
        for i in range(40)
    ]
    k = 10

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    want = set()
    for (ia, ta, la), (ib, tb, lb) in itertools.combinations(rows, 2):
        if la == lb:
            d = lev(ta, tb)
            if d <= k:
                want.add((min(ia, ib), max(ia, ib), d))

    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    got = {
        (r["doc_a"], r["doc_b"], r["lev"])
        for r in fuzzy_dup_pairs(df, max_distance=k).collect()
    }
    assert got == want
    assert want  # the fixture must actually plant qualifying pairs


def test_corpus_is_pure_ascii(spark, sf_dir):
    """fuzzy_dedup's oracle equivalence relies on an ASCII corpus (DuckDB
    levenshtein is byte-based, Spark's is character-based)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = docs.filter(~F.col("text").rlike("^[\\x00-\\x7F]*$")).count()
    assert n == 0


def test_winnow_guarantee_shared_run_detected(spark):
    """Winnowing property: two docs sharing a run of >= window+k-1 words
    share at least one fingerprint (Schleimer et al. theorem 1)."""
    from autoscan_spark.operators.dedup import winnow_fingerprints

    k, w = 4, 8
    shared = " ".join(f"tok{i}" for i in range(k + w - 1))  # 11 words
    df = spark.createDataFrame(
        [
            (1, "alpha beta " + shared + " gamma delta"),
            (2, "one two three four five " + shared),
            (3, "completely unrelated words only here nothing shared at all"),
        ],
        "doc_id long, text string",
    )
    fps = {
        r.doc_id: set(r.fingerprints)
        for r in winnow_fingerprints(df, k=k, window=w).collect()
    }
    assert fps[1] & fps[2], "docs sharing an 11-word run must share a fingerprint"
    assert not (fps[1] & fps[3])


def test_winnow_pairs_threshold_and_bucket_cap(spark):
    from autoscan_spark.operators.dedup import winnow_pairs

    base = " ".join(f"w{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, "different text entirely with no overlap")],
        "doc_id long, text string",
    )
    pairs = {(r.id_a, r.id_b) for r in winnow_pairs(df, min_shared=1).collect()}
    assert pairs == {(1, 2)}
    # max_bucket=1 drops every shared fingerprint (each lives in 2 docs)
    assert winnow_pairs(df, min_shared=1, max_bucket=1).count() == 0


def test_winnow_short_doc_single_fingerprint(spark):
    from autoscan_spark.operators.dedup import winnow_fingerprints

    df = spark.createDataFrame([(1, "only two")], "doc_id long, text string")
    out = winnow_fingerprints(df, k=4, window=8).collect()
    assert len(out) == 1 and len(out[0].fingerprints) == 1


def test_template_dedup_normalization_classes(spark):
    from autoscan_spark.operators.dedup import template_dedup

    df = spark.createDataFrame(
        [
            (1, "Order 123 shipped  on 2026"),
            (2, "order 9 SHIPPED on 41"),  # same template: digits+case+ws
            (3, "order nine shipped on later"),  # different
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: (r.template_fp, r.dup_rank) for r in template_dedup(df).collect()}
    assert rows[1][0] == rows[2][0] and rows[1][1] == 1 and rows[2][1] == 2
    assert rows[3][0] != rows[1][0] and rows[3][1] == 1


def test_cluster_size_stats_histogram(spark):
    from autoscan_spark.operators.dedup import cluster_size_stats

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(1, 8)], "doc_id long, text string"
    )
    # clusters: {1,2,3} via transitive chain, {4,5}; 6,7 singletons
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "id_a long, id_b long"
    )
    got = {r.cluster_size: r.n_clusters
           for r in cluster_size_stats(docs, pairs).collect()}
    # {1,2,3} transitive, {4,5}, and singletons 6 and 7
    assert got == {3: 1, 2: 1, 1: 2}


def test_knn_label_noise_flags_minority_label(spark):
    import pandas as pd

    from autoscan_spark.operators.similarity import knn_label_noise

    # cluster A around (1,0): ids 0-5 labeled 0 EXCEPT id 3 labeled 7
    # (the mislabeled point); cluster B around (0,1): ids 10-15 labeled 1.
    def jitter(i):
        return 0.001 * i

    rows = [(i, [1.0, jitter(i)], 7 if i == 3 else 0) for i in range(6)]
    rows += [(10 + i, [jitter(i), 1.0], 1) for i in range(6)]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "embedding", "label"])
    )
    out = {r["vec_id"]: r for r in knn_label_noise(df, k=5).collect()}
    assert len(out) == 12
    # the mislabeled point: all 5 neighbors are label 0 -> noisy
    assert (out[3]["own_label"], out[3]["knn_label"], out[3]["n_votes"],
            out[3]["is_noisy"]) == (7, 0, 5, True)
    # a clean A point sees 4 zeros + the one mislabeled 7 -> majority 0
    assert out[0]["knn_label"] == 0 and not out[0]["is_noisy"]
    assert out[0]["n_votes"] == 4
    # cluster B is unanimous
    assert all(not out[10 + i]["is_noisy"] for i in range(6))

    import pytest as _pytest

    with _pytest.raises(ValueError):
        knn_label_noise(df, k=0)


def test_knn_label_noise_vote_tie_breaks_to_smallest_label(spark):
    import pandas as pd

    from autoscan_spark.operators.similarity import knn_label_noise

    # query id 0; k=4 neighbors split 2-2 between labels 5 and 2 ->
    # majority tie resolves to label 2 (smallest)
    rows = [(0, [1.0, 0.0], 5)]
    rows += [(1, [1.0, 0.001], 5), (2, [1.0, 0.002], 5),
             (3, [1.0, 0.003], 2), (4, [1.0, 0.004], 2)]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "embedding", "label"])
    )
    out = knn_label_noise(
        df, df.filter("vec_id = 0"), k=4
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["knn_label"], r["n_votes"], r["is_noisy"]) == (2, 2, True)


def test_cluster_representatives_quality_pick(spark):
    import pandas as pd

    from autoscan_spark.operators.dedup import cluster_representatives

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4, 5, 6],
                "n_chars": [10, 50, 30, 7, 20, 20],
            }
        )
    )
    # cluster {1,2,3} via transitive chain; {5,6} quality tie -> min id;
    # 4 is a singleton
    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": [1, 2, 5], "id_b": [2, 3, 6]})
    )
    out = {r["doc_id"]: r for r in
           cluster_representatives(docs, pairs, "n_chars").collect()}
    assert set(out) == {2, 4, 5}
    assert (out[2]["n_chars"], out[2]["cluster_size"]) == (50, 3)
    assert (out[4]["n_chars"], out[4]["cluster_size"]) == (7, 1)
    assert (out[5]["n_chars"], out[5]["cluster_size"]) == (20, 2)
