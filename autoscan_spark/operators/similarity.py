"""Similarity search over embedding columns (array<float>).

- ``cosine_pairs``: JVM-side cosine (zip_with + aggregate folds),
  whole-stage-codegen friendly, no Python in the hot path.
- ``bruteforce_topk``: exact baseline — broadcast the (small) query set,
  score every corpus vector, per-query top-k via window. One shuffle
  (the window's partitionBy query_id).
- ``lsh_topk``: scale path — random-hyperplane signatures bucket the corpus;
  only bucket-colliding candidates are scored exactly, then top-k. At 100 TB
  the corpus-side signature is computed once and reused across query batches.
- ``ivf_topk``: IVF-style — corpus assigned to nearest of C coarse centroids
  (Arrow-vectorized numpy matmul), queries probe the ``nprobe`` nearest
  centroids only.

Every operator is built from the same few blocks, each written once:
``_side`` (the norm-hoisted side of a cosine join, scored by ``_COSINE``),
``_top_k`` (the per-query ranker), ``_lsh_candidates`` and
``_ivf_candidates`` (the bucket and cell joins), ``_cell_sims`` (the
centroid kernel behind ``_assign_cell`` and the cell probe) and
``_unit_rows`` (the numpy row normalisation).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.window import Window

from autoscan_spark.operators.sqlutil import bucket_self_join, spread


def norm_expr(a: str) -> str:
    """SQL expression: L2 norm of an array<float/double> column."""
    return f"sqrt(aggregate({a}, 0d, (s, v) -> s + cast(v as double) * cast(v as double)))"


# Cosine of a query side (``__qv``, ``__qn``) and a corpus side (``__cv``,
# ``__cn``) built by ``_side``: a per-pair dot over PRE-COMPUTED per-row
# norms, so each row's norm evaluates once per ROW instead of once per PAIR
# (for Q queries × C corpus rows that removes (Q-1)·C + (C-1)·Q redundant
# array folds from the join).
_COSINE = (
    "(aggregate(zip_with(__qv, __cv, (x, y) -> cast(x as double) * cast(y as double)),"
    " 0d, (s, v) -> s + v)) / nullif((__qn) * (__cn), 0d)"
)


def _side(
    df: DataFrame, id_col: str, vec_col: str, id_as: str, tag: str, *extra: Column
) -> DataFrame:
    """One side of a cosine join: the id as ``id_as``, the vector as
    ``__{tag}v`` and its L2 norm as ``__{tag}n`` (tag ``q`` or ``c`` for
    ``_COSINE``), then ``extra``."""
    return df.select(
        F.col(id_col).alias(id_as),
        F.col(vec_col).alias(f"__{tag}v"),
        F.expr(norm_expr(vec_col)).alias(f"__{tag}n"),
        *extra,
    )


def _top_k(scored: DataFrame, k: int, score: str) -> DataFrame:
    """The rows of ``scored`` ranked 1..k within each ``query_id`` by
    (``score`` DESC, ``neighbor_id`` ASC), the rank in ``rank``."""
    w = Window.partitionBy("query_id").orderBy(F.desc(score), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _unit_rows(vecs) -> np.ndarray:
    """The vectors as a float64 matrix, each row over its L2 norm. A
    zero-norm row stays as it is (all its cosines read 0 where the JVM's
    ``nullif`` reads NULL); every other row divides by its TRUE norm, which
    the margin-widened prefilters rescored by the JVM rely on."""
    mat = np.vstack(vecs).astype(np.float64)
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0.0] = 1.0
    return mat / norms[:, None]


def cosine_pairs(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All (query, corpus) cosine scores; the query side is broadcast and
    L2 norms are hoisted to per-row columns below the join."""
    q = _side(queries, id_col, vec_col, "query_id", "q")
    c = _side(corpus, id_col, vec_col, "neighbor_id", "c")
    return (
        c.crossJoin(F.broadcast(q))
        .withColumn("cosine", F.expr(_COSINE))
        .select("query_id", "neighbor_id", "cosine")
    )


def bruteforce_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    include_self: bool = False,
) -> DataFrame:
    scored = cosine_pairs(corpus, queries, id_col, vec_col)
    if not include_self:
        scored = scored.filter(F.col("query_id") != F.col("neighbor_id"))
    return _top_k(scored, k, "cosine").select("query_id", "neighbor_id", "cosine", "rank")


# |numpy_cosine - JVM_fold_cosine| for the same pair is summation-order
# noise only (pairwise vs sequential float64 reduction): <= ~d·eps per dot,
# ~1e-13 for d <= 4096. The candidate margin is 4 orders of magnitude wider,
# so the numpy prefilter provably never drops a pair the exact JVM rescore
# would keep; false candidates just get rescored and filtered.
_EXACT_COS_MARGIN = 2e-6


def _blocked_exact_candidates(
    corpus: DataFrame,
    threshold: float,
    id_col: str,
    vec_col: str,
    n_blocks: int = 16,
) -> DataFrame:
    """All-pairs cosine candidates >= threshold - margin, computed as numpy
    block matmuls (guide §4.2) instead of per-pair interpreted JVM folds.

    Distributed blocked all-pairs: each row lands in block ``pmod(xxhash64(
    id), B)`` and is replicated to the B block-pair groups containing its
    block; ``applyInPandas`` scores each (block_i, block_j) group with ONE
    float64 BLAS matmul — (n/B)²·d flops per group, B(B+1)/2 groups, every
    unordered pair scored exactly once. Replication factor is B, so the
    shuffle is n·B small rows; B=16 keeps ~136 groups (≥ cores) while the
    per-group matrices stay cache-sized.

    Output: (id_a, id_b) with id_a < id_b — a provable SUPERSET (see
    ``_EXACT_COS_MARGIN``) of the pairs whose exact JVM-fold cosine reaches
    ``threshold``; the caller rescores with the fold expression so emitted
    doubles are bit-identical to the unblocked formulation.
    """
    import pandas as pd  # noqa: F811 (kernel-local for executor pickling)

    cut = float(threshold) - _EXACT_COS_MARGIN
    id_type = corpus.schema[id_col].dataType.simpleString()
    rows = corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    rep = (
        rows.withColumn(
            "__blk", F.pmod(F.xxhash64(F.col("id")), F.lit(n_blocks))
        )
        .withColumn("__o", F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))))
        .withColumn("__g1", F.least("__blk", "__o"))
        .withColumn("__g2", F.greatest("__blk", "__o"))
    )

    def _block_pairs(keys, pdf: pd.DataFrame) -> pd.DataFrame:
        g1, g2 = keys
        empty = pd.DataFrame({"id_a": pd.Series([], dtype=object),
                              "id_b": pd.Series([], dtype=object)})
        pdf = pdf[pdf["vec"].notna()]
        if len(pdf) < 2:
            return empty

        # zero-norm rows: JVM nullif yields NULL cosine (never a pair); their
        # dots read 0, so they pass only a cut <= 0 and the rescore drops them
        if g1 == g2:
            unit = _unit_rows(pdf["vec"])
            ids = pdf["id"].to_numpy()
            iu = np.triu_indices(len(pdf), k=1)
            keep = (unit @ unit.T)[iu] >= cut
            ia, ib = ids[iu[0][keep]], ids[iu[1][keep]]
        else:
            a_rows = pdf[pdf["__blk"] == g1]
            b_rows = pdf[pdf["__blk"] == g2]
            if not len(a_rows) or not len(b_rows):
                return empty
            cos = _unit_rows(a_rows["vec"]) @ _unit_rows(b_rows["vec"]).T
            ai, bi = np.nonzero(cos >= cut)
            ia = a_rows["id"].to_numpy()[ai]
            ib = b_rows["id"].to_numpy()[bi]
        if not len(ia):
            return empty
        lo, hi = np.minimum(ia, ib), np.maximum(ia, ib)
        ok = lo != hi
        return pd.DataFrame({"id_a": lo[ok], "id_b": hi[ok]})

    return rep.groupBy("__g1", "__g2").applyInPandas(
        _block_pairs, f"id_a {id_type}, id_b {id_type}"
    )


def embedding_near_dups(
    corpus: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    n_tables: int = 8,
    seed: int = 42,
    exact: bool = False,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine ≥ threshold.

    ``exact=False`` (the scale path) generates candidates via hyperplane-LSH
    bucket self-join (``sqlutil.bucket_self_join``, singleton buckets
    pruned), then scores exactly — O(candidates), standard recall
    trade. ``exact=True`` scores all pairs (O(n²)); only for small corpora /
    oracle checks. Output: (id_a, id_b, cosine) with id_a < id_b.

    r07: the exact path no longer evaluates the interpreted JVM dot fold
    per pair inside a BroadcastNestedLoopJoin condition (measured ~10.5 s
    at sf0.1 — 2M pairs × 2 fold evaluations each); candidates come from
    ``_blocked_exact_candidates`` (numpy block matmuls, margin-widened),
    and only the surviving ~2% are rescored with the ORIGINAL fold
    expression, so output doubles are bit-identical. Assumes unique ids
    (the operator's existing contract).
    """
    if exact:
        pair_ids = _blocked_exact_candidates(
            corpus, threshold, id_col, vec_col
        )
    else:
        bucketed = add_lsh_buckets(
            corpus, dim=None, n_planes=n_planes, n_tables=n_tables,
            seed=seed, vec_col=vec_col,
        ).select(F.col(id_col).alias("id"), _explode_buckets())
        # deduplicated on the ids alone; the vectors join back below
        pair_ids = (
            bucket_self_join(bucketed, "id", "table_id", "bucket")
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .distinct()
        )
    cands = (
        pair_ids.join(_side(corpus, id_col, vec_col, "id_a", "q"), "id_a")
        .join(_side(corpus, id_col, vec_col, "id_b", "c"), "id_b")
    )
    return (
        cands.withColumn("cosine", F.expr(_COSINE))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


# ---------------------------------------------------------------------------
# LSH (random hyperplanes)
# ---------------------------------------------------------------------------


def _hyperplanes(dim: int, n_planes: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).astype(np.float64)


def md5_hyperplanes(n_tables: int, n_planes: int, dim: int) -> np.ndarray:
    """Deterministic hyperplanes whose components any engine can recompute:
    component(t, p, d) = first 4 md5 bytes of ``"t:p:d"`` scaled to
    [-0.5, 0.5). Uniform (not Gaussian) directions — fine for sign-LSH,
    which only needs symmetric random directions — and reproducible in
    DuckDB as ``(('0x'||substr(md5(t||':'||p||':'||d),1,8))::BIGINT)
    / 4294967296.0 - 0.5``, which is what makes an end-to-end LSH recall
    metric oracle-checkable cross-engine."""
    import hashlib

    planes = np.empty((n_tables, n_planes, dim), dtype=np.float64)
    for t in range(n_tables):
        for p in range(n_planes):
            for d in range(dim):
                h = hashlib.md5(f"{t}:{p}:{d}".encode()).digest()[:4]
                planes[t, p, d] = int.from_bytes(h, "big") / 2**32 - 0.5
    return planes


def _explode_buckets() -> Column:
    """``(table_id, bucket)`` rows of the ``buckets`` column. ``_outer``
    because ``posexplode`` gets an inferred ``size(buckets) > 0`` filter
    pushed below the projection, which evaluates the bucketing UDF twice per
    row; an outer row's null bucket joins nothing."""
    return F.posexplode_outer("buckets").alias("table_id", "bucket")


def add_lsh_buckets(
    df: DataFrame,
    dim: int | None,
    n_planes: int = 16,
    n_tables: int = 4,
    seed: int = 42,
    vec_col: str = "embedding",
    planes_matrix: np.ndarray | None = None,
) -> DataFrame:
    """Add ``buckets`` array<long>: one signature per hash table.

    Signature = sign-bit pattern of ``n_planes`` random projections
    (Arrow-vectorized numpy matmul — one BLAS call per batch). The seeded
    hyperplanes are generated INSIDE the kernel from the batch's own vector
    width (or the explicit ``dim`` hint) — deterministic across executors
    and batches, and no driver-side action at plan-construction time.

    ``planes_matrix`` (n_tables, n_planes, dim) overrides the seeded
    Gaussian planes with explicit ones (e.g. ``md5_hyperplanes`` for the
    oracle-checkable path); the projection then runs in float64 so the
    sign decisions agree with an engine computing exact double dots."""

    @pandas_udf("array<long>")
    def bucketize(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        mat = np.vstack(vecs.to_numpy())  # (batch, dim)
        if planes_matrix is not None:
            mat = mat.astype(np.float64)
            planes = list(planes_matrix)
        else:
            d = dim if dim is not None else mat.shape[1]
            planes = [_hyperplanes(d, n_planes, seed + t) for t in range(n_tables)]
        out = []
        sigs = []
        for p in planes:
            bits = (mat @ p.T) > 0  # (batch, n_planes)
            weights = 1 << np.arange(bits.shape[1], dtype=np.int64)
            sigs.append(bits @ weights)
        stacked = np.stack(sigs, axis=1)  # (batch, n_tables)
        for row in stacked:
            out.append(row.tolist())
        return pd.Series(out)

    return df.withColumn("buckets", bucketize(F.col(vec_col)))


def _lsh_candidates(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    **lsh,
) -> DataFrame:
    """Every distinct (query, corpus) pair sharing a bucket in at least one
    hash table (``lsh`` goes to ``add_lsh_buckets``), self-pairs excluded:
    ``query_id``, ``neighbor_id`` and both norm-hoisted sides, ready for
    ``_COSINE``. The query side is broadcast. A pair meets once per table it
    collides in; it keeps only the row of the first such table, found from
    the two signature arrays, so under unique ids it yields one row with no
    aggregate and no exchange."""

    def buckets(df: DataFrame, id_as: str, tag: str) -> DataFrame:
        return _side(
            add_lsh_buckets(df, vec_col=vec_col, **lsh),
            id_col, vec_col, id_as, tag,
            F.col("buckets").alias(f"__{tag}b"), _explode_buckets(),
        )

    return (
        buckets(corpus, "neighbor_id", "c")
        .join(F.broadcast(buckets(queries, "query_id", "q")), on=["table_id", "bucket"])
        .filter(
            (F.col("query_id") != F.col("neighbor_id"))
            & F.expr(
                "table_id = array_position(zip_with(__qb, __cb, (x, y) -> x = y), true) - 1"
            )
        )
        .select("query_id", "neighbor_id", "__qv", "__cv", "__qn", "__cn")
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int | None = None,
    k: int = 10,
    n_planes: int = 12,
    n_tables: int = 6,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: score only candidates sharing ≥1 LSH bucket."""
    scored = _lsh_candidates(
        corpus, queries, id_col, vec_col,
        dim=dim, n_planes=n_planes, n_tables=n_tables, seed=seed,
    ).withColumn("cosine", F.expr(_COSINE))
    return _top_k(scored, k, "cosine").select("query_id", "neighbor_id", "cosine", "rank")


def lsh_recall(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    planes_matrix: np.ndarray | None = None,
    n_tables: int = 8,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tie_round: int = 6,
) -> DataFrame:
    """Driver-visible recall metric for the approximate path: per query,
    how many of the LSH top-k survive in the exact brute-force top-k.

    Output: (query_id, n_hits, recall_ppm) — integers, so the result is
    bit-stable cross-engine. Ranking on both sides uses
    ``round(cosine, tie_round)`` with ``neighbor_id`` as tie-break (the
    repo's engine-portable ordering convention). With
    ``planes_matrix=md5_hyperplanes(...)`` the WHOLE pipeline — bucketing,
    candidate join, scoring, ranking, overlap — is reproducible in SQL,
    so this is oracle-checkable, unlike a recall number quoted from a
    seeded RNG run.

    Scale shape: the exact side is O(|queries| × corpus) — this is a
    diagnostics/quality-eval query run over a bounded query sample (the
    standard ANN-benchmark shape), not a corpus×corpus job; the corpus
    side is scanned twice (bucketed candidates + exact scoring) with no
    corpus-side shuffle other than the per-query top-k windows."""
    if planes_matrix is None:
        planes_matrix = md5_hyperplanes(n_tables, n_planes, 0)
    approx_scored = _lsh_candidates(
        corpus, queries, id_col, vec_col, dim=None, planes_matrix=planes_matrix
    ).withColumn("cosine_r", F.round(F.expr(_COSINE), tie_round))
    return _recall_vs_exact(
        approx_scored, corpus, queries, k, id_col, vec_col, tie_round
    )


def _recall_vs_exact(
    approx_scored: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    tie_round: int,
) -> DataFrame:
    """Shared overlap stage of the recall metrics: top-k both the approx
    candidate scores and the exact brute-force scores (rank =
    (cosine_r DESC, neighbor_id ASC)), count the per-query intersection,
    left-join onto the query list so misses read as 0."""

    def _topk_ids(scored: DataFrame) -> DataFrame:
        return _top_k(scored, k, "cosine_r").select("query_id", "neighbor_id")

    exact_scored = (
        cosine_pairs(corpus, queries, id_col, vec_col)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine_r", F.round(F.col("cosine"), tie_round))
    )
    hits = (
        _topk_ids(approx_scored)
        .join(_topk_ids(exact_scored), on=["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    return (
        queries.select(F.col(id_col).alias("query_id"))
        .join(hits, on="query_id", how="left")
        .select(
            "query_id",
            F.coalesce(F.col("__n"), F.lit(0)).cast("long").alias("n_hits"),
            (F.coalesce(F.col("__n"), F.lit(0)) * (1000000 // k))
            .cast("long")
            .alias("recall_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Cells: vectors scored against unit centroids
# ---------------------------------------------------------------------------


def _cell_sims(vecs: pd.Series, cents: np.ndarray, decimals: int | None) -> np.ndarray:
    """Cosine of each vector of an Arrow batch to each unit centroid, one
    BLAS matmul. ``decimals`` rounds it BEFORE any ranking: ``ivf_recall``
    must pick cells as an engine computing exact double cosines does; the
    k-means paths rank the raw cosines (``None``)."""
    sims = _unit_rows(vecs) @ cents.T
    return sims if decimals is None else np.round(sims, decimals)


def _assign_cell(cents: np.ndarray, decimals: int | None = None):
    """pandas UDF: the index of each vector's nearest centroid, ties to
    the lowest index."""

    @pandas_udf("int")
    def assign_cell(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:  # empty Arrow batch: np.vstack would raise
            return pd.Series([], dtype="int32")
        sims = _cell_sims(vecs, cents, decimals)
        return pd.Series(np.argmax(sims, axis=1).astype("int32"))

    return assign_cell


def _ivf_candidates(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    cents: np.ndarray,
    nprobe: int,
    decimals: int | None = None,
) -> DataFrame:
    """Every (query, corpus) pair whose corpus row lies in one of the
    query's ``nprobe`` nearest cells, self-pairs excluded: ``query_id``,
    ``neighbor_id`` and both norm-hoisted sides, ready for ``_COSINE``.
    The query side is broadcast. A corpus row has one cell and a query
    probes distinct cells, so under unique ids each pair occurs once and
    needs no ``distinct``."""

    @pandas_udf("array<int>")
    def probe_cells(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:  # empty Arrow batch: np.vstack would raise
            return pd.Series([], dtype=object)
        sims = _cell_sims(vecs, cents, decimals)
        # stable argsort on -sims: equal cosines keep ascending index
        # order, the same tie rule as assign_cell
        order = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe]
        return pd.Series([row.tolist() for row in order])

    c = _side(
        corpus, id_col, vec_col, "neighbor_id", "c",
        _assign_cell(cents, decimals)(F.col(vec_col)).alias("cell"),
    )
    q = _side(
        queries, id_col, vec_col, "query_id", "q",
        F.explode(probe_cells(F.col(vec_col))).alias("cell"),
    )
    return c.join(F.broadcast(q), on="cell").filter(
        F.col("query_id") != F.col("neighbor_id")
    )


def ivf_recall(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tie_round: int = 6,
) -> DataFrame:
    """Recall@k of a fully-deterministic IVF variant vs the exact top-k —
    the IVF counterpart of ``lsh_recall``, and like it ENGINE-REPLAYABLE
    end to end: the coarse centroids are the first ``n_cells`` corpus
    vectors in ``md5(CAST(id AS STRING))`` order (not a k-means fit and
    not Spark-specific xxhash sampling, both of which no SQL oracle could
    reproduce), assignment/probing rank cells by ``round(cosine,
    tie_round)`` with centroid-id tie-break, and the overlap stage is
    shared with ``lsh_recall``. The refined (k-means) quantizer's quality
    is pinned separately in pytest via ``ivf_topk``; this metric is the
    driver-visible, oracle-checked recall instrument.

    Scale shape: the centroid pick is a distributed TakeOrdered of
    ``n_cells`` rows (metadata-sized driver collect, same bound as
    ``_centroids_from_sample``); assignment is one Arrow matmul per
    batch; candidates join on ``cell``; the exact side is
    O(|queries| × corpus) — the ANN-benchmark diagnostics shape."""
    cent_rows = (
        corpus.select(F.col(id_col).alias("__cid"), F.col(vec_col).alias("__cv"))
        .orderBy(F.md5(F.col("__cid").cast("string")), F.col("__cid"))
        .limit(n_cells)
        .collect()
    )
    # id-sorted: a cell's index orders as its centroid id, so the index
    # tie rule of the cell kernel is the oracle's centroid-id tie-break
    cent_rows = sorted(cent_rows, key=lambda r: r["__cid"])
    cents = _unit_rows([r["__cv"] for r in cent_rows])
    approx_scored = _ivf_candidates(
        corpus, queries, id_col, vec_col, cents, nprobe, tie_round
    ).withColumn("cosine_r", F.round(F.expr(_COSINE), tie_round))
    return _recall_vs_exact(
        approx_scored, corpus, queries, k, id_col, vec_col, tie_round
    )


# ---------------------------------------------------------------------------
# IVF (coarse quantizer from a deterministic corpus sample)
# ---------------------------------------------------------------------------


_KMEANS_TRAIN_FACTOR = 256  # training-sample size = factor × n_cells (faiss-style)


def _spherical_kmeans(
    train: np.ndarray, init: np.ndarray, iterations: int
) -> tuple[np.ndarray, list[float]]:
    """Lloyd iterations of spherical k-means on a unit-normalized training
    sample (pure numpy, driver-side). Returns (centroids, objective history
    of mean max-cosine — monotonically non-decreasing, pinned by pytest).
    Empty cells keep their previous centroid."""
    cents = init.copy()
    history: list[float] = []
    for _ in range(iterations):
        sims = train @ cents.T  # (n, k)
        assign = np.argmax(sims, axis=1)
        history.append(float(sims[np.arange(len(train)), assign].mean()))
        for c in range(len(cents)):
            members = train[assign == c]
            if len(members):
                m = members.sum(axis=0)
                n = np.linalg.norm(m)
                if n > 1e-12:
                    cents[c] = m / n
    return cents, history


def _centroids_from_sample(
    corpus: DataFrame,
    vec_col: str,
    n_cells: int,
    seed: int,
    kmeans_iterations: int = 0,
) -> np.ndarray:
    """Deterministic coarse centroids: hash-ordered sample, unit-normalized,
    optionally refined with ``kmeans_iterations`` rounds of spherical
    k-means (Lloyd) on a bounded training sample.

    Scale shape: quantizer TRAINING is sample-based (the standard IVF
    design — faiss trains on ≤ a few hundred vectors per cell, not the
    corpus): the TakeOrdered sample is ≤ ``_KMEANS_TRAIN_FACTOR × n_cells``
    rows (~tens of MB even for a 4096-cell quantizer at dim 1024), Lloyd
    runs in driver numpy, and only the final (n_cells × dim) centroid
    matrix ships to executors in the assignment-UDF closure. Corpus
    ASSIGNMENT stays fully distributed."""
    sample_n = n_cells if kmeans_iterations == 0 else _KMEANS_TRAIN_FACTOR * n_cells
    # Arrow driver transfer (guide §6): .collect() deserializes nested
    # float arrays through the pickled-row path (~0.3 ms/row — measured
    # 0.6-0.8 s for a 2000-row sample); .toPandas() rides Arrow. The
    # scan is additionally spread first: the sort key renders every
    # vector to a string for the content hash (~0.25 ms/row of float
    # formatting), which a one-split input would evaluate on one core.
    # The sampled MATRIX is partitioning-invariant: the key is a pure
    # content hash, so any hash tie is between identical vectors.
    pdf = (
        spread(corpus.select(vec_col))
        .orderBy(F.xxhash64(F.col(vec_col).cast("array<float>").cast("string"), F.lit(seed)))
        .limit(sample_n)
        .toPandas()
    )
    mat = _unit_rows(pdf[pdf.columns[0]])
    if kmeans_iterations == 0:
        return mat
    cents, _ = _spherical_kmeans(mat, mat[:n_cells].copy(), kmeans_iterations)
    return cents


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.95,
    n_cells: int | None = None,
    seed: int = 42,
    kmeans_iterations: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep: str = "survivors",
    target_cell_size: int = 256,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (public recipe: Abbas et al.
    2023, "SemDeDup" — k-means the embeddings, then prune near-identical
    pairs WITHIN each cluster only, which bounds the quadratic pairwise
    step to cluster sizes instead of the corpus).

    A row is dropped iff some SAME-CELL row with a smaller id has cosine
    ≥ ``threshold`` to it — the deterministic min-id variant of the
    paper's keep-one-per-duplicate-group rule (one-step, not transitive:
    chains A~B~C with cos(A,C) < τ keep A and C, as in
    ``survivors_from_pairs``' no-chain case; route ``keep="pairs"``
    output through ``dedup.connected_components`` when transitive
    closure is wanted).

    Scale shape: centroid training is the bounded-sample spherical
    k-means ``ivf_topk`` uses (driver numpy on ≤ 256×n_cells rows; only
    the (n_cells × dim) matrix ships to executors); assignment is one
    Arrow-vectorized matmul, materialized by a ``localCheckpoint``; the
    pairwise step groups on ``cell`` — the shuffle key the paper's design
    exists to create — and scores each cell with one numpy matmul
    (``applyInPandas``).
    Output: ``keep="survivors"`` → surviving rows (all original columns);
    ``keep="pairs"`` → (id_a, id_b, cosine) duplicate pairs.
    """
    if keep not in ("survivors", "pairs"):
        raise ValueError(f"keep must be 'survivors' or 'pairs', got {keep!r}")
    if n_cells is None:
        # The within-cell pairwise step costs O(sum(cell²)); a FIXED cell
        # count makes it quadratic in the corpus (measured 72× at a 10×
        # corpus on the sf1 rung). Scaling cells with the corpus pins the
        # expected cell size at target_cell_size → pairwise work grows
        # LINEARLY (n · target_cell_size). The one count() job is a cheap
        # columnar scan. Assignment cost n·cells·dim then grows n²·dim/C —
        # negligible through ~10⁶ vectors; beyond that use a two-level
        # (coarse→fine) quantizer, same operator shape per level.
        n_cells = max(16, corpus.count() // int(target_cell_size))
    cents = _centroids_from_sample(
        corpus, vec_col, n_cells, seed, kmeans_iterations
    )

    celled = corpus.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__v"),
        _assign_cell(cents)(F.col(vec_col)).alias("cell"),
    ).localCheckpoint()  # barrier: grouping must not re-run the UDF

    # Per-cell pairwise as ONE numpy matmul per cell via applyInPandas —
    # cells are FEW and FAT by construction (expected size =
    # target_cell_size), exactly the group shape where per-group Arrow
    # batches win; the previous cell self-join scored each candidate with
    # an interpreted JVM dot fold (measured ~10µs/pair → the whole step
    # was pair-count-bound: 2.5M pairs ≈ 25s; the matmul does the same
    # cell in milliseconds). A pathological giant cell (an all-identical
    # corpus) is bounded in memory by cell_size²; shard such cells by a
    # salt on the id before this step if they arise.
    tau = float(threshold)

    def _cell_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        empty = pd.DataFrame(
            {
                "id_a": pd.Series([], dtype="int64"),
                "id_b": pd.Series([], dtype="int64"),
                "cosine": pd.Series([], dtype="float64"),
            }
        )
        if n < 2:
            return empty
        unit = _unit_rows(pdf["__v"])
        cos = unit @ unit.T
        iu = np.triu_indices(n, k=1)
        keep_m = cos[iu] >= tau
        if not keep_m.any():
            return empty
        ids = pdf["__id"].to_numpy()
        ia = ids[iu[0][keep_m]]
        ib = ids[iu[1][keep_m]]
        return pd.DataFrame(
            {
                "id_a": np.minimum(ia, ib),
                "id_b": np.maximum(ia, ib),
                "cosine": cos[iu][keep_m],
            }
        )

    pairs = celled.groupBy("cell").applyInPandas(
        _cell_pairs, "id_a long, id_b long, cosine double"
    )
    if keep == "pairs":
        return pairs.select("id_a", "id_b", "cosine")
    dropped = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return corpus.join(dropped, on=id_col, how="left_anti")


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    kmeans_iterations: int = 0,
) -> DataFrame:
    """IVF-style ANN: corpus rows assigned to their nearest coarse centroid;
    each query scores only rows in its ``nprobe`` nearest cells.
    ``kmeans_iterations`` > 0 refines the sampled centroids with spherical
    k-means on a bounded training sample (see ``_centroids_from_sample``) —
    better-balanced cells, higher recall at the same nprobe."""
    cents = _centroids_from_sample(corpus, vec_col, n_cells, seed, kmeans_iterations)
    scored = _ivf_candidates(
        corpus, queries, id_col, vec_col, cents, nprobe
    ).withColumn("cosine", F.expr(_COSINE))
    return _top_k(scored, k, "cosine").select("query_id", "neighbor_id", "cosine", "rank")


def knn_label_noise(
    df: DataFrame,
    queries: DataFrame | None = None,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """k-NN label-noise detection over a labeled embedding table — the
    Confident-Learning-style data-quality gate: a row whose label
    disagrees with the majority label of its ``k`` nearest neighbors
    (exact cosine) is flagged as probably mislabeled and gets dropped or
    re-audited before classifier training.

    Determinism (engine-portable): cosine is rounded to 6 decimals and
    neighbor ties break on id; vote ties break on the SMALLEST label.
    Output booleans/counts are exact.

    Shape (r07): the query matrix ships to the corpus scan in the kernel
    closure (it was always driver-collected — ``F.broadcast`` collects
    internally; now the size is GUARDED, see below); PySpark broadcasts a
    pickled Python function larger than
    ``spark.broadcast.UDFCompressionThreshold`` (1 MB), so a large matrix
    reaches each executor once, not once per task. Each corpus Arrow
    batch scores ALL queries with one numpy matmul, emitting only its
    batch-local top-k candidate ids per query with a rounding-safe margin
    (guide §4.2 — this replaces ~|corpus|×|queries| interpreted JVM dot
    folds inside a BroadcastNestedLoopJoin, measured 2.85 s → ~0.8 s at
    sf0.1). The surviving candidates (≈ k per query per batch) are then
    rescored with the ORIGINAL JVM fold expression, so the final rounded
    cosines, rankings and votes are bit-identical to the unbatched
    formulation: a row can only miss candidacy if ≥ k same-batch rows
    beat its rounded numpy cosine by > 2e-6, which (numpy and the JVM
    fold agree to ~1e-13 pre-rounding, hence to one 1e-6 rounding step)
    forces ≥ k rows STRICTLY above it in the exact ranking too. The
    corpus never shuffles; one query-key exchange serves the top-k
    window, vote groupBy and majority window. At full-corpus scale route
    candidate generation through the IVF/LSH bucketed paths instead
    (same downstream vote logic).

    ``queries=None`` scores every row against the corpus; the collected
    query side is guarded at ``max_queries`` rows (default 200k) so the
    default call cannot silently pull an unbounded corpus onto the
    driver/executors — past that, use the IVF/LSH routing.

    Output: (id_col, ``own_label``, ``knn_label``, ``n_votes`` bigint of
    the winning label, ``is_noisy`` boolean).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if queries is None:
        queries = df
    max_queries = 200_000
    # guard BEFORE any unbounded collect: pull at most max_queries+1 rows
    # (no separate count job) and refuse past the bound; Arrow transfer
    # (guide §6) — the pickled-row path costs ~0.3 ms/row on array cells
    q_pdf = (
        queries.select(F.col(id_col), F.col(vec_col))
        .limit(max_queries + 1)
        .toPandas()
    )
    if len(q_pdf) > max_queries:
        raise ValueError(
            f"knn_label_noise query side exceeds {max_queries} rows; "
            "the exact path collects/broadcasts the query matrix — route "
            "full-corpus candidate generation through the IVF/LSH bucketed "
            "paths (ivf_topk / lsh_topk) and reuse the vote logic instead."
        )
    q_vecs = q_pdf[q_pdf.columns[1]].tolist()
    qids_np = q_pdf[q_pdf.columns[0]].to_numpy()
    dim = next((len(v) for v in q_vecs if v is not None), 1)

    def _dense(vecs) -> np.ndarray:
        # a NULL vector reads as zeros: degenerate, like a zero-norm one
        return np.vstack(
            [np.zeros(dim) if v is None else np.asarray(v, dtype=np.float64) for v in vecs]
        )

    if len(q_vecs):
        qmat = _dense(q_vecs)
        qunit = _unit_rows(qmat)
    else:
        qmat = qunit = np.zeros((0, dim))
    q_degenerate = np.linalg.norm(qmat, axis=1) == 0.0  # NULL cosine for every pair under the JVM

    id_type = df.schema[id_col].dataType.simpleString()
    margin = _EXACT_COS_MARGIN

    def _cand_batches(pdf_iter):
        for pdf in pdf_iter:
            if not len(pdf) or not len(qids_np):
                continue
            nids = pdf["__nid"].to_numpy()
            null_vec = pdf["__nv"].isna().to_numpy()
            mat = _dense(pdf["__nv"])
            c_degenerate = null_vec | (np.linalg.norm(mat, axis=1) == 0.0)
            cos = np.round(_unit_rows(mat) @ qunit.T, 6)
            # NULL-cosine pairs rank below every real cosine (Spark desc
            # puts nulls last): -inf keeps them candidates only when the
            # batch has fewer than k real rows, exactly the case where
            # they can reach the global top-k
            cos[c_degenerate, :] = -np.inf
            self_mask = nids[:, None] == qids_np[None, :]
            cos[self_mask] = -np.inf
            if len(nids) > k:
                kth = -np.partition(-cos, k - 1, axis=0)[k - 1]
                keep = cos >= kth - margin
            else:
                keep = np.ones_like(cos, dtype=bool)
            # a zero-norm QUERY nulls every cosine: ranking degenerates to
            # neighbor_id order over the whole corpus — keep everything
            keep[:, q_degenerate] = True
            keep &= ~self_mask
            ci, qi = np.nonzero(keep)
            if not len(ci):
                continue
            yield pd.DataFrame(
                {"query_id": qids_np[qi], "neighbor_id": nids[ci]}
            )

    cand = df.select(
        F.col(id_col).alias("__nid"), F.col(vec_col).alias("__nv")
    ).mapInPandas(
        _cand_batches, f"query_id {id_type}, neighbor_id {id_type}"
    )
    q = _side(
        queries, id_col, vec_col, "query_id", "q",
        F.col(label_col).alias("own_label"),
    )
    c = _side(df, id_col, vec_col, "neighbor_id", "c", F.col(label_col).alias("__nl"))
    scored = (
        cand.join(c, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .withColumn("__cos", F.round(F.expr(_COSINE), 6))
    )
    votes = (
        _top_k(scored, k, "__cos")
        .groupBy("query_id", "own_label", "__nl")
        .agg(F.count(F.lit(1)).cast("long").alias("n_votes"))
    )
    w_maj = Window.partitionBy("query_id").orderBy(
        F.desc("n_votes"), F.asc("__nl")
    )
    return (
        votes.withColumn("__rv", F.row_number().over(w_maj))
        .filter(F.col("__rv") == 1)
        .select(
            F.col("query_id").alias(id_col),
            "own_label",
            F.col("__nl").alias("knn_label"),
            "n_votes",
            (F.col("own_label") != F.col("__nl")).alias("is_noisy"),
        )
    )
