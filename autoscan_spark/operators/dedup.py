"""Deduplication operators for large-scale training-data pipelines.

All hot paths are JVM-side column expressions (whole-stage codegen) — no
per-row Python: shingling via ``split``/``transform``/``slice``, MinHash via
modular permutations of ``xxhash64``, LSH banding via hash-of-signature-slice,
verification via ``array_intersect``/``array_union``. SimHash uses one
Arrow-vectorized pandas UDF (numpy bit ops).

Scale design:
- Candidate generation is an equi-join on (band_id, band_hash) — a standard
  shuffle join that AQE can handle; no O(n²) comparisons.
- Duplicate-pair verification runs only on candidates.
- Transitive duplicate chains resolve via ``connected_components``: a
  single-task union-find for pairs-sized edge sets, large-star/small-star
  contraction (O(log n) rounds on any topology) above that. One-step
  ``survivors_from_pairs`` remains for the no-chain case.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from autoscan_spark.operators.sqlutil import (
    bucket_self_join,
    qcol,
    qident,
    reject_reserved,
    shingle_expr,
    split_words,
    spread,
    with_words,
)
from pyspark.sql.functions import pandas_udf

# MinHash permutation parameters: h_i(x) = (a_i * x + b_i) mod P over
# P = 2^31-1 (Mersenne prime). Seeds are fixed so signatures are stable
# across runs/engines. a_i must be non-zero mod P.
_P = (1 << 31) - 1


def _perm_params(num_hashes: int, seed: int = 42):
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, _P), rng.randrange(0, _P)) for _ in range(num_hashes)
    ]


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: keep the smallest id per content hash.

    Returns the surviving rows (all original columns). Single window pass —
    ``row_number() over (partition by unhex(md5(text)) order by id)`` — so
    the INPUT PIPELINE IS EVALUATED ONCE: the groupBy-keepers + join-back
    alternative re-computes every upstream operator on both join branches
    (measured in corpus_prep: the whole lang-ID/quality pipeline ran twice)
    and shuffles the corpus for the join anyway, so the window's one
    full-row shuffle is never worse and the saved re-computation is pure
    win. The partition key is ``unhex(md5(...))`` — 16-byte binary, half
    the shuffle bytes of hex; 128 bits is the right width (a 64-bit hash
    birthday-collides around 10¹⁰ docs, silently merging distinct docs).
    Skew note: k identical copies of one document land in one window
    partition — same behavior as the groupBy key, AQE handles the same way.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(F.unhex(F.md5(qcol(text_col)))).orderBy(qcol(id_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def word_shingles(df: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """Add a ``shingles`` column: distinct word n-grams (JVM expressions).

    The word split is hoisted into its own projection and the shingle
    lambda references the COLUMN (see ``sqlutil.shingle_expr``);
    CollapseProject keeps the hoist (non-cheap producer, multiple
    references)."""
    reject_reserved(df, ("__ws_hoist", "shingles"), "word_shingles")
    return (
        with_words(df, text_col, "__ws_hoist")
        .withColumn("shingles", F.expr(shingle_expr("__ws_hoist", n)))
        .drop("__ws_hoist")
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 64,
    seed: int = 42,
) -> DataFrame:
    """MinHash signature per row from a ``shingles`` array column.

    signature[i] = min over shingles s of (a_i * (xxhash64(s) mod P) + b_i) mod P

    Split across the JVM/Python boundary where each side is fastest: the
    per-shingle ``xxhash64`` runs JVM-side (whole-stage codegen, and it pins
    the hash function to Spark's own xxhash64 so signatures stay stable),
    while the ``num_hashes`` modular permutations run in ONE Arrow-batched
    numpy kernel. The earlier all-JVM formulation expressed the permutations
    as 64 ``array_min(transform(...))`` higher-order functions, which
    Catalyst executes as *interpreted* lambdas — correct, but each lambda
    JIT-warms separately (~25 s cold first run at sf0.1) and the optimizer
    has no common-subexpression reuse across them. The numpy kernel is a
    single segmented reduction (``np.minimum.reduceat`` over the
    batch-flattened shingle hashes), bit-identical output (pinned: 25 pairs
    @ sf0.01, 258 @ sf0.1), no JIT cliff.

    Arithmetic stays in int64: hashes and ``a_i`` are both < 2^31, so
    ``a_i * h + b_i`` < 2^62 — no overflow, no bigint promotion.
    """
    from pyspark.sql.types import ArrayType, LongType

    params = _perm_params(num_hashes, seed)

    @pandas_udf(ArrayType(LongType()))
    def _minhash_sig(sh: pd.Series) -> pd.Series:
        import numpy as np

        a_vec = np.array([a for a, _ in params], dtype=np.int64)
        b_vec = np.array([b for _, b in params], dtype=np.int64)
        n_rows = len(sh)
        lens = np.fromiter(
            (0 if v is None else len(v) for v in sh), dtype=np.int64, count=n_rows
        )
        nz = lens > 0
        out = np.empty((n_rows, num_hashes), dtype=np.int64)
        if nz.any():
            flat = np.concatenate(
                [np.asarray(v, dtype=np.int64) for v in sh if v is not None and len(v)]
            )
            starts = np.concatenate(([0], np.cumsum(lens[nz])[:-1]))
            for i in range(num_hashes):
                vals = (flat * a_vec[i] + b_vec[i]) % _P
                out[nz, i] = np.minimum.reduceat(vals, starts)
        none_sig = [None] * num_hashes
        return pd.Series(
            [
                out[j].tolist() if nz[j] else none_sig
                for j in range(n_rows)
            ]
        )

    base = df.withColumn(
        "__sh", F.expr("transform(shingles, s -> pmod(xxhash64(s), 2147483647))")
    )
    return base.withColumn("signature", _minhash_sig(F.col("__sh"))).drop("__sh")


def lsh_candidate_pairs(
    sig_df: DataFrame,
    id_col: str = "doc_id",
    bands: int = 16,
    rows_per_band: int = 4,
) -> DataFrame:
    """Banded-LSH candidate pairs (id_a < id_b) from ``signature`` columns.

    Two rows are candidates iff they agree on ALL rows of at least one band.
    Implemented as: explode to (band_id, band_hash, id) → self equi-join →
    distinct pairs. The join keys are high-cardinality, so the shuffle is
    well-spread; a pathological band (all-identical docs) is an AQE skew case.

    The self-join is ``sqlutil.bucket_self_join``: singleton buckets are
    pruned before it, behind a lazy ``localCheckpoint``, so the banding
    explode runs once.
    """
    assert bands * rows_per_band <= 256
    buckets = sig_df.select(
        qcol(id_col),
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        F.lit(b), F.slice(F.col("signature"), b * rows_per_band + 1, rows_per_band)
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band_id", "band_hash"),
    )
    return (
        bucket_self_join(buckets, id_col, "band_id", "band_hash")
        .select(
            F.col(f"a.{qident(id_col)}").alias("id_a"), F.col(f"b.{qident(id_col)}").alias("id_b")
        )
        .distinct()
    )


def jaccard_verify(
    pairs: DataFrame,
    shingled: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.7,
) -> DataFrame:
    """Exact shingle-set Jaccard on candidate pairs; keeps pairs ≥ threshold.

    Output: (id_a, id_b, jaccard).

    Pass a ``shingled`` frame already pruned to the candidate ids
    (``candidate_id_prune``) — this function joins it on BOTH sides of
    every pair, so handing it the full corpus shuffles corpus-sized
    shingle arrays. ``minhash_dedup`` does the prune-then-shingle.
    """
    sa = shingled.select(qcol(id_col).alias("id_a"), F.col("shingles").alias("sh_a"))
    sb = shingled.select(qcol(id_col).alias("id_b"), F.col("shingles").alias("sh_b"))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline → verified duplicate pairs.

    Plan shape (the part that matters at scale):
    - The input goes through ``sqlutil.spread`` before the signature
      projection. A small/compacted scan (one input split) would
      otherwise compute all ``num_hashes`` lambda expressions on one core.
    - The narrow ``(id, signature)`` frame is materialized with a
      ``localCheckpoint`` barrier before banding. Catalyst collapses adjacent
      projections and has no common-subexpression reuse across lambda
      functions, so without the barrier each of the ``bands`` band-hash
      slices — on BOTH sides of the LSH self-join — re-evaluates the full
      ``num_hashes``-way signature (~2×bands× recomputation; measured 82.7s
      → ~3s at sf0.1). Signatures are ~8·num_hashes bytes/doc, so the
      checkpoint is compact (~0.5 TB per 10⁹ docs, MEMORY_AND_DISK); for
      corpora beyond block-manager capacity, write signatures to a table and
      band from that instead.
    - Shingles are NOT cached: the verify step recomputes them from the
      scan for CANDIDATE rows only — the raw (id, text) frame takes a
      left-semi prune on the candidate-pair ids BEFORE the shingle
      projection (Spark 4.1 does not push a semi-join below a Project, so
      the order is built explicitly; plan-asserted), then only those rows
      re-shingle. The prune carries NO broadcast hint: AQE sizes the id
      set after its distinct shuffle and broadcasts it exactly when it
      fits autoBroadcastJoinThreshold, so a duplicate-heavy corpus whose
      candidate set is O(corpus) degrades to a shuffle semi-join instead
      of failing the broadcast. Corpus-sized SHINGLE ARRAYS never appear
      after banding in either mode; in the broadcast mode (the normal,
      mostly-unique corpus) the narrow (id, text) frame doesn't shuffle
      either, while the shuffle-fallback mode exchanges that narrow frame
      once — the price of not dying on an O(corpus) candidate set.
    - ``pairs`` sits behind a lazy ``localCheckpoint``; every downstream
      consumer scans it once per job (the id prune is a single explode
      scan), so the broadcast job materializes the LSH join once and the
      verify join reuses the cache. (A self-union id prune raced two
      concurrent scans and computed the join twice — measured 42s vs 16s
      cold at sf0.1.)
    """
    narrow = spread(df.select(qcol(id_col), qcol(text_col)))
    shingled = word_shingles(narrow, text_col, n)
    sigs = (
        minhash_signatures(shingled, id_col, num_hashes)
        .select(id_col, "signature")
        .localCheckpoint(eager=False)
    )
    pairs = lsh_candidate_pairs(
        sigs, id_col, bands, num_hashes // bands
    ).localCheckpoint(eager=False)
    # lazy checkpoint: BOTH verify sides semi-join against this id set,
    # and without the barrier Catalyst re-runs the explode + distinct
    # exchange per side (r07, guide §2.4 — one candidate-id shuffle, not
    # two; the set stays O(duplicate docs))
    ids = pairs.select(
        F.explode(F.array(F.col("id_a"), F.col("id_b"))).alias(id_col)
    ).distinct().localCheckpoint(eager=False)
    # The candidate-id set is O(duplicate docs): tiny on a clean corpus but
    # unbounded on a duplicate-heavy one, where an unconditional broadcast
    # hint blows the driver/broadcast limit at the 100 TB design point. No
    # hint: AQE sizes the id set AFTER its distinct shuffle and converts
    # the semi-join to broadcast exactly when it fits
    # autoBroadcastJoinThreshold, falling back to a shuffle semi-join when
    # candidates are O(corpus) — the runtime-stats decision an up-front
    # driver count would only approximate (and a count here would execute
    # the whole LSH join at plan-construction time).
    pruned = narrow.join(ids, on=id_col, how="left_semi")
    return jaccard_verify(pairs, word_shingles(pruned, text_col, n), id_col, threshold)


def survivors_from_pairs(df: DataFrame, pairs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Keep-min survivor policy: drop every id that appears as ``id_b`` of a
    verified pair (one-step; transitive chains need repeated application or
    ``connected_components`` — see module docstring)."""
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, on=id_col, how="left_anti")


# Edge-count bound for the single-task union-find fast path of
# connected_components. Near-dup pair sets are pairs-sized, not
# corpus-sized (LSH bands emit only colliding docs), so even 100 TB corpora
# routinely produce edge sets far under this; pure-Python union-find with
# path halving runs ~1M edges/s, so the cap bounds the one task at ~1 s.
# 0 sends every edge set through the star rounds.
_LOCAL_CC_MAX_EDGES = 1_000_000


def _union_find_components(edges: DataFrame) -> DataFrame:
    """Exact connected components of a SMALL edge set in one task:
    the distinct edge frame is coalesced to a single partition and a
    union-find (path-halving + size union) labels every node with the MIN
    id of its component — the same output contract as the star rounds,
    produced by one narrow job instead of O(log n) shuffle rounds (each
    star round costs two window shuffles, an eager checkpoint and a
    signature aggregate — ~4 jobs; measured ~1 s/query of pure
    scheduling overhead at bench scale). The data never touches the
    driver."""
    id_type = edges.schema["src"].dataType.simpleString()

    def _uf(pdf_iter):
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for pdf in pdf_iter:
            for a, b in zip(pdf["src"], pdf["dst"]):
                if a not in parent:
                    parent[a] = a
                if b not in parent:
                    parent[b] = b
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[rb] = ra
        if not parent:
            return
        comp_min: dict = {}
        nodes = list(parent)
        roots = [find(x) for x in nodes]
        for x, r in zip(nodes, roots):
            m = comp_min.get(r)
            if m is None or x < m:
                comp_min[r] = x
        yield pd.DataFrame(
            {"id": nodes, "component": [comp_min[r] for r in roots]}
        )

    return edges.coalesce(1).mapInPandas(
        _uf, f"id {id_type}, component {id_type}"
    )


def connected_components(pairs: DataFrame, max_iterations: int = 50) -> DataFrame:
    """Duplicate clusters from a pair list: (id, component) with
    component = min id in the cluster.

    Size-adaptive: the distinct edge set is counted off the eager
    checkpoint (a cheap cached scan) and, when it fits
    ``_LOCAL_CC_MAX_EDGES``, components resolve in ONE single-task
    union-find job (``_union_find_components``). Near-dup edge sets are
    pairs-sized, so this is the common case at every scale. Edge sets past
    the bound, which one task's dict could not hold, run alternating
    large-star / small-star rounds (Kiveris et al., "Connected Components
    in MapReduce and Beyond" — a public algorithm): O(log n) rounds on any
    topology, each two window-min passes (one shuffle each) with no join
    fan-out on high-degree hubs (the celebrity-node case). The same runtime
    size-based routing AQE applies to join strategies.

    Convergence detection: edge-set fixpoint via (count, bit_xor of
    xxhash64(src,dst)) — one cheap aggregate per round, no ANSI overflow.
    If the edge set is still changing when ``max_iterations`` runs out the
    labels are NOT component minima, so this raises. (O(log n) rounds means
    50 iterations covers ~2⁵⁰ nodes, so exhaustion signals a bug, not a big
    graph.)
    """
    from pyspark.sql.window import Window

    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    if _LOCAL_CC_MAX_EDGES > 0 and edges.count() <= _LOCAL_CC_MAX_EDGES:
        return _union_find_components(edges)

    def _signature(e: DataFrame):
        row = e.agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(src, dst))").alias("h"),
        ).first()
        return (row["n"], row["h"])

    def _large_star(e: DataFrame) -> DataFrame:
        sym = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        w = Window.partitionBy("src")
        return (
            sym.withColumn("m", F.least(F.min("dst").over(w), F.col("src")))
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )

    def _small_star(e: DataFrame) -> DataFrame:
        oriented = e.select(
            F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
        )
        w = Window.partitionBy("src")
        with_min = oriented.withColumn("m", F.min("dst").over(w))
        nbr = with_min.select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        own = with_min.select("src", F.col("m").alias("dst"))
        return (
            nbr.union(own).filter(F.col("src") != F.col("dst")).distinct()
        )

    sig = _signature(edges)
    for _ in range(max_iterations):
        edges = _small_star(_large_star(edges)).localCheckpoint(eager=True)
        new_sig = _signature(edges)
        if new_sig == sig:
            break
        sig = new_sig
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "iterations (edge set still changing) — labels are NOT component "
            "minima. Raise max_iterations (O(log n) rounds suffice, so this "
            "signals a pathological budget)."
        )

    roots = edges.select(F.col("dst").alias("id")).distinct().withColumn(
        "component", F.col("id")
    )
    members = edges.select(F.col("src").alias("id"), F.col("dst").alias("component"))
    return members.unionByName(roots).distinct()


def dedup_connected(
    df: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Cluster-aware dedup: keep the min id of every connected duplicate
    cluster (handles transitive chains a→b→c even when (a,c) was never a
    candidate pair), exact regardless of chain depth."""
    comps = connected_components(pairs)
    losers = comps.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, on=id_col, how="left_anti")


def window_hash_expr(words: str, n: int) -> str:
    """SQL expression: array of ``unhex(md5(...))`` hashes of the n-word
    windows of the hoisted word-array column ``words`` (empty array below
    n words). Shared by duplicate_spans, remove_duplicate_spans and
    benchmark_contamination so every side hashes identically. Takes a
    column, not an inline split (see ``sqlutil.split_words``)."""
    return (
        f"CASE WHEN size({words}) >= {n} THEN "
        f"transform(sequence(0, size({words}) - {n}), "
        f"i -> unhex(md5(concat_ws(' ', slice({words}, i + 1, {n}))))) "
        f"ELSE array() END"
    )


def duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
) -> DataFrame:
    """Corpus-level duplicated-span rate per document: the fraction of a
    doc's n-word windows that occur (by hash) anywhere else in the corpus —
    the window-granularity signal behind substring-level training-data dedup
    (cf. the public "Deduplicating Training Data Makes Language Models
    Better" line of work).

    Shape at scale: one explode → corpus-wide window ``count(*) over
    (partition by window_hash)`` (ONE wide shuffle, key = 128-bit hash so
    well spread) → per-doc agg. The window formulation evaluates the
    explode ONCE — the groupBy-then-join-back alternative references the
    exploded frame twice, recomputing the per-doc shingle/md5 projection on
    both branches (measured 7.0s → 2.5s at sf0.1). Windows are
    ``unhex(md5(...))`` of the space-joined word slice — BINARY 16-byte
    keys, half the shuffle bytes of the 32-char hex string, and the 128-bit
    width is required (10¹³ windows would birthday-collide a 64-bit hash).
    JVM expressions end to end. Docs with fewer than n words emit no
    windows and are absent from the output (no denominator).

    Output: (id_col, n_windows, n_dup_windows, dup_ppm).
    """
    from pyspark.sql.window import Window

    base = spread(df.select(qcol(id_col), qcol(text_col)))
    reject_reserved(base, ("__whw",), "duplicate_spans")
    exploded = with_words(base, text_col, "__whw", lower=False).select(
        qcol(id_col),
        F.explode(F.expr(window_hash_expr("__whw", n))).alias("__wh"),
    )
    with_counts = exploded.withColumn(
        "__cnt", F.count("*").over(Window.partitionBy("__wh"))
    )
    return (
        with_counts.groupBy(qcol(id_col))
        .agg(
            F.count("*").cast("long").alias("n_windows"),
            F.sum(F.when(F.col("__cnt") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_windows"),
        )
        .withColumn(
            "dup_ppm",
            F.expr(
                "CAST(round(n_dup_windows * 1000000.0 / n_windows, 0) AS BIGINT)"
            ),
        )
    )


def _lines_frame(
    df: DataFrame, text_col: str, id_col: str, line_sep: str, spread_input: bool
):
    """Shared scaffolding for the line-level operators: returns
    ``(lines, split_col)`` where lines = (id, __pos, __line) exploded on
    the escaped separator and split_col is the reusable split expression.
    The pattern goes through the Python API (not F.expr SQL) — the SQL
    parser eats single backslashes and would mangle re.escape output."""
    import re

    pattern = re.escape(line_sep)
    split_col = F.split(qcol(text_col), pattern, -1)
    src = df.select(qcol(id_col), qcol(text_col))
    if spread_input:
        src = spread(src)
    lines = src.select(
        qcol(id_col), F.posexplode(split_col).alias("__pos", "__line")
    )
    return lines, split_col


def _reassemble_lines(
    kept_lines: DataFrame, id_col: str, line_sep: str, text_alias: str
) -> DataFrame:
    """Per-doc reassembly of surviving (pos, line) rows in original order."""
    return kept_lines.groupBy(qcol(id_col)).agg(
        F.count("*").cast("long").alias("n_lines_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__line"))),
                lambda s: s["__line"],
            ),
            line_sep,
        ).alias(text_alias),
    )


def _join_line_totals(
    df: DataFrame,
    kept: DataFrame,
    text_col: str,
    id_col: str,
    split_col,
    text_alias: str,
) -> DataFrame:
    """Left-join per-doc totals back on: a doc that lost every line gets
    (total, 0, ''); a NULL-text doc stays honestly absent — (0, 0, NULL),
    never a fabricated empty document."""
    totals = df.select(
        qcol(id_col),
        F.when(qcol(text_col).isNull(), F.lit(0))
        .otherwise(F.size(split_col))
        .cast("long")
        .alias("n_lines_total"),
        qcol(text_col).isNull().alias("__null_text"),
    )
    return (
        totals.join(kept, on=id_col, how="left")
        .withColumn("n_lines_kept", F.coalesce("n_lines_kept", F.lit(0)))
        .withColumn(
            text_alias,
            F.when(F.col("__null_text"), F.lit(None).cast("string")).otherwise(
                F.coalesce(text_alias, F.lit(""))
            ),
        )
        .select(qcol(id_col), "n_lines_total", "n_lines_kept", text_alias)
    )


def strip_boilerplate_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 3,
    line_sep: str = "\n",
) -> DataFrame:
    """Corpus-frequency boilerplate removal (the CCNet-style complement of
    ``line_dedup``): a line that appears in at least ``min_docs`` DISTINCT
    documents is navigation/footer/template text and is removed from EVERY
    document (line_dedup instead keeps the first occurrence). Blank lines
    are structure, never boilerplate, and are always kept.

    Shape at scale: explode → per-line-hash distinct-doc count (one
    groupBy on the 128-bit binary hash; count(distinct id) partial-aggs
    map-side) → anti-join of the flagged hashes back onto the exploded
    lines → per-doc reassembly. The join is deliberately UNHINTED: the
    flagged set is usually small (boilerplate is few distinct lines) and
    AQE broadcasts it, but "small" is a heuristic, not a bound — a
    web-scale corpus of millions of templated sites can flag 10⁸+ lines,
    and a forced broadcast would OOM where the shuffle fallback succeeds.

    Output: (id_col, ``n_lines_total``, ``n_lines_kept``, ``clean_text``);
    NULL-text docs yield (0, 0, NULL).
    """
    if min_docs < 2:
        raise ValueError(f"min_docs must be >= 2, got {min_docs}")
    lines, split_col = _lines_frame(df, text_col, id_col, line_sep, spread_input=True)
    nonblank = lines.filter(F.expr("trim(__line) != ''"))
    flagged = (
        nonblank.groupBy(F.expr("unhex(md5(__line))").alias("__h"))
        .agg(F.countDistinct(id_col).alias("__docs"))
        .filter(F.col("__docs") >= min_docs)
        .select("__h")
    )
    kept_lines = lines.join(
        flagged, F.expr("unhex(md5(__line))") == F.col("__h"), "left_anti"
    )
    kept = _reassemble_lines(kept_lines, id_col, line_sep, "clean_text")
    return _join_line_totals(df, kept, text_col, id_col, split_col, "clean_text")


def dedup_against(
    df_new: DataFrame,
    df_old: DataFrame,
    text_col: str = "text",
    old_text_col: str | None = None,
) -> DataFrame:
    """Incremental (snapshot) exact dedup: drop new documents whose text
    already exists in a prior corpus snapshot — the every-crawl-cycle
    operation of a continuously ingesting pipeline (dedup the delta against
    the accumulated corpus, never re-shuffle the accumulated corpus).

    Shape at scale: the snapshot side reduces to DISTINCT 16-byte binary
    md5 hashes (in production a precomputed hash index table, not a rescan
    of the snapshot text); the delta takes a left_anti join against it —
    broadcast when the index fits (16 B x n_docs), shuffle on the 128-bit
    hash otherwise. The new side's text column is never moved, only its
    hash. Within-delta duplicates are NOT collapsed here (compose with
    exact_dedup for that); this operator's contract is purely
    "not already in the snapshot".
    """
    old_hashes = df_old.select(
        F.expr(f"unhex(md5({qident(old_text_col or text_col)}))").alias("__h")
    ).distinct()
    return df_new.join(
        old_hashes,
        F.expr(f"unhex(md5({qident(text_col)}))") == F.col("__h"),
        "left_anti",
    )


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    line_sep: str = "\n",
) -> DataFrame:
    """Corpus-GLOBAL line deduplication (the C4/RefinedWeb pass): split
    every document into lines, keep only the FIRST occurrence corpus-wide
    of each distinct line (first = smallest ``(id, position)``), and
    reassemble each document from its surviving lines in original order.

    Shape at scale: explode → ``groupBy(unhex(md5(line)))`` with
    ``min(struct(id, pos, line))`` — ONE wide shuffle on a 128-bit binary
    key. The winner struct carries the line text, so the aggregate's
    output rows ARE the kept lines — no join back. Map-side partial
    aggregation reduces a line repeated 10⁹ times across the corpus to
    ONE candidate row per map partition before the shuffle, so a hot line
    (site-wide boilerplate) never concentrates on one reducer.

    Reassembly is one ``groupBy(id)`` with
    ``array_sort(collect_list(struct(pos, line)))``.

    Blank (whitespace-only) lines are EXEMPT from dedup: they are document
    structure (paragraph separators), not content — deduplicating them
    globally would strip every blank line after the corpus's first and
    merge paragraphs. The exemption also removes what would otherwise be
    the hottest key (the empty-line hash).

    Output: one row per input document — (id_col, ``n_lines_total``,
    ``n_lines_kept``, ``dedup_text``). Documents whose every line occurred
    earlier elsewhere keep 0 lines and an empty ``dedup_text``; NULL-text
    docs yield (0, 0, NULL).
    """
    lines, split_col = _lines_frame(df, text_col, id_col, line_sep, spread_input=False)
    nonblank_first = (
        lines.filter(F.expr("trim(__line) != ''"))
        .groupBy(F.expr("unhex(md5(__line))").alias("__h"))
        .agg(
            F.min(
                F.struct(
                    qcol(id_col).alias("__wid"),
                    F.col("__pos").alias("__wpos"),
                    F.col("__line").alias("__wline"),
                )
            ).alias("__w")
        )
        .select(
            F.col("__w.__wid").alias(id_col),
            F.col("__w.__wpos").alias("__pos"),
            F.col("__w.__wline").alias("__line"),
        )
    )
    blanks = lines.filter(F.expr("trim(__line) = ''"))
    kept = _reassemble_lines(
        nonblank_first.unionByName(blanks), id_col, line_sep, "dedup_text"
    )
    return _join_line_totals(df, kept, text_col, id_col, split_col, "dedup_text")


def remove_duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
) -> DataFrame:
    """Corpus-level duplicated-span REMOVAL (the acting complement of
    ``duplicate_spans``'s rate signal; cf. the public "Deduplicating
    Training Data Makes Language Models Better" exact-substring dedup and
    RefinedWeb's span removal): every n-word window that occurs more than
    once corpus-wide keeps exactly its FIRST occurrence (smallest
    ``(id, window_start)``); every word covered by any NON-canonical
    occurrence of a duplicated window is removed, and each document is
    rebuilt from its surviving words.

    Semantics notes:
    - Removal operates on the whitespace-tokenized view and rejoins with
      single spaces (the literature's token-level convention) — original
      intra-document whitespace is normalized.
    - Overlap rule: a word is dropped iff ≥1 non-canonical duplicated
      window covers it. Words inside a canonical occurrence can still drop
      if a DIFFERENT duplicated window overlapping them is non-canonical —
      the standard greedy approximation, deterministic.
    - Docs with fewer than ``n`` words emit no windows and survive intact;
      NULL-text docs yield ``(0, 0, NULL)`` (mirrors ``line_dedup``).

    Shape at scale (three wide ops, all on well-spread keys):
    1. window tagging: ONE shuffle on the 128-bit window hash (count +
       min-struct in the same window spec — one exchange);
    2. covered-position distinct: keyed on (id, word_pos);
    3. anti-join words vs covered on (id, word_pos) + per-doc reassembly
       groupBy. Nothing corpus-wide sits in one task; the hottest window
       hash is bounded by the corpus's duplication factor (AQE skew case,
       same as ``duplicate_spans``).

    Output: (id_col, n_words_total, n_words_kept, clean_text).
    """
    from pyspark.sql.window import Window

    words_expr = split_words(qident(text_col), lower=False)
    base = spread(df.select(qcol(id_col), qcol(text_col)))
    reject_reserved(base, ("__whw",), "remove_duplicate_spans")
    wins = with_words(base, text_col, "__whw", lower=False).select(
        qcol(id_col),
        F.posexplode(F.expr(window_hash_expr("__whw", n))).alias(
            "__wstart", "__wh"
        ),
    )
    wh = Window.partitionBy("__wh")
    tagged = wins.withColumn("__cnt", F.count("*").over(wh)).withColumn(
        "__first",
        F.min(
            F.struct(
                qcol(id_col).alias("__fid"), F.col("__wstart").alias("__fpos")
            )
        ).over(wh),
    )
    removable = tagged.filter(
        (F.col("__cnt") > 1)
        & ~(
            (F.col("__first.__fid") == qcol(id_col))
            & (F.col("__first.__fpos") == F.col("__wstart"))
        )
    )
    covered = removable.select(
        qcol(id_col),
        F.explode(F.expr(f"sequence(__wstart + 1, __wstart + {int(n)})")).alias(
            "__wp"
        ),
    ).distinct()
    wordpos = base.select(
        qcol(id_col), F.posexplode(F.expr(words_expr)).alias("__wp0", "__word")
    ).withColumn("__wp", F.col("__wp0") + 1)
    kept = wordpos.join(covered, on=[id_col, "__wp"], how="left_anti")
    rebuilt = kept.groupBy(qcol(id_col)).agg(
        F.count("*").cast("long").alias("n_words_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__wp", "__word"))),
                lambda s: s["__word"],
            ),
            " ",
        ).alias("clean_text"),
    )
    totals = df.select(
        qcol(id_col),
        F.when(qcol(text_col).isNull(), F.lit(0))
        .otherwise(F.expr(f"size({words_expr})"))
        .cast("long")
        .alias("n_words_total"),
        qcol(text_col).isNull().alias("__null_text"),
    )
    return (
        totals.join(rebuilt, on=id_col, how="left")
        .select(
            qcol(id_col),
            "n_words_total",
            F.coalesce("n_words_kept", F.lit(0)).cast("long").alias(
                "n_words_kept"
            ),
            F.when(F.col("__null_text"), F.lit(None).cast("string"))
            .otherwise(F.coalesce("clean_text", F.lit("")))
            .alias("clean_text"),
        )
    )


def benchmark_contamination(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
    n: int = 8,
    max_ppm: int = 0,
) -> DataFrame:
    """Eval-set decontamination signal: for each training document, the
    fraction of its n-word windows that appear ANYWHERE in the benchmark
    corpus (the standard n-gram-overlap decontamination check used before
    training on web data — a doc containing benchmark text must be dropped
    or the eval is compromised).

    Shape at scale: benchmark suites are small (10⁴-10⁶ windows), so their
    DISTINCT window hashes BROADCAST (16 B/window binary md5) and the
    training corpus takes a broadcast left join — no shuffle of the 100 TB
    side at all; the only wide operation is the per-doc aggregation.

    Output: (id_col, n_windows, n_contaminated, contamination_ppm,
    contaminated) — ``contaminated`` is the gate ``ppm > max_ppm``. Docs
    with fewer than n words emit no windows and are absent (nothing to
    match on).
    """
    reject_reserved(benchmark, ("__whw",), "benchmark_contamination")
    bench_windows = (
        with_words(benchmark, bench_text_col, "__whw", lower=False)
        .select(F.explode(F.expr(window_hash_expr("__whw", n))).alias("__wh"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    base = spread(df.select(qcol(id_col), qcol(text_col)))
    reject_reserved(base, ("__whw",), "benchmark_contamination")
    doc_windows = with_words(base, text_col, "__whw", lower=False).select(
        qcol(id_col),
        F.explode(F.expr(window_hash_expr("__whw", n))).alias("__wh"),
    )
    return (
        doc_windows.join(F.broadcast(bench_windows), on="__wh", how="left")
        .groupBy(qcol(id_col))
        .agg(
            F.count("*").cast("long").alias("n_windows"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).cast("long").alias("n_contaminated"),
        )
        .withColumn(
            "contamination_ppm",
            F.expr("CAST(round(n_contaminated * 1000000.0 / n_windows, 0) AS BIGINT)"),
        )
        # gate on the UNROUNDED rate (exact integer cross-multiply): with
        # max_ppm=0, one benchmark window in a 3M-window document rounds to
        # 0 ppm but must still be flagged
        .withColumn(
            "contaminated",
            F.col("n_contaminated") * F.lit(1_000_000)
            > F.lit(max_ppm) * F.col("n_windows"),
        )
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


#: Executor-lifetime token → md5-uint64 cache shared across Arrow batches
#: and tasks within one Python worker. Token frequency is Zipf, so the head
#: of the vocabulary recurs in every batch; without this each batch re-paid
#: md5 for the same hot tokens. Insert-until-full (no eviction): the Zipf
#: head arrives in the first batches, and a deterministic function needs no
#: freshness. 1M entries ≈ low hundreds of MB worst case per worker.
_SIMHASH_TOKEN_CACHE: dict[str, int] = {}
_SIMHASH_TOKEN_CACHE_MAX = 1_000_000


def simhash64(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash over word unigrams (Arrow-vectorized numpy kernel).

    simhash bit j = sign of sum over tokens of (+1 if bit j of the token
    hash else -1). Token hash: first 8 bytes of md5, big-endian — the
    corpus-stable cross-engine hash this repo standardizes on
    (``('0x'||substr(md5(tok),1,16))::UBIGINT`` reproduces it in DuckDB),
    which is what makes the whole simhash near-dup pipeline
    oracle-checkable end to end. Tokenization is Python ``str.split()``
    (any whitespace, no empty tokens) lowercased; empty/NULL docs
    fingerprint to 0.

    Perf note (measured, sf0.1 local[32]): the md5 loop is NOT the
    pipeline's cost — the synthetic corpus has a ~31-token vocabulary and
    hashing it takes <1 ms; a no-op pandas UDF over the same column costs
    ~0.6 s on this VM, which is the floor any UDF pass pays. The
    executor-lifetime cache above matters on real web corpora (1M+ unique
    tokens per batch), where it amortizes md5 across batches and tasks.
    """
    @pandas_udf("long")
    def _simhash(texts: pd.Series) -> pd.Series:
        import hashlib

        import numpy as np

        # hash each UNIQUE token once per Arrow batch (token frequency is
        # Zipf, so this cuts md5 calls ~10-100×), then accumulate signed
        # bit counts per doc — bit-identical to hashing every occurrence,
        # since sum over occurrences == count × sign.
        #
        # Per-doc cost is O(T log T) in the doc's OWN token count
        # (np.unique on its indices), NOT O(batch_vocab): a bincount over
        # the whole batch vocabulary would make every doc pay for the
        # batch's unique tokens (~O(n_docs × V) per Arrow batch — 10¹⁰ ops
        # for 10k long web docs). signs is int8 (V×64 bytes, not ×8).
        toks_per_doc = [(t or "").lower().split() for t in texts]
        vocab: dict[str, int] = {}
        for toks in toks_per_doc:
            for tok in toks:
                if tok not in vocab:
                    vocab[tok] = len(vocab)
        n_docs = len(toks_per_doc)
        if not vocab:
            return pd.Series([0] * n_docs, dtype="int64")

        cache = _SIMHASH_TOKEN_CACHE

        def _hash_tok(tok: str) -> int:
            h = cache.get(tok)
            if h is None:
                h = int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "big")
                if len(cache) < _SIMHASH_TOKEN_CACHE_MAX:
                    cache[tok] = h
            return h

        hs = np.fromiter(
            (_hash_tok(tok) for tok in vocab),
            dtype=np.uint64,
            count=len(vocab),
        )
        signs = (
            2 * ((hs[:, None] >> np.arange(64, dtype=np.uint64)) & 1).astype(np.int8)
            - 1
        )  # (V, 64) of ±1, int8
        acc = np.zeros((n_docs, 64), dtype=np.int64)
        for i, toks in enumerate(toks_per_doc):
            if not toks:
                continue
            idx = np.fromiter((vocab[t] for t in toks), dtype=np.int64, count=len(toks))
            u, c = np.unique(idx, return_counts=True)  # O(T log T), T = len(toks)
            acc[i] = c @ signs[u]  # int64 @ int8 promotes to int64
        weights = np.uint64(1) << np.arange(64, dtype=np.uint64)
        sh = (acc > 0).astype(np.uint64) @ weights  # empty docs: acc=0 → 0
        return pd.Series(sh.astype(np.int64), dtype="int64")

    return df.withColumn("simhash", _simhash(qcol(text_col)))


def simhash_near_pairs(
    sim_df: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_chunks: int = 4,
    allow_approximate: bool = False,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming.

    Candidate generation: ``n_chunks`` equality bands of ``64/n_chunks`` bits
    each. By pigeonhole, any pair within Hamming ≤ ``n_chunks - 1`` must agree
    on at least one chunk, so recall is EXACT for
    ``max_hamming <= n_chunks - 1`` and approximate beyond (a pair differing
    in every chunk is missed). Asking for a larger ``max_hamming`` raises
    unless ``allow_approximate=True``. Verification: ``bit_count(xor)`` via
    JVM expression — candidates are exactly scored, so there are never false
    positives; the trade-off is only recall.

    Scale note: chunk width drives bucket selectivity — w-bit chunks spread
    n docs over ≤ 2^w buckets per band, so candidate volume grows as
    ~n_chunks · n² / 2^w for random hashes. 8×8-bit (guarantee ≤ 7) is the
    practical ceiling; tighter radii at 100 TB should re-band the survivors
    (multi-probe) rather than shrink chunks further.

    Plan shape: the candidates come from ``sqlutil.bucket_self_join`` over
    (chunk_id, chunk_val), which skips singleton buckets before the join
    (recall unchanged: a shared bucket has ≥ 2 members by definition) and
    runs the simhash pandas-UDF beneath it once, behind its checkpoint
    barrier. Barrier size is bounded by (docs in non-singleton buckets) ×
    n_chunks × ~24 B — small on diverse corpora.
    """
    if 64 % n_chunks != 0:
        raise ValueError(f"n_chunks must divide 64, got {n_chunks}")
    if max_hamming > n_chunks - 1 and not allow_approximate:
        raise ValueError(
            f"{n_chunks} chunks guarantee recall only to hamming <= {n_chunks - 1}; "
            f"got max_hamming={max_hamming}. Increase n_chunks or pass "
            "allow_approximate=True to accept missed pairs."
        )
    width = 64 // n_chunks
    mask = (1 << width) - 1
    chunks = sim_df.select(
        qcol(id_col),
        F.col("simhash"),
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("simhash"), width * c).bitwiseAND(F.lit(mask))
                    for c in range(n_chunks)
                ]
            )
        ).alias("chunk_id", "chunk_val"),
    )
    # verify (bit_count on two longs, codegen-cheap) BEFORE the distinct:
    # a candidate pair appears once per shared chunk (up to n_chunks times),
    # so deduping the narrow post-filter (id_a, id_b, hamming) rows shuffles
    # strictly less than deduping the wider pre-filter candidate set
    return (
        bucket_self_join(chunks, id_col, "chunk_id", "chunk_val")
        .select(
            F.col(f"a.{qident(id_col)}").alias("id_a"),
            F.col(f"b.{qident(id_col)}").alias("id_b"),
            F.expr("bit_count(a.simhash ^ b.simhash)").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (pairwise, JVM-side) — used standalone or as verifier
# ---------------------------------------------------------------------------


def ngram_jaccard(
    df_pairs: DataFrame,
    left_text: str = "text_a",
    right_text: str = "text_b",
    n: int = 3,
) -> DataFrame:
    """Add ``jaccard``: char-n-gram Jaccard between two text columns.

    Each side's gram array is materialized ONCE in its own projection —
    inlining the (lambda-bearing, so no codegen CSE) gram expression into
    both ``array_intersect`` and ``array_union`` would build every array
    twice per pair. CollapseProject keeps the hoist (non-cheap producer,
    2 references); plan-asserted in tests/test_plans.py.
    """

    def grams(col: str) -> str:
        return (
            f"array_distinct(CASE WHEN length({col}) >= {n} THEN "
            f"transform(sequence(1, length({col}) - {n} + 1), "
            f"i -> substring({col}, i, {n})) ELSE array({col}) END)"
        )

    return (
        df_pairs.withColumn("__grams_a", F.expr(grams(left_text)))
        .withColumn("__grams_b", F.expr(grams(right_text)))
        .withColumn(
            "jaccard",
            F.expr(
                "size(array_intersect(__grams_a, __grams_b)) / "
                "size(array_union(__grams_a, __grams_b))"
            ),
        )
        .drop("__grams_a", "__grams_b")
    )


# ---------------------------------------------------------------------------
# Blocked Levenshtein fuzzy duplicates — record-linkage banding, exact output
# ---------------------------------------------------------------------------


def fuzzy_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str = "lang",
    max_distance: int = 64,
) -> DataFrame:
    """All same-block document pairs within edit distance ``max_distance``.

    Semantics are EXACT and blocking-free: every pair ``(doc_a < doc_b)``
    with equal ``block_col`` and ``levenshtein(text_a, text_b) <=
    max_distance`` — so the whole operator is oracle-checkable against a
    brute-force SQL self-join. The banding below is purely the physical
    plan; it can never drop a qualifying pair.

    Scale shape (the classic record-linkage blocked self-join):

    - ``|len(a) - len(b)| <= k`` is NECESSARY for ``lev(a, b) <= k``, so
      docs are bucketed into length bands of width ``W = k``; a qualifying
      pair's bands are equal or adjacent — never further apart.
    - candidates come from TWO equi-joins on ``(block, band)`` — same-band
      (``id_a < id_b``) and adjacent-band (``band_a + 1 = band_b``) —
      unioned. Each qualifying pair is produced exactly once, so no
      ``distinct`` pass and no double Levenshtein evaluation (an
      explode-both-bands single join emits boundary pairs twice).
    - the cheap length filter rides IN the join condition; the distance
      itself runs only on surviving candidates.

    r07 verifier: candidate distances are computed by the numpy-vectorized
    Myers bit-parallel kernel (``kernels.editdist.batch_levenshtein``,
    guide §4.2) instead of a per-pair JVM ``levenshtein(a, b, k)`` call —
    measured ~54 µs vs ~196 µs per ~300-char pair (the JVM call does
    DP-matrix work per pair; Myers simulates 64 DP rows per word and the
    batch form amortizes dispatch across all pairs in flight). Exactness
    is differential-pinned in tests/test_editdist.py (vs reference DP and
    vs ``F.levenshtein`` itself) plus this operator's existing
    banded-vs-bruteforce fuzz. Candidate REDUCTION was measured and
    rejected: char-frequency and q-gram count prefilters prune 0% on a
    ~31-token-vocabulary corpus at k=64 (every same-band pair shares
    letter/gram statistics), so the win had to come from the per-pair
    evaluator.

    Skew: a hot ``(block, band)`` cell degrades toward quadratic within
    the cell — inherent to blocking-based entity resolution; cells are
    bounded by W-char length bands per block value and AQE splits
    oversized shuffle partitions. At 10^12 docs you'd tighten cells with a
    second cheap key (e.g. a content prefix class) — same join shape.
    """
    k = int(max_distance)
    if k <= 0:
        raise ValueError("max_distance must be positive")
    reject_reserved(df, ("__flen", "__fband"), "fuzzy_dup_pairs")
    # spread: on a compacted local scan the build side broadcasts and the
    # probe side inherits the input's splits — ALL Levenshtein evaluation
    # then runs on 1-2 cores (measured 90s -> ~7s at sf0.1). No-op at real
    # scale where the scan already has thousands of splits.
    d = (
        spread(df.select(qcol(id_col), qcol(text_col), qcol(block_col)))
        .withColumn("__flen", F.length(qcol(text_col)))
        .withColumn("__fband", F.expr(f"__flen DIV {k}"))
    )

    def side(suffix: str) -> DataFrame:
        return d.select(
            qcol(block_col).alias(f"__blk_{suffix}"),
            qcol(id_col).alias(f"id_{suffix}"),
            qcol(text_col).alias(f"text_{suffix}"),
            F.col("__flen").alias(f"len_{suffix}"),
            F.col("__fband").alias(f"band_{suffix}"),
        )

    a, b = side("a"), side("b")
    len_ok = F.abs(F.col("len_a") - F.col("len_b")) <= k
    same_band = a.join(
        b,
        (F.col("__blk_a") == F.col("__blk_b"))
        & (F.col("band_a") == F.col("band_b"))
        & (F.col("id_a") < F.col("id_b"))
        & len_ok,
    ).select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        "text_a",
        "text_b",
    )
    adjacent_band = a.join(
        b,
        (F.col("__blk_a") == F.col("__blk_b"))
        & (F.col("band_a") + F.lit(1) == F.col("band_b"))
        & len_ok,
    ).select(
        F.least("id_a", "id_b").alias("doc_a"),
        F.greatest("id_a", "id_b").alias("doc_b"),
        "text_a",
        "text_b",
    )
    id_type = df.schema[id_col].dataType.simpleString()

    def _lev_batches(pdf_iter):
        from autoscan_spark.kernels.editdist import batch_levenshtein

        # accumulate Arrow batches so the vectorized kernel runs wide
        # (numpy dispatch amortizes over ~32k pairs, not the ~2k-row
        # Arrow batch size the session pins for the extraction kernels)
        buf: list[pd.DataFrame] = []
        buffered = 0

        def _flush():
            pdf = pd.concat(buf, ignore_index=True) if len(buf) > 1 else buf[0]
            # max_distance engages the Ukkonen band/block cut-off: exact
            # distances for pairs within k, guaranteed > k otherwise —
            # precisely the keep-filter's contract below
            lev = batch_levenshtein(
                pdf["text_a"].tolist(), pdf["text_b"].tolist(), max_distance=k
            )
            keep = (lev >= 0) & (lev <= k)
            return pd.DataFrame(
                {
                    "doc_a": pdf["doc_a"].to_numpy()[keep],
                    "doc_b": pdf["doc_b"].to_numpy()[keep],
                    "lev": lev[keep],
                }
            )

        for pdf in pdf_iter:
            if not len(pdf):
                continue
            buf.append(pdf)
            buffered += len(pdf)
            if buffered >= 32768:
                yield _flush()
                buf, buffered = [], 0
        if buf:
            yield _flush()

    return same_band.unionByName(adjacent_band).mapInPandas(
        _lev_batches, f"doc_a {id_type}, doc_b {id_type}, lev long"
    )


def winnow_fingerprints(
    df: DataFrame,
    k: int = 4,
    window: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the
    MOSS algorithm, SIGMOD 2003): hash every word ``k``-gram, slide a
    ``window``-wide window over the hash sequence, and keep the minimum
    hash of each window. Guarantee: any two documents sharing a word run
    of at least ``window + k - 1`` words share at least one fingerprint —
    the local-dedup property neither minhash (whole-doc similarity) nor
    exact dedup gives.

    Hashes are md5 hex STRINGS, min is lexicographic — fixed-width
    lowercase hex makes string order equal byte order, and DuckDB's
    ``list_min`` over VARCHAR agrees exactly, so the fingerprint set is
    bit-stable cross-engine.

    Scale shape: zero shuffles — one projection of nested JVM array
    expressions per document (the k-gram hash array materializes once per
    row; both lambdas reference hoisted COLUMNS, never an inline
    ``split``, so there is no O(words²) re-split). Fingerprint density is
    ~2/(window+1) of positions, bounding downstream explode volume.

    Output: (id_col, ``fingerprints`` array<string> — distinct, order
    unspecified).
    """
    if k < 1 or window < 1:
        raise ValueError(f"k and window must be >= 1, got k={k} window={window}")
    reject_reserved(df, ("__wn_w", "__wn_h"), "winnow_fingerprints")
    hashes = (
        f"CASE WHEN size(__wn_w) >= {k} THEN "
        f"transform(sequence(0, size(__wn_w) - {k}), "
        f"i -> md5(concat_ws(' ', slice(__wn_w, i + 1, {k})))) "
        f"ELSE array(md5(concat_ws(' ', __wn_w))) END"
    )
    selected = (
        f"array_distinct(CASE WHEN size(__wn_h) >= {window} THEN "
        f"transform(sequence(0, size(__wn_h) - {window}), "
        f"j -> array_min(slice(__wn_h, j + 1, {window}))) "
        f"ELSE array(array_min(__wn_h)) END)"
    )
    return (
        with_words(df, text_col, "__wn_w")
        .withColumn("__wn_h", F.expr(hashes))
        .select(qcol(id_col), F.expr(selected).alias("fingerprints"))
    )


def winnow_pairs(
    df: DataFrame,
    k: int = 4,
    window: int = 8,
    min_shared: int = 3,
    max_bucket: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Document pairs sharing >= ``min_shared`` winnowed fingerprints —
    the MOSS plagiarism/local-overlap detector as a distributed dedup
    operator.

    Shape: explode fingerprints → ONE shuffle groupBy(fingerprint) that
    collects the (bounded) posting list per fingerprint, emits all
    in-bucket pairs via a nested JVM ``transform`` (no self-join, no
    second scan of the corpus), then ONE groupBy((id_a, id_b)) count.
    ``max_bucket`` drops boilerplate fingerprints shared by more docs
    than the cap — the standard posting-list guard that keeps a hot
    fingerprint from emitting O(n²) pairs (same role as the LSH
    candidate cap); at 100 TB the cap bounds both the collect_list and
    the pair fan-out per bucket.

    Output: (``id_a``, ``id_b``, ``n_shared`` bigint), id_a < id_b.
    """
    # explode_outer, NOT explode: the fingerprint array is non-empty by
    # construction, but inner explode makes InferFiltersFromGenerate push a
    # `size(fingerprints) > 0` filter below the projections, re-inlining the
    # whole nested fingerprint expression — the dominant per-row cost would
    # run TWICE (verified via explain). The null guard sits ABOVE the
    # Generate (a generated attribute can't push down) and is a column ref.
    # spread first: the fingerprint projection (one md5 per word k-gram
    # plus a window-min per position, all interpreted lambdas) is the
    # operator's dominant cost and a one-split scan would run it on one
    # core (no-op at real scale)
    fps = (
        winnow_fingerprints(
            spread(df.select(qcol(id_col), qcol(text_col))),
            k=k, window=window, text_col=text_col, id_col=id_col,
        )
        .select(
            qcol(id_col).alias("__id"),
            F.explode_outer("fingerprints").alias("__fp"),
        )
        .filter(F.col("__fp").isNotNull())
    )
    posting = (
        fps.groupBy("__fp")
        .agg(F.array_sort(F.collect_list("__id")).alias("__ids"))
        .filter(
            (F.size("__ids") >= 2) & (F.size("__ids") <= int(max_bucket))
        )
    )
    pairs = (
        f"flatten(transform(sequence(0, size(__ids) - 2), "
        f"i -> transform(sequence(i + 1, size(__ids) - 1), "
        f"j -> struct(element_at(__ids, i + 1) AS id_a, "
        f"element_at(__ids, j + 1) AS id_b))))"
    )
    return (
        posting.select(F.explode(F.expr(pairs)).alias("__p"))
        .select(F.col("__p.id_a").alias("id_a"), F.col("__p.id_b").alias("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= int(min_shared))
    )


def template_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Normalization-invariant (template) dedup: documents identical after
    lowercasing, trimming, collapsing whitespace runs and replacing digit
    runs with ``0`` share one ``template_fp`` — catching the
    "same boilerplate, different timestamps/ids" near-exact duplicates
    that raw exact dedup misses (the CCNet/RefinedWeb normalization-hash
    step).

    Shape: same ONE-shuffle window as ``exact_dedup`` — partition by the
    16-byte binary hash of the normalized text, ``row_number`` ordered by
    id; rank 1 is the canonical survivor. Digit class is ``[0-9]``
    (explicit ASCII range — Java and RE2 agree; ``\\d`` would too, but
    the range is dialect-proof).

    Output: (id_col, ``template_fp`` md5 hex string, ``dup_rank`` int).
    """
    from pyspark.sql.window import Window

    tc = qident(text_col)
    norm = (
        f"regexp_replace(regexp_replace(trim(lower({tc})), '[0-9]+', '0'), "
        f"'\\\\s+', ' ')"
    )
    w = Window.partitionBy(F.expr(f"unhex(md5({norm}))")).orderBy(qcol(id_col))
    return df.select(
        qcol(id_col),
        F.expr(f"md5({norm})").alias("template_fp"),
        F.row_number().over(w).cast("int").alias("dup_rank"),
    )


def cluster_size_stats(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Duplicate-cluster size histogram: resolve near-dup pairs to
    connected components (``connected_components``), attach every un-paired
    document as its own singleton cluster, and count clusters by size —
    the "how duplicated is this corpus" diagnostic every dedup run
    reports (cluster-size tail ≙ boilerplate storms; singleton share ≙
    unique mass).

    Shape: ``connected_components`` on the (tiny) pair set, then ONE
    broadcast left-join of the corpus ids against the component map
    (pairs-sized, never corpus-sized) and two small groupBys. The corpus
    itself shuffles once on the component key.

    Output: (``cluster_size`` bigint, ``n_clusters`` bigint).
    """
    comps = connected_components(pairs)
    return (
        df.select(qcol(id_col).alias("__id"))
        .join(
            F.broadcast(comps), F.col("__id") == F.col("id"), "left"
        )
        .select(
            F.coalesce(F.col("component"), F.col("__id")).alias("__comp")
        )
        .groupBy("__comp")
        .agg(F.count(F.lit(1)).cast("long").alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(F.count(F.lit(1)).cast("long").alias("n_clusters"))
    )


def cluster_representatives(
    df: DataFrame,
    pairs: DataFrame,
    quality_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-keyed near-dup cluster collapse: per duplicate cluster
    (connected component over ``pairs``), keep the row with the HIGHEST
    ``quality_col`` (ties to the smallest id) — the production
    alternative to ``dedup_connected``'s min-id pick when you'd rather
    keep the best-scoring copy of each near-duplicate group than an
    arbitrary one. Singleton documents represent themselves.

    Determinism: the pick orders by (quality DESC, id ASC), so it is
    total for any exact-integer quality column (float qualities should
    be fixed to integers first, per the repo's ppm convention).

    Shape: ``connected_components`` over the pairs, a left join
    to attach the component label (unpaired docs coalesce to their own
    id), then ONE component-keyed row_number window. No collect, no
    per-cluster loop.

    Output: the representative rows as (id_col, quality_col,
    ``cluster_size`` bigint).
    """
    from pyspark.sql.window import Window

    reject_reserved(df, ("__comp", "__rn"), "cluster_representatives")
    comps = connected_components(pairs).withColumnRenamed("id", "__cid")
    labeled = (
        df.select(qcol(id_col), qcol(quality_col))
        .join(comps, qcol(id_col) == F.col("__cid"), how="left")
        .withColumn("__comp", F.coalesce(F.col("component"), qcol(id_col)))
    )
    w = Window.partitionBy("__comp").orderBy(
        F.desc(quality_col), qcol(id_col).asc()
    )
    return (
        labeled.withColumn("__rn", F.row_number().over(w))
        .withColumn(
            "cluster_size",
            F.count(F.lit(1)).over(Window.partitionBy("__comp")).cast("long"),
        )
        .filter(F.col("__rn") == 1)
        .select(qcol(id_col), qcol(quality_col), "cluster_size")
    )
