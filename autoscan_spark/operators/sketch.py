"""Count-min sketch: a fixed-size frequency summary for unbounded key
domains (Cormode & Muthukrishnan 2005, public algorithm).

Why a sketch in a batch engine: an exact word-frequency table over a
100 TB corpus is itself huge (the long Zipf tail), and pipelines that
only need *approximate* hot-key detection (skew pre-detection before a
join, stop-phrase discovery, frequency floors for vocab pruning)
shouldn't pay a full-vocabulary shuffle to get it. The CMS table is
``depth × width`` counters REGARDLESS of corpus size — it broadcasts.

Distributed formulation (no per-executor mutable state, pure DataFrame):
every token emits ``depth`` (row, bucket) coordinates via seeded md5;
ONE groupBy((row, bucket)) with map-side partial aggregation
IS the sketch build — Spark's partial-agg tree plays the role of the
streaming sketch merge (CMS is a linear sketch: coordinate-wise counter
sums of shards equal the sketch of the union).

Guarantees (standard CMS): estimate >= true count always (only
over-counts from collisions), and estimate <= true + e/width * N with
probability >= 1 - (1/2)^depth per query. Differential-tested against
exact counts in tests/test_textstats.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from autoscan_spark.operators.sqlutil import (
    md5_bucket,
    qcol,
    qident,
    reject_reserved,
    shingle_expr,
    split_words,
    spread,
    with_words,
)


def _coords(x: str, m: int, k: int) -> Column:
    """The ``k`` seeded md5 positions in [0, m) of the string SQL
    expression ``x`` as an array<bigint> column: position ``i`` is
    ``sqlutil.md5_bucket`` of ``i || ':' || x`` — replayable by any
    engine with md5, which is what lets the DuckDB oracles rebuild the
    identical CMS sketch and Bloom bits."""
    return F.array(*[F.expr(md5_bucket(f"concat('{i}:', {x})", m)) for i in range(k)])


def cms_sketch(
    df: DataFrame,
    text_col: str = "text",
    width: int = 2048,
    depth: int = 4,
) -> DataFrame:
    """Build the count-min sketch of the corpus word stream.

    Shape: one hoisted split, one explode, ``depth`` coordinate columns
    from seeded md5 (JVM, no Python), ONE groupBy((row, bucket)).
    The result is at most ``depth * width`` rows — broadcast-sized by
    construction and mergeable across corpora by coordinate-wise sum.

    Output: (``d`` int, ``bucket`` int, ``cnt`` bigint).
    """
    if width < 2 or depth < 1:
        raise ValueError(f"need width >= 2, depth >= 1; got {width}/{depth}")
    reject_reserved(df, ("__cms_w",), "cms_sketch")
    # spread a compacted scan before the split/explode/md5 projection —
    # the md5 coordinate chain is the operator's cost and a one-split
    # input would run it on one core (no-op at real scale; see spread)
    words = spread(df.select(qcol(text_col))).select(
        F.explode(F.expr(split_words(qident(text_col)))).alias("__word")
    )
    coords = words.select(
        F.posexplode(
            _coords("__word", width, depth)
        ).alias("d", "bucket")
    )
    return (
        coords.groupBy(
            F.col("d").cast("int").alias("d"),
            F.col("bucket").cast("int").alias("bucket"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def cms_estimate(
    sketch: DataFrame,
    candidates: DataFrame,
    word_col: str = "word",
    width: int = 2048,
    depth: int = 4,
) -> DataFrame:
    """Estimate the corpus frequency of each candidate word from a built
    sketch: min over the word's ``depth`` counters (absent coordinate =
    0, though a word actually present in the stream always has all
    ``depth`` counters > 0).

    Shape: candidates fan out to ``depth`` coordinates, the SKETCH side
    broadcasts (it is depth × width rows by construction), one
    groupBy(word) takes the min — the corpus is not touched at all.

    Output: (word_col, ``est_count`` bigint); ``est_count >= true``
    always (CMS never under-counts).
    """
    coords = candidates.select(
        qcol(word_col),
        F.posexplode(
            _coords(qident(word_col), width, depth)
        ).alias("__d", "__b"),
    )
    return (
        coords.join(
            F.broadcast(sketch),
            (F.col("__d") == F.col("d")) & (F.col("__b") == F.col("bucket")),
            "left",
        )
        .groupBy(qcol(word_col))
        .agg(
            F.min(F.coalesce(F.col("cnt"), F.lit(0)))
            .cast("long")
            .alias("est_count")
        )
    )


def cms_heavy_hitters(
    df: DataFrame,
    min_count: int,
    text_col: str = "text",
    width: int = 2048,
    depth: int = 4,
) -> DataFrame:
    """Heavy hitters via the sketch: every DISTINCT word whose CMS
    estimate reaches ``min_count``. No false negatives (estimates never
    under-count); false positives are collision-bounded by width/depth.

    The distinct-word candidate set is itself distributed (one distinct
    shuffle); only the sketch broadcasts. At 100 TB the candidate
    distinct is the vocab table every tokenizer pass already builds —
    the sketch spares the JOIN against a full exact-frequency table.

    Output: (``word``, ``est_count`` bigint), est_count >= min_count.
    """
    reject_reserved(df, ("__cms_w",), "cms_heavy_hitters")
    sketch = cms_sketch(df, text_col=text_col, width=width, depth=depth)
    cands = spread(df.select(qcol(text_col))).select(
        F.explode(F.expr(split_words(qident(text_col)))).alias("word")
    ).distinct()
    est = cms_estimate(sketch, cands, word_col="word", width=width, depth=depth)
    return est.filter(F.col("est_count") >= int(min_count))


# ---------------------------------------------------------------------------
# HyperLogLog distinct-count sketch (Flajolet, Fusy, Gandouet, Meunier 2007
# — public algorithm). Same md5-replayable discipline as the CMS:
# bucket and rank both derive from md5 hex slices, so any engine with md5
# rebuilds the IDENTICAL register table and estimate.
# ---------------------------------------------------------------------------

HLL_M = 256  # 2^8 registers: bucket = first 2 md5 hex digits


def hll_registers(
    df: DataFrame,
    text_col: str = "text",
    n: int = 1,
) -> DataFrame:
    """Build the HLL register table for the corpus word stream (``n=1``)
    or the space-joined word ``n``-gram stream (``n>1`` — the
    vocabulary-explosion domain where an exact distinct is genuinely
    unaffordable).

    Per item: bucket ``j`` = first 2 md5 hex digits (0..255); rank
    ``rho`` = leading-zero count of the next 48 hash bits + 1, computed
    EXACTLY as ``49 - length(bin(v))`` (``bin`` strips leading zeros in
    both Spark and DuckDB; no float log2, so no cross-engine boundary
    risk). One groupBy(j) with ``max(rho)`` IS the distributed merge —
    HLL registers are max-mergeable shards, the same linear-sketch
    property the CMS build exploits with sums.

    The register table is at most 256 rows regardless of corpus size.

    Output: (``j`` int, ``rho`` int).
    """
    reject_reserved(df, ("__hll_h", "__hll_v"), "hll_registers")
    src = spread(df.select(qcol(text_col)))
    if n <= 1:
        words = src.select(
            F.explode(F.expr(split_words(qident(text_col)))).alias("__word")
        )
    else:
        words = _word_grams(src, text_col, n, "__word").select("__word")
    hashed = words.select(F.md5(F.col("__word")).alias("__hll_h")).select(
        F.conv(F.substring("__hll_h", 1, 2), 16, 10)
        .cast("int")
        .alias("j"),
        F.conv(F.substring("__hll_h", 3, 12), 16, 10)
        .cast("bigint")
        .alias("__hll_v"),
    )
    rho = F.when(F.col("__hll_v") == 0, F.lit(49)).otherwise(
        F.lit(49) - F.length(F.expr("bin(__hll_v)"))
    )
    return (
        hashed.select("j", rho.alias("__rho"))
        .groupBy("j")
        .agg(F.max("__rho").cast("int").alias("rho"))
    )


def hll_distinct(
    df: DataFrame,
    text_col: str = "text",
    n: int = 1,
) -> DataFrame:
    """HLL distinct-word estimate from the register table — ONE row out,
    never a full-vocabulary shuffle (the exact ``count(distinct word)``
    a 100 TB corpus can't afford is replaced by a 256-row sketch).

    Estimator (standard HLL): ``E = alpha_m * m^2 / S`` with
    ``S = sum(2^-M[j])`` over all m registers (absent register = 2^0);
    small-range correction ``E = m * ln(m / V)`` when ``E <= 2.5m`` and
    ``V`` (zero registers) > 0. ``S`` is a sum of powers of two — EXACT
    in float64, so the harmonic branch is bit-identical across engines;
    the estimate is rounded to 3 decimals for the residual multiply/
    divide. Relative error ~ 1.04/sqrt(256) ~ 6.5%.

    Output: one row (``m`` int, ``n_registers`` bigint, ``n_zero``
    bigint, ``est_distinct`` double).
    """
    regs = hll_registers(df, text_col=text_col, n=n)
    m = HLL_M
    alpha = 0.7213 / (1.0 + 1.079 / m)
    agg = regs.agg(
        F.count(F.lit(1)).cast("long").alias("n_registers"),
        # coalesce: a zero-row input sums to NULL, which would NULL both
        # CASE branches; 0.0 routes it to the small-range branch → 0.0
        # (ADVICE r6: empty-input estimate must be well-defined)
        F.coalesce(
            F.sum(F.pow(F.lit(2.0), -F.col("rho"))), F.lit(0.0)
        ).alias("__s_present"),
    )
    return agg.select(
        F.lit(m).cast("int").alias("m"),
        F.col("n_registers"),
        (F.lit(m) - F.col("n_registers")).cast("long").alias("n_zero"),
        F.round(
            F.when(
                (
                    F.lit(alpha * m * m)
                    / (F.lit(float(m)) - F.col("n_registers") + F.col("__s_present"))
                    <= F.lit(2.5 * m)
                )
                & (F.col("n_registers") < m),
                F.lit(float(m))
                * F.log(F.lit(float(m)) / (F.lit(m) - F.col("n_registers"))),
            ).otherwise(
                F.lit(alpha * m * m)
                / (F.lit(float(m)) - F.col("n_registers") + F.col("__s_present"))
            ),
            3,
        ).alias("est_distinct"),
    )


# ---------------------------------------------------------------------------
# Bloom-filter decontamination (Bloom 1970 — public algorithm): the
# sketch-based scale path for benchmark decontamination. The exact-hash
# anti-join (dedup.benchmark_contamination) ships every distinct benchmark
# n-gram hash; the Bloom variant ships only k bit positions per benchmark
# gram — a fixed-size bitset in a real engine, a broadcast position table
# here — trading a bounded false-positive rate (never false negatives) for
# a benchmark side that stays broadcast-sized at any benchmark size.
# ---------------------------------------------------------------------------

BLOOM_BITS = 1 << 18
BLOOM_K = 4


def _gram_positions(gram: str, bits: int, k: int) -> Column:
    """The gram's ``k`` Bloom bit positions (0..bits-1) as array<int>:
    ``_coords``, the CMS coordinates, with the gram for the word."""
    return _coords(gram, bits, k).cast("array<int>")


def _word_grams(df: DataFrame, text_col: str, n: int, out: str) -> DataFrame:
    """Explode each row's space-joined ``n``-word shingles as ``out``
    (hoisted split, rows with < n words emit nothing)."""
    reject_reserved(df, ("__bg_w", out), "_word_grams")
    return (
        with_words(df, text_col, "__bg_w")
        # drop short rows BEFORE shingling: shingle_expr's fewer-than-n
        # fallback (one whole-text shingle, right for minhash recall) is
        # wrong here — a 2-word doc cannot contain an 8-gram
        .filter(F.size("__bg_w") >= n)
        .withColumn(out, F.explode(F.expr(shingle_expr("__bg_w", n))))
        .drop("__bg_w")
    )


def bloom_bits(
    bench: DataFrame,
    text_col: str = "text",
    n: int = 8,
    bits: int = BLOOM_BITS,
    k: int = BLOOM_K,
) -> DataFrame:
    """The DISTINCT Bloom bit positions set by the benchmark's ``n``-gram
    set — at most ``k x |bench grams|`` rows and hard-capped by ``bits``,
    i.e. broadcast-sized by construction (one tiny distinct shuffle on
    the benchmark side only).

    Output: (``pos`` int).
    """
    grams = _word_grams(bench, text_col, n, "__bg")
    return (
        grams.select(
            F.explode(_gram_positions("__bg", bits, k)).alias("pos")
        )
        .distinct()
    )


def bloom_contamination(
    df: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    bits: int = BLOOM_BITS,
    k: int = BLOOM_K,
) -> DataFrame:
    """Per-document benchmark contamination via the Bloom filter: a
    corpus ``n``-gram is FLAGGED iff all ``k`` of its bit positions are
    set by the benchmark. Supersets the exact-hash overlap (Bloom never
    misses a true member; collisions can only over-flag, bounded by the
    standard ``(1 - e^{-kn/bits})^k`` rate).

    Counts are over each document's DISTINCT grams (a duplicated window
    shouldn't double-count contamination; deduping grams before the
    probe is also what you'd do at 100 TB anyway).

    Shape (r07): the benchmark side reduces to an actual in-memory BITSET
    — ``bloom_bits`` is hard-capped at ``bits`` rows by construction
    (2^18 default → a 32 KB bitmap), so it is collected once and shipped
    to executors in the probe-kernel closure, the guide §3.2 "build the
    Bloom filter, broadcast it, drop non-members before any shuffle"
    pattern made literal. Each corpus gram (already DISTINCT per doc via
    ``shingle_expr``) is flagged by ONE vectorized numpy bitmap lookup
    over its ``k`` positions; the per-doc rollup is then a single
    map-side-combinable groupBy(doc) of (doc, int) rows. Compared to the
    r6 plan this removes: the k-way position explode (×k corpus rows),
    the broadcast join against the position table, the per-gram ``md5``
    re-key, and the whole (doc, 32-hex-gkey) exchange — the only shuffle
    left is the tiny final groupBy(doc).

    Output: (id_col, ``n_grams`` bigint, ``n_flagged`` bigint,
    ``flagged_ppm`` bigint, ``contaminated`` boolean).
    """
    # ≤ ``bits`` ints by construction (2^18 default) — bounded, driver-safe
    positions = [
        r["pos"]
        for r in bloom_bits(bench, text_col=text_col, n=n, bits=bits, k=k)
        .collect()
    ]
    bitset = np.zeros(bits, dtype=bool)
    if positions:
        bitset[np.asarray(positions, dtype=np.int64)] = True

    @pandas_udf("int")
    def probe(pos_arrays: pd.Series) -> pd.Series:
        if not len(pos_arrays):
            return pd.Series([], dtype="int32")
        mat = np.vstack(pos_arrays.to_numpy()).astype(np.int64)  # (rows, k)
        return pd.Series(
            bitset[mat].all(axis=1).astype("int32"), dtype="int32"
        )

    grams = _word_grams(
        spread(df.select(qcol(id_col), qcol(text_col))), text_col, n, "__bg"
    )
    flagged = grams.select(
        qcol(id_col),
        probe(_gram_positions("__bg", bits, k)).alias("__flagged"),
    )
    return (
        flagged.groupBy(qcol(id_col))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum("__flagged").cast("long").alias("n_flagged"),
            F.expr(
                "(CAST(1000000 AS BIGINT) * sum(__flagged)) DIV count(1)"
            ).alias("flagged_ppm"),
        )
        .withColumn("contaminated", F.col("n_flagged") > 0)
    )
