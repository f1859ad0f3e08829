"""Deterministic sampling / dataset-split operators for training-data prep.

Everything is HASH-derived, not RNG-derived: a row's split assignment or
sample membership depends only on (salt, key), so it is stable across runs,
engines, partitionings and cluster sizes — the property a 100 TB training
pipeline needs (re-running the pipeline, or running it on a different
cluster, must not shuffle documents between train and test).

The hash is the first 8 hex chars of md5 → a uniform 32-bit integer. md5 is
bit-identical in every engine (the DuckDB oracle mirrors it exactly), unlike
xxhash64 which is Spark-specific. All expressions are JVM-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from autoscan_spark.operators.sqlutil import md5_bucket, qcol, qident, qlit

_BUCKETS = 1_000_000


def _hash_bucket(key_col: str, salt: str) -> str:
    """Uniform bucket in [0, 1e6) from md5(salt || key) — cross-engine SQL
    (``sqlutil.md5_bucket``)."""
    return md5_bucket(f"concat({qlit(salt)}, CAST({qident(key_col)} AS STRING))", _BUCKETS)


def hash_split(
    df: DataFrame,
    key_col: str,
    fractions: dict[str, float] | None = None,
    salt: str = "split-v1",
) -> DataFrame:
    """Add ``split``: deterministic train/val/test assignment by key hash.

    ``fractions`` maps split name → fraction (must sum to ~1.0; iteration
    order defines the cumulative bucket ranges, so pass an ordered dict —
    plain dicts preserve insertion order). Rows with equal keys always land
    in the same split (leakage-safe when the key is the dedup identity).
    """
    fractions = fractions or {"train": 0.98, "val": 0.01, "test": 0.01}
    total = sum(fractions.values())
    if not 0.999 <= total <= 1.001:
        raise ValueError(f"fractions must sum to 1.0, got {total}")
    bucket = _hash_bucket(key_col, salt)
    expr = "CASE "
    cum = 0.0
    names = list(fractions)
    for name in names[:-1]:
        cum += fractions[name]
        expr += f"WHEN {bucket} < {int(round(cum * _BUCKETS))} THEN {qlit(name)} "
    expr += f"ELSE {qlit(names[-1])} END"
    return df.withColumn("split", F.expr(expr))


def hash_sample(
    df: DataFrame, key_col: str, fraction: float, salt: str = "sample-v1"
) -> DataFrame:
    """Deterministic ~``fraction`` sample by key hash (stable across runs
    and engines — unlike ``DataFrame.sample``, which is seed+partitioning
    dependent)."""
    if not 0.0 < fraction <= 1.0:
        raise ValueError(f"fraction must be in (0, 1], got {fraction}")
    bucket = _hash_bucket(key_col, salt)
    return df.filter(F.expr(f"{bucket} < {int(round(fraction * _BUCKETS))}"))


def cap_per_group(
    df: DataFrame,
    group_col: str,
    key_col: str,
    n: int,
    salt: str = "cap-v1",
) -> DataFrame:
    """Keep at most ``n`` rows per group, chosen DETERMINISTICALLY by key
    hash order (md5) — the per-domain / per-source document cap every web
    pipeline applies so one host cannot dominate the corpus. Hash order
    (not "first n" or RNG) makes the kept set stable across runs, engines
    and partitionings, and unbiased within the group.

    One window shuffle on the group key; a pathologically hot group is the
    usual AQE-skew case. Ties on the hash are broken by the key itself, so
    the result is total-order deterministic.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    from pyspark.sql.window import Window

    bucket = _hash_bucket(key_col, salt)
    w = Window.partitionBy(qcol(group_col)).orderBy(
        F.expr(bucket).asc(), qcol(key_col).asc()
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n)
        .drop("__rn")
    )


def temperature_rates(
    df: DataFrame, strata_col: str, alpha: float = 0.5
) -> DataFrame:
    """Per-stratum keep rates for a temperature-resampled training mixture
    (the public multilingual recipe: sample language l with probability
    proportional to its corpus share raised to ``alpha`` — XLM-R style).

    Returns one row per stratum: (strata, ``n_docs``, ``keep_rate``) where
    ``keep_rate = (n_min / n_s) ** (1 - alpha)`` — downsample-only, the
    smallest stratum keeps everything. ``alpha=1`` keeps the natural
    mixture; ``alpha=0`` equalizes strata.

    Determinism note: for alpha in {0, 0.5, 1} the rate uses only
    division and ``sqrt`` — both correctly rounded under IEEE-754, so the
    value is bit-identical cross-engine (oracle-checkable). Other alphas
    go through ``power``, which carries no such guarantee.
    """
    if not 0.0 <= alpha <= 1.0:
        raise ValueError(f"alpha must be in [0, 1], got {alpha}")
    counts = df.groupBy(qcol(strata_col)).agg(F.count("*").cast("long").alias("n_docs"))
    ratio = "CAST(min(n_docs) OVER () AS DOUBLE) / n_docs"
    if alpha == 1.0:
        rate = "CAST(1.0 AS DOUBLE)"
    elif alpha == 0.5:
        rate = f"sqrt({ratio})"
    elif alpha == 0.0:
        rate = ratio
    else:
        rate = f"power({ratio}, {1.0 - alpha!r})"
    return counts.withColumn("keep_rate", F.expr(rate))


def temperature_sample(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    alpha: float = 0.5,
    salt: str = "temp-v1",
) -> DataFrame:
    """Deterministically downsample each stratum to its temperature-mixture
    rate (``temperature_rates``): keep a row iff its md5 bucket falls under
    the stratum's keep rate. Two passes over the input (a column-pruned
    count scan, then the filter); the rates table is tiny and broadcast,
    so the sampling pass itself is shuffle-free.
    """
    # null-safe equality: a NULL stratum (e.g. undetected language) has its
    # own rate row — a plain equi-join would silently drop every such row
    rates = temperature_rates(df, strata_col, alpha).select(
        F.col(strata_col).alias("__strata"), "keep_rate"
    )
    bucket = _hash_bucket(key_col, salt)
    return (
        df.join(
            F.broadcast(rates), F.col(strata_col).eqNullSafe(F.col("__strata"))
        )
        .filter(F.expr(f"CAST({bucket} AS DOUBLE) < keep_rate * {_BUCKETS}"))
        .drop("__strata", "keep_rate")
    )


def token_budget_sample(
    df: DataFrame,
    budget_tokens: int,
    key_col: str,
    token_col: str,
    strata_col: str | None = None,
    salt: str = "budget-v1",
) -> DataFrame:
    """Corpus packing to a token budget: keep documents, in deterministic
    md5-hash order, until each stratum's cumulative token count reaches
    ``budget_tokens`` — "build a 10B-token training mix with at most
    ``budget`` tokens per language". A document is kept iff the running
    sum INCLUDING itself is within budget (so one oversized head document
    is kept only if it fits).

    Hash order makes the kept set an unbiased, run/engine/partitioning-
    stable subset (ties broken by the key).

    Scale design — two-pass bucketed prefix-sum, NO per-stratum global
    sort. A naive running-sum window partitioned by stratum funnels an
    entire language through ONE reducer (tens of TB for English at 100 TB
    corpus scale). Instead:

    1. Every row already carries a deterministic md5 bucket in [0, 1e6)
       (the sort key). Aggregate token sums per (stratum, bucket) — a
       map-side-combining groupBy producing ≤ 1e6 rows per stratum.
    2. On that TINY summary table, a per-stratum cumulative sum (single
       reducer over ≤ 1e6 16-byte rows — trivial) finds each stratum's
       unique *boundary bucket*: the first bucket whose cumulative total
       exceeds the budget. Everything in earlier buckets is kept outright;
       everything in later buckets is dropped outright; only the boundary
       bucket (~1e-6 of the stratum) needs row-level resolution.
    3. One row per stratum (boundary bucket id, tokens before it, first
       bucket containing a non-null token) broadcasts back to the corpus.
       The row-level running sum runs in a window partitioned by
       (stratum, bucket) — 1e6-way-spread shuffle, per-partition sorts of
       ~corpus/1e6 rows, fully parallel.

    The kept set is bit-identical to the single-window formulation
    (differential-tested, including null/zero-token and oversized-head
    edge cases): a row is kept iff its running total — nulls ignored, so a
    row preceded by no non-null token has an undefined total and is
    dropped, matching SQL window-sum semantics — is within budget.

    Cost note: the summary pass re-evaluates the input once (2 scans
    total). For expensive upstreams, materialize the input first; the
    shuffle volume saved vs the single-reducer sort dominates at scale.

    A document is kept iff the running sum INCLUDING itself is within
    budget, and the cut is a strict hash-order prefix: one oversized
    document early in hash order ends the stratum's kept set (it is NOT
    skipped-and-bypassed). Cap oversized docs upstream if skip-and-continue
    packing is wanted.
    """
    if budget_tokens < 0:
        raise ValueError(f"budget_tokens must be >= 0, got {budget_tokens}")
    from pyspark.sql.window import Window

    out_cols = list(df.columns)
    bucket = _hash_bucket(key_col, salt)
    strata = qcol(strata_col) if strata_col else F.lit(1)
    # the stratum key is wrapped in a STRUCT: struct equality is null-safe
    # in Spark, so a NULL stratum value (e.g. undetected language) joins
    # back to its own stats row instead of being silently dropped (plain
    # `=` join keys treat NULL != NULL)
    sdf = df.withColumn("__tbs_b", F.expr(bucket)).withColumn(
        "__tbs_s", F.struct(strata.alias("v"))
    )

    # Pass 1: per-(stratum, bucket) token sums. Map-side partial agg; the
    # result is at most 1e6 rows per stratum regardless of corpus size.
    summary = sdf.groupBy("__tbs_s", "__tbs_b").agg(
        F.sum(qcol(token_col)).alias("__bsum")
    )
    wsum = (
        Window.partitionBy("__tbs_s")
        .orderBy("__tbs_b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = summary.withColumn("__cumthru", F.sum("__bsum").over(wsum))
    # Boundary bucket, first non-null bucket, and their strictly-before
    # offsets in ONE aggregation over `cum`. The r06 formulation computed
    # `stats` (min-buckets) and `offs` (a cum ⋈ stats groupBy) as separate
    # frames, which Catalyst planned as THREE evaluations of the whole
    # scan → (stratum, bucket) summary → window chain (no subtree reuse):
    # 3 extra corpus scans and 2 join exchanges. A min over a
    # (bucket, offset) STRUCT picks the offset AT the min bucket in the
    # same pass (struct ordering is lexicographic and bucket ids are
    # unique per stratum), so one aggregate yields all four values —
    # bit-identical per-stratum rows, 4 input scans → 2 (guide §2.4).
    # At __bb the bucket sum is provably non-null (a null-sum bucket
    # carries its predecessor's cumulative total, so the predecessor would
    # have crossed the budget first); coalesce kept for exact parity with
    # the r06 expression.
    stats = cum.groupBy("__tbs_s").agg(
        F.min(
            F.when(
                F.col("__cumthru") > budget_tokens,
                F.struct(
                    F.col("__tbs_b").alias("b"),
                    (
                        F.col("__cumthru")
                        - F.coalesce(F.col("__bsum"), F.lit(0))
                    ).alias("off"),
                ),
            )
        ).alias("__bbs"),
        F.min(
            F.when(
                F.col("__bsum").isNotNull(),
                F.struct(
                    F.col("__tbs_b").alias("b"),
                    (F.col("__cumthru") - F.col("__bsum")).alias("off"),
                ),
            )
        ).alias("__fbs"),
    )
    per_stratum = stats.select(
        "__tbs_s",
        F.col("__bbs.b").alias("__bb"),
        F.col("__fbs.b").alias("__fb"),
        F.col("__bbs.off").alias("__off_bb"),
        F.col("__fbs.off").alias("__off_fb"),
    )

    joined = sdf.join(F.broadcast(per_stratum), "__tbs_s", "left")
    is_window = (F.col("__tbs_b") == F.col("__bb")) | (
        F.col("__tbs_b") == F.col("__fb")
    )
    keep_fast = (
        F.col("__fb").isNotNull()
        & (F.col("__tbs_b") > F.col("__fb"))
        & (F.col("__bb").isNull() | (F.col("__tbs_b") < F.col("__bb")))
    )
    # Row-level window: partitioned by (stratum, BUCKET) — fine-grained,
    # never a whole stratum through one task. Sorting non-boundary buckets
    # too is harmless (tiny per-bucket sorts) and keeps this a single pass.
    wrow = (
        Window.partitionBy("__tbs_s", "__tbs_b")
        .orderBy(qcol(key_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    running = F.sum(qcol(token_col)).over(wrow)
    nn_running = F.count(qcol(token_col)).over(wrow)  # count() skips nulls
    off = F.coalesce(
        F.when(F.col("__tbs_b") == F.col("__bb"), F.col("__off_bb")).otherwise(
            F.col("__off_fb")
        ),
        F.lit(0),
    )
    has_nonnull_at_or_before = (F.col("__tbs_b") > F.col("__fb")) | (
        nn_running > 0
    )
    keep_window = (
        is_window
        & has_nonnull_at_or_before
        & ((off + F.coalesce(running, F.lit(0))) <= budget_tokens)
    )
    return (
        joined.withColumn("__keep", keep_fast | keep_window)
        .filter(F.col("__keep"))
        .select(*[qcol(c) for c in out_cols])
    )


def stratified_hash_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    fractions: dict[str, float],
    default_fraction: float = 0.0,
    salt: str = "strata-v1",
) -> DataFrame:
    """Per-stratum deterministic sampling: e.g. keep 100% of low-resource
    languages and 5% of English. ``fractions`` maps stratum value →
    fraction; strata not listed get ``default_fraction``. One JVM CASE
    expression — no per-stratum jobs, no shuffle."""
    for v in fractions.values():
        if not 0.0 <= v <= 1.0:
            raise ValueError(f"fractions must be in [0, 1], got {v}")
    bucket = _hash_bucket(key_col, salt)
    expr = "CASE "
    for value, frac in fractions.items():
        expr += (
            f"WHEN {qident(strata_col)} = {qlit(value)} "
            f"THEN {bucket} < {int(round(frac * _BUCKETS))} "
        )
    expr += f"ELSE {bucket} < {int(round(default_fraction * _BUCKETS))} END"
    return df.filter(F.expr(expr))


def pack_sequences(
    df: DataFrame,
    capacity: int,
    id_col: str = "doc_id",
    order_col: str = "chunk_id",
    token_col: str = "n_chunk_tokens",
    text_col: str = "chunk_text",
    sep: str = "\n\n",
    num_partitions: int | None = None,
) -> DataFrame:
    """Partition-local greedy sequence packing — the pretraining step that
    fills fixed-``capacity``-token training examples from variable-length
    chunks (the public "packing" recipe: iterate chunks in order, start a
    new example when the next chunk would overflow).

    Corpus-GLOBAL greedy packing is inherently sequential (each bin
    boundary depends on every prior chunk), so — like every real
    distributed pipeline — packing here is PARTITION-local: chunks are
    hash-partitioned by ``id_col`` (keeping a document's chunks together
    and the partition assignment deterministic), sorted within the
    partition by (id, order), and packed by one sequential pass per
    partition inside ``mapInPandas``. Wasted capacity vs the global pack
    is at most one partial bin per partition — negligible at real
    partition sizes. A single chunk larger than ``capacity`` becomes its
    own (overflowing) example, kept whole — the ``token_budget_sample``
    oversized-head convention.

    Output: (``pack_id`` = "<partition>-<bin>", ``n_chunks``,
    ``n_tokens``, ``packed_text`` = chunk texts joined by ``sep`` in pack
    order). Deterministic for a fixed ``num_partitions`` (defaults to
    ``spark.sparkContext.defaultParallelism``). Not SQL-expressible
    without recursion (the capacity reset is a running-state fold) —
    rows-only in the driver gate; a Python-replay differential pins the
    semantics in pytest.
    """
    from typing import Iterator

    import pandas as pd

    if capacity < 1:
        raise ValueError(f"capacity must be >= 1, got {capacity}")
    n_parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism

    narrow = (
        df.select(qcol(id_col), qcol(order_col), qcol(token_col), qcol(text_col))
        .repartition(n_parts, qcol(id_col))
        .sortWithinPartitions(qcol(id_col), qcol(order_col))
    )
    tok_name, txt_name = token_col, text_col

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        bins: list[tuple[int, int, str]] = []
        cur_tokens = 0
        cur_texts: list[str] = []

        def flush() -> None:
            nonlocal cur_tokens, cur_texts
            if cur_texts:
                bins.append((len(cur_texts), cur_tokens, sep.join(cur_texts)))
                cur_tokens = 0
                cur_texts = []

        for pdf in batches:
            for tok, txt in zip(pdf[tok_name], pdf[txt_name]):
                tok = int(tok)
                if cur_texts and cur_tokens + tok > capacity:
                    flush()
                cur_texts.append("" if txt is None else str(txt))
                cur_tokens += tok
        flush()
        yield pd.DataFrame(
            {
                "pack_id": [f"{pid}-{i}" for i in range(len(bins))],
                "n_chunks": pd.Series(
                    [b[0] for b in bins], dtype="int64"
                ),
                "n_tokens": pd.Series(
                    [b[1] for b in bins], dtype="int64"
                ),
                "packed_text": [b[2] for b in bins],
            }
        )

    return narrow.mapInPandas(
        gen,
        schema="pack_id string, n_chunks bigint, n_tokens bigint, "
        "packed_text string",
    )


def repeat_upsample(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    epochs: dict[str, float],
    default: float = 1.0,
    salt: str = "epochs-v1",
) -> DataFrame:
    """Materialize a training mixture with per-stratum epoch counts —
    the public data-mixing recipe (GPT-3 / LLaMA style: high-quality
    sources weighted >1 epoch, bulk web <1) as an explicit row multiset.

    A stratum weight ``w`` yields ``floor(w)`` copies of every row plus
    one more for the deterministic ``frac(w)`` fraction of rows chosen
    by md5(salt, key) — so 2.3 epochs = every row twice, and a stable
    30% of rows (by key hash, not RNG) a third time. Rows in strata
    weighted 0 ≤ w < 1 survive with probability w (downsampling and
    upsampling are the same formula). Adds ``copy_idx`` (0-based);
    output rows ≈ Σ_s w_s·n_s exactly in expectation and exactly
    deterministic per key.

    Shape: zero shuffles — a broadcast-sized CASE over the stratum
    column and one ``explode(sequence(...))`` fan-out; the hash keeps
    repeat decisions independent of partitioning and cluster size.
    """
    for name, w in epochs.items():
        if w < 0:
            raise ValueError(f"epoch weight for {name!r} must be >= 0, got {w}")
    if default < 0:
        raise ValueError(f"default epoch weight must be >= 0, got {default}")
    bucket = _hash_bucket(key_col, salt)

    def n_copies(w: float) -> str:
        whole = int(w)
        frac_buckets = int(round((w - whole) * _BUCKETS))
        if frac_buckets == 0:
            return str(whole)
        return f"({whole} + (CASE WHEN {bucket} < {frac_buckets} THEN 1 ELSE 0 END))"

    expr = "CASE "
    for name, w in epochs.items():
        expr += f"WHEN {qident(strata_col)} = {qlit(name)} THEN {n_copies(w)} "
    expr += f"ELSE {n_copies(default)} END"
    return (
        df.withColumn("__n_copies", F.expr(expr))
        .filter(F.col("__n_copies") > 0)
        .withColumn(
            "copy_idx", F.explode(F.expr("sequence(0, __n_copies - 1)"))
        )
        .drop("__n_copies")
    )


def cluster_split(
    df: DataFrame,
    pairs: DataFrame,
    fractions: dict[str, float] | None = None,
    id_col: str = "doc_id",
    salt: str = "cluster-split-v1",
) -> DataFrame:
    """Leakage-safe train/val/test split at DUPLICATE-CLUSTER granularity:
    near-dup pairs resolve to ``dedup.connected_components``, and
    the deterministic md5 split key is the CLUSTER id, so two near-
    duplicate documents can never straddle a split boundary — the
    contamination mode a plain per-document ``hash_split`` cannot prevent
    (doc A in train, its 95%-identical twin in test).

    Shape: component map (pairs-sized) BROADCASTS onto the corpus,
    singletons key by their own id, then the same cross-engine md5 bucket
    arithmetic as ``hash_split``. Cluster sizes skew the split fractions
    only by the duplicate mass itself (unavoidable: the cluster is the
    atomic unit).

    Output: (id_col, ``cluster_id``, ``split``).
    """
    from autoscan_spark.operators.dedup import connected_components

    comps = connected_components(pairs)
    keyed = (
        df.select(qcol(id_col))
        .join(F.broadcast(comps), qcol(id_col) == F.col("id"), "left")
        .withColumn(
            "cluster_id", F.coalesce(F.col("component"), qcol(id_col))
        )
        .drop("id", "component")
    )
    return hash_split(keyed, "cluster_id", fractions, salt=salt).select(
        qcol(id_col), "cluster_id", "split"
    )


def hash_top_n(
    df: DataFrame, key_col: str, n: int, salt: str = "sample-v1"
) -> DataFrame:
    """EXACTLY-``n`` deterministic uniform sample by md5 order statistics —
    what "give me 10k eval docs" actually needs (``hash_sample`` keeps a
    FRACTION, so its count wobbles; ``DataFrame.sample`` is seed- and
    partitioning-dependent). Selecting the ``n`` smallest md5(salt || key)
    values is a uniform without-replacement draw, stable across runs,
    partitionings, and engines, and NESTED: the top-5k of the same salt is
    a subset of the top-10k, the same property the fraction sampler has.

    Scale shape: global-top-n plans as TakeOrderedAndProject — each
    partition keeps a local n-heap and only n-row heads move to the
    driver-side merge, NO full sort, NO full shuffle (plan-asserted).
    Driver holds n rows; fine for eval-set n, not for n ~ corpus size
    (use ``hash_sample`` there).

    Output: the sampled rows with a ``__rank``-free original schema.
    Ties are impossible for distinct keys (md5 is injective on this
    domain for practical purposes); duplicate keys tie-break on the key
    string itself so the pick stays total."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    hx = (
        f"md5(concat({qlit(salt)}, CAST({qident(key_col)} AS STRING)))"
    )
    return (
        df.withColumn("__h", F.expr(hx))
        .orderBy(F.col("__h").asc(), qcol(key_col).asc())
        .limit(int(n))
        .drop("__h")
    )
