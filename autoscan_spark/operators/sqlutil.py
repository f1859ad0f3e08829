"""Quoting helpers for SQL fragments built with ``F.expr``.

Spark column names may contain spaces, dots, quotes — even backticks.
Interpolating them raw into an ``F.expr`` string breaks (or injects into)
the expression; same for string literals (a stratum value containing a
quote). Every operator that builds SQL text routes names through
``qident`` and literals through ``qlit`` (the pattern ``profile_table``
established). ``F.col``/``select``/``groupBy`` call sites keep the plain
name — the DataFrame API resolves those without the SQL parser.

What a word is lives here too: ``split_words`` is the one tokenizing
fragment (whitespace split of the trimmed, optionally lowercased text)
and ``with_words`` the one hoist that projects it into a column. So do
the other blocks several operator modules build from, each defined once:
``shingle_expr`` (word n-grams of a hoisted word column), ``md5_bucket``
(the cross-engine md5 position hash), ``spread`` (parallelize a
compacted scan) and ``bucket_self_join`` (the candidate-pair join of the
banded near-dup operators).
"""

from __future__ import annotations


def qident(name: str) -> str:
    """Backtick-quote a column name for use inside an ``F.expr`` string.
    Inner backticks double, per Spark's identifier grammar."""
    return "`" + name.replace("`", "``") + "`"


def qlit(value: str) -> str:
    """Escape a Python string into a single-quoted Spark SQL literal."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def reject_reserved(df, names, where: str):
    """Fail fast when an input frame already carries a column an operator
    uses internally (hoists like ``__whw``): silently overwriting it
    yields an ambiguous-column analysis error at best and wrong results
    at worst. Same contract as ``classify.score_quality``'s
    ``_RESERVED_COLS`` check. Returns ``df`` so call sites can chain."""
    clash = sorted(set(names).intersection(df.columns))
    if clash:
        raise ValueError(
            f"input columns {clash} collide with internal columns of "
            f"{where}; rename or drop them first"
        )
    return df


def qcol(name: str):
    """Resolve a user-supplied column name to a Column without the SQL
    parser mangling dots/backticks (``F.col(raw)`` parses the name)."""
    from pyspark.sql import functions as F

    return F.col(qident(name))


def split_words(sql: str, lower: bool = True) -> str:
    """SQL fragment: the words of the SQL expression ``sql`` — the text
    (lowercased with ``lower``) trimmed of spaces and split on whitespace
    runs. ``trim`` strips only spaces, so a leading tab or newline yields
    an empty first word; empty or all-space text yields ``['']``; NULL
    yields NULL. Pass a column through ``qident`` first.

    Inside a lambda, reference a ``with_words`` column instead of
    inlining this fragment: lambda bodies re-evaluate per element with no
    common-subexpression reuse, so an inlined split re-runs the regex
    once per element — O(words²) per document."""
    text = f"lower({sql})" if lower else sql
    return f"split(trim({text}), '\\\\s+')"


def with_words(df, text_col: str, out: str, lower: bool = True):
    """Project ``split_words`` of ``text_col`` ONCE into column ``out``.

    Catalyst has no common-subexpression reuse across lambda-bearing
    expressions, so inlining the split N times evaluates it N times.
    Downstream expressions reference the projected attribute instead;
    CollapseProject declines to re-inline a non-cheap producer referenced
    more than once, so for non-generator consumers the split stays
    single-evaluation (pinned by plan inspection in tests/test_plans.py).
    An ``F.explode`` over ``out`` does not get that guarantee: Catalyst
    infers the filter ``size(out) > 0 AND isnotnull(out)``, pushes it
    below this projection and re-evaluates the split there, so the regex
    runs three times per document. Explode with ``F.explode_outer``
    instead, which infers no filter; it differs only by one null row for
    NULL text (a split is never empty), which a filter on the exploded
    column drops."""
    from pyspark.sql import functions as F

    return df.withColumn(out, F.expr(split_words(qident(text_col), lower)))


def shingle_expr(words_col: str, n: int) -> str:
    """SQL expression: distinct word n-grams over an ALREADY-HOISTED word
    array column; fewer than ``n`` words → one shingle of the whole
    joined text. The single definition every shingle consumer shares
    (minhash/jaccard via ``dedup.word_shingles``, SFT echo via
    ``conversations.response_echo``) so their shingle semantics cannot
    silently diverge. Takes a COLUMN projected by ``with_words``, never
    an inline split: lambda bodies are re-evaluated per element with no
    common-subexpression reuse, so an inlined ``slice(split(text), i, n)``
    re-runs the regex split once per shingle — O(words²) per document
    (measured as the dominant cost of the LSH signature stage)."""
    return (
        f"array_distinct(CASE WHEN size({words_col}) >= {n} THEN "
        f"transform(sequence(0, size({words_col}) - {n}), "
        f"i -> concat_ws(' ', slice({words_col}, i + 1, {n}))) "
        f"ELSE array(concat_ws(' ', {words_col})) END)"
    )


def md5_bucket(sql: str, m: int) -> str:
    """SQL fragment: the md5 position hash of the string expression
    ``sql`` — its first 8 md5 hex digits read as a BIGINT in [0, 2^32),
    then ``pmod`` ``m``. The value is never negative, so ``%`` and
    ``pmod`` agree and any engine with md5 replays it verbatim; DuckDB
    as ``('0x' || substr(md5(x), 1, 8))::BIGINT % m``. Callers put their
    salt into ``sql`` and cast the BIGINT result as they need."""
    return f"pmod(CAST(conv(substring(md5({sql}), 1, 8), 16, 10) AS BIGINT), {m})"


def spread(df):
    """Repartition a compacted scan up to defaultParallelism before an
    expensive projection (the window-hash/shingle lambdas are
    JVM-interpreted — a one-split input would evaluate them on one core).
    No-op when the input already has enough splits, so at 100 TB —
    thousands of splits — nothing is reshuffled; only small/compacted
    inputs are spread, and only the projected columns move."""
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < parallelism:
        return df.repartition(parallelism)
    return df


def bucket_self_join(keyed, id_col: str, *keys: str):
    """Candidate pairs of a banded near-dup operator: ``keyed`` holds one
    row per (id, bucket), the bucket spelled by the columns ``keys``, and
    this returns its self-join on ``keys`` with ``a.id < b.id``, the two
    sides aliased ``a`` and ``b``. Callers select their pair columns
    (and any check) from the aliases and take their own ``distinct``: a
    pair meets once per bucket it shares.

    Singleton buckets are dropped BEFORE the join by a window count over
    ``keys``: on a mostly-unique corpus most buckets have one member and
    can never produce a pair, so pruning them keeps corpus-sized bucket
    rows out of BOTH join shuffles, and recall is unchanged by
    definition. The pruned frame sits behind a lazy ``localCheckpoint``,
    so the window count and whatever built ``keyed`` (a banding explode,
    a hashing UDF) run once, not once per join side — Catalyst
    re-executes unshared subtrees on both sides of a self-join. The
    barrier holds the rows of non-singleton buckets only; for a
    pathological corpus where most rows share buckets, write ``keyed``
    to a table and self-join from that instead."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    pruned = (
        keyed.withColumn("__bucket_size", F.count("*").over(Window.partitionBy(*keys)))
        .filter(F.col("__bucket_size") > 1)
        .drop("__bucket_size")
        .localCheckpoint(eager=False)
    )
    a = pruned.alias("a")
    b = pruned.alias("b")
    return a.join(
        b,
        on=[F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys]
        + [F.col(f"a.{qident(id_col)}") < F.col(f"b.{qident(id_col)}")],
    )
