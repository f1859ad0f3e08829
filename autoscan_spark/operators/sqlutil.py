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
and ``with_words`` the one hoist that projects it into a column.
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
