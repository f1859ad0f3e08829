"""Emulate the driver's correctness gate: run each queries() entry on Spark
and its oracle_sql() on DuckDB over the same parquet, compare row count,
column names, and order-insensitive values."""

import math
import os

import duckdb
import pytest

import __spark_entry__ as entry_mod
from autoscan_spark.plans.driver_queries import STAGED_ORACLES

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 9)
    return v


def _rowset(rows):
    return sorted(repr(tuple(_norm(v) for v in row)) for row in rows)


def test_driver_window_all_oracle_backed():
    """The round driver records correctness only for the first 50 queries()
    entries in insertion order. Every one of those slots must be
    oracle-backed — a rows-only entry in the window wastes a hard-signal
    slot (r03 burned 6 of 50 this way)."""
    names = list(entry_mod.queries().keys())
    oracles = entry_mod.oracle_sql()
    missing = [n for n in names[:50] if n not in oracles]
    assert missing == [], f"rows-only queries inside the driver window: {missing}"


def test_oracle_closure_over_rounds():
    """Freeze the window-rotation invariant as a test, not a comment:
    every oracle-backed query must EITHER have at least one driver-recorded
    green row in a committed CORRECTNESS_r*.json OR sit inside the current
    50-slot window (so the next driver run records one). A query that is
    neither means an oracle conversion missed its rotation — exactly the
    gap rounds 4 and 5 each shipped with (r4: minhash et al; r5:
    simhash_pairs / near_dup_survivors / readability)."""
    import glob
    import json
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    driver_green: set[str] = set()
    records = sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")))
    assert records, "no committed CORRECTNESS_r*.json found"
    for path in records:
        for name, row in json.load(open(path)).items():
            if (
                row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match")
                and not row.get("err")
            ):
                driver_green.add(name)
    window = set(list(entry_mod.queries().keys())[:50])
    orphans = sorted(set(entry_mod.oracle_sql()) - driver_green - window)
    assert orphans == [], (
        "oracle-backed queries with no driver-green row and no window slot "
        f"(rotate them into the first 50): {orphans}"
    )


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"conv_id", "markdown"}


@pytest.mark.parametrize("name", sorted(entry_mod.queries().keys()))
def test_query_matches_oracle(spark, duck, name):
    q = entry_mod.queries()[name]
    sql = entry_mod.oracle_sql().get(name) or STAGED_ORACLES.get(name)
    df = q(spark, SF_DIR)
    spark_rows = [tuple(row) for row in df.collect()]
    assert len(spark_rows) > 0, f"{name}: empty result"
    if sql is None:
        return  # rows-only check
    oracle_tbl = duck.execute(sql).arrow()
    oracle_cols = list(oracle_tbl.column_names)
    oracle_rows = duck.execute(sql).fetchall()
    assert list(df.columns) == oracle_cols, f"{name}: column mismatch"
    # Type gate: the driver's value hash is type-sensitive (CORRECTNESS_r03:
    # DuckDB HUGEINT vs Spark BIGINT hash-diverged on equal values). Compare
    # Arrow hash-classes per column so typing skew fails here first.
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))
    from oracle_gate import _type_skew

    skew = _type_skew(df.toArrow().schema, oracle_tbl.schema)
    assert not skew, f"{name}: oracle/spark type skew {skew}"
    assert len(spark_rows) == len(oracle_rows), f"{name}: row count mismatch"
    # compare with columns sorted by name (driver semantics)
    order = sorted(range(len(oracle_cols)), key=lambda i: oracle_cols[i])
    s = _rowset([tuple(r[i] for i in order) for r in spark_rows])
    o = _rowset([tuple(r[i] for i in order) for r in oracle_rows])
    assert s == o, f"{name}: value mismatch (first spark={s[:1]}, oracle={o[:1]})"
