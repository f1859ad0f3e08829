"""Golden tests for the Iceberg mapping (sources/iceberg.py).

No Iceberg runtime jar ships in this container, so the MERGE/DDL strings
cannot execute — these tests keep them from rotting by parsing them through
Spark's OWN SQL parser and pinning the parsed plan shape (node type, merge
keys, partition transform). If the strings drift into invalid Spark SQL or
lose the conv_id/turn_idx upsert keys, these fail.
"""

import pytest

from autoscan_spark.sources.iceberg import (
    EXTRACTED_MERGE_SQL,
    TRANSCRIPTS_DDL,
    iceberg_available,
    merge_extracted,
    read_transcripts,
)


def _parse(spark, sql: str):
    return spark._jsparkSession.sessionState().sqlParser().parsePlan(sql)


def test_merge_sql_parses_as_merge_into(spark):
    plan = _parse(spark, EXTRACTED_MERGE_SQL.format(table="cat.db.extracted",
                                                    source="wave_batch"))
    s = plan.toString()
    assert "MergeIntoTable" in s
    # upsert keyed on (conv_id, turn_idx) — the reference's sink identity
    assert "conv_id" in s and "turn_idx" in s
    assert "updatestaraction" in s.lower()
    assert "insertstaraction" in s.lower()


def test_transcripts_ddl_parses_with_bucket_transform(spark):
    plan = _parse(spark, TRANSCRIPTS_DDL.format(table="cat.db.transcripts",
                                                n_buckets=64))
    s = plan.toString()
    assert "CreateTable" in s
    # partition spec must stay bucket(64, conv_id) — the same layout
    # plans.pipeline.with_bucket produces on parquet
    assert "bucket" in s and "64" in s and "conv_id" in s
    assert "iceberg" in s.lower()


def test_merge_sql_rejects_if_keys_removed(spark):
    """Sanity check that the parser assertion has teeth: a broken string
    (missing ON clause) must NOT parse."""
    broken = "MERGE INTO t USING s WHEN MATCHED THEN UPDATE SET *"
    with pytest.raises(Exception):
        _parse(spark, broken)


def test_runtime_gating(spark, tmp_path):
    """Without the jar: availability is False, reads fall back to parquet,
    MERGE raises with a pointer to the parquet checkpoint equivalent."""
    assert iceberg_available(spark) is False

    import pandas as pd

    df = spark.createDataFrame(pd.DataFrame({"conv_id": ["a"], "turn_idx": [1]}))
    path = str(tmp_path / "t.parquet")
    df.write.parquet(path)
    assert read_transcripts(spark, path).count() == 1

    with pytest.raises(RuntimeError, match="bucket-partitioned parquet"):
        merge_extracted(spark, df, "cat.db.extracted")
