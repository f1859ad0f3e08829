"""Iceberg integration (north rule: Iceberg-backed transcript tables with
MERGE-based checkpointing).

This container ships no Iceberg runtime jar (offline, no package installs),
so every entry point degrades explicitly: ``iceberg_available()`` gates the
real paths, and ``plans.checkpoint`` provides the jar-free equivalent
(bucket-partitioned parquet + lineage commit log) with the SAME layout, so
moving to Iceberg changes only the DDL/MERGE snippets below — not the
pipeline shape.

Production mapping (all public Iceberg/Spark config):

    spark.sql.catalog.cat = org.apache.iceberg.spark.SparkCatalog
    spark.sql.extensions  = org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions

    CREATE TABLE cat.db.transcripts (
      conv_id string, turn_idx int, role string,
      text string, tool string, ts timestamp)
    USING iceberg
    PARTITIONED BY (bucket(64, conv_id))      -- == pipeline.with_bucket

    -- per-wave commit (replaces the dynamic-partition-overwrite parquet
    -- write; idempotent under re-processing exactly like it):
    MERGE INTO cat.db.extracted t
    USING wave_batch s
      ON t.conv_id = s.conv_id AND t.turn_idx = s.turn_idx
    WHEN MATCHED THEN UPDATE SET *
    WHEN NOT MATCHED THEN INSERT *

    -- resume: anti-join the lineage table's committed bucket ids, exactly
    -- as CheckpointedExtraction.committed_buckets does on parquet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

EXTRACTED_MERGE_SQL = """
MERGE INTO {table} t
USING {source} s
  ON t.conv_id = s.conv_id AND t.turn_idx = s.turn_idx
WHEN MATCHED THEN UPDATE SET *
WHEN NOT MATCHED THEN INSERT *
"""

TRANSCRIPTS_DDL = """
CREATE TABLE IF NOT EXISTS {table} (
  conv_id string, turn_idx int, role string,
  text string, tool string, ts timestamp)
USING iceberg
PARTITIONED BY (bucket({n_buckets}, conv_id))
"""


def iceberg_available(spark: SparkSession) -> bool:
    """True iff an Iceberg runtime is on the classpath."""
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def read_transcripts(spark: SparkSession, table_or_path: str) -> DataFrame:
    """Read transcripts from an Iceberg table when available, else parquet.

    Accepts either a catalog table name (``cat.db.transcripts``) or a path.
    """
    if iceberg_available(spark) and "/" not in table_or_path:
        return spark.table(table_or_path)
    return spark.read.parquet(table_or_path)


def merge_extracted(spark: SparkSession, batch: DataFrame, table: str) -> None:
    """MERGE a wave of extracted rows into an Iceberg table (keyed on
    conv_id, turn_idx — the reference's upsert sink, SURVEY.md §2 K1)."""
    if not iceberg_available(spark):
        raise RuntimeError(
            "Iceberg runtime not on classpath; use plans.checkpoint's "
            "bucket-partitioned parquet commit instead (same layout)"
        )
    batch.createOrReplaceTempView("__wave_batch")
    spark.sql(EXTRACTED_MERGE_SQL.format(table=table, source="__wave_batch"))
