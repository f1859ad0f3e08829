"""Resumable, per-partition-committed extraction (north rule).

The unit of commit is a conv_id hash BUCKET: ``bucket =
pmod(xxhash64(conv_id), n_buckets)``. Every conversation lives wholly in one
bucket, so both the per-turn ``extracted`` table and the per-conversation
``doc_markdown`` table can be produced and committed bucket-by-bucket, and a
killed job resumes from the last committed bucket by anti-joining the lineage
table (reference analog of the MERGE-on-conv_id upsert sink, SURVEY.md §2 K1,
generalizing autoscan/common.py:61-84 + the run summary
autoscan/autoscan.py:164-191).

Storage layout (parquet; swaps to Iceberg ``MERGE INTO`` unchanged in shape
when an Iceberg catalog is configured — the bucket column becomes the Iceberg
partition spec ``bucket(n, conv_id)``):

    {root}/extracted/bucket=<b>/...      per-turn results
    {root}/doc_markdown/bucket=<b>/...   per-conversation fold
    {root}/lineage/...                   append-only commit log

A bucket is COMMITTED iff a lineage row exists for it. Writes use dynamic
partition overwrite, so re-processing a bucket that was half-written when the
job died simply replaces it — idempotent resume, no duplicates (verified by
the kill/resume tests in tests/test_checkpoint_skew.py).

Wave plan: a wave is ``extract_pipeline(n_buckets=...)`` over the source
filtered to its buckets. The kernel runs over the scan splits, then its
output is repartitioned by bucket — the wave's one shuffle — and cached.
Everything after reads that cache with no further exchange: the extracted
write, the fold (grouped by ``(bucket, conv_id)``, which the cached hash
partitioning already satisfies) and its write, and the per-bucket lineage
counts. The lineage rows are then appended from an Arrow table, so the
commit starts no Python worker.

Scale rule: a bucket is written by exactly one task per wave, and each table
gets one file per bucket per wave. A wave's write and fold parallelism is
therefore at most its number of buckets (and at most
``spark.sql.shuffle.partitions``): choose ``n_buckets`` for the write
parallelism you want, and a bucket's share of a wave for the file size.

``waves`` controls how many buckets commit per Spark action: waves=1 is one
big job (fastest), larger waves give finer resume granularity — the
throughput/recoverability knob a 10^12-turn run tunes.
"""

from __future__ import annotations

import json
import math
import os
import time
from dataclasses import dataclass
from datetime import datetime, timezone

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from autoscan_spark import EXTRACTOR_VERSION
from autoscan_spark.plans.pipeline import bucket_wave, extract_pipeline

# bump when LINEAGE_SCHEMA changes shape: the lineage dir is append-only
# parquet, so appending a new schema next to old files would leave a
# mixed-schema table that spark.read.parquet resolves from an arbitrary
# footer. v2 = wall_time_s replaced by (wave_id, wave_wall_s).
LINEAGE_VERSION = 2

LINEAGE_SCHEMA = StructType(
    [
        StructField("partition_id", IntegerType()),
        StructField("rows_in", LongType()),
        StructField("rows_out", LongType()),
        StructField("extractor_version", StringType()),
        # wall time is measured per WAVE (buckets in a wave run as one Spark
        # job, so per-bucket wall is not individually observable); wave_id
        # distinguishes commit groups so the wall is never misread as
        # per-bucket
        StructField("wave_id", IntegerType()),
        StructField("wave_wall_s", DoubleType()),
        StructField("committed_at", TimestampType()),
    ]
)
_LINEAGE_ARROW = to_arrow_schema(LINEAGE_SCHEMA)


def _hadoop_path(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` for ``path`` through the JVM's Hadoop client:
    the same resolution Spark's own reads and writes use, so a URI root
    (``file://``, ``s3a://``, ``hdfs://``) and a relative one land where the
    data does. Metadata calls only; starts no Spark job."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


@dataclass
class CheckpointedExtraction:
    root: str
    n_buckets: int = 64
    mode: str = "low"
    polish: bool = False
    first_turn: int | None = None
    last_turn: int | None = None

    @property
    def extracted_path(self) -> str:
        return os.path.join(self.root, "extracted")

    @property
    def docs_path(self) -> str:
        return os.path.join(self.root, "doc_markdown")

    @property
    def lineage_path(self) -> str:
        return os.path.join(self.root, "lineage")

    @property
    def _meta_path(self) -> str:
        return os.path.join(self.root, "_checkpoint_meta.json")

    def _read_meta(self, spark: SparkSession) -> dict | None:
        fs, path = _hadoop_path(spark, self._meta_path)
        if not fs.exists(path):
            return None
        stream = fs.open(path)
        try:
            return json.loads(bytes(stream.readAllBytes()))
        finally:
            stream.close()

    def _write_meta(self, spark: SparkSession, meta: dict) -> None:
        fs, path = _hadoop_path(spark, self._meta_path)
        out = fs.create(path, True)
        try:
            out.write(json.dumps(meta).encode())
        finally:
            out.close()

    def _check_meta(self, spark: SparkSession) -> None:
        """Bucket count, mode, polish and the turn range are part of the
        checkpoint's identity: changing them across runs would silently mix
        bucket layouts, polished/unpolished documents or turn ranges and
        corrupt resume semantics — fail loudly instead. The meta file is
        read and written on the data's filesystem (``_hadoop_path``)."""
        meta = {
            "n_buckets": self.n_buckets,
            "mode": self.mode,
            "polish": self.polish,
            "first_turn": self.first_turn,
            "last_turn": self.last_turn,
            "lineage_version": LINEAGE_VERSION,
        }
        existing = self._read_meta(spark)
        if existing is not None:
            # pre-range checkpoints were written by runs without a range
            existing.setdefault("first_turn", None)
            existing.setdefault("last_turn", None)
            # pre-versioning checkpoints carry the v1 lineage schema; a v2
            # append would mix schemas in the append-only lineage dir
            existing.setdefault("lineage_version", 1)
            if existing != meta:
                raise ValueError(
                    f"checkpoint at {self.root} was created with {existing}; "
                    f"this run uses {meta} — refusing to mix bucket layouts "
                    f"or lineage schemas. Use the original settings or a "
                    f"fresh output root."
                )
            return
        self._write_meta(spark, meta)

    def committed_buckets(self, spark: SparkSession) -> set[int]:
        """Buckets with a lineage row. No lineage dir means none; any other
        read failure raises, because resuming from a misread commit log
        would redo committed buckets and append duplicate lineage rows."""
        fs, path = _hadoop_path(spark, self.lineage_path)
        if not fs.exists(path):
            return set()
        return {r["partition_id"] for r in self.lineage(spark).select("partition_id").collect()}

    def lineage(self, spark: SparkSession) -> DataFrame:
        """The commit log, read with ``LINEAGE_SCHEMA`` instead of an
        inferred schema: no schema-inference job, and a dir with no data
        file yet (a first commit that died inside its write) reads as
        empty."""
        return spark.read.schema(LINEAGE_SCHEMA).parquet(self.lineage_path)

    def run(
        self,
        transcripts: DataFrame,
        waves: int = 1,
        max_waves: int | None = None,
    ) -> int:
        """Process all not-yet-committed buckets in ``waves`` commit groups.

        ``max_waves`` stops early after that many commits (used by the resume
        test to simulate a mid-job kill between commits). Returns the number
        of buckets committed by THIS call.
        """
        spark = transcripts.sparkSession
        self._check_meta(spark)
        done = self.committed_buckets(spark)
        remaining = [b for b in range(self.n_buckets) if b not in done]
        if not remaining:
            return 0

        per_wave = math.ceil(len(remaining) / max(waves, 1))
        committed = 0
        for w in range(0, len(remaining), per_wave):
            if max_waves is not None and w // per_wave >= max_waves:
                break
            wave_buckets = remaining[w : w + per_wave]
            self._run_wave(spark, transcripts, wave_buckets, wave_id=w // per_wave)
            committed += len(wave_buckets)
        return committed

    def _run_wave(
        self,
        spark: SparkSession,
        transcripts: DataFrame,
        buckets: list[int],
        wave_id: int,
    ) -> None:
        t0 = time.perf_counter()
        extracted, docs = extract_pipeline(
            bucket_wave(transcripts, self.n_buckets, buckets),
            mode=self.mode,
            first_turn=self.first_turn,
            last_turn=self.last_turn,
            polish=self.polish,
            n_buckets=self.n_buckets,
        )
        # cache the bucket-clustered extraction output: the docs plan
        # contains this exact subtree, so the extracted sink, the fold and
        # the lineage counts share one kernel pass and one shuffle, and each
        # bucket is written by one task
        extracted.cache()
        try:
            for df, path in ((extracted, self.extracted_path), (docs, self.docs_path)):
                (
                    df.write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("bucket")
                    .parquet(path)
                )
            counts = {
                r["bucket"]: (r["rows_in"], r["rows_out"])
                for r in extracted.groupBy("bucket")
                .agg(
                    F.count("*").alias("rows_in"),
                    F.count_if(F.col("status") == "ok").alias("rows_out"),
                )
                .collect()
            }
        finally:
            extracted.unpersist()

        wall = time.perf_counter() - t0
        now = datetime.now(timezone.utc)
        lineage_rows = [
            (
                int(b),
                *counts.get(b, (0, 0)),
                EXTRACTOR_VERSION,
                int(wave_id),
                float(wall),
                now,
            )
            for b in buckets
        ]
        # from Arrow, not a Python list: the JVM reads the batches directly,
        # so the commit starts no Python worker
        lineage = pa.Table.from_arrays(
            [pa.array(col, type=f.type) for col, f in zip(zip(*lineage_rows), _LINEAGE_ARROW)],
            schema=_LINEAGE_ARROW,
        )
        # the lineage append is the COMMIT POINT: buckets become durable only
        # once their lineage rows land
        spark.createDataFrame(lineage, schema=LINEAGE_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(self.lineage_path)
