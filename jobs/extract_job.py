"""spark-submit entrypoint for the extraction pipeline (reference U2/U3:
the autoscan() orchestrator + CLI, autoscan/autoscan.py:19-213 +
autoscan/cli.py:53-151, as a cluster job).

Usage (local sandbox):
    python jobs/extract_job.py --input /tmp/transcripts --output /tmp/out \
        --mode low --buckets 64 --waves 4

Usage (cluster):
    spark-submit --py-files autoscan_spark.zip jobs/extract_job.py \
        --input cat.db.transcripts --output s3://bucket/extracted ...

``--input`` goes through ``sources.iceberg.read_transcripts``: a catalog
table name when an Iceberg runtime is on the classpath, else a parquet path.

The job is resumable: re-running with the same --output continues from the
last committed bucket (plans.checkpoint).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description="autoscan_spark extraction job")
    ap.add_argument("--input", required=True,
                    help="transcripts parquet dir, or a catalog table with an Iceberg runtime")
    ap.add_argument("--output", required=True, help="output root directory")
    ap.add_argument("--mode", choices=["low", "high"], default="low",
                    help="low = parallel+drop-failed; high = serial per conversation with lag-1 context, fail-fast (reference accuracy modes)")
    ap.add_argument("--first-turn", type=int, default=None)
    ap.add_argument("--last-turn", type=int, default=None)
    ap.add_argument("--polish", action="store_true", help="whole-document consolidation pass")
    ap.add_argument("--buckets", type=int, default=64, help="checkpoint commit granularity")
    ap.add_argument("--waves", type=int, default=1, help="commits per run (resume granularity)")
    ap.add_argument("--master", default=None, help="override master (default: spark-submit's)")
    return ap.parse_args(argv)


def main(argv=None) -> None:
    args = parse_args(argv)

    from autoscan_spark.plans.checkpoint import CheckpointedExtraction
    from autoscan_spark.session import get_spark
    from autoscan_spark.sources.iceberg import read_transcripts

    spark = get_spark(app_name="autoscan-spark-extract", master=args.master)
    transcripts = read_transcripts(spark, args.input)
    job = CheckpointedExtraction(
        root=args.output,
        n_buckets=args.buckets,
        mode=args.mode,
        polish=args.polish,
        first_turn=args.first_turn,
        last_turn=args.last_turn,
    )
    done_before = job.committed_buckets(spark)
    t0 = time.perf_counter()
    committed = job.run(transcripts, waves=args.waves)

    wall = time.perf_counter() - t0
    # turns of the buckets THIS call committed, from their lineage rows: a
    # resumed run reports only the work it did, without rescanning the input
    n_turns = sum(
        r["rows_in"]
        for r in job.lineage(spark).select("partition_id", "rows_in").collect()
        if r["partition_id"] not in done_before
    )
    print(
        json.dumps(
            {
                "committed_buckets": committed,
                "wall_s": round(wall, 2),
                "n_turns": n_turns,
                "turns_per_sec": round(n_turns / wall, 1) if wall else None,
                "mode": args.mode,
                "output": args.output,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
