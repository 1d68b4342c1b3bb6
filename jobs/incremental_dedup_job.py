"""CLI runner for streaming dedup-on-arrival — the incremental-ingest
twin of the reference's windowed batch jobs (each run processes only the
document files that arrived since the last run, the same ``depth``-window
philosophy as ``src/keeper/keeper.py:10-56``, carried by a Structured
Streaming checkpoint instead of date arithmetic):

    spark-submit jobs/incremental_dedup_job.py \
        <src_docs_dir> <index_dir> <checkpoint_dir> [max_files_per_trigger] \
        [--compact]

- ``src_docs_dir``: landing directory of document parquet files with
  (doc_id BIGINT, text STRING) columns.
- ``index_dir``: the partitioned fingerprint index
  (``batch_id=<epoch>/`` parquet, one row per first-seen content hash:
  content_hash, canonical_id).  The index doubles as the survivor store —
  downstream consumers read it directly; earlier epochs are never
  rewritten.
- ``checkpoint_dir``: Structured Streaming checkpoint — re-running the
  job dedups only NEW files against everything already admitted, without
  rescanning the corpus (the 100 TB run-over-run contract of
  ``operators.dedup.incremental_dedup``).
- ``max_files_per_trigger`` (optional): bound per-micro-batch file count.
- ``--compact`` (optional): after the drain, collapse all committed epoch
  partitions into one (``streaming.incremental.compact_dedup_index``) —
  the cron-cadence maintenance that keeps a years-old index from
  accumulating thousands of tiny ``batch_id=`` directories.  Safe here by
  construction: the drain has fully committed every epoch below the next
  one when the query terminates.

Replay-safe on plain parquet: a crashed micro-batch recomputes its own
``batch_id`` partition from ``batch_id < epoch`` state and overwrites it
(see ``streaming.incremental.dedup_batch_against_index``).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spark_hadoop_automation_in_cloud_spark.args import StreamArgs
from spark_hadoop_automation_in_cloud_spark.session import session_scope
from spark_hadoop_automation_in_cloud_spark.streaming.incremental import (
    compact_dedup_index,
    dedup_batch_against_index,
    drain,
)

USAGE = (
    "usage: incremental_dedup_job.py <src_docs_dir> <index_dir> "
    "<checkpoint_dir> [max_files_per_trigger] [--compact]"
)

DOC_SCHEMA = "doc_id long, text string"


def main(argv: list[str]) -> int:
    compact = "--compact" in argv
    try:
        args = StreamArgs.from_argv([x for x in argv if x != "--compact"])
    except ValueError:
        print(USAGE, file=sys.stderr)
        return 2
    with session_scope() as spark:
        reader = spark.readStream.schema(DOC_SCHEMA).options(**args.reader_options)
        drain(
            reader.parquet(args.src),
            args.checkpoint,
            lambda b, e: dedup_batch_against_index(b, args.out, "doc_id", "text", e),
        )
        if compact and os.path.isdir(args.out):
            epochs = [
                int(d.split("=", 1)[1])
                for d in os.listdir(args.out)
                if d.startswith("batch_id=")
            ]
            if epochs:
                # every epoch on disk is committed once the availableNow
                # drain has terminated, so the whole index may collapse
                compact_dedup_index(spark, args.out, upto_epoch=max(epochs) + 1)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
