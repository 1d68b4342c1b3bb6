"""CLI runner for streaming count-min maintenance — the frequency-state
twin of ``incremental_dedup_job.py`` (same checkpointed run-over-run
philosophy: each run sketches only the event files that arrived since the
last run into the partitioned sketch index):

    spark-submit jobs/streaming_countmin_job.py \
        <src_events_dir> <index_dir> <checkpoint_dir> [max_files_per_trigger]

- ``src_events_dir``: landing directory of event parquet files with
  (event_type STRING, user_id BIGINT) columns (extra columns ignored by
  the sketch projection).
- ``index_dir``: the partitioned sketch index (``batch_id=<epoch>/``
  parquet, depth × width count-min cell rows per group).  Count-min is
  linear, so readers merge whatever partitions exist
  (``streaming.incremental.read_countmin_index``) and get bit-for-bit
  the sketch of everything ingested; state stays depth × width cells per
  group no matter how much data arrives.
- ``checkpoint_dir``: Structured Streaming checkpoint — re-running the
  job sketches only NEW files; a crashed micro-batch overwrites its own
  ``batch_id`` partition on replay (pure append-of-own-partition, no
  earlier state read — see ``streaming.incremental.update_countmin_index``).
- ``max_files_per_trigger`` (optional): bound per-micro-batch file count.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spark_hadoop_automation_in_cloud_spark.args import StreamArgs
from spark_hadoop_automation_in_cloud_spark.session import session_scope
from spark_hadoop_automation_in_cloud_spark.streaming.incremental import (
    drain,
    update_countmin_index,
)

USAGE = (
    "usage: streaming_countmin_job.py <src_events_dir> <index_dir> "
    "<checkpoint_dir> [max_files_per_trigger]"
)

EVENT_SCHEMA = "event_type string, user_id long"


def main(argv: list[str]) -> int:
    try:
        args = StreamArgs.from_argv(argv)
    except ValueError:
        print(USAGE, file=sys.stderr)
        return 2
    with session_scope() as spark:
        reader = spark.readStream.schema(EVENT_SCHEMA).options(**args.reader_options)
        drain(
            reader.parquet(args.src),
            args.checkpoint,
            lambda b, e: update_countmin_index(b, args.out, ["event_type"], "user_id", e),
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
