"""CLI runner for streaming ingest-volume maintenance — the
volume-side twin of ``streaming_countmin_job.py`` (same checkpointed
run-over-run philosophy: each run counts only the event files that
arrived since the last run into the partitioned daily-count index):

    spark-submit jobs/streaming_volume_job.py \
        <src_events_dir> <index_dir> <checkpoint_dir> [max_files_per_trigger]

- ``src_events_dir``: landing directory of event parquet files with
  (event_type STRING, d DATE) columns (extra columns ignored by the
  count projection; producers deriving ``d`` from a timestamp do so at
  write time).
- ``index_dir``: the partitioned daily-count index
  (``batch_id=<epoch>/`` parquet, one (event_type, d, n) row per cell a
  batch touched).  Counts are plain additive sums, so readers merge
  whatever partitions exist (``streaming.incremental.read_daily_counts``)
  and get bit-for-bit the daily counts of everything ingested; anomaly
  scoring reads that table through ``operators.checks.zscore_from_daily``
  (the q170/q174 kernel).
- ``checkpoint_dir``: Structured Streaming checkpoint — re-running the
  job counts only NEW files; a crashed micro-batch overwrites its own
  ``batch_id`` partition on replay (pure own-partition write, no earlier
  state read — see ``streaming.incremental.update_daily_counts``).
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
    update_daily_counts,
)

USAGE = (
    "usage: streaming_volume_job.py <src_events_dir> <index_dir> "
    "<checkpoint_dir> [max_files_per_trigger]"
)

EVENT_SCHEMA = "event_type string, d date"


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
            lambda b, e: update_daily_counts(b, args.out, ["event_type"], "d", e),
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
