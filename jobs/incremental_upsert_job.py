"""CLI runner for the streaming incremental datamart upsert — the
streaming-native replacement for the reference's cron-scheduled full
rebuild (``dags/datamart-collector-dag.py:202-254`` re-runs the whole
collector on a schedule; here new event files are merged into the
last-writer-wins snapshot as they land):

    spark-submit jobs/incremental_upsert_job.py \
        <src_events_dir> <tgt_snapshot_dir> <checkpoint_dir> \
        [max_files_per_trigger] [--duckdb-table=NAME]

- ``src_events_dir``: landing directory of event parquet files (any
  timestamp encoding — the stream source normalizes, see
  ``streaming.rollup_stream.stream_events``).
- ``tgt_snapshot_dir``: the maintained snapshot, one row per
  (user_id, event_type), newest (ts, event_id) wins.  Local path →
  crash-safe parquet swap; for cloud table formats run the engine API
  directly with ``merge_fn=`` (``streaming.incremental.delta_merge_fn``).
- ``checkpoint_dir``: Structured Streaming checkpoint — re-running the
  job processes only files that arrived since the last run (exactly-once
  over the file source), which is what makes this a drop-in for the cron
  rebuild: schedule it as often as you like, each run pays only for new
  data.
- ``max_files_per_trigger`` (optional): bound per-micro-batch file count.
- ``--duckdb-table=NAME`` (optional): route the merge through the
  DuckDB warehouse backend (``streaming.incremental.duckdb_merge_fn``):
  ``tgt_snapshot_dir`` then names a ``.duckdb`` database file and the
  snapshot is maintained as table NAME via a real SQL
  ``INSERT .. ON CONFLICT DO UPDATE .. WHERE newer_than`` upsert.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spark_hadoop_automation_in_cloud_spark.args import StreamArgs
from spark_hadoop_automation_in_cloud_spark.functions.timeutils import epoch_us
from spark_hadoop_automation_in_cloud_spark.session import session_scope
from spark_hadoop_automation_in_cloud_spark.streaming.incremental import (
    drain,
    upsert_batch,
)
from spark_hadoop_automation_in_cloud_spark.streaming.rollup_stream import stream_events

USAGE = (
    "usage: incremental_upsert_job.py <src_events_dir> <tgt_snapshot_dir> "
    "<checkpoint_dir> [max_files_per_trigger] [--duckdb-table=NAME]"
)


def main(argv: list[str]) -> int:
    duckdb_table = None
    pos = []
    for a in argv:
        if a.startswith("--duckdb-table="):
            duckdb_table = a.split("=", 1)[1]
            if not duckdb_table:
                print(USAGE, file=sys.stderr)
                return 2
        elif a.startswith("--"):
            print(USAGE, file=sys.stderr)
            return 2
        else:
            pos.append(a)
    try:
        args = StreamArgs.from_argv(pos)
    except ValueError:
        print(USAGE, file=sys.stderr)
        return 2
    merge_fn = None
    if duckdb_table is not None:
        from spark_hadoop_automation_in_cloud_spark.streaming.incremental import (
            duckdb_merge_fn,
        )

        merge_fn = duckdb_merge_fn(table=duckdb_table)
    with session_scope() as spark:
        stream = stream_events(spark, args.src, reader_options=args.reader_options)
        snapshot = stream.select(
            "event_id",
            "user_id",
            "event_type",
            epoch_us("ts").alias("ts_us"),
            "value",
        )
        keys, order = ["user_id", "event_type"], ["ts_us", "event_id"]
        drain(
            snapshot,
            args.checkpoint,
            lambda b, _e: upsert_batch(b, args.out, keys, order, merge_fn),
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
