"""CLI datamart runner for the per-zone week/month activity rollup (argv
contract mirrors the reference's
``jobs/collect_events_total_cnt_agg_wk_mnth_dm_job.py:28-35``):

    spark-submit jobs/collect_zone_activity_job.py \
        <date> <depth> <src_sf_dir> <tgt_path> [coords] [processed_dttm]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spark_hadoop_automation_in_cloud_spark.config import resolve_job_args
from spark_hadoop_automation_in_cloud_spark.io import write_datamart
from spark_hadoop_automation_in_cloud_spark.queries import q18_zone_activity
from spark_hadoop_automation_in_cloud_spark.session import session_scope


def main(argv: list[str]) -> int:
    args = resolve_job_args(argv, "collect_zone_activity_job")
    with session_scope() as spark:
        dm = q18_zone_activity(spark, args.src_path, window=(args.date, args.depth))
        write_datamart(dm, args.tgt_path, "zone-activity-dm", args.date)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
