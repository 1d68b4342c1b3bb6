"""CLI datamart runner for friend recommendations (argv contract mirrors the
reference's ``jobs/collect_add_to_friends_recommendations_dm_job.py:28-41``):

    spark-submit jobs/collect_recommendations_job.py \
        <date> <depth> <src_sf_dir> <tgt_path> [coords] [processed_dttm]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spark_hadoop_automation_in_cloud_spark.config import resolve_job_args
from spark_hadoop_automation_in_cloud_spark.io import write_datamart
from spark_hadoop_automation_in_cloud_spark.queries import q16_friend_recommendations
from spark_hadoop_automation_in_cloud_spark.session import session_scope


def main(argv: list[str]) -> int:
    args = resolve_job_args(argv, "collect_recommendations_job")
    with session_scope() as spark:
        dm = q16_friend_recommendations(spark, args.src_path, window=(args.date, args.depth))
        write_datamart(dm, args.tgt_path, "friend-recommendations-dm", args.date)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
