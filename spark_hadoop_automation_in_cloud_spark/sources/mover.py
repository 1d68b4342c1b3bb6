"""Raw→staging ELT job (reference ``DataMover._move_data``,
``src/spark/mover.py:35-115``): read raw parquet, flatten the nested event
struct, write hive-partitioned by (event_type, date).

Differences from the reference, by design:
- no ``repartition(56)`` after read — AQE sizes shuffle-free writes by
  ``maxRecordsPerFile`` / input splits;
- zstd instead of gzip (faster decode, similar ratio);
- dynamic partition overwrite so re-running one day doesn't truncate the
  whole table (the reference overwrote the entire target) — set on the
  writer by ``io.write_partitioned``, never on the session.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from spark_hadoop_automation_in_cloud_spark.io import write_partitioned
from spark_hadoop_automation_in_cloud_spark.sources.events import flatten_raw_events


def move_raw_to_staging(
    spark: SparkSession,
    src_path: str,
    tgt_path: str,
    compression: str = "zstd",
) -> str:
    flat = flatten_raw_events(spark.read.parquet(src_path))
    return write_partitioned(flat, tgt_path, compression=compression)
