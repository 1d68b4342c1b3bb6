"""Sequence/change-detection operators (lag-based).

Reference (SURVEY §2.5 W4): travel detection — a user "travels" when the
city of consecutive messages changes (``src/spark/collector.py:442-448``).
Home-city inference lives in ``plans.demographics``.

All are one window (partition by entity, order by time) → single shuffle on
the entity key; Spark sorts within partitions, no driver involvement.
Ordering always includes a unique tiebreaker for determinism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _w(entity_col: str, ts_col: str, tiebreak_col: str):
    return Window.partitionBy(entity_col).orderBy(F.col(ts_col), F.col(tiebreak_col))


def detect_changes(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    value_col: str,
    tiebreak_col: str,
    change_col: str = "is_change",
) -> DataFrame:
    """Flag rows where ``value_col`` differs from the previous row's value
    within the entity's time-ordered sequence (first row counts as a change).
    """
    prev = F.lag(value_col).over(_w(entity_col, ts_col, tiebreak_col))
    return df.withColumn(
        change_col,
        (prev.isNull() | (F.col(value_col) != prev)).cast("int"),
    )
