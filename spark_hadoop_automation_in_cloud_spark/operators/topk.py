"""Top-k-per-group operator.

Reference patterns (SURVEY §2.5-2.6):
- W1/O2: ``row_number`` over (partition, order) + ``rank <= k`` filter
  (``src/spark/collector.py:238-247, 492-496``)
- W2/W3: latest/earliest row per user via ``F.first`` over an ordered window
  (``collector.py:337-353, 746-756``) — the reference leaned on the default
  unboundedPreceding..currentRow frame; we use explicit deterministic idioms.

Determinism contract: every ordering includes a unique tiebreaker column so
results are stable across engines and shuffle layouts (the reference's
versions are tie-nondeterministic — SURVEY §7.5.1).

Scale: one shuffle on the partition keys.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def topk_per_group(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column],
    k: int = 1,
    rank_col: str = "rnk",
    keep_rank: bool = False,
) -> DataFrame:
    """Keep the first k rows of each group under the given ordering.

    ``order_by`` must yield a total order within each group (include a
    unique key as final tiebreaker).
    """
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    out = df.withColumn(rank_col, F.row_number().over(w)).where(F.col(rank_col) <= k)
    return out if keep_rank else out.drop(rank_col)
