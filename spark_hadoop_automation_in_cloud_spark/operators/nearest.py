"""Spatial 1-NN (nearest-city) assignment — the reference's signature join.

Reference: ``src/spark/collector.py:168-256`` — crossJoin(events, cities) →
haversine → ``row_number`` over partitionBy(event).orderBy(distance) → keep
rank 1.

Spark-first design:
- The dimension side is tiny (≤ thousands of cities) → ``F.broadcast`` makes
  the crossJoin a BroadcastNestedLoopJoin: no shuffle of the event side at
  all.  At 100 TB of events this is the only plan that works — a shuffle
  1-NN would move the full fact table.
- Rank-1 selection uses ``min_by(struct(city cols), (distance, city_id))``
  via groupBy on the event key … but that *re-shuffles* the fact table.
  Instead we keep it shuffle-free: after the broadcast join the rows for one
  event are already colocated in one partition (they were produced from one
  input row), so a window over the event key is AQE-local.  In practice
  Catalyst still plans a shuffle for the window; the truly shuffle-free form
  is the aggregate-of-struct below (``nearest_neighbor_agg``) which
  map-side-combines to one row per event before any exchange.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from spark_hadoop_automation_in_cloud_spark.functions.geo import haversine_km


def nearest_neighbor_agg(
    facts: DataFrame,
    dim: DataFrame,
    fact_keys: Sequence[str],
    fact_lat: str,
    fact_lon: str,
    dim_id: str,
    dim_lat: str,
    dim_lon: str,
    dim_payload: Sequence[str] = (),
    distance_col: str = "distance_km",
) -> DataFrame:
    """Assign each fact row its nearest dim row (haversine, min distance).

    Plan shape: BroadcastNestedLoopJoin → partial HashAggregate (map-side
    ``min_by`` combine) → final aggregate.  The fact table is scanned once
    and never shuffled in full width — only (keys × 1 struct) reach the
    exchange.  Ties break on ascending dim id (deterministic).

    ``fact_keys`` must uniquely identify a fact row and carry every fact
    column the caller needs downstream.
    """
    d = F.broadcast(dim)
    dist = haversine_km(F.col(fact_lat), F.col(fact_lon), F.col(dim_lat), F.col(dim_lon))
    payload_cols = [dim_id, *dim_payload]
    joined = facts.crossJoin(d).select(
        *fact_keys,
        dist.alias("__dist"),
        F.struct(*[F.col(c) for c in payload_cols]).alias("__dim"),
    )
    # min_by with composite (distance, dim_id) ordering via struct comparison:
    # struct < struct compares field-by-field, so ties on distance fall back
    # to the smallest dim id.
    agg = joined.groupBy(*fact_keys).agg(
        F.min_by("__dim", F.struct(F.col("__dist"), F.col(f"__dim.{dim_id}"))).alias("__best"),
        F.min("__dist").alias(distance_col),
    )
    out = agg.select(*fact_keys, F.col(distance_col), *[
        F.col(f"__best.{c}").alias(c) for c in payload_cols
    ])
    return out


def nearest_neighbor_fold(
    facts: DataFrame,
    dim_rows: Sequence[dict],
    fact_lat: str,
    fact_lon: str,
    dim_id: str,
    dim_lat: str,
    dim_lon: str,
    dim_payload: Sequence[str] = (),
    distance_col: str = "distance_km",
) -> DataFrame:
    """STATELESS 1-NN: the dimension is inlined as literal candidate structs
    and the minimum is taken with ``least()`` — a pure projection, no join,
    no aggregation, no shuffle.

    This is the form streaming pipelines need: the aggregate form
    (``nearest_neighbor_agg``) keys state by fact row, which is unbounded
    on a stream, while a projection is stateless and watermark-free.  It is
    also the right batch form when the plan must stay single-stage.  The
    trade: the dim is baked into the plan (recompile on dim change) and
    must be driver-small — same constraint a broadcast already implies.

    ``dim_rows``: materialized dim rows (``df.collect()`` or plain dicts).
    Ties break on ascending dim id via struct comparison, matching
    ``nearest_neighbor_agg`` exactly (equivalence is tested).
    """
    cands = []
    for r in dim_rows:
        d = haversine_km(
            F.col(fact_lat),
            F.col(fact_lon),
            F.lit(float(r[dim_lat])),
            F.lit(float(r[dim_lon])),
        )
        cands.append(
            F.struct(
                d.alias("__d"),
                F.lit(r[dim_id]).alias(dim_id),
                *[F.lit(r[c]).alias(c) for c in dim_payload],
            )
        )
    best = F.least(*cands)
    out = facts.withColumn("__best", best)
    return out.select(
        *facts.columns,
        F.col(f"__best.{dim_id}").alias(dim_id),
        *[F.col(f"__best.{c}").alias(c) for c in dim_payload],
        F.col("__best.__d").alias(distance_col),
    )
