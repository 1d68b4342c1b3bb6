"""Spatial 1-NN (nearest-city) assignment — the reference's signature join.

Reference: ``src/spark/collector.py:168-256`` — crossJoin(events, cities) →
haversine → ``row_number`` over partitionBy(event).orderBy(distance) → keep
rank 1.

Spark-first design: the dimension side is driver-small (the reference's
cities dict), so it is collected once and inlined into the plan as
literals, one ``least()`` candidate per dim row, parsed from one SQL
expression.  Each fact row takes the minimum inside a projection: no join,
no aggregate, no exchange and no per-row state, so the same kernel serves a
batch scan and a stream.  Candidates are ranked by the haversine term
(sin/cos and products), and ``asin``/``sqrt`` run once per row, on the
winner only.  The projection compiles into the scan stage's generated code,
with every dim-only subexpression constant-folded.  Spark's higher-order
functions are interpreted instead: ``array_min(transform(...))`` over one
array literal spent 1.6-2.0 executor cpu-s on 2.5 M (event, city) pairs
where this form spends 0.30-0.36 (sf0.1, 4-core host).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from spark_hadoop_automation_in_cloud_spark.functions.geo import (
    haversine_from_term,
    haversine_term_sql,
)


def _sql_literal(value, type_sql: str) -> str:
    """A collected value as a typed SQL literal.  The text travels as a
    UTF-8 hex literal, so no quoting or escaping rule applies; numbers use
    ``str`` (Python's shortest round-trip repr), which the cast parses back
    to the same value."""
    if value is None:
        return f"CAST(NULL AS {type_sql})"
    return f"CAST(CAST(X'{str(value).encode().hex()}' AS STRING) AS {type_sql})"


def nearest_neighbor(
    facts: DataFrame,
    dim: DataFrame,
    fact_lat: str,
    fact_lon: str,
    dim_id: str,
    dim_lat: str,
    dim_lon: str,
    dim_payload: Sequence[str] = (),
    distance_col: str = "distance_km",
) -> DataFrame:
    """Every fact row with its nearest dim row attached: ``facts``' columns,
    then ``distance_col`` (haversine km), ``dim_id`` and ``dim_payload``.

    One row out per row in.  The minimum is taken over
    ``(haversine_term, dim_id, payload…)``, so ties break on ascending dim
    id.  This equals ranking by ``(distance, dim_id)`` except where two
    cities' terms differ yet round to the same distance (about 1 ulp); a
    NULL fact coordinate gives a NULL distance and the smallest dim id.

    The dim is collected and each row becomes one candidate expression in
    the generated code, so it must be small (tens to hundreds of rows),
    non-empty, and hold numbers, strings, booleans or NULLs in the selected
    columns.
    """
    keep = [dim_id, *dim_payload]
    small = dim.select(dim_lat, dim_lon, *keep)
    types = {f.name: f.dataType.simpleString() for f in small.schema.fields}
    cands = []
    for r in small.collect():
        lit = {k: _sql_literal(r[k], types[k]) for k in types}
        term = haversine_term_sql(f"`{fact_lat}`", f"`{fact_lon}`", lit[dim_lat], lit[dim_lon])
        fields = "".join(f", '{k}', {lit[k]}" for k in keep)
        cands.append(f"named_struct('__h', {term}{fields})")
    if not cands:
        raise ValueError("nearest_neighbor: the dim has no rows")
    best = F.expr(cands[0] if len(cands) == 1 else f"least({', '.join(cands)})")
    # type the winner as the dim declares it: a literal's nullability
    # follows its value, the dim's follows its schema
    typed = StructType([StructField("__h", DoubleType()), *[small.schema[k] for k in keep]])
    best = best.cast(typed)
    return facts.withColumn("__best", best).select(
        *facts.columns,
        haversine_from_term(F.col("__best.__h")).alias(distance_col),
        *[F.col(f"__best.`{k}`").alias(k) for k in keep],
    )
