"""Text-analysis column expressions for document pipelines.

Whitespace/token/character metrics, quality scores, language-marker counts —
all built-in string expressions (JVM-side).  Each helper has a DuckDB-SQL
template so the oracle can verify the identical computation.

Design note for 100 TB: these are embarrassingly parallel per-row
projections; the only scale concern is scan width, so callers should select
only (id, text)-shaped projections before applying them.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


SQL_TOKEN_COUNT = (
    "CASE WHEN length(trim({t})) = 0 THEN 0"
    " ELSE len(string_split_regex(trim({t}), '\\s+')) END"
)


def occurrence_count(text: Column, needle: str) -> Column:
    """Number of (non-overlapping) occurrences of a literal substring."""
    return (
        (F.length(text) - F.length(F.replace(text, F.lit(needle), F.lit(""))))
        / len(needle)
    ).cast("int")


def sql_occurrence_count(expr: str, needle: str) -> str:
    esc = needle.replace("'", "''")
    return (
        f"CAST((length({expr}) - length(replace({expr}, '{esc}', ''))) / {len(needle)} AS INT)"
    )
