"""Geospatial column expressions.

The reference's signature scalar is the haversine great-circle distance
(``src/spark/collector.py:118-133``), built from pyspark built-ins — kept
JVM-side here too (whole-stage codegen, no Python boundary).

The reference computes ``2*R*sin(sqrt(a))`` where the true haversine is
``2*R*asin(sqrt(a))`` (``collector.py:130-131`` — SURVEY §7.5.3).  For small
central angles the two nearly coincide; we default to the *correct* asin
form and keep the quirk behind ``reference_quirk=True`` for bit-parity
experiments.

Because the driver's synthetic tables have no lat/lon columns
(FIXTURES.md §B "Geo note"), ``synth_*`` derive deterministic coordinates
from integer keys with pure integer arithmetic — bit-identical in Spark and
in the DuckDB oracle SQL (see the SQL templates at the bottom).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

EARTH_RADIUS_KM = 6371.0


def haversine_term(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """The haversine term ``sin²(Δlat/2) + cos·cos·sin²(Δlon/2)``: the
    distance rises monotonically with it, so a nearest-neighbour search
    can rank by it and take ``asin``/``sqrt`` of the winner only.

    Squares are ``s * s``: fdlibm's ``pow(x, 2.0)`` is exactly ``x * x``,
    so this is bit-equal to the ``** 2`` form without a native call.
    """
    return _term(lat1, lon1, lat2, lon2, F.sin, F.cos, F.radians)


def haversine_term_sql(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    """``haversine_term`` as Spark SQL text over SQL operands — the same
    expression tree, for plans that inline many candidates in one parse."""
    ops = [_Sql(x) for x in (lat1, lon1, lat2, lon2)]
    return _term(*ops, _Sql.fn("sin"), _Sql.fn("cos"), _Sql.fn("radians"))


def _term(lat1, lon1, lat2, lon2, sin, cos, radians):
    s_lat = sin(radians(lat2 - lat1) / 2)
    s_lon = sin(radians(lon2 - lon1) / 2)
    return s_lat * s_lat + cos(radians(lat1)) * cos(radians(lat2)) * (s_lon * s_lon)


class _Sql(str):
    """SQL text with the arithmetic operators ``_term`` uses, each node
    parenthesized so the parsed tree is the one Python built."""

    def _op(self, sym: str, other) -> _Sql:
        return _Sql(f"({self} {sym} {other})")

    def __add__(self, other):
        return self._op("+", other)

    def __sub__(self, other):
        return self._op("-", other)

    def __mul__(self, other):
        return self._op("*", other)

    def __truediv__(self, other):
        return self._op("/", other)

    @staticmethod
    def fn(name: str):
        return lambda x: _Sql(f"{name}({x})")


def haversine_km(
    lat1: Column, lon1: Column, lat2: Column, lon2: Column, *, reference_quirk: bool = False
) -> Column:
    """Great-circle distance in kilometres between two (lat, lon) pairs:
    ``2R·asin(sqrt(haversine_term))``.

    Pure built-in expressions — stays inside whole-stage codegen.
    Reference: ``collector.py:118-133``.
    """
    a = haversine_term(lat1, lon1, lat2, lon2)
    return haversine_from_term(a, reference_quirk=reference_quirk)


def haversine_from_term(a: Column, *, reference_quirk: bool = False) -> Column:
    """Kilometres from a ``haversine_term`` value."""
    arc = F.sin(F.sqrt(a)) if reference_quirk else F.asin(F.sqrt(a))
    return F.lit(2.0 * EARTH_RADIUS_KM) * arc


# --- Deterministic synthetic coordinates (Spark side) ----------------------
# All integer arithmetic on BIGINT, then a final divide — exactly
# representable, so Spark and DuckDB agree bit-for-bit.


def synth_city_lat(city_id: Column) -> Column:
    return (F.lit(-60) + (city_id.cast("bigint") * 137 % 120)).cast("double")


def synth_city_lon(city_id: Column) -> Column:
    return (F.lit(-170) + (city_id.cast("bigint") * 73 % 340)).cast("double")


def synth_event_lat(user_id: Column, event_id: Column) -> Column:
    m = (user_id.cast("bigint") * 7919 + event_id.cast("bigint")) % 12000
    return (m.cast("double") / 100.0) - 60.0


def synth_event_lon(user_id: Column, event_id: Column) -> Column:
    m = (user_id.cast("bigint") * 104729 + event_id.cast("bigint") * 31) % 34000
    return (m.cast("double") / 100.0) - 170.0


# --- DuckDB-oracle SQL templates (same math, same order of operations) ------

SQL_CITY_LAT = "CAST(-60 + ({k} * 137 % 120) AS DOUBLE)"
SQL_CITY_LON = "CAST(-170 + ({k} * 73 % 340) AS DOUBLE)"
SQL_EVENT_LAT = "(CAST(({u} * 7919 + {e}) % 12000 AS DOUBLE) / 100.0) - 60.0"
SQL_EVENT_LON = "(CAST(({u} * 104729 + {e} * 31) % 34000 AS DOUBLE) / 100.0) - 170.0"

SQL_HAVERSINE = (
    "2.0 * 6371.0 * asin(sqrt("
    "pow(sin(radians({lat2} - {lat1}) / 2), 2)"
    " + cos(radians({lat1})) * cos(radians({lat2}))"
    " * pow(sin(radians({lon2} - {lon1}) / 2), 2)"
    "))"
)


def local_time(ts: Column, tz: Column) -> Column:
    """Per-row timezone conversion: UTC timestamp + an IANA timezone *column*
    → wall-clock local time (reference ``collector.py:361-366``, which feeds
    the cities dict's ``timezone`` column to ``from_utc_timestamp``).

    The synthetic-table queries use integer-offset arithmetic instead (the
    DuckDB oracle has no tz database), but the engine's datamart surface
    keeps the reference's real-timezone semantics through this function.
    """
    return F.from_utc_timestamp(ts, tz)
