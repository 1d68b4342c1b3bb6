"""Per-user demographics datamart (reference Q1, ``collector.py:378-560``).

Semantics (re-expressed, determinism fixed — SURVEY §7.5.1/2):
- ``act_city``      — city of the user's latest event (W2 shape; here
                      ``max_by`` with (ts, id) tiebreak, not first-over-
                      desc-window).
- ``travel_*``      — ordered list/count of city *changes* (W4 lag shape,
                      explicit sort keys).
- ``home_city``     — city of the latest stay longer than ``min_stay_days``
                      (reference used 27 days between travels,
                      ``collector.py:490-491``); null-filled with a marker
                      (P9 parity, ``collector.py:516``).
- ``local_ts``      — latest event time shifted to the actual city's tz
                      (reference used from_utc_timestamp with a tz column,
                      ``collector.py:361-366``; the dim here carries an
                      integer UTC offset).

Plan shape at scale: one broadcast 1-NN join (no fact shuffle), then ONE
shuffle on user_id feeding a single Window pass (change detection + next-
change lookahead share the sort) and ONE aggregation with conditional
branches (act_city / travel history / home city as max_by / filtered
collect / conditional max) — no per-branch frames, no rejoining them.
The reference computed four metric frames and joined them back
(``collector.py:378-560``, with persist() to paper over the reuse); the
single-pass form makes both the caching and the joins unnecessary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from spark_hadoop_automation_in_cloud_spark.operators.changes import detect_changes

UNKNOWN_CITY = "Couldn't determine"


def user_demographics(
    events_with_city: DataFrame,
    min_stay_days: int = 7,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    city_col: str = "city_name",
    tz_offset_col: str = "tz_offset_hours",
) -> DataFrame:
    """events_with_city: one row per event with nearest-city columns attached
    (output of ``operators.nearest.nearest_neighbor``)."""
    # one Window pass (shared partitioning + sort): mark city changes, and
    # for each row find the ts of the NEXT change point — ts is monotone in
    # the frame, so min-over-following-change-rows is exactly the lead()
    # the per-branch form computed on the filtered travels frame
    marked = detect_changes(
        events_with_city, user_col, ts_col, city_col, id_col, "is_change"
    )
    w_follow = (
        Window.partitionBy(user_col)
        .orderBy(F.col(ts_col), F.col(id_col))
        .rowsBetween(1, Window.unboundedFollowing)
    )
    is_chg = F.col("is_change") == 1
    marked = marked.withColumn(
        "__next_change_ts",
        F.min(F.when(is_chg, F.col(ts_col))).over(w_follow),
    )

    # one aggregation, conditional per branch — the window partitioned on
    # user_col already, so this groupBy adds NO new shuffle
    long_stay = is_chg & (
        F.datediff(F.col("__next_change_ts"), F.col(ts_col)) > min_stay_days
    )
    order_key = F.struct(F.col(ts_col), F.col(id_col))
    agg = marked.groupBy(user_col).agg(
        F.max_by(
            F.struct(F.col(city_col), F.col(ts_col), F.col(tz_offset_col)),
            order_key,
        ).alias("__last"),
        F.sum("is_change").alias("travel_count"),
        F.array_join(
            F.transform(
                F.array_sort(
                    # collect_list drops the NULLs the when() leaves on
                    # non-change rows → exactly the travels subset
                    F.collect_list(
                        F.when(
                            is_chg,
                            F.struct(F.col(ts_col), F.col(id_col), F.col(city_col)),
                        )
                    )
                ),
                lambda s: s[city_col],
            ),
            ",",
        ).alias("travel_list"),
        # struct max ⇒ ordered by (ts, id) — (ts, id) is unique, so this is
        # max_by over the long-stay subset; NULL structs are ignored
        F.max(F.when(long_stay, F.struct(F.col(ts_col), F.col(id_col), F.col(city_col))))[
            city_col
        ].alias("home_city"),
    )
    return agg.select(
        user_col,
        F.col(f"__last.{city_col}").alias("act_city"),
        F.coalesce(F.col("home_city"), F.lit(UNKNOWN_CITY)).alias("home_city"),
        "travel_count",
        "travel_list",
        (
            F.col(f"__last.{ts_col}")
            + F.make_interval(hours=F.col(f"__last.{tz_offset_col}"))
        ).alias("local_ts"),
    )
