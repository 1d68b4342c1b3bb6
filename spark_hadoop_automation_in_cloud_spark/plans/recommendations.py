"""Friend-recommendation datamart (reference Q3, ``collector.py:896-1150``).

Pairs of users who (a) share a subscription channel, (b) have never been in
contact, and (c) whose latest known positions are within ``max_km``.

Re-expression vs the reference:
- pairs are canonical (left < right) from the start — the reference emitted
  both orders and deduplicated later (``collector.py:967-974``);
- "in contact" means sharing a key (the reference's shared purchase key):
  the exclusion tests key-set overlap per candidate pair
  (``operators.pairs.exclude_pairs_by_shared_key``) instead of
  materializing the quadratic contact-pair list and anti-joining it
  twice (``collector.py:1012-1019``);
- the distance predicate runs inside candidate generation, as the
  grid-bucketed join ``operators.pairs.geo_bucket_join`` (SURVEY §4's
  100 TB path), not as a filter after the pair join.

Scale: the self-join on channel is the quadratic risk; AQE skew-join is on
session-wide, and the candidate frame never carries payload wider than the
two user ids until after both filters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_hadoop_automation_in_cloud_spark.operators.pairs import (
    exclude_pairs_by_shared_key,
    geo_bucket_join,
)


def friend_recommendations(
    subscriptions: DataFrame,  # (user_id, channel)
    contact_memberships: DataFrame,  # (user_id, k): users sharing a k are in contact
    last_positions: DataFrame,  # (user_id, lat, lon)
    max_km: float,
) -> DataFrame:
    """Output: left_user_id, right_user_id, distance_km (rounded 4dp).

    Operator order is the scale lever here: positions are attached to the
    (small, per-user-unique) subscription frame BEFORE pair generation, and
    candidate generation runs as ONE grid-bucketed equi-join on
    (channel, geo cell) — only pairs in the same channel AND neighboring
    ~max_km cells ever materialize, versus the reference's order — ALL
    same-channel pairs → distinct → anti join → position joins → filter
    (``collector.py:1000-1091``) — which drags the full quadratic pair
    volume through three shuffles before the (highly selective) distance
    predicate runs.  Since each user has exactly one last position,
    filtering early commutes with distinct/anti-join: results are
    identical, volume is not.
    """
    subs = subscriptions.select("user_id", "channel").distinct()
    subs_pos = subs.join(last_positions.select("user_id", "lat", "lon"), "user_id")
    l = subs_pos.select(
        "channel",
        F.col("user_id").alias("left_user_id"),
        F.col("lat").alias("lat1"),
        F.col("lon").alias("lon1"),
    )
    r = subs_pos.select(
        "channel",
        F.col("user_id").alias("right_user_id"),
        F.col("lat").alias("lat2"),
        F.col("lon").alias("lon2"),
    )
    near = geo_bucket_join(l, r, max_km, extra_keys=("channel",)).where(
        F.col("left_user_id") < F.col("right_user_id")
    )
    # two shared channels yield the same (pair, distance) row twice
    cand = near.select("left_user_id", "right_user_id", "distance_km").distinct()
    cand = exclude_pairs_by_shared_key(
        cand,
        contact_memberships,
        "left_user_id",
        "right_user_id",
        member_col="user_id",
        key_col="k",
    )
    return cand.select(
        "left_user_id",
        "right_user_id",
        F.round("distance_km", 4).alias("distance_km"),
    )
