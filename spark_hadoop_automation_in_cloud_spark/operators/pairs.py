"""Pair-generation operators: anti-join exclusion, distance-threshold
(range) join, block-salted within-group pairs.

Reference (SURVEY §2.3): the friend-recommendation datamart builds user
pairs from a self equi-join on subscription channel (J6,
``src/spark/collector.py:1000-1008``), removes already-in-contact pairs with
a left-anti join (J7, ``collector.py:1012-1019``), and keeps pairs whose
last-message positions are within 1 km (J9, ``collector.py:1081-1091``).

Scale notes (100 TB):
- The self-join is O(Σ per-key group²).  Skewed keys dominate → AQE skew
  join is on by default (session.py) and ``salt`` below provides explicit
  two-level salting when a key's group is too large even split.
- Pair normalization (left < right) halves the join output and makes the
  pair canonical — the reference instead emitted both orders and
  deduplicated later (``collector.py:967-974``).
- The distance-threshold join uses grid bucketing (``geo_bucket_join``):
  each point lands in one ~cell, candidates come from the 3×3 neighbor
  cells of one side, so the join is an equi-join on cell id — no full
  cross product.  This is the custom operator SURVEY §4 flags as the only
  scale-critical rewrite.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from spark_hadoop_automation_in_cloud_spark.functions.geo import haversine_km


def exclude_pairs(
    candidates: DataFrame,
    exclusions: DataFrame,
    left_col: str,
    right_col: str,
    ex_left: str | None = None,
    ex_right: str | None = None,
) -> DataFrame:
    """Left-anti join removing known pairs, order-insensitively.

    Reference J7 (``collector.py:1012-1019``) anti-joined twice (both
    orders); canonicalizing both sides first needs a single anti join.
    ``candidates`` must already be canonical (left < right); ``exclusions``
    may list pairs in any order (columns ``ex_left``/``ex_right``, which
    default to the candidate column names).
    """
    ex = exclusions.select(
        F.least(F.col(ex_left or left_col), F.col(ex_right or right_col)).alias("__a"),
        F.greatest(F.col(ex_left or left_col), F.col(ex_right or right_col)).alias("__b"),
    ).distinct()
    return candidates.join(
        ex,
        (F.col(left_col) == F.col("__a")) & (F.col(right_col) == F.col("__b")),
        "left_anti",
    )


def exclude_pairs_by_shared_key(
    candidates: DataFrame,
    memberships: DataFrame,  # (member_col, key_col): entity → key it belongs to
    left_col: str,
    right_col: str,
    member_col: str,
    key_col: str,
) -> DataFrame:
    """Remove candidate pairs whose two sides share ANY membership key.

    Equivalent to building all same-key pairs and anti-joining
    (``exclude_pairs``) when the exclusion relation is *defined* by a
    shared key — but never materializes the pair blowup: memberships are
    collected to one key-set array per entity (linear), attached to each
    candidate side with two equi-joins, and tested with ``arrays_overlap``.
    Cost is O(|candidates| + |memberships|) versus O(Σ per-key group²) for
    the pair-list form — at 100 TB the difference between a shuffle and a
    quadratic explosion.  Use ``exclude_pairs`` when exclusions arrive as
    an explicit pair list instead.
    """
    key_sets = memberships.groupBy(F.col(member_col).alias("__m")).agg(
        F.collect_set(F.col(key_col)).alias("__keys")
    )
    lk = key_sets.select(F.col("__m").alias(left_col), F.col("__keys").alias("__lkeys"))
    rk = key_sets.select(F.col("__m").alias(right_col), F.col("__keys").alias("__rkeys"))
    out = (
        candidates.join(lk, left_col, "left")
        .join(rk, right_col, "left")
        # null key set (no memberships) can never overlap
        .where(
            ~F.coalesce(
                F.arrays_overlap(F.col("__lkeys"), F.col("__rkeys")), F.lit(False)
            )
        )
    )
    return out.drop("__lkeys", "__rkeys")


def within_distance(
    pairs: DataFrame,
    lat1: str,
    lon1: str,
    lat2: str,
    lon2: str,
    max_km: float,
    distance_col: str = "distance_km",
) -> DataFrame:
    """Filter already-formed pairs by haversine distance (reference J9)."""
    d = haversine_km(F.col(lat1), F.col(lon1), F.col(lat2), F.col(lon2))
    return pairs.withColumn(distance_col, d).where(F.col(distance_col) <= max_km)


def salt(df: DataFrame, key: str, buckets: int, salt_col: str = "__salt") -> DataFrame:
    """Add a deterministic salt derived from a row hash for two-level
    aggregation / skew splitting (aggregate by (key, salt), then by key)."""
    return df.withColumn(salt_col, F.pmod(F.xxhash64(*df.columns), F.lit(buckets)))


# --- grid-bucketed distance join (scale path for J9) ------------------------

_KM_PER_DEG_LAT = 111.0


def geo_bucket_join(
    left: DataFrame,
    right: DataFrame,
    max_km: float,
    lat1: str = "lat1",
    lon1: str = "lon1",
    lat2: str = "lat2",
    lon2: str = "lon2",
    distance_col: str = "distance_km",
    max_abs_lat_deg: float = 66.0,
    extra_keys: Sequence[str] = (),
) -> DataFrame:
    """Distance-threshold join via grid-cell bucketing.

    Each point maps to a (cell_x, cell_y); left rows are replicated to their
    3×3 neighborhood, right rows keep their own cell, and the join becomes
    an equi-join on cell id followed by the exact haversine predicate.
    Replication factor is a constant 9 on ONE side — versus the unbounded
    blowup of a theta join.

    Correctness requires any true pair's cells to differ by ≤1 per axis:
    the lat cell is ``max_km`` tall, and the lon cell is widened by the
    worst-case longitude shrink ``cos(max_abs_lat_deg)`` (data above that
    latitude would need a polar-cap strategy; antimeridian wrap is likewise
    out of scope — both hold for the synthetic coords, lat ≤ 60°).

    ``extra_keys``: same-named equality columns (e.g. a channel id) folded
    into the equi-join key alongside the cell — pairs must then match on
    key AND proximity, which composes "same channel" with "within d km"
    in one shuffle.
    """
    import math

    cell_lat = max_km / _KM_PER_DEG_LAT
    cell_lon = max_km / (_KM_PER_DEG_LAT * math.cos(math.radians(max_abs_lat_deg)))

    def cells(lat: str, lon: str) -> tuple[Column, Column]:
        return (
            F.floor(F.col(lat) / cell_lat).cast("long"),
            F.floor(F.col(lon) / cell_lon).cast("long"),
        )

    lx, ly = cells(lat1, lon1)
    rx, ry = cells(lat2, lon2)
    neighborhood = ", ".join(
        f"named_struct('dx', {dx}, 'dy', {dy})" for dx in (-1, 0, 1) for dy in (-1, 0, 1)
    )
    offsets = F.expr(f"explode(array({neighborhood}))")
    l_rep = left.select("*", lx.alias("__cx"), ly.alias("__cy")).select(
        "*", offsets.alias("__off")
    ).select(
        *left.columns,
        (F.col("__cx") + F.col("__off.dx")).alias("__cellx"),
        (F.col("__cy") + F.col("__off.dy")).alias("__celly"),
    )
    r_cell = right.select("*", rx.alias("__cellx"), ry.alias("__celly"))
    joined = l_rep.join(r_cell, [*extra_keys, "__cellx", "__celly"], "inner").drop(
        "__cellx", "__celly"
    )
    d = haversine_km(F.col(lat1), F.col(lon1), F.col(lat2), F.col(lon2))
    return joined.withColumn(distance_col, d).where(F.col(distance_col) <= max_km)


def blocked_pairs_within_groups(
    df: DataFrame,
    group_cols: Sequence[str],
    id_col: str,
    n_blocks: int = 8,
    auto_plain_below: int = 0,
    auto_plain_max_group: int = 0,
) -> DataFrame:
    """All unordered within-group pairs, block-salted for parallelism.

    A plain self-equi-join on the group key puts EVERY pair of a group
    through one shuffle partition — fatal when there are few, large
    groups (k-means clusters: k=8 means 8 tasks total, whatever the
    corpus size).  This is the classic triangle split: each row gets a
    deterministic block ``b = md5(id) % n_blocks`` and is replicated to
    the block-pair keys it participates in — the left side to ``(b, j)``
    for ``j ≥ b``, the right side to ``(i, b)`` for ``i ≤ b`` — so the
    join key becomes (group, i, j) and each of the n_blocks·(n_blocks+1)/2
    block-pairs of every group is an independent shuffle key.  Replication
    is ~(n_blocks+1)/2 rows per side per input row (linear in n_blocks)
    in exchange for quadratic parallelism — the standard trade; size
    n_blocks so a block-pair's work fits one task at the target scale.

    Every unordered pair appears EXACTLY once: cross-block pairs meet
    only at key (min_b, max_b); same-block pairs are halved by the id
    order filter; cross-block output is canonicalized so ``left.id_col <
    right.id_col`` always holds.

    Output: ``group_cols…, left struct<payload…>, right struct<payload…>``
    where payload = every non-group column of ``df`` (id included).
    ``n_blocks=1`` degenerates to the plain self-join.

    ``auto_plain_below`` (rows; 0 = off) is the small-corpus dispatch
    (r07 verdict item 4): below the crossover the replication tax beats
    the parallelism win (BLOCKED_PAIRS.json measured blocked 14% SLOWER
    than plain at a 6k-row corpus, 6× faster at 20k), so when set the
    operator probes ``df`` with a BOUNDED ``limit(threshold).count()`` —
    the decision only needs "are there at least `threshold` rows", so
    the probe short-circuits after `threshold` rows instead of running
    the full upstream lineage (an unbounded count() here re-executed the
    caller's whole derivation once per call — the r11 review finding) —
    and degenerates to ``n_blocks=1`` under the threshold.  The pair set
    is identical either way (pinned by the equals-naive test); only the
    physical split changes.

    ``auto_plain_max_group`` (members; 0 = off) is the dispatch for
    MANY-SMALL-GROUPS bucketings (LPA communities, q196): total row
    count is the wrong decision variable there — a corpus of thousands
    of 7-member communities already has thousands of independent
    shuffle keys, so salting is pure replication tax (BLOCKED_PAIRS
    ``community_runs``: plain beat blocked 0.41×–0.92× at every rung
    while the k-means cells, few and giant, need the salt).  The real
    variable is the LARGEST group's pair work vs one task: when set,
    one map-side-combined ``groupBy(group).count().max()`` probe (full
    scan of ``df``'s lineage — cheaper than the pair join it sizes)
    picks plain while the largest group stays under the threshold.
    Crossover from the k-means receipts: blocked won 6× at ~2.5k-member
    groups, lost at ~750 — 1000-2000 is the honest band.  Both
    dispatches may be set; plain wins if either fires.
    """
    from spark_hadoop_automation_in_cloud_spark.functions.hashing import md5_prefix_int

    if n_blocks < 1:
        raise ValueError(f"n_blocks must be >= 1, got {n_blocks}")
    if (
        auto_plain_below > 0
        and n_blocks > 1
        and df.limit(auto_plain_below).count() < auto_plain_below
    ):
        n_blocks = 1
    if auto_plain_max_group > 0 and n_blocks > 1:
        largest = (
            df.groupBy(*group_cols)
            .agg(F.count(F.lit(1)).alias("__n"))
            .agg(F.max("__n"))
            .first()[0]
        )
        if largest is None or largest < auto_plain_max_group:
            n_blocks = 1
    group_cols = list(group_cols)
    payload = [c for c in df.columns if c not in group_cols]
    if id_col not in payload:
        raise ValueError(f"id_col {id_col!r} must be a non-group column of df")
    row = F.struct(*[F.col(c) for c in payload])
    if n_blocks == 1:
        # true plain self-join — no salt hash, no explode, no runtime
        # canonicalization (id order IS canonical when nothing is split)
        a = df.select(*group_cols, row.alias("left"))
        b = df.select(*group_cols, row.alias("right"))
        return a.join(b, group_cols).where(
            F.col(f"left.{id_col}") < F.col(f"right.{id_col}")
        )
    b = (md5_prefix_int(F.col(id_col), nhex=8, salt=":pairblk") % n_blocks).cast("int")
    base = df.select(*group_cols, row.alias("__row"), b.alias("__b"))
    left = base.withColumn(
        "__j", F.explode(F.sequence(F.col("__b"), F.lit(n_blocks - 1)))
    ).select(
        *group_cols, F.col("__b").alias("__i"), "__j", F.col("__row").alias("left")
    )
    right = base.withColumn(
        "__i", F.explode(F.sequence(F.lit(0), F.col("__b")))
    ).select(
        *group_cols, "__i", F.col("__b").alias("__j"), F.col("__row").alias("right")
    )
    j = left.join(right, [*group_cols, "__i", "__j"])
    lt = F.col(f"left.{id_col}") < F.col(f"right.{id_col}")
    j = j.where((F.col("__i") != F.col("__j")) | lt)
    lo = F.when(lt, F.col("left")).otherwise(F.col("right"))
    hi = F.when(lt, F.col("right")).otherwise(F.col("left"))
    return j.select(*group_cols, lo.alias("left"), hi.alias("right"))
