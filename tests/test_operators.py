"""Operator-level semantic tests that the oracle harness can't express
(approximation quality, operator equivalences, edge guards)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spark_hadoop_automation_in_cloud_spark.io import read_table
from spark_hadoop_automation_in_cloud_spark.operators.dedup import word_shingles
from spark_hadoop_automation_in_cloud_spark.operators.pairs import geo_bucket_join, within_distance
from spark_hadoop_automation_in_cloud_spark.operators.similarity import ann_lsh_topk, cosine_topk
from spark_hadoop_automation_in_cloud_spark.plans.activity_rollup import (
    rollup_join_form,
    require_all_classes,
    zone_week_month_rollup,
)
from spark_hadoop_automation_in_cloud_spark.queries import EVENT_CLASSES, geo_events, nearest_city_events


def test_ann_lsh_recall_vs_bruteforce(spark, sf_dir):
    """LSH ANN is approximate, but must agree with brute force on a decent
    fraction of (query, neighbor) hits — and every pair it returns must be
    a genuine corpus pair with a correctly computed similarity."""
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 25)
    exact = cosine_topk(emb, queries, k=5).select("query_id", "neighbor_id")
    approx = ann_lsh_topk(emb, queries, k=5, dim=64).select("query_id", "neighbor_id")
    n_exact = exact.count()
    hits = approx.intersect(exact).count()
    assert n_exact > 0
    # random-hyperplane buckets on random vectors: recall well above zero
    assert hits / n_exact > 0.1, f"ANN recall collapsed: {hits}/{n_exact}"


def test_rollup_pivot_equals_join_form(spark, sf_dir):
    """The single-shuffle pivot rollup must equal the reference-shaped
    4-agg + 3-join plan on the inner-join cells."""
    ez = nearest_city_events(spark, sf_dir).withColumnRenamed("city_id", "zone_id")
    piv = require_all_classes(
        zone_week_month_rollup(ez, EVENT_CLASSES), EVENT_CLASSES
    ).select("zone_id", "week", "month", *[f"week_{t}" for t in EVENT_CLASSES])
    join = rollup_join_form(ez, EVENT_CLASSES).select(
        "zone_id", "week", "month", *[f"week_{t}" for t in EVENT_CLASSES]
    )
    assert piv.exceptAll(join).count() == 0
    assert join.exceptAll(piv).count() == 0


def test_geo_bucket_join_equals_naive(spark, sf_dir):
    """Grid-bucketed distance join returns exactly the naive theta-join
    pairs (cells are conservative → no false negatives; haversine refilter
    removes false positives)."""
    ev = geo_events(spark, sf_dir).limit(300)
    l = ev.select(F.col("event_id").alias("lid"), F.col("lat").alias("lat1"), F.col("lon").alias("lon1"))
    r = ev.select(F.col("event_id").alias("rid"), F.col("lat").alias("lat2"), F.col("lon").alias("lon2"))
    naive = within_distance(
        l.crossJoin(r).where(F.col("lid") < F.col("rid")),
        "lat1", "lon1", "lat2", "lon2", 200.0,
    ).select("lid", "rid")
    bucketed = geo_bucket_join(l, r, 200.0).where(F.col("lid") < F.col("rid")).select("lid", "rid")
    assert naive.exceptAll(bucketed).count() == 0
    assert bucketed.exceptAll(naive).count() == 0


def test_word_shingles_short_text_guard(spark):
    """Texts shorter than the shingle width yield an empty array, not a
    descending-sequence artifact."""
    df = spark.createDataFrame([("a",), ("a b",), ("a b c",)], ["text"])
    rows = df.select(word_shingles(F.col("text"), 2).alias("sh")).collect()
    assert rows[0]["sh"] == []
    assert rows[1]["sh"] == ["a b"]
    assert rows[2]["sh"] == ["a b", "b c"]


def test_ann_ivf_recall_and_validity(spark, sf_dir):
    """IVF ANN: every returned pair must be a genuine exact-cosine pair for
    that (query, neighbor), and recall vs brute force must be well above the
    random-cell baseline."""
    from spark_hadoop_automation_in_cloud_spark.operators.similarity import ann_ivf_topk

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 25)
    exact = cosine_topk(emb, queries, k=5)
    approx = ann_ivf_topk(emb, queries, k=5, nprobe=3)
    n_exact = exact.count()
    hits = (
        approx.select("query_id", "neighbor_id")
        .intersect(exact.select("query_id", "neighbor_id"))
        .count()
    )
    assert n_exact > 0
    assert hits / n_exact > 0.1, f"IVF recall collapsed: {hits}/{n_exact}"
    # similarities must agree exactly with the brute-force computation
    joined = approx.alias("a").join(
        exact.alias("e"),
        (F.col("a.query_id") == F.col("e.query_id"))
        & (F.col("a.neighbor_id") == F.col("e.neighbor_id")),
    )
    bad = joined.where(F.col("a.cosine_sim") != F.col("e.cosine_sim")).count()
    assert bad == 0


def test_embedding_neardup_lsh_subset_of_exact(spark, sf_dir):
    """The LSH-prefiltered near-dup pairs are a subset of the exact pairs
    (the prefilter may miss cross-bucket pairs but must never invent one)."""
    from spark_hadoop_automation_in_cloud_spark.operators.dedup import embedding_neardup_pairs

    emb = read_table(spark, sf_dir, "embeddings")
    exact = embedding_neardup_pairs(emb, threshold=0.4)
    approx = embedding_neardup_pairs(emb, threshold=0.4, lsh_dim=64)
    assert approx.exceptAll(exact).count() == 0
    n_exact = exact.count()
    assert n_exact > 0
    # banded OR-amplification (r=4, b=8) must hold a useful recall at the
    # 0.4 operating point: expected 1-(1-p^4)^8 ≈ 0.75 at p≈0.63, allow
    # sample noise down to 0.5 (single-table r=6 measured 0.14 — the bands
    # are what make the bucketed form usable, so regression here matters)
    n_hit = approx.intersect(exact).count()
    assert n_hit / n_exact >= 0.5, f"banded LSH recall collapsed: {n_hit}/{n_exact}"


def test_fuzzy_blocked_equals_exact_allpairs(spark, sf_dir):
    """The blocked fuzzy matcher must find exactly the pairs the bounded
    all-pairs verifier finds on a block (length banding is lossless at
    dist ≤ 2; this corpus shares first chars, so no prefix loss either)."""
    from spark_hadoop_automation_in_cloud_spark.operators.dedup import fuzzy_pairs_blocked

    c = (
        read_table(spark, sf_dir, "customer")
        .where(F.col("c_custkey") < 300)
        .select("c_custkey", "c_name")
    )
    blocked = fuzzy_pairs_blocked(c, max_dist=2)
    a = c.select(F.col("c_custkey").alias("left_id"), F.col("c_name").alias("__na"))
    b = c.select(F.col("c_custkey").alias("right_id"), F.col("c_name").alias("__nb"))
    exact = (
        a.crossJoin(b)
        .where(F.col("left_id") < F.col("right_id"))
        .select(
            "left_id",
            "right_id",
            F.levenshtein("__na", "__nb").cast("int").alias("edit_dist"),
        )
        .where(F.col("edit_dist") <= 2)
    )
    assert blocked.exceptAll(exact).count() == 0
    assert exact.exceptAll(blocked).count() == 0
    assert exact.count() > 0


def test_fuzzy_blocked_semantics_on_synthetic(spark):
    """Pin the documented block semantics: cross-length pairs within the
    band are found; a first-character edit is the (only) documented miss."""
    from spark_hadoop_automation_in_cloud_spark.operators.dedup import fuzzy_pairs_blocked

    rows = [
        (1, "smith"),
        (2, "smiths"),   # 1 insertion, same first char -> found
        (3, "smith12"),  # dist 2 from smith, length +2 -> found
        (4, "Smith"),    # dist 1 but first char edited -> documented miss
    ]
    df = spark.createDataFrame(rows, "c_custkey int, c_name string")
    got = {
        (r.left_id, r.right_id, r.edit_dist)
        for r in fuzzy_pairs_blocked(df, max_dist=2).collect()
    }
    assert got == {(1, 2, 1), (1, 3, 2), (2, 3, 2)}


def test_rollup_three_forms_agree(spark, sf_dir):
    """Window, re-agg-join, and GROUPING SETS forms of the week/month
    rollup are interchangeable physical strategies for one semantics."""
    from spark_hadoop_automation_in_cloud_spark.operators.rollup import (
        weekly_with_month_grouping_sets,
        weekly_with_month_join,
        weekly_with_month_window,
    )

    e = read_table(spark, sf_dir, "events")
    cols = ["event_type", "week", "month", "week_cnt", "month_cnt"]
    w = weekly_with_month_window(e, ["event_type"], "ts").select(*cols)
    j = weekly_with_month_join(e, ["event_type"], "ts").select(*cols)
    g = weekly_with_month_grouping_sets(e, ["event_type"], "ts").select(*cols)
    for other in (j, g):
        assert w.exceptAll(other).count() == 0
        assert other.exceptAll(w).count() == 0


def test_local_time_real_timezones(spark):
    """from_utc_timestamp with a COLUMN timezone (reference semantics)."""
    import datetime as dt

    from spark_hadoop_automation_in_cloud_spark.functions.geo import local_time

    df = spark.createDataFrame(
        [
            (dt.datetime(2024, 1, 15, 12, 0, 0), "Australia/Sydney"),
            (dt.datetime(2024, 1, 15, 12, 0, 0), "America/New_York"),
            (dt.datetime(2024, 7, 15, 12, 0, 0), "Europe/Berlin"),
        ],
        ["ts", "tz"],
    )
    rows = df.select(local_time(F.col("ts"), F.col("tz")).alias("lt")).collect()
    assert rows[0]["lt"] == dt.datetime(2024, 1, 15, 23, 0, 0)  # UTC+11 (DST)
    assert rows[1]["lt"] == dt.datetime(2024, 1, 15, 7, 0, 0)   # UTC-5
    assert rows[2]["lt"] == dt.datetime(2024, 7, 15, 14, 0, 0)  # UTC+2 (DST)


def test_asof_join_semantics(spark):
    """<= tie inclusion, no-prior-row nulls, per-key isolation."""
    import datetime as dt

    from spark_hadoop_automation_in_cloud_spark.operators.asof import asof_join

    T = dt.datetime
    left = spark.createDataFrame(
        [
            (1, 100, T(2024, 1, 1, 10, 0)),   # after k=1's first right row
            (1, 101, T(2024, 1, 1, 9, 0)),    # exact tie with right ts
            (1, 102, T(2024, 1, 1, 8, 0)),    # before any right row
            (2, 200, T(2024, 1, 1, 12, 0)),   # key 2: no right rows at all
        ],
        ["k", "lid", "ts"],
    )
    right = spark.createDataFrame(
        [
            (1, T(2024, 1, 1, 9, 0), 5.0),
            (1, T(2024, 1, 1, 9, 30), 7.0),
        ],
        ["k", "ts", "v"],
    )
    got = {
        r["lid"]: (r["asof_v"], r["asof_ts"])
        for r in asof_join(left, right, ["k"], "ts", "ts", ["v"]).collect()
    }
    assert got[100] == (7.0, T(2024, 1, 1, 9, 30))   # latest at-or-before
    assert got[101] == (5.0, T(2024, 1, 1, 9, 0))    # tie counts (<=)
    assert got[102] == (None, None)                  # nothing prior
    assert got[200] == (None, None)                  # key isolation


def test_salted_two_level_aggregation(spark):
    """salt() enables skew-safe two-level aggregation: aggregate by
    (key, salt) then re-aggregate by key — totals must equal the direct
    single-level aggregation on a pathologically skewed key."""
    from spark_hadoop_automation_in_cloud_spark.operators.pairs import salt

    rows = [("hot", float(i)) for i in range(5000)] + [
        (f"cold{i}", 1.0) for i in range(50)
    ]
    df = spark.createDataFrame(rows, ["k", "v"])
    direct = {
        r["k"]: (r["n"], r["s"])
        for r in df.groupBy("k").agg(
            F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")
        ).collect()
    }
    salted = salt(df, "k", buckets=8)
    lvl1 = salted.groupBy("k", "__salt").agg(
        F.count(F.lit(1)).alias("n1"), F.sum("v").alias("s1")
    )
    lvl2 = {
        r["k"]: (r["n"], r["s"])
        for r in lvl1.groupBy("k").agg(
            F.sum("n1").alias("n"), F.sum("s1").alias("s")
        ).collect()
    }
    assert lvl2 == direct
    # the hot key must actually split across salts
    n_salts = lvl1.where(F.col("k") == "hot").count()
    assert n_salts > 1


def _salted_join_fixture(spark):
    """Skewed fact + mid dim with every awkward case: a hot fact key, fact
    keys missing from dim, dim keys missing from fact (incl. duplicates so
    preserved multiplicity is checked), and NULL keys on both sides."""
    fact_rows = (
        [(1, i * 1.0) for i in range(500)]        # hot key
        + [(2, 2.0), (3, 3.0)]                    # matched, cold
        + [(9, 9.0)]                              # no dim match
        + [(None, -1.0)]                          # null key
    )
    dim_rows = [
        (1, "a"), (2, "b"), (3, "c"),
        (7, "orphan1"), (7, "orphan2"),           # unmatched, duplicated key
        (8, "orphan3"),
        (None, "nullkey"),
    ]
    fact = spark.createDataFrame(fact_rows, "k int, v double")
    dim = spark.createDataFrame(dim_rows, "k int, label string")
    return fact, dim


@pytest.mark.parametrize("how", ["inner", "left", "right", "full"])
def test_salted_join_matches_plain_join(spark, how):
    """salted_join is a physical rewrite only: for EVERY join type — now
    including the dim-preserving right/full outer — the result must be
    row-identical (as a multiset) to the plain unsalted join."""
    from spark_hadoop_automation_in_cloud_spark.operators.skew import salted_join

    fact, dim = _salted_join_fixture(spark)
    salt = F.coalesce(F.col("k"), F.lit(0)) * 31 + F.round(F.col("v")).cast("int")
    got = salted_join(fact, dim, ["k"], fact_salt=salt, n_salts=5, how=how)
    want = fact.join(dim, ["k"], how)
    assert sorted(got.columns) == sorted(want.columns)
    key = lambda r: str(tuple((c, r[c]) for c in sorted(got.columns)))
    assert sorted(map(key, got.collect())) == sorted(map(key, want.collect()))


def test_salted_join_right_outer_preserves_unmatched_dim_once(spark):
    """The failure mode the pre-round-4 rejection guarded against: an
    unmatched dim row must appear exactly once (not once per salt
    replica), and a dim key matched by fact rows that all hash to one
    salt value must NOT leak null-extended ghost rows for the other
    replicas."""
    from spark_hadoop_automation_in_cloud_spark.operators.skew import salted_join

    fact, dim = _salted_join_fixture(spark)
    # constant salt: every fact row lands on salt 3 — the worst case for
    # replica-ghost rows (dim replicas 0,1,2,4 of matched keys match nothing)
    got = salted_join(fact, dim, ["k"], fact_salt=F.lit(3), n_salts=5, how="right")
    orphans = got.where(F.col("label").startswith("orphan")).collect()
    assert sorted(r["label"] for r in orphans) == ["orphan1", "orphan2", "orphan3"]
    assert all(r["v"] is None for r in orphans)
    # matched key 2 has exactly one fact row -> exactly one output row
    assert got.where(F.col("k") == 2).count() == 1
    # null dim key never matches but IS dim-preserved
    assert got.where(F.col("label") == "nullkey").count() == 1


def test_connected_components_chain_and_islands(spark):
    """Label propagation must converge across multi-hop chains (rounds >
    1) and keep disjoint components separate."""
    from spark_hadoop_automation_in_cloud_spark.operators.components import (
        connected_components,
        neardup_clusters,
    )

    # chain 1-2-3-4-5 (diameter 4), island {10, 11}, singleton 20
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (4, 5), (10, 11)], ["left_id", "right_id"]
    )
    comp = {
        r["node"]: r["component_id"]
        for r in connected_components(pairs, "left_id", "right_id").collect()
    }
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10}

    ids = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 5, 10, 11, 20]], ["vec_id"])
    full = {
        r["vec_id"]: r["cluster_id"]
        for r in neardup_clusters(pairs, ids, "vec_id").collect()
    }
    assert full[20] == 20  # singleton labels itself
    assert all(full[i] == 1 for i in (1, 2, 3, 4, 5))


def test_connected_components_long_chain_pointer_jumping(spark):
    """A chain far longer than the round budget must still converge —
    pointer jumping makes rounds O(log diameter), and boilerplate doc
    series routinely form chains deeper than any linear-round budget."""
    import pytest as pt

    from spark_hadoop_automation_in_cloud_spark.operators.components import (
        connected_components,
    )

    n = 200  # diameter 199 — one-hop-per-round propagation would need 199
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], ["left_id", "right_id"]
    )
    comp = {
        r["node"]: r["component_id"]
        for r in connected_components(pairs, "left_id", "right_id", max_rounds=12).collect()
    }
    assert comp == {i: 0 for i in range(n)}

    # and an exhausted budget must raise, never return wrong labels
    with pt.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, "left_id", "right_id", max_rounds=2)


def test_exclude_by_shared_key_equals_pair_form(spark):
    """Key-set-overlap exclusion ≡ materialized-pair anti-join."""
    from spark_hadoop_automation_in_cloud_spark.operators.pairs import (
        exclude_pairs,
        exclude_pairs_by_shared_key,
    )

    members = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "b"), (3, "c"), (4, "a"), (5, "z")],
        ["user_id", "k"],
    )
    cand = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (3, 5), (4, 5), (1, 6)],
        ["left_user_id", "right_user_id"],
    )
    pairs = (
        members.alias("a")
        .join(
            members.alias("b"),
            (F.col("a.k") == F.col("b.k")) & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .select(F.col("a.user_id").alias("user_a"), F.col("b.user_id").alias("user_b"))
    )
    via_pairs = {
        (r["left_user_id"], r["right_user_id"])
        for r in exclude_pairs(
            cand, pairs, "left_user_id", "right_user_id", "user_a", "user_b"
        ).collect()
    }
    via_keys = {
        (r["left_user_id"], r["right_user_id"])
        for r in exclude_pairs_by_shared_key(
            cand, members, "left_user_id", "right_user_id", "user_id", "k"
        ).collect()
    }
    # expected: (1,2) share b, (1,4) share a → excluded; 6 has no keys → kept
    assert via_keys == via_pairs == {(1, 3), (2, 3), (3, 5), (4, 5), (1, 6)}


def test_haversine_reference_quirk_flag(spark):
    """reference_quirk=True reproduces the reference's sin(sqrt(a)) formula
    (collector.py:130-131); default gives the correct asin form. They agree
    for small distances and diverge for large central angles."""
    from spark_hadoop_automation_in_cloud_spark.functions.geo import haversine_km

    df = spark.createDataFrame(
        [(0.0, 0.0, 0.01, 0.01), (0.0, 0.0, 60.0, 120.0)],
        ["la1", "lo1", "la2", "lo2"],
    )
    rows = df.select(
        haversine_km(F.col("la1"), F.col("lo1"), F.col("la2"), F.col("lo2")).alias("correct"),
        haversine_km(
            F.col("la1"), F.col("lo1"), F.col("la2"), F.col("lo2"), reference_quirk=True
        ).alias("quirk"),
    ).collect()
    small, large = rows[0], rows[1]
    assert abs(small["correct"] - small["quirk"]) < 0.001  # ~coincide near 0
    assert large["quirk"] < large["correct"]  # sin(x) < asin-based for large x


def _nearest_brute_force(facts, dim, key, payload):
    """The reference's shape: cross join, haversine, rank 1 by
    (distance, id) per fact row."""
    from pyspark.sql import Window

    from spark_hadoop_automation_in_cloud_spark.functions.geo import haversine_km

    w = Window.partitionBy(key).orderBy(F.col("distance_km"), F.col("city_id"))
    return (
        facts.crossJoin(dim)
        .withColumn(
            "distance_km",
            haversine_km(F.col("lat"), F.col("lon"), F.col("city_lat"), F.col("city_lon")),
        )
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") == 1)
        .select(*facts.columns, "distance_km", "city_id", *payload)
    )


def _assert_same_rows(got, want):
    assert got.schema == want.schema  # names, order, types and nullability
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_nearest_neighbor_equals_brute_force(spark, sf_dir):
    """The 1-NN kernel (one projection over the dim inlined as literals,
    ranked by the haversine term) equals the cross join + haversine +
    rank-1 form on every column, distances compared exactly: on the
    fixture, and on planted rows for the tiebreak, a zero distance, a NULL
    coordinate, non-integer coordinates, a bigint id, a name that must
    survive the literal round trip, and a one-row dim."""
    from spark_hadoop_automation_in_cloud_spark.operators.nearest import nearest_neighbor
    from spark_hadoop_automation_in_cloud_spark.queries import city_dim

    def kernel(facts, dim, payload):
        return nearest_neighbor(
            facts, dim, "lat", "lon", "city_id", "city_lat", "city_lon", dim_payload=payload
        )

    payload = ("city_name", "tz_offset_hours")
    ev = geo_events(spark, sf_dir).select("event_id", "user_id", "lat", "lon")
    dim = city_dim(spark, sf_dir)
    _assert_same_rows(kernel(ev, dim, payload), _nearest_brute_force(ev, dim, "event_id", payload))

    big = 3_000_000_000
    dim = spark.createDataFrame(
        [
            (9, 0.0, 10.0, "east"),
            (3, 0.0, -10.0, "west"),  # equidistant from event 1: lower id wins
            (big, -33.8688, 151.2093, "Sydney"),
            (5, 51.5, -0.12, "O'Brien \\ \"Zürich\" 東京 ☃"),
        ],
        "city_id bigint, city_lat double, city_lon double, city_name string",
    )
    facts = spark.createDataFrame(
        [
            (1, 0.0, 0.0),
            (2, -33.8688, 151.2093),  # on a city: distance 0.0
            (3, None, 12.5),
            (4, -34.0, 150.95),
            (5, 51.5, -0.12),
        ],
        "event_id bigint, lat double, lon double",
    )
    got = kernel(facts, dim, ("city_name",))
    _assert_same_rows(got, _nearest_brute_force(facts, dim, "event_id", ("city_name",)))
    by_id = {r["event_id"]: r for r in got.collect()}
    assert by_id[1]["city_id"] == 3
    assert (by_id[2]["city_id"], by_id[2]["distance_km"]) == (big, 0.0)
    assert by_id[3]["distance_km"] is None
    assert by_id[4]["city_id"] == big
    assert by_id[5]["city_name"] == "O'Brien \\ \"Zürich\" 東京 ☃"

    one = dim.where(F.col("city_id") == 9)
    _assert_same_rows(
        kernel(facts, one, ("city_name",)),
        _nearest_brute_force(facts, one, "event_id", ("city_name",)),
    )
    with pytest.raises(ValueError, match="no rows"):
        kernel(facts, dim.limit(0), ("city_name",))


def test_approx_count_distinct_error_bound(spark, sf_dir):
    """HLL sketch (the 100 TB path for distinct counts) stays within its
    configured relative error of the exact counts."""
    e = read_table(spark, sf_dir, "events")
    both = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact"),
        F.approx_count_distinct("user_id", rsd=0.05).alias("approx"),
    )
    for r in both.collect():
        assert abs(r["approx"] - r["exact"]) <= max(3, 0.15 * r["exact"]), r


def test_pagerank_matches_dense_power_iteration(spark, monkeypatch):
    import numpy as np

    from spark_hadoop_automation_in_cloud_spark.operators import components
    from spark_hadoop_automation_in_cloud_spark.operators.components import pagerank

    # 5-node graph with a hub (0), a cycle (1->2->3->1) and a dangler (4)
    edges = [(0, 1), (0, 2), (1, 2), (2, 3), (3, 1), (1, 4)]
    df = spark.createDataFrame(edges, "src int, dst int")
    got = {r["node"]: r["rank"] for r in pagerank(df, n_iter=10).collect()}

    # independent dense computation, identical update rule
    n, d = 5, 0.85
    out: dict[int, int] = {}
    for s, _ in edges:
        out[s] = out.get(s, 0) + 1
    r = np.full(n, 1.0 / n)
    for _ in range(10):
        nxt = np.full(n, (1 - d) / n)
        dangling = sum(r[v] for v in range(n) if v not in out)
        nxt += d * dangling / n
        for s, t in edges:
            nxt[t] += d * r[s] / out[s]
        r = nxt
    for v in range(n):
        assert abs(got[v] - r[v]) < 1e-6, (v, got[v], r[v])
    assert abs(sum(got.values()) - 1.0) < 1e-4

    # both join strategies must produce BIT-equal ranks: the broadcast
    # fast path (default here — 5 nodes) and the sort-merge path
    # (forced via _BROADCAST_NODES_MAX=0) run the same scalar arithmetic
    monkeypatch.setattr(components, "_BROADCAST_NODES_MAX", 0)
    big = {r["node"]: r["rank"] for r in pagerank(df, n_iter=10).collect()}
    assert big == got


def test_personalized_pagerank_dangling_matches_dense_power_iteration(spark, monkeypatch):
    """PPR's dangling-mass branch against an independent dense
    computation: on the 5-node graph above (node 4 dangles), the mass
    of the dangler teleports back to the seed {0} each round."""
    import numpy as np

    from spark_hadoop_automation_in_cloud_spark.operators import components

    edges = [(0, 1), (0, 2), (1, 2), (2, 3), (3, 1), (1, 4)]
    df = spark.createDataFrame(edges, "src int, dst int")
    seeds = spark.createDataFrame([(0,)], "node int")

    def run():
        out = components.personalized_pagerank(df, seeds, n_iter=10, per_iter_round_dp=None)
        return {r["node"]: r["rank"] for r in out.collect()}

    got = run()
    n, d = 5, 0.85
    out: dict[int, int] = {}
    for s, _ in edges:
        out[s] = out.get(s, 0) + 1
    share = np.zeros(n)
    share[0] = 1.0
    r = share.copy()
    for _ in range(10):
        dangling = sum(r[v] for v in range(n) if v not in out)
        nxt = (1 - d) * share + d * dangling * share
        for s, t in edges:
            nxt[t] += d * r[s] / out[s]
        r = nxt
    for v in range(n):
        assert abs(got[v] - r[v]) < 1e-6, (v, got[v], r[v])
    # the sort-merge arm gives bit-equal rows
    monkeypatch.setattr(components, "_BROADCAST_NODES_MAX", 0)
    assert run() == got


def test_pagerank_ignores_null_endpoint_edges(spark):
    """An edge with a NULL endpoint adds no node and no rank mass: both
    entry points see the graph without it."""
    from spark_hadoop_automation_in_cloud_spark.operators.components import (
        pagerank,
        personalized_pagerank,
    )

    clean = [(0, 1), (1, 2), (2, 0), (2, 1)]
    with_nulls = spark.createDataFrame(clean + [(1, None), (None, 2)], "src int, dst int")
    clean = spark.createDataFrame(clean, "src int, dst int")
    seeds = spark.createDataFrame([(0,)], "node int")

    def ranks(frame):
        return {r["node"]: r["rank"] for r in frame.collect()}

    assert ranks(pagerank(with_nulls)) == ranks(pagerank(clean))
    assert ranks(personalized_pagerank(with_nulls, seeds)) == ranks(
        personalized_pagerank(clean, seeds)
    )


def test_approx_count_distinct_within_documented_rsd(spark, sf_dir):
    """HLL++ default rsd is 5%; pin the measured error under 3x that so a
    Spark upgrade silently degrading the sketch fails here (the full
    measured sweep at sf0.1 lives in APPROX_ERROR.json)."""
    ev = read_table(spark, sf_dir, "events")
    row = ev.agg(
        F.count_distinct("event_id").alias("exact"),
        F.approx_count_distinct("event_id").alias("approx"),
    ).first()
    assert abs(row["approx"] - row["exact"]) / row["exact"] < 0.15


def test_fuzzy_passjoin_lossless_vs_exact_allpairs(spark, sf_dir):
    """PassJoin segment blocking must find EXACTLY the all-pairs result —
    including pairs whose first character was edited (the documented miss
    of fuzzy_pairs_blocked)."""
    from spark_hadoop_automation_in_cloud_spark.operators.dedup import (
        fuzzy_pairs_passjoin,
    )

    c = (
        read_table(spark, sf_dir, "customer")
        .where(F.col("c_custkey") < 300)
        .select("c_custkey", "c_name")
    )
    got = fuzzy_pairs_passjoin(c, max_dist=2)
    a = c.select(F.col("c_custkey").alias("left_id"), F.col("c_name").alias("__na"))
    b = c.select(F.col("c_custkey").alias("right_id"), F.col("c_name").alias("__nb"))
    exact = (
        a.crossJoin(b)
        .where(F.col("left_id") < F.col("right_id"))
        .select(
            "left_id",
            "right_id",
            F.levenshtein("__na", "__nb").cast("int").alias("edit_dist"),
        )
        .where(F.col("edit_dist") <= 2)
    )
    assert got.exceptAll(exact).count() == 0
    assert exact.exceptAll(got).count() == 0
    assert exact.count() > 0

    # synthetic: the first-char edit is found (blocked form misses it)
    rows = [(1, "smith"), (2, "Smith"), (3, "smith12")]
    df = spark.createDataFrame(rows, "c_custkey int, c_name string")
    pj = {
        (r.left_id, r.right_id, r.edit_dist)
        for r in fuzzy_pairs_passjoin(df, max_dist=2).collect()
    }
    assert (1, 2, 1) in pj


def test_global_rank_primitives_equal_single_partition_windows(spark):
    """operators.ranks must be output-identical to the unpartitioned window
    forms (the semantics they replace at scale), including tie groups and a
    total not divisible by the bucket count."""
    from pyspark.sql import Window

    from spark_hadoop_automation_in_cloud_spark.operators.ranks import (
        global_cumsum,
        global_row_number,
        ntile_from_rank,
    )

    n = 1003  # deliberately not divisible by 4
    df = spark.range(n).select(
        F.col("id"),
        (F.col("id") % 97).alias("v"),  # heavy tie groups spanning ranges
        (F.col("id") * 3 % 1000).cast("decimal(38,0)").alias("amt"),
    )
    order = [F.col("v").desc(), F.col("id").asc()]

    got_rn = global_row_number(df, order, out_col="rn", num_partitions=7)
    want_rn = df.withColumn(
        "rn", F.row_number().over(Window.orderBy(*order)).cast("bigint")
    )
    assert got_rn.exceptAll(want_rn).count() == 0
    assert want_rn.exceptAll(got_rn).count() == 0

    got_nt = got_rn.select(
        "id", ntile_from_rank(F.col("rn"), n, 4).alias("q")
    )
    want_nt = df.select(
        "id", F.ntile(4).over(Window.orderBy(*order)).cast("int").alias("q")
    )
    assert got_nt.exceptAll(want_nt).count() == 0
    assert want_nt.exceptAll(got_nt).count() == 0

    got_cs = global_cumsum(df, order, "amt", out_col="cum", num_partitions=7)
    want_cs = df.withColumn(
        "cum",
        F.sum("amt").over(
            Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    # align types for the set compare (offsets are bigint literals)
    got_cs = got_cs.withColumn("cum", F.col("cum").cast("decimal(38,0)"))
    want_cs = want_cs.withColumn("cum", F.col("cum").cast("decimal(38,0)"))
    assert got_cs.exceptAll(want_cs).count() == 0
    assert want_cs.exceptAll(got_cs).count() == 0


def test_global_ntile_matches_builtin_and_handles_empty(spark):
    """The fused one-materialization-per-ordering form must equal the
    built-in unpartitioned ntile, and chained calls (one per ordering, as
    q88 uses it) must not disturb earlier bucket columns."""
    from pyspark.sql import Window

    from spark_hadoop_automation_in_cloud_spark.operators.ranks import global_ntile

    n = 1003
    df = spark.range(n).select(
        F.col("id"), (F.col("id") % 97).alias("v"), (F.col("id") % 13).alias("w")
    )
    got = global_ntile(
        df, [F.col("v").desc(), F.col("id").asc()], 4, out_col="q1", num_partitions=7
    )
    got = global_ntile(
        got, [F.col("w").asc(), F.col("id").desc()], 5, out_col="q2", num_partitions=3
    )
    want = df.select(
        "id",
        F.ntile(4)
        .over(Window.orderBy(F.col("v").desc(), F.col("id").asc()))
        .cast("int")
        .alias("q1"),
        F.ntile(5)
        .over(Window.orderBy(F.col("w").asc(), F.col("id").desc()))
        .cast("int")
        .alias("q2"),
    )
    got = got.select("id", "q1", "q2")
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0

    empty = df.where(F.lit(False))
    assert global_ntile(empty, [F.col("id").asc()], 4, num_partitions=3).count() == 0


@pytest.mark.parametrize("total,k", [(3, 4), (10, 4), (100, 7), (8, 8), (1, 3)])
def test_ntile_from_rank_matches_builtin(spark, total, k):
    """Closed-form bucket expression == F.ntile for totals above, equal to,
    and below the bucket count (remainder-to-the-front sizing)."""
    from pyspark.sql import Window

    from spark_hadoop_automation_in_cloud_spark.operators.ranks import ntile_from_rank

    df = spark.range(1, total + 1).select(F.col("id").cast("bigint").alias("rn"))
    got = df.select("rn", ntile_from_rank(F.col("rn"), total, k).alias("b"))
    want = df.select(
        "rn", F.ntile(k).over(Window.orderBy("rn")).cast("int").alias("b")
    )
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_global_cumsum_fractional_decimals_and_empty_inputs(spark):
    """Prefix offsets must keep fractional decimal parts (the offsets are
    accumulated in exact Decimal and cast back to the aggregate's type),
    and both primitives must return an empty frame - not crash - on empty
    input."""
    from decimal import Decimal

    from pyspark.sql import Window

    from spark_hadoop_automation_in_cloud_spark.operators.ranks import (
        global_cumsum,
        global_row_number,
    )

    df = spark.range(100).select(
        F.col("id"), (F.col("id") / 4).cast("decimal(38,2)").alias("amt")
    )
    order = [F.col("id").asc()]
    got = global_cumsum(df, order, "amt", out_col="cum", num_partitions=5)
    want = df.withColumn(
        "cum",
        F.sum("amt").over(
            Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    g = {r["id"]: r["cum"] for r in got.collect()}
    w = {r["id"]: r["cum"] for r in want.collect()}
    assert g == w
    assert g[99] == Decimal("1237.50")  # fractional part survives

    empty = spark.range(0).select(
        F.col("id"), F.col("id").cast("decimal(38,2)").alias("amt")
    )
    assert global_row_number(empty, order, num_partitions=3).count() == 0
    assert global_cumsum(empty, order, "amt", num_partitions=3).count() == 0


def test_hll_sketch_rollup_is_lossless_reaggregation(spark, sf_dir):
    """Union-of-daily-sketches must equal sketch-of-the-whole exactly (the
    sketch is a deterministic function of the value set), so persisted
    per-day sketches re-aggregate to any coarser grain without rescanning
    facts; and the estimate must sit within the lgk=12 error bound of the
    exact distinct count."""
    from spark_hadoop_automation_in_cloud_spark.operators.sketches import (
        distinct_sketches,
        merge_sketches,
    )

    ev = read_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "user_id"
    )
    daily = distinct_sketches(ev, ["day"], "user_id")
    total_via_merge = merge_sketches(
        daily.select(F.lit(1).alias("g"), "hll"), ["g"]
    ).first()["n_distinct"]
    total_direct = merge_sketches(
        distinct_sketches(ev.select(F.lit(1).alias("g"), "user_id"), ["g"], "user_id"),
        ["g"],
    ).first()["n_distinct"]
    assert total_via_merge == total_direct, "re-aggregation changed the estimate"

    exact = ev.select("user_id").distinct().count()
    # 1.04/sqrt(2^12) ≈ 1.6% rse; allow 5 sigma
    assert abs(total_via_merge - exact) <= max(3, int(exact * 0.082)), (
        total_via_merge,
        exact,
    )


def test_quantile_sketch_merge_exact_and_error_bound(spark):
    """The quantile trio properties: (1) merging per-part sketches equals
    sketching the whole EXACTLY (integer bucket counts); (2) estimates are
    within the (1+eps) relative bound of the true quantile; (3) zero and
    negative values round-trip through the sign-aware buckets."""
    from spark_hadoop_automation_in_cloud_spark.operators.sketches import (
        merge_quantile_sketches,
        quantile_estimates,
        quantile_sketches,
    )

    eps = 0.01
    # deterministic skewed positives + explicit zero/negatives
    vals = [((i * 37) % 1000) / 7.0 + 0.5 for i in range(3000)]
    vals += [0.0, -12.5, -1000.0]
    df = spark.createDataFrame(
        [(i % 3, v) for i, v in enumerate(vals)], ["part", "v"]
    )

    whole = quantile_sketches(df.select(F.lit(1).alias("g"), "v"), ["g"], "v", eps)
    parts = quantile_sketches(df.select(F.lit(1).alias("g"), "part", "v"), ["g", "part"], "v", eps)
    merged = merge_quantile_sketches(parts, ["g"])
    assert merged.collect() == whole.collect()  # bit-exact state equality

    qs = [0.0, 0.25, 0.5, 0.9, 1.0]
    got = {
        round(r["q"], 2): r["est"]
        for r in quantile_estimates(merged, ["g"], qs, eps).collect()
    }
    svals = sorted(vals)
    for q in qs:
        true = svals[min(len(svals) - 1, max(0, -1 + max(1, int(-(-q * len(svals) // 1)))))]
        est = got[round(q, 2)]
        if true == 0.0:
            assert est == 0.0
        else:
            assert abs(est - true) <= abs(true) * (eps + 1e-9) + 1e-9, (q, true, est)
    # negative tail: q=0 must land at the most-negative bucket
    assert got[0.0] < -900


def test_quantile_sketch_subunit_values_and_nulls(spark):
    """The cases that break a naive sign/log encoding: positive values in
    (0,1) must NOT collide with zero or with negatives (sign-flipped
    estimates), bucket codes must sort in value order across the whole
    real line, and NULLs must carry no rank."""
    from spark_hadoop_automation_in_cloud_spark.operators.sketches import (
        quantile_estimates,
        quantile_sketches,
    )

    eps = 0.01
    # probabilities/rates: all in (0, 1)
    probs = [(1, (i + 1) / 100.0) for i in range(99)]
    df = spark.createDataFrame(probs, ["g", "v"])
    sk = quantile_sketches(df, ["g"], "v", eps)
    got = {
        round(r["q"], 2): r["est"]
        for r in quantile_estimates(sk, ["g"], [0.1, 0.5, 0.9], eps).collect()
    }
    import math

    for q in (0.1, 0.5, 0.9):
        # operator rank rule: smallest bucket reaching ceil(q * total)
        true = sorted(v for _, v in probs)[max(1, math.ceil(q * 99)) - 1]
        assert got[q] > 0, f"sign flip at q={q}: {got[q]}"
        assert abs(got[q] - true) <= true * (eps + 1e-9), (q, true, got[q])

    # mixed signs including magnitudes < 1: order must hold
    mixed = [(1, v) for v in (-2.0, -0.5, 0.0, 0.25, 0.75, 3.0)]
    dfm = spark.createDataFrame(mixed, ["g", "v"])
    skm = quantile_sketches(dfm, ["g"], "v", eps)
    ests = [
        r["est"]
        for r in quantile_estimates(
            skm, ["g"], [1 / 6, 2 / 6, 3 / 6, 4 / 6, 5 / 6, 1.0], eps
        ).orderBy("q").collect()
    ]
    assert ests == sorted(ests)
    assert ests[0] < -1.9 and abs(ests[1] + 0.5) < 0.51 * eps + 1e-9
    assert ests[2] == 0.0 and 0 < ests[3] < 0.26 and ests[5] > 2.9

    # NULLs: ignored entirely (no rank shift, no null bucket)
    withnull = spark.createDataFrame(
        [(1, 1.0), (1, None), (1, None), (1, 3.0)], "g int, v double"
    )
    skn = quantile_sketches(withnull, ["g"], "v", eps)
    est_med = quantile_estimates(skn, ["g"], [0.5], eps).first()["est"]
    assert abs(est_med - 1.0) <= 1.0 * (eps + 1e-9)  # median of {1,3}, not {null,null,1,3}


def test_quantile_sketch_nonfinite_fine_eps_and_guards(spark):
    """NaN/±inf must carry no rank (they cannot be log-encoded); the
    sign-disjoint encoding must hold at much finer eps than the default
    (a fixed offset breaks there); uncastable strings count as null; and
    the API fails fast on empty qs / reserved group names / bad eps."""
    import pytest as _pytest

    from spark_hadoop_automation_in_cloud_spark.operators.sketches import (
        quantile_estimates,
        quantile_sketches,
    )

    rows = [(1, v) for v in (1.0, 2.0, float("nan"), float("inf"), float("-inf"))]
    df = spark.createDataFrame(rows, "g int, v double")
    sk = quantile_sketches(df, ["g"], "v")
    got = {r["q"]: r["est"] for r in quantile_estimates(sk, ["g"], [0.0, 1.0]).collect()}
    assert abs(got[0.0] - 1.0) <= 1.0 * 0.011  # not -inf, not NaN-as-most-negative
    assert abs(got[1.0] - 2.0) <= 2.0 * 0.011  # inf did not wrap into (0,1) codes

    # fine resolution: sub-unit positives must stay positive at eps=1e-3
    eps = 1e-3
    dfp = spark.createDataFrame([(1, 1e-50), (1, 0.5), (1, 2.0)], "g int, v double")
    skp = quantile_sketches(dfp, ["g"], "v", eps)
    ests = [
        r["est"]
        for r in quantile_estimates(skp, ["g"], [1 / 3, 2 / 3, 1.0], eps)
        .orderBy("q")
        .collect()
    ]
    assert all(e > 0 for e in ests) and ests == sorted(ests)
    assert abs(ests[0] - 1e-50) <= 1e-50 * (eps + 1e-9)  # tiny magnitudes survive
    assert abs(ests[1] - 0.5) <= 0.5 * (eps + 1e-9)

    # uncastable strings behave like NULL
    dfs = spark.createDataFrame([(1, "1.0"), (1, "abc"), (1, "3.0")], "g int, v string")
    est = quantile_estimates(quantile_sketches(dfs, ["g"], "v"), ["g"], [1.0]).first()
    assert est["est"] is not None and abs(est["est"] - 3.0) <= 3.0 * 0.011

    with _pytest.raises(ValueError):
        quantile_estimates(sk, ["g"], [])
    with _pytest.raises(ValueError):
        quantile_estimates(sk.withColumnRenamed("g", "q"), ["q"], [0.5])
    with _pytest.raises(ValueError):
        quantile_sketches(df, ["g"], "v", eps=0.0)


def test_countmin_sketch_merge_exact_and_overestimate_only(spark):
    """CM properties: merged per-part sketches equal the whole-corpus
    sketch exactly; estimates never underestimate; exact for items whose
    cells collide with nothing heavy."""
    from spark_hadoop_automation_in_cloud_spark.operators.sketches import (
        countmin_estimate,
        countmin_sketches,
        merge_countmin_sketches,
    )

    rows = [(i % 4, f"u{i % 50}") for i in range(2000)]  # 50 users x 40 each
    df = spark.createDataFrame(rows, ["part", "uid"]).select(
        F.lit(1).alias("g"), "part", "uid"
    )
    whole = countmin_sketches(df, ["g"], "uid")
    parts = countmin_sketches(df, ["g", "part"], "uid")
    merged = merge_countmin_sketches(parts, ["g"])
    key = lambda r: (r["g"], r["row_i"], r["bucket"], r["n"])
    assert sorted(map(key, merged.collect())) == sorted(map(key, whole.collect()))

    items = df.select("g", "uid").distinct()
    est = countmin_estimate(merged, ["g"], items, "uid")
    true = {r["uid"]: r["n"] for r in df.groupBy("uid").agg(F.count(F.lit(1)).alias("n")).collect()}
    for r in est.collect():
        assert r["est_n"] >= true[r["uid"]]  # one-sided error, always
        assert r["est_n"] <= true[r["uid"]] + 2000 // 256 + 40  # loose e*N/w-ish cap

    # items never seen by the sketch must yield a row, not vanish
    probes = spark.createDataFrame(
        [(1, f"ghost{i}") for i in range(20)], ["g", "uid"]
    )
    ghost = countmin_estimate(merged, ["g"], probes, "uid")
    assert ghost.count() == 20
    assert ghost.agg(F.min("est_n")).first()[0] >= 0

    # canonical-CM zero: with a SPARSE sketch (2 items over 4x256 cells),
    # a ghost whose cells are all untouched must estimate exactly 0 — this
    # is the assertion that fails if the left join + zero-fill regresses
    # to an inner join or a min over only-present cells
    tiny = spark.createDataFrame([(1, "a"), (1, "b")], ["g", "uid"])
    tsk = countmin_sketches(tiny, ["g"], "uid")
    tprobe = spark.createDataFrame([(1, f"zz{i}") for i in range(200)], ["g", "uid"])
    test = countmin_estimate(tsk, ["g"], tprobe, "uid")
    assert test.count() == 200
    assert test.where(F.col("est_n") == 0).count() > 150  # vast majority miss all cells


def test_quantile_sketch_eps_format_tag_guard(spark):
    """Sketches carry their eps as a stored format tag; merging or
    estimating with a different eps must raise loudly instead of silently
    combining incompatible bucket codes."""
    from spark_hadoop_automation_in_cloud_spark.operators.sketches import (
        merge_quantile_sketches,
        quantile_estimates,
        quantile_sketches,
    )

    df = spark.createDataFrame([(1, 10.0), (1, 20.0)], "g int, v double")
    sk = quantile_sketches(df, ["g"], "v", eps=0.01)
    with pytest.raises(Exception, match="format mismatch"):
        merge_quantile_sketches(sk, ["g"], eps=0.02).collect()
    with pytest.raises(Exception, match="format mismatch"):
        quantile_estimates(sk, ["g"], [0.5], eps=0.02).collect()
    # matching eps: round-trips fine
    ok = quantile_estimates(
        merge_quantile_sketches(sk, ["g"], eps=0.01), ["g"], [1.0], eps=0.01
    ).first()
    assert abs(ok["est"] - 20.0) <= 20.0 * 0.011


def test_countmin_format_tag_guard(spark):
    """CM sketches carry their (depth, width, seed) geometry as a stored
    format tag; merging or estimating under a different geometry must
    raise loudly — cells hashed under one geometry are meaningless under
    another and would otherwise produce silently wrong counts."""
    from spark_hadoop_automation_in_cloud_spark.operators.sketches import (
        countmin_estimate,
        countmin_sketches,
        merge_countmin_sketches,
    )

    df = spark.createDataFrame([(1, "a"), (1, "b"), (1, "a")], ["g", "uid"])
    sk = countmin_sketches(df, ["g"], "uid")  # default 4 x 256
    assert "cm_tag" in sk.columns
    with pytest.raises(Exception, match="format mismatch"):
        merge_countmin_sketches(sk, ["g"], width=128).collect()
    items = df.select("g", "uid").distinct()
    with pytest.raises(Exception, match="format mismatch"):
        countmin_estimate(sk, ["g"], items, "uid", depth=3).collect()
    # matching geometry: merge is tagged too and estimates flow through
    merged = merge_countmin_sketches(sk, ["g"])
    est = {r["uid"]: r["est_n"] for r in countmin_estimate(merged, ["g"], items, "uid").collect()}
    assert est["a"] >= 2 and est["b"] >= 1


def test_sketch_parquet_roundtrip_merge_estimate(spark, tmp_path):
    """The PERSIST half of persist-then-merge: write quantile and
    count-min sketch tables to parquet, read them back through a fresh
    session state, merge, estimate — estimates must be identical to the
    never-persisted pipeline, proving the struct/array sketch schemas and
    the format tags survive a disk round-trip."""
    from spark_hadoop_automation_in_cloud_spark.operators.sketches import (
        countmin_estimate,
        countmin_sketches,
        merge_countmin_sketches,
        merge_quantile_sketches,
        quantile_estimates,
        quantile_sketches,
    )

    rows = [(i % 3, i % 5, float(1 + (i * 37) % 1000), f"u{i % 40}") for i in range(3000)]
    df = spark.createDataFrame(rows, "g int, part int, v double, uid string")
    qs = [0.25, 0.5, 0.9]

    # in-memory reference estimates
    mem_q = {
        (r["g"], r["q"]): r["est"]
        for r in quantile_estimates(
            merge_quantile_sketches(quantile_sketches(df, ["g", "part"], "v"), ["g"]),
            ["g"], qs,
        ).collect()
    }
    items = df.select("g", "uid").distinct()
    mem_cm = {
        (r["g"], r["uid"]): r["est_n"]
        for r in countmin_estimate(
            merge_countmin_sketches(countmin_sketches(df, ["g", "part"], "uid"), ["g"]),
            ["g"], items, "uid",
        ).collect()
    }

    # persist the PARTIAL (fine-grain) sketches — the state a datamart
    # stores — then reload via a fresh session state and finish the job
    qpath, cmpath = str(tmp_path / "qsk"), str(tmp_path / "cmsk")
    quantile_sketches(df, ["g", "part"], "v").write.parquet(qpath)
    countmin_sketches(df, ["g", "part"], "uid").write.parquet(cmpath)

    s2 = spark.newSession()
    got_q = {
        (r["g"], r["q"]): r["est"]
        for r in quantile_estimates(
            merge_quantile_sketches(s2.read.parquet(qpath), ["g"]), ["g"], qs
        ).collect()
    }
    items2 = s2.createDataFrame(items.collect(), items.schema)
    got_cm = {
        (r["g"], r["uid"]): r["est_n"]
        for r in countmin_estimate(
            merge_countmin_sketches(s2.read.parquet(cmpath), ["g"]),
            ["g"], items2, "uid",
        ).collect()
    }
    assert got_q == mem_q
    assert got_cm == mem_cm


def test_iterative_operators_release_checkpoint_storage(spark, monkeypatch):
    """The graph operators must not leak localCheckpoint blocks:
    repeated calls previously pinned every intermediate frame (the edge
    checkpoint is O(|edges|)), degrading the JVM until evictions thrashed.
    Each call may keep exactly ONE new persisted RDD — the returned
    frame — and results must stay usable after cleanup."""
    from spark_hadoop_automation_in_cloud_spark.operators.components import (
        clustering_coefficient,
        connected_components,
        k_core,
        label_propagation,
        modularity,
        pagerank,
        personalized_pagerank,
        triangle_count,
    )
    from spark_hadoop_automation_in_cloud_spark.session import _persistent_rdd_ids

    edges = spark.createDataFrame(
        [(i, (i * 7) % 50) for i in range(200) if i != (i * 7) % 50],
        "src int, dst int",
    ).localCheckpoint()
    base = len(_persistent_rdd_ids(spark))
    results = []
    for _ in range(3):
        results.append(pagerank(edges, n_iter=4))
    after_pr = len(_persistent_rdd_ids(spark))
    assert after_pr <= base + 3, (base, after_pr)
    # results remain valid AFTER later calls unpersisted their own frames
    for r in results:
        assert r.count() > 0

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 60, 2)], "a int, b int"
    )
    n_before = len(_persistent_rdd_ids(spark))
    comp = connected_components(pairs, "a", "b")
    assert comp.count() > 0
    assert len(_persistent_rdd_ids(spark)) <= n_before + 1

    # the other owned-scope operators: three calls keep at most their
    # three returned frames (set difference, as below), and earlier
    # results stay readable after later calls released their pins
    sym = spark.createDataFrame(
        [(a, b) for a in range(8) for b in range(8) if a != b and (a + b) % 3],
        "u bigint, v bigint",
    )
    seeds = spark.createDataFrame([(0,), (1,)], "node bigint")
    labels = label_propagation(sym, "u", "v", n_rounds=3).select("node", "community")
    for name, call in (
        ("personalized_pagerank", lambda: personalized_pagerank(sym, seeds, "u", "v", n_iter=4)),
        ("k_core", lambda: k_core(sym, "u", "v", k=2)),
        ("label_propagation", lambda: label_propagation(sym, "u", "v", n_rounds=3)),
        ("modularity", lambda: modularity(sym, labels, "u", "v")),
    ):
        base = _persistent_rdd_ids(spark)
        results = [call() for _ in range(3)]
        assert len(_persistent_rdd_ids(spark) - base) <= 3, name
        first = sorted(results[0].collect())
        assert first, name
        assert all(sorted(r.collect()) == first for r in results), name

    # the eager triangle operators pin their edge list once per call and
    # release it before returning; their top-k comes back as local rows,
    # so a call leaves no pin at all (set difference: the suite's shared
    # session may release an earlier test's RDD in between)
    graph = spark.createDataFrame(
        [(a, b) for a in range(12) for b in range(a + 1, 12) if (a * b) % 3 != 1],
        "u bigint, v bigint",
    )
    for op in (triangle_count, clustering_coefficient):
        base = _persistent_rdd_ids(spark)
        results = [op(graph, "u", "v", topk=5) for _ in range(3)]
        assert _persistent_rdd_ids(spark) - base == set(), op.__name__
        plan = results[0]._jdf.queryExecution().analyzed().toString()
        assert plan.startswith("LocalRelation"), plan
        first = results[0].collect()
        assert len(first) == 5, op.__name__
        assert all(r.collect() == first for r in results), op.__name__

    # the persisting operators hold their caches (and bpe its periodic
    # cut, forced every 2 rounds here) in an owned scope: a call leaves
    # no persisted RDD behind
    from spark_hadoop_automation_in_cloud_spark.operators import bpe
    from spark_hadoop_automation_in_cloud_spark.operators.clustering import kmeans_assign
    from spark_hadoop_automation_in_cloud_spark.operators.logistic import (
        logistic_train_report,
    )
    from spark_hadoop_automation_in_cloud_spark.operators.similarity import (
        mmr_rerank,
        train_pq_codebooks,
    )

    monkeypatch.setattr(bpe, "_CHECKPOINT_EVERY", 2)
    emb = spark.createDataFrame(
        [(i, [float((i * j) % 7 - 3) for j in range(8)]) for i in range(40)],
        "vec_id bigint, embedding array<float>",
    )
    feats = spark.createDataFrame(
        [(float(i % 2), (i % 2) - 0.5 + 0.01 * i) for i in range(20)], "y double, x double"
    )
    docs = spark.createDataFrame([("abab abab aaa cdcd cdcd dd",)], "text string")
    for name, call in (
        ("kmeans_assign", lambda: kmeans_assign(emb, k=3, max_iter=2).collect()),
        ("train_pq_codebooks", lambda: train_pq_codebooks(emb, dim=8, n_sub=2, k=4, iters=2)),
        ("mmr_rerank", lambda: mmr_rerank(emb, emb.where("vec_id < 2"), 6, 3).collect()),
        ("logistic_train_report", lambda: logistic_train_report(feats, ["x"], n_iter=3).collect()),
        (
            "bpe_merges_sampled",
            lambda: bpe.bpe_merges_sampled(docs, "text", 5, sample_mod=1).collect(),
        ),
    ):
        base = _persistent_rdd_ids(spark)
        assert call(), name
        assert _persistent_rdd_ids(spark) - base == set(), name


def test_bloom_prune_no_false_negatives_and_fpp(spark, sf_dir):
    """Bloom semi-join pruning: every fact row with a real dim match MUST
    survive the prune (no false negatives — the correctness contract that
    makes prune+join ≡ plain join), false positives stay near the
    (1-e^(-kn/m))^k design rate, and NULL keys behave like an equi-join
    (never probe true)."""
    from spark_hadoop_automation_in_cloud_spark.operators.bloom import (
        bloom_prune,
        build_bloom,
        might_contain,
    )

    li = read_table(spark, sf_dir, "lineitem")
    o = (
        read_table(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    pruned = bloom_prune(li, "l_orderkey", o, "o_orderkey")
    od = o.withColumnRenamed("o_orderkey", "l_orderkey")
    want = li.join(od, "l_orderkey")
    got = pruned.join(od, "l_orderkey")
    assert want.exceptAll(got).count() == 0  # nothing a join needs was pruned
    assert got.exceptAll(want).count() == 0
    # the prune actually prunes: survivors ≪ fact, ≥ true matches
    n_fact, n_match, n_kept = li.count(), want.count(), pruned.count()
    assert n_match <= n_kept < n_fact
    # false-positive rate among non-matching keys stays small at this
    # load factor (sf0.001: ~250 keys in 2^20 bits → fpp ~1e-10; allow 5%)
    assert (n_kept - n_match) <= 0.05 * n_fact

    # NULL keys: never inserted, never probed true
    words = build_bloom(o, "o_orderkey")
    row = spark.createDataFrame([(None,)], "k long").select(
        might_contain(F.col("k"), words).alias("hit")
    ).first()
    assert row["hit"] is None

    # geometry mismatch raises instead of silently mismatching bits
    with pytest.raises(ValueError, match="geometry mismatch"):
        might_contain(F.col("k"), words, num_bits=1 << 10)


def test_semantic_cluster_dedup_subset_and_recall(spark, sf_dir):
    """Cluster-bucketed (SemDeDup-style) near-dup pairs must be a strict
    SUBSET of the exact all-pairs result with identical similarities
    (bucketing can only drop cross-cluster pairs, never invent or
    mis-score one), and recall must stay above a sanity floor.  The
    measured recall at this deliberately loose threshold (0.4 — many
    qualifying pairs span cluster boundaries) is ~0.23-0.46; real
    semantic-dedup operating points (cos >= 0.85) cluster much tighter."""
    from spark_hadoop_automation_in_cloud_spark.operators.dedup import (
        embedding_neardup_pairs,
    )
    from spark_hadoop_automation_in_cloud_spark.queries import (
        q107_semantic_cluster_dedup,
    )

    got = q107_semantic_cluster_dedup(spark, sf_dir).select(
        "left_id", "right_id", "cosine_sim"
    )
    emb = read_table(spark, sf_dir, "embeddings", parallelize=True)
    exact = embedding_neardup_pairs(emb, threshold=0.4)
    assert got.exceptAll(exact).count() == 0  # subset, scores identical
    n_exact, n_hit = exact.count(), got.intersect(exact).count()
    assert n_exact > 0 and n_hit == got.count()
    assert n_hit / n_exact >= 0.15, f"cluster-bucketed recall collapsed: {n_hit}/{n_exact}"


def test_ann_lsh_string_and_column_paths_agree(spark, sf_dir):
    """lsh_bucket's fast string path (one JVM-parsed SQL expression) must
    produce bit-identical bucket signatures to the Column-API tree for
    every (table, plane-offset) in use — they are two constructions of
    the SAME arithmetic, and a divergence would silently re-bucket the
    corpus differently from the oracle's replay."""
    from spark_hadoop_automation_in_cloud_spark.operators.similarity import lsh_bucket

    emb = read_table(spark, sf_dir, "embeddings")
    for first_plane in (0, 4, 20):
        both = emb.select(
            lsh_bucket("`embedding`", 64, 4, first_plane=first_plane).alias("s"),
            lsh_bucket(F.col("embedding"), 64, 4, first_plane=first_plane).alias("c"),
        )
        assert both.where(F.col("s") != F.col("c")).count() == 0
        assert both.select("s").distinct().count() > 1  # non-degenerate


def test_incremental_dedup_multi_batch_roundtrip(spark, tmp_path):
    """Three-batch incremental dedup with the fingerprint index PERSISTED
    to parquet between runs (the run-over-run seam of
    dedup.incremental_dedup): the union of per-batch survivors must cover
    every distinct content exactly once, each hash admitted by the EARLIEST
    batch containing it, and never re-admitted later — equivalently, the
    survivor hash set equals global exact dedup's hash set."""
    from spark_hadoop_automation_in_cloud_spark.operators.dedup import (
        content_hash_index,
        incremental_dedup,
    )

    texts = ["alpha beta", "gamma", "alpha beta", "delta", "gamma", "epsilon zeta"]
    batches = [
        [(0, texts[0]), (1, texts[1])],            # admits alpha-beta, gamma
        [(2, texts[2]), (3, texts[3])],            # alpha-beta is a dup; delta new
        [(4, texts[4]), (5, texts[5]), (6, texts[5])],  # gamma dup; epsilon once
    ]
    idx_dir = str(tmp_path / "fingerprint_index")
    survivors = []
    for i, rows in enumerate(batches):
        batch = spark.createDataFrame(rows, "doc_id long, text string")
        if i == 0:
            index = content_hash_index(
                spark.createDataFrame([], "doc_id long, text string"),
                "doc_id",
                "text",
            )
        else:
            index = spark.read.parquet(idx_dir)  # fresh scan of persisted state
        surv = incremental_dedup(batch, index, "doc_id", "text")
        survivors.extend((r["doc_id"], r["content_hash"]) for r in surv.collect())
        # append this run's admissions to the persisted index
        surv.withColumnRenamed("doc_id", "canonical_id").select(
            "content_hash", "canonical_id"
        ).write.mode("append").parquet(idx_dir)

    assert sorted(survivors) == [
        (0, _md5("alpha beta")),
        (1, _md5("gamma")),
        (3, _md5("delta")),
        (5, _md5("epsilon zeta")),
    ]
    # the persisted index now equals global exact dedup's hash set
    idx_hashes = {r["content_hash"] for r in spark.read.parquet(idx_dir).collect()}
    assert idx_hashes == {_md5(t) for t in set(texts)}


def _md5(s: str) -> str:
    import hashlib

    return hashlib.md5(s.encode()).hexdigest()


def test_repeated_ngram_doc_stats_hand_check(spark):
    """Hand-checked doc-frequency semantics: a gram repeated WITHIN one doc
    counts once (shingle_rows is distinct per doc), and min_doc_freq
    thresholds on cross-document frequency."""
    from spark_hadoop_automation_in_cloud_spark.operators.dedup import (
        repeated_ngram_doc_stats,
        shingle_rows,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d"),        # grams: "a b", "b c", "c d"
            (2, "a b x a b"),      # grams: "a b", "b x", "x a" (a b counted once)
            (3, "a b q"),          # grams: "a b", "b q"
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["n_grams"], r["n_repeated"], r["rep_ratio"])
        for r in repeated_ngram_doc_stats(
            shingle_rows(docs, "doc_id", "text", n=2), min_doc_freq=3
        ).collect()
    }
    # only "a b" reaches df=3
    assert out[1] == (3, 1, round(1 / 3, 6))
    assert out[2] == (3, 1, round(1 / 3, 6))
    assert out[3] == (2, 1, 0.5)


def test_token_budget_selection_semantics(spark):
    """Hand-checked greedy budget cut: best-first order, boundary doc may
    overshoot, next doc excluded, strata independent."""
    from spark_hadoop_automation_in_cloud_spark.operators.packing import (
        token_budget_selection,
    )

    rows = [
        # source, id, quality, tokens
        ("s1", 1, 0.9, 60),   # kept (start 0)
        ("s1", 2, 0.8, 50),   # kept (start 60 < 100, overshoots to 110)
        ("s1", 3, 0.7, 10),   # dropped (start 110 >= 100)
        ("s2", 4, 0.1, 99),   # kept (own stratum, start 0)
        ("s2", 5, 0.05, 1),   # kept (start 99 < 100)
    ]
    df = spark.createDataFrame(rows, "source string, doc_id long, quality double, n_tokens int")
    got = {
        r["doc_id"]: r["cum_tokens"]
        for r in token_budget_selection(
            df, "source", "doc_id", "quality", "n_tokens", budget=100
        ).collect()
    }
    assert got == {1: 60, 2: 110, 4: 99, 5: 100}


def test_incremental_minhash_dedup_screens_and_index_roundtrip(spark, tmp_path):
    """Near-dup screening semantics + the parquet persist of the band
    index: an exact duplicate of an ADMITTED doc is dropped via the
    index screen (after a disk round-trip of the index), a within-batch
    duplicate keeps only the smaller id, and a novel doc is admitted —
    whose band rows then extend the index."""
    from spark_hadoop_automation_in_cloud_spark.operators.dedup import (
        incremental_minhash_dedup,
        minhash_band_index,
        minhash_signatures,
        shingle_rows,
    )

    def sigs(rows):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        return minhash_signatures(shingle_rows(df, "doc_id", "text", n=2))

    admitted = sigs([(1, "the quick brown fox jumps over the lazy dog")])
    idx_path = str(tmp_path / "band_index")
    minhash_band_index(admitted).write.parquet(idx_path)

    new = sigs(
        [
            (10, "the quick brown fox jumps over the lazy dog"),  # dup of 1
            (11, "entirely different words appear in this novel document"),
            (12, "entirely different words appear in this novel document"),  # dup of 11
        ]
    )
    index = spark.read.parquet(idx_path)
    surv = incremental_minhash_dedup(new, index, min_est_jaccard=0.5)
    assert sorted(r["doc_id"] for r in surv.collect()) == [11]
    # admitted survivors extend the persisted index
    minhash_band_index(surv).write.mode("append").parquet(idx_path)
    ids = {r["doc_id"] for r in spark.read.parquet(idx_path).select("doc_id").distinct().collect()}
    assert ids == {1, 11}


def test_bloom_prune_rejects_mismatched_key_types(spark):
    """String-canonicalized hashing would produce false negatives where
    the equi-join's implicit numeric cast still matches (DOUBLE 1.0 hashes
    "1.0", BIGINT 1 hashes "1") — bloom_prune must refuse the pair."""
    import pytest as _pytest

    from spark_hadoop_automation_in_cloud_spark.operators.bloom import bloom_prune

    fact = spark.createDataFrame([(1.0,), (2.0,)], "k double")
    dim = spark.createDataFrame([(1,), (2,)], "k2 bigint")
    with _pytest.raises(ValueError, match="type mismatch"):
        bloom_prune(fact, "k", dim, "k2")
    # same types pass and prune nothing that matches
    dim_d = spark.createDataFrame([(1.0,)], "k2 double")
    kept = {r["k"] for r in bloom_prune(fact, "k", dim_d, "k2").collect()}
    assert 1.0 in kept


def test_md5_prefix_int_quoted_salt_matches_oracle(spark):
    """A salt containing a single quote must produce IDENTICAL values from
    the Column-API twin and the SQL twin (the quote is doubled into the
    DuckDB literal — an unescaped one would break or silently diverge the
    oracle while Spark sailed on)."""
    import duckdb

    from spark_hadoop_automation_in_cloud_spark.functions import hashing

    salt = ":o'brien''s"
    df = spark.createDataFrame([(i,) for i in range(20)], "id long")
    got = {
        r["id"]: r["h"]
        for r in df.select(
            "id", hashing.md5_prefix_int(F.col("id"), nhex=8, salt=salt).alias("h")
        ).collect()
    }
    sql = hashing.sql_md5_prefix_int("id", nhex=8, salt=salt)
    want = dict(
        duckdb.sql(
            f"SELECT id, {sql} AS h FROM (SELECT unnest(generate_series(0, 19)) AS id)"
        ).fetchall()
    )
    assert got == want


def test_blocked_pairs_within_groups_equals_naive(spark):
    """Block-salted within-group pairing must emit EXACTLY the naive
    group self-join's unordered pair set — every pair once, canonical
    left.id < right.id — for several block counts including the n=1
    degenerate and blocks > group size."""
    from spark_hadoop_automation_in_cloud_spark.operators.pairs import (
        blocked_pairs_within_groups,
    )

    rows = [(i % 4, i, float(i) * 0.5) for i in range(57)]
    df = spark.createDataFrame(rows, "g int, id long, x double")
    naive = {
        (g, a, b)
        for g in range(4)
        for a in [i for (gg, i, _) in rows if gg == g]
        for b in [i for (gg, i, _) in rows if gg == g]
        if a < b
    }
    for n_blocks in (1, 3, 8, 100):
        got = blocked_pairs_within_groups(df, ["g"], "id", n_blocks=n_blocks).collect()
        pairs = {(r["g"], r["left"]["id"], r["right"]["id"]) for r in got}
        assert len(got) == len(pairs), n_blocks  # no duplicate emissions
        assert pairs == naive, n_blocks
        # payload rides along with its id
        for r in got:
            assert r["left"]["x"] == r["left"]["id"] * 0.5
            assert r["right"]["x"] == r["right"]["id"] * 0.5
    # max-group dispatch (q196's many-small-groups case): pair set
    # identical whether the probe picks plain (largest group 15 < 100)
    # or keeps the salt (threshold 10 <= 15)
    for thr in (100, 10):
        got = blocked_pairs_within_groups(
            df, ["g"], "id", n_blocks=8, auto_plain_max_group=thr
        ).collect()
        assert {(r["g"], r["left"]["id"], r["right"]["id"]) for r in got} == naive


def test_repeated_span_coverage_interval_union(spark):
    """Coverage must equal the exact interval union of repeated-gram spans
    computed by a naive Python reference — overlapping grams of one shared
    passage count each token once (the property that distinguishes this
    from q109's gram-count ratio), disjoint spans add, unique docs score
    0, and a whole-corpus duplicate scores 1."""
    from spark_hadoop_automation_in_cloud_spark.operators.dedup import (
        repeated_span_coverage,
    )

    docs = [
        # 0/1: share "a b c d e" (3 overlapping 3-grams -> 5 covered, not 9)
        (0, "a b c d e x1 y1 z1"),
        (1, "q1 a b c d e q2 q3"),
        # 2: shares nothing
        (2, "u1 u2 u3 u4 u5 u6"),
        # 3/4: exact duplicates -> full coverage
        (3, "p p q q r r"),
        (4, "p p q q r r"),
        # 5: two disjoint shared passages with doc 0 and doc 3
        (5, "a b c k1 k2 p p q q"),
        # 6: too short for any 3-gram
        (6, "s1 s2"),
        # 7/8: NULL and empty text — both hash/tokenize as the 1-token
        # empty doc (coverage 0, the content_hash NULL convention)
        (7, None),
        (8, ""),
    ]
    n = 3
    grams: dict[tuple, set] = {}
    for i, t in docs:
        toks = (t or "").split(" ")
        for s in range(len(toks) - n + 1):
            grams.setdefault(tuple(toks[s : s + n]), set()).add(i)
    expect = {}
    for i, t in docs:
        toks = (t or "").split(" ")
        covered = set()
        for s in range(len(toks) - n + 1):
            if len(grams[tuple(toks[s : s + n])]) >= 2:
                covered.update(range(s, s + n))
        expect[i] = (len(toks), len(covered), round(len(covered) / len(toks), 6))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_covered"], r["span_coverage"])
        for r in repeated_span_coverage(df, "doc_id", "text", n=n).collect()
    }
    assert got == expect
    assert got[2][1] == 0 and got[6][1] == 0      # unique / too-short
    assert got[7] == (1, 0, 0.0) and got[8] == (1, 0, 0.0)  # NULL / empty
    assert got[3][2] == 1.0 and got[4][2] == 1.0  # exact dup
    assert got[0] == (8, 5, 0.625)                # overlap counted once


def test_ivf_persisted_index_probe_matches_in_memory(spark, sf_dir, tmp_path):
    """The build-once/probe-many decomposition must be value-identical to
    the in-memory composition after the parquet round-trip, and the lists
    scan of the probe must be PARTITION-PRUNED to exactly the probed
    cells — the property that makes a standing IVF index cheaper than
    re-deriving it per query batch."""
    from spark_hadoop_automation_in_cloud_spark.io import read_table
    from spark_hadoop_automation_in_cloud_spark.operators.similarity import (
        ann_ivf_topk,
        ivf_build_lists,
        ivf_centroids,
        ivf_probe_cells,
        ivf_score,
    )

    emb = read_table(spark, sf_dir, "embeddings", parallelize=True)
    queries = emb.where(F.col("vec_id") < 10)
    cent = ivf_centroids(emb, centroid_mod=37)
    ivf_build_lists(emb, cent).write.partitionBy("cell_id").parquet(
        str(tmp_path / "lists")
    )
    cent.write.parquet(str(tmp_path / "centroids"))

    cent2 = spark.read.parquet(str(tmp_path / "centroids"))
    probes = ivf_probe_cells(cent2, queries, nprobe=2)
    cells = sorted(r["cell_id"] for r in probes.select("cell_id").distinct().collect())
    lists = spark.read.parquet(str(tmp_path / "lists")).where(
        F.col("cell_id").isin(cells)
    )
    got = ivf_score(probes, lists, k=5)

    plan = got._jdf.queryExecution().executedPlan().toString()
    scan = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert scan and any("cell_id" in l for l in scan)  # pruned scan, not full read

    key = lambda df: {  # noqa: E731
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine_sim"])
        for r in df.collect()
    }
    assert key(got) == key(ann_ivf_topk(emb, queries, k=5, nprobe=2))
    # the probed-cell set really is a strict subset of the index
    n_cells = spark.read.parquet(str(tmp_path / "lists")).select(
        "cell_id"
    ).distinct().count()
    assert 0 < len(cells) <= n_cells


def test_distribution_drift_tv_hand_check(spark):
    """TV drift against the earliest bucket: 0 for the baseline itself and
    for an identical mix, 1 for a disjoint category set, and the exact
    hand value for a known shift — including a category absent from the
    baseline (enters with count 0, no NULL poisoning)."""
    from spark_hadoop_automation_in_cloud_spark.operators.checks import (
        distribution_drift_tv,
    )

    rows = (
        [(1, "a")] * 6 + [(1, "b")] * 2                     # baseline: .75/.25
        + [(2, "a")] * 3 + [(2, "b")] * 1                   # same mix -> 0
        + [(3, "c")] * 4                                    # disjoint -> 1
        + [(4, "a")] * 2 + [(4, "b")] * 2                   # .5/.5 -> TV .25
    )
    df = spark.createDataFrame(rows, "bucket int, cat string")
    got = {
        r["bucket"]: (r["n_rows"], r["tv_drift"])
        for r in distribution_drift_tv(df, "bucket", "cat").collect()
    }
    assert got == {1: (8, 0.0), 2: (4, 0.0), 3: (4, 1.0), 4: (4, 0.25)}


def test_projected_rerank_recall_on_clustered_corpus(spark):
    """The project -> shortlist -> exact-rerank pipeline must recover the
    exact full-space top-5 on the clustered fixture (recall 1.0 measured
    at 64 -> 16 dims, shortlist 25; pinned at >= 0.9 for slack against a
    fixture tweak).  This is the operator's usefulness claim — the q122
    oracle proves both engines compute the same thing, THIS proves the
    thing is worth computing.  On an isotropic corpus the same pipeline
    measures ~0.1 recall (neighbor gaps are noise-level — no 16-dim map
    can rank them), which is why the operator ships as a shortlist
    stage, never a standalone ranker."""
    from spark_hadoop_automation_in_cloud_spark.operators.similarity import (
        cosine_topk,
        projected_rerank_topk,
    )
    from tests.clustered import DIM, clustered_corpus

    emb = clustered_corpus(spark, range(500))
    queries = emb.where(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id) for r in cosine_topk(emb, queries, k=5).collect()
    }
    got = {
        (r.query_id, r.neighbor_id)
        for r in projected_rerank_topk(
            emb, queries, k=5, dim=DIM, out_dim=16, shortlist=25
        ).collect()
    }
    assert len(exact) == 50 and len(got) == 50
    assert len(exact & got) / len(exact) >= 0.9


# --- deterministic sampling / split assignment (operators/sampling.py) ----


def _sampling_fixture(spark):
    """Strata exercising every branch: a stratum smaller than k, one
    between k and k_eff (keep-all), and one far above k_eff (trim)."""
    rows = (
        [("tiny", i) for i in range(3)]
        + [("mid", 100 + i) for i in range(30)]
        + [("big", 1000 + i) for i in range(4000)]
        + [(None, 9000 + i) for i in range(40)]  # NULL stratum = one group
    )
    return spark.createDataFrame(rows, "stratum string, id bigint")


def test_stratified_sample_equals_naive_window(spark):
    """The oversample-trim plan must return EXACTLY the naive full-window
    top-k — including the under-k stratum (all 3 rows) and the NULL
    stratum (sampled as its own group, not dropped by the join back)."""
    from pyspark.sql.window import Window

    from spark_hadoop_automation_in_cloud_spark.operators import sampling

    df = _sampling_fixture(spark)
    k = 10
    got = sampling.stratified_sample(
        df, ["stratum"], "id", k=k, salt=":t", assert_exact=True
    )
    w = Window.partitionBy("stratum").orderBy(
        sampling.sample_key(F.col("id"), ":t").asc(), F.col("id").asc()
    )
    want = (
        df.withColumn("sample_rank", F.row_number().over(w))
        .where(F.col("sample_rank") <= k)
        .select("stratum", "id", "sample_rank")
    )
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    # exact-k accounting: min(k, n) rows per stratum
    sizes = {r["stratum"]: r["n"] for r in got.groupBy("stratum").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert sizes == {"tiny": 3, "mid": 10, "big": 10, None: 10}


def test_stratified_survivors_are_bounded(spark):
    """The scale contract: the window's input stays ~k_eff per stratum no
    matter the stratum size — the 4000-row stratum must surface far fewer
    rows than it has (the corpus never reaches the sort), yet at least k."""
    from spark_hadoop_automation_in_cloud_spark.operators import sampling

    df = _sampling_fixture(spark)
    surv = sampling.stratified_survivors(df, ["stratum"], "id", k=10, salt=":t")
    n_big = surv.where(F.col("stratum") == "big").count()
    k_eff = sampling._k_eff(10, 6.0, 16)
    # Binomial(4000, k_eff/4000): within [k, 4*k_eff] with overwhelming margin
    assert 10 <= n_big <= 4 * k_eff, n_big
    # the under-k_eff strata keep everything (cutoff saturates at MAX_KEY)
    assert surv.where(F.col("stratum") == "tiny").count() == 3
    assert surv.where(F.col("stratum") == "mid").count() == 30


def test_stratified_sample_undershoot_raises(spark):
    """Negative slack shrinks the cutoff below the k-th key — the
    assert_exact accounting must catch the shortfall loudly instead of
    returning a silently thinner sample."""
    from spark_hadoop_automation_in_cloud_spark.operators import sampling

    df = _sampling_fixture(spark).where(F.col("stratum") == "big")
    with pytest.raises(ValueError, match="undershoot"):
        sampling.stratified_sample(
            df, ["stratum"], "id", k=50, salt=":t",
            slack_stddevs=0.0, slack_abs=-45, assert_exact=True,
        ).collect()
    # k_eff <= 0 -> cutoff 0 -> the stratum admits ZERO survivors and
    # disappears from the ranked output entirely; the accounting must
    # come from the full per-stratum counts, or this very shortfall
    # passes silently (caught in review, pinned here)
    with pytest.raises(ValueError, match="undershoot"):
        sampling.stratified_sample(
            df, ["stratum"], "id", k=50, salt=":t",
            slack_stddevs=0.0, slack_abs=-50, assert_exact=True,
        ).collect()
    # NULL-id rows are unrankable and dropped by documented contract —
    # they must not inflate the expected count into a spurious undershoot
    dirty = spark.createDataFrame(
        [("s", 1), ("s", 2), ("s", None)], "stratum string, id bigint"
    )
    got = sampling.stratified_sample(
        dirty, ["stratum"], "id", k=5, salt=":t", assert_exact=True
    )
    assert got.count() == 2  # no raise, the two rankable rows sampled


def test_hash_split_thresholds_and_validation(spark):
    """hash_split must reproduce the q42 CASE arithmetic exactly (same
    md5 bucket, same cumulative thresholds) and reject malformed specs."""
    from spark_hadoop_automation_in_cloud_spark.functions import hashing
    from spark_hadoop_automation_in_cloud_spark.operators import sampling

    df = spark.range(500).select(F.col("id").alias("k"))
    splits = [("train", 80), ("val", 10), ("test", 10)]
    got = df.select(
        "k", sampling.hash_split(F.col("k"), splits, salt=":s").alias("split")
    )
    bucket = hashing.md5_prefix_int(F.col("k"), nhex=8, salt=":s") % 100
    want = df.select(
        "k",
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test").alias("split"),
    )
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    counts = {r["split"]: r["n"] for r in got.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"} and counts["train"] > counts["val"]
    for bad in (
        [("a", 50)],
        [("a", 60), ("b", 50)],
        [("a", 100), ("b", 0)],
        [("a'b", 50), ("c", 50)],  # quote would break the SQL twin's literal
        [("a", 50), ("a", 50)],  # duplicate label
    ):
        with pytest.raises(ValueError):
            sampling.hash_split(F.col("k"), bad, salt=":s")
        with pytest.raises(ValueError):
            sampling.sql_hash_split("k", bad, salt=":s")


def test_leakage_safe_split_coassigns_clusters(spark, sf_dir):
    """The q124 contract: every near-dup cluster lands in exactly ONE
    split (no document can be evaluated against its training-set
    near-duplicate), and the split labels follow the cluster-id hash."""
    from spark_hadoop_automation_in_cloud_spark.queries import q124_leakage_safe_split

    out = q124_leakage_safe_split(spark, sf_dir).cache()
    try:
        n_rows = out.count()
        assert n_rows > 0
        bad = (
            out.groupBy("cluster_id")
            .agg(F.countDistinct("split").alias("n_splits"))
            .where(F.col("n_splits") > 1)
            .count()
        )
        assert bad == 0
        # at least one multi-member cluster exists, so co-assignment is a
        # real constraint here, not vacuous
        multi = (
            out.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n"))
            .where(F.col("n") > 1).count()
        )
        assert multi > 0
        # the quantitative WHY: the same 80/10/10 thresholds keyed on the
        # ROW id (the q42 shape) must actually strand near-dup members
        # across splits on this data — i.e. q124 prevents leakage that a
        # row-hash split really commits, it doesn't solve a non-problem
        from spark_hadoop_automation_in_cloud_spark.operators import sampling
        from spark_hadoop_automation_in_cloud_spark.queries import _LEAK_SPLITS

        rowhash = out.select(
            "cluster_id",
            sampling.hash_split(F.col("vec_id"), _LEAK_SPLITS, salt=":leak").alias(
                "split"
            ),
        )
        leaked = (
            rowhash.groupBy("cluster_id")
            .agg(F.countDistinct("split").alias("n_splits"))
            .where(F.col("n_splits") > 1)
            .count()
        )
        assert leaked > 0, "fixture has no cross-split near-dup risk to prevent"
    finally:
        out.unpersist()


def test_mixture_budget_selection_semantics(spark):
    """Uniform weights over the present domains must reproduce the plain
    per-domain budget cut; unweighted domains must vanish; malformed
    mixtures must raise."""
    from spark_hadoop_automation_in_cloud_spark.operators.packing import (
        mixture_budget_selection,
        mixture_budgets,
        token_budget_selection,
    )

    rows = [
        ("a", i, float(100 - i), 40) for i in range(20)
    ] + [("b", 100 + i, float(50 - i), 25) for i in range(20)] + [
        ("c", 200 + i, 1.0 * i, 30) for i in range(5)
    ]
    scored = spark.createDataFrame(
        rows, "dom string, doc_id bigint, quality double, n_tokens bigint"
    )
    # uniform 50/50 over a,b with total 2*200 == per-domain budget 200
    mix = mixture_budget_selection(
        scored.where(F.col("dom") != "c"), "dom", "doc_id", "quality",
        "n_tokens", total_budget=400, weights={"a": 0.5, "b": 0.5},
    ).select("dom", "doc_id", "quality", "n_tokens", "cum_tokens")
    plain = token_budget_selection(
        scored.where(F.col("dom") != "c"), "dom", "doc_id", "quality",
        "n_tokens", budget=200,
    )
    assert mix.exceptAll(plain).count() == 0 and plain.exceptAll(mix).count() == 0
    # domain c unweighted -> excluded even though it has rows
    out = mixture_budget_selection(
        scored, "dom", "doc_id", "quality", "n_tokens",
        total_budget=400, weights={"a": 0.5, "b": 0.5},
    )
    assert out.where(F.col("dom") == "c").count() == 0
    # the kept prefix per domain: all but the boundary doc fit the budget
    over = out.where(
        (F.col("cum_tokens") > F.col("domain_budget"))
        & (F.col("cum_tokens") - F.col("n_tokens") >= F.col("domain_budget"))
    ).count()
    assert over == 0
    import pytest as _pytest

    for bad in ({}, {"a": 0.7}, {"a": 0.5, "b": -0.5}, {"a": 0.9, "b": 0.2}):
        with _pytest.raises(ValueError):
            mixture_budgets(100, bad)


def test_stratified_sample_multi_column_strata(spark):
    """Composite strata (two columns, including a NULL component) must
    group and join back exactly like a single concatenated key — the
    null-safe join condition is per-column, so a NULL in either column
    is one group, not a dropped row."""
    from pyspark.sql.window import Window

    from spark_hadoop_automation_in_cloud_spark.operators import sampling

    rows = (
        [("en", "web", i) for i in range(40)]
        + [("en", None, 100 + i) for i in range(40)]
        + [(None, "web", 200 + i) for i in range(3)]
    )
    df = spark.createDataFrame(rows, "lang string, src string, id bigint")
    k = 5
    got = sampling.stratified_sample(
        df, ["lang", "src"], "id", k=k, salt=":m", assert_exact=True
    )
    w = Window.partitionBy("lang", "src").orderBy(
        sampling.sample_key(F.col("id"), ":m").asc(), F.col("id").asc()
    )
    want = (
        df.withColumn("sample_rank", F.row_number().over(w))
        .where(F.col("sample_rank") <= k)
        .select("lang", "src", "id", "sample_rank")
    )
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    sizes = {
        (r["lang"], r["src"]): r["n"]
        for r in got.groupBy("lang", "src").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert sizes == {("en", "web"): 5, ("en", None): 5, (None, "web"): 3}


def test_heavy_hitters_exact_equals_naive_any_geometry(spark):
    """heavy_hitters_exact is EXACT for any count-min geometry — even a
    deliberately terrible one (width 2: every key collides with every
    other, the screen admits nearly everything) — because the screen only
    prunes and the final HAVING re-verifies exactly.  Also: NULL keys are
    excluded by contract, threshold 1 degenerates to plain distinct-with-
    counts, and an unreachable threshold yields an empty frame with the
    right schema."""
    from spark_hadoop_automation_in_cloud_spark.operators.sketches import (
        heavy_hitters_exact,
    )

    # zipf-ish skew: key k appears ~ 600/k times, plus NULLs
    rows = [(f"k{k}",) for k in range(1, 40) for _ in range(600 // k)]
    rows += [(None,)] * 25
    df = spark.createDataFrame(rows, ["key"]).repartition(7)
    naive = {
        r["key"]: r["n"]
        for r in df.where(F.col("key").isNotNull())
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for depth, width in [(4, 32768), (2, 64), (1, 2)]:
        got = {
            r["key"]: r["freq"]
            for r in heavy_hitters_exact(df, "key", 50, depth, width).collect()
        }
        assert got == {k: n for k, n in naive.items() if n >= 50}, (depth, width)

    got1 = {
        r["key"]: r["freq"] for r in heavy_hitters_exact(df, "key", 1).collect()
    }
    assert got1 == naive  # threshold 1 == full exact counts, NULLs excluded

    empty = heavy_hitters_exact(df, "key", 10**9)
    assert empty.columns == ["key", "freq"] and empty.count() == 0

    import pytest as _pytest

    with _pytest.raises(ValueError):
        heavy_hitters_exact(df, "key", 0)
    with _pytest.raises(ValueError):
        heavy_hitters_exact(df, "key", 5, depth=0)


def test_heavy_hitters_screen_is_superset_and_prunes(spark):
    """The two claims the operator banks on at scale, pinned separately
    from end-to-end equality: (a) the candidate set is a SUPERSET of the
    true heavy hitters (count-min never underestimates — a false negative
    here is silent data loss downstream), and (b) at a sane geometry the
    screen actually prunes (candidates << distinct keys), which is the
    entire point of paying the second scan."""
    from spark_hadoop_automation_in_cloud_spark.operators.sketches import (
        _hh_estimate,
        _hh_table,
        heavy_hitters_exact,
    )

    # 3000 singleton keys + 5 heavy keys at 80 each
    rows = [(f"cold{i}",) for i in range(3000)]
    rows += [(f"hot{j}",) for j in range(5) for _ in range(80)]
    df = spark.createDataFrame(rows, ["key"]).repartition(5)

    table = _hh_table(df, "key", 4, 4096)
    est = _hh_estimate(F.col("key"), table)
    cands = {r["key"] for r in df.where(est >= 80).select("key").distinct().collect()}
    assert {f"hot{j}" for j in range(5)} <= cands  # (a) no false negatives
    assert len(cands) < 100  # (b) prunes 3005 distinct keys to a handful

    hh = heavy_hitters_exact(df, "key", 80, depth=4, width=4096)
    assert sorted(r["key"] for r in hh.collect()) == [f"hot{j}" for j in range(5)]


def _weighted_fixture(spark):
    """Ticket extremes + NULLs: a big stratum with tickets 1..10, a tiny
    keep-all stratum, NULL tickets (clamp to 1), and a NULL id (dropped)."""
    rows = [("big", 1000 + i, 1 + (i % 10)) for i in range(3000)]
    rows += [("tiny", i, 5) for i in range(4)]
    rows += [("big", 9000, None), ("big", None, 7)]
    # a stratum DOMINATED by NULL-id ticket mass: 900 unrankable rows at
    # max tickets vs 100 valid rows at 1 — the cutoff must be computed
    # from the VALID rows only, or this stratum undershoots k badly
    rows += [("nullheavy", None, 10)] * 900
    rows += [("nullheavy", 50000 + i, 1) for i in range(100)]
    return spark.createDataFrame(rows, "stratum string, id bigint, tickets int")


def test_weighted_sample_equals_naive_window(spark):
    """The ticket-sum oversample-trim must return EXACTLY the naive
    full-window top-k by weighted key — including the keep-all stratum,
    the NULL-ticket row competing with the minimum lottery, and the
    NULL-id row dropped (unrankable)."""
    from pyspark.sql.window import Window

    from spark_hadoop_automation_in_cloud_spark.operators import sampling

    df = _weighted_fixture(spark)
    k = 12
    got = sampling.weighted_sample(
        df, ["stratum"], "id", "tickets", k=k, max_tickets=10, salt=":wt"
    )
    w = Window.partitionBy("stratum").orderBy(
        sampling.weighted_ticket_key(
            F.col("id"), F.col("tickets"), 10, ":wt"
        ).asc(),
        F.col("id").asc(),
    )
    want = (
        df.where(F.col("id").isNotNull())
        .withColumn("sample_rank", F.row_number().over(w).cast("int"))
        .where(F.col("sample_rank") <= k)
        .select("stratum", "id", "tickets", "sample_rank")
    )
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    sizes = {
        r["stratum"]: r["n"]
        for r in got.groupBy("stratum").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert sizes == {"big": 12, "tiny": 4, "nullheavy": 12}


def test_weighted_sample_inclusion_tracks_tickets(spark):
    """The lottery's reason to exist: across many independent salts, a
    10-ticket row must be sampled ~10x as often as a 1-ticket row (for
    k << n the inclusion probability is ~proportional to tickets).  The
    salts are fixed strings, so this is deterministic, not flaky."""
    from spark_hadoop_automation_in_cloud_spark.operators import sampling

    df = spark.createDataFrame(
        [("s", i, 10 if i < 150 else 1) for i in range(1500)],
        "stratum string, id bigint, tickets int",
    ).cache()
    hi = lo = 0
    for trial in range(12):
        got = sampling.weighted_sample(
            df, ["stratum"], "id", "tickets", k=30, max_tickets=10,
            salt=f":inc{trial}",
        ).collect()
        hi += sum(1 for r in got if r["tickets"] == 10)
        lo += sum(1 for r in got if r["tickets"] == 1)
    df.unpersist()
    # ticket mass is 1500+1350 hi vs 1350 lo → expect ~ hi:lo = 10:9 per
    # CAPITA ratio 10:1; with 360 draws the split should be ~190/170 —
    # demand the per-capita rate gap loudly (hi rate >= 5x lo rate)
    hi_rate, lo_rate = hi / 150, lo / 1350
    assert hi_rate >= 5 * lo_rate, (hi, lo)


def test_sql_weighted_sample_matches_spark_on_duckdb(spark):
    """The generic SQL spec generator (sql_weighted_sample) replayed in
    DuckDB over the same rows must pick the identical sample — the
    cross-engine guarantee the integer ticket lottery exists to give
    (q129 pins the composed form; this pins the generator itself)."""
    import duckdb

    from spark_hadoop_automation_in_cloud_spark.operators import sampling

    df = _weighted_fixture(spark).where(F.col("id").isNotNull())
    got = sorted(
        (r["stratum"], r["id"], r["sample_rank"])
        for r in sampling.weighted_sample(
            df, ["stratum"], "id", "tickets", k=12, max_tickets=10, salt=":sq"
        ).collect()
    )
    con = duckdb.connect()
    con.register("t", df.toPandas())
    sql = sampling.sql_weighted_sample(
        "t", ["stratum"], "id", "tickets", "tickets", k=12, max_tickets=10,
        salt=":sq",
    )
    want = sorted((r[0], r[1], r[3]) for r in con.sql(sql).fetchall())
    assert got == want


def test_value_bucket_matches_sketch_and_threshold_cut(spark):
    """value_bucket must agree with the sketch's own bucket coder (a
    filter built on it sees exactly the sketch's view of the data), the
    quantile_buckets code must be the smallest bucket reaching the rank,
    and non-encodable values (NULL/NaN/inf) must code NULL and fall out
    of any >= comparison — the same skip semantics the sketch build
    applies."""
    import math

    from spark_hadoop_automation_in_cloud_spark.operators.sketches import (
        quantile_buckets,
        quantile_sketches,
        value_bucket,
    )

    vals = [0.001 * i for i in range(1, 400)] + [0.0, 5.0, -2.5]
    df = spark.createDataFrame([(v,) for v in vals], "v double").withColumn(
        "g", F.lit(1)
    )
    sk = quantile_sketches(df, ["g"], "v", eps=0.01)
    picked = {
        r["q"]: r["bucket"]
        for r in quantile_buckets(sk, ["g"], [0.0, 0.5, 1.0], eps=0.01).collect()
    }
    coded = df.select("v", value_bucket(F.col("v"), 0.01).alias("b")).collect()
    by_v = {r["v"]: r["b"] for r in coded}
    # q=1.0 -> the max bucket; q=0.0 -> the min bucket; q=0.5 splits ranks
    codes = sorted(by_v.values())
    assert picked[0.0] == codes[0] and picked[1.0] == codes[-1]
    n_le = sum(1 for b in codes if b <= picked[0.5])
    n_lt = sum(1 for b in codes if b < picked[0.5])
    assert n_lt < math.ceil(0.5 * len(codes)) <= n_le
    # threshold-cut semantics: rows at/above the p50 bucket ~ top half
    kept = df.where(value_bucket(F.col("v"), 0.01) >= picked[0.5]).count()
    assert abs(kept - len(vals) / 2) <= len(vals) * 0.02 + 2

    weird = spark.createDataFrame(
        [(None,), (float("nan"),), (float("inf",),)], "v double"
    )
    assert weird.where(value_bucket(F.col("v")) >= -10**15).count() == 0
    assert weird.select(value_bucket(F.col("v")).alias("b")).where(
        F.col("b").isNotNull()
    ).count() == 0


def test_group_overlap_matrix_exact_counts(spark):
    """Hand-built overlap: exact pair counts, a<b canonical ordering (no
    mirrored or self rows), disjoint groups absent from the output, and
    NULL groups/items dropped."""
    from spark_hadoop_automation_in_cloud_spark.operators.dedup import (
        group_overlap_matrix,
    )

    rows = (
        [("s1", f"x{i}") for i in range(6)]
        + [("s2", f"x{i}") for i in range(4)]      # shares x0..x3 with s1
        + [("s2", "y0"), ("s3", "z0"), ("s3", "x0")]  # s3 shares x0 w/ s1,s2
        + [("s1", "x0"), ("s1", None), (None, "x1")]  # dup row + NULLs
    )
    df = spark.createDataFrame(rows, "source string, item string")
    got = {
        (r["source_a"], r["source_b"]): r["n_shared"]
        for r in group_overlap_matrix(df, "source", "item").collect()
    }
    assert got == {("s1", "s2"): 4, ("s1", "s3"): 1, ("s2", "s3"): 1}


def test_incremental_components_releases_checkpoint_storage(spark):
    """Same block-accounting contract for the incremental merge: a
    per-batch ingest loop calls it repeatedly, so each call may keep
    exactly ONE new persisted RDD (the annotated reduced frame its
    returned lineage needs) — the mapped-endpoints frame and the inner
    CC's own result block must both be released."""
    from spark_hadoop_automation_in_cloud_spark.operators.components import (
        connected_components,
        incremental_components,
    )
    from spark_hadoop_automation_in_cloud_spark.session import _persistent_rdd_ids

    hist = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 80, 2)], "l int, r int"
    )
    labels = connected_components(hist, "l", "r")
    labels.count()
    base = len(_persistent_rdd_ids(spark))
    outs = []
    for j in range(3):
        batch = spark.createDataFrame(
            [(i, i + 2 + j) for i in range(0, 40, 4)], "l int, r int"
        )
        outs.append(incremental_components(labels, batch, "l", "r"))
    assert len(_persistent_rdd_ids(spark)) <= base + 3
    for o in outs:  # results stay usable after later calls' cleanup
        assert o.count() > 0


def test_per_source_quality_cut_oracle_handles_null_text(spark):
    """The q130 oracle's totals must skip NULL-bucket (NULL-text) rows
    exactly like the sketch build does — with NULL text in the data the
    two engines previously picked different thresholds (rnk overshot the
    valid cumulative range and the oracle kept 0 rows where Spark kept
    the top bucket).  Replays BOTH engines on a corpus WITH NULL text,
    which the parity fixtures don't contain."""
    import duckdb

    from spark_hadoop_automation_in_cloud_spark.queries import (
        q130_per_source_quality_cut,
        specs,
    )

    import os
    import shutil
    import tempfile

    root = tempfile.mkdtemp(prefix="q130nulls_")
    try:
        base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        nulls = spark.createDataFrame(
            [(90000 + i, None, "en", f"src{i % 3}", 0) for i in range(40)],
            "doc_id bigint, text string, lang string, source string, n_chars bigint",
        )
        base.unionByName(nulls).coalesce(1).write.mode("overwrite").parquet(
            f"{root}/documents.parquet"
        )
        got = sorted(
            (r["source"], r["doc_id"])
            for r in q130_per_source_quality_cut(spark, root).collect()
        )
        sql = next(s.sql for s in specs() if s.name == "q130_per_source_quality_cut")
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"'{root}/documents.parquet/*.parquet'"
        )
        want = sorted((r[0], r[1]) for r in con.sql(sql).fetchall())
        assert got and got == want
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_incremental_lsh_pairs_complement_hist_pairs(spark, sf_dir):
    """The algebra q132 banks on, pinned directly: full-corpus LSH pairs
    = hist-vs-hist pairs ∪ pairs touching the batch — same band
    collisions, same est_jaccard values, no pair lost or invented at the
    split boundary."""
    from spark_hadoop_automation_in_cloud_spark.operators import dedup as dd

    spark_df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    hist = spark_df.where(F.col("doc_id") % 3 != 0)
    new = spark_df.where(F.col("doc_id") % 3 == 0)
    sig_all = dd.minhash_signatures(
        dd.shingle_rows(spark_df, "doc_id", "text", n=2)
    )
    sig_h = dd.minhash_signatures(dd.shingle_rows(hist, "doc_id", "text", n=2))
    sig_n = dd.minhash_signatures(dd.shingle_rows(new, "doc_id", "text", n=2))

    key = lambda r: (r["left_doc_id"], r["right_doc_id"], r["est_jaccard"])  # noqa: E731
    full = {key(r) for r in dd.lsh_candidate_pairs(sig_all).collect()}
    hist_pairs = {key(r) for r in dd.lsh_candidate_pairs(sig_h).collect()}
    inc = {
        key(r)
        for r in dd.incremental_lsh_pairs(
            sig_n, dd.minhash_band_index(sig_h), min_est_jaccard=0.0
        ).collect()
    }
    assert hist_pairs | inc == full
    assert hist_pairs & inc == set()  # inc never re-derives history
    assert inc  # the split actually produced batch-touching pairs


def test_hybrid_prf_rrf_fusion_math(spark):
    """RRF fusion on a hand-computable corpus: the dense list is seeded by
    the BM25 top-1 (PRF), a doc on both lists sums both grid terms, a
    one-list doc gets one term + a NULL rank on the other side, and the
    fused order breaks ties by doc_id."""
    from spark_hadoop_automation_in_cloud_spark.operators.similarity import (
        hybrid_prf_rrf_topk,
    )

    docs = spark.createDataFrame(
        [
            (0, "alpha alpha alpha beta pad"),  # strongest lexical match
            (1, "alpha beta pad pad pad"),
            (2, "beta pad pad pad pad"),
            (3, "pad pad pad pad pad"),  # no lexical match
            (4, "pad pad pad pad pad"),  # no lexical match
        ],
        "doc_id long, text string",
    )
    # doc0 is the PRF seed; doc3 is nearly parallel to it (dense #1),
    # doc4 close (dense #2), docs 1/2 orthogonal-ish
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.0, 1.0, 0.0]),
            (2, [0.0, 0.0, 1.0]),
            (3, [0.99, 0.1, 0.0]),
            (4, [0.9, 0.3, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    out = hybrid_prf_rrf_topk(
        docs, emb, {7: "alpha beta"}, k_each=3, topk=5
    ).collect()
    rows = {r["doc_id"]: r for r in out}
    # lexical ranks: doc0=1 (seed), doc1=2, doc2=3; dense (vs doc0,
    # excluding the seed): doc3=1, doc4=2, doc1 or doc2 =3 (cos 0 tie →
    # doc1 by id)
    assert rows[0]["bm25_rank"] == 1 and rows[0]["dense_rank"] is None
    assert rows[3]["dense_rank"] == 1 and rows[3]["bm25_rank"] is None
    assert rows[1]["bm25_rank"] == 2 and rows[1]["dense_rank"] == 3
    g = lambda r: round(1e9 / (60 + r))
    assert rows[1]["rrf"] == round((g(2) + g(3)) / 1e9, 6)
    assert rows[0]["rrf"] == round(g(1) / 1e9, 6)
    # doc1 (two sides) outscores every single-side doc
    assert rows[1]["rank"] == 1
    # doc2 absent from dense top-3? doc2 cos==0 ties doc1, loses by id →
    # lexical-only contribution
    assert rows[2]["dense_rank"] is None and rows[2]["bm25_rank"] == 3


def test_group_percentile_spread_and_singleton(spark):
    """(rank-1)/(n-1) in [0,1] per group; single-row groups land at 0.5;
    ties break by the unique tiebreaker."""
    from spark_hadoop_automation_in_cloud_spark.operators.ranks import (
        group_percentile,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 30.0), ("a", 3, 20.0),
         ("a", 4, 30.0), ("b", 9, 99.0)],
        "g string, id long, score double",
    )
    out = {
        r["id"]: r["pct"]
        for r in group_percentile(
            df, "g", [F.col("score").asc(), F.col("id").asc()], "pct"
        ).collect()
    }
    # group a order: 10(id1) < 20(id3) < 30(id2) < 30(id4 — tie by id)
    assert out[1] == 0.0
    assert out[3] == round(1 / 3, 6)
    assert out[2] == round(2 / 3, 6)
    assert out[4] == 1.0
    assert out[9] == 0.5  # singleton group


def test_inference_seam_injects_and_strict_raises(spark):
    """The scorer seam: an injected vectorized scorer drives the rank; the
    fake warns at construction; strict=True raises (no silent fake in
    production)."""
    import warnings

    import pytest as _pytest

    from spark_hadoop_automation_in_cloud_spark.operators.inference import (
        rerank_topk,
        score_candidates,
    )

    cands = spark.createDataFrame(
        [(1, 10, 0.5), (1, 11, 0.4), (1, 12, 0.3), (2, 10, 0.9)],
        "query_id int, doc_id long, rrf double",
    )

    def scorer(batch):
        return batch["doc_id"] * 0.1  # deterministic, reads a real column

    out = {
        (r["query_id"], r["doc_id"]): (r["model_score"], r["model_rank"])
        for r in rerank_topk(
            cands, "query_id", "doc_id", topk=2, scorer=scorer
        ).collect()
    }
    assert out[(1, 12)][1] == 1 and out[(1, 11)][1] == 2  # highest doc_id*0.1 wins
    assert (1, 10) not in out  # cut by topk=2
    assert out[(2, 10)] == (1.0, 1)
    with _pytest.raises(NotImplementedError):
        score_candidates(cands, ["query_id", "doc_id"], strict=True)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        score_candidates(cands, ["query_id", "doc_id"])
        assert any("FAKE scorer" in str(x.message) for x in w)


def test_inference_seam_real_model_scorer_matches_pandas(spark):
    """A REAL (non-fake) model through the seam: a numpy logistic scorer
    with fixed weights over (bm25_rank, dense_rank) features must
    serialize through the closure, score Arrow batches, and rerank
    IDENTICALLY to the same callable run locally on pandas — the
    'a real cross-encoder injects via scorer=' claim, executed
    (VERDICT r06 item 4)."""
    import numpy as np
    import pandas as pd

    from spark_hadoop_automation_in_cloud_spark.operators.inference import rerank_topk

    rows = [
        (q, d, float((q * 7 + d) % 5 + 1), float((q * 3 + 2 * d) % 6 + 1))
        for q in range(1, 6)
        for d in range(10, 22)
    ]
    cands = spark.createDataFrame(
        rows, "query_id int, doc_id long, bm25_rank double, dense_rank double"
    )

    W = np.array([-0.8, -0.35])
    B = 2.1

    def logistic_scorer(batch: pd.DataFrame) -> pd.Series:
        x = batch[["bm25_rank", "dense_rank"]].to_numpy(dtype=float)
        return pd.Series(1.0 / (1.0 + np.exp(-(x @ W + B))), index=batch.index)

    got = {
        (r["query_id"], r["doc_id"]): (r["model_score"], r["model_rank"])
        for r in rerank_topk(
            cands, "query_id", "doc_id", topk=3, scorer=logistic_scorer
        ).collect()
    }
    # local pandas reference: same scorer, same 6dp rounding, same tiebreak
    pdf = pd.DataFrame(rows, columns=["query_id", "doc_id", "bm25_rank", "dense_rank"])
    pdf["model_score"] = logistic_scorer(pdf).round(6)
    pdf = pdf.sort_values(
        ["query_id", "model_score", "doc_id"], ascending=[True, False, True]
    )
    pdf["model_rank"] = pdf.groupby("query_id").cumcount() + 1
    want = {
        (int(r.query_id), int(r.doc_id)): (float(r.model_score), int(r.model_rank))
        for r in pdf[pdf.model_rank <= 3].itertuples()
    }
    assert got == want
    assert len(got) == 15  # 5 queries × top 3


def test_fake_scorer_rejects_null_keys(spark):
    """A NULL key would stringify to 'None'/'nan' in pandas while the SQL
    twin's md5(NULL) propagates NULL — the fake must raise loudly instead
    of silently diverging (ADVICE r06)."""
    import warnings

    import pytest as _pytest

    from spark_hadoop_automation_in_cloud_spark.operators.inference import (
        score_candidates,
    )

    cands = spark.createDataFrame(
        [(1, 10), (2, None)], "query_id int, doc_id long"
    )
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")  # the fake-scorer construction warning
        scored = score_candidates(cands, ["query_id", "doc_id"])
    with _pytest.raises(Exception, match="non-null keys only"):
        scored.collect()


def test_numeric_psi_identical_and_shifted(spark):
    """Identical segment distributions → PSI ~0; a clearly shifted
    segment → PSI well above the 0.1 stability line; one-sided bins stay
    finite via the Laplace smoothing."""
    from spark_hadoop_automation_in_cloud_spark.operators.checks import numeric_psi

    same = [("g", "a", float(v)) for v in (1, 2, 4, 8)] * 8 + [
        ("g", "b", float(v)) for v in (1, 2, 4, 8)
    ] * 8
    shifted = [("h", "a", float(v)) for v in (1, 1, 1, 2)] * 8 + [
        ("h", "b", float(v)) for v in (64, 128, 128, 256)
    ] * 8
    df = spark.createDataFrame(same + shifted, "g string, seg string, v double")
    out = {
        r["g"]: r
        for r in numeric_psi(df, ["g"], "seg", "a", "b", "v").collect()
    }
    assert abs(out["g"]["psi"]) < 1e-6
    assert out["h"]["psi"] > 0.1
    assert out["g"]["n_a"] == out["g"]["n_b"] == 32
    # NULL/non-finite values drop; out-of-segment rows filtered
    df2 = spark.createDataFrame(
        [("g", "a", 1.0), ("g", "a", None), ("g", "c", 2.0), ("g", "b", 1.0)],
        "g string, seg string, v double",
    )
    r2 = numeric_psi(df2, ["g"], "seg", "a", "b", "v").collect()[0]
    assert (r2["n_a"], r2["n_b"]) == (1, 1)


def test_rendezvous_shard_minimal_moves(spark):
    """HRW growth property: growing 12 -> 16 shards moves ~4/16 of keys,
    and every move lands ON a new shard (no old-to-old churn)."""
    from pyspark.sql import functions as F

    from spark_hadoop_automation_in_cloud_spark.operators.packing import (
        rendezvous_shard,
    )

    df = spark.range(2000).select(F.col("id"))
    a = df.select(
        rendezvous_shard(F.col("id"), 12).alias("old"),
        rendezvous_shard(F.col("id"), 16).alias("new"),
    ).collect()
    moved = [r for r in a if r["old"] != r["new"]]
    frac = len(moved) / len(a)
    assert 0.15 < frac < 0.35, frac  # expected 4/16 = 0.25
    assert all(r["new"] >= 12 for r in moved)  # moves only INTO new shards
    # placement balance: each of the 16 shards gets a sane share
    from collections import Counter

    c = Counter(r["new"] for r in a)
    assert len(c) == 16 and min(c.values()) > 2000 / 16 / 3


def test_ks_statistic_hand_computed(spark):
    """Hand-checkable KS: a=[1,2,3], b=[3,4] → sup|F_a-F_b| = |2/3 - 0|
    at x=2 → 4/6; identical samples → 0; exact integer numerator means
    the 6dp rounding is of 0.6666... not an accumulated float."""
    from spark_hadoop_automation_in_cloud_spark.operators.checks import ks_statistic

    rows = (
        [("g", "a", float(v)) for v in (1, 2, 3)]
        + [("g", "b", float(v)) for v in (3, 4)]
        + [("h", "a", float(v)) for v in (5, 6)]
        + [("h", "b", float(v)) for v in (5, 6)]
    )
    df = spark.createDataFrame(rows, "k string, seg string, value double")
    out = {r["k"]: r for r in ks_statistic(df, ["k"], "seg", "a", "b", "value").collect()}
    assert out["g"]["n_a"] == 3 and out["g"]["n_b"] == 2
    assert out["g"]["ks_stat"] == round(4 / 6, 6)
    assert out["h"]["ks_stat"] == 0.0


def test_pq_quantization_quality_on_clustered_corpus(spark):
    """PQ's usefulness claims, measured (the q156/q157 oracles prove both
    engines compute the same thing; THIS proves it's worth computing):
    (a) training reduces reconstruction error well below the seed
    codebooks'; (b) ADC search preserves coarse geometry — every top-5
    neighbor of every query lands in the query's true cluster on the
    clustered fixture.  PQ deliberately collapses within-cluster detail
    (that is the compression), so the claim is cluster recovery, not
    exact-rank recovery — the IVF+rerank stages own the fine ranking."""
    from spark_hadoop_automation_in_cloud_spark.operators.similarity import (
        pq_adc_topk,
        pq_encode,
        train_pq_codebooks,
    )
    from tests.clustered import N_CLUSTERS, clustered_corpus

    emb = clustered_corpus(spark, range(400))
    trained = train_pq_codebooks(emb, iters=3)
    seeds_only = train_pq_codebooks(emb, iters=0)

    def mean_recon(books):
        rows = pq_encode(emb, books).agg(F.avg("recon_sq")).first()
        return rows[0]

    # measured on this fixture: 0.81 -> 0.48 (0.59x); pinned with slack
    assert mean_recon(trained) < 0.75 * mean_recon(seeds_only)
    codes = pq_encode(emb, trained)
    code_cols = [c for c in codes.columns if c.startswith("code_")]
    rng = codes.agg(
        *[F.min(c).alias(f"lo_{c}") for c in code_cols],
        *[F.max(c).alias(f"hi_{c}") for c in code_cols],
    ).first()
    assert all(rng[f"lo_{c}"] >= 0 and rng[f"hi_{c}"] < 8 for c in code_cols)
    top = pq_adc_topk(
        codes.drop("recon_sq"),
        trained,
        emb.where(F.col("vec_id") < 10),
        k=5,
    ).collect()
    assert len(top) == 50
    wrong = [
        (r.query_id, r.neighbor_id)
        for r in top
        if r.neighbor_id % N_CLUSTERS != r.query_id % N_CLUSTERS
    ]
    assert not wrong, wrong


def test_ivf_pq_search_recovers_clusters(spark):
    """IVF-PQ composes two approximations (cell recall x quantization);
    on the clustered fixture the composition must still land every top-5
    neighbor in the query's true cluster — cells form around cluster
    members (mod-37 centroids are corpus vectors), probing follows the
    query's cosine, and ADC separates clusters even though it collapses
    within-cluster detail."""
    from spark_hadoop_automation_in_cloud_spark.operators.similarity import (
        ivf_pq_topk,
    )
    from tests.clustered import N_CLUSTERS, clustered_corpus

    emb = clustered_corpus(spark, range(400))
    top = ivf_pq_topk(emb, emb.where(F.col("vec_id") < 10), k=5).collect()
    assert len(top) == 50
    wrong = [
        (r.query_id, r.neighbor_id)
        for r in top
        if r.neighbor_id % N_CLUSTERS != r.query_id % N_CLUSTERS
    ]
    assert not wrong, wrong


def test_ivf_pq_persisted_coded_index_probe(spark, sf_dir, tmp_path):
    """q159's persistence claim, executed: the CODED lists (4 ints +
    cell_id per vector — no vectors) write partitionBy(cell_id), a later
    query batch reads only probed cells (PartitionFilters on cell_id in
    the executed plan), and the probe is value-identical to the
    in-memory ivf_pq_topk composition.  Codebooks/centroids are bounded
    model state (the kmeans-centroid precedent) and round-trip alongside."""
    from spark_hadoop_automation_in_cloud_spark.io import read_table
    from spark_hadoop_automation_in_cloud_spark.operators.similarity import (
        _adc_expr,
        _pq_lut_frame,
        ivf_build_lists,
        ivf_centroids,
        ivf_pq_topk,
        ivf_probe_cells,
        pq_encode,
        train_pq_codebooks,
    )
    from pyspark.sql import Window

    emb = read_table(spark, sf_dir, "embeddings", parallelize=True)
    queries = emb.where(F.col("vec_id") < 5)
    cent = ivf_centroids(emb, centroid_mod=37)
    books = train_pq_codebooks(emb)
    lists = ivf_build_lists(emb, cent)
    pq_encode(
        lists, books, id_col="neighbor_id", vec_col="embedding",
        carry_cols=["cell_id"],
    ).drop("recon_sq").write.partitionBy("cell_id").parquet(str(tmp_path / "coded"))
    cent.write.parquet(str(tmp_path / "centroids"))

    cent2 = spark.read.parquet(str(tmp_path / "centroids"))
    probes = ivf_probe_cells(cent2, queries, nprobe=2)
    cells = sorted(r["cell_id"] for r in probes.select("cell_id").distinct().collect())
    coded = spark.read.parquet(str(tmp_path / "coded")).where(
        F.col("cell_id").isin(cells)
    )
    q_rows = queries.select(
        F.col("vec_id").alias("__qid"),
        F.col("embedding").cast("array<double>").alias("__qv"),
    ).collect()
    lut = F.broadcast(_pq_lut_frame(spark, books, q_rows))
    scored = (
        coded.join(F.broadcast(probes.select("query_id", "cell_id")), "cell_id")
        .join(lut, "query_id")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (F.round(_adc_expr(len(books)), 6) + F.lit(0.0)).alias("adc_sq"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_sq").asc(), F.col("neighbor_id").asc()
    )
    got = scored.withColumn("rank", F.row_number().over(w).cast("int")).where(
        F.col("rank") <= 10
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    scan = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert scan and any("cell_id" in l for l in scan)  # pruned, not full read

    key = lambda df: {  # noqa: E731
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["adc_sq"])
        for r in df.collect()
    }
    assert key(got) == key(ivf_pq_topk(emb, queries, k=10))


def test_ks_statistic_drops_one_sided_groups(spark):
    """A group with rows in only ONE segment has no defined KS (the
    n_a*n_b denominator would be zero) — it must be absent, not
    Infinity/NULL, on both engines."""
    from spark_hadoop_automation_in_cloud_spark.operators.checks import ks_statistic

    rows = [("only_a", "a", 1.0), ("only_a", "a", 2.0), ("both", "a", 1.0), ("both", "b", 2.0)]
    df = spark.createDataFrame(rows, "k string, seg string, value double")
    out = {r["k"] for r in ks_statistic(df, ["k"], "seg", "a", "b", "value").collect()}
    assert out == {"both"}


# --- round 7 additions: graphs, evals, corpus stats, BPE, privacy ------------


def test_triangle_count_k4_and_normalization(spark):
    """K4 has 4 triangles, every node in 3; duplicate and reversed edges
    must normalize away; a pendant edge adds no triangles."""
    from spark_hadoop_automation_in_cloud_spark.operators.components import triangle_count

    k4 = [(a, b) for a in range(1, 5) for b in range(1, 5) if a != b]
    edges = k4 + [(2, 1), (4, 5)]  # dupes in both orientations + pendant
    df = spark.createDataFrame(edges, "u bigint, v bigint")
    got = {r["u"]: r["tri_count"] for r in triangle_count(df, "u", "v").collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_triangle_count_hub_wedges_charged_to_leaves(spark):
    """A star (hub + leaves, no leaf-leaf edges) has zero triangles and —
    because orientation points leaves at the hub — zero wedges pivoting
    on the hub; one closed leaf pair yields exactly one triangle."""
    from spark_hadoop_automation_in_cloud_spark.operators.components import triangle_count

    star = [(0, i) for i in range(1, 8)]
    df = spark.createDataFrame(star, "u bigint, v bigint")
    assert triangle_count(df, "u", "v").count() == 0
    closed = spark.createDataFrame(star + [(1, 2)], "u bigint, v bigint")
    got = {r["u"]: r["tri_count"] for r in triangle_count(closed, "u", "v").collect()}
    assert got == {0: 1, 1: 1, 2: 1}


def test_roc_auc_hand_values(spark):
    """Perfect ranking → 1.0; anti-ranking → 0.0; all-tied scores → 0.5;
    a known mixed case matches the hand-computed Mann-Whitney value."""
    from spark_hadoop_automation_in_cloud_spark.operators.evals import roc_auc

    def auc_of(rows):
        df = spark.createDataFrame(rows, "g string, y boolean, s double")
        out = roc_auc(df, ["g"], "y", "s").collect()
        return {r["g"]: (r["n_pos"], r["n_neg"], r["auc"]) for r in out}

    perfect = [("p", True, 0.9), ("p", True, 0.8), ("p", False, 0.2), ("p", False, 0.1)]
    anti = [("a", True, 0.1), ("a", False, 0.9)]
    tied = [("t", True, 0.5), ("t", False, 0.5), ("t", True, 0.5), ("t", False, 0.5)]
    # mixed: pos at .9/.4, neg at .6/.4 → pairs: (.9 beats both)=2,
    # (.4 vs .6 loses)=0, (.4 ties .4)=0.5 → AUC = 2.5/4
    mixed = [("m", True, 0.9), ("m", True, 0.4), ("m", False, 0.6), ("m", False, 0.4)]
    got = auc_of(perfect + anti + tied + mixed)
    assert got["p"] == (2, 2, 1.0)
    assert got["a"] == (1, 1, 0.0)
    assert got["t"] == (2, 2, 0.5)
    assert got["m"] == (2, 2, 0.625)


def test_roc_auc_drops_one_class_groups(spark):
    from spark_hadoop_automation_in_cloud_spark.operators.evals import roc_auc

    rows = [("only_pos", True, 0.5), ("ok", True, 0.5), ("ok", False, 0.4)]
    df = spark.createDataFrame(rows, "g string, y boolean, s double")
    assert {r["g"] for r in roc_auc(df, ["g"], "y", "s").collect()} == {"ok"}


def test_calibration_bins_clamp_and_means(spark):
    """Scores at/over the [0,1] edges land in the edge bins; frac_pos and
    mean_score match hand arithmetic."""
    from spark_hadoop_automation_in_cloud_spark.operators.evals import calibration_bins

    rows = [
        ("g", True, 1.0),   # clamps into bin 9
        ("g", False, 0.95),
        ("g", True, 0.0),   # bin 0
        ("g", False, -0.2),  # clamps into bin 0
        ("g", True, 0.41),  # bin 4
    ]
    df = spark.createDataFrame(rows, "g string, y boolean, s double")
    out = {r["bin"]: r for r in calibration_bins(df, ["g"], "y", "s").collect()}
    assert set(out) == {0, 4, 9}
    assert (out[9]["n"], out[9]["n_pos"], out[9]["frac_pos"]) == (2, 1, 0.5)
    assert out[9]["mean_score"] == 0.975
    assert (out[0]["n"], out[0]["mean_score"]) == (2, -0.1)
    assert out[4]["bin_lo"] == 0.4


def test_pmi_collocations_hand_corpus(spark):
    """'of the' dominates a corpus built to contain it; PMI matches the
    closed-form ln(c_xy*N/(c1*c2)) on hand counts."""
    import math

    from spark_hadoop_automation_in_cloud_spark.operators.textops import pmi_collocations

    docs = spark.createDataFrame(
        [("of the king",)] * 5 + [("of a the end",)] * 3, "text string"
    )
    out = pmi_collocations(docs, "text", min_count=5, topk=10).collect()
    # bigrams: 5x(of,the) 5x(the,king) 3x(of,a) 3x(a,the) 3x(the,end) → N=19
    # pairs with count>=5: left counts of=5+3=8, the=5+3=8;
    # right counts the=5+3=8, king=5
    want = {
        ("of", "the"): (5, round(math.log(5 * 19 / (8 * 8)), 6)),
        ("the", "king"): (5, round(math.log(5 * 19 / (8 * 5)), 6)),
    }
    got = {(r["w1"], r["w2"]): (r["n_pair"], r["pmi"]) for r in out}
    assert got == want


def test_zipf_points_and_slope_pure_power_law(spark):
    """A corpus whose token counts are exactly c/rank has slope -1."""
    from spark_hadoop_automation_in_cloud_spark.operators.linalg import grouped_ols
    from spark_hadoop_automation_in_cloud_spark.operators.textops import zipf_token_points

    words = []
    for rank, tok in enumerate(["alpha", "beta", "gamma", "delta"], start=1):
        words += [tok] * (120 // rank)
    docs = spark.createDataFrame([("s", " ".join(words))], "source string, text string")
    pts = zipf_token_points(docs, ["source"], "text", top_n=4)
    got = grouped_ols(pts, ["source"], "ln_rank", "ln_freq").collect()[0]
    assert got["n_points"] == 4
    assert abs(got["slope"] + 1.0) < 0.01  # exact -1 up to count flooring


def test_bpe_greedy_nonoverlap_and_merge_table(spark):
    """'a a a' under merge (a,a) → 'aa a' (no re-fusion in one round);
    the merge table matches a hand-run of the greedy trainer."""
    from spark_hadoop_automation_in_cloud_spark.operators.bpe import bpe_merges

    # freq-weighted corpus: 'abab' x3, 'aaa' x2  → chars a,b
    docs = spark.createDataFrame(
        [("abab abab abab aaa aaa",)], "text string"
    )
    out = [
        (r["step"], r["lhs"], r["rhs"], r["merged"], r["pair_count"])
        for r in bpe_merges(docs, "text", n_merges=3).collect()
    ]
    # round 1 pairs: abab: (a,b)x2,(b,a)x1 each x3 → (a,b)=6,(b,a)=3;
    # aaa: (a,a)x2 x2 → 4.  argmax (a,b) → 'ab ab', 'a a a'
    # round 2 pairs: (ab,ab)=3, (a,a)=4 → argmax (a,a) → 'aa a' (greedy!)
    # round 3 pairs: (ab,ab)=3, (aa,a)=2 → argmax (ab,ab)
    assert out == [
        (1, "a", "b", "ab", 6),
        (2, "a", "a", "aa", 4),
        (3, "ab", "ab", "abab", 3),
    ]


def test_bpe_exhausts_pairs_gracefully(spark):
    """Single-char vocabulary has no pairs: the merge table is empty and
    nothing raises, on both the kernel and the SQL twin."""
    import duckdb

    from spark_hadoop_automation_in_cloud_spark.operators.bpe import (
        bpe_merges,
        sql_bpe_merges,
    )

    docs = spark.createDataFrame([("a b c a",)], "text string")
    assert bpe_merges(docs, "text", n_merges=2).count() == 0
    con = duckdb.connect()
    con.execute("CREATE TABLE docs AS SELECT 'a b c a' AS text")
    assert con.execute(sql_bpe_merges("docs", "text", 2)).fetchdf().empty


def test_bpe_sql_twins_survive_pair_exhaustion(spark):
    """When training exhausts distinct pairs BEFORE n_merges (here: 3
    learnable merges, n_merges=4), the exhausted round's empty t{i} must
    be a NO-OP in every SQL rewrite chain — not empty the frame.  Spark
    applies the shorter rule list and encodes every document; the twins
    (encode, merges, segmentation) must agree row-for-row."""
    import duckdb

    from spark_hadoop_automation_in_cloud_spark.operators.bpe import (
        bpe_encode,
        bpe_merges,
        segmentation_stats,
        sql_bpe_encode,
        sql_bpe_merges,
        sql_segmentation_stats,
    )
    from tests.oracle import compare

    # 'abab' exhausts after 3 merges: (a,b)→ab, (ab,ab)→abab, then the
    # leftover 'abab ab'-style pairs run out once every word is 1 symbol
    rows = [(1, "s1", "abab abab"), (2, "s1", "ab"), (3, "s2", "abab")]
    docs = spark.createDataFrame(rows, "doc_id bigint, source string, text string")
    rules = [
        (r["lhs"], r["rhs"]) for r in bpe_merges(docs, "text", n_merges=4).collect()
    ]
    assert len(rules) < 4  # the premise: exhaustion actually happened

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{s}', '{t}')" for i, s, t in rows)
        + ") v(doc_id, source, text)"
    )
    enc = bpe_encode(docs, "doc_id", "text", rules).select(
        "doc_id", "n_tokens", F.array_join("token_ids", ",").alias("token_ids")
    )
    assert enc.count() == 3  # every doc still encodes on Spark
    for sp_df, sql in (
        (
            enc,
            "SELECT doc_id, n_tokens, array_to_string(token_ids, ',') AS token_ids"
            f" FROM ({sql_bpe_encode('documents', 'doc_id', 'text', 4)})",
        ),
        (
            bpe_merges(docs, "text", n_merges=4),
            sql_bpe_merges("documents", "text", 4),
        ),
        (
            segmentation_stats(docs, ["source"], "text", rules),
            sql_segmentation_stats("documents", ["source"], "text", 4),
        ),
    ):
        assert compare(sp_df, con, sql, "bpe_exhaustion_parity") == []


def test_bpe_sampled_rules_match_full_when_sample_is_whole_vocab(spark):
    """bpe_merges_sampled with sample_mod=1 IS bpe_merges (the parity
    contract sampled training rests on), and with a real modulus the
    sampled trajectory equals full training on the surviving vocabulary
    — rule counts are exact corpus frequencies of the sampled words."""
    from spark_hadoop_automation_in_cloud_spark.operators.bpe import (
        bpe_merges,
        bpe_merges_sampled,
        sampled_word_freqs,
        word_freqs,
    )

    docs = spark.createDataFrame(
        [("abab abab abab aaa aaa zq zq xyxy",)], "text string"
    )
    full = [tuple(r) for r in bpe_merges(docs, "text", n_merges=3).collect()]
    degenerate = [
        tuple(r)
        for r in bpe_merges_sampled(
            docs, "text", n_merges=3, sample_mod=1
        ).collect()
    ]
    assert degenerate == full
    # a real modulus keeps a strict, deterministic subset with exact freqs
    wf = {r["word"]: r["freq"] for r in word_freqs(docs, "text").collect()}
    sf = {
        r["word"]: r["freq"]
        for r in sampled_word_freqs(docs, "text", 2).collect()
    }
    assert set(sf) <= set(wf) and all(wf[w] == f for w, f in sf.items())
    import pytest as _pytest

    with _pytest.raises(ValueError):
        sampled_word_freqs(docs, "text", 0)


def test_bpe_greedy_loop_checkpoint_rounds_match_persist_rounds(spark, monkeypatch):
    """The lineage-control path (``_CHECKPOINT_EVERY`` smaller than
    n_merges) learns byte-identical rules to the pure-persist path —
    checkpoints must never perturb the trajectory."""
    from spark_hadoop_automation_in_cloud_spark.operators import bpe
    from spark_hadoop_automation_in_cloud_spark.operators.bpe import (
        bpe_merges_sampled,
    )

    docs = spark.createDataFrame(
        [("abab abab abab aaa aaa cdcd cdcd dd",)], "text string"
    )
    monkeypatch.setattr(bpe, "_CHECKPOINT_EVERY", 2)
    a = [
        tuple(r)
        for r in bpe_merges_sampled(docs, "text", n_merges=5, sample_mod=1).collect()
    ]
    monkeypatch.setattr(bpe, "_CHECKPOINT_EVERY", 100)
    b = [
        tuple(r)
        for r in bpe_merges_sampled(docs, "text", n_merges=5, sample_mod=1).collect()
    ]
    assert a == b and len(a) >= 4


def test_bpe_encode_hand_trace_and_id_assignment(spark):
    """Hand-traced encode: under rules [(a,a),(a,b)], 'aaab' folds
    'a a a b' → 'aa a b' → 'aa ab' = ids [95, 96] (base ids are
    ascii−32, merges take 95+ in training order); duplicate merged
    strings reuse the first id (insert-if-absent); un-gated words
    (non-ASCII) drop; docs with no encodable word drop entirely."""
    from spark_hadoop_automation_in_cloud_spark.operators.bpe import (
        bpe_encode,
        token_id_map,
    )

    docs = spark.createDataFrame(
        [(1, "aaab ab"), (2, "ab Xé"), (3, "é")],
        "doc_id bigint, text string",
    )
    got = {
        r["doc_id"]: (r["n_tokens"], list(r["token_ids"]))
        for r in bpe_encode(docs, "doc_id", "text", [("a", "a"), ("a", "b")])
        .collect()
    }
    # 'ab' has no (a,a); fold (a,b) fuses it whole → [96]. 'xé' fails the
    # ASCII gate (doc 2 keeps only 'ab'); doc 3 has no encodable word and
    # DROPS (inner join + group by — it must be absent, not NULL-valued)
    assert got == {1: (3, [95, 96, 96]), 2: (1, [96])}
    # plain chars map through the fixed alphabet: 'x' = ascii 120 - 32
    enc = {
        r["doc_id"]: list(r["token_ids"])
        for r in bpe_encode(docs, "doc_id", "text", []).collect()
    }
    assert enc[1] == [ord(c) - 32 for c in "aaab"] + [ord(c) - 32 for c in "ab"]
    # id assignment: duplicate merged string reuses the first id
    assert token_id_map([("a", "b"), ("ab", "c"), ("a", "bc")]) == {
        "ab": 95,
        "abc": 96,
    }


def test_bpe_decode_roundtrip_and_unknown_id(spark):
    """decode(encode(x)) == the concatenation of x's gated lowercase
    words (the encode scheme carries no word boundary — documented
    lossiness), under rules LEARNED from the same corpus; an id outside
    the vocab decodes the whole document to NULL, never to a silently
    shorter string."""
    from spark_hadoop_automation_in_cloud_spark.operators.bpe import (
        MAX_WORD_LEN,
        bpe_encode,
        bpe_merges,
        decode_token_ids,
    )

    docs = spark.createDataFrame(
        [
            (1, "the theme The THE themes"),
            (2, "ababab ab ba"),
            (3, "mixed Xé gate " + "w" * (MAX_WORD_LEN + 1)),
        ],
        "doc_id bigint, text string",
    )
    rules = [
        (r["lhs"], r["rhs"])
        for r in bpe_merges(docs, "text", n_merges=4).collect()
    ]
    got = {
        r["doc_id"]: r["decoded"]
        for r in decode_token_ids(
            bpe_encode(docs, "doc_id", "text", rules), rules
        ).collect()
    }

    def gated_concat(text):
        return "".join(
            w
            for w in text.lower().split(" ")
            if w and len(w) <= MAX_WORD_LEN and all(" " <= c <= "~" for c in w)
        )

    assert got == {
        1: gated_concat("the theme The THE themes"),
        2: gated_concat("ababab ab ba"),
        # doc 3: 'xé' and the overlong word are un-gated; 'mixed gate' remain
        3: "mixedgate",
    }
    bad = spark.createDataFrame([(9, [999])], "doc_id bigint, token_ids array<int>")
    assert decode_token_ids(bad, rules).collect()[0]["decoded"] is None


def test_logistic_fit_separable_and_report_shape(spark):
    """On a linearly separable set the fitted filter classifies every
    row (accuracy 1.0) with the right weight sign; the report emits one
    row per weight (intercept + features, feature-name order) sharing
    the accuracy; n_iter < 1 raises."""
    import pytest as _pytest

    from spark_hadoop_automation_in_cloud_spark.operators.logistic import (
        logistic_fit,
        logistic_train_report,
    )
    from spark_hadoop_automation_in_cloud_spark.session import owned

    rows = [(1.0, 1.0 + 0.1 * i) for i in range(10)] + [
        (0.0, -1.0 - 0.1 * i) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "y double, x double")
    w = logistic_fit(df, ["x"], "y", n_iter=10, lr=5.0)
    assert len(w) == 2 and w[1] > 0  # positive slope separates
    rep = {
        r["feature"]: (r["weight"], r["train_accuracy"])
        for r in logistic_train_report(df, ["x"], "y", n_iter=10, lr=5.0).collect()
    }
    assert set(rep) == {"intercept", "x"}
    assert rep["x"][0] == w[1] and rep["x"][1] == 1.0 == rep["intercept"][1]
    with _pytest.raises(ValueError, match="n_iter"):
        logistic_fit(df, ["x"], "y", n_iter=0)
    # a caller-held persist must not perturb the trajectory (it only
    # changes WHERE rounds 2..n read the features from): a fit over the
    # frame held in an owned scope equals the fit over the raw frame, and
    # a fit leaves no persisted RDD behind (count compared to pre-call —
    # the session is shared across tests)
    with owned(spark) as scope:
        assert logistic_fit(scope.persist(df), ["x"], "y", n_iter=10, lr=5.0) == w
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    assert logistic_fit(df, ["x"], "y", n_iter=10, lr=5.0) == w
    assert jsc.getPersistentRDDs().size() == before


def test_exp_gradient_weights_hand_trace(spark):
    """Two domains, losses 1.0 and 0.0, eta=0.5, one round:
    b = 0.5, u = (0.5·e^0.25, 0.5·e^-0.25), w = softmax-ish —
    w_hard = e^0.25/(e^0.25+e^-0.25) = 1/(1+e^-0.5) ≈ 0.6224593 —
    the HARD domain gains weight (the DoReMi direction); weights sum
    to ~1 and budgets floor(total·w).  n_rounds < 1 raises."""
    import math

    import pytest as _pytest

    from spark_hadoop_automation_in_cloud_spark.operators.reweight import (
        exp_gradient_weights,
        sql_reweight_ctes,
    )

    cells = spark.createDataFrame(
        [("hard", 10, 1.0), ("easy", 10, 0.0)],
        "domain string, n_docs bigint, mean_loss double",
    )
    got = {
        r["source"]: (r["weight"], r["token_budget"])
        for r in exp_gradient_weights(
            spark, cells, n_rounds=1, eta=0.5, total_budget=1000
        ).collect()
    }
    want_hard = round(1.0 / (1.0 + math.exp(-0.5)), 7)
    assert got["hard"][0] == want_hard
    assert got["easy"][0] == round(1.0 - want_hard, 7)
    assert got["hard"][1] == math.floor(1000 * want_hard)
    assert abs(got["hard"][0] + got["easy"][0] - 1.0) < 2e-7
    # more rounds move further in the same direction, monotonically
    w5 = {
        r["source"]: r["weight"]
        for r in exp_gradient_weights(spark, cells, n_rounds=5).collect()
    }
    assert w5["hard"] > got["hard"][0]
    with _pytest.raises(ValueError, match="n_rounds"):
        sql_reweight_ctes("cells", n_rounds=0)


def test_pack_token_counts_matches_text_form(spark):
    """pack_sequences == pack_token_counts fed the whitespace counts
    (the refactor is behavior-preserving), and real counts change the
    layout as expected (a 3-token doc under capacity 4 straddles no
    boundary that the 5-token whitespace form did)."""
    from spark_hadoop_automation_in_cloud_spark.operators.packing import (
        pack_sequences,
        pack_token_counts,
    )
    import pyspark.sql.functions as SF

    docs = spark.createDataFrame(
        [("s1", 1, "a b c d e"), ("s1", 2, "f g"), ("s2", 3, "h")],
        "source string, doc_id bigint, text string",
    )
    a = pack_sequences(docs, "source", "doc_id", "text", capacity=4)
    b = pack_token_counts(
        docs.withColumn("nt", SF.size(SF.split("text", " "))),
        "source",
        "doc_id",
        "nt",
        capacity=4,
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    c = {
        (r["doc_id"], r["bin_id"]): (r["tok_start"], r["tok_end"])
        for r in pack_token_counts(
            docs.withColumn("nt", SF.lit(3)), "source", "doc_id", "nt", capacity=4
        ).collect()
    }
    # s1: doc1 tokens 0-2 (bin 0), doc2 tokens 3-5 → straddles bins 0/1
    assert c[(1, 0)] == (0, 3) and c[(2, 0)] == (0, 1) and c[(2, 1)] == (1, 3)


def test_k_anonymity_histogram(spark):
    from spark_hadoop_automation_in_cloud_spark.operators.checks import k_anonymity_report

    rows = [("x", 1)] * 3 + [("y", 1)] * 3 + [("z", 2)]
    df = spark.createDataFrame(rows, "qa string, qb int")
    out = {r["k"]: r for r in k_anonymity_report(df, ["qa", "qb"], k_threshold=2).collect()}
    assert set(out) == {1, 3}
    assert (out[3]["n_groups"], out[3]["n_rows"], out[3]["suppressed"]) == (2, 6, 0)
    assert (out[1]["n_groups"], out[1]["suppressed"]) == (1, 1)
    assert out[1]["row_share"] == round(1 / 7, 6)


def test_mmr_rerank_diversifies(spark):
    """With lam=0.5, after the top pick its near-duplicate must lose to
    the off-axis candidate despite higher query similarity; k_select
    past the candidate count returns the same rows."""
    from spark_hadoop_automation_in_cloud_spark.operators.similarity import mmr_rerank

    rows = [
        (0, [1.0, 0.0]),        # query
        (1, [1.0, 0.3]),        # best, picked first
        (2, [1.0, 0.3001]),     # near-dup of 1 (sim→1) → redundancy ≈ 1
        (3, [1.0, -0.3]),       # mirrored: same query sim, low sim to 1
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    out = mmr_rerank(
        df, df.where(F.col("vec_id") == 0), k_candidates=3, k_select=3, lam=0.5
    ).collect()
    order = [r["neighbor_id"] for r in sorted(out, key=lambda r: r["position"])]
    assert order == [1, 3, 2]
    # greedy scores are monotone non-increasing only within... positions exist
    assert {r["position"] for r in out} == {1, 2, 3}
    # asking for more picks than candidates stops when they run out
    more = mmr_rerank(
        df, df.where(F.col("vec_id") == 0), k_candidates=3, k_select=5, lam=0.5
    ).collect()
    assert sorted(more) == sorted(out)


def test_segmentation_stats_hand_compression(spark):
    """Applying the single merge (a,b) to 'ab ab cd' compresses the two
    'ab' instances from 2 symbols to 1."""
    from spark_hadoop_automation_in_cloud_spark.operators.bpe import segmentation_stats

    docs = spark.createDataFrame([("s1", "ab ab cd")], "source string, text string")
    out = segmentation_stats(docs, ["source"], "text", [("a", "b")]).collect()[0]
    # vocab: ab(freq 2), cd(freq 1); before: 2*2+1*2=6; after: 2*1+1*2=4
    assert (out["n_words"], out["n_tokens"]) == (2, 3)
    assert (out["syms_before"], out["syms_after"]) == (6, 4)
    assert out["compression"] == 1.5


def test_rolling_volume_anomaly_spike_and_warmup(spark):
    """A spike after 7 full alternating-volume days flags; warm-up days
    (incomplete trailing window) and zero-variance histories are absent."""
    import datetime

    from spark_hadoop_automation_in_cloud_spark.operators.checks import (
        rolling_volume_anomaly,
    )

    rows = []
    counts = [10, 11, 10, 11, 10, 11, 10, 30]
    for i, c in enumerate(counts):
        d = datetime.date(2024, 1, 1) + datetime.timedelta(days=i)
        rows += [("t", d)] * c
    # a second type with CONSTANT volume → zero variance → never reports
    for i in range(8):
        d = datetime.date(2024, 1, 1) + datetime.timedelta(days=i)
        rows += [("flat", d)] * 5
    df = spark.createDataFrame(rows, "event_type string, d date")
    out = rolling_volume_anomaly(df, ["event_type"], "d").collect()
    assert len(out) == 1 and out[0]["event_type"] == "t"
    r = out[0]
    assert r["day"] == "2024-01-08" and r["n"] == 30 and r["is_anomaly"] == 1
    # z = (30 - 73/7) / sqrt((7*763 - 73^2)/42)
    import math

    want = round((30 - 73 / 7) / math.sqrt((7 * 763 - 73 * 73) / 42), 6)
    assert r["z"] == want


def test_cohens_kappa_hand_values(spark):
    """Perfect agreement → 1; independent-marginal agreement → ~0; a
    textbook 2x2 case matches the closed form."""
    from spark_hadoop_automation_in_cloud_spark.operators.evals import cohens_kappa

    # classic: 20 a/a, 5 a/b, 10 b/a, 15 b/b
    rows = (
        [("a", "a")] * 20 + [("a", "b")] * 5 + [("b", "a")] * 10 + [("b", "b")] * 15
    )
    df = spark.createDataFrame(rows, "t string, p string")
    r = cohens_kappa(df, "t", "p").collect()[0]
    # po = 35/50; pe = (25*30 + 25*20)/2500 = 0.5; kappa = 0.4
    assert (r["n"], r["p_o"], r["p_e"], r["kappa"]) == (50, 0.7, 0.5, 0.4)
    perfect = spark.createDataFrame([("x", "x")] * 4 + [("y", "y")] * 6, "t string, p string")
    assert cohens_kappa(perfect, "t", "p").collect()[0]["kappa"] == 1.0


def test_two_proportion_ztest_hand_values(spark):
    """A known 2x2 matches the pooled-z closed form; one-sided and
    zero-variance groups drop."""
    import math

    from spark_hadoop_automation_in_cloud_spark.operators.evals import (
        two_proportion_ztest,
    )

    rows = (
        [("g", "a", 1)] * 30 + [("g", "a", 0)] * 70
        + [("g", "b", 1)] * 20 + [("g", "b", 0)] * 80
        + [("one_sided", "a", 1)] * 5
        + [("flat", "a", 0)] * 5 + [("flat", "b", 0)] * 5
    )
    df = spark.createDataFrame(rows, "g string, seg string, hit int")
    out = {r["g"]: r for r in
           two_proportion_ztest(df, ["g"], "seg", "a", "b", "hit").collect()}
    assert set(out) == {"g"}
    r = out["g"]
    p = 50 / 200
    want = round((0.3 - 0.2) / math.sqrt(p * (1 - p) * (1 / 100 + 1 / 100)), 6)
    assert (r["n_a"], r["s_a"], r["n_b"], r["s_b"]) == (100, 30, 100, 20)
    assert r["z"] == want
    assert r["significant_95"] == 0  # z ≈ 1.633 < 1.96


def test_correlated_sample_preserves_referential_integrity(spark):
    """Every child row whose root was kept survives, none whose root was
    dropped does; the same salt reproduces the identical sample."""
    from spark_hadoop_automation_in_cloud_spark.operators.sampling import correlated_sample

    root = spark.createDataFrame([(i,) for i in range(200)], "k bigint")
    child = spark.createDataFrame(
        [(i % 200, i) for i in range(1000)], "fk bigint, payload bigint"
    )
    out = correlated_sample(root, "k", {"c": (child, "fk")}, rate_num=3, rate_den=10)
    kept_keys = {r["k"] for r in out["root"].collect()}
    child_keys = {r["fk"] for r in out["c"].collect()}
    assert child_keys == {k for k in kept_keys if k in range(200)}
    # every kept root's children ALL survive
    per_key = out["c"].groupBy("fk").count().collect()
    assert all(r["count"] == 5 for r in per_key)
    # deterministic: rerun equals
    again = correlated_sample(root, "k", {"c": (child, "fk")}, rate_num=3, rate_den=10)
    assert {r["k"] for r in again["root"].collect()} == kept_keys


def test_read_json_quarantine_splits_and_preserves_raw(spark, tmp_path):
    from spark_hadoop_automation_in_cloud_spark.io import read_json_quarantine

    p = tmp_path / "landing"
    p.mkdir()
    (p / "good.json").write_text(
        '{"id": 1, "s": "a"}\n{"id": 2, "s": "b"}\n{"id": 3}\n'
    )
    (p / "bad.json").write_text('{"id": 4, "s": BROKEN\nnot json at all\n')
    parsed, quarantined = read_json_quarantine(spark, str(p), "id bigint, s string")
    rows = {r["id"]: r["s"] for r in parsed.collect()}
    # missing-field line still parses (schema evolution, not quarantine)
    assert rows == {1: "a", 2: "b", 3: None}
    raw = sorted(r["raw"] for r in quarantined.collect())
    assert raw == ["not json at all", '{"id": 4, "s": BROKEN']


def test_clustering_coefficient_hand_graph(spark):
    """K3 plus a pendant: triangle nodes score 1.0; the degree-2 bridge
    node in no triangle scores 0; the pendant (degree 1) is absent."""
    from spark_hadoop_automation_in_cloud_spark.operators.components import (
        clustering_coefficient,
    )

    edges = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (3, 5), (5, 6)]
    # nodes 1,2: deg 2 in 1 triangle -> 1.0; 3: deg 4, 2 triangles -> 4/12
    # 4: deg 2 in triangle {3,4,5} -> 1.0; 5: deg 3, 1 tri -> 2/6; 6: deg 1 absent
    df = spark.createDataFrame(edges, "u bigint, v bigint")
    got = {
        r["u"]: (r["degree"], r["tri_count"], r["clustering_coef"])
        for r in clustering_coefficient(df, "u", "v").collect()
    }
    assert got == {
        1: (2, 1, 1.0),
        2: (2, 1, 1.0),
        4: (2, 1, 1.0),
        5: (3, 1, round(1 / 3, 6)),
        3: (4, 2, round(2 / 6, 6)),
    }


def test_personalized_pagerank_localizes_mass(spark):
    """On two disconnected triangles with seeds only in the first, all
    rank mass stays in the seeded component; ranks sum to ~1; a
    seedless graph raises."""
    import pytest as _pytest

    from spark_hadoop_automation_in_cloud_spark.operators.components import (
        personalized_pagerank,
    )

    tri = lambda base: [  # noqa: E731
        (base + a, base + b) for a, b in [(0, 1), (1, 0), (1, 2), (2, 1), (0, 2), (2, 0)]
    ]
    edges = spark.createDataFrame(tri(0) + tri(10), "src bigint, dst bigint")
    seeds = spark.createDataFrame([(0,)], "node bigint")
    out = {r["node"]: r["rank"] for r in personalized_pagerank(edges, seeds).collect()}
    assert all(out[n] == 0.0 for n in (10, 11, 12))
    assert abs(sum(out.values()) - 1.0) < 1e-5
    assert out[0] > out[1] == out[2] > 0  # seed highest, symmetric others tie
    orphan = spark.createDataFrame([(99,)], "node bigint")
    with _pytest.raises(ValueError):
        personalized_pagerank(edges, orphan)


def test_rolling_volume_anomaly_flags_dark_days(spark):
    """A fully dark day emits NO aggregate row — the calendar spine must
    zero-fill it so the monitor fires z << 0 on the outage (the review
    finding: a ROWS frame over observed days only could never catch
    'a source going dark')."""
    import datetime

    from spark_hadoop_automation_in_cloud_spark.operators.checks import (
        rolling_volume_anomaly,
    )

    rows = []
    counts = [10, 11, 10, 11, 10, 11, 10, 0, 10]  # day 8 fully dark
    for i, c in enumerate(counts):
        d = datetime.date(2024, 2, 1) + datetime.timedelta(days=i)
        rows += [("t", d)] * c
    df = spark.createDataFrame(rows, "event_type string, d date")
    out = {r["day"]: r for r in rolling_volume_anomaly(df, ["event_type"], "d").collect()}
    assert "2024-02-08" in out
    dark = out["2024-02-08"]
    assert dark["n"] == 0 and dark["z"] < -2 and dark["is_anomaly"] == 1
    # the day after the outage sees the zero INSIDE its trailing window
    assert out["2024-02-09"]["n"] == 10


def test_rolling_volume_anomaly_null_group_and_span_guard(spark):
    """A NULL group key is ONE group (null-safe spine join — GROUP BY
    semantics; a null-rejecting join silently unmonitored exactly the
    rows with missing keys), and an absurd calendar span raises instead
    of densifying into decades of synthetic days."""
    import datetime

    import pytest as _pytest

    from spark_hadoop_automation_in_cloud_spark.operators.checks import (
        rolling_volume_anomaly,
    )

    rows = []
    counts = [10, 11, 10, 11, 10, 11, 10, 50]
    for i, c in enumerate(counts):
        d = datetime.date(2024, 3, 1) + datetime.timedelta(days=i)
        rows += [(None, d)] * c
    df = spark.createDataFrame(rows, "event_type string, d date")
    out = rolling_volume_anomaly(df, ["event_type"], "d").collect()
    assert len(out) == 1
    r = out[0]
    assert r["event_type"] is None and r["n"] == 50 and r["is_anomaly"] == 1
    # corrupt epoch-default date → span guard fires
    bad = spark.createDataFrame(
        rows + [(None, datetime.date(1970, 1, 1))], "event_type string, d date"
    )
    with _pytest.raises(ValueError, match="span"):
        rolling_volume_anomaly(bad, ["event_type"], "d")


def test_k_core_cascading_peel_and_empty(spark):
    """A K4 with a pendant chain: the chain peels in CASCADE (removing
    the tail drops its neighbor below k, and so on) leaving exactly the
    clique; k above the max density returns empty; convergence-budget
    exhaustion raises."""
    import pytest as _pytest

    from spark_hadoop_automation_in_cloud_spark.operators.components import k_core

    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    chain = [(3, 10), (10, 11), (11, 12)]
    df = spark.createDataFrame(k4 + chain, "u bigint, v bigint")
    got = {r["node"]: r["core_degree"] for r in k_core(df, "u", "v", k=3).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}
    assert k_core(df, "u", "v", k=4).count() == 0
    with _pytest.raises(RuntimeError, match="fixpoint"):
        k_core(df, "u", "v", k=3, max_rounds=1)  # chain needs 3 peels
    # peeling to EMPTY on the final permitted round IS convergence —
    # must return the empty core, not raise (r07 ADVICE item 3)
    one = spark.createDataFrame([(1, 2)], "u bigint, v bigint")
    assert k_core(one, "u", "v", k=2, max_rounds=1).count() == 0


def test_label_propagation_two_triangles_bridge(spark):
    """Two triangles joined by one bridge edge: LPA must split the
    (single connected) blob into its two dense parts.  The expected
    labels follow the deterministic 5-round trajectory by hand —
    count DESC / label ASC argmax, neighbors only (round 1: every
    triangle member adopts its smallest neighbor; by round 3 the left
    triangle agrees on 1 and the right on 3, and rounds 4-5 are
    stable)."""
    from spark_hadoop_automation_in_cloud_spark.operators.components import (
        label_propagation,
    )

    edges = [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6), (3, 4)]
    df = spark.createDataFrame(edges, "u bigint, v bigint")
    got = {
        r["node"]: (r["community"], r["community_size"])
        for r in label_propagation(df, "u", "v", n_rounds=5).collect()
    }
    assert got == {
        1: (1, 3),
        2: (1, 3),
        3: (1, 3),
        4: (3, 3),
        5: (3, 3),
        6: (3, 3),
    }
    import pytest as _pytest

    with _pytest.raises(ValueError, match="n_rounds"):
        label_propagation(df, "u", "v", n_rounds=0)
    # non-integral node ids raise loudly (r08 ADVICE item 3) instead of
    # silently casting to NULL labels while the DuckDB twin errors
    strs = spark.createDataFrame([("a", "b")], "u string, v string")
    with _pytest.raises(TypeError, match="integral node ids"):
        label_propagation(strs, "u", "v")


def test_graph_broadcast_dispatch_bit_equal(spark, monkeypatch):
    """The r10 join-strategy dispatch (broadcast the per-round node
    state into the edge joins when |V| fits AND the edge list is large
    enough to make its exchange the dominant cost) must be a pure plan
    change: forcing the broadcast arm (_BROADCAST_MIN_EDGE_ROWS=0) and
    forcing the sort-merge arm (_BROADCAST_NODES_MAX=0) must produce
    identical rows for LPA, k-core, modularity, connected components
    and personalized PageRank (whose only gate is the node count, so
    the open arm is its default broadcast)."""
    from spark_hadoop_automation_in_cloud_spark.operators import components
    from spark_hadoop_automation_in_cloud_spark.operators.components import (
        connected_components,
        k_core,
        label_propagation,
        modularity,
        personalized_pagerank,
    )

    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    edges = k4 + [(3, 10), (10, 11), (11, 12), (4, 5), (4, 6), (5, 6), (3, 4)]
    df = spark.createDataFrame(edges, "u bigint, v bigint")
    seeds = spark.createDataFrame([(0,), (4,)], "node bigint")

    def rows(frame):
        return sorted(tuple(r) for r in frame.collect())

    def run_all(gate: str):
        with monkeypatch.context() as m:
            m.setattr(components, gate, 0)
            lpa = label_propagation(df, "u", "v", n_rounds=5)
            return [
                rows(lpa),
                rows(k_core(df, "u", "v", k=3)),
                rows(modularity(df, lpa, "u", "v")),
                rows(connected_components(df, "u", "v")),
                rows(personalized_pagerank(df, seeds, "u", "v", n_iter=5)),
            ]

    # open gate vs closed gate, operator by operator
    ops = (
        "label_propagation",
        "k_core",
        "modularity",
        "connected_components",
        "personalized_pagerank",
    )
    opened = run_all("_BROADCAST_MIN_EDGE_ROWS")
    closed = run_all("_BROADCAST_NODES_MAX")
    for op, b, s in zip(ops, opened, closed):
        assert b == s, op


def test_exact_substring_dedup_keeper_semantics(spark):
    """A 3-gram passage shared by two docs survives in the minimum doc
    id and is removed from the other; unique text is untouched; a doc
    that is ALL boilerplate cleans to ''; NULL text behaves as the
    1-token empty doc."""
    from spark_hadoop_automation_in_cloud_spark.operators.dedup import (
        exact_substring_dedup,
    )

    rows = [
        (1, "the quick brown fox jumps"),
        (2, "intro words the quick brown fox closing"),
        (3, "the quick brown"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_kept"], r["clean_text"])
        for r in exact_substring_dedup(
            df, "doc_id", "text", n=3, min_doc_freq=2
        ).collect()
    }
    # doc 1 is the keeper of every shared gram -> untouched
    assert got[1] == (5, 5, "the quick brown fox jumps")
    # doc 2 (7 tokens) loses 'the quick brown fox' (grams 'the quick
    # brown' + 'quick brown fox' both keep doc 1, covering positions
    # 3-6), keeps its unique frame
    assert got[2] == (7, 3, "intro words closing")
    # doc 3 is nothing but the shared gram -> cleans to ''
    assert got[3] == (3, 0, "")
    # NULL text = the 1-token empty doc, kept verbatim
    assert got[4] == (1, 1, "")


def test_modularity_two_triangles_bridge(spark):
    """Closed-form check on the two-triangles-plus-bridge graph: m = 7,
    each triangle community has 3 internal edges and degree sum 7, so
    each contributes (4·7·3 − 49)/(4·49) = 35/196; a degenerate
    one-community-per-node partition of the same graph scores every
    singleton negative (no internal edges)."""
    from spark_hadoop_automation_in_cloud_spark.operators.components import (
        label_propagation,
        modularity,
    )

    edges = [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6), (3, 4)]
    df = spark.createDataFrame(edges, "u bigint, v bigint")
    labels = label_propagation(df, "u", "v", n_rounds=5).select(
        "node", "community"
    )
    got = {
        r["community"]: (
            r["n_members"],
            r["internal_edges"],
            r["degree_sum"],
            r["contribution"],
        )
        for r in modularity(df, labels, "u", "v").collect()
    }
    assert got == {
        1: (3, 3, 7, 35.0 / 196.0),
        3: (3, 3, 7, 35.0 / 196.0),
    }
    singletons = df.selectExpr("u AS node").union(df.selectExpr("v AS node")) \
        .distinct().selectExpr("node", "node AS community")
    per = modularity(df, singletons, "u", "v").collect()
    assert all(r["internal_edges"] == 0 and r["contribution"] < 0 for r in per)


def test_funnel_conversion_requires_time_order_and_window(spark):
    """Pin q191's ordering contract on a crafted frame: a user who
    purchased BEFORE ever viewing does not convert (set-intersection
    funnels would count them); a click exactly AT the first view's
    timestamp does not count (strictly after); a next step outside the
    24h window does not count."""
    import datetime as dt

    from spark_hadoop_automation_in_cloud_spark import queries as q

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ts(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    rows = [
        # user 1: clean view -> click -> purchase within windows
        (1, "view", ts(0)), (1, "click", ts(5)), (1, "purchase", ts(10)),
        # user 2: purchase BEFORE view — reaches step 1 only
        (2, "purchase", ts(0)), (2, "view", ts(5)), (2, "click", ts(10)),
        # user 3: click exactly at the first view's ts — not strictly after
        (3, "view", ts(0)), (3, "click", ts(0)),
        # user 4: click 25h after view — outside the 24h window
        (4, "view", ts(0)), (4, "click", ts(25 * 60)),
        # user 5: never views — not even step 1
        (5, "click", ts(0)), (5, "purchase", ts(1)),
    ]
    df = spark.createDataFrame(rows, "user_id bigint, event_type string, ts timestamp")
    df.createOrReplaceTempView("__funnel_events")

    # drive the registered kernel body on the crafted frame via monkey-read
    from unittest import mock

    with mock.patch(
        "spark_hadoop_automation_in_cloud_spark.queries.read_table",
        side_effect=lambda sp, d, t, **kw: sp.table("__funnel_events"),
    ):
        out = {
            r["step"]: (r["n_users"], r["conversion"])
            for r in q.q191_funnel_conversion(spark, "unused").collect()
        }
    # step 1: users 1-4 viewed; step 2: only users 1 and 2
    # (user 2's click IS after their first view); step 3: only user 1
    # (user 2 purchased before viewing)
    assert out == {
        1: (4, 1.0),
        2: (2, 0.5),
        3: (1, 0.25),
    }


def test_exact_substring_dedup_overlap_removal_wins(spark):
    """Pin the documented per-GRAM keeper contract on the overlap edge:
    with n=2, docs 'a b' / 'a b c' / 'b c', gram 'a b' keeps doc 1 and
    gram 'b c' keeps doc 2 — but doc 2's 'b' is removed by its
    NON-keeper copy of 'a b' (removal wins), so the passage 'b c'
    survives nowhere.  Aggressive-side trade, documented in the
    docstring; this test exists so the behavior is pinned, not
    accidental."""
    from spark_hadoop_automation_in_cloud_spark.operators.dedup import (
        exact_substring_dedup,
    )

    rows = [(1, "a b"), (2, "a b c"), (3, "b c")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        r["doc_id"]: (r["n_kept"], r["clean_text"])
        for r in exact_substring_dedup(
            df, "doc_id", "text", n=2, min_doc_freq=2
        ).collect()
    }
    assert got == {
        1: (2, "a b"),     # keeper of 'a b': untouched
        2: (1, "c"),       # loses 'a b' (non-keeper) which covers its 'b'
        3: (0, ""),        # non-keeper of 'b c': fully removed
    }


def test_iterative_operators_release_checkpoints_on_error(spark, monkeypatch, tmp_path):
    """The r11 guard: a convergence RuntimeError must not strand the
    call's localCheckpoint blocks.  k_core with an impossible round
    budget raises — and the session's persisted-RDD table must return
    to its pre-call size (the success path's contract extended to the
    error path)."""
    import pytest as _pytest

    from spark_hadoop_automation_in_cloud_spark.operators.components import (
        connected_components,
        k_core,
        personalized_pagerank,
    )
    from spark_hadoop_automation_in_cloud_spark.session import _persistent_rdd_ids

    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    chain = [(3, 10), (10, 11), (11, 12)]
    df = spark.createDataFrame(k4 + chain, "u bigint, v bigint")
    # leak check by SET DIFFERENCE, not count: the session is shared
    # across the suite and Spark's async ContextCleaner may unpersist an
    # EARLIER test's pending RDD between the two snapshots — a count
    # equality flakes on that (seen once in the r14 full suite), while
    # "the erroring call added no NEW pinned id" is timing-immune
    base = _persistent_rdd_ids(spark)
    with _pytest.raises(RuntimeError, match="fixpoint"):
        k_core(df, "u", "v", k=3, max_rounds=1)
    assert _persistent_rdd_ids(spark) - base == set()

    long_chain = spark.createDataFrame(
        [(i, i + 1) for i in range(400)], "a bigint, b bigint"
    )
    base = _persistent_rdd_ids(spark)
    with _pytest.raises(RuntimeError, match="converge"):
        connected_components(long_chain, "a", "b", max_rounds=2)
    assert _persistent_rdd_ids(spark) - base == set()

    # PPR's no-seed check fires after the edge and node-state pins
    orphan = spark.createDataFrame([(99,)], "node bigint")
    base = _persistent_rdd_ids(spark)
    with _pytest.raises(ValueError, match="no seed"):
        personalized_pagerank(df, orphan, "u", "v")
    assert _persistent_rdd_ids(spark) - base == set()

    # a crash before the label swap releases the cached signatures and
    # the component checkpoint, in the RDD table and the CacheManager
    from spark_hadoop_automation_in_cloud_spark.streaming import incremental

    def crash(*_):
        raise RuntimeError("crash before swap")

    monkeypatch.setattr(incremental, "commit_swap", crash)
    docs = spark.createDataFrame(
        [(i, f"the quick brown fox jumps {i % 5}") for i in range(30)],
        "doc_id bigint, text string",
    )
    cache = spark._jsparkSession.sharedState().cacheManager()
    cache_empty = cache.isEmpty()
    base = _persistent_rdd_ids(spark)
    with _pytest.raises(RuntimeError, match="crash before swap"):
        incremental.maintain_neardup_clusters(spark, docs, str(tmp_path), 0.5)
    assert _persistent_rdd_ids(spark) - base == set()
    assert cache.isEmpty() == cache_empty

    # a later batch merges into the persisted labels through
    # incremental_components and leaves no block behind either
    monkeypatch.undo()
    state = str(tmp_path / "ok")
    incremental.maintain_neardup_clusters(spark, docs.where("doc_id < 15"), state, 0.5)
    base = _persistent_rdd_ids(spark)
    labels = incremental.maintain_neardup_clusters(
        spark, docs.where("doc_id >= 15"), state, 0.5
    )
    assert _persistent_rdd_ids(spark) - base == set()
    assert labels.count() == 30


def test_chain_gate_arms_bit_equal(spark, monkeypatch):
    """Both arms of the lineage-cut chain gate (:func:`_cut_every`) give
    bit-equal rows: the default cadence chains rounds between cuts on
    these small graphs, and ``_CHAIN_MAX_EDGE_ROWS = 0`` forces a cut
    every round.  Covers pagerank with and without dangling nodes,
    personalized_pagerank and label_propagation."""
    from spark_hadoop_automation_in_cloud_spark import session
    from spark_hadoop_automation_in_cloud_spark.operators import components

    sym = spark.createDataFrame(
        [(a, b) for a in range(9) for b in range(9) if a != b and (a * b + a + b) % 4],
        "src bigint, dst bigint",
    )
    dangling = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 2), (2, 3), (3, 1), (1, 4)], "src bigint, dst bigint"
    )
    seeds = spark.createDataFrame([(0,), (5,)], "node bigint")
    calls = {
        "pagerank": lambda: components.pagerank(sym, n_iter=7),
        "pagerank_dangling": lambda: components.pagerank(dangling, n_iter=7),
        "personalized_pagerank": lambda: components.personalized_pagerank(
            sym, seeds, n_iter=7
        ),
        "label_propagation": lambda: components.label_propagation(
            sym, "src", "dst", n_rounds=5
        ),
    }
    pins = []
    real_pin = session._Owned.pin

    def counting_pin(self, df):
        pins.append(1)
        return real_pin(self, df)

    monkeypatch.setattr(session._Owned, "pin", counting_pin)

    def run(name):
        pins.clear()
        return sorted(tuple(r) for r in calls[name]().collect()), len(pins)

    chained = {name: run(name) for name in calls}
    monkeypatch.setattr(components, "_CHAIN_MAX_EDGE_ROWS", 0)
    every_round = {name: run(name) for name in calls}
    for name in calls:
        assert chained[name][0] == every_round[name][0], name
    # the dangling-free loops really took the chained arm by default
    for name in ("pagerank", "personalized_pagerank", "label_propagation"):
        assert chained[name][1] < every_round[name][1], name
    # a dangling graph cuts every round on either arm
    assert chained["pagerank_dangling"][1] == every_round["pagerank_dangling"][1]


def test_q185_releases_its_prologue_checkpoint(spark, sf_dir):
    """Two held q185 results leave at most their two result checkpoints
    pinned: the prologue's purchases pin is released once the eager
    operator's output is materialized."""
    from spark_hadoop_automation_in_cloud_spark.session import _persistent_rdd_ids
    from spark_hadoop_automation_in_cloud_spark.queries import (
        q185_personalized_pagerank,
    )

    base = _persistent_rdd_ids(spark)
    held = [q185_personalized_pagerank(spark, sf_dir) for _ in range(2)]
    assert len(_persistent_rdd_ids(spark) - base) <= 2
    assert all(r.count() > 0 for r in held)


def test_owned_checkpoints_scope_releases_everything_it_pinned(spark):
    """The owned-checkpoint scope releases every frame pinned through it,
    on success and when the body raises; a result checkpointed outside
    the scope's pins (pagerank's contract) keeps its blocks."""
    import pytest as _pytest

    from spark_hadoop_automation_in_cloud_spark.session import (
        _persistent_rdd_ids,
        _pinned_rdd_ids,
        owned,
    )

    df = spark.range(40)
    base = _persistent_rdd_ids(spark)
    with owned(spark) as pins:
        mid = pins.pin(df.where("id % 2 = 0"))
        out = mid.where("id > 10").localCheckpoint()
    own = _pinned_rdd_ids(out)
    assert len(pins.pinned) == 1
    assert own and _persistent_rdd_ids(spark) - base == own
    assert out.count() == 14
    with _pytest.raises(ValueError):
        with owned(spark) as pins:
            pins.pin(df)
            pins.pin(df.where("id > 3"))
            raise ValueError("boom")
    assert len(pins.pinned) == 2
    assert _persistent_rdd_ids(spark) - base == own


def test_unpersist_failures_are_counted_and_logged(caplog):
    """A release that raises is counted in ``cleanup_failures`` and
    logged, never swallowed: one count per id whose unpersist raised,
    every id when the persisted-RDD table itself is unreachable."""
    from types import SimpleNamespace

    from spark_hadoop_automation_in_cloud_spark import session as ses

    class _Rdd:
        def unpersist(self, blocking):
            raise RuntimeError("block manager gone")

    def session(get_rdds):
        return SimpleNamespace(
            sparkContext=SimpleNamespace(
                _jsc=SimpleNamespace(getPersistentRDDs=get_rdds)
            )
        )

    def unreachable():
        raise RuntimeError("no JVM")

    before = ses.cleanup_failures
    with caplog.at_level("WARNING", logger=ses.__name__):
        ses._unpersist_rdds(
            session(lambda: SimpleNamespace(get=lambda i: _Rdd())), {1, 2}
        )
        assert ses.cleanup_failures == before + 2
        ses._unpersist_rdds(session(unreachable), {3, 4, 5})
        assert ses.cleanup_failures == before + 5
    assert len(caplog.records) == 3
    # nothing to release is not a failure
    ses._unpersist_rdds(session(unreachable), set())
    assert ses.cleanup_failures == before + 5

    # the scope's body raises AND its releases fail: the body's exception
    # surfaces, and each failed release is counted
    class _Frame:
        def persist(self):
            return self

        def unpersist(self):
            raise RuntimeError("cache manager gone")

    import pytest as _pytest

    with _pytest.raises(ValueError, match="body"):
        with ses.owned(session(unreachable)) as scope:
            scope.persist(_Frame())
            scope.pinned |= {6}
            raise ValueError("body")
    assert ses.cleanup_failures == before + 7


def test_q203_fertility_hand_trace(spark):
    """Corpus engineered so n_merges=4 leaves one word multi-token: five
    distinct pairs (ab cd ef gh ij) — the four winners by (count DESC,
    left ASC) are ab/cd/ef/gh, so 'ij' stays 2 tokens.  Also pins the
    gate edges: a 31-char word drops from words/chars/tokens alike, and
    a document with NO encodable word (non-ASCII) drops from n_docs."""
    import shutil
    import tempfile

    from spark_hadoop_automation_in_cloud_spark.queries import (
        q203_tokenizer_fertility,
    )

    root = tempfile.mkdtemp(prefix="q203_")
    try:
        spark.createDataFrame(
            [
                (1, "ab ab", "en", "s1", 5),
                (2, "ij", "en", "s1", 2),
                (3, "cd ef gh", "en", "s2", 8),
                (4, "cd " + "x" * 31, "en", "s2", 34),
                (5, "é", "en", "s2", 1),
            ],
            "doc_id bigint, text string, lang string, source string, "
            "n_chars bigint",
        ).coalesce(1).write.mode("overwrite").parquet(
            f"{root}/documents.parquet"
        )
        got = {
            r["source"]: (
                r["n_docs"],
                r["total_tokens"],
                r["total_words"],
                r["total_chars"],
                r["fertility"],
                r["chars_per_token"],
            )
            for r in q203_tokenizer_fertility(spark, root).collect()
        }
        assert got == {
            # doc1: ab,ab -> 1 token each; doc2: ij -> 2 tokens
            "s1": (2, 4, 3, 6, 1.333333, 1.5),
            # doc3: cd/ef/gh -> 1 token each; doc4: only 'cd' survives
            # the gate; doc5 has no encodable word at all
            "s2": (2, 4, 4, 8, 1.0, 2.0),
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_q204_kl_hand_trace(spark):
    """Quantized-KL arithmetic pinned against hand math: identical
    per-source distributions give EXACTLY 0.0 (the grid terms cancel),
    and the asymmetric case reproduces closed-form KL at 6dp
    (s1 = 3/4 a + 1/4 b vs corpus 3/5 a + 2/5 b -> 0.049857;
    s2 = all-b vs corpus -> ln(2.5) -> 0.916291)."""
    import shutil
    import tempfile

    from spark_hadoop_automation_in_cloud_spark.queries import (
        q204_source_kl_divergence,
    )

    root = tempfile.mkdtemp(prefix="q204_")
    try:

        def run(rows):
            spark.createDataFrame(
                rows,
                "doc_id bigint, text string, lang string, source string, "
                "n_chars bigint",
            ).coalesce(1).write.mode("overwrite").parquet(
                f"{root}/documents.parquet"
            )
            return {
                r["source"]: (
                    r["n_tokens"],
                    r["vocab_size"],
                    r["kl_to_corpus"],
                )
                for r in q204_source_kl_divergence(spark, root).collect()
            }

        same = run([(1, "a b", "en", "s1", 3), (2, "a b", "en", "s2", 3)])
        assert same == {"s1": (2, 2, 0.0), "s2": (2, 2, 0.0)}

        skew = run([(1, "a a a b", "en", "s1", 7), (2, "b", "en", "s2", 1)])
        assert skew == {"s1": (4, 2, 0.049857), "s2": (1, 1, 0.916291)}
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_q205_learned_mix_invariants(spark):
    """Contract invariants of the learned-mixture funnel: snapped weights
    still sum to ~1, floor budgets never exceed the total, a zero budget
    selects nothing (the keep rule is cum - tokens < budget, so 0 admits
    no document), selection stays within the domain's catalog, and bins
    exist exactly when something was selected."""
    from spark_hadoop_automation_in_cloud_spark.queries import (
        _Q201_BUDGET,
        q205_learned_mix_funnel,
    )

    rows = q205_learned_mix_funnel(spark, "/root/testdata/sf0.001").collect()
    assert rows
    assert abs(sum(r["weight"] for r in rows) - 1.0) < len(rows) * 1e-7
    assert sum(r["source_budget"] for r in rows) <= _Q201_BUDGET
    for r in rows:
        assert r["weight"] > 0
        assert 0 <= r["n_selected"] <= r["n_docs"]
        if r["source_budget"] == 0:
            assert r["n_selected"] == 0 and r["tokens_selected"] == 0
        assert (r["n_bins"] >= 1) == (r["n_selected"] >= 1)


def test_q206_mixture_epochs_hand_trace(spark):
    """Single-symbol words make token counts exact without BPE math:
    en has 90 available tokens against its 50000 budget (555.6 epochs),
    de 10 against 20000 (2000 epochs) — both repeat_heavy; zh is present
    but unweighted (excluded by the inner join), and absent weighted
    languages (fr/es) produce no row."""
    import shutil
    import tempfile

    from spark_hadoop_automation_in_cloud_spark.queries import (
        q206_mixture_epochs,
    )

    rows = (
        [(i, "q q q", "en", f"s{i % 3}", 5) for i in range(30)]
        + [(100 + i, "q", "de", "s0", 1) for i in range(10)]
        + [(200 + i, "q", "zh", "s0", 1) for i in range(5)]
    )
    root = tempfile.mkdtemp(prefix="q206_")
    try:
        spark.createDataFrame(
            rows,
            "doc_id bigint, text string, lang string, source string, "
            "n_chars bigint",
        ).coalesce(1).write.mode("overwrite").parquet(
            f"{root}/documents.parquet"
        )
        got = {
            r["lang"]: (
                r["n_docs"],
                r["available_tokens"],
                r["token_budget"],
                r["epochs"],
                r["repeat_heavy"],
            )
            for r in q206_mixture_epochs(spark, root).collect()
        }
        assert got == {
            "en": (30, 90, 50000, 555.555556, True),
            "de": (10, 10, 20000, 2000.0, True),
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)
