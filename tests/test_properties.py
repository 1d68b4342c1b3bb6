"""Property-based tests (hypothesis): invariants that must hold for ANY
input, not just the synthetic tables — the correctness layer for the
custom operators whose search space a fixed fixture can't cover.
"""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from spark_hadoop_automation_in_cloud_spark.operators.pairs import (
    geo_bucket_join,
    within_distance,
)

coord = st.tuples(
    st.floats(min_value=-60.0, max_value=60.0, allow_nan=False),
    st.floats(min_value=-160.0, max_value=160.0, allow_nan=False),
)


@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(pts=st.lists(coord, min_size=2, max_size=40), km=st.sampled_from([50.0, 300.0, 1500.0]))
def test_geo_bucket_join_equals_naive_on_random_points(spark, pts, km):
    """Grid-bucketed distance join ≡ naive theta join for arbitrary points
    and thresholds (no false negatives from cell sizing, no false positives
    past the exact refilter)."""
    rows = [(i, float(lat), float(lon)) for i, (lat, lon) in enumerate(pts)]
    l = spark.createDataFrame(rows, ["lid", "lat1", "lon1"])
    r = spark.createDataFrame(rows, ["rid", "lat2", "lon2"])
    naive = within_distance(
        l.crossJoin(r).where(F.col("lid") < F.col("rid")),
        "lat1", "lon1", "lat2", "lon2", km,
    ).select("lid", "rid")
    bucketed = (
        geo_bucket_join(l, r, km)
        .where(F.col("lid") < F.col("rid"))
        .select("lid", "rid")
    )
    a = {(x.lid, x.rid) for x in naive.collect()}
    b = {(x.lid, x.rid) for x in bucketed.collect()}
    assert a == b


@settings(
    max_examples=2,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    base=st.lists(st.sampled_from("abcdefgh"), min_size=30, max_size=60),
    flips=st.integers(min_value=0, max_value=5),
)
def test_minhash_estimates_jaccard(spark, base, flips):
    """MinHash signature agreement must approximate true shingle Jaccard:
    identical docs agree on every permutation; heavily-edited docs agree on
    few.  (16 permutations → coarse estimate; assert the envelope, not the
    point value.)"""
    from spark_hadoop_automation_in_cloud_spark.operators.dedup import (
        NUM_PERM,
        minhash_signatures,
        shingle_rows,
    )

    words = list(base)
    edited = words.copy()
    for i in range(flips):
        edited[i * 2] = edited[i * 2].upper()  # token-level edits
    df = spark.createDataFrame(
        [(0, " ".join(words)), (1, " ".join(edited))], ["doc_id", "text"]
    )
    sh = shingle_rows(df, "doc_id", "text", n=2)
    sig = minhash_signatures(sh).collect()
    s = {r["doc_id"]: [r[f"mh_{i}"] for i in range(NUM_PERM)] for r in sig}
    agree = sum(a == b for a, b in zip(s[0], s[1])) / NUM_PERM

    shingles = {r["doc_id"]: set() for r in sh.collect()}
    for r in sh.collect():
        shingles[r["doc_id"]].add(r["shingle"])
    inter = len(shingles[0] & shingles[1])
    union = len(shingles[0] | shingles[1])
    true_j = inter / union
    # 16-perm estimate: allow a wide but bounded deviation
    assert abs(agree - true_j) <= 0.45
    if flips == 0:
        assert agree == 1.0


def test_haversine_metric_properties(spark):
    """Symmetry, identity, and non-negativity of the distance expression."""
    from spark_hadoop_automation_in_cloud_spark.functions.geo import haversine_km

    pts = [(-33.5, 151.2), (40.7, -74.0), (55.75, 37.6), (0.0, 0.0), (-60.0, 160.0)]
    rows = [
        (la1, lo1, la2, lo2)
        for (la1, lo1) in pts
        for (la2, lo2) in pts
    ]
    df = spark.createDataFrame(rows, ["la1", "lo1", "la2", "lo2"])
    got = df.select(
        "la1", "lo1", "la2", "lo2",
        haversine_km(F.col("la1"), F.col("lo1"), F.col("la2"), F.col("lo2")).alias("d"),
        haversine_km(F.col("la2"), F.col("lo2"), F.col("la1"), F.col("lo1")).alias("dr"),
    ).collect()
    for r in got:
        assert r["d"] >= 0
        assert math.isclose(r["d"], r["dr"], rel_tol=1e-12)
        if (r["la1"], r["lo1"]) == (r["la2"], r["lo2"]):
            assert r["d"] == 0.0


_GRID_EDGES = [
    (0.0, 0.0, 0.0, 1e-12),  # tiny delta
    (-33.8688, 151.2093, -33.8688000001, 151.2093000001),
    (-45.5, -120.25, -60.0, -170.0),  # negative deltas
    (0.0, 0.0, 0.0, 180.0),  # antipodal
    (45.0, 10.0, -45.0, -170.0),  # antipodal
    (90.0, 0.0, -90.0, 0.0),  # pole to pole
    (12.5, 20.0, 12.5, 20.0),  # zero
]


@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    grid=st.lists(
        st.tuples(
            st.floats(min_value=-90.0, max_value=90.0, allow_nan=False),
            st.floats(min_value=-180.0, max_value=180.0, allow_nan=False),
            st.floats(min_value=-90.0, max_value=90.0, allow_nan=False),
            st.floats(min_value=-180.0, max_value=180.0, allow_nan=False),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_haversine_forms_are_bit_equal(spark, grid):
    """``haversine_km`` squares with ``s * s``; it must be bit-equal to the
    ``pow(s, 2)`` form it replaced, and to ``2R·asin(sqrt(term))`` over
    ``haversine_term`` and over its SQL rendering (the 1-NN kernel ranks
    by the SQL term)."""
    from spark_hadoop_automation_in_cloud_spark.functions.geo import (
        EARTH_RADIUS_KM,
        haversine_km,
        haversine_term,
        haversine_term_sql,
    )

    c = [F.col(n) for n in ("la1", "lo1", "la2", "lo2")]
    la1, lo1, la2, lo2 = c
    def km(term):
        return F.lit(2.0 * EARTH_RADIUS_KM) * F.asin(F.sqrt(term))

    pow_form = km(
        F.sin(F.radians(la2 - la1) / 2) ** 2
        + F.cos(F.radians(la1)) * F.cos(F.radians(la2)) * F.sin(F.radians(lo2 - lo1) / 2) ** 2
    )
    sql_term = F.expr(haversine_term_sql("la1", "lo1", "la2", "lo2"))
    df = spark.createDataFrame(grid + _GRID_EDGES, ["la1", "lo1", "la2", "lo2"])
    got = df.select(haversine_km(*c), pow_form, km(haversine_term(*c)), km(sql_term))
    for r in got.collect():
        assert len({v.hex() for v in r}) == 1, r


word = st.text(alphabet="abcde", min_size=1, max_size=4)


@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    texts=st.lists(
        st.lists(word, min_size=1, max_size=120).map(" ".join),
        min_size=1,
        max_size=8,
    ),
    cs=st.sampled_from([(5, 3), (16, 10), (50, 40), (50, 50), (8, 16)]),
)
def test_chunking_covers_every_token_in_order(spark, texts, cs):
    """Chunks are the exact token slices they claim at exactly the stride
    offsets; token coverage is complete iff stride <= chunk (stride >
    chunk is the documented subsampling mode with holes)."""
    chunk, stride = cs
    from spark_hadoop_automation_in_cloud_spark.operators.textops import chunk_documents

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id int, text string"
    )
    rows = chunk_documents(df, "doc_id", "text", chunk, stride).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for i, t in enumerate(texts):
        toks = t.split(" ")
        chunks = sorted(by_doc[i], key=lambda r: r["start_tok"])
        # starts are exactly 1, 1+stride, ... <= len(toks)
        assert [c["start_tok"] for c in chunks] == list(
            range(1, len(toks) + 1, stride)
        )
        # each chunk is the exact token slice it claims
        for c in chunks:
            lo = c["start_tok"] - 1
            assert c["chunk_text"] == " ".join(toks[lo : lo + chunk])
            assert c["n_tokens"] == len(toks[lo : lo + chunk])
        covered = set()
        for c in chunks:
            covered.update(range(c["start_tok"] - 1, c["start_tok"] - 1 + c["n_tokens"]))
        if stride <= chunk:
            # lossless mode: the union of [start, start+chunk) covers [0, len)
            assert covered == set(range(len(toks)))
        else:
            # subsampling mode: exactly the spaced windows, nothing else
            expect = set()
            for s0 in range(0, len(toks), stride):
                expect.update(range(s0, min(s0 + chunk, len(toks))))
            assert covered == expect


@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vecs=st.lists(
        st.lists(
            st.floats(
                min_value=-0.984375,  # exact in float32
                max_value=0.984375,
                allow_nan=False,
                width=32,
                # the JVM/numpy in-process set FTZ; hypothesis refuses
                # subnormals under it, and they're irrelevant to the bound
                allow_subnormal=False,
            ),
            min_size=4,
            max_size=8,
        ),
        min_size=1,
        max_size=6,
    )
)
def test_quantization_reconstruction_bound(spark, vecs):
    """|q/scale - x| < 1/scale for every element (truncation quantizer), and
    the digests are consistent with a local recomputation."""
    from spark_hadoop_automation_in_cloud_spark.operators.similarity import (
        quantize_embeddings,
    )

    dim = len(vecs[0])
    vecs = [v[:dim] + [0.0] * (dim - len(v)) for v in vecs]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id int, embedding array<float>",
    )
    got = {r["vec_id"]: r for r in quantize_embeddings(df).collect()}
    import struct

    for i, v in enumerate(vecs):
        # replicate float32 storage then the exact quantizer
        v32 = [struct.unpack("f", struct.pack("f", x))[0] for x in v]
        q = [int(x * 128) for x in v32]  # int() truncates toward zero
        assert got[i]["q_l1"] == sum(abs(x) for x in q)
        assert got[i]["q_max"] == max(q)
        assert got[i]["q_checksum"] == sum(x * (j + 1) for j, x in enumerate(q))
        for x, qx in zip(v32, q):
            assert abs(qx / 128.0 - x) < 1.0 / 128.0


@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vals=st.lists(
        st.floats(min_value=0.01, max_value=9999.99, allow_nan=False),
        min_size=1,
        max_size=60,
    )
)
def test_trimmed_mean_bounds_and_zero_trim(spark, vals):
    """The trimmed mean lies within [min, max]; with trim_pct=0 it equals
    the exact cents mean."""
    from spark_hadoop_automation_in_cloud_spark.operators.pandas_aggs import trimmed_mean

    df = spark.createDataFrame([("g", float(v)) for v in vals], "grp string, v double")
    row = trimmed_mean(df, "grp", "v", trim_pct=10).collect()[0]
    assert min(vals) - 0.01 <= row["trimmed_mean"] <= max(vals) + 0.01
    row0 = trimmed_mean(df, "grp", "v", trim_pct=0).collect()[0]
    cents = [round(v * 100) for v in vals]
    assert row0["n_kept"] == len(vals)
    assert abs(row0["trimmed_mean"] - sum(cents) / len(cents) / 100.0) < 1e-6


@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcdef"), min_size=2, max_size=12),
        min_size=2,
        max_size=16,
    ),
    t=st.sampled_from([0.2, 0.35, 0.5, 0.8]),
)
def test_jaccard_prefix_filter_equals_naive(spark, docs, t):
    """Lossless prefix filtering: jaccard_pairs_prefix must produce EXACTLY
    the pairs (and values) of the naive full-inverted-index join, for
    arbitrary corpora and thresholds — small vocab ('a'..'f') forces heavy
    shingle collisions, the regime where the prefix filter actually prunes."""
    from spark_hadoop_automation_in_cloud_spark.operators.dedup import (
        jaccard_pairs,
        jaccard_pairs_prefix,
        shingle_rows,
    )

    df = spark.createDataFrame(
        [(i, " ".join(words)) for i, words in enumerate(docs)],
        "doc_id bigint, text string",
    )
    sh = shingle_rows(df, "doc_id", "text", n=2)
    naive = {
        (r.left_doc_id, r.right_doc_id, r.jaccard)
        for r in jaccard_pairs(sh, t).collect()
    }
    pref = {
        (r.left_doc_id, r.right_doc_id, r.jaccard)
        for r in jaccard_pairs_prefix(sh, t).collect()
    }
    assert pref == naive


@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcdef"), min_size=2, max_size=12),
        min_size=2,
        max_size=16,
    ),
    t=st.sampled_from([0.2, 0.4, 0.6, 0.9]),
)
def test_containment_prefix_filter_equals_naive(spark, docs, t):
    """Lossless containment prefix filtering: containment_pairs must produce
    EXACTLY the ordered pairs (and values) of the naive full-index join —
    the asymmetric variant prunes only the contained side, so losing a
    container would be the natural bug; this pins it."""
    from spark_hadoop_automation_in_cloud_spark.operators.dedup import (
        containment_pairs,
        containment_pairs_naive,
        shingle_rows,
    )

    df = spark.createDataFrame(
        [(i, " ".join(words)) for i, words in enumerate(docs)],
        "doc_id bigint, text string",
    )
    sh = shingle_rows(df, "doc_id", "text", n=2)
    naive = {
        (r.left_doc_id, r.right_doc_id, r.containment)
        for r in containment_pairs_naive(sh, t).collect()
    }
    pref = {
        (r.left_doc_id, r.right_doc_id, r.containment)
        for r in containment_pairs(sh, t).collect()
    }
    assert pref == naive


@settings(max_examples=25, deadline=None)
@given(
    tuples=st.lists(
        st.tuples(
            st.integers(min_value=-5, max_value=5),
            st.integers(min_value=-5, max_value=5),
            st.integers(min_value=-5, max_value=5),
        ),
        min_size=2,
        max_size=2,
    ),
    width=st.integers(min_value=1, max_value=3),
)
def test_newer_than_condition_equals_python_tuple_order(tuples, width):
    """The MERGE update guard must agree with Python's lexicographic tuple
    comparison for every pair of order tuples at every width — evaluated
    through DuckDB so the SQL string itself is what's checked."""
    import duckdb

    from spark_hadoop_automation_in_cloud_spark.streaming.incremental import (
        newer_than_condition,
    )

    cols = [f"c{i}" for i in range(width)]
    (a, b) = tuples
    src_t, tgt_t = a[:width], b[:width]
    con = duckdb.connect()
    sel = ", ".join(
        [f"{v} AS {c}" for v, c in zip(src_t, cols)]
    )
    sel_t = ", ".join([f"{v} AS {c}" for v, c in zip(tgt_t, cols)])
    cond = newer_than_condition(cols, "src", "tgt", quote='"')  # ANSI for DuckDB
    got = con.execute(
        f"SELECT ({cond}) FROM (SELECT {sel}) src, (SELECT {sel_t}) tgt"
    ).fetchone()[0]
    assert bool(got) == (src_t > tgt_t)


@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    vals=st.lists(st.floats(min_value=0.001, max_value=1e6, allow_nan=False), min_size=1, max_size=60),
    qs=st.lists(st.floats(min_value=0.0, max_value=1.0), min_size=1, max_size=4, unique=True),
)
def test_quantile_sketch_rank_rule_matches_reference(spark, vals, qs):
    """The sketch's rank rule — smallest bucket whose cumulative count
    reaches ceil(round(q*total, 9)), min rank 1 — against an independent
    Python implementation, including quantiles that are NOT exactly
    representable in binary (q=0.07 x total=100 rounds to
    7.0000000000000009; a naive ceil would pick rank 8).  The estimate
    must be the geometric midpoint of the bucket holding that rank's
    element, i.e. within a factor (1+eps) of it."""
    import math as m

    from spark_hadoop_automation_in_cloud_spark.operators.sketches import (
        quantile_estimates,
        quantile_sketches,
    )

    eps = 0.01
    df = spark.createDataFrame([(1, float(v)) for v in vals], "g int, v double")
    est = {
        round(r["q"], 12): r["est"]
        for r in quantile_estimates(
            quantile_sketches(df, ["g"], "v", eps), ["g"], qs, eps
        ).collect()
    }
    srt = sorted(vals)
    for q in qs:
        rank = max(m.ceil(round(q * len(srt), 9)), 1)
        target = srt[rank - 1]
        got = est[round(float(q), 12)]
        # same-bucket guarantee: representative within x(1+eps) of the
        # rank element (sqrt(1+eps) midpoint, allow full bucket width)
        assert got / target <= (1 + eps) * (1 + 1e-12), (q, got, target)
        assert target / got <= (1 + eps) * (1 + 1e-12), (q, got, target)


@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    # None exercises the NULL-text path: content_hash coalesces NULL to ''
    # so the hash is never NULL — a NULL hash would slip past the left_anti
    # probe and be re-admitted on EVERY batch (the bug this pins closed)
    texts=st.lists(
        st.sampled_from(["aa", "bb", "cc", "dd", "ee", None]), min_size=1, max_size=24
    ),
    n_batches=st.integers(min_value=1, max_value=4),
)
def test_incremental_dedup_equals_global_for_any_batching(spark, texts, n_batches):
    """Run-over-run invariant: however the corpus is split into ordered
    batches, sequential incremental_dedup admits each distinct content
    EXACTLY once — NULL text included (it hashes as the empty document) —
    from the earliest batch containing it with the min id there, and the
    admitted hash set equals global exact dedup's."""
    import hashlib

    from spark_hadoop_automation_in_cloud_spark.operators.dedup import (
        content_hash_index,
        incremental_dedup,
    )

    rows = [(i, t) for i, t in enumerate(texts)]
    batches = [rows[i::n_batches] for i in range(n_batches)]
    index = content_hash_index(
        spark.createDataFrame([], "doc_id long, text string"), "doc_id", "text"
    )
    admitted: dict[str, int] = {}
    for rows_b in batches:
        if not rows_b:
            continue
        batch = spark.createDataFrame(rows_b, "doc_id long, text string")
        for r in incremental_dedup(batch, index, "doc_id", "text").collect():
            assert r["content_hash"] not in admitted  # never re-admitted
            admitted[r["content_hash"]] = r["doc_id"]
        index = index.unionByName(
            content_hash_index(batch, "doc_id", "text")
        )

    # expected: per content, min id within its earliest batch (NULL text
    # hashes like the empty document — the content_hash contract)
    hx = lambda t: hashlib.md5((t or "").encode()).hexdigest()  # noqa: E731
    expect: dict[str, int] = {}
    for rows_b in batches:
        seen_this_round = {}
        for i, t in rows_b:
            h = hx(t)
            if h not in expect:
                seen_this_round.setdefault(h, []).append(i)
        for h, ids in seen_this_round.items():
            expect[h] = min(ids)
    assert admitted == expect
    assert set(admitted) == {hx(t) for t in texts}


@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ids=st.lists(st.integers(min_value=0, max_value=10_000), min_size=1, max_size=60, unique=True),
    n_shards=st.sampled_from([1, 3, 8]),
)
def test_shard_assignments_is_a_permutation(spark, ids, n_shards):
    """The shard layout is a deterministic permutation: every doc appears
    exactly once, positions within each shard are 1..count(shard) with no
    gaps, and re-running yields identical output."""
    from spark_hadoop_automation_in_cloud_spark.operators.packing import (
        shard_assignments,
    )

    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    out = shard_assignments(df, "doc_id", n_shards).collect()
    assert sorted(r["doc_id"] for r in out) == sorted(ids)
    by_shard: dict[int, list[int]] = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    for shard, poss in by_shard.items():
        assert 0 <= shard < n_shards
        assert sorted(poss) == list(range(1, len(poss) + 1))
    again = shard_assignments(df, "doc_id", n_shards).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))


@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ids=st.lists(
        st.integers(min_value=-10_000, max_value=10_000),
        min_size=1,
        max_size=50,
        unique=True,
    ),
    n_groups=st.integers(min_value=1, max_value=5),
    n_blocks=st.sampled_from([1, 2, 7, 64]),
)
def test_blocked_pairs_equals_naive_on_random_ids(spark, ids, n_groups, n_blocks):
    """Triangle-split pairing ≡ naive group self-join for ARBITRARY ids
    (negative, sparse — the md5 block hash must not care), group counts,
    and block counts: every unordered within-group pair exactly once,
    canonical left.id < right.id."""
    from spark_hadoop_automation_in_cloud_spark.operators.pairs import (
        blocked_pairs_within_groups,
    )

    rows = [(i % n_groups, i) for i in ids]
    df = spark.createDataFrame(rows, "g int, id long")
    naive = {
        (g, a, b)
        for (g, a) in rows
        for (g2, b) in rows
        if g == g2 and a < b
    }
    got = blocked_pairs_within_groups(df, ["g"], "id", n_blocks=n_blocks).collect()
    pairs = {(r["g"], r["left"]["id"], r["right"]["id"]) for r in got}
    assert len(got) == len(pairs)
    assert pairs == naive


@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcdef"), min_size=0, max_size=12),
        min_size=1,
        max_size=12,
    ),
    n=st.sampled_from([2, 3]),
)
def test_repeated_span_coverage_equals_naive_union(spark, docs, n):
    """Position-level repeated-span coverage ≡ a naive Python interval
    union for ARBITRARY corpora: a tiny alphabet forces heavy cross-doc
    gram sharing (including within-doc repeats and whole-doc dups), so
    the lead()-window union is exercised on overlapping, nested, and
    back-to-back spans — not just the fixture's hand-laid shapes."""
    from spark_hadoop_automation_in_cloud_spark.operators.dedup import (
        repeated_span_coverage,
    )

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    grams: dict[tuple, set] = {}
    for i, toks in enumerate(docs):
        toks = toks or [""]  # empty text tokenizes as the 1-token empty doc
        for s in range(len(toks) - n + 1):
            grams.setdefault(tuple(toks[s : s + n]), set()).add(i)
    expect = {}
    for i, toks in enumerate(docs):
        toks = toks or [""]
        covered: set[int] = set()
        for s in range(len(toks) - n + 1):
            if len(grams[tuple(toks[s : s + n])]) >= 2:
                covered.update(range(s, s + n))
        expect[i] = (len(toks), len(covered), round(len(covered) / len(toks), 6))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_covered"], r["span_coverage"])
        for r in repeated_span_coverage(df, "doc_id", "text", n=n).collect()
    }
    assert got == expect


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    strata=st.lists(st.integers(min_value=0, max_value=4), min_size=1, max_size=120),
    k=st.integers(min_value=1, max_value=12),
)
def test_stratified_sample_equals_naive_for_any_strata(spark, strata, k):
    """Oversample-trim ≡ the naive full-window top-k for ARBITRARY stratum
    assignments and k — including strata of size 1, size exactly k, and a
    lopsided majority stratum — with the undershoot check armed so any
    cutoff shortfall would raise instead of shrinking the sample."""
    from pyspark.sql.window import Window

    from spark_hadoop_automation_in_cloud_spark.operators import sampling

    rows = [(f"s{s}", i) for i, s in enumerate(strata)]
    df = spark.createDataFrame(rows, "stratum string, id bigint")
    got = sampling.stratified_sample(
        df, ["stratum"], "id", k=k, salt=":p", assert_exact=True
    )
    w = Window.partitionBy("stratum").orderBy(
        sampling.sample_key(F.col("id"), ":p").asc(), F.col("id").asc()
    )
    want = (
        df.withColumn("sample_rank", F.row_number().over(w))
        .where(F.col("sample_rank") <= k)
        .select("stratum", "id", "sample_rank")
    )
    a = {tuple(r) for r in got.collect()}
    b = {tuple(r) for r in want.collect()}
    assert a == b


def test_hash_split_null_key_falls_through_on_both_engines(spark):
    """A NULL key must land in the LAST split on Spark AND DuckDB — the
    documented fallthrough, pinned so an engine upgrade can't silently
    reroute NULL keys."""
    import duckdb

    from spark_hadoop_automation_in_cloud_spark.operators import sampling

    splits = [("train", 80), ("val", 10), ("test", 10)]
    df = spark.createDataFrame([(None,), (7,)], "k int")
    got = {
        (r["k"], r["split"])
        for r in df.select(
            "k", sampling.hash_split(F.col("k"), splits, salt=":n").alias("split")
        ).collect()
    }
    con = duckdb.connect()
    sql_expr = sampling.sql_hash_split("k", splits, salt=":n")
    want = set(
        con.execute(
            f"SELECT k, {sql_expr} AS split FROM (VALUES (NULL), (7)) t(k)"
        ).fetchall()
    )
    assert got == want
    assert dict(got)[None] == "test"


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    doms=st.lists(st.integers(min_value=0, max_value=3), min_size=2, max_size=60),
    pcts=st.sampled_from([(50, 50), (80, 20), (25, 75), (60, 30, 10)]),
    total=st.sampled_from([100, 400, 1000]),
)
def test_mixture_equals_per_domain_budget_for_any_weights(spark, doms, pcts, total):
    """For ANY corpus and weight vector, the mixture cut restricted to one
    domain must equal token_budget_selection run on that domain alone with
    its floored budget — the mixture operator is per-domain budget cuts
    glued by a literal map, nothing more."""
    from spark_hadoop_automation_in_cloud_spark.operators.packing import (
        mixture_budget_selection,
        mixture_budgets,
        token_budget_selection,
    )

    weights = {f"d{i}": p / 100 for i, p in enumerate(pcts)}
    rows = [
        (f"d{s}", i, float((i * 37) % 19), 10 + (i * 13) % 50)
        for i, s in enumerate(doms)
    ]
    df = spark.createDataFrame(
        rows, "dom string, doc_id bigint, quality double, n_tokens bigint"
    )
    mix = mixture_budget_selection(
        df, "dom", "doc_id", "quality", "n_tokens", total_budget=total,
        weights=weights,
    ).select("dom", "doc_id", "quality", "n_tokens", "cum_tokens")
    budgets = mixture_budgets(total, weights)
    for dom, b in budgets.items():
        got = mix.where(F.col("dom") == dom)
        want = token_budget_selection(
            df.where(F.col("dom") == dom), "dom", "doc_id", "quality",
            "n_tokens", budget=b,
        )
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 60), st.integers(0, 60)), min_size=1, max_size=50
    ),
    cut_pct=st.sampled_from([0, 25, 60, 100]),
)
def test_incremental_components_equals_full_for_any_split(spark, edges, cut_pct):
    """incremental_components(labels(hist), batch) must be row-identical
    to connected_components(hist ∪ batch) for ANY split of the edge list
    — including all-historical (a no-op merge must not corrupt labels)
    and all-new (empty history: everything is a new node).  This is the
    contract that lets a 100 TB ingest loop trust per-batch merges
    instead of full recomputes.  NULL-endpoint batch rows are dropped by
    contract."""
    from spark_hadoop_automation_in_cloud_spark.operators.components import (
        connected_components,
        incremental_components,
    )

    cut = len(edges) * cut_pct // 100
    hist, new = edges[:cut], edges[cut:]

    def frame(pairs, with_nulls=False):
        rows = [(int(x), int(y)) for x, y in pairs]
        if with_nulls:
            rows = rows + [(None, 5), (7, None)]
        if not rows:
            rows = [(None, None)]
        df = spark.createDataFrame(rows, "l bigint, r bigint")
        return df if with_nulls else df.where(F.col("l").isNotNull())

    full = connected_components(frame(edges), "l", "r")
    if hist:
        labels = connected_components(frame(hist), "l", "r")
    else:
        labels = spark.createDataFrame([], "node bigint, component_id bigint")
    inc = incremental_components(labels, frame(new, with_nulls=True), "l", "r")
    want = sorted((r["node"], r["component_id"]) for r in full.collect())
    got = sorted((r["node"], r["component_id"]) for r in inc.collect())
    assert got == want


# --- round 10: graphs / evals / BPE / MMR vs brute-force references ----------


@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)),
        min_size=1,
        max_size=40,
    )
)
def test_triangle_count_equals_brute_force(spark, edges):
    """Per-node triangle counts equal the O(n^3) triple loop on any
    random multigraph (dupes/reversals/self-loops included)."""
    from spark_hadoop_automation_in_cloud_spark.operators.components import triangle_count

    es = {(min(u, v), max(u, v)) for u, v in edges if u != v}
    nodes = sorted({x for e in es for x in e})
    want: dict[int, int] = {}
    for i, a in enumerate(nodes):
        for b in nodes[i + 1 :]:
            for c in nodes[nodes.index(b) + 1 :]:
                if (a, b) in es and (a, c) in es and (b, c) in es:
                    for x in (a, b, c):
                        want[x] = want.get(x, 0) + 1
    df = spark.createDataFrame(list(edges), "u bigint, v bigint")
    got = {
        r["u"]: r["tri_count"]
        for r in triangle_count(df, "u", "v", topk=1000).collect()
    }
    assert got == want


@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(st.booleans(), st.integers(0, 5)),
        min_size=2,
        max_size=60,
    )
)
def test_roc_auc_equals_pairwise_count(spark, rows):
    """AUC equals the direct O(n^2) pair count (wins + half-ties) over
    arbitrary label/score multisets."""
    from spark_hadoop_automation_in_cloud_spark.operators.evals import roc_auc

    pos = [s for y, s in rows if y]
    neg = [s for y, s in rows if not y]
    df = spark.createDataFrame(
        [("g", y, s / 5.0) for y, s in rows], "g string, y boolean, s double"
    )
    out = roc_auc(df, ["g"], "y", "s").collect()
    if not pos or not neg:
        assert out == []
        return
    wins = sum(1.0 if p > n else 0.5 if p == n else 0.0 for p in pos for n in neg)
    assert out[0]["auc"] == round(wins / (len(pos) * len(neg)), 6)


def _bpe_reference(words: dict[str, int], n_merges: int):
    """Pure-Python greedy BPE (Sennrich): pair argmax by (count, left,
    right), non-overlapping left-to-right rewrite."""
    seqs = {w: list(w) for w in words}
    rules = []
    for step in range(1, n_merges + 1):
        counts: dict[tuple[str, str], int] = {}
        for w, syms in seqs.items():
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + words[w]
        if not counts:
            break
        (l, r), c = min(counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        rules.append((step, l, r, l + r, c))
        for w, syms in seqs.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            seqs[w] = out
    return rules


@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    words=st.lists(
        st.text(alphabet="abcd", min_size=1, max_size=6),
        min_size=1,
        max_size=15,
    ),
    n_merges=st.integers(1, 4),
)
def test_bpe_merges_equal_python_reference(spark, words, n_merges):
    """The distributed trainer's merge table equals the textbook
    in-memory greedy on any random corpus."""
    from spark_hadoop_automation_in_cloud_spark.operators.bpe import bpe_merges

    freq: dict[str, int] = {}
    for w in words:
        freq[w] = freq.get(w, 0) + 1
    docs = spark.createDataFrame([(" ".join(words),)], "text string")
    got = [
        (r["step"], r["lhs"], r["rhs"], r["merged"], r["pair_count"])
        for r in bpe_merges(docs, "text", n_merges=n_merges).collect()
    ]
    assert got == _bpe_reference(freq, n_merges)


@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    words=st.lists(
        st.text(alphabet="abc", min_size=1, max_size=6),
        min_size=1,
        max_size=12,
    ),
    n_merges=st.integers(0, 4),
)
def test_bpe_encode_decode_roundtrip(spark, words, n_merges):
    """decode(encode(corpus)) recovers the gated-word concatenation for
    ANY corpus and any rules trained on it — ids are total over the
    trained vocab (no word can reach a symbol outside base+merges), so
    the round-trip never hits the unknown-id NULL path."""
    from spark_hadoop_automation_in_cloud_spark.operators.bpe import (
        bpe_encode,
        bpe_merges,
        decode_token_ids,
    )

    text = " ".join(words)
    docs = spark.createDataFrame([(1, text)], "doc_id bigint, text string")
    rules = [
        (r["lhs"], r["rhs"])
        for r in bpe_merges(docs, "text", n_merges=n_merges).collect()
    ]
    rows = decode_token_ids(
        bpe_encode(docs, "doc_id", "text", rules), rules
    ).collect()
    want = "".join(w for w in words if w)
    if not want:
        assert rows == []  # no encodable word -> doc drops (documented)
    else:
        assert rows[0]["decoded"] == want
        assert rows[0]["n_tokens"] == len(rows[0]["token_ids"])


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    texts=st.lists(
        st.lists(
            st.text(alphabet="ab", min_size=1, max_size=4),
            min_size=1,
            max_size=6,
        ).map(" ".join),
        min_size=1,
        max_size=4,
    ),
    n_merges=st.integers(1, 6),
)
def test_bpe_cross_engine_parity_any_corpus(spark, texts, n_merges):
    """Spark and DuckDB agree on merges AND encode for ANY random corpus
    and ANY requested n_merges — including past pair exhaustion, where
    the SQL twin's empty-winner rounds must be no-ops (the r09 ADVICE
    bug class: a 2-letter alphabet exhausts fast, so most examples here
    request more merges than are learnable)."""
    import duckdb

    from spark_hadoop_automation_in_cloud_spark.operators.bpe import (
        bpe_encode,
        bpe_merges,
        sql_bpe_encode,
        sql_bpe_merges,
    )
    from tests.oracle import compare, normalize

    rows = [(i, t) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{t}')" for i, t in rows)
        + ") v(doc_id, text)"
    )
    assert (
        compare(
            bpe_merges(docs, "text", n_merges=n_merges),
            con,
            sql_bpe_merges("documents", "text", n_merges),
            "prop_merges",
        )
        == []
    )
    rules = [
        (r["lhs"], r["rhs"])
        for r in bpe_merges(docs, "text", n_merges=n_merges).collect()
    ]
    enc = bpe_encode(docs, "doc_id", "text", rules).select(
        "doc_id", "n_tokens", F.array_join("token_ids", ",").alias("ids")
    )
    sql = (
        "SELECT doc_id, n_tokens, array_to_string(token_ids, ',') AS ids"
        f" FROM ({sql_bpe_encode('documents', 'doc_id', 'text', n_merges)})"
    )
    if enc.count() == 0:
        # no encodable word anywhere (e.g. all-empty texts): both sides
        # must be empty rather than erroring
        assert normalize(con.execute(sql).fetchdf()) == []
    else:
        assert compare(enc, con, sql, "prop_encode") == []


@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vecs=st.lists(
        st.tuples(
            st.integers(-4, 4), st.integers(-4, 4), st.integers(-4, 4)
        ).filter(lambda t: any(t)),
        min_size=3,
        max_size=12,
    )
)
def test_mmr_equals_python_greedy(spark, vecs):
    """The grouped-map MMR selection equals a pure-Python greedy on
    random integer vectors (sims rounded to 6dp first, as the operator
    pins), for two queries per example so the per-query keying is
    checked too."""
    import math

    from spark_hadoop_automation_in_cloud_spark.operators.similarity import mmr_rerank

    lam, kc, ks = 0.7, len(vecs) - 1, min(3, len(vecs) - 1)
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    got = sorted(
        (r["query_id"], r["position"], r["neighbor_id"])
        for r in mmr_rerank(
            df, df.where(F.col("vec_id") <= 1), k_candidates=kc, k_select=ks, lam=lam
        ).collect()
    )

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        return round(
            num / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))),
            6,
        )

    def grid(sim):
        return round(sim * 1_000_000)

    want = []
    for qid in (0, 1):
        q = rows[qid][1]
        cands = sorted(
            ((cos(q, v), -i) for i, v in rows if i != qid),
            key=lambda t: (-t[0], -t[1]),
        )[:kc]
        cand_ids = [-i for _, i in cands]
        simq = {i: cos(q, rows[i][1]) for i in cand_ids}
        sel: list[int] = []
        for _ in range(ks):
            rest = [i for i in cand_ids if i not in sel]
            if not sel:
                pick = max(rest, key=lambda i: (simq[i], -i))
            else:
                # scored on the operator's exact 1e-8 grid, so a float
                # tie cannot flip the reference's argmax
                pick = max(
                    rest,
                    key=lambda i: (
                        70 * grid(simq[i])
                        - 30 * max(grid(cos(rows[i][1], rows[s][1])) for s in sel),
                        -i,
                    ),
                )
            sel.append(pick)
        want += [(qid, p + 1, i) for p, i in enumerate(sel)]
    assert got == sorted(want)


@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    texts=st.lists(
        st.text(alphabet="ab X.", min_size=0, max_size=12),
        min_size=1,
        max_size=6,
    )
)
def test_hash_kernel_scores_equal_python_reference(spark, texts):
    """The row-local aggregate() scoring equals a direct Python rerun of
    the same hash kernel on arbitrary (ASCII-ish) texts."""
    import hashlib
    import math

    from spark_hadoop_automation_in_cloud_spark.operators.textops import (
        HK_NGRAM,
        HK_WEIGHT_RANGE,
        hash_kernel_scores,
    )

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        r["doc_id"]: (r["n_grams"], r["score"])
        for r in hash_kernel_scores(df, "doc_id", "text").collect()
    }
    want = {}
    for i, t in rows:
        s = "".join(ch for ch in t.lower() if " " <= ch <= "~")
        cnt = len(s) - (HK_NGRAM - 1)
        if cnt < 1:
            continue
        ssum = 0
        for j in range(cnt):
            g = s[j : j + HK_NGRAM] + ":hk"
            h = int(hashlib.md5(g.encode()).hexdigest()[:8], 16)
            ssum += h % (2 * HK_WEIGHT_RANGE + 1) - HK_WEIGHT_RANGE
        mean = ssum / (HK_WEIGHT_RANGE * cnt)
        want[i] = (cnt, round(1.0 / (1.0 + math.exp(-mean)), 6))
    assert got == want


def test_jm_lm_backoff_orders_unseen_pairs(spark):
    """The Jelinek-Mercer property q141's add-alpha cannot have: two
    UNSEEN pairs rank by their second word's unigram frequency — 'the
    cat' (frequent cat) beats 'the zzqx' (absent)."""
    from spark_hadoop_automation_in_cloud_spark.operators.textops import (
        jm_bigram_lm_scores,
    )

    train = spark.createDataFrame(
        [(100, "cat sat on cat mat cat and dog")], "doc_id bigint, text string"
    )
    docs = spark.createDataFrame(
        [(1, "the cat"), (2, "the zzqx")], "doc_id bigint, text string"
    )
    out = {
        r["doc_id"]: (r["n_unseen_pairs"], r["avg_neg_logprob"])
        for r in jm_bigram_lm_scores(docs, train, "doc_id", "text").collect()
    }
    assert out[1][0] == 1 and out[2][0] == 1  # both pairs unseen
    assert out[1][1] < out[2][1]  # frequent follower scores better


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.tuples(
            st.lists(
                st.sampled_from(["a", "b", "cc", "d e", ""]),
                min_size=0,
                max_size=5,
            ).map(" ".join),
            st.integers(0, 2),
        ),
        min_size=1,
        max_size=8,
    )
)
def test_q204_kl_cross_engine_and_nonnegative(spark, docs):
    """q204's quantized KL agrees across engines on ANY corpus —
    including degenerate ones (single source, empty texts, ''-only
    token streams) — and is never materially negative (true KL >= 0;
    the 1e-6 log grid can push a source a few grid cells below zero,
    never more than n_tokens ulps)."""
    import duckdb

    from spark_hadoop_automation_in_cloud_spark.queries import (
        q204_source_kl_divergence,
        specs,
    )
    from tests.oracle import compare

    import shutil
    import tempfile

    rows = [
        (i, text, "en", f"s{srci}", len(text))
        for i, (text, srci) in enumerate(docs)
    ]
    root = tempfile.mkdtemp(prefix="q204prop_")
    try:
        spark.createDataFrame(
            rows,
            "doc_id bigint, text string, lang string, source string, "
            "n_chars bigint",
        ).coalesce(1).write.mode("overwrite").parquet(
            f"{root}/documents.parquet"
        )
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"'{root}/documents.parquet/*.parquet'"
        )
        sql = next(
            s.sql for s in specs() if s.name == "q204_source_kl_divergence"
        )
        df = q204_source_kl_divergence(spark, root)
        assert compare(df, con, sql, "prop_kl") == []
        for r in df.collect():
            assert r["kl_to_corpus"] >= -1e-5, r
    finally:
        shutil.rmtree(root, ignore_errors=True)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    losses=st.lists(
        st.integers(0, 40).map(lambda n: n / 10.0),
        min_size=1,
        max_size=8,
    ),
    n_rounds=st.integers(1, 6),
)
def test_reweight_cross_engine_parity_any_cells(spark, losses, n_rounds):
    """Spark's round-per-query reweight executor and the DuckDB unrolled
    chain walk the SAME trajectory for ANY loss cells and round count —
    including the degenerate ones (single domain => weight 1.0; all-equal
    losses => uniform stays uniform; zero losses).  This is the guard for
    the r14 kernel change: the executor no longer runs the oracle's
    literal chain, so the per-round fragment is the only thing keeping
    the engines in step."""
    import duckdb

    from spark_hadoop_automation_in_cloud_spark.operators.reweight import (
        exp_gradient_weights,
        sql_reweight_ctes,
        sql_reweight_select,
    )
    from tests.oracle import compare

    rows = [(f"d{i}", 10 + i, loss) for i, loss in enumerate(losses)]
    cells = spark.createDataFrame(
        rows, "domain string, n_docs bigint, mean_loss double"
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE cells AS SELECT * FROM (VALUES "
        + ", ".join(f"('{d}', {n}, {l!r})" for d, n, l in rows)
        + ") v(domain, n_docs, mean_loss)"
    )
    sql = (
        "WITH "
        + sql_reweight_ctes("cells", n_rounds=n_rounds, eta=0.5)
        + sql_reweight_select("cells", n_rounds, total_budget=20_000)
    )
    got = exp_gradient_weights(
        spark, cells, n_rounds=n_rounds, eta=0.5, total_budget=20_000
    )
    assert compare(got, con, sql, "prop_reweight") == []
