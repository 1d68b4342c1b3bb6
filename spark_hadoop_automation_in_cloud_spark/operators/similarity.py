"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k (broadcast the query set, rank per
query).  Scale path: random-hyperplane LSH bucketing so each query only
scans its bucket neighborhood — the bucket assignment is a pure projection,
and candidate generation becomes an equi-join on bucket signature.

All vector math uses built-in higher-order functions (``functions.vectors``)
— JVM-side, no Python boundary.  Similarities are rounded to 6dp BEFORE
ranking so cross-engine ulp noise can't flip an ordering (ties then break
on vec_id).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from spark_hadoop_automation_in_cloud_spark.functions.vectors import cosine
from spark_hadoop_automation_in_cloud_spark.session import collect_local, owned


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """For every query vector: top-k most-cosine-similar corpus vectors.

    Plan: broadcast(queries) × corpus (nested-loop, corpus never shuffled)
    → rank per query.  Output: query_id, neighbor_id, cosine_sim, rank.
    """
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec")
        )
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cvec"))
    scored = (
        q.crossJoin(c)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("__qvec"), F.col("__cvec")), 6).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def sql_cosine_topk(
    corpus_src: str, query_pred: str, k: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> str:
    """DuckDB oracle: same fold (sequential double dot/norm) + same ranking.
    The cosine itself is the shared ``_SQL_COS`` template — ONE definition
    of the oracle fold for the whole similarity family."""
    cos = _SQL_COS.format(a="q.__qvec", b="c.__cvec")
    return f"""
WITH q AS (
  SELECT {id_col} AS query_id, {vec_col} AS __qvec FROM {corpus_src} WHERE {query_pred}
),
c AS (
  SELECT {id_col} AS neighbor_id, {vec_col} AS __cvec FROM {corpus_src}
),
scored AS (
  SELECT q.query_id, c.neighbor_id,
         {cos} AS cosine_sim
  FROM q CROSS JOIN c
  WHERE q.query_id <> c.neighbor_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine_sim, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {k}
"""


# --- LSH-bucketed ANN (scale path) ------------------------------------------

NUM_HYPERPLANES = 6


from functools import lru_cache


@lru_cache(maxsize=None)
def _plane_weights_sql(plane: int, dim: int) -> str:
    """The plane's weight vector as ONE SQL array literal.  Building it
    with ``F.array(*map(F.lit, ...))`` costs dim py4j round-trips per
    plane — q25's multi-table multi-probe construction made ~10⁴ of them
    (7s of driver time before any job ran); the parsed string is a single
    JVM call, and repr() round-trips every double exactly, so the
    projections are bit-identical."""
    weights = [
        ((1103515245 * (plane * 512 + d) + 12345) % 2147483647) / 2147483647.0 - 0.5
        for d in range(dim)
    ]
    return "array(" + ",".join(repr(w) + "D" for w in weights) + ")"


def _hyperplane_sign(vec: Column, plane: int, dim: int) -> Column:
    """sign(v · h_plane) where h_plane[d] = deterministic pseudo-random ±
    weight derived from (plane, d) by integer arithmetic (LCG step) — no RNG
    library, reproducible anywhere."""
    warr = F.expr(_plane_weights_sql(plane, dim))
    dot = F.aggregate(
        F.zip_with(vec, warr, lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (dot > 0).cast("int")


@lru_cache(maxsize=None)
def _spark_lsh_bucket_sql(
    vec_sql: str, dim: int, planes: int, first_plane: int
) -> str:
    """The full bucket signature as ONE Spark-SQL string (the engine-side
    twin of the oracle's ``_sql_lsh_bucket``): identical arithmetic to the
    Column form — same weight literals via repr round-trip, same
    zip_with/aggregate fold, same ``> 0`` sign and base-2 packing — but a
    single JVM parse instead of ~15 py4j round-trips per plane."""
    expr = "0"
    for p in range(planes):
        arr = _plane_weights_sql(first_plane + p, dim)
        dot = (
            f"aggregate(zip_with({vec_sql}, {arr},"
            " (x, y) -> CAST(x AS DOUBLE) * y), 0.0D, (acc, x) -> acc + x)"
        )
        expr = f"({expr} * 2 + CAST({dot} > 0.0D AS INT))"
    return expr


def lsh_bucket(
    vec: Column | str, dim: int, planes: int = NUM_HYPERPLANES, first_plane: int = 0
) -> Column:
    """Bucket signature: the concatenated sign bits of ``planes`` random
    hyperplane projections (similar vectors collide with high probability).

    ``first_plane`` offsets the deterministic plane indices so multiple
    independent hash tables (banded OR-amplification, as in MinHash LSH)
    can be built from disjoint plane sets.

    Pass the vector as a SQL identifier/expression STRING for the fast
    construction path (one cached JVM parse — see
    :func:`_spark_lsh_bucket_sql`); a Column keeps the equivalent
    Column-API tree (pinned identical by test_ann_lsh_string_and_column_
    paths_agree).
    """
    if isinstance(vec, str):
        return F.expr(_spark_lsh_bucket_sql(vec, dim, planes, first_plane))
    bits = [_hyperplane_sign(vec, first_plane + p, dim) for p in range(planes)]
    out = F.lit(0)
    for b in bits:
        out = out * 2 + b
    return out


def ann_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = NUM_HYPERPLANES,
    tables: int = 1,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH bucket
    neighborhood, then exact cosine rank within the candidates.

    At 100 TB the corpus is scanned once to materialize (table, bucket,
    vec) — ideally written bucketed-by-signature so repeated queries prune
    to matching buckets; the join is an equi-join on (table, bucket)
    instead of a full cross product.  Recall < 1 by construction; two
    amplifiers trade candidate volume for recall:

    - multi-probe: each query also checks every bucket at Hamming distance
      1 from its signature (planes+1 probes out of 2^planes per table);
    - multi-table (``tables`` > 1): independent hash tables from disjoint
      deterministic plane sets, candidates unioned across tables (the
      banded-OR trick, as in ``dedup.embedding_neardup_pairs``).

    Recall/cost operating points on this corpus are measured and recorded
    in RECALL.json (tests/test_ann_recall_artifact.py) — isotropic random
    vectors are the worst case for any sublinear ANN, so the probe budget
    there is deliberately generous.
    """
    corpus_buckets = F.posexplode(
        F.array(*[
            lsh_bucket(f"`{vec_col}`", dim, planes, first_plane=t * planes)
            for t in range(tables)
        ])
    )
    cb = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cvec"),
        corpus_buckets.alias("__table", "__bucket"),
    )
    # per table: the query's own bucket + all Hamming-1 neighbors.  The
    # bucket expression is built ONCE per table and reused across flips
    # (Column objects are immutable trees) — rebuilding it per probe
    # multiplied the construction's py4j cost ~(planes+1)x for identical
    # expressions
    probe_structs = []
    for t in range(tables):
        bkt = lsh_bucket(f"`{vec_col}`", dim, planes, first_plane=t * planes)
        for flip in (0, *[1 << p for p in range(planes)]):
            probe_structs.append(
                F.struct(
                    F.lit(t).alias("__table"),
                    bkt.bitwiseXOR(F.lit(flip)).alias("__bucket"),
                )
            )
    qb = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("__qvec"),
            F.explode(F.array(*probe_structs)).alias("__probe"),
        ).select("query_id", "__qvec", "__probe.__table", "__probe.__bucket")
    )
    scored = (
        qb.join(cb, ["__table", "__bucket"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("__qvec"), F.col("__cvec")), 6).alias("cosine_sim"),
        )
        .distinct()  # a candidate can surface from several tables/probes
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


# --- IVF-bucketed ANN (alternate scale path) ---------------------------------


def ivf_centroids(
    corpus: DataFrame,
    centroid_mod: int = 37,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic coarse-centroid frame: every ``centroid_mod``-th
    corpus vector.  Output: ``cent_id, centroid`` — the (tiny) model half
    of a persisted IVF index; a k-means refinement would swap only this
    producer, every consumer below is unchanged."""
    return corpus.where(F.col(id_col) % centroid_mod == 0).select(
        F.col(id_col).alias("cent_id"), F.col(vec_col).alias("centroid")
    )


def ivf_build_lists(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF inverted lists: each corpus vector assigned to its best cell.

    Output: ``neighbor_id, embedding, cell_id`` — the data half of a
    persisted index; write it ``partitionBy("cell_id")`` so later query
    batches read ONLY probed cells (see :func:`ivf_probe_cells`).  The
    assignment pass is a broadcast nested-loop over the tiny centroid set
    + one reduce per vector, keyed by the vector id.
    """
    cent = F.broadcast(
        centroids.select("cent_id", F.col("centroid").alias("__cent"))
    )
    sim = F.round(cosine(F.col(vec_col), F.col("__cent")), 6)
    best = F.max_by(
        F.col("cent_id"), F.struct(sim.alias("s"), (-F.col("cent_id")).alias("t"))
    )
    return (
        corpus.crossJoin(cent)
        .groupBy(F.col(id_col).alias("neighbor_id"))
        .agg(F.any_value(F.col(vec_col)).alias("embedding"), best.alias("cell_id"))
    )


def ivf_probe_cells(
    centroids: DataFrame,
    queries: DataFrame,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per query: its ``nprobe`` nearest cells (centroids broadcast).

    Output: ``query_id, __qvec, cell_id``.  The distinct cell_id set of
    this frame is bounded by min(n_queries · nprobe, n_cells) — small
    enough to collect and turn into a partition-pruning predicate on the
    persisted lists (the read-only-probed-cells path of q119)."""
    wq = Window.partitionBy("query_id").orderBy(
        F.col("__csim").desc(), F.col("cent_id").asc()
    )
    cent = F.broadcast(
        centroids.select("cent_id", F.col("centroid").alias("__cent"))
    )
    return (
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec"))
        .crossJoin(cent)
        .select(
            "query_id",
            "__qvec",
            "cent_id",
            F.round(cosine(F.col("__qvec"), F.col("__cent")), 6).alias("__csim"),
        )
        .withColumn("__prnk", F.row_number().over(wq))
        .where(F.col("__prnk") <= nprobe)
        .select("query_id", "__qvec", F.col("cent_id").alias("cell_id"))
    )


def ivf_score(probes: DataFrame, lists: DataFrame, k: int) -> DataFrame:
    """Search: equi-join probes with inverted lists on ``cell_id``, exact
    cosine on the survivors, top-``k`` per query (id tiebreak)."""
    scored = (
        F.broadcast(probes)
        .join(
            lists.select(
                "neighbor_id", "cell_id", F.col("embedding").alias("__cvec")
            ),
            "cell_id",
        )
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("__qvec"), F.col("__cvec")), 6).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def ann_ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    centroid_mod: int = 37,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: partition the corpus into
    coarse cells around centroid vectors; each query scans only its
    ``nprobe`` nearest cells.

    Composition of the persistable stages: :func:`ivf_centroids` (model)
    → :func:`ivf_build_lists` (data, one row per corpus vector) →
    :func:`ivf_probe_cells` + :func:`ivf_score` (search).  Centroid
    selection is deterministic (every ``centroid_mod``-th corpus vector)
    rather than k-means — the *plumbing* is the point: at 100 TB the
    build runs ONCE and the two index tables persist (lists partitioned
    by cell_id); each query batch is then a broadcast probe + an
    equi-join that reads only probed cells — never a full cross product.
    Recall < 1 by construction (cross-cell neighbors are missed); raise
    ``nprobe`` to trade cost for recall.  Ties everywhere break on id
    for determinism.
    """
    cent = ivf_centroids(corpus, centroid_mod, id_col, vec_col)
    lists = ivf_build_lists(corpus, cent, id_col, vec_col)
    probes = ivf_probe_cells(cent, queries, nprobe, id_col, vec_col)
    return ivf_score(probes, lists, k)


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 128,
) -> DataFrame:
    """L2 stats + fixed-point int8 quantization of an embedding column.

    Quantization is ``trunc(x * scale)`` with a power-of-two ``scale``:
    multiplying a float by 2^k only shifts its exponent (exact in IEEE-754),
    and truncation-toward-zero of an exact value is engine-independent — so
    the quantized integers are bit-identical in Spark, DuckDB, or any
    faiss-style consumer, with no rounding-boundary coin flips.  (A
    round-to-nearest quantizer would flip on ties whenever two engines'
    ``x/norm`` differ in the last ulp — the fixed-point form has no ties.)

    Output per vector: rounded L2 norm, first unit-vector component (the
    normalize witness), and exact integer digests of the quantized vector
    (L1 mass, max, position-weighted checksum — the checksum catches
    element-order corruption that the L1 sum would miss).

    Scale shape: pure projection over the array column, no shuffle; at
    100 TB the quantized form is the write-out path (4× smaller than
    float32, 8× smaller than float64).
    """
    v = F.col(vec_col)
    sumsq = F.aggregate(
        v, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
    )
    norm = F.sqrt(sumsq)
    q = F.transform(v, lambda x: (x.cast("double") * scale).cast("int"))
    l1 = F.aggregate(
        q, F.lit(0).cast("bigint"), lambda acc, x: acc + F.abs(x).cast("bigint")
    )
    checksum = F.aggregate(
        F.zip_with(
            q,
            F.sequence(F.lit(1), F.size(v)),
            lambda x, i: x.cast("bigint") * i.cast("bigint"),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return df.select(
        F.col(id_col),
        F.round(norm, 6).alias("l2_norm"),
        # NULL (not a crash) for the zero vector — ANSI mode raises on x/0
        F.when(
            norm > 0, F.round(F.element_at(v, 1).cast("double") / norm, 6)
        ).alias("unit0"),
        l1.alias("q_l1"),
        F.array_max(q).alias("q_max"),
        checksum.alias("q_checksum"),
    )


def sql_quantize_embeddings(
    src: str, id_col: str = "vec_id", vec_col: str = "embedding", scale: int = 128
) -> str:
    """DuckDB oracle for :func:`quantize_embeddings` — same sequential double
    fold for the norm, same exact trunc quantizer (DuckDB CAST to INT
    rounds, so the trunc() is explicit)."""
    q = f"list_transform({vec_col}, x -> CAST(trunc(CAST(x AS DOUBLE) * {scale}) AS INT))"
    return f"""
WITH qv AS (
  SELECT {id_col},
         sqrt(list_sum(list_transform({vec_col},
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS norm,
         CAST({vec_col}[1] AS DOUBLE) AS x0,
         {q} AS q,
         len({vec_col}) AS n
  FROM {src}
)
SELECT {id_col},
       round(norm, 6) AS l2_norm,
       CASE WHEN norm > 0 THEN round(x0 / norm, 6) END AS unit0,
       CAST(list_sum(list_transform(q, x -> abs(x))) AS BIGINT) AS q_l1,
       CAST(list_max(q) AS INT) AS q_max,
       CAST(list_sum(list_transform(list_zip(q, generate_series(1, n)),
            p -> CAST(p[1] AS BIGINT) * p[2])) AS BIGINT) AS q_checksum
FROM qv
"""


# --- DuckDB oracles for the ANN paths ----------------------------------------
#
# Approximate != non-deterministic: the hyperplanes are integer-LCG weights,
# IVF centroids are a modulus rule, all similarities are rounded to 6dp
# before ranking, and every tie breaks on an id — so the EXACT candidate
# sets and rankings are reproducible in SQL, recall trade included.  These
# oracles re-derive the same buckets/cells and run the same ranking,
# upgrading q25/q30 from rows-only checks to full value-hash checks.

_SQL_COS = (
    "round(list_sum(list_transform(list_zip({a}, {b}),"
    " p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    " / (sqrt(list_sum(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    " * sqrt(list_sum(list_transform({b}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6)"
)


def _sql_lsh_bucket(vec: str, dim: int, planes: int, first_plane: int) -> str:
    """Bucket signature of ``vec``: same LCG weights and bit order as
    :func:`lsh_bucket` (bit p carries weight 2^(planes-1-p)).  ``dim`` must
    match the Spark side — list_zip pads the shorter list with NULLs."""

    def dot_plane(p: int) -> str:
        weights = (
            f"list_transform(range(0, {dim}), d -> "
            f"((1103515245 * ({p} * 512 + d) + 12345) % 2147483647) "
            f"/ 2147483647.0 - 0.5)"
        )
        return (
            f"list_sum(list_transform(list_zip({vec}, {weights}), "
            f"pr -> CAST(pr[1] AS DOUBLE) * pr[2]))"
        )

    return " + ".join(
        f"(CASE WHEN {dot_plane(first_plane + p)} > 0 "
        f"THEN {1 << (planes - 1 - p)} ELSE 0 END)"
        for p in range(planes)
    )


def sql_ann_lsh_topk(
    src: str,
    query_pred: str,
    k: int,
    dim: int,
    planes: int = 4,
    tables: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB oracle for :func:`ann_lsh_topk` (multi-table + Hamming-1
    multi-probe).  Candidate rule: a corpus vector is a candidate when, in
    ANY table, its bucket equals the query's bucket or differs in exactly
    one bit — expressed as an OR join over xor() probes (the oracle runs at
    sf0.01 where a nested-loop join is fine; scalability is the Spark
    plan's job, correctness is the oracle's)."""
    bucket_cols = ",\n         ".join(
        f"{_sql_lsh_bucket('vec', dim, planes, t * planes)} AS bk{t}"
        for t in range(tables)
    )
    flips = [0] + [1 << p for p in range(planes)]
    probe_cond = " OR ".join(
        f"c.bk{t} = xor(q.bk{t}, {flip})" for t in range(tables) for flip in flips
    )
    cos = _SQL_COS.format(a="q.vec", b="c.vec")
    return f"""
WITH base AS (
  SELECT {id_col} AS vid, {vec_col} AS vec,
         {bucket_cols}
  FROM {src}
),
q AS (SELECT * FROM base WHERE vid IN (SELECT {id_col} FROM {src} WHERE {query_pred})),
scored AS (
  SELECT q.vid AS query_id, c.vid AS neighbor_id,
         {cos} AS cosine_sim
  FROM q JOIN base c ON ({probe_cond})
  WHERE q.vid <> c.vid
)
SELECT query_id, neighbor_id, cosine_sim, CAST(rank AS INT) AS rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
  FROM scored) WHERE rank <= {k}
"""


def sql_ann_ivf_topk(
    src: str,
    query_pred: str,
    k: int,
    centroid_mod: int = 37,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB oracle for :func:`ann_ivf_topk`: same modulus centroids, same
    rounded-cosine assignment with ties to the lowest centroid id, same
    nprobe cell probing, same final ranking."""
    cos_cent = _SQL_COS.format(a="v.vec", b="c.cvec")
    cos_pair = _SQL_COS.format(a="p.vec", b="l.vec")
    return f"""
WITH emb AS (SELECT {id_col} AS vid, {vec_col} AS vec FROM {src}),
cent AS (SELECT vid AS cent_id, vec AS cvec FROM emb WHERE vid % {centroid_mod} = 0),
lists AS (
  SELECT vid AS neighbor_id, vec, cent_id AS cell_id FROM (
    SELECT v.vid, v.vec, c.cent_id,
           row_number() OVER (PARTITION BY v.vid
             ORDER BY {cos_cent} DESC, c.cent_id ASC) AS rn
    FROM emb v CROSS JOIN cent c) WHERE rn = 1
),
probes AS (
  SELECT vid AS query_id, vec, cent_id AS cell_id FROM (
    SELECT v.vid, v.vec, c.cent_id,
           row_number() OVER (PARTITION BY v.vid
             ORDER BY {cos_cent} DESC, c.cent_id ASC) AS rn
    FROM (SELECT * FROM emb WHERE vid IN
            (SELECT {id_col} FROM {src} WHERE {query_pred})) v
    CROSS JOIN cent c) WHERE rn <= {nprobe}
),
scored AS (
  SELECT p.query_id, l.neighbor_id, {cos_pair} AS cosine_sim
  FROM probes p JOIN lists l ON p.cell_id = l.cell_id
  WHERE p.query_id <> l.neighbor_id
)
SELECT query_id, neighbor_id, cosine_sim, CAST(rank AS INT) AS rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
  FROM scored) WHERE rank <= {k}
"""


def hard_negative_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: per query vector,
    the top-k most-similar corpus vectors whose ``label_col`` DIFFERS —
    the near-misses that make the best negatives (harder than random,
    cleaner than same-label false negatives).

    Same plan as :func:`cosine_topk` — broadcast queries × corpus scan,
    the corpus is never shuffled — with the label-mismatch predicate
    applied BEFORE ranking so the window ranks only eligible negatives.
    Output: query_id, neighbor_id, neighbor_label, cosine_sim, rank.
    """
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("__qvec"),
            F.col(label_col).alias("__qlabel"),
        )
    )
    c = emb.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cvec"),
        F.col(label_col).alias("neighbor_label"),
    )
    scored = (
        q.crossJoin(c)
        .where(F.col("__qlabel") != F.col("neighbor_label"))
        .select(
            "query_id",
            "neighbor_id",
            "neighbor_label",
            F.round(cosine(F.col("__qvec"), F.col("__cvec")), 6).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def sql_hard_negative_topk(
    corpus_src: str,
    query_pred: str,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> str:
    cos = _SQL_COS.format(a="q.__qvec", b="c.__cvec")
    return f"""
WITH q AS (
  SELECT {id_col} AS query_id, {vec_col} AS __qvec, {label_col} AS __qlabel
  FROM {corpus_src} WHERE {query_pred}
),
c AS (
  SELECT {id_col} AS neighbor_id, {vec_col} AS __cvec, {label_col} AS neighbor_label
  FROM {corpus_src}
),
scored AS (
  SELECT q.query_id, c.neighbor_id, c.neighbor_label,
         {cos} AS cosine_sim
  FROM q CROSS JOIN c
  WHERE q.__qlabel <> c.neighbor_label
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, neighbor_label, cosine_sim, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {k}
"""



# --- Johnson-Lindenstrauss random projection (dim reduction) -----------------


@lru_cache(maxsize=None)
def jl_weights(plane: int, dim: int) -> tuple[float, ...]:
    """Deterministic uniform(-0.5, 0.5) projection weights for one plane:
    the first 60 bits of md5("jl:{plane}:{d}") scaled to the unit
    interval.  md5 (not the LSH LCG) on purpose: a SINGLE LCG step is
    linear in its seed, so ``_plane_weights_sql``'s rows are the same
    sawtooth sequence at different phase offsets — measurably
    ill-conditioned as a projection matrix (singular values 5.49..0.64
    for 16x64 vs 3.21..1.37 for this md5 family).  Sign-bucketing
    tolerates that (the LSH recall artifact proves it); keeping the raw
    coordinates does not.  Like ``minhash_coeffs``, the derivation is
    pure deterministic arithmetic and the VALUES are inlined as literals
    on both engines, so cross-engine equality is by construction."""
    import hashlib

    return tuple(
        int(hashlib.md5(f"jl:{plane}:{d}".encode()).hexdigest()[:15], 16)
        / float(1 << 60)
        - 0.5
        for d in range(dim)
    )


def _jl_weights_sql(plane: int, dim: int) -> str:
    """One plane's weights as an array literal (Spark and DuckDB parse
    repr'd doubles to the identical IEEE values — the
    ``_plane_weights_sql`` round-trip argument)."""
    return "[" + ",".join(repr(w) for w in jl_weights(plane, dim)) + "]"


def random_project_expr(
    vec_sql: str, dim: int, out_dim: int, first_plane: int = 0
) -> str:
    """Spark-SQL expression projecting ``vec_sql`` (length ``dim``) onto
    ``out_dim`` md5-derived hyperplanes (:func:`jl_weights`) — the raw
    dot products, one left-fold per plane, same fold as the LSH bucket
    signs.  One JVM parse, row-local, zero shuffle; ``first_plane``
    picks a disjoint weight family per independent use."""
    dots = []
    for j in range(out_dim):
        arr = "array(" + ",".join(
            repr(w) + "D" for w in jl_weights(first_plane + j, dim)
        ) + ")"
        dots.append(
            f"aggregate(zip_with({vec_sql}, {arr},"
            " (x, y) -> CAST(x AS DOUBLE) * y), 0.0D, (acc, x) -> acc + x)"
        )
    return "array(" + ",".join(dots) + ")"


def random_project(
    df: DataFrame,
    dim: int,
    out_dim: int,
    vec_col: str = "embedding",
    out_col: str = "proj",
    first_plane: int = 0,
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction: append ``out_col``
    = the ``out_dim`` md5-hyperplane dot products of ``vec_col``.

    The 100 TB payoff: every downstream similarity pass (brute top-k,
    IVF, LSH) does ``out_dim``-width arithmetic and ships
    ``out_dim``-width vectors — 64 -> 16 is a 4x cut in the similarity
    stage's compute and broadcast/shuffle bytes.  The HONEST contract,
    measured on both corpus shapes: JL preserves COARSE geometry
    (cluster structure), not noise-level rankings — on the clustered
    test fixture a 25-candidate projected shortlist re-ranked by exact
    full-space cosine recovers the exact top-5 perfectly (recall 1.0,
    pinned by pytest), while on an isotropic corpus (every neighbor a
    noise-level distinction) NO 16-dim projection can rank — so the
    operator is shipped as the shortlist stage of a
    project -> shortlist -> exact-rerank pipeline (q122), never as a
    standalone ranker.

    Deterministic: weights derive from md5(plane, d) — no RNG state —
    and are inlined as identical literals on both engines.  Purely
    row-local (one scan, zero shuffle); composes with
    :func:`cosine_topk` / the ANN operators via ``vec_col=out_col``.
    """
    return df.withColumn(
        out_col, F.expr(random_project_expr(f"`{vec_col}`", dim, out_dim, first_plane))
    )


def sql_random_project(
    vec: str, dim: int, out_dim: int, first_plane: int = 0
) -> str:
    """DuckDB twin of :func:`random_project_expr`: the SAME weight
    literals (``jl_weights`` repr round-trip) and the same left-to-right
    double fold, so every projected coordinate matches bit-for-bit."""

    def dot_plane(p: int) -> str:
        return (
            f"list_sum(list_transform(list_zip({vec}, {_jl_weights_sql(p, dim)}), "
            f"pr -> CAST(pr[1] AS DOUBLE) * pr[2]))"
        )

    return (
        "[" + ",".join(dot_plane(first_plane + j) for j in range(out_dim)) + "]"
    )


def projected_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    dim: int,
    out_dim: int = 16,
    shortlist: int = 25,
    first_plane: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """project -> shortlist -> exact-rerank similarity search.

    Stage 1 ranks the corpus per query by cosine IN PROJECTED SPACE
    (``out_dim`` dims, :func:`random_project`) and keeps ``shortlist``
    candidates; stage 2 re-ranks ONLY those candidates by exact
    full-space cosine and keeps ``k``.  The expensive all-pairs stage
    thus runs at ``out_dim``/``dim`` of the arithmetic and broadcast
    width, and the full-width vectors are touched for
    |queries| x shortlist rows only — the faiss-style shape for
    similarity at 100 TB.  Both stages round to 6dp and tie-break on
    the id before any cut, so the candidate sets and the final ranking
    are deterministic and engine-independent (the oracle replays both
    stages exactly).

    Output: query_id, neighbor_id, cosine_sim (FULL-space, 6dp), rank.
    """
    p = random_project(
        corpus.select(id_col, vec_col), dim, out_dim, vec_col=vec_col,
        first_plane=first_plane,
    )
    pq = random_project(
        queries.select(id_col, vec_col), dim, out_dim, vec_col=vec_col,
        first_plane=first_plane,
    )
    cand = cosine_topk(
        p.select(id_col, "proj"), pq.select(id_col, "proj"),
        k=shortlist, id_col=id_col, vec_col="proj",
    ).select("query_id", "neighbor_id")
    # rerank: candidates are |queries| x shortlist rows — broadcast them
    # into the corpus scan, then broadcast the query vectors; the only
    # full-width work left is one row per candidate
    full = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cvec")
    )
    qv = F.broadcast(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec"))
    )
    scored = (
        full.join(F.broadcast(cand), "neighbor_id")
        .join(qv, "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("__qvec"), F.col("__cvec")), 6).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def sql_projected_rerank_topk(
    src: str,
    query_pred: str,
    k: int,
    dim: int,
    out_dim: int = 16,
    shortlist: int = 25,
    first_plane: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB oracle for :func:`projected_rerank_topk`: identical weight
    literals, identical left-fold projection, the shared ``_SQL_COS``
    cosine for BOTH stages, 6dp rounds and id tie-breaks before each
    cut — the exact two-stage ranking, replayed."""
    proj = sql_random_project(vec_col, dim, out_dim, first_plane)
    pcos = _SQL_COS.format(a="q.pvec", b="c.pvec")
    fcos = _SQL_COS.format(a="qf.vec", b="cf.vec")
    return f"""
WITH p AS (
  SELECT {id_col} AS vid, {vec_col} AS vec, {proj} AS pvec FROM {src}
),
q AS (SELECT * FROM p WHERE vid IN (SELECT {id_col} FROM {src} WHERE {query_pred})),
cand AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vid AS query_id, c.vid AS neighbor_id,
           row_number() OVER (
             PARTITION BY q.vid
             ORDER BY {pcos} DESC, c.vid ASC) AS prank
    FROM q CROSS JOIN p c WHERE q.vid <> c.vid
  ) WHERE prank <= {shortlist}
),
rescored AS (
  SELECT cand.query_id, cand.neighbor_id, {fcos} AS cosine_sim
  FROM cand
  JOIN p qf ON qf.vid = cand.query_id
  JOIN p cf ON cf.vid = cand.neighbor_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
  FROM rescored
)
SELECT query_id, neighbor_id, cosine_sim, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {k}
"""


# --- Hybrid lexical+dense retrieval (PRF seed + reciprocal-rank fusion) ------


def hybrid_prf_rrf_topk(
    docs: DataFrame,
    emb: DataFrame,
    queries: dict[int, str],
    *,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
    k_each: int = 20,
    topk: int = 10,
    rrf_k: int = 60,
) -> DataFrame:
    """Hybrid retrieval: BM25 lexical ranking fused with a dense cosine
    ranking via reciprocal-rank fusion (RRF), the dense query vector
    obtained by pseudo-relevance feedback (PRF) — the embedding of each
    query's BM25 top-1 document seeds its semantic neighborhood scan.

    Output: ``query_id``, ``doc_id``, ``bm25_rank`` / ``dense_rank``
    (1-based int, NULL when the doc appears on one side only), ``rrf``
    (fused score, 6dp) and ``rank`` (1..topk, ties by doc_id).

    Fusion is Cormack et al.'s RRF: ``sum(1 / (rrf_k + rank))`` over the
    sides that ranked the doc in their top ``k_each``.  Each side's term
    is snapped to an integer 1e-9 grid before the sum (ranks are exact
    ints, so both engines compute the identical bigint), making the fused
    ORDER cross-engine exact; ``rrf`` is the grid sum scaled back.

    Scale shape: the lexical side is :func:`~...textops.bm25_scores`
    (query-term posting lists only; 1-row stats broadcast).  Its ranked
    list — at most ``n_queries·k_each`` rows by construction, bounded
    model state like a centroid set — is materialized driver-side ONCE,
    so the token-probe scan runs once even though two downstream branches
    (the PRF seeds and the fusion join) consume the list; a lazy reuse
    would re-evaluate the whole lexical subtree per branch (two corpus
    scans, verified in the physical plan).  The PRF seed set and its
    embeddings ride broadcasts; the dense side is one unshuffled corpus
    scan (broadcast NLJ, q24's shape); the fusion joins two tiny frames.

    The driver materialization (``session.collect_local``) is sized by
    ``n_queries·k_each``: callers with an UNBOUNDED query set (a
    streaming query log) must batch the queries, or swap it for a
    ``session.owned`` persist — executor-side reuse, released when the
    scope exits.
    """
    # local import: fusion composes the lexical ranker from textops; the
    # dependency is one-way (textops never imports similarity)
    from spark_hadoop_automation_in_cloud_spark.operators.textops import bm25_scores

    if topk < 1 or k_each < 1:
        raise ValueError(f"topk/k_each must be >= 1, got {topk}/{k_each}")
    lex_plan = bm25_scores(docs, doc_id_col, text_col, queries, topk=k_each).select(
        "query_id", "doc_id", F.col("rank").alias("bm25_rank")
    )
    lex = collect_local(lex_plan)
    seeds = lex.where(F.col("bm25_rank") == 1).select(
        "query_id", F.col("doc_id").alias("__seed_id")
    )
    qv = F.broadcast(
        seeds.join(emb, seeds["__seed_id"] == emb[vec_id_col]).select(
            "query_id", "__seed_id", F.col(vec_col).alias("__qvec")
        )
    )
    corpus = emb.select(
        F.col(vec_id_col).alias("doc_id"), F.col(vec_col).alias("__cvec")
    )
    dscored = (
        qv.crossJoin(corpus)
        .where(F.col("doc_id") != F.col("__seed_id"))
        .select(
            "query_id",
            "doc_id",
            F.round(cosine(F.col("__qvec"), F.col("__cvec")), 6).alias("cosine_sim"),
        )
    )
    dw = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("doc_id").asc()
    )
    dense = (
        dscored.withColumn("dense_rank", F.row_number().over(dw))
        .where(F.col("dense_rank") <= k_each)
        .select("query_id", "doc_id", "dense_rank")
    )

    def contrib(rank: Column) -> Column:
        return F.when(
            rank.isNotNull(),
            F.round(F.lit(1_000_000_000.0) / (rank + F.lit(rrf_k))).cast("bigint"),
        ).otherwise(F.lit(0).cast("bigint"))

    fused = lex.join(dense, ["query_id", "doc_id"], "full_outer").select(
        "query_id",
        "doc_id",
        F.col("bm25_rank").cast("int").alias("bm25_rank"),
        F.col("dense_rank").cast("int").alias("dense_rank"),
        (contrib(F.col("bm25_rank")) + contrib(F.col("dense_rank"))).alias("__s"),
    )
    fw = Window.partitionBy("query_id").orderBy(
        F.col("__s").desc(), F.col("doc_id").asc()
    )
    return (
        fused.withColumn("rank", F.row_number().over(fw).cast("int"))
        .where(F.col("rank") <= topk)
        .select(
            "query_id",
            "doc_id",
            "bm25_rank",
            "dense_rank",
            F.round(F.col("__s") / 1_000_000_000.0, 6).alias("rrf"),
            "rank",
        )
    )


def sql_hybrid_prf_rrf_topk(
    docs_src: str,
    emb_src: str,
    queries: dict[int, str],
    *,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
    k_each: int = 20,
    topk: int = 10,
    rrf_k: int = 60,
) -> str:
    """DuckDB twin of :func:`hybrid_prf_rrf_topk`: the lexical CTE is the
    verbatim :func:`~...textops.sql_bm25_scores` body (ONE definition of
    the ranker per engine), the dense side shares ``_SQL_COS``, and the
    fusion uses the identical 1e-9 integer grid."""
    from spark_hadoop_automation_in_cloud_spark.operators.textops import (
        sql_bm25_scores,
    )

    lex_sql = sql_bm25_scores(
        docs_src, doc_id_col, text_col, queries, topk=k_each
    )
    cos = _SQL_COS.format(a="qv.__qvec", b="c.__cvec")
    grid = 1_000_000_000.0
    return f"""
WITH lex AS (
  SELECT query_id, doc_id, rank AS bm25_rank FROM ({lex_sql})
),
seeds AS (SELECT query_id, doc_id AS __seed_id FROM lex WHERE bm25_rank = 1),
qv AS (
  SELECT s.query_id, s.__seed_id, e.{vec_col} AS __qvec
  FROM seeds s JOIN {emb_src} e ON e.{vec_id_col} = s.__seed_id
),
dscored AS (
  SELECT qv.query_id, c.{vec_id_col} AS doc_id, {cos} AS cosine_sim
  FROM qv CROSS JOIN (SELECT {vec_id_col}, {vec_col} AS __cvec FROM {emb_src}) c
  WHERE c.{vec_id_col} <> qv.__seed_id
),
dense AS (
  SELECT query_id, doc_id, dense_rank FROM (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine_sim DESC, doc_id ASC) AS dense_rank
    FROM dscored
  ) WHERE dense_rank <= {k_each}
),
fused AS (
  SELECT COALESCE(l.query_id, d.query_id) AS query_id,
         COALESCE(l.doc_id, d.doc_id) AS doc_id,
         CAST(l.bm25_rank AS INT) AS bm25_rank,
         CAST(d.dense_rank AS INT) AS dense_rank,
         COALESCE(CAST(round({grid!r} / (l.bm25_rank + {rrf_k})) AS BIGINT), 0)
         + COALESCE(CAST(round({grid!r} / (d.dense_rank + {rrf_k})) AS BIGINT), 0)
           AS __s
  FROM lex l FULL JOIN dense d
    ON l.query_id = d.query_id AND l.doc_id = d.doc_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY __s DESC, doc_id ASC) AS rank
  FROM fused
)
SELECT query_id, doc_id, bm25_rank, dense_rank,
       round(__s / {grid!r}, 6) AS rrf, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {topk}
"""


# --- Product quantization (memory-scale ANN path) ----------------------------

#: PQ geometry: dim splits into PQ_SUBSPACES contiguous subvectors, each
#: quantized to one of PQ_CODEBOOK_K per-subspace centroids — a 64-dim
#: float32 vector (256 B) compresses to PQ_SUBSPACES small ints.  At the
#: 100 TB target this is what makes the vector side of the index FIT:
#: IVF prunes which cells to scan (similarity.py IVF family), PQ shrinks
#: what a scanned cell costs to hold and compare.
PQ_SUBSPACES = 4
PQ_CODEBOOK_K = 8
PQ_ITERS = 3
_PQ_Q = 1_000_000  # centroid-mean quantization grid (clustering.py's _Q)


def train_pq_codebooks(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_sub: int = PQ_SUBSPACES,
    k: int = PQ_CODEBOOK_K,
    iters: int = PQ_ITERS,
) -> list[list[list[float]]]:
    """Train per-subspace PQ codebooks with Lloyd's k-means —
    ``codebooks[s][j]`` is centroid ``j`` (width ``dim/n_sub``) of
    subspace ``s``.

    Deterministic by the q96 k-means conventions (clustering.py): all
    arithmetic in DOUBLE, seeds are the k lowest-id vectors' subvectors
    (code = rank−1), assignment argmin ties break to the lowest code, and
    centroid means accumulate exact 1e-6-quantized integers — so the
    DuckDB oracle replays the identical trajectory.

    Scale shape: the model is bounded (``n_sub·k·dim/n_sub = k·dim``
    doubles); per iteration ONE corpus scan computes all ``n_sub``
    row-local argmins inline (centroids ship as plan literals, the q96
    inline path) and ONE dimension-exploded map-side-combined aggregation
    returns all subspaces' means together — nothing per-row reaches the
    driver.  The widened corpus is persisted through ``session.owned`` for
    the loop and released after, the clustering.py discipline.
    """
    if dim % n_sub != 0:
        raise ValueError(f"dim {dim} not divisible by n_sub {n_sub}")
    width = dim // n_sub
    with owned(corpus.sparkSession) as scope:
        widened = scope.persist(
            corpus.select(
                F.col(id_col).alias("__id"),
                F.col(vec_col).cast("array<double>").alias("__v"),
            )
        )
        seed_rows = widened.orderBy("__id").limit(k).collect()
        if not seed_rows:
            raise ValueError("train_pq_codebooks: empty input")
        seeds = [list(r["__v"]) for r in sorted(seed_rows, key=lambda r: r["__id"])]
        books: list[list[list[float]]] = [
            [seeds[j][s * width : (s + 1) * width] for j in range(len(seeds))]
            for s in range(n_sub)
        ]

        def best_expr(s: int) -> Column:
            # the q96 inline argmin, per subspace: one literal matrix, one
            # row-local zip_with fold, array_min struct tie-break
            mat = "array(" + ",".join(
                "array(" + ",".join(repr(float(x)) + "D" for x in c) + ")"
                for c in books[s]
            ) + ")"
            ids = "array(" + ",".join(str(j) for j in range(len(books[s]))) + ")"
            return F.expr(
                "array_min(zip_with("
                f"transform({mat}, c -> aggregate(zip_with("
                f"slice(__v, {s * width + 1}, {width}), c,"
                " (a, b) -> (a - b) * (a - b)), 0.0D, (acc, x) -> acc + x)),"
                f" {ids},"
                " (d, i) -> struct(d AS sq_dist, CAST(i AS INT) AS code)))"
            )

        for _ in range(iters):
            coded = widened.select(
                *[best_expr(s)["code"].alias(f"__c{s}") for s in range(n_sub)],
                F.posexplode("__v").alias("__pos", "__val"),
            )
            sub = (F.col("__pos") / width).cast("int")
            code = F.element_at(
                F.array(*[F.col(f"__c{s}") for s in range(n_sub)]), sub + 1
            )
            means = (
                coded.select(
                    sub.alias("s"),
                    code.alias("code"),
                    (F.col("__pos") % width).alias("sub_pos"),
                    "__val",
                )
                .groupBy("s", "code", "sub_pos")
                .agg(
                    (
                        F.sum(
                            F.round(F.col("__val") * _PQ_Q).cast("decimal(38,0)")
                        ).cast("double")
                        / (F.count(F.lit(1)) * _PQ_Q)
                    ).alias("m")
                )
                .collect()
            )
            new_books: list[list[list[float] | None]] = [
                [None] * len(books[s]) for s in range(n_sub)
            ]
            for r in means:
                s, j = int(r["s"]), int(r["code"])
                if new_books[s][j] is None:
                    new_books[s][j] = [0.0] * width
                new_books[s][j][int(r["sub_pos"])] = float(r["m"])
            # empty codes keep their previous centroid
            books = [
                [
                    new_books[s][j] if new_books[s][j] is not None else books[s][j]
                    for j in range(len(books[s]))
                ]
                for s in range(n_sub)
            ]
        return books


def pq_encode(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Encode every vector as its per-subspace nearest-centroid codes.

    Output: ``id_col``, ``carry_cols`` (passed through unchanged — e.g.
    an IVF ``cell_id`` so the coded index keeps its partitioning column),
    ``code_0..code_{S-1}`` (int), ``recon_sq`` (double 6dp — total
    squared reconstruction error, the per-subspace distances added in
    subspace order).  One row-local scan, zero shuffle: the codebooks
    ride as plan literals.
    """
    carry_cols = carry_cols or []
    n_sub = len(codebooks)
    width = len(codebooks[0][0])
    out_cols = [F.col(id_col)] + [F.col(c) for c in carry_cols]
    dist_sum: Column | None = None
    for s in range(n_sub):
        mat = "array(" + ",".join(
            "array(" + ",".join(repr(float(x)) + "D" for x in c) + ")"
            for c in codebooks[s]
        ) + ")"
        ids = "array(" + ",".join(str(j) for j in range(len(codebooks[s]))) + ")"
        best = F.expr(
            "array_min(zip_with("
            f"transform({mat}, c -> aggregate(zip_with("
            f"slice(CAST(`{vec_col}` AS ARRAY<DOUBLE>), {s * width + 1}, {width}),"
            " c, (a, b) -> (a - b) * (a - b)), 0.0D, (acc, x) -> acc + x)),"
            f" {ids},"
            " (d, i) -> struct(d AS sq_dist, CAST(i AS INT) AS code)))"
        )
        out_cols.append(best["code"].alias(f"code_{s}"))
        d = best["sq_dist"]
        dist_sum = d if dist_sum is None else (dist_sum + d)
    out_cols.append((F.round(dist_sum, 6) + F.lit(0.0)).alias("recon_sq"))
    return corpus.select(*out_cols)


def _pq_lut_frame(spark, codebooks, q_rows) -> DataFrame:
    """(query_id, __lut) frame: per-query subspace-distance lookup tables
    over the codebooks — ``LUT[s][j] = ‖q_s − codebook_s[j]‖²``, each
    distance a left-to-right Python fold (IEEE-identical to the engines'
    fold over the same values, the pq_adc_topk contract)."""
    n_sub = len(codebooks)
    width = len(codebooks[0][0])
    luts = []
    for r in sorted(q_rows, key=lambda r: r["__qid"]):
        qv = list(r["__qv"])
        lut = []
        for s in range(n_sub):
            qs = qv[s * width : (s + 1) * width]
            row = []
            for c in codebooks[s]:
                acc = 0.0
                for a, b in zip(qs, c):
                    acc += (a - b) * (a - b)
                row.append(acc)
            lut.append(row)
        luts.append((int(r["__qid"]), lut))
    return spark.createDataFrame(luts, "query_id bigint, __lut array<array<double>>")


def _adc_expr(n_sub: int) -> Column:
    """Σ_s __lut[s][code_s], added in subspace order."""
    adc: Column | None = None
    for s in range(n_sub):
        term = F.element_at(
            F.element_at(F.col("__lut"), s + 1), F.col(f"code_{s}") + 1
        )
        adc = term if adc is None else (adc + term)
    return adc


def pq_adc_topk(
    codes: DataFrame,
    codebooks: list[list[list[float]]],
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: the query stays a full
    vector, the corpus is its codes — distance ≈ Σ_s LUT_s[code_s] where
    ``LUT_s[j] = ‖q_s − codebook_s[j]‖²`` is precomputed per query.

    This is the PQ search kernel: the scan touches ``n_sub`` small ints
    per corpus row (never the vector), the per-row work is ``n_sub``
    array lookups + adds, and the LUT table (queries × n_sub × k doubles
    — bounded) broadcasts.  Output: query_id, neighbor_id (≠ query),
    adc_sq (6dp), rank (ties to the lowest neighbor id).

    The LUT folds each subspace distance left-to-right in Python —
    IEEE-double identical to the engines' fold over the same centroid
    values, so the oracle can recompute distances engine-side and still
    hash-match.
    """
    n_sub = len(codebooks)
    spark = codes.sparkSession
    q_rows = queries.select(
        F.col(id_col).alias("__qid"),
        F.col(vec_col).cast("array<double>").alias("__qv"),
    ).collect()
    qf = F.broadcast(_pq_lut_frame(spark, codebooks, q_rows))
    adc = _adc_expr(n_sub)
    scored = (
        codes.crossJoin(qf)
        .where(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            (F.round(adc, 6) + F.lit(0.0)).alias("adc_sq"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_sq").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
    )


def sql_pq_chain(
    src: str,
    vec_col: str = "embedding",
    dim: int = 64,
    n_sub: int = PQ_SUBSPACES,
    k: int = PQ_CODEBOOK_K,
    iters: int = PQ_ITERS,
) -> str:
    """DuckDB CTE chain replaying PQ training + encoding: per-subspace
    unrolled Lloyd's (the q96 oracle pattern — identical seed rule,
    argmin tie-break, and 1e-6-quantized means), ending in ``cb{s}``
    (final codebooks, ``cid``/``c``) and ``codes`` (vec_id, ``c{s}``
    code + ``d{s}`` squared distance per subspace).  Every CTE is
    MATERIALIZED — DuckDB inlines plain CTEs and an unrolled iteration
    chain re-expands its whole prefix per reference (the q136 lesson)."""
    width = dim // n_sub
    parts = [
        f"""emb AS MATERIALIZED (
  SELECT vec_id, CAST({vec_col} AS DOUBLE[]) AS v FROM {src}
)"""
    ]
    for s in range(n_sub):
        off = s * width
        dist = (
            f"list_sum(list_transform(generate_series(1, {width}),"
            f" i -> (e.v[{off} + i] - c.c[i]) * (e.v[{off} + i] - c.c[i])))"
        )
        parts.append(
            f"""cb{s}_0 AS MATERIALIZED (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
         list_transform(generate_series(1, {width}), i -> v[{off} + i]) AS c
  FROM emb ORDER BY vec_id LIMIT {k}
)"""
        )
        for t in range(1, iters + 1):
            prev = f"cb{s}_{t - 1}"
            parts.append(
                f"""a{s}_{t} AS MATERIALIZED (
  SELECT vec_id, v, cid FROM (
    SELECT e.vec_id, e.v, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {dist}, c.cid) AS rn
    FROM emb e CROSS JOIN {prev} c) WHERE rn = 1
),
cb{s}_{t} AS MATERIALIZED (
  SELECT p.cid, COALESCE(m.c, p.c) AS c
  FROM {prev} p LEFT JOIN (
    SELECT cid, list(m ORDER BY sub_pos) AS c FROM (
      SELECT cid, sub_pos,
             CAST(SUM(CAST(round(val * {_PQ_Q}) AS HUGEINT)) AS DOUBLE)
               / (COUNT(*) * {_PQ_Q}) AS m
      FROM (SELECT cid,
                   unnest(generate_series(1, {width})) AS sub_pos,
                   unnest(list_transform(generate_series(1, {width}),
                                         i -> v[{off} + i])) AS val
            FROM a{s}_{t})
      GROUP BY cid, sub_pos) GROUP BY cid) m ON m.cid = p.cid
)"""
            )
        parts.append(
            f"""f{s} AS MATERIALIZED (
  SELECT vec_id, cid AS c{s}, d AS d{s} FROM (
    SELECT e.vec_id, c.cid, {dist} AS d,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {dist}, c.cid) AS rn
    FROM emb e CROSS JOIN cb{s}_{iters} c) WHERE rn = 1
)"""
        )
    joins = " ".join(f"JOIN f{s} USING (vec_id)" for s in range(1, n_sub))
    sel = ", ".join(f"c{s}, d{s}" for s in range(n_sub))
    parts.append(
        f"""codes AS MATERIALIZED (
  SELECT vec_id, {sel} FROM f0 {joins}
)"""
    )
    return ",\n".join(parts)


def sql_pq_codes(
    src: str,
    vec_col: str = "embedding",
    dim: int = 64,
    n_sub: int = PQ_SUBSPACES,
    k: int = PQ_CODEBOOK_K,
    iters: int = PQ_ITERS,
) -> str:
    """DuckDB twin of train+:func:`pq_encode` — codes + recon_sq with the
    per-subspace distances added in subspace order (left-to-right)."""
    recon = " + ".join(f"d{s}" for s in range(n_sub))
    cols = ", ".join(f"CAST(c{s} AS INT) AS code_{s}" for s in range(n_sub))
    return f"""
WITH {sql_pq_chain(src, vec_col, dim, n_sub, k, iters)}
SELECT vec_id, {cols}, round({recon}, 6) + 0.0 AS recon_sq
FROM codes
"""


def sql_pq_adc_topk(
    src: str,
    query_pred: str,
    topk: int,
    vec_col: str = "embedding",
    dim: int = 64,
    n_sub: int = PQ_SUBSPACES,
    k: int = PQ_CODEBOOK_K,
    iters: int = PQ_ITERS,
) -> str:
    """DuckDB twin of train+encode+:func:`pq_adc_topk`: distances are
    recomputed engine-side from the replayed codebooks (``‖q_s −
    cb_s[code_s]‖²``, the identical left fold the kernel's Python LUT
    uses) and added in subspace order."""
    width = dim // n_sub
    cb_joins = " ".join(
        f"JOIN cb{s}_{iters} b{s} ON b{s}.cid = t.c{s}" for s in range(n_sub)
    )
    terms = []
    for s in range(n_sub):
        off = s * width
        terms.append(
            f"list_sum(list_transform(generate_series(1, {width}),"
            f" i -> (q.v[{off} + i] - b{s}.c[i]) * (q.v[{off} + i] - b{s}.c[i])))"
        )
    adc = " + ".join(terms)
    return f"""
WITH {sql_pq_chain(src, vec_col, dim, n_sub, k, iters)},
q AS MATERIALIZED (
  SELECT vec_id AS query_id, v FROM emb WHERE {query_pred}
),
scored AS (
  SELECT q.query_id, t.vec_id AS neighbor_id,
         round({adc}, 6) + 0.0 AS adc_sq
  FROM codes t {cb_joins} CROSS JOIN q
  WHERE t.vec_id <> q.query_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY adc_sq ASC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, adc_sq, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {topk}
"""


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    centroid_mod: int = 37,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_sub: int = PQ_SUBSPACES,
    cb_k: int = PQ_CODEBOOK_K,
    iters: int = PQ_ITERS,
) -> DataFrame:
    """IVF-PQ: the billion-scale ANN architecture end-to-end — IVF
    decides WHICH cells a query scans (:func:`ivf_probe_cells`, nprobe
    nearest of the coarse cells), PQ decides what scanning a cell COSTS
    (:func:`pq_encode` codes + per-query LUT lookups instead of full
    vectors).

    Composition of the persistable stages: coarse centroids → inverted
    lists → PQ codebooks → coded lists (``cell_id`` carried, so the
    persisted index partitions by cell exactly like q119's) → per-query
    probe + ADC rank within probed cells only.  The search-time scan
    touches ``n_sub`` ints per candidate row in probed cells — never a
    vector, never an unprobed cell.

    Output: query_id, neighbor_id (≠ query), adc_sq (6dp), rank.
    Approximate on two axes by construction (cell recall × quantization);
    raise ``nprobe`` / ``n_sub`` to trade cost for accuracy.
    """
    cent = ivf_centroids(corpus, centroid_mod, id_col, vec_col)
    lists = ivf_build_lists(corpus, cent, id_col, vec_col)
    books = train_pq_codebooks(corpus, id_col, vec_col, dim, n_sub, cb_k, iters)
    coded = pq_encode(
        lists, books, id_col="neighbor_id", vec_col="embedding",
        carry_cols=["cell_id"],
    ).drop("recon_sq")
    probes = ivf_probe_cells(cent, queries, nprobe, id_col, vec_col)
    return pq_adc_rank_within_cells(
        coded, books, probes, queries, k, id_col, vec_col
    )


def pq_adc_rank_within_cells(
    coded: DataFrame,
    codebooks: list[list[list[float]]],
    probes: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The IVF-PQ SEARCH stage, shared by the in-memory composition
    (:func:`ivf_pq_topk`), the persisted-index probe (the index CLI),
    and the streaming-maintained index (q160): join the coded lists to
    the probed (query, cell) pairs, ADC-score survivors via broadcast
    per-query LUTs, rank per query.

    ``coded``: ``neighbor_id, cell_id, code_0..`` rows (any source —
    in-memory, parquet, or the epoch-partitioned streaming index);
    ``probes``: ``query_id, cell_id`` (extra columns ignored);
    ``queries``: full vectors for LUT construction (bounded collect).
    """
    spark = coded.sparkSession
    q_rows = queries.select(
        F.col(id_col).alias("__qid"),
        F.col(vec_col).cast("array<double>").alias("__qv"),
    ).collect()
    lut = F.broadcast(_pq_lut_frame(spark, codebooks, q_rows))
    scored = (
        coded.join(F.broadcast(probes.select("query_id", "cell_id")), "cell_id")
        .join(lut, "query_id")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (F.round(_adc_expr(len(codebooks)), 6) + F.lit(0.0)).alias("adc_sq"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_sq").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
    )


def sql_ivf_pq_topk(
    src: str,
    query_pred: str,
    topk: int,
    centroid_mod: int = 37,
    nprobe: int = 2,
    vec_col: str = "embedding",
    dim: int = 64,
    n_sub: int = PQ_SUBSPACES,
    cb_k: int = PQ_CODEBOOK_K,
    iters: int = PQ_ITERS,
) -> str:
    """DuckDB twin of :func:`ivf_pq_topk`: the q30 IVF oracle's modulus
    centroids / rounded-cosine assignment / nprobe probing composed with
    the replayed PQ chain — ADC distances recomputed engine-side from
    the final codebooks, candidates restricted to probed cells."""
    width = dim // n_sub
    cos_cent = _SQL_COS.format(a="e.v", b="c.cvec")
    cb_joins = " ".join(
        f"JOIN cb{s}_{iters} b{s} ON b{s}.cid = t.c{s}" for s in range(n_sub)
    )
    terms = []
    for s in range(n_sub):
        off = s * width
        terms.append(
            f"list_sum(list_transform(generate_series(1, {width}),"
            f" i -> (q.v[{off} + i] - b{s}.c[i]) * (q.v[{off} + i] - b{s}.c[i])))"
        )
    adc = " + ".join(terms)
    return f"""
WITH {sql_pq_chain(src, vec_col, dim, n_sub, cb_k, iters)},
cent AS MATERIALIZED (
  SELECT vec_id AS cent_id, v AS cvec FROM emb WHERE vec_id % {centroid_mod} = 0
),
lists AS MATERIALIZED (
  SELECT vec_id AS neighbor_id, cent_id AS cell_id FROM (
    SELECT e.vec_id, c.cent_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {cos_cent} DESC, c.cent_id ASC) AS rn
    FROM emb e CROSS JOIN cent c) WHERE rn = 1
),
probes AS MATERIALIZED (
  SELECT vec_id AS query_id, cent_id AS cell_id FROM (
    SELECT e.vec_id, c.cent_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {cos_cent} DESC, c.cent_id ASC) AS rn
    FROM (SELECT * FROM emb WHERE {query_pred}) e
    CROSS JOIN cent c) WHERE rn <= {nprobe}
),
qv AS MATERIALIZED (
  SELECT vec_id AS query_id, v FROM emb WHERE {query_pred}
),
scored AS (
  SELECT p.query_id, t.vec_id AS neighbor_id,
         round({adc}, 6) + 0.0 AS adc_sq
  FROM codes t
  JOIN lists l ON l.neighbor_id = t.vec_id
  JOIN probes p ON p.cell_id = l.cell_id
  JOIN qv q ON q.query_id = p.query_id
  {cb_joins}
  WHERE t.vec_id <> p.query_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY adc_sq ASC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, adc_sq, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {topk}
"""


def mmr_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    k_candidates: int = 20,
    k_select: int = 5,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal-marginal-relevance diversified rerank (Carbonell &
    Goldstein): from each query's cosine top-``k_candidates``, greedily
    select ``k_select`` results maximizing
    ``lam·sim(q,d) − (1−lam)·max_{s∈selected} sim(d,s)`` — the
    diversity pass a retrieval stack runs so five near-duplicate
    passages don't fill the whole context window.

    Distributed shape: the ONLY corpus-scale work is the candidate
    generation (:func:`cosine_topk` — broadcast queries × unshuffled
    corpus scan).  The greedy then runs as ONE grouped-map pass keyed by
    query (``cogroup(...).applyInPandas`` over the candidate frame and
    the candidate-pair similarity frame): per query, a sequential loop
    in exact Python ints over state bounded at ``k_candidates`` sims
    plus ``k_candidates²`` pair sims, so the plan and the job count do
    not grow with ``k_select``.  Per-group data must fit one executor
    (same contract as :func:`pandas_aggs.trimmed_mean`).  Step t drops
    the selected candidates, takes each survivor's max similarity to the
    selected set, scores it, and picks the argmax with (score DESC, id
    ASC) tie-break; a query with fewer than ``k_select`` candidates stops
    when they run out.

    Determinism: all similarities snap to the 1e-6 integer grid BEFORE
    the greedy and every score is the EXACT bigint numerator
    ``lam_pct·sim_g − (100−lam_pct)·div_g`` (units of 1e-8) — argmax
    ties and output values cannot diverge cross-engine (a float form
    was tried first: position-1 scores are exactly 7-decimal values,
    and round(x, 6) lands on a perfect tie that Spark's BigDecimal
    HALF_UP and DuckDB's multiply-first round resolve differently —
    caught by the sf0.01 sweep on a real row).  ``lam`` must be a
    multiple of 0.01.  First pick is the plain top-1 (the diversity
    term is empty — lam scaling preserves the argmax).

    Output: query_id, position (1..k_select), neighbor_id, mmr_score
    (double — the exact 1e-8-grid value).
    """
    lam_pct = round(lam * 100)
    if abs(lam - lam_pct / 100) > 1e-12:
        raise ValueError(f"lam must be a multiple of 0.01, got {lam}")

    # the kernel imports nothing from this package: it runs on a Python
    # worker that need not have the package on its path
    def greedy(key, cand, pairs):
        import pandas as pd

        def ints(col):  # a nullable bigint arrives as float64
            return [None if pd.isna(v) else int(v) for v in col]

        sims: dict = {}  # (i, j) -> its non-null pair sims; a key = a pair row
        for i, j, g in zip(ints(pairs["i"]), ints(pairs["j"]), ints(pairs["__pg"])):
            sims.setdefault((i, j), []).extend([] if g is None else [g])
        rows = list(zip(ints(cand["neighbor_id"]), ints(cand["__sg"])))
        chosen: list = []
        scores: list = []
        for _ in range(k_select):
            best = None
            for i, sg in rows:
                # a survivor needs a pair row to the selected set, as in
                # the oracle's inner join
                if i in chosen or (chosen and not any((i, j) in sims for j in chosen)):
                    continue
                div = max((g for j in chosen for g in sims.get((i, j), ())), default=None)
                score = None if sg is None or (chosen and div is None) else (
                    sg * lam_pct - (div or 0) * (100 - lam_pct)
                )
                rank = (score is not None, score or 0, -i)  # score DESC NULLS LAST, id ASC
                if best is None or rank > best[0]:
                    best = (rank, i, score)
            if best is None:
                break
            chosen.append(best[1])
            scores.append(best[2])
        return pd.DataFrame(
            {
                "query_id": pd.Series([key[0]] * len(chosen), dtype="int64"),
                "position": pd.Series(range(1, len(chosen) + 1), dtype="int32"),
                "neighbor_id": pd.Series(chosen, dtype="int64"),
                "__score_num": pd.Series(scores, dtype="Int64"),
            }
        )

    with owned(corpus.sparkSession) as scope:
        # persisted: the candidate frame feeds ci, cj and the cogroup —
        # uncached, each consumer re-runs the corpus-scale cosine_topk
        cand = scope.persist(
            cosine_topk(corpus, queries, k_candidates, id_col, vec_col).select(
                "query_id",
                "neighbor_id",
                F.round(F.col("cosine_sim") * 1_000_000)
                .cast("bigint")
                .alias("__sg"),
            )
        )
        vecs = corpus.select(F.col(id_col).alias("__pid"), F.col(vec_col).alias("__pv"))
        ci = cand.select("query_id", F.col("neighbor_id").alias("i")).join(
            vecs.select(F.col("__pid").alias("i"), F.col("__pv").alias("__vi")), "i"
        )
        cj = cand.select("query_id", F.col("neighbor_id").alias("j")).join(
            vecs.select(F.col("__pid").alias("j"), F.col("__pv").alias("__vj")), "j"
        )
        pairs = (
            ci.join(cj, "query_id")
            .where(F.col("i") != F.col("j"))
            .select(
                "query_id",
                "i",
                "j",
                F.round(cosine(F.col("__vi"), F.col("__vj")) * 1_000_000)
                .cast("bigint")
                .alias("__pg"),
            )
        )
        # re-aliased key: cogrouping two frames derived from the same
        # cand is otherwise an ambiguous self-join
        picks = (
            cand.select(F.col("query_id").alias("__q"), "neighbor_id", "__sg")
            .groupBy("__q")
            .cogroup(pairs.groupBy("query_id"))
            .applyInPandas(
                greedy,
                schema="query_id bigint, position int, neighbor_id bigint, __score_num bigint",
            )
        )
        out = picks.select(
            "query_id",
            "position",
            "neighbor_id",
            (F.col("__score_num").cast("double") / 100_000_000.0).alias("mmr_score"),
        )
        # bounded (queries x k_select); collected inside the scope so the
        # candidate cache releases on every path
        return collect_local(out)


def sql_mmr_rerank(
    corpus_src: str,
    query_pred: str,
    k_candidates: int = 20,
    k_select: int = 5,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin of :func:`mmr_rerank`: the same candidate top-k, the
    same 1e-6-grid pair-similarity frame, and the greedy unrolled as
    one CTE round per selection (the q96/q166 iterative-oracle pattern)
    — every score the identical exact BIGINT numerator with the
    identical (score DESC, id ASC) argmax tie-break (no float ever
    enters the greedy; see the kernel docstring for the round()-tie
    bug the grid removes)."""
    lam_pct = round(lam * 100)
    if abs(lam - lam_pct / 100) > 1e-12:
        raise ValueError(f"lam must be a multiple of 0.01, got {lam}")
    cos = _SQL_COS.format(a="ci.__vi", b="cj.__vj")
    parts = [
        f"""
cand AS MATERIALIZED (
  SELECT query_id, neighbor_id,
         CAST(round(cosine_sim * 1000000) AS BIGINT) AS sg
  FROM (
    {sql_cosine_topk(corpus_src, query_pred, k_candidates, id_col, vec_col)}
  )
),
pairs AS MATERIALIZED (
  SELECT ci.query_id, ci.i, cj.j,
         CAST(round(({cos}) * 1000000) AS BIGINT) AS pg
  FROM (SELECT c.query_id, c.neighbor_id AS i, v.{vec_col} AS __vi
        FROM cand c JOIN {corpus_src} v ON v.{id_col} = c.neighbor_id) ci
  JOIN (SELECT c.query_id, c.neighbor_id AS j, v.{vec_col} AS __vj
        FROM cand c JOIN {corpus_src} v ON v.{id_col} = c.neighbor_id) cj
    ON cj.query_id = ci.query_id AND ci.i <> cj.j
),
sel1 AS (
  SELECT query_id, 1 AS position, neighbor_id,
         CAST(sg * {lam_pct} AS BIGINT) AS score_num
  FROM (SELECT query_id, neighbor_id, sg,
               ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY sg DESC, neighbor_id ASC) AS rn
        FROM cand) WHERE rn = 1
),
all1 AS (SELECT * FROM sel1)"""
    ]
    for t in range(2, k_select + 1):
        parts.append(
            f"""
sel{t} AS (
  SELECT query_id, {t} AS position, neighbor_id, score_num FROM (
    SELECT c.query_id, c.neighbor_id,
           CAST(c.sg * {lam_pct} - d.div_g * {100 - lam_pct} AS BIGINT)
             AS score_num,
           ROW_NUMBER() OVER (PARTITION BY c.query_id
             ORDER BY c.sg * {lam_pct} - d.div_g * {100 - lam_pct} DESC,
                      c.neighbor_id ASC) AS rn
    FROM cand c
    JOIN (SELECT p.query_id, p.i, MAX(p.pg) AS div_g
          FROM pairs p JOIN all{t - 1} s
            ON s.query_id = p.query_id AND s.neighbor_id = p.j
          GROUP BY 1, 2) d
      ON d.query_id = c.query_id AND d.i = c.neighbor_id
    WHERE NOT EXISTS (SELECT 1 FROM all{t - 1} s
                      WHERE s.query_id = c.query_id
                        AND s.neighbor_id = c.neighbor_id)
  ) WHERE rn = 1
),
all{t} AS (SELECT * FROM all{t - 1} UNION ALL SELECT * FROM sel{t})"""
        )
    return (
        "WITH "
        + ",".join(parts)
        + f"""
SELECT query_id, position, neighbor_id,
       CAST(score_num AS DOUBLE) / 100000000.0 AS mmr_score
FROM all{k_select}
"""
    )
