"""Distributed Lloyd's k-means over an embedding column.

The iterative-broadcast pattern: model state (k × dim centroids — a few KB)
lives on the driver; per iteration the centroids ship out (as literal
arrays inlined in the argmin expression for bounded k·dim, as a broadcast
dim table beyond that), every vector computes its nearest centroid
JVM-side (``F.aggregate`` dot products — no Python in the per-row path),
and the new centroids come back as ONE aggregation (dimension-exploded
partial means).  On the inline path the assignment is row-local — one
corpus scan per iteration, ZERO shuffle; the broadcast-join path adds a
k×-blowup + regroup and exists only for models too large to inline.
Nothing per-row ever reaches the driver — the only ``collect()`` is k·dim
centroid means per round, which is model state, not data.

Determinism: seeds are the k lowest-id vectors (no RNG), ties in the
nearest-centroid argmin break toward the lowest cluster id via the
``min_by`` struct ordering, and mean accumulation uses exact
micro-quantized integers so centroid drift cannot depend on partition
order.  Same input → same clustering, every run, any parallelism.

Scale: per iteration one broadcast (k·dim doubles), one map-side-combined
aggregation of k·dim partial sums.  At 100 TB with k=1024, dim=1024 the
broadcast is 8 MB and the aggregate state is bounded by k·dim — both
constant in corpus size.  The widened corpus is persisted through
``session.owned`` for the duration of the centroid loop and released
after — iterations read the cache, not the source, and no cache outlives
the call.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_hadoop_automation_in_cloud_spark.session import owned

#: mean quantization: partial sums accumulate value*1e6 as DECIMAL(38,0);
#: exact and order-independent, then one double division at the end.
_Q = 1_000_000


def kmeans_assign(
    emb: DataFrame,
    k: int = 8,
    max_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_vec: bool = False,
    min_cells_per_task: int = 32_768,
) -> DataFrame:
    """Assign each vector to one of ``k`` Lloyd's clusters.

    Output: ``id_col``, ``cluster_id`` (int), ``sq_dist`` (squared L2 to
    the final centroid, rounded 6dp), plus the double-widened ``vec_col``
    when ``keep_vec`` — the assignment scan already carries the vector,
    so consumers that need (cluster_id, vector) rows (SemDeDup's
    within-cluster pair scoring, q107) take them from THIS plan instead
    of re-joining the corpus on ``id_col`` — one scan, zero extra
    shuffle.

    ``min_cells_per_task`` (r11) bounds per-task work from BELOW: the
    Lloyd loop launches ``max_iter + 2`` actions over the persisted
    corpus, and when the corpus is tiny relative to its partition count
    every action pays the full scheduler fan-out for sub-millisecond
    tasks (q96's 2 000 x 64-double corpus in 32 partitions = 4 000
    cells/task; the loop was ~45% scheduler overhead — interleaved A/B
    at sf0.1: 3.62 s at 32 partitions, 1.97 s coalesced to
    ceil(cells/32 768) = 4).  The corpus is coalesced (narrow — cached
    blocks are not rewritten) to at most ceil(rows·dim /
    min_cells_per_task) partitions; the existing partition count is the
    CAP, so any corpus with >= partitions x min_cells_per_task cells —
    every real deployment — is untouched, and the knob only defends the
    small-corpus/latency regime.  Row-identical either way (the argmin
    and the quantized means are partition-order-free by construction).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    spark = emb.sparkSession
    # All distance/mean arithmetic in DOUBLE from the start: float32→double
    # widening is exact, and a single arithmetic type is what lets the
    # DuckDB oracle (q96) reproduce the trajectory bit-for-bit — mixed
    # float/double subtraction would round differently per engine.
    emb = emb.withColumn(vec_col, F.col(vec_col).cast("array<double>"))
    # Persist the widened corpus for the iteration rescans — the standard
    # iterative-ML shape (MLlib does the same): every pass re-reads the
    # input otherwise.  Released after the centroid loop, so the operator
    # leaves no cache behind (the returned assignment plan re-derives
    # from the source — one final scan, same as before).
    with owned(spark) as scope:
        emb = scope.persist(emb)
        # k lowest-id seeds via orderBy+limit → TakeOrderedAndProject: a
        # distributed per-partition top-k merged on the driver.  (A global
        # row_number() window would move the WHOLE corpus to one partition —
        # the exact anti-pattern this operator otherwise avoids.)  The seed
        # rows also carry dim — no separate first() job for it.
        seed_rows = emb.select(id_col, vec_col).orderBy(id_col).limit(k).collect()
        if not seed_rows:
            raise ValueError("kmeans_assign: empty input")
        dim = len(seed_rows[0][vec_col])
        # per-task work floor (docstring): the count reads the cache the
        # seed scan just materialized; the coalesce is narrow, capped at
        # the existing partition count — real corpora are untouched
        cur = emb.rdd.getNumPartitions()
        tgt = min(cur, max(1, -(-(emb.count() * dim) // min_cells_per_task)))
        if tgt < cur:
            emb = emb.coalesce(tgt)
        centroids = {
            i: list(r[vec_col])
            for i, r in enumerate(sorted(seed_rows, key=lambda r: r[id_col]))
        }

        def assign(df: DataFrame) -> DataFrame:
            # Small models (k·dim bounded): inline the centroids as ONE
            # nested-array literal and take the argmin ROW-LOCALLY via
            # transform/zip_with — one corpus scan, zero shuffle, nothing
            # leaves the row.  A single k×dim Literal node keeps the plan
            # tree constant-size in the model (an earlier unrolled form
            # carried k·dim individual literal nodes, and its per-iteration
            # analysis + codegen — fresh every round, the literals change —
            # dominated the loop: the 10x-corpus wall ratio was 1.05,
            # i.e. almost pure fixed cost).  The broadcast-join form below
            # is kept only for models too large to ship inside the plan.
            # Identical arithmetic and tie-break on both paths: squared L2
            # by the same zip_with/left-fold per centroid, argmin by
            # lexicographic (sq_dist, cluster_id) struct ordering
            # (array_min ≡ min_by struct order).
            # threshold on the ACTUAL model size: the corpus may yield
            # fewer than k seeds, and it is len(centroids) centroid rows
            # that get inlined, not k
            if len(centroids) * dim <= 262_144:  # 2 MB of doubles in-plan
                # The whole argmin is ONE F.expr string parsed JVM-side:
                # building the same tree through the Column API costs
                # ~0.7s of py4j round-trips PER ITERATION at k·dim=512
                # (measured — it was most of the loop's fixed cost), vs
                # ~2ms for the SQL parse.  repr() round-trips every double
                # exactly through the parser, so results are bit-identical
                # to the Column form (pinned by the purity/determinism
                # tests and the q96 oracle).
                items = sorted(centroids.items())
                mat = "array(" + ",".join(
                    "array(" + ",".join(repr(float(x)) + "D" for x in vec) + ")"
                    for _, vec in items
                ) + ")"
                ids = "array(" + ",".join(str(int(cid)) for cid, _ in items) + ")"
                best = F.expr(
                    "array_min(zip_with("
                    f"transform({mat}, c -> aggregate(zip_with(`{vec_col}`, c,"
                    " (a, b) -> (a - b) * (a - b)), 0.0D, (acc, x) -> acc + x)),"
                    f" {ids},"
                    " (d, i) -> struct(d AS sq_dist, CAST(i AS INT) AS cluster_id)))"
                )
                return df.select(
                    id_col,
                    best["cluster_id"].alias("cluster_id"),
                    best["sq_dist"].alias("sq_dist"),
                    vec_col,
                )
            cent = spark.createDataFrame(
                [(cid, vec) for cid, vec in sorted(centroids.items())],
                "cluster_id int, centroid array<double>",
            )
            # squared L2 via one fused zip_with/aggregate — JVM expression only
            sq = F.aggregate(
                F.zip_with(
                    F.col(vec_col),
                    F.col("centroid"),
                    lambda a, b: (a - b) * (a - b),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            scored = df.crossJoin(F.broadcast(cent)).select(
                id_col,
                vec_col,
                "cluster_id",
                sq.alias("sq_dist"),
            )
            # min_by struct: (distance, cluster_id) — deterministic tie-break
            return scored.groupBy(id_col).agg(
                F.min_by(
                    F.struct("cluster_id", "sq_dist", vec_col),
                    F.struct("sq_dist", "cluster_id"),
                ).alias("best")
            ).select(
                id_col,
                F.col("best.cluster_id").alias("cluster_id"),
                F.col("best.sq_dist").alias("sq_dist"),
                F.col(f"best.{vec_col}").alias(vec_col),
            )

        for _ in range(max_iter):
            assigned = assign(emb)
            # new centroids: explode dims, exact integer-quantized mean
            means = (
                assigned.select(
                    "cluster_id", F.posexplode(vec_col).alias("pos", "v")
                )
                .groupBy("cluster_id", "pos")
                .agg(
                    (
                        F.sum(F.round(F.col("v") * _Q).cast("decimal(38,0)")).cast(
                            "double"
                        )
                        / (F.count(F.lit(1)) * _Q)
                    ).alias("m")
                )
                .collect()
            )
            new_centroids: dict[int, list[float]] = {}
            for r in means:
                new_centroids.setdefault(int(r["cluster_id"]), [0.0] * dim)[
                    int(r["pos"])
                ] = float(r["m"])
            # empty clusters keep their previous centroid
            for cid, vec in centroids.items():
                new_centroids.setdefault(cid, vec)
            centroids = new_centroids

    cols = [id_col, "cluster_id", F.round("sq_dist", 6).alias("sq_dist")]
    if keep_vec:
        cols.append(vec_col)
    return assign(emb).select(*cols)
