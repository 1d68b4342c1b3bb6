"""Measure wall-clock scaling of the ITERATIVE operators (PageRank,
k-means) on 10x-replicated inputs, writing SCALING_ITER.json at the repo
root.

Replication shapes are chosen so the WORK grows linearly — the shape a
real scale-up has for these operators — isolating how the iteration
loops scale rather than re-measuring input construction:

- PageRank: 10 DISJOINT copies of the co-purchase graph (node ids shifted
  per replica).  Nodes and edges both grow 10x; rank mass never flows
  between replicas, so a linear-in-edges loop should show ~linear wall.
  (Replicating raw events instead would multiply pair DENSITY — replicas
  share purchase keys — a quadratic input-construction artifact that
  tools/scaling_check.py already documents for q16.)
- k-means: 10x corpus with shifted vec_ids, same k.  Per-iteration
  assign+means work is linear in corpus size; model state is constant.

Run: ``python tools/scaling_iterative.py`` (env ``SPARK_GRAFT_SF_DIR``,
``SPARK_GRAFT_SCALE``).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from spark_hadoop_automation_in_cloud_spark.io import read_table
from spark_hadoop_automation_in_cloud_spark.operators.clustering import kmeans_assign
from spark_hadoop_automation_in_cloud_spark.operators.components import pagerank
from spark_hadoop_automation_in_cloud_spark.session import (
    _persistent_rdd_ids,
    _pinned_rdd_ids,
    _unpersist_rdds,
    get_test_session,
)


# At SPARK_GRAFT_SCALE=100 the pagerank block alone pins ~180M
# checkpointed edge rows; the default 8g test-session JVM hits
# AGGREGATE_OUT_OF_MEMORY mid-block (observed) — run deep sweeps with
# SPARK_GRAFT_DRIVER_MEM=64g (32g fit in round 7 but OOMed on the round-8 VM
# mid-pagerank — the 178M-edge pin is borderline at 32g; a real cluster
# sizes executors to the edge partition, which is the documented rule).


def release(spark, *frames) -> None:
    """Free a block's localCheckpoint storage before the next block runs.

    At 100x the three blocks' pinned inputs (178M replicated edges +
    replicated embeddings + the closure graph) do not fit executor
    storage TOGETHER — holding them across blocks starved aggregation
    memory (AGGREGATE_OUT_OF_MEMORY, observed) even though each block
    alone fits comfortably."""
    ids: set[int] = set()
    for f in frames:
        ids |= _pinned_rdd_ids(f)
    _unpersist_rdds(spark, ids)


def timed(df_fn, n: int = 3) -> float:
    """Median of n runs after a warmup — same protocol as bench.py (min-of-N
    chases the lucky tail; a ratio of two minima can flip the sublinear
    verdict on one outlier run).  Each run's RETURNED frame is released
    before the next: the iterative operators hand back a localCheckpoint'd
    result the caller owns, and discarding (warm + n) of them per scale
    rung stacked |V|-row pins into the later blocks — the cross-block
    storage pressure the 64g note blames (r11 review finding)."""

    def run() -> float:
        # snapshot BEFORE the call: the returned plan may reach the
        # HARNESS'S OWN input checkpoints (r11: kmeans' returned frame
        # coalesces directly over the checkpointed input, so the pinned
        # walk now sees the input's blocks — blanket-releasing them broke
        # the next run with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND).  Release
        # only what THIS run pinned (the operators' own ownership rule):
        # the operator's result checkpoint is created during df_fn(), so
        # it is not in `pre` and still gets released.
        from pyspark.sql import SparkSession

        pre = _persistent_rdd_ids(SparkSession.getActiveSession())
        t0 = time.perf_counter()
        df = df_fn()
        df.write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        _unpersist_rdds(df.sparkSession, _pinned_rdd_ids(df) - pre)
        return dt

    run()  # warm
    samples = sorted(run() for _ in range(n))
    return round(samples[n // 2], 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    scale = int(os.environ.get("SPARK_GRAFT_SCALE", "10"))
    spark = get_test_session("scaling-iterative")
    out: dict[str, dict] = {}

    # --- PageRank over disjoint graph replicas --------------------------
    e = read_table(spark, sf_dir, "events", parallelize=True)
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    purchases = (
        e.where(F.col("event_type") == "purchase")
        .select(k.alias("k"), "user_id")
        .distinct()
        .localCheckpoint()
    )
    edges = (
        purchases.alias("a")
        .join(purchases.alias("b"), "k")
        .where(F.col("a.user_id") != F.col("b.user_id"))
        .select(F.col("a.user_id").alias("src"), F.col("b.user_id").alias("dst"))
        .distinct()
        .localCheckpoint()
    )
    n_nodes = (
        edges.select(F.col("src").alias("n"))
        .unionByName(edges.select(F.col("dst").alias("n")))
        .distinct()
        .count()
    )
    max_id = edges.agg(F.max(F.greatest("src", "dst"))).first()[0]
    if max_id is None:
        raise SystemExit(f"no co-purchase edges found under {sf_dir} — wrong sf dir?")
    shift = max_id + 1
    edges_rep = (
        edges.crossJoin(spark.range(scale).withColumnRenamed("id", "__rep"))
        .select(
            (F.col("src") + F.col("__rep") * shift).alias("src"),
            (F.col("dst") + F.col("__rep") * shift).alias("dst"),
        )
        .localCheckpoint()
    )
    n_edges, n_edges_rep = edges.count(), edges_rep.count()
    t1 = timed(lambda: pagerank(edges, n_iter=10, per_iter_round_dp=9, assume_distinct_edges=True))
    t10 = timed(lambda: pagerank(edges_rep, n_iter=10, per_iter_round_dp=9, assume_distinct_edges=True))
    out["pagerank_10_rounds"] = {
        "n_edges_base": n_edges,
        "n_nodes_base": n_nodes,
        f"n_edges_{scale}x": n_edges_rep,
        "base_sec": t1,
        f"{scale}x_sec": t10,
        "wall_ratio": round(t10 / t1, 2),
        "sublinear": t10 / t1 < scale,
    }

    # --- personalized PageRank over the same disjoint replicas ----------
    # q185's kernel (r07 verdict item 2: the only iterative-graph family
    # member without its own wall receipt).  Each replica carries its own
    # shifted copy of the seed cohort (node < 20), so seed COUNT grows
    # with the factor while per-replica personalization stays identical —
    # the organic shape for "one PPR run per tenant/community".  Per
    # round the work is the same edge join as plain pagerank plus the
    # 1-row dangling aggregate; wall must track edges.
    from spark_hadoop_automation_in_cloud_spark.operators.components import (
        personalized_pagerank,
    )

    seeds = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .where(F.col("node") % shift < 20)
        .localCheckpoint()
    )
    seeds_rep = (
        seeds.crossJoin(spark.range(scale).withColumnRenamed("id", "__rep"))
        .select((F.col("node") + F.col("__rep") * shift).alias("node"))
        .localCheckpoint()
    )
    t1 = timed(
        lambda: personalized_pagerank(
            edges, seeds, n_iter=10, assume_distinct_edges=True
        )
    )
    t10 = timed(
        lambda: personalized_pagerank(
            edges_rep, seeds_rep, n_iter=10, assume_distinct_edges=True
        )
    )
    out["personalized_pagerank_10_rounds"] = {
        "n_edges_base": n_edges,
        "n_seeds_base": seeds.count(),
        f"n_edges_{scale}x": n_edges_rep,
        "base_sec": t1,
        f"{scale}x_sec": t10,
        "wall_ratio": round(t10 / t1, 2),
        "sublinear": t10 / t1 < scale,
    }

    release(spark, purchases, edges, edges_rep, seeds, seeds_rep)

    # --- k-means over a replicated corpus -------------------------------
    emb = read_table(spark, sf_dir, "embeddings", parallelize=True)
    n_vecs = emb.count()
    # shift by the actual id span (max+1), not n_vecs: sparse or offset
    # vec_ids would otherwise collide across replicas, deflating the
    # replicated corpus (same derivation as the PageRank max_id above)
    id_span = emb.agg(F.max("vec_id")).first()[0] + 1
    emb_rep = (
        emb.crossJoin(spark.range(scale).withColumnRenamed("id", "__rep"))
        .withColumn("vec_id", F.col("vec_id") + F.col("__rep") * id_span)
        .drop("__rep")
        .localCheckpoint()
    )
    t1 = timed(lambda: kmeans_assign(emb, k=8, max_iter=5))
    t10 = timed(lambda: kmeans_assign(emb_rep, k=8, max_iter=5))
    out["kmeans_k8_5_iter"] = {
        "n_vecs_base": n_vecs,
        f"n_vecs_{scale}x": n_vecs * scale,
        "base_sec": t1,
        f"{scale}x_sec": t10,
        "wall_ratio": round(t10 / t1, 2),
        "sublinear": t10 / t1 < scale,
    }

    release(spark, emb_rep)

    # --- connected components over disjoint graph replicas --------------
    # the q39/q124 clustering engine: pointer jumping, rounds = O(log
    # diameter).  Replicas are disjoint copies of the near-dup graph
    # (shifted ids), so the diameter — and the ROUND COUNT — stays
    # constant while per-round join/aggregate work grows with the factor;
    # sublinear wall here means the iteration scales through data, not
    # rounds.  Pairs are precomputed + checkpointed so the measurement
    # isolates the closure, not the pair generation (swept elsewhere).
    from spark_hadoop_automation_in_cloud_spark.operators import dedup as dd
    from spark_hadoop_automation_in_cloud_spark.operators.components import (
        neardup_clusters,
    )

    pairs = (
        dd.embedding_neardup_pairs(emb, threshold=0.4)
        .select("left_id", "right_id")
        .localCheckpoint()
    )
    n_pairs = pairs.count()
    nodes = emb.select("vec_id").localCheckpoint()
    pairs_rep = (
        pairs.crossJoin(spark.range(scale).withColumnRenamed("id", "__rep"))
        .select(
            (F.col("left_id") + F.col("__rep") * id_span).alias("left_id"),
            (F.col("right_id") + F.col("__rep") * id_span).alias("right_id"),
        )
        .localCheckpoint()
    )
    nodes_rep = (
        nodes.crossJoin(spark.range(scale).withColumnRenamed("id", "__rep"))
        .select((F.col("vec_id") + F.col("__rep") * id_span).alias("vec_id"))
        .localCheckpoint()
    )
    t1 = timed(lambda: neardup_clusters(pairs, nodes, "vec_id"))
    t10 = timed(lambda: neardup_clusters(pairs_rep, nodes_rep, "vec_id"))
    out["neardup_components"] = {
        "n_pairs_base": n_pairs,
        "n_nodes_base": n_vecs,
        f"n_pairs_{scale}x": n_pairs * scale,
        "base_sec": t1,
        f"{scale}x_sec": t10,
        "wall_ratio": round(t10 / t1, 2),
        "sublinear": t10 / t1 < scale,
    }

    result = {"sf_dir": sf_dir, "scale": scale, "operators": out}
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    # SCALING_ITER.json is the standing 10x artifact; deeper sweeps get
    # scale-suffixed files (same convention as tools/scaling_check.py)
    name = "SCALING_ITER.json" if scale == 10 else f"SCALING_ITER_{scale}x.json"
    with open(os.path.join(root, name), "w") as f:
        json.dump(result, f, indent=2)
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
