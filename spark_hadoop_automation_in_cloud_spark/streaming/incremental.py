"""Incremental datamart maintenance from a stream: ``foreachBatch`` upsert.

The reference rebuilds datamarts from scratch on a cron schedule
(``dags/datamart-collector-dag.py``); the streaming-native replacement is a
``foreachBatch`` sink that MERGEs each micro-batch into the datamart with
last-writer-wins semantics — the streaming twin of the batch q59 upsert.

``foreachBatch`` is the right seam because inside the callback the batch is
a plain DataFrame: the merge is ordinary batch code (dedup-by-key against
the current snapshot), reusing the engine's batch idioms instead of a
bespoke stateful operator.

Every stream here runs through ONE availableNow loop, :func:`drain`,
with the per-batch body passed in (``upsert_batch``,
``dedup_batch_against_index``, the ``update_*`` index writers).

On plain parquet the merge is read-union-rewrite committed through the
crash-safe directory swap in ``io`` (``repair_swap``/``commit_swap``):
at every crash point either the old or the new snapshot is recoverable,
and ``upsert_batch`` repairs the directory state on entry before
merging.  ``compact_dedup_index`` and ``maintain_neardup_clusters``
commit through the same swap.  Local-filesystem paths only: the
os-level renames are what make the swap atomic; a cloud deployment
targets a table format (Delta/Iceberg ``MERGE INTO``) where the atomic
commit is the format's job.

That cloud path is the ``merge_fn`` seam: ``upsert_batch(...,
merge_fn=...)`` delegates the storage merge to the callable and skips the
rename protocol entirely, so the foreachBatch wiring, the last-writer-wins
dedup, and the checkpoint/replay semantics are IDENTICAL across backends —
only the final "apply deduped rows to the table" step is swapped.
:func:`delta_merge_fn` is the ready-made adapter (``MERGE INTO`` with a
lexicographic newer-than condition, idempotent under micro-batch replay —
the same contract the reference's overwrite datamart sink provides,
``src/spark/collector.py:543-557``); any engine with a MERGE (Iceberg,
a JDBC warehouse) plugs in the same way.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_hadoop_automation_in_cloud_spark.io import commit_swap, repair_swap
from spark_hadoop_automation_in_cloud_spark.operators.topk import topk_per_group
from spark_hadoop_automation_in_cloud_spark.session import owned

#: merge backend contract: (deduped_batch, path, key_cols, order_cols) ->
#: None.  The batch arriving here is already last-writer-wins deduped per
#: key (unique per key_cols), so a MERGE backend never sees a duplicate
#: source match.
MergeFn = Callable[[DataFrame, str, list[str], list[str]], None]


def latest_per_key(df: DataFrame, key_cols: list[str], order_cols: list[str]) -> DataFrame:
    """Last-writer-wins: keep each key's row with the greatest order tuple
    (total order required — include a unique id as final element).  Thin
    wrapper over ``operators.topk.topk_per_group`` so the tie/null-ordering
    contract lives in ONE place."""
    return topk_per_group(
        df, key_cols, [F.col(c).desc() for c in order_cols], k=1
    )


def newer_than_condition(
    order_cols: list[str], src: str = "src", tgt: str = "tgt", quote: str = "`"
) -> str:
    """SQL predicate: source's order tuple is lexicographically strictly
    greater than the target's — the "only overwrite with newer" guard of a
    last-writer-wins MERGE.  Order columns must be non-null (same contract
    as the rename path, whose descending sort would otherwise rank NULLs
    arbitrarily per engine).

    Column names are identifier-quoted so reserved words ("order") and
    special characters survive; ``quote`` defaults to the backtick Spark
    and Delta parse — pass ``'"'`` for ANSI engines (DuckDB rejects
    backticks).  Pure string builder so the condition is unit-testable
    without any table-format library installed.
    """
    if not order_cols:
        raise ValueError("order_cols must be non-empty")

    def qd(c: str) -> str:
        # double any embedded quote char (standard SQL identifier escaping)
        # so a name containing the quote can't break out of — or inject
        # into — the MERGE predicate
        return f"{quote}{c.replace(quote, quote * 2)}{quote}"

    clauses = []
    for i, c in enumerate(order_cols):
        ties = " AND ".join(f"{src}.{qd(p)} = {tgt}.{qd(p)}" for p in order_cols[:i])
        gt = f"{src}.{qd(c)} > {tgt}.{qd(c)}"
        clauses.append(f"({ties} AND {gt})" if ties else f"({gt})")
    return " OR ".join(clauses)


def delta_merge_fn() -> MergeFn:
    """Ready-made ``merge_fn`` backend for Delta Lake: atomic
    ``MERGE INTO`` with :func:`newer_than_condition` as the update guard.

    Idempotent under micro-batch replay: re-merging rows already applied
    matches the target with an equal (not greater) order tuple, so the
    WHEN MATCHED update is skipped and the table is unchanged — the
    property the foreachBatch checkpoint contract needs.  Requires the
    ``delta-spark`` package on the session (import-checked here, at
    pipeline construction time, not inside the hot callback).
    """
    from delta.tables import DeltaTable  # noqa: PLC0415 — optional backend

    def merge(deduped: DataFrame, path: str, key_cols: list[str], order_cols: list[str]) -> None:
        spark = deduped.sparkSession
        if not DeltaTable.isDeltaTable(spark, path):
            deduped.write.format("delta").mode("errorifexists").save(path)
            return
        tgt = DeltaTable.forPath(spark, path)
        on = " AND ".join(f"tgt.`{k}` = src.`{k}`" for k in key_cols)
        (
            tgt.alias("tgt")
            .merge(deduped.alias("src"), on)
            .whenMatchedUpdateAll(condition=newer_than_condition(order_cols))
            .whenNotMatchedInsertAll()
            .execute()
        )

    return merge


def duckdb_merge_fn(table: str = "datamart") -> MergeFn:
    """Executable warehouse backend for the ``merge_fn`` seam: applies
    each deduped micro-batch to a DuckDB table with a REAL SQL upsert —

        INSERT ... ON CONFLICT (keys) DO UPDATE SET ...
        WHERE <newer_than_condition(order_cols, src="excluded")>

    — the same update-if-newer / insert-if-absent contract
    :func:`delta_merge_fn` issues as ``MERGE INTO``, executed by an actual
    SQL engine against a persistent database file (the ``path`` argument
    the seam passes).  This is the JDBC-warehouse shape: the batch crosses
    the driver (``toPandas``), so it fits micro-batch-sized increments —
    a cluster-side table format (Delta/Iceberg) is the scale path; this
    backend exists so the seam's semantics (replay idempotency,
    stale-row no-op, condition-string parsing) run under a second real
    engine in any environment.

    First batch bootstraps the table from the batch's own schema with a
    UNIQUE index on the key columns — the conflict target ON CONFLICT
    resolves against.  The :data:`MergeFn` contract guarantees the
    incoming batch is already unique per key (ON CONFLICT would reject a
    double-update within one statement otherwise).
    """
    import duckdb  # noqa: PLC0415 — backend-local dependency

    def qd(c: str) -> str:
        return '"' + c.replace('"', '""') + '"'

    def merge(deduped: DataFrame, path: str, key_cols: list[str], order_cols: list[str]) -> None:
        pdf = deduped.toPandas()
        con = duckdb.connect(path)
        try:
            tq = qd(table)
            con.register("__src", pdf)
            exists = con.execute(
                "SELECT COUNT(*) FROM information_schema.tables WHERE table_name = ?",
                [table],
            ).fetchone()[0]
            if not exists:
                con.execute(f"CREATE TABLE {tq} AS SELECT * FROM __src WHERE 1=0")
                con.execute(
                    f"CREATE UNIQUE INDEX {qd(table + '_pk')} ON {tq} "
                    f"({', '.join(qd(k) for k in key_cols)})"
                )
            sets = ", ".join(
                f"{qd(c)} = excluded.{qd(c)}"
                for c in pdf.columns
                if c not in key_cols
            )
            guard = newer_than_condition(order_cols, src="excluded", tgt=tq, quote='"')
            con.execute(
                f"INSERT INTO {tq} SELECT * FROM __src "
                f"ON CONFLICT ({', '.join(qd(k) for k in key_cols)}) "
                f"DO UPDATE SET {sets} WHERE {guard}"
            )
        finally:
            con.close()

    return merge


def upsert_batch(
    batch_df: DataFrame,
    path: str,
    key_cols: list[str],
    order_cols: list[str],
    merge_fn: MergeFn | None = None,
) -> None:
    """Merge one micro-batch into the snapshot at ``path``.

    With ``merge_fn`` (a table-format backend — see :data:`MergeFn` and
    :func:`delta_merge_fn`), the batch is last-writer-wins deduped here and
    the storage merge is the backend's: atomic commit, URI paths, and
    concurrent-reader behavior are the format's contract.

    Without it, the default parquet backend rewrites the merged snapshot
    into a fresh tmp and commits it with ``io.commit_swap``.  Entry first
    repairs any state a previous crash left behind (``io.repair_swap``):
    a half-merged tmp is discarded, and the engine replays the failed
    micro-batch from its checkpoint.
    """
    if merge_fn is not None:
        merge_fn(latest_per_key(batch_df, key_cols, order_cols), path, key_cols, order_cols)
        return
    if "://" in path:
        raise ValueError(
            "upsert_batch swaps directories with local-filesystem renames; "
            f"got URI path {path!r} — pass merge_fn= (e.g. delta_merge_fn()) "
            "to target a table format instead"
        )
    spark = batch_df.sparkSession
    tmp, bak = repair_swap(path)

    if os.path.isdir(path):
        current = spark.read.parquet(path)
        merged = latest_per_key(
            current.unionByName(batch_df), key_cols, order_cols
        )
    else:
        merged = latest_per_key(batch_df, key_cols, order_cols)
    merged.write.mode("overwrite").parquet(tmp)
    commit_swap(path, tmp, bak)


def drain(
    stream: DataFrame,
    checkpoint_dir: str,
    body: Callable[[DataFrame, int], None],
) -> None:
    """Drain ``stream`` (availableNow) through ``body(batch, epoch_id)``,
    once per micro-batch — the one foreachBatch loop of every incremental
    state writer here, e.g. ``drain(stream, ckpt, lambda b, e:
    update_countmin_index(b, idx, ["event_type"], "user_id", e))``.

    Resumable: the checkpoint carries the epoch counter, so successive
    runs over a growing source directory process only what arrived since
    the last run and keep extending the same state — the cron-shaped
    "whatever arrived since last run" job.  Batch sizing is the SOURCE's
    knob: set ``maxFilesPerTrigger`` when building ``stream`` to turn one
    big drain into many incremental batches.
    """
    (
        stream.writeStream.foreachBatch(body)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


# --- streaming incremental dedup --------------------------------------------
#
# Dedup-on-arrival: the streaming twin of ``operators.dedup.
# incremental_dedup``.  Each micro-batch is deduped against the persisted
# fingerprint index built from every EARLIER batch, and its survivors
# become the index's next partition — the index doubles as the survivor
# store, so there is exactly one growing table of state and it carries
# set semantics (one row per first-seen content hash).
#
# Replay safety WITHOUT a transactional table format: each batch's
# survivors land in their own ``batch_id=<epoch>`` partition directory via
# an overwrite, and the index a batch dedups against is the PRUNED read
# ``batch_id < epoch`` — a replayed micro-batch (same epoch, same rows:
# the file-source contract) recomputes the identical survivor set and
# overwrites its own partition, never seeing its failed attempt as
# "already ingested".  Partition pruning keeps the exclusion free at any
# index size.


def dedup_batch_against_index(
    batch: DataFrame,
    index_path: str,
    id_col: str,
    text_col: str,
    epoch_id: int,
) -> None:
    """foreachBatch body (exposed for direct testing): dedup ``batch``
    against index partitions with ``batch_id < epoch_id``, then overwrite
    this epoch's partition with the survivors."""
    from pyspark.errors import AnalysisException

    from spark_hadoop_automation_in_cloud_spark.operators.dedup import incremental_dedup

    spark = batch.sparkSession
    # cheap existence probe for local paths so the expected first-batch
    # miss doesn't log a JVM FileNotFound stack trace; remote URIs fall
    # through to the read and its caught AnalysisException
    if "://" not in index_path and not os.path.isdir(index_path):
        index = spark.createDataFrame([], "content_hash string")
    else:
        try:
            index = spark.read.parquet(index_path).where(F.col("batch_id") < epoch_id)
        except AnalysisException:  # first batch: no index yet
            index = spark.createDataFrame([], "content_hash string")
    survivors = incremental_dedup(batch, index, id_col, text_col)
    (
        survivors.withColumnRenamed(id_col, "canonical_id")
        .write.mode("overwrite")
        .parquet(f"{index_path}/batch_id={epoch_id}")
    )


def compact_dedup_index(spark, index_path: str, upto_epoch: int) -> None:
    """Collapse fingerprint-index partitions ``batch_id < upto_epoch`` into
    the single partition ``batch_id = upto_epoch - 1``.

    Run-over-run maintenance: dedup-on-arrival adds one ``batch_id=N``
    directory per micro-batch, and at cron cadence that is thousands of
    tiny partitions within a year — the listing/open cost starts to rival
    the probe itself.  Compaction preserves the dedup CONTRACT exactly —
    the (content_hash, canonical_id) row set is untouched, and every
    future batch ``e >= upto_epoch`` still reads the compacted rows via
    its ``batch_id < e`` pruned scan — while the first-seen epoch is
    deliberately coarsened to ``upto_epoch - 1`` (batch_id is the
    operational pruning watermark; keep the index uncompacted for as long
    as per-epoch provenance matters).

    Safety: only compact epochs the stream's checkpoint has COMMITTED
    (``upto_epoch`` <= the next epoch to be processed).  Committed epochs
    never replay under the availableNow/checkpoint contract, so no future
    writer overwrites ``batch_id < upto_epoch`` partitions; an in-flight
    epoch >= upto_epoch replays onto its OWN partition, whose rows
    compaction copies unchanged.

    EXCLUSIVITY: the directory swap is crash-safe but not reader-atomic —
    between the two renames of the commit there is no index at
    ``index_path``, so a dedup probe running CONCURRENTLY would under-match
    and re-admit duplicates.  Run compaction only while no drain is active
    (the CLI's ``--compact`` runs after its own drain terminates, which
    guarantees this for a single cron job; multiple overlapping jobs need
    external mutual exclusion).  A table format (Delta OPTIMIZE / Iceberg
    rewrite) is the concurrent-reader-safe path, as with the merge seam.

    Crash safety is the shared swap's (``io.repair_swap`` /
    ``io.commit_swap``): the whole index is rewritten into the swap's tmp,
    partitioned by ``batch_id`` (older rows relabeled, newer partitions
    copied), then committed; at every crash point the old or the
    compacted index is recoverable, and the next call repairs it on
    entry.  A compaction short of the newest epoch rewrites the newer
    partitions too; the CLI compacts every committed epoch.
    """
    if "://" in index_path:
        raise ValueError(
            "compact_dedup_index swaps directories with local-filesystem "
            f"renames; got URI path {index_path!r} — on an object store, "
            "compact via the table format's own rewrite (Delta OPTIMIZE / "
            "Iceberg rewrite_data_files)"
        )
    if upto_epoch < 1:
        raise ValueError(f"upto_epoch must be >= 1, got {upto_epoch}")
    tmp, bak = repair_swap(index_path)
    if not os.path.isdir(index_path):
        return  # no index yet (first run never wrote one): nothing to compact
    old = [
        d
        for d in os.listdir(index_path)
        if d.startswith("batch_id=") and int(d.split("=", 1)[1]) < upto_epoch
    ]
    if len(old) <= 1:
        return  # nothing to collapse
    bid = F.col("batch_id")
    (
        spark.read.parquet(index_path)
        .select(
            "canonical_id",
            "content_hash",
            F.when(bid < upto_epoch, F.lit(upto_epoch - 1)).otherwise(bid).alias("batch_id"),
        )
        .write.mode("overwrite")
        .partitionBy("batch_id")
        # the index root holds partition directories only, as the
        # per-epoch writes leave it
        .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
        .parquet(tmp)
    )
    commit_swap(index_path, tmp, bak)


def maintain_neardup_clusters(
    spark,
    new_docs: DataFrame,
    state_dir: str,
    min_est_jaccard: float = 0.5,
) -> DataFrame:
    """One round of incremental near-dup CLUSTER maintenance — the q132
    composition as persisted state an ingest loop owns (the graph sibling
    of the fingerprint index: q111 maintains exact-dedup survivors, this
    maintains the near-dup cluster labels).

    State layout (plain parquet, local paths):

    - ``state_dir/band_index/ingest=t<token>/`` — append-only MinHash
      band rows per ingested batch (``operators.dedup.
      minhash_band_index``); the probe reads every partition EXCEPT the
      current batch's own.  The token is an order-independent content
      fingerprint of the batch's doc-id SET (count/min/max/bit_xor of
      the id hashes — count:min:max alone collides for different sets
      with the same envelope, and a collision would let a later batch's
      overwrite destroy an earlier batch's index partition).  The 't'
      prefix keeps Spark's partition-column type inference on STRING —
      an all-digit token set would infer numeric and turn the
      ``!= token`` probe filter into a NULL that silently drops the
      whole history.
    - ``state_dir/labels/`` — the full-coverage min-id label table
      (node, cluster_id), swap-rewritten per round with the shared
      crash-safe directory swap (``io.repair_swap``/``io.commit_swap``).

    Per round: batch signatures → :func:`~spark_hadoop_automation_in_cloud_spark.operators.
    dedup.incremental_lsh_pairs` against the persisted index →
    :func:`~spark_hadoop_automation_in_cloud_spark.operators.components.incremental_components`
    against the persisted labels → batch singletons label themselves
    (derived from the batch-id set minus pair endpoints minus already-
    labeled ids — batch-sized anti-joins, so the merged frame is
    evaluated exactly once, by the label write).  Duplicate doc_id rows
    in a batch are collapsed to the id set before any node row is built
    — the label table's one-row-per-node contract (which
    incremental_components requires of its input) survives bad upstream
    delivery.

    Replay-idempotent BY ALGEBRA, not by a skip check: re-running any
    committed batch re-derives the identical pairs (the probe excludes
    the batch's own partition) and re-merging already-folded edges is a
    no-op under min-id CC — so interleaved crash/replay orderings
    converge without a "was this committed?" heuristic (a skip check
    keyed on "token dir exists and ids are labeled" would WRONGLY skip a
    crashed batch whose ids a later batch labeled through cross-batch
    pairs, losing the crashed batch's within-batch edges forever).
    Crash mid-swap repairs on entry exactly like ``upsert_batch``.

    Returns the post-round label table (read back from disk).
    """
    from spark_hadoop_automation_in_cloud_spark.operators.components import (
        connected_components,
        incremental_components,
    )
    from spark_hadoop_automation_in_cloud_spark.operators.dedup import (
        incremental_lsh_pairs,
        lsh_candidate_pairs,
        minhash_band_index,
        minhash_signatures,
        shingle_rows,
    )
    from spark_hadoop_automation_in_cloud_spark.functions.hashing import md5_int60

    if "://" in state_dir:
        raise ValueError(
            "maintain_neardup_clusters swaps directories with local-"
            f"filesystem renames; got URI path {state_dir!r} — on an "
            "object store, keep the labels in a table format instead"
        )
    index_root = os.path.join(state_dir, "band_index")
    labels_path = os.path.join(state_dir, "labels")
    tmp, bak = repair_swap(labels_path)

    batch = new_docs.select("doc_id", "text").where(F.col("doc_id").isNotNull())
    fp = batch.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("doc_id").alias("lo"),
        F.max("doc_id").alias("hi"),
        F.bit_xor(md5_int60(F.col("doc_id").cast("string"))).alias("xr"),
    ).first()
    if fp["n"] == 0:
        return (
            spark.read.parquet(labels_path)
            if os.path.isdir(labels_path)
            else spark.createDataFrame([], "node bigint, cluster_id bigint")
        )
    import hashlib

    token = hashlib.md5(
        f"{fp['n']}:{fp['lo']}:{fp['hi']}:{fp['xr']}".encode()
    ).hexdigest()[:16]
    token_dir = os.path.join(index_root, f"ingest=t{token}")

    with owned(spark) as scope:
        # one signature row per doc_id (minhash_signatures groups by id), so
        # duplicate batch rows cannot duplicate index or label rows
        sig = scope.persist(minhash_signatures(shingle_rows(batch, "doc_id", "text", n=2)))
        batch_ids = batch.select(F.col("doc_id").alias("node")).distinct()

        if os.path.isdir(labels_path):
            labels_old = spark.read.parquet(labels_path)
            index = (
                spark.read.option("basePath", index_root)
                .parquet(index_root)
                .where(F.col("ingest") != f"t{token}")
                .drop("ingest")
            )
            pairs = incremental_lsh_pairs(sig, index, min_est_jaccard)
            merged = incremental_components(
                labels_old, pairs, "left_doc_id", "right_doc_id",
                node_col="node", comp_col="cluster_id",
            )
            # singletons WITHOUT touching merged (which embeds the history
            # remap — evaluating it twice would re-scan the label table): a
            # batch id is a singleton iff no pair touches it and no earlier
            # round labeled it
            pair_nodes = (
                pairs.select(F.col("left_doc_id").alias("node"))
                .unionByName(pairs.select(F.col("right_doc_id").alias("node")))
                .distinct()
            )
            singles = (
                batch_ids.join(pair_nodes, "node", "left_anti")
                .join(labels_old.select("node"), "node", "left_anti")
                .select("node", F.col("node").alias("cluster_id"))
            )
            labels_new = merged.unionByName(singles)
        else:
            pairs = lsh_candidate_pairs(sig).where(
                F.col("est_jaccard") >= min_est_jaccard
            )
            # neardup_clusters' labeling, with the component checkpoint owned
            # by the scope (the labels are read back from disk)
            comp = scope.adopt(connected_components(pairs, "left_doc_id", "right_doc_id"))
            labels_new = batch_ids.join(comp, "node", "left").select(
                "node", F.coalesce("component_id", "node").alias("cluster_id")
            )

        # write order: index increment first (overwrites its own token
        # partition — replay-safe), then the label swap
        minhash_band_index(sig).write.mode("overwrite").parquet(token_dir)
        labels_new.write.mode("overwrite").parquet(tmp)
        commit_swap(labels_path, tmp, bak)
    return spark.read.parquet(labels_path)


# --- Streaming sketch maintenance (count-min over arriving batches) ----------
#
# Count-min is LINEAR: cell counts are plain integer sums, so the merge of
# per-batch sketches is bit-for-bit the sketch of the union — however the
# stream happened to batch the rows.  That makes the partitioned-index
# idiom above a complete streaming-sketch story: each micro-batch sketches
# ITSELF (bounded depth x width cells) into its own ``batch_id=<epoch>``
# partition (an overwrite — replay after a crash rewrites the same
# partition with the same cells, so the reader never double-counts), and
# readers merge whatever partitions exist.  Unlike the dedup index, a
# batch never reads earlier state: the update is pure append-of-own-
# partition, commutative and idempotent by construction.


def update_countmin_index(
    batch: DataFrame,
    index_path: str,
    group_cols: list[str],
    value_col: str,
    epoch_id: int,
    depth: int | None = None,
    width: int | None = None,
) -> None:
    """foreachBatch body (exposed for direct testing): sketch this batch
    and overwrite its own ``batch_id`` partition."""
    from spark_hadoop_automation_in_cloud_spark.operators import sketches as sk

    d = sk.CM_DEPTH if depth is None else depth
    w = sk.CM_WIDTH if width is None else width
    sk.countmin_sketches(batch, group_cols, value_col, d, w).write.mode(
        "overwrite"
    ).parquet(f"{index_path}/batch_id={epoch_id}")


def read_countmin_index(
    spark,
    index_path: str,
    group_cols: list[str],
    depth: int | None = None,
    width: int | None = None,
) -> DataFrame:
    """Merge every batch partition into the current sketch (cell sums —
    exactly the sketch of everything ingested; geometry tags verified per
    stored row by the merge)."""
    from spark_hadoop_automation_in_cloud_spark.operators import sketches as sk

    d = sk.CM_DEPTH if depth is None else depth
    w = sk.CM_WIDTH if width is None else width
    idx = spark.read.parquet(index_path).drop("batch_id")
    return sk.merge_countmin_sketches(idx, group_cols, d, w)


# --- Streaming covariance maintenance (raw moment cells per batch) -----------
#
# The covariance family's raw moment cells (linalg.raw_moment_cells) are
# plain integer sums per (i, j) — LINEAR, like count-min cells — so the
# same partitioned-index idiom maintains an exact corpus covariance as
# batches arrive: each micro-batch writes ITS OWN cells into its
# batch_id partition (overwrite = replay-idempotent; no earlier state
# read), and readers merge whatever partitions exist to get bit-for-bit
# the cells of everything ingested.  State is dim(dim+1)/2 rows per
# batch, independent of batch size — the embedding-drift monitor's
# run-over-run shape.


def update_covariance_index(
    batch: DataFrame,
    index_path: str,
    vec_col: str,
    epoch_id: int,
    dim: int = 64,
) -> None:
    """foreachBatch body (exposed for direct testing): aggregate this
    batch's raw moment cells and overwrite its own partition."""
    from spark_hadoop_automation_in_cloud_spark.operators.linalg import (
        raw_moment_cells,
    )

    raw_moment_cells(batch, vec_col, dim).write.mode("overwrite").parquet(
        f"{index_path}/batch_id={epoch_id}"
    )


def read_covariance_index(spark, index_path: str) -> DataFrame:
    """Merge every batch partition to the union's raw moment cells."""
    from spark_hadoop_automation_in_cloud_spark.operators.linalg import (
        merge_moment_cells,
    )

    idx = spark.read.parquet(index_path).drop("batch_id")
    return merge_moment_cells(idx)


# --- streaming ANN (IVF-PQ) index maintenance ---------------------------------


def update_ann_index(
    batch: DataFrame,
    index_path: str,
    codebooks: list[list[list[float]]],
    epoch_id: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """foreachBatch body (exposed for direct testing): encode this batch's
    NEW vectors against the FROZEN models — coarse centroids read from
    ``{index_path}/centroids``, PQ ``codebooks`` shipped in the closure —
    and overwrite the batch's own ``batch_id`` partition of the coded
    lists (replay-idempotent; like the count-min index, a batch never
    reads earlier state).

    Model freeze is the standard ANN-serving contract: centroids and
    codebooks retrain OFFLINE (a scheduled rebuild), while ingest only
    assigns + encodes — both row-local scans — so per-epoch cost tracks
    the epoch, never the index.  Encoding is deterministic per row given
    the frozen models, so the union of epoch partitions is ROW-IDENTICAL
    to a one-shot build over everything ingested (q160 shares q159's
    oracle verbatim on exactly that argument).  Layout:
    ``coded_lists/batch_id=N/cell_id=C/`` — cell_id stays a partition
    column, so probes prune to probed cells across every epoch.
    """
    from spark_hadoop_automation_in_cloud_spark.operators.similarity import (
        ivf_build_lists,
        pq_encode,
    )

    spark = batch.sparkSession
    cent = spark.read.parquet(f"{index_path}/centroids")
    lists = ivf_build_lists(batch, cent, id_col, vec_col)
    coded = pq_encode(
        lists, codebooks, id_col="neighbor_id", vec_col="embedding",
        carry_cols=["cell_id"],
    ).drop("recon_sq")
    coded.write.mode("overwrite").partitionBy("cell_id").parquet(
        f"{index_path}/coded_lists/batch_id={epoch_id}"
    )


def read_ann_index(spark, index_path: str) -> DataFrame:
    """The current coded lists: every epoch partition, ``batch_id``
    dropped — row-identical to a one-shot ``pq_encode`` over everything
    ingested (frozen models make encoding per-row deterministic)."""
    return spark.read.parquet(f"{index_path}/coded_lists").drop("batch_id")


# --- Streaming daily-volume maintenance (additive count cells per batch) -----
#
# Daily arrival counts are plain integer sums per (group, day) — LINEAR,
# like count-min and covariance cells — so the same partitioned-index
# idiom maintains the ingest-volume monitor's state as batches arrive:
# each micro-batch writes ITS OWN (group, day, n) cells into its
# batch_id partition (overwrite = replay-idempotent; no earlier state
# read), and readers sum whatever partitions exist to get bit-for-bit
# the daily counts of everything ingested — which is why the streaming
# monitor row (q174) shares the batch monitor's (q170) oracle VERBATIM.
# State per batch is |groups x days touched by that batch|, independent
# of batch row count.


def update_daily_counts(
    batch: DataFrame,
    index_path: str,
    group_cols: list[str],
    day_col: str,
    epoch_id: int,
) -> None:
    """foreachBatch body (exposed for direct testing): count this batch's
    rows per (group, day) and overwrite its own ``batch_id`` partition."""
    from pyspark.sql import functions as F

    batch.groupBy(*group_cols, F.col(day_col).alias("d")).agg(
        F.count(F.lit(1)).alias("n")
    ).write.mode("overwrite").parquet(f"{index_path}/batch_id={epoch_id}")


def read_daily_counts(spark, index_path: str, group_cols: list[str]):
    """Sum every batch partition into the current daily-count table —
    exactly the counts of everything ingested."""
    from pyspark.sql import functions as F

    idx = spark.read.parquet(index_path).drop("batch_id")
    return idx.groupBy(*group_cols, "d").agg(F.sum("n").alias("n"))
