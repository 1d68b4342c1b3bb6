"""Connected components over a pair list — the canonical last step of
large-scale dedup: near-dup PAIRS (from MinHash LSH / embedding cosine)
become dedup CLUSTERS, each keyed by its minimum member id.

No Spark built-in exists (GraphX is Scala-only, graphframes is an external
package), so this is a hand-rolled label-propagation loop — the one place
the engine runs driver-side iteration, and deliberately so: each round is
a pure DataFrame join+aggregate (fully distributed); the driver only
decides "are we done".  Each round combines one hop of neighbor-min
propagation with a pointer-jumping shortcut (label := label's label, the
same doubling trick as Hash-to-Min / large-star contraction), so rounds
needed = O(log diameter) — a 1M-hop boilerplate chain converges in ~20
rounds, and at 100 TB that is a bounded handful of shuffles, each
AQE-sized.  Its lineage is cut every round with ``localCheckpoint`` (the
convergence probe reads the materialized labels); the other round loops
here cut at the :func:`_cut_every` cadence, so no plan grows with
iterations.  If the round budget is ever exhausted the operator RAISES
rather than returning silently-wrong labels.

Determinism: the final label of every node is exactly
min(id over its component) — independent of iteration order, partitioning,
or round count, which is what makes the result oracle-checkable (DuckDB
recursive-CTE transitive closure + MIN).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_hadoop_automation_in_cloud_spark.session import collect_local, owned

#: gates of the per-round node-state broadcast (see :func:`_node_broadcast`)
_BROADCAST_MIN_EDGE_ROWS = 1_000_000
_BROADCAST_NODES_MAX = 1_000_000
#: lineage-cut cadence of the chained-round loops (see :func:`_cut_every`)
_CUT_EVERY = 2
_CHAIN_MAX_EDGE_ROWS = 4_000_000


def _node_broadcast(edge_rows: int, count_nodes):
    """The join hint for the per-round node-state side of an edge join:
    ``F.broadcast`` when the edge list holds at least
    ``_BROADCAST_MIN_EDGE_ROWS`` rows AND ``count_nodes()`` is at most
    ``_BROADCAST_NODES_MAX``, identity otherwise.  ``count_nodes`` runs
    only past the edge gate, so a small graph pays no node-count job.

    Why broadcast: a ``localCheckpoint``'d frame is a ``LogicalRDD`` with
    no Catalyst statistics, so without the hint every round plans a
    sort-merge join that exchanges and sorts the EDGE list.  Broadcasting
    the ≤ |V|-row node state leaves the checkpointed edge partitions in
    place: each round is one map-side hash join plus a map-side-combined
    aggregate (the same shape in :func:`_power_iteration` measured
    2.0-2.2× faster broadcast at 1.8M and 17.9M edges; OPTIMIZATION_r11.md).

    Why the edge gate: the broadcast spends ~2 fixed driver barriers
    (collect + ship) per round, which only pays once the avoided edge
    exchange is large.  Measured 2026-08-17 on label propagation, same
    code: the 3.6k-edge co-purchase graph ran 4.4 s sort-merge vs 12.4 s
    broadcast, while the 3.6M-sym-edge contact graph ran 6.9/5.6 s
    sort-merge vs 5.3/4.9 s broadcast.  So the registered queries over
    the gated operators take the sort-merge arm at bench scale, on
    purpose.

    Results are bit-identical on either arm (integer counts and sums,
    order-free MIN, deterministic argmax); tests force each arm by
    patching the two constants.
    """
    if edge_rows >= _BROADCAST_MIN_EDGE_ROWS and count_nodes() <= _BROADCAST_NODES_MAX:
        return F.broadcast
    return lambda df: df


def _cut_every(chainable: bool, edge_rows: int) -> int:
    """Rounds between lineage cuts (``localCheckpoint``) of a round loop:
    ``_CUT_EVERY`` when the loop is ``chainable`` and the edge list holds
    at most ``_CHAIN_MAX_EDGE_ROWS`` rows, else 1 (cut every round).

    ``chainable`` means each round's plan references the previous round's
    frame exactly ONCE.  Then rounds can chain lazily between cuts, and K
    rounds cost ~K/``_CUT_EVERY`` checkpoint actions instead of K, with
    bit-identical output (the same plan tree, materialized less often;
    the per-round dp snap already pins summation order).  A loop whose
    round references the previous frame twice (PageRank's dangling-mass
    aggregate) is not chainable: an unmaterialized chain re-executes each
    round's subtree per reference (2^rounds growth).

    Why 2: each checkpoint materializes a |V|-row frame and schedules a
    job, while longer chains grow the plan until analysis and AQE
    re-planning dominate.  On the 1.8M-edge q69 graph, cadence 2 measured
    6.25 s vs 6.96 s every-round (4-trial interleaved medians), cadence 5
    6.86 s and a full 10-round unroll 9.9 s; q69 went 53 → 48 scheduler
    jobs.  On the q188 LPA graph cadence 2 measured 3.18 s vs 3.61 s
    every-round and 3.27 s full-chain, and 32.4 vs 34.5 s on its 100×
    disjoint-copy graph (714k sym edges).

    Why the edge gate: the win is a latency effect.  On q69's 17.9M-edge
    10× replication, chaining REGRESSED 7.4/10.0 s → 9.8/12/31 s
    (erratic: the two edge joins per action compete for execution memory
    within one job), so large edge lists keep the every-round cut.
    """
    return _CUT_EVERY if chainable and edge_rows <= _CHAIN_MAX_EDGE_ROWS else 1


def _undirected_edges(edges: DataFrame, src_col: str, dst_col: str) -> DataFrame:
    """The normalized undirected edge list ``(u, v)`` with ``u < v``:
    self-loops dropped, either orientation and duplicates collapsed."""
    u, v = F.col(src_col), F.col(dst_col)
    return (
        edges.where(u != v)
        .select(F.least(u, v).alias("u"), F.greatest(u, v).alias("v"))
        .distinct()
    )


def _degrees(e: DataFrame) -> DataFrame:
    """``(node, d)``: each endpoint's degree in an undirected ``(u, v)``
    edge list."""
    return (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )


def connected_components(
    pairs: DataFrame,
    left_col: str,
    right_col: str,
    max_rounds: int = 25,
) -> DataFrame:
    """Pairs (undirected edges) → (node, component_id = min node id reachable).

    Only nodes appearing in ``pairs`` are labeled; callers wanting
    singletons join the result back to the full id universe with a
    coalesce-to-self.

    Output: node, component_id.

    Raises ``RuntimeError`` if the fixpoint is not reached within
    ``max_rounds`` — with pointer jumping that needs a component diameter
    over ~2^max_rounds, so a raise means something is structurally wrong
    (e.g. an unbounded pair generator), never a case to paper over with
    wrong cluster ids.

    The per-round edges⋈labels hop takes the :func:`_node_broadcast`
    join hint.  Only the edge join is hinted: the pointer-jump
    self-join's two sides share one subtree, which sort-merge
    deduplicates via ReusedExchange but a broadcast build would compute
    twice.
    """
    # every intermediate checkpoint is owned by the scope; the result is
    # checkpointed outside it so that it outlives the call
    with owned(pairs.sparkSession) as pins:
        edges = pins.pin(
            pairs.select(F.col(left_col).alias("a"), F.col(right_col).alias("b"))
            .unionByName(
                pairs.select(F.col(right_col).alias("a"), F.col(left_col).alias("b"))
            )
            .distinct()
        )
        labels = pins.pin(
            edges.select(F.col("a").alias("node")).distinct().select(
                "node", F.col("node").alias("component_id")
            )
        )
        bc = _node_broadcast(edges.count(), labels.count)

        # Convergence probe (r11): each round takes per-node MIN over (own
        # label, neighbor labels) and then a pointer jump to a label that
        # is itself never larger (labels start as node ids and only ever
        # decrease, so label(label) <= label) — the per-node label is
        # MONOTONE NON-INCREASING round over round.  Hence "no node
        # changed" ⇔ the EXACT label sum is unchanged (strict decrease in
        # any node strictly decreases the sum; DECIMAL(38,0) keeps it
        # exact for any bigint id set).  The probe is one scan-aggregate
        # of the just-checkpointed |V|-row frame, replacing the old
        # new⋈old join (two exchanges + sort per round) that existed only
        # to answer this yes/no.
        def _label_sum(frame: DataFrame):
            return frame.agg(
                F.sum(F.col("component_id").cast("decimal(38,0)")).alias("s")
            ).first()["s"]

        prev_sum = _label_sum(labels)
        for _ in range(max_rounds):
            # candidate label per node: min over (own label, neighbors' labels)
            lab_r = bc(labels)
            neighbor_labels = (
                edges.join(lab_r, edges.b == lab_r.node)
                .select(F.col("a").alias("node"), "component_id")
            )
            propagated = (
                labels.unionByName(neighbor_labels)
                .groupBy("node")
                .agg(F.min("component_id").alias("component_id"))
            )
            # pointer jump: component_id is itself a labeled node, so replace
            # each label by that node's (never larger) label — chain depth
            # halves per round, giving O(log diameter) convergence where pure
            # propagation is O(diameter)
            parent = propagated.select(
                F.col("node").alias("__lbl"), F.col("component_id").alias("__lbl_comp")
            )
            labels = pins.pin(
                propagated.join(parent, propagated.component_id == parent.__lbl)
                .select("node", F.col("__lbl_comp").alias("component_id"))
            )
            new_sum = _label_sum(labels)
            if new_sum == prev_sum:
                break
            prev_sum = new_sum
        else:
            raise RuntimeError(
                f"connected_components did not converge in {max_rounds} rounds; "
                "labels would be wrong — raise max_rounds or check the pair "
                "generator for unbounded chains"
            )
        return labels.localCheckpoint()


def neardup_clusters(
    pairs: DataFrame,
    all_ids: DataFrame,
    id_col: str,
    left_col: str = "left_id",
    right_col: str = "right_id",
) -> DataFrame:
    """Full dedup-cluster assignment: every id in ``all_ids`` labeled with
    its near-dup component (itself when it has no near-duplicates).

    Output: ``id_col``, cluster_id.
    """
    comp = connected_components(pairs, left_col, right_col)
    return (
        all_ids.select(F.col(id_col))
        .join(comp, all_ids[id_col] == comp.node, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("component_id"), F.col(id_col)).alias("cluster_id"),
        )
    )


def _power_iteration(
    edges: DataFrame,
    seeds: DataFrame | None,
    src_col: str,
    dst_col: str,
    seed_col: str,
    n_iter: int,
    damping: float,
    per_iter_round_dp: int | None,
    assume_distinct_edges: bool,
) -> DataFrame:
    """The one power-iteration loop behind :func:`pagerank` (``seeds``
    None: uniform teleport) and :func:`personalized_pagerank` (teleport
    onto the seed set).  Every round is

        ``rank' = base + d·(inflow + spread(dangling_mass))``

    where inflow is the rank mass flowing src→dst divided by out-degree
    and dangling mass (the rank of nodes with no out-edge) teleports like
    the base: uniformly, ``(1−d)/n`` and ``dm/n``, or onto the seeds,
    ``(1−d)·share`` and ``dm·share`` with ``share = 1[v∈S]/|S|``.  Each
    mode keeps its own scalar expressions, which are the IEEE operation
    sequences its DuckDB oracle runs (q69, q185).

    Nodes are the endpoints of the non-null edges; an edge with a null
    endpoint is dropped.  A duplicated edge would double-count its
    contribution, so edges are distinct-ed (a full shuffle) unless
    ``assume_distinct_edges`` — the caller's promise that the dedup was
    already paid; there is no cheap way to verify it.

    Shape: the node state ``(node, deg)`` (``deg`` 0 marks a dangling
    node; seeded mode adds ``__is_seed``) is pinned once, and its setup
    scalars (n, seed count, dangling flag, |E|) come from one aggregate.
    Each round joins the pinned edges with the ``rank/deg``
    contributions on ``src``, aggregates inflow per ``dst`` and
    left-joins it onto the pinned state, so a round references the
    previous ranks once — twice when there is dangling mass, whose 1-row
    aggregate is broadcast-crossed in (a graph without dangling nodes
    skips that job: its term is exactly 0.0).  The driver only counts
    rounds.  Both joins broadcast their ≤ |V|-row side when
    ``n <= _BROADCAST_NODES_MAX`` (no edge-volume gate, unlike
    :func:`_node_broadcast`: q69 takes this arm) and plan sort-merge
    joins otherwise.  Lineage is cut at the :func:`_cut_every` cadence on
    the broadcast arm (chainable when there is no dangling mass) and
    every ``_CUT_EVERY`` rounds on the sort-merge arm; the last round
    materializes straight into the returned checkpoint, taken outside
    the scope so it outlives the call.  Both arms run the identical
    scalar arithmetic in the identical order, so their results are
    bit-equal (pinned by tests forcing each arm).

    Fixed ``n_iter``, not convergence-tested: a deterministic round
    count is what makes two runs comparable.

    ``per_iter_round_dp``: snap each round's ranks to this many decimal
    places.  Engines sum each node's inflow in different orders, and the
    resulting last-ulp differences grow over damped rounds; a 9dp grid
    re-synchronizes the trajectories, since the inflow sum's ~1e-18
    wobble makes a snap disagreement ~1e-9 per node-round unlikely — not
    a guarantee, but negligible against the 6dp output.  ``None`` keeps
    raw doubles.

    Output: node, rank (double, 6dp).
    """
    d = float(damping)
    with owned(edges.sparkSession) as pins:
        e = edges.select(
            F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
        ).where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        if not assume_distinct_edges:
            e = e.distinct()
        e = pins.pin(e)
        # one map-side-combined aggregate over the endpoints: src endpoints
        # count toward out-degree, dst endpoints only assert existence
        state = (
            e.select(F.col("src").alias("node"), F.lit(1).alias("__is_src"))
            .unionByName(e.select(F.col("dst").alias("node"), F.lit(0).alias("__is_src")))
            .groupBy("node")
            .agg(F.sum("__is_src").alias("deg"))
        )
        scalars = [
            F.count(F.lit(1)).alias("n"),
            F.max(F.when(F.col("deg") == 0, 1).otherwise(0)).alias("hd"),
            # total out-degree == |E|, feeds the chain gate
            F.coalesce(F.sum("deg"), F.lit(0)).alias("te"),
        ]
        if seeds is not None:
            seed_nodes = seeds.select(F.col(seed_col).alias("node")).distinct()
            state = state.join(
                F.broadcast(seed_nodes.withColumn("__sflag", F.lit(1))), "node", "left"
            ).select(
                "node", F.coalesce(F.col("__sflag"), F.lit(0)).alias("__is_seed"), "deg"
            )
            scalars.append(F.sum("__is_seed").alias("ns"))
        state = pins.pin(state)
        setup = state.agg(*scalars).first()
        n = int(setup["n"])
        has_dangling = bool(setup["hd"])
        if seeds is None:
            start, base, spread = F.lit(1.0 / n), F.lit((1.0 - d) / n), lambda dm: dm / n
        else:
            if not setup["ns"]:
                raise ValueError("personalized_pagerank: no seed is present in the graph")
            share = F.col("__is_seed").cast("double") / float(setup["ns"])
            start, base, spread = share, (1.0 - d) * share, lambda dm: dm * share
        small = n <= _BROADCAST_NODES_MAX
        bc = F.broadcast if small else (lambda df: df)
        # the dangling aggregate is a second reference to the rank frame
        cut_every = _cut_every(not has_dangling, int(setup["te"])) if small else _CUT_EVERY
        # the first round reads the pinned state plus a projection;
        # pinning it would only copy the state
        ranks = state.select(*state.columns, start.alias("rank"))
        for i in range(n_iter):
            contrib = ranks.where(F.col("deg") > 0).select(
                F.col("node").alias("src"), (F.col("rank") / F.col("deg")).alias("__c")
            )
            inflow = (
                e.join(bc(contrib), "src")
                .groupBy(F.col("dst").alias("node"))
                .agg(F.sum("__c").alias("__inflow"))
            )
            nxt = state.join(bc(inflow), "node", "left")
            damped = F.coalesce(F.col("__inflow"), F.lit(0.0))
            if has_dangling:
                dangling = ranks.where(F.col("deg") == 0).agg(
                    F.coalesce(F.sum("rank"), F.lit(0.0)).alias("__dm")
                )
                nxt = nxt.crossJoin(F.broadcast(dangling))
                damped = damped + spread(F.col("__dm"))
            rank = base + d * damped
            if per_iter_round_dp is not None:
                rank = F.round(rank, per_iter_round_dp)
            ranks = nxt.select(*state.columns, rank.alias("rank"))
            if (i + 1) % cut_every == 0 and i < n_iter - 1:
                ranks = pins.pin(ranks)
        return ranks.select(
            "node", (F.round("rank", 6) + F.lit(0.0)).alias("rank")
        ).localCheckpoint()


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    n_iter: int = 10,
    damping: float = 0.85,
    per_iter_round_dp: int | None = None,
    assume_distinct_edges: bool = False,
) -> DataFrame:
    """PageRank over a directed edge list: :func:`_power_iteration` with a
    uniform teleport; dangling mass spreads over all nodes.  Output:
    node, rank (6dp; Σ rank ≈ 1)."""
    return _power_iteration(
        edges, None, src_col, dst_col, "node", n_iter, damping,
        per_iter_round_dp, assume_distinct_edges,
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    seed_col: str = "node",
    n_iter: int = 10,
    damping: float = 0.85,
    per_iter_round_dp: int | None = 9,
    assume_distinct_edges: bool = False,
) -> DataFrame:
    """Personalized PageRank: :func:`_power_iteration` with the teleport,
    and the dangling mass, landing on the seed set ``seeds[seed_col]``
    instead of uniformly — "important FROM HERE" (recommendation
    candidates, local communities) where :func:`pagerank` answers
    "important overall".  Seeds outside the graph are ignored (the seed
    frame is assumed cohort-sized and broadcasts into the setup join);
    raises ValueError if no seed is in the graph (every rank would be 0 —
    a caller bug, not a result).  Output: node, rank (6dp)."""
    return _power_iteration(
        edges, seeds, src_col, dst_col, seed_col, n_iter, damping,
        per_iter_round_dp, assume_distinct_edges,
    )


def incremental_components(
    labels: DataFrame,
    new_pairs: DataFrame,
    left_col: str,
    right_col: str,
    node_col: str = "node",
    comp_col: str = "component_id",
    max_rounds: int = 25,
) -> DataFrame:
    """Merge a NEW batch of edges into persisted component labels without
    re-running the iterative loop over the historical graph.

    ``labels`` is a :func:`connected_components`-contract table (one row
    per historical node, ``comp_col`` = min member id — so every root is
    itself a labeled node mapping to itself); ``new_pairs`` is the edge
    batch, touching old nodes, new nodes, or both.  Output: the updated
    full label table, row-identical to ``connected_components`` over the
    union graph restricted to (historical ∪ batch) nodes — pinned by the
    any-split equivalence property test.

    Why this shape at 100 TB: full CC over the history is O(log diameter)
    shuffles of EVERYTHING per ingest.  Here the iterative work runs on
    the REDUCED graph only — each batch endpoint replaced by its old
    root, so its size is O(batch), independent of history — and the
    history is touched by exactly two non-iterative joins, both keyed on
    columns a bucketed label store co-locates:

      1. endpoint lookup (batch ⋈ labels on node) — batch-sized output;
      2. root remap (labels ⋈ broadcast(reduced labels) on comp) — one
         streaming pass over the label table against a broadcast map,
         no history shuffle at all.

    Min-id labels make the algebra close: the merged component's minimum
    is the minimum over its old roots (each already the min of its old
    members) and its genuinely-new node ids — exactly the node set of
    the reduced graph, so the reduced CC's min-id labels ARE the final
    labels.  A non-min representative scheme would break this (the
    docstring contract above is load-bearing, not convention).

    NULL endpoints are dropped (an equi-join on the node key would never
    match them; same stance as bloom/dedup).
    """
    a, b = F.col(left_col), F.col(right_col)
    e = new_pairs.where(a.isNotNull() & b.isNotNull()).select(
        a.alias("__a"), b.alias("__b")
    )
    la = labels.select(F.col(node_col).alias("__a"), F.col(comp_col).alias("__ra"))
    lb = labels.select(F.col(node_col).alias("__b"), F.col(comp_col).alias("__rb"))
    with owned(new_pairs.sparkSession) as pins:
        # batch-sized; checkpointed EAGERLY so the endpoint-lookup joins
        # (the history pass) run exactly once, feeding both the reduced CC
        # and the new-node pick
        mapped = pins.pin(
            e.join(la, "__a", "left")
            .join(lb, "__b", "left")
            .select(
                F.coalesce("__ra", "__a").alias("ma"),
                F.col("__ra").isNull().alias("__a_new"),
                F.coalesce("__rb", "__b").alias("mb"),
                F.col("__rb").isNull().alias("__b_new"),
            )
        )
        reduced = pins.adopt(connected_components(mapped, "ma", "mb", max_rounds))
        new_ids = (
            mapped.select(F.col("ma").alias("__nid")).where(F.col("__a_new"))
            .unionByName(
                mapped.select(F.col("mb").alias("__nid")).where(F.col("__b_new"))
            )
            .distinct()
        )
        # reduced labels annotated with the is-new flag, collected while
        # the scope's pins are live: batch-sized (it is broadcast into the
        # history remap below), and the returned frame owns no block, so
        # a per-batch ingest loop accumulates none
        ann = collect_local(
            reduced.join(
                F.broadcast(new_ids), reduced.node == F.col("__nid"), "left"
            ).select(
                "node", "component_id", F.col("__nid").isNotNull().alias("__is_new")
            )
        )
    remap = ann.select(
        F.col("node").alias("__root"), F.col("component_id").alias("__new_comp")
    )
    updated = (
        labels.join(
            F.broadcast(remap), labels[comp_col] == F.col("__root"), "left"
        )
        .select(
            labels[node_col].alias(node_col),
            F.coalesce(F.col("__new_comp"), labels[comp_col]).alias(comp_col),
        )
    )
    new_nodes = ann.where(F.col("__is_new")).select(
        F.col("node").alias(node_col), F.col("component_id").alias(comp_col)
    )
    return updated.unionByName(new_nodes)


def triangle_count(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    topk: int = 50,
) -> DataFrame:
    """Per-node triangle participation over an undirected graph, top-k —
    the local clustering signal (community cores, link-spam hubs, dense
    near-dup cliques) that :func:`connected_components` is blind to: a
    component says "these touch", triangles say "these touch EACH
    OTHER".

    Algorithm: degree-ordered edge orientation (Schank / MPC triangle
    enumeration).  Every undirected edge is oriented from its lower end
    to its higher end under the total order ``(degree, node)``; a
    triangle ``{a,b,c}`` then materializes exactly once, as the wedge
    ``a→b, a→c`` (b below c in the same order) closed by the edge
    ``b→c``.  No per-node adjacency list is ever built and nothing is
    corpus-quadratic.

    WHY the orientation is the 100 TB story: naive wedge counting
    generates ``Σ deg(v)²`` candidates — a single celebrity hub with
    degree 10M yields 10¹⁴ wedges on its own.  Ordering by degree caps
    every node's OUT-degree at O(√m) (each higher-ordered neighbor has
    degree ≥ yours, and only √(2m) nodes can have degree ≥ √(2m)), so
    the wedge volume is ≤ Σ outdeg² = O(m^1.5) — the enumeration
    optimum — and the hub's wedges are charged to its low-degree
    neighbors, which parallelize.  The plan is two shuffles (wedge
    build keyed on the pivot, closure join keyed on the wedge ends);
    residual same-key skew is AQE's to split.

    Input may contain duplicates and either orientation; self-loops
    drop.  Output: node (as ``src_col``'s name), tri_count (bigint),
    top-k by (tri_count DESC, node ASC) — deterministic total order.

    Eager: the normalized edge list feeds the degree aggregate and both
    degree joins, and Spark does not reuse that subplan across the three
    (each branch infers different ``IS NOT NULL`` filters, so the
    exchanges never match), so a lazy plan derives the input graph three
    times.  The call pins the edge list once, collects the top-k rows
    while the pin is alive, releases it, and returns the rows as a local
    frame (``session.collect_local``) — nothing stays pinned after the
    call, and ``topk`` bounds what the driver holds.
    """
    with owned(edges.sparkSession) as pins:
        per_node, _ = _node_triangles_and_degrees(pins, edges, src_col, dst_col)
        top = (
            per_node.select(F.col("node").alias(src_col), "tri_count")
            .orderBy(F.col("tri_count").desc(), F.col(src_col).asc())
            .limit(topk)
        )
        return collect_local(top)


def _node_triangles_and_degrees(
    pins, edges: DataFrame, src_col: str, dst_col: str
) -> tuple[DataFrame, DataFrame]:
    """The shared enumeration core of :func:`triangle_count` and
    :func:`clustering_coefficient`: (per-node triangle counts, per-node
    degrees) over the normalized undirected graph, whose edge list is
    pinned once through ``pins``."""
    e = pins.pin(_undirected_edges(edges, src_col, dst_col))
    deg = _degrees(e)
    da, db = F.col("__da"), F.col("__db")
    ordered = e.join(
        deg.select(F.col("node").alias("u"), F.col("d").alias("__da")), "u"
    ).join(deg.select(F.col("node").alias("v"), F.col("d").alias("__db")), "v")
    u_first = (da < db) | ((da == db) & (F.col("u") < F.col("v")))
    o = ordered.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("b"),
        F.when(u_first, db).otherwise(da).alias("bd"),
    )
    o1 = o.select(F.col("a"), F.col("b").alias("x"), F.col("bd").alias("xd"))
    o2 = o.select(F.col("a"), F.col("b").alias("y"), F.col("bd").alias("yd"))
    wedges = o1.join(o2, "a").where(
        (F.col("xd") < F.col("yd"))
        | ((F.col("xd") == F.col("yd")) & (F.col("x") < F.col("y")))
    )
    tri = wedges.join(
        o.select(F.col("a").alias("x"), F.col("b").alias("y")), ["x", "y"]
    ).select("a", "x", "y")
    per_node = (
        tri.select(F.explode(F.array("a", "x", "y")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tri_count"))
    )
    return per_node, deg


def clustering_coefficient(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    topk: int = 50,
    min_degree: int = 2,
) -> DataFrame:
    """Local clustering coefficient, top-k: ``2·triangles(v) /
    (d(v)·(d(v)−1))`` — how close each node's neighborhood is to a
    clique, the community-core metric that normalizes q161's raw
    triangle counts by opportunity (a degree-100 node in 10 triangles
    is loose; a degree-5 node in 10 is a clique).

    Same enumeration core as :func:`triangle_count` (degree-oriented,
    O(m^1.5) wedges — TRIANGLES.json has the A/B); the coefficient adds
    one left join back to the degree table (nodes in no triangle score
    0, not absent) and one row-local division of exact bigints.  Nodes
    below ``min_degree`` drop (coefficient undefined).  Deterministic
    order: (coefficient DESC, degree DESC, node ASC).

    Output: node (as ``src_col``), degree, tri_count (bigint),
    clustering_coef (double 6dp).

    Eager, for the reason :func:`triangle_count` gives: the edge subplan
    is not reused across the degree aggregate and the two degree joins,
    so the edge list is pinned once, released once the top-k rows are
    collected, and the rows return as a local frame.
    """
    with owned(edges.sparkSession) as pins:
        per_node, deg = _node_triangles_and_degrees(pins, edges, src_col, dst_col)
        joined = deg.where(F.col("d") >= min_degree).join(per_node, "node", "left")
        tri = F.coalesce(F.col("tri_count"), F.lit(0)).cast("bigint")
        coef = F.round(
            (2.0 * tri.cast("double"))
            / (F.col("d").cast("double") * (F.col("d").cast("double") - 1.0)),
            6,
        )
        top = (
            joined.select(
                F.col("node").alias(src_col),
                F.col("d").cast("bigint").alias("degree"),
                tri.alias("tri_count"),
                (coef + F.lit(0.0)).alias("clustering_coef"),
            )
            .orderBy(
                F.col("clustering_coef").desc(),
                F.col("degree").desc(),
                F.col(src_col).asc(),
            )
            .limit(topk)
        )
        return collect_local(top)


def _sql_triangle_core_ctes(edges_sql: str, src_col: str, dst_col: str) -> str:
    """The shared CTE chain of :func:`sql_triangle_count` and
    :func:`sql_clustering_coefficient` (normalize → degrees → orient →
    wedges → close → per-node counts) — ONE definition of the Schank
    orientation and its (degree, node) tie-break, mirroring how the
    kernels share :func:`_node_triangles_and_degrees` (and how bpe.py's
    oracles share ``_sql_training_ctes``)."""
    return f"""
e AS (
  SELECT DISTINCT least({src_col}, {dst_col}) AS u,
                  greatest({src_col}, {dst_col}) AS v
  FROM ({edges_sql}) WHERE {src_col} <> {dst_col}
),
deg AS (
  SELECT node, COUNT(*) AS d
  FROM (SELECT u AS node FROM e UNION ALL SELECT v FROM e) GROUP BY node
),
o AS (
  SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND e.u < e.v)
              THEN e.u ELSE e.v END AS a,
         CASE WHEN da.d < db.d OR (da.d = db.d AND e.u < e.v)
              THEN e.v ELSE e.u END AS b,
         CASE WHEN da.d < db.d OR (da.d = db.d AND e.u < e.v)
              THEN db.d ELSE da.d END AS bd
  FROM e JOIN deg da ON da.node = e.u JOIN deg db ON db.node = e.v
),
wedges AS (
  SELECT o1.a, o1.b AS x, o2.b AS y
  FROM o o1 JOIN o o2 ON o1.a = o2.a
  WHERE o1.bd < o2.bd OR (o1.bd = o2.bd AND o1.b < o2.b)
),
tri AS (
  SELECT w.a, w.x, w.y FROM wedges w JOIN o ON o.a = w.x AND o.b = w.y
),
per_node AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS tri_count
  FROM (SELECT a AS node FROM tri UNION ALL SELECT x FROM tri
        UNION ALL SELECT y FROM tri)
  GROUP BY node
)"""


def sql_clustering_coefficient(
    edges_sql: str,
    src_col: str,
    dst_col: str,
    topk: int = 50,
    min_degree: int = 2,
) -> str:
    """DuckDB twin of :func:`clustering_coefficient`: the shared
    :func:`_sql_triangle_core_ctes` chain plus the degree left-join and
    the identical division/order."""
    return f"""
WITH {_sql_triangle_core_ctes(edges_sql, src_col, dst_col)}
SELECT d.node AS {src_col},
       CAST(d.d AS BIGINT) AS degree,
       CAST(COALESCE(p.tri_count, 0) AS BIGINT) AS tri_count,
       round(2.0 * CAST(COALESCE(p.tri_count, 0) AS DOUBLE)
             / (CAST(d.d AS DOUBLE) * (CAST(d.d AS DOUBLE) - 1.0)), 6) + 0.0
         AS clustering_coef
FROM deg d LEFT JOIN per_node p ON p.node = d.node
WHERE d.d >= {min_degree}
ORDER BY clustering_coef DESC, degree DESC, {src_col} ASC
LIMIT {topk}
"""


def sql_triangle_count(edges_sql: str, src_col: str, dst_col: str, topk: int = 50) -> str:
    """DuckDB twin of :func:`triangle_count`: identical normalization,
    ``(degree, node)`` orientation spelled as the same explicit boolean
    (no row-value comparison, so the two engines share one tie-break
    definition), one wedge join, one closure join, same top-k order —
    all via the shared :func:`_sql_triangle_core_ctes` fragment."""
    return f"""
WITH {_sql_triangle_core_ctes(edges_sql, src_col, dst_col)}
SELECT node AS {src_col}, tri_count FROM per_node
ORDER BY tri_count DESC, {src_col} ASC LIMIT {topk}
"""


def k_core(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    k: int,
    max_rounds: int = 20,
) -> DataFrame:
    """The k-core of an undirected graph: the maximal subgraph where
    every node keeps degree ≥ k — the density filter that separates a
    community's load-bearing members from its periphery (triangles/
    coefficients score nodes, the core is the SET that survives
    together; spam-farm detection and community-nucleus extraction
    both start here).

    Iterative peeling, the :func:`connected_components` driver
    contract: each round is one distributed degree-aggregate + one
    semi-join filter of the edge list (drop every edge touching a
    node whose CURRENT degree < k); the driver only checks "did the
    edge count move".  Peeling is monotone — the fixpoint is the
    unique k-core regardless of round order, and EXTRA rounds past the
    fixpoint are no-ops, which is what makes a fixed-unroll oracle
    valid (the q39/q69 idempotent-tail convention).  Converges in at
    most |peeled layers| rounds; RAISES past ``max_rounds`` rather
    than returning a partially-peeled (supergraph) answer.

    Each round's survivor edge list localCheckpoints (lineage would
    otherwise double per round) and this call's checkpoints release on
    exit, ownership-scoped.  Output: node, core_degree (bigint — the
    node's degree WITHIN the core), empty when no k-core exists.

    The per-round survivor set (``keep``, ≤ |V| rows) takes the
    :func:`_node_broadcast` join hint into the two semi-joins, so on
    the broadcast arm the checkpointed edge list is filtered map-side
    instead of being exchanged and sorted twice per peel round.  The
    node count behind the hint is a distinct count, not a 2·|E| proxy:
    dense graphs have |V| far below 2·|E|, so the proxy would veto the
    broadcast exactly where it pays most.
    """
    with owned(edges.sparkSession) as pins:
        e = pins.pin(_undirected_edges(edges, src_col, dst_col))
        n_edges = e.count()
        bc = _node_broadcast(n_edges, lambda: _degrees(e).count())
        for _ in range(max_rounds):
            if n_edges == 0:
                break
            keep = _degrees(e).where(F.col("d") >= k).select("node")
            e = pins.pin(
                e.join(bc(keep.select(F.col("node").alias("u"))), "u", "left_semi")
                .join(bc(keep.select(F.col("node").alias("v"))), "v", "left_semi")
                .select("u", "v")
            )
            n_next = e.count()
            # n_next == 0 IS the fixpoint (the empty graph is trivially
            # stable) — without it, peeling to empty on the final permitted
            # round would hit the for-else RuntimeError (r07 ADVICE item 3)
            if n_next == n_edges or n_next == 0:
                break
            n_edges = n_next
        else:
            raise RuntimeError(
                f"k_core did not reach a fixpoint in {max_rounds} rounds — "
                "raise max_rounds; returning a partially-peeled supergraph "
                "would be silently wrong"
            )
        return (
            _degrees(e)
            .select("node", F.col("d").cast("bigint").alias("core_degree"))
            .localCheckpoint()
        )


def sql_k_core(
    edges_sql: str, src_col: str, dst_col: str, k: int, n_rounds: int = 20
) -> str:
    """DuckDB twin of :func:`k_core`: the peel unrolled ``n_rounds``
    times (extra rounds past the fixpoint are no-ops — the
    idempotent-tail convention that makes a fixed unroll equal the
    loop-until-stable kernel), each round MATERIALIZED."""
    parts = [
        f"""
e0 AS MATERIALIZED (
  SELECT DISTINCT least({src_col}, {dst_col}) AS u,
                  greatest({src_col}, {dst_col}) AS v
  FROM ({edges_sql}) WHERE {src_col} <> {dst_col}
)"""
    ]
    for i in range(1, n_rounds + 1):
        parts.append(
            f"""
d{i} AS (
  SELECT node FROM (
    SELECT node, COUNT(*) AS d FROM (
      SELECT u AS node FROM e{i - 1} UNION ALL SELECT v FROM e{i - 1}
    ) GROUP BY node
  ) WHERE d >= {k}
),
e{i} AS MATERIALIZED (
  SELECT e.u, e.v FROM e{i - 1} e
  WHERE e.u IN (SELECT node FROM d{i}) AND e.v IN (SELECT node FROM d{i})
)"""
        )
    return (
        "WITH "
        + ",".join(parts)
        + f"""
SELECT node, CAST(COUNT(*) AS BIGINT) AS core_degree
FROM (SELECT u AS node FROM e{n_rounds} UNION ALL SELECT v FROM e{n_rounds})
GROUP BY node
"""
    )


def label_propagation(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    n_rounds: int = 5,
) -> DataFrame:
    """Synchronous label-propagation communities (LPA, Raghavan et al.):
    every node starts as its own label, and each round adopts the most
    frequent label among its NEIGHBORS (ties to the smallest label;
    isolated update keeps the current label).  After a handful of rounds
    dense regions agree on one label — the community buckets that turn
    corpus-wide dedup/near-dup into per-community work (the pipeline use:
    a semantic sibling of :func:`connected_components` that splits a
    connected blob into its dense parts instead of reporting it whole).

    CONTRACT — fixed trajectory, not loop-until-stable: synchronous LPA
    can oscillate 2-cycles on bipartite-ish regions, so there is no
    monotone fixpoint for an idempotent-tail oracle to hit (the k_core
    situation).  Instead BOTH engines walk the identical deterministic
    trajectory for exactly ``n_rounds`` rounds — the update rule
    (count DESC, label ASC argmax over neighbor labels) has no ties left
    to the engine, so round t's labels are bit-identical across engines
    and the unrolled-CTE oracle (:func:`sql_label_propagation`) IS the
    kernel by construction.  More rounds = coarser communities; 5 is the
    usual near-convergence point (Raghavan et al. report >=95% of nodes
    settled by round 5).

    Scale shape: per round ONE shuffle keyed on the neighbor node — join
    current labels (|V| rows) onto the symmetric edge list, count
    (node, label) with map-side combine, and ``max_by(label,
    struct(cnt, -label))`` collapses the argmax inside the same
    aggregate.  Each round's plan references the previous label frame
    exactly ONCE (the old per-round label-update join is gone), so
    rounds chain lazily and cut lineage at the :func:`_cut_every`
    cadence, with ownership-scoped release.  No driver state beyond the
    round counter; edges checkpoint ONCE.  The per-round label frame
    takes the :func:`_node_broadcast` join hint into the one edge join
    (the argmax aggregate IS the next label frame, so there is exactly
    one join per round).

    Output: ``node``, ``community`` (bigint; the round-``n_rounds``
    label), ``community_size`` (bigint — members sharing the label).

    Node ids MUST be an integral type: initial labels are the node ids
    cast to bigint, and a silent Spark cast of non-numeric ids would
    yield NULL labels (garbage communities) while the DuckDB twin's
    ``CAST(... AS BIGINT)`` raises — divergent failure modes for the
    same misuse (r08 ADVICE item 3).  The operator validates and raises
    instead; pre-assign dense ids (e.g. ``xxhash64`` is NOT enough —
    collisions would merge labels — use ``zipWithIndex``-style
    ``row_number`` over distinct nodes) for string-keyed graphs.
    """
    if n_rounds < 1:
        raise ValueError(f"n_rounds must be >= 1, got {n_rounds}")
    _integral = {"tinyint", "smallint", "int", "bigint"}
    dtypes = dict(edges.dtypes)
    for c in (src_col, dst_col):
        dt = dtypes.get(c)
        if dt not in _integral:
            raise TypeError(
                f"label_propagation requires integral node ids; column "
                f"{c!r} is {dt!r}. Initial labels are node ids cast to "
                "bigint — a non-numeric id would silently become a NULL "
                "label. Map string keys to dense bigint ids first."
            )
    with owned(edges.sparkSession) as pins:
        sym = _undirected_edges(edges, src_col, dst_col)
        e = pins.pin(
            sym.select(F.col("u").alias("src"), F.col("v").alias("dst"))
            .unionAll(sym.select(F.col("v").alias("src"), F.col("u").alias("dst")))
        )
        lab = pins.pin(
            e.select(F.col("src").alias("node"))
            .distinct()
            .select("node", F.col("node").cast("bigint").alias("lbl"))
        )
        n_edges = e.count()
        bc = _node_broadcast(n_edges, lab.count)
        cut_every = _cut_every(True, n_edges)
        for i in range(n_rounds):
            nb = e.join(bc(lab.withColumnRenamed("node", "src")), "src").select(
                F.col("dst").alias("node"), "lbl"
            )
            # the argmax aggregate IS the next label frame (r11): `e` is
            # symmetric by construction (both directions of every sym
            # pair), so every labeled node appears as a dst and `pick`
            # covers the full node set — the old `lab LEFT JOIN pick` +
            # coalesce(new_lbl, lbl) update (one |V|⋈|V| join per round:
            # two exchanges + sorts on the sort-merge arm, one broadcast
            # barrier on the broadcast arm) was provably a no-op row-wise
            # and is removed.  The isolated-node coalesce the update
            # encoded can never fire here: lab's nodes are e's endpoints.
            lab = (
                nb.groupBy("node", "lbl")
                .agg(F.count(F.lit(1)).alias("c"))
                .groupBy("node")
                .agg(
                    F.expr("max_by(lbl, struct(c, -lbl))").alias("lbl")
                )
            )
            # lineage cut (docstring cadence) — the final round always
            # checkpoints: the community-size readout references it twice
            if (i + 1) % cut_every == 0 or i == n_rounds - 1:
                lab = pins.pin(lab)
        return (
            lab.join(
                bc(
                    lab.groupBy("lbl").agg(
                        F.count(F.lit(1)).alias("community_size")
                    )
                ),
                "lbl",
            )
            .select(
                "node",
                F.col("lbl").cast("bigint").alias("community"),
                F.col("community_size").cast("bigint").alias("community_size"),
            )
            .localCheckpoint()
        )


def sql_label_propagation(
    edges_sql: str, src_col: str, dst_col: str, n_rounds: int = 5
) -> str:
    """DuckDB twin of :func:`label_propagation`: the fixed trajectory
    unrolled ``n_rounds`` times, each round MATERIALIZED; the argmax is
    the same (count DESC, label ASC) rule via ROW_NUMBER."""
    parts = [
        f"""
sym AS MATERIALIZED (
  SELECT DISTINCT least({src_col}, {dst_col}) AS a,
                  greatest({src_col}, {dst_col}) AS b
  FROM ({edges_sql}) WHERE {src_col} <> {dst_col}
),
e AS MATERIALIZED (
  SELECT a AS src, b AS dst FROM sym
  UNION ALL
  SELECT b AS src, a AS dst FROM sym
),
l0 AS MATERIALIZED (
  SELECT DISTINCT src AS node, CAST(src AS BIGINT) AS lbl FROM e
)"""
    ]
    for t in range(1, n_rounds + 1):
        parts.append(
            f"""
c{t} AS (
  SELECT e.dst AS node, l.lbl, COUNT(*) AS c
  FROM e JOIN l{t - 1} l ON l.node = e.src
  GROUP BY 1, 2
),
p{t} AS (
  SELECT node, lbl AS new_lbl FROM (
    SELECT node, lbl,
           ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, lbl ASC) AS rn
    FROM c{t}
  ) WHERE rn = 1
),
l{t} AS MATERIALIZED (
  SELECT l.node, COALESCE(p.new_lbl, l.lbl) AS lbl
  FROM l{t - 1} l LEFT JOIN p{t} p ON p.node = l.node
)"""
        )
    return (
        "WITH "
        + ",".join(parts)
        + f"""
SELECT node, CAST(lbl AS BIGINT) AS community,
       CAST(COUNT(*) OVER (PARTITION BY lbl) AS BIGINT) AS community_size
FROM l{n_rounds}
"""
    )


def modularity(
    edges: DataFrame,
    labels: DataFrame,
    src_col: str,
    dst_col: str,
    node_col: str = "node",
    label_col: str = "community",
) -> DataFrame:
    """Exact Newman modularity of a community assignment, per community —
    the evaluation side of :func:`label_propagation` (did LPA actually
    find dense parts?) and the standard quality gate before community
    buckets feed downstream dedup/curation.

    For each community c: ``contribution_c = (4·m·m_c − D_c²) / (4·m²)``
    where ``m`` = undirected edge count, ``m_c`` = edges internal to c,
    ``D_c`` = degree sum of c's members; ``Q = Σ_c contribution_c``.
    The numerator stays an EXACT integer (DECIMAL(38,0) / HUGEINT) and
    the division happens ONCE on two exactly-derived doubles — the same
    IEEE conversion + single divide in both engines, so no rounding is
    needed (the q155 numerator discipline applied to a quotient).

    Scale shape: one canonicalize+distinct of the edge list, one degree
    aggregate, two label equi-joins keyed on the edge endpoints (the
    inverted-index multiplicity — never a cross product), one collected
    edge-count scalar (exact integer, inlined as a literal into the
    contribution arithmetic — the identical value the previous 1-row
    agg-frame cross join carried), and per-community aggregates.  Labels for nodes
    absent from ``labels`` would drop edges silently, so the operator
    inner-joins and the caller owns completeness (LPA labels every
    endpoint by construction).

    The label table takes the :func:`_node_broadcast` join hint into
    the degree join and both endpoint joins; the edge count that gates
    it is the ``m`` the arithmetic needs anyway, and the node count is
    one cheap job over the caller's (usually checkpointed) label frame.

    Output: ``community``, ``n_members``, ``internal_edges``,
    ``degree_sum`` (bigints), ``contribution`` (double).  The canonical
    edge list is localCheckpoint'd (it feeds the count, the degree
    aggregate AND the two label joins — lazy it would recompute the
    caller's edge derivation per subtree) and the result checkpoints
    with ownership-scoped release, the iterative-family contract: one
    pinned frame per call, the returned one.

    Overflow bound (r08 ADVICE item 4): the exact numerators live in
    Spark DECIMAL(38,0), where multiplication overflow under the
    default non-ANSI mode yields NULL silently while the DuckDB twin's
    HUGEINT (128-bit) keeps going.  The widest product is ``4·m²``
    (``D_c ≤ 2m`` and ``m_c ≤ m`` keep every other term under it), so
    the contract holds for ``m < 5·10^18`` undirected edges — beyond
    any realizable corpus (100 TB of 8-byte edge pairs is ~6·10^12).
    Past that bound the engines diverge (Spark NULL contribution vs
    DuckDB exact) rather than fail loudly; enable ANSI mode
    (``spark.sql.ansi.enabled``) to turn the overflow into an error.
    """
    dec = "decimal(38,0)"
    with owned(edges.sparkSession) as pins:
        e = pins.pin(_undirected_edges(edges, src_col, dst_col))
        lab = labels.select(
            F.col(node_col).alias("node"), F.col(label_col).alias("community")
        )
        # exact integer, inlined as a literal into the arithmetic below
        m_val = e.count()
        bc = _node_broadcast(m_val, lab.count)
        deg = _degrees(e)
        dc = (
            bc(lab).join(deg, "node")
            .groupBy("community")
            .agg(
                F.count(F.lit(1)).alias("n_members"),
                F.sum(F.col("d").cast(dec)).alias("degree_sum"),
            )
        )
        mc = (
            e.join(bc(lab.select(F.col("node").alias("u"), F.col("community").alias("ca"))), "u")
            .join(bc(lab.select(F.col("node").alias("v"), F.col("community").alias("cb"))), "v")
            .where(F.col("ca") == F.col("cb"))
            .groupBy(F.col("ca").alias("community"))
            .agg(F.count(F.lit(1)).cast(dec).alias("internal_edges"))
        )
        m = F.lit(m_val).cast(dec)
        num = (
            F.lit(4).cast(dec) * m * F.coalesce(F.col("internal_edges"), F.lit(0).cast(dec))
            - F.col("degree_sum") * F.col("degree_sum")
        )
        den = F.lit(4).cast(dec) * m * m
        return (
            dc.join(mc, "community", "left")
            .select(
                "community",
                F.col("n_members").cast("bigint").alias("n_members"),
                F.coalesce(F.col("internal_edges"), F.lit(0))
                .cast("bigint")
                .alias("internal_edges"),
                F.col("degree_sum").cast("bigint").alias("degree_sum"),
                (num.cast("double") / den.cast("double")).alias("contribution"),
            )
            .localCheckpoint()
        )


def sql_modularity(
    edges_sql: str,
    labels_sql: str,
    src_col: str,
    dst_col: str,
    node_col: str = "node",
    label_col: str = "community",
) -> str:
    """DuckDB twin of :func:`modularity`; ``labels_sql`` is any query
    yielding (node, community) — e.g. :func:`sql_label_propagation`
    wrapped as a subquery."""
    # CTE names are mq_-prefixed: labels_sql is typically the unrolled
    # LPA trajectory, whose own CTEs (e, sym, l0…) would otherwise
    # collide with these at the top level (DuckDB flattens the scopes —
    # "Duplicate alias" binder error, hit on the first q189 run)
    return f"""
WITH mq_e AS MATERIALIZED (
  SELECT DISTINCT least({src_col}, {dst_col}) AS u,
                  greatest({src_col}, {dst_col}) AS v
  FROM ({edges_sql}) WHERE {src_col} <> {dst_col}
),
mq_lab AS MATERIALIZED (
  SELECT {node_col} AS node, {label_col} AS community FROM ({labels_sql})
),
mq_m AS (SELECT CAST(COUNT(*) AS HUGEINT) AS m FROM mq_e),
mq_deg AS (
  SELECT node, COUNT(*) AS d FROM (
    SELECT u AS node FROM mq_e UNION ALL SELECT v FROM mq_e
  ) GROUP BY node
),
mq_dc AS (
  SELECT community, COUNT(*) AS n_members,
         SUM(CAST(d AS HUGEINT)) AS degree_sum
  FROM mq_lab JOIN mq_deg USING (node) GROUP BY 1
),
mq_mc AS (
  SELECT la.community, CAST(COUNT(*) AS HUGEINT) AS internal_edges
  FROM mq_e
  JOIN mq_lab la ON la.node = mq_e.u
  JOIN mq_lab lb ON lb.node = mq_e.v
  WHERE la.community = lb.community
  GROUP BY 1
)
SELECT mq_dc.community,
       CAST(mq_dc.n_members AS BIGINT) AS n_members,
       CAST(COALESCE(mq_mc.internal_edges, 0) AS BIGINT) AS internal_edges,
       CAST(mq_dc.degree_sum AS BIGINT) AS degree_sum,
       CAST(4 * mq_m.m * COALESCE(mq_mc.internal_edges, 0)
            - mq_dc.degree_sum * mq_dc.degree_sum AS DOUBLE)
         / CAST(4 * mq_m.m * mq_m.m AS DOUBLE) AS contribution
FROM mq_dc LEFT JOIN mq_mc USING (community) CROSS JOIN mq_m
"""
