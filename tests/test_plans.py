"""Physical-plan assertions: the scale-critical plan properties the engine
relies on must survive refactors — filter pushdown into the parquet scan,
broadcast joins for dimension/query sides, equi-join (not cross-product)
candidate generation, top-k without a global sort.

These are the properties that decide whether a plan survives a 100×
scale-up; asserting them here means a regression shows up as a test
failure, not as a 10× slowdown at sf10.
"""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from spark_hadoop_automation_in_cloud_spark import queries as q


def explain_str(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def explain_simple(df) -> str:
    """Simple mode keeps node arguments inline (e.g. 'Exchange
    hashpartitioning(...)'), which node-count assertions need."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()
    return buf.getvalue()


def test_q01_filter_pushdown_and_column_pruning(spark, sf_dir):
    plan = explain_str(q.q01_pricing_summary(spark, sf_dir))
    # the shipdate predicate must reach the parquet scan
    assert "PushedFilters" in plan
    assert "l_shipdate" in plan.split("PushedFilters", 1)[1].split("\n", 1)[0]
    # untouched wide columns must not be read
    assert "l_comment" not in plan


def test_q05_nearest_city_is_one_projection(spark, sf_dir):
    """1-NN over the dim inlined as literals is a projection of the scan:
    the executed plan carries no join, no aggregate, and no exchange but
    the round-robin fan-out of the single-file scan (``read_table``'s
    ``parallelize``)."""
    df = q.q05_nearest_city(spark, sf_dir)
    df.collect()
    plan = explain_simple(df)
    assert "isFinalPlan=true" in plan
    assert "Join" not in plan
    assert "Aggregate" not in plan
    exchanges = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert all("RoundRobinPartitioning" in ln for ln in exchanges), exchanges


def test_q02_star_join_broadcasts_small_dims(spark, sf_dir):
    plan = explain_str(q.q02_regional_revenue(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2  # nation, region
    assert "CartesianProduct" not in plan


def test_q15_topk_avoids_global_sort(spark, sf_dir):
    plan = explain_str(q.q15_top_parts_global(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_q21_lsh_pairing_is_equi_join(spark, sf_dir):
    """The LSH candidate join must be a hash/merge equi-join on the band
    key — a nested-loop or cartesian plan would be quadratic at scale."""
    plan = explain_str(q.q21_minhash_lsh_pairs(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q24_cosine_broadcasts_query_side(spark, sf_dir):
    """Brute-force top-k must broadcast the (small) query set and keep the
    corpus un-shuffled: BNLJ is the intended plan here."""
    plan = explain_str(q.q24_cosine_topk(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan or "Exchange hashpartitioning" not in plan.split(
        "BroadcastNestedLoopJoin"
    )[0]


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    """Co-bucketed tables joined on the bucket key must not shuffle: the
    write-once bucket layout replaces the per-query exchange."""
    from spark_hadoop_automation_in_cloud_spark.io import read_table
    from spark_hadoop_automation_in_cloud_spark.operators import bucketing

    o = read_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    bucketing.write_bucketed(o, "b_orders", str(tmp_path / "b_orders"), "o_custkey", 8)
    bucketing.write_bucketed(c, "b_customer", str(tmp_path / "b_customer"), "c_custkey", 8)
    try:
        bo, bc = spark.table("b_orders"), spark.table("b_customer")
        # force the sort-merge path (small test tables auto-broadcast
        # otherwise) — at scale this IS the plan bucketing exists for
        joined = bo.hint("merge").join(bc, bo.o_custkey == bc.c_custkey)
        plan = explain_str(joined)
        assert "Exchange hashpartitioning" not in plan, plan
        assert "SortMergeJoin" in plan, plan
        # and it actually computes the right thing
        plain = (
            read_table(spark, sf_dir, "orders")
            .join(
                read_table(spark, sf_dir, "customer"),
                F.col("o_custkey") == F.col("c_custkey"),
            )
            .count()
        )
        assert joined.count() == plain
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_asof_join_single_shuffle(spark):
    """The union-and-window as-of join operator must shuffle exactly once
    (on the join key) — a second hash exchange would mean the union or the
    carry-forward window broke the single-sort design.  (q35 itself shows
    one more exchange: its clicks-side dedup pre-aggregation, an input
    concern, not the operator's.)"""
    import datetime as dt

    from spark_hadoop_automation_in_cloud_spark.operators.asof import asof_join

    T = dt.datetime
    left = spark.createDataFrame(
        [(1, 10, T(2024, 1, 1))], ["k", "lid", "ts"]
    )
    right = spark.createDataFrame(
        [(1, T(2024, 1, 1), 5.0)], ["k", "ts", "v"]
    )
    plan = explain_simple(asof_join(left, right, ["k"], "ts", "ts", ["v"]))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan  # no join operator at all — union + window


def test_q43_session_window_plan(spark, sf_dir):
    """Gap-based session windows: one hash exchange on the session keys;
    no join (the merge is internal to the aggregation)."""
    plan = explain_simple(q.q43_session_windows(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan


def test_q51_profile_single_scan(spark, sf_dir):
    """N-column profiling must read the table once — one scan node, no
    join/union of per-column subqueries."""
    plan = explain_simple(q.q51_data_quality_profile(spark, sf_dir))
    assert plan.count("Scan parquet") == 1, plan
    assert "Union" not in plan


def test_cached_scope_reads_inmemoryrelation(spark, sf_dir):
    """A frame consumed twice after an owned() scope persisted it must be
    served from the cache (InMemoryRelation in both consumers' plans), and
    the scope must release it on exit (reference persisted and never
    unpersisted)."""
    from spark_hadoop_automation_in_cloud_spark.io import read_table
    from spark_hadoop_automation_in_cloud_spark.session import owned

    base = (
        read_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    with owned(spark) as scope:
        hot = scope.persist(base)
        hot.count()  # materialize the cache
        consumer_a = hot.where(F.col("n") > 0)
        consumer_b = hot.select(F.sum("n").alias("total"))
        assert "InMemoryRelation" in explain_str(consumer_a)
        assert "InMemoryRelation" in explain_str(consumer_b)
        assert hot.storageLevel.useMemory
    assert not base.storageLevel.useMemory  # released on scope exit


def test_q60_decontamination_is_equi_join(spark, sf_dir):
    plan = explain_str(q.q60_decontamination(spark, sf_dir))
    # shingle-index joins only — never an all-pairs stage
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q62_quantize_is_pure_projection(spark, sf_dir):
    plan = explain_simple(q.q62_embedding_quantize(spark, sf_dir))
    # no KEYED shuffle for a per-row transform (the round-robin Exchange is
    # read_table(parallelize=True) spreading the unsplittable test file)
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan


def test_q63_tfidf_broadcasts_vocabulary(spark, sf_dir):
    plan = explain_str(q.q63_tfidf_top_terms(spark, sf_dir))
    # the df table joins back onto tf via broadcast, not a sort-merge join
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q64_chunking_is_pure_generator(spark, sf_dir):
    plan = explain_simple(q.q64_document_chunking(spark, sf_dir))
    assert "hashpartitioning" not in plan  # generator adds no keyed shuffle
    assert "Generate" in plan  # the explode


def test_q66_moments_single_aggregation(spark, sf_dir):
    plan = explain_simple(q.q66_grouped_moments(spark, sf_dir))
    # one partial+final pair on the group key: exactly one shuffle
    assert plan.count("Exchange") == 1


def test_q61_pii_scrub_no_shuffle(spark, sf_dir):
    plan = explain_simple(q.q61_pii_scrub(spark, sf_dir))
    assert "Exchange" not in plan


def test_q72_funnel_single_keyed_shuffle(spark, sf_dir):
    plan = explain_simple(q.q72_conversion_funnel(spark, sf_dir))
    # three chained windows + per-user agg all reuse ONE user_id exchange;
    # the only other exchange is the final SinglePartition gather
    keyed = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert len(keyed) == 1, keyed


def test_q84_entropy_shuffles_counts_not_events(spark, sf_dir):
    plan = explain_simple(q.q84_event_entropy(spark, sf_dir))
    # the raw events must be map-side combined BEFORE any exchange: both
    # keyed shuffles then carry only (user, type) count rows (<= |domain|
    # per user), never raw events — that's what holds at 100 TB
    first_exchange = plan.split("Exchange hashpartitioning", 1)[1]
    assert "partial_count" in first_exchange  # partial agg below the shuffle
    # and the window total + final agg reuse ONE user_id exchange
    keyed = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert len(keyed) == 2, keyed


def test_q85_basket_pairs_no_cartesian(spark, sf_dir):
    plan = explain_str(q.q85_basket_pairs(spark, sf_dir))
    # pair generation must be the l_orderkey equi-join, never a cross product
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # global top-50 must be a heap, not a full sort
    assert "TakeOrderedAndProject" in plan


def test_q87_salted_join_widens_key(spark, sf_dir):
    plan = explain_simple(q.q87_salted_priority_revenue(spark, sf_dir))
    # the join key must include the salt column — that's the whole point
    assert "__salt" in plan
    assert "CartesianProduct" not in plan


def test_q91_mixture_sampling_no_shuffle(spark, sf_dir):
    plan = explain_simple(q.q91_mixture_sampling(spark, sf_dir))
    # row-local hash-gate filter: no keyed exchange anywhere (the only
    # exchange allowed is the parallelize round-robin after the scan)
    assert "hashpartitioning" not in plan


def test_q92_packing_no_global_sort(spark, sf_dir):
    plan = explain_simple(q.q92_sequence_packing(spark, sf_dir))
    # the prefix sum must be partitioned by source — a SinglePartition
    # window over all documents would be the 100 TB scale-killer
    assert "SinglePartition" not in plan
    assert "Generate" in plan  # the bin-span explode


def test_events_ts_normalization_keeps_pushdown(spark, sf_dir):
    """The encoding-normalizing cast on events.ts (io._normalize_ts) must
    not block predicate pushdown or column pruning for the OTHER columns —
    a filter on event_type still reaches the parquet scan, and untouched
    wide columns (props) are pruned when unreferenced."""
    from spark_hadoop_automation_in_cloud_spark.io import read_table

    df = (
        read_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts")
    )
    plan = explain_str(df)
    assert "PushedFilters" in plan
    assert "event_type" in plan.split("PushedFilters", 1)[1].split("\n", 1)[0]
    assert "props" not in plan.split("ReadSchema", 1)[1].split("\n", 1)[0]


def test_salted_outer_join_no_cartesian_and_skew_safe_distinct(spark):
    """The right/full-outer salted path must stay all-equi-join (no
    cartesian anywhere) and its matchedness distinct must carry a partial
    aggregate below the exchange — the property that makes it safe on a
    hot key."""
    from spark_hadoop_automation_in_cloud_spark.operators.skew import salted_join

    fact = spark.range(1000).select(
        (F.col("id") % 5).cast("int").alias("k"), F.col("id").alias("v")
    )
    dim = spark.range(20).select(
        F.col("id").cast("int").alias("k"), (F.col("id") * 2).alias("label")
    )
    plan = explain_simple(
        salted_join(fact, dim, ["k"], fact_salt=F.col("v"), n_salts=4, how="full")
    )
    assert "CartesianProduct" not in plan
    assert "__salt" in plan  # the fact-preserving part is actually salted
    # the distinct runs as a two-phase hash aggregate (map-side collapse
    # below the exchange, final above) — >=2 HashAggregate nodes
    assert plan.lower().count("hashaggregate") >= 2


def test_global_ntile_no_single_partition_window(spark):
    """global_ntile must never serialize through one task: no
    SinglePartition exchange, and the window runs partitioned."""
    from spark_hadoop_automation_in_cloud_spark.operators.ranks import global_ntile

    df = spark.range(5000).select("id", (F.col("id") % 13).alias("v"))
    plan = explain_simple(
        global_ntile(df, [F.col("v").asc(), F.col("id").asc()], 4, num_partitions=8)
    )
    assert "SinglePartition" not in plan


def test_q101_lm_scoring_no_cartesian_or_driver_vocab(spark, sf_dir):
    """The LM scorer must stay a token equi-join + aggregates: no
    cartesian blowup (the stats row rides a 1-row broadcast), and the
    vocabulary must never be collected driver-side."""
    plan = explain_simple(q.q101_unigram_lm_quality(spark, sf_dir))
    assert "CartesianProduct" not in plan
    # the only nested-loop join allowed is the broadcast of the 1-row stats
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    # vocabulary join is a real join, aggregates two-phase
    assert plan.lower().count("hashaggregate") >= 2


def test_bm25_plan_has_no_shuffle_join(spark, sf_dir):
    """Document length is row-local (size(split) carried through the tf
    aggregate key — r06 VERDICT item 5): the BM25 plan must contain NO
    shuffle join at all — the query-term, df, and corpus-stats sides are
    all broadcast, so the corpus never shuffles except for the tf/top-k
    aggregates themselves."""
    plan = explain_simple(q.q133_bm25_retrieval(spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan


def test_headline_names_are_registered():
    """Every bench.HEADLINE name must be a registered spec: bench.py
    silently FILTERS unknown names (``[n for n in HEADLINE if n in
    specs]``), so a typo would drop a query from the benchmark without
    any error — this assertion is what turns that into a failure.  The
    headline plans themselves are audited by the registry-wide sweep
    below (HEADLINE ⊆ registry, identical assertions), so no separate
    per-headline explain pass is needed."""
    import bench

    names = {s.name for s in q.specs()}
    missing = [n for n in bench.HEADLINE if n not in names]
    assert not missing, missing


def test_bench_line_fits_driver_tail():
    """The driver records only the last 2000 chars of bench stdout and
    parses the payload from that tail — BENCH_r06 came back parsed:null
    when the inline runs block pushed the line to ~3.5 KB.  The compact
    line for the CURRENT headline (worst-case 3-digit-seconds values)
    must fit at full 3dp precision WITH the machine_factor block — if
    this fails, a headline addition just silently broke the next round's
    BENCH_r{N}.json."""
    import json

    import bench

    worst = {n: 999.999 for n in bench.HEADLINE}
    mf = {k: 99.999 for k in bench._MACHINE_KERNELS}
    line = bench.compact_line(9999.999, worst, mf, 0.1)
    assert len(line) <= bench.MAX_LINE
    payload = json.loads(line)
    assert payload["machine_factor"] == mf  # full-precision level fit
    assert payload["queries"] == worst


#: queries whose BroadcastNestedLoopJoin IS the intended plan, mapped to
#: the exact number of BNLJ nodes that plan carries: a bounded side
#: (1-row global aggregate, k centroids, a calendar/dim table, the query
#: set of a top-k search) broadcast-crossed into the fact scan so the
#: fact side never shuffles.  The COUNT is asserted too — an exempted
#: query that grows a second, unintended nested loop (a join losing its
#: equi-key in a refactor) fails instead of hiding behind its name.
#: Anything not listed here that grows any BNLJ is a regression.
BNLJ_INTENDED = {
    "q16_friend_recommendations": 1,  # broadcast city coords enrichment
    "q24_cosine_topk": 1,          # broadcast query side over the corpus
    "q96_kmeans_clusters": 1,      # 1-row/centroid broadcast joins
    "q63_tfidf_top_terms": 1,      # 1-row n_docs broadcast cross join
    "q30_ann_ivf_topk": 2,         # broadcast centroids: assign + probe
    "q75_weighted_sample": 1,      # 1-row total-weight broadcast
    "q77_value_histogram": 1,      # 1-row global min/max broadcast
    "q94_benford_first_digit": 1,  # 1-row total broadcast
    "q101_unigram_lm_quality": 1,  # 1-row corpus-stats broadcast
    "q141_bigram_lm_quality": 1,   # 1-row v_size stats broadcast (q101's shape)
    "q114_hard_negatives": 1,      # broadcast query side, corpus unshuffled
    "q120_quality_threshold_for_budget": 1,  # 1-row budget cut broadcast
    "q121_event_mix_drift": 2,     # 1-row totals broadcast, one per side
    "q122_projected_rerank_topk": 1,  # broadcast query side, 16-dim stage
    "q133_bm25_retrieval": 1,      # 1-row corpus-stats (N, total_dl) broadcast
    # broadcast PRF-seed query side over the unshuffled corpus; the
    # lexical side's stats BNLJ runs inside the bounded list collect,
    # not in the returned plan
    "q134_hybrid_rrf_retrieval": 1,
    "q137_vocab_coverage": 1,      # 1-row total-token-count broadcast
    # q134's dense stage reused under the rerank map (the inference seam
    # adds no join of its own)
    "q144_model_rerank": 1,
    "q147_join_size_estimate": 1,  # 1-row global-sketch broadcast
    "q157_pq_adc_topk": 1,         # broadcast per-query LUT over the code scan
    "q158_filtered_cosine_topk": 1,  # broadcast query side over filtered corpus
    "q159_ivf_pq_search": 2,       # broadcast centroids: assign + probe (q30's shape)
    "q149_ann_recall_eval": 1,     # exact side = q24's broadcast query scan
    "q151_freshness_report": 1,    # 1-row max-ts anchor broadcast
    "q164_pmi_collocations": 1,    # 1-row bigram-total broadcast
    "q167_k_anonymity_audit": 1,   # 1-row row-total broadcast
    "q172_langid_kappa": 1,        # 1-row (tot, agree) x pe_num cross
    "q176_revenue_share_parts": 1,  # 1-row revenue-total broadcast
    "q177_idle_rich_customers": 1,  # 1-row (sum_cents, n) broadcast
    "q178_correlated_sample_audit": 3,  # 3x 1-row kept x total count cross
    "q182_temperature_mixture": 1,  # 1-row sqrt-grid total broadcast
    "q183_rolling_weekly_actives": 1,  # 1-row calendar-bounds broadcast
    "q184_jm_interpolated_lm": 1,  # 1-row (T, V) stats broadcast (q141's shape)
    "q190_top_revenue_supplier": 1,  # 1-row MAX-revenue broadcast (Q15 argmax)
    "q191_funnel_conversion": 1,   # 1-row step-1 denominator broadcast
}

#: queries whose SinglePartition window sort is fed by a CALENDAR-bounded
#: aggregate (per-day / per-month rollups: tens to low thousands of rows
#: regardless of corpus size) — the aggregate-first discipline documented
#: on each query.  A SP window over anything data-proportional stays a
#: failure.
SP_WINDOW_BOUNDED = {
    "q79_growth_accounting",   # month-level MAU frame
    "q86_price_skyline",       # day-level max staircase
    "q98_mom_revenue_growth",  # month-level revenue lag
    "q171_curriculum_interleave",  # position window on the top-50 head
    # corpus-total window over the already-aggregated |sources| frame —
    # chosen precisely so the corpus total does NOT become a second
    # aggregation branch re-deriving the corpus scan
    "q204_source_kl_divergence",
}


def test_every_registered_query_plan_is_scale_safe(spark, sf_dir):
    """The headline audit, widened to the WHOLE registry: every one of the
    125 registered queries' executed plans must be free of cartesian
    products, nested-loop broadcasts outside the intended list, and
    SinglePartition window sorts outside the calendar-bounded list.  This
    is the 100 TB criterion applied to every query a user can reach, not
    just the benched ones; a new query that ships a quadratic or
    serializing plan fails here before it ever reaches a driver round."""
    offenders = []
    for s in q.specs():
        plan = explain_simple(s.fn(spark, sf_dir))
        if "CartesianProduct" in plan:
            offenders.append((s.name, "CartesianProduct"))
        n_bnlj = plan.count("BroadcastNestedLoopJoin")
        if n_bnlj > BNLJ_INTENDED.get(s.name, 0):
            offenders.append((s.name, f"BNLJ x{n_bnlj}"))
        if single_partition_window(plan) and s.name not in SP_WINDOW_BOUNDED:
            offenders.append((s.name, "SinglePartition window"))
    assert not offenders, offenders


def single_partition_window(plan: str) -> bool:
    # a 1-row global aggregate legitimately finishes on SinglePartition;
    # the scale-killer is a WINDOW sort fed by one.  In simple-mode
    # output the Window ancestor prints above its exchange: walk up to
    # 12 lines but stop at any other Exchange (a sibling-branch
    # boundary), so a Window elsewhere in the tree can't false-positive
    # and deep Sort/Project chains can't hide a real hit
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" not in line:
            continue
        for prev in reversed(lines[max(0, i - 12) : i]):
            if "Exchange" in prev:  # different subtree above this point
                break
            if "Window" in prev:
                return True
    return False


def test_q108_incremental_dedup_single_batch_shuffle(spark, sf_dir):
    """The batch side must shuffle ONCE on content_hash: the within-batch
    groupBy's partitioning is reused by the left-anti probe, so the plan
    carries exactly two shuffle exchanges (batch hash + index hash) and
    the anti join is an equi-join, never a nested loop."""
    plan = explain_simple(q.q108_incremental_dedup(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2


def test_q110_training_shards_no_global_sort(spark, sf_dir):
    """The shard layout's only shuffle keys on shard; the in-shard
    row_number must never serialize through a SinglePartition window."""
    plan = explain_simple(q.q110_training_shards(spark, sf_dir))
    assert "SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_q113_incremental_neardup_equi_joins_only(spark, sf_dir):
    """Both near-dup screens must be band-key equi-joins: no cartesian,
    no nested-loop broadcast anywhere in the plan."""
    plan = explain_simple(q.q113_incremental_minhash_dedup(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q118_span_coverage_equi_joins_only(spark, sf_dir):
    """Span coverage is inverted-index shaped: the df pass and the
    repeated-flag join key on the gram hash, the coverage window keys on
    doc_id — equi-joins and hash-partitioned windows only, no cartesian,
    no nested-loop broadcast, no SinglePartition window."""
    plan = explain_simple(q.q118_repeated_span_coverage(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Exchange SinglePartition" not in plan


def test_q187_corpus_joins_stay_sort_merge(spark, sf_dir):
    """q187's removal-set attach join must NEVER broadcast: the build
    side (per-doc removal-position sets) is corpus-scale in the worst
    case but its static size estimate comes out tiny (post-aggregate),
    and the attempted broadcast of such a build side OOM'd the 100x
    pile-on run (AQE cannot undo a statically planned BHJ — the merge
    hint is the fix this test pins).  Since the r11 rewrite the keep
    filter + re-assembly run ROW-LOCALLY (filter/array_join over the
    token array), so the plan carries exactly ONE corpus-doc-keyed
    sort-merge join and no token-grain anti-join or collect_list
    re-assembly; the single remaining BHJ is the bounded repeated-gram
    dictionary, the q109/q118 family precedent."""
    from spark_hadoop_automation_in_cloud_spark.queries import (
        q187_exact_substring_dedup,
    )

    plan = (
        q187_exact_substring_dedup(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("SortMergeJoin") >= 1, plan[:2000]
    assert plan.count("BroadcastHashJoin") <= 1, plan[:2000]
    # the r10 token-grain shapes must not creep back: no (doc, pos)
    # anti-join, and no token re-assembly aggregate (the only
    # collect_list is the bounded per-doc removal-START list — start
    # positions are unique per doc, so no sort/struct re-assembly)
    assert "LeftAnti" not in plan, plan[:2000]
    assert "array_sort(collect_list" not in plan, plan[:2000]


def _executed_plan_descriptions(spark, fn) -> str:
    """Run ``fn`` and return the concatenated physical-plan descriptions
    of every SQL execution it triggered — the SQL status store works
    with the UI disabled, and unlike ``explain`` it sees the plans of
    INTERNAL actions (per-round checkpoints of the iterative operators),
    which is the only way to pin a round plan's join strategy from the
    outside."""
    store = spark._jsparkSession.sharedState().statusStore()
    before = {store.executionsList().apply(i).executionId()
              for i in range(store.executionsList().size())}
    fn()
    # the status store is fed asynchronously off the listener bus
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    lst = store.executionsList()
    return "\n".join(
        lst.apply(i).physicalPlanDescription()
        for i in range(lst.size())
        if lst.apply(i).executionId() not in before
    )


def test_graph_broadcast_arm_round_plans(spark, monkeypatch):
    """r10 VERDICT item 1→r11 item 2: no registered consumer exercises
    the edge-volume-gated broadcast dispatch at driver-checked scales,
    so pin the broadcast ARM itself: forcing the gate open
    (_BROADCAST_MIN_EDGE_ROWS=0) must plan the per-round node-state joins
    of LPA, k-core, modularity and connected_components as
    BroadcastHashJoin, and forcing it closed (_BROADCAST_NODES_MAX=0)
    must keep every round sort-merge.  A dropped ``bc()`` wrap in any
    operator's round turns the open-gate arm sort-merge and fails here."""
    from spark_hadoop_automation_in_cloud_spark.operators import components
    from spark_hadoop_automation_in_cloud_spark.operators.components import (
        connected_components,
        k_core,
        label_propagation,
        modularity,
    )

    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    edges = k4 + [(4, 10), (10, 11), (11, 12), (5, 6), (5, 7), (6, 7), (4, 5)]
    df = spark.createDataFrame(edges, "u bigint, v bigint")

    def run_all(gate: str):
        with monkeypatch.context() as m:
            m.setattr(components, gate, 0)
            lab = label_propagation(df, "u", "v", n_rounds=3)
            k_core(df, "u", "v", k=3)
            modularity(df, lab, "u", "v")
            connected_components(df, "u", "v")

    # pin the STATIC dispatch: with AQE on, the runtime would convert the
    # tiny test graph's sort-merge rounds to broadcast on observed sizes,
    # masking a dropped bc() wrap — exactly the regression this test exists
    # to catch (at scale AQE would NOT convert, and the static choice is
    # what the 100 TB plan runs)
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        open_plans = _executed_plan_descriptions(
            spark, lambda: run_all("_BROADCAST_MIN_EDGE_ROWS")
        )
        closed_plans = _executed_plan_descriptions(
            spark, lambda: run_all("_BROADCAST_NODES_MAX")
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    # open gate: every operator's rounds broadcast the node-state side.
    # 3 LPA rounds + >=1 k-core peel round (2 semi-joins) + modularity's
    # 3 label joins + >=1 CC round -> well over 4 BHJs; assert a sane floor.
    assert open_plans.count("BroadcastHashJoin") >= 6, open_plans[:3000]
    # closed gate: the rounds stay sort-merge end to end (checkpointed
    # LogicalRDD inputs have no stats, so nothing else can auto-broadcast)
    assert "BroadcastHashJoin" not in closed_plans, closed_plans[:3000]
    assert closed_plans.count("SortMergeJoin") >= 6, closed_plans[:3000]


def test_triangle_count_normalizes_edges_once(spark):
    """One ``triangle_count`` call derives its normalized edge list once:
    the ``least``/``greatest`` projection appears in exactly one executed
    plan, the edge pin's.  When the operator was lazy, the degree
    aggregate and both degree joins each re-derived it (their inferred
    ``IS NOT NULL`` filters differ, so AQE never reused the exchange):
    the same call's executed plans held that projection 15 times, all
    in the one plan of the collect (AQE's current and initial plans)."""
    import re

    from spark_hadoop_automation_in_cloud_spark.operators.components import (
        triangle_count,
    )

    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    edges = spark.createDataFrame(
        k4 + [(4, 10), (10, 11), (4, 11), (11, 4), (7, 7)], "p1 bigint, p2 bigint"
    )
    got = {}
    plans = _executed_plan_descriptions(
        spark,
        lambda: got.update(
            (r["p1"], r["tri_count"])
            for r in triangle_count(edges, "p1", "p2").collect()
        ),
    )
    assert got == {1: 3, 2: 3, 3: 3, 4: 4, 10: 1, 11: 1}
    norm = re.findall(r"least\(p1#\d+L, p2#\d+L\) AS u#", plans)
    assert len(norm) == 1, plans[:3000]


def test_mmr_rerank_plan_does_not_grow_with_k_select(spark):
    """``mmr_rerank``'s greedy is one grouped-map pass keyed by query, so
    its executed plans hold the same joins and exchanges at any
    ``k_select``.  When each greedy step was an unrolled round (a join
    to the growing selected union, a left-anti and a window argmax), the
    plan at step t held about 3^(t-1) copies of step 1."""
    import re

    from spark_hadoop_automation_in_cloud_spark.operators.similarity import mmr_rerank

    corpus = spark.createDataFrame(
        [(i, [float(i % 3), float(i % 5) - 2.0, 1.0]) for i in range(8)],
        "vec_id bigint, embedding array<float>",
    )
    queries = corpus.where(F.col("vec_id") < 2)
    shape = {}
    # AQE off: one plan per execution (no final/initial pair to count twice)
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for k_select in (2, 4):
            plans = _executed_plan_descriptions(
                spark, lambda: mmr_rerank(corpus, queries, 5, k_select)
            )
            # no window over the selected state (a per-step argmax)
            assert not re.search(r"windowspecdefinition\([^\n]*__(sg|score_num)", plans), plans
            shape[k_select] = (
                len(re.findall(r"\b\w*Join\b", plans)),
                len(re.findall(r"\bExchange\b", plans)),
                len(set(re.findall(r"FlatMapCoGroupsInPandas \((\d+)\)", plans))),
            )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert shape[2] == shape[4], shape
    assert shape[2][2] == 1, shape
