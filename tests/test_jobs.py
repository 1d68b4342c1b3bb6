"""CLI-job integration tests: the operational loop a reference user runs —
incremental daily snapshots with window semantics — must hold end-to-end
through the argv contract."""

from __future__ import annotations

import importlib.util
import os
import sys

import pytest
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load(job: str):
    spec = importlib.util.spec_from_file_location(job, f"{REPO}/jobs/{job}.py")
    mod = importlib.util.module_from_spec(spec)
    sys.modules[job] = mod
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.parametrize(
    "job, query, dm_name",
    [
        ("collect_demographics_job", "q17_user_demographics", "users-demographics-dm"),
        ("collect_zone_activity_job", "q18_zone_activity", "zone-activity-dm"),
        (
            "collect_recommendations_job",
            "q16_friend_recommendations",
            "friend-recommendations-dm",
        ),
    ],
)
def test_datamart_job_writes_registered_query(spark, sf_dir, tmp_path, job, query, dm_name):
    """Deployed = registered: over a window that covers every event, a
    datamart job writes exactly its registry query's columns and rows."""
    from spark_hadoop_automation_in_cloud_spark import queries

    tgt = str(tmp_path / "dm")
    assert _load(job).main(["2024-01-30", "30", sf_dir, tgt]) == 0
    out = spark.read.parquet(f"{tgt}/{dm_name}/date=2024-01-30")
    want = getattr(queries, query)(spark, sf_dir)
    assert out.columns == want.columns
    assert out.exceptAll(want).count() == 0
    assert want.exceptAll(out).count() == 0


def test_demographics_job_incremental_snapshots(spark, sf_dir, tmp_path):
    """Two runs for different dates → two date= snapshot dirs, and a
    narrower window must see at most the users of the wider one."""
    job = _load("collect_demographics_job")
    tgt = str(tmp_path / "dm")
    assert job.main(["2024-01-30", "30", sf_dir, tgt]) == 0
    assert job.main(["2024-01-15", "7", sf_dir, tgt]) == 0

    wide = spark.read.parquet(f"{tgt}/users-demographics-dm/date=2024-01-30")
    narrow = spark.read.parquet(f"{tgt}/users-demographics-dm/date=2024-01-15")
    assert wide.count() > 0 and narrow.count() > 0
    # window semantics: every user active in the 7-day window is also in
    # the 30-day window (7d ⊂ 30d for this dataset's dates)
    only_narrow = narrow.select("user_id").exceptAll(wide.select("user_id"))
    assert only_narrow.count() == 0
    # schema contract
    assert {"user_id", "act_city", "home_city", "travel_count", "travel_list", "local_ts"} <= set(
        wide.columns
    )


def test_zone_activity_job_window_filtering(spark, sf_dir, tmp_path):
    """The depth window must actually bound the weeks that appear."""
    job = _load("collect_zone_activity_job")
    tgt = str(tmp_path / "dm")
    assert job.main(["2024-01-14", "7", sf_dir, tgt]) == 0
    out = spark.read.parquet(f"{tgt}/zone-activity-dm/date=2024-01-14")
    weeks = [r["week"] for r in out.select("week").distinct().collect()]
    assert weeks, "empty rollup"
    import datetime as dt

    for w in weeks:
        assert w >= dt.datetime(2024, 1, 1)  # window start's week
        assert w <= dt.datetime(2024, 1, 14)


def test_job_runs_from_yaml_config(spark, sf_dir, tmp_path):
    """Config-file contract (reference src/config/config.py parity): a job
    resolves its window and paths from spark.jobs.<job_name> in config.yaml."""
    tgt = str(tmp_path / "dm")
    (tmp_path / "config.yaml").write_text(
        f"""
spark:
  application_name: test-app
  jobs:
    collect_zone_activity_job:
      date: 2024-01-14
      depth: 7
      src_path: {sf_dir}
      tgt_path: {tgt}
"""
    )
    job = _load("collect_zone_activity_job")
    assert job.main(["--config", str(tmp_path / "config.yaml")]) == 0
    out = spark.read.parquet(f"{tgt}/zone-activity-dm/date=2024-01-14")
    assert out.count() > 0


def test_config_loader_semantics(tmp_path):
    """find_config walks up; YAML bare dates normalize; missing job names
    fail with the available ones listed; session settings map through."""
    import pytest as pt

    from spark_hadoop_automation_in_cloud_spark.config import (
        ConfigError,
        find_config,
        job_args,
        load_config,
        session_config,
    )

    (tmp_path / "config.yaml").write_text(
        """
logging:
  level: {java: info}
spark:
  application_name: my-app
  jobs:
    demo: {date: 2024-01-05, depth: 3, src_path: /src, tgt_path: /tgt}
"""
    )
    nested = tmp_path / "a" / "b"
    nested.mkdir(parents=True)
    assert find_config(nested) == tmp_path / "config.yaml"

    cfg = load_config(find_config(nested))
    a = job_args(cfg, "demo")
    assert a.date == "2024-01-05" and a.depth == 3  # date came in as dt.date
    with pt.raises(ConfigError, match="demo"):
        job_args(cfg, "nope")
    sc = session_config(cfg)
    assert sc.app_name == "MY-APP" and sc.log_level == "INFO"


def test_incremental_upsert_job_cli_resumes_from_checkpoint(spark, sf_dir, tmp_path):
    """The streaming upsert CLI: files landing between runs are merged
    incrementally (checkpoint resume), and the final snapshot equals the
    batch last-writer-wins over everything that ever landed."""
    from spark_hadoop_automation_in_cloud_spark.functions.timeutils import epoch_us
    from spark_hadoop_automation_in_cloud_spark.io import read_table
    from spark_hadoop_automation_in_cloud_spark.streaming.incremental import (
        latest_per_key,
    )

    job = _load("incremental_upsert_job")
    assert job.main([]) == 2  # usage error, not a crash

    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", epoch_us("ts").alias("ts_us"), "value"
    )
    cut = ev.agg(F.expr("percentile(ts_us, 0.5)")).first()[0]
    src = tmp_path / "landing"
    tgt, ckpt = str(tmp_path / "snap"), str(tmp_path / "ckpt")
    read_table(spark, sf_dir, "events").where(
        epoch_us(F.col("ts")) <= cut
    ).coalesce(1).write.parquet(str(src / "batch=1"))

    assert job.main([str(src), tgt, ckpt]) == 0
    first = spark.read.parquet(tgt).count()
    assert first > 0

    read_table(spark, sf_dir, "events").where(
        epoch_us(F.col("ts")) > cut
    ).coalesce(1).write.parquet(str(src / "batch=2"))
    assert job.main([str(src), tgt, ckpt, "1"]) == 0

    got = spark.read.parquet(tgt)
    want = latest_per_key(ev, ["user_id", "event_type"], ["ts_us", "event_id"])
    assert got.count() == want.count()
    assert got.unionByName(want).distinct().count() == want.count()


def test_incremental_upsert_job_cli_duckdb_backend(spark, sf_dir, tmp_path):
    """--duckdb-table routes the CLI's merge through the DuckDB warehouse
    backend: the snapshot lives as a table in a .duckdb file, maintained
    by a real SQL upsert, and re-running after new files land merges
    incrementally off the same checkpoint."""
    import duckdb

    from spark_hadoop_automation_in_cloud_spark.functions.timeutils import epoch_us
    from spark_hadoop_automation_in_cloud_spark.io import read_table
    from spark_hadoop_automation_in_cloud_spark.streaming.incremental import (
        latest_per_key,
    )

    job = _load("incremental_upsert_job")
    assert job.main(["--duckdb-table=", "a", "b", "c"]) == 2  # empty name
    assert job.main(["--bogus-flag", "a", "b", "c"]) == 2

    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", epoch_us("ts").alias("ts_us"), "value"
    )
    cut = ev.agg(F.expr("percentile(ts_us, 0.5)")).first()[0]
    src = tmp_path / "landing"
    db, ckpt = str(tmp_path / "mart.duckdb"), str(tmp_path / "ckpt")
    read_table(spark, sf_dir, "events").where(
        epoch_us(F.col("ts")) <= cut
    ).coalesce(1).write.parquet(str(src / "batch=1"))
    assert job.main([str(src), db, ckpt, "--duckdb-table=snap"]) == 0
    read_table(spark, sf_dir, "events").where(
        epoch_us(F.col("ts")) > cut
    ).coalesce(1).write.parquet(str(src / "batch=2"))
    assert job.main([str(src), db, ckpt, "1", "--duckdb-table=snap"]) == 0

    want = {
        tuple(r) for r in latest_per_key(ev, ["user_id", "event_type"], ["ts_us", "event_id"])
        .select("user_id", "event_type", "ts_us", "event_id")
        .collect()
    }
    con = duckdb.connect(db)
    try:
        got = set(map(tuple, con.execute(
            'SELECT "user_id", "event_type", "ts_us", "event_id" FROM "snap"'
        ).fetchall()))
    finally:
        con.close()
    assert got == want


def test_incremental_dedup_job_cli_resumes_and_dedups_across_runs(spark, tmp_path):
    """Two CLI runs over a growing landing dir: the second run admits only
    content unseen by the first (checkpoint-driven — no corpus rescan),
    and bad argv exits 2 without touching state."""
    job = _load("incremental_dedup_job")
    src = tmp_path / "landing"
    src.mkdir()
    idx, ckpt = str(tmp_path / "index"), str(tmp_path / "ckpt")

    spark.createDataFrame(
        [(0, "alpha"), (1, "beta"), (2, "alpha")], "doc_id long, text string"
    ).coalesce(1).write.parquet(str(src / "drop1"))
    assert job.main([f"{src}/*", idx, ckpt]) == 0
    first = {r["canonical_id"] for r in spark.read.parquet(idx).collect()}
    assert first == {0, 1}

    spark.createDataFrame(
        [(3, "beta"), (4, "gamma")], "doc_id long, text string"
    ).coalesce(1).write.parquet(str(src / "drop2"))
    assert job.main([f"{src}/*", idx, ckpt]) == 0
    rows = {(r["canonical_id"], r["batch_id"]) for r in spark.read.parquet(idx).collect()}
    assert rows == {(0, 0), (1, 0), (4, 1)}  # beta not re-admitted

    assert job.main([]) == 2
    assert job.main([f"{src}/*", idx, ckpt, "0"]) == 2


def test_incremental_dedup_job_cli_compact_flag(spark, tmp_path):
    """--compact collapses the committed epoch partitions after the drain
    without changing what the index knows: a later run still refuses to
    re-admit compacted content, and new content lands in a fresh epoch."""
    import os

    job = _load("incremental_dedup_job")
    src = tmp_path / "landing"
    src.mkdir()
    idx, ckpt = str(tmp_path / "index"), str(tmp_path / "ckpt")

    for i, rows in enumerate([[(0, "alpha")], [(1, "beta")], [(2, "gamma")]]):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.parquet(str(src / f"drop{i}"))
    # one file per trigger -> three epochs, then compact them
    assert job.main([f"{src}/*", idx, ckpt, "1", "--compact"]) == 0
    assert sorted(os.listdir(idx)) == ["batch_id=2"]
    assert {r["canonical_id"] for r in spark.read.parquet(idx).collect()} == {0, 1, 2}

    # resume against the compacted index: dup refused, new content admitted
    spark.createDataFrame(
        [(3, "alpha"), (4, "omega")], "doc_id long, text string"
    ).coalesce(1).write.parquet(str(src / "drop3"))
    assert job.main([f"{src}/*", idx, ckpt]) == 0
    rows = {
        (r["canonical_id"], r["batch_id"])
        for r in spark.read.parquet(idx).collect()
    }
    assert rows == {(0, 2), (1, 2), (2, 2), (4, 3)}


def test_cluster_maintenance_job_cli_two_rounds(spark, tmp_path):
    """Two CLI rounds over arriving batches: the second merges the new
    docs into the persisted labels (a cross-batch near-dup pair must fold
    both docs into one cluster) without rescanning round one's corpus;
    bad argv exits 2 without touching state."""
    job = _load("cluster_maintenance_job")
    state = str(tmp_path / "state")

    long_a = "x " * 40 + "common tail of words shared verbatim " * 3
    spark.createDataFrame(
        [(0, long_a), (1, "totally different text about other things entirely")],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(str(tmp_path / "b1"))
    assert job.main([str(tmp_path / "b1"), state]) == 0
    labels1 = {
        (r["node"], r["cluster_id"])
        for r in spark.read.parquet(f"{state}/labels").collect()
    }
    assert labels1 == {(0, 0), (1, 1)}

    # doc 2 is a near-dup of doc 0 (same text): must join cluster 0
    spark.createDataFrame(
        [(2, long_a)], "doc_id long, text string"
    ).coalesce(1).write.parquet(str(tmp_path / "b2"))
    assert job.main([str(tmp_path / "b2"), state, "0.5"]) == 0
    labels2 = {
        (r["node"], r["cluster_id"])
        for r in spark.read.parquet(f"{state}/labels").collect()
    }
    assert labels2 == {(0, 0), (1, 1), (2, 0)}

    assert job.main([]) == 2
    assert job.main([str(tmp_path / "b2"), state, "2.0"]) == 2
    assert job.main([str(tmp_path / "b2"), state, "abc"]) == 2


def test_streaming_countmin_job_cli_accumulates_across_runs(spark, tmp_path):
    """Two CLI runs over a growing landing dir: the merged sketch after
    run 2 equals sketching everything ingested at once (count-min
    linearity through the checkpoint); bad argv exits 2."""
    from pyspark.sql import functions as F

    from spark_hadoop_automation_in_cloud_spark.operators.sketches import (
        countmin_sketches,
    )
    from spark_hadoop_automation_in_cloud_spark.streaming.incremental import (
        read_countmin_index,
    )

    job = _load("streaming_countmin_job")
    src = tmp_path / "landing"
    src.mkdir()
    idx, ckpt = str(tmp_path / "index"), str(tmp_path / "ckpt")

    d1 = spark.createDataFrame(
        [("a", 1), ("a", 1), ("b", 2)], "event_type string, user_id long"
    )
    d1.coalesce(1).write.parquet(str(src / "drop1"))
    assert job.main([f"{src}/*", idx, ckpt]) == 0

    d2 = spark.createDataFrame(
        [("a", 1), ("b", 3)], "event_type string, user_id long"
    )
    d2.coalesce(1).write.parquet(str(src / "drop2"))
    assert job.main([f"{src}/*", idx, ckpt]) == 0

    merged = read_countmin_index(spark, idx, ["event_type"])
    full = countmin_sketches(d1.unionByName(d2), ["event_type"], "user_id")
    key = ["event_type", "row_i", "bucket", "n"]
    assert sorted(map(tuple, merged.select(*key).collect())) == sorted(
        map(tuple, full.select(*key).collect())
    )
    # two distinct epochs on disk — run 2 didn't rewrite run 1's state
    assert {r["batch_id"] for r in spark.read.parquet(idx).select("batch_id").distinct().collect()} == {0, 1}

    assert job.main([]) == 2
    assert job.main([f"{src}/*", idx, ckpt, "0"]) == 2


def test_ann_index_job_build_then_probe(spark, sf_dir, tmp_path):
    """The IVF-PQ index CLI: build writes the three artifacts (centroids,
    JSON codebooks, cell-partitioned coded lists — no vectors), probe
    reads only probed cells and reproduces the in-memory ivf_pq_topk
    composition exactly.  The codebook JSON round-trip must be
    float-exact or the ADC values drift."""
    from spark_hadoop_automation_in_cloud_spark.operators.similarity import (
        ivf_pq_topk,
    )

    job = _load("build_ann_index_job")
    idx = str(tmp_path / "idx")
    out = str(tmp_path / "topk")
    src = f"{sf_dir}/embeddings.parquet"
    assert job.main(["build", src, idx]) == 0
    assert os.path.isdir(f"{idx}/coded_lists") and os.path.exists(
        f"{idx}/codebooks.json"
    )
    # coded lists are cell-partitioned and vector-free
    coded = spark.read.parquet(f"{idx}/coded_lists")
    assert "cell_id" in coded.columns and "embedding" not in coded.columns

    queries = spark.read.parquet(src).where(F.col("vec_id") < 5)
    qsrc = str(tmp_path / "queries")
    queries.write.parquet(qsrc)
    assert job.main(["probe", idx, qsrc, out, "10", "2"]) == 0

    got = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["adc_sq"])
        for r in spark.read.parquet(out).collect()
    }
    emb = spark.read.parquet(src)
    want = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["adc_sq"])
        for r in ivf_pq_topk(emb, queries, k=10).collect()
    }
    assert got == want and len(got) == 50


def test_train_tokenizer_job_writes_artifacts(spark, sf_dir, tmp_path):
    """The CLI writes the ordered merge table and the per-source fit
    report; the merge table matches driving the operator directly; bad
    argv exits 2."""
    from spark_hadoop_automation_in_cloud_spark.io import read_table
    from spark_hadoop_automation_in_cloud_spark.operators.bpe import bpe_merges

    job = _load("train_tokenizer_job")
    out = str(tmp_path / "tok")
    assert job.main([f"{sf_dir}/documents.parquet", out, "3"]) == 0
    merges = spark.read.parquet(f"{out}/merges.parquet")
    want = bpe_merges(
        read_table(spark, sf_dir, "documents"), "text", n_merges=3
    )
    key = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    assert key(merges) == key(want)
    fit = spark.read.parquet(f"{out}/fit_by_source.parquet")
    assert fit.count() > 0 and "compression" in fit.columns
    assert job.main(["x"]) == 2
    assert job.main(["a", "b", "zero"]) == 2
    assert job.main(["a", "b", "0"]) == 2
    assert job.main(["a", "b", "3", "0"]) == 2
    # sampled training mode writes the bpe_merges_sampled rules
    from spark_hadoop_automation_in_cloud_spark.operators.bpe import (
        bpe_merges_sampled,
    )

    sout = str(tmp_path / "tok_sampled")
    assert job.main([f"{sf_dir}/documents.parquet", sout, "3", "2"]) == 0
    smerges = spark.read.parquet(f"{sout}/merges.parquet")
    swant = bpe_merges_sampled(
        read_table(spark, sf_dir, "documents"), "text", n_merges=3, sample_mod=2
    )
    assert key(smerges) == key(swant)
    # encode mode: apply the persisted merge table; output matches
    # driving bpe_encode with the same rules, and the id arrays are
    # flat ints (the trainer-facing artifact)
    from spark_hadoop_automation_in_cloud_spark.operators.bpe import bpe_encode

    enc_out = str(tmp_path / "ids")
    assert job.main(["encode", f"{sf_dir}/documents.parquet",
                     f"{out}/merges.parquet", enc_out]) == 0
    got = spark.read.parquet(enc_out)
    rules = [(r["lhs"], r["rhs"]) for r in sorted(want.collect(),
                                                  key=lambda r: r["step"])]
    ref = bpe_encode(
        read_table(spark, sf_dir, "documents"), "doc_id", "text", rules
    )
    assert key(got) == key(ref)
    assert job.main(["encode", "a", "b"]) == 2


def test_streaming_volume_job_cli_accumulates_across_runs(spark, sf_dir, tmp_path):
    """Two CLI runs over a growing landing dir: the merged daily counts
    after run 2 equal counting everything ingested at once (additive
    cells through the checkpoint); bad argv exits 2."""
    from pyspark.sql import functions as F

    from spark_hadoop_automation_in_cloud_spark.io import read_table
    from spark_hadoop_automation_in_cloud_spark.streaming.incremental import (
        read_daily_counts,
    )

    job = _load("streaming_volume_job")
    ev = read_table(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("d"), "user_id"
    )
    src = tmp_path / "landing"
    src.mkdir()
    idx, ckpt = str(tmp_path / "index"), str(tmp_path / "ckpt")

    ev.where(F.col("user_id") % 2 == 0).select("event_type", "d").coalesce(
        1
    ).write.parquet(str(src / "b=0"))
    assert job.main([str(src), idx, ckpt, "1"]) == 0
    ev.where(F.col("user_id") % 2 == 1).select("event_type", "d").coalesce(
        1
    ).write.parquet(str(src / "b=1"))
    assert job.main([str(src), idx, ckpt, "1"]) == 0

    merged = read_daily_counts(spark, idx, ["event_type"])
    full = ev.groupBy("event_type", "d").agg(F.count(F.lit(1)).alias("n"))
    key = lambda df: sorted(  # noqa: E731
        (r["event_type"], str(r["d"]), int(r["n"])) for r in df.collect()
    )
    assert key(merged) == key(full)
    assert job.main(["x"]) == 2
    assert job.main(["a", "b", "c", "0"]) == 2
