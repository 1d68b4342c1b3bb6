"""The benchmark's own tests.  Run from the repository root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
from types import SimpleNamespace

import pyarrow.parquet as pq
import pytest

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH_DIR)
sys.path[:0] = [BENCH_DIR, ROOT]

import gen_inputs  # noqa: E402
import workloads as wl  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("workload", sorted(wl.WORKLOADS))
def test_same_seed_same_bytes_other_seed_other_ids(tmp_path, workload):
    a, b, c = (str(tmp_path / n) for n in "abc")
    rows_a = gen_inputs.write(workload, 7, a, 4)
    rows_b = gen_inputs.write(workload, 7, b, 4)
    rows_c = gen_inputs.write(workload, 8, c, 4)
    assert gen_inputs.digest(a) == gen_inputs.digest(b)
    assert gen_inputs.digest(a) != gen_inputs.digest(c)
    assert rows_a == rows_b == rows_c
    id_cols = {"events": "user_id", "lineitem": "l_partkey"}
    for table, col in id_cols.items():
        if table in rows_a:
            ids_a = set(pq.read_table(f"{a}/{table}.parquet").column(col).to_pylist())
            ids_c = set(pq.read_table(f"{c}/{table}.parquet").column(col).to_pylist())
            assert len(ids_a) == len(ids_c)
            assert ids_a != ids_c
    for table in rows_a:
        assert len(os.listdir(f"{a}/{table}.parquet")) == 4


def test_metric_names_match_benchmark_json():
    spec = _spec()
    assert [m["name"] for m in spec["end_to_end"]] == list(wl.END_TO_END)
    assert [m["name"] for m in spec["per_layer"]] == wl.per_layer_names()
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert m["unit"] == wl.unit(m["name"]), m["name"]
        if m["name"].endswith("_s") and "_per_" not in m["name"]:
            assert m["unit"] == "s", m["name"]  # a time is never labelled a count
    assert [w["name"] for w in spec["workloads"]] == list(wl.WORKLOADS)


@pytest.fixture(scope="module")
def spark():
    from spark_hadoop_automation_in_cloud_spark.session import SessionConfig, get_session

    s = get_session(
        SessionConfig(
            app_name="perfbench-test",
            master="local[2]",
            shuffle_partitions=4,
            extra_conf={"spark.ui.enabled": "false", "spark.driver.memory": "1g"},
        )
    )
    yield s
    s.stop()


def test_counter_helper_counts_one_job_and_an_empty_block(spark):
    from status_counters import StatusCounters

    counters = StatusCounters(spark)
    spark.conf.set("spark.sql.adaptive.enabled", "false")  # AQE runs each stage as its own job
    try:
        with counters.measure() as w:
            spark.range(10).count()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert w.totals().jobs == 1
    assert w.totals().tasks >= 1
    with counters.measure() as empty:
        pass
    assert empty.totals().jobs == 0
    assert empty.totals().tasks == 0


def _persisted(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_harness_leaves_persisted_rdds_as_the_program_left_them(spark, tmp_path):
    import run

    args = SimpleNamespace(workload="graph_rounds", seed=3, seconds=0, trace=1)
    bench = run.Bench(args, ROOT, str(tmp_path))
    bench.spark = spark
    bench.jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    from spark_hadoop_automation_in_cloud_spark import queries

    bench.specs = {s.name: s for s in queries.specs()}
    gen_inputs.write("graph_rounds", 3, bench.data, 2)
    marker = spark.range(100).persist()
    marker.count()
    before = _persisted(spark)
    for traced in (False, True):
        rec = bench.timed_pass(traced)
        after = _persisted(spark)
        assert before <= after  # nothing the program (or anyone) pinned was released
        assert len(after - before) == rec["leaked"]  # and the harness pinned nothing
        before = after
    marker.unpersist()
