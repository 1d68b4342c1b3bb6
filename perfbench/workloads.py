"""Workload definitions and the benchmark's metric names.

Each workload is a closed loop with one client: its operations run in
sequence, the next one starting when the previous one's sink returns.
An operation is a registered query (``queries.specs()``) or ``ingest``,
the raw-to-staging mover.  Its sink is the action that executes it:

- ``staging``: ``sources.mover.move_raw_to_staging`` (eager: it writes);
- ``datamart``: ``io.write_datamart`` parquet snapshot;
- ``noop``: Spark's ``noop`` writer, which runs the whole plan and keeps
  nothing.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Op:
    name: str
    sink: str
    reads: tuple[str, ...]


WORKLOADS: dict[str, tuple[Op, ...]] = {
    # the paper's pipeline, bound by scans, 1-NN joins, window sorts and
    # parquet writes: few, large jobs; the only workload that writes
    "datamart_refresh": (
        Op("ingest", "staging", ("raw_events",)),
        Op("q17_user_demographics", "datamart", ("events", "nation")),
        Op("q18_zone_activity", "datamart", ("events", "nation")),
        Op("q16_friend_recommendations", "datamart", ("events",)),
    ),
    # bound by per-job overhead: PageRank runs ~50 small jobs and is eager
    # (its work happens in the call), triangle counting is lazy (its work
    # happens in the sink); neither writes nor touches the geo kernels
    "graph_rounds": (
        Op("q69_pagerank", "noop", ("events",)),
        Op("q161_copurchase_triangles", "noop", ("lineitem",)),
    ),
}

END_TO_END = ("setup_s", "pass_cpu_s", "input_rows_per_cpu_s", "driver_peak_rss_mb")

#: per-layer metrics every traced run reports, whatever its workload; the
#: first two are the pass's wall time, from the run's untraced passes
LAYER = (
    "pass_s",
    "input_rows_per_s",
    "session.start_s",
    "sources.move_s",
    "sources.files_written",
    "sources.bytes_written_per_input_byte",
    "io.write_s",
    "io.rows_scanned_per_output_row",
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.driver_only_s",
    "spark.slot_util",
    "spark.shuffle_write_bytes",
    "spark.shuffle_write_records",
    "spark.shuffle_read_bytes",
    "spark.spill_bytes",
    "spark.input_records",
    "spark.executor_run_s",
    "spark.executor_cpu_s",
    "spark.gc_s",
    "storage.leaked_rdds",
    "trace.pass_s",
    "trace.overhead_s",
)

#: self time is summed per layer of the engine (``<layer>.self_s``);
#: ``sink`` is the action that executes a lazy plan
SELF_LAYERS = ("queries", "plans", "operators", "io", "sources", "sink")

OP_METRICS = ("call_s", "sink_s", "jobs", "shuffle_write_bytes")


def per_layer_names() -> list[str]:
    return (
        list(LAYER)
        + [f"{layer}.self_s" for layer in SELF_LAYERS]
        + [f"{op.name}.{m}" for ops in WORKLOADS.values() for op in ops for m in OP_METRICS]
    )


def unit(name: str) -> str:
    leaf = name.rsplit(".", 1)[-1]
    if leaf == "input_rows_per_s":
        return "rows/s"
    if leaf == "input_rows_per_cpu_s":
        return "rows/cpu_s"
    if leaf.endswith("_mb"):
        return "MB"
    if leaf.endswith("_s"):
        return "s"
    if leaf.endswith("_bytes"):
        return "bytes"
    if leaf in ("slot_util", "bytes_written_per_input_byte", "rows_scanned_per_output_row"):
        return "ratio"
    return "count"
