"""Sources and sinks.

Replaces the reference's manual S3 path enumeration with Catalyst-native
partition pruning, and its ``repartition(1)`` sinks with AQE-sized writes.

Reference parity map (SURVEY §2.1):
- S1 multi-path scan w/ mergeSchema  → ``read_table(merge_schema=True)`` +
  ``read_events_window`` (root-path read + partition-column predicate;
  Catalyst prunes directories — ``src/helper/helper.py:169-231`` did this
  driver-side with boto3; per-read ``mergeSchema`` matches
  ``src/spark/collector.py:302-304``)
- S2 dimension scan                  → ``read_table``; the 1-NN operator
  broadcast-tags the dimension itself (``operators.nearest``)
- S4 idempotent datamart sink        → ``write_datamart``
- S5 partitioned staging sink        → ``write_partitioned`` (the mover's
  sink, ``sources.mover.move_raw_to_staging``)

Run-over-run state on plain parquet is replaced through ONE crash-safe
directory swap, ``repair_swap`` + ``commit_swap``: ``compact`` here, and
``streaming.incremental``'s upsert snapshot, fingerprint-index compaction
and near-dup cluster labels.  No other module renames or deletes a
directory.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


#: event-time columns normalized to TIMESTAMP on read, whatever the writer's
#: parquet encoding was — see ``_normalize_ts`` / ``_read_parquet_any_ts``.
_TS_COLS = {"events": ("ts",)}

_NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"


def _is_illegal_parquet_type(e: Exception) -> bool:
    """Detect the parquet reader's illegal-type rejection (how TIMESTAMP
    (NANOS) files surface without ``nanosAsLong``).  Prefer the structured
    error class (``PySparkException.getErrorClass`` — stable identifier,
    survives message rewording across Spark lines) and fall back to the
    message substring for exception types that don't carry one."""
    try:
        cls = e.getErrorClass()
    except Exception:  # noqa: BLE001 — not a PySparkException
        cls = None
    if cls and "PARQUET_TYPE_ILLEGAL" in cls:
        return True
    return "PARQUET_TYPE_ILLEGAL" in str(e)


def _read_parquet_any_ts(
    spark: SparkSession, path: str | list[str], merge_schema: bool = False
) -> DataFrame:
    """``spark.read.parquet`` that tolerates every timestamp encoding the
    lake has shipped: TIMESTAMP (LTZ), TIMESTAMP(MICROS) without UTC
    adjustment (→ ``TIMESTAMP_NTZ``), and legacy TIMESTAMP(NANOS), which the
    parquet reader rejects outright unless the ``nanosAsLong`` conf is set
    (→ epoch-nanos ``bigint``).

    The nanos fallback is SCOPED: the conf is set only for the duration of
    the read call and restored after.  The returned DataFrame stays valid —
    the relation snapshots its reader configuration at creation, so later
    collections don't depend on the session conf (pinned by
    ``tests/test_sources.py::test_read_table_nanos_and_micros_encodings``).
    No library read path leaves a session-global side effect behind.
    """

    paths = [path] if isinstance(path, str) else list(path)

    def _read() -> DataFrame:
        reader = spark.read
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
        return reader.parquet(*paths)

    try:
        return _read()
    except Exception as e:  # noqa: BLE001 — inspect and re-raise below
        if not _is_illegal_parquet_type(e):
            raise
        before = spark.conf.get(_NANOS_CONF, None)
        spark.conf.set(_NANOS_CONF, "true")
        try:
            return _read()
        finally:
            if before is not None:
                spark.conf.set(_NANOS_CONF, before)
            else:
                spark.conf.unset(_NANOS_CONF)


def read_mixed_ts_dir(
    spark: SparkSession,
    path: str,
    ts_cols: tuple[str, ...] = ("ts",),
    merge_schema: bool = False,
) -> DataFrame:
    """Read a local parquet directory whose FILES MIX timestamp encodings —
    the mid-migration lake state where some files predate a producer's
    nanos→micros upgrade.  A single ``spark.read.parquet`` cannot express
    this: the scan either rejects the nanos files (PARQUET_TYPE_ILLEGAL at
    task time) or, under ``nanosAsLong``, cannot merge ``bigint`` with the
    micros files' timestamp type.

    Files are grouped by the ts column's physical encoding (one footer read
    per file), each group goes through the same scoped-conf reader and
    normalization as :func:`read_table`, and the groups union by name.

    Driver-side footer listing is O(#files) — this is an EXPLICIT
    migration-era tool (same opt-in reasoning as ``merge_schema``), not the
    default read path; a settled lake uses one encoding and never pays it.
    """
    import pyarrow.parquet as pq

    files = sorted(
        os.path.join(root, f)
        for root, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )
    if not files:
        raise FileNotFoundError(f"no parquet files under {path!r}")
    # Group by the parquet PHYSICAL+LOGICAL type, not the arrow-mapped type:
    # pyarrow reports both Spark-classic INT96 timestamps and INT64
    # TIMESTAMP(NANOS) as ``timestamp[ns]``, but Spark reads the former
    # natively and rejects the latter — they must land in different scans.
    groups: dict[str, list[str]] = {}
    for f in files:
        md = pq.read_metadata(f).schema
        enc = "none"
        for i in range(len(md)):
            col = md.column(i)
            if col.name in ts_cols:
                enc = f"{col.physical_type}:{col.logical_type}"
                break
        groups.setdefault(enc, []).append(f)

    parts = []
    for fs in groups.values():
        # multi-path read keeps each encoding group as ONE scan
        df = _read_parquet_any_ts(spark, fs, merge_schema=merge_schema)
        parts.append(_normalize_ts(df, ts_cols))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=merge_schema)
    return out


def _normalize_ts(df: DataFrame, cols: tuple[str, ...]) -> DataFrame:
    """Bring declared event-time columns to ``TIMESTAMP`` whatever the
    reader delivered: epoch-nanos ``bigint`` (legacy nanos files) is
    truncated to micros exactly as DuckDB's reader does; ``TIMESTAMP_NTZ``
    (micros files without UTC adjustment) is treated as naive-UTC via pure
    NTZ epoch arithmetic — timezone-INDEPENDENT, so a vanilla session on a
    non-UTC host gets the same instants; ``TIMESTAMP`` passes through.
    """
    from spark_hadoop_automation_in_cloud_spark.functions.timeutils import (
        ntz_to_utc_timestamp,
    )

    dtypes = dict(df.dtypes)
    for c in cols:
        t = dtypes.get(c)
        if t == "bigint":
            # integer DIV, not `/`: epoch-nanos exceed double's 2^53 mantissa
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` DIV 1000")))
        elif t == "timestamp_ntz":
            df = df.withColumn(c, ntz_to_utc_timestamp(c))
    return df


def read_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    parallelize: bool = False,
    merge_schema: bool = False,
) -> DataFrame:
    """One synthetic table (TESTDATA.md layout: ``{sf_dir}/{name}.parquet``).

    Declared event-time columns (``_TS_COLS``) come out as ``TIMESTAMP``
    whatever encoding the writer used — see ``_read_parquet_any_ts`` /
    ``_normalize_ts``.

    ``merge_schema=True``: per-read parquet schema reconciliation for tables
    whose files drift over time (the reference reads N daily event
    partitions with ``mergeSchema=true``, ``src/spark/collector.py:302-304``
    — a wide event schema gains columns across days).  Off by default:
    schema merging footers across 100 TB of files is a real planning cost,
    so only window-reads over evolving staging opt in.

    ``parallelize=True``: the testdata files are single-row-group parquet,
    which Spark cannot split — the scan, and everything codegen fuses into
    the scan stage (projections, broadcast joins, partial aggregates, Pandas
    kernels), runs as ONE task no matter how many cores the session has.
    Callers whose next operator fans work out per row (1-NN candidate
    generation, shingle explode, similarity cross products, mapInPandas
    decode) pass True to pay one tiny round-robin shuffle up front and fan
    the rows across ``defaultParallelism`` partitions.  Callers whose plan
    is scan-bound or shuffles immediately anyway (plain aggregates, windows,
    equi-joins) keep the default — an extra exchange only adds latency.
    This is a local-testing artifact: a real deployment's table is many
    files (the ``os.path.isfile`` gate is False for directories and object
    stores), where Catalyst's bin-packing already yields full parallelism.
    """
    path = f"{sf_dir}/{name}.parquet"
    df = _read_parquet_any_ts(spark, path, merge_schema=merge_schema)
    if name in _TS_COLS:
        df = _normalize_ts(df, _TS_COLS[name])
    if parallelize:
        # fan out whenever the scan is under-parallel — a single file OR a
        # directory of few/unsplittable (single-row-group) files both plan
        # as fewer tasks than cores, and everything codegen fuses into the
        # scan stage inherits that ceiling
        try:
            target = spark.sparkContext.defaultParallelism
            skip = df.rdd.getNumPartitions() >= target
        except Exception:  # noqa: BLE001 — Spark Connect: no SparkContext/rdd
            # scan parallelism is uninspectable: skip the widen rather than
            # pay an unconditional full-table exchange on every read (the
            # single-file-scan case this guards is a local-testing artifact;
            # a Connect deployment's table is many files and already wide)
            skip = True
        if not skip:
            df = df.repartition(target)
    return df


def read_events_window(
    df: DataFrame,
    date_col: str,
    end_date: dt.date | str,
    depth_days: int,
) -> DataFrame:
    """Incremental processing window: the ``depth`` days ending at ``date``.

    The reference materializes this as an explicit list of
    ``event_type=<t>/date=<d-i>`` paths checked against S3 with boto3
    (``src/helper/helper.py:207-224``).  Expressed as predicates, Catalyst's
    PruneFileSourcePartitions reads only the matching directories — same IO,
    no driver-side listing, and it composes with AQE.
    """
    end = dt.date.fromisoformat(end_date) if isinstance(end_date, str) else end_date
    start = end - dt.timedelta(days=depth_days - 1)
    return df.where(F.col(date_col).cast("date").between(F.lit(start), F.lit(end)))


def write_datamart(df: DataFrame, tgt_root: str, dm_name: str, processed_date: str) -> str:
    """Datamart snapshot sink: ``{tgt_root}/{dm_name}/date={processed_date}``.

    Reference: ``collector.py:543-557`` wrote errorifexists→overwrite with
    ``repartition(1)``.  Overwrite directly (idempotent reruns), and let AQE
    size the output files — a forced single file is a scale anti-pattern; a
    caller that truly needs one file can ``.coalesce(1)`` at the call site.
    """
    path = f"{tgt_root}/{dm_name}/date={processed_date}"
    df.write.mode("overwrite").parquet(path)
    return path


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...] = ("event_type", "date"),
    compression: str = "zstd",
) -> str:
    """Staging sink: hive-partitioned parquet (reference
    ``src/spark/mover.py:107-112``, which used gzip; zstd is the modern
    default — faster decode at comparable ratio).

    Overwrite is DYNAMIC and set on this writer only: a re-run replaces
    just the partitions its rows land in (re-moving one day keeps the
    others; the reference truncated the whole target), and the session's
    ``partitionOverwriteMode`` is left as the caller set it."""
    df.write.mode("overwrite").partitionBy(*partition_by).option(
        "partitionOverwriteMode", "dynamic"
    ).option("compression", compression).parquet(path)
    return path


def write_zordered(
    df: DataFrame,
    path: str,
    zorder_cols: list[str],
    num_files: int = 16,
    compression: str = "zstd",
) -> str:
    """Z-order-clustered parquet sink: range-partition the rows by their
    Morton key over ``zorder_cols`` (``functions.zorder``) and write one
    file per range, so every interleaved column's parquet min/max stats
    become selective — a predicate on ANY of the columns skips most
    files, where a linear ``sortWithinPartitions(a)`` would prune only
    on ``a``.  The key is layout-only: rows are unchanged, no query
    result ever depends on it.  One range-exchange (sampled boundaries)
    is the entire cost — the write-time shuffle that buys scan-time
    pruning, same trade as ``operators.bucketing.write_bucketed``.
    """
    from spark_hadoop_automation_in_cloud_spark.functions.zorder import zorder_key

    key = zorder_key(df, zorder_cols)
    (
        df.withColumn("__zkey", key)
        .repartitionByRange(num_files, F.col("__zkey"))
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
        .write.mode("overwrite")
        .option("compression", compression)
        .parquet(path)
    )
    return path


def repair_swap(path: str) -> tuple[str, str]:
    """Entry half of the crash-safe directory swap that replaces ``path``:
    repair whatever a previous crash left, and return the (tmp, bak)
    sibling paths for :func:`commit_swap`.

    - backup + live both present → the old crash happened after the new
      directory landed: drop the backup;
    - backup present, live missing → the crash happened mid-swap: restore
      the backup;
    - stale tmp → always discarded (the caller rewrites it).

    Local-filesystem paths only: the os-level renames are what make the
    swap atomic; on an object store the table format's commit does this.
    """
    tmp, bak = f"{path}.tmp-merge", f"{path}.bak-merge"
    if os.path.isdir(bak):
        if os.path.isdir(path):
            shutil.rmtree(bak)
        else:
            os.rename(bak, path)
    if os.path.isdir(tmp):
        shutil.rmtree(tmp)
    return tmp, bak


def commit_swap(path: str, tmp: str, bak: str) -> None:
    """Commit half of the swap: the fully written ``tmp`` replaces
    ``path``.  The live dir is renamed aside BEFORE the tmp renames in,
    so at every crash point either the old or the new directory is
    recoverable by :func:`repair_swap` (a delete-then-rename would lose
    both if the process died between the two calls)."""
    if os.path.isdir(path):
        os.rename(path, bak)
    os.rename(tmp, path)
    shutil.rmtree(bak, ignore_errors=True)


def compact(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 << 20,
    rebalance: bool = False,
) -> int:
    """Small-file compaction: rewrite a parquet directory into files sized
    ~``target_file_bytes``, returning the new file count.

    The lake disease at 100 TB is not data volume but FILE COUNT — a
    streaming sink or over-parallel writer leaving thousands of KB-sized
    files makes every later scan pay per-file open/footer/listing cost.
    Compaction reads once and rewrites with ``coalesce(n)`` — a
    partition-merge with NO shuffle (``rebalance=True`` switches to
    ``repartition(n)`` when the inputs are skewed enough that merged
    partitions would be lopsided — that pays one shuffle for even output).

    The rewrite is committed through :func:`repair_swap` /
    :func:`commit_swap`, so a crash mid-compaction leaves the original
    (or the finished rewrite) recoverable, and the next call repairs it
    on entry.
    """
    import math

    tmp, bak = repair_swap(path)
    total = sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )
    n = max(1, math.ceil(total / target_file_bytes))
    df = spark.read.parquet(path)
    out = df.repartition(n) if rebalance else df.coalesce(n)
    out.write.mode("overwrite").parquet(tmp)
    commit_swap(path, tmp, bak)
    return sum(
        1 for f in os.listdir(path) if f.endswith(".parquet")
    )


def read_json_quarantine(
    spark: SparkSession, path: str, schema: str
) -> tuple[DataFrame, DataFrame]:
    """Schema-enforced JSON-lines read with a dead-letter split: rows
    that parse against ``schema`` come back typed; rows that don't
    land in the quarantine frame with their RAW line preserved — the
    ingest contract a landing zone needs (a single malformed line must
    neither kill the job (FAILFAST) nor silently become an all-NULL
    row (plain PERMISSIVE)).

    Returns ``(parsed, quarantined)``.  ``parsed`` carries exactly the
    schema's columns; ``quarantined`` carries one ``raw`` string
    column.  Both are row-local projections of ONE PERMISSIVE scan —
    Spark parses each line once; the split is a null-test on the
    corrupt-record column (its presence in the read schema is what
    makes Spark retain the raw text).  Scale: no shuffle, no driver
    involvement; quarantine volume is observable via a plain count.

    Implementation note: this reads the files as TEXT and parses with
    the ``from_json`` expression rather than the JSON file source —
    Spark forbids querying a raw JSON scan's corrupt-record column on
    its own (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN,
    which would force a cache into this API); the expression form has
    no such restriction, parses each line exactly once per consumer,
    and keeps the whole split row-local.

    Caveat pinned by the tests: PERMISSIVE fills the corrupt column
    ONLY for lines that fail to parse — a well-formed JSON object
    MISSING fields still parses (NULLs), which is schema evolution's
    problem (`mergeSchema`, defaults), not quarantine's.
    """
    corrupt = "__corrupt_record"
    lines = spark.read.text(path).where(F.length("value") > 0)
    parsed_struct = F.from_json(
        F.col("value"),
        f"{schema}, {corrupt} string",
        {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": corrupt},
    )
    df = lines.select(parsed_struct.alias("__p"), "value")
    parsed = df.where(F.col(f"__p.{corrupt}").isNull()).select("__p.*").drop(
        corrupt
    )
    quarantined = df.where(F.col(f"__p.{corrupt}").isNotNull()).select(
        F.col("value").alias("raw")
    )
    return parsed, quarantined


def read_csv_quarantine(
    spark: SparkSession,
    path: str,
    schema: str,
    sep: str = ",",
    header: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """CSV sibling of :func:`read_json_quarantine`: schema-enforced
    CSV-lines read with the dead-letter split, via one text scan +
    ``from_csv`` (same rationale — the expression form has no
    corrupt-column-only restriction and parses once).  CALLER-FACING
    EDGE (details below): with ``header=True`` a first-block data row
    that renders exactly as the header is dropped, and for
    non-splittable (compressed) files "first block" means the whole
    file.

    ``header=True`` drops lines equal to the schema's own header
    rendering BEFORE parsing — a header line would otherwise quarantine
    as garbage on a numeric schema.  Contract (r07 ADVICE item 4): the
    drop is an EXACT string match against ``sep.join(fieldNames)``,
    restricted to the first file block (``input_file_block_start() ==
    0`` — headers only exist at file start, so later blocks are never
    screened and a legitimate mid-file data row rendering identically
    to the header survives — FOR SPLITTABLE INPUT.  Non-splittable
    files (gzip and friends) arrive as ONE block whose start is 0, so
    there the "first block" is the whole file and a header-identical
    data row ANYWHERE in a compressed file is dropped (r08 ADVICE
    item 2); if compressed CSV landings are in scope, pre-decompress
    or disable ``header`` and let the header row quarantine.  Two
    documented edges remain: (a) a data
    row in the FIRST block that renders exactly as the header is
    dropped as a header; (b) a header written with different
    spacing/quoting than the schema's exact rendering is not dropped —
    it fails to parse and lands in ``quarantined``, where an operator
    inspects it (intended: a malformed header IS malformed input).
    Returns ``(parsed, quarantined)`` like the JSON form.
    """
    corrupt = "__corrupt_record"
    lines = spark.read.text(path).where(F.length("value") > 0)
    if header:
        from pyspark.sql.types import StructType

        # parse the DDL properly — a naive split(',') breaks on
        # parameterized types like decimal(10,2)
        names = StructType.fromDDL(schema).fieldNames()
        lines = lines.where(
            ~(
                (F.input_file_block_start() == 0)
                & (F.col("value") == sep.join(names))
            )
        )
    parsed_struct = F.from_csv(
        F.col("value"),
        f"{schema}, {corrupt} string",
        {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": corrupt, "sep": sep},
    )
    df = lines.select(parsed_struct.alias("__p"), "value")
    parsed = df.where(F.col(f"__p.{corrupt}").isNull()).select("__p.*").drop(
        corrupt
    )
    quarantined = df.where(F.col(f"__p.{corrupt}").isNotNull()).select(
        F.col("value").alias("raw")
    )
    return parsed, quarantined
