"""SparkSession lifecycle with scale-ready defaults.

Parity with the reference's session runner (``src/spark/runner.py:47-105``:
master, app name, S3A conf, executor sizing, log level) — but defaults are
chosen for a large cluster: AQE on (runtime partition coalescing + skew-join
splitting), Arrow for any Python exchange, UTC session timezone so results
are reproducible across engines and clusters.

The reference hardcodes ``repartition(56)`` / ``repartition(1)`` and manual
``persist`` calls; here AQE owns post-shuffle parallelism, and every frame
an engine call caches or pins is owned by one scope (:func:`owned`).
"""

from __future__ import annotations

import logging
import os
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

_log = logging.getLogger(__name__)

# Defaults that are correct at any scale; per-deployment overrides come via
# ``extra_conf`` or spark-submit --conf (never hardcoded in query code).
_BASE_CONF: dict[str, str] = {
    # Adaptive execution: runtime shuffle-partition coalescing, skew-join
    # splitting, and local-shuffle-read — replaces the reference's manual
    # repartition() calls (src/spark/mover.py:47, collector.py:544).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas exchange (similarity / multimodal ops).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic cross-engine timestamps (DuckDB oracle runs naive/UTC).
    "spark.sql.session.timeZone": "UTC",
    # Parquet: vectorized reader is default-on; keep schema merge off by
    # default (opt in per-read — it is O(#files) on the driver).
    "spark.sql.parquet.mergeSchema": "false",
    # Don't let tiny local runs mask pushdown bugs.
    "spark.sql.parquet.filterPushdown": "true",
    # NOTE: no legacy timestamp knobs here.  TIMESTAMP(NANOS) files are
    # handled per-read by io._read_parquet_any_ts with a scoped conf — a
    # session-global nanosAsLong masked exactly the encoding drift that
    # broke round 2 (testdata moved from nanos to micros/NTZ).
}


@dataclass
class SessionConfig:
    """Validated session settings (reference ``keeper.py:146-184`` kept the
    same knobs as a pydantic model: memory shape, cores, executor caps)."""

    app_name: str = "spark-hadoop-automation-in-cloud-spark"
    master: str | None = None  # None → spark-submit / env decides
    shuffle_partitions: int | None = None  # None → 8 × default parallelism
    executor_memory: str | None = None
    executor_cores: int | None = None
    max_executors: int | None = None
    log_level: str = "WARN"
    extra_conf: dict[str, str] = field(default_factory=dict)

    def __post_init__(self) -> None:
        if self.executor_memory is not None:
            import re

            if not re.fullmatch(r"\d+[mMgG]", self.executor_memory):
                raise ValueError(
                    f"executor_memory must look like '3000m' or '4g', got {self.executor_memory!r}"
                )
        if self.executor_cores is not None and not 1 <= self.executor_cores <= 64:
            raise ValueError("executor_cores must be in [1, 64]")
        if self.max_executors is not None and not 1 <= self.max_executors <= 10_000:
            raise ValueError("max_executors must be in [1, 10000]")
        if self.shuffle_partitions is not None and self.shuffle_partitions < 1:
            raise ValueError("shuffle_partitions must be >= 1")


def s3a_conf(
    endpoint: str,
    access_key: str,
    secret_key: str,
    path_style: bool = True,
) -> dict[str, str]:
    """S3A connector settings (reference S6, ``src/spark/runner.py:76-81``):
    pass the result as ``SessionConfig.extra_conf`` when the lake lives on
    an S3-compatible store.  Local tests read the filesystem directly, so
    this is config parity only — never hardcode credentials in code; feed
    them from the environment/secret manager at the call site.
    """
    return {
        "spark.hadoop.fs.s3a.endpoint": endpoint,
        "spark.hadoop.fs.s3a.access.key": access_key,
        "spark.hadoop.fs.s3a.secret.key": secret_key,
        "spark.hadoop.fs.s3a.path.style.access": str(path_style).lower(),
        "spark.hadoop.fs.s3a.impl": "org.apache.hadoop.fs.s3a.S3AFileSystem",
        "spark.hadoop.fs.s3a.aws.credentials.provider": (
            "org.apache.hadoop.fs.s3a.SimpleAWSCredentialsProvider"
        ),
    }


def local_master(cpus: int | None = None) -> str:
    """local[N] master string; N from $SPARK_GRAFT_CPUS by default."""
    n = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0)
    return f"local[{n}]" if n > 0 else "local[*]"


def get_session(config: SessionConfig | None = None) -> SparkSession:
    """Build (or get) a SparkSession with the engine's defaults applied.

    Reference parity: ``init_session`` (``runner.py:47-96``) — master, app
    name, executor sizing, dynamic allocation cap, log level.
    """
    cfg = config or SessionConfig()
    builder = SparkSession.builder.appName(cfg.app_name)
    if cfg.master:
        builder = builder.master(cfg.master)
    for k, v in _BASE_CONF.items():
        builder = builder.config(k, v)
    if cfg.shuffle_partitions is not None:
        builder = builder.config("spark.sql.shuffle.partitions", str(cfg.shuffle_partitions))
    if cfg.executor_memory is not None:
        builder = builder.config("spark.executor.memory", cfg.executor_memory)
    if cfg.executor_cores is not None:
        builder = builder.config("spark.executor.cores", str(cfg.executor_cores))
    if cfg.max_executors is not None:
        builder = builder.config("spark.dynamicAllocation.enabled", "true")
        builder = builder.config("spark.dynamicAllocation.maxExecutors", str(cfg.max_executors))
    for k, v in cfg.extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    try:
        spark.sparkContext.setLogLevel(cfg.log_level)
    except Exception:  # noqa: BLE001 — Spark Connect session: no SparkContext;
        pass  # log level is then the server's concern, not a session failure
    return spark


def get_test_session(app_name: str = "spark-graft-test") -> SparkSession:
    """Local-mode session for tests/bench: local[$SPARK_GRAFT_CPUS]."""
    return get_session(
        SessionConfig(
            app_name=app_name,
            master=local_master(),
            shuffle_partitions=32,
            extra_conf={
                "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
                "spark.ui.enabled": "false",
                "spark.sql.shuffle.partitions": "32",
            },
        )
    )


def stop_session(spark: SparkSession) -> None:
    """Reference parity: ``stop_session`` (``runner.py:98-105``)."""
    spark.stop()


@contextmanager
def session_scope(config: SessionConfig | None = None):
    """Context manager for job entrypoints: yields a session, and stops it
    on exit ONLY if this scope created it — ``getOrCreate`` reuses any
    active session (e.g. when a job's ``main`` is invoked in-process from
    a test or notebook), and stopping a borrowed session would kill the
    caller's context.
    """
    # getActiveSession() is thread-local; getOrCreate() can still return a
    # default session created on ANOTHER thread — treat either as borrowed
    # so the scope never stops a session the caller still owns.
    borrowed = (
        SparkSession.getActiveSession() is not None
        or SparkSession.getDefaultSession() is not None
    )
    spark = get_session(config)
    try:
        yield spark
    finally:
        if not borrowed:
            stop_session(spark)


#: owned blocks whose release raised (see :func:`owned`)
cleanup_failures = 0


def _persistent_rdd_ids(spark) -> set[int]:
    """Ids of ALL currently persisted RDDs in the session — observability
    only (the leak regression tests count these); release goes through
    :func:`owned` instead.  Best-effort: empty under Spark Connect."""
    try:
        return {
            int(i)
            for i in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
        }
    except Exception:
        return set()


def _pinned_rdd_ids(df: DataFrame) -> set[int]:
    """Ids of the block-pinned RDDs reachable from ``df``'s physical RDD —
    for a localCheckpoint'd frame, exactly the checkpoint block this frame
    owns (the physical RDD is a thin wrapper; the storage-levelled
    ancestor sits 1-2 dependency hops below it).  Walking the frame's OWN
    dependency graph — instead of diffing the session-global persistent-
    RDD table — means a concurrent caller's checkpoints can never be
    attributed to this one and torn down mid-flight.  Best-effort:
    returns empty under Spark Connect, where the JVM-side RDD graph is
    not reachable — cleanup then simply doesn't happen."""
    out: set[int] = set()
    try:
        def walk(r) -> None:
            lvl = r.getStorageLevel()
            if lvl.useMemory() or lvl.useDisk():
                out.add(int(r.id()))
            deps = r.dependencies()
            for i in range(deps.size()):
                walk(deps.apply(i).rdd())

        walk(df._jdf.queryExecution().toRdd())
    except Exception:
        return set()
    return out


def _unpersist_rdds(spark, ids: set[int]) -> None:
    """Drop the storage of the given persisted RDD ids (non-blocking).

    ``localCheckpoint`` PINS a frame in block storage with no
    DataFrame-level handle to release it.  Left alone, every iterative
    call leaks its intermediate checkpoints (a graph operator's edge
    frame alone is O(|edges|) memory), and repeated calls degrade the
    whole JVM — measured on the 17.9M-edge PageRank input: run-to-run
    wall oscillated 11s→52s as dead blocks forced eviction and GC.  A
    localCheckpoint'd RDD must never be unpersisted while still
    referenced — its lineage is truncated, so lost blocks are
    unrecoverable — hence release goes by ownership (:func:`owned`).

    A release that raises leaves its blocks pinned: each such id adds
    one to :data:`cleanup_failures` and logs a warning, so a leak shows
    up as a count instead of vanishing."""
    global cleanup_failures
    if not ids:
        return
    try:
        m = spark.sparkContext._jsc.getPersistentRDDs()
    except Exception as exc:
        cleanup_failures += len(ids)
        _log.warning("could not release pinned RDDs %s: %s", sorted(ids), exc)
        return
    for i in ids:
        try:
            r = m.get(i)
            if r is not None:
                r.unpersist(False)
        except Exception as exc:
            cleanup_failures += 1
            _log.warning("could not release pinned RDD %s: %s", i, exc)


def collect_local(df: DataFrame) -> DataFrame:
    """``df``'s rows as a local frame (a ``LocalRelation``) for a
    driver-bounded result: collected on the JVM side, so values never
    round-trip through Python, and reading the frame schedules no job
    over the plan it came from.  It owns no block storage, unlike a
    checkpoint.  (A frame built by ``spark.createDataFrame`` from Python
    rows is RDD-backed instead, and each read pays a job: measured
    0.26-0.35 s per noop write of 50 rows against ~0.03 s for this, in a
    local session on a 4-core host.)"""
    spark = df.sparkSession
    jdf = spark._jsparkSession.createDataFrame(
        df._jdf.collectAsList(), df._jdf.schema()
    )
    return DataFrame(jdf, spark)


class _Owned:
    """The frames one engine call holds; see :func:`owned`."""

    def __init__(self, spark: SparkSession) -> None:
        self._spark = spark
        self.pinned: set[int] = set()
        self.persisted: list[DataFrame] = []

    def pin(self, df: DataFrame) -> DataFrame:
        """``localCheckpoint`` ``df`` (eager) and own its blocks."""
        return self.adopt(df.localCheckpoint())

    def adopt(self, df: DataFrame) -> DataFrame:
        """Own the checkpoint blocks of ``df``, an eagerly checkpointed
        frame a callee returned (its cut lineage reaches no other pin)."""
        self.pinned |= _pinned_rdd_ids(df)
        return df

    def persist(self, df: DataFrame) -> DataFrame:
        """``df.persist()`` at the DataFrame default level, owned."""
        df = df.persist()
        self.persisted.append(df)
        return df

    def release(self, df: DataFrame) -> None:
        """Release one owned frame now."""
        if any(p is df for p in self.persisted):
            self.persisted = [p for p in self.persisted if p is not df]
            self._unpersist(df)
        else:
            ids = _pinned_rdd_ids(df) & self.pinned
            self.pinned -= ids
            _unpersist_rdds(self._spark, ids)

    def _unpersist(self, df: DataFrame) -> None:
        global cleanup_failures
        try:
            df.unpersist()
        except Exception as exc:
            cleanup_failures += 1
            _log.warning("could not release a persisted frame: %s", exc)


@contextmanager
def owned(spark: SparkSession):
    """Scope for the frames an engine call holds: localCheckpoint pins
    (``pin``), callee checkpoints (``adopt``) and persisted frames
    (``persist``) — the reference persists its reused metric frames and
    never releases them (``src/spark/collector.py:623-625, 841-848``).

    On exit, normal or by a raise, every frame still owned is released
    (``release`` frees one earlier).  A release that fails adds one to
    :data:`cleanup_failures` and logs a warning; it never replaces the
    exception the body raised.  A frame the call returns must therefore
    not be owned: an eager operator either checkpoints its result outside
    the scope (a ``localCheckpoint`` of a cut lineage reaches none of the
    scope's blocks) or returns rows collected while the scope was open
    (:func:`collect_local`)."""
    scope = _Owned(spark)
    try:
        yield scope
    finally:
        for df in scope.persisted:
            scope._unpersist(df)
        _unpersist_rdds(spark, scope.pinned)
