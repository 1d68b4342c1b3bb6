"""Raw→staging flatten + partitioned sink (reference mover parity)."""

from __future__ import annotations

import os

import pytest

from spark_hadoop_automation_in_cloud_spark.sources.events import RAW_SCHEMA, flatten_raw_events
from spark_hadoop_automation_in_cloud_spark.sources.mover import move_raw_to_staging


def _raw_rows():
    ev = {
        "admins": ["a1"],
        "channel_id": 7,
        "datetime": "2024-01-05 10:20:30",
        "media": {"media_type": "img", "src": "pic.png"},
        "message": "hello",
        "message_channel_to": None,
        "message_from": 100,
        "message_group": None,
        "message_id": 555,
        "message_to": 200,
        "message_ts": "2024-01-05 10:20:30.123456",
        "reaction_from": None,
        "reaction_type": None,
        "subscription_channel": None,
        "subscription_user": None,
        "tags": ["t1", "t2"],
        "user": 100,
    }
    sub = dict(ev, message_from=None, message_id=None, message_ts=None,
               subscription_channel=42, subscription_user=300,
               datetime="2024-01-06 01:02:03")
    return [
        {"event": ev, "event_type": "message", "lat": 1.5, "lon": 2.5},
        {"event": sub, "event_type": "subscription", "lat": None, "lon": None},
    ]


def test_flatten_raw_events(spark):
    raw = spark.createDataFrame(_raw_rows(), RAW_SCHEMA)
    flat = flatten_raw_events(raw)
    rows = {r["event_type"]: r for r in flat.collect()}
    m = rows["message"]
    assert m["media_type"] == "img" and m["media_src"] == "pic.png"
    assert m["message_ts"].microsecond == 0  # fractional seconds stripped
    assert m["date"] == "2024-01-05"
    assert m["message_from"] == 100 and m["tags"] == ["t1", "t2"]
    s = rows["subscription"]
    assert s["subscription_channel"] == 42 and s["message_from"] is None
    assert len(flat.columns) == 22  # 21 staging cols + date partition key


def test_move_raw_to_staging_partitioned(spark, tmp_path):
    raw = spark.createDataFrame(_raw_rows(), RAW_SCHEMA)
    src = str(tmp_path / "raw")
    tgt = str(tmp_path / "staging")
    raw.write.parquet(src)
    move_raw_to_staging(spark, src, tgt)
    import os

    assert os.path.isdir(f"{tgt}/event_type=message/date=2024-01-05")
    back = spark.read.parquet(tgt)
    assert back.count() == 2
    assert {"event_type", "date"} <= set(back.columns)  # partition cols recovered


def test_move_raw_to_staging_leaves_session_conf(spark, tmp_path):
    """The staging sink overwrites dynamically on its own writer: re-moving
    one day replaces only that day's partition, and the session's
    partitionOverwriteMode is what it was before the move."""
    conf = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(conf)
    spark.conf.set(conf, "STATIC")
    try:
        raw = spark.createDataFrame(_raw_rows(), RAW_SCHEMA)
        tgt = str(tmp_path / "staging")
        raw.write.parquet(str(tmp_path / "raw"))
        raw.where("event_type = 'message'").write.parquet(str(tmp_path / "raw_day"))
        move_raw_to_staging(spark, str(tmp_path / "raw"), tgt)
        move_raw_to_staging(spark, str(tmp_path / "raw_day"), tgt)
        assert spark.conf.get(conf) == "STATIC"
        assert os.path.isdir(f"{tgt}/event_type=subscription/date=2024-01-06")
        assert spark.read.parquet(tgt).count() == 2
    finally:
        spark.conf.set(conf, before)


def test_merge_schema_window_read(spark, tmp_path):
    """S1 parity (reference collector.py:302-304): a depth-window re-read
    over evolving staging must reconcile drifted per-day schemas when the
    caller opts into merge_schema — day 2 gains a column day 1 lacks, and
    the merged frame exposes it as NULL for day-1 rows."""
    import datetime as dt

    from pyspark.sql import functions as F

    from spark_hadoop_automation_in_cloud_spark.io import read_events_window, read_table

    root = tmp_path / "staging" / "events.parquet"
    day1 = spark.range(3).select(
        F.col("id").alias("event_id"),
        F.lit("2024-01-05").cast("date").alias("event_date"),
        F.lit("message").alias("event_type"),
    )
    day2 = day1.select(
        (F.col("event_id") + 100).alias("event_id"),
        F.lit("2024-01-06").cast("date").alias("event_date"),
        "event_type",
        F.lit(4.5).alias("reaction_score"),  # schema drift: new column
    )
    day1.write.parquet(str(root / "date=d1"))
    day2.write.parquet(str(root / "date=d2"))

    merged = read_table(spark, str(tmp_path / "staging"), "events", merge_schema=True)
    assert "reaction_score" in merged.columns
    window = read_events_window(merged, "event_date", dt.date(2024, 1, 6), depth_days=2)
    rows = {r.event_id: r.reaction_score for r in window.collect()}
    assert len(rows) == 6
    assert rows[0] is None and rows[100] == 4.5

    # without the opt-in the read keeps the first-footer schema (global
    # conf stays false) — the drifted column must NOT leak in
    plain = read_table(spark, str(tmp_path / "staging"), "events")
    assert "reaction_score" not in plain.columns


def test_sql_surface(spark, sf_dir):
    """spark.sql over registered views matches the DataFrame path, with
    pushdown intact through the view."""
    from spark_hadoop_automation_in_cloud_spark.sql import register_tables, sql

    names = register_tables(spark, sf_dir)
    assert "lineitem" in names and "events" in names
    got = sql(
        spark,
        sf_dir,
        """
        SELECT o_orderpriority, COUNT(*) AS n
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
        GROUP BY o_orderpriority
        """,
    )
    from spark_hadoop_automation_in_cloud_spark.io import read_table
    from pyspark.sql import functions as F

    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    want = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_compact_merges_small_files(spark, sf_dir, tmp_path):
    from spark_hadoop_automation_in_cloud_spark.io import compact, read_table

    path = str(tmp_path / "frag")
    ev = read_table(spark, sf_dir, "events")
    ev.repartition(32).write.parquet(path)
    import os

    before = sum(1 for f in os.listdir(path) if f.endswith(".parquet"))
    assert before >= 32
    n_after = compact(spark, path, target_file_bytes=1 << 30)
    assert n_after < before
    got = spark.read.parquet(path)
    assert got.count() == ev.count()
    # full content equality via symmetric-difference
    assert got.unionByName(ev).distinct().count() == ev.distinct().count()


def test_compact_restores_an_interrupted_swap(spark, sf_dir, tmp_path):
    """A crash between the swap's two renames leaves the original table
    at ``<path>.bak-merge`` and nothing at ``path``: the next compact
    restores it, then compacts it, with the content equal to the
    original."""
    import os

    from spark_hadoop_automation_in_cloud_spark.io import compact, read_table

    path = str(tmp_path / "frag")
    ev = read_table(spark, sf_dir, "events")
    ev.repartition(8).write.parquet(f"{path}.bak-merge")
    assert compact(spark, path, target_file_bytes=1 << 30) == 1
    assert not os.path.exists(f"{path}.bak-merge")
    got = spark.read.parquet(path)
    assert got.exceptAll(ev).count() == 0 and ev.exceptAll(got).count() == 0


def test_only_io_replaces_directories():
    """One commit protocol: ``io`` (``repair_swap``/``commit_swap``) is
    the only module of the package or ``jobs/`` that renames or deletes
    a directory; every other state writer commits through it."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1]
    banned = {("os", "rename"), ("os", "replace"), ("shutil", "rmtree")}
    found = []
    for f in sorted(
        [*root.glob("spark_hadoop_automation_in_cloud_spark/**/*.py"), *root.glob("jobs/*.py")]
    ):
        if f.relative_to(root).as_posix() == "spark_hadoop_automation_in_cloud_spark/io.py":
            continue
        for node in ast.walk(ast.parse(f.read_text())):
            if isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name):
                hit = (node.value.id, node.attr) in banned
            elif isinstance(node, ast.ImportFrom):
                hit = any((node.module, a.name) in banned for a in node.names)
            else:
                continue
            if hit:
                found.append(f"{f.relative_to(root)}:{node.lineno}")
    assert found == []


def test_read_table_nanos_and_micros_encodings(spark, tmp_path):
    """The same helpers must read events whatever parquet timestamp encoding
    the writer used — round 2 broke when the lake moved from TIMESTAMP(NANOS)
    to TIMESTAMP(MICROS)/NTZ.  Both encodings of identical data must come out
    as identical TIMESTAMP values, with no session conf left behind."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from spark_hadoop_automation_in_cloud_spark.io import _NANOS_CONF, read_table

    ts = [
        dt.datetime(2024, 1, 1, 12, 0, 0, 123456),
        dt.datetime(2024, 6, 1, 0, 0, 1),
    ]
    cols = {"event_id": [1, 2], "user_id": [10, 20]}
    for unit, sub in (("ns", "nanos"), ("us", "micros")):
        d = tmp_path / sub
        d.mkdir()
        pq.write_table(
            pa.table({**cols, "ts": pa.array(ts, type=pa.timestamp(unit))}),
            d / "events.parquet",
            store_schema=False,
        )

    before = spark.conf.get(_NANOS_CONF, None)
    nanos = read_table(spark, str(tmp_path / "nanos"), "events")
    micros = read_table(spark, str(tmp_path / "micros"), "events")
    # no lingering session mutation from the scoped nanos fallback
    assert spark.conf.get(_NANOS_CONF, None) == before

    for df in (nanos, micros):
        assert dict(df.dtypes)["ts"] == "timestamp"
    got_n = [r["ts"] for r in nanos.orderBy("event_id").collect()]
    got_u = [r["ts"] for r in micros.orderBy("event_id").collect()]
    assert got_n == got_u == ts


def test_stream_events_micros_encoding_matches_batch(spark, tmp_path):
    """stream_events must infer the file schema from the files (round 2
    hardcoded nanos-as-long and shrank micros timestamps 1000×): an
    availableNow drain over a micros/NTZ-encoded file yields exactly the
    batch read's timestamps."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from spark_hadoop_automation_in_cloud_spark.io import read_table
    from spark_hadoop_automation_in_cloud_spark.streaming.rollup_stream import (
        stream_events,
    )

    d = tmp_path / "stream_src"
    d.mkdir()
    ts = [dt.datetime(2024, 3, 4, 0, 0, 0), dt.datetime(2024, 3, 5, 6, 7, 8)]
    pq.write_table(
        pa.table(
            {
                "event_id": [1, 2],
                "ts": pa.array(ts, type=pa.timestamp("us")),
                "user_id": [1, 1],
            }
        ),
        d / "events.parquet",
        store_schema=False,
    )
    stream = stream_events(spark, str(d))
    q = (
        stream.writeStream.format("memory")
        .queryName("enc_check")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = [r["ts"] for r in spark.sql("SELECT ts FROM enc_check ORDER BY event_id").collect()]
    want = [
        r["ts"]
        for r in read_table(spark, str(d), "events").orderBy("event_id").collect()
    ]
    assert got == want == ts


def test_stream_events_nanos_encoding_matches_batch(spark, tmp_path):
    """The legacy-nanos stream path: stream_events detects TIMESTAMP(NANOS)
    files via the failed-then-scoped batch probe, pins the nanosAsLong conf
    for the stream's lifetime, and truncates to micros — the drained rows
    must equal the batch read (which DuckDB-truncates identically)."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from spark_hadoop_automation_in_cloud_spark.io import read_table
    from spark_hadoop_automation_in_cloud_spark.streaming.rollup_stream import (
        stream_events,
    )

    d = tmp_path / "stream_src_ns"
    d.mkdir()
    ts = [dt.datetime(2024, 3, 4, 0, 0, 0, 123456), dt.datetime(2024, 3, 5, 6, 7, 8)]
    pq.write_table(
        pa.table(
            {
                "event_id": [1, 2],
                "ts": pa.array(ts, type=pa.timestamp("ns")),
                "user_id": [1, 1],
            }
        ),
        d / "events.parquet",
        store_schema=False,
    )
    from spark_hadoop_automation_in_cloud_spark.io import _NANOS_CONF
    from spark_hadoop_automation_in_cloud_spark.streaming.rollup_stream import (
        legacy_nanos_stream_scope,
    )

    # stream_events pins the conf for the stream's lifetime; the public
    # scope restores the shared session's state when the drain is done
    with legacy_nanos_stream_scope(spark):
        stream = stream_events(spark, str(d))
        q = (
            stream.writeStream.format("memory")
            .queryName("enc_check_ns")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    assert spark.conf.get(_NANOS_CONF, None) is None  # restored on exit
    got = [
        r["ts"]
        for r in spark.sql("SELECT ts FROM enc_check_ns ORDER BY event_id").collect()
    ]
    want = [
        r["ts"]
        for r in read_table(spark, str(d), "events").orderBy("event_id").collect()
    ]
    assert got == want == ts


def test_read_mixed_ts_dir_unions_encodings(spark, tmp_path):
    """A mid-migration directory mixing TIMESTAMP(NANOS), micros/NTZ and
    engine-written TIMESTAMP files must read as one frame with every ts
    normalized to TIMESTAMP — the state a real lake passes through when a
    producer upgrades its writer."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from spark_hadoop_automation_in_cloud_spark.io import read_mixed_ts_dir

    d = tmp_path / "mixed"
    d.mkdir()
    t1 = dt.datetime(2024, 1, 1, 12, 0, 0, 123456)
    t2 = dt.datetime(2024, 6, 1, 0, 0, 1)
    t3 = dt.datetime(2024, 9, 9, 9, 9, 9)
    pq.write_table(
        pa.table({"event_id": [1], "ts": pa.array([t1], type=pa.timestamp("ns"))}),
        d / "old_nanos.parquet",
        store_schema=False,
    )
    pq.write_table(
        pa.table({"event_id": [2], "ts": pa.array([t2], type=pa.timestamp("us"))}),
        d / "new_micros.parquet",
        store_schema=False,
    )
    spark.createDataFrame([(3, t3)], "event_id long, ts timestamp").coalesce(
        1
    ).write.parquet(str(d / "engine_ltz"))
    # move the engine-written file up so the walk sees three leaf files
    import glob
    import shutil

    (src,) = glob.glob(str(d / "engine_ltz" / "*.parquet"))
    shutil.move(src, d / "engine_ltz.parquet")
    shutil.rmtree(d / "engine_ltz")

    out = read_mixed_ts_dir(spark, str(d))
    assert dict(out.dtypes)["ts"] == "timestamp"
    rows = {r["event_id"]: r["ts"] for r in out.collect()}
    assert rows == {1: t1, 2: t2, 3: t3}


def test_ntz_normalization_is_timezone_independent(spark, tmp_path):
    """A vanilla session on a non-UTC host must read the same instants:
    the NTZ->TIMESTAMP normalization uses pure NTZ epoch arithmetic, not a
    session-timezone cast."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from spark_hadoop_automation_in_cloud_spark.io import read_table

    d = tmp_path / "tzcheck"
    d.mkdir()
    ts = [dt.datetime(2024, 1, 1, 12, 0, 0, 123456)]
    pq.write_table(
        pa.table({"event_id": [1], "ts": pa.array(ts, type=pa.timestamp("us"))}),
        d / "events.parquet",
        store_schema=False,
    )
    tz_key = "spark.sql.session.timeZone"
    before = spark.conf.get(tz_key)
    try:
        spark.conf.set(tz_key, "America/Los_Angeles")
        # epoch micros are the tz-independent ground truth for the instant
        got = (
            read_table(spark, str(d), "events")
            .select(F.unix_micros("ts").alias("us"))
            .first()["us"]
        )
    finally:
        spark.conf.set(tz_key, before)
    want = int(ts[0].replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    assert got == want, "NTZ read shifted by the session timezone"


def test_write_zordered_multi_column_file_pruning(spark, sf_dir, tmp_path):
    """Z-order layout: after clustering events by (user_id, value), a
    narrow predicate on EITHER column should overlap only a fraction of
    the files' parquet min/max ranges — whereas a linear sort by user_id
    leaves every file spanning value's full range (no pruning on the
    second column).  Rows themselves must round-trip unchanged (the key
    is layout-only)."""
    import glob as _glob

    import pyarrow.parquet as _pq
    from pyspark.sql import functions as F

    from spark_hadoop_automation_in_cloud_spark.io import read_table, write_zordered

    ev = read_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    zpath, lpath = str(tmp_path / "zord"), str(tmp_path / "linear")
    write_zordered(ev, zpath, ["user_id", "value"], num_files=16)
    (
        ev.repartitionByRange(16, F.col("user_id"))
        .sortWithinPartitions("user_id")
        .write.mode("overwrite")
        .parquet(lpath)
    )

    # layout-only: identical multiset of rows
    back = spark.read.parquet(zpath)
    assert back.count() == ev.count()
    assert back.exceptAll(ev).count() == 0 and ev.exceptAll(back).count() == 0

    def file_ranges(path, col):
        out = []
        for f in _glob.glob(path + "/*.parquet"):
            md = _pq.ParquetFile(f).metadata
            lo = hi = None
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    c = md.row_group(rg).column(ci)
                    if c.path_in_schema == col and c.statistics is not None:
                        lo = c.statistics.min if lo is None else min(lo, c.statistics.min)
                        hi = c.statistics.max if hi is None else max(hi, c.statistics.max)
            if lo is not None:
                out.append((lo, hi))
        return out

    bounds = ev.agg(
        F.min("value").alias("lo"), F.max("value").alias("hi"),
        F.min("user_id").alias("ulo"), F.max("user_id").alias("uhi"),
    ).first()

    def overlap_fraction(path, col, q_lo, q_hi):
        rs = file_ranges(path, col)
        assert len(rs) >= 8, f"expected many files, got {len(rs)}"
        return sum(1 for lo, hi in rs if hi >= q_lo and lo <= q_hi) / len(rs)

    # a 5%-of-span slice of VALUE (the column the linear layout ignores)
    span = bounds["hi"] - bounds["lo"]
    q_lo = bounds["lo"] + 0.40 * span
    q_hi = bounds["lo"] + 0.45 * span
    frac_linear = overlap_fraction(lpath, "value", q_lo, q_hi)
    frac_z = overlap_fraction(zpath, "value", q_lo, q_hi)
    assert frac_linear >= 0.9, frac_linear  # linear layout can't prune value
    assert frac_z <= 0.6, (frac_z, frac_linear)  # z-order must prune most files

    # and the z-layout still prunes on user_id too (not a value-only sort)
    uspan = bounds["uhi"] - bounds["ulo"]
    fu = overlap_fraction(
        zpath, "user_id", bounds["ulo"] + 0.4 * uspan, bounds["ulo"] + 0.45 * uspan
    )
    assert fu <= 0.6, fu


def test_z_interleave_matches_python_reference(spark):
    """The Morton key must be the exact bit interleave (column j's bit i
    at position i*n+j) — checked against an independent Python
    implementation over edge and random-ish cells."""
    from pyspark.sql import functions as F

    from spark_hadoop_automation_in_cloud_spark.functions.zorder import z_interleave

    pts = [(0, 0), (1, 0), (0, 1), (65535, 65535), (12345, 54321), (40000, 7)]
    df = spark.createDataFrame(pts, "x long, y long")
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.select(
            "x", "y", z_interleave([F.col("x"), F.col("y")]).alias("z")
        ).collect()
    }

    def ref(x, y):
        z = 0
        for i in range(16):
            z |= ((x >> i) & 1) << (2 * i) | ((y >> i) & 1) << (2 * i + 1)
        return z

    for x, y in pts:
        assert got[(x, y)] == ref(x, y), (x, y, got[(x, y)], ref(x, y))


def test_zorder_key_four_columns_and_degenerate_inputs(spark):
    """The advertised 4-column case must work out of the box (bits narrow
    to 15 automatically), NULL values land in cell 0 (documented layout
    behavior), and an empty frame yields a usable (all-zero) key instead
    of crashing on missing bounds."""
    from spark_hadoop_automation_in_cloud_spark.functions.zorder import zorder_key

    df = spark.range(100).selectExpr(
        "CAST(id AS DOUBLE) a", "CAST(id % 7 AS DOUBLE) b",
        "CAST(id % 5 AS DOUBLE) c", "CAST(id % 3 AS DOUBLE) d",
    )
    keys = df.select(zorder_key(df, ["a", "b", "c", "d"]).alias("z")).collect()
    assert len({r["z"] for r in keys}) > 1  # real interleave, no overflow error

    with_null = spark.createDataFrame([(None,), (0.0,), (100.0,)], "a double")
    z = with_null.select(zorder_key(with_null, ["a"]).alias("z")).collect()
    assert sorted(r["z"] for r in z)[0] == 0  # NULL row in cell 0, no NULL key
    assert all(r["z"] is not None for r in z)

    empty = spark.createDataFrame([], "a double, b double")
    assert empty.select(zorder_key(empty, ["a", "b"]).alias("z")).count() == 0


def test_bucketed_colocated_join_eliminates_exchange(spark, sf_dir, tmp_path):
    """The bucketed layout's whole value: two tables bucketed on the join
    key with the SAME bucket count join as a SortMergeJoin with ZERO
    Exchange (each scan's HashPartitioning satisfies the join's
    distribution directly), while the identical plain-parquet join
    shuffles both sides.  Broadcast is disabled so the small test tables
    exercise the SMJ path the layout exists for."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    from spark_hadoop_automation_in_cloud_spark.operators import bucketing as bk

    def plan_of(df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain()
        return buf.getvalue()

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source"
    )
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("vec_id")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bk.write_bucketed(docs, "t_bk_docs", str(tmp_path / "d"), "doc_id", 8)
        bk.write_bucketed(emb, "t_bk_emb", str(tmp_path / "e"), "vec_id", 8)
        j = bk.colocated_join(spark, "t_bk_docs", "t_bk_emb", "doc_id", "vec_id")
        plan = plan_of(j)
        assert "Exchange" not in plan, plan
        assert plan.count("SortMergeJoin") == 1, plan
        # A/B: the same join over plain parquet reads shuffles both sides
        pj = docs.join(emb, F.col("doc_id") == F.col("vec_id"))
        assert plan_of(pj).count("Exchange") == 2
        # and the layout changes nothing about the result
        assert j.count() == pj.count() == docs.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        bk.drop_table(spark, "t_bk_docs")
        bk.drop_table(spark, "t_bk_emb")


def test_bucketed_colocated_join_same_key_name(spark, sf_dir, tmp_path):
    """The common co-located shape — BOTH tables bucketed on a column
    named the same — must resolve (a bare col(k) == col(k) condition is
    AMBIGUOUS_REFERENCE against the joined schema) and still eliminate
    the exchange."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    from spark_hadoop_automation_in_cloud_spark.operators import bucketing as bk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source"
    )
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id").alias("doc_id")
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bk.write_bucketed(docs, "t_sk_docs", str(tmp_path / "d"), "doc_id", 8)
        bk.write_bucketed(emb, "t_sk_emb", str(tmp_path / "e"), "doc_id", 8)
        j = bk.colocated_join(spark, "t_sk_docs", "t_sk_emb", "doc_id", "doc_id")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            j.explain()
        assert "Exchange" not in buf.getvalue()
        assert j.count() == docs.count()
        assert j.columns.count("doc_id") == 1  # name-list join dedups the key
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        bk.drop_table(spark, "t_sk_docs")
        bk.drop_table(spark, "t_sk_emb")


def test_read_csv_quarantine_splits(spark, tmp_path):
    """Typed rows parse; malformed lines (wrong arity / bad types) land
    in quarantine with the raw line; the header line drops, not
    quarantines."""
    from spark_hadoop_automation_in_cloud_spark.io import read_csv_quarantine

    p = tmp_path / "landing"
    p.mkdir()
    (p / "a.csv").write_text("id,v\n1,2.5\n2,3.5\nnot,a,number,row\n")
    (p / "b.csv").write_text("id,v\n3,oops\n4,1.25\n")
    parsed, quarantined = read_csv_quarantine(
        spark, str(p), "id bigint, v double", header=True
    )
    rows = {r["id"]: r["v"] for r in parsed.collect()}
    assert rows == {1: 2.5, 2: 3.5, 4: 1.25}
    raw = sorted(r["raw"] for r in quarantined.collect())
    assert raw == ["3,oops", "not,a,number,row"]


def test_read_csv_quarantine_header_with_parameterized_types(spark, tmp_path):
    """A decimal(10,2) schema must not break header detection (the
    naive split-on-comma bug caught in review: the header line would
    quarantine instead of dropping)."""
    from spark_hadoop_automation_in_cloud_spark.io import read_csv_quarantine

    p = tmp_path / "landing2"
    p.mkdir()
    (p / "a.csv").write_text("id,amount\n1,2.50\n2,3.25\n")
    parsed, quarantined = read_csv_quarantine(
        spark, str(p), "id bigint, amount decimal(10,2)", header=True
    )
    assert quarantined.count() == 0
    assert {(r["id"], str(r["amount"])) for r in parsed.collect()} == {
        (1, "2.50"),
        (2, "3.25"),
    }


def test_read_csv_quarantine_header_contract(spark, tmp_path):
    """Pin the documented header contract (r07 ADVICE item 4): the drop
    is exact-match gated on input_file_block_start()==0 — in these
    single-block files a first-block data row rendering as the header
    drops (documented edge a), and a differently-spaced header is NOT
    dropped but quarantines as malformed input (documented edge b)."""
    from spark_hadoop_automation_in_cloud_spark.io import read_csv_quarantine

    p = tmp_path / "landing3"
    p.mkdir()
    (p / "a.csv").write_text("id,name\n1,alpha\nid,name\n")
    (p / "b.csv").write_text("id, name\n3,beta\n")
    parsed, quarantined = read_csv_quarantine(
        spark, str(p), "id bigint, name string", header=True
    )
    rows = {r["id"]: r["name"] for r in parsed.collect()}
    assert rows == {1: "alpha", 3: "beta"}
    # edge a: the mid-file exact header rendering in block 0 dropped
    # silently (absent from BOTH outputs); edge b: the spaced header
    # quarantined as malformed input instead of dropping
    raw = sorted(r["raw"] for r in quarantined.collect())
    assert raw == ["id, name"]
