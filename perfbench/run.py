"""Benchmark for the engine: one workload per run, in one local Spark.

    python3 perfbench/run.py --workload graph_rounds --seed 1 --seconds 15 --trace 0

Run from the root of a checkout.  The run

1. starts a Spark session at ``local[<cores>]``, half the machine's cpus,
   through the engine's ``session.get_session`` (UI off, 1 GiB heap, a
   generated-code cache that holds every plan of a pass; scratch, shuffle
   and temp files under ``.perfbench/`` in the checkout);
2. generates the workload's inputs from ``--seed`` (``gen_inputs.py``);
3. makes two warm-up passes; the first verifies every operation's output
   against its registered DuckDB oracle (``queries.specs()[i].sql``);
   oracle answers are cached under ``.perfbench/oracle/``, and the time
   spent verifying (reading outputs back, the oracle, comparing) is not
   part of ``setup_s``, so that ``setup_s`` holds only the engine's work;
4. times passes over the workload's operations until ``--seconds`` seconds
   have passed, then checks that the outputs the last pass wrote have the
   verified row counts.

With ``--trace 0`` it reports the end-to-end metrics: ``setup_s`` (steps
1-3), ``pass_cpu_s`` (cpu seconds of one pass: this process plus the
Spark JVM's threads, its JIT and GC threads left out; summed over the
operations, each one's median across the timed passes, so that one slow
pass of one operation does not move it), ``input_rows_per_cpu_s`` and
``driver_peak_rss_mb`` (VmHWM of the Spark JVM, driver and executor in
local mode).  A pass's cpu time, not its wall time, is the end-to-end
cost because on a shared host the wall time follows the host's load:
with 0-20% of the cpus stolen by other machines, the same pass took
6-10 s.  The wall-time figures, ``pass_s`` and ``input_rows_per_s``,
are reported with the per-layer metrics.  With ``--trace 1`` untraced
and traced passes alternate;
traced passes wrap the engine's public functions in spans
(``spans.py``) and read scheduler counters from the status store
(``status_counters.py``); the run reports the per-layer metrics, writes
the per-function table to ``.perfbench/trace/``, and prints the
``bench.machine_factor`` kernels to stderr as a machine-drift diagnostic.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` (operations that raised or gave a wrong answer) and
``metrics``.  Diagnostics go to stderr.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from contextlib import nullcontext

T_PROCESS = time.perf_counter()

import gen_inputs  # noqa: E402
import workloads as wl  # noqa: E402

PKG = "spark_hadoop_automation_in_cloud_spark"
PROCESSED_DATE = "2024-01-31"


def log(*args) -> None:
    print("perfbench:", *args, file=sys.stderr, flush=True)


def cores() -> int:
    """Task slots: half the cpus this process may use, so that the driver
    thread, the JIT and the GC run beside the tasks.  With a slot per cpu,
    each stage waited for the slowest cpu of a shared host."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


#: JVM threads whose cpu use follows the host's timing rather than the
#: pass's work: the JIT compilers, the garbage collector, the VM's own
BACKGROUND_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "GC Thread", "G1 ", "VM ", "Sweeper")


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of the whole machine since boot, from
    ``/proc/stat``: on a shared virtual machine, steal is time the
    hypervisor gave the cpus to someone else."""
    with open("/proc/stat") as f:
        ticks = [int(v) for v in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def _parquet_stats(path: str) -> tuple[int, int, int]:
    """(files, bytes, rows) of the parquet files under ``path``; rows come
    from the file footers."""
    import pyarrow.parquet as pq

    files = size = rows = 0
    for root, _, names in os.walk(path):
        for f in names:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                files += 1
                size += os.path.getsize(p)
                rows += pq.ParquetFile(p).metadata.num_rows
    return files, size, rows


class Oracle:
    """DuckDB answers for a workload's generated files, cached on disk."""

    def __init__(self, data_dir: str, tables: list[str], cache_dir: str, key: str):
        import duckdb

        self.con = duckdb.connect()
        for t in tables:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet/*.parquet')"
            )
        self.cache_dir = cache_dir
        self.key = key
        os.makedirs(cache_dir, exist_ok=True)

    def rows(self, op: str, sql: str) -> list:
        """The oracle's normalized rows, in JSON form (see ``canonical``)."""
        h = hashlib.sha256(f"{self.key}\0{op}\0{sql}".encode()).hexdigest()[:32]
        path = os.path.join(self.cache_dir, f"{op}-{h}.json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        rows = canonical(self.con.execute(sql).fetchdf())
        tmp = f"{path}.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(rows, f)
        os.replace(tmp, path)
        return rows


def canonical(df) -> list:
    """``tests/oracle.normalize`` rows (order-insensitive, doubles at 9dp)
    passed through JSON, so fresh and cached answers compare equal."""
    from tests.oracle import normalize

    return json.loads(json.dumps(normalize(df)))


class Bench:
    def __init__(self, args, root: str, work: str):
        self.args = args
        self.root = root
        self.work = work
        self.ops = wl.WORKLOADS[args.workload]
        self.data = os.path.join(work, "data")
        self.staging = os.path.join(work, "staging")
        self.marts = os.path.join(work, "marts")
        self.cores = cores()
        self.attempted = 0
        self.failed = 0
        self.out_rows: dict[str, int] = {}
        self.tracer = None
        self.verify_s = 0.0

    # --- session ---------------------------------------------------------
    def start_session(self):
        from spark_hadoop_automation_in_cloud_spark.session import SessionConfig, get_session

        tmp = os.path.join(self.work, "tmp")
        # spark-submit's launcher JVM: keep its temp and perf-data files
        # inside the checkout too
        os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        conf = {
            "spark.driver.memory": "1g",
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Xms1g -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            # the timed passes repeat the same plans: with Spark's default
            # 100-entry cache, a graph_rounds pass evicts and recompiles
            # about 54 generated classes, the JIT never settles, and pass
            # times follow the host's load instead of the engine's work
            "spark.sql.codegen.cache.maxEntries": "2000",
        }
        self.spark = get_session(
            SessionConfig(
                app_name="perfbench",
                master=f"local[{self.cores}]",
                shuffle_partitions=32,
                extra_conf=conf,
            )
        )
        self.spark.range(1).count()
        self.gateway = self.spark.sparkContext._gateway
        self.jvm_pid = self.spark.sparkContext._jvm.ProcessHandle.current().pid()

    def stop_session(self) -> None:
        spark = getattr(self, "spark", None)
        if spark is None:
            return
        proc = getattr(self.gateway, "proc", None)
        spark.stop()
        self.gateway.shutdown()
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 — never leave the JVM behind
                proc.kill()
                proc.wait()

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self.jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM not found")

    def codegen_compiles(self) -> int:
        jvm = self.spark.sparkContext._jvm
        return jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()

    def cpu_mark(self) -> tuple[float, dict[int, int]]:
        """This process's cpu seconds, and the clock ticks of each live
        thread of the Spark JVM but its background threads."""
        ticks = {}
        task_dir = f"/proc/{self.jvm_pid}/task"
        for tid in os.listdir(task_dir):
            try:
                with open(f"{task_dir}/{tid}/stat") as f:
                    stat = f.read()
            except OSError:  # the thread has ended
                continue
            name, fields = stat[stat.index("(") + 1 :].rsplit(")", 1)
            if not name.startswith(BACKGROUND_THREADS):
                fields = fields.split()
                ticks[int(tid)] = int(fields[11]) + int(fields[12])  # utime + stime
        t = os.times()
        return t.user + t.system, ticks

    def cpu_since(self, mark: tuple[float, dict[int, int]]) -> float:
        """Cpu seconds this process and the Spark JVM's work threads used
        since ``mark``.  Time the host gave a cpu to another machine
        (steal) is not cpu time, so a loaded host moves this about half as
        much as wall time."""
        own, ticks = self.cpu_mark()
        jvm = sum(n - mark[1].get(tid, 0) for tid, n in ticks.items())
        return own - mark[0] + jvm / os.sysconf("SC_CLK_TCK")

    def persisted_rdds(self) -> int:
        return self.spark.sparkContext._jsc.getPersistentRDDs().size()

    # --- operations ------------------------------------------------------
    def _span(self, name: str, module: str):
        return self.tracer.span(name, module) if self.tracer else nullcontext()

    def run_op(self, op: wl.Op, collect: bool = False):
        """Run one operation; return (call_s, sink_s, output)."""
        from spark_hadoop_automation_in_cloud_spark import io
        from spark_hadoop_automation_in_cloud_spark.sources import mover

        t0 = time.perf_counter()
        if op.sink == "staging":
            mover.move_raw_to_staging(
                self.spark, os.path.join(self.data, "raw_events.parquet"), self.staging
            )
            return time.perf_counter() - t0, 0.0, None
        with self._span(f"queries.{op.name}", "queries"):
            df = self.specs[op.name].fn(self.spark, self.data)
        t1 = time.perf_counter()
        with self._span("sink.action", "sink"):
            if op.sink == "datamart":
                out = io.write_datamart(df, self.marts, op.name, PROCESSED_DATE)
            elif collect:
                out = df.toPandas()
            else:
                out = df.write.format("noop").mode("overwrite").save()
        return t1 - t0, time.perf_counter() - t1, out

    def verify(self, op: wl.Op, out) -> str | None:
        """None when the output is right, else what is wrong."""
        if op.sink == "staging":
            import pyarrow.parquet as pq

            raw = pq.read_table(os.path.join(self.data, "raw_events.parquet")).to_pandas()
            want = {
                (t, d[:10]) for t, d in zip(raw["event_type"], raw["event"].map(lambda e: e["datetime"]))
            }
            got = {
                (t_dir.split("=", 1)[1], d_dir.split("=", 1)[1])
                for t_dir in os.listdir(self.staging)
                if t_dir.startswith("event_type=")
                for d_dir in os.listdir(os.path.join(self.staging, t_dir))
            }
            n = self.out_rows[op.name] = _parquet_stats(self.staging)[2]
            if n != len(raw):
                return f"staging rows {n} != raw rows {len(raw)}"
            if got != want:
                return f"staging partitions differ: {len(got)} vs {len(want)} expected"
            return None
        if op.sink == "datamart":
            out = self.spark.read.parquet(out).toPandas()
        self.out_rows[op.name] = len(out)
        want = self.oracle.rows(op.name, self.specs[op.name].sql)
        got = canonical(out)
        if len(got) != len(want):
            return f"rows spark={len(got)} oracle={len(want)}"
        if got != want:
            bad = next(i for i, (a, b) in enumerate(zip(got, want)) if a != b)
            return f"row {bad}: spark={got[bad]} oracle={want[bad]}"
        return None

    def warm_pass(self) -> None:
        for op in self.ops:
            self.attempted += 1
            try:
                _, _, out = self.run_op(op, collect=True)
                t = time.perf_counter()
                err = self.verify(op, out)
                self.verify_s += time.perf_counter() - t
            except Exception as e:  # noqa: BLE001 — a failing operation is counted
                err = f"raised {type(e).__name__}: {e}"
            if err:
                self.failed += 1
                log(f"FAILED {op.name}: {err}"[:2000])
            else:
                log(f"verified {op.name}: {self.out_rows[op.name]} rows")

    def timed_pass(self, traced: bool) -> dict:
        from status_counters import StatusCounters

        counters = StatusCounters(self.spark) if traced else None
        mark = counters.mark() if traced else None
        if traced:
            self.tracer = self.new_tracer()
            self.tracer.install()
        rec = {"traced": traced, "ops": {}, "leaked": 0, "pass_s": 0.0}
        try:
            for op in self.ops:
                before = self.persisted_rdds()
                self.attempted += 1
                if traced:
                    self.tracer.op = op.name
                cpu = self.cpu_mark()
                try:
                    with self._span(f"op.{op.name}", "perfbench") as s:
                        call_s, sink_s, _ = self.run_op(op)
                except Exception as e:  # noqa: BLE001 — counted, the loop goes on
                    self.failed += 1
                    log(f"FAILED {op.name}: {type(e).__name__}: {e}"[:2000])
                    continue
                rec["ops"][op.name] = {
                    "call_s": call_s, "sink_s": sink_s, "cpu_s": self.cpu_since(cpu),
                }
                if traced:
                    rec["ops"][op.name]["span"] = s
                rec["pass_s"] += call_s + sink_s
                rec["leaked"] += self.persisted_rdds() - before
        finally:
            if traced:
                self.tracer.uninstall()
        if traced:
            window = counters.since(mark)
            self.tracer.attribute(window)
            rec["window"] = window
            rec["tracer"] = self.tracer
            self.tracer = None
        return rec

    def new_tracer(self):
        import importlib
        import pkgutil

        from spans import Tracer

        names = [f"{PKG}.queries", f"{PKG}.io", f"{PKG}.sources.mover"]
        for sub in ("plans", "operators"):
            pkg = importlib.import_module(f"{PKG}.{sub}")
            names += [f"{PKG}.{sub}.{m.name}" for m in pkgutil.iter_modules(pkg.__path__)]
        return Tracer(PKG, [importlib.import_module(n) for n in names])

    # --- the run ---------------------------------------------------------
    def run(self) -> dict:
        args = self.args
        self.start_session()
        session_s = time.perf_counter() - T_PROCESS
        from spark_hadoop_automation_in_cloud_spark import queries

        self.specs = {s.name: s for s in queries.specs()}
        t = time.perf_counter()
        rows = gen_inputs.write(args.workload, args.seed, self.data, self.cores)
        gen_s = time.perf_counter() - t
        self.input_rows = sum(rows[tb] for op in self.ops for tb in op.reads)
        t = time.perf_counter()
        self.oracle = Oracle(
            self.data, [name for name in rows if name != "raw_events"],
            os.path.join(self.root, ".perfbench", "oracle"), gen_inputs.digest(self.data),
        )
        digest_s = time.perf_counter() - t
        t = time.perf_counter()
        self.warm_pass()
        # a second, unverified pass: the first timed passes would otherwise
        # still pay JIT compilation of Spark's and the plans' code
        self.timed_pass(traced=False)
        warm_s = time.perf_counter() - t - self.verify_s
        self.verify_s += digest_s
        setup_s = session_s + gen_s + warm_s
        log(
            f"setup {setup_s:.2f}s = session {session_s:.2f} + inputs {gen_s:.2f} "
            f"+ two warm passes {warm_s:.2f} (verification {self.verify_s:.2f}s excluded)"
        )

        # traced runs interleave untraced and traced passes U T T U ..., two
        # of each at least, so drift between passes cancels in the overhead
        passes = []
        steal0, total0 = cpu_ticks()
        compiles0 = self.codegen_compiles()
        t_end = time.perf_counter() + args.seconds
        while True:
            traced = bool(args.trace) and len(passes) % 4 in (1, 2)
            passes.append(self.timed_pass(traced))
            if time.perf_counter() >= t_end and len(passes) >= (4 if args.trace else 1):
                break
        steal1, total1 = cpu_ticks()
        for p in passes:
            log(
                "traced" if p["traced"] else "pass", "wall/cpu s",
                {k: (round(v["call_s"] + v["sink_s"], 3), round(v["cpu_s"], 3)) for k, v in p["ops"].items()},
            )
        # a diagnostic, not a metric: a slow box shows here, a slow commit not
        log(f"cpu steal during the timed passes: {(steal1 - steal0) / max(1, total1 - total0):.1%}")
        log(f"generated-code compilations during the timed passes: {self.codegen_compiles() - compiles0}")
        untraced = [p for p in passes if not p["traced"]]
        pass_s = self.median_pass(untraced)
        pass_cpu_s = self.median_pass(untraced, lambda r: r["cpu_s"])
        rss = self.peak_rss_mb()
        self.recheck_written()

        if not args.trace:
            metrics = {
                "setup_s": setup_s,
                "pass_cpu_s": pass_cpu_s,
                "input_rows_per_cpu_s": self.input_rows / pass_cpu_s,
                "driver_peak_rss_mb": rss,
            }
        else:
            metrics = self.layer_metrics(passes, pass_s, session_s)
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": wl.unit(k)} for k, v in metrics.items()},
        }

    def recheck_written(self) -> None:
        """The last timed pass rewrote staging and the datamarts: their row
        counts must still match the verified warm-pass outputs."""
        for op in self.ops:
            if op.sink == "noop" or op.name not in self.out_rows:
                continue
            path = self.staging if op.sink == "staging" else os.path.join(self.marts, op.name)
            n = _parquet_stats(path)[2]
            if n != self.out_rows[op.name]:
                self.failed += 1
                log(f"FAILED {op.name}: timed pass wrote {n} rows, verified {self.out_rows[op.name]}")

    def median_pass(self, passes: list[dict], cost=lambda r: r["call_s"] + r["sink_s"]) -> float:
        """Sum over the operations of each one's median cost (by default
        its wall time) across passes."""
        return sum(
            statistics.median(cost(p["ops"][op.name]) for p in passes if op.name in p["ops"])
            for op in self.ops
            if any(op.name in p["ops"] for p in passes)
        )

    def layer_metrics(self, passes: list[dict], pass_s: float, session_s: float) -> dict:
        from status_counters import busy_ms

        traced = [p for p in passes if p["traced"]]
        per_pass = []
        for p in traced:
            win, tracer = p["window"], p["tracer"]
            tot = win.totals()
            m = {name: 0.0 for name in wl.per_layer_names()}
            driver_only = 0.0
            for op in self.ops:
                r = p["ops"].get(op.name)
                if r is None:
                    continue
                s = r["span"]
                jobs = [j for j in win.jobs if s.start_ms <= j.submit_ms <= s.end_ms]
                t = win.totals(jobs)
                m[f"{op.name}.call_s"] = r["call_s"]
                m[f"{op.name}.sink_s"] = r["sink_s"]
                m[f"{op.name}.jobs"] = t.jobs
                m[f"{op.name}.shuffle_write_bytes"] = t.shuffle_write_bytes
                driver_only += s.dur - busy_ms(jobs, s.start_ms, s.end_ms) / 1000.0
                if op.sink == "datamart":
                    m["io.write_s"] += r["sink_s"]
                if op.sink == "staging":
                    m["sources.move_s"] = r["call_s"]
            table = tracer.table(win)
            for row in table:
                layer = row["module"].split(".", 1)[0]
                if layer in wl.SELF_LAYERS:
                    m[f"{layer}.self_s"] += row["self_s"]
            m.update(
                {
                    "spark.jobs": tot.jobs,
                    "spark.stages": tot.stages,
                    "spark.tasks": tot.tasks,
                    "spark.driver_only_s": driver_only,
                    "spark.slot_util": tot.executor_run_ms / 1000.0 / (p["pass_s"] * self.cores),
                    "spark.shuffle_write_bytes": tot.shuffle_write_bytes,
                    "spark.shuffle_write_records": tot.shuffle_write_records,
                    "spark.shuffle_read_bytes": tot.shuffle_read_bytes,
                    "spark.spill_bytes": tot.spill_bytes,
                    "spark.input_records": tot.input_records,
                    "spark.executor_run_s": tot.executor_run_ms / 1000.0,
                    "spark.executor_cpu_s": tot.executor_cpu_ns / 1e9,
                    "spark.gc_s": tot.gc_ms / 1000.0,
                    "storage.leaked_rdds": p["leaked"],
                    "io.rows_scanned_per_output_row": tot.input_records
                    / max(1, sum(self.out_rows.values())),
                }
            )
            per_pass.append((m, table))
        counts = ("spark.jobs", "spark.tasks", "spark.shuffle_write_bytes", "spark.shuffle_write_records")
        for c in counts:
            seen = sorted({m[c] for m, _ in per_pass})
            if len(seen) > 1:
                log(f"note: {c} differed between traced passes: {seen}")
        # times: median over the traced passes; counts: the first traced
        # pass's, so a count stays a whole number that repeats run to run
        metrics = {
            name: per_pass[0][0][name]
            if wl.unit(name) in ("count", "bytes")
            else statistics.median(m[name] for m, _ in per_pass)
            for name in wl.per_layer_names()
        }
        metrics["session.start_s"] = session_s
        metrics["pass_s"] = pass_s
        metrics["input_rows_per_s"] = self.input_rows / pass_s
        metrics["trace.pass_s"] = self.median_pass(traced)
        metrics["trace.overhead_s"] = metrics["trace.pass_s"] - pass_s
        if any(op.sink == "staging" for op in self.ops):
            files, size, _ = _parquet_stats(self.staging)
            _, raw, _ = _parquet_stats(os.path.join(self.data, "raw_events.parquet"))
            metrics["sources.files_written"] = files
            metrics["sources.bytes_written_per_input_byte"] = size / raw
        self.write_trace(metrics, per_pass[-1][1])
        return metrics

    def write_trace(self, metrics: dict, table: list[dict]) -> None:
        import bench

        log("machine_factor (bench.machine_factor kernels, s):")
        mf = bench.machine_factor(self.spark)
        log(json.dumps(mf))
        out_dir = os.path.join(self.root, ".perfbench", "trace")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"{self.args.workload}-seed{self.args.seed}.json")
        note = (
            "spans cover the engine's public functions; a lazy function's "
            "span (planning_only) covers driver-side planning only, and the "
            "plan runs inside the operation's sink.action span"
        )
        with open(path, "w") as f:
            json.dump(
                {"workload": self.args.workload, "seed": self.args.seed, "note": note,
                 "machine_factor": mf, "metrics": metrics, "functions": table},
                f, indent=1,
            )
        log(f"per-layer table ({note}) -> {os.path.relpath(path, self.root)}")
        log(f"{'function':58s} {'calls':>5s} {'total_s':>8s} {'self_s':>8s} {'jobs':>5s} {'tasks':>6s} {'shuf_wr_B':>10s}")
        for r in table:
            lazy = " (planning only)" if r["planning_only"] else ""
            log(
                f"{(r['name'] + lazy)[:58]:58s} {r['calls']:5d} {r['total_s']:8.3f} "
                f"{r['self_s']:8.3f} {r['jobs']:5d} {r['tasks']:6d} {r['shuffle_write_bytes']:10d}"
            )
        log(f"tracing overhead: {metrics['trace.overhead_s']:.3f}s per pass")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(wl.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PKG, "queries.py")):
        log(f"no {PKG}/ here: run from the root of a checkout")
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench", f"run-{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    bench = Bench(args, root, work)
    try:
        result = bench.run()
    finally:
        bench.stop_session()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
