"""Benchmark of the attribution engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload attribution_daily --seed 1 --seconds 4 --trace 0

Run from the repository root.  Every workload is a closed loop with one
client: the next operation starts when the previous one returns.  The
inputs come from ``--seed`` (perfbench/gen.py, in a child process), the
program runs on ``local[k]`` with k = the number of usable cores, and every
operation's output is checked against answers computed apart from the
program, outside the timed region.  The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``).  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "data_engineering_challenge_spark"
WORKLOADS = ("attribution_daily", "analyst_queries", "table_upkeep")
#: session set-ups per run; setup_s reports their median
SETUPS = 3
DRIVER_MEMORY = "1g"


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


_TICK_MS = 1000.0 / os.sysconf("SC_CLK_TCK")


def _cpu_ms(pid) -> float:
    """User + system CPU time of a process so far."""
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) * _TICK_MS


def _new_files(path: str, since: float) -> tuple[int, int]:
    """(files, bytes) of the data files under ``path`` modified at or
    after ``since`` (epoch seconds)."""
    n = size = 0
    for dp, _dn, fns in os.walk(path):
        for fn in fns:
            st = os.stat(os.path.join(dp, fn))
            if fn.endswith((".parquet", ".csv")) and st.st_mtime >= since:
                n += 1
                size += st.st_size
    return n, size


def _steal() -> tuple[int, int]:
    """(steal ticks, all ticks) of the machine so far."""
    with open("/proc/stat") as fh:
        v = [int(x) for x in fh.readline().split()[1:]]
    return v[7], sum(v)


def _all_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(dp, fn))
        for dp, _dn, fns in os.walk(path)
        for fn in fns
    )


class Op:
    """One timed operation: its interval (``perf_counter`` seconds and
    wall-clock ms), whether it failed, and whether its output was wrong."""

    __slots__ = ("kind", "t0", "t1", "wall", "cpu_ms", "ok", "wrong", "note")

    def __init__(self, kind: str, t0: float, t1: float, wall0_ms: float, cpu_ms: float):
        self.kind, self.t0, self.t1, self.cpu_ms = kind, t0, t1, cpu_ms
        self.wall = (wall0_ms, wall0_ms + 1000.0 * (t1 - t0))
        self.ok, self.wrong, self.note = True, False, ""

    @property
    def ms(self) -> float:
        return 1000.0 * (self.t1 - self.t0)


# --------------------------------------------------------------------------
# workloads
# --------------------------------------------------------------------------


class Workload:
    """Set-up (attach + warm-up) and one round of operations.  ``round``
    yields ``(kind, run, check)``: ``run()`` is the timed operation and
    returns its output; ``check(output)`` runs untimed and returns an
    error string or ``None``."""

    #: untimed rounds before the timed ones: enough that the JVM's JIT has
    #: compiled the hot paths (per-operation CPU time stops falling)
    WARM_ROUNDS = 1

    def __init__(self, bench: "Bench"):
        self.b = bench
        self.meta = bench.meta
        self.data = bench.data

    def attach(self) -> None:
        raise NotImplementedError

    def round(self, r: int):
        raise NotImplementedError

    def warm_round(self):
        """The untimed warm-up rounds; their outputs are checked too."""
        for r in range(self.WARM_ROUNDS):
            yield from self.round(r)

    def finish(self) -> list[str]:
        """End-of-run checks; returns error strings."""
        return []

    def wrap_layers(self, tracer) -> None:
        pass


class AttributionDaily(Workload):
    """Repeated ``AttributionPipeline.run(start, end)`` at the default
    config over seeded 7-day windows, after a backfill of the whole span.
    Round 0 is the backfill; every later round re-runs two windows."""

    WARM_ROUNDS = 3

    def attach(self) -> None:
        from data_engineering_challenge_spark.config import PipelineConfig
        from data_engineering_challenge_spark.pipeline import AttributionPipeline

        out = os.path.join(self.b.work, "out")
        shutil.rmtree(out, ignore_errors=True)
        self.cfg = PipelineConfig(
            table_dir=self.data,
            journeys_path=os.path.join(out, "customer_journeys.parquet"),
            report_path=os.path.join(out, "channel_reporting.parquet"),
        )
        self.pipe = AttributionPipeline(self.b.spark, self.cfg)
        for t in ("conversions", "session_sources", "session_costs"):
            self.b.spark.read.parquet(os.path.join(self.data, f"{t}.parquet")).schema
        self.report_state: dict[str, dict] = {}

    def round(self, r: int):
        n = len(self.meta["expected"]) - 1  # [0] is the backfill
        for i in ([0] if r == 0 else [1 + (2 * r - 2) % n, 1 + (2 * r - 1) % n]):
            exp = self.meta["expected"][i]
            a, b = exp["window"]
            yield "pipeline_run", (lambda a=a, b=b: self.pipe.run(a, b)), (lambda _out, exp=exp: self._check(exp))

    def _check(self, exp: dict) -> str | None:
        import checks

        self.report_state = checks.report_state_after(self.report_state, exp)
        return checks.check_pipeline(
            self.data, self.cfg.journeys_path, self.cfg.report_path, exp, self.report_state
        )

    def wrap_layers(self, tracer) -> None:
        from data_engineering_challenge_spark import pipeline
        from data_engineering_challenge_spark.operators import journeys, report
        from data_engineering_challenge_spark.sources import io

        P = pipeline.AttributionPipeline
        tracer.wrap(P, "build_journeys", "pipeline.build_journeys")
        tracer.wrap(P, "attribute", "pipeline.attribute")
        tracer.wrap(P, "report", "pipeline.report")
        tracer.wrap(journeys, "build_journeys", "operators.journeys")
        # the pipeline picks its model from MODELS, bound at import time
        tracer.wrap(pipeline.MODELS, "position_engagement", "operators.attribution")
        tracer.wrap(report, "channel_report", "operators.report")
        self.b.wrap_writes(io)


class AnalystQueries(Workload):
    """Each operation composes one of the 12 bench.py headline queries
    through the registry, plans it and materializes it in full (noop
    sink).  A round runs the 12 once, in the seed's order."""

    def attach(self) -> None:
        import __spark_entry__ as entry

        self.qs = entry.queries()

    def _op(self, name: str):
        b = self.b
        if b.tracer is None:
            df = self.qs[name](b.spark, self.data)
        else:
            with b.tracer.span("queries.compose"):
                df = self.qs[name](b.spark, self.data)
            b.plan_traced(df)
        df.write.format("noop").mode("overwrite").save()

    def round(self, r: int):
        orders = self.meta["orders"]
        for name in orders[r % len(orders)]:
            yield name, (lambda name=name: self._op(name)), None

    def warm_round(self):
        """The warm-up runs the 12 queries with their rows collected
        (through Arrow) and checked against DuckDB running the registry's
        oracle SQL: the noop sink of the timed rounds keeps no rows."""
        import checks

        def collect(name):
            df = self.qs[name](self.b.spark, self.data)
            t = df.toArrow()
            return df.columns, list(zip(*(c.to_pylist() for c in t.columns)))

        for name, exp in self.meta["expected"].items():
            yield name, (lambda name=name: collect(name)), (lambda out, exp=exp: checks.check_rows(*out, exp))


class TableUpkeep(Workload):
    """One snapshot table in a catalog, driven in the seed's order with a
    fixed read/write share: streamed ingest epochs, DELETE / UPDATE /
    MERGE, view refresh and periodic OPTIMIZE as writes, point and range
    SELECTs as reads."""

    READS = ("point", "range")

    def attach(self) -> None:
        import gen
        from data_engineering_challenge_spark.sql_exec import execute_sql
        from data_engineering_challenge_spark.sources import catalog

        b = self.b
        self.cdir = os.path.join(b.work, "catalog")
        self.inbox = os.path.join(b.work, "inbox")
        self.ckpt = os.path.join(b.work, "checkpoint")
        for d in (self.cdir, self.inbox, self.ckpt):
            shutil.rmtree(d, ignore_errors=True)
        os.makedirs(self.inbox)
        base = os.path.join(self.data, "base.parquet")
        execute_sql(b.spark, f"CREATE TABLE upkeep AS SELECT * FROM parquet.`{base}`", self.cdir)
        execute_sql(b.spark, f"CREATE MATERIALIZED VIEW upkeep_by_kind AS {gen.MVIEW_SQL}", self.cdir)
        self.root = catalog.catalog_entries(self.cdir)["upkeep"]["root"]
        schema = b.spark.read.parquet(base).schema
        self.stream = b.spark.readStream.schema(schema).parquet(self.inbox)
        self.ingested_bytes = 0
        self.last_state = None

    def _ingest(self) -> None:
        from data_engineering_challenge_spark.sources import snapshots

        snapshots.run_streaming_snapshot_sink(self.stream, self.root, self.ckpt)

    def round(self, r: int):
        import checks
        from data_engineering_challenge_spark.sql_exec import execute_sql

        n = self.meta["round_len"]
        for i in range(r * n, min((r + 1) * n, len(self.meta["steps"]))):
            st, exp = self.meta["steps"][i], self.meta["expected"][i]
            if st["op"] == "ingest":
                # landing the file is untimed; the epoch that picks it up is the op
                src = os.path.join(self.data, "landing", st["file"])
                shutil.copy(src, os.path.join(self.inbox, st["file"]))
                self.ingested_bytes += os.path.getsize(src)
                run = self._ingest
            elif st["op"] in self.READS:
                run = lambda st=st: self._select(st["sql"])  # noqa: E731
            else:
                run = lambda st=st: execute_sql(self.b.spark, st["sql"], self.cdir)  # noqa: E731
            if st["op"] in self.READS:
                yield st["op"], run, (lambda out, exp=exp: checks.check_rows(*out, exp))
            else:
                yield st["op"], run, None
                self.last_state = exp
                if self.b.tracer is not None:
                    self.b.delete_files_live.append(len(self._manifest().get("delete_files") or []))

    def _select(self, sql: str):
        from data_engineering_challenge_spark.sql_exec import execute_sql

        b = self.b
        df = execute_sql(b.spark, sql, self.cdir)
        if b.tracer is not None:
            b.plan_traced(df)
            b.files_scanned.append(len(df.inputFiles()))
            b.files_in_table.append(len(self._manifest()["files"]))
        return df.columns, [tuple(r) for r in df.collect()]

    def _manifest(self) -> dict:
        from data_engineering_challenge_spark.sources import snapshots

        return snapshots._read_manifest(self.root, snapshots.current_version(self.root))

    def finish(self) -> list[str]:
        import checks
        import gen
        from data_engineering_challenge_spark.sql_exec import execute_sql

        def rows(sql):
            return [tuple(r) for r in execute_sql(self.b.spark, sql, self.cdir).collect()]

        count = rows("SELECT COUNT(*) FROM upkeep")[0][0]
        self.bytes_per_row = _all_bytes(self.root) / max(1, count)
        return checks.check_upkeep_final(
            count,
            rows(gen.MVIEW_SQL),
            rows("SELECT kind, n, amt, qty FROM upkeep_by_kind"),
            self.last_state,
        )

    def wrap_layers(self, tracer) -> None:
        from data_engineering_challenge_spark import sql_exec
        from data_engineering_challenge_spark.sources import catalog, snapshots

        b = self.b
        tracer.wrap(sql_exec, "execute_sql", "sql_exec.execute_sql")
        tracer.wrap(snapshots, "_commit", "snapshots.commit")
        tracer.wrap(snapshots, "run_streaming_snapshot_sink", "streaming.sink")
        tracer.wrap(catalog, "refresh_mview", "catalog.refresh_mview")
        b.listener = b.trace_mod.make_progress_listener(b.spark)


WORKLOAD_CLASSES = {
    "attribution_daily": AttributionDaily,
    "analyst_queries": AnalystQueries,
    "table_upkeep": TableUpkeep,
}


# --------------------------------------------------------------------------
# the run
# --------------------------------------------------------------------------


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: str):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.work = work
        self.data = os.path.join(work, "data")
        self.cores = _cores()
        self.spark = None
        self.tracer = None
        self.trace_mod = None
        self.listener = None
        self.catalyst: list[dict] = []
        self.files_scanned: list[int] = []
        self.files_in_table: list[int] = []
        self.io_files: list[tuple[int, int]] = []
        self.delete_files_live: list[int] = []
        self.want_trace = trace

    # -- inputs ------------------------------------------------------------

    def generate(self) -> None:
        subprocess.run(
            [sys.executable, os.path.join(HERE, "gen.py"), "--workload", self.workload,
             "--seed", str(self.seed), "--out", self.data],
            check=True, cwd=ROOT, timeout=170,
        )
        with open(os.path.join(self.data, "expected.json")) as fh:
            self.meta = json.load(fh)

    # -- set-up ------------------------------------------------------------

    def _conf(self):
        from pyspark import SparkConf

        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        conf = (
            SparkConf()
            .set("spark.driver.memory", DRIVER_MEMORY)
            .set("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEMORY} -XX:-UsePerfData")
            .set("spark.local.dir", tmp)
            .set("spark.ui.enabled", "false")
            .set("spark.ui.showConsoleProgress", "false")
        )
        if self.want_trace:
            self.event_dir = os.path.join(self.work, "eventlog")
            os.makedirs(self.event_dir, exist_ok=True)
            conf.set("spark.eventLog.enabled", "true").set("spark.eventLog.dir", self.event_dir)
            conf.set("spark.eventLog.rolling.enabled", "false").set("spark.eventLog.compress", "false")
        return conf

    def _session(self):
        from data_engineering_challenge_spark.session import get_spark

        conf = self._conf()
        spark = get_spark(
            app_name=f"perfbench-{self.workload}",
            master=f"local[{self.cores}]",
            shuffle_partitions=self.cores,
            extra_conf=dict(conf.getAll()),
        )
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def setup(self) -> dict:
        """Launch (imports + JVM), then SETUPS session set-ups (session,
        first job, attach through the program); the last session is kept
        and warmed with one untimed round."""
        t = time.perf_counter()
        from pyspark import SparkContext

        sys.path.insert(0, ROOT)
        sys.path.insert(0, HERE)
        import __spark_entry__  # noqa: F401  (the registry import is part of launch)

        SparkContext._ensure_initialized(conf=self._conf())
        launch = time.perf_counter() - t
        starts, first_jobs, attaches = [], [], []
        for i in range(SETUPS):
            if self.spark is not None:
                self.spark.stop()
            t = time.perf_counter()
            self.spark = self._session()
            starts.append(time.perf_counter() - t)
            t = time.perf_counter()
            self.spark.range(1000).selectExpr("sum(id)").collect()
            first_jobs.append(time.perf_counter() - t)
            self.wl = WORKLOAD_CLASSES[self.workload](self)
            t = time.perf_counter()
            self.wl.attach()
            attaches.append(time.perf_counter() - t)
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        t = time.perf_counter()
        self.warm_ops = self._round(self.wl.warm_round(), timed=False)
        warmup = time.perf_counter() - t
        med = statistics.median([s + f + a for s, f, a in zip(starts, first_jobs, attaches)])
        return {
            "setup_s": launch + med + warmup,
            "session.launch_s": launch,
            "session.start_s": statistics.median(starts),
            "session.first_job_s": statistics.median(first_jobs),
            "setup.attach_s": statistics.median(attaches),
            "setup.warmup_s": warmup,
        }

    # -- the loop ----------------------------------------------------------

    def _round(self, steps, timed: bool = True) -> list[Op]:
        ops = []
        for kind, run, check in steps:
            c0 = self._cpu()
            w0 = time.time() * 1000.0
            t0 = time.perf_counter()
            try:
                out = run()
                err = None
            except Exception as e:  # an operation that raises counts as failed
                out, err = None, f"{type(e).__name__}: {str(e)[:300]}"
            op = Op(kind, t0, time.perf_counter(), w0, self._cpu() - c0)
            if err is None and check is not None:
                err = check(out)
                op.wrong = err is not None
            if err is not None:
                op.ok, op.note = False, err
                print(f"[perfbench] {'op' if timed else 'warm-up op'} {kind} failed: {err}",
                      file=sys.stderr)
            ops.append(op)
        return ops

    def _cpu(self) -> float:
        """CPU ms of the JVM and this Python process."""
        return _cpu_ms(self.jvm_pid) + _cpu_ms("self")

    def loop(self) -> list[Op]:
        ops: list[Op] = []
        busy = 0.0
        r = self.wl.WARM_ROUNDS
        while busy < self.seconds:
            done = self._round(self.wl.round(r))
            if not done:
                raise RuntimeError(f"the generated inputs ran out after {r} rounds")
            ops.extend(done)
            busy += sum(o.t1 - o.t0 for o in done)
            r += 1
        return ops

    def plan_traced(self, df) -> None:
        """Traced mode: plan ``df`` on its own query execution and keep
        Catalyst's phase times."""
        with self.tracer.span("catalyst.plan"):
            self.catalyst.append(self.trace_mod.catalyst_phases(df))

    def wrap_writes(self, io) -> None:
        """Traced mode: span each parquet / CSV write, plan its DataFrame
        first, and count the files and bytes it wrote."""
        for name in ("write_parquet", "write_csv"):

            def traced(df, path, *a, _orig=getattr(io, name), _span=f"io.{name}", **k):
                self.plan_traced(df)
                since = time.time()
                with self.tracer.span(_span):
                    out = _orig(df, path, *a, **k)
                self.io_files.append(_new_files(path, since))
                return out

            self.tracer.replace(io, name, traced)

    # -- metrics -----------------------------------------------------------

    def end_to_end(self, setup: dict, ops: list[Op]) -> dict:
        return {
            "setup_s": (setup["setup_s"], "s"),
            "cpu_ms_per_op": (sum(o.cpu_ms for o in ops) / len(ops), "ms"),
            "peak_rss_mb": (self.peak_rss, "MB"),
        }

    def per_layer(self, setup: dict, ops: list[Op], gc_ms: float, log: dict) -> dict:
        """Every per-layer metric, as a mean per operation of the run
        (per write or read operation where the name says so); 0 where the
        layer does not run on this workload."""
        tr = self.tracer
        n = len(ops)

        def per_op(span: str, subset=None) -> float:
            sub = ops if subset is None else subset
            if not sub:
                return 0.0
            return sum(tr.total_ms(span, o.t0, o.t1) for o in sub) / len(sub)

        kinds = {o.kind for o in ops}
        reads = [o for o in ops if o.kind in TableUpkeep.READS] if self.workload == "table_upkeep" else []
        writes = [o for o in ops if o.kind not in TableUpkeep.READS] if self.workload == "table_upkeep" else []
        m = {k: v for k, v in setup.items() if k != "setup_s"}
        m["queries.compose_ms"] = per_op("queries.compose")
        for ph in ("analysis", "optimization", "planning"):
            m[f"catalyst.{ph}_ms"] = sum(c[ph] for c in self.catalyst) / n
        m.update(self.trace_mod.spark_per_op(log, [o.wall for o in ops]))
        m["spark.jvm_gc_ms"] = gc_ms / n
        m["pipeline.build_journeys_ms"] = per_op("pipeline.build_journeys")
        m["pipeline.attribute_ms"] = per_op("pipeline.attribute")
        m["pipeline.report_ms"] = per_op("pipeline.report")
        m["pipeline.jobs"] = m["spark.jobs"] if "pipeline_run" in kinds else 0.0
        m["io.write_parquet_ms"] = per_op("io.write_parquet")
        m["io.write_csv_ms"] = per_op("io.write_csv")
        m["io.files_written"] = sum(f for f, _ in self.io_files) / n
        m["io.bytes_written"] = sum(b for _, b in self.io_files) / n
        m["sql_exec.select_ms"] = per_op("sql_exec.execute_sql", reads)
        m["sql_exec.dml_ms"] = per_op(
            "sql_exec.execute_sql", [o for o in ops if o.kind in ("delete", "update", "merge")]
        )
        m["sql_exec.optimize_ms"] = per_op("sql_exec.execute_sql", [o for o in ops if o.kind == "optimize"])
        m["sql_exec.files_scanned"] = statistics.mean(self.files_scanned) if self.files_scanned else 0.0
        m["sql_exec.files_in_table"] = statistics.mean(self.files_in_table) if self.files_in_table else 0.0
        m["snapshots.commits"] = (
            sum(tr.count("snapshots.commit", o.t0, o.t1) for o in writes) / len(writes) if writes else 0.0
        )
        m["snapshots.commit_ms"] = per_op("snapshots.commit", writes)
        live = self.delete_files_live
        m["snapshots.delete_files_live"] = statistics.mean(live) if live else 0.0
        m["catalog.refresh_mview_ms"] = per_op("catalog.refresh_mview", [o for o in ops if o.kind == "refresh"])
        ep = self.listener.epochs if self.listener is not None else []
        for key, field in (("epoch_ms", "triggerExecution"), ("add_batch_ms", "addBatch"),
                           ("query_planning_ms", "queryPlanning"), ("wal_commit_ms", "walCommit"),
                           ("commit_offsets_ms", "commitOffsets"), ("latest_offset_ms", "latestOffset")):
            m[f"streaming.{key}"] = statistics.mean(e.get(field, 0) for e in ep) if ep else 0.0
        m.update(self.table_layout)
        return m

    # -- result ------------------------------------------------------------

    def run(self) -> dict:
        if self.want_trace:
            import tracing

            self.trace_mod = tracing
        setup = self.setup()
        if self.want_trace:
            self.tracer = self.trace_mod.Tracer()
            self.wl.wrap_layers(self.tracer)
            gc0 = self.trace_mod.gc_ms(self.spark)
        upkeep = self.workload == "table_upkeep"
        pre = self._table_files() if upkeep else set()
        st0 = _steal()
        ops = self.loop()
        st1 = _steal()
        self.steal_share = (st1[0] - st0[0]) / max(1, st1[1] - st0[1])
        if self.tracer is not None:
            gc_ms = self.trace_mod.gc_ms(self.spark) - gc0
            if self.listener is not None:  # progress events arrive asynchronously
                self.listener.wait_for(sum(1 for o in ops if o.kind == "ingest"))
        self.peak_rss = _vm_hwm_mb(self.jvm_pid) + _vm_hwm_mb("self")
        if self.tracer is not None:
            self.tracer.unwrap_all()
        t = time.perf_counter()
        errors = self.wl.finish()
        finish_s = time.perf_counter() - t
        for e in errors:
            print(f"[perfbench] check failed: {e}", file=sys.stderr)
        # a kind whose warm-up output was wrong counts as failed in every round
        wrong_kinds = {o.kind for o in self.warm_ops if o.wrong}
        failed = sum(1 for o in ops if not o.ok or o.kind in wrong_kinds)
        correct = not errors and not wrong_kinds and not any(o.wrong for o in ops)

        e2e = self.end_to_end(setup, ops)
        busy = sum(o.t1 - o.t0 for o in ops)
        detail = {
            "workload": self.workload, "seed": self.seed, "traced": self.tracer is not None,
            "local": self.cores, "driver_memory": DRIVER_MEMORY, "ops": len(ops),
            "end_to_end": {k: v for k, (v, _u) in e2e.items()},
            "ops_per_s": len(ops) / busy,
            "op_p50_ms": statistics.median(o.ms for o in ops),
            "op_ms": [round(o.ms, 1) for o in ops],
            "op_cpu_ms": [round(o.cpu_ms, 1) for o in ops],
            "steal_share": self.steal_share,
            "wall_s": {"loop": busy, "final_checks": finish_s},
            "op_p50_ms_by_kind": {
                k: statistics.median(o.ms for o in ops if o.kind == k)
                for k in sorted({o.kind for o in ops})
            },
        }
        self.table_layout = {}
        if upkeep:
            reads = [o.ms for o in ops if o.kind in TableUpkeep.READS]
            writes = [o.ms for o in ops if o.kind not in TableUpkeep.READS]
            self.table_layout = self._layout(pre, writes, reads)
            detail["table_upkeep"] = {k.split(".", 1)[1]: self.table_layout[k] for k in UPKEEP_METRICS}
        if self.tracer is None:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        else:
            self.close()  # flushes the event log
            layers = self.per_layer(setup, ops, gc_ms, self.trace_mod.read_event_log(self.event_dir))
            metrics = {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in PER_LAYER.items()}
            self._write_trace(layers, detail)
        print(json.dumps({"detail": detail}))
        return {"correct": correct, "attempted": len(ops), "failed": failed, "metrics": metrics}

    def _table_files(self) -> set[str]:
        return {os.path.join(dp, f) for dp, _d, fs in os.walk(self.wl.root) for f in fs}

    def _layout(self, pre: set[str], writes: list[float], reads: list[float]) -> dict:
        """table_upkeep's read / write latencies and table-level numbers:
        data files added per write operation and bytes written under the
        table root per byte ingested."""
        new = [p for p in self._table_files() - pre if os.path.exists(p)]
        return {
            "upkeep.write_p50_ms": statistics.median(writes),
            "upkeep.read_p50_ms": statistics.median(reads),
            "upkeep.table_bytes_per_row": self.wl.bytes_per_row,
            "snapshots.files_added": sum(1 for p in new if p.endswith(".parquet")) / len(writes),
            "snapshots.write_amplification": sum(os.path.getsize(p) for p in new) / self.wl.ingested_bytes,
        }

    def _write_trace(self, layers: dict, detail: dict) -> None:
        out = os.path.join(ROOT, ".perfbench_work", "traces")
        os.makedirs(out, exist_ok=True)
        path = os.path.join(out, f"{self.workload}-seed{self.seed}-{int(time.time())}.json")
        with open(path, "w") as fh:
            json.dump({"detail": detail, "per_layer": layers, "spans": self.tracer.dump()}, fh)

    def close(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None


def _stop_jvm() -> None:
    """End the JVM that pyspark launched and wait for it: the gateway
    exits when its stdin closes."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


UPKEEP_METRICS = ("upkeep.write_p50_ms", "upkeep.read_p50_ms", "upkeep.table_bytes_per_row")

#: every per-layer metric with its unit, in BENCHMARK.json's order
PER_LAYER: dict[str, str] = {
    "session.launch_s": "s", "session.start_s": "s", "session.first_job_s": "s",
    "setup.attach_s": "s", "setup.warmup_s": "s",
    "queries.compose_ms": "ms", "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms", "catalyst.planning_ms": "ms",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.tasks_nonempty": "count", "spark.driver_gap_ms": "ms",
    "spark.executor_run_ms": "ms", "spark.executor_cpu_ms": "ms",
    "spark.shuffle_write_bytes": "B", "spark.shuffle_read_bytes": "B",
    "spark.spill_bytes": "B", "spark.task_skew": "ratio", "spark.jvm_gc_ms": "ms",
    "pipeline.build_journeys_ms": "ms", "pipeline.attribute_ms": "ms",
    "pipeline.report_ms": "ms", "pipeline.jobs": "count",
    "io.write_parquet_ms": "ms", "io.write_csv_ms": "ms",
    "io.files_written": "count", "io.bytes_written": "B",
    "sql_exec.select_ms": "ms", "sql_exec.files_scanned": "count",
    "sql_exec.files_in_table": "count", "sql_exec.dml_ms": "ms",
    "sql_exec.optimize_ms": "ms", "snapshots.commits": "count",
    "snapshots.commit_ms": "ms", "snapshots.files_added": "count",
    "catalog.refresh_mview_ms": "ms",
    "streaming.epoch_ms": "ms", "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms", "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms", "streaming.latest_offset_ms": "ms",
    "snapshots.delete_files_live": "count", "snapshots.write_amplification": "ratio",
    "upkeep.write_p50_ms": "ms", "upkeep.read_p50_ms": "ms",
    "upkeep.table_bytes_per_row": "B/row",
}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ next to perfbench/ — run from a checkout of the repository",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace), work)
    marks = [("start", time.perf_counter())]
    try:
        bench.generate()
        marks.append(("generate", time.perf_counter()))
        result = bench.run()
        marks.append(("run", time.perf_counter()))
    finally:
        bench.close()
        if "pyspark" in sys.modules:
            _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    marks.append(("close", time.perf_counter()))
    print("[perfbench] wall s: " + ", ".join(
        f"{b[0]} {b[1] - a[1]:.1f}" for a, b in zip(marks, marks[1:])), file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
