"""Traced mode: spans around the calls into each layer, plus what Spark
itself records (event log, streaming progress, JMX garbage-collector time).

Spans are recorded from the benchmark's side only: `Tracer.wrap` replaces a
module attribute with a timing wrapper at run time, so the program's own
files are untouched.  Calls made through the module attribute (which is how
the package calls across its modules, and how a module's globals resolve
its own functions) go through the wrapper.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import time


def _get(owner, attr: str):
    return owner[attr] if isinstance(owner, dict) else getattr(owner, attr)


def _set(owner, attr: str, value) -> None:
    if isinstance(owner, dict):
        owner[attr] = value
    else:
        setattr(owner, attr, value)


class Tracer:
    """In-memory spans ``(name, start, end, parent_index)``; written out
    once, when the run ends."""

    def __init__(self) -> None:
        self.spans: list[tuple[str, float, float, int]] = []
        self._stack: list[int] = []
        self._undo: list[tuple[object, str, object]] = []

    def span(self, name: str):
        tracer = self

        class _Span:
            def __enter__(self):
                self.parent = tracer._stack[-1] if tracer._stack else -1
                tracer.spans.append((name, time.perf_counter(), 0.0, self.parent))
                self.idx = len(tracer.spans) - 1
                tracer._stack.append(self.idx)
                return self

            def __exit__(self, *exc):
                tracer._stack.pop()
                n, t0, _, p = tracer.spans[self.idx]
                tracer.spans[self.idx] = (n, t0, time.perf_counter(), p)
                return False

        return _Span()

    def replace(self, owner, attr: str, fn) -> None:
        """Set ``owner.attr`` (``owner[attr]`` for a dict) to ``fn`` until
        `unwrap_all`."""
        self._undo.append((owner, attr, _get(owner, attr)))
        _set(owner, attr, fn)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Time every call of ``owner.attr`` (``owner[attr]`` for a dict)
        as span ``name``."""
        orig = _get(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        self.replace(owner, attr, wrapper)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            _set(owner, attr, orig)
        self._undo.clear()

    def total_ms(self, name: str, t0: float = float("-inf"), t1: float = float("inf")) -> float:
        return 1000.0 * sum(e - s for n, s, e, _ in self.spans if n == name and t0 <= s <= t1)

    def count(self, name: str, t0: float = float("-inf"), t1: float = float("inf")) -> int:
        return sum(1 for n, s, _, _ in self.spans if n == name and t0 <= s <= t1)

    def dump(self) -> list[dict]:
        return [{"name": n, "start": s, "end": e, "parent": p} for n, s, e, p in self.spans]


def catalyst_phases(df) -> dict[str, float]:
    """Plan ``df`` on its own query execution and return the tracker's
    phase durations in ms (analysis / optimization / planning)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for ph in ("analysis", "optimization", "planning"):
        opt = phases.get(ph)
        out[ph] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def gc_ms(spark) -> float:
    """Cumulative JVM garbage-collector time (JMX)."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return float(sum(max(0, b.getCollectionTime()) for b in beans))


def make_progress_listener(spark):
    """A Python `StreamingQueryListener` keeping each epoch's
    ``durationMs`` map."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Progress(StreamingQueryListener):
        def __init__(self):
            self.epochs: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            if p.numInputRows:
                self.epochs.append(dict(p.durationMs))

        def wait_for(self, n: int, timeout_s: float = 10.0) -> None:
            deadline = time.monotonic() + timeout_s
            while len(self.epochs) < n and time.monotonic() < deadline:
                time.sleep(0.05)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = _Progress()
    spark.streams.addListener(listener)
    return listener


# --------------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------------


def read_event_log(log_dir: str) -> dict:
    """Jobs, stages and task metrics from every event log in ``log_dir``.
    Times are epoch milliseconds."""
    jobs: dict[tuple, dict] = {}
    tasks: list[dict] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        app = os.path.basename(path)
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[(app, ev["Job ID"])] = {
                        "app": app, "start": ev["Submission Time"],
                        "stages": ev.get("Stage IDs", []),
                    }
                elif kind == "SparkListenerJobEnd":
                    j = jobs.get((app, ev["Job ID"]))
                    if j is not None:
                        j["end"] = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    ti, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                    sr = tm.get("Shuffle Read Metrics") or {}
                    sw = tm.get("Shuffle Write Metrics") or {}
                    im = tm.get("Input Metrics") or {}
                    tasks.append({
                        "stage": (app, ev["Stage ID"], ev.get("Stage Attempt ID", 0)),
                        "launch": ti["Launch Time"], "finish": ti["Finish Time"],
                        "run_ms": tm.get("Executor Run Time", 0),
                        "cpu_ms": tm.get("Executor CPU Time", 0) / 1e6,
                        "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        "spill": tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
                        "records_in": im.get("Records Read", 0) + sr.get("Total Records Read", 0),
                    })
    return {"jobs": list(jobs.values()), "tasks": tasks}


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def spark_per_op(log: dict, ops: list[tuple[float, float]]) -> dict[str, float]:
    """Per-operation means of the Spark execution metrics.  A job belongs
    to the operation whose wall interval (epoch ms) holds its submission;
    a stage and its tasks belong to the job that lists the stage."""
    per_op: list[list[dict]] = [[] for _ in ops]
    stage_op: dict = {}
    for j in log["jobs"]:
        for i, (s, e) in enumerate(ops):
            if s <= j["start"] <= e:
                per_op[i].append(j)
                for sid in j["stages"]:
                    stage_op[(j["app"], sid)] = i
                break
    op_stages: list[list[list[dict]]] = [[] for _ in ops]
    by_stage: dict = {}
    for t in log["tasks"]:
        by_stage.setdefault(t["stage"], []).append(t)
    for (app, sid, _attempt), ts in by_stage.items():
        i = stage_op.get((app, sid))
        if i is not None:
            op_stages[i].append(ts)
    acc = {k: 0.0 for k in ("jobs", "stages", "tasks", "tasks_nonempty", "driver_gap_ms",
                            "executor_run_ms", "executor_cpu_ms", "shuffle_write_bytes",
                            "shuffle_read_bytes", "spill_bytes")}
    skews = []
    for i, (s, e) in enumerate(ops):
        jobs = per_op[i]
        acc["jobs"] += len(jobs)
        ivals = [(max(s, j["start"]), min(e, j.get("end", e))) for j in jobs]
        acc["driver_gap_ms"] += (e - s) - _union_ms([iv for iv in ivals if iv[1] > iv[0]])
        slowest, slowest_ms = None, -1.0
        for ts in op_stages[i]:
            acc["stages"] += 1
            acc["tasks"] += len(ts)
            acc["tasks_nonempty"] += sum(1 for t in ts if t["records_in"] > 0)
            for key, field in (("executor_run_ms", "run_ms"), ("executor_cpu_ms", "cpu_ms"),
                               ("shuffle_write_bytes", "shuffle_write"),
                               ("shuffle_read_bytes", "shuffle_read"), ("spill_bytes", "spill")):
                acc[key] += sum(t[field] for t in ts)
            dur = max(t["finish"] for t in ts) - min(t["launch"] for t in ts)
            if dur > slowest_ms:
                slowest, slowest_ms = ts, dur
        if slowest:
            d = [t["finish"] - t["launch"] for t in slowest]
            med = statistics.median(d)
            skews.append(max(d) / med if med > 0 else 1.0)
    n = max(1, len(ops))
    out = {f"spark.{k}": v / n for k, v in acc.items()}
    out["spark.task_skew"] = statistics.median(skews) if skews else 0.0
    return out
