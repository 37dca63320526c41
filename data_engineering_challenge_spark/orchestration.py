"""Executable orchestration artifact — the Spark-native counterpart of the
reference's Airflow DAG (reference dags/attribution_pipeline_dag.py:35-81:
FileSensor → build_journeys → send_to_api → generate_report, chained).

The core is a SCHEDULER-AGNOSTIC step graph: named steps, explicit
upstream edges, deterministic topological execution with fail-fast and a
per-step run report.  One graph definition serves every deployment mode:

* ``StepGraph.run()`` — in-process execution (one Spark application runs
  all steps; the steps are lazy DataFrame definitions materialized by
  writes, so a single app gets whole-pipeline scheduling and no cold JVM
  per step — the ``--step all`` path, now with explicit dependency
  structure and per-step timing);
* ``wait_for_flag`` — the FileSensor twin (poll a ready-flag path with a
  poke interval and timeout; ORCHESTRATION.md maps the streaming
  ``availableNow`` alternative);
* ``to_airflow_dag`` — an adapter that emits a real Airflow DAG (one
  PythonOperator per step, dependencies wired from the same edges).
  Airflow is not installed in this environment, so the adapter is
  IMPORT-GATED: it raises a clear ImportError naming the missing package
  rather than failing at import time (the environment rule for optional
  integrations); everything else in this module is dependency-free.

At 100 TB nothing here changes: steps hand each other TABLE PATHS
(object-store parquet/snapshot roots), never driver-side data, so the
orchestrator moves only metadata and each step is an independent Spark
submit if the deployment wants pod-per-step (the reference's
KubernetesPodOperator shape — see ORCHESTRATION.md for the submit
mapping).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field
from typing import Any, Callable


@dataclass
class Step:
    """One node: ``fn(context) -> result`` plus upstream step names."""

    name: str
    fn: Callable[[dict], Any]
    upstream: list[str] = field(default_factory=list)


class StepGraph:
    """A tiny deterministic DAG runner: explicit edges, stable
    topological order (insertion order among ready steps — reruns
    execute identically), cycle/unknown-edge validation up front, and
    fail-fast execution with a per-step report."""

    def __init__(self) -> None:
        self._steps: dict[str, Step] = {}

    def add(
        self,
        name: str,
        fn: Callable[[dict], Any],
        upstream: list[str] | None = None,
    ) -> "StepGraph":
        if name in self._steps:
            raise ValueError(f"StepGraph: duplicate step {name!r}")
        self._steps[name] = Step(name, fn, list(upstream or []))
        return self

    def topo_order(self) -> list[str]:
        """Kahn's algorithm with insertion-order tie-break; raises on a
        cycle or an edge to an unknown step (a typo'd dependency must
        never silently reorder the pipeline)."""
        for s in self._steps.values():
            for u in s.upstream:
                if u not in self._steps:
                    raise ValueError(
                        f"StepGraph: step {s.name!r} depends on unknown "
                        f"step {u!r}"
                    )
        pending = {n: set(s.upstream) for n, s in self._steps.items()}
        order: list[str] = []
        while pending:
            ready = [n for n in pending if not pending[n]]
            if not ready:
                raise ValueError(
                    f"StepGraph: cycle among {sorted(pending)!r}"
                )
            n = ready[0]  # insertion order (dict order) → deterministic
            order.append(n)
            del pending[n]
            for deps in pending.values():
                deps.discard(n)
        return order

    def run(self, context: dict | None = None) -> dict[str, dict]:
        """Execute every step in topological order, fail-fast.  Each
        step receives the shared ``context`` dict (step results land in
        ``context['results'][name]`` so downstream steps can read
        upstream outputs — though production steps should hand each
        other TABLE PATHS, not objects).  Returns the run report:
        {step: {status, seconds, error}}.  On failure the exception is
        re-raised with the partial report (failed step + skipped
        downstream) attached as ``exc.step_report`` so callers can
        still render per-step status after a crash."""
        ctx = dict(context or {})
        ctx.setdefault("results", {})
        report: dict[str, dict] = {}
        order = self.topo_order()
        for name in order:
            t0 = time.monotonic()
            try:
                ctx["results"][name] = self._steps[name].fn(ctx)
            except Exception as exc:
                report[name] = {
                    "status": "failed",
                    "seconds": time.monotonic() - t0,
                    "error": f"{type(exc).__name__}: {exc}",
                }
                # fail-fast: downstream steps must not run on a broken
                # upstream — mark them skipped for the report
                for rest in order[order.index(name) + 1 :]:
                    report[rest] = {
                        "status": "skipped",
                        "seconds": 0.0,
                        "error": None,
                    }
                try:  # observable after the raise (skip exotic
                    exc.step_report = report  # __slots__ exceptions)
                except AttributeError:
                    pass
                raise
            report[name] = {
                "status": "ok",
                "seconds": time.monotonic() - t0,
                "error": None,
            }
        return report

    def to_airflow_dag(self, dag_id: str, **dag_kwargs):
        """Emit an Airflow DAG (one PythonOperator per step, edges wired
        from the same graph) — the deployment adapter for the reference's
        scheduler (reference dags/attribution_pipeline_dag.py:45-81 runs
        the identical step sequence as pod operators).  IMPORT-GATED:
        raises ImportError with the package name if Airflow is absent.

        RESTRICTION: under Airflow every task runs in its own process,
        so each step gets a FRESH empty context — a graph whose steps
        read upstream outputs via ``ctx['results']`` works under
        `run()` but not here.  Steps must communicate through storage
        paths (the module's stated production discipline; the
        attribution graph already does)."""
        try:
            from airflow import DAG
            from airflow.operators.python import PythonOperator
        except ImportError as exc:  # pragma: no cover - airflow optional
            raise ImportError(
                "StepGraph.to_airflow_dag requires the optional "
                "'apache-airflow' package (not installed in this "
                "environment); use StepGraph.run() for in-process "
                "execution or drive run_pipeline.py --step ... from any "
                "scheduler (see ORCHESTRATION.md)"
            ) from exc
        dag = DAG(dag_id, **dag_kwargs)  # pragma: no cover - airflow optional
        ops = {}  # pragma: no cover
        for name in self.topo_order():  # pragma: no cover
            step = self._steps[name]
            ops[name] = PythonOperator(
                task_id=name,
                python_callable=lambda s=step: s.fn({"results": {}}),
                dag=dag,
            )
            for u in step.upstream:
                ops[u] >> ops[name]
        return dag  # pragma: no cover


def wait_for_flag(
    path: str, timeout_s: float = 7200.0, poke_interval_s: float = 300.0
) -> bool:
    """FileSensor twin (reference dags:35-42: poke every 300 s, 2 h
    timeout, reschedule mode): poll for a ready-flag path; True when it
    appears, TimeoutError after ``timeout_s`` — loud, like the sensor's
    timeout, never a silent skip."""
    deadline = time.monotonic() + timeout_s
    while True:
        if os.path.exists(path):
            return True
        if time.monotonic() >= deadline:
            raise TimeoutError(
                f"wait_for_flag: {path} did not appear within {timeout_s}s"
            )
        time.sleep(min(poke_interval_s, max(0.0, deadline - time.monotonic())))


def attribution_pipeline_graph(
    spark,
    cfg,
    start_date: str | None = None,
    end_date: str | None = None,
    ready_flag: str | None = None,
    poke_interval_s: float = 300.0,
    sensor_timeout_s: float = 7200.0,
) -> StepGraph:
    """The reference DAG, step for step (dags/attribution_pipeline_dag.py:
    35-81): optional ``wait_for_data`` sensor → ``build_journeys`` →
    ``send_to_api`` → ``generate_report``, chained.  Steps communicate
    through the parquet paths in ``cfg`` (the reference's shared /data
    volume), so each step is restartable in isolation and the graph is
    trivially splittable into one Spark submit per step."""
    from .pipeline import AttributionPipeline

    pipe = AttributionPipeline(spark, cfg)

    def _written_count(path: str) -> int:
        """Row count of the artifact a step just WROTE — a footer-
        metadata read of the materialized parquet, never a re-execution
        of the step's lazy plan (re-running attribute()'s plan would
        re-fire every external HTTP scorer call).  Read through the
        pipeline's schema memo: a full build with no journeys writes an
        empty table, with no file a schema could be inferred from."""
        return pipe._read(path).count()

    g = StepGraph()
    sensor: list[str] = []
    if ready_flag is not None:
        g.add(
            "wait_for_data",
            lambda ctx: wait_for_flag(
                ready_flag, sensor_timeout_s, poke_interval_s
            ),
        )
        sensor = ["wait_for_data"]

    def step_journeys(ctx: dict) -> int:
        pipe.build_journeys(start_date, end_date)  # writes journeys_path
        return _written_count(cfg.journeys_path)

    def step_attribute(ctx: dict) -> int:
        # empty-journeys guard mirrors AttributionPipeline.run: with no
        # journeys there is nothing to attribute or report
        if _written_count(cfg.journeys_path) == 0:
            return 0
        pipe.attribute()  # writes attribution_customer_journey
        return _written_count(pipe._out("attribution_customer_journey"))

    def step_report(ctx: dict) -> int:
        if _written_count(cfg.journeys_path) == 0:
            return 0  # nothing attributed (empty input) — nothing to report
        pipe.report(start_date, end_date)  # writes report_path
        return _written_count(cfg.report_path)

    g.add("build_journeys", step_journeys, upstream=sensor)
    g.add("send_to_api", step_attribute, upstream=["build_journeys"])
    g.add("generate_report", step_report, upstream=["send_to_api"])
    return g
