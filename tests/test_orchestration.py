"""Orchestration artifact: deterministic step-graph execution, sensor
semantics, and the attribution DAG end-to-end (reference
dags/attribution_pipeline_dag.py:35-81 parity)."""

from __future__ import annotations

import threading
import time

import pytest

from data_engineering_challenge_spark.orchestration import (
    StepGraph,
    attribution_pipeline_graph,
    wait_for_flag,
)


def test_topo_order_deterministic_and_validated():
    g = StepGraph()
    g.add("a", lambda c: "a")
    g.add("b", lambda c: "b", upstream=["a"])
    g.add("c", lambda c: "c", upstream=["a"])
    g.add("d", lambda c: "d", upstream=["b", "c"])
    assert g.topo_order() == ["a", "b", "c", "d"]  # insertion tie-break

    with pytest.raises(ValueError, match="duplicate step"):
        g.add("a", lambda c: None)

    bad = StepGraph().add("x", lambda c: None, upstream=["nope"])
    with pytest.raises(ValueError, match="unknown"):
        bad.topo_order()

    cyc = StepGraph()
    cyc.add("x", lambda c: None, upstream=["y"])
    cyc.add("y", lambda c: None, upstream=["x"])
    with pytest.raises(ValueError, match="cycle"):
        cyc.topo_order()


def test_run_passes_results_and_fails_fast():
    g = StepGraph()
    g.add("one", lambda c: 1)
    g.add("two", lambda c: c["results"]["one"] + 1, upstream=["one"])
    report = g.run()
    assert [r["status"] for r in report.values()] == ["ok", "ok"]

    boom = StepGraph()
    boom.add("ok", lambda c: 1)
    boom.add("bad", lambda c: 1 / 0, upstream=["ok"])
    boom.add("never", lambda c: pytest.fail("must not run"), upstream=["bad"])
    with pytest.raises(ZeroDivisionError):
        boom.run()


def test_wait_for_flag_sensor_semantics(tmp_path):
    flag = str(tmp_path / "ready.flag")

    def arm():
        time.sleep(0.3)
        open(flag, "w").close()

    t = threading.Thread(target=arm)
    t.start()
    assert wait_for_flag(flag, timeout_s=5.0, poke_interval_s=0.05)
    t.join()

    with pytest.raises(TimeoutError):
        wait_for_flag(str(tmp_path / "never.flag"), 0.2, 0.05)


def test_airflow_adapter_is_import_gated():
    g = StepGraph().add("a", lambda c: None)
    with pytest.raises(ImportError, match="apache-airflow"):
        g.to_airflow_dag("x")


def test_attribution_dag_matches_direct_run(spark, tmp_path):
    """The DAG executes the same three steps as AttributionPipeline.run
    and produces the identical report artifact."""
    import os

    from pyspark.sql import functions as F

    from data_engineering_challenge_spark import roles
    from data_engineering_challenge_spark.config import PipelineConfig
    from data_engineering_challenge_spark.pipeline import AttributionPipeline

    star = tmp_path / "star"
    events = roles.load_events(spark, "/root/testdata/sf0.001")
    roles.conversions_from_events(events).write.parquet(
        str(star / "conversions.parquet")
    )
    roles.sessions_from_events(events).write.parquet(
        str(star / "session_sources.parquet")
    )
    roles.session_costs_from_events(events).write.parquet(
        str(star / "session_costs.parquet")
    )

    def cfg(sub):
        return PipelineConfig(
            table_dir=str(star),
            journeys_path=str(tmp_path / sub / "journeys.parquet"),
            report_path=str(tmp_path / sub / "report.parquet"),
            csv_exports=False,
        )

    flag = str(tmp_path / "ready.flag")
    open(flag, "w").close()
    g = attribution_pipeline_graph(
        spark, cfg("dag"), ready_flag=flag, poke_interval_s=0.05
    )
    report = g.run()
    assert [r["status"] for r in report.values()] == ["ok"] * 4
    assert list(report) == [
        "wait_for_data", "build_journeys", "send_to_api", "generate_report",
    ]

    AttributionPipeline(spark, cfg("direct")).run()
    got = sorted(
        map(tuple, spark.read.parquet(
            str(tmp_path / "dag" / "report.parquet")
        ).collect())
    )
    want = sorted(
        map(tuple, spark.read.parquet(
            str(tmp_path / "direct" / "report.parquet")
        ).collect())
    )
    assert got == want and len(got) > 0


def test_attribution_dag_over_empty_input(spark, tmp_path):
    """With no conversions the full build writes an EMPTY journeys table
    (static overwrite; Spark leaves no data file to infer a schema from):
    the DAG still runs every step and counts 0 rows for each."""
    from data_engineering_challenge_spark.config import PipelineConfig

    star = tmp_path / "star"
    for name, ddl in (
        ("conversions", "conv_id bigint, user_id bigint, conv_ts timestamp, revenue double"),
        ("session_sources", "session_id bigint, user_id bigint, ts timestamp, "
         "channel_name string, holder_engagement int, closer_engagement int, "
         "impression_interaction int"),
        ("session_costs", "session_id bigint, cost double"),
    ):
        spark.createDataFrame([], ddl).write.parquet(str(star / f"{name}.parquet"))
    cfg = PipelineConfig(
        table_dir=str(star),
        journeys_path=str(tmp_path / "journeys.parquet"),
        report_path=str(tmp_path / "report.parquet"),
        csv_exports=False,
    )
    ctx = {"results": {}}  # run() copies the dict, not the results in it
    report = attribution_pipeline_graph(spark, cfg).run(ctx)
    assert [r["status"] for r in report.values()] == ["ok"] * 3
    assert ctx["results"] == {
        "build_journeys": 0, "send_to_api": 0, "generate_report": 0,
    }
