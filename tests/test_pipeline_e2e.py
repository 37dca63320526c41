"""End-to-end pipeline: star-schema fixtures -> 3 steps -> report, via the
Python API and the CLI (reference run_pipeline.py surface)."""

from __future__ import annotations

import dataclasses
import os

import pytest
from pyspark.sql import functions as F

from data_engineering_challenge_spark import roles
from data_engineering_challenge_spark.config import PipelineConfig
from data_engineering_challenge_spark.pipeline import AttributionPipeline


@pytest.fixture(scope="module")
def star_dir(spark, tmp_path_factory):
    """Materialize the attribution star schema from testdata roles."""
    d = tmp_path_factory.mktemp("star")
    events = roles.load_events(spark, "/root/testdata/sf0.001")
    roles.conversions_from_events(events).write.parquet(str(d / "conversions.parquet"))
    roles.sessions_from_events(events).write.parquet(
        str(d / "session_sources.parquet")
    )
    roles.session_costs_from_events(events).write.parquet(
        str(d / "session_costs.parquet")
    )
    return str(d)


def _cfg(star_dir, tmp_path, **kw):
    return PipelineConfig(
        table_dir=star_dir,
        journeys_path=str(tmp_path / "journeys.parquet"),
        report_path=str(tmp_path / "report.parquet"),
        csv_exports=True,
        **kw,
    )


def test_full_run(spark, star_dir, tmp_path):
    pipe = AttributionPipeline(spark, _cfg(star_dir, tmp_path))
    report = pipe.run()
    assert report is not None
    rows = report.collect()
    assert len(rows) > 0
    # Σ ihc invariant end-to-end: attributed table sums to n_conversions
    acj = spark.read.parquet(os.path.join(star_dir, "attribution_customer_journey"))
    n_conv = acj.select("conversion_id").distinct().count()
    total_ihc = acj.agg(F.sum("ihc")).collect()[0][0]
    assert abs(total_ihc - n_conv) < 1e-6
    # artifacts written
    assert os.path.exists(str(tmp_path / "journeys.parquet"))
    assert os.path.exists(str(tmp_path / "report.csv"))


def test_external_model_run(spark, star_dir, tmp_path):
    cfg = _cfg(star_dir, tmp_path, model="external", max_sessions_per_request=100)
    pipe = AttributionPipeline(spark, cfg)
    journeys = pipe.build_journeys()
    attributed = pipe.attribute(journeys)
    # linear scorer: sums to 1 per eligible conversion
    sums = attributed.groupBy("conversion_id").agg(F.sum("ihc").alias("s"))
    bad = sums.filter(F.abs(F.col("s") - 1.0) > 1e-9).count()
    assert bad == 0


def test_date_filtered_run_is_subset(spark, star_dir, tmp_path):
    pipe_all = AttributionPipeline(spark, _cfg(star_dir, tmp_path))
    all_j = pipe_all.build_journeys()
    windowed = pipe_all.build_journeys("2024-01-10", "2024-01-15")
    assert 0 < windowed.count() < all_j.count()


def test_cli_steps(spark, star_dir, tmp_path):
    import run_pipeline

    rc = run_pipeline.main(
        [
            "--step", "build-journeys",
            "--table-dir", star_dir,
            "--journeys-path", str(tmp_path / "j.parquet"),
            "--report-path", str(tmp_path / "r.parquet"),
        ]
    )
    assert rc == 0
    rc = run_pipeline.main(
        [
            "--step", "send-to-api",
            "--table-dir", star_dir,
            "--journeys-path", str(tmp_path / "j.parquet"),
            "--report-path", str(tmp_path / "r.parquet"),
            "--model", "linear",
        ]
    )
    assert rc == 0
    rc = run_pipeline.main(
        [
            "--step", "generate-report",
            "--table-dir", star_dir,
            "--journeys-path", str(tmp_path / "j.parquet"),
            "--report-path", str(tmp_path / "r.parquet"),
        ]
    )
    assert rc == 0
    assert os.path.exists(str(tmp_path / "r.parquet"))


def test_ranged_rerun_preserves_untouched_partitions(spark, star_dir, tmp_path):
    """A date-ranged step-1 re-run must overwrite ONLY the conv_date
    partitions inside the range (dynamic partition overwrite) — the
    partition-level form of the reference's DELETE+INSERT idempotency
    (channel_reporter.py:99).  Static overwrite would wipe every other
    date; asserting the full table is byte-identical after the ranged
    re-run proves the untouched partitions survived."""
    cfg = dataclasses.replace(_cfg(star_dir, tmp_path), csv_exports=False)
    p = AttributionPipeline(spark, cfg)
    p.build_journeys()

    before = {
        r.conv_date: r.cnt
        for r in spark.read.parquet(cfg.journeys_path)
        .groupBy("conv_date").agg(F.count("*").alias("cnt")).collect()
    }
    assert len(before) > 2  # the fixture spans multiple dates

    target = sorted(before)[1]
    p.build_journeys(start_date=target, end_date=target)

    after = {
        r.conv_date: r.cnt
        for r in spark.read.parquet(cfg.journeys_path)
        .groupBy("conv_date").agg(F.count("*").alias("cnt")).collect()
    }
    assert after == before


def test_validated_run_passes_and_catches_corruption(spark, star_dir, tmp_path):
    """validate_outputs=True: the clean pipeline passes its expectation
    gates end-to-end; a corrupted input (duplicate session rows -> the
    journeys (conversion, session) key doubles) fails LOUD at the journeys
    gate instead of flowing a corrupt table downstream."""
    import shutil

    pipe = AttributionPipeline(
        spark, _cfg(star_dir, tmp_path, validate_outputs=True)
    )
    assert pipe.run() is not None  # clean data: all gates green

    # corrupt a copy of the star: session_sources delivered twice
    bad = tmp_path / "bad_star"
    shutil.copytree(star_dir, bad)
    sess = spark.read.parquet(str(bad / "session_sources.parquet"))
    sess.write.mode("append").parquet(str(bad / "session_sources.parquet"))
    pipe2 = AttributionPipeline(
        spark,
        _cfg(
            str(bad),
            tmp_path / "bad_out",
            validate_outputs=True,
        ),
    )
    with pytest.raises(ValueError, match="unique"):
        pipe2.run()


def test_auto_salt_run_parity(spark, star_dir, tmp_path):
    """auto_salt=True with a threshold low enough to trigger on the fixture
    must produce the IDENTICAL journeys table to the unsalted run — the
    salt is a physical-plan knob, never a semantic one."""
    plain = AttributionPipeline(spark, _cfg(star_dir, tmp_path / "plain"))
    plain_j = plain.build_journeys()

    from data_engineering_challenge_spark.operators import skew

    sessions = spark.read.parquet(os.path.join(star_dir, "session_sources.parquet"))
    # threshold of 1 row/task guarantees the probe recommends salting here
    assert skew.recommend_salt(sessions, "user_id", rows_per_task=1) is not None

    salted = AttributionPipeline(
        spark,
        _cfg(star_dir, tmp_path / "salted", auto_salt=True, salt_rows_per_task=1),
    )
    salted_j = salted.build_journeys()

    assert salted_j.count() == plain_j.count()
    assert salted_j.exceptAll(plain_j).count() == 0


def test_run_adds_no_jobs_to_its_steps(spark, star_dir, tmp_path):
    """run() decides emptiness from what its steps already computed: it
    runs exactly the Spark jobs of build_journeys + attribute(None) +
    report, never re-executing the journeys or attribution plans to
    test them for rows."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs(group, fn):
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description"):
                sc.setLocalProperty(key, None)
        return len(tracker.getJobIdsForGroup(group))

    pipe = AttributionPipeline(spark, _cfg(star_dir, tmp_path / "steps"))
    steps = (
        jobs("steps_build", pipe.build_journeys)
        + jobs("steps_attr", lambda: pipe.attribute(None))
        + jobs("steps_report", pipe.report)
    )
    run_pipe = AttributionPipeline(spark, _cfg(star_dir, tmp_path / "run"))
    assert jobs("whole_run", run_pipe.run) == steps
