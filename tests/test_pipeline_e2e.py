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


def _jobs(spark, group, fn) -> int:
    """The number of Spark jobs ``fn()`` runs.  ``group`` must be unique
    in the session: the status tracker keeps each group's finished jobs."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


#: two overlapping windowed runs (the benchmark's shape after its backfill)
WINDOW_A = ("2024-01-10", "2024-01-16")
WINDOW_B = ("2024-01-13", "2024-01-19")


def test_run_adds_no_jobs_to_its_steps(spark, star_dir, tmp_path):
    """run() decides emptiness from what its steps already computed: it
    runs exactly the Spark jobs of build_journeys + attribute(None) +
    report, never re-executing the journeys or attribution plans to
    test them for rows."""
    pipe = AttributionPipeline(spark, _cfg(star_dir, tmp_path / "steps"))
    steps = (
        _jobs(spark, "steps_build", pipe.build_journeys)
        + _jobs(spark, "steps_attr", lambda: pipe.attribute(None))
        + _jobs(spark, "steps_report", pipe.report)
    )
    run_pipe = AttributionPipeline(spark, _cfg(star_dir, tmp_path / "run"))
    assert _jobs(spark, "whole_run", run_pipe.run) == steps


def test_warm_windowed_run_job_budget(spark, star_dir, tmp_path, monkeypatch):
    """Every plan of a windowed run executes once, by its write.  On a
    warm instance (a backfill and one windowed run behind it) a run is its
    writes, the post-write verification and one scan per CSV export: no
    emptiness probe, no re-run of the journeys or report plan for an
    export, and no schema inference."""
    from pyspark.sql import DataFrameReader

    jobs = {}
    for csv in (True, False):
        cfg = dataclasses.replace(
            _cfg(star_dir, tmp_path / f"csv_{csv}"), csv_exports=csv
        )
        pipe = AttributionPipeline(spark, cfg)
        pipe.run()
        pipe.run(*WINDOW_A)
        jobs[csv] = _jobs(spark, f"warm_run_csv_{csv}", lambda: pipe.run(*WINDOW_B))
    # the warm windowed run, job by job (AQE runs each query stage of a
    # write's plan as its own job):
    #   build_journeys  journeys write 2 (the as-of join's shuffle, the
    #                   write); journeys CSV 1 (a scan of the partitions
    #                   the write produced)
    #   attribute       attribution write 2; post-write verification 3,
    #                   whose count is also the step's emptiness
    #   report          report write 5; report CSV 1 (a scan, as above)
    assert jobs[True] == 14
    assert jobs[True] - jobs[False] == 2  # one scan job per CSV export

    # no parquet read of a warm run infers a schema: every read resolves
    # from the instance's memo and runs no job
    reads = []
    parquet = DataFrameReader.parquet

    def counted(reader, *paths, **options):
        out = []
        reads.append(_jobs(
            spark,
            f"warm_read_{id(reads)}_{len(reads)}",
            lambda: out.append(parquet(reader, *paths, **options)),
        ))
        return out[0]

    monkeypatch.setattr(DataFrameReader, "parquet", counted)
    pipe.run(*WINDOW_A)
    monkeypatch.undo()
    assert reads and not any(reads)
    # the schemas the writes recorded are exactly what inference gives
    for path in (cfg.journeys_path, cfg.report_path):
        assert pipe._schemas[path] == spark.read.parquet(path).schema


def _csv_lines(path: str) -> tuple[str, list[str]]:
    """A single-file CSV export's header and its sorted data lines."""
    (name,) = [f for f in os.listdir(path) if f.endswith(".csv")]
    with open(os.path.join(path, name)) as fh:
        header, *rows = fh.read().splitlines()
    return header, sorted(rows)


def test_csv_exports_equal_the_lazy_plans(spark, star_dir, tmp_path):
    """Both CSV exports scan the partitions their write produced and hold
    exactly the rows of the lazy journeys and report plans, rendered as
    the reference artifacts.  A partition inside the window that predates
    the run and gets no new rows (dynamic overwrite leaves it in place)
    is not what the run wrote, so it must not reach either CSV."""
    import shutil

    from data_engineering_challenge_spark.operators import journeys as jny
    from data_engineering_challenge_spark.operators import report as rpt
    from data_engineering_challenge_spark.sources import io

    cfg = _cfg(star_dir, tmp_path)
    pipe = AttributionPipeline(spark, cfg)
    assert pipe.run() is not None
    # the window reaches past the last conversion and session date
    # (2024-01-30); plant a stale 2024-02-01 partition in both tables
    start, end = "2024-01-27", "2024-02-02"
    for table, col in ((cfg.journeys_path, "conv_date"), (cfg.report_path, "date")):
        src = next(d for d in sorted(os.listdir(table)) if d.startswith(f"{col}="))
        shutil.copytree(
            os.path.join(table, src), os.path.join(table, f"{col}=2024-02-01")
        )
    assert pipe.run(start, end) is not None
    assert os.path.isdir(os.path.join(cfg.report_path, "date=2024-02-01"))

    journeys = jny.build_journeys(
        pipe._table("conversions"),
        pipe._table("session_sources"),
        start_date=start,
        end_date=end,
    )
    io.write_csv(
        journeys.withColumn(
            "timestamp", F.date_format("timestamp", "yyyy-MM-dd HH:mm:ss")
        ).drop("conv_ts"),
        str(tmp_path / "want_journeys.csv"),
        single_file=True,
    )
    report = rpt.channel_report(
        pipe._table("session_sources"),
        pipe._table("session_costs"),
        spark.read.parquet(os.path.join(star_dir, "attribution_customer_journey")),
        pipe._table("conversions"),
        start_date=start,
        end_date=end,
    )
    io.write_csv(
        report.withColumn("date", F.date_format("date", "yyyy-MM-dd")),
        str(tmp_path / "want_report.csv"),
        single_file=True,
    )
    for name in ("journeys", "report"):
        header, rows = _csv_lines(str(tmp_path / f"{name}.csv"))
        assert rows and (header, rows) == _csv_lines(str(tmp_path / f"want_{name}.csv"))
    # the report rows carry their date: none from the planted partition
    assert not [r for r in rows if "2024-02-01" in r]


def _files(path: str) -> dict[str, bytes]:
    """Every file under ``path``: relative name -> content."""
    out = {}
    for dp, _dn, fns in os.walk(path):
        for f in fns:
            with open(os.path.join(dp, f), "rb") as fh:
                out[os.path.relpath(os.path.join(dp, f), path)] = fh.read()
    return out


def test_empty_window_touches_no_output(spark, star_dir, tmp_path):
    """A ranged run with no conversions returns None, and its empty
    (dynamic-overwrite) journeys write replaces no partition: the journeys
    table and both CSV exports are left exactly as they were."""
    cfg = _cfg(star_dir, tmp_path)
    pipe = AttributionPipeline(spark, cfg)
    assert pipe.run() is not None
    outputs = [
        cfg.journeys_path,
        cfg.journeys_path.replace(".parquet", ".csv"),
        cfg.report_path.replace(".parquet", ".csv"),
    ]
    before = [_files(p) for p in outputs]
    assert pipe.run("2030-01-01", "2030-01-07") is None
    assert pipe._step_empty
    assert [_files(p) for p in outputs] == before


def test_empty_full_build_writes_an_empty_table(spark, star_dir, tmp_path):
    """A full build rebuilds completely: with no conversions its static
    overwrite replaces the old journeys table with an empty one, run()
    stops there, and attribute(None) over the empty table reports empty
    through its verification count."""
    import shutil

    empty = tmp_path / "empty_star"
    for t in ("session_sources", "session_costs"):
        shutil.copytree(
            os.path.join(star_dir, f"{t}.parquet"), empty / f"{t}.parquet"
        )
    spark.read.parquet(os.path.join(star_dir, "conversions.parquet")).limit(
        0
    ).write.parquet(str(empty / "conversions.parquet"))
    cfg = _cfg(str(empty), tmp_path)
    # the old table: a populated build to the same journeys path
    AttributionPipeline(
        spark, dataclasses.replace(cfg, table_dir=star_dir)
    ).build_journeys()

    def data_files():
        return [
            f for _, _, fns in os.walk(cfg.journeys_path)
            for f in fns if f.endswith(".parquet")
        ]

    assert data_files()
    pipe = AttributionPipeline(spark, cfg)
    assert pipe.run() is None and pipe._step_empty
    assert not data_files()
    assert pipe._read(cfg.journeys_path).count() == 0
    pipe._step_empty = False
    pipe.attribute(None)
    assert pipe._step_empty


def test_report_summary_reads_the_written_partitions(
    spark, star_dir, tmp_path, monkeypatch
):
    """log_report_summary aggregates the report partitions the write just
    produced, never re-running the report plan, and gives the summary of
    the lazy report plan."""
    from data_engineering_challenge_spark.operators import report as rpt

    cfg = dataclasses.replace(_cfg(star_dir, tmp_path), log_report_summary=True)
    pipe = AttributionPipeline(spark, cfg)
    out = pipe.run(*WINDOW_A)
    with_summary = _jobs(spark, "summary_on", lambda: pipe.report(*WINDOW_A))
    pipe.config = dataclasses.replace(cfg, log_report_summary=False)
    without = _jobs(spark, "summary_off", lambda: pipe.report(*WINDOW_A))
    # the global aggregate's two query stages over the written partitions
    # (a re-run of the report plan would add its 5 stages)
    assert with_summary - without == 2

    got = []
    summary = rpt.report_summary
    monkeypatch.setattr(
        rpt, "report_summary", lambda df: got.append(summary(df).first()) or summary(df)
    )
    pipe.config = cfg
    pipe.report(*WINDOW_A)
    want = summary(out).first().asDict()
    assert got[0].asDict() == pytest.approx(want)
