"""Three-step pipeline orchestration (reference pipeline/pipeline.py:85-105).

Same step surface — build-journeys → attribute → report — with each step a
lazy DataFrame plan that executes exactly ONCE, by its parquet write; steps
hand each other TABLES, not CSVs.  Whatever else a step needs from its
output comes from that write, never from running the plan again:

* emptiness and the partitions written come from an ``Observation`` on the
  write (row count + partition values), never from a probe job;
  attribute's emptiness is the count of its post-write verification job;
* the CSV exports (the reference's artifacts, cj_builder.py:130,
  channel_reporter.py:130) and the report summary scan the partitions the
  write just produced instead of re-running the join or aggregate plan;
* every table's schema is inferred at most once per pipeline instance (a
  per-instance memo), so a warm instance runs no inference job.

The reference's per-chunk DELETE+INSERT (api_client.py:139-149, a bug that
erases prior chunks) becomes one atomic ``mode("overwrite")`` write.

Input layout: ``config.table_dir`` holding ``conversions.parquet``,
``session_sources.parquet``, ``session_costs.parquet`` with the attribution
star schema (schemas.py); outputs land next to them.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DateType, StructField, StructType

from .config import PipelineConfig
from .operators import attribution as attr
from .operators import batching
from .operators import journeys as jny
from .operators import report as rpt
from .sources import io

log = logging.getLogger(__name__)

MODELS = {
    "last_touch": attr.attribute_last_touch,
    "first_touch": attr.attribute_first_touch,
    "linear": attr.attribute_linear,
    "position_engagement": attr.attribute_position_engagement,
}


class AttributionPipeline:
    """Orchestrates the three steps (reference pipeline/pipeline.py:17-105)."""

    def __init__(self, spark: SparkSession, config: PipelineConfig | None = None):
        self.spark = spark
        self.config = config or PipelineConfig()
        #: whether the last build_journeys / attribute produced no rows
        self._step_empty = False
        #: path -> schema of every table this instance reads (its inputs and
        #: its own outputs); per instance, never the process-wide memo: other
        #: pipelines may rewrite the same output path with another model
        self._schemas: dict[str, StructType] = {}

    # -- tables ------------------------------------------------------------

    def _read(self, path: str) -> DataFrame:
        return io.read_parquet_cached_schema(self.spark, path, cache=self._schemas)

    def _table(self, name: str) -> DataFrame:
        return self._read(os.path.join(self.config.table_dir, f"{name}.parquet"))

    def _out(self, name: str) -> str:
        return os.path.join(self.config.table_dir, name)

    def _write_partitioned(
        self, df: DataFrame, path: str, part: str, ranged: bool
    ) -> DataFrame | None:
        """Execute ``df`` once by writing it to ``path`` partitioned by the
        yyyy-MM-dd column ``part``, and return the rows this write produced
        — read back from exactly the partitions it wrote, in ``df``'s
        column order — or None when it wrote no rows.

        A ranged run overwrites only the partitions it writes (dynamic
        mode: the partition-level form of the reference's DELETE+INSERT
        idempotency, channel_reporter.py:99) and every other date survives;
        a full run keeps static overwrite so the rebuild is complete, even
        to an empty table.  The row count and partition values come from a
        fresh Observation on the write job itself."""
        obs = Observation()
        io.write_parquet(
            df.observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.collect_set(F.col(part).cast("date")).alias("parts"),
            ),
            path,
            partition_by=[part],
            dynamic_partitions=ranged,
        )
        # the schema a read of the table infers — the data columns, nullable,
        # then the partition column typed from its directory names — kept so
        # no read infers it, and so an empty table (a write of no rows
        # leaves no file to infer from) still reads
        self._schemas[path] = StructType(
            [StructField(f.name, f.dataType) for f in df.schema if f.name != part]
            + [StructField(part, DateType())]
        )
        seen = obs.get
        if not seen["n"]:
            return None
        return (
            self._read(path)
            .where(F.col(part).isin(seen["parts"]))
            .select(*df.columns)
        )

    def _score_fn(self):
        """Scorer for model="external": the HTTP adapter when api_url is
        configured (reference api_client.py:26-65 contract, with
        retry/backoff/throttle), else the bundled linear scorer — loudly,
        so users can't mistake offline output for API attribution."""
        cfg = self.config
        if cfg.api_url:
            from .sources.http_scorer import make_http_scorer

            return make_http_scorer(
                cfg.api_url,
                api_key=cfg.api_key,
                conv_type_id=cfg.conv_type_id,
                timeout_s=cfg.api_timeout_s,
                max_retries=cfg.api_max_retries,
                backoff_s=cfg.api_backoff_s,
                throttle_s=cfg.api_throttle_s,
            )
        log.warning(
            "model='external' with no api_url configured — falling back to "
            "the bundled local linear scorer (NOT API attribution)"
        )
        return batching.local_linear_scorer

    # -- step 1: build journeys (reference cj_builder.py:135-155) ----------

    def build_journeys(
        self, start_date: str | None = None, end_date: str | None = None
    ) -> DataFrame:
        sessions = self._table("session_sources")
        salt = None
        if self.config.auto_salt:
            # probe-then-decide (one aggregate pass over sessions): salt the
            # as-of join only when one user's sessions exceed a task's share
            from .operators import skew

            salt = skew.recommend_salt(
                sessions, "user_id", rows_per_task=self.config.salt_rows_per_task
            )
            if salt:
                log.info("journey join: auto-salting with %d buckets", salt)
        journeys = jny.build_journeys(
            self._table("conversions"),
            sessions,
            start_date=start_date,
            end_date=end_date,
            salt_buckets=salt,
        )
        if self.config.validate_outputs:
            from .operators import quality as qa

            qa.fail_on_violations(
                journeys,
                [
                    qa.expect_not_null("conversion_id"),
                    qa.expect_not_null("session_id"),
                    qa.expect_unique("conversion_id", "session_id"),
                ],
            )
        # date-partitioned layout: a date-ranged re-run prunes to and
        # replaces only the affected partitions
        journeys = journeys.withColumn(
            "conv_date", F.date_format("conv_ts", "yyyy-MM-dd")
        )
        written = self._write_partitioned(
            journeys,
            self.config.journeys_path,
            "conv_date",
            ranged=start_date is not None or end_date is not None,
        )
        self._step_empty = written is None
        if written is None:  # empty guard, pipeline.py:91-93
            log.warning("no journeys built — aborting step")
        elif self.config.csv_exports:
            csv = written.withColumn(
                "timestamp", F.date_format("timestamp", "yyyy-MM-dd HH:mm:ss")
            ).drop("conv_ts", "conv_date")
            io.write_csv(csv, self.config.journeys_path.replace(".parquet", ".csv"),
                         single_file=True)
        return journeys

    # -- step 2: attribute (reference api_client.py:153-252) ---------------

    def attribute(self, journeys: DataFrame | None = None) -> DataFrame:
        cfg = self.config
        if journeys is None:
            journeys = self._read(cfg.journeys_path)

        if cfg.model == "external":
            if cfg.log_skipped:
                # optional: a full group-by pass purely for this warning, so
                # it's off by default; skipped conversions are always
                # recoverable as data via batching.skipped_over_cap
                skipped = batching.skipped_over_cap(
                    journeys, cfg.max_sessions_per_request
                )
                n_skip = skipped.count()
                if n_skip:
                    log.warning("skipping %d over-cap conversions", n_skip)
            attributed = batching.attribute_external(
                journeys,
                score_fn=self._score_fn(),
                max_journeys_per_request=cfg.max_journeys_per_request,
                max_sessions_per_request=cfg.max_sessions_per_request,
            )
        else:
            attributed = MODELS[cfg.model](journeys)

        attributed = attr.normalize_ihc(attributed)
        # atomic overwrite — replaces the reference's per-chunk delete+insert
        io.write_parquet(attributed, self._out("attribution_customer_journey"))

        # post-write verification (api_client.py:254-268); the same job
        # counts the attributed conversions, which is the step's emptiness
        check = attr.verify_attribution(
            self._read(self._out("attribution_customer_journey"))
        )
        n, bad = check.agg(
            F.count(F.lit(1)),
            F.count(F.when(F.col("is_valid") == 0, 1)),
        ).first()
        if bad:
            log.warning("%d conversions with non-unit ihc sums", bad)
        if n == 0:  # zero-records guard, pipeline.py:98-100
            log.warning("no journeys to attribute")
        self._step_empty = n == 0
        return attributed

    # -- step 3: report (reference channel_reporter.py:153-173) ------------

    def report(
        self, start_date: str | None = None, end_date: str | None = None
    ) -> DataFrame:
        out = rpt.channel_report(
            self._table("session_sources"),
            self._table("session_costs"),
            self._read(self._out("attribution_customer_journey")),
            self._table("conversions"),
            start_date=start_date,
            end_date=end_date,
        )
        if self.config.validate_outputs:
            from .operators import quality as qa

            qa.fail_on_violations(
                out,
                [
                    qa.expect_not_null("channel_name"),
                    qa.expect_not_null("date"),
                    qa.expect_unique("channel_name", "date"),
                    qa.expect_between("ihc", 0, float("inf")),
                ],
            )
        written = self._write_partitioned(
            out,
            self.config.report_path,
            "date",
            ranged=start_date is not None or end_date is not None,
        )
        if written is None:
            log.warning("no report rows written")
            return out
        if self.config.csv_exports:
            io.write_csv(
                written.withColumn("date", F.date_format("date", "yyyy-MM-dd")),
                self.config.report_path.replace(".parquet", ".csv"),
                single_file=True,
            )
        if self.config.log_report_summary:
            # optional extra job over the written partitions, gated like
            # log_skipped so the default run does none
            summary = rpt.report_summary(written).first()
            log.info(
                "report: %d rows, total cost %.2f, attributed revenue %.2f",
                summary.n_rows, summary.total_cost or 0.0,
                summary.total_ihc_revenue or 0.0,
            )
        return out

    # -- all ---------------------------------------------------------------

    def run(
        self, start_date: str | None = None, end_date: str | None = None
    ) -> DataFrame | None:
        # each plan executes once, by its step's write; `_step_empty` comes
        # from that write (step 1's Observation) or from the verification
        # job step 2 runs anyway, so deciding to stop costs no job
        self.build_journeys(start_date, end_date)
        if self._step_empty:
            return None
        # step 2 reads the parquet step 1 just wrote (NOT the lazy journeys
        # plan): the materialized relation is the reuse boundary — the as-of
        # join runs once, and step 2's shuffles start from columnar parquet
        self.attribute(None)
        if self._step_empty:
            return None
        return self.report(start_date, end_date)
