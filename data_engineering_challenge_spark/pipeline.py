"""Three-step pipeline orchestration (reference pipeline/pipeline.py:85-105).

Same step surface — build-journeys → attribute → report — with each step a
lazy DataFrame definition materialized by a parquet write; steps hand each
other TABLES, not CSVs (CSV exports kept as optional parity artifacts).
The reference's per-chunk DELETE+INSERT (api_client.py:139-149, a bug that
erases prior chunks) becomes one atomic ``mode("overwrite")`` write.

Input layout: ``config.table_dir`` holding ``conversions.parquet``,
``session_sources.parquet``, ``session_costs.parquet`` with the attribution
star schema (schemas.py); outputs land next to them.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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

    # -- inputs ------------------------------------------------------------

    def _table(self, name: str) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.config.table_dir, f"{name}.parquet"))

    def _out(self, name: str) -> str:
        return os.path.join(self.config.table_dir, name)

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
        if journeys.isEmpty():  # empty guard, pipeline.py:91-93
            log.warning("no journeys built — aborting step")
            self._step_empty = True
            return journeys
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
        # date-partitioned layout: a date-ranged re-run (the reference's
        # DELETE+INSERT idempotency, channel_reporter.py:99) prunes to the
        # affected partitions instead of rescanning the whole table, and —
        # via dynamic partition overwrite — REPLACES only the partitions in
        # the range while every untouched date survives; a full run keeps
        # static overwrite so the rebuild is complete
        journeys = journeys.withColumn(
            "conv_date", F.date_format("conv_ts", "yyyy-MM-dd")
        )
        ranged = start_date is not None or end_date is not None
        io.write_parquet(
            journeys,
            self.config.journeys_path,
            partition_by=["conv_date"],
            dynamic_partitions=ranged,
        )
        if self.config.csv_exports:
            csv = journeys.withColumn(
                "timestamp", F.date_format("timestamp", "yyyy-MM-dd HH:mm:ss")
            ).drop("conv_ts", "conv_date")
            io.write_csv(csv, self.config.journeys_path.replace(".parquet", ".csv"),
                         single_file=True)
        self._step_empty = False
        return journeys

    # -- step 2: attribute (reference api_client.py:153-252) ---------------

    def attribute(self, journeys: DataFrame | None = None) -> DataFrame:
        cfg = self.config
        if journeys is None:
            journeys = self.spark.read.parquet(cfg.journeys_path)
        if journeys.isEmpty():  # zero-records guard, pipeline.py:98-100
            log.warning("no journeys to attribute")
            self._step_empty = True
            return journeys

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
        # counts the attributed conversions
        check = attr.verify_attribution(
            self.spark.read.parquet(self._out("attribution_customer_journey"))
        )
        n, bad = check.agg(
            F.count(F.lit(1)),
            F.count(F.when(F.col("is_valid") == 0, 1)),
        ).first()
        if bad:
            log.warning("%d conversions with non-unit ihc sums", bad)
        self._step_empty = n == 0
        return attributed

    # -- step 3: report (reference channel_reporter.py:153-173) ------------

    def report(
        self, start_date: str | None = None, end_date: str | None = None
    ) -> DataFrame:
        out = rpt.channel_report(
            self._table("session_sources"),
            self._table("session_costs"),
            self.spark.read.parquet(self._out("attribution_customer_journey")),
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
        # partitioned by report date: a ranged re-run overwrites only the
        # affected date partitions (dynamic mode), a full run rebuilds all
        io.write_parquet(
            out,
            self.config.report_path,
            partition_by=["date"],
            dynamic_partitions=start_date is not None or end_date is not None,
        )
        if self.config.csv_exports:
            io.write_csv(
                out.withColumn("date", F.date_format("date", "yyyy-MM-dd")),
                self.config.report_path.replace(".parquet", ".csv"),
                single_file=True,
            )
        if self.config.log_report_summary:
            # optional second pass over the (small) report aggregate, gated
            # like log_skipped so the default run does no extra job
            summary = rpt.report_summary(out).collect()[0]
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
        # each step records whether it produced rows (`_step_empty`, from
        # jobs it runs anyway): re-testing the lazy plans would run the
        # as-of join and the attribution again
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
