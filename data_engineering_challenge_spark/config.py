"""Pipeline configuration (reference pipeline/config.py:7-47 parity).

Same frozen-dataclass-from-INI shape as the reference, extended with the
Spark-native knobs (storage layout, attribution model).  Every field has a
default so the config file is optional — the reference hard-requires
config.ini; we only require it for the external-API mode that needs a key.
"""

from __future__ import annotations

import configparser
from dataclasses import dataclass, field


def _bool(v: str) -> bool:
    return v.lower() in ("1", "true", "yes")


@dataclass(frozen=True)
class PipelineConfig:
    # storage (the reference's single SQLite file becomes a directory of
    # parquet tables; db_name kept for the JDBC parity path)
    table_dir: str = "./data"
    db_name: str = ""
    journeys_path: str = "out/customer_journeys.parquet"
    report_path: str = "out/channel_reporting.parquet"
    csv_exports: bool = True  # also write the reference's CSV artifacts

    # attribution
    model: str = "position_engagement"  # last_touch|first_touch|linear|position_engagement|external

    # external API mode (reference pipeline/config.py:11-15)
    api_url: str = ""
    api_key: str = ""
    conv_type_id: str = ""
    max_journeys_per_request: int = 100
    max_sessions_per_request: int = 2000
    # retry/backoff/throttle for the HTTP scorer (replaces the reference's
    # fixed sleep(1) + silent chunk drop, api_client.py:219,244,50-65)
    api_timeout_s: float = 30.0
    api_max_retries: int = 3
    api_backoff_s: float = 1.0
    api_throttle_s: float = 0.0
    # external mode: log the over-cap skip count (costs a group-by pass)
    log_skipped: bool = False
    # report step: log summary totals (costs an aggregate over the report
    # partitions just written — off by default, like log_skipped)
    log_report_summary: bool = False
    # data-quality gate: run declarative expectation checks on the journeys
    # and report outputs and FAIL LOUD on violations (operators/quality.py;
    # one extra aggregate pass per gated table — off by default)
    validate_outputs: bool = False

    # spark
    shuffle_partitions: int | None = None
    extra_spark_conf: dict = field(default_factory=dict)
    # journey-join skew: probe the session key histogram and salt the as-of
    # join automatically when one user's sessions exceed what a single task
    # should own (operators/skew.recommend_salt).  Off by default — the
    # probe costs one aggregate pass over sessions per run
    auto_salt: bool = False
    salt_rows_per_task: int = 1_000_000

    @classmethod
    def from_ini(cls, config_path: str = "config.ini") -> "PipelineConfig":
        """INI loader (reference config.py:18-36).  Unknown keys ignored;
        missing sections fall back to defaults."""
        cp = configparser.ConfigParser()
        cp.read(config_path)

        def get(section: str, key: str, default, cast=str):
            try:
                return cast(cp[section][key])
            except (KeyError, ValueError):
                return default

        return cls(
            table_dir=get("storage", "table_dir", cls.table_dir),
            db_name=get("database", "db_name", cls.db_name),
            journeys_path=get("storage", "journeys_path", cls.journeys_path),
            report_path=get("storage", "report_path", cls.report_path),
            csv_exports=get("storage", "csv_exports", cls.csv_exports, _bool),
            model=get("attribution", "model", cls.model),
            api_url=get("api", "api_url", cls.api_url),
            api_key=get("api", "api_key", cls.api_key),
            conv_type_id=get("api", "conv_type_id", cls.conv_type_id),
            max_journeys_per_request=get(
                "api", "max_journeys_per_request", cls.max_journeys_per_request, int
            ),
            max_sessions_per_request=get(
                "api", "max_sessions_per_request", cls.max_sessions_per_request, int
            ),
            api_timeout_s=get("api", "timeout_s", cls.api_timeout_s, float),
            api_max_retries=get("api", "max_retries", cls.api_max_retries, int),
            api_backoff_s=get("api", "backoff_s", cls.api_backoff_s, float),
            api_throttle_s=get("api", "throttle_s", cls.api_throttle_s, float),
            log_skipped=get("api", "log_skipped", cls.log_skipped, _bool),
            log_report_summary=get(
                "storage", "log_report_summary", cls.log_report_summary, _bool
            ),
            auto_salt=get("spark", "auto_salt", cls.auto_salt, _bool),
            salt_rows_per_task=get(
                "spark", "salt_rows_per_task", cls.salt_rows_per_task, int
            ),
        )
