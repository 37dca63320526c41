"""Output checks: the program's outputs against the answers `gen` computed
apart from the program.  Each check returns an error string, or ``None``
when the output is right.  They read only files and plain rows, so the
self-test (perfbench/selftest.py) drives them without Spark."""

from __future__ import annotations

import os

from gen import frame_hash

#: relative tolerance of floating-point sums compared across engines
#: (double sums in another order differ in the last bits, ~1e-15)
REL_TOL = 1e-9
#: how far a conversion's Σ ihc may sit from 1
IHC_TOL = 1e-9


def report_state_after(state: dict[str, dict], exp: dict) -> dict[str, dict]:
    """The date-partitioned report after a ranged run: the run replaces
    exactly the date partitions it writes (dynamic overwrite)."""
    written: dict[str, dict] = {}
    for key, vals in exp["report"].items():
        ch, d = key.split("|")
        written.setdefault(d, {})[ch] = vals
    return {**state, **written}


def check_pipeline(
    table_dir: str, journeys_path: str, report_path: str, exp: dict, report_state: dict
) -> str | None:
    """One ``AttributionPipeline.run``: Σ ihc = 1 per attributed
    conversion and their number, the journey pairs per conversion date,
    the report's (channel, date) cost / ihc / revenue sums, and the
    report CSV's row count."""
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    att = pq.read_table(
        os.path.join(table_dir, "attribution_customer_journey"),
        columns=["conversion_id", "ihc"],
    ).group_by("conversion_id").aggregate([("ihc", "sum")])
    if att.num_rows != exp["attributed_conversions"]:
        return f"attributed conversions {att.num_rows} != {exp['attributed_conversions']}"
    worst = max(abs(s - 1.0) for s in att.column("ihc_sum").to_pylist())
    if worst > IHC_TOL:
        return f"a conversion's ihc sums to 1 {worst:+.3g}"

    got_pairs: dict[str, int] = {}
    for part in os.listdir(journeys_path):
        if part.startswith("conv_date="):
            pdir = os.path.join(journeys_path, part)
            got_pairs[part.split("=", 1)[1]] = sum(
                pq.read_metadata(os.path.join(pdir, f)).num_rows
                for f in os.listdir(pdir)
                if f.endswith(".parquet")
            )
    if got_pairs != exp["journeys"]:
        return "journey pairs per conversion date differ from DuckDB"

    rows = ds.dataset(report_path, format="parquet", partitioning="hive").to_table(
        columns=["channel_name", "date", "cost", "ihc", "ihc_revenue"]
    ).to_pylist()
    got = {(r["channel_name"], str(r["date"])): (r["cost"], r["ihc"], r["ihc_revenue"]) for r in rows}
    want = {(ch, d): v for d, chs in report_state.items() for ch, v in chs.items()}
    if set(got) != set(want) or len(got) != len(rows):
        return "report (channel, date) keys differ from DuckDB"
    for k, w in want.items():
        for g, x in zip(got[k], w):
            if abs(g - x) > REL_TOL * max(1.0, abs(x)):
                return f"report {k} sums {got[k]} != {w}"

    csv_dir = report_path.replace(".parquet", ".csv")
    csvs = [f for f in os.listdir(csv_dir) if f.endswith(".csv")]
    if len(csvs) != 1:
        return f"report CSV has {len(csvs)} files, not 1"
    with open(os.path.join(csv_dir, csvs[0])) as fh:
        n_csv = sum(1 for _ in fh) - 1
    if n_csv != len(exp["report"]):
        return f"report CSV rows {n_csv} != {len(exp['report'])}"
    return None


def check_rows(cols: list[str], rows: list[tuple], exp: dict) -> str | None:
    """A query answer against the oracle's row count and order-insensitive
    row hash (and column names, where the oracle recorded them)."""
    if "cols" in exp and sorted(cols) != exp["cols"]:
        return f"columns {sorted(cols)} != {exp['cols']}"
    if len(rows) != exp["rows"]:
        return f"{len(rows)} rows != {exp['rows']}"
    if frame_hash(cols, rows) != exp["hash"]:
        return "rows differ from DuckDB"
    return None


UPKEEP_COLS = ["kind", "n", "amt", "qty"]


def check_upkeep_final(count: int, per_kind: list[tuple], view: list[tuple], exp: dict) -> list[str]:
    """The table at the end of the run: row count, per-kind count and
    sums, and the materialized view's rows, against the DuckDB mirror."""
    errors = []
    if count != exp["count"]:
        errors.append(f"row count {count} != {exp['count']}")
    if frame_hash(UPKEEP_COLS, per_kind) != exp["kind_hash"]:
        errors.append("per-kind sums differ from the DuckDB mirror")
    if frame_hash(UPKEEP_COLS, view) != exp["view_hash"]:
        errors.append("materialized view rows differ from the DuckDB mirror")
    return errors
