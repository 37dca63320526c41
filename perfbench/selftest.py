"""Fast self-test of the benchmark itself (no Spark session is started).

    python3 perfbench/selftest.py

Shows that every generator is deterministic for a seed (and differs across
seeds), and that every output check accepts the right answer and rejects a
perturbed one: one ihc off by 1e-6, one journey row dropped, one report
row dropped or off by 1e-6, one query row dropped or changed, a wrong
final row count, per-kind sum or view row.  Exits non-zero on the first
failure.
"""

from __future__ import annotations

import copy
import hashlib
import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import checks  # noqa: E402
import gen  # noqa: E402


def _digest(d: str) -> dict[str, str]:
    """sha256 of every generated file (of the answers' content for
    expected.json)."""
    out = {}
    for dp, _dn, fns in os.walk(d):
        for fn in sorted(fns):
            p = os.path.join(dp, fn)
            with open(p, "rb") as fh:
                data = fh.read()
            if fn == "expected.json":  # DuckDB's GROUP BY output order may vary
                data = json.dumps(json.loads(data), sort_keys=True).encode()
            out[os.path.relpath(p, d)] = hashlib.sha256(data).hexdigest()
    return out


def _expect(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"selftest FAILED: {what}")
    print(f"ok  {what}")


def test_determinism(tmp: str) -> dict[str, str]:
    dirs = {}
    for w in ("attribution_daily", "analyst_queries", "table_upkeep"):
        a, b, c = (os.path.join(tmp, f"{w}-{x}") for x in "abc")
        gen.generate(w, 7, a)
        gen.generate(w, 7, b)
        gen.generate(w, 8, c)
        _expect(_digest(a) == _digest(b), f"{w}: seed 7 twice gives identical inputs and answers")
        _expect(_digest(a) != _digest(c), f"{w}: seeds 7 and 8 give different inputs")
        dirs[w] = a
    return dirs


# -- attribution_daily -------------------------------------------------------


def _pipeline_outputs(con, d: str, out: str, exp: dict, ihc_bump=0.0, drop_journey=False,
                      report_edit=None) -> tuple[str, str]:
    """Write the outputs a correct pipeline run leaves (from DuckDB's own
    attribution), optionally perturbed; returns (journeys, report) paths."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    dates = ", ".join(f"'{x}'" for x in exp["journeys"])
    att_dir = os.path.join(d, "attribution_customer_journey")
    shutil.rmtree(att_dir, ignore_errors=True)
    os.makedirs(att_dir)
    att = con.execute(
        f"SELECT conv_id AS conversion_id, session_id, ihc FROM att WHERE conv_date IN ({dates}) "
        "ORDER BY conv_id, session_id"
    ).arrow()
    if ihc_bump:
        ihc = att.column("ihc").to_pylist()
        ihc[0] += ihc_bump
        att = att.set_column(2, "ihc", pa.array(ihc))
    pq.write_table(att, os.path.join(att_dir, "part-0.parquet"))

    jpath = os.path.join(out, "journeys.parquet")
    skip = "LIMIT (SELECT COUNT(*) - 1 FROM att WHERE conv_date IN ({}))".format(dates) if drop_journey else ""
    con.execute(
        f"COPY (SELECT conv_id, session_id, conv_date FROM att WHERE conv_date IN ({dates}) {skip}) "
        f"TO '{jpath}' (FORMAT PARQUET, PARTITION_BY (conv_date))"
    )
    rows = [
        {"channel_name": k.split("|")[0], "date": k.split("|")[1], "cost": v[0], "ihc": v[1], "ihc_revenue": v[2]}
        for k, v in sorted(exp["report"].items())
    ]
    if report_edit is not None:
        report_edit(rows)
    rpath = os.path.join(out, "report.parquet")
    pq.write_to_dataset(pa.Table.from_pylist(rows), rpath, partition_cols=["date"])
    os.makedirs(os.path.join(out, "report.csv"))
    with open(os.path.join(out, "report.csv", "part-0.csv"), "w") as fh:
        fh.write("channel_name,date,cost,ihc,ihc_revenue\n")
        for r in rows:
            fh.write(f"{r['channel_name']},{r['date']},{r['cost']},{r['ihc']},{r['ihc_revenue']}\n")
    return jpath, rpath


def test_pipeline_check(d: str, tmp: str) -> None:
    import duckdb

    with open(os.path.join(d, "expected.json")) as fh:
        meta = json.load(fh)
    con = duckdb.connect()
    gen.star_expected(con, d, meta["windows"])  # leaves DuckDB's `att` table
    exp = meta["expected"][1]
    state = checks.report_state_after({}, exp)
    out = os.path.join(tmp, "pipeline-out")

    def run(**kw):
        j, r = _pipeline_outputs(con, d, out, exp, **kw)
        return checks.check_pipeline(d, j, r, exp, state)

    _expect(run() is None, "pipeline check accepts DuckDB's own outputs")
    _expect(run(ihc_bump=1e-6) is not None, "pipeline check rejects one ihc off by 1e-6")
    _expect(run(drop_journey=True) is not None, "pipeline check rejects one journey row dropped")
    _expect(run(report_edit=lambda rows: rows.pop()) is not None,
            "pipeline check rejects one report row dropped")

    def nudge(rows):
        rows[0]["cost"] *= 1 + 1e-6

    _expect(run(report_edit=nudge) is not None, "pipeline check rejects one report cost off by 1e-6")
    con.close()


# -- analyst_queries / table_upkeep --------------------------------------------


def test_rows_check(d: str) -> None:
    import duckdb

    with open(os.path.join(d, "expected.json")) as fh:
        exp = json.load(fh)["expected"]
    con = duckdb.connect()
    oracles = gen.registry_oracles()
    gen.attach_testdata(con, d)
    for name in ("q5_nation_revenue", "cosine_topk"):
        res = con.execute(oracles[name])
        cols = [c[0] for c in res.description]
        rows = res.fetchall()
        _expect(checks.check_rows(cols, rows, exp[name]) is None, f"{name}: check accepts the oracle's rows")
        _expect(checks.check_rows(cols, rows[1:], exp[name]) is not None, f"{name}: check rejects one row dropped")
        bent = [list(r) for r in rows]
        j = next(i for i, v in enumerate(bent[0]) if isinstance(v, float))
        bent[0][j] *= 1 + 1e-6
        _expect(checks.check_rows(cols, [tuple(r) for r in bent], exp[name]) is not None,
                f"{name}: check rejects one value off by 1e-6")
    con.close()


def test_upkeep_checks(d: str) -> None:
    import duckdb

    with open(os.path.join(d, "expected.json")) as fh:
        meta = json.load(fh)
    steps, exp = meta["steps"], meta["expected"]
    n = meta["round_len"] * 2
    con = duckdb.connect()
    gen.upkeep_expected(con, d, steps[:n])  # leaves the mirror after two rounds
    sel = next(i for i, s in enumerate(steps) if s["op"] == "range")
    fresh = duckdb.connect()
    gen.upkeep_expected(fresh, d, steps[:sel])
    res = fresh.execute(steps[sel]["sql"])
    cols, rows = [c[0] for c in res.description], res.fetchall()
    _expect(checks.check_rows(cols, rows, exp[sel]) is None, "upkeep SELECT check accepts the mirror's answer")
    _expect(checks.check_rows(cols, rows[1:], exp[sel]) is not None, "upkeep SELECT check rejects one row dropped")

    last = next(e for e in reversed(exp[:n]) if "count" in e)
    count = con.execute("SELECT COUNT(*) FROM upkeep").fetchone()[0]
    per_kind = con.execute(gen.MVIEW_SQL).fetchall()
    view_steps = [i for i, s in enumerate(steps[:n]) if s["op"] == "refresh"]
    view_con = duckdb.connect()
    gen.upkeep_expected(view_con, d, steps[:view_steps[-1]])
    view = view_con.execute(gen.MVIEW_SQL).fetchall()
    _expect(checks.check_upkeep_final(count, per_kind, view, last) == [],
            "upkeep final check accepts the mirror's table")
    _expect(checks.check_upkeep_final(count + 1, per_kind, view, last) != [],
            "upkeep final check rejects a wrong row count")
    bent = copy.deepcopy([list(r) for r in per_kind])
    bent[0][2] += 1
    _expect(checks.check_upkeep_final(count, [tuple(r) for r in bent], view, last) != [],
            "upkeep final check rejects one per-kind sum off by 1")
    _expect(checks.check_upkeep_final(count, per_kind, view[1:], last) != [],
            "upkeep final check rejects one view row dropped")
    for c in (con, fresh, view_con):
        c.close()


def main() -> int:
    os.chdir(os.path.dirname(HERE))
    os.makedirs(".perfbench_work", exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="selftest-", dir=".perfbench_work")
    try:
        dirs = test_determinism(tmp)
        test_pipeline_check(dirs["attribution_daily"], tmp)
        test_rows_check(dirs["analyst_queries"])
        test_upkeep_checks(dirs["table_upkeep"])
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
