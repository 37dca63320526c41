"""Differential test for metadata-answered aggregates and top-k pruning.

Seeded SELECTs over a ``PARTITIONED BY (DAY(ts))`` table with STATS on
BIGINT, INT, DECIMAL, DOUBLE (some NaN), DATE and TIMESTAMP columns,
and over a merge-on-read table with a position DELETE.  The shapes are
the ones the executor may answer from snapshot manifests (COUNT / MIN /
MAX / SUM / AVG with partition and range WHEREs, GROUP BY the partition
transform with HAVING / ORDER BY / LIMIT tails, DISTINCT, COUNT
DISTINCT) or prune by stats (``ORDER BY c LIMIT k``), plus near misses
that must fall back (a residual conjunct, alias shadowing, NULLS FIRST,
a cast column).  For every statement:

* ``execute_sql`` returns the same rows as ``spark.sql`` over the plain
  attach — in order where the ORDER BY is total;
* whether it was answered from metadata (the returned plan reads no
  ``LogicalRelation``) and whether top-k pruning engaged is recorded;
  the answered and top-k sets must contain the sets pinned below, and a
  top-k view may keep no more files than pinned."""

from __future__ import annotations

import random

import pytest

from data_engineering_challenge_spark import sql_exec
from data_engineering_challenge_spark.sources import catalog as cat
from data_engineering_challenge_spark.sql_exec import (
    execute_sql,
    execute_sql_script,
)

N_STATEMENTS = 80

#: statements answered from metadata before the plan-driven rewrite
PINNED_ANSWERED = {
    'SELECT COUNT(*) AS n FROM mf WHERE k >= 602 AND k < 828 LIMIT 1',
    "SELECT COUNT(*) AS n FROM mf WHERE ts >= TIMESTAMP '2024-01-07 06:00:00' LIMIT 1",
    'SELECT COUNT(*) FROM mf WHERE DAY(ts) = 5 AND k > 246',
    'SELECT COUNT(*) FROM mf WHERE DAY(ts) = 5 OR DAY(ts) = 5 LIMIT 1',
    'SELECT COUNT(DISTINCT DAY(ts)) AS nd FROM mf WHERE DAY(ts) = 4 AND k > 741',
    "SELECT COUNT(DISTINCT DAY(ts)) AS nd FROM mf WHERE dt BETWEEN DATE '2024-01-01' AND DATE '2024-01-07'",
    "SELECT COUNT(DISTINCT DAY(ts)) AS nd FROM mf WHERE ts >= TIMESTAMP '2024-01-02 06:00:00'",
    "SELECT COUNT(DISTINCT DAY(ts)) AS nd FROM mf WHERE ts >= TIMESTAMP '2024-01-07 06:00:00'",
    'SELECT DAY(ts) AS g, COUNT(*) AS n FROM mf GROUP BY 1 HAVING COUNT(*) > 72 ORDER BY g DESC LIMIT 3',
    'SELECT DAY(ts) AS g, COUNT(*) AS n FROM mf GROUP BY DAY(ts) HAVING COUNT(*) > 77 ORDER BY g ASC LIMIT 1',
    'SELECT DAY(ts) AS g, COUNT(*) AS n FROM mf WHERE DAY(ts) = 4 GROUP BY g HAVING COUNT(*) > 7 ORDER BY g ASC LIMIT 1',
    'SELECT DAY(ts) AS g, COUNT(*) AS n FROM mf WHERE DAY(ts) = 5 GROUP BY DAY(ts) HAVING COUNT(*) > 107 ORDER BY g LIMIT 4',
    "SELECT DAY(ts) AS g, COUNT(*) AS n FROM mf WHERE dt BETWEEN DATE '2024-01-01' AND DATE '2024-01-06' GROUP BY g HAVING COUNT(*) > 29 ORDER BY g ASC LIMIT 1",
    'SELECT DAY(ts) AS g, COUNT(*) AS n, SUM(k) AS s FROM mf WHERE DAY(ts) = 6 GROUP BY g',
    'SELECT DAY(ts) AS g, COUNT(*) AS n, SUM(k) AS s FROM mf WHERE DAY(ts) = 7 GROUP BY g',
    "SELECT DAY(ts) AS g, COUNT(*) AS n, SUM(k) AS s FROM mf WHERE ts >= TIMESTAMP '2024-01-04 06:00:00' GROUP BY DAY(ts)",
    "SELECT DAY(ts) AS g, COUNT(*) AS n, SUM(k) AS s FROM mf WHERE ts >= TIMESTAMP '2024-01-05 06:00:00' GROUP BY 1",
    'SELECT DAY(ts) AS g, MIN(k) AS lo, AVG(i) AS av FROM mf GROUP BY g ORDER BY g DESC',
    'SELECT DAY(ts) AS g, MIN(k) AS lo, AVG(i) AS av FROM mf WHERE DAY(ts) = 3 GROUP BY DAY(ts) ORDER BY g DESC',
    'SELECT DAY(ts) AS g, MIN(k) AS lo, AVG(i) AS av FROM mf WHERE DAY(ts) = 5 AND k > 405 GROUP BY g ORDER BY g DESC',
    "SELECT DAY(ts) AS g, MIN(k) AS lo, AVG(i) AS av FROM mf WHERE dt BETWEEN DATE '2024-01-02' AND DATE '2024-01-03' GROUP BY DAY(ts) ORDER BY g DESC",
    "SELECT DAY(ts) AS g, MIN(k) AS lo, AVG(i) AS av FROM mf WHERE ts >= TIMESTAMP '2024-01-03 06:00:00' GROUP BY DAY(ts) ORDER BY g DESC",
    'SELECT DISTINCT DAY(ts) AS g FROM mf ORDER BY g ASC LIMIT 2',
    'SELECT DISTINCT DAY(ts) AS g FROM mf ORDER BY g ASC LIMIT 3',
    'SELECT DISTINCT DAY(ts) AS g FROM mf ORDER BY g DESC LIMIT 4',
    'SELECT DISTINCT DAY(ts) AS g FROM mf ORDER BY g LIMIT 1',
    'SELECT DISTINCT DAY(ts) AS g FROM mf ORDER BY g LIMIT 3',
    'SELECT MIN(dt), MAX(ts) FROM mf LIMIT 1',
    "SELECT MIN(k), MAX(k) FROM mf WHERE dt BETWEEN DATE '2024-01-01' AND DATE '2024-01-07'",
    "SELECT MIN(k), MAX(k) FROM mf WHERE ts >= TIMESTAMP '2024-01-01 06:00:00'",
    'SELECT MIN(x) AS lo, MAX(x) AS hi FROM mf WHERE DAY(ts) = 4 AND k > 678',
    'SELECT SUM(i), AVG(i) FROM mf WHERE DAY(ts) = 5 OR DAY(ts) = 4 LIMIT 1',
    'SELECT SUM(i), AVG(i) FROM mf WHERE DAY(ts) IN (7, 2) LIMIT 1',
    "SELECT SUM(i), AVG(i) FROM mf WHERE dt BETWEEN DATE '2024-01-02' AND DATE '2024-01-07'",
}
#: statement -> files kept by top-k pruning before the plan-driven rewrite
PINNED_TOPK = {
    'SELECT k, ts, i FROM mf ORDER BY k LIMIT 4': 2,
    "SELECT k, ts, i FROM mf WHERE dt BETWEEN DATE '2024-01-03' AND DATE '2024-01-05' ORDER BY ts LIMIT 4": 3,
    "SELECT k, ts, i FROM mf WHERE dt BETWEEN DATE '2024-01-05' AND DATE '2024-01-07' ORDER BY k LIMIT 4": 3,
    "SELECT k, ts, i FROM mf WHERE ts >= TIMESTAMP '2024-01-01 06:00:00' ORDER BY ts LIMIT 5": 3,
    "SELECT k, ts, i FROM mf WHERE ts >= TIMESTAMP '2024-01-01 06:00:00' ORDER BY ts LIMIT 6": 3,
    'SELECT k, v FROM mm ORDER BY k ASC LIMIT 3': 4,
    'SELECT k, v FROM mm ORDER BY k DESC LIMIT 3': 4,
    'SELECT k, v FROM mm ORDER BY k LIMIT 2': 4,
    'SELECT k, v FROM mm ORDER BY k LIMIT 3': 4,
    'SELECT k, v FROM mm WHERE k >= 217 ORDER BY k DESC LIMIT 5': 4,
    'SELECT k, v FROM mm WHERE k >= 288 ORDER BY k DESC LIMIT 1': 4,
    'SELECT k, v FROM mm WHERE k >= 288 ORDER BY k DESC LIMIT 2': 4,
    'SELECT k, v FROM mm WHERE k >= 507 ORDER BY k DESC LIMIT 3': 4,
    'SELECT k, v FROM mm WHERE k >= 604 ORDER BY k DESC LIMIT 4': 4,
    'SELECT k, v FROM mm WHERE k >= 631 ORDER BY k DESC LIMIT 4': 4,
}

_AGGS = [
    "COUNT(*)",
    "COUNT(*) AS n",
    "MIN(k), MAX(k)",
    "MIN(x) AS lo, MAX(x) AS hi",
    "SUM(i), AVG(i)",
    "SUM(amt) AS s, AVG(amt) AS a",
    "MIN(dt), MAX(ts)",
    "COUNT(*) AS n, SUM(k) AS s, MAX(i) AS m",
]


def _where(rng: random.Random) -> str:
    d1 = rng.randrange(1, 8)
    d2 = rng.randrange(1, 8)
    a = rng.randrange(0, 1400)
    b = a + rng.randrange(1, 500)
    return rng.choice([
        "",
        f" WHERE DAY(ts) = {d1}",
        f" WHERE DAY(ts) IN ({d1}, {d2})",
        f" WHERE DAY(ts) = {d1} OR DAY(ts) = {d2}",
        f" WHERE k >= {a} AND k < {b}",
        f" WHERE ts >= TIMESTAMP '2024-01-0{d1} 06:00:00'",
        f" WHERE dt BETWEEN DATE '2024-01-0{min(d1, d2)}' "
        f"AND DATE '2024-01-0{max(d1, d2)}'",
        f" WHERE DAY(ts) = {d1} AND k > {a}",
    ])


def _statement(rng: random.Random, i: int) -> tuple[str, bool]:
    """One statement and whether its ORDER BY is total."""
    w = _where(rng)
    d = rng.randrange(1, 8)
    a = rng.randrange(0, 1400)
    n = rng.randrange(1, 6)
    agg = rng.choice(_AGGS)
    grp = rng.choice(["DAY(ts)", "g", "1"])
    c = rng.choice(["k", "ts"])
    asc = rng.choice(["", " ASC", " DESC"])
    forms = [
        (f"SELECT {agg} FROM mf{w}", False),
        (f"SELECT {agg} FROM mf{w} LIMIT 1", False),
        (f"SELECT DAY(ts) AS g, COUNT(*) AS n, SUM(k) AS s FROM mf{w} "
         f"GROUP BY {grp}", False),
        (f"SELECT DAY(ts) AS g, COUNT(*) AS n FROM mf{w} GROUP BY {grp} "
         f"HAVING COUNT(*) > {a // 10} ORDER BY g{asc} LIMIT {n}", True),
        (f"SELECT DAY(ts) AS g, MIN(k) AS lo, AVG(i) AS av FROM mf{w} "
         f"GROUP BY {grp} ORDER BY g DESC", True),
        (f"SELECT DISTINCT DAY(ts) AS g FROM mf ORDER BY g{asc} LIMIT {n}",
         True),
        (f"SELECT COUNT(DISTINCT DAY(ts)) AS nd FROM mf{w}", False),
        (f"SELECT k, ts, i FROM mf{w} ORDER BY {c}{asc} LIMIT {n + 2}",
         True),
        (f"SELECT k, v FROM mm ORDER BY k{asc} LIMIT {n}", True),
        (f"SELECT k, v FROM mm WHERE k >= {a // 2} ORDER BY k DESC "
         f"LIMIT {n}", True),
        # near misses: must fall back with the same rows
        (f"SELECT COUNT(*) AS n FROM mf WHERE DAY(ts) = {d} "
         f"AND k % 2 = 0", False),
        (f"SELECT i AS k FROM mf ORDER BY k LIMIT {n}", False),
        (f"SELECT k FROM mf ORDER BY k DESC NULLS FIRST LIMIT {n}", True),
        (f"SELECT MAX(CAST(i AS BIGINT)) AS m FROM mf WHERE "
         f"CAST(k AS DOUBLE) > {a}.5", False),
    ]
    return forms[i % len(forms)]


def _answered(df) -> bool:
    plan = df._jdf.queryExecution().optimizedPlan()
    return sql_exec._plan_scans(plan) == []


@pytest.fixture(scope="module")
def mcat(spark, tmp_path_factory):
    cdir = str(tmp_path_factory.mktemp("meta_diff") / "catalog")
    inserts = "\n".join(
        f"""
        INSERT INTO mf SELECT id,
            TIMESTAMP '2024-01-01 00:00:00'
              + MAKE_INTERVAL(0, 0, 0, 0, 0, 0, id * 420),
            CAST(id % 50 AS INT),
            CAST(id AS DECIMAL(12, 2)) / 8,
            CASE WHEN id % 211 = 0 THEN CAST('NaN' AS DOUBLE)
                 ELSE id / 3.0 END,
            DATE '2024-01-01' + CAST(id DIV 205 AS INT)
          FROM RANGE({lo}, {lo + 500});"""
        for lo in (0, 500, 1000)
    )
    execute_sql_script(
        spark,
        f"""
        CREATE TABLE mf (k BIGINT, ts TIMESTAMP, i INT, amt DECIMAL(12, 2),
                         x DOUBLE, dt DATE)
          PARTITIONED BY (DAY(ts) AS d) STATS BY (k, ts, i, amt, x, dt);
        {inserts}
        CREATE TABLE mm (k BIGINT, v BIGINT) STATS BY (k, v);
        INSERT INTO mm SELECT id, id % 7 FROM RANGE(0, 400);
        INSERT INTO mm SELECT id, id % 7 FROM RANGE(400, 800);
        INSERT INTO mm SELECT id, id % 7 FROM RANGE(800, 1200);
        DELETE FROM mm WHERE k IN (3, 1195);
        """,
        cdir,
    )
    return cdir


def _fields(df) -> list:
    return [(f.name, f.dataType, f.nullable) for f in df.schema.fields]


def _ordered(rows: list, total: bool) -> list:
    """Rows as comparable reprs (NaN-safe), sorted unless ``total``."""
    out = [repr(tuple(r)) for r in rows]
    return out if total else sorted(out)


def test_metadata_and_topk_match_plain_attach(spark, mcat, monkeypatch):
    topk: dict = {}
    real_topk = sql_exec._topk_attach

    def spied(spark_, *args, **kwargs):
        pruned = real_topk(spark_, *args, **kwargs)
        for name in pruned or {}:
            topk[name] = len(spark_.table(name).inputFiles())
        return pruned

    monkeypatch.setattr(sql_exec, "_topk_attach", spied)
    rng = random.Random(20261019)
    answered: set = set()
    kept: dict = {}
    for i in range(N_STATEMENTS):
        stmt, total = _statement(rng, i)
        topk.clear()
        got = execute_sql(spark, stmt, mcat)
        cat.attach_catalog(spark, mcat)
        exp = spark.sql(stmt)
        assert _fields(got) == _fields(exp), stmt
        assert _ordered(got.collect(), total) == _ordered(
            exp.collect(), total
        ), stmt
        if _answered(got):
            answered.add(stmt)
        if topk:
            kept[stmt] = sum(topk.values())
    assert PINNED_ANSWERED <= answered, sorted(PINNED_ANSWERED - answered)
    assert set(PINNED_TOPK) <= set(kept), sorted(set(PINNED_TOPK) - set(kept))
    for stmt, n in PINNED_TOPK.items():
        assert kept[stmt] <= n, (stmt, kept[stmt], n)
