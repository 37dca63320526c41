"""Differential test for statement-level file pruning.

Seeded SELECTs over two multi-file catalog tables: a fact table with
STATS, BLOOM, CLUSTERED, a hidden ``DAY(ts)`` partition and a renamed
column, and a dimension with a merge-on-read DELETE and a renamed
column (a merge-on-read read costs ~0.4 s of fixed plan overhead per
execution, so it sits on the table fewer statements scan, keeping the
test near a minute).  For every statement:

* ``execute_sql`` returns the same rows as ``spark.sql`` over the plain
  attach (every table view unpruned);
* each pruned view the executor registers for the statement (plan
  pruning or top-k pruning) reads a subset of the files the plain view
  it replaces reads.

The statements cover WHERE shapes (points, ranges, IN lists, prefixes,
partition transforms, typed temporal literals, disjunctions, residual
expressions), INNER/LEFT/RIGHT/FULL/SEMI/ANTI joins, CTEs,
IN/EXISTS subqueries, UNION and self-joins."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from data_engineering_challenge_spark import sql_exec
from data_engineering_challenge_spark.sources import catalog as cat
from data_engineering_challenge_spark.sql_exec import (
    execute_sql,
    execute_sql_script,
)

N_STATEMENTS = 100


def _where(rng: random.Random, q: str) -> str:
    """One random WHERE body over the fact table; ``q`` is the column
    qualifier (``''`` or ``'x.'``)."""
    a = rng.randrange(0, 3000)
    b = a + rng.randrange(1, 400)
    day = rng.randrange(1, 12)
    day2 = rng.randrange(1, 12)
    g = rng.randrange(0, 7)
    shapes = [
        f"{q}k = {a}",
        f"{q}k BETWEEN {a} AND {b}",
        f"{q}k >= {a}",
        f"{q}k < {a}",
        f"{q}k > {a} AND {q}k <= {b}",
        f"{q}k IN ({a}, {b}, {rng.randrange(0, 3000)})",
        f"{q}k IN ({a}.0, {b}.0)",
        f"{q}k = '{a:05d}'",
        f"{q}s = 's{a:04d}'",
        f"{q}s IN ('s{a:04d}', 's{b:04d}')",
        f"{q}s LIKE 's0{a % 30:02d}%'",
        f"DAY({q}ts) = {day}",
        f"DAY({q}ts) IN ({day}, {day2})",
        f"{q}ts >= TIMESTAMP '2024-01-{day:02d} 06:00:00' "
        f"AND {q}ts < '2024-01-{min(day + 1, 12):02d}'",
        f"{q}ts < DATE '2024-01-{day:02d}'",
        f"{q}k = {a} OR {q}k BETWEEN {b} AND {b + 50}",
        f"{q}k < {a} OR {q}s = 's{b:04d}'",
        f"{q}grp = {g} AND {q}k > {a}",
        f"NOT ({q}k > {a})",
        f"{q}k + 1 = {a}",
        f"CASE WHEN {q}k > {a} THEN 1 ELSE 0 END = 1",
        f"{q}s IS NULL OR {q}k = {a}",
        f"({q}k BETWEEN {a} AND {b}) AND {q}v >= {a % 101}",
    ]
    return rng.choice(shapes)


def _statement(rng: random.Random, i: int) -> str:
    w = _where(rng, "")
    wx = _where(rng, "x.")
    g = rng.randrange(0, 7)
    forms = [
        f"SELECT k, s, grp, ts FROM xf WHERE {w}",
        f"SELECT COUNT(*) AS n, SUM(v) AS sv FROM xf WHERE {w}",
        f"SELECT grp, COUNT(*) AS n FROM xf WHERE {w} GROUP BY grp",
        f"SELECT x.k, d.label FROM xf x JOIN xd d ON x.grp = d.g "
        f"WHERE {wx} AND d.g <= {g}",
        f"SELECT x.k, d.label FROM xf x LEFT JOIN xd d ON x.grp = d.g "
        f"WHERE {wx}",
        f"SELECT x.k, d.label FROM xf x LEFT JOIN xd d "
        f"ON x.grp = d.g AND d.weight >= {g * 10} WHERE {wx}",
        f"SELECT x.k, d.g FROM xd d RIGHT JOIN xf x ON x.grp = d.g "
        f"WHERE {wx}",
        f"SELECT x.k, d.g FROM xf x FULL JOIN xd d ON x.grp = d.g "
        f"WHERE {wx}",
        f"SELECT x.k FROM xf x LEFT SEMI JOIN xd d ON x.grp = d.g "
        f"WHERE {wx}",
        f"SELECT x.k FROM xf x LEFT ANTI JOIN xd d ON x.grp = d.g "
        f"WHERE {wx}",
        f"WITH c AS (SELECT * FROM xf WHERE {w}) "
        f"SELECT c.k, d.label FROM c JOIN xd d ON c.grp = d.g",
        f"WITH c AS (SELECT * FROM xf x WHERE {wx}) "
        f"SELECT a.k, b.k AS k2 FROM c a JOIN c b ON a.k = b.k + 1",
        f"SELECT k FROM xf WHERE {w} "
        f"AND grp IN (SELECT g FROM xd WHERE weight >= {g * 10})",
        f"SELECT x.k FROM xf x WHERE {wx} "
        f"AND EXISTS (SELECT 1 FROM xd d WHERE d.g = x.grp AND d.g < {g})",
        f"SELECT k FROM xf WHERE {w} UNION SELECT k FROM xf x WHERE {wx}",
        f"SELECT k, 'a' AS src FROM xf WHERE {w} "
        f"UNION ALL SELECT k, 'b' FROM xf",
        f"SELECT x.k, y.k AS k2 FROM xf x JOIN xf y ON x.k = y.k - 1 "
        f"WHERE {wx}",
        f"SELECT k FROM xf WHERE {w} AND k NOT IN "
        f"(SELECT k FROM xf WHERE k < {g * 100})",
        f"SELECT k, s FROM xf WHERE {w} ORDER BY k DESC LIMIT 5",
        f"SELECT label, weight FROM xd WHERE weight >= {g * 10} "
        f"OR label = 'L{g}'",
    ]
    return forms[i % len(forms)]


def _both_rows(got, plain):
    """Sorted rows of two same-schema frames, from ONE Spark action
    (a positional union tagged by side) — half the job overhead of two
    collects."""
    cols = [f"c{i}" for i in range(len(got.columns))]
    tagged = [
        df.toDF(*cols).select(F.lit(side).alias("_side"), *cols)
        for side, df in enumerate((got, plain))
    ]
    out: tuple[list, list] = ([], [])
    for r in tagged[0].union(tagged[1]).collect():
        out[r[0]].append(tuple(r)[1:])
    return tuple(sorted(rows, key=repr) for rows in out)


@pytest.fixture(scope="module")
def xcat(spark, tmp_path_factory):
    cdir = str(tmp_path_factory.mktemp("prune_diff") / "catalog")
    execute_sql_script(
        spark,
        """
        CREATE TABLE xf (k BIGINT, ts TIMESTAMP, s STRING, g BIGINT,
                         v BIGINT)
          PARTITIONED BY (DAY(ts) AS d) CLUSTERED BY (k)
          STATS BY (k, ts, s, g, v) BLOOM BY (s) BITS 4096;
        INSERT INTO xf SELECT id,
            TIMESTAMP '2024-01-01 00:00:00'
              + MAKE_INTERVAL(0, 0, 0, 0, 0, 0, id * 300),
            CONCAT('s', LPAD(CAST(id AS STRING), 4, '0')), id % 7, id % 101
          FROM RANGE(0, 1500);
        INSERT INTO xf SELECT id,
            TIMESTAMP '2024-01-01 00:00:00'
              + MAKE_INTERVAL(0, 0, 0, 0, 0, 0, id * 300),
            CONCAT('s', LPAD(CAST(id AS STRING), 4, '0')), id % 7, id % 101
          FROM RANGE(1500, 3000);
        ALTER TABLE xf RENAME COLUMN g TO grp;
        CREATE TABLE xd (g BIGINT, label STRING, w BIGINT)
          CLUSTERED BY (g) STATS BY (g, label, w);
        INSERT INTO xd SELECT id, CONCAT('L', id), id * 10 FROM RANGE(0, 4);
        INSERT INTO xd SELECT id, CONCAT('L', id), id * 10 FROM RANGE(4, 7);
        DELETE FROM xd WHERE g = 5;
        ALTER TABLE xd RENAME COLUMN w TO weight;
        """,
        cdir,
    )
    return cdir


def _spy(attach, seen: list):
    """Wrap a pruned-attach function: record, for each view it
    re-registers, (name, pruned view files, plain view files)."""

    def spied(spark, *args, **kwargs):
        pruned = attach(spark, *args, **kwargs)
        for name, prior in (pruned or {}).items():
            seen.append(
                (
                    name,
                    set(spark.table(name).inputFiles()),
                    set(prior.inputFiles()),
                )
            )
        return pruned

    return spied


def test_pruned_statements_match_plain_attach(spark, xcat, monkeypatch):
    seen: list = []
    for fn in ("_pruned_attach", "_topk_attach"):
        monkeypatch.setattr(sql_exec, fn, _spy(getattr(sql_exec, fn), seen))
    rng = random.Random(20261018)
    pruned_any = 0
    for i in range(N_STATEMENTS):
        stmt = _statement(rng, i)
        del seen[:]
        got = execute_sql(spark, stmt, xcat)
        cat.attach_catalog(spark, xcat)
        got_rows, plain_rows = _both_rows(got, spark.sql(stmt))
        assert got_rows == plain_rows, stmt
        for name, kept, plain in seen:
            assert kept <= plain, (stmt, name)
        pruned_any += bool(seen)
    # the differential only means something if pruning engaged
    assert pruned_any >= N_STATEMENTS // 4, pruned_any
