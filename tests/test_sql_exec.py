"""SQL statement executor (`sql_exec.py`): DDL/DML/utility statements
over the snapshot format + persistent catalog.  Reference parity: the
reference drives everything through SQL strings on named tables
(pipeline/db_operations.py); here the same statement surface routes to
the format's transactional operators, so the SQL client keeps time
travel, MoR deletes, and serializable commits."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_engineering_challenge_spark.sources import catalog as cat
from data_engineering_challenge_spark.sources import snapshots as sn
from data_engineering_challenge_spark.sql_exec import (
    SqlSyntaxError,
    execute_sql,
    execute_sql_script,
)


@pytest.fixture()
def cdir(tmp_path):
    return str(tmp_path / "catalog")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _assert_sound_prune(spark, cdir, stmt):
    """A statement the plan-driven pruner may narrow: its executor rows
    equal the plain attach's, and no pruned view reads more files than
    the plain view it replaced.  Returns the pruned names."""
    from data_engineering_challenge_spark.sql_exec import (
        _attach, _pruned_attach,
    )

    got = _rows(execute_sql(spark, stmt, cdir))
    cat.attach_catalog(spark, cdir)
    assert got == _rows(spark.sql(stmt)), stmt
    pruned = _pruned_attach(spark, cdir, stmt, _attach(spark, cdir, stmt))
    for nm, prior in (pruned or {}).items():
        n = len(spark.table(nm).inputFiles())
        prior.createOrReplaceTempView(nm)
        assert n <= len(prior.inputFiles()), (stmt, nm)
    return sorted(pruned or [])


def test_ctas_insert_select_roundtrip(spark, cdir):
    v = execute_sql(
        spark,
        "CREATE TABLE inv AS SELECT id AS k, id * 10 AS qty FROM RANGE(5)",
        cdir,
    )
    assert v == 0
    # positional INSERT casts to the table schema
    assert execute_sql(
        spark, "INSERT INTO inv VALUES (100, 1), (101, 2)", cdir
    ) == 1
    out = execute_sql(spark, "SELECT COUNT(*) AS n, SUM(qty) AS s FROM inv", cdir)
    assert _rows(out) == [(7, 103)]
    # named-column INSERT fills the unnamed column with NULL
    execute_sql(spark, "INSERT INTO inv (k) SELECT 999", cdir)
    out = execute_sql(
        spark, "SELECT qty FROM inv WHERE k = 999", cdir
    )
    assert _rows(out) == [(None,)]
    # arity mismatch refuses
    with pytest.raises(ValueError, match="columns"):
        execute_sql(spark, "INSERT INTO inv SELECT 1", cdir)
    # INSERT OVERWRITE replaces content, keeps history
    execute_sql(spark, "INSERT OVERWRITE inv SELECT 1, 1", cdir)
    assert _rows(execute_sql(spark, "SELECT * FROM inv", cdir)) == [(1, 1)]
    root = cat.catalog_entries(cdir)["inv"]["root"]
    assert len(sn.snapshot_versions(root)) == 4  # full lineage retained


def test_ctas_exists_semantics(spark, cdir):
    execute_sql(spark, "CREATE TABLE t1 AS SELECT 1 AS a", cdir)
    with pytest.raises(ValueError, match="already exists"):
        execute_sql(spark, "CREATE TABLE t1 AS SELECT 2 AS a", cdir)
    # IF NOT EXISTS no-ops and returns the current version
    assert execute_sql(
        spark, "CREATE TABLE IF NOT EXISTS t1 AS SELECT 2 AS a", cdir
    ) == 0
    assert _rows(execute_sql(spark, "SELECT * FROM t1", cdir)) == [(1,)]
    # OR REPLACE commits a NEW VERSION on the same lineage (time travel
    # across the replace keeps working)
    v = execute_sql(spark, "CREATE OR REPLACE TABLE t1 AS SELECT 2 AS a", cdir)
    assert v == 1
    assert _rows(execute_sql(spark, "SELECT * FROM t1", cdir)) == [(2,)]


def test_update_delete_where(spark, cdir):
    execute_sql(
        spark,
        "CREATE TABLE acct AS SELECT id AS k, CAST(id * 100 AS BIGINT) AS bal"
        " FROM RANGE(6)",
        cdir,
    )
    # alias-qualified references bind to plain columns underneath
    execute_sql(
        spark,
        "UPDATE acct a SET a.bal = a.bal + 5 WHERE a.k >= 4",
        cdir,
    )
    assert _rows(execute_sql(spark, "SELECT k, bal FROM acct", cdir)) == [
        (0, 0), (1, 100), (2, 200), (3, 300), (4, 405), (5, 505),
    ]
    execute_sql(spark, "DELETE FROM acct WHERE bal > 400", cdir)
    assert _rows(execute_sql(spark, "SELECT k FROM acct", cdir)) == [
        (0,), (1,), (2,), (3,),
    ]
    # DELETE without WHERE empties the table (new version, history kept)
    execute_sql(spark, "DELETE FROM acct", cdir)
    assert _rows(execute_sql(spark, "SELECT k FROM acct", cdir)) == []


def test_merge_into_full_clause_matrix(spark, cdir):
    execute_sql(
        spark,
        "CREATE TABLE tgt AS SELECT id AS k, CAST(id AS BIGINT) AS v,"
        " 'keep' AS tag FROM RANGE(4)",
        cdir,
    )
    execute_sql(
        spark,
        "CREATE TABLE src AS SELECT id + 2 AS k, CAST(id * 100 AS BIGINT)"
        " AS v FROM RANGE(4)",
        cdir,
    )
    execute_sql(
        spark,
        """
        MERGE INTO tgt AS dst USING src AS new ON dst.k = new.k
        WHEN MATCHED AND new.v > 100 THEN DELETE
        WHEN MATCHED THEN UPDATE SET dst.v = new.v + dst.v
        WHEN NOT MATCHED AND new.k < 5 THEN INSERT (k, v, tag)
            VALUES (new.k, new.v, 'ins')
        WHEN NOT MATCHED BY SOURCE AND dst.k = 0 THEN UPDATE
            SET dst.tag = 'lonely'
        """,
        cdir,
    )
    # k=2: matched, v=0+2 -> updated; k=3: matched, src v=100, not >100 ->
    # updated 103; k=4: src v=200 matches no target -> insert gated k<5 ->
    # inserted; k=5: v=300, gate fails -> ignored; k=0: by-source update;
    # k=1: by-source default keep
    assert _rows(execute_sql(spark, "SELECT k, v, tag FROM tgt", cdir)) == [
        (0, 0, "lonely"),
        (1, 1, "keep"),
        (2, 2, "keep"),
        (3, 103, "keep"),
        (4, 200, "ins"),
    ]


def test_merge_using_subquery_and_insert_star(spark, cdir):
    execute_sql(
        spark, "CREATE TABLE base AS SELECT id AS k, id AS v FROM RANGE(3)",
        cdir,
    )
    execute_sql(
        spark,
        "MERGE INTO base t USING (SELECT id + 2 AS k, id * 7 AS v"
        " FROM RANGE(3)) s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED THEN INSERT *",
        cdir,
    )
    assert _rows(execute_sql(spark, "SELECT k, v FROM base", cdir)) == [
        (0, 0), (1, 1), (2, 0), (3, 7), (4, 14),
    ]


def test_merge_refusals(spark, cdir):
    execute_sql(spark, "CREATE TABLE m1 AS SELECT 1 AS k, 1 AS v", cdir)
    execute_sql(spark, "CREATE TABLE m2 AS SELECT 1 AS k, 2 AS v", cdir)
    with pytest.raises(SqlSyntaxError, match="SAME-NAMED"):
        execute_sql(
            spark,
            "MERGE INTO m1 t USING m2 s ON t.k = s.v "
            "WHEN MATCHED THEN DELETE",
            cdir,
        )
    with pytest.raises(SqlSyntaxError, match="conjunction"):
        execute_sql(
            spark,
            "MERGE INTO m1 t USING m2 s ON t.k < s.k "
            "WHEN MATCHED THEN DELETE",
            cdir,
        )
    with pytest.raises(SqlSyntaxError, match="alias"):
        execute_sql(
            spark,
            "MERGE INTO m1 t USING (SELECT 1 AS k) ON t.k = s.k "
            "WHEN MATCHED THEN DELETE",
            cdir,
        )
    with pytest.raises(SqlSyntaxError, match="WHEN clause"):
        execute_sql(spark, "MERGE INTO m1 t USING m2 s ON t.k = s.k", cdir)


def test_views_persist_and_layer(spark, cdir):
    execute_sql(
        spark, "CREATE TABLE ev AS SELECT id AS k, id % 2 AS b FROM RANGE(10)",
        cdir,
    )
    execute_sql(
        spark,
        "CREATE VIEW odd AS SELECT k FROM ev WHERE b = 1",
        cdir,
    )
    # a view over a view, created later — allowed by the ts-order contract
    execute_sql(
        spark,
        "CREATE VIEW odd_big AS SELECT k FROM odd WHERE k > 4",
        cdir,
    )
    assert _rows(execute_sql(spark, "SELECT * FROM odd_big", cdir)) == [
        (5,), (7,), (9,),
    ]
    # views are STANDARD views: they see writes to the base table
    execute_sql(spark, "INSERT INTO ev VALUES (11, 1)", cdir)
    assert (11,) in _rows(execute_sql(spark, "SELECT * FROM odd_big", cdir))
    # a FRESH session resolves everything by name from the catalog alone
    s2 = spark.newSession()
    assert _rows(execute_sql(s2, "SELECT COUNT(*) AS n FROM odd", cdir)) == [
        (6,)
    ]
    # views are read-only targets
    with pytest.raises(ValueError, match="read-only"):
        execute_sql(spark, "DELETE FROM odd WHERE k = 5", cdir)
    with pytest.raises(ValueError, match="is a view"):
        execute_sql(spark, "DROP TABLE odd", cdir)
    execute_sql(spark, "DROP VIEW odd_big", cdir)
    assert "odd_big" not in cat.catalog_entries(cdir)


def test_pinned_entries_are_read_only(spark, cdir):
    execute_sql(spark, "CREATE TABLE audit AS SELECT 1 AS a", cdir)
    root = cat.catalog_entries(cdir)["audit"]["root"]
    cat.catalog_register(cdir, "audit_v0", root, version=0)
    with pytest.raises(ValueError, match="read-only"):
        execute_sql(spark, "DELETE FROM audit_v0", cdir)
    # the pinned view still reads
    assert _rows(execute_sql(spark, "SELECT * FROM audit_v0", cdir)) == [(1,)]


def test_show_describe_optimize(spark, cdir):
    execute_sql(spark, "CREATE TABLE st AS SELECT id FROM RANGE(4)", cdir)
    execute_sql(spark, "CREATE VIEW sv AS SELECT * FROM st", cdir)
    shown = {
        (r.name, r.kind) for r in execute_sql(spark, "SHOW TABLES", cdir).collect()
    }
    assert shown == {("st", "table"), ("sv", "view")}
    det = execute_sql(spark, "DESCRIBE st", cdir)
    assert det.first().num_files >= 1
    vdesc = execute_sql(spark, "DESCRIBE sv", cdir).first()
    assert vdesc.kind == "view" and "SELECT" in vdesc.sql
    # OPTIMIZE routes to snapshot_compact and commits (or keeps) a version
    execute_sql(spark, "INSERT INTO st VALUES (10)", cdir)
    v = execute_sql(spark, "OPTIMIZE st", cdir)
    assert isinstance(v, int)
    assert _rows(execute_sql(spark, "SELECT COUNT(*) AS n FROM st", cdir)) == [
        (5,)
    ]


def test_script_splitting_and_literal_inertness(spark, cdir):
    results = execute_sql_script(
        spark,
        """
        CREATE TABLE notes AS SELECT 1 AS k, 'a; DELETE FROM notes' AS txt;
        INSERT INTO notes VALUES (2, 'WHERE ; MERGE');
        SELECT k FROM notes WHERE txt <> 'nope;'
        """,
        cdir,
    )
    assert results[0] == 0 and results[1] == 1
    assert _rows(results[2]) == [(1,), (2,)]


def test_unsupported_statements_refuse_loudly(spark, cdir):
    for bad in (
        "TRUNCATE TABLE x",
        "ALTER SESSION SET x = 1",
        "GRANT ALL ON x TO y",
        "",
        ";",
    ):
        with pytest.raises(SqlSyntaxError):
            execute_sql(spark, bad, cdir)


def test_case_expression_inside_merge_clauses(spark, cdir):
    """An unparenthesized CASE WHEN ... THEN ... END inside a clause
    expression must not read as a MERGE clause boundary."""
    execute_sql(spark, "CREATE TABLE cs AS SELECT id AS k, id AS v FROM RANGE(4)", cdir)
    execute_sql(
        spark,
        "MERGE INTO cs t USING (SELECT id AS k, id + 10 AS v FROM RANGE(6))"
        " s ON t.k = s.k "
        "WHEN MATCHED AND CASE WHEN s.v > 12 THEN true ELSE false END "
        "THEN UPDATE SET v = CASE WHEN s.v > t.v THEN s.v ELSE t.v END "
        "WHEN NOT MATCHED THEN INSERT (k, v) VALUES "
        "(s.k, CASE WHEN s.v > 13 THEN -1 ELSE s.v END)",
        cdir,
    )
    # k=0..2: matched, condition false -> kept; k=3: cond true -> v=13;
    # k=4: insert v=14>13 -> -1; k=5: insert -1
    assert _rows(execute_sql(spark, "SELECT k, v FROM cs", cdir)) == [
        (0, 0), (1, 1), (2, 2), (3, 13), (4, -1), (5, -1),
    ]


def test_ctas_or_replace_refuses_pinned_entry(spark, cdir):
    """CREATE OR REPLACE TABLE through a PINNED catalog entry would
    silently advance the shared root's live lineage while the pinned
    name kept reading old data — it must refuse like every other
    write."""
    execute_sql(spark, "CREATE TABLE liv AS SELECT 1 AS a", cdir)
    root = cat.catalog_entries(cdir)["liv"]["root"]
    cat.catalog_register(cdir, "liv_v0", root, version=0)
    with pytest.raises(ValueError, match="read-only"):
        execute_sql(
            spark, "CREATE OR REPLACE TABLE liv_v0 AS SELECT 2 AS a", cdir
        )
    # the live table was NOT advanced by the refused statement
    assert sn.current_version(root) == 0


def test_view_replace_keeps_creation_order(spark, cdir):
    """Redefining a view keeps its creation-order slot, so dependents
    created later still attach AFTER it — in this session and fresh
    ones."""
    execute_sql(spark, "CREATE VIEW va AS SELECT 1 AS x", cdir)
    execute_sql(spark, "CREATE VIEW vb AS SELECT x + 1 AS y FROM va", cdir)
    execute_sql(spark, "CREATE OR REPLACE VIEW va AS SELECT 10 AS x", cdir)
    # same session: vb sees the NEW va
    assert _rows(execute_sql(spark, "SELECT * FROM vb", cdir)) == [(11,)]
    # fresh session: attach succeeds and agrees
    s2 = spark.newSession()
    assert _rows(execute_sql(s2, "SELECT * FROM vb", cdir)) == [(11,)]
    # a view cannot replace a table, nor a table a view
    execute_sql(spark, "CREATE TABLE tbl_x AS SELECT 1 AS a", cdir)
    with pytest.raises(ValueError, match="is a table"):
        execute_sql(
            spark, "CREATE OR REPLACE VIEW tbl_x AS SELECT 1 AS a", cdir
        )


def test_drop_is_visible_in_same_session(spark, cdir):
    execute_sql(spark, "CREATE TABLE gone AS SELECT 1 AS a", cdir)
    assert _rows(execute_sql(spark, "SELECT * FROM gone", cdir)) == [(1,)]
    execute_sql(spark, "DROP TABLE gone", cdir)
    with pytest.raises(Exception, match="TABLE_OR_VIEW_NOT_FOUND|cannot be found"):
        execute_sql(spark, "SELECT * FROM gone", cdir)


def test_duplicate_insert_columns_refuse(spark, cdir):
    execute_sql(spark, "CREATE TABLE dup AS SELECT 1 AS k, 1 AS v", cdir)
    with pytest.raises(SqlSyntaxError, match="duplicate columns"):
        execute_sql(spark, "INSERT INTO dup (k, k) SELECT 1, 2", cdir)
    with pytest.raises(SqlSyntaxError, match="duplicate columns"):
        execute_sql(
            spark,
            "MERGE INTO dup t USING (SELECT 2 AS k, 3 AS v) s ON t.k = s.k "
            "WHEN NOT MATCHED THEN INSERT (k, k) VALUES (s.k, s.v)",
            cdir,
        )


def test_narrowed_attach_skips_unrelated_broken_entries(spark, cdir, tmp_path):
    """attach_catalog(names=[...]) with no views requested must touch
    ONLY the requested tables — an unrelated entry whose root vanished
    cannot fail it."""
    import json
    import os
    import shutil

    execute_sql(spark, "CREATE TABLE ok AS SELECT 1 AS a", cdir)
    execute_sql(spark, "CREATE TABLE broken AS SELECT 2 AS a", cdir)
    shutil.rmtree(cat.catalog_entries(cdir)["broken"]["root"])
    s2 = spark.newSession()
    assert cat.attach_catalog(s2, cdir, names=["ok"]) == {"ok": 0}
    assert s2.sql("SELECT * FROM ok").collect()[0].a == 1


def test_alter_table_statements(spark, cdir):
    execute_sql(spark, "CREATE TABLE alt AS SELECT id AS k FROM RANGE(3)", cdir)
    execute_sql(
        spark,
        "ALTER TABLE alt ADD COLUMN tier STRING DEFAULT 'bronze'",
        cdir,
    )
    execute_sql(spark, "ALTER TABLE alt ADD COLUMN score DOUBLE", cdir)
    assert _rows(execute_sql(spark, "SELECT k, tier, score FROM alt", cdir)) == [
        (0, "bronze", None), (1, "bronze", None), (2, "bronze", None),
    ]
    execute_sql(spark, "ALTER TABLE alt RENAME COLUMN tier TO level", cdir)
    execute_sql(spark, "ALTER TABLE alt DROP COLUMN score", cdir)
    assert _rows(execute_sql(spark, "SELECT k, level FROM alt", cdir)) == [
        (0, "bronze"), (1, "bronze"), (2, "bronze"),
    ]
    # parenthesized types and numeric defaults parse
    execute_sql(
        spark,
        "ALTER TABLE alt ADD COLUMN bal DECIMAL(28,10) DEFAULT 100",
        cdir,
    )
    assert _rows(
        execute_sql(spark, "SELECT CAST(SUM(bal) AS BIGINT) AS s FROM alt", cdir)
    ) == [(300,)]
    with pytest.raises(SqlSyntaxError, match="ADD/RENAME/DROP"):
        execute_sql(spark, "ALTER TABLE alt SET TBLPROPERTIES x", cdir)


def test_alter_add_columns_grammar(spark, cdir):
    execute_sql(spark, "CREATE TABLE ag AS SELECT id AS k FROM RANGE(2)", cdir)
    # multi-column ADD COLUMNS, signed float default, negative int
    execute_sql(
        spark,
        "ALTER TABLE ag ADD COLUMNS w DOUBLE DEFAULT -1.5, "
        "n INT DEFAULT -2, s STRING",
        cdir,
    )
    assert _rows(execute_sql(spark, "SELECT k, w, n, s FROM ag", cdir)) == [
        (0, -1.5, -2, None), (1, -1.5, -2, None),
    ]
    # trailing modifiers refuse loudly instead of committing garbage
    with pytest.raises(SqlSyntaxError, match="NOT NULL"):
        execute_sql(spark, "ALTER TABLE ag ADD COLUMN y INT NOT NULL", cdir)
    # a typo'd type never reaches the manifest (evolve validates)
    with pytest.raises(ValueError, match="unreadable as declared"):
        execute_sql(spark, "ALTER TABLE ag ADD COLUMN z STRNG", cdir)
    with pytest.raises(SqlSyntaxError, match="duplicate column"):
        execute_sql(
            spark, "ALTER TABLE ag ADD COLUMNS a INT, a STRING", cdir
        )
    # the table is still healthy after every refusal
    assert _rows(execute_sql(spark, "SELECT COUNT(*) AS c FROM ag", cdir)) == [
        (2,)
    ]


def test_sql_dml_matches_python_api(spark, cdir, tmp_path):
    """The SQL route and the Python API produce IDENTICAL table states
    for the same logical operations (same operators underneath)."""
    execute_sql(
        spark,
        "CREATE TABLE sq AS SELECT id AS k, CAST(id AS BIGINT) AS v"
        " FROM RANGE(8)",
        cdir,
    )
    root2 = str(tmp_path / "pyapi")
    sn.snapshot_overwrite(
        spark.range(8).select(
            F.col("id").alias("k"), F.col("id").cast("bigint").alias("v")
        ),
        root2,
    )
    execute_sql(spark, "UPDATE sq SET v = v * 2 WHERE k % 2 = 0", cdir)
    sn.snapshot_update_where(
        spark, root2, "k % 2 = 0", {"v": "v * 2"}
    )
    execute_sql(spark, "DELETE FROM sq WHERE v >= 12", cdir)
    sn.snapshot_delete_where(spark, root2, "v >= 12")
    a = _rows(execute_sql(spark, "SELECT k, v FROM sq", cdir))
    b = sorted(tuple(r) for r in sn.read_snapshot_mor(spark, root2).collect())
    assert a == b and len(a) > 0


def test_inline_time_travel_in_select(spark, cdir):
    """FROM t VERSION AS OF n / '<ref>' / TIMESTAMP AS OF '<ts>' inside
    plain SELECT text — each pin resolves through the snapshot lineage
    and the rest of the statement passes through byte-identical
    (string literals containing the keywords stay literal)."""
    import time as _time

    execute_sql(spark, "CREATE TABLE tt AS SELECT id AS k FROM RANGE(3)", cdir)
    root = cat.catalog_entries(cdir)["tt"]["root"]
    sn.snapshot_create_tag(root, "audit", version=0)
    mid = _time.time()
    _time.sleep(0.05)
    execute_sql(spark, "INSERT INTO tt SELECT id FROM RANGE(3, 6)", cdir)
    assert _rows(
        execute_sql(spark, "SELECT COUNT(*) AS c FROM tt", cdir)
    ) == [(6,)]
    assert _rows(
        execute_sql(spark, "SELECT COUNT(*) AS c FROM tt VERSION AS OF 0", cdir)
    ) == [(3,)]
    assert _rows(
        execute_sql(
            spark, "SELECT COUNT(*) AS c FROM tt VERSION AS OF 'audit'", cdir
        )
    ) == [(3,)]
    from datetime import datetime, timezone

    ts = datetime.fromtimestamp(mid, tz=timezone.utc).strftime(
        "%Y-%m-%d %H:%M:%S.%f"
    )
    assert _rows(
        execute_sql(
            spark,
            f"SELECT COUNT(*) AS c FROM tt TIMESTAMP AS OF '{ts}'",
            cdir,
        )
    ) == [(3,)]
    # two pins of the SAME table in one statement
    assert _rows(
        execute_sql(
            spark,
            "SELECT (SELECT COUNT(*) FROM tt VERSION AS OF 0) AS old, "
            "(SELECT COUNT(*) FROM tt) AS new",
            cdir,
        )
    ) == [(3, 6)]
    # a string literal mentioning the syntax is untouched
    assert _rows(
        execute_sql(
            spark,
            "SELECT 'tt VERSION AS OF 99' AS s FROM tt VERSION AS OF 0 "
            "WHERE k = 0",
            cdir,
        )
    ) == [("tt VERSION AS OF 99",)]


def test_inline_time_travel_refusals_and_views(spark, cdir):
    execute_sql(spark, "CREATE TABLE tv AS SELECT id AS k FROM RANGE(4)", cdir)
    root = cat.catalog_entries(cdir)["tv"]["root"]
    with pytest.raises(FileNotFoundError, match="not in the catalog"):
        execute_sql(spark, "SELECT * FROM ghost VERSION AS OF 0", cdir)
    with pytest.raises(SqlSyntaxError, match="integer version or a quoted"):
        execute_sql(spark, "SELECT * FROM tv VERSION AS OF 1.5", cdir)
    with pytest.raises(SqlSyntaxError, match="quoted timestamp"):
        execute_sql(spark, "SELECT * FROM tv TIMESTAMP AS OF 12", cdir)
    # pinned catalog entries refuse AS OF (it would bypass the pin)
    cat.catalog_register(cdir, "tv_pinned", root, version=0)
    with pytest.raises(ValueError, match="PINNED catalog entry"):
        execute_sql(spark, "SELECT * FROM tv_pinned VERSION AS OF 0", cdir)
    # a stored VIEW may time-travel: the rewrite re-applies at attach
    execute_sql(spark, "INSERT INTO tv SELECT id FROM RANGE(4, 9)", cdir)
    execute_sql(
        spark,
        "CREATE VIEW tv_audit AS SELECT COUNT(*) AS c FROM tv "
        "VERSION AS OF 0",
        cdir,
    )
    assert _rows(execute_sql(spark, "SELECT * FROM tv_audit", cdir)) == [(4,)]
    s2 = spark.newSession()
    cat.attach_catalog(s2, cdir)
    assert s2.sql("SELECT * FROM tv_audit").collect()[0].c == 4


def test_alter_add_complex_types(spark, cdir):
    """Angle-bracketed DDL types keep their inner commas — the type
    slice nests <> alongside ()."""
    execute_sql(spark, "CREATE TABLE cx AS SELECT id AS k FROM RANGE(2)", cdir)
    execute_sql(
        spark,
        "ALTER TABLE cx ADD COLUMNS s STRUCT<a:INT,b:STRING>, "
        "m MAP<STRING,INT>, arr ARRAY<ARRAY<INT>>, d DECIMAL(28,10)",
        cdir,
    )
    df = execute_sql(spark, "SELECT * FROM cx", cdir)
    assert df.schema["s"].dataType.simpleString() == "struct<a:int,b:string>"
    assert df.schema["m"].dataType.simpleString() == "map<string,int>"
    assert df.schema["arr"].dataType.simpleString() == "array<array<int>>"
    assert df.count() == 2


def test_timestamp_as_of_uses_session_timezone(spark, cdir):
    """A naive TIMESTAMP AS OF literal resolves in the SESSION timezone
    (the Delta/Spark rule), not silently in UTC."""
    import time as _time
    from datetime import datetime, timezone, timedelta

    execute_sql(spark, "CREATE TABLE tz AS SELECT 1 AS k", cdir)
    mid_utc = datetime.now(timezone.utc)
    _time.sleep(0.05)
    execute_sql(spark, "INSERT INTO tz SELECT 2", cdir)
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
        # the same instant spelled in Tokyo time must pin v0 too
        tokyo = mid_utc + timedelta(hours=9)
        lit = tokyo.strftime("%Y-%m-%d %H:%M:%S.%f")
        got = execute_sql(
            spark,
            f"SELECT COUNT(*) AS c FROM tz TIMESTAMP AS OF '{lit}'",
            cdir,
        ).collect()[0].c
        assert got == 1, "naive literal resolved in session tz"
        # spelled as UTC under a Tokyo session → must ALSO pin v0 only
        # if interpreted as Tokyo (i.e. 9h earlier than the commit) —
        # before v0's commit time it errors or pins nothing newer;
        # use an explicit offset to stay unambiguous instead
        utc_lit = mid_utc.strftime("%Y-%m-%d %H:%M:%S.%f+00:00")
        got = execute_sql(
            spark,
            f"SELECT COUNT(*) AS c FROM tz TIMESTAMP AS OF '{utc_lit}'",
            cdir,
        ).collect()[0].c
        assert got == 1, "explicit offset overrides the session tz"
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def test_describe_history_and_vacuum(spark, cdir):
    execute_sql(spark, "CREATE TABLE h AS SELECT 1 AS k", cdir)
    for i in range(2, 6):
        execute_sql(spark, f"INSERT INTO h SELECT {i}", cdir)
    hist = execute_sql(spark, "DESCRIBE HISTORY h", cdir)
    assert hist.count() == 5
    ops = [r.operation for r in hist.orderBy("version").collect()]
    assert ops[0] == "overwrite" and set(ops[1:]) == {"append"}
    # VACUUM expires old versions (orphan collection is age-gated, so
    # fresh data files survive the in-test call)
    row = execute_sql(spark, "VACUUM h RETAIN 2 VERSIONS", cdir).collect()[0]
    assert row.versions_expired == 3
    root = cat.catalog_entries(cdir)["h"]["root"]
    assert sn.snapshot_versions(root) == [3, 4]
    assert _rows(execute_sql(spark, "SELECT COUNT(*) AS c FROM h", cdir)) == [
        (5,)
    ]
    with pytest.raises(SqlSyntaxError, match="takes an integer"):
        execute_sql(spark, "VACUUM h RETAIN x VERSIONS", cdir)
    with pytest.raises(SqlSyntaxError, match="at least 1"):
        execute_sql(spark, "VACUUM h RETAIN 0 VERSIONS", cdir)
    # DESCRIBE HISTORY after VACUUM: expired parents report NULL
    # deltas, never a crash
    hist2 = execute_sql(spark, "DESCRIBE HISTORY h", cdir).orderBy(
        "version"
    ).collect()
    assert [r.version for r in hist2] == [3, 4]
    assert hist2[0].files_added is None  # v3's parent v2 was expired
    assert hist2[1].files_added is not None
    execute_sql(spark, "CREATE VIEW hv AS SELECT * FROM h", cdir)
    with pytest.raises(ValueError, match="commit history"):
        execute_sql(spark, "DESCRIBE HISTORY hv", cdir)
    with pytest.raises(ValueError, match="read-only"):
        execute_sql(spark, "VACUUM hv", cdir)
    # a table literally named `history` still describes as a table
    execute_sql(spark, "CREATE TABLE history AS SELECT 1 AS k", cdir)
    d = execute_sql(spark, "DESCRIBE history", cdir)
    assert "num_files" in d.columns  # snapshot_detail, not a parse error


def test_clone_replace_respects_destination_pin(spark, cdir):
    """CREATE OR REPLACE ... CLONE obeys the same pin discipline as
    CTAS: a pinned destination name never silently repoints."""
    execute_sql(spark, "CREATE TABLE s1 AS SELECT 1 AS k", cdir)
    root = cat.catalog_entries(cdir)["s1"]["root"]
    cat.catalog_register(cdir, "audit", root, version=0)
    with pytest.raises(ValueError, match="reproducibility pin"):
        execute_sql(spark, "CREATE OR REPLACE TABLE audit CLONE s1", cdir)
    assert cat.catalog_entries(cdir)["audit"]["version"] == 0


def test_restore_statement(spark, cdir):
    execute_sql(spark, "CREATE TABLE rs AS SELECT id AS k FROM RANGE(3)", cdir)
    execute_sql(spark, "INSERT INTO rs SELECT id FROM RANGE(3, 9)", cdir)
    v = execute_sql(spark, "RESTORE TABLE rs TO VERSION AS OF 0", cdir)
    assert v == 2  # restore is a COMMIT — history stays linear
    assert _rows(execute_sql(spark, "SELECT COUNT(*) AS c FROM rs", cdir)) == [
        (3,)
    ]
    # timestamp form resolves through the lineage
    import time as _time
    from datetime import datetime, timezone

    _time.sleep(0.05)
    mid = datetime.now(timezone.utc).strftime("%Y-%m-%d %H:%M:%S.%f+00:00")
    execute_sql(spark, "INSERT INTO rs SELECT 99", cdir)
    v = execute_sql(
        spark, f"RESTORE TABLE rs TO TIMESTAMP AS OF '{mid}'", cdir
    )
    assert _rows(execute_sql(spark, "SELECT COUNT(*) AS c FROM rs", cdir)) == [
        (3,)
    ]
    with pytest.raises(SqlSyntaxError, match="VERSION AS OF or TIMESTAMP"):
        execute_sql(spark, "RESTORE TABLE rs TO 3", cdir)


def test_constraint_statements(spark, cdir):
    execute_sql(
        spark,
        "CREATE TABLE cc AS SELECT id AS k, CAST(id AS BIGINT) AS v "
        "FROM RANGE(4)",
        cdir,
    )
    execute_sql(
        spark, "ALTER TABLE cc ADD CONSTRAINT v_pos CHECK (v >= 0)", cdir
    )
    # enforcement rides inside the write job
    with pytest.raises(Exception, match="v_pos"):
        execute_sql(spark, "INSERT INTO cc SELECT -1, CAST(-5 AS BIGINT)", cdir)
    execute_sql(spark, "INSERT INTO cc SELECT 9, CAST(9 AS BIGINT)", cdir)
    # adding a constraint existing rows violate refuses (Delta's rule)
    with pytest.raises(Exception, match="existing row|violat"):
        execute_sql(
            spark, "ALTER TABLE cc ADD CONSTRAINT v_big CHECK (v > 100)", cdir
        )
    execute_sql(spark, "ALTER TABLE cc DROP CONSTRAINT v_pos", cdir)
    execute_sql(spark, "INSERT INTO cc SELECT -1, CAST(-5 AS BIGINT)", cdir)
    assert _rows(execute_sql(spark, "SELECT COUNT(*) AS c FROM cc", cdir)) == [
        (6,)
    ]
    # a parenthesized expression with nested parens parses whole
    execute_sql(
        spark,
        "ALTER TABLE cc ADD CONSTRAINT kv CHECK ((k >= -1) AND (v >= -5))",
        cdir,
    )


def test_clone_statement(spark, cdir):
    execute_sql(spark, "CREATE TABLE src AS SELECT id AS k FROM RANGE(5)", cdir)
    execute_sql(spark, "INSERT INTO src SELECT id FROM RANGE(5, 8)", cdir)
    # clone the head, then diverge both sides
    execute_sql(spark, "CREATE TABLE copy CLONE src", cdir)
    execute_sql(spark, "DELETE FROM src WHERE k >= 5", cdir)
    execute_sql(spark, "INSERT INTO copy SELECT 100", cdir)
    assert _rows(execute_sql(spark, "SELECT COUNT(*) AS c FROM src", cdir)) == [
        (5,)
    ]
    assert _rows(execute_sql(spark, "SELECT COUNT(*) AS c FROM copy", cdir)) == [
        (9,)
    ]
    # pinned-version clone
    execute_sql(spark, "CREATE TABLE old CLONE src VERSION AS OF 0", cdir)
    assert _rows(execute_sql(spark, "SELECT COUNT(*) AS c FROM old", cdir)) == [
        (5,)
    ]
    with pytest.raises(ValueError, match="already exists"):
        execute_sql(spark, "CREATE TABLE copy CLONE src", cdir)
    # OR REPLACE repoints the name at a fresh clone lineage
    execute_sql(
        spark, "CREATE OR REPLACE TABLE copy CLONE src VERSION AS OF 0", cdir
    )
    assert _rows(execute_sql(spark, "SELECT COUNT(*) AS c FROM copy", cdir)) == [
        (5,)
    ]
    # views don't clone
    execute_sql(spark, "CREATE VIEW sv AS SELECT * FROM src", cdir)
    with pytest.raises(ValueError, match="only snapshot tables clone"):
        execute_sql(spark, "CREATE TABLE x CLONE sv", cdir)


def test_vacuum_retain_hours(spark, cdir):
    """Age-based retention: versions younger than the window survive
    even under a tight version-count policy; a 0-hour window degrades
    to pure count-based expiry."""
    import json
    import os

    execute_sql(spark, "CREATE TABLE ag AS SELECT 1 AS k", cdir)
    for i in range(2, 6):
        execute_sql(spark, f"INSERT INTO ag SELECT {i}", cdir)
    root = cat.catalog_entries(cdir)["ag"]["root"]
    # everything is seconds old → a 1-hour window expires NOTHING
    row = execute_sql(spark, "VACUUM ag RETAIN 1 HOURS", cdir).collect()[0]
    assert row.versions_expired == 0
    assert sn.snapshot_versions(root) == [0, 1, 2, 3, 4]
    # age the three oldest manifests by rewriting their recorded ts
    mdir = os.path.join(root, "_manifests")
    for v in (0, 1, 2):
        p = os.path.join(mdir, f"v{v}.json")
        m = json.load(open(p))
        m["ts"] = m["ts"] - 7200
        json.dump(m, open(p, "w"))
    row = execute_sql(spark, "VACUUM ag RETAIN 1 HOURS", cdir).collect()[0]
    assert row.versions_expired == 3
    assert sn.snapshot_versions(root) == [3, 4]
    assert _rows(execute_sql(spark, "SELECT COUNT(*) AS c FROM ag", cdir)) == [
        (5,)
    ]


def test_analyze_table_statement(spark, cdir):
    execute_sql(
        spark,
        "CREATE TABLE an AS SELECT id % 4 AS k, CAST(id AS BIGINT) AS v "
        "FROM RANGE(20)",
        cdir,
    )
    execute_sql(spark, "ANALYZE TABLE an COMPUTE STATISTICS EXACT", cdir)
    root = cat.catalog_entries(cdir)["an"]["root"]
    st = sn.snapshot_table_stats(root)
    assert st["rows"] == 20 and st["cols"]["k"]["ndv"] == 4
    assert st["cols"]["v"]["min"] == 0 and st["cols"]["v"]["max"] == 19
    # column subset + approx default
    execute_sql(
        spark, "ANALYZE TABLE an COMPUTE STATISTICS FOR COLUMNS v", cdir
    )
    st = sn.snapshot_table_stats(root)
    assert st["cols"]["v"]["approx"] is True
    assert st["cols"]["k"]["approx"] is False  # untouched column kept
    with pytest.raises(SqlSyntaxError):
        execute_sql(spark, "ANALYZE TABLE an", cdir)
    execute_sql(spark, "CREATE VIEW av AS SELECT * FROM an", cdir)
    with pytest.raises(ValueError, match="read-only"):
        execute_sql(spark, "ANALYZE TABLE av COMPUTE STATISTICS", cdir)


def test_optimize_zorder_statement(spark, cdir):
    execute_sql(
        spark,
        "CREATE TABLE zt AS SELECT id % 32 AS x, "
        "CAST(id / 32 AS BIGINT) AS y, id AS p FROM RANGE(1024)",
        cdir,
    )
    before = _rows(execute_sql(spark, "SELECT * FROM zt", cdir))
    execute_sql(spark, "OPTIMIZE zt ZORDER BY (x, y)", cdir)
    assert _rows(execute_sql(spark, "SELECT * FROM zt", cdir)) == before
    root = cat.catalog_entries(cdir)["zt"]["root"]
    lay = sn._read_manifest_meta(root, sn.current_version(root))["layout"]
    assert lay["zorder_cols"] == ["x", "y"]
    # unparenthesized list parses too; plain OPTIMIZE still compacts
    execute_sql(spark, "OPTIMIZE zt ZORDER BY x, y", cdir)
    execute_sql(spark, "OPTIMIZE zt", cdir)
    assert _rows(execute_sql(spark, "SELECT * FROM zt", cdir)) == before


def test_insert_inherits_prune_policy(spark, cdir, tmp_path):
    """A SQL INSERT (and INSERT OVERWRITE / OR-REPLACE CTAS) on a table
    whose layout declares stats/bloom columns must land files carrying
    that pruning evidence — the COPY INTO / compaction contract, so
    cron ingestion through SQL never silently degrades point lookups."""
    root = str(tmp_path / "tbl")
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    # declared LAYOUT policy: clustered stats on k + blooms on k
    sn.snapshot_append_clustered(df, root, ["k"])
    sn.snapshot_append(
        df.limit(1), root, bloom_cols=["k"], bloom_bits=1024
    )
    cat.catalog_register(cdir, "pol", root)
    execute_sql(spark, "INSERT INTO pol SELECT 500, 1", cdir)
    m = sn._read_manifest(root, sn.current_version(root))
    prior = set(sn._read_manifest(root, 1)["files"])
    new = [f for f in m["files"] if f not in prior]
    assert len(new) >= 1
    for f in new:
        assert f in (m.get("blooms") or {}), "INSERT dropped bloom policy"
        assert f in (m.get("stats") or {}), "INSERT dropped stats policy"
    # INSERT OVERWRITE inherits too
    execute_sql(spark, "INSERT OVERWRITE pol SELECT 7, 7", cdir)
    m2 = sn._read_manifest(root, sn.current_version(root))
    assert all(f in (m2.get("blooms") or {}) for f in m2["files"])
    # OR REPLACE CTAS over the same root keeps the policy for columns
    # the new content still carries
    execute_sql(
        spark, "CREATE OR REPLACE TABLE pol AS SELECT 9 AS k, 9 AS v", cdir
    )
    m3 = sn._read_manifest(root, sn.current_version(root))
    assert all(f in (m3.get("blooms") or {}) for f in m3["files"])


def test_create_table_explicit_schema_and_layout(spark, cdir, tmp_path):
    """CREATE TABLE (col type, ...) with layout clauses (round 10):
    the empty table carries its declared schema and policy; every
    later INSERT routes through the declared layout's writer."""
    execute_sql(
        spark,
        "CREATE TABLE m (k BIGINT, v DECIMAL(10,2), tag STRING) "
        "CLUSTERED BY (k) STATS BY (v) BLOOM BY (tag) BITS 4096",
        cdir,
    )
    out = execute_sql(spark, "SELECT * FROM m", cdir)
    assert out.columns == ["k", "v", "tag"] and out.count() == 0
    root = cat.catalog_entries(cdir)["m"]["root"]
    lay = sn._read_manifest_meta(root, 0)["layout"]
    assert lay["sort_cols"] == ["k"] and lay["bloom_cols"] == ["tag"]
    assert lay["bloom_bits"] == 4096
    execute_sql(
        spark,
        "INSERT INTO m SELECT id, CAST(id AS DECIMAL(10,2)), "
        "CONCAT('t', id) FROM RANGE(100)",
        cdir,
    )
    m = sn._read_manifest(root, sn.current_version(root))
    st, bl = m.get("stats") or {}, m.get("blooms") or {}
    new = [f for f in m["files"] if (st.get(f) or {}).get("k")]
    assert new, "clustered INSERT must record cluster-key stats"
    assert all("tag" in (bl.get(f) or {}) for f in new), (
        "declared bloom policy must land with the INSERT"
    )
    got = sn.read_snapshot_pruned(spark, root, ranges={"k": (5, 5)})
    assert [r["k"] for r in got.collect()] == [5]
    got = sn.read_snapshot_pruned(spark, root, point_eq={"tag": "t7"})
    assert [r["k"] for r in got.collect()] == [7]


def test_ctas_with_layout_is_one_commit(spark, cdir):
    """CTAS + ZORDER/BLOOM arranges the content INSIDE one overwrite —
    no intermediate empty state a concurrent reader could observe."""
    execute_sql(
        spark,
        "CREATE TABLE z ZORDER BY (a, b) BITS 6 BLOOM BY (a) AS "
        "SELECT id % 50 AS a, CAST(id / 50 AS BIGINT) AS b, "
        "id AS payload FROM RANGE(2500)",
        cdir,
    )
    root = cat.catalog_entries(cdir)["z"]["root"]
    assert sn.snapshot_versions(root) == [0], "exactly one commit"
    lay = sn._read_manifest_meta(root, 0)["layout"]
    assert lay["zorder_cols"] == ["a", "b"] and lay["zorder_bits"] == 6
    m = sn._read_manifest(root, 0)
    assert all(f in (m.get("blooms") or {}) for f in m["files"])
    out = execute_sql(
        spark, "SELECT COUNT(*) AS n FROM z WHERE a = 7", cdir
    )
    assert out.first()["n"] == 50


def test_ctas_partitioned_and_insert_routing(spark, cdir):
    execute_sql(
        spark,
        "CREATE TABLE p PARTITIONED BY (a % 3 AS bucket) BLOOM BY (b) "
        "AS SELECT id AS a, id * 2 AS b FROM RANGE(30)",
        cdir,
    )
    root = cat.catalog_entries(cdir)["p"]["root"]
    pv = sn._read_manifest(root, 0)["partition_values"]
    assert len({v["bucket"] for v in pv.values()}) == 3
    execute_sql(spark, "INSERT INTO p SELECT 100, 200", cdir)
    m2 = sn._read_manifest(root, 1)
    new = [f for f in m2["files"] if f not in pv]
    assert any(
        m2["partition_values"].get(f, {}).get("bucket") == "1" for f in new
    )
    assert all("b" in (m2["blooms"].get(f) or {}) for f in new)
    got = sn.read_snapshot_pruned(
        spark, root, partition_eq={"bucket": 1}, point_eq={"b": 200}
    )
    assert [(r["a"], r["b"]) for r in got.collect()] == [(100, 200)]


def test_create_table_layout_refusals(spark, cdir):
    cases = [
        ("CREATE TABLE b1 (k BIGINT) ZORDER BY (nope)", "not in the schema"),
        (
            "CREATE TABLE b2 (k BIGINT) CLUSTERED BY (k) ZORDER BY (k)",
            "one file-order policy",
        ),
        ("CREATE TABLE b3 (k BLOB)", "invalid column list"),
        ("CREATE TABLE b4 (k BIGINT) AS SELECT 1", "does not combine"),
        ("CREATE TABLE b5 (k BIGINT, K STRING)", "duplicate column"),
        (
            "CREATE TABLE b6 (k BIGINT) PARTITIONED BY (z + 1 AS w)",
            "does not analyze",
        ),
        (
            "CREATE TABLE b7 (k BIGINT) PARTITIONED BY (k % 2 AS k)",
            "collides with a table column",
        ),
        ("CREATE TABLE b8 (k DOUBLE) BLOOM BY (k)", "bloom"),
    ]
    for sql, msg in cases:
        with pytest.raises(Exception, match=msg):
            execute_sql(spark, sql, cdir)
    # a partitioned CTAS cannot REPLACE an existing lineage in one commit
    execute_sql(spark, "CREATE TABLE ok AS SELECT 1 AS a", cdir)
    with pytest.raises(ValueError, match="DROP TABLE first"):
        execute_sql(
            spark,
            "CREATE OR REPLACE TABLE ok PARTITIONED BY (a % 2 AS e) "
            "AS SELECT 1 AS a",
            cdir,
        )


def test_attach_cost_is_o_referenced(spark, cdir, monkeypatch):
    """Per-statement attach work scales with the NAMES the statement
    references, not the catalog size (round 10, verdict nit 1): with N
    registered tables, a SELECT over one attaches one."""
    for i in range(8):
        execute_sql(
            spark, f"CREATE TABLE many_{i} AS SELECT {i} AS a", cdir
        )
    calls: list[str] = []
    orig = sn.attach_snapshot_view

    def counting(spark_, name, *a, **kw):
        calls.append(name)
        return orig(spark_, name, *a, **kw)

    monkeypatch.setattr(sn, "attach_snapshot_view", counting)
    # catalog.py binds the module, so patch through its namespace too
    monkeypatch.setattr(cat.sn, "attach_snapshot_view", counting)
    out = execute_sql(
        spark, "SELECT a FROM many_3 WHERE a >= 0", cdir
    )
    assert [tuple(r) for r in out.collect()] == [(3,)]
    # ONLY the referenced name attaches; the one-sided bound prunes
    # (round 11), so the post-statement plain-view restore may
    # re-attach the same name once — never another table
    assert set(calls) == {"many_3"} and len(calls) <= 2, calls
    # an unreferenced table is NOT registered in a fresh session
    s2 = spark.newSession()
    execute_sql(s2, "SELECT a FROM many_5", cdir)
    with pytest.raises(Exception, match="TABLE_OR_VIEW_NOT_FOUND"):
        s2.sql("SELECT * FROM many_4").collect()
    # a VIEW reference still pulls the tables its body may need
    execute_sql(
        spark, "CREATE VIEW vsum AS SELECT a FROM many_2", cdir
    )
    s3 = spark.newSession()
    assert [tuple(r) for r in
            execute_sql(s3, "SELECT * FROM vsum", cdir).collect()] == [(2,)]


def test_optimize_compact_manifests_statement(spark, cdir):
    """OPTIMIZE ... COMPACT MANIFESTS (round 10): manifest maintenance
    reachable from SQL, so a SQL-only COPY INTO + VACUUM cron can
    bound its metadata without the Python API."""
    execute_sql(spark, "CREATE TABLE t AS SELECT 1 AS a", cdir)
    for i in range(3):
        execute_sql(spark, f"INSERT INTO t SELECT {i + 10}", cdir)
    root = cat.catalog_entries(cdir)["t"]["root"]
    before = len(sn._read_manifest_meta(root, sn.current_version(root))["entries"])
    assert before > 1
    v = execute_sql(spark, "OPTIMIZE t COMPACT MANIFESTS", cdir)
    m = sn._read_manifest_meta(root, v)
    assert len(m["entries"]) == 1 and m["operation"] == "compact-manifests"
    assert _rows(execute_sql(spark, "SELECT a FROM t", cdir)) == [
        (1,), (10,), (11,), (12,),
    ]


def test_attach_resolves_backtick_quoted_names(spark, cdir):
    """O(referenced) attach must see through backtick quoting —
    `orders` references the same catalog table as orders (review
    finding, round 10)."""
    execute_sql(spark, "CREATE TABLE bq AS SELECT 7 AS a", cdir)
    s2 = spark.newSession()
    assert [tuple(r) for r in
            execute_sql(s2, "SELECT a FROM `bq`", cdir).collect()] == [(7,)]


def test_or_replace_supersedes_layout(spark, cdir):
    """CREATE OR REPLACE with a DIFFERENT clustering policy replaces
    the layout wholesale — no bogus concurrent-writer conflict, no
    stale keys accumulating (review finding, round 10)."""
    execute_sql(
        spark,
        "CREATE TABLE lr ZORDER BY (a) AS SELECT id AS a, id AS b "
        "FROM RANGE(10)",
        cdir,
    )
    execute_sql(
        spark,
        "CREATE OR REPLACE TABLE lr CLUSTERED BY (a) AS "
        "SELECT id AS a, id AS b FROM RANGE(20)",
        cdir,
    )
    root = cat.catalog_entries(cdir)["lr"]["root"]
    lay = sn._read_manifest_meta(root, sn.current_version(root))["layout"]
    assert lay.get("sort_cols") == ["a"] and not lay.get("zorder_cols")
    # a previously PARTITIONED layout does not leak into the replace
    execute_sql(
        spark,
        "CREATE TABLE pr PARTITIONED BY (a % 2 AS e) AS "
        "SELECT id AS a FROM RANGE(10)",
        cdir,
    )
    execute_sql(
        spark,
        "CREATE OR REPLACE TABLE pr AS SELECT id AS x FROM RANGE(5)",
        cdir,
    )
    proot = cat.catalog_entries(cdir)["pr"]["root"]
    lay2 = (
        sn._read_manifest_meta(proot, sn.current_version(proot)).get("layout")
        or {}
    )
    # no declared clauses on the replace: prior policy keys filtered to
    # the new content — the old transforms reference a dropped column
    # and must not route later INSERTs through the partitioned writer
    execute_sql(spark, "INSERT INTO pr SELECT 99", cdir)
    assert execute_sql(
        spark, "SELECT COUNT(*) AS n FROM pr", cdir
    ).first()["n"] == 6


def test_statement_level_pruned_attach(spark, cdir):
    """SQL manifest pruning at the STATEMENT layer (round 10 — the
    sound replacement for the withdrawn DataSource pushdown): a
    single-table WHERE's conjuncts re-attach the view as
    read_snapshot_pruned, so a range lookup opens ~1 clustered file
    and a bloom point lookup skips what stats cannot — verified via
    the registered view's inputFiles; every predicate re-applies, so
    answers never depend on the pruning."""
    execute_sql_script(
        spark,
        """
        CREATE TABLE pt (k BIGINT, tag STRING, v DOUBLE)
          CLUSTERED BY (k) BLOOM BY (tag) BITS 65536;
        INSERT INTO pt SELECT id, CONCAT('t', id), CAST(id AS DOUBLE)
          FROM RANGE(4000);
        """,
        cdir,
    )
    root = cat.catalog_entries(cdir)["pt"]["root"]
    n_files = len(sn._read_manifest(root, sn.current_version(root))["files"])
    assert n_files >= 8
    from data_engineering_challenge_spark.sql_exec import (
        _attach, _pruned_attach,
    )

    def opened(stmt):
        # white-box: the pruned view the statement WOULD run over (the
        # executor restores the plain view right after its eager
        # analysis, so observe before that)
        entries = _attach(spark, cdir, stmt)
        name = _pruned_attach(spark, cdir, stmt, entries)
        n = len(spark.table("pt").inputFiles())
        if name:
            cat.attach_catalog(spark, cdir, names=name)
        return n, name

    stmt = "SELECT COUNT(*) AS n FROM pt WHERE k BETWEEN 100 AND 200"
    out = execute_sql(spark, stmt, cdir)
    assert out.first()["n"] == 101
    n, name = opened(stmt)
    assert list(name or []) == ["pt"] and n <= 2, (name, n)
    # bloom point lookup on the hash-useless string column
    stmt = "SELECT k FROM pt WHERE tag = 't1234'"
    out = execute_sql(spark, stmt, cdir)
    assert [r["k"] for r in out.collect()] == [1234]
    n, name = opened(stmt)
    assert list(name or []) == ["pt"] and n <= 2, (name, n)
    # alias-qualified conjuncts prune too
    n, name = opened(
        "SELECT COUNT(*) AS n FROM pt p WHERE p.k >= 10 AND p.k <= 20"
    )
    assert list(name or []) == ["pt"] and n <= 2, (name, n)
    # the executor restores the PLAIN view after each statement
    execute_sql(spark, stmt, cdir)
    assert len(spark.table("pt").inputFiles()) == n_files
    # a SAME-COLUMN disjunction claims an IN list since round 12
    # (<= 4: repartitionByRange boundaries can straddle, so a value
    # can sit inside two files' recorded [min, max])
    stmt = "SELECT COUNT(*) AS n FROM pt WHERE k = 5 OR k = 3999"
    out = execute_sql(spark, stmt, cdir)
    assert out.first()["n"] == 2
    n, name = opened(stmt)
    assert list(name or []) == ["pt"] and n <= 4, (name, n)
    out = execute_sql(
        spark,
        "SELECT 'a' AS d, COUNT(*) AS n FROM pt WHERE k = 5 "
        "UNION ALL SELECT 'b', COUNT(*) FROM pt",
        cdir,
    )
    assert sorted(tuple(r) for r in out.collect()) == [("a", 1), ("b", 4000)]


def test_pruned_attach_composes_with_partitions_and_pins(spark, cdir):
    """partition_eq pruning from SQL equality on a transform name, and
    a PINNED entry prunes at its pinned version."""
    execute_sql_script(
        spark,
        """
        CREATE TABLE pz (a BIGINT, b BIGINT)
          PARTITIONED BY (a % 4 AS bucket) CLUSTERED BY (b);
        INSERT INTO pz SELECT id, id * 2 FROM RANGE(1000);
        """,
        cdir,
    )
    out = execute_sql(
        spark,
        "SELECT COUNT(*) AS n FROM pz WHERE a % 4 = 2 "
        "AND b BETWEEN 100 AND 200",
        cdir,
    )
    want = sum(1 for i in range(1000) if i % 4 == 2 and 100 <= i * 2 <= 200)
    assert out.first()["n"] == want
    root = cat.catalog_entries(cdir)["pz"]["root"]
    total = len(sn._read_manifest(root, sn.current_version(root))["files"])
    from data_engineering_challenge_spark.sql_exec import (
        _attach, _pruned_attach,
    )

    stmt = (
        "SELECT COUNT(*) AS n FROM pz WHERE a % 4 = 2 "
        "AND b BETWEEN 100 AND 200"
    )
    name = _pruned_attach(spark, cdir, stmt, _attach(spark, cdir, stmt))
    assert list(name or []) == ["pz"]
    assert len(spark.table("pz").inputFiles()) < total
    cat.attach_catalog(spark, cdir, names=["pz"])


def test_pruned_attach_ignores_filter_clause_where(spark, cdir):
    """An aggregate's FILTER (WHERE ...) in the select list is not the
    table predicate — the analyzer must key on the depth-0 WHERE after
    FROM (or prune nothing)."""
    execute_sql(
        spark,
        "CREATE TABLE fw AS SELECT id AS k, id % 2 AS b FROM RANGE(100)",
        cdir,
    )
    out = execute_sql(
        spark,
        "SELECT COUNT(*) FILTER (WHERE b = 1) AS n_odd, COUNT(*) AS n "
        "FROM fw",
        cdir,
    )
    assert [tuple(r) for r in out.collect()] == [(50, 100)]
    out = execute_sql(
        spark,
        "SELECT COUNT(*) FILTER (WHERE b = 1) AS n_odd FROM fw "
        "WHERE k BETWEEN 10 AND 29",
        cdir,
    )
    assert out.first()["n_odd"] == 10


def test_pruned_attach_literal_canonicalization(spark, cdir):
    """Non-canonical equality literals must never fake bloom or
    partition-value absence (review, round 10): a float or zero-padded
    string equality on a bigint bloom column demotes to a value-exact
    range; a float transform equality drops partition pruning — both
    stay row-correct."""
    execute_sql_script(
        spark,
        """
        CREATE TABLE lc (k BIGINT, v DOUBLE)
          CLUSTERED BY (k) BLOOM BY (k) BITS 65536;
        INSERT INTO lc SELECT id, CAST(id AS DOUBLE) FROM RANGE(2000);
        CREATE TABLE lp (a BIGINT) PARTITIONED BY (a % 4 AS bucket);
        INSERT INTO lp SELECT id FROM RANGE(100);
        """,
        cdir,
    )
    for pred, want in (
        ("k = 5", 1), ("k = 5.0", 1), ("k = '05'", 1), ("k = '5'", 1),
    ):
        n = execute_sql(
            spark, f"SELECT COUNT(*) AS n FROM lc WHERE {pred}", cdir
        ).first()["n"]
        assert n == want, (pred, n)
    for pred, want in (("a % 4 = 2", 25), ("a % 4 = 2.0", 25)):
        n = execute_sql(
            spark, f"SELECT COUNT(*) AS n FROM lp WHERE {pred}", cdir
        ).first()["n"]
        assert n == want, (pred, n)


def test_pruned_attach_timestamp_boundary(spark, cdir):
    """A timestamp literal in plain SQL must never lose a boundary
    file (advice, round 10 — high): manifest stats record timestamps
    as ISO 'T'-separated strings (`_stat_primitive`), so a lexical
    compare against the statement's ' '-separated literal sorted the
    SAME instant above the bound and wrongly skipped its file.
    Literals now parse to typed datetime bounds, compared via the
    asymmetric isoformat widening in `read_snapshot_pruned`."""
    execute_sql_script(
        spark,
        """
        CREATE TABLE tsb (ts TIMESTAMP, v BIGINT) STATS BY (ts);
        INSERT INTO tsb SELECT CAST('2024-03-01 12:00:00' AS TIMESTAMP), 1;
        INSERT INTO tsb SELECT CAST('2024-03-02 00:00:00' AS TIMESTAMP), 2;
        INSERT INTO tsb SELECT CAST('2024-03-03 08:00:00' AS TIMESTAMP), 3;
        """,
        cdir,
    )
    # hi-side boundary: the second file's min EQUALS the literal
    # instant — its row must survive
    out = execute_sql(
        spark,
        "SELECT SUM(v) AS s FROM tsb WHERE ts BETWEEN "
        "'2024-03-01 00:00:00' AND '2024-03-02 00:00:00'",
        cdir,
    )
    assert out.first()["s"] == 3
    out = execute_sql(
        spark,
        "SELECT SUM(v) AS s FROM tsb WHERE "
        "ts >= '2024-03-01 00:00:00' AND ts <= '2024-03-02 00:00:00'",
        cdir,
    )
    assert out.first()["s"] == 3
    # equality on a timestamp demotes to a typed (v, v) range
    out = execute_sql(
        spark, "SELECT v FROM tsb WHERE ts = '2024-03-02 00:00:00'", cdir
    )
    assert [r["v"] for r in out.collect()] == [2]
    # and typed bounds still PRUNE: a day-1-only range opens one file
    from data_engineering_challenge_spark.sql_exec import (
        _attach, _pruned_attach,
    )

    stmt = (
        "SELECT SUM(v) AS s FROM tsb WHERE ts BETWEEN "
        "'2024-03-01 00:00:00' AND '2024-03-01 23:00:00'"
    )
    name = _pruned_attach(spark, cdir, stmt, _attach(spark, cdir, stmt))
    assert list(name or []) == ["tsb"]
    # day-1 file + the zero-row CREATE file (stats-less: always read);
    # both day-2 and day-3 files skip on their manifest stats
    assert len(spark.table("tsb").inputFiles()) == 2
    cat.attach_catalog(spark, cdir, names=["tsb"])


def test_pruned_attach_date_literals(spark, cdir):
    """DATE columns prune on strict YYYY-MM-DD literals; any other
    string shape drops the conjunct instead of making a wrong lexical
    claim — answers stay row-correct either way."""
    execute_sql_script(
        spark,
        """
        CREATE TABLE db (d DATE, v BIGINT) STATS BY (d);
        INSERT INTO db SELECT CAST('2024-03-01' AS DATE), 1;
        INSERT INTO db SELECT CAST('2024-03-02' AS DATE), 2;
        INSERT INTO db SELECT CAST('2024-03-05' AS DATE), 3;
        """,
        cdir,
    )
    out = execute_sql(
        spark,
        "SELECT SUM(v) AS s FROM db WHERE "
        "d >= '2024-03-01' AND d <= '2024-03-02'",
        cdir,
    )
    assert out.first()["s"] == 3
    # a timestamp-shaped literal on a DATE column: Spark truncates the
    # cast; pruning must drop the conjunct, not mimic it
    out = execute_sql(
        spark,
        "SELECT SUM(v) AS s FROM db WHERE d >= '2024-03-02 00:00:00' "
        "AND d <= '2024-03-05 00:00:00'",
        cdir,
    )
    assert out.first()["s"] == 5
    from data_engineering_challenge_spark.sql_exec import (
        _attach, _pruned_attach,
    )

    stmt = (
        "SELECT SUM(v) AS s FROM db WHERE "
        "d >= '2024-03-05' AND d <= '2024-03-09'"
    )
    name = _pruned_attach(spark, cdir, stmt, _attach(spark, cdir, stmt))
    assert list(name or []) == ["db"]
    # the matching file + the zero-row CREATE file (always read)
    assert len(spark.table("db").inputFiles()) == 2
    cat.attach_catalog(spark, cdir, names=["db"])


def test_metadata_sum_statements(spark, cdir):
    """Metadata SUM/AVG (round 13 — VERDICT r12 'Next round #5'):
    whole-table, partition-predicated, and GROUP-BY-partition shapes
    answer from the per-file exact sums with ZERO data reads (pinned
    by renaming every data file away — chmod is useless as root), are
    schema-identical to execution, keep Spark's NULL semantics, and
    every refusal (float column, MoR deletes, schema evolution,
    missing sums) falls back to the real scan with the same answer."""
    import os

    execute_sql_script(
        spark,
        """
        CREATE TABLE ms (k BIGINT, v BIGINT)
            PARTITIONED BY (k % 3 AS kp) STATS BY (k, v);
        INSERT INTO ms SELECT id, id * 7 FROM RANGE(9000);
        """,
        cdir,
    )
    stmts = [
        "SELECT SUM(v) AS s FROM ms",
        "SELECT SUM(v) AS s, AVG(k) AS a, COUNT(*) AS n FROM ms",
        "SELECT SUM(v) AS s, COUNT(*) AS n FROM ms WHERE k % 3 = 1",
        "SELECT SUM(v) AS s FROM ms WHERE k % 3 IN (0, 2)",
        "SELECT k % 3 AS g, COUNT(*) AS n, SUM(v) AS s, AVG(v) AS a "
        "FROM ms GROUP BY k % 3",
    ]
    expected = []
    for s in stmts:
        got = execute_sql(spark, s, cdir)
        exp = spark.sql(s)
        assert got.schema == exp.schema, s
        expected.append(_rows(exp))
        assert _rows(got) == expected[-1], s
    # ZERO data reads: with every data file renamed away the metadata
    # answers still come back identical
    root = cat.catalog_entries(cdir)["ms"]["root"]
    m = sn._read_manifest(root, sn.current_version(root))
    moved = []
    try:
        for f in m["files"]:
            src = os.path.join(root, f)
            os.rename(src, src + ".away")
            moved.append(src)
        for s, exp_rows in zip(stmts, expected):
            assert _rows(execute_sql(spark, s, cdir)) == exp_rows, s
    finally:
        for src in moved:
            os.rename(src + ".away", src)
    # NULL semantics: an all-NULL column sums/averages to NULL
    execute_sql_script(
        spark,
        """
        CREATE TABLE msn (k BIGINT, v BIGINT) STATS BY (k, v);
        INSERT INTO msn SELECT id, CAST(NULL AS BIGINT) FROM RANGE(5);
        """,
        cdir,
    )
    s = "SELECT SUM(v) AS s, AVG(v) AS a, COUNT(*) AS n FROM msn"
    assert _rows(execute_sql(spark, s, cdir)) == _rows(spark.sql(s))
    # FLOAT SUM refuses the fold (Spark's double SUM is
    # order-dependent) — the scan answers instead
    execute_sql_script(
        spark,
        """
        CREATE TABLE msf (k BIGINT, x DOUBLE) STATS BY (k, x);
        INSERT INTO msf SELECT id, id * 1.5 FROM RANGE(64);
        """,
        cdir,
    )
    s = "SELECT SUM(x) AS s FROM msf"
    assert _rows(execute_sql(spark, s, cdir)) == _rows(spark.sql(s))
    # MoR refusal: after a DELETE the fold would be stale — the
    # MoR-merged scan answers, and compaction restores the fast path
    execute_sql(spark, "DELETE FROM ms WHERE k = 5", cdir)
    s = "SELECT SUM(v) AS s FROM ms"
    assert _rows(execute_sql(spark, s, cdir)) == _rows(spark.sql(s))
    from data_engineering_challenge_spark.sql_exec import (
        _metadata_answer, _attach,
    )

    entries = _attach(spark, cdir, s)
    assert _metadata_answer(spark, cdir, s, entries) is None  # refused
    sn.snapshot_compact(spark, root)
    cat.attach_catalog(spark, cdir, names=["ms"])
    entries = _attach(spark, cdir, s)
    assert _metadata_answer(spark, cdir, s, entries) is not None
    assert _rows(execute_sql(spark, s, cdir)) == _rows(spark.sql(s))
    # schema-EVOLUTION refusal: renamed logical names no longer bind
    # the recorded physical sums — the evolved read answers
    execute_sql(spark, "ALTER TABLE ms RENAME COLUMN v TO w", cdir)
    s = "SELECT SUM(w) AS s FROM ms"
    assert _rows(execute_sql(spark, s, cdir)) == _rows(spark.sql(s))
    entries = _attach(spark, cdir, s)
    assert _metadata_answer(spark, cdir, s, entries) is None


def test_metadata_evolved_count_residual_filter(spark, cdir):
    """An evolved table reads as a per-epoch ``Union``; the optimizer
    pushes deterministic conjuncts into its branches but leaves a
    non-deterministic one in a ``Filter`` above it.  A row count may
    answer from the manifest only with no such Filter: the WHERE must
    reach Spark, which answers it from the data."""
    from data_engineering_challenge_spark.sql_exec import (
        _attach, _metadata_answer,
    )

    execute_sql_script(
        spark,
        """
        CREATE TABLE ev (k BIGINT, v BIGINT) STATS BY (k);
        INSERT INTO ev SELECT id, id FROM RANGE(100);
        ALTER TABLE ev RENAME COLUMN v TO w;
        INSERT INTO ev SELECT id, id FROM RANGE(100, 150);
        """,
        cdir,
    )
    s = "SELECT COUNT(*) AS n FROM ev"
    note: dict = {}
    got = _metadata_answer(spark, cdir, s, _attach(spark, cdir, s), note=note)
    assert note["metadata"] == "answered"
    assert _rows(got) == [(150,)]
    for s in (
        "SELECT COUNT(*) AS n FROM ev WHERE uuid() = 'x'",
        "SELECT COUNT(*) AS n FROM ev WHERE rand(7) < 0.5",
        "SELECT COUNT(*) AS n FROM ev WHERE rand(7) < 0.5 AND k > 3",
    ):
        note = {}
        entries = _attach(spark, cdir, s)
        assert "Union" in spark.sql(s)._jdf.queryExecution() \
            .optimizedPlan().toString(), s
        assert _metadata_answer(spark, cdir, s, entries, note=note) is None
        assert note["metadata"] == "residual filter", (s, note)
        assert _rows(execute_sql(spark, s, cdir)) == _rows(spark.sql(s)), s
    assert _rows(execute_sql(
        spark, "SELECT COUNT(*) AS n FROM ev WHERE uuid() = 'x'", cdir
    )) == [(0,)]


def test_metadata_decimal_sum_statements(spark, cdir):
    """DECIMAL metadata SUM/AVG (round 14 — VERDICT r13 'Next round
    #2', the money case): the write chokepoints record each DECIMAL
    stats column's exact UNSCALED integer sum, so whole-table,
    partition-predicated, and range-hybrid SUM/AVG answer from the
    manifest — zero data reads pinned by renaming every file away —
    with Spark's own result types (sum: decimal(min(38,p+10),s);
    avg: decimal(p+4,s+4) HALF_UP) and values.  AVG on p+4 > 38
    refuses (Spark adjusts the scale there); the precision-overflow
    gate mirrors the int64-wrap rule."""
    import decimal
    import os

    execute_sql_script(
        spark,
        """
        CREATE TABLE money (k BIGINT, amount DECIMAL(12,2),
                            wide DECIMAL(38,4))
            PARTITIONED BY (k % 3 AS kp) STATS BY (k, amount, wide);
        INSERT INTO money SELECT id,
            CAST(id AS DECIMAL(10,0)) / 100 + 0.01,
            CAST(id AS DECIMAL(20,0)) * 1000000 + 0.0001
            FROM RANGE(9000);
        """,
        cdir,
    )
    stmts = [
        "SELECT SUM(amount) AS s, COUNT(*) AS n FROM money",
        "SELECT SUM(amount) AS s, AVG(amount) AS a FROM money",
        "SELECT SUM(wide) AS s FROM money",
        "SELECT SUM(amount) AS s, COUNT(*) AS n FROM money "
        "WHERE k % 3 = 1",
        # fully-interior range window: zero boundary files, the
        # hybrid answers from the manifest alone
        "SELECT SUM(amount) AS s, AVG(amount) AS a, COUNT(*) AS n "
        "FROM money WHERE k BETWEEN 0 AND 8999",
    ]
    expected = []
    for s in stmts:
        got = execute_sql(spark, s, cdir)
        exp = spark.sql(s)
        assert got.schema == exp.schema, (s, got.schema, exp.schema)
        expected.append(_rows(exp))
        assert _rows(got) == expected[-1], s
    # ZERO data reads
    root = cat.catalog_entries(cdir)["money"]["root"]
    m = sn._read_manifest(root, sn.current_version(root))
    moved = []
    try:
        for f in m["files"]:
            src = os.path.join(root, f)
            os.rename(src, src + ".away")
            moved.append(src)
        for s, exp_rows in zip(stmts, expected):
            assert _rows(execute_sql(spark, s, cdir)) == exp_rows, s
    finally:
        for src in moved:
            os.rename(src + ".away", src)
    # a range window with a BOUNDARY file still matches execution
    # (the one boundary job accumulates decimal(38,s))
    s = (
        "SELECT SUM(amount) AS s, AVG(amount) AS a FROM money "
        "WHERE k BETWEEN 100 AND 3500"
    )
    got, exp = execute_sql(spark, s, cdir), spark.sql(s)
    assert got.schema == exp.schema and _rows(got) == _rows(exp)
    from data_engineering_challenge_spark.sql_exec import (
        _attach, _metadata_answer,
    )

    entries = _attach(spark, cdir, s)
    assert _metadata_answer(spark, cdir, s, entries) is not None
    # AVG rounding is HALF_UP away from zero (Spark's decimal
    # average), not banker's: avg of 0.01 over 32 rows at scale 6
    execute_sql_script(
        spark,
        """
        CREATE TABLE half (v DECIMAL(12,2)) STATS BY (v);
        INSERT INTO half SELECT CASE WHEN id = 0 THEN
            CAST(0.01 AS DECIMAL(12,2)) ELSE
            CAST(0.00 AS DECIMAL(12,2)) END FROM RANGE(32);
        INSERT INTO half SELECT CASE WHEN id = 0 THEN
            CAST(-0.01 AS DECIMAL(12,2)) ELSE
            CAST(0.00 AS DECIMAL(12,2)) END FROM RANGE(32);
        """,
        cdir,
    )
    s = "SELECT AVG(v) AS a FROM half WHERE v >= 0.00"
    # (the WHERE keeps this out of the whole-table path on purpose:
    # decimal PREDICATE columns have no typed claims, so the range
    # path refuses and the scan answers — parity either way)
    assert _rows(execute_sql(spark, s, cdir)) == _rows(spark.sql(s))
    s = "SELECT AVG(v) AS a, SUM(v) AS s FROM half"
    got, exp = execute_sql(spark, s, cdir), spark.sql(s)
    entries = _attach(spark, cdir, s)
    assert _metadata_answer(spark, cdir, s, entries) is not None
    assert got.schema == exp.schema and _rows(got) == _rows(exp)
    assert got.first()["a"] == decimal.Decimal("0.000000")
    # the AVG reproduction is Spark's own TWO-STAGE rounding (the JVM
    # divide rounds to 38 SIGNIFICANT digits, then casts HALF_UP to
    # s+4 — review, round 14): wide values over a non-terminating
    # /997 quotient exercise the significant-digit stage
    execute_sql_script(
        spark,
        """
        CREATE TABLE wavg (v DECIMAL(34,4)) STATS BY (v);
        INSERT INTO wavg SELECT CAST(CAST(id AS DECIMAL(20,0))
            * 999999999999999 + 0.1234 AS DECIMAL(34,4))
            FROM RANGE(997);
        """,
        cdir,
    )
    s = "SELECT AVG(v) AS a, SUM(v) AS s2 FROM wavg"
    got, exp = execute_sql(spark, s, cdir), spark.sql(s)
    entries = _attach(spark, cdir, s)
    assert _metadata_answer(spark, cdir, s, entries) is not None
    assert got.schema == exp.schema and _rows(got) == _rows(exp)
    # AVG on p+4 > 38 refuses to the scan; SUM still answers
    s = "SELECT AVG(wide) AS a FROM money"
    entries = _attach(spark, cdir, s)
    assert _metadata_answer(spark, cdir, s, entries) is None
    assert _rows(execute_sql(spark, s, cdir)) == _rows(spark.sql(s))
    # the precision-overflow gate mirrors the int64-wrap rule: an
    # exact fold wider than decimal(min(38,p+10),s) refuses
    from pyspark.sql import types as T

    from data_engineering_challenge_spark.sql_exec import (
        _Refused, _sum_value,
    )

    dt = T.DecimalType(12, 2)
    assert _sum_value("sum", 10**22 - 1, 5, dt, False) is not None
    for s in (10**22, -(10**22)):
        with pytest.raises(_Refused):
            _sum_value("sum", s, 5, dt, False)
    # MoR refusal: after DELETE the fold would be stale — scan answers
    execute_sql(spark, "DELETE FROM money WHERE k = 7", cdir)
    s = "SELECT SUM(amount) AS s FROM money"
    entries = _attach(spark, cdir, s)
    assert _metadata_answer(spark, cdir, s, entries) is None
    assert _rows(execute_sql(spark, s, cdir)) == _rows(spark.sql(s))
    # compaction re-records decimal sums and restores the fast path
    sn.snapshot_compact(spark, root)
    cat.attach_catalog(spark, cdir, names=["money"])
    entries = _attach(spark, cdir, s)
    assert _metadata_answer(spark, cdir, s, entries) is not None
    assert _rows(execute_sql(spark, s, cdir)) == _rows(spark.sql(s))


def test_pruned_attach_cte_units(spark, cdir):
    """CTE-aware statement pruning (round 13 — VERDICT r12 'Next round
    #2'): each plain-SELECT CTE body claims its own WHERE conjuncts
    for ITS table, the main query's conjuncts claim for its directly
    referenced tables, a table referenced outside its claiming unit
    keeps the plain attach, and every refused shape (RECURSIVE, column
    lists, nested WITH, shadowing, duplicate names) bails to the plain
    attach with row-correct answers."""
    from data_engineering_challenge_spark.sql_exec import (
        _attach, _pruned_attach,
    )

    execute_sql_script(
        spark,
        """
        CREATE TABLE cfact (k BIGINT, v BIGINT)
            CLUSTERED BY (k) STATS BY (k);
        INSERT INTO cfact SELECT id, id % 7 FROM RANGE(8000);
        CREATE TABLE cdim (v BIGINT, grp STRING) STATS BY (v);
        INSERT INTO cdim SELECT id, CONCAT('g', id) FROM RANGE(7);
        """,
        cdir,
    )
    root = cat.catalog_entries(cdir)["cfact"]["root"]
    total = len(sn._read_manifest(root, sn.current_version(root))["files"])
    assert total > 2
    # 1) single CTE body claims its own window
    stmt = (
        "WITH j AS (SELECT k, v FROM cfact WHERE k BETWEEN 100 AND 300) "
        "SELECT COUNT(*) AS n FROM j"
    )
    entries = _attach(spark, cdir, stmt)
    pruned = _pruned_attach(spark, cdir, stmt, entries)
    assert sorted(pruned or []) == ["cfact"]
    n_open = len(spark.table("cfact").inputFiles())
    assert n_open < total
    for nm, prior in pruned.items():
        prior.createOrReplaceTempView(nm)
    assert execute_sql(spark, stmt, cdir).first()["n"] == 201
    # 2) CTE + main-query join: BOTH units claim, each for its table
    stmt = (
        "WITH j AS (SELECT k, v FROM cfact WHERE k BETWEEN 100 AND 300) "
        "SELECT j.v, COUNT(*) AS n FROM j JOIN cdim ON j.v = cdim.v "
        "WHERE cdim.v = 3 GROUP BY j.v"
    )
    entries = _attach(spark, cdir, stmt)
    pruned = _pruned_attach(spark, cdir, stmt, entries)
    assert sorted(pruned or []) == ["cdim", "cfact"]
    assert len(spark.table("cfact").inputFiles()) == n_open
    for nm, prior in pruned.items():
        prior.createOrReplaceTempView(nm)
    out = execute_sql(spark, stmt, cdir)
    assert _rows(out) == _rows(spark.sql(stmt))
    # 3) the table scanned by the CTE AND joined directly: Catalyst
    # infers the CTE's range onto both scans, so the OR across scans
    # prunes soundly
    stmt = (
        "WITH j AS (SELECT k FROM cfact WHERE k BETWEEN 100 AND 300) "
        "SELECT COUNT(*) AS n FROM j JOIN cfact ON j.k = cfact.k"
    )
    _assert_sound_prune(spark, cdir, stmt)
    assert execute_sql(spark, stmt, cdir).first()["n"] == 201
    # 4) column lists and nested WITH prune like any other CTE
    for stmt in (
        "WITH j (a, b) AS (SELECT k, v FROM cfact WHERE k = 1) "
        "SELECT * FROM j",
        "WITH j AS (WITH i AS (SELECT k FROM cfact WHERE k = 1) "
        "SELECT * FROM i) SELECT * FROM j",
    ):
        _assert_sound_prune(spark, cdir, stmt)
    # ... while shapes that never scan the table keep the plain attach
    for bail in (
        "WITH RECURSIVE r AS (SELECT 1 AS x) SELECT * FROM r",
        # a CTE SHADOWING the catalog table: claiming cfact would
        # prune a relation the statement never reads
        "WITH cfact AS (SELECT 1 AS k) SELECT * FROM cfact WHERE k = 1",
        # duplicate CTE names (Spark rejects the statement anyway)
        "WITH j AS (SELECT 1 AS x), j AS (SELECT 2 AS x) "
        "SELECT * FROM j",
    ):
        assert _pruned_attach(spark, cdir, bail, entries) is None
    # the shadowing statement still answers THROUGH the executor
    out = execute_sql(
        spark,
        "WITH cfact AS (SELECT 1 AS k) SELECT * FROM cfact WHERE k = 1",
        cdir,
    )
    assert _rows(out) == [(1,)]
    # 5) an unqualified `v = 3` next to a CTE relation: Catalyst
    # resolves it to cdim.v, so both tables prune on their own filters
    stmt = (
        "WITH j AS (SELECT k, v AS jv FROM cfact WHERE k <= 300) "
        "SELECT COUNT(*) AS n FROM j JOIN cdim ON j.jv = cdim.v "
        "WHERE v = 3"
    )
    assert "cfact" in _assert_sound_prune(spark, cdir, stmt)
    assert execute_sql(spark, stmt, cdir).first()["n"] == 43


def test_pruned_attach_ansi_typed_literals(spark, cdir):
    """ANSI ``TIMESTAMP '…'`` / ``DATE '…'`` spellings claim the same
    typed bounds as the string spelling (round 13 — VERDICT r12 'Next
    round #3': the old statement-wide TIMESTAMP token bail silenced
    pruning wholesale), a DATE literal widens to the UTC-midnight
    instant on a timestamp column, a column literally named
    ``version`` prunes, and the real time-travel sequences still bail
    to the rewrite layer."""
    from data_engineering_challenge_spark.sql_exec import (
        _attach, _pruned_attach,
    )

    execute_sql_script(
        spark,
        """
        CREATE TABLE atl (ts TIMESTAMP, v BIGINT) STATS BY (ts);
        INSERT INTO atl SELECT CAST('2024-03-01 12:00:00' AS TIMESTAMP), 1;
        INSERT INTO atl SELECT CAST('2024-03-02 06:00:00' AS TIMESTAMP), 2;
        INSERT INTO atl SELECT CAST('2024-03-03 08:00:00' AS TIMESTAMP), 3;
        """,
        cdir,
    )
    # ANSI BETWEEN: answer correct AND only the day-1 file (+ the
    # stats-less zero-row CREATE file) opens — identical skips to the
    # string spelling's pinned test
    stmt = (
        "SELECT SUM(v) AS s FROM atl WHERE ts BETWEEN "
        "TIMESTAMP '2024-03-01 00:00:00' AND TIMESTAMP '2024-03-01 23:00:00'"
    )
    entries = _attach(spark, cdir, stmt)
    assert list(_pruned_attach(spark, cdir, stmt, entries) or []) == ["atl"]
    assert len(spark.table("atl").inputFiles()) == 2
    cat.attach_catalog(spark, cdir, names=["atl"])
    assert execute_sql(spark, stmt, cdir).first()["s"] == 1
    # DATE literal on the timestamp column: UTC-midnight instant bound
    stmt = "SELECT SUM(v) AS s FROM atl WHERE ts >= DATE '2024-03-03'"
    assert list(_pruned_attach(spark, cdir, stmt, entries) or []) == ["atl"]
    assert len(spark.table("atl").inputFiles()) == 2
    cat.attach_catalog(spark, cdir, names=["atl"])
    assert execute_sql(spark, stmt, cdir).first()["s"] == 3
    # ANSI disjunction claims the envelope
    stmt = (
        "SELECT SUM(v) AS s FROM atl WHERE "
        "ts BETWEEN TIMESTAMP '2024-03-01 00:00:00' AND TIMESTAMP '2024-03-01 23:00:00' "
        "OR ts BETWEEN TIMESTAMP '2024-03-02 00:00:00' AND TIMESTAMP '2024-03-02 23:00:00'"
    )
    assert list(_pruned_attach(spark, cdir, stmt, entries) or []) == ["atl"]
    assert len(spark.table("atl").inputFiles()) == 3
    cat.attach_catalog(spark, cdir, names=["atl"])
    assert execute_sql(spark, stmt, cdir).first()["s"] == 3
    # a column literally NAMED version prunes (the old token bail
    # disabled the whole statement)
    execute_sql_script(
        spark,
        """
        CREATE TABLE vcol (k BIGINT, version BIGINT)
            CLUSTERED BY (version) STATS BY (version);
        INSERT INTO vcol SELECT id, id % 10 FROM RANGE(1000);
        """,
        cdir,
    )
    stmt = "SELECT COUNT(*) AS n FROM vcol WHERE version = 3"
    entries = _attach(spark, cdir, stmt)
    assert _pruned_attach(spark, cdir, stmt, entries) is not None
    total = len(sn._read_manifest(
        cat.catalog_entries(cdir)["vcol"]["root"],
        sn.current_version(cat.catalog_entries(cdir)["vcol"]["root"]),
    )["files"])
    assert len(spark.table("vcol").inputFiles()) < total
    cat.attach_catalog(spark, cdir, names=["vcol"])
    assert execute_sql(spark, stmt, cdir).first()["n"] == 100
    # the REAL time-travel sequences still bail (the rewrite layer
    # owns them) — both spellings
    for tt in (
        "SELECT * FROM atl VERSION AS OF 1 WHERE v = 1",
        "SELECT * FROM atl TIMESTAMP AS OF '2030-01-01' WHERE v = 1",
    ):
        assert _pruned_attach(spark, cdir, tt, entries) is None
    # metadata-hybrid range path accepts the ANSI spelling too
    out = execute_sql(
        spark,
        "SELECT COUNT(*) AS n, MIN(v) AS lo FROM atl "
        "WHERE ts >= TIMESTAMP '2024-03-02 00:00:00'",
        cdir,
    )
    assert _rows(out) == [(2, 2)]
    # TIMESTAMP literal on a DATE column refuses (Spark casts the
    # COLUMN up) — answer stays correct, no wrong skip
    execute_sql_script(
        spark,
        """
        CREATE TABLE dcol (d DATE, v BIGINT) STATS BY (d);
        INSERT INTO dcol SELECT CAST('2024-03-01' AS DATE), 1;
        INSERT INTO dcol SELECT CAST('2024-03-02' AS DATE), 2;
        """,
        cdir,
    )
    out = execute_sql(
        spark,
        "SELECT SUM(v) AS s FROM dcol "
        "WHERE d >= TIMESTAMP '2024-03-01 12:00:00'",
        cdir,
    )
    assert out.first()["s"] == spark.sql(
        "SELECT SUM(v) AS s FROM dcol "
        "WHERE d >= TIMESTAMP '2024-03-01 12:00:00'"
    ).first()["s"]


def test_pruned_attach_partition_literal_type_gating(spark, cdir):
    """A partition equality prunes only when the literal's type
    matches the TRANSFORM'S OUTPUT type (advice, round 10 — medium):
    Spark coerces `int_transform = '01'` and `string_transform = 2`
    to matches, but the recorded partition-value STRING compare does
    not — those conjuncts must drop from pruning, not skip files."""
    execute_sql_script(
        spark,
        """
        CREATE TABLE pg (a BIGINT) PARTITIONED BY (a % 4 AS bucket);
        INSERT INTO pg SELECT id FROM RANGE(100);
        CREATE TABLE ps (a BIGINT)
          PARTITIONED BY (LPAD(CAST(a % 3 AS STRING), 2, '0') AS pad);
        INSERT INTO ps SELECT id FROM RANGE(90);
        """,
        cdir,
    )
    # zero-padded STRING literal on an integral transform output
    n = execute_sql(
        spark, "SELECT COUNT(*) AS n FROM pg WHERE a % 4 = '01'", cdir
    ).first()["n"]
    assert n == 25
    # INT literal on a string transform output (rows record '01')
    n = execute_sql(
        spark,
        "SELECT COUNT(*) AS n FROM ps "
        "WHERE LPAD(CAST(a % 3 AS STRING), 2, '0') = 1",
        cdir,
    ).first()["n"]
    assert n == 30
    # the like-typed string form stays row-correct (a parenthesized
    # WHERE body is a documented prune bail-out, so no file check)
    out = execute_sql(
        spark,
        "SELECT COUNT(*) AS n FROM ps "
        "WHERE LPAD(CAST(a % 3 AS STRING), 2, '0') = '01'",
        cdir,
    )
    assert out.first()["n"] == 30
    # the like-typed INT form still PRUNES files
    from data_engineering_challenge_spark.sql_exec import (
        _attach, _pruned_attach,
    )

    root = cat.catalog_entries(cdir)["pg"]["root"]
    total = len(sn._read_manifest(root, sn.current_version(root))["files"])
    stmt = "SELECT COUNT(*) AS n FROM pg WHERE a % 4 = 2"
    name = _pruned_attach(spark, cdir, stmt, _attach(spark, cdir, stmt))
    assert list(name or []) == ["pg"]
    assert len(spark.table("pg").inputFiles()) < total
    cat.attach_catalog(spark, cdir, names=["pg"])


def test_pruned_attach_in_lists(spark, cdir):
    """`col IN (literals)` prunes files (round 11): a file skips only
    when EVERY listed value is provably absent — stats per value on
    the clustered key, blooms per value on the hash-scattered one —
    and the statement's own IN always re-applies."""
    execute_sql_script(
        spark,
        """
        CREATE TABLE il (k BIGINT, tag STRING, v DOUBLE)
          CLUSTERED BY (k) BLOOM BY (tag) BITS 65536;
        INSERT INTO il SELECT id, CONCAT('t', id), CAST(id AS DOUBLE)
          FROM RANGE(4000);
        """,
        cdir,
    )
    root = cat.catalog_entries(cdir)["il"]["root"]
    n_files = len(sn._read_manifest(root, sn.current_version(root))["files"])
    assert n_files >= 8
    from data_engineering_challenge_spark.sql_exec import (
        _attach, _pruned_attach,
    )

    def opened(stmt):
        name = _pruned_attach(spark, cdir, stmt, _attach(spark, cdir, stmt))
        n = len(spark.table("il").inputFiles())
        if name:
            cat.attach_catalog(spark, cdir, names=name)
        return n, name

    # stats-pruned int IN on the clustered key
    stmt = "SELECT COUNT(*) AS n FROM il WHERE k IN (5, 6, 3995)"
    assert execute_sql(spark, stmt, cdir).first()["n"] == 3
    n, name = opened(stmt)
    assert list(name or []) == ["il"] and n <= 3, (name, n)
    # bloom-pruned string IN on the scattered column
    stmt = "SELECT k FROM il WHERE tag IN ('t123', 't3990')"
    assert sorted(
        r["k"] for r in execute_sql(spark, stmt, cdir).collect()
    ) == [123, 3990]
    n, name = opened(stmt)
    assert list(name or []) == ["il"] and n <= 3, (name, n)
    # a non-canonical list demotes to its (min, max) envelope — the
    # answer never changes (float literals on a bigint column)
    stmt = "SELECT COUNT(*) AS n FROM il WHERE k IN (5.0, 9.0)"
    assert execute_sql(spark, stmt, cdir).first()["n"] == 2
    n, name = opened(stmt)
    assert list(name or []) == ["il"] and n <= 2, (name, n)
    # mixed-type lists make no claims but stay correct
    stmt = "SELECT COUNT(*) AS n FROM il WHERE k IN (5, '0006')"
    assert execute_sql(spark, stmt, cdir).first()["n"] == 2
    # a subquery IN no longer blocks the OUTER conjunct's claims
    # (round 14 — the span masks; the BETWEEN still prunes)
    stmt = (
        "SELECT COUNT(*) AS n FROM il "
        "WHERE k IN (SELECT 5) AND k BETWEEN 0 AND 10"
    )
    assert execute_sql(spark, stmt, cdir).first()["n"] == 1
    n, name = opened(stmt)
    assert list(name or []) == ["il"] and n <= 2, (name, n)


def test_pruned_attach_subquery_masking(spark, cdir):
    """Subquery-span masking in statement pruning (round 14 — VERDICT
    r13 'Next round #1'): ``WHERE <claims> AND id IN (SELECT …)`` /
    ``EXISTS (…)`` / a scalar-subquery select item claim the OUTER
    conjuncts (inputFiles-pinned skips), while correlated spans, a
    table scanned both outside and inside a span (once-only), and
    derived-table FROMs all keep the plain attach with row-identical
    answers."""
    from data_engineering_challenge_spark.sql_exec import (
        _attach, _pruned_attach,
    )

    execute_sql_script(
        spark,
        """
        CREATE TABLE sqm (k BIGINT, v BIGINT)
          CLUSTERED BY (k) STATS BY (k, v);
        INSERT INTO sqm SELECT id, id % 13 FROM RANGE(8000);
        CREATE TABLE sqd (d BIGINT, grp BIGINT)
          CLUSTERED BY (d) STATS BY (d, grp);
        INSERT INTO sqd SELECT id, id % 3 FROM RANGE(20);
        """,
        cdir,
    )
    root = cat.catalog_entries(cdir)["sqm"]["root"]
    total = len(
        sn._read_manifest(root, sn.current_version(root))["files"]
    )
    assert total >= 8

    def probe(stmt, table="sqm"):
        pr = _pruned_attach(spark, cdir, stmt, _attach(spark, cdir, stmt))
        n_open = len(spark.table(table).inputFiles())
        if pr:
            cat.attach_catalog(spark, cdir, names=list(pr))
        return pr, n_open

    def parity(stmt):
        got = sorted(map(tuple, execute_sql(spark, stmt, cdir).collect()))
        exp = sorted(map(tuple, spark.sql(stmt).collect()))
        assert got == exp, stmt

    # IN (SELECT …): outer range claims, subquery claims nothing
    s = (
        "SELECT COUNT(*) AS n FROM sqm WHERE k BETWEEN 100 AND 300 "
        "AND v IN (SELECT d FROM sqd WHERE d < 5)"
    )
    parity(s)
    pr, n_open = probe(s)
    assert pr and "sqm" in pr and n_open <= 2, (pr, n_open)
    _assert_sound_prune(spark, cdir, s)
    # EXISTS (uncorrelated) — same story
    s = (
        "SELECT COUNT(*) AS n FROM sqm WHERE k >= 7500 "
        "AND EXISTS (SELECT 1 FROM sqd WHERE d = 3)"
    )
    parity(s)
    pr, n_open = probe(s)
    assert pr and "sqm" in pr and n_open <= 2, (pr, n_open)
    _assert_sound_prune(spark, cdir, s)
    # scalar subquery in the SELECT LIST — the WHERE still claims
    s = (
        "SELECT COUNT(*) AS n, (SELECT MAX(d) FROM sqd) AS md "
        "FROM sqm WHERE k BETWEEN 0 AND 50"
    )
    parity(s)
    pr, n_open = probe(s)
    assert pr and list(pr) == ["sqm"] and n_open <= 2, (pr, n_open)
    # JOIN + subquery: the joined dim prunes by ITS conjunct too
    s = (
        "SELECT COUNT(*) AS n FROM sqm JOIN sqd ON sqm.v = sqd.d "
        "WHERE sqm.k BETWEEN 100 AND 300 AND sqd.d <= 5 "
        "AND sqm.v IN (SELECT 1)"
    )
    parity(s)
    pr, n_open = probe(s)
    assert pr and sorted(pr) == ["sqd", "sqm"] and n_open <= 2, (
        pr, n_open,
    )
    # CORRELATED subquery: Catalyst decorrelates it into a semi join,
    # and the outer range prunes soundly
    s = (
        "SELECT COUNT(*) AS n FROM sqm WHERE k >= 7500 "
        "AND EXISTS (SELECT 1 FROM sqd WHERE sqd.d = sqm.v)"
    )
    parity(s)
    _assert_sound_prune(spark, cdir, s)
    # the table scanned inside its own subquery: the OR of the two
    # scans' filters prunes soundly
    s = (
        "SELECT COUNT(*) AS n FROM sqm WHERE k >= 7500 "
        "AND v IN (SELECT v FROM sqm WHERE k < 100)"
    )
    parity(s)
    _assert_sound_prune(spark, cdir, s)
    # once-only across tables: sqd scanned in the span AND joined
    # outside — sqd keeps the plain attach, sqm still prunes
    s = (
        "SELECT COUNT(*) AS n FROM sqm JOIN sqd ON sqm.v = sqd.d "
        "WHERE sqm.k BETWEEN 100 AND 300 "
        "AND sqm.v IN (SELECT grp FROM sqd WHERE d < 9)"
    )
    parity(s)
    pr, n_open = probe(s)
    assert pr and list(pr) == ["sqm"] and n_open <= 2, (pr, n_open)
    # a derived-table FROM prunes like the plain SELECT inside it
    s = (
        "SELECT COUNT(*) AS n FROM (SELECT k FROM sqm "
        "WHERE k BETWEEN 0 AND 50) t"
    )
    parity(s)
    _assert_sound_prune(spark, cdir, s)
    # TABLE-form subquery (review, round 14): `(TABLE t)` is a
    # subquery Spark accepts with no SELECT token — the once-only
    # rule must still see the self-reference, or the subquery's scan
    # would read the pruned view and LOSE rows
    execute_sql_script(
        spark,
        """
        CREATE TABLE sqt (k BIGINT) CLUSTERED BY (k) STATS BY (k);
        INSERT INTO sqt SELECT id FROM RANGE(8000);
        """,
        cdir,
    )
    s = (
        "SELECT COUNT(*) AS n FROM sqt WHERE k < 5 "
        "AND k + 7000 IN (TABLE sqt)"
    )
    parity(s)
    pr, _ = probe(s, table="sqt")
    assert pr is None
    # CTE unit + subquery conjunct: the CTE body's table still claims
    s = (
        "WITH w AS (SELECT k FROM sqm WHERE k BETWEEN 100 AND 300 "
        "AND v IN (SELECT d FROM sqd WHERE d < 5)) "
        "SELECT COUNT(*) AS n FROM w"
    )
    parity(s)
    pr, n_open = probe(s)
    assert pr and "sqm" in pr and n_open <= 2, (pr, n_open)
    _assert_sound_prune(spark, cdir, s)


def test_pruned_attach_function_partition_transform(spark, cdir):
    """Parenthesized conjuncts prune (round 11): a FUNCTION partition
    transform (`DAY(ts)`) declared in SQL DDL is matched token-wise by
    the statement's WHERE and prunes by recorded partition values —
    previously any paren in the WHERE body kept the plain attach."""
    execute_sql_script(
        spark,
        """
        CREATE TABLE fp (ts TIMESTAMP, v BIGINT)
          PARTITIONED BY (DAY(ts) AS d);
        INSERT INTO fp SELECT
          CAST('2024-01-01 00:00:00' AS TIMESTAMP)
            + MAKE_INTERVAL(0, 0, 0, 0, 0, 0, id * 500),
          id
        FROM RANGE(5000);
        """,
        cdir,
    )
    root = cat.catalog_entries(cdir)["fp"]["root"]
    total = len(sn._read_manifest(root, sn.current_version(root))["files"])
    assert total >= 5  # multiple day partitions
    from data_engineering_challenge_spark.sql_exec import (
        _attach, _pruned_attach,
    )

    stmt = "SELECT SUM(v) AS s FROM fp WHERE DAY(ts) = 15"
    want = execute_sql(spark, stmt, cdir).first()["s"]
    assert want is not None
    name = _pruned_attach(spark, cdir, stmt, _attach(spark, cdir, stmt))
    assert list(name or []) == ["fp"]
    n_open = len(spark.table("fp").inputFiles())
    cat.attach_catalog(spark, cdir, names=["fp"])
    assert n_open < total, (n_open, total)
    # composed with a plain conjunct on the same statement
    stmt = "SELECT SUM(v) AS s FROM fp WHERE DAY(ts) = 15 AND v >= 0"
    assert execute_sql(spark, stmt, cdir).first()["s"] == want


def test_pruned_attach_open_ranges_strict_ops_and_like(spark, cdir):
    """Round 11: one-sided bounds (`ts >= a` alone), strict `<`/`>`
    (claimed as their inclusive superset — the statement's WHERE
    enforces strictness), and prefix LIKE all prune files."""
    execute_sql_script(
        spark,
        """
        CREATE TABLE orl (k BIGINT, s STRING)
          CLUSTERED BY (k) STATS BY (k, s);
        INSERT INTO orl SELECT id, CONCAT('key', LPAD(CAST(id AS STRING), 5, '0'))
          FROM RANGE(4000);
        """,
        cdir,
    )
    root = cat.catalog_entries(cdir)["orl"]["root"]
    n_files = len(sn._read_manifest(root, sn.current_version(root))["files"])
    assert n_files >= 8
    from data_engineering_challenge_spark.sql_exec import (
        _attach, _pruned_attach,
    )

    def check(stmt, want_n, max_files):
        assert execute_sql(spark, stmt, cdir).first()["n"] == want_n, stmt
        name = _pruned_attach(spark, cdir, stmt, _attach(spark, cdir, stmt))
        n = len(spark.table("orl").inputFiles())
        if name:
            cat.attach_catalog(spark, cdir, names=name)
        assert list(name or []) == ["orl"] and n <= max_files, (stmt, name, n)

    # canonical half-open window: >= with strict <
    check(
        "SELECT COUNT(*) AS n FROM orl WHERE k >= 100 AND k < 200",
        100, 2,
    )
    # one-sided bounds alone
    check("SELECT COUNT(*) AS n FROM orl WHERE k >= 3900", 100, 2)
    check("SELECT COUNT(*) AS n FROM orl WHERE k < 100", 100, 2)
    # strict bound boundary: a file whose max IS the bound is read,
    # the statement's WHERE drops the boundary row
    check("SELECT COUNT(*) AS n FROM orl WHERE k > 3999", 0, 2)
    # prefix LIKE on clustered-adjacent string stats
    check(
        "SELECT COUNT(*) AS n FROM orl WHERE s LIKE 'key0012%'",
        10, 2,
    )
    # non-prefix patterns claim nothing but stay correct
    assert execute_sql(
        spark,
        "SELECT COUNT(*) AS n FROM orl WHERE s LIKE '%y00120'",
        cdir,
    ).first()["n"] == 1
    assert execute_sql(
        spark,
        "SELECT COUNT(*) AS n FROM orl WHERE s LIKE 'key_012%'",
        cdir,
    ).first()["n"] == 10


def test_pruned_attach_review_round11_regressions(spark, cdir):
    """Three review repros (round 11): a string IN list on a bigint
    column must not demote to a lexically-INVERTED envelope; a depth-0
    CASE's arm fragments must not become table-level claims; a
    half-open range on a MoR delete-carrying table must still apply
    the deletes (between(lo, NULL) would empty the delete side and
    resurrect deleted rows)."""
    execute_sql_script(
        spark,
        """
        CREATE TABLE rr (k BIGINT, v DOUBLE) CLUSTERED BY (k);
        INSERT INTO rr SELECT id, CAST(id AS DOUBLE) FROM RANGE(2000);
        """,
        cdir,
    )
    # lexical min('9','10')='10' > max='9': would between('10','9')
    n = execute_sql(
        spark, "SELECT COUNT(*) AS n FROM rr WHERE k IN ('9', '10')", cdir
    ).first()["n"]
    assert n == 2
    # a numeric mixed list still envelopes correctly
    n = execute_sql(
        spark, "SELECT COUNT(*) AS n FROM rr WHERE k IN (9.0, 10)", cdir
    ).first()["n"]
    assert n == 2
    # CASE arm carries a depth-0 AND + a comparison fragment `k > 3`;
    # ELSE 1 means EVERY row matches — no file may be skipped
    n = execute_sql(
        spark,
        "SELECT COUNT(*) AS n FROM rr WHERE CASE WHEN v >= 0 AND k > 3 "
        "AND v <= 1e9 THEN 1 ELSE 1 END = 1",
        cdir,
    ).first()["n"]
    assert n == 2000
    # MoR: DELETE leaves an equality-delete list; a one-sided range
    # must not resurrect the deleted row
    execute_sql(spark, "DELETE FROM rr WHERE k = 1500", cdir)
    n = execute_sql(
        spark, "SELECT COUNT(*) AS n FROM rr WHERE k >= 1000", cdir
    ).first()["n"]
    assert n == 999  # 1000..1999 minus the deleted 1500


def test_pruned_attach_inner_join_star(spark, cdir):
    """Multi-table pruning (round 11 — the star-join pattern): each
    table in an INNER join prunes by ITS OWN conjuncts — qualified, or
    unqualified and resolved through the one schema carrying the
    column — while outer-join shapes keep the plain attach."""
    execute_sql_script(
        spark,
        """
        CREATE TABLE fact (k BIGINT, dim_id BIGINT, v DOUBLE)
          CLUSTERED BY (k);
        INSERT INTO fact SELECT id, id % 10, CAST(id AS DOUBLE)
          FROM RANGE(4000);
        CREATE TABLE dim (dim_id BIGINT, label STRING)
          CLUSTERED BY (dim_id) STATS BY (dim_id, label);
        INSERT INTO dim SELECT id, CONCAT('d', LPAD(CAST(id AS STRING), 4, '0'))
          FROM RANGE(1000);
        """,
        cdir,
    )
    from data_engineering_challenge_spark.sql_exec import (
        _attach, _pruned_attach,
    )

    froot = cat.catalog_entries(cdir)["fact"]["root"]
    f_total = len(sn._read_manifest(froot, sn.current_version(froot))["files"])
    droot = cat.catalog_entries(cdir)["dim"]["root"]
    d_total = len(sn._read_manifest(droot, sn.current_version(droot))["files"])
    assert f_total >= 8 and d_total >= 8
    # unqualified conjuncts: k only in fact, label only in dim —
    # labels 'd0000'..'d0009' join (dim_id = k % 10), all match 'd000%'
    stmt = (
        "SELECT COUNT(*) AS n FROM fact JOIN dim ON fact.dim_id = dim.dim_id "
        "WHERE k BETWEEN 100 AND 200 AND label LIKE 'd000%'"
    )
    n = execute_sql(spark, stmt, cdir).first()["n"]
    assert n == 101
    pruned = _pruned_attach(spark, cdir, stmt, _attach(spark, cdir, stmt))
    nf = len(spark.table("fact").inputFiles())
    nd = len(spark.table("dim").inputFiles())
    cat.attach_catalog(spark, cdir, names=pruned or [])
    assert sorted(pruned or []) == ["dim", "fact"]
    assert nf < f_total and nd < d_total, (nf, f_total, nd, d_total)
    # alias-qualified attribution, explicit INNER spelling, and a
    # LEFT() string FUNCTION that must not read as a join shape
    stmt = (
        "SELECT LEFT(d.label, 2) AS p, COUNT(*) AS n "
        "FROM fact f INNER JOIN dim d ON f.dim_id = d.dim_id "
        "WHERE f.k >= 3900 AND d.dim_id <= 3 GROUP BY p"
    )
    n = execute_sql(spark, stmt, cdir).first()["n"]
    assert n == sum(1 for i in range(3900, 4000) if i % 10 <= 3)
    pruned = _pruned_attach(spark, cdir, stmt, _attach(spark, cdir, stmt))
    nf = len(spark.table("fact").inputFiles())
    cat.attach_catalog(spark, cdir, names=pruned or [])
    assert sorted(pruned or []) == ["dim", "fact"] and nf < f_total
    # an ambiguous unqualified column (dim_id in both) claims nothing
    stmt = (
        "SELECT COUNT(*) AS n FROM fact JOIN dim ON fact.dim_id = dim.dim_id "
        "WHERE dim_id = 3"
    )
    pruned = _pruned_attach(spark, cdir, stmt, _attach(spark, cdir, stmt))
    if pruned:
        cat.attach_catalog(spark, cdir, names=pruned)
    assert pruned is None
    # LEFT joins prune the PRESERVED side since round 12 (the dim,
    # null-extendable, keeps the plain attach)
    stmt = (
        "SELECT COUNT(*) AS n FROM fact LEFT JOIN dim "
        "ON fact.dim_id = dim.dim_id WHERE k BETWEEN 0 AND 10"
    )
    assert execute_sql(spark, stmt, cdir).first()["n"] == 11
    pruned = _pruned_attach(spark, cdir, stmt, _attach(spark, cdir, stmt))
    nf = len(spark.table("fact").inputFiles())
    nd = len(spark.table("dim").inputFiles())
    if pruned:
        cat.attach_catalog(spark, cdir, names=pruned)
    assert sorted(pruned or []) == ["fact"]
    assert nf < f_total and nd == d_total, (nf, f_total, nd, d_total)
    # a self-join prunes by the OR of its two scans' filters (Catalyst
    # infers b.k = 5 from the join key)
    stmt = (
        "SELECT COUNT(*) AS n FROM fact a JOIN fact b ON a.k = b.k "
        "WHERE a.k = 5"
    )
    assert execute_sql(spark, stmt, cdir).first()["n"] == 1
    _assert_sound_prune(spark, cdir, stmt)


def test_metadata_min_max_agg(spark, cdir):
    """``SELECT MIN/MAX/COUNT(*) FROM t`` answers from recorded stats
    with zero data reads (round 11 — Iceberg aggregate pushdown from
    SQL), schema-identical to real execution; a range WHERE folds the
    files it covers whole and scans its boundary files; non-numeric
    columns and MoR deletes fall back."""
    import os

    execute_sql_script(
        spark,
        """
        CREATE TABLE ma (k BIGINT, v DOUBLE, s STRING)
          CLUSTERED BY (k) STATS BY (k, v);
        INSERT INTO ma SELECT id, CAST(id AS DOUBLE) / 2, CONCAT('x', id)
          FROM RANGE(1000);
        """,
        cdir,
    )
    stmt = "SELECT MIN(k) AS lo, MAX(k) AS hi, COUNT(*) AS n, MAX(k) FROM ma"
    out = execute_sql(spark, stmt, cdir)
    ref = spark.sql(
        "SELECT MIN(k) AS lo, MAX(k) AS hi, COUNT(*) AS n, MAX(k) "
        "FROM (SELECT * FROM ma)"
    )
    def _shape(sch):
        # Spark stamps unaliased agg fields with internal
        # __autoGeneratedAlias metadata; names/types/nullability are
        # the fidelity contract
        return [(f.name, f.dataType, f.nullable) for f in sch]

    assert _shape(out.schema) == _shape(ref.schema), (out.schema, ref.schema)
    assert out.collect() == ref.collect()
    # zero-read pin: files renamed away, the white-box path answers
    from data_engineering_challenge_spark.sql_exec import (
        _attach, _metadata_answer,
    )

    entries = _attach(spark, cdir, stmt)
    root = cat.catalog_entries(cdir)["ma"]["root"]
    m = sn._read_manifest(root, sn.current_version(root))
    paths = [os.path.join(root, f) for f in m["files"]]
    try:
        for p in paths:
            os.rename(p, p + ".hidden")
        got = _metadata_answer(spark, cdir, stmt, entries)
        assert got is not None
        assert [tuple(r) for r in got.collect()] == [(0, 999, 1000, 999)]
        # a STRING column's stats are ISO/lexical — a different type
        # than Spark returns, so the shape refuses
        assert _metadata_answer(
            spark, cdir, "SELECT MIN(s) FROM ma", entries
        ) is None
        # FLOAT/DOUBLE answer since round 12: the write chokepoint
        # recorded a zero NaN count per file, so the finite footer
        # stats provably hide nothing — still zero data reads (the
        # files are renamed away here)
        got_v = _metadata_answer(
            spark, cdir, "SELECT MAX(v) AS hv FROM ma", entries
        )
        assert got_v is not None and got_v.first()["hv"] == 499.5
    finally:
        for p in paths:
            if os.path.exists(p + ".hidden"):
                os.rename(p + ".hidden", p)
    # a range WHERE answers too: the files inside the range fold from
    # their stats, the boundary file is scanned (so the files are back)
    s = "SELECT MIN(k) FROM ma WHERE k > 5"
    note: dict = {}
    got = _metadata_answer(spark, cdir, s, _attach(spark, cdir, s), note=note)
    assert note["metadata"] == "answered", note
    assert got.collect() == spark.sql(s).collect() == [(6,)]
    # MoR deletes refuse: the real aggregation runs and sees the drop
    execute_sql(spark, "DELETE FROM ma WHERE k = 999", cdir)
    assert execute_sql(
        spark, "SELECT MAX(k) AS hi FROM ma", cdir
    ).first()["hi"] == 998


def test_show_partitions_statement(spark, cdir):
    """SHOW PARTITIONS <name> (round 11): the PARTITIONS metadata
    table — one row per hidden-partition tuple with file/row/byte
    counts, manifests only — reachable from SQL; views refuse."""
    execute_sql_script(
        spark,
        """
        CREATE TABLE sp (a BIGINT) PARTITIONED BY (a % 3 AS m);
        INSERT INTO sp SELECT id FROM RANGE(90);
        CREATE VIEW spv AS SELECT * FROM sp;
        """,
        cdir,
    )
    out = execute_sql(spark, "SHOW PARTITIONS sp", cdir)
    rows = {
        r["partition"].get("m"): r["row_count"] for r in out.collect()
    }
    # the zero-row explicit-schema CREATE file reports as the
    # unpartitioned tuple; the three value tuples carry the rows
    assert rows == {None: 0, "0": 30, "1": 30, "2": 30}
    assert out.columns == [
        "partition", "file_count", "row_count", "total_bytes",
    ]
    with pytest.raises(ValueError, match="only"):
        execute_sql(spark, "SHOW PARTITIONS spv", cdir)


def test_attach_memo_reuses_analyzed_view(spark, cdir, monkeypatch):
    """Re-attaching an UNCHANGED (root, version) re-registers the
    memoized analyzed view (round 11): zero manifest reads / relation
    builds per statement on a quiet table; a new commit — or a table
    dropped and recreated at the same root — rebuilds."""
    execute_sql(
        spark, "CREATE TABLE am AS SELECT id AS k FROM RANGE(100)", cdir
    )
    execute_sql(spark, "SELECT COUNT(*) AS n FROM am", cdir)  # warm
    calls: list = []
    orig = sn.read_snapshot_mor

    def counting(*a, **kw):
        calls.append(1)
        return orig(*a, **kw)

    monkeypatch.setattr(sn, "read_snapshot_mor", counting)
    n = execute_sql(spark, "SELECT COUNT(*) AS n FROM am", cdir).first()["n"]
    assert n == 100 and calls == [], calls  # same head: no rebuild
    execute_sql(spark, "INSERT INTO am SELECT 999", cdir)
    calls.clear()
    n = execute_sql(spark, "SELECT COUNT(*) AS n FROM am", cdir).first()["n"]
    assert n == 101 and len(calls) >= 1  # new head: rebuilt
    # drop + recreate: same root may reach the same version number
    # with a DIFFERENT manifest — the file-identity key must rebuild
    execute_sql(spark, "DROP TABLE am", cdir)
    execute_sql(
        spark, "CREATE TABLE am AS SELECT id AS k FROM RANGE(5)", cdir
    )
    n = execute_sql(spark, "SELECT COUNT(*) AS n FROM am", cdir).first()["n"]
    assert n == 5


def test_metadata_partition_count(spark, cdir):
    """``SELECT COUNT(*) FROM t WHERE <partition equalities>`` answers
    from the MANIFEST with zero data reads (round 11 — Iceberg's
    partition-count path), pinned by chmod-ing every data file
    unreadable; a literal the analyzer casts to the transform's type
    answers like the typed one, and any residual conjunct or MoR
    delete falls back to the normal (at worst file-pruned) execution."""
    import os

    execute_sql_script(
        spark,
        """
        CREATE TABLE mc (ts TIMESTAMP, v BIGINT)
          PARTITIONED BY (DAY(ts) AS d);
        INSERT INTO mc SELECT
          CAST('2024-01-01 00:00:00' AS TIMESTAMP)
            + MAKE_INTERVAL(0, 0, 0, 0, 0, 0, id * 500),
          id
        FROM RANGE(5000);
        """,
        cdir,
    )
    want = execute_sql(
        spark,
        "SELECT COUNT(*) AS n FROM mc WHERE DAY(ts) = 15 AND v >= 0",
        cdir,
    ).first()["n"]
    assert want > 0
    # end-to-end: shape + name + value through execute_sql
    out = execute_sql(
        spark, "SELECT COUNT(*) AS n FROM mc WHERE DAY(ts) = 15", cdir
    )
    assert out.columns == ["n"] and out.first()["n"] == want
    out = execute_sql(
        spark, "SELECT COUNT(*) FROM mc WHERE DAY(ts) = 15", cdir
    )
    assert out.columns == ["count(1)"] and out.first()[0] == want
    # zero-read pin: with every data file RENAMED AWAY (root ignores
    # chmod), the metadata path still answers; shapes it must refuse
    # return None instead of a wrong number
    from data_engineering_challenge_spark.sql_exec import (
        _attach, _metadata_answer,
    )

    entries = _attach(spark, cdir, "SELECT COUNT(*) FROM mc WHERE DAY(ts) = 15")
    root = cat.catalog_entries(cdir)["mc"]["root"]
    m = sn._read_manifest(root, sn.current_version(root))
    paths = [os.path.join(root, f) for f in m["files"]]
    try:
        for p in paths:
            os.rename(p, p + ".hidden")
        out = _metadata_answer(
            spark, cdir,
            "SELECT COUNT(*) AS n FROM mc WHERE DAY(ts) = 15", entries,
        )
        assert out is not None and out.first()["n"] == want
        # no WHERE at all: the whole-table count answers from the
        # summed per-file row counts — including the BARE 7-token
        # form (review, round 11: the shape guard rejected it)
        out = _metadata_answer(
            spark, cdir, "SELECT COUNT(*) AS n FROM mc", entries
        )
        assert out is not None and out.first()["n"] == 5000
        out = _metadata_answer(
            spark, cdir, "SELECT COUNT(*) FROM mc", entries
        )
        assert out is not None and out.first()[0] == 5000
        # a GROUP BY is one row per group — never the metadata shape
        assert _metadata_answer(
            spark, cdir, "SELECT COUNT(*) AS n FROM mc GROUP BY v", entries
        ) is None
        # Spark 4.1 reads a trailing `AS` as the table alias: the
        # statement analyzes, so the answer is the count Spark returns
        spark.sql("SELECT COUNT(*) FROM mc AS")
        out = _metadata_answer(
            spark, cdir, "SELECT COUNT(*) FROM mc AS", entries
        )
        assert out is not None and out.first()[0] == 5000
        # residual conjunct: metadata cannot answer exactly
        assert _metadata_answer(
            spark, cdir,
            "SELECT COUNT(*) AS n FROM mc WHERE DAY(ts) = 15 AND v >= 0",
            entries,
        ) is None
        # a string literal on the int transform output: the analyzer
        # casts '15' to 15, exactly as Spark compares — same count
        out = _metadata_answer(
            spark, cdir,
            "SELECT COUNT(*) AS n FROM mc WHERE DAY(ts) = '15'", entries,
        )
        assert out is not None and out.first()["n"] == want
    finally:
        for p in paths:
            if os.path.exists(p + ".hidden"):
                os.rename(p + ".hidden", p)
    # MoR deletes refuse the metadata path (stale counts): DELETE one
    # row, the count must drop — proving the real read ran
    execute_sql(
        spark,
        "DELETE FROM mc WHERE v = (SELECT MIN(v) FROM mc WHERE DAY(ts) = 15)",
        cdir,
    )
    n2 = execute_sql(
        spark, "SELECT COUNT(*) AS n FROM mc WHERE DAY(ts) = 15", cdir
    ).first()["n"]
    assert n2 == want - 1


def test_pruned_view_restored_on_statement_error(spark, cdir):
    """A statement that fails AFTER the pruned re-attach must restore
    the plain view on the way out (advice, round 10 — low): the
    filtered, file-pruned view must never linger under the table's
    name for the rest of the session."""
    execute_sql(
        spark, "CREATE TABLE re AS SELECT id AS k FROM RANGE(100)", cdir
    )
    with pytest.raises(Exception, match="bogus|UNRESOLVED"):
        execute_sql(spark, "SELECT bogus FROM re WHERE k = 5", cdir)
    assert spark.sql("SELECT COUNT(*) AS n FROM re").first()["n"] == 100


def test_attach_bails_to_full_catalog_on_identifier(spark, cdir):
    """IDENTIFIER() names tables in forms the O(referenced) token scan
    cannot see (advice, round 10 — low): such statements re-attach the
    FULL catalog, so the construct never reads a stale head pinned by
    an earlier statement — and works in a fresh session."""
    execute_sql(spark, "CREATE TABLE idt AS SELECT 1 AS a", cdir)
    s2 = spark.newSession()
    assert execute_sql(
        s2, "SELECT a FROM IDENTIFIER('idt')", cdir
    ).first()["a"] == 1
    # a commit from another session must be visible through
    # IDENTIFIER even though the token scan can't name the table
    execute_sql(spark, "INSERT INTO idt SELECT 2", cdir)
    n = execute_sql(
        s2, "SELECT COUNT(*) AS n FROM IDENTIFIER('idt')", cdir
    ).first()["n"]
    assert n == 2


def test_pruned_view_restored_after_statement(spark, cdir):
    """The statement-scoped pruned view must not linger: a direct
    spark.sql after execute_sql sees the FULL table again (review,
    round 10)."""
    execute_sql(
        spark, "CREATE TABLE rv AS SELECT id AS k FROM RANGE(100)", cdir
    )
    execute_sql(spark, "SELECT k FROM rv WHERE k = 5", cdir)
    assert spark.sql("SELECT COUNT(*) AS n FROM rv").first()["n"] == 100


def test_or_replace_explicit_schema_retires_layout(spark, cdir):
    """CREATE OR REPLACE with an explicit column list retires the
    prior layout; a DECLARED layout replaces it WHOLESALE — transform
    names never accumulate across replaces (review, round 10)."""
    execute_sql(
        spark, "CREATE TABLE rp (a BIGINT) PARTITIONED BY (a % 2 AS e)",
        cdir,
    )
    execute_sql(spark, "INSERT INTO rp SELECT id FROM RANGE(10)", cdir)
    execute_sql(spark, "CREATE OR REPLACE TABLE rp (x BIGINT)", cdir)
    execute_sql(spark, "INSERT INTO rp SELECT 99", cdir)
    assert execute_sql(
        spark, "SELECT COUNT(*) AS n FROM rp", cdir
    ).first()["n"] == 1
    execute_sql(
        spark,
        "CREATE OR REPLACE TABLE rp (a BIGINT, b BIGINT) "
        "PARTITIONED BY (b % 3 AS f)",
        cdir,
    )
    root = cat.catalog_entries(cdir)["rp"]["root"]
    lay = sn._read_manifest_meta(root, sn.current_version(root))["layout"]
    assert sorted((lay.get("partition_transforms") or {}).keys()) == ["f"]


def test_metadata_agg_ambiguous_case_insensitive_falls_back(
    spark, cdir, tmp_path
):
    """A table whose parquet schema carries columns differing ONLY in
    case (written under spark.sql.caseSensitive=true): with the
    session back to case-insensitive, ``SELECT MAX(k)`` raises
    AMBIGUOUS_REFERENCE in real execution — the metadata fast path
    must fall back (None), never answer from the first schema match
    (advice, round 12)."""
    from data_engineering_challenge_spark.sql_exec import (
        _attach, _metadata_answer,
    )

    prior = spark.conf.get("spark.sql.caseSensitive")
    try:
        spark.conf.set("spark.sql.caseSensitive", "true")
        root = str(tmp_path / "amb")
        df = spark.sql("SELECT id AS k, id * 2 AS K FROM RANGE(10)")
        sn.snapshot_overwrite(df, root, stats_cols=["k", "K"])
        cat.catalog_register(cdir, "amb_t", root)
        entries = _attach(spark, cdir, "SELECT MAX(k) FROM amb_t")
        # case-SENSITIVE session: exact matches resolve per spelling
        lo = _metadata_answer(
            spark, cdir, "SELECT MAX(k) AS m FROM amb_t", entries
        )
        hi = _metadata_answer(
            spark, cdir, "SELECT MAX(K) AS m FROM amb_t", entries
        )
        assert lo is not None and lo.first()["m"] == 9
        assert hi is not None and hi.first()["m"] == 18
        # case-INSENSITIVE session: both fields match — real execution
        # rejects the statement, so the fast path must not answer it
        spark.conf.set("spark.sql.caseSensitive", "false")
        assert _metadata_answer(
            spark, cdir, "SELECT MAX(k) AS m FROM amb_t", entries
        ) is None
    finally:
        spark.conf.set("spark.sql.caseSensitive", prior)
        spark.catalog.dropTempView("amb_t")


def test_where_body_explicit_clause_stops(spark, cdir):
    """The WHERE body is delimited by an EXPLICIT depth-0 stop list
    covering every clause Spark can parse after it (advice, round 12:
    OFFSET/DISTRIBUTE/SORT/CLUSTER/WINDOW previously relied on their
    tokens folding into the last conjunct and breaking its literal
    shape) — a trailing SORT BY no longer poisons the preceding
    conjunct's claims, and the metadata COUNT refuses trailing
    clauses by design."""
    execute_sql_script(
        spark,
        """
        CREATE TABLE ws (k BIGINT, v DOUBLE) CLUSTERED BY (k);
        INSERT INTO ws SELECT id, CAST(id AS DOUBLE) FROM RANGE(4000);
        """,
        cdir,
    )
    root = cat.catalog_entries(cdir)["ws"]["root"]
    n_files = len(
        sn._read_manifest(root, sn.current_version(root))["files"]
    )
    assert n_files >= 8
    from data_engineering_challenge_spark.sql_exec import (
        _attach, _metadata_answer, _pruned_attach,
    )

    stmt = "SELECT k FROM ws WHERE k BETWEEN 100 AND 110 SORT BY k"
    out = execute_sql(spark, stmt, cdir)
    assert [r["k"] for r in out.collect()] == list(range(100, 111))
    entries = _attach(spark, cdir, stmt)
    pruned = _pruned_attach(spark, cdir, stmt, entries)
    n = len(spark.table("ws").inputFiles())
    if pruned:
        cat.attach_catalog(spark, cdir, names=pruned)
    assert pruned and n <= 2, (pruned, n)
    # a trailing OFFSET truncates — never the single-row COUNT shape
    assert _metadata_answer(
        spark, cdir, "SELECT COUNT(*) AS n FROM ws WHERE k = 5 OFFSET 1",
        entries,
    ) is None
    assert execute_sql(
        spark, "SELECT k FROM ws WHERE k <= 5 ORDER BY k OFFSET 4", cdir
    ).first()["k"] == 4


def test_pruned_attach_outer_semi_anti_joins(spark, cdir):
    """Statement-level pruning past INNER joins (round 12 — VERDICT
    r11 'What's missing #1'): the PRESERVED side of a LEFT/RIGHT join
    and the PROBE side of SEMI/ANTI prune by their own WHERE
    conjuncts (identical soundness to the inner case — every output
    row binds that side's columns from a real row); the
    null-extendable side, FULL joins, and dim-side-only predicates
    keep the plain attach."""
    execute_sql_script(
        spark,
        """
        CREATE TABLE fct (k BIGINT, g BIGINT, v DOUBLE)
          CLUSTERED BY (k);
        INSERT INTO fct SELECT id, id % 10, CAST(id AS DOUBLE)
          FROM RANGE(4000);
        CREATE TABLE dim (g BIGINT, k BIGINT, label STRING);
        INSERT INTO dim SELECT id, id * 100, CONCAT('g', id)
          FROM RANGE(10);
        """,
        cdir,
    )
    root = cat.catalog_entries(cdir)["fct"]["root"]
    n_files = len(
        sn._read_manifest(root, sn.current_version(root))["files"]
    )
    droot = cat.catalog_entries(cdir)["dim"]["root"]
    d_files = len(
        sn._read_manifest(droot, sn.current_version(droot))["files"]
    )
    assert n_files >= 8
    from data_engineering_challenge_spark.sql_exec import (
        _attach, _pruned_attach,
    )

    def probe(stmt):
        entries = _attach(spark, cdir, stmt)
        pruned = _pruned_attach(spark, cdir, stmt, entries)
        n_f = len(spark.table("fct").inputFiles())
        n_d = len(spark.table("dim").inputFiles())
        if pruned:
            cat.attach_catalog(spark, cdir, names=pruned)
        return sorted(pruned or []), n_f, n_d

    # LEFT JOIN: fact side prunes, dim side keeps the plain attach
    stmt = (
        "SELECT fct.k, dim.label FROM fct LEFT JOIN dim "
        "ON fct.g = dim.g WHERE fct.k BETWEEN 100 AND 110"
    )
    out = execute_sql(spark, stmt, cdir)
    assert sorted(r["k"] for r in out.collect()) == list(range(100, 111))
    assert all(r["label"] is not None for r in out.collect())
    names, n_f, n_d = probe(stmt)
    assert names == ["fct"] and n_f <= 2, (names, n_f)
    assert n_d == d_files  # the null-extendable dim stays plain
    # RIGHT JOIN: the joined (preserved) side prunes, the prefix not
    stmt = (
        "SELECT fct.k FROM dim RIGHT JOIN fct "
        "ON dim.g = fct.g WHERE fct.k BETWEEN 200 AND 210"
    )
    assert execute_sql(spark, stmt, cdir).count() == 11
    names, n_f, n_d = probe(stmt)
    assert names == ["fct"] and n_f <= 2, (names, n_f)
    # LEFT SEMI: probe side prunes; the UNQUALIFIED shared column k
    # resolves to the probe side (dim's k is invisible in the WHERE)
    stmt = (
        "SELECT k FROM fct LEFT SEMI JOIN dim ON fct.g = dim.g "
        "WHERE k BETWEEN 300 AND 310"
    )
    assert execute_sql(spark, stmt, cdir).count() == 11
    names, n_f, n_d = probe(stmt)
    assert names == ["fct"] and n_f <= 2, (names, n_f)
    # ANTI: probe side prunes (dim holds g 0..9, all match -> 0 rows)
    stmt = (
        "SELECT k FROM fct ANTI JOIN dim ON fct.g = dim.g "
        "WHERE k BETWEEN 300 AND 310"
    )
    assert execute_sql(spark, stmt, cdir).count() == 0
    names, n_f, n_d = probe(stmt)
    assert names == ["fct"] and n_f <= 2, (names, n_f)
    # a conjunct on the NULL-EXTENDED side claims nothing (pruning the
    # dim could convert matched rows into null-extended ones)
    stmt = (
        "SELECT fct.k FROM fct LEFT JOIN dim ON fct.g = dim.g "
        "WHERE dim.k = 300"
    )
    assert execute_sql(spark, stmt, cdir).count() == 400
    names, n_f, n_d = probe(stmt)
    assert names == [] and n_f == n_files, (names, n_f)
    # ... but composes: fact conjunct prunes while dim conjunct rides
    stmt = (
        "SELECT fct.k FROM fct LEFT JOIN dim ON fct.g = dim.g "
        "WHERE fct.k BETWEEN 100 AND 110 AND dim.k = 300"
    )
    assert execute_sql(spark, stmt, cdir).count() == 1  # k=103 (g=3)
    names, n_f, n_d = probe(stmt)
    assert names == ["fct"] and n_f <= 2, (names, n_f)
    # FULL OUTER with a null-rejecting fact filter (Catalyst turns it
    # into a LEFT join), CROSS, NATURAL and USING joins all leave the
    # fact's filter directly over its scan: sound pruning
    stmt = (
        "SELECT fct.k FROM fct FULL OUTER JOIN dim ON fct.g = dim.g "
        "WHERE fct.k BETWEEN 100 AND 110"
    )
    assert execute_sql(spark, stmt, cdir).count() == 11
    _assert_sound_prune(spark, cdir, stmt)
    for stmt in (
        "SELECT fct.k FROM fct CROSS JOIN dim "
        "WHERE fct.k BETWEEN 100 AND 110",
        "SELECT k FROM fct NATURAL JOIN dim "
        "WHERE k BETWEEN 100 AND 110",
        "SELECT fct.k FROM fct JOIN dim USING (g) "
        "WHERE fct.k BETWEEN 100 AND 110",
    ):
        assert execute_sql(spark, stmt, cdir).count() in (0, 11, 110)
        _assert_sound_prune(spark, cdir, stmt)
    # a FULL join's filter that does not reject NULLs stays above the
    # join: both scans are unfiltered and keep the plain attach
    stmt = (
        "SELECT fct.k FROM fct FULL OUTER JOIN dim ON fct.g = dim.g "
        "WHERE fct.k IS NULL OR fct.k BETWEEN 100 AND 110"
    )
    assert execute_sql(spark, stmt, cdir).count() == 11
    names, n_f, n_d = probe(stmt)
    assert names == [] and n_f == n_files, (names, n_f)


def test_pruned_attach_or_disjunction_claims(spark, cdir):
    """Disjunction claims (round 12 — VERDICT r11 'What's missing
    #2'): a same-column OR normalizes to the existing IN-list claim
    (`WHERE k = 5 OR k = 3999` opens the two files those keys live
    in), a same-column range union claims its envelope, and a
    MIXED-COLUMN OR must claim nothing (pruning by either column
    alone would drop the other disjunct's rows)."""
    execute_sql_script(
        spark,
        """
        CREATE TABLE od (k BIGINT, s STRING, v DOUBLE)
          CLUSTERED BY (k) STATS BY (k, s);
        INSERT INTO od SELECT id, LPAD(CAST(id AS STRING), 6, '0'),
          CAST(id AS DOUBLE) FROM RANGE(4000);
        """,
        cdir,
    )
    root = cat.catalog_entries(cdir)["od"]["root"]
    n_files = len(
        sn._read_manifest(root, sn.current_version(root))["files"]
    )
    assert n_files >= 8
    from data_engineering_challenge_spark.sql_exec import (
        _attach, _pruned_attach,
    )

    def probe(stmt):
        entries = _attach(spark, cdir, stmt)
        pruned = _pruned_attach(spark, cdir, stmt, entries)
        n = len(spark.table("od").inputFiles())
        if pruned:
            cat.attach_catalog(spark, cdir, names=pruned)
        return n, pruned

    # top-level OR of equalities -> IN-list claim
    stmt = "SELECT COUNT(*) AS n FROM od WHERE k = 5 OR k = 3999"
    assert execute_sql(spark, stmt, cdir).first()["n"] == 2
    n, pruned = probe(stmt)
    assert pruned and n <= 4, (pruned, n)
    # parenthesized disjunction AND a residual conjunct composes
    stmt = (
        "SELECT COUNT(*) AS n FROM od "
        "WHERE (k = 5 OR k IN (6, 7)) AND v >= 0"
    )
    assert execute_sql(spark, stmt, cdir).first()["n"] == 3
    n, pruned = probe(stmt)
    assert pruned and n <= 2, (pruned, n)
    # range union -> envelope (one file band around each range merged)
    stmt = (
        "SELECT COUNT(*) AS n FROM od "
        "WHERE k BETWEEN 100 AND 110 OR k BETWEEN 180 AND 190"
    )
    assert execute_sql(spark, stmt, cdir).first()["n"] == 22
    n, pruned = probe(stmt)
    assert pruned and n <= 4, (pruned, n)
    # string equalities on the string column claim too
    stmt = (
        "SELECT COUNT(*) AS n FROM od "
        "WHERE s = '000005' OR s = '003999'"
    )
    assert execute_sql(spark, stmt, cdir).first()["n"] == 2
    n, pruned = probe(stmt)
    assert pruned and n <= 4, (pruned, n)
    # a MIXED-COLUMN OR claims nothing (soundness: pruning by k alone
    # would drop the s-disjunct's rows)
    stmt = (
        "SELECT COUNT(*) AS n FROM od WHERE k = 5 OR s = '003999'"
    )
    assert execute_sql(spark, stmt, cdir).first()["n"] == 2
    n, pruned = probe(stmt)
    assert pruned is None and n == n_files, (pruned, n)
    # mixed AND/OR: `k = 5 OR (k = 6 AND v >= 0)` implies k IN (5, 6)
    stmt = (
        "SELECT COUNT(*) AS n FROM od WHERE k = 5 OR k = 6 AND v >= 0"
    )
    assert execute_sql(spark, stmt, cdir).first()["n"] == 2
    _assert_sound_prune(spark, cdir, stmt)
    # one-sided disjuncts leave that envelope side OPEN: the union of
    # (k <= 5) and (k = 505) bounds above at 505 but not below — files
    # wholly above 505 must skip (review, round 12: pin the hi bound
    # with a value BELOW the table max so the claim provably skips)
    stmt = (
        "SELECT COUNT(*) AS n FROM od WHERE k <= 5 OR k = 505"
    )
    assert execute_sql(spark, stmt, cdir).first()["n"] == 7
    n, pruned = probe(stmt)
    assert pruned and n <= 3, (pruned, n)
    # each disjunct may itself be parenthesized (BI spelling)
    stmt = (
        "SELECT COUNT(*) AS n FROM od WHERE (k = 5) OR (k = 3999)"
    )
    assert execute_sql(spark, stmt, cdir).first()["n"] == 2
    n, pruned = probe(stmt)
    assert pruned and n <= 4, (pruned, n)
    # NOT / IS NULL disjuncts claim nothing
    stmt = (
        "SELECT COUNT(*) AS n FROM od WHERE k = 5 OR k IS NULL"
    )
    assert execute_sql(spark, stmt, cdir).first()["n"] == 1
    n, pruned = probe(stmt)
    assert pruned is None and n == n_files, (pruned, n)


def test_metadata_float_agg_nan_refusals(spark, cdir, tmp_path):
    """Float metadata extremes trust the WRITE-TIME NaN counts
    (Iceberg's nan_value_counts): a NaN-free table answers MIN/MAX from
    stats with zero data reads; a NaN-carrying file, or a manifest
    WITHOUT recorded counts (presence unknown is not presence
    disproven), cannot fold its finite stats — parquet excludes NaN
    from min/max — so the fold scans exactly that file and answers
    Spark's NaN-is-greatest MAX, while the strict `snapshot_stats_agg`
    refuses."""
    import json
    import os

    import pytest

    from data_engineering_challenge_spark.sql_exec import (
        _attach, _metadata_answer,
    )

    root = str(tmp_path / "nanful")
    # two files: 0-4, and 5-9 holding the NaN among finite values
    df = spark.sql(
        "SELECT id AS k, CAST(CASE WHEN id = 7 THEN 'NaN' ELSE "
        "CAST(id AS STRING) END AS DOUBLE) AS v FROM RANGE(0, 10, 1, 2)"
    )
    sn.snapshot_overwrite(df, root, stats_cols=["k", "v"])
    cat.catalog_register(cdir, "nanful", root)
    stmt = "SELECT MAX(v) AS hv FROM nanful"
    entries = _attach(spark, cdir, stmt)
    with pytest.raises(ValueError, match="NaN"):
        sn.snapshot_stats_agg(spark, root, ["v"])
    # the recorded count marks the NaN: the fold scans that file and
    # answers Spark's NaN-is-greatest MAX
    got = _metadata_answer(spark, cdir, stmt, entries)
    assert got is not None
    hv = got.first()["hv"]
    assert hv != hv  # NaN
    cat.attach_catalog(spark, cdir)
    exp = spark.sql(stmt).first()["hv"]
    assert exp != exp
    # ... reading only the NaN-carrying file: every other file renamed
    # away, the answer is unchanged
    m = sn._read_manifest(root, sn.current_version(root))
    hidden = [
        os.path.join(root, f) for f in m["files"]
        if (m["stats"].get(f) or {}).get("v", [])[2:] == [0]
    ]
    assert hidden and len(hidden) < len(m["files"])
    try:
        for p in hidden:
            os.rename(p, p + ".hidden")
        got = _metadata_answer(spark, cdir, stmt, entries)
        assert got is not None
        hv = got.first()["hv"]
        assert hv != hv
    finally:
        for p in hidden:
            if os.path.exists(p + ".hidden"):
                os.rename(p + ".hidden", p)
    # MAX over the NaN-free column still answers from stats
    got = _metadata_answer(spark, cdir, "SELECT MAX(k) AS hk FROM nanful",
                        entries)
    assert got is not None and got.first()["hk"] == 9

    # a NaN-FREE float table answers ...
    root2 = str(tmp_path / "clean")
    sn.snapshot_overwrite(
        spark.sql("SELECT id AS k, CAST(id AS DOUBLE) / 4 AS v "
                  "FROM RANGE(10)"),
        root2, stats_cols=["v"],
    )
    cat.catalog_register(cdir, "cleanf", root2)
    stmt2 = "SELECT MIN(v) AS lv, MAX(v) AS hv FROM cleanf"
    entries2 = _attach(spark, cdir, stmt2)
    got2 = _metadata_answer(spark, cdir, stmt2, entries2)
    assert got2 is not None
    assert tuple(got2.first()) == (0.0, 2.25)
    # ... until its NaN counts are STRIPPED (a manifest without them):
    # presence unknown cannot fold the stats, so the fold scans and
    # returns Spark's rows
    mdir = sn._manifest_dir(root2)
    v = sn.current_version(root2)
    payload = json.load(open(sn._manifest_path(root2, v)))
    for name in payload["entries"]:
        epath = os.path.join(mdir, name)
        e = json.load(open(epath))
        for f, st in (e.get("stats") or {}).items():
            e["stats"][f] = {c: s[:2] for c, s in st.items()}
        json.dump(e, open(epath, "w"))
    sn._JSON_CACHE.clear()
    sn._RESOLVED_CACHE.clear()
    got2 = _metadata_answer(spark, cdir, stmt2, entries2)
    assert got2 is not None
    assert got2.collect() == spark.sql(stmt2).collect()
    with pytest.raises(ValueError, match="NaN count"):
        sn.snapshot_stats_agg(spark, root2, ["v"])


def test_metadata_range_count_interior_fold(spark, cdir):
    """Hybrid metadata COUNT under RANGE predicates (round 12 —
    VERDICT r11 'Next round #4'): interior files fold from recorded
    row/null counts and are NEVER OPENED (pinned by renaming them
    away), excluded files fold as zero, only window-edge files are
    scanned; NULL rows in the claimed column subtract exactly; MoR
    deletes and float claims fall back to the real (file-pruned)
    execution."""
    import os

    from data_engineering_challenge_spark.sql_exec import (
        _attach, _metadata_answer,
    )

    execute_sql_script(
        spark,
        """
        CREATE TABLE rct (k BIGINT, ts TIMESTAMP, v DOUBLE)
          CLUSTERED BY (k) STATS BY (k, ts);
        INSERT INTO rct SELECT id,
          TIMESTAMP'2024-01-01 00:00:00'
            + MAKE_INTERVAL(0, 0, 0, 0, 0, CAST(id AS INT), 0),
          CAST(id AS DOUBLE) FROM RANGE(4000);
        """,
        cdir,
    )
    root = cat.catalog_entries(cdir)["rct"]["root"]
    m = sn._read_manifest(root, sn.current_version(root))
    assert len(m["files"]) >= 8
    assert m.get("nulls")  # null counts recorded at the chokepoint
    stmt = "SELECT COUNT(*) AS n FROM rct WHERE k >= 1000"
    assert execute_sql(spark, stmt, cdir).first()["n"] == 3000
    # boundary = the files whose [min, max] straddle 1000; every
    # OTHER file (interior above, excluded below) must stay CLOSED
    # (a stat-less or empty file — e.g. the CREATE TABLE bootstrap —
    # counts as boundary: it stays on disk)
    boundary = {
        f
        for f in m["files"]
        if not (m["stats"].get(f) or {}).get("k")
        or m["stats"][f]["k"][0] < 1000 <= m["stats"][f]["k"][1]
    }
    assert 1 <= len(boundary) <= 3
    entries = _attach(spark, cdir, stmt)
    hidden = [
        os.path.join(root, f) for f in m["files"] if f not in boundary
    ]
    try:
        for p in hidden:
            os.rename(p, p + ".hidden")
        got = _metadata_answer(spark, cdir, stmt, entries)
        assert got is not None and got.first()["n"] == 3000
        # a timestamp window spanning whole files folds the same way
        stmt2 = (
            "SELECT COUNT(*) AS n FROM rct "
            "WHERE ts >= '2024-01-01 16:40:00'"  # minute 1000
        )
        got2 = _metadata_answer(spark, cdir, stmt2, entries)
        assert got2 is not None and got2.first()["n"] == 3000
        # MIN/MAX under the window: extremes fold from interior
        # agg-column stats (those files are STILL renamed away); only
        # the boundary file's scan contributes the window edge
        gotx = _metadata_answer(
            spark, cdir,
            "SELECT MIN(k) AS lo, MAX(k) AS hi, COUNT(*) AS n "
            "FROM rct WHERE k >= 1000",
            entries,
        )
        assert gotx is not None
        assert tuple(gotx.first()) == (1000, 3999, 3000)
        # a float claim refuses (NaN breaks interval reasoning)
        assert _metadata_answer(
            spark, cdir, "SELECT COUNT(*) AS n FROM rct WHERE v >= 0",
            entries,
        ) is None
        # a residual conjunct refuses
        assert _metadata_answer(
            spark, cdir,
            "SELECT COUNT(*) AS n FROM rct WHERE k >= 0 AND v + 1 > 0",
            entries,
        ) is None
    finally:
        for p in hidden:
            if os.path.exists(p + ".hidden"):
                os.rename(p + ".hidden", p)
    # NULL rows in the claimed column subtract exactly from the fold
    execute_sql_script(
        spark,
        """
        CREATE TABLE rcn (k BIGINT, v BIGINT) CLUSTERED BY (v)
          STATS BY (k, v);
        INSERT INTO rcn SELECT CASE WHEN id % 10 = 0 THEN NULL
          ELSE id END, id FROM RANGE(1000);
        """,
        cdir,
    )
    stmt3 = "SELECT COUNT(*) AS n FROM rcn WHERE k >= 0"
    assert execute_sql(spark, stmt3, cdir).first()["n"] == 900
    entries3 = _attach(spark, cdir, stmt3)
    root3 = cat.catalog_entries(cdir)["rcn"]["root"]
    m3 = sn._read_manifest(root3, sn.current_version(root3))
    paths3 = [os.path.join(root3, f) for f in m3["files"]]
    try:
        for p in paths3:
            os.rename(p, p + ".hidden")
        got3 = _metadata_answer(spark, cdir, stmt3, entries3)
        assert got3 is not None and got3.first()["n"] == 900
    finally:
        for p in paths3:
            if os.path.exists(p + ".hidden"):
                os.rename(p + ".hidden", p)
    # MoR deletes refuse — the real execution sees the drop
    execute_sql(spark, "DELETE FROM rcn WHERE v = 5", cdir)
    entries4 = _attach(spark, cdir, stmt3)
    assert _metadata_answer(spark, cdir, stmt3, entries4) is None
    assert execute_sql(spark, stmt3, cdir).first()["n"] == 899


def test_metadata_partition_group_by(spark, cdir):
    """Partition-grain GROUP BY answers from recorded per-file
    partition values and row counts with ZERO data reads (round 12 —
    pinned by renaming every data file away); schema-identical to
    real execution; alias/ordinal group spellings accepted; WHERE,
    non-transform groupings, and MoR deletes fall back."""
    import os

    from data_engineering_challenge_spark.sql_exec import (
        _attach, _metadata_answer,
    )

    execute_sql_script(
        spark,
        """
        CREATE TABLE pgb (ts TIMESTAMP, v DOUBLE)
          PARTITIONED BY (DAY(ts) AS d);
        INSERT INTO pgb SELECT TIMESTAMP'2024-01-01 00:00:00'
          + MAKE_INTERVAL(0, 0, 0, CAST(id % 7 AS INT), 0, 0, 0),
          CAST(id AS DOUBLE) FROM RANGE(700);
        """,
        cdir,
    )
    stmt = "SELECT DAY(ts) AS d, COUNT(*) AS n FROM pgb GROUP BY DAY(ts)"
    out = execute_sql(spark, stmt, cdir)
    ref = spark.sql(stmt.replace("FROM pgb", "FROM (SELECT * FROM pgb)"))
    shape = [
        (f.name, f.dataType, f.nullable) for f in out.schema.fields
    ]
    assert shape == [
        (f.name, f.dataType, f.nullable) for f in ref.schema.fields
    ]
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, ref.collect())
    ) == [(i, 100) for i in range(1, 8)]
    # zero-read pin: files renamed away, the white-box path answers
    entries = _attach(spark, cdir, stmt)
    root = cat.catalog_entries(cdir)["pgb"]["root"]
    m = sn._read_manifest(root, sn.current_version(root))
    paths = [os.path.join(root, f) for f in m["files"]]
    try:
        for p in paths:
            os.rename(p, p + ".hidden")
        got = _metadata_answer(spark, cdir, stmt, entries)
        assert got is not None
        assert sorted(map(tuple, got.collect())) == [
            (i, 100) for i in range(1, 8)
        ]
        # unaliased spelling matches Spark's generated names
        g2 = _metadata_answer(
            spark, cdir,
            "SELECT DAY(ts), COUNT(*) FROM pgb GROUP BY DAY(ts)",
            entries,
        )
        assert [f.name for f in g2.schema.fields] == [
            "day(ts)", "count(1)",
        ]
        # ordinal and alias groupings accepted
        for by in ("1", "d"):
            assert _metadata_answer(
                spark, cdir,
                f"SELECT DAY(ts) AS d, COUNT(*) AS n FROM pgb "
                f"GROUP BY {by}",
                entries,
            ) is not None
        # a WHERE / a non-transform grouping refuse
        assert _metadata_answer(
            spark, cdir,
            "SELECT DAY(ts) AS d, COUNT(*) AS n FROM pgb "
            "WHERE v > 0 GROUP BY DAY(ts)", entries,
        ) is None
        assert _metadata_answer(
            spark, cdir,
            "SELECT MONTH(ts) AS mo, COUNT(*) AS n FROM pgb "
            "GROUP BY MONTH(ts)", entries,
        ) is None
    finally:
        for p in paths:
            if os.path.exists(p + ".hidden"):
                os.rename(p + ".hidden", p)
    # MoR deletes refuse — real execution sees the drop
    execute_sql(spark, "DELETE FROM pgb WHERE v = 0", cdir)
    entries2 = _attach(spark, cdir, stmt)
    assert _metadata_answer(spark, cdir, stmt, entries2) is None
    out2 = execute_sql(spark, stmt, cdir)
    assert sorted(map(tuple, out2.collect()))[0] == (1, 99)


def test_metadata_partition_in_and_or_counts(spark, cdir):
    """Partition COUNT under IN lists and same-transform ORs (round
    12): `day(ts) IN (1, 3)` / `day(ts) = 1 OR day(ts) = 3` fold the
    matching partitions' recorded row counts, zero data reads (files
    renamed away); a mixed-transform OR, a non-literal value, and a
    residual disjunct all refuse."""
    import os

    from data_engineering_challenge_spark.sql_exec import (
        _attach, _metadata_answer,
    )

    execute_sql_script(
        spark,
        """
        CREATE TABLE pio (ts TIMESTAMP, v DOUBLE)
          PARTITIONED BY (DAY(ts) AS d);
        INSERT INTO pio SELECT TIMESTAMP'2024-01-01 00:00:00'
          + MAKE_INTERVAL(0, 0, 0, CAST(id % 9 AS INT), 0, 0, 0),
          CAST(id AS DOUBLE) FROM RANGE(900);
        """,
        cdir,
    )
    stmt_in = "SELECT COUNT(*) AS n FROM pio WHERE DAY(ts) IN (1, 3)"
    stmt_or = (
        "SELECT COUNT(*) AS n FROM pio "
        "WHERE DAY(ts) = 1 OR DAY(ts) = 3"
    )
    assert execute_sql(spark, stmt_in, cdir).first()["n"] == 200
    assert execute_sql(spark, stmt_or, cdir).first()["n"] == 200
    entries = _attach(spark, cdir, stmt_in)
    root = cat.catalog_entries(cdir)["pio"]["root"]
    m = sn._read_manifest(root, sn.current_version(root))
    paths = [os.path.join(root, f) for f in m["files"]]
    try:
        for p in paths:
            os.rename(p, p + ".hidden")
        for stmt in (stmt_in, stmt_or):
            got = _metadata_answer(spark, cdir, stmt, entries)
            assert got is not None and got.first()["n"] == 200
        # refusals: mixed transforms / non-literals / residual OR
        for stmt in (
            "SELECT COUNT(*) AS n FROM pio "
            "WHERE DAY(ts) = 1 OR MONTH(ts) = 1",
            "SELECT COUNT(*) AS n FROM pio WHERE DAY(ts) IN (1, v)",
            "SELECT COUNT(*) AS n FROM pio WHERE DAY(ts) = 1 OR v = 3",
        ):
            assert _metadata_answer(spark, cdir, stmt, entries) is None
    finally:
        for p in paths:
            if os.path.exists(p + ".hidden"):
                os.rename(p + ".hidden", p)


def test_metadata_distinct_partition_values(spark, cdir):
    """``SELECT DISTINCT <transform expr> FROM t`` answers from the
    recorded partition values with zero data reads (round 12): every
    row of a partitioned file shares its file's transform value, so
    the distinct recorded values ARE the distinct transform outputs —
    schema-identical to real execution; DISTINCT over a plain column
    refuses, and DISTINCT over a GROUP BY of the transform is the same
    Aggregate and answers."""
    import os

    from data_engineering_challenge_spark.sql_exec import (
        _attach, _metadata_answer,
    )

    execute_sql_script(
        spark,
        """
        CREATE TABLE dpv (ts TIMESTAMP, v DOUBLE)
          PARTITIONED BY (DAY(ts) AS d);
        INSERT INTO dpv SELECT TIMESTAMP'2024-01-01 00:00:00'
          + MAKE_INTERVAL(0, 0, 0, CAST(id % 5 AS INT), 0, 0, 0),
          CAST(id AS DOUBLE) FROM RANGE(500);
        """,
        cdir,
    )
    stmt = "SELECT DISTINCT DAY(ts) AS d FROM dpv"
    out = execute_sql(spark, stmt, cdir)
    ref = spark.sql(stmt.replace("FROM dpv", "FROM (SELECT * FROM dpv)"))
    assert [
        (f.name, f.dataType, f.nullable) for f in out.schema.fields
    ] == [(f.name, f.dataType, f.nullable) for f in ref.schema.fields]
    assert sorted(r["d"] for r in out.collect()) == [1, 2, 3, 4, 5]
    entries = _attach(spark, cdir, stmt)
    root = cat.catalog_entries(cdir)["dpv"]["root"]
    m = sn._read_manifest(root, sn.current_version(root))
    paths = [os.path.join(root, f) for f in m["files"]]
    try:
        for p in paths:
            os.rename(p, p + ".hidden")
        got = _metadata_answer(spark, cdir, stmt, entries)
        assert got is not None
        assert sorted(r["d"] for r in got.collect()) == [1, 2, 3, 4, 5]
        assert _metadata_answer(
            spark, cdir, "SELECT DISTINCT v FROM dpv", entries
        ) is None
        # DISTINCT over a GROUP BY of the transform is the same one
        # Aggregate in the plan: answered, same values
        got = _metadata_answer(
            spark, cdir,
            "SELECT DISTINCT DAY(ts) AS d FROM dpv GROUP BY DAY(ts)",
            entries,
        )
        assert sorted(r["d"] for r in got.collect()) == [1, 2, 3, 4, 5]
    finally:
        for p in paths:
            if os.path.exists(p + ".hidden"):
                os.rename(p + ".hidden", p)


def test_metadata_range_count_composes_partition_eq(spark, cdir):
    """Hidden-partition equalities compose with range bounds in the
    hybrid aggregate (round 12): `WHERE DAY(ts) = 3 AND k >= 0` folds
    matching partitions' interior files (zero reads, files renamed
    away), excludes mismatching ones, and boundary files re-apply
    the semantic transform predicate in the scan."""
    import os

    from data_engineering_challenge_spark.sql_exec import (
        _attach, _metadata_answer,
    )

    execute_sql_script(
        spark,
        """
        CREATE TABLE cpr (k BIGINT, ts TIMESTAMP, v DOUBLE)
          PARTITIONED BY (DAY(ts) AS d) STATS BY (k);
        INSERT INTO cpr SELECT id, TIMESTAMP'2024-01-01 00:00:00'
          + MAKE_INTERVAL(0, 0, 0, CAST(id % 5 AS INT), 0, 0, 0),
          CAST(id AS DOUBLE) FROM RANGE(1000);
        """,
        cdir,
    )
    stmt = (
        "SELECT COUNT(*) AS n, MIN(k) AS lo FROM cpr "
        "WHERE DAY(ts) = 3 AND k BETWEEN 100 AND 900"
    )
    out = execute_sql(spark, stmt, cdir)
    ref = spark.sql(stmt.replace("FROM cpr", "FROM (SELECT * FROM cpr)"))
    assert tuple(out.first()) == tuple(ref.first())
    # interior fold with every file renamed away: d=3 partitions are
    # wholly inside `k >= 0`, nothing opens
    stmt2 = "SELECT COUNT(*) AS n FROM cpr WHERE DAY(ts) = 3 AND k >= 0"
    assert execute_sql(spark, stmt2, cdir).first()["n"] == 200
    entries = _attach(spark, cdir, stmt2)
    root = cat.catalog_entries(cdir)["cpr"]["root"]
    m = sn._read_manifest(root, sn.current_version(root))
    paths = [os.path.join(root, f) for f in m["files"]]
    try:
        for p in paths:
            os.rename(p, p + ".hidden")
        got = _metadata_answer(spark, cdir, stmt2, entries)
        assert got is not None and got.first()["n"] == 200
    finally:
        for p in paths:
            if os.path.exists(p + ".hidden"):
                os.rename(p + ".hidden", p)


def test_pruned_attach_partition_in_and_or(spark, cdir):
    """Hidden-partition IN lists and same-transform ORs prune SELECT
    statements too (round 12 — the COUNT twin lives in
    _metadata_answer): `DAY(ts) IN (1, 3)` opens only the matching
    partitions' files plus unrecorded lineage, the reader re-applies
    isin(), and a mixed-transform OR keeps the plain attach."""
    execute_sql_script(
        spark,
        """
        CREATE TABLE pvo (ts TIMESTAMP, v DOUBLE)
          PARTITIONED BY (DAY(ts) AS d);
        INSERT INTO pvo SELECT TIMESTAMP'2024-01-01 00:00:00'
          + MAKE_INTERVAL(0, 0, 0, CAST(id % 9 AS INT), 0, 0, 0),
          CAST(id AS DOUBLE) FROM RANGE(900);
        """,
        cdir,
    )
    root = cat.catalog_entries(cdir)["pvo"]["root"]
    n_files = len(
        sn._read_manifest(root, sn.current_version(root))["files"]
    )
    assert n_files >= 9
    from data_engineering_challenge_spark.sql_exec import (
        _attach, _pruned_attach,
    )

    def probe(stmt):
        entries = _attach(spark, cdir, stmt)
        pruned = _pruned_attach(spark, cdir, stmt, entries)
        n = len(spark.table("pvo").inputFiles())
        if pruned:
            cat.attach_catalog(spark, cdir, names=pruned)
        return n, pruned

    for stmt in (
        "SELECT v FROM pvo WHERE DAY(ts) IN (1, 3)",
        "SELECT v FROM pvo WHERE DAY(ts) = 1 OR DAY(ts) = 3",
        "SELECT v FROM pvo WHERE (DAY(ts) = 1 OR DAY(ts) = 3) "
        "AND v >= 0",
    ):
        assert execute_sql(spark, stmt, cdir).count() == 200, stmt
        n, pruned = probe(stmt)
        assert pruned and n <= 3, (stmt, n)
    # a mixed-transform OR keeps the plain attach
    stmt = "SELECT v FROM pvo WHERE DAY(ts) = 1 OR MONTH(ts) = 2"
    assert execute_sql(spark, stmt, cdir).count() == 100
    n, pruned = probe(stmt)
    assert pruned is None and n == n_files


def test_metadata_range_sum_fold(spark, cdir):
    """Hybrid metadata SUM/AVG under RANGE predicates (round 13 —
    completes VERDICT r12 'Next round #5'): interior files fold their
    write-time decimal-exact per-file sums and are NEVER OPENED
    (pinned by renaming them away), the one boundary job adds
    decimal-exact SUM/COUNT alongside count and extremes, results are
    schema-identical to execution; predicate-column NULLs demote the
    file to the boundary scan (same answer); an int64-wrapping total
    refuses to the real scan rather than mimic wrap semantics."""
    import os

    from data_engineering_challenge_spark.sql_exec import (
        _attach, _metadata_answer,
    )

    execute_sql_script(
        spark,
        """
        CREATE TABLE rsm (k BIGINT, v BIGINT, x DOUBLE)
          CLUSTERED BY (k) STATS BY (k, v, x);
        INSERT INTO rsm SELECT id, id * 3, CAST(id AS DOUBLE)
          FROM RANGE(4000);
        """,
        cdir,
    )
    root = cat.catalog_entries(cdir)["rsm"]["root"]
    m = sn._read_manifest(root, sn.current_version(root))
    assert m.get("sums")  # per-file sums recorded at the chokepoint
    stmt = (
        "SELECT SUM(v) AS s, AVG(v) AS a, COUNT(*) AS n, MAX(k) AS hi "
        "FROM rsm WHERE k >= 1000"
    )
    got = execute_sql(spark, stmt, cdir)
    exp = spark.sql(stmt)
    assert got.schema == exp.schema
    assert _rows(got) == _rows(exp)
    assert got.first()["s"] == 3 * sum(range(1000, 4000))
    # interior + excluded files stay CLOSED: rename every non-boundary
    # file away and the hybrid still answers exactly
    boundary = {
        f
        for f in m["files"]
        if not (m["stats"].get(f) or {}).get("k")
        or m["stats"][f]["k"][0] < 1000 <= m["stats"][f]["k"][1]
    }
    assert 1 <= len(boundary) <= 3
    entries = _attach(spark, cdir, stmt)
    hidden = [
        os.path.join(root, f) for f in m["files"] if f not in boundary
    ]
    try:
        for p in hidden:
            os.rename(p, p + ".hidden")
        got2 = _metadata_answer(spark, cdir, stmt, entries)
        assert got2 is not None
        r = got2.first()
        assert (r["s"], r["n"], r["hi"]) == (
            3 * sum(range(1000, 4000)), 3000, 3999
        )
        assert r["a"] == (3 * sum(range(1000, 4000))) / 3000
        # a float SUM refuses (order-dependent in Spark itself)
        assert _metadata_answer(
            spark, cdir,
            "SELECT SUM(x) AS s FROM rsm WHERE k >= 1000", entries,
        ) is None
    finally:
        for p in hidden:
            if os.path.exists(p + ".hidden"):
                os.rename(p + ".hidden", p)
    # predicate-column NULLs demote to the boundary scan — a filtered
    # NULL-pred row's value rides inside the recorded sum — and the
    # answer still matches execution
    execute_sql_script(
        spark,
        """
        CREATE TABLE rsn (k BIGINT, v BIGINT) CLUSTERED BY (v)
          STATS BY (k, v);
        INSERT INTO rsn SELECT CASE WHEN id % 10 = 0 THEN NULL
          ELSE id END, id FROM RANGE(1000);
        """,
        cdir,
    )
    stmt3 = "SELECT SUM(v) AS s, COUNT(*) AS n FROM rsn WHERE k >= 0"
    got3 = execute_sql(spark, stmt3, cdir)
    exp3 = spark.sql(stmt3)
    assert got3.schema == exp3.schema
    assert _rows(got3) == _rows(exp3)
    entries3 = _attach(spark, cdir, stmt3)
    got3m = _metadata_answer(spark, cdir, stmt3, entries3)
    assert got3m is not None and _rows(got3m) == _rows(exp3)
    # int64 wrap refusal: the fold computes the exact total, sees it
    # leave long range, and hands the statement back to the scan
    execute_sql_script(
        spark,
        """
        CREATE TABLE rsw (k BIGINT, v BIGINT) STATS BY (k, v);
        INSERT INTO rsw VALUES (1, 6917529027641081856),
          (2, 6917529027641081856);
        """,
        cdir,
    )
    stmtw = "SELECT SUM(v) AS s FROM rsw WHERE k >= 0"
    entriesw = _attach(spark, cdir, stmtw)
    assert _metadata_answer(spark, cdir, stmtw, entriesw) is None


def test_metadata_partition_group_hybrid(spark, cdir):
    """GROUPED metadata hybrid (round 13 — the dashboard query):
    ``SELECT day(ts), COUNT(*), SUM(v) … WHERE <range> GROUP BY
    day(ts)`` folds INTERIOR files into their recorded groups without
    opening them (pinned by renaming them away), scans only the
    window-edge files ONCE grouped, accepts MIN/MAX items through the
    same trust gates, keeps NULL-group and schema parity with real
    execution, and refuses (float claims, MoR deletes) back to the
    scan."""
    import os

    from data_engineering_challenge_spark.sql_exec import (
        _attach, _metadata_answer,
    )

    def _nrows(df):
        # None-safe ordering (the NULL-ts row makes a NULL day group)
        return sorted(
            (tuple(r) for r in df.collect()),
            key=lambda t: tuple((x is not None, x) for x in t),
        )

    execute_sql_script(
        spark,
        """
        CREATE TABLE ghx (k BIGINT, ts TIMESTAMP, v BIGINT, x DOUBLE)
          PARTITIONED BY (DAY(ts) AS d) STATS BY (k, v, x);
        INSERT INTO ghx SELECT id, CASE WHEN id = 999 THEN NULL ELSE
          TIMESTAMP'2024-01-01 00:00:00'
          + MAKE_INTERVAL(0,0,0, CAST(id % 5 AS INT), 0,0,0) END,
          id * 3, CAST(id AS DOUBLE) FROM RANGE(1000);
        """,
        cdir,
    )
    stmts = [
        # window + SUM/AVG/COUNT: the headline shape
        "SELECT DAY(ts) AS g, COUNT(*) AS n, SUM(v) AS s, AVG(v) AS a "
        "FROM ghx WHERE k >= 100 AND k < 800 GROUP BY DAY(ts)",
        # MIN/MAX items, no WHERE (stats fold through the hybrid)
        "SELECT DAY(ts) AS g, MIN(v) AS lo, MAX(v) AS hi FROM ghx "
        "GROUP BY DAY(ts)",
        # transform equality composes (prunes sibling partitions)
        "SELECT DAY(ts) AS g, COUNT(*) AS n, MAX(k) AS hi FROM ghx "
        "WHERE DAY(ts) = 3 GROUP BY DAY(ts)",
        # alias group spelling
        "SELECT DAY(ts) AS g, SUM(v) AS s FROM ghx WHERE k >= 500 "
        "GROUP BY g",
    ]
    for s in stmts:
        got = execute_sql(spark, s, cdir)
        exp = spark.sql(s)
        assert got.schema == exp.schema, s
        assert _nrows(got) == _nrows(exp), s
    # the fast path ANSWERED those (not the scan):
    entries = _attach(spark, cdir, stmts[0])
    assert _metadata_answer(
        spark, cdir, stmts[0], entries
    ) is not None
    # interior files stay CLOSED: rename every file whose k-span lies
    # fully inside [100, 800) (or fully outside) and re-ask
    root = cat.catalog_entries(cdir)["ghx"]["root"]
    m = sn._read_manifest(root, sn.current_version(root))
    exp_rows = _nrows(spark.sql(stmts[0]))
    boundary = {
        f
        for f in m["files"]
        if not (m["stats"].get(f) or {}).get("k")
        or (m["stats"][f]["k"][0] < 100 <= m["stats"][f]["k"][1])
        or (m["stats"][f]["k"][0] < 800 <= m["stats"][f]["k"][1])
    }
    hidden = [
        os.path.join(root, f) for f in m["files"] if f not in boundary
    ]
    assert hidden  # the pin is real
    try:
        for p in hidden:
            os.rename(p, p + ".hidden")
        got = _metadata_answer(spark, cdir, stmts[0], entries)
        assert got is not None and _nrows(got) == exp_rows
    finally:
        for p in hidden:
            if os.path.exists(p + ".hidden"):
                os.rename(p + ".hidden", p)
    # a float-column claim refuses to the scan (same rows)
    s = (
        "SELECT DAY(ts) AS g, COUNT(*) AS n FROM ghx WHERE x >= 0 "
        "GROUP BY DAY(ts)"
    )
    assert _metadata_answer(spark, cdir, s, entries) is None
    assert _nrows(execute_sql(spark, s, cdir)) == _nrows(spark.sql(s))
    # MoR deletes refuse — real execution sees the drop
    execute_sql(spark, "DELETE FROM ghx WHERE k = 7", cdir)
    entries2 = _attach(spark, cdir, stmts[0])
    assert _metadata_answer(
        spark, cdir, stmts[0], entries2
    ) is None
    assert _nrows(execute_sql(spark, stmts[0], cdir)) == _nrows(
        spark.sql(stmts[0])
    )


def test_metadata_temporal_minmax(spark, cdir):
    """Temporal MIN/MAX metadata answers (round 13 — the WATERMARK
    query): ``SELECT MAX(ts) FROM t`` answers from recorded ISO stat
    strings converted to typed values, ZERO data reads (pinned by
    renaming every file away); the range and grouped hybrids fold
    temporal extremes from interior files the same way; a non-UTC
    session refuses TIMESTAMP (recorded stats are UTC instants) but
    keeps DATE; results are schema-identical to execution."""
    import os

    from data_engineering_challenge_spark.sql_exec import (
        _attach, _metadata_answer,
    )

    execute_sql_script(
        spark,
        """
        CREATE TABLE wmk (k BIGINT, ts TIMESTAMP, dd DATE)
          CLUSTERED BY (k) STATS BY (k, ts, dd);
        INSERT INTO wmk SELECT id, TIMESTAMP'2024-01-01 00:00:00'
          + MAKE_INTERVAL(0, 0, 0, 0, 0, CAST(id AS INT), 0),
          DATE'2024-02-01' + CAST(id % 9 AS INT) FROM RANGE(2000);
        """,
        cdir,
    )
    s = "SELECT MAX(ts) AS hi, MIN(ts) AS lo, MAX(dd) AS dhi, " \
        "COUNT(*) AS n FROM wmk"
    got = execute_sql(spark, s, cdir)
    exp = spark.sql(s)
    assert got.schema == exp.schema
    exp_rows = _rows(exp)
    exp_hi = exp.first()["hi"]
    assert _rows(got) == exp_rows
    # ZERO data reads: every file renamed away, the watermark still
    # answers
    root = cat.catalog_entries(cdir)["wmk"]["root"]
    m = sn._read_manifest(root, sn.current_version(root))
    moved = []
    entries = _attach(spark, cdir, s)
    try:
        for f in m["files"]:
            src = os.path.join(root, f)
            os.rename(src, src + ".away")
            moved.append(src)
        got2 = _metadata_answer(spark, cdir, s, entries)
        assert got2 is not None and _rows(got2) == exp_rows
        # the range hybrid folds interior temporal extremes: only the
        # k=1000 boundary file may open, and it is renamed away too —
        # so a fully-interior window must still answer
        s2 = (
            "SELECT MAX(ts) AS hi, COUNT(*) AS n FROM wmk "
            "WHERE k BETWEEN 0 AND 1999"
        )
        got3 = _metadata_answer(spark, cdir, s2, entries)
        assert got3 is not None
        r = got3.first()
        assert r["n"] == 2000 and r["hi"] == exp_hi
    finally:
        for src in moved:
            os.rename(src + ".away", src)
    # a non-UTC session refuses TIMESTAMP items (the scan answers,
    # identically) but DATE still folds
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        entries = _attach(spark, cdir, s)
        assert _metadata_answer(spark, cdir, s, entries) is None
        assert _rows(execute_sql(spark, s, cdir)) == _rows(spark.sql(s))
        sd = "SELECT MAX(dd) AS dhi, COUNT(*) AS n FROM wmk"
        entries = _attach(spark, cdir, sd)
        assert _metadata_answer(spark, cdir, sd, entries) is not None
        assert _rows(execute_sql(spark, sd, cdir)) == _rows(
            spark.sql(sd)
        )
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_topk_attach_pruning(spark, cdir):
    """Stats-guided TOP-K file pruning (round 13): ``ORDER BY col
    [DESC] LIMIT k`` opens only the threshold-crossing files (pinned
    by inputFiles), composes with WHERE claims, handles the temporal
    order column, engages over position deletes, and declines — with
    row-identical answers — on ASC with order-column nulls, equality
    deletes, and residual conjuncts."""
    from data_engineering_challenge_spark.sql_exec import (
        _attach, _topk_attach,
    )

    execute_sql_script(
        spark,
        """
        CREATE TABLE tku (k BIGINT, ts TIMESTAMP, v BIGINT)
          CLUSTERED BY (ts) STATS BY (k, ts, v);
        INSERT INTO tku SELECT id, TIMESTAMP'2024-01-01 00:00:00'
          + MAKE_INTERVAL(0, 0, 0, 0, 0, CAST(id AS INT), 0),
          id * 7 % 1000 FROM RANGE(4000);
        """,
        cdir,
    )
    root = cat.catalog_entries(cdir)["tku"]["root"]
    n_files = len(
        sn._read_manifest(root, sn.current_version(root))["files"]
    )
    assert n_files >= 8

    def probe(stmt):
        entries = _attach(spark, cdir, stmt)
        pr = _topk_attach(spark, cdir, stmt, entries)
        n_open = len(spark.table("tku").inputFiles())
        if pr:
            for nm, prior in pr.items():
                prior.createOrReplaceTempView(nm)
        return pr is not None, n_open

    for stmt in (
        "SELECT k, ts FROM tku ORDER BY ts DESC LIMIT 100",
        "SELECT * FROM tku ORDER BY ts ASC LIMIT 50",
        "SELECT k FROM tku ORDER BY k DESC LIMIT 10",
        "SELECT k, ts FROM tku WHERE k >= 500 AND k < 3500 "
        "ORDER BY ts DESC LIMIT 100",
    ):
        got = sorted(map(tuple, execute_sql(spark, stmt, cdir).collect()))
        exp = sorted(map(tuple, spark.sql(stmt).collect()))
        assert got == exp, stmt
        fast, n_open = probe(stmt)
        assert fast and n_open <= 3, (stmt, n_open)
    # an un-claimable residual conjunct declines (the row-count lower
    # bound breaks) — the general pruner / plain attach answers
    fast, n_open = probe(
        "SELECT k FROM tku WHERE v + 1 > 0 ORDER BY ts DESC LIMIT 10"
    )
    assert not fast
    # ALIAS SHADOWING: Spark resolves the unqualified ORDER BY token
    # against the select-list alias (sorts by k); the plan's sort key
    # traces through that alias to column k, so the threshold is
    # computed on k and the prune is sound
    s = "SELECT k AS v FROM tku ORDER BY v DESC LIMIT 5"
    fast, n_open = probe(s)
    assert fast and n_open <= 3
    assert [tuple(r) for r in execute_sql(spark, s, cdir).collect()] \
        == [tuple(r) for r in spark.sql(s).collect()]
    # ...but a QUALIFIED order ref resolves to the table column in
    # both engines even when an alias shadows the name (verified
    # against Spark) — still prunes
    s = "SELECT k AS ts, ts AS t2 FROM tku ORDER BY tku.ts DESC LIMIT 5"
    fast, n_open = probe(s)
    assert fast and n_open <= 3
    assert sorted(
        map(tuple, execute_sql(spark, s, cdir).collect())
    ) == sorted(map(tuple, spark.sql(s).collect()))
    # ...and a self-alias (SELECT ts AS ts ... ORDER BY ts) is the
    # same column either way — still prunes
    s = "SELECT ts AS ts FROM tku ORDER BY ts DESC LIMIT 5"
    fast, n_open = probe(s)
    assert fast and n_open <= 3
    # ASC with order-column NULLs declines (NULLS FIRST would lead
    # the output from files the threshold logic cannot rank)
    execute_sql_script(
        spark,
        """
        CREATE TABLE tkn (k BIGINT, o BIGINT) CLUSTERED BY (k)
          STATS BY (k, o);
        -- exactly ONE NULL: a LIMIT over tied NULL rows would be
        -- nondeterministic between any two executions
        INSERT INTO tkn SELECT id, CASE WHEN id = 0 THEN NULL
          ELSE id END FROM RANGE(2000);
        """,
        cdir,
    )
    s = "SELECT k FROM tkn ORDER BY o ASC LIMIT 10"
    entries = _attach(spark, cdir, s)
    assert _topk_attach(spark, cdir, s, entries) is None
    assert sorted(
        map(tuple, execute_sql(spark, s, cdir).collect())
    ) == sorted(map(tuple, spark.sql(s).collect()))
    # DESC still prunes there (NULLS LAST is proven unreachable)
    s = "SELECT k FROM tkn ORDER BY o DESC LIMIT 10"
    entries = _attach(spark, cdir, s)
    pr = _topk_attach(spark, cdir, s, entries)
    assert pr is not None
    for nm, prior in pr.items():
        prior.createOrReplaceTempView(nm)
    assert sorted(
        map(tuple, execute_sql(spark, s, cdir).collect())
    ) == sorted(map(tuple, spark.sql(s).collect()))
    # MoR with POSITION deletes ENGAGES (round 14 — VERDICT r13 'Next
    # round #3'): the accumulation target inflates by the delete-list
    # row count (the top-100 live rows sit BELOW 100 deleted rows
    # here, so an un-inflated threshold would lose rows), the pruned
    # view merges the deletes itself, and the file set stays <= the
    # plain MoR scan's
    execute_sql(spark, "DELETE FROM tku WHERE k >= 3900", cdir)
    cat.attach_catalog(spark, cdir, names=["tku"])  # follow the head
    s = "SELECT k, ts FROM tku ORDER BY ts DESC LIMIT 100"
    exp = sorted(map(tuple, spark.sql(s).collect()))
    plain_open = len(spark.table("tku").inputFiles())
    entries = _attach(spark, cdir, s)
    pr = _topk_attach(spark, cdir, s, entries)
    assert pr is not None
    n_open = len(spark.table("tku").inputFiles())
    for nm, prior in pr.items():
        prior.createOrReplaceTempView(nm)
    assert n_open < plain_open, (n_open, plain_open)
    assert sorted(
        map(tuple, execute_sql(spark, s, cdir).collect())
    ) == exp
    # EQUALITY deletes still decline (one key row can kill unboundedly
    # many data rows — no footer count bounds them) with row parity
    import tempfile

    mroot = tempfile.mkdtemp(prefix="topk_eq_") + "/t"
    base = spark.sql(
        "SELECT id AS k, id AS o, 'x' AS s FROM RANGE(3000)"
    )
    sn.snapshot_append_clustered(
        base, mroot, ["o"], n_files=6, stats_cols=["k", "o"]
    )
    batch = spark.sql(
        "SELECT id AS k, id AS o, 'x' AS s, 'D' AS _op "
        "FROM RANGE(2900, 2950)"
    )
    sn.snapshot_mor_merge(spark, mroot, batch, keys=["k"])
    cat.catalog_register(cdir, "tkeq", mroot)
    cat.attach_catalog(spark, cdir, names=["tkeq"])
    s = "SELECT k, o FROM tkeq ORDER BY o DESC LIMIT 10"
    entries = _attach(spark, cdir, s)
    assert _topk_attach(spark, cdir, s, entries) is None
    assert sorted(
        map(tuple, execute_sql(spark, s, cdir).collect())
    ) == sorted(map(tuple, spark.sql(s).collect()))


def test_review_r13_date_literal_and_identifier(spark, cdir):
    """Round-13 review regressions: (1) a DATE typed literal with a
    trailing time component TRUNCATES in Spark (DATE '2024-01-25
    10:00:00' is the 25th at midnight) — the claims machinery must
    not mint a 10:00 bound, so results match real execution; (2)
    IDENTIFIER('t') names a relation through a string, invisible to
    the token-level once-only accounting — statement pruning must
    bail entirely when the token appears."""
    from data_engineering_challenge_spark.sql_exec import (
        _attach, _pruned_attach,
    )

    execute_sql_script(
        spark,
        """
        CREATE TABLE rdl (k BIGINT, ts TIMESTAMP)
          CLUSTERED BY (ts) STATS BY (k, ts);
        INSERT INTO rdl SELECT id, TIMESTAMP'2024-01-24 00:00:00'
          + MAKE_INTERVAL(0, 0, 0, 0, 0, CAST(id AS INT), 0)
          FROM RANGE(4000);
        """,
        cdir,
    )
    # rows span 2024-01-24 00:00 .. 2024-01-26 ~18:40; the literal's
    # 10:00 must NOT become a bound (Spark truncates to midnight)
    s = (
        "SELECT COUNT(*) AS n FROM rdl "
        "WHERE ts >= DATE '2024-01-25 10:00:00'"
    )
    got = execute_sql(spark, s, cdir)
    exp = spark.sql(s)
    assert _rows(got) == _rows(exp)
    # the strict spelling still claims (sanity that the gate is
    # narrow, not a blanket refusal)
    s2 = "SELECT COUNT(*) AS n FROM rdl WHERE ts >= DATE '2024-01-25'"
    assert _rows(execute_sql(spark, s2, cdir)) == _rows(spark.sql(s2))
    # IDENTIFIER('t'): a second reference to a CTE-claimed table that
    # the token scan cannot see — pruning must bail (correct rows)
    execute_sql_script(
        spark,
        """
        CREATE TABLE ridf (k BIGINT, v BIGINT)
          CLUSTERED BY (k) STATS BY (k);
        INSERT INTO ridf SELECT id, id % 7 FROM RANGE(8000);
        """,
        cdir,
    )
    s3 = (
        "WITH j AS (SELECT k FROM ridf WHERE k BETWEEN 100 AND 300) "
        "SELECT (SELECT COUNT(*) FROM j) AS nj, COUNT(*) AS n "
        "FROM IDENTIFIER('ridf')"
    )
    r = execute_sql(spark, s3, cdir).first()
    assert (r["nj"], r["n"]) == (201, 8000)
    entries = _attach(spark, cdir, s3)
    assert _pruned_attach(spark, cdir, s3, entries) is None


def test_metadata_group_tails(spark, cdir):
    """HAVING / ORDER BY / LIMIT tails on the grouped metadata answers:
    they sit above the Aggregate in the optimized plan, so Spark
    evaluates them over the tiny folded rows, never over data;
    ORDER-sensitive parity with real execution (group keys are unique,
    so the order is total); HAVING may reference aggs the select list
    doesn't carry, and any expression over the group key works."""
    from data_engineering_challenge_spark.sql_exec import (
        _attach, _metadata_answer,
    )

    execute_sql_script(
        spark,
        """
        CREATE TABLE gtl (k BIGINT, ts TIMESTAMP, v BIGINT)
          PARTITIONED BY (DAY(ts) AS d) STATS BY (k, v);
        INSERT INTO gtl SELECT id, TIMESTAMP'2024-01-01 00:00:00'
          + MAKE_INTERVAL(0, 0, 0, CAST(id % 7 AS INT), 0, 0, 0),
          id * 3 FROM RANGE(1000);
        """,
        cdir,
    )
    stmts = [
        "SELECT DAY(ts) AS g, COUNT(*) AS n FROM gtl GROUP BY DAY(ts) "
        "ORDER BY g",
        "SELECT DAY(ts) AS g, COUNT(*) AS n FROM gtl GROUP BY DAY(ts) "
        "ORDER BY DAY(ts) DESC LIMIT 3",
        "SELECT DAY(ts) AS g, COUNT(*) AS n, SUM(v) AS s FROM gtl "
        "GROUP BY DAY(ts) HAVING COUNT(*) > 143 ORDER BY g",
        "SELECT DAY(ts) AS g, SUM(v) AS s FROM gtl GROUP BY DAY(ts) "
        "HAVING SUM(v) >= 200000 AND COUNT(*) > 0 ORDER BY s DESC "
        "LIMIT 2",
        "SELECT DAY(ts) AS g, COUNT(*) AS n FROM gtl WHERE k >= 100 "
        "GROUP BY DAY(ts) HAVING COUNT(*) >= 120 ORDER BY 1 LIMIT 4",
        "SELECT DAY(ts) AS g, AVG(v) AS a FROM gtl GROUP BY DAY(ts) "
        "HAVING MAX(v) < 2900 ORDER BY g",
        # any expression above the Aggregate runs in Spark over the
        # folded rows: ordering by a non-key expression, HAVING on the
        # grouping alias
        "SELECT DAY(ts) AS g, COUNT(*) AS n FROM gtl GROUP BY DAY(ts) "
        "ORDER BY g + 1",
        # unaliased: the answer keeps the field metadata Spark's own
        # output carries (__autoGeneratedAlias)
        "SELECT COUNT(*), MAX(v) FROM gtl WHERE DAY(ts) = 3",
    ]
    for s in stmts:
        got = execute_sql(spark, s, cdir)
        exp = spark.sql(s)
        assert got.schema == exp.schema, s
        # ORDER-SENSITIVE compare: the fast path must emit Spark's order
        assert [tuple(r) for r in got.collect()] == [
            tuple(r) for r in exp.collect()
        ], s
        entries = _attach(spark, cdir, s)
        assert _metadata_answer(
            spark, cdir, s, entries
        ) is not None, s
        # the folded rows sit in one partition: a global ORDER BY over
        # them needs no range-partitioning shuffle
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, (s, plan)
    # HAVING on the grouping alias: the optimizer pushes `day(ts) > 2`
    # below the Aggregate, a range on a transform no fold claims — the
    # scan answers, with Spark's own schema and rows
    s = (
        "SELECT DAY(ts) AS g, COUNT(*) AS n FROM gtl GROUP BY DAY(ts) "
        "HAVING g > 2"
    )
    got, exp = execute_sql(spark, s, cdir), spark.sql(s)
    assert got.schema == exp.schema and _rows(got) == _rows(exp)


def test_metadata_distinct_family(spark, cdir):
    """COUNT(DISTINCT <transform>) and ORDER BY/LIMIT on DISTINCT
    values (round 13): both answer from recorded partition values —
    COUNT DISTINCT excludes the NULL group exactly as Spark, composes
    with WHERE through the grouped hybrid, and is schema-identical
    including Spark's auto-generated-alias metadata; DISTINCT tails
    are order-sensitive (values unique); an ORDER BY the raw
    expression after DISTINCT is REJECTED by Spark (it resolves
    against the output list) and must not be fast-answered."""
    from data_engineering_challenge_spark.sql_exec import (
        _attach, _metadata_answer,
    )

    execute_sql_script(
        spark,
        """
        CREATE TABLE gdf (k BIGINT, ts TIMESTAMP)
          PARTITIONED BY (DAY(ts) AS d) STATS BY (k);
        INSERT INTO gdf SELECT id, CASE WHEN id = 0 THEN NULL ELSE
          TIMESTAMP'2024-01-01 00:00:00'
          + MAKE_INTERVAL(0, 0, 0, CAST(id % 7 AS INT), 0, 0, 0) END
          FROM RANGE(1000);
        """,
        cdir,
    )
    for s, ordered in (
        ("SELECT COUNT(DISTINCT DAY(ts)) FROM gdf", False),
        ("SELECT COUNT(DISTINCT DAY(ts)) AS nd FROM gdf", False),
        (
            "SELECT COUNT(DISTINCT DAY(ts)) AS nd FROM gdf "
            "WHERE k >= 500",
            False,
        ),
        (
            "SELECT DISTINCT DAY(ts) AS g FROM gdf ORDER BY g DESC "
            "LIMIT 3",
            True,
        ),
        ("SELECT DISTINCT DAY(ts) AS g FROM gdf ORDER BY 1", True),
    ):
        got = execute_sql(spark, s, cdir)
        exp = spark.sql(s)
        assert got.schema == exp.schema, s
        gr = [tuple(r) for r in got.collect()]
        er = [tuple(r) for r in exp.collect()]
        if ordered:
            assert gr == er, s
        else:
            assert sorted(gr) == sorted(er), s
        entries = _attach(spark, cdir, s)
        assert _metadata_answer(
            spark, cdir, s, entries
        ) is not None, s
    # Spark REJECTS ORDER BY the raw expression after DISTINCT — the
    # fast path must not answer what execution rejects
    s = "SELECT DISTINCT DAY(ts) AS g FROM gdf ORDER BY DAY(ts)"
    entries = _attach(spark, cdir, s)
    assert _metadata_answer(spark, cdir, s, entries) is None
    with pytest.raises(Exception):
        execute_sql(spark, s, cdir).collect()


def test_review_r13_group_tail_semantics(spark, cdir):
    """Round-13 review regressions on the grouped tails: an OR inside
    HAVING falls back (no crash); NaN float aggs follow Spark's
    NaN-is-greatest ordering in HAVING and agg-ORDER; a bigint agg
    compared to a float literal casts to double first; duplicate
    select aliases and case-sensitive alias misses refuse exactly
    where Spark rejects; a temporal agg referenced only in ORDER BY
    still folds interior files."""
    from data_engineering_challenge_spark.sql_exec import (
        _attach, _metadata_answer,
    )

    def _nankey(rows):
        return sorted(
            tuple(
                "NaN" if isinstance(x, float) and x != x else x
                for x in r
            )
            for r in rows
        )

    execute_sql_script(
        spark,
        """
        CREATE TABLE rvt (k BIGINT, ts TIMESTAMP, v BIGINT, x DOUBLE)
          PARTITIONED BY (DAY(ts) AS d) STATS BY (k, v, x);
        INSERT INTO rvt SELECT id, TIMESTAMP'2024-01-01 00:00:00'
          + MAKE_INTERVAL(0, 0, 0, CAST(id % 5 AS INT), 0, 0, 0),
          id * 3, CASE WHEN id = 77 THEN CAST('NaN' AS DOUBLE)
          ELSE CAST(id AS DOUBLE) END FROM RANGE(500);
        """,
        cdir,
    )
    # OR in HAVING: Spark evaluates it over the folded groups
    s = (
        "SELECT DAY(ts) AS g, COUNT(*) AS n FROM rvt GROUP BY DAY(ts) "
        "HAVING COUNT(*) > 5 OR COUNT(*) = 1"
    )
    got, exp = execute_sql(spark, s, cdir), spark.sql(s)
    assert got.schema == exp.schema
    assert _nankey(got.collect()) == _nankey(exp.collect())
    entries = _attach(spark, cdir, s)
    assert _metadata_answer(spark, cdir, s, entries) is not None
    # NaN group survives HAVING > and sorts GREATEST, fast-answered
    for s, ordered in (
        (
            "SELECT DAY(ts) AS g, MAX(x) AS mx FROM rvt "
            "GROUP BY DAY(ts) HAVING MAX(x) > 400",
            False,
        ),
        (
            "SELECT DAY(ts) AS g, MAX(x) AS mx FROM rvt "
            "GROUP BY DAY(ts) ORDER BY MAX(x) DESC LIMIT 2",
            True,
        ),
        (
            "SELECT DAY(ts) AS g, COUNT(*) AS n FROM rvt "
            "GROUP BY DAY(ts) ORDER BY MAX(ts) DESC LIMIT 3",
            True,
        ),
    ):
        got = execute_sql(spark, s, cdir)
        exp = spark.sql(s)
        assert got.schema == exp.schema, s
        if ordered:
            assert [
                tuple(
                    "NaN" if isinstance(x, float) and x != x else x
                    for x in r
                )
                for r in got.collect()
            ] == [
                tuple(
                    "NaN" if isinstance(x, float) and x != x else x
                    for x in r
                )
                for r in exp.collect()
            ], s
        else:
            assert _nankey(got.collect()) == _nankey(exp.collect()), s
        entries = _attach(spark, cdir, s)
        assert _metadata_answer(
            spark, cdir, s, entries
        ) is not None, s
    # duplicate alias: refuse where Spark raises AMBIGUOUS_REFERENCE
    s = (
        "SELECT DAY(ts) AS z, COUNT(*) AS z FROM rvt "
        "GROUP BY DAY(ts) ORDER BY z"
    )
    entries = _attach(spark, cdir, s)
    assert _metadata_answer(spark, cdir, s, entries) is None
    with pytest.raises(Exception):
        execute_sql(spark, s, cdir).collect()
    # caseSensitive alias miss refuses
    spark.conf.set("spark.sql.caseSensitive", "true")
    try:
        s = (
            "SELECT DAY(ts) AS g, COUNT(*) AS n FROM rvt "
            "GROUP BY DAY(ts) ORDER BY G"
        )
        entries = _attach(spark, cdir, s)
        assert _metadata_answer(
            spark, cdir, s, entries
        ) is None
    finally:
        spark.conf.set("spark.sql.caseSensitive", "false")


def test_one_row_limit_tolerance(spark, cdir):
    """A trailing ``LIMIT n`` with n >= 1 is a no-op on the one-row
    metadata aggregate shapes (round 13 — BI tools append it
    defensively): COUNT/MIN/MAX/SUM/AVG statements keep their
    metadata fast paths; ``LIMIT 0`` stays with the scan (empty
    result); the multi-row grouped shape keeps its own LIMIT
    semantics."""
    from data_engineering_challenge_spark.sql_exec import (
        _attach, _metadata_answer,
    )

    execute_sql_script(
        spark,
        """
        CREATE TABLE lim (k BIGINT, ts TIMESTAMP, v BIGINT)
          PARTITIONED BY (DAY(ts) AS d) CLUSTERED BY (k)
          STATS BY (k, v);
        INSERT INTO lim SELECT id, TIMESTAMP'2024-01-01 00:00:00'
          + MAKE_INTERVAL(0, 0, 0, CAST(id % 5 AS INT), 0, 0, 0),
          id * 3 FROM RANGE(1000);
        """,
        cdir,
    )
    for s in (
        "SELECT COUNT(*) AS n FROM lim LIMIT 1",
        "SELECT SUM(v) AS s, AVG(v) AS a FROM lim LIMIT 1;",
        "SELECT COUNT(*) AS n, MAX(k) AS hi FROM lim "
        "WHERE k >= 100 LIMIT 5",
    ):
        got = execute_sql(spark, s, cdir)
        exp = spark.sql(s.rstrip(";"))
        assert got.schema == exp.schema, s
        assert _rows(got) == _rows(exp), s
        entries = _attach(spark, cdir, s)
        assert _metadata_answer(spark, cdir, s, entries) is not None, s
    # LIMIT 0: empty result, no fast answer
    s = "SELECT COUNT(*) AS n FROM lim LIMIT 0"
    entries = _attach(spark, cdir, s)
    assert _metadata_answer(spark, cdir, s, entries) is None
    assert execute_sql(spark, s, cdir).collect() == []
    # the grouped shape keeps its own LIMIT (not stripped)
    s = (
        "SELECT DAY(ts) AS g, COUNT(*) AS n FROM lim "
        "GROUP BY DAY(ts) LIMIT 2"
    )
    assert execute_sql(spark, s, cdir).count() == 2


def test_select_pruning_decision_record(spark, cdir, caplog):
    """Each SELECT the plan walk reads emits ONE structured DEBUG record:
    per catalog table the files total and kept, or why it kept the
    plain attach.  The record comes from what the walk already holds —
    the job count per statement is the same at DEBUG and WARNING."""
    import logging

    from data_engineering_challenge_spark.sql_exec import (
        _attach, _pruned_attach,
    )

    execute_sql_script(
        spark,
        """
        CREATE TABLE dr (k BIGINT, v BIGINT) CLUSTERED BY (k) STATS BY (k);
        INSERT INTO dr SELECT id, id % 7 FROM RANGE(4000);
        CREATE TABLE dd (v BIGINT, s STRING);
        INSERT INTO dd SELECT id, CONCAT('s', id) FROM RANGE(7);
        """,
        cdir,
    )

    def n_files(table):
        r = cat.catalog_entries(cdir)[table]["root"]
        return len(sn._read_manifest(r, sn.current_version(r))["files"])

    root = cat.catalog_entries(cdir)["dr"]["root"]
    total = n_files("dr")
    name = "data_engineering_challenge_spark.sql_exec"

    def records(stmt):
        caplog.clear()
        _rows(execute_sql(spark, stmt, cdir))
        return [
            r.pruning for r in caplog.records
            if r.name == name and hasattr(r, "pruning")
        ]

    caplog.set_level(logging.DEBUG, logger=name)
    # kept files per pruned table; a conjunct with no claim refuses
    stmt = (
        "SELECT dr.k, dd.s FROM dr JOIN dd ON dr.v = dd.v "
        "WHERE dr.k BETWEEN 100 AND 200 AND dd.s LIKE '%3'"
    )
    (rec,) = records(stmt)
    assert rec["dr"]["files"] == total and 1 <= rec["dr"]["kept"] < total
    assert rec["dd"] == {
        "files": n_files("dd"), "refused": "no claimable conjunct",
    }
    # a scan with no filter above it refuses its table
    (rec,) = records(
        "SELECT k FROM dr WHERE k < 10 UNION ALL SELECT v FROM dd"
    )
    assert rec["dd"]["refused"] == "unfiltered scan" and "kept" in rec["dr"]
    # a relation under the table's root reading files the pinned
    # manifest does not list (an older version) refuses the table
    sn.attach_snapshot_view(spark, "dr_first", root, version=1)
    execute_sql(spark, "INSERT OVERWRITE TABLE dr SELECT * FROM dr", cdir)
    s = (
        "SELECT k FROM dr_first WHERE k < 10 "
        "UNION ALL SELECT k FROM dr WHERE k > 3990"
    )
    caplog.clear()
    pruned = _pruned_attach(spark, cdir, s, _attach(spark, cdir, s))
    assert pruned is None
    (rec,) = [r.pruning for r in caplog.records if hasattr(r, "pruning")]
    assert rec["dr"]["refused"] == "unmapped relation"
    # the metadata answer and top-k pruning say what they did, in the
    # same one record
    (rec,) = records("SELECT COUNT(*) AS n FROM dr")
    assert rec == {"metadata": "answered"}
    (rec,) = records("SELECT k FROM dr ORDER BY k DESC LIMIT 3")
    assert rec == {"metadata": "not an aggregate", "topk": "engaged"}
    (rec,) = records("SELECT COUNT(*) AS n FROM dr WHERE k % 2 = 0")
    assert rec["metadata"] == "residual conjunct"
    assert rec["topk"] == "not ORDER BY ... LIMIT"
    assert rec["dr"]["refused"] == "no claimable conjunct"
    execute_sql(spark, "DELETE FROM dd WHERE v = 3", cdir)
    (rec,) = records("SELECT COUNT(*) AS n FROM dd")
    assert rec["metadata"] == "MoR deletes"

    # the record adds no Spark job
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs(group, level):
        caplog.set_level(level, logger=name)
        sc.setJobGroup(group, group)
        try:
            _rows(execute_sql(spark, stmt, cdir))
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description"):
                sc.setLocalProperty(key, None)
        return len(tracker.getJobIdsForGroup(group))

    jobs("prune-record-warmup", logging.WARNING)
    assert jobs("prune-record-warning", logging.WARNING) == jobs(
        "prune-record-debug", logging.DEBUG
    )
