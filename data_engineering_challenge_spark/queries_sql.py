"""SQL-string entry point surface (round 6): registry queries AUTHORED as
multi-CTE ``spark.sql`` statements over registered temp views — the
engine's third user-facing API after the DataFrame chain and the pandas
API (`pandas_api_type_stats` certifies that one), here certified the same
way: every SQL-authored query is oracle-paired, and the flagship is
additionally asserted plan-comparable to its DataFrame twin
(tests/test_plans.py).

Spark SQL text and DuckDB oracle text are SEPARATE strings — each engine
gets its own dialect (DATEDIFF argument order, VARCHAR vs STRING, the
decimal→double conversion path), while column names and values must match
exactly.  Temp views are (re)registered per call under a ``sqlq_`` prefix
so they never collide with anything else in the session, and the events
view goes through `roles.load_events` so the timestamp normalization the
whole registry relies on applies to the SQL surface too.

Float conventions follow queries.py: sums ride DECIMAL(28,10) and convert
to double only at the edge (Spark: direct cast — BigDecimal→double is
correctly rounded; DuckDB: through VARCHAR, see `_dsum_sql`)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from . import roles
from .queries import _SQL_REPORT, _dsum_sql, register


def _dsum_spark(col: str) -> str:
    """Spark-SQL twin of :func:`..queries._dsum_sql` — the exact
    order-independent decimal sum this family of engine queries emits
    (one definition so the numeric contract cannot diverge across the
    lookup/join-pruning queries)."""
    return f"CAST(SUM(CAST({col} AS DECIMAL(28,10))) AS DOUBLE)"


def _register_views(spark: SparkSession, sf_dir: str, names: list[str]) -> None:
    """(Re)register ``sqlq_<name>`` temp views for the given testdata
    tables.  Cheap (metadata only) and idempotent; re-running with a
    different sf_dir simply repoints the views."""
    from .sources.io import read_parquet_cached_schema

    for name in names:
        if name == "events":
            df = roles.load_events(spark, sf_dir)
        else:
            df = read_parquet_cached_schema(
                spark, os.path.join(sf_dir, f"{name}.parquet")
            )
        df.createOrReplaceTempView(f"sqlq_{name}")


# --------------------------------------------------------------------------
# flagship restated in SQL: the channel report
# --------------------------------------------------------------------------

#: Spark-dialect twin of queries._SQL_REPORT, authored in the FUSED shape
#: the DataFrame flagship compiles to since r14 (cost/date/revenue attached
#: before the one attribution shuffle — guide §8 — instead of re-joining
#: sessions and conversions after attribution).  The ORACLE text
#: (queries._SQL_REPORT) keeps the reference's original 3-CTE join shape:
#: both spellings aggregate the identical (channel, date, cost, ihc,
#: revenue) row multiset, which the shared oracle and the value-equality
#: test in tests/test_plans.py pin bit-exactly.  Dialect notes: Spark's
#: BigDecimal→double cast is correctly rounded so the oracle's VARCHAR
#: detour drops; the base table is the `sqlq_events` temp view.
_SPARK_SQL_REPORT = f"""
WITH conversions AS ({roles.SQL_CONVERSIONS}),
sess AS (
    -- inline cost: the costs role derives from the SAME events row
    -- (value*0.1 where event_id%10 != 0, else no row -> COALESCE 0), so
    -- with unique event_id the LEFT JOIN on session_id IS this CASE —
    -- see queries._report_df for the argument and the pinning tests
    SELECT event_id AS session_id,
           user_id,
           ts,
           event_type AS channel_name,
           CAST(event_id % 2 AS INTEGER) AS holder_engagement,
           CAST(event_id % 3 = 0 AS INTEGER) AS closer_engagement,
           CAST(ts AS DATE) AS date,
           -- COALESCE also zeroes a NULL value, like the generic path's
           -- COALESCE(cost, 0.0) after the join
           COALESCE(CASE WHEN event_id % 10 <> 0 THEN value * 0.1 END, 0.0)
               AS cost
    FROM events
),
journeys AS (
    SELECT c.conv_id AS conversion_id, s.session_id, s.ts,
           s.channel_name AS channel_label,
           s.holder_engagement, s.closer_engagement,
           s.date, s.cost, c.revenue
    FROM conversions c JOIN sess s
      ON s.user_id = c.user_id AND s.ts <= c.conv_ts
),
scored AS (
    -- LEAD(1) OVER w IS NULL == "last row of the conversion" (identical to
    -- the classic rn = count(*) test) but shares the row_number's window
    -- node: two window passes instead of three, like the DataFrame twin
    SELECT conversion_id, channel_label, date, cost, revenue,
           CASE
             WHEN ROW_NUMBER() OVER w = 1 THEN 2.0
             WHEN LEAD(1) OVER w IS NULL
                  THEN 2.0 * (1.0 + closer_engagement)
             ELSE 1.0 * (1.0 + holder_engagement)
           END AS raw
    FROM journeys
    WINDOW w AS (PARTITION BY conversion_id ORDER BY ts ASC, session_id ASC)
),
attributed AS (
    SELECT channel_label AS channel_name, date, cost, revenue,
           raw / SUM(raw) OVER (PARTITION BY conversion_id) AS ihc
    FROM scored
),
channel_date_report AS (
    SELECT channel_name, date,
           {_dsum_spark('cost')} AS cost,
           {_dsum_spark('ihc')} AS ihc,
           {_dsum_spark('ihc * revenue')} AS ihc_revenue
    FROM attributed
    GROUP BY channel_name, date
)
SELECT channel_name, date, cost, ihc, ihc_revenue,
       CASE WHEN ihc <> 0.0 THEN cost / ihc ELSE 0.0 END AS CPO,
       CASE WHEN cost <> 0.0 THEN ihc_revenue / cost ELSE 0.0 END AS ROAS
FROM channel_date_report
""".replace("FROM events", "FROM sqlq_events")
assert "VARCHAR" not in _SPARK_SQL_REPORT  # decimal→double is a direct cast
assert "FROM events" not in _SPARK_SQL_REPORT


@register("sql_channel_report", _SQL_REPORT)
def q_sql_channel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship channel report authored END-TO-END as one Spark SQL
    statement (7 CTEs: role mapping → as-of journey join → position/
    engagement attribution → report math) — certifying that a user who
    speaks only SQL gets the same engine: identical values to the
    `channel_report` DataFrame chain (same oracle; plan comparison in
    tests/test_plans.py).  Catalyst compiles both surfaces to the same
    operator algebra, so the SQL route inherits every optimization the
    DataFrame route gets (pushdown, AQE broadcast, whole-stage codegen)
    — nothing is interpreted."""
    _register_views(spark, sf_dir, ["events"])
    return spark.sql(_SPARK_SQL_REPORT)


# --------------------------------------------------------------------------
# multi-CTE analytic SQL: nation revenue share within region
# --------------------------------------------------------------------------


@register(
    "sql_nation_revenue_share",
    """
WITH rev AS (
    SELECT n.n_name AS nation, r.r_name AS region,
           SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                    AS DECIMAL(28,10))) AS revenue_dec
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY n.n_name, r.r_name
),
ranked AS (
    SELECT nation, region, revenue_dec,
           SUM(revenue_dec) OVER (PARTITION BY region) AS region_dec,
           RANK() OVER (PARTITION BY region
                        ORDER BY revenue_dec DESC, nation) AS rank_in_region
    FROM rev
)
SELECT nation, region,
       CAST(CAST(revenue_dec AS VARCHAR) AS DOUBLE) AS revenue,
       CAST(CAST(revenue_dec AS VARCHAR) AS DOUBLE)
           / CAST(CAST(region_dec AS VARCHAR) AS DOUBLE) AS region_share,
       CAST(rank_in_region AS BIGINT) AS rank_in_region
FROM ranked
""",
)
def q_sql_nation_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-authored 5-table star join + grouped window analytics: revenue
    per nation, its share of the region total, and its in-region rank —
    the report shape BI tools emit as raw SQL.  Revenue rides decimal
    through the window SUM (exact under any partitioning/order) and
    converts to double only at the edge, so share = quotient of two
    bit-identical doubles in both engines.

    Scale: one shuffled agg at (nation, region) grain (25 rows), window
    over a 25-row frame — all the heavy lifting is the star join, which
    AQE broadcasts (nation/region/customer are small)."""
    _register_views(
        spark, sf_dir, ["lineitem", "orders", "customer", "nation", "region"]
    )
    return spark.sql(
        """
WITH rev AS (
    SELECT n.n_name AS nation, r.r_name AS region,
           SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                    AS DECIMAL(28,10))) AS revenue_dec
    FROM sqlq_lineitem l
    JOIN sqlq_orders o ON l.l_orderkey = o.o_orderkey
    JOIN sqlq_customer c ON o.o_custkey = c.c_custkey
    JOIN sqlq_nation n ON c.c_nationkey = n.n_nationkey
    JOIN sqlq_region r ON n.n_regionkey = r.r_regionkey
    GROUP BY n.n_name, r.r_name
),
ranked AS (
    SELECT nation, region, revenue_dec,
           SUM(revenue_dec) OVER (PARTITION BY region) AS region_dec,
           RANK() OVER (PARTITION BY region
                        ORDER BY revenue_dec DESC, nation) AS rank_in_region
    FROM rev
)
SELECT nation, region,
       CAST(revenue_dec AS DOUBLE) AS revenue,
       CAST(revenue_dec AS DOUBLE) / CAST(region_dec AS DOUBLE)
           AS region_share,
       CAST(rank_in_region AS BIGINT) AS rank_in_region
FROM ranked
"""
    )


# --------------------------------------------------------------------------
# multi-CTE behavioral SQL: per-user activity/retention profile
# --------------------------------------------------------------------------


@register(
    "sql_user_activity_profile",
    """
WITH daily AS (
    SELECT user_id, CAST(ts AS DATE) AS d,
           COUNT(*) AS n_events,
           SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS n_purchases
    FROM events
    GROUP BY user_id, CAST(ts AS DATE)
),
seq AS (
    SELECT user_id, d, n_events, n_purchases,
           LAG(d) OVER (PARTITION BY user_id ORDER BY d) AS prev_d
    FROM daily
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS active_days,
       CAST(SUM(n_events) AS BIGINT) AS total_events,
       CAST(SUM(n_purchases) AS BIGINT) AS total_purchases,
       CAST(SUM(CASE WHEN prev_d IS NOT NULL
                      AND DATEDIFF('day', prev_d, d) = 1
                THEN 1 ELSE 0 END) AS BIGINT) AS consecutive_pairs
FROM seq
GROUP BY user_id
""",
)
def q_sql_user_activity_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-authored sessionless retention profile: per-user active days,
    event/purchase totals, and count of consecutive-day pairs (the LAG
    streak primitive) — agg → window → re-agg, the three-layer CTE shape
    that exercises how Catalyst shares partitionings across stages: the
    daily agg shuffles on (user_id, day), then ONE user_id exchange
    serves BOTH the window and the final aggregation (2 exchanges
    total, pinned by the plan test).  Dialect note: Spark spells the
    day delta ``DATEDIFF(d, prev_d)``, DuckDB
    ``DATEDIFF('day', prev_d, d)`` — the surfaces differ, the values
    must not."""
    _register_views(spark, sf_dir, ["events"])
    return spark.sql(
        """
WITH daily AS (
    SELECT user_id, CAST(ts AS DATE) AS d,
           COUNT(*) AS n_events,
           SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS n_purchases
    FROM sqlq_events
    GROUP BY user_id, CAST(ts AS DATE)
),
seq AS (
    SELECT user_id, d, n_events, n_purchases,
           LAG(d) OVER (PARTITION BY user_id ORDER BY d) AS prev_d
    FROM daily
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS active_days,
       CAST(SUM(n_events) AS BIGINT) AS total_events,
       CAST(SUM(n_purchases) AS BIGINT) AS total_purchases,
       CAST(SUM(CASE WHEN prev_d IS NOT NULL
                      AND DATEDIFF(d, prev_d) = 1
                THEN 1 ELSE 0 END) AS BIGINT) AS consecutive_pairs
FROM seq
GROUP BY user_id
"""
    )


# --------------------------------------------------------------------------
# snapshot tables on the SQL surface: MoR lineage + time travel, pure SQL
# --------------------------------------------------------------------------

_SNAP_SQL_CACHE: dict = {}


@register(
    "sql_snapshot_asof_report",
    # Oracle: wholesale SQL replay of the same deterministic feed — per
    # key the highest (batch, seq) change wins, where batch = seq % 2
    # (evens merged first, odds second); the "asof" phase replays only
    # batch 0 (the table state version 0 pinned).  Same ranking shape
    # as the snapshot_mor_merge oracle, split by phase.
    f"""
WITH feed AS (
    SELECT user_id AS k,
           event_id AS seq,
           event_id % 2 AS b,
           CASE WHEN event_id % 5 = 0 THEN 'D' ELSE 'U' END AS op,
           value AS v
    FROM events
),
latest AS (
    SELECT k, op, v,
           ROW_NUMBER() OVER (PARTITION BY k ORDER BY b DESC, seq DESC) AS rn
    FROM feed
),
asof_state AS (
    SELECT k, op, v,
           ROW_NUMBER() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
    FROM feed WHERE b = 0
)
SELECT 'latest' AS phase, CAST(COUNT(*) AS BIGINT) AS n_keys,
       {_dsum_sql('v')} AS total_value
FROM latest WHERE rn = 1 AND op <> 'D'
UNION ALL
SELECT 'asof', CAST(COUNT(*) AS BIGINT), {_dsum_sql('v')}
FROM asof_state WHERE rn = 1 AND op <> 'D'
""",
)
def q_sql_snapshot_asof_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-5/6 flagships COMPOSED on the SQL surface: a
    merge-on-read CDC lineage (`snapshot_mor_merge`, two batches) is
    attached as temp views via `attach_snapshot_views` — the live head
    AND a ``TIMESTAMP AS OF`` view resolved at version 0's commit time
    — and the report is authored as ONE spark.sql statement over those
    views.  A SQL-only user gets the table format, MoR semantics, and
    time travel without touching the DataFrame API; the oracle replays
    both table states wholesale from the raw feed.  Certifies reference
    parity at the API level: every reference query is SQL over its
    tables (db_operations.py:46-57) — here the tables are snapshot
    lineages.  Output cached per (query, sf_dir)."""
    import tempfile

    from .sources import snapshots as sn

    key = ("sql_snapshot_asof_report", sf_dir)
    out = _SNAP_SQL_CACHE.get(key)
    if out is None:
        from pyspark.sql import functions as F

        tmp = tempfile.mkdtemp(prefix="snap_sqlv_")
        root = f"{tmp}/tbl"
        events = roles.load_events(spark, sf_dir)
        feed = events.select(
            F.col("user_id").alias("k"),
            F.col("event_id").alias("seq"),
            (F.col("event_id") % 2).alias("_b"),
            F.when(F.col("event_id") % 5 == 0, "D").otherwise("U").alias("_op"),
            F.col("value").alias("v"),
        )
        for b in range(2):
            sn.snapshot_mor_merge(
                spark,
                root,
                feed.filter(F.col("_b") == b).drop("_b"),
                ["k"],
                seq_col="seq",
            )
        out = _SNAP_SQL_CACHE[key] = root
    from .sources import snapshots as sn2

    t0 = sn2._read_manifest(out, 0)["ts"]
    sn2.attach_snapshot_views(
        spark,
        {
            "sqlq_snap_feed": out,                      # the live head
            "sqlq_snap_feed_asof": {"root": out, "asof": t0},  # time travel
        },
    )
    return spark.sql(
        """
SELECT 'latest' AS phase, CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(SUM(CAST(v AS DECIMAL(28,10))) AS DOUBLE) AS total_value
FROM sqlq_snap_feed
UNION ALL
SELECT 'asof', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CAST(v AS DECIMAL(28,10))) AS DOUBLE)
FROM sqlq_snap_feed_asof
"""
    )


@register(
    "sql_dml_lifecycle",
    # Oracle: the WHOLE statement script replayed as one SELECT over the
    # raw tables — each DML statement becomes a CTE layer (s1 = UPDATE,
    # s2 = DELETE, kept/reinstated = the MERGE clause matrix, final =
    # INSERT).  Balances ride DECIMAL(28,10) end to end: every cast only
    # widens scale-preserving, so no rounding happens anywhere and both
    # engines agree bit-for-bit at the double edge.
    """
WITH base AS (
    SELECT c_custkey AS k, CAST(c_acctbal AS DECIMAL(28,10)) AS bal,
           c_mktsegment AS seg
    FROM customer
),
s1 AS (
    SELECT k,
           CASE WHEN seg = 'BUILDING'
                THEN bal + CAST(100 AS DECIMAL(28,10)) ELSE bal END AS bal,
           seg
    FROM base
),
s2 AS (SELECT * FROM s1 WHERE NOT (bal < 0)),
src AS (
    SELECT o_custkey AS k,
           SUM(CAST(o_totalprice AS DECIMAL(28,10))) AS spend,
           COUNT(*) AS cnt
    FROM orders GROUP BY o_custkey
),
kept AS (
    SELECT t.k,
           CASE WHEN s.k IS NOT NULL
                THEN CAST(t.bal + s.spend AS DECIMAL(28,10))
                ELSE t.bal END AS bal,
           t.seg
    FROM s2 t LEFT JOIN src s ON t.k = s.k
    WHERE s.k IS NULL OR s.cnt <= 20
),
reinstated AS (
    SELECT s.k, CAST(s.spend AS DECIMAL(28,10)) AS bal,
           'REINSTATED' AS seg
    FROM src s LEFT JOIN s2 t ON s.k = t.k WHERE t.k IS NULL
),
final AS (
    SELECT * FROM kept
    UNION ALL SELECT * FROM reinstated
    UNION ALL SELECT -1, CAST(0 AS DECIMAL(28,10)), 'SENTINEL'
)
SELECT seg, CAST(COUNT(*) AS BIGINT) AS n_cust,
       CAST(CAST(SUM(bal) AS VARCHAR) AS DOUBLE) AS total_bal
FROM final GROUP BY seg
""",
)
def q_sql_dml_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL STATEMENT EXECUTOR end to end (`sql_exec.execute_sql`):
    a catalog-backed account table is built and mutated ENTIRELY with
    SQL text — CREATE TABLE AS over the customer snapshot, UPDATE (a
    segment-wide balance credit), DELETE (drop negative balances),
    MERGE INTO with the full clause matrix (conditional DELETE for
    heavy-order customers, UPDATE adding each customer's spend,
    INSERT reinstating merged-in customers the DELETE had dropped), a
    VALUES insert, and a persistent VIEW holding the report query —
    then the report is read back through that view.  This is reference
    parity at the STATEMENT level: the reference's users drive
    everything through SQL strings on named tables
    (pipeline/db_operations.py:46-57); here the same script gets
    serializable snapshot commits (UPDATE/DELETE are O(matched) MoR
    commits, the MERGE rewrites only touched files) plus time travel
    over every step.  The oracle replays the whole script as one
    SELECT.  Table build + DML cached per sf_dir; the final view read
    re-runs per call."""
    import tempfile

    from .sources import catalog as cat
    from .sources import snapshots as sn
    from .sql_exec import execute_sql, execute_sql_script

    key = ("sql_dml_lifecycle", sf_dir)
    got = _SNAP_SQL_CACHE.get(key)
    if got is None:
        from .sources.io import read_parquet_cached_schema

        tmp = tempfile.mkdtemp(prefix="snap_dml_")
        cdir = f"{tmp}/catalog"
        for name in ("customer", "orders"):
            df = read_parquet_cached_schema(
                spark, os.path.join(sf_dir, f"{name}.parquet")
            )
            root = f"{tmp}/{name}"
            sn.snapshot_overwrite(df, root)
            cat.catalog_register(cdir, name, root)
        execute_sql_script(
            spark,
            """
            CREATE TABLE cust_acct AS
                SELECT c_custkey AS k,
                       CAST(c_acctbal AS DECIMAL(28,10)) AS bal,
                       c_mktsegment AS seg
                FROM customer;
            UPDATE cust_acct SET bal = bal + 100 WHERE seg = 'BUILDING';
            DELETE FROM cust_acct WHERE bal < 0;
            MERGE INTO cust_acct t USING (
                SELECT o_custkey AS k,
                       SUM(CAST(o_totalprice AS DECIMAL(28,10))) AS spend,
                       COUNT(*) AS cnt
                FROM orders GROUP BY o_custkey
            ) s ON t.k = s.k
            WHEN MATCHED AND s.cnt > 20 THEN DELETE
            WHEN MATCHED THEN UPDATE SET t.bal = t.bal + s.spend
            WHEN NOT MATCHED THEN INSERT (k, bal, seg)
                VALUES (s.k, s.spend, 'REINSTATED');
            INSERT INTO cust_acct
                SELECT -1, CAST(0 AS DECIMAL(28,10)), 'SENTINEL';
            CREATE VIEW acct_report AS
                SELECT seg, CAST(COUNT(*) AS BIGINT) AS n_cust,
                       CAST(SUM(bal) AS DOUBLE) AS total_bal
                FROM cust_acct GROUP BY seg
            """,
            cdir,
        )
        got = _SNAP_SQL_CACHE[key] = cdir
    return execute_sql(spark, "SELECT * FROM acct_report", got)


@register(
    "sql_inline_time_travel",
    # Oracle: the live state is base + the appended low-key slice; the
    # v0 state is the base alone; the tag rides v0 too — all three
    # replayed as plain SQL.
    """
WITH live AS (
    SELECT n_regionkey, COUNT(*) AS n FROM (
        SELECT n_nationkey, n_regionkey FROM nation
        UNION ALL
        SELECT n_nationkey, n_regionkey FROM nation WHERE n_nationkey < 7
    ) GROUP BY n_regionkey
),
v0 AS (SELECT n_regionkey, COUNT(*) AS n FROM nation GROUP BY n_regionkey)
SELECT live.n_regionkey AS region_key,
       CAST(live.n AS BIGINT) AS n_live,
       CAST(v0.n AS BIGINT) AS n_v0,
       CAST(v0.n AS BIGINT) AS n_tagged
FROM live JOIN v0 ON live.n_regionkey = v0.n_regionkey
""",
)
def q_sql_inline_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INLINE time travel in plain SQL text (`sql_exec.
    _rewrite_time_travel`): ``FROM t VERSION AS OF 0`` and ``VERSION AS
    OF '<tag>'`` inside ONE statement, each resolving through the
    snapshot lineage to a pinned read — Delta/Iceberg query syntax with
    no DataFrame API and no pre-attached pinned names (the
    sql_catalog_report route); the rewrite attaches pinned views on the
    spot and leaves every other byte of the statement untouched.  Build
    cached per (query, sf_dir); the statement re-runs per call."""
    import tempfile

    from pyspark.sql import functions as F

    from .sources import catalog as cat
    from .sources import snapshots as sn
    from .sql_exec import execute_sql

    key = ("sql_inline_time_travel", sf_dir)
    got = _SNAP_SQL_CACHE.get(key)
    if got is None:
        from .sources.io import read_parquet_cached_schema

        tmp = tempfile.mkdtemp(prefix="snap_itt_")
        root, cdir = f"{tmp}/nation", f"{tmp}/catalog"
        nation = read_parquet_cached_schema(
            spark, os.path.join(sf_dir, "nation.parquet")
        )
        sn.snapshot_overwrite(nation, root)  # v0
        sn.snapshot_create_tag(root, "prelaunch", version=0)
        sn.snapshot_append(
            nation.filter(F.col("n_nationkey") < 7), root
        )  # v1: the live head diverges from v0
        cat.catalog_register(cdir, "itt_nation", root)
        got = _SNAP_SQL_CACHE[key] = cdir
    return execute_sql(
        spark,
        """
WITH live AS (
    SELECT n_regionkey, COUNT(*) AS n FROM itt_nation GROUP BY n_regionkey
),
v0 AS (
    SELECT n_regionkey, COUNT(*) AS n FROM itt_nation VERSION AS OF 0
    GROUP BY n_regionkey
),
tagged AS (
    SELECT n_regionkey, COUNT(*) AS n
    FROM itt_nation VERSION AS OF 'prelaunch' GROUP BY n_regionkey
)
SELECT live.n_regionkey AS region_key,
       CAST(live.n AS BIGINT) AS n_live,
       CAST(v0.n AS BIGINT) AS n_v0,
       CAST(tagged.n AS BIGINT) AS n_tagged
FROM live
JOIN v0 ON live.n_regionkey = v0.n_regionkey
JOIN tagged ON live.n_regionkey = tagged.n_regionkey
""",
        got,
    )


@register(
    "sql_mview_maintenance",
    # Oracle: the DML script replayed as CTE layers (insert → delete →
    # update), then the MV's defining aggregate over the final state —
    # an incrementally-maintained view must equal the recompute.  The
    # decimal sum rides the VARCHAR round trip at the double edge (the
    # sql_dml_lifecycle discipline).
    """
WITH base AS (
    SELECT o_orderstatus AS status, o_custkey AS k,
           CAST(o_totalprice AS DECIMAL(28,10)) AS price
    FROM orders
),
ins AS (
    SELECT * FROM base
    UNION ALL SELECT 'Z', CAST(-1 AS BIGINT), CAST(42 AS DECIMAL(28,10))
),
del AS (SELECT * FROM ins WHERE NOT (k % 7 = 0)),
upd AS (
    SELECT status, k,
           CASE WHEN status = 'F'
                THEN CAST(price + 1 AS DECIMAL(28,10)) ELSE price END AS price
    FROM del
)
SELECT status, CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(CAST(SUM(price) AS VARCHAR) AS DOUBLE) AS total_price
FROM upd GROUP BY status
""",
)
def q_sql_mview_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATERIALIZED VIEWS as catalog objects (`catalog_register_mview` /
    `refresh_mview` + the CREATE/REFRESH MATERIALIZED VIEW statements):
    an orders table is built and mutated entirely in SQL — INSERT,
    DELETE (MoR), UPDATE (O(matched) MoR commits) — and the registered
    view (GROUP BY status with COUNT(*) + SUM(price), the additive
    retractable shape) is brought to the head by ONE refresh that
    consumes the CHANGE DATA FEED: deletes retract counts and sums,
    upserts net to the value change, fully-retracted groups vanish —
    work ∝ delta + view, never a table rescan (snapshots.
    refresh_incremental_agg_cdf).  The oracle recomputes from scratch;
    hash-equality IS the MV maintenance proof.  At 100 TB this is the
    only viable reporting pattern over a mutating table: the reference
    recomputes every report per run (pipeline/db_operations.py), here
    the report is a durable catalog name refreshed in O(changes).
    Build + DML + refresh cached per sf_dir; the view read re-runs."""
    import tempfile

    from .sources import catalog as cat
    from .sources import snapshots as sn
    from .sql_exec import execute_sql, execute_sql_script

    key = ("sql_mview_maintenance", sf_dir)
    got = _SNAP_SQL_CACHE.get(key)
    if got is None:
        from .sources.io import read_parquet_cached_schema

        tmp = tempfile.mkdtemp(prefix="snap_mv_")
        cdir = f"{tmp}/catalog"
        root = f"{tmp}/orders"
        sn.snapshot_overwrite(
            read_parquet_cached_schema(
                spark, os.path.join(sf_dir, "orders.parquet")
            ),
            root,
        )
        cat.catalog_register(cdir, "orders", root)
        execute_sql_script(
            spark,
            """
            CREATE TABLE ord AS
                SELECT o_orderstatus AS status, o_custkey AS k,
                       CAST(o_totalprice AS DECIMAL(28,10)) AS price
                FROM orders;
            CREATE MATERIALIZED VIEW ord_mv AS
                SELECT status, COUNT(*) AS n, SUM(price) AS price
                FROM ord GROUP BY status;
            INSERT INTO ord
                SELECT 'Z', CAST(-1 AS BIGINT), CAST(42 AS DECIMAL(28,10));
            DELETE FROM ord WHERE k % 7 = 0;
            UPDATE ord SET price = CAST(price + 1 AS DECIMAL(28,10))
                WHERE status = 'F';
            REFRESH MATERIALIZED VIEW ord_mv
            """,
            cdir,
        )
        got = _SNAP_SQL_CACHE[key] = cdir
    return execute_sql(
        spark,
        "SELECT status, CAST(n AS BIGINT) AS n_orders, "
        "CAST(price AS DOUBLE) AS total_price FROM ord_mv",
        got,
    )


@register(
    "sql_catalog_report",
    # Oracle: the live view is the base nation table plus the appended
    # low-key duplicate slice; the certified view is the tag-pinned v0 =
    # the base table alone — both replayed as plain SQL over the parquet.
    """
WITH live AS (
    SELECT n_regionkey, COUNT(*) AS n FROM (
        SELECT n_nationkey, n_regionkey FROM nation
        UNION ALL
        SELECT n_nationkey, n_regionkey FROM nation WHERE n_nationkey < 5
    ) GROUP BY n_regionkey
),
cert AS (SELECT n_regionkey, COUNT(*) AS n FROM nation GROUP BY n_regionkey)
SELECT live.n_regionkey AS region_key,
       CAST(live.n AS BIGINT) AS n_live,
       CAST(cert.n AS BIGINT) AS n_certified
FROM live JOIN cert ON live.n_regionkey = cert.n_regionkey
""",
)
def q_sql_catalog_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTENT CATALOG on the SQL surface (`sources/catalog.py`):
    a snapshot lineage (nation at v0, a noisy append at v1, an immutable
    ``certified`` tag pinning v0) is registered in a durable
    name→{root, pins} catalog, `attach_catalog` resolves BOTH names —
    the live head and the tag-pinned audit view — and the report is one
    ``spark.sql`` statement over catalog names alone: no root paths, no
    version numbers in the query text.  Closes the reference's last
    ergonomic edge (tables by name in one DB, db_operations.py:46-57)
    with reproducibility pins the reference never had; the fresh-session
    re-attach contract is pinned in tests/test_catalog.py.  Table build
    cached per (query, sf_dir); the catalog attach re-runs per call."""
    import tempfile

    from pyspark.sql import functions as F

    from .sources import catalog as cat
    from .sources import snapshots as sn

    key = ("sql_catalog_report", sf_dir)
    got = _SNAP_SQL_CACHE.get(key)
    if got is None:
        from .sources.io import read_parquet_cached_schema

        tmp = tempfile.mkdtemp(prefix="snap_ctl_")
        root, cdir = f"{tmp}/nation", f"{tmp}/catalog"
        nation = read_parquet_cached_schema(
            spark, os.path.join(sf_dir, "nation.parquet")
        )
        sn.snapshot_overwrite(nation, root)  # v0: the certified state
        sn.snapshot_create_tag(root, "certified", version=0)
        sn.snapshot_append(  # v1: post-certification noise
            nation.filter(F.col("n_nationkey") < 5), root
        )
        cat.catalog_register(cdir, "ctl_nation_live", root)
        cat.catalog_register(
            cdir, "ctl_nation_certified", root, ref="certified"
        )
        got = _SNAP_SQL_CACHE[key] = cdir
    cat.attach_catalog(spark, got)
    return spark.sql(
        """
WITH live AS (
    SELECT n_regionkey, COUNT(*) AS n
    FROM ctl_nation_live GROUP BY n_regionkey
),
cert AS (
    SELECT n_regionkey, COUNT(*) AS n
    FROM ctl_nation_certified GROUP BY n_regionkey
)
SELECT live.n_regionkey AS region_key,
       CAST(live.n AS BIGINT) AS n_live,
       CAST(cert.n AS BIGINT) AS n_certified
FROM live JOIN cert ON live.n_regionkey = cert.n_regionkey
"""
    )


@register(
    "sql_pruned_lookup",
    # pruning changes which FILES the scan opens, never the answer —
    # the oracle runs the identical predicates over the raw table
    f"""
SELECT 'range' AS dim, CAST(COUNT(*) AS BIGINT) AS n,
       {_dsum_sql('o_totalprice')} AS total
FROM orders WHERE o_orderkey BETWEEN 3200 AND 3300
UNION ALL
SELECT 'point' AS dim, CAST(COUNT(*) AS BIGINT) AS n,
       {_dsum_sql('o_totalprice')} AS total
FROM orders WHERE o_custkey = 1
""",
)
def q_sql_pruned_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL read path MANIFEST-PRUNES (round 10, closing VERDICT r9
    'What's missing #2'): a catalog table committed CLUSTERED on
    ``o_orderkey`` with BLOOM filters on the hash-scattered
    ``o_custkey`` is queried with plain SQL text — the statement
    executor's STATEMENT-LEVEL pruned attach (`sql_exec.
    _pruned_attach`) reads the typed filters Catalyst's optimized plan
    puts directly over each table's scans and re-registers the view as
    `read_snapshot_pruned` over the claims they imply, so the range
    lookup opens ~1 of 8 files by recorded min/max stats and the point
    lookup skips by the per-file blooms stats cannot help with.  This layer replaced the DataSource
    pushFilters routing, WITHDRAWN after measurement: Spark 4.1 keeps
    one Python-DataSource read plan per relation (last scan wins), so
    per-scan file pruning silently loses rows on any relation reuse —
    engine behavior pinned in tests/test_snapshot_source.py.  Pruning
    here changes only which FILES open (the pruned read re-applies
    every predicate); file counts pinned in tests/test_sql_exec.py.
    Build cached per (query, sf_dir)."""
    cdir = _plk_catalog(spark, sf_dir)
    from .sql_exec import execute_sql

    ds = _dsum_spark("o_totalprice")
    # one statement per lookup: the executor's STATEMENT-LEVEL pruned
    # attach fires per statement (each referenced table's view is a
    # read_snapshot_pruned over exactly its predicates)
    rng = execute_sql(
        spark,
        f"SELECT 'range' AS dim, COUNT(*) AS n, {ds} AS total "
        "FROM plk_orders WHERE o_orderkey BETWEEN 3200 AND 3300",
        cdir,
    )
    pt = execute_sql(
        spark,
        f"SELECT 'point' AS dim, COUNT(*) AS n, {ds} AS total "
        "FROM plk_orders WHERE o_custkey = 1",
        cdir,
    )
    return rng.unionByName(pt)


def _plk_catalog(spark: SparkSession, sf_dir: str) -> str:
    """ONE orders table clustered on ``o_orderkey`` with BLOOM filters
    on the hash-scattered ``o_custkey``, shared by the point/range
    lookup queries (`sql_pruned_lookup`, `sql_or_pruned_lookup`) —
    built once per sf_dir."""
    import tempfile

    from pyspark.sql import functions as F

    from .sources import catalog as cat
    from .sources import snapshots as sn
    from .sources.io import read_parquet_cached_schema

    key = ("_plk_catalog", sf_dir)
    cdir = _SNAP_SQL_CACHE.get(key)
    if cdir is None:
        tmp = tempfile.mkdtemp(prefix="snap_plk_")
        root, cdir = f"{tmp}/orders", f"{tmp}/catalog"
        o = read_parquet_cached_schema(
            spark, os.path.join(sf_dir, "orders.parquet")
        ).select("o_orderkey", "o_custkey", "o_totalprice")
        # clustered on the range key; blooms on the scattered key
        # (inherited by every later policy-unaware write)
        sn.snapshot_append_clustered(
            o.withColumn(
                "o_custkey", F.col("o_custkey").cast("bigint")
            ),
            root,
            ["o_orderkey"],
            n_files=8,
        )
        # declare the bloom policy via a tiny policy-carrying append
        sn.snapshot_append(
            o.limit(0).withColumn(
                "o_custkey", F.col("o_custkey").cast("bigint")
            ),
            root,
            bloom_cols=["o_custkey"],
            bloom_bits=65536,
        )
        # re-cluster + re-derive stats AND blooms under the policy
        sn.snapshot_compact(spark, root)
        cat.catalog_register(cdir, "plk_orders", root)
        _SNAP_SQL_CACHE[key] = cdir
    return cdir


@register(
    "sql_or_pruned_lookup",
    # pruning changes which FILES open, never the answer — the oracle
    # runs the identical disjunctions over the raw orders table
    f"""
SELECT 'or_eq' AS dim, CAST(COUNT(*) AS BIGINT) AS n,
       {_dsum_sql('o_totalprice')} AS total
FROM orders WHERE o_custkey = 1 OR o_custkey = 7
UNION ALL
SELECT 'or_range' AS dim, CAST(COUNT(*) AS BIGINT) AS n,
       {_dsum_sql('o_totalprice')} AS total
FROM orders WHERE o_orderkey BETWEEN 3200 AND 3300
   OR o_orderkey BETWEEN 5000 AND 5100
""",
)
def q_sql_or_pruned_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISJUNCTION pruning from plain SQL text (round 12 — VERDICT r11
    'What's missing #2'): ``WHERE o_custkey = 1 OR o_custkey = 7``
    normalizes to the round-11 IN-list claim — per-value manifest
    stats AND Bloom-filter probes, so the hash-scattered keys open
    only the files whose blooms admit either value — and a same-column
    range union claims its [min-of-lows, max-of-highs] ENVELOPE over
    the o_orderkey clustering.  A mixed-column OR claims nothing
    (soundness pinned in tests/test_sql_exec.py).  The reference
    full-scans SQLite for any OR (pipeline/queries.py); at 100 TB the
    bloom-backed disjunction is the difference between two files and
    the table.  Build shared with `sql_pruned_lookup`."""
    from .sql_exec import execute_sql

    cdir = _plk_catalog(spark, sf_dir)
    ds = _dsum_spark("o_totalprice")
    eq = execute_sql(
        spark,
        f"SELECT 'or_eq' AS dim, COUNT(*) AS n, {ds} AS total "
        "FROM plk_orders WHERE o_custkey = 1 OR o_custkey = 7",
        cdir,
    )
    rng = execute_sql(
        spark,
        f"SELECT 'or_range' AS dim, COUNT(*) AS n, {ds} AS total "
        "FROM plk_orders WHERE o_orderkey BETWEEN 3200 AND 3300 "
        "OR o_orderkey BETWEEN 5000 AND 5100",
        cdir,
    )
    return eq.unionByName(rng)


@register(
    "sql_ddl_layout",
    # the oracle replays the whole script relationally: the explicit
    # schema (with its casts), the INSERT's projection, and the final
    # selective reads — layout only changes which files open
    f"""
WITH t AS (
    SELECT CAST(o_orderkey AS BIGINT) AS okey,
           CAST(o_custkey AS BIGINT) AS cust,
           CAST(o_totalprice AS DOUBLE) AS price
    FROM orders
)
SELECT 'range' AS dim, CAST(COUNT(*) AS BIGINT) AS n,
       {_dsum_sql('price')} AS total
FROM t WHERE okey BETWEEN 1000 AND 4000
UNION ALL
SELECT 'point' AS dim, CAST(COUNT(*) AS BIGINT) AS n,
       {_dsum_sql('price')} AS total
FROM t WHERE cust = 7
""",
)
def q_sql_ddl_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE TABLE with an EXPLICIT SCHEMA and LAYOUT CLAUSES (round
    10, closing VERDICT r9 'What's missing #3'): the table — schema,
    range clustering, stats policy, bloom policy — is declared
    ENTIRELY in SQL (``CREATE TABLE t (cols) CLUSTERED BY ... BLOOM
    BY ... BITS ...``), loaded with a plain ``INSERT INTO ... SELECT``
    that routes through the DECLARED layout (clustered files, stats
    and blooms recorded — `sql_exec._policy_write`), and read back
    with selective SQL: the range lookup prunes by the recorded
    min/max, the point lookup by the blooms.  The reference never
    declares layout because SQLite has none to declare; at 100 TB the
    declaration IS the difference between a point lookup opening one
    file or every file.  Build cached per (query, sf_dir)."""
    import tempfile

    from .sources import catalog as cat
    from .sources import snapshots as sn
    from .sql_exec import execute_sql, execute_sql_script

    key = ("sql_ddl_layout", sf_dir)
    cdir = _SNAP_SQL_CACHE.get(key)
    if cdir is None:
        from .sources.io import read_parquet_cached_schema

        tmp = tempfile.mkdtemp(prefix="snap_ddl_")
        cdir = f"{tmp}/catalog"
        o = read_parquet_cached_schema(
            spark, os.path.join(sf_dir, "orders.parquet")
        )
        root = f"{tmp}/orders_src"
        sn.snapshot_overwrite(
            o.select("o_orderkey", "o_custkey", "o_totalprice"), root
        )
        cat.catalog_register(cdir, "orders_src", root)
        execute_sql_script(
            spark,
            """
            CREATE TABLE ddl_orders (
                okey BIGINT, cust BIGINT, price DOUBLE
            ) CLUSTERED BY (okey) STATS BY (okey) BLOOM BY (cust) BITS 65536;
            INSERT INTO ddl_orders
                SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE)
                FROM orders_src;
            """,
            cdir,
        )
        _SNAP_SQL_CACHE[key] = cdir
    ds = _dsum_spark("price")
    # one statement per lookup so the executor's statement-level
    # pruned attach fires for each (a UNION of the two would prune by
    # the OR of its scans' filters — a range envelope, not two windows)
    rng = execute_sql(
        spark,
        f"SELECT 'range' AS dim, COUNT(*) AS n, {ds} AS total "
        "FROM ddl_orders WHERE okey BETWEEN 1000 AND 4000",
        cdir,
    )
    pt = execute_sql(
        spark,
        f"SELECT 'point' AS dim, COUNT(*) AS n, {ds} AS total "
        "FROM ddl_orders WHERE cust = 7",
        cdir,
    )
    return rng.unionByName(pt)


@register(
    "sql_timestamp_pruned_scan",
    # pruning changes which FILES open, never the answer — the oracle
    # runs identical predicates over the raw events table
    f"""
SELECT 'window' AS dim, CAST(COUNT(*) AS BIGINT) AS n,
       {_dsum_sql('value')} AS total
FROM events
WHERE ts BETWEEN TIMESTAMP '2024-01-10 00:00:00'
             AND TIMESTAMP '2024-01-12 00:00:00'
UNION ALL
SELECT 'inlist' AS dim, CAST(COUNT(*) AS BIGINT) AS n,
       {_dsum_sql('value')} AS total
FROM events WHERE event_id IN (5, 321, 876)
""",
)
def q_sql_timestamp_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPORAL + IN-LIST manifest pruning from plain SQL text (round
    11): an events table is declared and loaded entirely in SQL —
    ``CLUSTERED BY (ts) STATS BY (ts, event_id)`` — and queried with a
    timestamp-literal window and an ``event_id IN (...)`` list.  The
    statement executor's pruned attach takes the window as the TYPED
    timestamp literals Catalyst's optimized plan carries (compared to
    the ISO manifest stats through `read_snapshot_pruned`'s widening —
    the round-11 fix for ' '-separated literals sorting below their own
    instant's 'T' stat) and the IN list as per-value stats probes, so
    the window opens ~1 of 8 ts-clustered files and
    the id list only the files whose [min, max] can hold a listed id
    (event_id rides the same clustering — it correlates with ts).
    Timestamps are written as annotated INT64 micros
    (`io.ensure_prunable_timestamp_writes`): Spark's legacy INT96
    default records NO parquet statistics, which would silence every
    timestamp-pruning layer at any scale.  The reference scans its
    whole events table for any date window (SQLite, no file layout —
    session_sources queries in pipeline/queries.py); at 100 TB the
    typed-literal skip IS the difference between a day's files and
    the table.  Build cached per (query, sf_dir); file-count evidence
    in tests/test_sql_exec.py."""
    from .sql_exec import execute_sql

    cdir = _tsp_catalog(spark, sf_dir)
    ds = _dsum_spark("value")
    # one statement per lookup: the statement-level pruned attach
    # fires per statement (per referenced table since round 11)
    win = execute_sql(
        spark,
        f"SELECT 'window' AS dim, COUNT(*) AS n, {ds} AS total "
        "FROM tsp_events WHERE ts BETWEEN '2024-01-10 00:00:00' "
        "AND '2024-01-12 00:00:00'",
        cdir,
    )
    inl = execute_sql(
        spark,
        f"SELECT 'inlist' AS dim, COUNT(*) AS n, {ds} AS total "
        "FROM tsp_events WHERE event_id IN (5, 321, 876)",
        cdir,
    )
    return win.unionByName(inl)


@register(
    "sql_timestamp_pruned_ansi",
    # pruning changes which FILES open, never the answer — the oracle
    # runs identical predicates over the raw events table
    f"""
SELECT 'window' AS dim, CAST(COUNT(*) AS BIGINT) AS n,
       {_dsum_sql('value')} AS total
FROM events
WHERE ts BETWEEN TIMESTAMP '2024-01-10 00:00:00'
             AND TIMESTAMP '2024-01-12 00:00:00'
UNION ALL
SELECT 'datelit' AS dim, CAST(COUNT(*) AS BIGINT) AS n,
       {_dsum_sql('value')} AS total
FROM events WHERE ts >= DATE '2024-01-25'
""",
)
def q_sql_timestamp_pruned_ansi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI ``TIMESTAMP '…'`` / ``DATE '…'`` literal pruning from plain
    SQL text (round 13 — VERDICT r12 'Next round #3'): the standard
    typed-literal spelling — what every BI tool and most humans emit —
    previously disabled statement pruning WHOLESALE, because the
    executor bailed on any statement containing a TIMESTAMP token (a
    guard aimed at ``TIMESTAMP AS OF`` time travel).  The pruned
    attach now reads the optimized plan, where both spellings are the
    same typed literal: ``TIMESTAMP 'x'`` a typed instant bound, and
    ``DATE 'x'`` on a timestamp column the instant Spark's own cast
    gives it.  Same table,
    same file skips as `sql_timestamp_pruned_scan` — pinned in
    tests/test_sql_exec.py.  The reference has no typed literals to
    prune with (SQLite, no file layout); at 100 TB the ANSI spelling
    is the one a connected dashboard actually sends."""
    from .sql_exec import execute_sql

    cdir = _tsp_catalog(spark, sf_dir)
    ds = _dsum_spark("value")
    win = execute_sql(
        spark,
        f"SELECT 'window' AS dim, COUNT(*) AS n, {ds} AS total "
        "FROM tsp_events WHERE ts BETWEEN TIMESTAMP '2024-01-10 00:00:00' "
        "AND TIMESTAMP '2024-01-12 00:00:00'",
        cdir,
    )
    dl = execute_sql(
        spark,
        f"SELECT 'datelit' AS dim, COUNT(*) AS n, {ds} AS total "
        "FROM tsp_events WHERE ts >= DATE '2024-01-25'",
        cdir,
    )
    return win.unionByName(dl)


@register(
    "sql_cte_pruned",
    # pruning changes which FILES open, never the answer — the oracle
    # runs the identical CTE statement over the raw events table
    f"""
WITH j AS (
    SELECT event_type AS etype, value
    FROM events
    WHERE ts BETWEEN TIMESTAMP '2024-01-10 00:00:00'
                 AND TIMESTAMP '2024-01-12 00:00:00'
)
SELECT etype, CAST(COUNT(*) AS BIGINT) AS n, {_dsum_sql('value')} AS total
FROM j GROUP BY etype
""",
)
def q_sql_cte_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CTE-body statement pruning (round 13 — the single most common
    way BI users spell the prunable shapes): ``WITH j AS (SELECT …
    FROM fact WHERE ts BETWEEN …) SELECT … FROM j GROUP BY …``.  The
    executor's pruned attach reads Catalyst's optimized plan, where the
    CTE is inlined and its typed range filter sits directly over the
    fact table's scan, so only the window's files open — and a table
    scanned more than once prunes by the OR of its scans' filters
    (tests/test_sql_exec.py and tests/test_sql_prune_differential.py
    pin the file counts and the row parity).  The reference has no
    statement layer at all; at 100 TB the difference is a day's files
    vs the table for the exact query a dashboard emits."""
    from .sql_exec import execute_sql

    cdir = _tsp_catalog(spark, sf_dir)
    ds = _dsum_spark("value")
    return execute_sql(
        spark,
        "WITH j AS (SELECT etype, value FROM tsp_events "
        "WHERE ts BETWEEN TIMESTAMP '2024-01-10 00:00:00' "
        "AND TIMESTAMP '2024-01-12 00:00:00') "
        f"SELECT etype, COUNT(*) AS n, {ds} AS total FROM j GROUP BY etype",
        cdir,
    )


@register(
    "sql_subquery_pruned",
    # pruning changes which FILES open, never the answer — the oracle
    # runs identical predicates (subqueries included) over the raw
    # events table
    f"""
SELECT 'insubq' AS dim, CAST(COUNT(*) AS BIGINT) AS n,
       {_dsum_sql('value')} AS total
FROM events
WHERE ts BETWEEN TIMESTAMP '2024-01-10 00:00:00'
             AND TIMESTAMP '2024-01-12 00:00:00'
  AND event_id IN (SELECT event_id FROM events WHERE event_id % 3 = 0)
UNION ALL
SELECT 'exists' AS dim, CAST(COUNT(*) AS BIGINT) AS n,
       {_dsum_sql('value')} AS total
FROM events
WHERE ts >= TIMESTAMP '2024-01-25 00:00:00'
  AND EXISTS (SELECT 1 FROM events WHERE event_id = 5)
""",
)
def q_sql_subquery_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statement pruning THROUGH subquery conjuncts (round 14 — VERDICT
    r13 'Next round #1', the most common BI spelling left): ``WHERE ts
    BETWEEN … AND id IN (SELECT …)`` previously FULL-SCANNED, because
    the single-SELECT unit guard saw two SELECTs and bailed the whole
    statement.  Each ``( SELECT … )`` span now MASKS to one opaque
    conjunct that claims nothing — sound because the WHERE is
    conjunctive over the join result, so every output row still
    satisfies the OUTER conjuncts, which claim exactly as before
    (file skips pinned by inputFiles in tests/test_sql_exec.py).
    Correlated spans and a table scanned both outside and inside a
    span keep the plain attach (the one pruned view would wrongly
    serve the subquery's scan).  The reference has no statement layer;
    at 100 TB the outer date window is the difference between a day's
    files and the table, subquery or not."""
    from .sql_exec import execute_sql

    cdir = _tsp_catalog(spark, sf_dir)
    ds = _dsum_spark("value")
    insubq = execute_sql(
        spark,
        f"SELECT 'insubq' AS dim, COUNT(*) AS n, {ds} AS total "
        "FROM tsp_events "
        "WHERE ts BETWEEN TIMESTAMP '2024-01-10 00:00:00' "
        "AND TIMESTAMP '2024-01-12 00:00:00' "
        "AND event_id IN "
        "(SELECT event_id FROM tsp_src WHERE event_id % 3 = 0)",
        cdir,
    )
    exq = execute_sql(
        spark,
        f"SELECT 'exists' AS dim, COUNT(*) AS n, {ds} AS total "
        "FROM tsp_events WHERE ts >= TIMESTAMP '2024-01-25 00:00:00' "
        "AND EXISTS (SELECT 1 FROM tsp_src WHERE event_id = 5)",
        cdir,
    )
    return insubq.unionByName(exq)


def _tsp_catalog(spark: SparkSession, sf_dir: str) -> str:
    """ONE ts-clustered events table (``tsp_events``, STATS BY
    (ts, event_id)) shared by the temporal pruning/metadata queries
    (`sql_timestamp_pruned_scan`, `sql_timestamp_pruned_ansi`,
    `sql_cte_pruned`, `sql_metadata_range_count`) — built once per
    sf_dir."""
    import tempfile

    from .sources import catalog as cat
    from .sources import snapshots as sn
    from .sql_exec import execute_sql_script

    key = ("_tsp_catalog", sf_dir)
    cdir = _SNAP_SQL_CACHE.get(key)
    if cdir is None:
        tmp = tempfile.mkdtemp(prefix="snap_tsp_")
        cdir = f"{tmp}/catalog"
        ev = roles.load_events(spark, sf_dir).select(
            "event_id", "ts", "event_type", "value"
        )
        root = f"{tmp}/events_src"
        sn.snapshot_overwrite(ev, root)
        cat.catalog_register(cdir, "tsp_src", root)
        execute_sql_script(
            spark,
            """
            CREATE TABLE tsp_events (
                event_id BIGINT, ts TIMESTAMP, etype STRING, value DOUBLE
            ) CLUSTERED BY (ts) STATS BY (ts, event_id);
            INSERT INTO tsp_events
                SELECT event_id, ts, event_type, CAST(value AS DOUBLE)
                FROM tsp_src;
            """,
            cdir,
        )
        _SNAP_SQL_CACHE[key] = cdir
    return cdir


@register(
    "sql_metadata_sum",
    # the metadata fold changes how the answer is COMPUTED (manifests,
    # zero data reads), never the answer — the oracle aggregates the
    # raw lineitem table under identical expressions.  AVG is spelled
    # as exact-sum / count in DuckDB: its HUGEINT sum cast to double
    # then divided matches both Spark's fold and the manifest fold
    # bit-exactly below 2^53 (the executor refuses above).
    """
SELECT CAST(l_orderkey % 4 AS BIGINT) AS g, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sq,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) / COUNT(*) AS aq
FROM lineitem GROUP BY 1
UNION ALL
SELECT CAST(-1 AS BIGINT) AS g, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sq,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) / COUNT(*) AS aq
FROM lineitem WHERE l_orderkey % 4 = 1
""",
)
def q_sql_metadata_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """METADATA-ONLY ``SUM``/``AVG`` from plain SQL text (round 13 —
    VERDICT r12 'Next round #5', the dashboard query): the write
    chokepoints record a DECIMAL-EXACT per-file sum for every integral
    stats column (`snapshots._file_int_sums` — one streamed read-back
    of the just-written file, the SUM twin of the NaN-count pass), so
    ``SELECT day_part, SUM(qty) … GROUP BY day_part``, the same under
    a partition predicate, and the whole-table form all answer from
    the manifest with ZERO data reads at any scale — pinned in
    tests/test_sql_exec.py by renaming every data file away.  The
    executor recognizes these shapes on Catalyst's optimized plan
    (`sql_exec._metadata_answer`: one Aggregate over a full table scan,
    the WHERE translated exactly into claims).  Exact by
    construction: integral sums fold associatively in arbitrary
    precision (float SUM refuses — Spark's own double SUM is
    order-dependent); a fold Spark's long/double accumulators would
    not reproduce (int64 wrap, a 2^53+ AVG operand) refuses to the
    real scan.  The reference SUMs by scanning SQLite; at 100 TB this
    is the difference between a manifest read and the table."""
    from pyspark.sql import functions as F

    from .sql_exec import execute_sql

    cdir = _msum_catalog(spark, sf_dir)
    grp = execute_sql(
        spark,
        "SELECT okey % 4 AS g, COUNT(*) AS n, SUM(qty) AS sq, "
        "AVG(qty) AS aq FROM msum_items GROUP BY okey % 4",
        cdir,
    )
    one = execute_sql(
        spark,
        "SELECT COUNT(*) AS n, SUM(qty) AS sq, AVG(qty) AS aq "
        "FROM msum_items WHERE okey % 4 = 1",
        cdir,
    ).select(F.lit(-1).cast("bigint").alias("g"), "n", "sq", "aq")
    return grp.unionByName(one)


def _msum_catalog(spark: SparkSession, sf_dir: str) -> str:
    """ONE hidden-partitioned lineitem projection (``msum_items``,
    PARTITIONED BY (okey % 4), STATS BY (okey, qty)) for the metadata
    SUM/AVG query — built once per sf_dir."""
    import tempfile

    from .sources import catalog as cat
    from .sources import snapshots as sn
    from .sources.io import read_parquet_cached_schema
    from .sql_exec import execute_sql_script

    key = ("_msum_catalog", sf_dir)
    cdir = _SNAP_SQL_CACHE.get(key)
    if cdir is None:
        tmp = tempfile.mkdtemp(prefix="snap_msum_")
        cdir = f"{tmp}/catalog"
        li = read_parquet_cached_schema(
            spark, os.path.join(sf_dir, "lineitem.parquet")
        ).select("l_orderkey", "l_quantity")
        root = f"{tmp}/items_src"
        sn.snapshot_overwrite(li, root)
        cat.catalog_register(cdir, "msum_src", root)
        execute_sql_script(
            spark,
            """
            CREATE TABLE msum_items (okey BIGINT, qty BIGINT)
                PARTITIONED BY (okey % 4 AS opart)
                STATS BY (okey, qty);
            INSERT INTO msum_items
                SELECT l_orderkey, CAST(l_quantity AS BIGINT)
                FROM msum_src;
            """,
            cdir,
        )
        _SNAP_SQL_CACHE[key] = cdir
    return cdir


def _mdec_catalog(spark: SparkSession, sf_dir: str) -> str:
    """ONE okey-clustered DECIMAL money table (``money_items``,
    STATS BY (okey, price)) for the decimal metadata SUM query —
    built once per sf_dir.  The price is INTEGER-DERIVED cents times
    an exact decimal 0.01, so Spark's build and DuckDB's oracle
    recomputation produce bit-identical decimals (a double→decimal
    cast could round differently at half-cent boundaries)."""
    import tempfile

    from .sources import catalog as cat
    from .sources import snapshots as sn
    from .sources.io import read_parquet_cached_schema
    from .sql_exec import execute_sql_script

    key = ("_mdec_catalog", sf_dir)
    cdir = _SNAP_SQL_CACHE.get(key)
    if cdir is None:
        tmp = tempfile.mkdtemp(prefix="snap_mdec_")
        cdir = f"{tmp}/catalog"
        li = read_parquet_cached_schema(
            spark, os.path.join(sf_dir, "lineitem.parquet")
        ).select("l_orderkey", "l_partkey")
        root = f"{tmp}/items_src"
        sn.snapshot_overwrite(li, root)
        cat.catalog_register(cdir, "mdec_src", root)
        execute_sql_script(
            spark,
            """
            CREATE TABLE money_items (okey BIGINT, price DECIMAL(12,2))
                CLUSTERED BY (okey) STATS BY (okey, price);
            INSERT INTO money_items
                SELECT l_orderkey,
                       CAST(CAST(l_orderkey % 100000 * 100
                                 + l_partkey % 100 AS DECIMAL(14,0))
                            * CAST(0.01 AS DECIMAL(3,2))
                            AS DECIMAL(12,2))
                FROM mdec_src;
            """,
            cdir,
        )
        _SNAP_SQL_CACHE[key] = cdir
    return cdir


@register(
    "sql_metadata_decimal_sum",
    # the metadata fold changes how the answer is COMPUTED (manifests,
    # zero data reads), never the answer — the oracle recomputes the
    # same integer-derived decimal prices from the raw lineitem table.
    # DuckDB's DECIMAL sum goes to DOUBLE through VARCHAR (the
    # _dsum_sql detour: its direct decimal→double conversion is not
    # guaranteed correctly rounded); Spark's BigDecimal→double cast is.
    """
WITH m AS (
    SELECT l_orderkey AS okey,
           CAST(CAST(l_orderkey % 100000 * 100 + l_partkey % 100
                     AS DECIMAL(14,0))
                * CAST(0.01 AS DECIMAL(3,2)) AS DECIMAL(12,2)) AS price
    FROM lineitem
)
SELECT 'total' AS dim, CAST(CAST(SUM(price) AS VARCHAR) AS DOUBLE) AS s,
       CAST(COUNT(*) AS BIGINT) AS n
FROM m
UNION ALL
SELECT 'window' AS dim, CAST(CAST(SUM(price) AS VARCHAR) AS DOUBLE) AS s,
       CAST(COUNT(*) AS BIGINT) AS n
FROM m WHERE okey BETWEEN 1000 AND 30000
""",
)
def q_sql_metadata_decimal_sum(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DECIMAL metadata SUM — the MONEY case (round 14 — VERDICT r13
    'Next round #2'): the write chokepoints record each DECIMAL stats
    column's exact UNSCALED integer sum in the same streamed read-back
    as the integral pass, so ``SELECT SUM(price) FROM money`` answers
    from the manifest with ZERO data reads (pinned by renaming every
    file away in tests/test_sql_exec.py) and the range-predicated form
    folds interior files unopened.  The fold is exact by construction
    (unscaled integers add associatively in arbitrary precision); a
    total wider than Spark's result type decimal(min(38,p+10),s)
    refuses — mirroring the int64-wrap rule — and AVG reproduces
    Spark's own HALF_UP decimal division (pinned empirically).  The
    SUM surfaces here cast to DOUBLE at the edge only for oracle
    portability (DuckDB fetches DECIMAL as float64).  The reference
    sums money by scanning SQLite; at 100 TB this is a manifest read
    vs the table."""
    from pyspark.sql import functions as F

    from .sql_exec import execute_sql

    cdir = _mdec_catalog(spark, sf_dir)

    def _arm(dim: str, stmt: str) -> DataFrame:
        return execute_sql(spark, stmt, cdir).select(
            F.lit(dim).alias("dim"),
            F.col("sdec").cast("double").alias("s"),
            F.col("n"),
        )

    tot = _arm(
        "total",
        "SELECT SUM(price) AS sdec, COUNT(*) AS n FROM money_items",
    )
    win = _arm(
        "window",
        "SELECT SUM(price) AS sdec, COUNT(*) AS n FROM money_items "
        "WHERE okey BETWEEN 1000 AND 30000",
    )
    return tot.unionByName(win)


@register(
    "sql_metadata_range_count",
    # the hybrid fold changes which FILES open (interior ones never
    # do), never the answer — the oracle counts the raw events table
    # under identical predicates
    """
SELECT 'window' AS dim, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(event_id) AS BIGINT) AS lo,
       CAST(MAX(event_id) AS BIGINT) AS hi
FROM events
WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
  AND ts < TIMESTAMP '2024-01-22 00:00:00'
UNION ALL
SELECT 'open_top' AS dim, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(event_id) AS BIGINT) AS lo,
       CAST(MAX(event_id) AS BIGINT) AS hi
FROM events WHERE event_id >= 400
""",
)
def q_sql_metadata_range_count(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """HYBRID metadata COUNT under RANGE predicates from plain SQL
    (round 12 — VERDICT r11 'Next round #4', the Iceberg/DataFusion
    shape): ``SELECT COUNT(*) … WHERE ts >= a AND ts < b`` over a
    ts-clustered table classifies every file from its manifest stats —
    INTERIOR files (whole span inside the window) fold from the
    recorded row and null counts and are NEVER OPENED (pinned in
    tests/test_sql_exec.py by renaming them away), EXCLUDED files fold
    as zero, and only the one-or-two window-EDGE files are scanned
    with the predicate re-applied.  NULL rows in a claimed column
    subtract exactly (the write chokepoints record per-file null
    counts — Iceberg's null_value_counts); float claims, residual
    conjuncts, MoR deletes and evolution fall back to the (at worst
    file-pruned) scan.  The reference COUNTs any window by scanning
    SQLite; at 100 TB this answers a two-week window from the
    manifest plus two files.  Build shared with
    `sql_timestamp_pruned_scan`."""
    from pyspark.sql import functions as F

    from .sql_exec import execute_sql

    cdir = _tsp_catalog(spark, sf_dir)
    # the metadata shape is EXACTLY `SELECT COUNT(*) [AS a] FROM t
    # WHERE <ranges>` — the dim label rides on the RESULT frame, not
    # in the statement (a literal select item would demote the
    # statement to the ordinary pruned scan — review, round 12)
    win = execute_sql(
        spark,
        "SELECT COUNT(*) AS n, MIN(event_id) AS lo, "
        "MAX(event_id) AS hi FROM tsp_events "
        "WHERE ts >= '2024-01-08 00:00:00' "
        "AND ts < '2024-01-22 00:00:00'",
        cdir,
    ).select(F.lit("window").alias("dim"), "n", "lo", "hi")
    opn = execute_sql(
        spark,
        "SELECT COUNT(*) AS n, MIN(event_id) AS lo, "
        "MAX(event_id) AS hi FROM tsp_events WHERE event_id >= 400",
        cdir,
    ).select(F.lit("open_top").alias("dim"), "n", "lo", "hi")
    return win.unionByName(opn)


@register(
    "sql_metadata_range_sum",
    # the hybrid fold changes which FILES open (interior ones fold
    # their recorded exact sums unopened), never the answer — the
    # oracle aggregates the raw lineitem table under identical
    # predicates.  AVG spelled as exact-sum / count (see
    # sql_metadata_sum's note on bit-exactness below 2^53).
    """
SELECT 'range' AS dim, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sq,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) / COUNT(*) AS aq
FROM lineitem WHERE l_orderkey >= 400 AND l_orderkey < 1200
UNION ALL
SELECT 'part_range' AS dim, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sq,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) / COUNT(*) AS aq
FROM lineitem WHERE l_orderkey % 4 = 1 AND l_orderkey >= 400
""",
)
def q_sql_metadata_range_sum(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """HYBRID metadata SUM/AVG under RANGE predicates (round 13 —
    completes VERDICT r12 'Next round #5' on the range shape):
    ``SELECT SUM(qty), AVG(qty), COUNT(*) … WHERE okey >= a AND
    okey < b`` folds INTERIOR files from their write-time
    decimal-exact per-file sums (`snapshots._file_int_sums`) without
    opening them — pinned in tests/test_sql_exec.py by renaming them
    away — while the one window-EDGE job accumulates SUM through
    decimal(38,0) alongside count and extremes.  A file with
    predicate-column NULLs demotes to that same boundary job (a
    filtered-out NULL-pred row's value rides inside the recorded sum
    and cannot be subtracted); int64-wrapping totals and 2^53+ AVG
    operands refuse to the real scan.  The second statement composes
    a HIDDEN-PARTITION equality (``okey % 4 = 1``) with the open
    range: mismatching partitions fold as excluded before any sum is
    touched.  The reference SUMs any window by scanning SQLite; at
    100 TB this answers a revenue window from the manifest plus the
    edge file.  Build shared with `sql_metadata_sum`."""
    from pyspark.sql import functions as F

    from .sql_exec import execute_sql

    cdir = _msum_catalog(spark, sf_dir)
    rng = execute_sql(
        spark,
        "SELECT COUNT(*) AS n, SUM(qty) AS sq, AVG(qty) AS aq "
        "FROM msum_items WHERE okey >= 400 AND okey < 1200",
        cdir,
    ).select(F.lit("range").alias("dim"), "n", "sq", "aq")
    part = execute_sql(
        spark,
        "SELECT COUNT(*) AS n, SUM(qty) AS sq, AVG(qty) AS aq "
        "FROM msum_items WHERE okey % 4 = 1 AND okey >= 400",
        cdir,
    ).select(F.lit("part_range").alias("dim"), "n", "sq", "aq")
    return rng.unionByName(part)


@register(
    "sql_topk_pruned",
    # top-k pruning changes which FILES open (only the threshold-
    # crossing ones), never the rows: the order column is UNIQUE in
    # the corpus, so the top-k SET is deterministic on both engines
    """
SELECT 'latest' AS dim, event_id, ts
FROM (SELECT event_id, ts FROM events ORDER BY event_id DESC LIMIT 100)
UNION ALL
SELECT 'window' AS dim, event_id, ts
FROM (SELECT event_id, ts FROM events
      WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
      ORDER BY event_id DESC LIMIT 50)
""",
)
def q_sql_topk_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATS-GUIDED TOP-K file pruning (round 13 — the 'latest N
    events' query): ``SELECT … ORDER BY col DESC LIMIT k`` computes a
    value threshold T0 from the manifest alone — accumulate per-file
    proven non-null matching row counts down the recorded max(col)
    order until k is reached; T0 = the min recorded min(col) over the
    taken files — and re-registers the view as the pruned scan with
    ``col >= T0`` composed onto the statement's own claims
    (`sql_exec._topk_attach`, which recognizes ``GlobalLimit / Sort``
    over the table's scan in Catalyst's optimized plan and translates
    the scan's filter exactly into claims).  At least k rows provably
    lie at or above T0, so no sub-threshold file can contribute to the LIMIT:
    on a clustered 100 TB table this reads one or two files where
    Spark's own sort+limit reads the table (its row-group pushdown
    has no ORDER-BY awareness).  ASC handles NULLS-FIRST defaults by
    requiring zero recorded order-column nulls; EQUALITY deletes,
    residual conjuncts, and NaN-suspect float stats decline to the
    ordinary pruner (POSITION-delete MoR tables engage since round
    14 — `sql_topk_mor_pruned`).  Pinned by
    inputFiles in tests/test_sql_exec.py.  Build shared with
    `sql_timestamp_pruned_scan` (`_tsp_catalog`)."""
    from pyspark.sql import functions as F

    from .sql_exec import execute_sql

    cdir = _tsp_catalog(spark, sf_dir)
    latest = execute_sql(
        spark,
        "SELECT event_id, ts FROM tsp_events "
        "ORDER BY event_id DESC LIMIT 100",
        cdir,
    ).select(F.lit("latest").alias("dim"), "event_id", "ts")
    windowed = execute_sql(
        spark,
        "SELECT event_id, ts FROM tsp_events "
        "WHERE ts >= '2024-01-08 00:00:00' "
        "ORDER BY event_id DESC LIMIT 50",
        cdir,
    ).select(F.lit("window").alias("dim"), "event_id", "ts")
    return latest.unionByName(windowed)


def _tkm_catalog(spark: SparkSession, sf_dir: str) -> str:
    """An event_id-clustered events table with POSITION deletes live
    (a DML ``DELETE … WHERE`` range) for the MoR top-k query — built
    once per sf_dir."""
    import tempfile

    from .sources import catalog as cat
    from .sources import snapshots as sn
    from .sql_exec import execute_sql, execute_sql_script

    key = ("_tkm_catalog", sf_dir)
    cdir = _SNAP_SQL_CACHE.get(key)
    if cdir is None:
        tmp = tempfile.mkdtemp(prefix="snap_tkm_")
        cdir = f"{tmp}/catalog"
        ev = roles.load_events(spark, sf_dir).select(
            "event_id", "ts", "event_type"
        )
        root = f"{tmp}/events_src"
        sn.snapshot_overwrite(ev, root)
        cat.catalog_register(cdir, "tkm_src", root)
        execute_sql_script(
            spark,
            """
            CREATE TABLE tkm_events (
                event_id BIGINT, ts TIMESTAMP, etype STRING
            ) CLUSTERED BY (event_id) STATS BY (event_id, ts);
            INSERT INTO tkm_events
                SELECT event_id, ts, event_type FROM tkm_src;
            """,
            cdir,
        )
        execute_sql(
            spark,
            "DELETE FROM tkm_events "
            "WHERE event_id BETWEEN 300 AND 499",
            cdir,
        )
        _SNAP_SQL_CACHE[key] = cdir
    return cdir


@register(
    "sql_topk_mor_pruned",
    # top-k pruning changes which FILES open, never the rows — the
    # oracle drops the DML-deleted range from the raw events table and
    # takes the same deterministic top-k (event_id is unique)
    """
SELECT 'latest' AS dim, event_id, ts
FROM (SELECT event_id, ts FROM events
      WHERE event_id NOT BETWEEN 300 AND 499
      ORDER BY event_id DESC LIMIT 100)
UNION ALL
SELECT 'across' AS dim, event_id, ts
FROM (SELECT event_id, ts FROM events
      WHERE event_id NOT BETWEEN 300 AND 499 AND event_id < 520
      ORDER BY event_id DESC LIMIT 100)
""",
)
def q_sql_topk_mor_pruned(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MoR-AWARE TOP-K file pruning (round 14 — VERDICT r13 'Next
    round #3'): on a table with live POSITION deletes (the engine's
    own ``DELETE … WHERE`` DML), recorded per-file row counts
    OVERCOUNT the live rows — so the threshold accumulation inflates
    its target by the TOTAL delete-list row count (each position
    delete kills at most one recorded row; an over-subtraction only
    takes MORE files, never a wrong threshold) and the re-registered
    pruned view MERGES the deletes itself.  The 'latest 100 events'
    query on a CDC-maintained 100 TB table thus still reads a handful
    of files without waiting for compaction.  EQUALITY deletes (one
    key row can kill unboundedly many data rows) keep declining —
    both pinned with inputFiles in tests/test_sql_exec.py."""
    from pyspark.sql import functions as F

    from .sql_exec import execute_sql

    cdir = _tkm_catalog(spark, sf_dir)
    latest = execute_sql(
        spark,
        "SELECT event_id, ts FROM tkm_events "
        "ORDER BY event_id DESC LIMIT 100",
        cdir,
    ).select(F.lit("latest").alias("dim"), "event_id", "ts")
    # a window CROSSING the deleted range: the top-k here contains
    # rows on both sides of the tombstoned ids, so this arm hashes
    # red if the pruned view ever stopped MERGING the deletes
    across = execute_sql(
        spark,
        "SELECT event_id, ts FROM tkm_events WHERE event_id < 520 "
        "ORDER BY event_id DESC LIMIT 100",
        cdir,
    ).select(F.lit("across").alias("dim"), "event_id", "ts")
    return latest.unionByName(across)


@register(
    "sql_metadata_watermark",
    # the temporal fold changes WHERE the answer comes from (recorded
    # ISO stat strings vs a scan), never the answer — the oracle
    # aggregates the raw events table under identical predicates
    """
SELECT 'all' AS dim, MIN(ts) AS lo, MAX(ts) AS hi,
       CAST(COUNT(*) AS BIGINT) AS n
FROM events
UNION ALL
SELECT 'open' AS dim, MIN(ts) AS lo, MAX(ts) AS hi,
       CAST(COUNT(*) AS BIGINT) AS n
FROM events WHERE event_id >= 400
""",
)
def q_sql_metadata_watermark(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The WATERMARK query from metadata (round 13): ``SELECT
    MAX(ts) FROM t`` — what every incremental ingestion job runs
    first — answers by converting the recorded ISO stat strings to
    typed UTC instants and folding driver-side, ZERO data reads at
    any scale (pinned in tests/test_sql_exec.py by renaming every
    file away); the windowed form folds interior files and scans only
    the window edge.  TIMESTAMP answers under a UTC session only
    (recorded stats are UTC instants — a non-UTC session would
    collect different wall-clock values and refuses to the scan);
    DATE has no session dependence.  The reference MAXes by scanning
    SQLite; at 100 TB this is the difference between a manifest read
    and a full-table aggregate every pipeline tick.  Build shared
    with `sql_timestamp_pruned_scan` (`_tsp_catalog`)."""
    from pyspark.sql import functions as F

    from .sql_exec import execute_sql

    cdir = _tsp_catalog(spark, sf_dir)
    whole = execute_sql(
        spark,
        "SELECT MIN(ts) AS lo, MAX(ts) AS hi, COUNT(*) AS n "
        "FROM tsp_events",
        cdir,
    ).select(F.lit("all").alias("dim"), "lo", "hi", "n")
    windowed = execute_sql(
        spark,
        "SELECT MIN(ts) AS lo, MAX(ts) AS hi, COUNT(*) AS n "
        "FROM tsp_events WHERE event_id >= 400",
        cdir,
    ).select(F.lit("open").alias("dim"), "lo", "hi", "n")
    return whole.unionByName(windowed)


@register(
    "sql_group_range_hybrid",
    # the grouped hybrid changes which FILES open per group (interior
    # ones fold their recorded counts/sums/stats unopened), never the
    # answer — the oracle groups the raw events table under identical
    # predicates and expressions
    """
SELECT 'open_eid' AS dim, day(ts) AS g, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(event_id * 3) AS BIGINT) AS sv,
       CAST(MAX(event_id) AS BIGINT) AS hi
FROM events WHERE event_id >= 400 GROUP BY day(ts)
UNION ALL
SELECT 'window' AS dim, day(ts) AS g, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(event_id * 3) AS BIGINT) AS sv,
       CAST(MAX(event_id) AS BIGINT) AS hi
FROM events WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
GROUP BY day(ts)
""",
)
def q_sql_group_range_hybrid(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The GROUPED metadata hybrid (round 13 — the dashboard query):
    ``SELECT DAY(ts), COUNT(*), SUM(v), MAX(eid) … WHERE <range>
    GROUP BY DAY(ts)`` over a hidden-partitioned table classifies
    every file from its manifest — INTERIOR files fold recorded
    row counts, decimal-exact per-file sums, and min/max stats into
    their recorded partition group WITHOUT BEING OPENED (pinned in
    tests/test_sql_exec.py by renaming them away), EXCLUDED files
    fold as nothing, and only window-EDGE or value-less files take
    ONE grouped scan (`snapshots.snapshot_group_range_agg`).  The
    same trust gates as the one-row hybrid apply per group:
    predicate-column nulls demote the file, sums must be recorded and
    integral, extremes must be NaN-free, int64-wrapping group sums
    refuse to the real scan.  The reference answers dashboards by
    scanning SQLite; at 100 TB this is a rows/revenue-per-day panel
    from the manifest plus the edge files."""
    from pyspark.sql import functions as F

    from .sql_exec import execute_sql

    cdir = _dash_catalog(spark, sf_dir)
    a = execute_sql(
        spark,
        "SELECT DAY(ts) AS g, COUNT(*) AS n, SUM(v) AS sv, "
        "MAX(eid) AS hi FROM dash_events WHERE eid >= 400 "
        "GROUP BY DAY(ts)",
        cdir,
    ).select(F.lit("open_eid").alias("dim"), "g", "n", "sv", "hi")
    b = execute_sql(
        spark,
        "SELECT DAY(ts) AS g, COUNT(*) AS n, SUM(v) AS sv, "
        "MAX(eid) AS hi FROM dash_events "
        "WHERE ts >= '2024-01-08 00:00:00' GROUP BY DAY(ts)",
        cdir,
    ).select(F.lit("window").alias("dim"), "g", "n", "sv", "hi")
    return a.unionByName(b)


@register(
    "sql_count_distinct_partitions",
    # the fold changes WHERE the count comes from (recorded values vs
    # a scan), never the answer
    """
SELECT 'all' AS dim, CAST(COUNT(DISTINCT day(ts)) AS BIGINT) AS nd
FROM events
UNION ALL
SELECT 'window' AS dim, CAST(COUNT(DISTINCT day(ts)) AS BIGINT) AS nd
FROM events WHERE event_id >= 400
""",
)
def q_sql_count_distinct_partitions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``COUNT(DISTINCT <transform>)`` from the manifest (round 13 —
    "how many days of data do we have?"): the distinct recorded
    partition values counted driver-side, NULL excluded exactly as
    Spark's COUNT DISTINCT; under a WHERE the grouped hybrid
    classifies files first, so only groups with at least one
    provably-matching row count (window-edge files take the one
    grouped scan).  String-output transforms refuse when a NULL group
    is recorded (hive's marker conflates NULL/''/the marker).  Build
    shared with `sql_group_range_hybrid` (`_dash_catalog`)."""
    from pyspark.sql import functions as F

    from .sql_exec import execute_sql

    cdir = _dash_catalog(spark, sf_dir)
    a = execute_sql(
        spark,
        "SELECT COUNT(DISTINCT DAY(ts)) AS nd FROM dash_events",
        cdir,
    ).select(F.lit("all").alias("dim"), "nd")
    b = execute_sql(
        spark,
        "SELECT COUNT(DISTINCT DAY(ts)) AS nd FROM dash_events "
        "WHERE eid >= 400",
        cdir,
    ).select(F.lit("window").alias("dim"), "nd")
    return a.unionByName(b)


@register(
    "sql_dashboard_tails",
    # HAVING/ORDER/LIMIT post-process the folded result — the group
    # key (day) is unique, so the HAVING+LIMIT row SET is
    # deterministic on both engines
    """
SELECT * FROM (
  SELECT day(ts) AS g, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(event_id * 3) AS BIGINT) AS sv
  FROM events WHERE event_id >= 400
  GROUP BY day(ts) HAVING COUNT(*) >= 5
  ORDER BY g DESC LIMIT 10
)
""",
)
def q_sql_dashboard_tails(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL dashboard spelling on the grouped metadata hybrid
    (round 13): ``… WHERE <range> GROUP BY day(ts) HAVING COUNT(*) >=
    5 ORDER BY g DESC LIMIT 10`` — the WHERE classifies files
    (interior groups fold unopened), and the HAVING / ORDER BY /
    LIMIT tail post-processes the tiny folded result driver-side,
    never touching data.  HAVING takes agg spellings or select
    aliases with SQL's NULL-drops-the-group semantics; ORDER BY takes
    the unique group key (expression, alias, or ordinal under Spark's
    conf) or one agg reference with Spark's default null ordering;
    LIMIT slices after the sort.  The reference renders dashboards by
    scanning SQLite and sorting client-side; at 100 TB this is a
    top-10-days panel from the manifest plus the window-edge files.
    Build shared with `sql_group_range_hybrid` (`_dash_catalog`)."""
    from .sql_exec import execute_sql

    cdir = _dash_catalog(spark, sf_dir)
    return execute_sql(
        spark,
        "SELECT DAY(ts) AS g, COUNT(*) AS n, SUM(v) AS sv "
        "FROM dash_events WHERE eid >= 400 GROUP BY DAY(ts) "
        "HAVING COUNT(*) >= 5 ORDER BY g DESC LIMIT 10",
        cdir,
    )


def _dash_catalog(spark: SparkSession, sf_dir: str) -> str:
    """ONE day-partitioned events projection with integral metric
    columns (``dash_events``, PARTITIONED BY (DAY(ts)), STATS BY
    (eid, ts, v)) for the grouped-hybrid query — built once per
    sf_dir."""
    import tempfile

    from .sources import catalog as cat
    from .sources import snapshots as sn
    from .sql_exec import execute_sql_script

    key = ("_dash_catalog", sf_dir)
    cdir = _SNAP_SQL_CACHE.get(key)
    if cdir is None:
        tmp = tempfile.mkdtemp(prefix="snap_dash_")
        cdir = f"{tmp}/catalog"
        ev = roles.load_events(spark, sf_dir).select("event_id", "ts")
        sn.snapshot_overwrite(ev, f"{tmp}/events_src")
        cat.catalog_register(cdir, "dash_src", f"{tmp}/events_src")
        execute_sql_script(
            spark,
            """
            CREATE TABLE dash_events (eid BIGINT, ts TIMESTAMP, v BIGINT)
              PARTITIONED BY (DAY(ts) AS d) STATS BY (eid, ts, v);
            INSERT INTO dash_events
              SELECT event_id, ts, event_id * 3 FROM dash_src;
            """,
            cdir,
        )
        _SNAP_SQL_CACHE[key] = cdir
    return cdir


@register(
    "sql_partition_transform_pruned",
    f"""
SELECT event_type AS etype, CAST(COUNT(*) AS BIGINT) AS n,
       {_dsum_sql('value')} AS total
FROM events WHERE day(ts) = 15
GROUP BY event_type ORDER BY etype
""",
)
def q_sql_partition_transform_pruned(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """FUNCTION partition transforms prune from SQL text (round 11):
    the table is hidden-partitioned by ``DAY(ts)`` — an Iceberg-style
    transform declared in SQL DDL — and the statement's
    ``WHERE DAY(ts) = 15`` matches the transform structurally in
    Catalyst's optimized plan (the filter over the scan against the
    transform analyzed over the table), skipping every other day's
    files by recorded partition values alone.  Literals arrive typed
    by the analyzer, so ``day_part = '15'`` claims the integer 15
    exactly as Spark compares it.  The
    hidden-partition contract is Iceberg's: the user writes the
    NATURAL predicate, never a partition column.  Build cached per
    (query, sf_dir); partition-skip evidence in
    tests/test_sql_exec.py."""
    import tempfile

    from .sources import catalog as cat
    from .sources import snapshots as sn
    from .sql_exec import execute_sql, execute_sql_script

    key = ("sql_partition_transform_pruned", sf_dir)
    cdir = _SNAP_SQL_CACHE.get(key)
    if cdir is None:
        tmp = tempfile.mkdtemp(prefix="snap_ptp_")
        cdir = f"{tmp}/catalog"
        ev = roles.load_events(spark, sf_dir).select(
            "ts", "event_type", "value"
        )
        root = f"{tmp}/events_src"
        sn.snapshot_overwrite(ev, root)
        cat.catalog_register(cdir, "ptp_src", root)
        execute_sql_script(
            spark,
            """
            CREATE TABLE ptp_events (
                ts TIMESTAMP, etype STRING, value DOUBLE
            ) PARTITIONED BY (DAY(ts) AS d);
            INSERT INTO ptp_events
                SELECT ts, event_type, CAST(value AS DOUBLE) FROM ptp_src;
            """,
            cdir,
        )
        _SNAP_SQL_CACHE[key] = cdir
    ds = _dsum_spark("value")
    return execute_sql(
        spark,
        f"SELECT etype, COUNT(*) AS n, {ds} AS total "
        "FROM ptp_events WHERE DAY(ts) = 15 "
        "GROUP BY etype ORDER BY etype",
        cdir,
    )


@register(
    "sql_star_join_pruned",
    # pruning changes which FILES open per table, never the answer —
    # the oracle joins the raw tables under identical predicates
    f"""
SELECT c_mktsegment AS segment, CAST(COUNT(*) AS BIGINT) AS n,
       {_dsum_sql('o_totalprice')} AS total
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
  AND c_custkey BETWEEN 20 AND 700
GROUP BY c_mktsegment ORDER BY segment
""",
)
def q_sql_star_join_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-TABLE statement pruning (round 11 — the star-join
    pattern): a fact table clustered on its date and a dim clustered
    on its key are joined with plain SQL; Catalyst's optimized plan
    pushes each WHERE conjunct onto its own table's scan, and the
    statement executor re-registers BOTH views through
    `read_snapshot_pruned` over those filters — the fact side opens only
    the date window's files (a half-open ``>= .. <`` range, the
    canonical incremental scan), the dim side only the key range's.
    At 100 TB this is the dominant query shape: the
    reference joins its whole sessions table for any window
    (pipeline/queries.py); here the window IS the scan.  Build cached
    per (query, sf_dir); per-table file counts pinned in
    tests/test_sql_exec.py."""
    from .sql_exec import execute_sql

    cdir = _sjp_catalog(spark, sf_dir)
    ds = _dsum_spark("o_totalprice")
    return execute_sql(
        spark,
        f"""
SELECT c_mktsegment AS segment, COUNT(*) AS n, {ds} AS total
FROM sjp_orders JOIN sjp_customer ON o_custkey = c_custkey
WHERE o_orderdate >= '1996-01-01 00:00:00'
  AND o_orderdate < '1996-04-01 00:00:00'
  AND c_custkey BETWEEN 20 AND 700
GROUP BY c_mktsegment ORDER BY segment
""",
        cdir,
    )


def _sjp_catalog(spark: SparkSession, sf_dir: str) -> str:
    """ONE date-clustered orders fact + key-clustered customer dim
    catalog shared by the join-pruning queries (`sql_star_join_pruned`
    and `sql_left_join_pruned`) — built once per sf_dir."""
    import tempfile

    from .sources import catalog as cat
    from .sources import snapshots as sn
    from .sources.io import read_parquet_cached_schema

    key = ("_sjp_catalog", sf_dir)
    cdir = _SNAP_SQL_CACHE.get(key)
    if cdir is None:
        tmp = tempfile.mkdtemp(prefix="snap_sjp_")
        cdir = f"{tmp}/catalog"
        o = read_parquet_cached_schema(
            spark, os.path.join(sf_dir, "orders.parquet")
        ).select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
        sn.snapshot_append_clustered(
            o, f"{tmp}/orders", ["o_orderdate"], n_files=8
        )
        c = read_parquet_cached_schema(
            spark, os.path.join(sf_dir, "customer.parquet")
        ).select("c_custkey", "c_mktsegment")
        sn.snapshot_append_clustered(
            c, f"{tmp}/customer", ["c_custkey"], n_files=8
        )
        cat.catalog_register(cdir, "sjp_orders", f"{tmp}/orders")
        cat.catalog_register(cdir, "sjp_customer", f"{tmp}/customer")
        _SNAP_SQL_CACHE[key] = cdir
    return cdir


@register(
    "sql_left_join_pruned",
    # pruning changes which FILES open on the PRESERVED/PROBE side,
    # never the answer — the oracle replays the identical outer/semi/
    # anti semantics over the raw tables (EXISTS twins the semi join)
    f"""
WITH w AS (
    SELECT o_custkey, o_totalprice FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
)
SELECT COALESCE(c_mktsegment, 'NONE') AS segment,
       CAST(COUNT(*) AS BIGINT) AS n,
       {_dsum_sql('o_totalprice')} AS total
FROM w LEFT JOIN customer
  ON o_custkey = c_custkey AND c_custkey <= 200
GROUP BY 1
UNION ALL
SELECT 'match' AS segment, CAST(COUNT(*) AS BIGINT) AS n,
       {_dsum_sql('o_totalprice')} AS total
FROM w WHERE EXISTS (
    SELECT 1 FROM customer
    WHERE c_custkey = o_custkey AND c_mktsegment = 'BUILDING'
)
UNION ALL
SELECT 'nomatch' AS segment, CAST(COUNT(*) AS BIGINT) AS n,
       {_dsum_sql('o_totalprice')} AS total
FROM w WHERE NOT EXISTS (
    SELECT 1 FROM customer
    WHERE c_custkey = o_custkey AND c_mktsegment = 'BUILDING'
)
""",
)
def q_sql_left_join_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OUTER/SEMI/ANTI statement pruning (round 12 — VERDICT r11
    'What's missing #1', the most common BI shape over a snapshot
    table): a ``fact LEFT JOIN dim … WHERE fact.ts >= …`` statement
    prunes the PRESERVED side by its own date-window conjuncts —
    identical soundness to the inner case, since every output row
    binds the preserved side's columns from a real row — while the
    null-extendable dim keeps the plain attach (pruning it could turn
    matched rows into null-extended ones).  LEFT SEMI / ANTI prune
    the probe side the same way.  Previously these shapes paid a
    full-table attach (the round-11 bail); at 100 TB the window IS
    the scan on exactly the statements BI tools emit.  Build shared
    with `sql_star_join_pruned`; per-side file counts pinned in
    tests/test_sql_exec.py."""
    from .sql_exec import execute_sql

    cdir = _sjp_catalog(spark, sf_dir)
    ds = _dsum_spark("o_totalprice")
    win = (
        "o_orderdate >= '1996-01-01 00:00:00' "
        "AND o_orderdate < '1996-04-01 00:00:00'"
    )
    left = execute_sql(
        spark,
        f"""
SELECT COALESCE(c_mktsegment, 'NONE') AS segment, COUNT(*) AS n,
       {ds} AS total
FROM sjp_orders LEFT JOIN sjp_customer
  ON o_custkey = c_custkey AND c_custkey <= 200
WHERE {win}
GROUP BY COALESCE(c_mktsegment, 'NONE')
""",
        cdir,
    )
    semi = execute_sql(
        spark,
        f"""
SELECT 'match' AS segment, COUNT(*) AS n, {ds} AS total
FROM sjp_orders LEFT SEMI JOIN sjp_customer
  ON o_custkey = c_custkey AND c_mktsegment = 'BUILDING'
WHERE {win}
""",
        cdir,
    )
    anti = execute_sql(
        spark,
        f"""
SELECT 'nomatch' AS segment, COUNT(*) AS n, {ds} AS total
FROM sjp_orders ANTI JOIN sjp_customer
  ON o_custkey = c_custkey AND c_mktsegment = 'BUILDING'
WHERE {win}
""",
        cdir,
    )
    return left.unionByName(semi).unionByName(anti)


@register(
    "sql_metadata_partition_count",
    """
SELECT 'eq' AS dim, CAST(COUNT(*) AS BIGINT) AS n
FROM events WHERE day(ts) = 15
UNION ALL
SELECT 'inlist' AS dim, CAST(COUNT(*) AS BIGINT) AS n
FROM events WHERE day(ts) IN (3, 15, 27)
UNION ALL
SELECT 'or' AS dim, CAST(COUNT(*) AS BIGINT) AS n
FROM events WHERE day(ts) = 1 OR day(ts) = 28
""",
)
def q_sql_metadata_partition_count(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """METADATA-ONLY COUNT under a partition predicate (round 11 —
    Iceberg's partition-count path): ``SELECT COUNT(*) FROM t WHERE
    DAY(ts) = 15`` on a hidden-partitioned table is answered by
    `snapshot_partition_count` from manifest row counts alone — every
    row of a partitioned file shares its recorded transform value, so
    with no residual conjunct the sum over matching files IS the
    count, ZERO data-file reads at any scale (pinned in
    tests/test_sql_exec.py by renaming every data file away).  The
    shape is read off Catalyst's optimized plan
    (`sql_exec._metadata_answer`); any statement the metadata cannot
    answer exactly — a residual conjunct, MoR deletes, mixed lineage —
    falls back to the (file-pruned) scan.  The reference COUNTs by
    scanning SQLite; on 100 TB this path answers without opening a
    file.  Build shared with `sql_show_partitions`
    (`_dpe_catalog`), cached per sf_dir."""
    from pyspark.sql import functions as F

    from .sql_exec import execute_sql

    cdir = _dpe_catalog(spark, sf_dir)
    eq = execute_sql(
        spark,
        "SELECT COUNT(*) AS n FROM dpe_events WHERE DAY(ts) = 15",
        cdir,
    ).select(F.lit("eq").alias("dim"), "n")
    # round 12: IN lists and same-transform ORs fold the same way —
    # the sum of matching partitions' recorded row counts
    inl = execute_sql(
        spark,
        "SELECT COUNT(*) AS n FROM dpe_events "
        "WHERE DAY(ts) IN (3, 15, 27)",
        cdir,
    ).select(F.lit("inlist").alias("dim"), "n")
    disj = execute_sql(
        spark,
        "SELECT COUNT(*) AS n FROM dpe_events "
        "WHERE DAY(ts) = 1 OR DAY(ts) = 28",
        cdir,
    ).select(F.lit("or").alias("dim"), "n")
    return eq.unionByName(inl).unionByName(disj)


@register(
    "sql_partition_group_count",
    # the fold changes WHERE the counts come from (manifest vs scan),
    # never the answer — the oracle groups the raw events table
    """
SELECT day(ts) AS d, CAST(COUNT(*) AS BIGINT) AS n
FROM events GROUP BY day(ts)
""",
)
def q_sql_partition_group_count(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PARTITION-GRAIN GROUP BY from the manifest (round 12 — VERDICT
    r11 'Next round #5'): ``SELECT DAY(ts), COUNT(*) … GROUP BY
    DAY(ts)`` over a hidden-partitioned table answers from the
    recorded per-file partition values and row counts — every row of
    a partitioned file shares its file's transform value, so the
    per-value sum IS each group's count, ZERO data reads at any scale
    (schema-identical to real execution: the key column reuses the
    analyzed expression's own type/nullability).  MoR deletes, mixed
    lineage, residual conjuncts, and non-transform groupings fall back
    to the real aggregation; HAVING / ORDER BY / LIMIT above the
    Aggregate run in Spark over the folded rows
    (`sql_exec._metadata_answer`).  The reference GROUPs by scanning SQLite
    (pipeline/queries.py); at 100 TB this is a dashboard's
    rows-per-day panel answered without opening a file.  Build shared
    with `sql_metadata_partition_count` (`_dpe_catalog`)."""
    from .sql_exec import execute_sql

    cdir = _dpe_catalog(spark, sf_dir)
    return execute_sql(
        spark,
        "SELECT DAY(ts) AS d, COUNT(*) AS n FROM dpe_events "
        "GROUP BY DAY(ts)",
        cdir,
    )


@register(
    "sql_distinct_partitions",
    """
SELECT DISTINCT day(ts) AS d FROM events
""",
)
def q_sql_distinct_partitions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``SELECT DISTINCT <transform expr>`` from the MANIFEST (round
    12): every row of a hidden-partitioned file shares its file's
    recorded transform value, so the distinct recorded values ARE the
    distinct transform outputs — zero data reads at any scale,
    schema-identical to real execution (the analyzed expression's own
    type/nullability).  The "what days do we have?" statement every
    dashboard runs first; the reference scans SQLite for it.  MoR
    deletes, mixed lineage, and non-transform expressions fall back.
    Build shared with `sql_metadata_partition_count`
    (`_dpe_catalog`)."""
    from .sql_exec import execute_sql

    cdir = _dpe_catalog(spark, sf_dir)
    return execute_sql(
        spark, "SELECT DISTINCT DAY(ts) AS d FROM dpe_events", cdir
    )


def _dpe_catalog(spark: SparkSession, sf_dir: str) -> str:
    """ONE day-partitioned events table (``dpe_events``, PARTITIONED BY
    (DAY(ts) AS d)) shared by the round-11 metadata queries — built
    once per sf_dir (review, round 11: two verbatim builds paid a
    second partitioned INSERT per scale factor and could silently
    diverge)."""
    import tempfile

    from .sources import catalog as cat
    from .sources import snapshots as sn
    from .sql_exec import execute_sql_script

    key = ("_dpe_catalog", sf_dir)
    cdir = _SNAP_SQL_CACHE.get(key)
    if cdir is None:
        tmp = tempfile.mkdtemp(prefix="snap_dpe_")
        cdir = f"{tmp}/catalog"
        ev = roles.load_events(spark, sf_dir).select("ts", "value")
        sn.snapshot_overwrite(ev, f"{tmp}/events_src")
        cat.catalog_register(cdir, "dpe_src", f"{tmp}/events_src")
        execute_sql_script(
            spark,
            """
            CREATE TABLE dpe_events (ts TIMESTAMP, value DOUBLE)
              PARTITIONED BY (DAY(ts) AS d);
            INSERT INTO dpe_events SELECT ts, CAST(value AS DOUBLE)
              FROM dpe_src;
            """,
            cdir,
        )
        _SNAP_SQL_CACHE[key] = cdir
    return cdir


@register(
    "sql_show_partitions",
    """
SELECT CAST(day(ts) AS VARCHAR) AS d, CAST(COUNT(*) AS BIGINT) AS n
FROM events GROUP BY 1
""",
)
def q_sql_show_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``SHOW PARTITIONS`` on the SQL surface (round 11): the
    PARTITIONS metadata table — one row per hidden-partition tuple
    with file/row/byte counts, MANIFESTS ONLY, zero data reads — now
    reachable from a plain SQL statement (`snapshot_partitions`, the
    Iceberg ``<table>.partitions`` analog).  The oracle recomputes the
    per-partition row counts the slow way (group the raw events by
    the transform value); the recorded counts must match exactly —
    the planning view a 100 TB operator sizes compaction and spots
    skew with, priced at a metadata read.  Build cached per
    (query, sf_dir); build shared with
    `sql_metadata_partition_count` (`_dpe_catalog`)."""
    from pyspark.sql import functions as F

    from .sql_exec import execute_sql

    cdir = _dpe_catalog(spark, sf_dir)
    out = execute_sql(spark, "SHOW PARTITIONS dpe_events", cdir)
    # drop ONLY the zero-row explicit-schema CREATE file's
    # unpartitioned tuple (its map has no 'd' KEY) — a genuine NULL
    # day partition keeps its key with a null value and must stay,
    # matching the oracle's NULL group (review, round 11)
    return (
        out.where(F.map_contains_key("partition", F.lit("d")))
        .select(
            out["partition"]["d"].alias("d"),
            out["row_count"].alias("n"),
        )
    )


@register(
    "sql_metadata_agg",
    """
SELECT CAST(MIN(o_orderkey) AS BIGINT) AS lo,
       CAST(MAX(o_orderkey) AS BIGINT) AS hi,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(o_custkey) AS BIGINT) AS lc,
       CAST(MIN(o_totalprice) AS DOUBLE) AS lp,
       CAST(MAX(o_totalprice) AS DOUBLE) AS hp
FROM orders
""",
)
def q_sql_metadata_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """METADATA-ONLY MIN/MAX/COUNT from plain SQL (round 11 —
    Iceberg's aggregate pushdown reaching the statement surface): a
    ``SELECT MIN/MAX/COUNT(*) FROM t`` statement over a stats-recorded
    table answers from `snapshot_stats_agg` — per-file row counts and
    recorded min/max folded driver-side, ZERO data reads at any scale,
    schema-identical to real execution (the result reuses each
    column's own Spark type).  NUMERIC columns only: integral stats
    are value-exact; FLOAT/DOUBLE answer since round 12 under the
    write-time NaN counts (`_file_stats(nan_counts=True)` — Iceberg's
    nan_value_counts): a file whose count is zero proves its finite
    footer stats hide nothing, a NaN-carrying or count-less file
    refuses and the real scan runs (parquet writers EXCLUDE NaN from
    min/max, so finite stats alone cannot match Spark's
    NaN-is-greatest ordering).  DATE and (UTC session) TIMESTAMP
    stats convert to typed values; string stats refuse.  MoR deletes
    and missing stats fall back to the real aggregation; a WHERE
    routes to the partition or range folds of the same decider
    (`sql_exec._metadata_answer`, read off Catalyst's optimized
    plan).  Zero-read
    pin in tests/test_sql_exec.py (files renamed away).  Build cached
    per (query, sf_dir)."""
    import tempfile

    from .sources import catalog as cat
    from .sources import snapshots as sn
    from .sql_exec import execute_sql, execute_sql_script

    key = ("sql_metadata_agg", sf_dir)
    cdir = _SNAP_SQL_CACHE.get(key)
    if cdir is None:
        from .sources.io import read_parquet_cached_schema

        tmp = tempfile.mkdtemp(prefix="snap_mda_")
        cdir = f"{tmp}/catalog"
        o = read_parquet_cached_schema(
            spark, os.path.join(sf_dir, "orders.parquet")
        ).select("o_orderkey", "o_custkey", "o_totalprice")
        sn.snapshot_overwrite(o, f"{tmp}/orders_src")
        cat.catalog_register(cdir, "mda_src", f"{tmp}/orders_src")
        execute_sql_script(
            spark,
            """
            CREATE TABLE mda_orders (okey BIGINT, cust BIGINT,
                                     price DOUBLE)
              CLUSTERED BY (okey) STATS BY (okey, cust, price);
            INSERT INTO mda_orders
                SELECT o_orderkey, CAST(o_custkey AS BIGINT),
                       CAST(o_totalprice AS DOUBLE)
                FROM mda_src;
            """,
            cdir,
        )
        _SNAP_SQL_CACHE[key] = cdir
    return execute_sql(
        spark,
        "SELECT MIN(okey) AS lo, MAX(okey) AS hi, COUNT(*) AS n, "
        "MIN(cust) AS lc, MIN(price) AS lp, MAX(price) AS hp "
        "FROM mda_orders",
        cdir,
    )
