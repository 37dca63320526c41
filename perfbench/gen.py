"""Seeded input generators and independent expected answers.

Everything here is a pure function of ``(workload, seed)``: the same seed
gives byte-identical inputs and the same expected answers.  The expected
answers are computed by DuckDB (or plain Python) over the generated files,
never by the program under test.

Run as a script, it writes one workload's inputs and ``expected.json``
into ``--out``; the benchmark runs it in a child process so that numpy,
pyarrow and DuckDB memory never lands in the measured Python process.
"""

from __future__ import annotations

import argparse
import datetime as dt
import hashlib
import json
import math
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# shared helpers
# --------------------------------------------------------------------------

EPOCH = dt.datetime(1970, 1, 1)
DAY_US = 86_400_000_000


def _us(d: dt.datetime) -> int:
    return (d - EPOCH) // dt.timedelta(microseconds=1)


def _ts(values) -> pa.Array:
    return pa.array(np.asarray(values, dtype="int64"), pa.int64()).cast(
        pa.timestamp("us")
    )


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def canon(v) -> str:
    """One value as the order-insensitive row hash sees it (full float
    repr, NULL spelled out) — the same canonical form on both sides."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def frame_hash(cols: list[str], rows) -> str:
    """md5 over the sorted canonical rows, columns ordered by name."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.md5()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


# --------------------------------------------------------------------------
# attribution_daily: the attribution star schema (FIXTURES.md section A)
# --------------------------------------------------------------------------

STAR = {
    "users": 1000,
    "sessions_per_user": 14,   # mean, Poisson
    "heavy_user_sessions": 600,  # one user far above the rest (join skew)
    "conversions": 1200,
    "days": 30,
    "cost_coverage": 0.7,
    "zero_cost_share": 0.1,    # of the covered sessions
    "windows": 16,             # seeded date windows, cycled by the ops
    "window_days": 7,          # equal lengths, so every run does like work
}
CHANNELS = [
    "Organic Search", "Paid Search", "Email", "Display", "Social",
    "Referral", "Direct", "Affiliate", "Video", "Push",
]
STAR_START = dt.datetime(2024, 3, 1)


def gen_star(seed: int, out: str) -> dict:
    """conversions / session_sources / session_costs parquet in the layout
    the pipeline reads (the columns `roles` derives in
    tests/test_pipeline_e2e.py), plus the run schedule: a backfill over the
    whole span (the warm-up), then seeded 7-day windows, cycled."""
    rng = np.random.default_rng([seed, 1])
    p = STAR
    n_users = p["users"]
    per_user = rng.poisson(p["sessions_per_user"], n_users) + 1
    heavy = int(rng.integers(n_users))
    per_user[heavy] = p["heavy_user_sessions"]
    user = np.repeat(np.arange(n_users, dtype=np.int64), per_user)
    n_sess = len(user)
    span_us = p["days"] * DAY_US
    start_us = _us(STAR_START)
    # whole seconds, like the reference's HH:MM:SS text
    ts = start_us + rng.integers(0, span_us // 1_000_000, n_sess) * 1_000_000
    order = np.lexsort((ts, user))
    user, ts = user[order], ts[order]
    sid = np.arange(n_sess, dtype=np.int64) + 1_000_000
    sessions = pa.table(
        {
            "session_id": sid,
            "user_id": user,
            "ts": _ts(ts),
            "channel_name": pa.array(
                np.array(CHANNELS, dtype=object)[rng.integers(0, len(CHANNELS), n_sess)]
            ),
            "holder_engagement": rng.integers(0, 2, n_sess).astype(np.int32),
            "closer_engagement": (rng.random(n_sess) < 0.3).astype(np.int32),
            "impression_interaction": (rng.random(n_sess) < 0.2).astype(np.int32),
        }
    )
    covered = rng.random(n_sess) < p["cost_coverage"]
    cost = np.round(rng.gamma(2.0, 0.6, n_sess), 2)
    cost[rng.random(n_sess) < p["zero_cost_share"]] = 0.0
    costs = pa.table({"session_id": sid[covered], "cost": cost[covered]})

    # conversions: users drawn with replacement (so several users convert
    # more than once); a third of them land EXACTLY on one of the user's
    # session timestamps (the `<=` boundary of the as-of join)
    n_conv = p["conversions"]
    conv_user = rng.integers(0, n_users, n_conv).astype(np.int64)
    conv_user[:5] = heavy
    first = np.concatenate([[0], np.cumsum(per_user)[:-1]])
    pick = first[conv_user] + (rng.random(n_conv) * per_user[conv_user]).astype(np.int64)
    conv_ts = start_us + rng.integers(0, span_us // 1_000_000, n_conv) * 1_000_000
    exact = rng.random(n_conv) < 1 / 3
    conv_ts[exact] = ts[pick[exact]]
    conversions = pa.table(
        {
            "conv_id": np.arange(n_conv, dtype=np.int64) + 9_000_000,
            "user_id": conv_user,
            "conv_ts": _ts(conv_ts),
            "revenue": np.round(rng.lognormal(4.0, 0.8, n_conv), 2),
        }
    )
    for name, t in (
        ("session_sources", sessions),
        ("session_costs", costs),
        ("conversions", conversions),
    ):
        _write(t, os.path.join(out, f"{name}.parquet"))

    last = STAR_START + dt.timedelta(days=p["days"] - 1)
    windows = [(STAR_START.strftime("%Y-%m-%d"), last.strftime("%Y-%m-%d"))]
    for _ in range(p["windows"]):
        a = STAR_START + dt.timedelta(days=int(rng.integers(0, p["days"] - p["window_days"] + 1)))
        b = a + dt.timedelta(days=p["window_days"] - 1)
        windows.append((a.strftime("%Y-%m-%d"), b.strftime("%Y-%m-%d")))
    return {
        "windows": windows,
        "make_up": {
            "sessions": n_sess,
            "users": n_users,
            "heavy_user_sessions": int(per_user[heavy]),
            "conversions": n_conv,
            "exact_time_conversions": int(exact.sum()),
            "users_with_2plus_conversions": int(
                (np.bincount(conv_user, minlength=n_users) >= 2).sum()
            ),
            "cost_rows": int(covered.sum()),
            "zero_cost_rows": int((cost[covered] == 0.0).sum()),
        },
    }


def star_expected(con, d: str, windows) -> list[dict]:
    """The answers of ``run(start, end)`` for each window.  DuckDB over the
    generated files, from the reference's semantics: the as-of join with
    ``<=``, position/engagement scores (2 first, 2 x (1 + closer) last,
    1 x (1 + holder) between), sessions LEFT JOIN costs with COALESCE 0,
    the report over the window's session dates.

    The first window is the whole span.  The journeys table is
    date-partitioned and a ranged run replaces only the partitions it
    writes, so after that backfill it holds every conversion, and step 2
    attributes the whole table on every run: each run's report draws on
    all conversions."""
    for t in ("session_sources", "session_costs", "conversions"):
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')")
    con.execute(
        """
        CREATE OR REPLACE TEMP TABLE att AS
        WITH j AS (
          SELECT c.conv_id, strftime(c.conv_ts, '%Y-%m-%d') AS conv_date, c.revenue,
                 s.session_id, s.ts, s.channel_name, s.holder_engagement, s.closer_engagement
          FROM conversions c JOIN session_sources s
            ON s.user_id = c.user_id AND s.ts <= c.conv_ts),
        r AS (
          SELECT *, ROW_NUMBER() OVER w AS rn, COUNT(*) OVER (PARTITION BY conv_id) AS n
          FROM j WINDOW w AS (PARTITION BY conv_id ORDER BY ts, session_id)),
        sc AS (
          SELECT *, CASE WHEN rn = 1 THEN 2.0
                         WHEN rn = n THEN 2.0 * (1 + closer_engagement)
                         ELSE 1.0 * (1 + holder_engagement) END AS raw FROM r)
        SELECT conv_id, conv_date, session_id, strftime(ts, '%Y-%m-%d') AS s_date,
               channel_name, revenue, COALESCE(k.cost, 0.0) AS cost,
               raw / SUM(raw) OVER (PARTITION BY conv_id) AS ihc
        FROM sc LEFT JOIN session_costs k USING (session_id)
        """
    )
    pairs = dict(con.execute("SELECT conv_date, COUNT(*) FROM att GROUP BY 1").fetchall())
    n_conv = con.execute("SELECT COUNT(DISTINCT conv_id) FROM att").fetchone()[0]
    out = []
    for a, b in windows:
        report = con.execute(
            f"""
            SELECT channel_name, s_date, SUM(cost), SUM(ihc), SUM(ihc * revenue)
            FROM att WHERE s_date BETWEEN '{a}' AND '{b}' GROUP BY ALL
            """
        ).fetchall()
        out.append({
            "window": [a, b],
            "journeys": pairs,
            "attributed_conversions": n_conv,
            "report": {f"{r[0]}|{r[1]}": [r[2], r[3], r[4]] for r in report},
        })
    return out


# --------------------------------------------------------------------------
# analyst_queries: the testdata layout (TESTDATA.md) at a given scale
# --------------------------------------------------------------------------

ANALYST_SF = 0.01
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["FURNITURE", "BUILDING", "HOUSEHOLD", "MACHINERY", "AUTOMOBILE"]
P_TYPES = ["SMALL", "MEDIUM", "LARGE", "ECONOMY", "STANDARD", "PROMO"]
P_ADJ = ["large", "hot", "red", "cold", "old", "blue", "small", "green"]
P_NOUN = ["ring", "plate", "gear", "anvil", "gizmo", "widget", "bolt", "spring"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en", "es", "zh", "de", "fr"]


def _names(prefix: str, keys: np.ndarray) -> pa.Array:
    return pa.array([f"{prefix}#{k:09d}" for k in keys.tolist()])


def gen_testdata(seed: int, out: str, sf: float = ANALYST_SF) -> dict:
    """region nation customer supplier part orders lineitem events
    documents embeddings, with the column names, types and value ranges
    of the repository's testdata (TESTDATA.md), one row group per file."""
    rng = np.random.default_rng([seed, 2])
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_evt = int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    n_docs = int(50_000 * sf)
    n_vecs = int(20_000 * sf)
    tables = {}
    tables["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    ck = np.arange(n_cust, dtype=np.int64)
    tables["customer"] = pa.table(
        {
            "c_custkey": ck,
            "c_name": _names("Customer", ck),
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": pa.array(np.array(SEGMENTS, dtype=object)[rng.integers(0, 5, n_cust)]),
        }
    )
    sk = np.arange(n_supp, dtype=np.int64)
    tables["supplier"] = pa.table(
        {
            "s_suppkey": sk,
            "s_name": _names("Supplier", sk),
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    pk = np.arange(n_part, dtype=np.int64)
    adj = np.array(P_ADJ, dtype=object)[rng.integers(0, len(P_ADJ), n_part)]
    noun = np.array(P_NOUN, dtype=object)[rng.integers(0, len(P_NOUN), n_part)]
    tables["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": pa.array([f"{a} {b}" for a, b in zip(adj, noun)]),
            "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part).tolist()]),
            "p_type": pa.array(np.array(P_TYPES, dtype=object)[rng.integers(0, 6, n_part)]),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
        }
    )
    d0, d1 = _us(dt.datetime(1995, 1, 1)), _us(dt.datetime(2001, 8, 1))
    odate = d0 + rng.integers(0, (d1 - d0) // DAY_US + 1, n_ord) * DAY_US
    tables["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": pa.array(np.array(["O", "F", "P"], dtype=object)[rng.integers(0, 3, n_ord)]),
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
            "o_orderdate": _ts(odate),
            "o_orderpriority": pa.array(np.array(PRIORITIES, dtype=object)[rng.integers(0, 5, n_ord)]),
        }
    )
    lok = rng.integers(0, n_ord, n_line).astype(np.int64)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    lpk = rng.integers(0, n_part, n_line).astype(np.int64)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": lok,
            "l_partkey": lpk,
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * (900.0 + (lpk % 1000) / 10.0) * rng.uniform(0.02, 2.33, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": pa.array(np.array(["N", "A", "R"], dtype=object)[rng.integers(0, 3, n_line)]),
            "l_linestatus": pa.array(np.array(["O", "F"], dtype=object)[rng.integers(0, 2, n_line)]),
            "l_shipdate": _ts(odate[lok] + rng.integers(1, 122, n_line) * DAY_US),
        }
    )
    e0 = _us(dt.datetime(2024, 1, 1))
    ets = np.sort(e0 + rng.integers(0, 30 * DAY_US, n_evt))
    tables["events"] = pa.table(
        {
            "event_id": np.arange(n_evt, dtype=np.int64),
            "ts": _ts(ets),
            "user_id": rng.integers(0, n_users, n_evt).astype(np.int64),
            "event_type": pa.array(np.array(EVENT_TYPES, dtype=object)[rng.integers(0, 5, n_evt)]),
            "value": np.round(rng.gamma(2.0, 50.0, n_evt), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt).tolist()]),
        }
    )
    words = np.array(WORDS, dtype=object)
    texts = []
    for _ in range(n_docs):
        texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 101)))]))
    # near-duplicates: a few percent of documents repeat an earlier text
    # with its last word replaced (what MinHash/LSH is meant to find)
    for i in rng.choice(np.arange(1, n_docs), n_docs // 25, replace=False).tolist():
        src = texts[int(rng.integers(0, i))].split(" ")
        src[-1] = "dup"
        texts[i] = " ".join(src)
    tables["documents"] = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": pa.array(np.array(LANGS, dtype=object)[rng.choice(5, n_docs, p=[0.6, 0.1, 0.1, 0.1, 0.1])]),
            "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n_docs).tolist()]),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    emb = rng.normal(0.0, 0.125, (n_vecs, 64)).astype(np.float32)
    tables["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(pa.array(emb.ravel()), 64).cast(
                pa.list_(pa.float32())
            ),
            "label": rng.integers(0, 10, n_vecs).astype(np.int32),
        }
    )
    for name, t in tables.items():
        _write(t, os.path.join(out, f"{name}.parquet"))
    return {"make_up": {name: t.num_rows for name, t in tables.items()}, "sf": sf}


#: the 12 bench.py headline queries, in bench.py's order
HEADLINE = [
    "channel_report", "journeys_build", "attr_position_engagement",
    "q1_pricing_summary", "q3_top_orders", "q5_nation_revenue",
    "top3_customers_per_nation", "sessionize_events", "events_rollup",
    "text_stats", "minhash_lsh_candidates", "cosine_topk",
]


def attach_testdata(con, d: str) -> None:
    """The generated testdata tables as DuckDB views."""
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')")


def analyst_expected(con, d: str, oracles: dict[str, str]) -> dict:
    """Row count and order-insensitive row hash of each query's registry
    oracle SQL, run by DuckDB over the generated files."""
    attach_testdata(con, d)
    out = {}
    for name in HEADLINE:
        res = con.execute(oracles[name])
        cols = [c[0] for c in res.description]
        rows = res.fetchall()
        out[name] = {"rows": len(rows), "cols": sorted(cols), "hash": frame_hash(cols, rows)}
    return out


def analyst_orders(seed: int, cycles: int) -> list[list[str]]:
    """Each cycle runs the 12 queries once, in a seeded order."""
    rng = np.random.default_rng([seed, 3])
    return [[HEADLINE[i] for i in rng.permutation(len(HEADLINE))] for _ in range(cycles)]


# --------------------------------------------------------------------------
# table_upkeep: one snapshot table, landed batches and a statement sequence
# --------------------------------------------------------------------------

UPKEEP = {
    "base_rows": 20_000,
    "batch_rows": 400,
    "kinds": 8,
    "rounds": 30,
}
#: one round: 6 writes and 2 reads in a fixed order, each step's keys and
#: literals seeded; the round ends with the periodic OPTIMIZE
ROUND = ["ingest", "point", "delete", "update", "range", "merge", "refresh", "optimize"]


def _batch(rng, lo: int, n: int, key_space: int, kinds: int) -> dict:
    keys = lo + rng.choice(key_space, n, replace=False)
    return {
        "k": keys.astype(np.int64),
        "kind": rng.integers(0, kinds, n).astype(np.int32),
        "amt": rng.integers(1, 10_000, n).astype(np.int64),
        "qty": rng.integers(1, 100, n).astype(np.int64),
    }


def gen_upkeep(seed: int, out: str) -> dict:
    """The base table rows, one landed parquet file per ingest step, and
    the statement sequence, all from the seed."""
    rng = np.random.default_rng([seed, 4])
    p = UPKEEP
    base = _batch(rng, 0, p["base_rows"], p["base_rows"], p["kinds"])
    _write(pa.table(base), os.path.join(out, "base.parquet"))
    os.makedirs(os.path.join(out, "landing"), exist_ok=True)
    steps = []
    n_batches = 0
    next_lo = p["base_rows"]
    for r in range(p["rounds"]):
        for kind in ROUND:
            if kind == "ingest":
                b = _batch(rng, next_lo, p["batch_rows"], p["batch_rows"] * 2, p["kinds"])
                next_lo += p["batch_rows"] * 2
                path = os.path.join(out, "landing", f"batch-{n_batches:05d}.parquet")
                _write(pa.table(b), path)
                steps.append({"op": "ingest", "file": os.path.basename(path)})
                n_batches += 1
                continue
            hi = next_lo  # every key so far lies below it
            if kind == "point":
                k = int(rng.integers(0, hi))
                sql = f"SELECT k, kind, amt, qty FROM upkeep WHERE k = {k}"
            elif kind == "range":
                lo = int(rng.integers(0, hi - 500))
                sql = (
                    "SELECT kind, COUNT(*) AS n, SUM(amt) AS amt, SUM(qty) AS qty "
                    f"FROM upkeep WHERE k BETWEEN {lo} AND {lo + int(rng.integers(50, 500))} "
                    "GROUP BY kind"
                )
            elif kind == "delete":
                lo = int(rng.integers(0, hi - 40))
                sql = f"DELETE FROM upkeep WHERE k BETWEEN {lo} AND {lo + int(rng.integers(5, 40))}"
            elif kind == "update":
                lo = int(rng.integers(0, hi - 60))
                sql = (
                    f"UPDATE upkeep SET amt = amt + {int(rng.integers(1, 50))}, qty = qty + 1 "
                    f"WHERE k BETWEEN {lo} AND {lo + int(rng.integers(5, 60))}"
                )
            elif kind == "merge":
                ks = sorted(set(rng.integers(0, hi, 30).tolist()))
                rows = [
                    [k, int(rng.integers(0, p["kinds"])), int(rng.integers(1, 10_000)),
                     int(rng.integers(1, 100))]
                    for k in ks
                ]
                steps.append({"op": "merge", "rows": rows, "sql": merge_sql(rows)})
                continue
            elif kind == "refresh":
                sql = "REFRESH MATERIALIZED VIEW upkeep_by_kind"
            elif kind == "optimize":
                sql = "OPTIMIZE upkeep"
            steps.append({"op": kind, "sql": sql})
    return {
        "steps": steps,
        "round_len": len(ROUND),
        "make_up": {"base_rows": p["base_rows"], "batch_rows": p["batch_rows"],
                    "batches": n_batches, "rounds": p["rounds"], "kinds": p["kinds"]},
    }


MVIEW_SQL = (
    "SELECT kind, COUNT(*) AS n, SUM(amt) AS amt, SUM(qty) AS qty "
    "FROM upkeep GROUP BY kind"
)


def _values(rows) -> str:
    return ", ".join(f"({k}, {kind}, {amt}, {qty})" for k, kind, amt, qty in rows)


def merge_sql(rows) -> str:
    """The upsert the program runs: MERGE of an inline VALUES source."""
    return (
        "MERGE INTO upkeep t USING (SELECT CAST(k AS BIGINT) AS k, CAST(kind AS INT) AS kind, "
        "CAST(amt AS BIGINT) AS amt, CAST(qty AS BIGINT) AS qty FROM VALUES "
        f"{_values(rows)} AS v(k, kind, amt, qty)) s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET amt = s.amt, qty = s.qty "
        "WHEN NOT MATCHED THEN INSERT *"
    )


def _duck_merge(con, rows) -> None:
    """The same upsert in the mirror, as UPDATE ... FROM plus an
    anti-joined INSERT (keys are unique, so at most one match each)."""
    src = f"(VALUES {_values(rows)}) AS s(k, kind, amt, qty)"
    con.execute(f"UPDATE upkeep SET amt = s.amt, qty = s.qty FROM {src} WHERE upkeep.k = s.k")
    con.execute(
        f"INSERT INTO upkeep SELECT s.k, s.kind, s.amt, s.qty FROM {src} "
        "WHERE s.k NOT IN (SELECT k FROM upkeep)"
    )


def upkeep_expected(con, d: str, steps: list[dict]) -> list:
    """A DuckDB mirror applies the same statement sequence: per step, the
    SELECT answer (as a row hash), or the table state after a write (row
    count, per-kind sums) and, after a view refresh, the view's rows."""
    con.execute(f"CREATE OR REPLACE TABLE upkeep AS SELECT * FROM read_parquet('{d}/base.parquet')")
    view_rows = con.execute(MVIEW_SQL).fetchall()
    out = []
    for st in steps:
        op = st["op"]
        if op == "ingest":
            con.execute(f"INSERT INTO upkeep SELECT * FROM read_parquet('{d}/landing/{st['file']}')")
        elif op in ("point", "range"):
            res = con.execute(st["sql"])
            cols = [c[0] for c in res.description]
            rows = res.fetchall()
            out.append({"rows": len(rows), "hash": frame_hash(cols, rows)})
            continue
        elif op == "merge":
            _duck_merge(con, st["rows"])
        elif op in ("delete", "update"):
            con.execute(st["sql"])
        elif op == "refresh":
            view_rows = con.execute(MVIEW_SQL).fetchall()
        state = con.execute(
            "SELECT COUNT(*), CAST(SUM(amt) AS BIGINT), CAST(SUM(qty) AS BIGINT) FROM upkeep"
        ).fetchone()
        per_kind = con.execute(MVIEW_SQL).fetchall()
        out.append({
            "count": state[0],
            "kind_hash": frame_hash(["kind", "n", "amt", "qty"], per_kind),
            "view_hash": frame_hash(["kind", "n", "amt", "qty"], view_rows),
        })
    return out


# --------------------------------------------------------------------------
# entry point
# --------------------------------------------------------------------------


def registry_oracles() -> dict[str, str]:
    """The registry's oracle SQL for the headline queries."""
    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    return {name: oracles[name] for name in HEADLINE}


def generate(workload: str, seed: int, out: str) -> dict:
    """Write ``workload``'s inputs under ``out`` and return the expected
    answers (also written to ``out/expected.json``)."""
    import duckdb

    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    # one thread: parallel double sums add in a varying order, and the
    # answers must be the same bytes for the same seed
    con.execute("SET threads TO 1")
    try:
        if workload == "attribution_daily":
            meta = gen_star(seed, out)
            meta["expected"] = star_expected(con, out, meta["windows"])
        elif workload == "analyst_queries":
            meta = gen_testdata(seed, out)
            meta["orders"] = analyst_orders(seed, 50)
            meta["expected"] = analyst_expected(con, out, registry_oracles())
        elif workload == "table_upkeep":
            meta = gen_upkeep(seed, out)
            meta["expected"] = upkeep_expected(con, out, meta["steps"])
        else:
            raise ValueError(f"unknown workload {workload!r}")
    finally:
        con.close()
    with open(os.path.join(out, "expected.json"), "w") as fh:
        json.dump(meta, fh)
    return meta


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    sys.path.insert(0, os.getcwd())
    generate(args.workload, args.seed, args.out)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
