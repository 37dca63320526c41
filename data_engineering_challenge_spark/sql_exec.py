"""SQL STATEMENT executor over the snapshot format + persistent catalog —
the surface that makes the engine usable by a SQL-only client end to end:
DDL (CREATE TABLE AS / CREATE VIEW / DROP), DML (INSERT / UPDATE /
DELETE / MERGE INTO), utility statements (SHOW TABLES / DESCRIBE /
OPTIMIZE), and plain queries, all as ONE text entry point.

Reference parity: the reference's whole API is SQL strings against named
tables in one database (pipeline/db_operations.py — execute/executemany
over SQLite).  Spark SQL itself covers the query half, but its DML
statements only target v2 catalog tables; here the statement SHAPE is
parsed by this module and every mutation routes to the snapshot format's
own transactional operators (`snapshot_merge_into`,
`snapshot_update_where`, `snapshot_delete_where`, `snapshot_append`, …),
so SQL users get the same SERIALIZABLE commits, time travel, and CDC the
DataFrame API gets.

Design — parse the STATEMENT, delegate every EXPRESSION:

* a small tokenizer (string/quoted-identifier/comment aware) drives a
  cursor parser that recognizes only statement structure — keywords,
  table names, clause boundaries at parenthesis depth 0;
* every predicate, assignment right-hand side, and sub-SELECT is passed
  through VERBATIM to Spark SQL (`F.expr` / `spark.sql`), so the full
  Catalyst expression language works inside our statements and we never
  re-implement (or subtly fork) expression semantics;
* unsupported syntax refuses LOUDLY with the supported grammar in the
  message — never a silent misparse (the tokenizer makes keywords inside
  string literals inert, so ``WHERE note = 'DELETE FROM x'`` is safe).

Scale: statement parsing is O(statement text) on the driver; every data
operation is the underlying operator's cost (e.g. MERGE = touched-files
CoW, DELETE = one MoR delete-file commit).  `attach_catalog` per
statement is O(tables) pure metadata.
"""

from __future__ import annotations

import datetime
import json
import logging
import os
import re

from pyspark.sql import DataFrame, SparkSession

from .sources import catalog as cat
from .sources import snapshots as sn

__all__ = ["execute_sql", "execute_sql_script", "SqlSyntaxError"]


class SqlSyntaxError(ValueError):
    """Statement text this executor does not support (loud refusal —
    the message carries the supported grammar)."""


_GRAMMAR = """supported statements:
  SELECT ... | WITH ... | VALUES ...          (full Spark SQL, catalog names attached)
    FROM <t> VERSION AS OF <n> | VERSION AS OF '<ref>' | TIMESTAMP AS OF '<ts>'
  CREATE [OR REPLACE] TABLE [IF NOT EXISTS] <name>
    [(col type, ...)] [<layout>] [AS <query>]     -- schema XOR query
    <layout> = [PARTITIONED BY (expr AS pname, ...)]
               [CLUSTERED BY (col, ...) | ZORDER BY (col, ...) [BITS n]]
               [STATS BY (col, ...)] [BLOOM BY (col, ...) [BITS n]]
  CREATE [OR REPLACE] VIEW <name> AS <query>
  CREATE [OR REPLACE] MATERIALIZED VIEW <name> AS
    SELECT <g1>, ..., COUNT(*) AS n [, SUM(<c>) AS <c>, ...]
    FROM <table> GROUP BY <g1>, ...
  REFRESH MATERIALIZED VIEW <name>
  DROP TABLE <name> | DROP VIEW <name> | DROP MATERIALIZED VIEW <name>
  INSERT INTO <name> [(col, ...)] <query>
  INSERT OVERWRITE [TABLE] <name> <query>
  UPDATE <name> [[AS] a] SET col = expr, ... [WHERE pred]
  DELETE FROM <name> [[AS] a] [WHERE pred]
  MERGE [WITH SCHEMA EVOLUTION] INTO <name> [[AS] t]
    USING <name>|(<query>) [[AS] s] ON t.k = s.k [AND ...]
    WHEN MATCHED [AND c] THEN UPDATE SET col = expr, ... | DELETE
    WHEN NOT MATCHED [BY TARGET] [AND c] THEN INSERT * | (cols) VALUES (exprs)
    WHEN NOT MATCHED BY SOURCE [AND c] THEN UPDATE SET ... | DELETE
  CREATE [OR REPLACE] TABLE <new> CLONE <src> [VERSION AS OF <n>]
  RESTORE TABLE <name> TO VERSION AS OF <n> | TO TIMESTAMP AS OF '<ts>'
  ALTER TABLE <name> ADD COLUMN[S] <col> <type> [DEFAULT <lit>] [, ...]
                   | RENAME COLUMN <a> TO <b> | DROP COLUMN <c>
                   | ADD CONSTRAINT <cn> CHECK (<expr>) | DROP CONSTRAINT <cn>
                   | SET GENERATED COLUMN <c> <type> AS (<expr>)
                   | DROP GENERATED COLUMN <c>
  COPY INTO <name> FROM '<path-or-glob>' [FORMAT parquet|csv|jsonl|orc]
  SHOW TABLES | SHOW PARTITIONS <name>
  DESCRIBE [TABLE] <name> | DESCRIBE HISTORY <name>
  OPTIMIZE <name> [ZORDER BY (c, ...) | COMPACT MANIFESTS]
  VACUUM <name> [RETAIN <n> VERSIONS | <n> HOURS]
  ANALYZE TABLE <name> COMPUTE STATISTICS [FOR COLUMNS c, ...] [EXACT]"""


# --------------------------------------------------------------------------
# tokenizer
# --------------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""
    (?P<ws>\s+|--[^\n]*|/\*.*?\*/)
  | (?P<str>'(?:[^']|'')*')
  | (?P<dq>"(?:[^"]|"")*")
  | (?P<bq>`(?:[^`]|``)*`)
  | (?P<word>[A-Za-z_][A-Za-z_0-9$]*)
  | (?P<num>\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)
  | (?P<op><=>|<>|!=|<=|>=|\|\||==|->|.)
    """,
    re.VERBOSE | re.DOTALL,
)


def _tokens(text: str) -> list[tuple[str, int, int]]:
    """(token_text, start, end) with whitespace/comments dropped.  An
    unterminated string/quote falls through to the single-char branch
    and surfaces later as a parse refusal — never an exception here."""
    out = []
    for m in _TOKEN_RE.finditer(text):
        if m.lastgroup == "ws":
            continue
        out.append((m.group(), m.start(), m.end()))
    return out


class _Cursor:
    """Token cursor over one statement.  Keywords are matched
    case-insensitively; `until` returns the ORIGINAL source slice so
    expression text reaches Spark byte-identical (minus trimming)."""

    def __init__(self, text: str):
        self.text = text
        self.toks = _tokens(text)
        self.i = 0

    def peek(self, n: int = 0) -> str | None:
        j = self.i + n
        return self.toks[j][0] if j < len(self.toks) else None

    def at_kw(self, *words: str) -> bool:
        return all(
            (t := self.peek(k)) is not None and t.upper() == w
            for k, w in enumerate(words)
        )

    def kw(self, *words: str) -> bool:
        if self.at_kw(*words):
            self.i += len(words)
            return True
        return False

    def expect_kw(self, *words: str) -> None:
        if not self.kw(*words):
            self.fail(f"expected {' '.join(words)}")

    def ident(self, what: str = "identifier") -> str:
        t = self.peek()
        if t is None:
            self.fail(f"expected {what}, got end of statement")
        if t.startswith("`") and t.endswith("`") and len(t) >= 2:
            self.i += 1
            return t[1:-1].replace("``", "`")
        if re.fullmatch(r"[A-Za-z_][A-Za-z_0-9$]*", t):
            self.i += 1
            return t
        self.fail(f"expected {what}, got {t!r}")

    def until(
        self, stops: tuple[tuple[str, ...], ...], commas: bool = False
    ) -> str:
        """Source slice from here to the first depth-0 stop-keyword
        sequence (or depth-0 comma if ``commas``) or end; cursor is left
        ON the stop token.  ``CASE … END`` counts as nesting, so the
        WHEN/THEN keywords of an unparenthesized CASE expression inside
        a MERGE clause never read as clause boundaries."""
        start_tok = self.i
        depth = 0
        case_depth = 0
        while self.i < len(self.toks):
            t = self.toks[self.i][0]
            if t in "([":
                depth += 1
            elif t in ")]":
                depth -= 1
                if depth < 0:
                    break  # caller's closing paren
            elif t.upper() == "CASE":
                case_depth += 1
            elif t.upper() == "END" and case_depth > 0:
                case_depth -= 1
            elif depth == 0 and case_depth == 0:
                if commas and t == ",":
                    break
                if any(self.at_kw(*s) for s in stops):
                    break
            self.i += 1
        if self.i == start_tok:
            self.fail("expected an expression")
        lo = self.toks[start_tok][1]
        hi = self.toks[self.i - 1][2]
        return self.text[lo:hi].strip()

    def done(self) -> bool:
        return self.i >= len(self.toks)

    def expect_done(self) -> None:
        if not self.done():
            self.fail(f"unexpected trailing tokens from {self.peek()!r}")

    def fail(self, msg: str):
        near = " ".join(t for t, _, _ in self.toks[self.i : self.i + 5])
        raise SqlSyntaxError(
            f"execute_sql: {msg} (near: {near or '<end>'!r})\n{_GRAMMAR}"
        )


def _parse_mview_select(cur: "_Cursor") -> tuple[str, list[str], list[str]]:
    """The incrementally-MAINTAINABLE aggregate shape, parsed strictly:
    ``SELECT <group cols>, COUNT(*) AS n [, SUM(c) AS c ...] FROM
    <table> GROUP BY <group cols>``.  Counts and sums RETRACT under a
    change data feed (insert +1/+v, delete -1/-v), which is what makes
    a refresh O(delta + view); MIN/MAX/AVG-of-distinct cannot retract,
    so any other aggregate refuses here with that explanation rather
    than registering a view that would silently need full rescans."""
    cur.expect_kw("SELECT")
    group_sel: list[str] = []
    sum_cols: list[str] = []
    saw_n = False
    while True:
        if cur.at_kw("COUNT"):
            cur.i += 1
            if (cur.peek(), cur.peek(1), cur.peek(2)) != ("(", "*", ")"):
                cur.fail("materialized view: expected COUNT(*)")
            cur.i += 3
            cur.expect_kw("AS")
            alias = cur.ident("COUNT(*) alias")
            if alias.lower() != "n":
                cur.fail(
                    "materialized view: the rowcount must be aliased "
                    "AS n — it is the stored retraction-bookkeeping "
                    "column (groups vanish when n retracts to 0)"
                )
            if saw_n:
                cur.fail("materialized view: duplicate COUNT(*)")
            saw_n = True
        elif cur.at_kw("SUM"):
            cur.i += 1
            if cur.peek() != "(":
                cur.fail("expected ( after SUM")
            cur.i += 1
            col = cur.ident("SUM column")
            if cur.peek() != ")":
                cur.fail("materialized view: SUM takes one plain column")
            cur.i += 1
            cur.expect_kw("AS")
            alias = cur.ident("SUM alias")
            if alias != col:
                cur.fail(
                    f"materialized view: SUM({col}) must be aliased "
                    f"AS {col} — the stored column keeps the source name"
                )
            if col in sum_cols:
                cur.fail(f"materialized view: duplicate SUM({col})")
            sum_cols.append(col)
        else:
            g = cur.ident("group column")
            if cur.peek() == "(":
                cur.fail(
                    f"materialized view: {g.upper()} is not a "
                    "maintainable aggregate — only COUNT(*) and "
                    "SUM(col) retract under the change data feed "
                    "(MIN/MAX cannot un-see a deleted extreme); use a "
                    "plain view for anything else"
                )
            group_sel.append(g)
        if cur.peek() == ",":
            cur.i += 1
            continue
        break
    cur.expect_kw("FROM")
    source = cur.ident("source table name")
    cur.expect_kw("GROUP")
    cur.expect_kw("BY")
    gb = [cur.ident("GROUP BY column")]
    while cur.peek() == ",":
        cur.i += 1
        gb.append(cur.ident("GROUP BY column"))
    cur.expect_done()
    if not saw_n:
        cur.fail(
            "materialized view: COUNT(*) AS n is required — the "
            "rowcount drives retraction and group drop-out"
        )
    if len(set(gb)) != len(gb) or sorted(group_sel) != sorted(gb):
        cur.fail(
            f"materialized view: SELECT group columns {group_sel} must "
            f"be exactly the GROUP BY columns {gb}"
        )
    return source, gb, sum_cols


def _attach_mview(spark: SparkSession, catalog_dir: str, name: str) -> None:
    """(Re-)register this session's temp view over the materialized
    parquet — CREATE/REFRESH make the new state queryable immediately."""
    spark.read.parquet(cat._mview_path(catalog_dir, name)).createOrReplaceTempView(
        name
    )


def _type_slice(
    cur: "_Cursor",
    stops: tuple[str, ...] = (",", "DEFAULT"),
    stop_on_close: bool = False,
) -> str:
    """One Spark DDL TYPE: tokens up to a depth-0 stop token (ADD
    COLUMN stops at comma/DEFAULT, SET GENERATED COLUMN at AS).
    Unlike `_Cursor.until`, ANGLE BRACKETS nest here — a type slice
    never contains comparison operators, so ``STRUCT<a:INT,b:INT>`` /
    ``MAP<STRING,INT>`` keep their inner commas (the general expression
    scanner cannot treat ``<`` as nesting without breaking WHERE
    clauses).  ``stop_on_close=True`` additionally stops BEFORE a
    closing bracket that would take depth negative — the CREATE TABLE
    column list, where the list's own ``)`` ends the last type."""
    start = cur.i
    depth = 0
    while cur.i < len(cur.toks):
        t = cur.toks[cur.i][0]
        if t in ("(", "[", "<"):
            depth += 1
        elif t in (")", "]", ">"):
            depth -= 1
            if depth < 0:
                if stop_on_close:
                    depth = 0
                    break
                cur.fail("unbalanced brackets in column type")
        elif depth == 0 and t.upper() in stops:
            break
        cur.i += 1
    if cur.i == start:
        cur.fail("expected a column type")
    if depth != 0:
        cur.fail("unbalanced brackets in column type")
    lo = cur.toks[start][1]
    hi = cur.toks[cur.i - 1][2]
    return cur.text[lo:hi].strip()


def _default_literal(cur: "_Cursor") -> object:
    """One scalar literal after DEFAULT: quoted string, TRUE/FALSE, or
    a signed number — the sign is a separate token for ANY numeric
    form (int, decimal, scientific), so it is consumed uniformly here
    rather than per-shape."""
    t = cur.peek()
    if t is None:
        cur.fail("expected a literal after DEFAULT")
    cur.i += 1
    if t.startswith("'") and t.endswith("'") and len(t) >= 2:
        return t[1:-1].replace("''", "'")
    if t.upper() in ("TRUE", "FALSE"):
        return t.upper() == "TRUE"
    neg = False
    if t in ("-", "+"):
        neg = t == "-"
        t = cur.peek()
        if t is None:
            cur.fail("expected a number after the sign in DEFAULT")
        cur.i += 1
    if re.fullmatch(r"\d+", t):
        return -int(t) if neg else int(t)
    try:
        v = float(t)
    except (TypeError, ValueError):
        cur.fail(f"DEFAULT must be a number/string/bool literal, got {t!r}")
    return -v if neg else v


def _rewrite_aliases(text: str, mapping: dict[str, str | None]) -> str:
    """Rewrite ``alias.``-qualified references in an expression slice:
    ``{"u": "t"}`` turns ``u.price`` into ``t.price``; a ``None`` target
    drops the qualifier (``u.price`` → ``price``).  Token-driven, so an
    alias inside a string literal or a longer identifier is untouched."""
    toks = _tokens(text)
    out = []
    last_end = 0
    skip_until = -1
    for k, (t, lo, hi) in enumerate(toks):
        if k < skip_until:
            continue
        out.append(text[last_end:lo])
        last_end = hi
        nxt = toks[k + 1][0] if k + 1 < len(toks) else None
        prev = toks[k - 1][0] if k > 0 else None
        if t.lower() in mapping and nxt == "." and prev != ".":
            tgt = mapping[t.lower()]
            if tgt is not None:
                out.append(tgt)
            else:
                # drop qualifier AND dot: skip the dot token entirely
                last_end = toks[k + 1][2]
                skip_until = k + 2
        else:
            out.append(t)
    out.append(text[last_end:])
    return "".join(out)


# --------------------------------------------------------------------------
# statement execution
# --------------------------------------------------------------------------


def _attach(
    spark: SparkSession, catalog_dir: str, sql: str | None = None
) -> dict | None:
    """Attach the catalog objects a statement needs — O(referenced
    names), not O(catalog): the statement's identifier tokens are
    intersected (case-insensitively, Spark's resolution rule) with the
    registered names and only those attach.  `attach_catalog`'s
    narrowing contract handles the transitive cases — a referenced
    VIEW pulls every table and mview (its body's dependencies are not
    parsed) plus earlier-created views.  Over-approximation is free:
    a column name that happens to match a table name attaches one
    extra lazy temp view.  With a thousand-table catalog this is the
    difference between one manifest-head read per statement and a
    thousand."""
    if sql is None:
        cat.attach_catalog(spark, catalog_dir)
        return None
    entries = cat.catalog_entries(catalog_dir)
    by_lower: dict[str, str] = {}
    for n in entries:
        # duplicate case-folded names cannot exist (the claim is by
        # exact name, and Spark would refuse both as one view anyway)
        by_lower[n.lower()] = n
    referenced: list[str] = []
    seen: set[str] = set()
    for t, _lo, _hi in _tokens(sql):
        # identifier-PRODUCING constructs (IDENTIFIER('orders'),
        # EXECUTE IMMEDIATE) name tables in forms the token scan
        # cannot see — the name may live inside a string literal — so
        # a narrowed attach would let the statement silently read a
        # STALE head pinned by an earlier statement's view.  Bail to
        # the full attach: every catalog name re-attaches at its
        # current head, nothing resolves stale (review, round 11).
        if t.upper() in ("IDENTIFIER", "EXECUTE"):
            cat.attach_catalog(spark, catalog_dir)
            return entries
        # backtick-quoted identifiers must match their registered
        # names — `orders` references the same table as orders
        hit = by_lower.get(t.strip("`").lower())
        if hit is not None and hit not in seen:
            seen.add(hit)
            referenced.append(hit)
    cat.attach_catalog(spark, catalog_dir, names=referenced)
    return entries


def _entry(catalog_dir: str, name: str, fn: str) -> dict:
    e = cat.catalog_entries(catalog_dir).get(name)
    if e is None:
        raise FileNotFoundError(
            f"{fn}: table {name!r} is not in the catalog at {catalog_dir}"
        )
    return e


def _writable_root(catalog_dir: str, name: str, fn: str) -> str:
    e = _entry(catalog_dir, name, fn)
    if e.get("kind") in ("view", "mview"):
        raise ValueError(
            f"{fn}: {name!r} is a {'materialized ' if e['kind'] == 'mview' else ''}view — views are read-only"
        )
    if any(e.get(k) is not None for k in ("version", "asof", "ref")):
        raise ValueError(
            f"{fn}: catalog entry {name!r} carries a reproducibility pin "
            f"— pinned entries are read-only (repoint the entry with "
            f"catalog_register(replace=True) to write to the live table)"
        )
    return e["root"]


def _table_root(catalog_dir: str, name: str) -> str:
    """Default data root for a CTAS-created table: under the catalog's
    own ``_tables/`` area (ignored by `catalog_entries`, which only
    reads ``*.json``)."""
    return os.path.join(catalog_dir, "_tables", name)


def _ident_list(cur: "_Cursor", what: str) -> list[str]:
    """A parenthesized, comma-separated identifier list."""
    if cur.peek() != "(":
        cur.fail(f"expected ( opening the {what} list")
    cur.i += 1
    out: list[str] = []
    while True:
        out.append(cur.ident(what))
        if cur.peek() == ",":
            cur.i += 1
            continue
        break
    if cur.peek() != ")":
        cur.fail(f"expected ) closing the {what} list")
    cur.i += 1
    if len(set(out)) != len(out):
        cur.fail(f"duplicate names in the {what} list: {out}")
    return out


def _layout_clauses(cur: "_Cursor") -> dict:
    """Optional table LAYOUT clauses on CREATE TABLE / CTAS — the
    declarative form of the writers' policies, recorded in the
    manifest layout so every later write (SQL INSERT, COPY INTO,
    compaction) honors them:

      PARTITIONED BY (<transform expr> AS <name>, ...)  -- hidden
          partitioning (Iceberg transforms; `snapshot_append_partitioned`)
      CLUSTERED BY (col, ...)      -- range-clustered files (sort_cols)
      ZORDER BY (col, ...) [BITS n]  -- Morton clustering (zorder_cols)
      STATS BY (col, ...)          -- per-file min/max recording policy
      BLOOM BY (col, ...) [BITS n] -- per-file bloom-filter policy

    One clustering policy per table (the `_commit` rule): ZORDER
    refuses alongside CLUSTERED or PARTITIONED."""
    lay: dict = {}
    while True:
        if cur.kw("PARTITIONED", "BY"):
            if cur.peek() != "(":
                cur.fail("expected ( after PARTITIONED BY")
            cur.i += 1
            transforms: dict[str, str] = {}
            while True:
                expr = cur.until((("AS",),))
                cur.expect_kw("AS")
                pname = cur.ident("partition name")
                if pname in transforms:
                    cur.fail(f"duplicate partition name {pname!r}")
                transforms[pname] = expr
                if cur.peek() == ",":
                    cur.i += 1
                    continue
                break
            if cur.peek() != ")":
                cur.fail("expected ) closing PARTITIONED BY")
            cur.i += 1
            lay["partition_transforms"] = transforms
        elif cur.kw("CLUSTERED", "BY"):
            lay["sort_cols"] = _ident_list(cur, "CLUSTERED BY column")
        elif cur.kw("ZORDER", "BY"):
            lay["zorder_cols"] = _ident_list(cur, "ZORDER BY column")
            if cur.kw("BITS"):
                lay["zorder_bits"] = _int_literal(cur, "ZORDER ... BITS")
        elif cur.kw("STATS", "BY"):
            lay["stats_cols"] = _ident_list(cur, "STATS BY column")
        elif cur.kw("BLOOM", "BY"):
            lay["bloom_cols"] = _ident_list(cur, "BLOOM BY column")
            if cur.kw("BITS"):
                lay["bloom_bits"] = _int_literal(cur, "BLOOM ... BITS")
        else:
            break
    if lay.get("zorder_cols") and lay.get("sort_cols"):
        cur.fail(
            "ZORDER BY cannot combine with CLUSTERED BY — one "
            "file-order policy per table (ZORDER BY composes with "
            "PARTITIONED BY: the key clusters within each partition)"
        )
    return lay


def _policy_write(
    spark: SparkSession, root: str, df: DataFrame, overwrite: bool
) -> int:
    """Write ``df`` honoring the table's DECLARED layout policy — the
    routing that makes a layout declared once (CREATE TABLE clauses or
    the first policy-carrying write) hold for every later SQL write:
    hidden partitioning, z-order or range clustering, and stats/bloom
    recording, each through the writer that records its pruning
    evidence.  INSERT OVERWRITE stays a plain overwrite (it replaces
    the whole table; stats/bloom policy still inherits, and the next
    OPTIMIZE re-clusters) — the clustered writers are append-shaped."""
    lay = {}
    cur_v = sn.current_version(root)
    if cur_v is not None:
        lay = sn._read_manifest_meta(root, cur_v).get("layout") or {}
    stats_cols, bloom_cols, bloom_bits = sn._inherit_prune_policy(
        root, df.columns, None, None, 8192
    )
    if overwrite:
        return sn.snapshot_overwrite(
            df, root, stats_cols=stats_cols,
            bloom_cols=bloom_cols, bloom_bits=bloom_bits,
        )
    if lay.get("partition_transforms"):
        return sn.snapshot_append_partitioned(
            df, root, dict(lay["partition_transforms"]),
            stats_cols=stats_cols, sort_cols=lay.get("sort_cols"),
            bloom_cols=bloom_cols, bloom_bits=bloom_bits,
        )
    if lay.get("zorder_cols"):
        return sn.snapshot_append_zordered(
            df, root, list(lay["zorder_cols"]),
            bits=int(lay.get("zorder_bits") or 8),
            stats_cols=stats_cols,
            bloom_cols=bloom_cols, bloom_bits=bloom_bits,
        )
    if lay.get("sort_cols"):
        return sn.snapshot_append_clustered(
            df, root, list(lay["sort_cols"]), stats_cols=stats_cols,
            bloom_cols=bloom_cols, bloom_bits=bloom_bits,
        )
    return sn.snapshot_append(
        df, root, stats_cols=stats_cols,
        bloom_cols=bloom_cols, bloom_bits=bloom_bits,
    )


def _validate_layout(spark: SparkSession, df: DataFrame, lay: dict) -> None:
    """Refuse a layout declaration the table cannot honor, BEFORE any
    state exists: every named column must be in the schema, partition
    transforms must analyze over it, bloom columns must satisfy the
    hash contract (int/string — `snapshots._check_bloom_cols`)."""
    from pyspark.sql import functions as F

    have = set(df.columns)
    for key in ("sort_cols", "zorder_cols", "stats_cols", "bloom_cols"):
        missing = [c for c in lay.get(key) or [] if c not in have]
        if missing:
            raise ValueError(
                f"execute_sql(CREATE TABLE): {key.replace('_cols', '')} "
                f"layout names columns not in the schema: {missing}"
            )
    for pname, expr in (lay.get("partition_transforms") or {}).items():
        if pname in have:
            raise ValueError(
                f"execute_sql(CREATE TABLE): partition name {pname!r} "
                "collides with a table column — transforms are DERIVED "
                "metadata, pick a distinct name"
            )
        try:
            df.select(F.expr(expr))
        except Exception as exc:
            raise ValueError(
                f"execute_sql(CREATE TABLE): partition transform "
                f"{pname!r} ({expr!r}) does not analyze over the "
                f"schema — {str(exc).splitlines()[0]}"
            ) from None
    if lay.get("bloom_cols"):
        sn._check_bloom_cols(
            df, lay["bloom_cols"], int(lay.get("bloom_bits") or 8192)
        )


def _create_table_commit(
    spark: SparkSession,
    root: str,
    df: DataFrame,
    lay: dict,
    existing: dict | None,
    cols: list | None,
) -> int:
    """The CREATE TABLE / CTAS commit, ONE version either way:

    * explicit schema (``cols``): an empty schema-carrying file group
      plus the layout policy in the manifest — every read works (the
      file carries the schema) and every later write routes through
      `_policy_write` under the declared policy;
    * CTAS content: data pre-arranged to the declared clustering
      (z-order Morton layout / range-cluster) inside the same
      overwrite, stats and blooms recorded per policy — no
      intermediate empty state a concurrent reader could observe.
      PARTITIONED BY content lands through the partitioned writer —
      append-shaped, so it serves fresh roots only; an OR REPLACE over
      existing state refuses (DROP first)."""
    transforms = lay.get("partition_transforms")
    stats_cols = list(
        dict.fromkeys(
            [*(lay.get("sort_cols") or []), *(lay.get("zorder_cols") or []),
             *(lay.get("stats_cols") or [])]
        )
    ) or None
    # a layout on a REPLACE is WHOLESALE: declared clauses become the
    # whole layout; no clauses means the prior layout filtered to what
    # the new schema can honor (a stale partition transform over a
    # dropped column would otherwise brick every later INSERT's
    # routing) — both through snapshot_overwrite's override path,
    # never the additive meta merge (which accumulates transform
    # names by design, wrong for a replace)
    lay_replace = dict(lay) if lay else _filter_prior_layout(
        spark, root, df
    )
    if cols is not None:
        return sn.snapshot_overwrite(
            df.coalesce(1), root, _layout_override=lay_replace
        )
    if transforms:
        if existing is not None:
            raise ValueError(
                "execute_sql(CREATE OR REPLACE TABLE): PARTITIONED BY "
                "content cannot replace an existing lineage in one "
                "commit — DROP TABLE first, or create empty with an "
                "explicit column list and INSERT"
            )
        return sn.snapshot_append_partitioned(
            df, root, dict(transforms),
            stats_cols=stats_cols, sort_cols=lay.get("sort_cols"),
            bloom_cols=lay.get("bloom_cols"),
            bloom_bits=int(lay.get("bloom_bits") or 8192),
            zorder_cols=lay.get("zorder_cols"),
            zorder_bits=int(lay.get("zorder_bits") or 8),
        )
    arranged = df
    if lay.get("zorder_cols"):
        arranged = sn._zorder_frame(
            df, list(lay["zorder_cols"]),
            int(lay.get("zorder_bits") or 8), 8,
        )
    elif lay.get("sort_cols"):
        sc = list(lay["sort_cols"])
        arranged = df.repartitionByRange(8, *sc).sortWithinPartitions(*sc)
    if not lay:
        # no declaration: a replace inherits the prior layout's
        # stats/bloom policy, filtered to columns the content carries
        stats_cols, bloom_cols, bloom_bits = sn._inherit_prune_policy(
            root, df.columns, None, None, 8192
        )
    else:
        bloom_cols = lay.get("bloom_cols")
        bloom_bits = int(lay.get("bloom_bits") or 8192)
    return sn.snapshot_overwrite(
        arranged, root,
        stats_cols=stats_cols,
        bloom_cols=bloom_cols,
        bloom_bits=bloom_bits,
        _layout_override=lay_replace,
    )


def _filter_prior_layout(
    spark: SparkSession, root: str, df: DataFrame
) -> dict | None:
    """The prior layout filtered to what the REPLACEMENT content can
    honor, used as a WHOLESALE layout override: column policies keep
    only surviving columns; partition transforms keep only expressions
    that analyze over the new schema.  None when the table has no
    prior layout (no override needed); an empty dict CLEARS a layout
    nothing of which survives."""
    from pyspark.sql import functions as F

    cur_v = sn.current_version(root)
    if cur_v is None:
        return None
    prior = sn._read_manifest_meta(root, cur_v).get("layout") or {}
    if not prior:
        return None
    have = set(df.columns)
    out: dict = {}
    for key in ("sort_cols", "zorder_cols", "stats_cols", "bloom_cols"):
        kept = [c for c in prior.get(key) or [] if c in have]
        if kept:
            out[key] = kept
    if out.get("zorder_cols") and prior.get("zorder_bits"):
        out["zorder_bits"] = prior["zorder_bits"]
    if out.get("bloom_cols") and prior.get("bloom_bits"):
        out["bloom_bits"] = prior["bloom_bits"]
    tr: dict = {}
    for name, expr in (prior.get("partition_transforms") or {}).items():
        if name in have:
            continue  # the new schema claimed the derived name
        try:
            df.select(F.expr(expr))
        except Exception:
            continue  # references dropped columns — retire it
        tr[name] = expr
    if tr:
        out["partition_transforms"] = tr
    return out


def _int_literal(cur: "_Cursor", what: str) -> int:
    t = cur.peek()
    if t is None or not re.fullmatch(r"\d+", t):
        cur.fail(f"{what} takes an integer, got {t!r}")
    cur.i += 1
    return int(t)


def _ts_epoch(spark: SparkSession, lit: str, what: str) -> float:
    """A quoted-timestamp TOKEN (quotes still on) → epoch seconds.
    Naive literals resolve in the SESSION timezone — the Delta/Spark
    time-travel rule; assuming UTC would silently pin wrong versions
    for non-UTC users.  ONE spelling shared by every AS OF surface
    (inline rewrite, RESTORE) so quote unescaping, ISO parsing and the
    timezone rule cannot drift apart."""
    if not (lit.startswith("'") and lit.endswith("'") and len(lit) >= 2):
        raise SqlSyntaxError(
            f"execute_sql: {what} takes a quoted timestamp literal, "
            f"got {lit!r}\n{_GRAMMAR}"
        )
    from datetime import datetime

    s = lit[1:-1].replace("''", "'")
    try:
        dt = datetime.fromisoformat(s)
    except ValueError:
        raise SqlSyntaxError(
            f"execute_sql: unparseable {what} timestamp {s!r} "
            "(ISO format, e.g. '2026-01-01 00:00:00')"
        ) from None
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=_session_tz(spark, what))
    return dt.timestamp()


def _session_tz(spark: SparkSession, what: str):
    """The session timezone as a tzinfo — IANA names via zoneinfo,
    fixed offsets (``+05:30``, ``GMT+8``) parsed directly; anything
    else refuses loudly rather than silently pinning wrong versions."""
    from datetime import timedelta, timezone as _tz

    name = spark.conf.get("spark.sql.session.timeZone")
    if not name:
        return _tz.utc
    try:
        from zoneinfo import ZoneInfo

        return ZoneInfo(name)
    except Exception:
        m = re.fullmatch(
            r"(?:GMT|UTC)?([+-])(\d{1,2})(?::?(\d{2}))?", name
        )
        if m:
            sign = 1 if m.group(1) == "+" else -1
            return _tz(
                sign
                * timedelta(
                    hours=int(m.group(2)), minutes=int(m.group(3) or 0)
                )
            )
        raise ValueError(
            f"execute_sql: {what}: cannot resolve session timezone "
            f"{name!r} — pass an explicit offset in the literal"
        ) from None


def _rewrite_time_travel(
    spark: SparkSession, catalog_dir: str, text: str
) -> str:
    """Inline Delta/Iceberg-style TIME TRAVEL in query text:
    ``<table> VERSION AS OF <n>``, ``<table> VERSION AS OF '<ref>'``
    (a named tag/branch), ``<table> TIMESTAMP AS OF '<ts>'`` — each
    occurrence attaches a pinned temp view on the spot (resolution and
    lineage rules are `attach_snapshot_view`'s) and the query text is
    rewritten to reference it; everything else in the statement —
    including string literals, which tokenize whole — passes through
    byte-identical.  Only catalog TABLE names participate: time travel
    on a view has no lineage, and composing AS OF over a PINNED entry
    would silently bypass the recorded pin, so both refuse loudly."""
    toks = _tokens(text)
    entries: dict | None = None
    out: list[str] = []
    last = 0
    i = 0
    while i < len(toks):
        t, lo, _hi = toks[i]
        if (
            re.fullmatch(r"[A-Za-z_][A-Za-z_0-9$]*", t)
            and i + 4 < len(toks)
            and toks[i + 1][0].upper() in ("VERSION", "TIMESTAMP")
            and toks[i + 2][0].upper() == "AS"
            and toks[i + 3][0].upper() == "OF"
        ):
            kindkw = toks[i + 1][0].upper()
            lit = toks[i + 4][0]
            if entries is None:
                entries = cat.catalog_entries(catalog_dir)
            e = entries.get(t)
            if e is None or e.get("kind") not in (None, "table"):
                what = "not in the catalog" if e is None else (
                    f"a {e.get('kind')} — only snapshot tables have a "
                    "version lineage"
                )
                raise FileNotFoundError(
                    f"execute_sql: time travel on {t!r}: {what}"
                )
            if any(e.get(k) is not None for k in ("version", "asof", "ref")):
                raise ValueError(
                    f"execute_sql: {t!r} is a PINNED catalog entry — "
                    "AS OF over it would silently bypass the recorded "
                    "pin; time-travel the live table name instead"
                )
            version = asof = ref = None
            if kindkw == "VERSION":
                if lit.startswith("'") and lit.endswith("'") and len(lit) >= 2:
                    ref = lit[1:-1].replace("''", "'")
                elif re.fullmatch(r"\d+", lit):
                    version = int(lit)
                else:
                    raise SqlSyntaxError(
                        "execute_sql: VERSION AS OF takes an integer "
                        f"version or a quoted ref name, got {lit!r}"
                    )
            else:
                asof = _ts_epoch(spark, lit, "TIMESTAMP AS OF")
            import hashlib

            safe = (
                f"{t}__asof_"
                + hashlib.md5(f"{kindkw}:{lit}".encode()).hexdigest()[:8]
            )
            sn.attach_snapshot_view(
                spark, safe, e["root"], version=version, asof=asof, ref=ref
            )
            out.append(text[last:lo])
            out.append(safe)
            last = toks[i + 4][2]
            i += 5
            continue
        i += 1
    if not out:
        return text
    out.append(text[last:])
    return "".join(out)


def _run_query(spark: SparkSession, catalog_dir: str, sql: str) -> DataFrame:
    """A SELECT: analyzed ONCE over the plain attach, then three
    deciders read that one optimized plan — a metadata answer, top-k
    pruning, plan-driven file pruning — and one decision record per
    statement says what each did.  Only a statement where some view
    got pruned re-analyzes; time travel keeps the plain attach."""
    entries = _attach(spark, catalog_dir, sql)
    text = _rewrite_time_travel(spark, catalog_dir, sql)
    df = spark.sql(text)
    if text != sql:
        return df
    note: dict = {}
    meta = _metadata_answer(spark, catalog_dir, sql, entries, df=df, note=note)
    if meta is not None:
        _log_decisions(note)
        return meta
    pruned = _topk_attach(spark, catalog_dir, sql, entries, df=df, note=note)
    if pruned is None:
        pruned = _pruned_attach(
            spark, catalog_dir, sql, entries, df=df, note=note
        )
    else:
        _log_decisions(note)
    if not pruned:
        return df
    try:
        df = spark.sql(text)
    finally:
        # spark.sql analyzed EAGERLY (the plan holds the pruned scan);
        # restore the saved PLAIN views — also on an analysis error — so
        # no pruned subset lingers under a table's name
        for nm, prior in pruned.items():
            prior.createOrReplaceTempView(nm)
    return df


#: SELECT decision records — one DEBUG record per SELECT: the metadata
#: answer's and top-k pruning's outcome ("metadata" / "topk" keys) and,
#: per catalog table, the files total and kept or the reason the table
#: kept its plain attach
_log = logging.getLogger(__name__)


def _log_decisions(record: dict) -> None:
    if _log.isEnabledFor(logging.DEBUG):
        _log.debug("select pruning %s", json.dumps(record, sort_keys=True),
                   extra={"pruning": record})

_EPOCH_DATE = datetime.date(1970, 1, 1)
_EPOCH_TS = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)

#: comparison node → claim side with the attribute on the LEFT / RIGHT;
#: strict bounds claim their inclusive superset (the filter re-applies)
_COMPARISONS = {
    "EqualTo": ("eq", "eq"),
    "GreaterThanOrEqual": ("lo", "hi"),
    "GreaterThan": ("lo", "hi"),
    "LessThanOrEqual": ("hi", "lo"),
    "LessThan": ("hi", "lo"),
}


def _pruned_attach(
    spark: SparkSession,
    catalog_dir: str,
    sql: str,
    entries: dict | None = None,
    df: DataFrame | None = None,
    note: dict | None = None,
) -> dict | None:
    """STATEMENT-LEVEL manifest pruning driven by Catalyst's optimized
    plan: a catalog table whose every data-file scan sits directly under
    a typed ``Filter`` re-registers its temp view as
    `read_snapshot_pruned` over the claims those filters imply, so
    manifest stats, blooms and hidden-partition values skip FILES.
    Returns ``{name: prior_plain_view}`` for the re-registered tables
    (the caller restores them after analysis), or None.  ``df`` is the
    statement already analyzed over the plain attach; the decision
    record it logs carries ``note`` (the other deciders' outcomes).

    Soundness: the optimized plan equals the statement for ANY contents
    of its scans, and each scan of table T reads only the rows its own
    ``Filter(c_i)`` keeps — so narrowing T to C = OR(c_i) changes no
    scan's output, and the pruned view re-applies C.  Claims weaken C
    (`_claims`: typed attribute-vs-literal ``=`` / ``IN`` / range /
    ``StartsWith`` and partition-transform equalities, through AND and
    OR).  Catalyst has already resolved CTEs, subqueries, join sides,
    literal types and time zones: a null-extended side's filter stays
    above its join, self-joins and UNIONs OR their scans' filters.

    A table keeps the plain attach when a scan of its files has no
    ``Filter`` directly above it ("unfiltered scan"), a scan under its
    root reads files that are neither its data nor its delete lists
    ("unmapped relation"), no claim survives ("no claimable
    conjunct"), or the claims skip no file.  Views and materialized
    views never prune; a cached fragment (``InMemoryRelation``) hides
    the scans it replaced, so the whole statement keeps the plain
    attach."""
    if df is None:
        try:
            df = spark.sql(sql)
        except Exception:
            return None  # Spark rejects the statement: nothing to prune
    if entries is None:
        entries = cat.catalog_entries(catalog_dir)
    record = dict(note or {})
    try:
        scans = _plan_scans(df._jdf.queryExecution().optimizedPlan())
        state = None if scans is None else _walk(spark, entries, scans)
    except Exception:  # an unreadable plan: the plain attach stands
        _log.debug("select pruning: plan walk failed", exc_info=True)
        state = None
    if state is None:
        _log_decisions(record)  # a cached fragment or unreadable plan
        return None
    pruned: dict = {}
    for nm, st in state.items():
        if "refused" in st:
            continue
        if not st.get("claims"):
            st["refused"] = "no claimable conjunct"
            continue
        args = _pruned_read_args(st["claims"])
        try:
            keep = sn._prune_keep(st["m"], **args)
            st["kept"] = len(keep)
            if len(keep) == len(st["data"]):
                continue  # the claims skip no file: keep the plain attach
            prior = spark.table(nm)
            view = sn.read_snapshot_pruned(
                spark, st["root"], version=st["version"], _keep=keep, **args
            )
            view.schema  # force analysis NOW: an unanalyzable pruned
            # view must fall back to the plain attach, not fail the
            # statement
        except Exception as exc:
            st["refused"] = f"pruned read failed: {type(exc).__name__}"
            continue
        view.createOrReplaceTempView(nm)
        pruned[nm] = prior
    for nm, st in state.items():
        record[nm] = {"files": len(st["data"]), **{
            k: st[k] for k in ("kept", "refused") if k in st
        }}
    _log_decisions(record)
    return pruned or None


def _plan_scans(plan) -> list | None:
    """``(relation, filter condition or None)`` for every
    ``LogicalRelation`` in an optimized plan and in its subquery plans
    — the condition is the ``Filter`` directly above the scan.  None
    when a cached fragment (``InMemoryRelation``) stands in for scans
    the walk cannot see."""
    out = []
    subs = plan.subqueriesAll()
    stack = [plan] + [subs.apply(i) for i in range(subs.size())]
    while stack:
        node = stack.pop()
        kind = node.nodeName()
        if kind == "InMemoryRelation":
            return None
        if kind == "LogicalRelation":
            out.append((node, None))
            continue
        if kind == "Filter" and node.child().nodeName() == "LogicalRelation":
            out.append((node.child(), node.condition()))
            continue
        ch = node.children()
        stack.extend(ch.apply(i) for i in range(ch.size()))
    return out


def _walk(spark, entries: dict, scans: list) -> dict:
    """Per catalog table, the walk state `_scan_claims` folds every scan
    of its files into — a relation maps to the table whose root is the
    nearest ancestor of its files (every table sharing that root)."""
    roots = _table_roots(entries)
    state: dict[str, dict] = {}
    for rel, cond in scans:
        hit = _relation_table(roots, rel)
        if hit is None:
            continue
        names, rels = hit
        for nm in names:
            if nm not in state:
                try:
                    state[nm] = _table_state(entries[nm])
                except Exception:
                    state[nm] = {"data": (), "refused": "unreadable manifest"}
            if "refused" not in state[nm]:
                _scan_claims(spark, nm, state[nm], rels, cond)
    return state


def _local_path(p: str) -> str:
    """A Hadoop ``file:`` path string as a local absolute path."""
    if p.startswith("file:"):
        p = "/" + p[len("file:"):].lstrip("/")
    return os.path.normpath(p)


def _table_state(e: dict) -> dict:
    """One catalog table's walk state: the pinned manifest's data and
    delete-list files (root-relative) and, on an evolved table, the
    per-file physical→field-id bindings and field-id→logical names."""
    _pin, v_res = _entry_version(e, e["root"])
    m = sn._read_manifest(e["root"], v_res)
    return {
        "root": e["root"],
        "version": v_res,
        "m": m,
        "data": set(m["files"]),
        "deletes": {d["file"] for d in m.get("delete_files") or []},
        "fields": {fl["id"]: fl["name"] for fl in m.get("fields") or []},
        "bindings": m.get("file_fields") or {},
        "transforms": (m.get("layout") or {}).get("partition_transforms")
        or {},
    }


class _Refused(Exception):
    """A metadata answer or top-k prune declined; the message is the
    reason the decision record carries."""


def _scan_columns(st: dict, rels: list):
    """``col_of`` — physical → logical column name — for one scan of a
    table's files; `_Refused` ("unmapped relation") when the pinned
    manifest does not list them all as data, or (evolved table) they
    mix schema bindings."""
    bind = st["bindings"].get(rels[0]) if st["fields"] else None
    if not set(rels) <= st["data"] or (st["fields"] and (
        bind is None or any(st["bindings"].get(f) != bind for f in rels)
    )):
        raise _Refused("unmapped relation")
    return str if bind is None else {
        p: st["fields"].get(i) for p, i in bind.items()
    }.get


def _scan_claims(spark, name: str, st: dict, rels: list, cond) -> None:
    """Fold one scan of a table's files into its walk state: a delete
    list scan is skipped, a scan of files the pinned manifest does not
    list as data (or of mixed evolved-schema bindings) or with no
    ``Filter`` refuses the table, and a filtered scan ORs its claims
    into the table's."""
    if all(f in st["deletes"] for f in rels):
        return
    try:
        col_of = _scan_columns(st, rels)
    except _Refused as exc:
        st["refused"] = str(exc)
        return
    if cond is None:
        st["refused"] = "unfiltered scan"
        return
    try:
        c = _claims(
            cond, col_of, lambda e: _transform_of(spark, name, st, e, col_of)
        )
    except Exception:
        c = {}  # an expression this walk cannot read claims nothing
    st["claims"] = c if "claims" not in st else _or(st["claims"], c)


def _transform_of(spark, name: str, st: dict, expr, col_of) -> str | None:
    """The partition name whose transform is ``expr`` (an optimized-plan
    expression over one scan's attributes), matched structurally
    against each transform analyzed over the table's plain view."""
    if not st["transforms"]:
        return None
    keys = st.get("transform_keys")
    if keys is None:
        keys = st["transform_keys"] = {}
        try:
            proj = (
                spark.table(name)
                .selectExpr(*st["transforms"].values())
                ._jdf.queryExecution()
                .analyzed()
                .projectList()
            )
            for k, pname in enumerate(st["transforms"]):
                keys[_expr_key(proj.apply(k).child(), str)] = pname
        except Exception:
            pass  # an unanalyzable transform claims nothing
    return keys.get(_expr_key(expr, col_of))


def _expr_key(e, col_of) -> tuple:
    """Structural identity of an expression: node kinds and result
    types, attributes by lower-cased logical name, foldable subtrees by
    their value — so a transform's analyzed ``a % CAST(4 AS BIGINT)``
    matches the optimizer's constant-folded ``a % 4L``."""
    kind = e.nodeName()
    t = e.dataType().simpleString()
    if kind == "AttributeReference":
        return ("attr", str(col_of(e.name()) or "").lower())
    if e.foldable():
        return ("lit", t, str(e.eval(None)))
    ch = e.children()
    return (kind, t, tuple(_expr_key(ch.apply(i), col_of) for i in range(ch.size())))


def _value(raw, t: str):
    """A Catalyst literal's internal value as the python value the
    pruned reader compares and re-applies, or None (no claim): integral
    and string values as is, DATE days and TIMESTAMP microseconds as
    date / UTC datetime, finite floats."""
    if raw is None:
        return None
    if t in _INTEGRAL:
        return int(raw)
    if t == "string":
        return str(raw)
    if t == "date":
        return _EPOCH_DATE + datetime.timedelta(days=int(raw))
    if t == "timestamp":
        return _EPOCH_TS + datetime.timedelta(microseconds=int(raw))
    if t in ("float", "double"):
        f = float(raw)
        return f if f == f else None
    return None


def _literal(e) -> tuple[str, object] | None:
    """``(type, python value)`` of a non-NULL literal of a claimable
    type, else None."""
    if e.nodeName() != "Literal":
        return None
    t = e.dataType().simpleString()
    v = _value(e.value(), t)
    return None if v is None else (t, v)


def _claims(e, col_of, part_of) -> dict:
    """Pruning claims one filter condition implies: ``{("c", col):
    ("in", values) | ("range", lo, hi), ("s", col): prefix, ("p",
    pname): partition strings}`` — logical column names via
    ``col_of(physical)``, partition names via ``part_of(expr)``.  An
    empty dict claims nothing."""
    kind = e.nodeName()
    if kind in ("And", "Or"):
        a = _claims(e.left(), col_of, part_of)
        b = _claims(e.right(), col_of, part_of) if a or kind == "And" else {}
        return _and(a, b) if kind == "And" else _or(a, b)
    if kind in ("EqualTo", "In", "InSet"):
        pv = _point_values(e)
        return {} if pv is None else _point_claims(*pv, col_of, part_of)
    if kind in _COMPARISONS:
        left, right = e.left(), e.right()
        side = _COMPARISONS[kind][0]
        if right.nodeName() != "Literal":
            left, right = right, left
            side = _COMPARISONS[kind][1]
        lit = _literal(right)
        col = _column(left, col_of)
        if lit is None or col is None:
            return {}
        v = lit[1]
        return {
            ("c", col): ("range", v, None) if side == "lo"
            else ("range", None, v)
        }
    if kind == "StartsWith":
        col = _column(e.left(), col_of)
        lit = _literal(e.right())
        if col is None or lit is None or lit[0] != "string" or not lit[1]:
            return {}
        return {("s", col): lit[1]}
    return {}


def _point_values(e) -> tuple | None:
    """``(expression, type, python values)`` when condition ``e`` is
    ``x = literal``, ``x IN (literals)`` or an ``InSet`` of claimable
    values — NULL members dropped (they never match) — else None."""
    kind = e.nodeName()
    if kind == "EqualTo":
        x, lit = e.left(), e.right()
        if lit.nodeName() != "Literal":
            x, lit = lit, x
        hit = _literal(lit)
        return None if hit is None else (x, hit[0], [hit[1]])
    if kind == "In":
        t, vals = None, []
        for m in _items(e.list()):
            if m.nodeName() == "Literal" and m.value() is None:
                continue
            hit = _literal(m)
            if hit is None:
                return None  # an expression or unclaimable-type member
            t = hit[0]
            vals.append(hit[1])
        return (e.value(), t, vals) if vals else None
    if kind == "InSet":
        t = e.child().dataType().simpleString()
        h = e.hset()
        # one py4j round trip for the whole set; a member carrying the
        # separator shows up as a count mismatch and claims nothing.
        # FLOAT members would print shorter than their float32 value,
        # and a NULL member would print as the string "null"
        raw = h.mkString("\u0001").split("\u0001") if h.size() else []
        if len(raw) != h.size() or t == "float" or h.contains(None):
            return None
        vals = [_value(x, t) for x in raw]
        return None if not vals or None in vals else (e.child(), t, vals)
    return None


def _column(e, col_of) -> str | None:
    """The logical column a bare attribute reads, else None."""
    if e.nodeName() != "AttributeReference":
        return None
    return col_of(e.name())


def _point_claims(e, t: str, vals: list, col_of, part_of) -> dict:
    """Claims for ``e = v`` / ``e IN (vals)``: a value set on a bare
    column, plus a partition-value set when ``e`` is a partition
    transform whose output type records values faithfully (integral,
    string, date — their python str() is Spark's string cast)."""
    out = {}
    col = _column(e, col_of)
    if col is not None:
        out[("c", col)] = ("in", frozenset(vals))
    if t in _INTEGRAL or t in ("string", "date"):
        pname = part_of(e)
        if pname is not None:
            out[("p", pname)] = frozenset(str(v) for v in vals)
    return out


def _and(a: dict, b: dict) -> dict:
    """Claims of a conjunction: every claim of either side, two claims
    on one key intersected."""
    out = dict(a)
    for k, c in b.items():
        out[k] = _meet(out[k], c) if k in out else c
    return out


def _meet(x, y):
    """The tighter of two claims on one key — an intersection when one
    is representable, else either (both are implied)."""
    if isinstance(x, frozenset):
        return (x & y) or x
    if isinstance(x, str):
        return y if y.startswith(x) else x
    if x[0] == "in" or y[0] == "in":
        return x if x[0] == "in" else y
    lo = x[1] if y[1] is None else y[1] if x[1] is None else max(x[1], y[1])
    hi = x[2] if y[2] is None else y[2] if x[2] is None else min(x[2], y[2])
    return ("range", lo, hi)


def _or(a: dict, b: dict) -> dict:
    """Claims of a disjunction: only keys both sides claim, each the
    union of the two (an IN set, a range envelope, a common prefix)."""
    out = {}
    for k in a.keys() & b.keys():
        u = _join(a[k], b[k])
        if u is not None:
            out[k] = u
    return out


def _join(x, y):
    if isinstance(x, frozenset):
        return x | y
    if isinstance(x, str):
        return os.path.commonprefix([x, y]) or None
    if x[0] == "in" and y[0] == "in":
        return ("in", x[1] | y[1])
    (xl, xh), (yl, yh) = _bounds(x), _bounds(y)
    lo = None if xl is None or yl is None else min(xl, yl)
    hi = None if xh is None or yh is None else max(xh, yh)
    return None if lo is None and hi is None else ("range", lo, hi)


def _bounds(c) -> tuple:
    return (min(c[1]), max(c[1])) if c[0] == "in" else (c[1], c[2])


def _pruned_read_args(claims: dict) -> dict:
    """Claims as `read_snapshot_pruned` keywords: int/str value sets
    probe stats AND blooms per value (``point_eq`` / ``point_in``);
    temporal and float sets claim their envelope as a range."""
    args: dict = {}
    for (kind, name), c in claims.items():
        if kind == "p":
            args.setdefault("partition_eq", {})[name] = sorted(c)
        elif kind == "s":
            args.setdefault("prefixes", {})[name] = c
        elif c[0] == "in" and all(isinstance(v, (int, str)) for v in c[1]):
            if len(c[1]) == 1:
                args.setdefault("point_eq", {})[name] = next(iter(c[1]))
            else:
                args.setdefault("point_in", {})[name] = sorted(c[1])
        else:
            args.setdefault("ranges", {})[name] = _bounds(c)
    return args


_INTEGRAL = {"tinyint", "smallint", "int", "bigint"}

#: plan nodes that may sit above a metadata-answered Aggregate: they
#: only consume its rows, so Spark evaluates them over the folded rows
_ABOVE_AGG = ("Project", "Filter", "Sort", "GlobalLimit", "LocalLimit")

#: node kinds a top-k statement's sorted subtree may hold — the
#: table's own scan chain, plus the merge-on-read joins of its view
_TOPK_NODES = (
    "Project", "Filter", "Join", "LogicalRelation", "LocalRelation",
)


def _items(seq) -> list:
    """A Scala Seq as a python list."""
    return [seq.apply(i) for i in range(seq.size())]


def _seq(spark, items: list):
    return spark._jvm.PythonUtils.toSeq(list(items))


def _utc(spark) -> bool:
    return spark.conf.get("spark.sql.session.timeZone") in (
        "UTC", "Etc/UTC", "GMT",
    )


def _fold_reason(exc: ValueError) -> str:
    """A snapshot fold's refusal as a decision-record reason."""
    msg = str(exc)
    for needle, why in (
        ("MoR delete", "MoR deletes"),
        ("schema-evolved", "evolved table"),
        ("NaN", "NaN stats"),
        ("mixed lineage", "mixed lineage"),
    ):
        if needle in msg:
            return why
    return "no recorded metadata"


def _scan_chain(node) -> tuple[dict, object, object]:
    """Peel ``Project`` / ``Filter`` nodes off a plan: ``(aliases,
    condition or None, leaf)`` — ``aliases`` maps an alias's exprId to
    its expression; the one ``Filter`` allowed sits directly over the
    leaf."""
    aliases: dict = {}
    cond = None
    while node.nodeName() in ("Project", "Filter"):
        if node.nodeName() == "Project":
            for e in _items(node.projectList()):
                if e.nodeName() == "Alias":
                    aliases[e.exprId().id()] = e.child()
        elif cond is None and node.child().nodeName() == "LogicalRelation":
            cond = node.condition()
        else:
            raise _Refused("residual filter")
        node = node.child()
    return aliases, cond, node


def _traced(e, aliases: dict):
    """An attribute traced through the ``Project`` aliases below it."""
    while e.nodeName() == "AttributeReference" and e.exprId().id() in aliases:
        e = aliases[e.exprId().id()]
    return e


def _relation_table(roots: dict, rel) -> tuple[list, list] | None:
    """``(table names, root-relative files)`` of a parquet relation — the
    tables whose root is the nearest ancestor of its files — or None
    for a relation that is not a file scan."""
    fsrel = rel.relation()
    if fsrel.getClass().getSimpleName() != "HadoopFsRelation":
        return None
    paths = [
        _local_path(p)
        for p in fsrel.location().rootPaths().mkString("\n").split("\n")
    ]
    root = os.path.dirname(paths[0])
    while root not in roots and os.path.dirname(root) != root:
        root = os.path.dirname(root)
    return roots.get(root, []), [os.path.relpath(p, root) for p in paths]


def _table_roots(entries: dict) -> dict:
    roots: dict[str, list[str]] = {}
    for nm, e in entries.items():
        if e.get("kind") not in ("view", "mview"):
            roots.setdefault(os.path.abspath(e["root"]), []).append(nm)
    return roots


def _one_table(entries: dict, rels: list) -> tuple[str, dict, list]:
    """The one catalog table a set of relations scans: ``(name, walk
    state, [(relation, root-relative files)])``."""
    roots = _table_roots(entries)
    names: set = set()
    files = []
    for rel in rels:
        hit = _relation_table(roots, rel)
        if hit is None or not hit[0]:
            raise _Refused("not a catalog table scan")
        names.update(hit[0])
        files.append((rel, hit[1]))
    if len(names) != 1:
        raise _Refused("more than one table")
    (name,) = names
    return name, _table_state(entries[name]), files


def _null_rejected(e) -> set:
    """Physical names of the attributes whose NULL makes ``e`` NULL."""
    if e.nodeName() == "AttributeReference":
        return {e.name()}
    if not e.nullIntolerant():
        return set()
    out: set = set()
    for c in _items(e.children()):
        out |= _null_rejected(c)
    return out


def _partition_claim(spark, name: str, st: dict, c, col_of):
    """``(pname, value strings, null-rejected attrs)`` when conjunct
    ``c`` is exactly a partition-transform equality, IN list, or a
    disjunction of those on one transform — else None.  Values are the
    transform's output as the manifest records it (integral, date, or
    a non-empty string: hive writes '' and NULL as one marker)."""
    if c.nodeName() == "Or":
        a = _partition_claim(spark, name, st, c.left(), col_of)
        b = _partition_claim(spark, name, st, c.right(), col_of)
        if a is None or b is None or a[0] != b[0]:
            return None
        return a[0], a[1] | b[1], a[2] & b[2]
    pv = _point_values(c)
    if pv is None:
        return None
    e, t, vals = pv
    if not (t in _INTEGRAL or t in ("string", "date")) or "" in vals:
        return None
    pname = _transform_of(spark, name, st, e, col_of)
    if pname is None:
        return None
    return pname, {str(v) for v in vals}, _null_rejected(e)


def _bound(spark, c, col_of):
    """``(column, (lo, lo_strict, hi, hi_strict), physical name)`` when
    conjunct ``c`` is exactly a comparison of an integral, DATE or (UTC
    session) TIMESTAMP column with a literal — else None."""
    kind = c.nodeName()
    if kind not in _COMPARISONS:
        return None
    a, lit, side = c.left(), c.right(), _COMPARISONS[kind][0]
    if lit.nodeName() != "Literal":
        a, lit, side = lit, a, _COMPARISONS[kind][1]
    if a.nodeName() != "AttributeReference" or lit.nodeName() != "Literal":
        return None
    t = a.dataType().simpleString()
    if t == "timestamp" and not _utc(spark):
        return None  # the boundary scan compares session-local values
    if not (t in _INTEGRAL or t in ("date", "timestamp")):
        return None
    v = _value(lit.value(), t)
    if v is None:
        return None
    if t == "timestamp":
        v = v.replace(tzinfo=None)
    strict = kind in ("GreaterThan", "LessThan")
    claim = {
        "eq": (v, False, v, False),
        "lo": (v, strict, None, False),
        "hi": (None, False, v, strict),
    }[side]
    return col_of(a.name()), claim, a.name()


def _exact_claims(spark, name: str, st: dict, cond, col_of):
    """A scan's filter condition translated EXACTLY into the metadata
    folds' claims ``(bounds, partition_eq)``: every conjunct must be a
    `_bound` or a `_partition_claim`; an ``isnotnull(a)`` conjunct
    passes only when another conjunct already rejects NULLs of ``a``.
    Any other conjunct refuses ("residual conjunct")."""
    bounds: dict = {}
    peq: dict = {}
    notnull: set = set()
    rejected: set = set()
    stack = [] if cond is None else [cond]
    while stack:
        c = stack.pop()
        if c.nodeName() == "And":
            stack += [c.left(), c.right()]
            continue
        if (
            c.nodeName() == "IsNotNull"
            and c.child().nodeName() == "AttributeReference"
        ):
            notnull.add(c.child().name())
            continue
        p = _partition_claim(spark, name, st, c, col_of)
        if p is not None and p[0] not in peq:
            peq[p[0]] = p[1]
            rejected |= p[2]
            continue
        b = _bound(spark, c, col_of)
        if b is None:
            raise _Refused("residual conjunct")
        col, (lo2, ls2, hi2, hs2), phys = b
        lo1, ls1, hi1, hs1 = bounds.get(col, (None, False, None, False))
        # conjunctive claims on one column intersect: the tighter bound
        # per side, strict winning a tie
        if lo2 is not None and (lo1 is None or lo2 >= lo1):
            lo1, ls1 = lo2, ls2 or (lo2 == lo1 and ls1)
        if hi2 is not None and (hi1 is None or hi2 <= hi1):
            hi1, hs1 = hi2, hs2 or (hi2 == hi1 and hs1)
        bounds[col] = (lo1, ls1, hi1, hs1)
        rejected.add(phys)
    if notnull - rejected:
        raise _Refused("residual conjunct")
    return bounds, {
        p: sorted(v) if len(v) > 1 else next(iter(v)) for p, v in peq.items()
    }


def _metadata_answer(
    spark: SparkSession,
    catalog_dir: str,
    sql: str,
    entries: dict | None = None,
    df: DataFrame | None = None,
    note: dict | None = None,
) -> DataFrame | None:
    """METADATA-ANSWERED aggregates, decided from Catalyst's optimized
    plan: a SELECT whose plan is ``Project`` / ``Filter`` / ``Sort`` /
    ``GlobalLimit`` / ``LocalLimit`` nodes over ONE ``Aggregate`` over
    a scan of ALL the pinned data files of one catalog table (an
    evolved table's per-epoch ``Union`` counts as one scan when only
    ``Project`` nodes sit over it) answers from the snapshot manifest:
    the Aggregate is replaced by its folded rows and Spark evaluates
    everything above it (HAVING, ORDER BY, LIMIT, output names)
    without analyzing the rebuilt plan again.  ``df`` is the statement
    already analyzed over the plain attach; ``note["metadata"]``
    receives "answered" or the refusal reason.  Returns None when the
    statement must scan.

    Accepted: no grouping, or one partition-transform grouping (also
    ``SELECT DISTINCT <transform>``); aggregates ``count(1)``,
    ``min``/``max``/``sum``/``avg`` over one column, and ``count(DISTINCT
    <transform>)``; a WHERE that translates exactly into range bounds
    and partition equalities (`_exact_claims`).  The folds:
    `snapshot_row_count`, `snapshot_partition_count` / `_sums`,
    `_stats_agg_values` / `_stats_sums_values` with no WHERE,
    `snapshot_range_agg_values` under bounds (interior files fold, edge
    files scan once), `snapshot_group_range_agg` or the manifest's
    per-file partition values for groups.

    Value semantics the folds cannot reproduce refuse: float MIN/MAX
    over NaN-carrying or NaN-uncounted files, a SUM outside int64 and
    AVG operands past 2^53 (Spark's long / double accumulators),
    DECIMAL sums past their result precision and AVG with p+4 > 38 or
    precision loss off, grouped DECIMAL sums, a NULL group of a string
    transform (hive writes NULL and '' as one marker), TIMESTAMP
    MIN/MAX outside a UTC session, MoR deletes, schema evolution beyond
    a row count, and files without recorded values (mixed lineage)."""
    if df is None:
        try:
            df = spark.sql(sql)
        except Exception:
            return None  # Spark rejects the statement: nothing to answer
    if entries is None:
        entries = cat.catalog_entries(catalog_dir)
    out = None
    try:
        out = _fold_answer(spark, entries, df)
        why = "answered"
    except _Refused as exc:
        why = str(exc)
    except ValueError as exc:
        why = _fold_reason(exc)
    except Exception as exc:
        why = f"failed: {type(exc).__name__}"
    if note is not None:
        note["metadata"] = why
    return out


def _agg_spec(ae, aliases: dict, col_of) -> tuple:
    """``(kind, column, unscaled)`` of one aggregate expression:
    ``count`` (of a non-NULL literal), ``min`` / ``max`` / ``sum`` /
    ``avg`` over a bare column (``unscaled`` for the optimizer's
    ``UnscaledValue`` rewrite of small decimals), or ``cdist`` with the
    distinct expression in place of the column."""
    fn = ae.aggregateFunction()
    kind = fn.nodeName()
    args = _items(fn.children())
    if ae.filter().isDefined() or len(args) != 1:
        raise _Refused("aggregate")
    arg = _traced(args[0], aliases)
    if kind == "Count":
        if ae.isDistinct():
            return "cdist", arg, False
        if arg.nodeName() == "Literal" and arg.value() is not None:
            return "count", None, False
        raise _Refused("aggregate")
    kinds = {"Min": "min", "Max": "max", "Sum": "sum", "Average": "avg"}
    unscaled = arg.nodeName() == "UnscaledValue" and kind in ("Sum", "Average")
    if unscaled:
        arg = _traced(arg.child(), aliases)
    if kind not in kinds or ae.isDistinct() or (
        arg.nodeName() != "AttributeReference"
    ):
        raise _Refused("aggregate")
    return kinds[kind], col_of(arg.name()), unscaled


def _fold_answer(spark, entries: dict, df: DataFrame) -> DataFrame:
    """`_metadata_answer`'s body: raises `_Refused` (or a fold's
    ValueError) when the statement must scan."""
    from pyspark.sql import types as T

    plan = df._jdf.queryExecution().optimizedPlan()
    above, agg = [], plan
    while agg.nodeName() in _ABOVE_AGG:
        above.append(agg)
        agg = agg.child()
    if agg.nodeName() != "Aggregate":
        raise _Refused("not an aggregate")
    leaf = agg.child()
    branches = [leaf]
    # only Projects may sit over an evolved table's per-epoch Union: a
    # Filter there holds what the optimizer could not push into the
    # branches (a non-deterministic conjunct), which `_scan_chain`
    # refuses as a residual filter
    while leaf.nodeName() == "Project":
        leaf = leaf.child()
    if leaf.nodeName() == "Union":
        branches = _items(leaf.children())
    chains = [_scan_chain(b) for b in branches]
    if any(c[2].nodeName() != "LogicalRelation" for c in chains):
        scans = _plan_scans(agg.child()) or []
        try:
            st = _one_table(entries, [r for r, _c in scans])[1]
        except _Refused:
            st = {}
        raise _Refused(
            "MoR deletes" if st.get("deletes") else "not a single-table scan"
        )
    name, st, files = _one_table(entries, [c[2] for c in chains])
    if st["deletes"]:
        raise _Refused("MoR deletes")
    claims = []
    for (aliases, cond, _rel), (_r, rels) in zip(chains, files):
        col_of = _scan_columns(st, rels)
        claims.append(_exact_claims(spark, name, st, cond, col_of))
    if sum(len(r) for _rel, r in files) != len(st["data"]):
        raise _Refused("not a full scan")
    if any(c != claims[0] for c in claims):
        raise _Refused("residual conjunct")
    bounds, peq = claims[0]
    aliases = chains[0][0]
    if len(chains) > 1:
        col_of = None  # an evolved table answers row counts only
    groups = _items(agg.groupingExpressions())
    outputs = _items(agg.aggregateExpressions())
    aes: list = []  # unique AggregateExpressions, in output order
    stack = list(reversed(outputs))
    while stack:
        e = stack.pop()
        if e.nodeName() == "AggregateExpression":
            if not any(e.semanticEquals(x) for x in aes):
                aes.append(e)
        else:
            stack.extend(reversed(_items(e.children())))
    specs = [_agg_spec(ae, aliases, col_of or str) for ae in aes]
    if col_of is None and (groups or any(s[0] != "count" for s in specs)):
        raise _Refused("evolved table")
    pname = None
    dists = [s for s in specs if s[0] == "cdist"]
    if len(groups) > 1 or (dists and (groups or len(specs) > 1)):
        raise _Refused("grouping")
    gexpr = _traced(groups[0], aliases) if groups else (
        dists[0][1] if dists else None
    )
    if gexpr is not None:
        pname = _transform_of(spark, name, st, gexpr, col_of)
        if pname is None:
            raise _Refused("grouping not a partition transform")
    gtype = None if gexpr is None else gexpr.dataType().simpleString()
    if gtype is not None and not (gtype in _INTEGRAL or gtype in (
        "string", "date"
    )):
        raise _Refused("grouping type")
    sdf = spark.table(name)
    types = {f.name: f.dataType for f in sdf.schema.fields}
    mm = list(dict.fromkeys(c for k, c, _u in specs if k in ("min", "max")))
    sums = list(dict.fromkeys(c for k, c, _u in specs if k in ("sum", "avg")))
    for k, c, u in specs:
        dt = types.get(c)
        t = None if dt is None else dt.simpleString()
        if k in ("min", "max") and not (
            t in _INTEGRAL or t in ("float", "double", "date")
            or (t == "timestamp" and _utc(spark))
        ):
            raise _Refused(f"{k} type")
        if k in ("sum", "avg") and not (t in _INTEGRAL or (
            isinstance(dt, T.DecimalType) and pname is None and (
                u or k == "sum" or (
                    dt.precision + 4 <= 38
                    and str(spark.conf.get(
                        "spark.sql.decimalOperations.allowPrecisionLoss"
                    )).lower() == "true"
                )
            )
        )):
            raise _Refused(f"{k} type")
    temporal = {
        c: types[c].simpleString() for c in mm
        if types[c].simpleString() in ("date", "timestamp")
    }
    root, v = st["root"], st["version"]
    if pname is not None:
        groups_out = _group_fold(
            spark, st, pname, bounds, peq, mm, sums, temporal, sdf.schema
        )
        if gtype == "string" and None in groups_out:
            raise _Refused("hive NULL/'' group")
    elif not bounds and not peq:
        ext: dict = {}
        sv: dict = {}
        if sums:
            n, sv = sn._stats_sums_values(root, sums, v)
        if mm:
            n, ext = sn._stats_agg_values(
                root, mm, v, temporal_cols=temporal or None
            )
        elif not sums:
            n = sn.snapshot_row_count(root, v)
        groups_out = {None: (n, ext, sv)}
    elif not bounds and not mm:
        if sums:
            n, sv = sn.snapshot_partition_sums(root, peq, sums, v)
        else:
            n, sv = sn.snapshot_partition_count(root, peq, v), {}
        groups_out = {None: (n, {}, sv)}
    else:
        n, ext, sv = sn.snapshot_range_agg_values(
            spark, root, bounds, mm, v, schema=sdf.schema,
            partition_eq=peq or None, sum_cols=sums,
            temporal_cols=temporal or None,
        )
        groups_out = {None: (n, ext, sv)}

    def typed(s):
        if s is None or gtype == "string":
            return s
        return datetime.date.fromisoformat(s) if gtype == "date" else int(s)

    def value(spec, fold):
        kind, c, unscaled = spec
        n, ext, sv = fold
        if kind == "count":
            return int(n)
        if kind in ("min", "max"):
            return ext[c][0 if kind == "min" else 1]
        return _sum_value(kind, *sv[c], types[c], unscaled)

    if dists:
        rows = [(sum(1 for g in groups_out if g is not None),)]
    else:
        rows = [
            ((typed(g),) if groups else ())
            + tuple(value(s, groups_out[g]) for s in specs)
            for g in sorted(groups_out, key=lambda g: (g is not None, g))
        ]
    fields = [
        T.StructField(
            f"_a{i}", T._parse_datatype_json_string(e.dataType().json()),
            bool(e.nullable()),
        )
        for i, e in enumerate(groups + aes)
    ]
    local = sn._local_rows(spark, rows, T.StructType(fields))
    lplan = local._jdf.queryExecution().analyzed()
    subst = list(zip(groups + aes, _items(lplan.output())))

    def rewrite(e):
        for old, new in subst:
            if e.semanticEquals(old):
                return new
        ch = _items(e.children())
        if not ch:
            return e
        return e.withNewChildren(_seq(spark, [rewrite(x) for x in ch]))

    jvm = spark._jvm
    proj = []
    for ne in outputs:
        if ne.nodeName() == "Alias":
            proj.append(ne.withNewChildren(_seq(spark, [rewrite(ne.child())])))
        else:  # a grouping attribute passed through: keep its exprId
            proj.append(jvm.org.apache.spark.sql.catalyst.expressions.Alias(
                rewrite(ne), ne.name(), ne.exprId(), ne.qualifier(),
                jvm.scala.Some(ne.metadata()), _seq(spark, []),
            ))
    node = jvm.org.apache.spark.sql.catalyst.plans.logical.Project(
        _seq(spark, proj), lplan
    )
    if any(a.nodeName() == "Sort" for a in above):
        # the folded rows in ONE partition: a global Sort over them
        # runs in one task instead of a range-partitioning shuffle
        node = jvm.org.apache.spark.sql.catalyst.plans.logical.Repartition(
            1, False, node
        )
    for a in reversed(above):
        node = a.withNewChildren(_seq(spark, [node]))
    # every node is resolved — the statement's optimized nodes over the
    # folded rows — so Spark skips analyzing the rebuilt plan again
    node.setAnalyzed()
    jdf = jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        spark._jsparkSession, node
    )
    return DataFrame(jdf, spark)


def _sum_value(kind: str, s, nn: int, dt, unscaled: bool):
    """A folded ``(sum, n_nonnull)`` as Spark's SUM / AVG value, or
    `_Refused` where the fold cannot equal Spark's accumulation: a long
    SUM outside int64 would WRAP; an AVG whose sum or count passes 2^53
    double-rounds in Spark's double accumulator; a DECIMAL(p,s) sum past
    decimal(min(38,p+10), s) — the SUM type and AVG's sum buffer —
    overflows, as does a reproduced AVG past 38 digits.  ``unscaled``
    marks the optimizer's small-decimal rewrite (long sum / double avg
    of the unscaled values)."""
    from pyspark.sql import types as T

    if nn == 0:
        return None  # SUM / AVG over no non-NULL value
    if isinstance(dt, T.DecimalType) and not unscaled:
        if abs(int(s)) > 10 ** min(38, dt.precision + 10) - 1:
            raise _Refused("decimal overflow")
        if kind == "sum":
            return _unscaled_decimal(int(s), dt.scale)
        u = _spark_decimal_avg_unscaled(int(s), nn, dt.scale)
        if u is None:
            raise _Refused("decimal overflow")
        return _unscaled_decimal(u, dt.scale + 4)
    if kind == "sum":
        if not -(1 << 63) <= s < (1 << 63):
            raise _Refused("long SUM would wrap")
        return int(s)
    if abs(s) >= (1 << 53) or nn >= (1 << 53):
        raise _Refused("AVG operand past 2^53")
    return s / nn


def _group_fold(
    spark, st: dict, pname: str, bounds: dict, peq: dict, mm: list,
    sums: list, temporal: dict, schema,
) -> dict:
    """``{recorded group value or None: (count, {col: (lo, hi)}, {col:
    (sum, n_nonnull)})}`` per value of partition transform ``pname``:
    the manifest's per-file partition values, row counts and sums with
    no claims and no MIN/MAX, else `snapshot_group_range_agg`."""
    root, v = st["root"], st["version"]
    if bounds or peq or mm:
        res = sn.snapshot_group_range_agg(
            spark, root, pname, st["transforms"][pname], bounds, mm, v,
            schema=schema, partition_eq=peq or None, sum_cols=sums,
            temporal_cols=temporal or None,
        )
        return {g: tuple(x) for g, x in res.items()}
    m = st["m"]
    if m.get("delete_files"):
        raise ValueError("MoR delete files")
    rows_rec = m.get("rows") or {}
    pvals = m.get("partition_values") or {}
    sums_rec = m.get("sums") or {}
    out: dict = {}
    for f in m["files"]:
        r = rows_rec.get(f)
        if r is None:
            raise ValueError("no recorded row count")
        if int(r) == 0:
            continue
        rec = pvals.get(f) or {}
        if pname not in rec:
            raise ValueError("mixed lineage: a file without a value")
        n, ext, sv = out.get(rec[pname], (0, {}, {c: (None, 0) for c in sums}))
        for c in sums:
            if c not in (sums_rec.get(f) or {}):
                raise ValueError("no recorded sum")
            sv[c] = sn._fold_sum(sv[c], sums_rec[f][c])
        out[rec[pname]] = (n + int(r), ext, sv)
    return out


def _unscaled_decimal(u: int, s: int):
    """An exact unscaled integer → `decimal.Decimal` at scale ``s``
    via the sign/digits tuple (12345, 2 → ``Decimal('123.45')``) —
    never through Decimal arithmetic, whose default 28-digit context
    would silently round a 38-digit money sum."""
    import decimal

    sign = 1 if u < 0 else 0
    return decimal.Decimal(
        (sign, tuple(int(ch) for ch in str(abs(u))), -s)
    )


def _div_half_up(num: int, den: int) -> int:
    """Exact integer division rounded HALF_UP away from zero — the
    rounding Spark's decimal AVG applies (pinned empirically in
    tests/test_sql_exec.py: avg of 0.01 over 32 rows at scale 6 is
    0.000313, not banker's 0.000312)."""
    q, r = divmod(abs(num), den)
    if 2 * r >= den:
        q += 1
    return -q if num < 0 else q


def _topk_attach(
    spark: SparkSession,
    catalog_dir: str,
    sql: str,
    entries: dict | None = None,
    df: DataFrame | None = None,
    note: dict | None = None,
) -> dict | None:
    """STATS-GUIDED TOP-K file pruning, decided from Catalyst's
    optimized plan: a statement whose plan is ``GlobalLimit(k) /
    LocalLimit / [Project] / Sort(c)`` over one catalog table's data
    scan (under the table's own merge-on-read anti-joins and
    sequence-map join, if it has delete lists) computes, from the
    manifest alone, a value threshold T0 such that the top k rows
    provably all lie on one side of it — then re-registers the table's
    view as `read_snapshot_pruned` over the scan's claims plus ``c``
    beyond T0, so Spark's sort+limit runs over the few
    threshold-crossing files.  Returns ``{name: prior_plain_view}``
    or None; ``note["topk"]`` receives "engaged" or the refusal
    reason.  ``df`` is the statement analyzed over the plain attach.

    The threshold argument (DESC; ASC mirrors): sort files by recorded
    max(c) descending and accumulate each file's PROVEN matching
    non-null row count (interior files only: row count minus claimed
    predicate columns' null counts minus c's null count) until the sum
    reaches k; T0 = the minimum recorded min(c) over those files.
    Every taken row is >= T0, so at least k rows are >= T0 and no row
    below T0 can be in the top k.  The scan's WHERE must translate
    exactly (`_exact_claims`) — a residual conjunct breaks the
    row-count lower bound.  Taken files need NaN-free stats; DATE and
    TIMESTAMP stats convert to typed values (TIMESTAMP under a UTC
    session).  ``c`` is the order attribute traced through ``Project``
    aliases to a column of the data scan.

    NULL ordering: only Spark's defaults (ASC NULLS FIRST, DESC NULLS
    LAST); DESC proves its NULLs unreachable (>= k non-null rows) and
    ASC requires every file's recorded null count of c to be ZERO.
    POSITION deletes inflate the accumulation target by the delete
    lists' row counts (each kills at most one recorded row) and the
    pruned view merges them; EQUALITY deletes (unbounded kills),
    schema evolution, and a LIMIT the accumulation cannot reach
    refuse."""
    if df is None:
        try:
            df = spark.sql(sql)
        except Exception:
            return None  # Spark rejects the statement: nothing to prune
    if entries is None:
        entries = cat.catalog_entries(catalog_dir)
    out = None
    try:
        out = _topk_prune(spark, entries, df)
        why = "engaged"
    except _Refused as exc:
        why = str(exc)
    except Exception as exc:
        why = f"failed: {type(exc).__name__}"
    if note is not None:
        note["topk"] = why
    return out


def _local_leaves(plan) -> int:
    """LocalRelation leaves of a plan."""
    n, stack = 0, [plan]
    while stack:
        node = stack.pop()
        n += node.nodeName() == "LocalRelation"
        stack.extend(_items(node.children()))
    return n


def _topk_prune(spark, entries: dict, df: DataFrame) -> dict:
    """`_topk_attach`'s body: raises `_Refused` when the statement
    keeps its plain attach."""
    plan = df._jdf.queryExecution().optimizedPlan()
    if plan.nodeName() != "GlobalLimit" or (
        plan.child().nodeName() != "LocalLimit"
    ):
        raise _Refused("not ORDER BY ... LIMIT")
    k = plan.limitExpr().eval(None)
    node = plan.child().child()
    aliases: dict = {}
    while node.nodeName() == "Project":
        node = node.child()
    if node.nodeName() != "Sort" or not getattr(node, "global")():
        raise _Refused("not ORDER BY ... LIMIT")
    orders = _items(node.order())
    if len(orders) != 1 or not isinstance(k, int) or k <= 0:
        raise _Refused("not ORDER BY ... LIMIT")
    desc = orders[0].direction().sql() == "DESC"
    if orders[0].nullOrdering().sql() != (
        "NULLS LAST" if desc else "NULLS FIRST"
    ):
        raise _Refused("non-default null ordering")
    # the sorted subtree: the table's scan chain and MoR joins only
    scans, n_local, stack = [], 0, [node.child()]
    while stack:
        n = stack.pop()
        kind = n.nodeName()
        if kind not in _TOPK_NODES:
            raise _Refused("shape")
        if kind == "Project":
            for e in _items(n.projectList()):
                if e.nodeName() == "Alias":
                    aliases[e.exprId().id()] = e.child()
        if kind == "Filter":
            leaf = n.child().nodeName()
            if leaf not in ("LogicalRelation", "LocalRelation"):
                raise _Refused("residual filter")
            if leaf == "LogicalRelation":
                scans.append((n.child(), n.condition()))
                continue
        if kind == "LogicalRelation":
            scans.append((n, None))
        n_local += kind == "LocalRelation"
        stack.extend(_items(n.children()))
    name, st, files = _one_table(entries, [r for r, _c in scans])
    data = [
        (rel, cond, rels) for (rel, cond), (_r, rels) in zip(scans, files)
        if not set(rels) <= st["deletes"]
    ]
    if st["fields"]:
        raise _Refused("evolved table")
    if len(data) != 1 or set(data[0][2]) != st["data"]:
        raise _Refused("not a single full scan")
    rel, cond, _rels = data[0]
    m = st["m"]
    if n_local and n_local > _local_leaves(
        spark.table(name)._jdf.queryExecution().optimizedPlan()
    ):
        raise _Refused("shape")  # a relation beyond the table's own view
    if len(scans) > 1 and not m.get("delete_files"):
        raise _Refused("shape")
    attr = _traced(orders[0].child(), aliases)
    if attr.nodeName() != "AttributeReference" or not any(
        attr.semanticEquals(a) for a in _items(rel.output())
    ):
        raise _Refused("order key not a column")
    t = attr.dataType().simpleString()
    if t == "timestamp" and not _utc(spark):
        raise _Refused("non-UTC session")
    if not (t in _INTEGRAL or t in ("date", "timestamp", "float", "double")):
        raise _Refused("order key type")
    temporal = t if t in ("date", "timestamp") else None
    key = attr.name()
    bounds, partition_eq = _exact_claims(spark, name, st, cond, str)
    root = st["root"]
    # MoR-aware accumulation: each POSITION delete kills at most one
    # recorded row, so inflating the target by the total delete-list
    # row count keeps the threshold sound (an over-subtraction only
    # takes MORE files); EQUALITY deletes can kill unboundedly many
    # data rows.  The pruned view merges the deletes itself.
    k_eff = k
    for d in m.get("delete_files") or []:
        if d.get("kind") != "position":
            raise _Refused("equality deletes")
        dr = d.get("rows")
        if dr is None:
            import pyarrow.parquet as _pq

            dr = _pq.read_metadata(os.path.join(root, d["file"])).num_rows
        k_eff += int(dr)
    pvals = m.get("partition_values") or {}
    rows_rec = m.get("rows") or {}
    stats = m.get("stats") or {}
    nulls = m.get("nulls") or {}
    takeable: list[tuple] = []  # (sort_bound, worst_bound, contrib)
    for f in m["files"]:
        r = rows_rec.get(f)
        if r is None:
            raise _Refused("no recorded metadata")
        if int(r) == 0:
            continue
        fstats = stats.get(f) or {}
        fnulls = nulls.get(f) or {}
        status, null_cols = sn._classify_range_file(
            bounds, partition_eq, fstats, fnulls, pvals.get(f) or {}
        )
        if status == "excluded":
            continue
        st_k = fstats.get(key)
        olo = ohi = None
        if st_k is not None and sn._nan_free(st_k):
            olo, ohi = st_k[0], st_k[1]
            if temporal is not None:
                olo = sn._typed_temporal_stat(olo, temporal)
                ohi = sn._typed_temporal_stat(ohi, temporal)
                if olo is None or ohi is None:
                    olo = ohi = None
            elif not all(
                isinstance(x, (int, float)) and not isinstance(x, bool)
                for x in (olo, ohi)
            ):
                olo = ohi = None
        on = fnulls.get(key)
        if not desc and (on is None or int(on) > 0):
            raise _Refused("ASC over NULLs")  # NULLS FIRST would lead
        contrib = 0
        if status == "interior" and olo is not None and on is not None:
            contrib = max(0, int(r) - sum(null_cols) - int(on))
        if contrib > 0:
            takeable.append(
                (ohi if desc else olo, olo if desc else ohi, contrib)
            )
    takeable.sort(key=lambda x: x[0], reverse=desc)
    acc = 0
    t0 = None
    for _sb, wb, contrib in takeable:
        acc += contrib
        t0 = wb if t0 is None else (min(t0, wb) if desc else max(t0, wb))
        if acc >= k_eff:
            break
    if acc < k_eff or t0 is None:
        raise _Refused("limit beyond proven rows")
    # compose the threshold with any existing order-column claim
    lo, _ls, hi, _hs = bounds.get(key, (None, False, None, False))
    if desc:
        lo = t0 if lo is None else max(t0, lo)
    else:
        hi = t0 if hi is None else min(t0, hi)
    bounds[key] = (lo, False, hi, False)
    prior = spark.table(name)
    view = sn.read_snapshot_pruned(
        spark, root,
        ranges={c: (b[0], b[2]) for c, b in bounds.items()},
        partition_eq=partition_eq or None, version=st["version"],
    )
    view.schema  # force analysis NOW: an unanalyzable pruned view must
    # fall back to the plain attach
    view.createOrReplaceTempView(name)
    return {name: prior}


def _spark_decimal_avg_unscaled(
    S: int, n: int, s: int
) -> int | None:
    """Spark's decimal AVG reproduced EXACTLY (review, round 14 — a
    single HALF_UP rounding of the exact quotient can differ from
    Spark by one ulp): Average evaluates ``Divide(sum, count)`` on the
    JVM, where `Decimal./` rounds the quotient to **38 SIGNIFICANT
    digits** (``MathContext(MAX_PRECISION, HALF_UP)`` — NOT the
    divide's declared result scale), then CASTs HALF_UP to the result
    scale ``s+4``.  Model validated against Spark on a 96-case grid
    over (p, s) ∈ {(1,0)…(34,30)} including the precision-loss-
    adjusted shapes (tests/test_sql_exec.py pins a sample).  Returns
    the unscaled result at scale ``s+4``, or None when it exceeds 38
    digits — where Spark itself overflows (error under ANSI, NULL
    otherwise; the scan reproduces either)."""
    t = s + 4
    if S == 0:
        return 0
    num, den = abs(S), n * 10 ** s

    def cmp_shift(k: int) -> int:
        # sign of num - den*10^k without fractions
        if k >= 0:
            rhs = den * 10 ** k
            return (num > rhs) - (num < rhs)
        lhs = num * 10 ** (-k)
        return (lhs > den) - (lhs < den)

    sig = 38
    e = len(str(num)) - len(str(den)) - sig
    while cmp_shift(e + sig) >= 0:
        e += 1
    while cmp_shift(e + sig - 1) < 0:
        e -= 1
    v1 = (
        _div_half_up(num, den * 10 ** e)
        if e >= 0
        else _div_half_up(num * 10 ** (-e), den)
    )
    if e + t >= 0:
        v2 = v1 * 10 ** (e + t)
    else:
        v2 = _div_half_up(v1, 10 ** (-(e + t)))
    if abs(v2) > 10 ** 38 - 1:
        return None
    return -v2 if S < 0 else v2


def _entry_version(e: dict, root: str) -> tuple:
    """Resolve a catalog entry's pin: ``(pin_or_None, resolved)`` —
    the pin to pass to version-aware readers, and the concrete version
    every layout/metadata decision must key on (a re-resolve later
    could see a NEWER head than the attached view's pin)."""
    version = None
    if e.get("ref") is not None:
        version = sn.resolve_ref(root, e["ref"])
    elif e.get("asof") is not None:
        version = sn.resolve_asof_version(root, float(e["asof"]))
    elif e.get("version") is not None:
        version = int(e["version"])
    v_res = version if version is not None else sn.current_version(root)
    return version, v_res


def _assignments(
    cur: _Cursor,
    stops: tuple[tuple[str, ...], ...],
    quals: set[str] | None = None,
) -> dict:
    """``[q.]col = expr, ...`` until a depth-0 stop keyword.  A
    qualifier, if present, must be in ``quals`` (the statement's target
    alias) — a typo'd qualifier refuses instead of silently naming a
    different column."""
    sets: dict[str, str] = {}
    while True:
        col = cur.ident("assignment target column")
        if cur.peek() == ".":
            if not quals or col.lower() not in quals:
                cur.fail(
                    f"SET qualifier {col!r} is not the target alias"
                )
            cur.i += 1
            col = cur.ident("assignment target column")
        if cur.peek() != "=":
            cur.fail(f"expected '=' after SET column {col!r}")
        cur.i += 1
        expr = cur.until(stops, commas=True)
        if col in sets:
            cur.fail(f"duplicate SET column {col!r}")
        sets[col] = expr
        if cur.peek() == ",":
            cur.i += 1
            continue
        return sets


def _merge_on_keys(on_text: str, t_alias: str, s_alias: str) -> list[str]:
    """The ON condition must be a conjunction of same-named equality
    terms ``t.k = s.k`` — the key-equality merge the snapshot operator
    implements.  Anything else refuses loudly (a general ON would need
    a different physical plan; Delta has the same practical shape)."""
    keys: list[str] = []
    for term in re.split(r"(?i)\bAND\b", on_text):
        toks = [t for t, _, _ in _tokens(term)]
        if len(toks) != 7 or toks[1] != "." or toks[5] != "." or toks[3] != "=":
            raise SqlSyntaxError(
                f"execute_sql: MERGE ON must be a conjunction of "
                f"alias-qualified equality terms (t.k = s.k), got "
                f"{term.strip()!r}\n{_GRAMMAR}"
            )
        a1, c1, a2, c2 = toks[0].lower(), toks[2], toks[4].lower(), toks[6]
        if {a1, a2} != {t_alias.lower(), s_alias.lower()}:
            raise SqlSyntaxError(
                f"execute_sql: MERGE ON term {term.strip()!r} must "
                f"reference both aliases ({t_alias!r} and {s_alias!r})"
            )
        if a1 == s_alias.lower():
            c1, c2 = c2, c1
        if c1 != c2:
            raise SqlSyntaxError(
                f"execute_sql: MERGE ON joins {c1!r} to {c2!r} — the "
                f"snapshot merge joins SAME-NAMED key columns; alias the "
                f"source column in the USING query instead"
            )
        keys.append(c1)
    return keys


def _parse_merge(cur: _Cursor, spark, catalog_dir: str):
    """MERGE INTO ... — returns (root, source_df, on_keys, matched,
    not_matched, by_source) ready for `snapshot_merge_into`."""
    target = cur.ident("target table name")
    t_alias = target  # no alias -> the table name qualifies (SQL default)
    if cur.kw("AS"):
        t_alias = cur.ident("target alias")
    elif not cur.at_kw("USING"):
        t_alias = cur.ident("target alias")
    cur.expect_kw("USING")
    if cur.peek() == "(":
        # find the matching close paren; the inside is a full sub-query
        depth = 0
        j = cur.i
        while j < len(cur.toks):
            t = cur.toks[j][0]
            if t == "(":
                depth += 1
            elif t == ")":
                depth -= 1
                if depth == 0:
                    break
            j += 1
        if depth != 0:
            cur.fail("unbalanced parentheses in USING (<query>)")
        sub = cur.text[cur.toks[cur.i][2] : cur.toks[j][1]].strip()
        cur.i = j + 1
        source = _run_query(spark, catalog_dir, sub)
        s_alias = None  # a sub-query has no implicit name: alias required
    else:
        src_name = cur.ident("source table name")
        _attach(spark, catalog_dir, src_name)
        source = spark.table(src_name)
        s_alias = src_name
    if cur.kw("AS"):
        s_alias = cur.ident("source alias")
    elif not cur.at_kw("ON"):
        s_alias = cur.ident("source alias")
    if s_alias is None:
        cur.fail("USING (<query>) requires an alias")
    if t_alias.lower() == s_alias.lower():
        cur.fail(f"target and source share the alias {t_alias!r}")
    cur.expect_kw("ON")
    on_text = cur.until((("WHEN",),))
    keys = _merge_on_keys(on_text, t_alias, s_alias)

    # every clause condition / expression below is rewritten to the
    # canonical t/s aliases the snapshot operator binds
    amap = {t_alias.lower(): "t", s_alias.lower(): "s"}

    def rw(x: str) -> str:
        return _rewrite_aliases(x, amap)

    clause_stops = (("WHEN",),)
    matched: list[tuple] = []
    not_matched = None
    by_source: list[tuple] = []
    saw_clause = False
    while cur.kw("WHEN"):
        saw_clause = True
        if cur.kw("MATCHED"):
            fam = "matched"
        elif cur.kw("NOT", "MATCHED", "BY", "SOURCE"):
            fam = "by_source"
        elif cur.kw("NOT", "MATCHED"):
            cur.kw("BY", "TARGET")
            fam = "not_matched"
        else:
            cur.fail("expected MATCHED / NOT MATCHED [BY SOURCE|TARGET]")
        cond = None
        if cur.kw("AND"):
            cond = rw(cur.until((("THEN",),)))
        cur.expect_kw("THEN")
        if fam in ("matched", "by_source"):
            if cur.kw("DELETE"):
                clause = ("delete", cond, None)
            elif cur.kw("UPDATE", "SET"):
                sets = _assignments(cur, clause_stops, {t_alias.lower()})
                clause = ("update", cond, {c: rw(e) for c, e in sets.items()})
            else:
                cur.fail("expected UPDATE SET ... or DELETE after THEN")
            (matched if fam == "matched" else by_source).append(clause)
        else:
            cur.expect_kw("INSERT")
            if not_matched is not None:
                cur.fail("at most one WHEN NOT MATCHED ... INSERT clause")
            if cur.peek() == "*":
                cur.i += 1
                not_matched = ("insert", cond, "all")
            else:
                if cur.peek() != "(":
                    cur.fail("expected INSERT * or INSERT (cols) VALUES (...)")
                cur.i += 1
                cols = []
                while True:
                    cols.append(cur.ident("insert column"))
                    if cur.peek() == ",":
                        cur.i += 1
                        continue
                    break
                if cur.peek() != ")":
                    cur.fail("expected ')' closing the insert column list")
                cur.i += 1
                cur.expect_kw("VALUES")
                if cur.peek() != "(":
                    cur.fail("expected '(' after VALUES")
                cur.i += 1
                exprs = []
                while True:
                    exprs.append(rw(cur.until(clause_stops, commas=True)))
                    if cur.peek() == ",":
                        cur.i += 1
                        continue
                    break
                if cur.peek() != ")":
                    cur.fail("expected ')' closing the VALUES list")
                cur.i += 1
                if len(cols) != len(exprs):
                    cur.fail(
                        f"INSERT lists {len(cols)} columns but "
                        f"{len(exprs)} values"
                    )
                if len(set(cols)) != len(cols):
                    cur.fail(
                        f"duplicate columns in the insert list: {cols}"
                    )
                not_matched = ("insert", cond, dict(zip(cols, exprs)))
    if not saw_clause:
        cur.fail("MERGE needs at least one WHEN clause")
    cur.expect_done()
    root = _writable_root(catalog_dir, target, "execute_sql(MERGE)")
    return root, source, keys, matched, not_matched, by_source


def _cast_to_table(spark, root: str, df: DataFrame, fn: str) -> DataFrame:
    """Positional INSERT alignment: cast the query's columns to the
    table's schema in table-column order (standard SQL INSERT is
    positional).  Arity must match exactly — silent NULL-fill of a
    forgotten trailing column is how bad rows are born."""
    from pyspark.sql import functions as F

    tgt = sn.read_snapshot_mor(spark, root).schema
    if len(df.columns) != len(tgt):
        raise ValueError(
            f"{fn}: query produces {len(df.columns)} columns, table has "
            f"{len(tgt)} ({[f.name for f in tgt]}) — use INSERT INTO "
            f"<name> (col, ...) to target a subset"
        )
    # positional rename FIRST: a query may produce duplicate column
    # names (SELECT 1, 1) and by-name refs would be ambiguous
    df = df.toDF(*[f"_c{i}" for i in range(len(df.columns))])
    return df.select(
        *[
            F.col(f"_c{i}").cast(f.dataType).alias(f.name)
            for i, f in enumerate(tgt.fields)
        ]
    )


def execute_sql(
    spark: SparkSession, stmt: str, catalog_dir: str
) -> DataFrame | int | None:
    """Execute one SQL statement against the persistent catalog at
    ``catalog_dir``.  Queries (and SHOW/DESCRIBE) return a DataFrame;
    DDL/DML return the committed snapshot VERSION (int) — or None where
    no version applies (DROP, CREATE VIEW).  See module docstring and
    `_GRAMMAR` for the supported surface; anything else raises
    `SqlSyntaxError` loudly."""
    from pyspark.sql import functions as F

    cur = _Cursor(stmt)
    if cur.done():
        raise SqlSyntaxError(f"execute_sql: empty statement\n{_GRAMMAR}")
    # strip one trailing semicolon (script splitting handles multiples)
    if cur.toks and cur.toks[-1][0] == ";":
        cur.toks = cur.toks[:-1]
        if cur.done():
            raise SqlSyntaxError(f"execute_sql: empty statement\n{_GRAMMAR}")

    # ---- plain queries: hand the whole text to Spark SQL ----
    if cur.at_kw("SELECT") or cur.at_kw("WITH") or cur.at_kw("VALUES") or (
        cur.at_kw("TABLE")
    ):
        # precise slice over the kept tokens: drops a trailing ';' (and
        # trailing comments) without touching semicolons inside strings
        lo, hi = cur.toks[0][1], cur.toks[-1][2]
        return _run_query(spark, catalog_dir, cur.text[lo:hi])

    # ---- SHOW TABLES ----
    if cur.kw("SHOW", "TABLES"):
        cur.expect_done()
        rows = [
            (
                e["name"],
                e.get("kind") or "table",
                e.get("root"),
                next(
                    (
                        f"{k}={e[k]}"
                        for k in ("version", "asof", "ref")
                        if e.get(k) is not None
                    ),
                    None,
                ),
            )
            for e in cat.catalog_entries(catalog_dir).values()
        ]
        return spark.createDataFrame(
            rows, "name string, kind string, root string, pin string"
        )

    # ---- SHOW PARTITIONS <name> ----
    if cur.kw("SHOW", "PARTITIONS"):
        name = cur.ident("table name")
        cur.expect_done()
        e = _entry(catalog_dir, name, "execute_sql(SHOW PARTITIONS)")
        if e.get("kind") in ("view", "mview"):
            raise ValueError(
                f"execute_sql: {name!r} is a {e['kind']} — only "
                "snapshot tables have partitions"
            )
        # honor the entry's reproducibility pin, like every read
        _pin, v_res = _entry_version(e, e["root"])
        if v_res is None:
            raise FileNotFoundError(
                f"execute_sql(SHOW PARTITIONS): no committed version "
                f"for {name!r}"
            )
        return sn.snapshot_partitions(spark, e["root"], version=v_res)

    # ---- DESCRIBE HISTORY <name> / DESCRIBE [TABLE] <name> ----
    if cur.kw("DESCRIBE") or cur.kw("DESC"):
        # HISTORY is a keyword only when a name FOLLOWS it — a table
        # literally named `history` still describes as a table
        if cur.at_kw("HISTORY") and cur.peek(1) is not None and cur.kw(
            "HISTORY"
        ):
            name = cur.ident("table name")
            cur.expect_done()
            e = _entry(catalog_dir, name, "execute_sql(DESCRIBE HISTORY)")
            if e.get("kind") in ("view", "mview"):
                raise ValueError(
                    f"execute_sql: {name!r} is a {e['kind']} — only "
                    "snapshot tables have a commit history"
                )
            # history is read-only: pinned entries may inspect it too
            return sn.snapshot_history(spark, e["root"])
        cur.kw("TABLE")
        name = cur.ident("table name")
        cur.expect_done()
        e = _entry(catalog_dir, name, "execute_sql(DESCRIBE)")
        if e.get("kind") == "view":
            return spark.createDataFrame(
                [(e["name"], "view", e["sql"])],
                "name string, kind string, sql string",
            )
        if e.get("kind") == "mview":
            done = sn._view_processed_version(
                cat._mview_path(catalog_dir, name)
            )
            return spark.createDataFrame(
                [(
                    e["name"], "mview", e["source"],
                    ", ".join(e["group_cols"]),
                    ", ".join(e["sum_cols"]),
                    done, e.get("sql"),
                )],
                "name string, kind string, source string, "
                "group_cols string, sum_cols string, "
                "processed_version bigint, sql string",
            )
        return sn.snapshot_detail(spark, e["root"])

    # ---- REFRESH MATERIALIZED VIEW <name> ----
    if cur.kw("REFRESH"):
        cur.expect_kw("MATERIALIZED")
        cur.expect_kw("VIEW")
        name = cur.ident("materialized view name")
        cur.expect_done()
        v, _mode = cat.refresh_mview(spark, catalog_dir, name)
        _attach_mview(spark, catalog_dir, name)
        return v

    # ---- OPTIMIZE <name> [ZORDER BY (col, ...) | COMPACT MANIFESTS] --
    if cur.kw("OPTIMIZE"):
        name = cur.ident("table name")
        if cur.kw("COMPACT", "MANIFESTS"):
            # manifest maintenance from SQL (ADVICE r9): a SQL-only
            # operator running COPY INTO + VACUUM crons can bound the
            # O(commits) entry lists without dropping to the Python API
            cur.expect_done()
            root = _writable_root(
                catalog_dir, name, "execute_sql(OPTIMIZE)"
            )
            return sn.compact_manifests(root)
        zcols = None
        if cur.kw("ZORDER"):
            cur.expect_kw("BY")
            paren = cur.peek() == "("
            if paren:
                cur.i += 1
            zcols = [cur.ident("ZORDER column")]
            while cur.peek() == ",":
                cur.i += 1
                zcols.append(cur.ident("ZORDER column"))
            if paren:
                if cur.peek() != ")":
                    cur.fail("expected ) closing the ZORDER column list")
                cur.i += 1
        cur.expect_done()
        root = _writable_root(catalog_dir, name, "execute_sql(OPTIMIZE)")
        if zcols is not None:
            return sn.snapshot_rewrite_zordered(spark, root, zcols)
        return sn.snapshot_compact(spark, root)

    # ---- ANALYZE TABLE <name> COMPUTE STATISTICS [FOR COLUMNS ...] ----
    if cur.kw("ANALYZE"):
        cur.expect_kw("TABLE")
        name = cur.ident("table name")
        cur.expect_kw("COMPUTE")
        cur.expect_kw("STATISTICS")
        columns = None
        if cur.kw("FOR"):
            cur.expect_kw("COLUMNS")
            columns = [cur.ident("column name")]
            while cur.peek() == ",":
                cur.i += 1
                columns.append(cur.ident("column name"))
        exact = cur.kw("EXACT")  # extension: exact NDV for small tables
        cur.expect_done()
        root = _writable_root(catalog_dir, name, "execute_sql(ANALYZE)")
        return sn.snapshot_analyze(
            spark, root, columns=columns, approx=not exact
        )

    # ---- RESTORE TABLE <name> TO VERSION/TIMESTAMP AS OF ... ----
    if cur.kw("RESTORE"):
        cur.kw("TABLE")
        name = cur.ident("table name")
        cur.expect_kw("TO")
        root = _writable_root(catalog_dir, name, "execute_sql(RESTORE)")
        if cur.kw("VERSION", "AS", "OF"):
            version = _int_literal(cur, "RESTORE ... VERSION AS OF")
        elif cur.kw("TIMESTAMP", "AS", "OF"):
            t = cur.peek()
            if t is None:
                cur.fail("expected a timestamp literal after AS OF")
            cur.i += 1
            version = sn.resolve_asof_version(
                root, _ts_epoch(spark, t, "RESTORE ... TIMESTAMP AS OF")
            )
        else:
            cur.fail("expected VERSION AS OF or TIMESTAMP AS OF after TO")
        cur.expect_done()
        return sn.snapshot_restore(root, version)

    # ---- VACUUM <name> [RETAIN <n> VERSIONS | <n> HOURS] ----
    if cur.kw("VACUUM"):
        name = cur.ident("table name")
        keep = 10  # expire_versions' default retention
        keep_hours = None
        if cur.kw("RETAIN"):
            n = _int_literal(cur, "RETAIN")
            if cur.kw("HOURS"):
                # Delta's age-based posture: expire only versions older
                # than the window (the live version always survives)
                keep_hours, keep = float(n), 1
            else:
                cur.expect_kw("VERSIONS")
                if n < 1:
                    cur.fail(
                        "RETAIN needs at least 1 version — the live "
                        "version is never expired"
                    )
                keep = n
        cur.expect_done()
        root = _writable_root(catalog_dir, name, "execute_sql(VACUUM)")
        expired = sn.expire_versions(
            root, keep_last=keep, keep_hours=keep_hours
        )
        removed = sn.vacuum_orphans(root)
        return spark.createDataFrame(
            [(len(expired), len(removed))],
            "versions_expired bigint, orphan_files_removed bigint",
        )

    # ---- CREATE [OR REPLACE] TABLE/VIEW ----
    if cur.at_kw("CREATE"):
        cur.kw("CREATE")
        replace = cur.kw("OR", "REPLACE")
        if cur.kw("MATERIALIZED"):
            cur.expect_kw("VIEW")
            name = cur.ident("materialized view name")
            cur.expect_kw("AS")
            if cur.done():
                cur.fail("expected a SELECT after AS")
            body = cur.text[cur.toks[cur.i][1] : cur.toks[-1][2]]
            source, gb, sums = _parse_mview_select(cur)
            prior = cat.catalog_entries(catalog_dir).get(name)
            if prior is not None and prior.get("kind") != "mview":
                raise ValueError(
                    f"execute_sql: {name!r} is a "
                    f"{prior.get('kind') or 'table'} — a materialized "
                    "view cannot replace it (DROP it first)"
                )
            # analyze the defining aggregate BEFORE touching any state:
            # a typo'd source or column must refuse here, not after an
            # OR REPLACE has already discarded the prior working view
            _run_query(spark, catalog_dir, body)
            cat.catalog_register_mview(
                catalog_dir, name, source, gb, sums,
                sql=body, replace=replace,
            )
            try:
                v, _mode = cat.refresh_mview(spark, catalog_dir, name)
            except BaseException:
                if prior is None:
                    # a failed INITIAL materialization must not leave a
                    # registered-but-empty object behind; on a replace
                    # the entry stays (recover with REFRESH — broad
                    # attaches skip the unmaterialized name meanwhile)
                    cat.drop_mview(catalog_dir, name)
                raise
            _attach_mview(spark, catalog_dir, name)
            return v
        if cur.kw("VIEW"):
            name = cur.ident("view name")
            cur.expect_kw("AS")
            body = cur.until(((";",),))
            cur.expect_done()
            prior = cat.catalog_entries(catalog_dir).get(name)
            if prior is not None and prior.get("kind") != "view":
                raise ValueError(
                    f"execute_sql: {name!r} is a table — a view cannot "
                    f"replace it (DROP TABLE first)"
                )
            _run_query(spark, catalog_dir, body)  # analyze NOW: fail loudly
            cat.catalog_register_view(
                catalog_dir, name, body, replace=replace
            )
            return None
        cur.expect_kw("TABLE")
        if_not_exists = cur.kw("IF", "NOT", "EXISTS")
        if replace and if_not_exists:
            cur.fail("OR REPLACE and IF NOT EXISTS are mutually exclusive")
        name = cur.ident("table name")
        if cur.kw("CLONE"):
            # CREATE [OR REPLACE] TABLE <new> CLONE <src> [VERSION AS
            # OF n] — Delta's zero-copy clone statement: a NEW lineage
            # at metadata cost (hard links), registered in the catalog
            src_name = cur.ident("clone source table name")
            version = None
            if cur.kw("VERSION", "AS", "OF"):
                version = _int_literal(cur, "CLONE ... VERSION AS OF")
            cur.expect_done()
            src_e = _entry(catalog_dir, src_name, "execute_sql(CLONE)")
            if src_e.get("kind") in ("view", "mview"):
                raise ValueError(
                    f"execute_sql: CLONE source {src_name!r} is a "
                    f"{src_e['kind']} — only snapshot tables clone"
                )
            # a PINNED source clones its pinned state (that is what the
            # pin names); an explicit VERSION AS OF on top is ambiguous
            pins = [
                k for k in ("version", "asof", "ref")
                if src_e.get(k) is not None
            ]
            if pins and version is not None:
                raise ValueError(
                    f"execute_sql: CLONE source {src_name!r} is pinned "
                    f"({pins[0]}) — drop the VERSION AS OF clause or "
                    "clone the live table name"
                )
            if pins:
                if src_e.get("version") is not None:
                    version = int(src_e["version"])
                elif src_e.get("ref") is not None:
                    version = sn.resolve_ref(src_e["root"], src_e["ref"])
                else:
                    version = sn.resolve_asof_version(
                        src_e["root"], float(src_e["asof"])
                    )
            existing = cat.catalog_entries(catalog_dir).get(name)
            if existing is not None and existing.get("kind") in (
                "view", "mview",
            ):
                raise ValueError(
                    f"execute_sql: {name!r} is a {existing['kind']} — "
                    "a cloned table cannot replace it (DROP it first)"
                )
            if existing is not None and if_not_exists:
                return sn.current_version(existing["root"])
            if existing is not None and not replace:
                raise ValueError(
                    f"execute_sql: table {name!r} already exists — use "
                    "CREATE OR REPLACE TABLE or DROP TABLE first"
                )
            if existing is not None:
                # the same pin discipline every replace obeys: a PINNED
                # destination name must not silently repoint (CTAS
                # refuses via _writable_root — so does CLONE)
                _writable_root(
                    catalog_dir, name,
                    "execute_sql(CREATE OR REPLACE TABLE ... CLONE)",
                )
            import uuid as _uuid

            dst = _table_root(catalog_dir, name)
            if os.path.exists(dst):
                # a fresh lineage needs a fresh directory; the replaced
                # entry's old root stays behind as the pre-clone state
                # (history is never destroyed by a repoint)
                dst = f"{dst}_{_uuid.uuid4().hex[:8]}"
            v = sn.snapshot_clone(src_e["root"], dst, version=version)
            cat.catalog_register(
                catalog_dir, name, dst, replace=existing is not None
            )
            return v
        # ---- CREATE TABLE <name> (col type, ...) [layout]  (r10) ----
        # explicit-schema empty-table creation — the first statement
        # most SQL users write — with the layout policy declared where
        # it belongs (the reference gets implicit schemas for free
        # from SQLite, db_operations.py:46-57; here the declaration
        # additionally carries the at-scale pruning policy)
        cols: list[tuple[str, str]] | None = None
        if cur.peek() == "(":
            cur.i += 1
            cols = []
            while True:
                cname = cur.ident("column name")
                typ = _type_slice(cur, stops=(",",), stop_on_close=True)
                if typ.upper().endswith("NOT NULL"):
                    cur.fail(
                        "NOT NULL is not supported — columns are "
                        "nullable (enforce with ADD CONSTRAINT ... "
                        "CHECK instead)"
                    )
                if cname.lower() in {c.lower() for c, _t in cols}:
                    cur.fail(f"duplicate column {cname!r}")
                cols.append((cname, typ))
                if cur.peek() == ",":
                    cur.i += 1
                    continue
                break
            if cur.peek() != ")":
                cur.fail("expected ) closing the column list")
            cur.i += 1
        lay = _layout_clauses(cur)
        if cols is not None and not cur.done():
            cur.fail(
                "an explicit column list does not combine with AS — "
                "use CTAS (the query defines the schema) or an empty "
                "CREATE TABLE followed by INSERT"
            )
        body = None
        if cols is None:
            cur.expect_kw("AS")
            body = cur.until(((";",),))
        cur.expect_done()
        existing = cat.catalog_entries(catalog_dir).get(name)
        if existing is not None and existing.get("kind") == "view":
            raise ValueError(
                f"execute_sql: {name!r} is a view — DROP VIEW first"
            )
        if existing is not None and if_not_exists:
            return sn.current_version(existing["root"])
        if existing is not None and not replace:
            raise ValueError(
                f"execute_sql: table {name!r} already exists — use "
                f"CREATE OR REPLACE TABLE or DROP TABLE first"
            )
        if cols is not None:
            try:
                df = spark.createDataFrame(
                    [], schema=", ".join(f"{c} {t}" for c, t in cols)
                )
            except Exception as exc:
                raise ValueError(
                    "execute_sql(CREATE TABLE): invalid column list — "
                    f"{str(exc).splitlines()[0]}"
                ) from None
        else:
            df = _run_query(spark, catalog_dir, body)
        if lay:
            _validate_layout(spark, df, lay)
        if existing is not None:
            # OR REPLACE on a live entry: same pin discipline as every
            # other write — a pinned entry shares a root with the live
            # table, and writing through it would silently advance THAT
            # lineage while the pinned name kept reading old data
            root = _writable_root(
                catalog_dir, name, "execute_sql(CREATE OR REPLACE TABLE)"
            )
        else:
            root = _table_root(catalog_dir, name)
        v = _create_table_commit(spark, root, df, lay, existing, cols)
        if existing is None:
            cat.catalog_register(catalog_dir, name, root)
        return v

    # ---- DROP TABLE/VIEW/MATERIALIZED VIEW <name> ----
    if cur.kw("DROP"):
        if cur.kw("MATERIALIZED", "VIEW"):
            kind = "mview"
        elif cur.kw("VIEW"):
            kind = "view"
        elif cur.kw("TABLE"):
            kind = "table"
        else:
            cur.fail("expected TABLE or [MATERIALIZED] VIEW after DROP")
        name = cur.ident(f"{kind} name")
        cur.expect_done()
        e = _entry(catalog_dir, name, f"execute_sql(DROP {kind.upper()})")
        actual = e.get("kind") or "table"
        if actual != kind:
            raise ValueError(
                f"execute_sql: {name!r} is a {actual}, not a {kind}"
            )
        if kind == "mview":
            cat.drop_mview(catalog_dir, name)  # entry + derived data
        else:
            cat.catalog_drop(catalog_dir, name)
        # unregister THIS session's temp view too — otherwise a
        # subsequent SELECT would silently serve the dropped table from
        # the stale attach while a fresh session correctly fails
        spark.catalog.dropTempView(name)
        return None

    # ---- INSERT INTO / INSERT OVERWRITE ----
    if cur.kw("INSERT"):
        overwrite = cur.kw("OVERWRITE")
        if not overwrite:
            cur.expect_kw("INTO")
        cur.kw("TABLE")
        name = cur.ident("table name")
        cols: list[str] | None = None
        if not overwrite and cur.peek() == "(":
            cur.i += 1
            cols = []
            while True:
                cols.append(cur.ident("insert column"))
                if cur.peek() == ",":
                    cur.i += 1
                    continue
                break
            if cur.peek() != ")":
                cur.fail("expected ')' closing the insert column list")
            cur.i += 1
            if len(set(cols)) != len(cols):
                cur.fail(f"duplicate columns in the insert list: {cols}")
        body = cur.until(((";",),))
        cur.expect_done()
        root = _writable_root(catalog_dir, name, "execute_sql(INSERT)")
        df = _run_query(spark, catalog_dir, body)
        if cols is not None:
            if len(cols) != len(df.columns):
                raise ValueError(
                    f"execute_sql(INSERT): column list names {len(cols)} "
                    f"columns, query produces {len(df.columns)}"
                )
            tgt = {f.name: f for f in sn.read_snapshot_mor(spark, root).schema}
            bad = [c for c in cols if c not in tgt]
            if bad:
                raise ValueError(
                    f"execute_sql(INSERT): not table columns: {bad}"
                )
            df = df.toDF(*[f"_c{i}" for i in range(len(df.columns))])
            named = {c: f"_c{i}" for i, c in enumerate(cols)}
            df = df.select(
                *[
                    (
                        F.col(named[f.name]).cast(f.dataType)
                        if f.name in named
                        else F.lit(None).cast(f.dataType)
                    ).alias(f.name)
                    for f in tgt.values()
                ]
            )
        else:
            df = _cast_to_table(spark, root, df, "execute_sql(INSERT)")
        # honor the table's DECLARED layout — partitioning/clustering
        # routes through the recording writer, stats/bloom policy
        # inherits: a SQL INSERT must land files as prunable as COPY
        # INTO's and compaction's
        return _policy_write(spark, root, df, overwrite)

    # ---- UPDATE <name> SET ... [WHERE ...] ----
    if cur.kw("UPDATE"):
        name = cur.ident("table name")
        alias = None
        if cur.kw("AS"):
            alias = cur.ident("alias")
        elif not cur.at_kw("SET"):
            alias = cur.ident("alias")
        cur.expect_kw("SET")
        # both the explicit alias and the bare table name qualify target
        # columns; the snapshot operator binds PLAIN names, so drop both
        amap = {name.lower(): None}
        if alias:
            amap[alias.lower()] = None

        def rw(x: str) -> str:
            return _rewrite_aliases(x, amap)

        sets = _assignments(cur, (("WHERE",),), set(amap))
        pred = "true"
        if cur.kw("WHERE"):
            pred = rw(cur.until(((";",),)))
        cur.expect_done()
        root = _writable_root(catalog_dir, name, "execute_sql(UPDATE)")
        return sn.snapshot_update_where(
            spark, root, pred, {c: rw(e) for c, e in sets.items()}
        )

    # ---- DELETE FROM <name> [WHERE ...] ----
    if cur.kw("DELETE"):
        cur.expect_kw("FROM")
        name = cur.ident("table name")
        alias = None
        if cur.kw("AS"):
            alias = cur.ident("alias")
        elif not cur.done() and not cur.at_kw("WHERE") and cur.peek() != ";":
            alias = cur.ident("alias")
        pred = "true"
        if cur.kw("WHERE"):
            pred = cur.until(((";",),))
            amap = {name.lower(): None}
            if alias:
                amap[alias.lower()] = None
            pred = _rewrite_aliases(pred, amap)
        cur.expect_done()
        root = _writable_root(catalog_dir, name, "execute_sql(DELETE)")
        return sn.snapshot_delete_where(spark, root, pred)

    # ---- ALTER TABLE <name> ADD/RENAME/DROP COLUMN ----
    if cur.kw("ALTER", "TABLE"):
        name = cur.ident("table name")
        root = _writable_root(catalog_dir, name, "execute_sql(ALTER TABLE)")
        if cur.kw("ADD", "COLUMN") or cur.kw("ADD", "COLUMNS"):
            adds: dict[str, tuple[str, object]] = {}
            while True:
                col = cur.ident("column name")
                # the type slice is BOUNDED: it stops at DEFAULT or a
                # depth-0 comma (parens AND angle brackets nest, so
                # decimal(28,10) and struct<a:int,b:int> stay whole);
                # snapshot_evolve then parse-validates it as Spark DDL
                # before committing anything
                typ = _type_slice(cur)
                if typ.upper().endswith("NOT NULL"):
                    cur.fail(
                        "NOT NULL on ADD COLUMN is not supported — "
                        "added columns are nullable (enforce with "
                        "snapshot_set_check instead)"
                    )
                dflt = None
                if cur.kw("DEFAULT"):
                    dflt = _default_literal(cur)
                if col in adds:
                    cur.fail(f"duplicate column {col!r} in ADD COLUMNS")
                adds[col] = (typ, dflt)
                if not cur.kw(","):
                    break
            cur.expect_done()
            return sn.snapshot_evolve(root, adds=adds)
        if cur.kw("RENAME", "COLUMN"):
            old = cur.ident("column name")
            cur.expect_kw("TO")
            new = cur.ident("new column name")
            cur.expect_done()
            return sn.snapshot_evolve(root, renames={old: new})
        if cur.kw("DROP", "COLUMN"):
            col = cur.ident("column name")
            cur.expect_done()
            return sn.snapshot_evolve(root, drops=[col])
        if cur.kw("ADD", "CONSTRAINT"):
            cname = cur.ident("constraint name")
            cur.expect_kw("CHECK")
            if cur.peek() != "(":
                cur.fail("expected ( after CHECK")
            cur.i += 1
            expr = cur.until(((";",),))  # stops on the closing paren
            if cur.peek() != ")":
                cur.fail("expected ) closing the CHECK expression")
            cur.i += 1
            cur.expect_done()
            return sn.snapshot_set_check(spark, root, cname, expr)
        if cur.kw("DROP", "CONSTRAINT"):
            cname = cur.ident("constraint name")
            cur.expect_done()
            return sn.snapshot_drop_check(root, cname)
        if cur.kw("SET", "GENERATED", "COLUMN"):
            col = cur.ident("column name")
            typ = _type_slice(cur, stops=("AS",))
            cur.expect_kw("AS")
            if cur.peek() != "(":
                cur.fail("expected ( after AS")
            cur.i += 1
            expr = cur.until(((";",),))  # stops on the closing paren
            if cur.peek() != ")":
                cur.fail("expected ) closing the generation expression")
            cur.i += 1
            cur.expect_done()
            return sn.snapshot_set_generated(spark, root, col, expr, typ)
        if cur.kw("DROP", "GENERATED", "COLUMN"):
            col = cur.ident("column name")
            cur.expect_done()
            return sn.snapshot_drop_generated(root, col)
        cur.fail(
            "expected ADD/RENAME/DROP COLUMN, ADD/DROP CONSTRAINT, or "
            "SET/DROP GENERATED COLUMN after ALTER TABLE"
        )

    # ---- COPY INTO <name> FROM '<glob>' [FORMAT <fmt>] ----
    if cur.kw("COPY", "INTO"):
        name = cur.ident("table name")
        cur.expect_kw("FROM")
        srct = cur.peek()
        if srct is None or len(srct) < 2 or not (
            srct.startswith("'") and srct.endswith("'")
        ):
            cur.fail("expected a quoted source path/glob after FROM")
        cur.i += 1
        src = srct[1:-1].replace("''", "'")
        fmt = "parquet"
        if cur.kw("FORMAT"):
            fmt = cur.ident("format name").lower()
        cur.expect_done()
        root = _writable_root(catalog_dir, name, "execute_sql(COPY INTO)")
        schema = (
            None
            if fmt == "parquet"
            else sn.read_snapshot_mor(spark, root).schema
        )
        return sn.snapshot_copy_into(
            spark, root, src, source_format=fmt, schema=schema
        )["version"]

    # ---- MERGE INTO ----
    if cur.at_kw("MERGE"):
        cur.kw("MERGE")
        # Delta's MERGE WITH SCHEMA EVOLUTION: NOT MATCHED INSERT
        # columns the target lacks evolve it (typed adds) first
        auto = cur.kw("WITH", "SCHEMA", "EVOLUTION")
        cur.expect_kw("INTO")
        root, source, keys, matched, not_matched, by_src = _parse_merge(
            cur, spark, catalog_dir
        )
        return sn.snapshot_merge_into(
            spark,
            root,
            source,
            on=keys,
            when_matched=matched or None,
            when_not_matched=not_matched,
            when_not_matched_by_source=by_src or None,
            auto_evolve=auto,
        )

    cur.fail(f"unsupported statement {cur.peek()!r}")


def execute_sql_script(
    spark: SparkSession, script: str, catalog_dir: str
) -> list:
    """Run a multi-statement script (statements split on depth-0 ``;``,
    string/comment aware).  Statements run in order; the first failure
    aborts the rest (no cross-statement transaction — each DML commit
    is individually atomic, exactly the reference's executescript
    posture).  Returns the per-statement results."""
    toks = _tokens(script)
    stmts: list[str] = []
    depth = 0
    start = 0
    for t, lo, hi in toks:
        if t in "([":
            depth += 1
        elif t in ")]":
            depth -= 1
        elif t == ";" and depth == 0:
            piece = script[start:lo].strip()
            if piece:
                stmts.append(piece)
            start = hi
    piece = script[start:].strip()
    if piece:
        stmts.append(piece)
    return [execute_sql(spark, s, catalog_dir) for s in stmts]
