"""Local twin of the driver's t2 correctness gate.

Runs every ``__spark_entry__.queries()`` entry at a given SF dir, runs the
matching ``oracle_sql()`` in DuckDB (tables pre-registered as views), and
compares row count + column names + order-insensitive values.  Default
comparison is EXACT (stringified values incl. full float repr) — stricter
than any plausible driver tolerance; a ``--round N`` mode exists for
diagnosing float drift.

Usage: python scripts/verify_local.py [--sf /root/testdata/sf0.01] [name ...]

Each name may be an ``fnmatch`` pattern (``'sql_metadata_*'``); a name
or pattern that matches no registry query exits 2.
"""

from __future__ import annotations

import argparse
import fnmatch
import hashlib
import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def canon(v, ndigits: int | None):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if ndigits is not None:
            v = round(v, ndigits)
        return repr(v)
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def frame_fingerprint(cols, rows, ndigits):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(canon(r[i], ndigits) for i in order) for r in rows
    )
    h = hashlib.md5()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest(), lines


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SF_DIR", "/root/testdata/sf0.01"))
    ap.add_argument("--round", type=int, default=None, dest="ndigits")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from data_engineering_challenge_spark.session import get_spark

    qs = entrymod.queries()
    names = list(qs)
    if args.names:
        unmatched = [
            p for p in args.names
            if not any(fnmatch.fnmatchcase(n, p) for n in names)
        ]
        if unmatched:
            print(f"no registry query matches: {' '.join(unmatched)}",
                  file=sys.stderr)
            return 2
        names = [
            n for n in names
            if any(fnmatch.fnmatchcase(n, p) for p in args.names)
        ]

    spark = get_spark(app_name="verify-local")
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(args.sf, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    oracles = entrymod.oracle_sql()
    failures = []
    for name in names:
        t0 = time.time()
        sdf = qs[name](spark, args.sf)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
        if name not in oracles:
            print(f"  {name}: NO-ORACLE rows={len(srows)} ({time.time()-t0:.1f}s)")
            continue
        res = con.execute(oracles[name])
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()
        shash, slines = frame_fingerprint(scols, srows, args.ndigits)
        dhash, dlines = frame_fingerprint(dcols, drows, args.ndigits)
        ok_cols = sorted(scols) == sorted(dcols)
        ok_rows = len(srows) == len(drows)
        ok_hash = shash == dhash
        status = "PASS" if (ok_cols and ok_rows and ok_hash) else "FAIL"
        print(
            f"  {name}: {status} rows={len(srows)}/{len(drows)} "
            f"cols_ok={ok_cols} hash_ok={ok_hash} ({time.time()-t0:.1f}s)"
        )
        if status == "FAIL":
            failures.append(name)
            if not ok_cols:
                print(f"    spark cols: {sorted(scols)}")
                print(f"    duck  cols: {sorted(dcols)}")
            sset, dset = set(slines), set(dlines)
            for tag, diff in (("spark-only", sset - dset), ("duck-only", dset - sset)):
                for ln in sorted(diff)[:3]:
                    print(f"    {tag}: {ln[:200]}")
    print(f"{len(names) - len(failures)}/{len(names)} passed")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
