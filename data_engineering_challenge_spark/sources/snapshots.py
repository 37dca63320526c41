"""Versioned-manifest snapshots over plain parquet: time travel,
rollback, and snapshot-isolated reads without a table-format dependency —
the transactional-format CORE (Iceberg/Delta's snapshot+manifest idea) in
miniature, built from three primitives this repo already trusts:
immutable data files, JSON manifests, and atomic rename.

Layout under a table root (format 2 — TWO-LEVEL manifests, the
Iceberg manifest-list shape in JSON):

    data/<uuid>/part-*.parquet     immutable file groups, one per commit
    deletes/<uuid>/part-*.parquet  equality-delete key lists (MoR commits)
    _manifests/v<N>.json           the MANIFEST LIST: {"version": N,
                                    "parent": N-1, "ts", "operation",
                                    "format": 2, "entries": [names],
                                    "delete_entries": [names], "layout",
                                    "fields"} — O(commits + schema) bytes
    _manifests/e-<hex>.json        immutable per-commit DATA entry:
                                    {"files": [...], "stats", "file_seq",
                                    "sizes", "rows", "file_fields",
                                    "partition_values"} — O(its files)
    _manifests/de-<hex>.json       immutable DELETE entry:
                                    {"delete_files": [{file, keys, seq}]}
    _LATEST                        text file containing "N" (atomic rename)

A commit writes its new file group, ONE new entry file, and a version
payload referencing the parent's entry names plus its own — commit
metadata is O(delta + schema), never O(table files); `_read_manifest`
resolves a payload to the self-contained view (memoized), and
`compact_manifests` bounds the payload's entry-name list.  Format-1
manifests (inline ``files``/``stats``/...) remain readable; the first
commit on top of one consolidates it into entry files.

Commit protocol: (1) write the new file group (a failed write leaves an
orphaned uuid dir no manifest references — invisible); (2) write
v<N>.json listing the EXACT file set of version N (append = parent's
files + new; overwrite = new only); (3) atomically rename _LATEST.tmp →
_LATEST.  Readers resolve _LATEST (or an explicit version) to ONE
manifest and read exactly its files — a reader never sees a half-commit,
and concurrent readers of different versions don't interfere (snapshot
isolation for free from immutability).  `rollback` is a pointer move —
no data rewritten; every committed version stays readable by explicit
number.  `vacuum_orphans` collects crashed-commit debris (files no
manifest references, guarded by a grace window so in-flight commits
survive); version-RETENTION vacuum stays deployment policy and composes
with it.  Commits claim their manifest via ``os.link`` (optimistic
concurrency — collisions retry, never clobber) and tagged commits leave
O(1) marker files that make replays idempotent and torn commits
resumable.

At 100 TB this is exactly the metadata/data split that makes commits O(1)
in table size: a commit writes the new files + one manifest, never
touches existing data, and the manifest bounds what any read must list
(no eventually-consistent directory listing on the read path).
"""

from __future__ import annotations

import functools
import json
import os
import time
import uuid
import weakref

from pyspark.sql import DataFrame, SparkSession


def _manifest_dir(root: str) -> str:
    return os.path.join(root, "_manifests")


def _latest_path(root: str) -> str:
    return os.path.join(root, "_LATEST")


def current_version(root: str) -> int | None:
    try:
        with open(_latest_path(root)) as fh:
            return int(fh.read().strip())
    except FileNotFoundError:
        return None


#: parsed-JSON cache for manifest metadata files.  Manifest payloads and
#: entry files are IMMUTABLE once claimed/written (the commit protocol
#: never rewrites them in place), so caching by (inode, mtime_ns, size)
#: signature is safe — a test recreating a table root at the same path
#: changes the signature and misses the cache.  Bounded: cleared
#: wholesale past a cap (simple and safe; at the cap the cache has
#: already amortized the hot walks).
_JSON_CACHE: dict[str, tuple[tuple, dict]] = {}
_RESOLVED_CACHE: dict[str, tuple[tuple, dict]] = {}
_JSON_CACHE_MAX = 16384


def _load_json_cached(path: str) -> dict:
    st = os.stat(path)  # FileNotFoundError propagates like open() did
    sig = (st.st_ino, st.st_mtime_ns, st.st_size)
    hit = _JSON_CACHE.get(path)
    if hit is not None and hit[0] == sig:
        return hit[1]
    with open(path) as fh:
        d = json.load(fh)
    if len(_JSON_CACHE) > _JSON_CACHE_MAX:
        _JSON_CACHE.clear()
    _JSON_CACHE[path] = (sig, d)
    return d


def _manifest_path(root: str, version: int) -> str:
    return os.path.join(_manifest_dir(root), f"v{version}.json")


def _read_manifest_meta(root: str, version: int) -> dict:
    """The version's manifest PAYLOAD only — parent/operation/ts/tag and
    (format-2) the entry-name lists, layout, and fields, WITHOUT
    resolving per-file metadata.  O(1) in table file count for format-2
    manifests — the right primitive for lineage walks (`_descends_from`,
    sibling scans, `resolve_asof_version`), which previously re-parsed
    the full O(files) manifest at every hop.  Treat the result as
    READ-ONLY (it is cache-shared)."""
    return _load_json_cached(_manifest_path(root, version))


def _stamp_manifest_payload(root: str, version: int, adds: dict) -> None:
    """Atomically ADD payload keys to a committed manifest — the one
    sanctioned in-place manifest mutation, reserved for METADATA-ONLY
    markers whose absence would orphan information (today:
    ``copied_all`` consolidation when `expire_versions` drops the
    ancestors a `_copied_identities` walk would have visited).  The
    tmp-write + `os.replace` is atomic; the new inode/mtime busts the
    (inode, mtime_ns, size)-keyed caches, so concurrent readers see
    either the old or the new payload, both complete."""
    path = _manifest_path(root, version)
    payload = dict(_load_json_cached(path))
    payload.update(adds)
    tmp = f"{path}.stamp-{uuid.uuid4().hex}.tmp"
    with open(tmp, "w") as fh:
        json.dump(payload, fh)
    os.replace(tmp, path)


def _load_entry(root: str, name: str) -> dict:
    """One immutable manifest-entry file (format 2).  READ-ONLY."""
    return _load_json_cached(os.path.join(_manifest_dir(root), name))


def _write_entry(root: str, content: dict, prefix: str = "e") -> str:
    """Write one immutable manifest-entry file; the uuid name never
    collides, so a plain rename (not a claim) suffices.  Entries live
    in the ``entries/`` SUBDIRECTORY of the manifest dir (the recorded
    name keeps the subpath), so `snapshot_versions`' per-commit listdir
    of the manifest dir stays O(versions) instead of O(3× commits) —
    names without a subpath (this round's earliest tables) still
    resolve through the same join."""
    edir = os.path.join(_manifest_dir(root), "entries")
    os.makedirs(edir, exist_ok=True)
    name = f"entries/{prefix}-{uuid.uuid4().hex}.json"
    path = os.path.join(_manifest_dir(root), name)
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(content, fh)
    os.rename(tmp, path)
    return name


def _resolve_payload(root: str, payload: dict) -> dict:
    """Materialize a manifest payload into the self-contained shape every
    reader consumes (``files``/``stats``/``file_seq``/``delete_files``/
    ``file_fields``/``partition_values``/``sizes``).  Format-1 manifests
    already carry everything inline; format-2 manifests are a small
    MANIFEST LIST referencing immutable per-commit entry files (the
    Iceberg two-level shape) — commit metadata is O(delta), and this
    walk re-derives the full view, memoized per entry."""
    if payload.get("format") != 2:
        return payload
    m = dict(payload)
    files: list[str] = []
    stats: dict = {}
    fseq: dict = {}
    ffields: dict = {}
    pvals: dict = {}
    sizes: dict = {}
    rows: dict = {}
    blooms: dict = {}
    nulls: dict = {}
    sums: dict = {}
    for name in payload.get("entries") or []:
        e = _load_entry(root, name)
        files.extend(e.get("files") or [])
        stats.update(e.get("stats") or {})
        fseq.update(e.get("file_seq") or {})
        ffields.update(e.get("file_fields") or {})
        pvals.update(e.get("partition_values") or {})
        sizes.update(e.get("sizes") or {})
        rows.update(e.get("rows") or {})
        blooms.update(e.get("blooms") or {})
        nulls.update(e.get("nulls") or {})
        sums.update(e.get("sums") or {})
    if len(set(files)) != len(files):
        raise ValueError(
            f"_resolve_payload: v{payload.get('version')} entry files "
            "reference a duplicate data file — corrupt manifest list"
        )
    dels: list[dict] = []
    for name in payload.get("delete_entries") or []:
        dels.extend(_load_entry(root, name).get("delete_files") or [])
    m["files"] = files
    m["stats"] = stats
    m["file_seq"] = fseq
    m["delete_files"] = dels
    if ffields:
        m["file_fields"] = ffields
    if pvals:
        m["partition_values"] = pvals
    if sizes:
        m["sizes"] = sizes
    if rows:
        m["rows"] = rows
    if blooms:
        m["blooms"] = blooms
    if nulls:
        m["nulls"] = nulls
    if sums:
        m["sums"] = sums
    return m


def _read_manifest(root: str, version: int) -> dict:
    """One version's manifest, RESOLVED to the self-contained shape
    (see `_resolve_payload`).  The top-level dict is a fresh copy per
    call; nested structures are cache-shared and must be treated as
    read-only (every caller in this module copies before mutating)."""
    path = _manifest_path(root, version)
    st = os.stat(path)
    sig = (st.st_ino, st.st_mtime_ns, st.st_size)
    hit = _RESOLVED_CACHE.get(path)
    if hit is not None and hit[0] == sig:
        return dict(hit[1])
    resolved = _resolve_payload(root, _load_json_cached(path))
    if len(_RESOLVED_CACHE) > _JSON_CACHE_MAX:
        _RESOLVED_CACHE.clear()
    _RESOLVED_CACHE[path] = (sig, resolved)
    return dict(resolved)


def _table_checks(root: str, version: int | None = None) -> dict:
    """The table's live CHECK constraints ``{name: sql_expr}`` —
    payload-resident (O(1) read via `_read_manifest_meta`), inherited by
    every commit like ``layout``/``fields``.  A dropped check is stored
    as ``name: None`` (the recursive meta merge has no delete) and
    filtered here."""
    v = current_version(root) if version is None else version
    if v is None:
        return {}
    checks = _read_manifest_meta(root, v).get("checks") or {}
    return {k: e for k, e in checks.items() if e is not None}


def _table_generated(root: str, version: int | None = None) -> dict:
    """The live GENERATED-column specs at ``version`` (default head):
    ``{col: {"expr", "type"}}`` — payload-resident like checks; a
    dropped spec is stored as ``col: None`` and filtered here."""
    v = current_version(root) if version is None else version
    if v is None:
        return {}
    gen = _read_manifest_meta(root, v).get("generated") or {}
    return {k: e for k, e in gen.items() if e is not None}


#: data group → the WRITE CONTRACT (checks + generated specs) its rows
#: were produced under at write time (process-local); `_commit` compares
#: against the contract the commit would inherit and aborts on drift —
#: see the guard there.
_ENFORCED_CHECKS: dict[str, dict] = {}


def _record_enforced_checks(
    group: str, checks: dict, generated: dict | None = None
) -> None:
    if len(_ENFORCED_CHECKS) > 4096:  # bounded: groups are one-shot
        _ENFORCED_CHECKS.clear()
    _ENFORCED_CHECKS[group] = {
        "checks": dict(checks),
        "generated": dict(generated or {}),
    }


def _apply_generated_columns(
    df: DataFrame, root: str, gen: dict | None = None
) -> DataFrame:
    """RECOMPUTE the table's GENERATED columns inside a data write —
    ``GENERATED ALWAYS AS`` taken literally: whether the writer omitted
    the column or provided values, the stored value is the expression
    over the writer's own row (so an UPDATE that changes a source
    column keeps the derivation consistent without the writer knowing
    the rule; Delta recomputes the same way).  Runs BEFORE the CHECK
    filters, so a constraint on a generated column validates the
    computed value.  An expression referencing a column the batch
    doesn't carry fails analysis loudly, like a check would."""
    if gen is None:
        gen = _table_generated(root)
    if not gen:
        return df
    from pyspark.sql import functions as F

    for col in sorted(gen):
        spec = gen[col]
        df = df.withColumn(
            col, F.expr(spec["expr"]).cast(spec["type"])
        )
    return df


def _apply_check_constraints(
    df: DataFrame, root: str, checks: dict | None = None
) -> DataFrame:
    """Inject the table's CHECK constraints into a data write as per-row
    ``assert_true`` filters — enforcement runs INSIDE the write job
    (single pass, no extra scan: the Delta invariant model), so a
    violating batch fails the job loudly and nothing commits.  SQL CHECK
    semantics: a NULL check result PASSES (coalesce to true) — pair with
    an IS NOT NULL check to also reject NULLs.  A check referencing a
    column the batch doesn't carry fails analysis loudly — rename/drop
    a constrained column only after dropping the check (Delta blocks
    the same way)."""
    if checks is None:
        checks = _table_checks(root)
    if not checks:
        return df
    from pyspark.sql import functions as F

    for name in sorted(checks):
        expr = checks[name]
        cond = F.coalesce(F.expr(expr), F.lit(True))
        msg = F.concat(
            F.lit(
                f"snapshot CHECK constraint {name!r} violated "
                f"({expr}) by row: "
            ),
            F.to_json(F.struct(*[F.col(c) for c in df.columns])),
        )
        df = df.filter(F.assert_true(cond, msg).isNull())
    return df


def _size_for_write(df: DataFrame) -> DataFrame:
    """AQE-sized REBALANCE before a commit write whose input partitioning
    is INCIDENTAL (CDC merge deltas, DML delete lists and post-images fed
    from a persisted plan).  A persisted plan keeps its shuffle width —
    AQE does not re-coalesce inside a cached plan by default
    (`spark.sql.optimizer.canChangeCachedPlanOutputPartitioning`) — so a
    150-row delta was fanning out into shuffle-width tiny files (r15
    measured: 30 data + 31 delete-list part files for one sf0.001 MoR
    merge), each one a manifest entry, a footer-stats read at commit, and
    a per-file read in every downstream MoR composition.  One rebalance
    exchange fixes the layout at any scale (guide §6: AQE sizes output to
    the advisory partition size — a tiny batch lands as ONE file, a huge
    batch as ~advisory-sized files).  Row multiset is preserved; callers
    whose write layout is CONTRACTUAL (clustered/sorted appends) must not
    use this."""
    return df.hint("rebalance")


def _write_files(
    df: DataFrame,
    root: str,
    stats_cols: list[str] | None = None,
    kind: str = "data",
) -> list[str] | tuple[list[str], dict]:
    if kind == "data":
        gen = _table_generated(root)
        df = _apply_generated_columns(df, root, gen)
        checks = _table_checks(root)
        df = _apply_check_constraints(df, root, checks)
    group = os.path.join(kind, uuid.uuid4().hex)
    if kind == "data":
        _record_enforced_checks(group, checks, gen)
    out = os.path.join(root, group)
    from .io import ensure_prunable_timestamp_writes

    with ensure_prunable_timestamp_writes(df.sparkSession):
        df.write.parquet(out)
    files = sorted(
        os.path.join(group, f)
        for f in os.listdir(out)
        if f.endswith(".parquet")
    )
    if stats_cols is None:
        return files
    return files, {
        f: _file_stats(os.path.join(root, f), stats_cols, nan_counts=True)
        for f in files
    }


def _stat_primitive(v):
    """Coerce a pyarrow footer statistic to a JSON-safe primitive, or
    ``None`` if no faithful primitive exists.  bytes (string columns in
    some arrow versions) decode to str and timestamps/dates to ISO-8601
    strings — both compare correctly against like-typed lo/hi bounds;
    anything else (true binary, nested) is unrepresentable and the file
    simply makes no pruning claims (the existing no-stats convention)
    instead of blowing up ``json.dump`` in the commit."""
    import datetime

    if isinstance(v, bool):
        return None  # min/max over bool is not a useful pruning range
    if isinstance(v, (int, float, str)):
        return v
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return None


def _prefix_upper(pre: str) -> str | None:
    """The EXCLUSIVE upper bound of the set of strings starting with
    ``pre`` under code-point order: increment the rightmost
    incrementable character and truncate (``'abc'`` → ``'abd'``;
    ``'ab\\U0010ffff'`` → ``'ac'``).  ``None`` when every character is
    already the maximum code point — then no finite upper bound
    exists and the prefix claim is one-sided."""
    cps = list(pre)
    for i in range(len(cps) - 1, -1, -1):
        o = ord(cps[i])
        if o < 0x10FFFF:
            return "".join(cps[:i]) + chr(o + 1)
    return None


def _file_stats(
    path: str, cols: list[str], nan_counts: bool = False
) -> dict:
    """Per-file [min, max] for ``cols`` from the parquet FOOTER (row-group
    statistics — no data pages read).  Values are coerced to JSON-safe
    primitives; a column whose stats are absent or cannot be
    represented makes NO claims for THAT column (skipped — every
    consumer checks evidence per column, so partial stats still prune
    on the dimensions that have them; a missing dimension means
    always-read, never a wrong skip).

    ``nan_counts=True`` (the WRITE chokepoints — round 12, Iceberg's
    ``nan_value_counts``) extends each FLOAT/DOUBLE column's entry to
    ``[min, max, nan_count]`` by reading that column back once from
    the just-written local file: parquet writers EXCLUDE NaN from
    min/max, so finite footer stats can hide NaNs — the recorded
    count is what lets metadata MIN/MAX trust float stats (count 0)
    or refuse loudly (count > 0, where no fold can match Spark's
    NaN-is-greatest ordering).  Query-time callers keep the default:
    counting would read data pages.  Every stats consumer indexes
    ``[0]``/``[1]``, so the 2- and 3-element forms coexist; a float
    entry WITHOUT a count (pre-round-12 manifests, or a failed count)
    reads as "NaN presence unknown" and the metadata path refuses."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
    out: dict = {}
    for c in cols:
        lo = hi = None
        ok = True
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx[c]).statistics
            if st is None or not st.has_min_max:
                ok = False  # a stats-less row group: no claims for c
                break
            try:
                # pyarrow cannot EXTRACT min/max for some physical
                # types (e.g. fixed-len decimals): a declared stats
                # policy on such a column degrades to always-read on
                # that dimension instead of crashing the write
                cmin, cmax = st.min, st.max
            except Exception:
                ok = False
                break
            if (isinstance(cmin, float) and cmin != cmin) or (
                isinstance(cmax, float) and cmax != cmax
            ):
                # a NaN row-group bound (parquet-mr FOLDS NaN into
                # float stats): Python's min/max would drop or keep it
                # ORDER-DEPENDENTLY across row groups, minting finite
                # stats that hide NaN — no claims for this column
                # (round 12; the nan_counts path below re-derives
                # exact finite bounds from the data instead)
                ok = False
                break
            lo = cmin if lo is None else min(lo, cmin)
            hi = cmax if hi is None else max(hi, cmax)
        if not ok:
            continue
        lo, hi = _stat_primitive(lo), _stat_primitive(hi)
        if lo is None or hi is None:
            continue  # non-serializable stats -> no claims for c
        out[c] = [lo, hi]
    if nan_counts:
        fl = [
            c
            for c in cols
            if c in idx
            and md.schema.column(idx[c]).physical_type
            in ("FLOAT", "DOUBLE")
        ]
        if fl:
            try:
                import pyarrow.compute as pc

                # STREAMED, never read_table (advice, round 13): a
                # large float-keyed file (a GDPR-scale delete list, a
                # wide append) must not pin its whole column set in
                # driver memory — fold per-batch NaN counts instead;
                # peak memory is one batch.  The first pass counts
                # ONLY (advice, round 13 again): deriving finite
                # extremes per batch costs invert/fill_null/filter/
                # min_max on every batch of every float column even
                # when there are zero NaNs and valid footer stats —
                # the common case — so extremes are computed lazily
                # in a SECOND streamed pass over just the columns
                # that actually need them (NaN-poisoned footer fold:
                # counts[c] > 0 and no footer entry survived).
                counts = {c: 0 for c in fl}
                pf = pq.ParquetFile(path)
                for batch in pf.iter_batches(columns=fl):
                    for c in fl:
                        col = batch.column(batch.schema.get_field_index(c))
                        counts[c] += int(
                            pc.sum(pc.is_nan(col)).as_py() or 0
                        )
                fmin: dict = {}
                fmax: dict = {}
                need = [c for c in fl if counts[c] and c not in out]
                if need:
                    for batch in pf.iter_batches(columns=need):
                        for c in need:
                            col = batch.column(
                                batch.schema.get_field_index(c)
                            )
                            nan_mask = pc.is_nan(col)
                            finite = pc.filter(
                                col,
                                pc.fill_null(pc.invert(nan_mask), False),
                            )
                            mm = pc.min_max(finite).as_py()
                            if mm["min"] is not None:
                                fmin[c] = (
                                    mm["min"]
                                    if c not in fmin
                                    else min(fmin[c], mm["min"])
                                )
                                fmax[c] = (
                                    mm["max"]
                                    if c not in fmax
                                    else max(fmax[c], mm["max"])
                                )
                for c in fl:
                    n = counts[c]
                    if n and c not in out:
                        # NaN poisoned the footer fold above: derive
                        # the exact FINITE extremes from the data so
                        # bounded claims still prune (sound — every
                        # non-NaN row is inside them, and the recorded
                        # count marks the NaNs for every consumer)
                        if c not in fmin:
                            continue  # all-NaN/null: no claims
                        flo = _stat_primitive(fmin[c])
                        fhi = _stat_primitive(fmax[c])
                        if flo is None or fhi is None:
                            continue
                        out[c] = [flo, fhi]
                    if c in out:
                        out[c] = [out[c][0], out[c][1], int(n)]
            except Exception:
                pass  # count unavailable: entries stay 2-element
                # ("NaN presence unknown" — metadata extremes refuse
                # and open-top range skips make no claims)
    return out


def _dec_unscaled(d, scale: int) -> int | None:
    """A `decimal.Decimal` → its exact UNSCALED integer at ``scale``
    (``Decimal('123.45')`` at scale 2 → ``12345``) via the sign/digits
    tuple — NEVER through Decimal arithmetic, whose default context
    precision (28) silently rounds wide values.  ``None`` when the
    value carries more fractional digits than ``scale`` (cannot
    happen for a sum of scale-``scale`` inputs; refuse loudly rather
    than round) or is non-finite."""
    sign, digits, exp = d.as_tuple()
    if not isinstance(exp, int):
        return None  # NaN/Infinity markers
    shift = exp + scale
    if shift < 0:
        return None
    v = int("".join(map(str, digits))) * (10 ** shift)
    return -v if sign else v


def _file_int_sums(path: str, cols: list[str]) -> dict:
    """Per-file EXACT SUMs for the INTEGRAL and DECIMAL columns among
    ``cols`` (round 13 — VERDICT r12 'Next round #5', Iceberg has no
    analog; DataFusion's aggregate statistics do; DECIMAL in round 14
    — VERDICT r13 'Next round #2', the money case):
    ``{col: [sum, n_nonnull]}`` from ONE streamed read-back of the
    just-written local file — the write chokepoint's sibling to the
    NaN-count pass.  Sums accumulate through a wide decimal per batch
    (int64 batch sums could silently wrap) and an arbitrary-precision
    Python fold across batches, so the recorded value is decimal-exact
    and the cross-file fold is associative — what lets metadata
    ``SUM``/``AVG`` answer without opening a file.  DECIMAL(p,s)
    columns record their UNSCALED integer sum (the scale rides on the
    table schema, which cannot diverge per file — schema evolution
    refuses the fold paths wholesale), so the storage format and every
    integer fold downstream are IDENTICAL to the integral case.  Peak
    memory is one batch of the summed columns only.  FLOAT/DOUBLE
    columns record nothing: no finite fold can promise Spark's
    order-dependent double SUM.  Any failure records nothing —
    consumers treat absence as "scan instead"."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    try:
        pf = pq.ParquetFile(path)
        sch = pf.schema_arrow
        scales: dict[str, int] = {}
        picked: list[str] = []
        for c in cols:
            if c not in sch.names:
                continue
            t = sch.field(c).type
            if pa.types.is_integer(t):
                picked.append(c)
                scales[c] = 0
            elif pa.types.is_decimal(t):
                picked.append(c)
                scales[c] = int(t.scale)
        if not picked:
            return {}
        # accumulator types: decimal128(38,0) for integrals (exact,
        # wrap-proof); decimal256(76,s) for decimal(p,s) inputs (a
        # batch of 38-digit values can overflow any decimal128 sum)
        acc_t = {
            c: (
                pa.decimal128(38, 0)
                if scales[c] == 0
                else pa.decimal256(76, scales[c])
            )
            for c in picked
        }
        sums = {c: 0 for c in picked}
        nonnull = {c: 0 for c in picked}
        for batch in pf.iter_batches(columns=picked):
            for c in picked:
                col = batch.column(batch.schema.get_field_index(c))
                n = len(col) - col.null_count
                if not n:
                    continue
                nonnull[c] += int(n)
                s = pc.sum(col.cast(acc_t[c])).as_py()
                if s is not None:
                    if scales[c] == 0:
                        sums[c] += int(s)
                    else:
                        u = _dec_unscaled(s, scales[c])
                        if u is None:
                            raise ValueError(
                                f"unscalable decimal sum for {c!r}"
                            )
                        sums[c] += u
        return {c: [int(sums[c]), int(nonnull[c])] for c in picked}
    except Exception:
        return {}


def _footer_rows_nulls(path: str, cols: list[str]) -> tuple[int, dict]:
    """One footer read: the file's row count plus per-column NULL
    counts for ``cols`` (round 12 — Iceberg's null_value_counts).  A
    column whose null count any row group leaves unknown is omitted —
    consumers treat absence as "unknown" and fall back to scanning,
    never to a wrong fold."""
    import pyarrow.parquet as pq

    md = pq.read_metadata(path)
    idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
    nulls: dict = {}
    for c in cols:
        i = idx.get(c)
        if i is None:
            continue
        total = 0
        ok = True
        for rg in range(md.num_row_groups):
            s = md.row_group(rg).column(i).statistics
            if s is None or s.null_count is None:
                ok = False
                break
            total += s.null_count
        if ok:
            nulls[c] = int(total)
    return md.num_rows, nulls


def _typed_temporal_stat(s, kind: str):
    """A recorded ISO-8601 stat string → a Python value matching what
    Spark COLLECTS for that column under a UTC session (round 13 —
    the watermark query): ``date`` → `datetime.date`; ``timestamp`` →
    a NAIVE datetime denoting the UTC instant (tz-aware recorded
    forms are normalized to UTC then stripped).  ``None`` when the
    string doesn't parse as exactly that kind — the consumer refuses
    or demotes, never folds a mistyped value.  Callers gate timestamp
    use on a UTC session themselves (recorded stats are UTC instants;
    a non-UTC session collects different wall-clock values)."""
    import datetime as dt

    if not isinstance(s, str):
        return None
    try:
        if kind == "date":
            return dt.date.fromisoformat(s)
        v = dt.datetime.fromisoformat(s)
    except ValueError:
        return None
    if v.tzinfo is not None:
        v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return v


def _nan_free(st) -> bool:
    """True when a stats entry's [min, max] provably bound EVERY row
    (round 12): non-float bounds always do; FLOAT bounds only under a
    recorded zero NaN count — Spark orders NaN ABOVE every number, so
    a NaN row satisfies any lower bound while sitting outside the
    finite extremes, and parquet writers fold NaN into min/max (or
    not) arbitrarily.  Consumers making claims that a NaN row could
    break — open-top range skips, equality-key disjointness — must
    gate on this; bounded-above claims need not (NaN fails every
    ``<= hi``)."""
    if not (isinstance(st[0], float) or isinstance(st[1], float)):
        return True
    return len(st) > 2 and st[2] == 0


def _has_null_values(path: str, cols: list[str]) -> bool:
    """True if any of ``cols`` has (or may have — unknown counts are
    treated as present) a NULL in the file, from footer null_count
    alone."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
    for c in cols:
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx[c]).statistics
            if st is None or st.null_count is None or st.null_count > 0:
                return True
    return False


#: fixed hash count for file-level Bloom filters (k=4 → ~1% false
#: positives at m ≈ 10·n bits; the BITS are the sizing knob, see
#: `snapshot_append`'s bloom_bits doc)
_BLOOM_K = 4

#: Spark/driver column types with a CANONICAL string form that is
#: byte-identical between `CAST(col AS STRING)` and Python ``str()`` —
#: the bloom hash contract.  Floats/decimals/timestamps render
#: differently across the two and are refused at write time.
_BLOOM_TYPES = ("tinyint", "smallint", "int", "bigint", "string")


def _bloom_positions_expr(col: str, bits: int):
    """Spark-side bit positions for one value: md5 of the canonical
    string split into two 60-bit halves, double-hashed (h1 + i·h2) mod
    m — the standard Kirsch-Mitzenmacher construction, reproduced
    EXACTLY by `_bloom_positions` on the driver at probe time."""
    from pyspark.sql import functions as F

    h = F.md5(F.col(col).cast("string"))
    h1 = F.conv(F.substring(h, 1, 15), 16, 10).cast("long")
    h2 = F.conv(F.substring(h, 17, 15), 16, 10).cast("long").bitwiseOR(
        F.lit(1)  # odd stride: full-period walk over a power-of-two m
    )
    return F.array(
        *[((h1 + F.lit(i) * h2) % bits).cast("int") for i in range(_BLOOM_K)]
    )


def _bloom_positions(value, bits: int) -> list[int]:
    """Driver-side twin of `_bloom_positions_expr` (same md5 slices,
    same double hash) — probing needs no Spark job."""
    import hashlib

    h = hashlib.md5(str(value).encode("utf-8")).hexdigest()
    h1 = int(h[0:15], 16)
    h2 = int(h[16:31], 16) | 1
    return [(h1 + i * h2) % bits for i in range(_BLOOM_K)]


def _check_bloom_cols(df: DataFrame, cols: list[str], bits: int) -> None:
    if bits % 8 or not (64 <= bits <= (1 << 24)):
        raise ValueError(
            f"bloom_bits must be a multiple of 8 in [64, 2^24], got {bits}"
        )
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    for c in cols:
        if c not in types:
            raise ValueError(f"bloom column {c!r} not in the batch")
        if types[c] not in _BLOOM_TYPES:
            raise ValueError(
                f"bloom column {c!r} has type {types[c]} — blooms need a "
                f"canonical string form shared by Spark and the probe, "
                f"so only {_BLOOM_TYPES} are supported"
            )


def _file_blooms(
    spark: SparkSession,
    root: str,
    files: list[str],
    cols: list[str],
    bits: int,
) -> dict:
    """Per-file Bloom filters over ``cols`` for freshly written files:
    ONE Spark job per column hashes executor-side and ships only the
    distinct BIT POSITIONS per file (bounded by min(k·distinct, m) ≤ m
    ints — the same order as the serialized bloom itself), so driver
    traffic is O(files · m) bits, never O(rows).  NULLs are excluded:
    an equality probe can never match NULL, so a bloom makes no claims
    about them.  Returns ``{file: {col: {"m", "k", "b64"}}}``."""
    import base64
    import urllib.parse

    from pyspark.sql import functions as F

    paths = [os.path.join(root, f) for f in files]
    # realpath both sides: Spark reports RESOLVED paths, so a symlinked
    # table root must not read as "mapping drifted"
    by_abs = {os.path.realpath(os.path.join(root, f)): f for f in files}
    df = spark.read.parquet(*paths).withColumn(
        "__file", F.input_file_name()
    )
    out: dict = {f: {} for f in files}
    for c in cols:
        rows = (
            df.filter(F.col(c).isNotNull())
            .select(
                "__file",
                F.explode(_bloom_positions_expr(c, bits)).alias("__p"),
            )
            .groupBy("__file")
            .agg(F.collect_set("__p").alias("__ps"))
            .collect()
        )
        seen = set()
        for r in rows:
            ap = os.path.realpath(
                urllib.parse.unquote(
                    r["__file"].removeprefix("file:")
                )
            )
            f = by_abs.get(ap)
            if f is None:
                raise ValueError(
                    f"_file_blooms: scanned file {ap} is not in the "
                    "written group — path mapping drifted"
                )
            seen.add(f)
            buf = bytearray(bits // 8)
            for p in r["__ps"]:
                buf[p // 8] |= 1 << (p % 8)
            out[f][c] = {
                "m": bits,
                "k": _BLOOM_K,
                "b64": base64.b64encode(bytes(buf)).decode("ascii"),
            }
        for f in files:
            if f not in seen:
                # all-NULL (or empty) file: an empty bloom — provably
                # contains no non-null key, every probe skips it
                out[f][c] = {
                    "m": bits,
                    "k": _BLOOM_K,
                    "b64": base64.b64encode(bytes(bits // 8)).decode(
                        "ascii"
                    ),
                }
    return out


def _bloom_maybe_contains(bloom: dict, value) -> bool:
    """Probe one serialized bloom: False = PROVABLY absent (skip the
    file), True = maybe present (read it)."""
    import base64

    if bloom.get("k") != _BLOOM_K:
        return True  # unknown construction: no claims
    bits = bloom["m"]
    buf = base64.b64decode(bloom["b64"])
    return all(
        buf[p // 8] & (1 << (p % 8)) for p in _bloom_positions(value, bits)
    )


def _set_latest(root: str, version: int) -> None:
    """Atomic _LATEST pointer move (the commit point)."""
    ltmp = _latest_path(root) + f".tmp.{uuid.uuid4().hex}"
    with open(ltmp, "w") as fh:
        fh.write(str(version))
    os.rename(ltmp, _latest_path(root))


def _tag_marker(root: str, tag: str) -> str:
    return os.path.join(_manifest_dir(root), f"tag-{tag}.json")


def _tagged_version(root: str, tag: str) -> int | None:
    """READ-ONLY tag-marker lookup: the committed version under ``tag``,
    or None.  Unlike `_resume_tagged_commit` this can never move
    _LATEST — the right primitive for pre-checks that must not have
    side effects (a probe is not a commit)."""
    marker = _tag_marker(root, tag)
    if not os.path.exists(marker):
        return None
    with open(marker) as fh:
        return int(json.load(fh)["version"])


def _resume_tagged_commit(root: str, tag: str) -> int | None:
    """O(1) idempotent-replay check via the tag MARKER file (written with
    the manifest, before the _LATEST move).  If the marker exists, the
    tagged commit's manifest is durable; if the crash hit BETWEEN the
    marker/manifest write and the _LATEST move (current still points at
    the tagged version's parent), COMPLETE the interrupted commit by
    moving the pointer — otherwise a replayed epoch would no-op while
    the lineage silently skipped its rows.  A tagged version the table
    was deliberately rolled back PAST is left alone (its parent is no
    longer current)."""
    marker = _tag_marker(root, tag)
    if not os.path.exists(marker):
        return None
    with open(marker) as fh:
        v = int(json.load(fh)["version"])
    if current_version(root) == _read_manifest_meta(root, v)["parent"]:
        _set_latest(root, v)  # finish the torn commit
    return v


def _entry_lists(
    root: str, version: int | None, payload: dict
) -> tuple[list[str], list[str], list[str]]:
    """The (data-entry names, delete-entry names, names-written-now) of
    one version.  Format-2 versions reference their lists directly
    (O(1)); a format-1 version is consolidated ONCE into fresh entry
    files (a one-time O(its files) migration write — the old manifest
    stays untouched and readable) so the new commit can reference it."""
    if version is None:
        return [], [], []
    if payload.get("format") == 2:
        return (
            list(payload.get("entries") or []),
            list(payload.get("delete_entries") or []),
            [],
        )
    m = _read_manifest(root, version)
    written: list[str] = []
    entries: list[str] = []
    if m.get("files"):
        e: dict = {
            "files": m["files"],
            "stats": m.get("stats") or {},
            "file_seq": m.get("file_seq") or {},
        }
        for k in ("file_fields", "partition_values", "sizes", "rows",
                  "blooms", "nulls", "sums"):
            # blooms added round 13: the format-1→2 consolidation
            # previously dropped them, silently disabling bloom
            # pruning after the one-time migration
            if m.get(k):
                e[k] = m[k]
        name = _write_entry(root, e)
        entries.append(name)
        written.append(name)
    dentries: list[str] = []
    if m.get("delete_files"):
        name = _write_entry(
            root, {"delete_files": m["delete_files"]}, prefix="de"
        )
        dentries.append(name)
        written.append(name)
    return entries, dentries, written


def _trim_entry(e: dict, keep: set) -> dict:
    """An entry restricted to the ``keep`` files (compaction's
    partially-kept-entry rewrite — bytes ∝ the entry, never the
    table)."""
    kept = [f for f in e.get("files") or [] if f in keep]
    out: dict = {"files": kept}
    for k in ("stats", "file_seq", "file_fields", "partition_values",
              "sizes", "rows", "blooms", "nulls", "sums"):
        sub = {f: v for f, v in (e.get(k) or {}).items() if f in keep}
        if sub:
            out[k] = sub
    return out


def _commit(
    root: str,
    files: list[str],
    parent: int | None,
    tag: str | None = None,
    stats: dict | None = None,
    blooms: dict | None = None,
    rebase_append: bool = False,
    operation: str = "overwrite",
    seen_versions: set[int] | None = None,
    new_delete_files: list[dict] | None = None,
    manifest_override: dict | None = None,
    conflict_mode: str = "rebase",
    new_file_columns: list[str] | None = None,
    meta_updates: dict | None = None,
    publish: bool = True,
    entries_from: int | None = None,
    keep_files: set | None = None,
    payload_extras: dict | None = None,
    expected_fields: object = "UNSET",
) -> int:
    """Two-phase commit with OPTIMISTIC writer-writer protection:

    * version numbers are globally monotonic (max existing + 1), so a
      commit after `rollback` starts a new lineage without overwriting
      the abandoned one — every version stays time-travelable and
      ``parent`` records the true DAG;
    * the manifest is CLAIMED with ``os.link`` (fails with EEXIST
      instead of clobbering, unlike rename) — two concurrent committers
      race for the version number and the loser retries with the next
      one, so no commit's manifest is ever silently overwritten;
    * with ``rebase_append=True``, ``files``/``stats`` are the NEW file
      group only and each attempt resolves the full file list from the
      parent manifest — true OCC for concurrent appends: any version
      that appeared AFTER the caller read its parent (absent from
      ``seen_versions``, the listing taken alongside that read) and
      that DESCENDS from our parent is a concurrent sibling our commit
      would otherwise orphan, so the commit rebases onto the newest
      such descendant before every claim attempt (the ``os.link``
      collision is just the densest case of the same race).  Versions
      already in ``seen_versions`` are pre-existing lineages (e.g.
      abandoned by `rollback`) and are never rebased onto — the
      rollback-starts-a-new-lineage DAG semantics survive;
    * ``_advance_latest`` only moves the pointer FORWARD (``rollback``
      is the sole deliberate backward move), so a slow winner's pointer
      write cannot bury an already-acknowledged higher commit.  The
      read-then-rename pair is not itself atomic — on a shared
      filesystem two renames microseconds apart can still invert, which
      is why every manifest is durable and re-derivable; the pointer is
      a convenience, never the source of truth;
    * the tag marker lands after the manifest, before the _LATEST move
      — `_resume_tagged_commit` uses it to repair the torn window;
    * TABLE METADATA travels with the lineage: ``layout`` (the write
      policy — sort/stats/partition-transform columns) and ``fields``
      (the logical schema for evolved tables) inherit from the parent
      on every commit; per-file metadata (``file_fields``,
      ``partition_values``) inherits restricted to still-referenced
      files.  ``meta_updates`` merges on top (dict values merge
      key-wise, others replace); ``new_file_columns`` extends an
      evolved table's field list additively and binds the new file
      group's physical column names to field ids (kept files keep their
      original commit sequences through the entry files they ride in);
    * FORMAT 2 (two-level manifests): the version file written here is
      a small MANIFEST LIST — ``entries``/``delete_entries`` name
      immutable per-commit entry files carrying the per-file metadata
      (Iceberg's manifest-list/manifest split, JSON) — so commit
      metadata is O(delta + schema), never O(table files): an append
      references the parent's entry names and writes ONE new entry for
      its file group.  ``entries_from`` (overwrite family) references
      that version's entry lists verbatim instead of re-serializing its
      content (restore/evolve/minor-compact); ``keep_files`` (with
      ``entries_from``) trims each referenced entry to the kept subset
      — fully-kept entries ride by name, partially-kept ones are
      rewritten at entry (not table) cost (compaction).  Format-1
      parents are consolidated into entry files once, on first contact.
    """
    os.makedirs(_manifest_dir(root), exist_ok=True)
    staged = os.path.join(_manifest_dir(root), f".stage-{uuid.uuid4().hex}")
    seen = set(seen_versions or ())
    attempt_written: list[str] = []  # entry files owned by THIS attempt

    def _discard_attempt() -> None:
        for n in attempt_written:
            try:
                os.remove(os.path.join(_manifest_dir(root), n))
            except FileNotFoundError:
                pass
        attempt_written.clear()

    def _merge(cur, new):
        # dicts merge recursively (so layout.partition_transforms
        # ACCUMULATES across spec changes instead of being replaced
        # wholesale); anything else replaces
        if isinstance(new, dict) and isinstance(cur, dict):
            out = dict(cur)
            for k2, v2 in new.items():
                out[k2] = _merge(out.get(k2), v2)
            return out
        return new

    rebased = False  # parent moved by the sibling scan at least once
    for _attempt in range(1000):  # bounded retry under contention
        _discard_attempt()  # a lost claim's entries are re-derived
        existing = snapshot_versions(root)
        version = (existing[-1] + 1) if existing else 0
        if conflict_mode == "serialize" or rebase_append:
            # only versions NUMBERED past the parent can descend from it
            # (numbers are monotonic), so the sibling scan is bounded by
            # the commits that actually raced — not the whole history
            floor = parent if parent is not None else -1
            for v in sorted(x for x in set(existing) - seen if x > floor):
                if _descends_from(root, v, parent):
                    if _read_manifest_meta(root, v).get("operation") in (
                        "stage-append",
                        "branch-append",
                    ) and not _is_published(root, v):
                        # an UNPUBLISHED WAP stage or branch commit is
                        # not a concurrent sibling: rebasing onto it
                        # would fold unaudited/unmerged rows into a
                        # published commit (and a serialize abort for it
                        # would be spurious — it is invisible to every
                        # reader until publish/fast-forward).  A
                        # PUBLISHED one (head descends from it) is a
                        # normal sibling and must be rebased onto.
                        continue
                    if conflict_mode == "serialize":
                        # the caller's decision (predicate evaluation,
                        # compaction rewrite) was computed against a
                        # snapshot that is no longer the head — rebasing
                        # would apply a stale decision; abort and let
                        # the caller recompute against the new head
                        raise SnapshotConflictError(
                            f"_commit: concurrent commit v{v} landed "
                            f"after the caller read v{parent} — "
                            "serializable operation must be retried "
                            "against the new head"
                        )
                    parent = v  # rebase onto the concurrent sibling
                    rebased = True
        # ONE parent PAYLOAD read per attempt — O(1) in table files for
        # format-2 parents; the fully-resolved parent is only pulled in
        # the rare paths that need per-file metadata (evolved-table
        # binding, format-1 migration, entry trimming)
        pm_meta = _read_manifest_meta(root, parent) if parent is not None else {}
        new_files = list(files)
        # ---- entry lists ----------------------------------------------
        if rebase_append:
            base_entries, base_dentries, migrated = _entry_lists(
                root, parent, pm_meta
            )
            attempt_written.extend(migrated)
            if rebased and parent is not None and new_files:
                # a rebased sibling may already carry our files (e.g. a
                # concurrent duplicate cherry-pick) — the v1 format
                # deduped the merged file list; entries must stay
                # disjoint, so filter here (resolve is memoized and only
                # paid on actual races)
                pf = set(_read_manifest(root, parent)["files"])
                new_files = [f for f in new_files if f not in pf]
        elif entries_from is not None:
            src_meta = _read_manifest_meta(root, entries_from)
            src_entries, src_dentries, migrated = _entry_lists(
                root, entries_from, src_meta
            )
            attempt_written.extend(migrated)
            if keep_files is not None:
                base_entries = []
                for name in src_entries:
                    e = _load_entry(root, name)
                    efiles = e.get("files") or []
                    kept = [f for f in efiles if f in keep_files]
                    if len(kept) == len(efiles):
                        # fully kept: by name (includes evolve's
                        # bindings-only entries, whose file list is [])
                        base_entries.append(name)
                        continue
                    if not kept:
                        continue  # fully rewritten: the entry dies
                    # partially kept: rewrite at entry cost
                    tn = _write_entry(root, _trim_entry(e, keep_files))
                    base_entries.append(tn)
                    attempt_written.append(tn)
                new_files = [f for f in files if f not in keep_files]
            else:
                base_entries = src_entries
                src = _read_manifest(root, entries_from)
                sset = set(src["files"])
                extra = [f for f in files if f not in sset]
                if extra:
                    _discard_attempt()  # migration entries written above
                    raise ValueError(
                        "_commit: entries_from caller passed files the "
                        f"source version does not contain: {extra[:3]}"
                    )
                new_files = []
            ov = (manifest_override or {}).get("delete_files")
            if ov is not None:
                src = _read_manifest(root, entries_from)
                if ov == (src.get("delete_files") or []):
                    base_dentries = src_dentries  # verbatim carry
                elif ov:
                    dn = _write_entry(
                        root, {"delete_files": ov}, prefix="de"
                    )
                    base_dentries = [dn]
                    attempt_written.append(dn)
                else:
                    base_dentries = []
            else:
                # overwrite family folds inherited deletes by default
                base_dentries = []
        else:
            # plain overwrite: the new file set IS the truth; inherited
            # delete files fold away
            base_entries, base_dentries = [], []
        if new_delete_files:
            if expected_fields != "UNSET":
                # a REBASING delete-carrying commit (mor_merge) must
                # see the SAME logical schema it captured: the delete
                # side survives a concurrent rename via key_ids, but
                # the upsert DATA files were written under captured
                # names — binding them against a renamed head would
                # mint fresh field ids and FORK the column (upserted
                # values landing beside, not inside, the renamed
                # field).  Any fields drift → retry against the head.
                def _pairs(fl):
                    return {(x["id"], x["name"]) for x in fl or []}

                if _pairs(pm_meta.get("fields")) != _pairs(
                    expected_fields
                ):
                    _discard_attempt()
                    raise SnapshotConflictError(
                        f"_commit: parent v{parent}'s logical schema "
                        "differs from the one this delete-carrying "
                        "commit was computed against (a concurrent "
                        "evolve landed) — retry against the new head"
                    )
            ndf = [{**d, "seq": version} for d in new_delete_files]
            # key_ids discipline against the (possibly rebased) parent:
            # on an evolved table every equality list must bind its key
            # columns to field ids (rename-stable — see
            # `_resolve_delete_keys`); the writer stamped them from its
            # captured parent, and ids survive any concurrent rename a
            # rebase could land on.  A concurrently DROPPED key field
            # (or a first-evolve landing mid-write) aborts like any
            # other stale-decision conflict.  On a NON-evolved parent
            # the ids are meaningless and are dropped.
            par_fields = pm_meta.get("fields")
            if par_fields:
                live_ids = {fl["id"] for fl in par_fields}
                n2i = {fl["name"]: fl["id"] for fl in par_fields}
                for d in ndf:
                    if d.get("kind") == "position":
                        continue
                    ids = d.get("key_ids")
                    if ids is None:
                        if not all(k in n2i for k in d["keys"]):
                            _discard_attempt()
                            raise SnapshotConflictError(
                                "_commit: delete keys "
                                f"{d['keys']} are not all live columns "
                                f"of evolved parent v{parent} — retry "
                                "against the new head"
                            )
                        d["key_ids"] = [n2i[k] for k in d["keys"]]
                    elif not set(ids) <= live_ids:
                        _discard_attempt()
                        raise SnapshotConflictError(
                            f"_commit: delete key field ids {ids} are "
                            f"not all live in parent v{parent} (a "
                            "concurrent evolve dropped a key column) — "
                            "retry against the new head"
                        )
            else:
                for d in ndf:
                    d.pop("key_ids", None)
            dn = _write_entry(
                root, {"delete_files": ndf}, prefix="de"
            )
            base_dentries = list(base_dentries) + [dn]
            attempt_written.append(dn)
        # ---- table-level metadata (payload-resident: O(schema)) -------
        tbl_meta: dict = {}
        for k in ("layout", "fields", "checks", "table_stats", "generated"):
            if pm_meta.get(k):
                tbl_meta[k] = (
                    dict(pm_meta[k])
                    if isinstance(pm_meta[k], dict)
                    else list(pm_meta[k])
                )
        for k, v in (meta_updates or {}).items():
            if k in ("layout", "fields", "checks", "table_stats", "generated"):
                tbl_meta[k] = _merge(tbl_meta.get(k), v)
        lay = tbl_meta.get("layout") or {}
        if lay.get("zorder_cols") and lay.get("sort_cols"):
            # one FILE-ORDER policy per table: the writers' friendly
            # pre-checks are check-then-act, so two CONCURRENT first
            # writers could merge a z-order and a 1-D sort policy into
            # one layout here — compaction would then silently
            # half-apply one of them.  The claim loop is the only place
            # the merged layout is actually known; refuse at the source.
            # (z-order WITH partition transforms is a legal composition
            # since round 10: the key clusters WITHIN each partition —
            # Delta's OPTIMIZE ZORDER on a partitioned table.)
            _discard_attempt()
            raise SnapshotConflictError(
                "_commit: merged layout declares both a z-order policy "
                f"({lay['zorder_cols']}) and a 1-D sort policy — "
                "one file-order policy per table (a concurrent writer "
                "raced the layout declaration)"
            )
        if new_files:
            # WRITE-CONTRACT race guard: the data files were produced
            # under the CHECK constraints AND generated-column specs
            # live at WRITE time; if this commit would inherit a
            # DIFFERENT live contract (a concurrent set/drop landed and
            # the sibling scan rebased onto it, or an overwrite captured
            # a later parent), the batch was never validated/derived
            # under the contract it would commit under — fail like
            # Delta's concurrent-metadata-change conflict so the caller
            # re-writes under the current contract (the serialize-retry
            # DML paths do this automatically)
            live = {
                "checks": {
                    k: v
                    for k, v in (tbl_meta.get("checks") or {}).items()
                    if v is not None
                },
                "generated": {
                    k: v
                    for k, v in (tbl_meta.get("generated") or {}).items()
                    if v is not None
                },
            }
            groups = set()
            for f in new_files:
                parts = f.split(os.sep)
                if len(parts) >= 2:  # kind/<uuid>[/partition dirs]/file
                    groups.add(os.sep.join(parts[:2]))
            for g in groups:
                enforced = _ENFORCED_CHECKS.get(g)
                if enforced is not None and enforced != live:
                    _discard_attempt()
                    raise SnapshotConflictError(
                        "_commit: the write contract (CHECK constraints "
                        "/ generated columns) changed between the data "
                        f"write (enforced {enforced}) and the commit "
                        f"(live {live}) — re-run the write so the batch "
                        "is produced under the current contract"
                    )
        # ---- the new data entry ---------------------------------------
        entry: dict = {}
        if new_files:
            st = stats or {}
            # per-file ROW COUNTS from the just-written footers (the
            # files are local to this commit — one metadata read each,
            # never a data scan): what metadata-only COUNT(*)
            # (`snapshot_stats_agg`) and the PARTITIONS table answer
            # from, Iceberg's record_count analog.  The same footer
            # read records NULL COUNTS for the stats-recorded columns
            # (round 12 — Iceberg's null_value_counts): what lets the
            # metadata RANGE count fold an interior file exactly (its
            # NULL rows fail the predicate but ride in its row count).
            rows_map: dict = {}
            nulls_map: dict = {}
            sums_map: dict = {}
            # the layout POLICY's stats columns ride into the per-file
            # passes alongside the recorded stat keys (round 14 —
            # VERDICT r13 'Next round #2', the money case): a DECIMAL
            # stats column has no JSON-safe [min, max] entry
            # (`_stat_primitive` refuses Decimal — string'd stats
            # would enter the pruning comparators mistyped), so keying
            # the sums read-back off recorded keys alone would
            # silently skip it.  `_file_int_sums` self-filters to
            # integer/decimal arrow types; extra names cost nothing.
            pol_cols = list(lay.get("stats_cols") or [])
            for f in new_files:
                fpath = os.path.join(root, f)
                cols_f = list(
                    dict.fromkeys([*(st.get(f) or {}), *pol_cols])
                )
                nr, nl = _footer_rows_nulls(fpath, cols_f)
                rows_map[f] = nr
                if nl:
                    nulls_map[f] = nl
                if cols_f:
                    # per-file EXACT integral/decimal-unscaled sums
                    # (rounds 13/14): one streamed read-back of the
                    # stats columns, the SUM/AVG twin of the NaN-count
                    # pass — what lets `SELECT SUM(x)` answer from the
                    # manifest
                    sm = _file_int_sums(fpath, cols_f)
                    if sm:
                        sums_map[f] = sm
            entry = {
                "files": new_files,
                "file_seq": {f: version for f in new_files},
                "sizes": {
                    f: os.path.getsize(os.path.join(root, f))
                    for f in new_files
                },
                "rows": rows_map,
            }
            if nulls_map:
                entry["nulls"] = nulls_map
            if sums_map:
                entry["sums"] = sums_map
            e_stats = {f: st[f] for f in new_files if st.get(f)}
            if e_stats:
                entry["stats"] = e_stats
            bl = blooms or {}
            e_blooms = {f: bl[f] for f in new_files if bl.get(f)}
            if e_blooms:
                entry["blooms"] = e_blooms
            new_set = set(new_files)
            for k in ("file_fields", "partition_values"):
                mu = (meta_updates or {}).get(k) or {}
                sub = {f: v for f, v in mu.items() if f in new_set}
                if sub:
                    entry[k] = sub
        if new_file_columns is not None:
            # the write chokepoint MATERIALIZES live generated columns
            # into the physical files even when the caller's frame
            # omitted them — the recorded column set (and the evolved
            # tables' field bindings below) must reflect the files'
            # ACTUAL columns, or the values would silently read back as
            # NULL through an incomplete binding.  tbl_meta carries the
            # same live contract the chokepoint applied (drift aborts
            # via the write-contract guard above).
            new_file_columns = list(
                dict.fromkeys(
                    [
                        *new_file_columns,
                        *[
                            c
                            for c, v in (
                                tbl_meta.get("generated") or {}
                            ).items()
                            if v is not None
                        ],
                    ]
                )
            )
        if tbl_meta.get("fields") is not None and new_file_columns is not None:
            # additive evolution: a new file group may introduce columns
            # the logical schema hasn't seen — append them with fresh
            # field ids (ids are never reused, even after a drop, so an
            # old file's binding can never alias a new field)
            pm_res = _read_manifest(root, parent) if parent is not None else {}
            flds = [dict(x) for x in tbl_meta["fields"]]
            known = {x["name"] for x in flds}
            nid = max((x["id"] for x in flds), default=0)
            for mp in (pm_res.get("file_fields") or {}).values():
                nid = max(nid, max(mp.values(), default=0))
            for c in new_file_columns:
                if c not in known:
                    nid += 1
                    flds.append({"id": nid, "name": c})
                    known.add(c)
            tbl_meta["fields"] = flds
            n2i = {x["name"]: x["id"] for x in flds}
            if new_files:
                eff = dict(entry.get("file_fields") or {})
                for f in new_files:
                    eff.setdefault(
                        f, {c: n2i[c] for c in new_file_columns}
                    )
                entry["file_fields"] = eff
        # ---- overrides (restore/evolve): fields/layout in the payload;
        # file_fields as a bindings-diff entry vs the referenced source
        if manifest_override:
            for k in ("fields", "layout"):
                if k in manifest_override:
                    if manifest_override[k] is None:
                        tbl_meta.pop(k, None)
                    else:
                        tbl_meta[k] = manifest_override[k]
            if (
                "file_fields" in manifest_override
                and entries_from is not None
            ):
                ovff = manifest_override["file_fields"] or {}
                src = _read_manifest(root, entries_from)
                cur_ff = src.get("file_fields") or {}
                diff = {
                    f: b for f, b in ovff.items() if cur_ff.get(f) != b
                }
                if diff:
                    # bindings-only entry (no files): evolve's bootstrap
                    # writes the physical-name→field-id map ONCE; later
                    # renames/drops are payload-only commits
                    bn = _write_entry(
                        root, {"files": [], "file_fields": diff}
                    )
                    base_entries = list(base_entries) + [bn]
                    attempt_written.append(bn)
        entries = list(base_entries)
        if entry:
            en = _write_entry(root, entry)
            entries.append(en)
            attempt_written.append(en)
        payload = {
            "version": version,
            "parent": parent,
            "tag": tag,
            "ts": time.time(),
            "operation": operation,
            "format": 2,
            "entries": entries,
            "delete_entries": list(base_dentries),
            # per-commit identity: a drop/recreate reaching the same
            # version number with a same-size manifest must never
            # serve another table's memoized attach (advice, round 12
            # — stat metadata alone is spoofable by mtime-preserving
            # copies on coarse-mtime filesystems)
            "uuid": uuid.uuid4().hex,
        }
        payload.update(tbl_meta)
        if payload_extras:
            # PER-COMMIT payload keys (e.g. a copy-into batch's source
            # identities) — recorded on THIS version only, never
            # inherited like layout/fields/checks
            for k in payload_extras:
                if k in payload:
                    raise ValueError(
                        f"_commit: payload_extras key {k!r} collides "
                        "with a reserved manifest field"
                    )
            payload.update(payload_extras)
        with open(staged, "w") as fh:
            json.dump(payload, fh)
        mpath = os.path.join(_manifest_dir(root), f"v{version}.json")
        try:
            os.link(staged, mpath)  # atomic claim: EEXIST on collision
        except FileExistsError:
            continue  # another writer took this number — re-derive
        finally:
            os.remove(staged)
        attempt_written.clear()  # the claimed manifest now owns them
        if tag is not None:
            mtmp = _tag_marker(root, tag) + ".tmp"
            with open(mtmp, "w") as fh:
                json.dump({"version": version}, fh)
            os.rename(mtmp, _tag_marker(root, tag))
        if publish:
            try:
                _advance_latest(root, version)
            except SnapshotConflictError:
                # a concurrent snapshot_publish/fast_forward made a
                # lineage this commit does not contain the head (it was
                # unpublished — invisible — when the sibling scan ran).
                # The claimed manifest stays as an expirable orphan —
                # so this attempt's tag marker must go FIRST in both
                # paths, or a crash here leaves a marker pointing at
                # the orphan and a replayed epoch would "resume" it as
                # committed (lost rows under the exactly-once
                # contract).  The window between the marker rename and
                # this removal is the irreducible residue of the
                # marker-before-pointer design; the retry below
                # rewrites the marker at the next claim.
                if tag is not None:
                    try:
                        os.remove(_tag_marker(root, tag))
                    except FileNotFoundError:
                        pass
                if conflict_mode == "serialize":
                    # the caller's decision is stale against the new
                    # head — surface it
                    raise
                # append family: re-derive against the new head and
                # recommit (the rebase scan now sees the published
                # lineage because `seen` is refreshed past it)
                parent = current_version(root)
                seen = set()
                continue
            return version
        return version
    raise RuntimeError("_commit: could not claim a version (contention)")


def _eq_key_ids(
    root: str, parent: int | None, keys: list[str], op: str
) -> list[int] | None:
    """Field ids for an equality-delete key list, captured against the
    writer's parent version — the Iceberg v2 rule that composes MoR
    with schema evolution: a delete list is bound to FIELD IDS (stable
    across renames), its ``keys`` recording only the file's physical
    column names at write time.  Returns None on a non-evolved parent
    (names are the identity there; `_commit` stamps ids if a first
    evolve lands concurrently).  A rebase onto a concurrently-EVOLVED
    head conflict-aborts outright (`_commit`'s ``expected_fields``
    guard): the delete side would survive a rename via these ids, but
    the sibling DATA files were written under captured names and
    would fork the renamed column."""
    if parent is None:
        return None
    fields = _read_manifest_meta(root, parent).get("fields")
    if not fields:
        return None
    n2i = {fl["name"]: fl["id"] for fl in fields}
    missing = [k for k in keys if k not in n2i]
    if missing:
        raise ValueError(
            f"{op}: delete keys {missing} are not columns of the "
            f"evolved table at {root}"
        )
    return [n2i[k] for k in keys]


class SnapshotConflictError(RuntimeError):
    """A serializable commit found a concurrent commit it cannot rebase
    over (the caller's read snapshot went stale) — retry the whole
    operation against the new table head."""


def _is_published(root: str, v: int) -> bool:
    """True iff the current head IS ``v`` or descends from it — i.e.
    ``v``'s rows are (or were) visible to plain readers."""
    head = current_version(root)
    return head is not None and _descends_from(root, head, v)


def _descends_from(root: str, v: int, anc: int | None) -> bool:
    """True iff version ``v``'s parent chain reaches ``anc`` (every
    version descends from the empty table, ``anc=None``).  Walks
    manifests only — O(lineage length), no data touched."""
    if anc is None:
        return True
    cur: int | None = v
    while cur is not None and cur >= anc:
        if cur == anc:
            return True
        cur = _read_manifest_meta(root, cur)["parent"]
    return False


def _advance_latest(root: str, version: int) -> None:
    """Forward-only _LATEST move for commits: never points the table at
    a LOWER version than it already shows (`rollback` bypasses this on
    purpose), and never at a version that does not CONTAIN the shown
    head — the guard that closes the publish/commit race: a commit
    whose sibling scan ran while a staged/branch lineage was still
    unpublished must not bury that lineage after `snapshot_publish` /
    `snapshot_fast_forward` made it the head; it fails here and
    `_commit` re-derives against the new head.  A commit that loses the
    pointer race still committed — its manifest is durable and its
    files are included in the higher version that rebased onto it
    (append path) or remain explicitly time-travelable (overwrite
    path)."""
    cur = current_version(root)
    if cur is None or version > cur:
        if cur is not None and not _descends_from(root, version, cur):
            raise SnapshotConflictError(
                f"_advance_latest: v{version} does not contain the "
                f"published head v{cur} — a concurrent publish landed; "
                "recommit against the new head"
            )
        _set_latest(root, version)


def snapshot_overwrite(
    df: DataFrame,
    root: str,
    tag: str | None = None,
    stats_cols: list[str] | None = None,
    operation: str = "overwrite",
    bloom_cols: list[str] | None = None,
    bloom_bits: int = 8192,
    _meta_updates: dict | None = None,
    _layout_override: dict | None = None,
) -> int:
    """Commit a new version whose content is exactly ``df`` (existing
    versions stay readable by number).  ``tag`` gives the same
    idempotent-replay contract as `snapshot_append`; ``stats_cols``
    records per-file min/max in the manifest (footer-read only) so
    `read_snapshot_pruned` can skip files without opening them;
    ``bloom_cols``/``bloom_bits`` additionally record per-file BLOOM
    FILTERS for point-lookup skipping (see `snapshot_append`)."""
    os.makedirs(root, exist_ok=True)
    if tag is not None:
        v = _resume_tagged_commit(root, tag)
        if v is not None:
            return v
    if bloom_cols:
        # validate against the MATERIALIZED schema: a bloom column
        # may be generated (the chokepoint adds it to the files)
        _check_bloom_cols(
            _apply_generated_columns(df, root), bloom_cols, bloom_bits
        )
    if stats_cols is None:
        files, stats = _write_files(df, root), {}
    else:
        files, stats = _write_files(df, root, stats_cols)
    blooms = (
        _file_blooms(df.sparkSession, root, files, bloom_cols, bloom_bits)
        if bloom_cols
        else None
    )
    meta: dict | None = dict(_meta_updates or {}) or None
    if bloom_cols:
        meta = meta or {}
        meta["layout"] = {
            **(meta.get("layout") or {}),
            "bloom_cols": bloom_cols,
            "bloom_bits": bloom_bits,
        }
    return _commit(
        root,
        files,
        current_version(root),
        tag=tag,
        stats=stats,
        blooms=blooms,
        operation=operation,
        new_file_columns=list(df.columns),
        meta_updates=meta,
        # WHOLESALE layout replacement (CREATE OR REPLACE TABLE's
        # contract): the additive meta merge ACCUMULATES transform
        # names by design, which is wrong for a replace — the override
        # path swaps the whole layout dict instead
        manifest_override=(
            {"layout": _layout_override or None}
            if _layout_override is not None
            else None
        ),
    )


def snapshot_append(
    df: DataFrame,
    root: str,
    tag: str | None = None,
    stats_cols: list[str] | None = None,
    _meta_updates: dict | None = None,
    bloom_cols: list[str] | None = None,
    bloom_bits: int = 8192,
    _payload_extras: dict | None = None,
) -> int:
    """Commit a new version = parent's files + ``df``'s new file group.
    The parent's files are REFERENCED, not rewritten — append cost is
    O(delta) regardless of table size.

    ``bloom_cols`` records a per-file BLOOM FILTER over each named
    column in the manifest entry — the data-skipping index for POINT
    lookups on hash-scattered keys, where min/max stats cannot prune
    anything (every file's range spans the whole domain).
    `read_snapshot_pruned(point_eq=...)` probes the blooms driver-side
    and opens only files that MAYBE contain the key; a file without a
    bloom is always read (claims only from evidence, same as stats).
    ``bloom_bits`` sizes each filter (default 8192 bits = 1 KB/file/col;
    at k=4 hashes size m ≈ 10× the expected DISTINCT keys per file for
    ~1% false positives — false positives only cost an extra file read,
    never correctness).  Columns must be integer or string typed (the
    hash contract needs a canonical string form shared by Spark and the
    driver-side probe; anything else refuses loudly).  The policy is
    recorded in the table layout so `snapshot_compact` re-derives
    blooms for the files it rewrites.

    ``tag`` makes the append IDEMPOTENT and crash-complete: a replayed
    epoch whose marker exists returns the committed version (finishing
    the _LATEST move if the crash tore it) instead of duplicating rows —
    the exactly-once hook the streaming sink passes its epoch id
    through; the marker check is O(1), not a manifest scan.

    Only the NEW file group is handed to `_commit` — base-file
    resolution happens inside the claim loop (``rebase_append``), so a
    concurrent committer's collision rebases onto the winner's manifest
    instead of re-proposing a stale file list."""
    os.makedirs(root, exist_ok=True)
    if tag is not None:
        v = _resume_tagged_commit(root, tag)
        if v is not None:
            return v
    # version listing FIRST, then parent: a commit landing between the
    # two reads is then visible in `parent` (not stale), while one
    # landing after the parent read is absent from `seen` and therefore
    # detected as concurrent by `_commit` — capture in the other order
    # and a commit in the gap would be in `seen` but newer than
    # `parent`, silently orphaned by neither check
    seen = set(snapshot_versions(root))
    parent = current_version(root)
    if bloom_cols:
        # validate against the MATERIALIZED schema: a bloom column
        # may be generated (the chokepoint adds it to the files)
        _check_bloom_cols(
            _apply_generated_columns(df, root), bloom_cols, bloom_bits
        )
    if stats_cols is None:
        new_files, new_stats = _write_files(df, root), {}
    else:
        new_files, new_stats = _write_files(df, root, stats_cols)
    blooms = (
        _file_blooms(
            df.sparkSession, root, new_files, bloom_cols, bloom_bits
        )
        if bloom_cols
        else None
    )
    meta = dict(_meta_updates or {})
    if bloom_cols:
        lay = dict(meta.get("layout") or {})
        lay.update({"bloom_cols": bloom_cols, "bloom_bits": bloom_bits})
        meta["layout"] = lay
    return _commit(
        root,
        new_files,
        parent,
        tag=tag,
        stats=new_stats,
        blooms=blooms,
        rebase_append=True,
        operation="append",
        seen_versions=seen,
        new_file_columns=list(df.columns),
        meta_updates=meta or None,
        payload_extras=_payload_extras,
    )


def _copied_identities(root: str, start: int | None = None) -> set[str]:
    """Every source-file identity loaded into the CURRENT table STATE —
    the parent-chain walk (O(commits since last consolidation) × O(1)
    meta reads) with two state-scoping rules:

    * a ``restore_of`` hop JUMPS to the restored version's history —
      a restore that undid a copy really un-loads it (and a rolled-back
      copy drops out because the walk starts at the live head);
    * a ``copied_all`` payload (written by `compact_manifests`, which
      consolidates the accumulated set forward) TERMINATES the walk —
      the cron steady state stays O(commits since the last manifest
      maintenance), not O(all commits ever)."""
    out: set[str] = set()
    v = current_version(root) if start is None else start
    while v is not None:
        try:
            meta = _read_manifest_meta(root, v)
        except FileNotFoundError:
            # an EXPIRED ancestor with no consolidation marker above it:
            # only possible on tables vacuumed by a pre-consolidation
            # build (`expire_versions` now stamps ``copied_all`` onto
            # every surviving version whose walk crosses the retention
            # boundary).  Guessing "empty history" here would re-load
            # every previously-ingested file — refuse loudly instead.
            raise RuntimeError(
                f"_copied_identities: version {v} of {root} was "
                "expired without a copy-identity consolidation marker "
                "above it (a table vacuumed by a pre-consolidation "
                "build) — the ingestion history below the gap is "
                "unrecoverable; reload explicitly with "
                "snapshot_copy_into(..., force=True) if duplicates "
                "are acceptable, or restore the expired manifests"
            ) from None
        out.update(meta.get("copied") or [])
        if meta.get("copied_all") is not None:
            out.update(meta["copied_all"])
            break
        ro = meta.get("restore_of")
        v = ro if ro is not None else meta.get("parent")
    return out


def _inherit_prune_policy(
    root: str,
    batch_columns: list[str],
    stats_cols: list[str] | None,
    bloom_cols: list[str] | None,
    bloom_bits: int,
) -> tuple[list[str] | None, list[str] | None, int]:
    """Fill in the table's recorded pruning POLICY where the caller
    gave none (the same move `snapshot_compact` makes when it rewrites
    files): a write that lands through COPY INTO, SQL INSERT, or any
    other policy-unaware entry point must not silently produce
    unprunable files on a table whose layout declares stats/bloom
    columns.  A policy column the BATCH omits may still be GENERATED —
    the write chokepoint materializes it, so its stats/blooms record
    fine; only columns the files truly won't carry are dropped."""
    parent = current_version(root)
    if parent is None or (stats_cols is not None and bloom_cols is not None):
        return stats_cols, bloom_cols, bloom_bits
    lay = _read_manifest_meta(root, parent).get("layout") or {}
    will_have = set(batch_columns) | set(_table_generated(root, parent))
    if stats_cols is None:
        pol = lay.get("stats_cols") or []
        stats_cols = [c for c in pol if c in will_have] or None
    if bloom_cols is None:
        pol = lay.get("bloom_cols") or []
        bloom_cols = [c for c in pol if c in will_have] or None
        if bloom_cols:
            bloom_bits = int(lay.get("bloom_bits") or bloom_bits)
    return stats_cols, bloom_cols, bloom_bits


def snapshot_copy_into(
    spark: SparkSession,
    root: str,
    source,
    source_format: str = "parquet",
    schema=None,
    options: dict | None = None,
    force: bool = False,
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    bloom_bits: int = 8192,
) -> dict:
    """IDEMPOTENT FILE INGESTION — the ``COPY INTO`` shape (Delta /
    Snowflake): load the source files into the snapshot table EXACTLY
    ONCE per file version, so the same glob can run on a cron forever
    and only news lands.

    * ``source``: a glob string or explicit path list; matching is
      driver-side metadata only.
    * A file's IDENTITY is ``path|size|mtime_ns`` — an in-place
      rewrite (new size/mtime) counts as a NEW file version and loads
      again; ``force=True`` reloads everything matched regardless.
    * Already-loaded identities are recorded IN the commit manifest
      (``copied``, per-commit payload — O(batch) bytes, atomic with
      the rows themselves, so a crash between "rows visible" and
      "files remembered" cannot exist) and recovered by walking the
      current lineage's parent chain — a copy undone by `rollback`
      correctly re-loads.
    * The commit rides a deterministic TAG (hash of the identity set +
      parent), so a crashed-and-replayed run or two racers loading the
      SAME batch dedupe through the marker; concurrent runs loading
      OVERLAPPING-but-different batches are not serialized against
      each other — run one loader per table (the Delta posture: COPY
      INTO from one job).
    * ``source_format``: parquet (self-describing) or csv / jsonl /
      orc / text — non-self-describing formats require ``schema``.

    Returns ``{"version", "loaded", "skipped"}`` — loaded is the file
    list this call committed; a no-news call commits NOTHING."""
    import glob as globmod
    import hashlib

    os.makedirs(root, exist_ok=True)
    if isinstance(source, str):
        paths = sorted(globmod.glob(source))
    else:
        paths = sorted(source)
    missing = [p for p in paths if not os.path.isfile(p)]
    if missing:
        raise FileNotFoundError(
            f"snapshot_copy_into: not files: {missing[:3]}"
        )
    if not paths:
        raise FileNotFoundError(
            f"snapshot_copy_into: source matched no files: {source!r}"
        )

    def ident(p: str) -> str:
        st = os.stat(p)
        return f"{os.path.abspath(p)}|{st.st_size}|{st.st_mtime_ns}"

    idents = {p: ident(p) for p in paths}
    already = _copied_identities(root) if not force else set()
    todo = [p for p in paths if idents[p] not in already]
    if not todo:
        return {
            "version": current_version(root),
            "loaded": [],
            "skipped": len(paths),
        }
    fmt = {"jsonl": "json"}.get(source_format, source_format)
    if fmt not in ("parquet", "csv", "json", "orc", "text"):
        raise ValueError(
            f"snapshot_copy_into: unsupported format {source_format!r}"
        )
    if fmt in ("csv", "json") and schema is None:
        raise ValueError(
            f"snapshot_copy_into: {source_format} needs an explicit "
            "schema (inference would let one malformed batch drift the "
            "table's types)"
        )
    reader = spark.read.format(fmt)
    if schema is not None:
        reader = reader.schema(schema)
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    df = reader.load(todo)
    stats_cols, bloom_cols, bloom_bits = _inherit_prune_policy(
        root, df.columns, stats_cols, bloom_cols, bloom_bits
    )
    batch = sorted(idents[p] for p in todo)
    parent = current_version(root)
    salt = f"|force={uuid.uuid4().hex}" if force else ""
    sig = hashlib.md5(
        ("\n".join(batch) + f"|parent={parent}{salt}").encode()
    ).hexdigest()
    v = snapshot_append(
        df,
        root,
        tag=f"copyinto-{sig}",
        stats_cols=stats_cols,
        bloom_cols=bloom_cols,
        bloom_bits=bloom_bits,
        _payload_extras={"copied": batch},
    )
    return {"version": v, "loaded": todo, "skipped": len(paths) - len(todo)}


def read_snapshot(
    spark: SparkSession,
    root: str,
    version: int | None = None,
    merge_schema: bool = False,
    _allow_mor_raw: bool = False,
    _files: list[str] | None = None,
) -> DataFrame:
    """Read one snapshot: ``version=None`` resolves _LATEST; an explicit
    number time-travels.  Exactly the manifest's files are read — no
    directory listing, no visibility of in-flight or orphaned file
    groups.  ``merge_schema=True`` unions per-file-group schemas so a
    version whose appends EVOLVED the schema (added columns) reads with
    older files' missing columns as NULL — schema evolution without
    rewriting history.

    A manifest recording a LOGICAL schema (``fields``, written by
    `snapshot_evolve` — rename/drop as metadata-only commits) reads
    through `_read_files_logical`: each file group is projected from its
    own physical column names to the version's logical names via field
    ids, so a rename never rewrites data and time travel shows each
    version under its own schema.

    A manifest carrying MoR equality-delete files REFUSES a raw read
    (deleted/superseded rows would silently resurface) — use
    `read_snapshot_mor`, which degrades to this function when there are
    no deletes.  ``_allow_mor_raw`` is the internal escape hatch for
    callers that provably don't surface row content (schema-only
    reads); ``_files`` restricts the scan to a subset of the manifest's
    files (compaction's rewrite-set read)."""
    v = current_version(root) if version is None else version
    if v is None:
        raise FileNotFoundError(f"read_snapshot: no committed version at {root}")
    m = _read_manifest(root, v)
    if (m.get("delete_files") or []) and not _allow_mor_raw:
        raise ValueError(
            f"read_snapshot: v{v} carries MoR delete files — a raw read "
            "would resurface deleted rows; use read_snapshot_mor (or "
            "snapshot_compact to fold the deletes)"
        )
    return _read_files_logical(
        spark,
        root,
        m,
        m["files"] if _files is None else _files,
        merge_schema=merge_schema,
    )


def _read_files_logical(
    spark: SparkSession,
    root: str,
    m: dict,
    files: list[str],
    merge_schema: bool = False,
    _coords: list[tuple] | None = None,
) -> DataFrame:
    """Scan ``files`` under manifest ``m``'s schema rules.  Without a
    recorded logical schema this is ONE parquet scan of exactly those
    files.  With ``fields`` (an evolved table), files are grouped by
    their physical-name→field-id binding (one group per schema epoch —
    bounded by evolution count, not file count), each group projects
    physical→logical via ids, and the groups union with missing columns
    as NULL; output column order is the logical field order.  A file a
    manifest references without a binding fails loudly (corrupt
    metadata must never silently misname a column).

    ``_coords`` (internal, the MoR composition): ``[(name, Column)]``
    expressions — e.g. ``_metadata``-derived file/row coordinates —
    evaluated INSIDE each group's own scan relation (``_metadata``
    resolves only there, never after a union/join) and appended to the
    output after the logical columns."""
    from pyspark.sql import functions as F

    fields = m.get("fields")
    if not fields:
        reader = spark.read
        if merge_schema:
            reader = reader.option("mergeSchema", True)
        out = reader.parquet(*[os.path.join(root, f) for f in files])
        for n, c in _coords or []:
            out = out.withColumn(n, c)
        return out
    if not files:
        # schema-only empty frame in logical order is not derivable
        # without reading a file; callers never hit this (they guard)
        raise ValueError("_read_files_logical: empty file set on an "
                         "evolved table")
    ffields = m.get("file_fields") or {}
    fseq = m.get("file_seq") or {}
    dflt_flds = [
        fl for fl in fields
        if fl.get("type") and fl.get("default") is not None
    ]
    groups: dict[tuple, list[str]] = {}
    for f in files:
        mp = ffields.get(f)
        if mp is None:
            raise ValueError(
                f"_read_files_logical: {f} has no field binding in the "
                "manifest — evolved-table metadata is incomplete"
            )
        # which initial defaults apply to THIS file: only those whose
        # add postdates the file (default_seq = the evolve's parent; a
        # file written after the add that omits the column reads NULL,
        # not the default — a field without default_seq is legacy
        # metadata and keeps the old always-applies behavior)
        applies = tuple(sorted(
            fl["id"]
            for fl in dflt_flds
            if fl["id"] not in mp.values()
            and (
                "default_seq" not in fl
                or int(fseq.get(f, 0)) <= int(fl["default_seq"])
            )
        ))
        groups.setdefault(
            (tuple(sorted(mp.items())), applies), []
        ).append(f)
    id_to_name = {fl["id"]: fl["name"] for fl in fields}
    live_ids = set(id_to_name)
    parts = []
    for (sig, applies), fs in groups.items():
        gdf = spark.read.parquet(*[os.path.join(root, f) for f in fs])
        bound = {fid for _, fid in sig}
        cols = [
            F.col(phys).alias(id_to_name[fid])
            for phys, fid in sig
            if fid in live_ids  # dropped fields are projected away
        ]
        for fl in fields:
            # a TYPED add (metadata-only column) projects its INITIAL
            # DEFAULT into file groups that predate the column, a typed
            # NULL into groups written after it without the column;
            # groups that carry the column keep their real values, so a
            # default never masks an explicit NULL
            if fl["id"] not in bound and fl.get("type"):
                dv = fl.get("default") if fl["id"] in applies else None
                cols.append(
                    F.lit(dv).cast(fl["type"]).alias(fl["name"])
                )
        cols.extend(c.alias(n) for n, c in _coords or [])
        parts.append(gdf.select(*cols))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    have = set(out.columns)
    return out.select(
        *[fl["name"] for fl in fields if fl["name"] in have],
        *[n for n, _ in _coords or []],
    )


def snapshot_append_clustered(
    df: DataFrame,
    root: str,
    cluster_cols: list[str],
    n_files: int = 8,
    tag: str | None = None,
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    bloom_bits: int = 8192,
) -> int:
    """Append with WRITE-TIME clustering: range-repartition on
    ``cluster_cols`` and sort within each output file, so every file
    covers a TIGHT, near-disjoint range and the manifest stats make
    `read_snapshot_pruned` skip all but ~1 file per point/range lookup
    — commit-time layout is what turns stats pruning from best-effort
    into a guarantee (the 1-D `io.sorted_write` discipline applied to
    snapshot commits).  ``stats_cols`` records ADDITIONAL per-file
    min/max beyond the cluster key (e.g. for `snapshot_stats_agg`'s
    metadata-only extremes on non-key columns).  For multi-column
    point/range access use `snapshot_append_zordered` instead; mixing
    the two layouts on one table refuses loudly."""
    cur = current_version(root)
    if cur is not None:
        prev = (_read_manifest_meta(root, cur).get("layout") or {})
        if prev.get("zorder_cols"):
            raise ValueError(
                "snapshot_append_clustered: table already declares a "
                f"Z-ORDER layout on {prev['zorder_cols']} — one "
                "clustering policy per table"
            )
    clustered = df.repartitionByRange(n_files, *cluster_cols).sortWithinPartitions(
        *cluster_cols
    )
    rec = list(dict.fromkeys([*cluster_cols, *(stats_cols or [])]))
    return snapshot_append(
        clustered,
        root,
        tag=tag,
        stats_cols=rec,
        bloom_cols=bloom_cols,  # composes: point-skipping on non-key cols
        bloom_bits=bloom_bits,
        # declare the layout POLICY in the manifest so maintenance
        # (snapshot_compact) re-clusters and re-records stats instead of
        # silently discarding the pruning guarantee
        _meta_updates={
            "layout": {"sort_cols": cluster_cols, "stats_cols": rec}
        },
    )


def _zorder_frame(
    df: DataFrame, cols: list[str], bits: int, n_files: int
) -> DataFrame:
    """Range-partition + sort ``df`` on the Z-order (Morton) key of
    ``cols`` — the physical layout shared by `snapshot_append_zordered`
    and `snapshot_compact`'s layout-preserving rewrite; delegates to
    `io.zorder_frame` (one implementation of the bounds/quantization
    edge cases)."""
    from .io import zorder_frame

    return zorder_frame(df, cols, bits=bits, target_files=n_files)


def snapshot_append_zordered(
    df: DataFrame,
    root: str,
    zorder_cols: list[str],
    n_files: int = 8,
    bits: int = 8,
    tag: str | None = None,
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    bloom_bits: int = 8192,
) -> int:
    """Append with MULTI-DIMENSIONAL clustering (Delta's ``OPTIMIZE
    ZORDER BY`` applied at write time): rows are range-partitioned and
    sorted on the interleaved-bit Morton key of ``zorder_cols``
    (`io.zorder_value` — pure JVM column algebra), so every file covers
    a tight hyper-rectangle and `read_snapshot_pruned` skips files for
    predicates on ANY subset of the clustered columns — a 1-D sort
    narrows one column and leaves the others spanning the full domain
    (`snapshot_append_clustered` is that 1-D special case).

    The layout POLICY (``zorder_cols``/``zorder_bits``) is declared in
    the manifest like the sort layout, so `snapshot_compact` re-zorders
    rewritten files and re-records stats instead of silently flattening
    the multi-dim guarantee.  Mixing with a previously declared 1-D
    sort layout refuses loudly — one table, one clustering policy
    (re-declare via compaction after dropping the old policy instead of
    silently interleaving two)."""
    cur = current_version(root)
    if cur is not None:
        prev = (_read_manifest_meta(root, cur).get("layout") or {})
        if prev.get("sort_cols"):
            raise ValueError(
                "snapshot_append_zordered: table already declares a 1-D "
                f"sort layout on {prev['sort_cols']} — one clustering "
                "policy per table"
            )
        if prev.get("partition_transforms"):
            raise ValueError(
                "snapshot_append_zordered: table already declares hidden "
                f"partitioning on {sorted(prev['partition_transforms'])} "
                "— z-order does not compose with the partitioned write "
                "path; one clustering policy per table"
            )
    rec = list(dict.fromkeys([*zorder_cols, *(stats_cols or [])]))
    return snapshot_append(
        _zorder_frame(df, zorder_cols, bits, n_files),
        root,
        tag=tag,
        stats_cols=rec,
        bloom_cols=bloom_cols,
        bloom_bits=bloom_bits,
        _meta_updates={
            "layout": {
                "zorder_cols": zorder_cols,
                "zorder_bits": bits,
                "stats_cols": rec,
            }
        },
    )


def snapshot_rewrite_zordered(
    spark: SparkSession,
    root: str,
    zorder_cols: list[str],
    n_files: int | None = None,
    bits: int = 8,
    stats_cols: list[str] | None = None,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Delta's ``OPTIMIZE … ZORDER BY`` as a table REWRITE: the current
    MoR-merged content re-committed in one pass, range-partitioned and
    sorted on the interleaved-bit Morton key, with the z-order policy
    DECLARED in the layout — this is the re-declare path for tables
    the append writer refuses (plain or 1-D-sorted: the old
    ``sort_cols`` policy is replaced wholesale, never interleaved),
    and subsequent maintenance keeps re-zordering rewritten files
    (`snapshot_compact` honors the declared policy).

    The rewrite carries `snapshot_compact`'s whole discipline — it IS
    a compaction with a policy change:

    * SERIALIZABLE: seen-before-parent capture, ``serialize`` commit,
      bounded retry — a concurrent append lands first and the whole
      rewrite recomputes against it (never silently buried under a
      skipped hop);
    * ``merge_schema=True`` read, so heterogeneous file groups
      (additive appends) keep every column;
    * output SIZED from recorded bytes (``ceil(bytes/target)``, like
      plain OPTIMIZE) unless ``n_files`` forces a count;
    * pruning evidence PRESERVED: the recorded stats columns union the
      parent's declared/observed set, and the declared BLOOM policy
      re-derives filters for the rewritten files;
    * FIXED POINT: an identical declared policy on a delete-free head
      that is itself a rewrite/compaction output returns without
      committing — a cron OPTIMIZE ZORDER no-ops instead of churning;
      an empty table no-ops too.

    The commit records ``operation="compact"``: row-content-preserving
    by construction (it reads THROUGH the MoR delete files and folds
    them), so every lineage consumer — plain stream, change feed,
    incremental readers — SKIPS the hop exactly like cron compaction
    instead of dying on an overwrite.  History stays linear.

    HIDDEN-PARTITIONED tables compose (round 10 — Delta's OPTIMIZE
    ZORDER on a partitioned table): the rewrite re-clusters WITHIN
    each partition on the Morton key, preserving the transforms and
    every file's recorded partition value, so partition pruning and
    multi-dim range pruning stack on the rewritten files; subsequent
    partitioned appends keep clustering under the declared policy."""
    import math

    last_err: Exception | None = None
    for _ in range(5):
        # seen BEFORE parent — see snapshot_append's capture-order note
        seen = set(snapshot_versions(root))
        parent = current_version(root)
        if parent is None:
            raise FileNotFoundError(
                f"snapshot_rewrite_zordered: no table at {root}"
            )
        m = _read_manifest(root, parent)
        lay = m.get("layout") or {}
        transforms = lay.get("partition_transforms")
        if not m["files"]:
            return parent  # empty table — nothing to rewrite
        same_policy = (
            lay.get("zorder_cols") == list(zorder_cols)
            and int(lay.get("zorder_bits") or 0) == int(bits)
        )
        if (
            same_policy
            and not m.get("delete_files")
            and m.get("operation") == "compact"
        ):
            # the head IS a rewrite/compaction output under this exact
            # policy — a re-run would re-shuffle the whole table and
            # commit a junk version per cron tick, forever
            return parent
        rec_sizes = m.get("sizes") or {}
        sizes = sum(
            int(
                rec_sizes[f]
                if f in rec_sizes
                else os.path.getsize(os.path.join(root, f))
            )
            for f in m["files"]
        )
        n_out = n_files or max(1, math.ceil(sizes / target_file_bytes))
        # merge_schema: heterogeneous file groups (additive appends)
        # must keep every column — a plain read infers one group's
        # schema and a full-table overwrite would drop the rest FOREVER
        df = read_snapshot_mor(spark, root, parent, merge_schema=True)
        missing = sorted(set(zorder_cols) - set(df.columns))
        if missing:
            raise ValueError(
                f"snapshot_rewrite_zordered: columns not in the table: "
                f"{missing}"
            )
        # pruning evidence survives the policy change: union the
        # declared (or observed) stat columns with the new zorder cols
        prev_stats = lay.get("stats_cols") or sorted(
            {c for st in (m.get("stats") or {}).values() for c in st}
        )
        rec = [
            c
            for c in dict.fromkeys(
                [*zorder_cols, *(stats_cols or []), *prev_stats]
            )
            if c in df.columns
        ]
        new_pvals: dict | None = None
        if transforms:
            # PARTITIONED table: z-order WITHIN each partition (Delta's
            # OPTIMIZE ZORDER composition) — transforms and recorded
            # partition values are preserved, so partition pruning and
            # multi-dim range pruning compose on the rewritten files
            new_files, new_stats, new_pvals = _write_partitioned_files(
                df,
                root,
                dict(transforms),
                rec,
                zorder=(list(zorder_cols), int(bits)),
                n_files=n_out,
            )
            out_cols = list(df.columns)
        else:
            zdf = _zorder_frame(df, zorder_cols, bits, n_out)
            new_files, new_stats = _write_files(zdf, root, rec)
            out_cols = list(zdf.columns)
        new_blooms = None
        bcols = lay.get("bloom_cols")
        if bcols:
            # the declared bloom policy survives the rewrite — a
            # bloom-less full replacement would silently defeat point
            # lookups table-wide while the manifest still claims them
            live = [c for c in bcols if c in out_cols]
            if live:
                new_blooms = _file_blooms(
                    spark,
                    root,
                    new_files,
                    live,
                    int(lay.get("bloom_bits") or 8192),
                )
        try:
            return _commit(
                root,
                new_files,
                parent,
                operation="compact",
                stats=new_stats,
                blooms=new_blooms,
                seen_versions=seen,
                conflict_mode="serialize",
                new_file_columns=out_cols,
                meta_updates={
                    "layout": {
                        "sort_cols": None,  # replace a 1-D policy
                        "zorder_cols": list(zorder_cols),
                        "zorder_bits": bits,
                        "stats_cols": rec,
                    },
                    **(
                        {"partition_values": new_pvals}
                        if new_pvals
                        else {}
                    ),
                },
            )
        except SnapshotConflictError as exc:
            last_err = exc  # head moved mid-rewrite — redo against it
    raise SnapshotConflictError(
        f"snapshot_rewrite_zordered: gave up after 5 conflicted "
        f"attempts ({last_err})"
    )


def _write_partitioned_files(
    df: DataFrame,
    root: str,
    partition_transforms: dict[str, str],
    stats_cols: list[str] | None = None,
    sort_cols: list[str] | None = None,
    zorder: tuple[list[str], int] | None = None,
    n_files: int | None = None,
) -> tuple[list[str], dict, dict]:
    """The physical HIDDEN-PARTITIONED write shared by
    `snapshot_append_partitioned` and `snapshot_compact`'s
    layout-preserving rewrite: group rows by transform value
    (``partitionBy`` on temporary columns parquet drops from the data
    files), recursively list the nested output, and parse each file's
    recorded partition value back out of its path.  Returns
    ``(files, stats, partition_values)``, all table-root-relative.

    ``zorder=(cols, bits)`` clusters WITHIN each partition on the
    Morton key (Delta's OPTIMIZE ZORDER on a partitioned table):
    with ``n_files`` the rows range-partition on (partition values,
    key) — a big partition splits into several zorder-tight files, so
    partition pruning COMPOSES with multi-dim range pruning; without
    ``n_files`` the one-task-per-value convention holds and the key
    sorts rows inside each value's single file (row-group locality)."""
    import urllib.parse

    from pyspark.sql import functions as F

    tmps = {name: f"_pt_{name}" for name in partition_transforms}
    for name in partition_transforms:
        if tmps[name] in df.columns:
            raise ValueError(
                f"snapshot partitioned write: column {tmps[name]!r} "
                "collides with the internal partition column"
            )
    # generated columns compute FIRST: a partition transform (or sort)
    # may legitimately reference a derived column the writer omitted
    gen = _table_generated(root)
    out_df = _apply_generated_columns(df, root, gen)
    for name, expr in partition_transforms.items():
        out_df = out_df.withColumn(
            tmps[name], F.expr(expr).cast("string")
        )
    # co-locate each partition value in one task BEFORE partitionBy —
    # otherwise every task writes a file into every value directory and
    # the commit is tasks×values small files (at scale you shard a hot
    # partition by adding a bucket transform, keeping file count
    # values×buckets, never ×tasks)
    zc = None
    if zorder:
        from .io import zorder_key_column

        zcols, zbits = zorder
        zc = f"_zk_{uuid.uuid4().hex[:8]}"
        out_df = out_df.withColumn(
            zc, zorder_key_column(out_df, list(zcols), bits=int(zbits))
        )
    if zc is not None and n_files:
        # multi-file within-partition zorder: contiguous key slices per
        # value directory (a task straddles at most two values, so file
        # count stays ~n_files + values, never tasks×values)
        out_df = out_df.repartitionByRange(
            n_files, *[F.col(t) for t in tmps.values()], F.col(zc)
        )
    else:
        out_df = out_df.repartition(*tmps.values())
    if zc is not None:
        out_df = out_df.sortWithinPartitions(
            *[F.col(t) for t in tmps.values()], F.col(zc)
        ).drop(zc)
    elif sort_cols:
        out_df = out_df.sortWithinPartitions(*sort_cols)
    checks = _table_checks(root)
    out_df = _apply_check_constraints(out_df, root, checks)
    group = os.path.join("data", uuid.uuid4().hex)
    _record_enforced_checks(group, checks, gen)
    out = os.path.join(root, group)
    from .io import ensure_prunable_timestamp_writes

    with ensure_prunable_timestamp_writes(out_df.sparkSession):
        out_df.write.partitionBy(*tmps.values()).parquet(out)
    # recursive listing: partitioned writes nest one dir per value
    files: list[str] = []
    pvals: dict[str, dict] = {}
    for dirpath, _dirs, names in os.walk(out):
        for n in sorted(names):
            if not n.endswith(".parquet"):
                continue
            rel = os.path.relpath(os.path.join(dirpath, n), root)
            files.append(rel)
            vals = {}
            for seg in rel.split(os.sep):
                if "=" in seg and seg.split("=", 1)[0] in tmps.values():
                    k, v = seg.split("=", 1)
                    name = k[len("_pt_"):]
                    v = urllib.parse.unquote(v)
                    # hive's null marker: recorded as None — a file of
                    # null-transform rows never equality-matches a value
                    vals[name] = (
                        None if v == "__HIVE_DEFAULT_PARTITION__" else v
                    )
            pvals[rel] = vals
    files.sort()
    stats = (
        {
            f: _file_stats(
                os.path.join(root, f), stats_cols, nan_counts=True
            )
            for f in files
        }
        if stats_cols
        else {}
    )
    return files, stats, pvals


def snapshot_append_partitioned(
    df: DataFrame,
    root: str,
    partition_transforms: dict[str, str],
    stats_cols: list[str] | None = None,
    tag: str | None = None,
    sort_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    bloom_bits: int = 8192,
    zorder_cols: list[str] | None = None,
    zorder_bits: int = 8,
) -> int:
    """Append with HIDDEN PARTITIONING (Iceberg's partition-transform
    model in miniature): ``partition_transforms`` maps a partition NAME
    to a SQL transform over source columns (e.g. ``{"day": "CAST(ts AS
    DATE)"}``).  The write groups rows by transform value
    (``partitionBy`` on a temporary column — parquet drops it from the
    data files, so the transform is derived metadata, never a stored
    column the user must remember to filter on), and the manifest
    records each file's partition value (``partition_values``) plus the
    transform expressions themselves (in ``layout``), so

    * `read_snapshot_pruned(partition_eq={"day": d})` skips every file
      whose recorded value differs — an equality decided from manifest
      metadata alone, no stats and no footer reads, and
    * the reader re-applies the SEMANTIC predicate (transform(cols) =
      value) after the skip, so pruning is an optimization, never a
      semantics change (files committed by plain appends carry no
      recorded value and are always read).

    At 100 TB this is the partition-pruning half of scan planning:
    a day-grained lookup touches one day's files no matter how many
    days the table holds.  ``stats_cols`` composes (per-file min/max
    recorded as usual) for range pruning WITHIN a partition, and
    ``sort_cols`` sorts rows inside each partition file at write time
    so those recorded ranges are TIGHT (the clustered-append discipline
    applied within the hidden-partition layout; recorded in the layout
    policy so compaction preserves it)."""
    if not partition_transforms:
        raise ValueError("snapshot_append_partitioned: no transforms given")
    os.makedirs(root, exist_ok=True)
    if tag is not None:
        v = _resume_tagged_commit(root, tag)
        if v is not None:
            return v
    parent_now = current_version(root)
    z_within: tuple[list[str], int] | None = None
    if parent_now is not None:
        # spec evolution adds NEW names; REDEFINING an existing name
        # with a different expression would make old files' recorded
        # values lie under the new semantics — pruning would silently
        # skip matching rows.  Refuse loudly (rename the partition).
        prev_layout = (
            _read_manifest_meta(root, parent_now).get("layout") or {}
        )
        if prev_layout.get("zorder_cols"):
            if not prev_layout.get("partition_transforms"):
                raise ValueError(
                    "snapshot_append_partitioned: table declares a "
                    f"GLOBAL z-order layout on "
                    f"{prev_layout['zorder_cols']} — partitioned "
                    "appends do not compose with it (OPTIMIZE ZORDER "
                    "on a partitioned table declares the "
                    "within-partition flavor instead)"
                )
            if zorder_cols is not None and (
                list(zorder_cols) != list(prev_layout["zorder_cols"])
                or int(zorder_bits)
                != int(prev_layout.get("zorder_bits") or 8)
            ):
                raise ValueError(
                    "snapshot_append_partitioned: z-order policy is "
                    f"already declared as {prev_layout['zorder_cols']} "
                    "— redeclare with OPTIMIZE ZORDER (a rewrite), not "
                    "an append"
                )
            # the WITHIN-PARTITION flavor (OPTIMIZE ZORDER on a
            # partitioned table): appends keep clustering rows on the
            # Morton key inside each partition's file
            z_within = (
                list(prev_layout["zorder_cols"]),
                int(prev_layout.get("zorder_bits") or 8),
            )
        prev = prev_layout.get("partition_transforms") or {}
        for name, expr in partition_transforms.items():
            if name in prev and prev[name] != expr:
                raise ValueError(
                    f"snapshot_append_partitioned: partition {name!r} is "
                    f"already defined as {prev[name]!r} — redefining it "
                    f"as {expr!r} would poison recorded partition "
                    "values; use a new partition name"
                )
    if bloom_cols:
        _check_bloom_cols(
            _apply_generated_columns(df, root), bloom_cols, bloom_bits
        )
    if z_within is None and zorder_cols is not None:
        # explicit FIRST declaration of the within-partition policy
        # (CREATE TABLE ... PARTITIONED BY ... ZORDER BY)
        z_within = (list(zorder_cols), int(zorder_bits))
    if z_within:
        # the z-order dimensions ARE the pruning evidence — record
        # their per-file min/max like snapshot_append_zordered does,
        # or the declared policy would yield zero skips until the
        # first OPTIMIZE rewrite
        stats_cols = list(
            dict.fromkeys([*z_within[0], *(stats_cols or [])])
        )
    files, stats, pvals = _write_partitioned_files(
        df, root, partition_transforms, stats_cols,
        sort_cols=sort_cols, zorder=z_within,
    )
    blooms = (
        _file_blooms(df.sparkSession, root, files, bloom_cols, bloom_bits)
        if bloom_cols
        else None
    )
    seen = set(snapshot_versions(root))
    parent = current_version(root)
    return _commit(
        root,
        files,
        parent,
        tag=tag,
        stats=stats,
        blooms=blooms,
        rebase_append=True,
        operation="append",
        seen_versions=seen,
        new_file_columns=list(df.columns),
        meta_updates={
            "partition_values": pvals,
            "layout": {
                "partition_transforms": dict(partition_transforms),
                **({"sort_cols": sort_cols} if sort_cols else {}),
                **(
                    {"stats_cols": stats_cols}
                    if sort_cols and stats_cols
                    else {}
                ),
                **(
                    {"bloom_cols": bloom_cols, "bloom_bits": bloom_bits}
                    if bloom_cols
                    else {}
                ),
                **(
                    {
                        "zorder_cols": list(z_within[0]),
                        "zorder_bits": int(z_within[1]),
                        **(
                            {"stats_cols": stats_cols}
                            if stats_cols
                            else {}
                        ),
                    }
                    if z_within
                    else {}
                ),
            },
        },
    )


def _range_term(col: str, rng: tuple):
    """Column predicate for a possibly-OPEN ``(lo, hi)`` range — a
    None bound is unbounded on that side.  Shared by every consumer of
    pruning ranges (`read_snapshot_pruned`'s re-applied predicate, the
    MoR delete-side bound): ``between(lo, None)`` would evaluate NULL
    and silently drop/keep the wrong rows."""
    from pyspark.sql import functions as F

    lo, hi = rng
    if lo is not None and hi is not None:
        return F.col(col).between(lo, hi)
    if lo is not None:
        return F.col(col) >= F.lit(lo)
    return F.col(col) <= F.lit(hi)


def read_snapshot_pruned(
    spark: SparkSession,
    root: str,
    col: str | None = None,
    lo=None,
    hi=None,
    version: int | None = None,
    ranges: dict | None = None,
    partition_eq: dict | None = None,
    point_eq: dict | None = None,
    point_in: dict | None = None,
    prefixes: dict | None = None,
    _keep: list | None = None,
) -> DataFrame:
    """Stats-pruned snapshot scan: only manifest files whose recorded
    [min, max] for ``col`` intersects [lo, hi] are opened — file
    skipping decided from MANIFEST METADATA alone, no footer reads at
    query time (the Iceberg-style scan planning that makes point/range
    lookups on a 100 TB table touch a handful of files; pair with
    `io.sorted_write`-style clustering at commit time so ranges are
    tight).  Files committed without stats for ``col`` are always read
    (skipping is only ever claimed from evidence), and the returned
    frame still applies the predicate — pruning is an optimization,
    never a semantics change.

    ``partition_eq`` adds HIDDEN-PARTITION pruning (composable with
    ``ranges``): a file recorded with a different partition value for
    the name (`snapshot_append_partitioned`) is skipped, and the
    reader re-applies the semantic predicate transform(cols) = value —
    files without a recorded value are always read, so mixed
    plain/partitioned lineages stay correct.

    MoR tables PRUNE AND MERGE: the skip bounds the data scan, then
    every delete anti-join applies (`read_snapshot_mor` over the kept
    subset) — the point-lookup-on-a-CDC-table path, no compaction
    required.  Sound because a skipped file's rows are provably
    outside the predicate whether deleted or not.

    ``point_eq`` ({col: value}) adds BLOOM-FILTER pruning for equality
    lookups: each value is double-checked against the file's recorded
    [min, max] (as value..value) AND its Bloom filter when the commit
    recorded one (`snapshot_append(bloom_cols=...)`) — the path that
    prunes point lookups on HASH-SCATTERED keys, where every file's
    min/max spans the domain and range pruning keeps nothing out.  A
    bloom hit is "maybe present" (the file is read and the re-applied
    predicate decides); a miss is proof of absence.  Files without a
    bloom for the column are always read.

    ``point_in`` ({col: [values]}) is the IN-list twin of ``point_eq``
    (round 11 — the SQL executor's ``col IN (...)``): a file skips
    only when EVERY listed value is provably absent (outside its
    min/max, or refuted by its bloom); the reader re-applies
    ``col.isin(values)``.

    Temporal bounds: a ``datetime``/``date`` value in ``ranges`` or
    ``point_eq`` compares against the ISO-STRING stats
    `_stat_primitive` records via an asymmetric widening (lo side
    bare isoformat, hi side + '~') that is skip-safe across every
    representation of the same instant ('T'-seconds, '.ffffff'
    micros, '+00:00' offset) — the round-11 fix for string timestamp
    literals lexically sorting below their own instant's stat.

    ``_keep`` (internal) is the file list `_prune_keep` already chose
    for these claims — the SQL executor decides from it whether the
    pruned view is worth building."""
    from pyspark.sql import functions as F

    if ranges is None:
        if col is not None:
            ranges = {col: (lo, hi)}
        elif (
            partition_eq is None
            and point_eq is None
            and point_in is None
            and prefixes is None
        ):
            raise ValueError(
                "read_snapshot_pruned: pass col (with lo/hi), ranges, "
                "partition_eq, point_eq, point_in, or prefixes"
            )
        else:
            ranges = {}
    elif col is not None or lo is not None or hi is not None:
        raise ValueError(
            "read_snapshot_pruned: pass either col/lo/hi or ranges, "
            "not both (col/lo/hi would be silently ignored)"
        )
    for c, (clo, chi) in ranges.items():
        if c is None or (clo is None and chi is None):
            raise ValueError(
                f"read_snapshot_pruned: range for {c!r} needs at least "
                f"one bound, got ({clo!r}, {chi!r}) — a None bound is "
                f"OPEN on that side (round 11: `col >= a` alone prunes)"
            )
    if partition_eq is not None and not partition_eq:
        raise ValueError(
            "read_snapshot_pruned: partition_eq must be non-empty (an "
            "empty dict would be an unpredicated full scan)"
        )
    # a partition value may be a LIST (round 12 — `day(ts) IN (1, 2)`
    # and same-transform ORs): the file skips when its recorded value
    # matches NONE of them, and the reader re-applies isin()
    if partition_eq and any(
        val is None
        or (isinstance(val, (list, tuple, set)) and (
            not val or any(v is None for v in val)
        ))
        for val in partition_eq.values()
    ):
        raise ValueError(
            "read_snapshot_pruned: partition_eq values must be "
            "non-null (lists non-empty, all-non-null)"
        )
    if point_eq is not None and not point_eq:
        raise ValueError("read_snapshot_pruned: point_eq must be non-empty")
    if point_eq and any(val is None for val in point_eq.values()):
        raise ValueError(
            "read_snapshot_pruned: point_eq values must be non-null (an "
            "equality can never match NULL)"
        )
    if point_eq and any(c in ranges for c in point_eq):
        raise ValueError(
            "read_snapshot_pruned: a column cannot be in both ranges "
            "and point_eq"
        )
    if point_in is not None and (
        not point_in
        or any(not vals for vals in point_in.values())
        or any(
            v is None for vals in point_in.values() for v in vals
        )
    ):
        raise ValueError(
            "read_snapshot_pruned: point_in needs non-empty lists of "
            "non-null values (IN can never match NULL)"
        )
    if prefixes is not None and (
        not prefixes
        or any(
            not isinstance(p, str) or not p for p in prefixes.values()
        )
    ):
        raise ValueError(
            "read_snapshot_pruned: prefixes needs non-empty string "
            "prefixes (an empty prefix would be an unpredicated scan)"
        )
    v = current_version(root) if version is None else version
    if v is None:
        raise FileNotFoundError(f"read_snapshot_pruned: no version at {root}")
    m = _read_manifest(root, v)
    transforms = (m.get("layout") or {}).get("partition_transforms") or {}
    if partition_eq:
        missing = [n for n in partition_eq if n not in transforms]
        if missing:
            raise ValueError(
                f"read_snapshot_pruned: no partition transform recorded "
                f"for {missing} — the table's layout declares "
                f"{sorted(transforms)}"
            )
    fields = m.get("fields")
    keep = _prune_keep(
        m, ranges, partition_eq, point_eq, point_in, prefixes
    ) if _keep is None else _keep
    pred = None
    for c, rng in ranges.items():
        term = _range_term(c, rng)
        pred = term if pred is None else pred & term
    for c, val in (point_eq or {}).items():
        term = F.col(c) == F.lit(val)
        pred = term if pred is None else pred & term
    for c, vals in (point_in or {}).items():
        term = F.col(c).isin(list(vals))
        pred = term if pred is None else pred & term
    for c, pre in (prefixes or {}).items():
        term = F.col(c).startswith(pre)
        pred = term if pred is None else pred & term
    for name, val in (partition_eq or {}).items():
        if isinstance(val, (list, tuple, set)):
            term = F.expr(transforms[name]).cast("string").isin(
                [str(v) for v in val]
            )
        else:
            term = F.expr(transforms[name]).cast("string") == str(val)
        pred = term if pred is None else pred & term
    if not keep:
        return (
            read_snapshot(spark, root, v, _allow_mor_raw=True)
            .filter(pred)
            .limit(0)  # schema-only: no rows surface
        )
    if m.get("delete_files"):
        # MoR tables PRUNE AND MERGE: the stats/partition skip bounds
        # the DATA scan while every delete anti-join still applies (a
        # delete kills by key/position regardless of which data files
        # we read) — the point-lookup-on-a-CDC-table path that needs no
        # compaction first.  Skipping is still sound: a skipped file's
        # rows are provably outside the predicate, deleted or not.
        all_ranges = dict(ranges)
        all_ranges.update({c: (val, val) for c, val in (point_eq or {}).items()})
        return read_snapshot_mor(
            spark, root, v, _files=keep, _eq_delete_ranges=all_ranges or None
        ).filter(pred)
    out = _read_files_logical(spark, root, m, keep)
    if fields:
        # schema stability: a logical field carried only by pruned-away
        # files must still appear (as NULL), so the pruned read's schema
        # never depends on which files survived — union with a LIMIT 0
        # shell of the full file set (schema-only, no data read)
        shell = _read_files_logical(spark, root, m, m["files"]).limit(0)
        out = out.unionByName(shell, allowMissingColumns=True)
        order = [x["name"] for x in fields if x["name"] in set(out.columns)]
        out = out.select(*order)
    return out.filter(pred)


def _prune_keep(
    m: dict,
    ranges: dict | None = None,
    partition_eq: dict | None = None,
    point_eq: dict | None = None,
    point_in: dict | None = None,
    prefixes: dict | None = None,
) -> list[str]:
    """The files of manifest ``m`` a `read_snapshot_pruned` scan with
    these claims must open — every file not provably disjoint from
    them (the skip rules are documented there)."""
    ranges = ranges or {}
    stats = m.get("stats") or {}
    blooms = m.get("blooms") or {}
    pvals = m.get("partition_values") or {}
    # evolved tables: stats are keyed by each file's PHYSICAL column
    # names — translate the logical range column through the field-id
    # binding per file, so pruning survives a rename and can never
    # consult a recycled name's stale ranges (a freed name reused by a
    # later rename must not alias the old column's stats)
    fields = m.get("fields")
    name_to_id = {x["name"]: x["id"] for x in fields or []}
    ffields = m.get("file_fields") or {}

    def stat_key(f: str, logical: str) -> str | None:
        if not fields:
            return logical
        fid = name_to_id.get(logical)
        if fid is None:
            return None  # not a live field — no claims
        for phys, i in (ffields.get(f) or {}).items():
            if i == fid:
                return phys
        return None  # field absent from this file — no claims

    import datetime as _dt

    def _cmp_lo(b):
        # a date/datetime bound compares against the ISO-string stats
        # `_stat_primitive` records.  Lexical order equals instant
        # order for the zero-padded ISO forms, EXCEPT that the same
        # instant has several representations (bare 'YYYY-MM-DD' date,
        # 'T'-suffix seconds, '.ffffff' micros, '+00:00' offset).  The
        # LO side must sort <= EVERY representation of an instant >=
        # the bound: a midnight datetime therefore emits the bare DATE
        # form — 'YYYY-MM-DDT00:00:00' would sort ABOVE a same-day
        # date-typed stat 'YYYY-MM-DD' and wrongly skip its file
        # (round-11 review).
        if isinstance(b, _dt.datetime):
            if b.tzinfo is not None:
                b = b.astimezone(_dt.timezone.utc).replace(tzinfo=None)
            if (b.hour, b.minute, b.second, b.microsecond) == (0, 0, 0, 0):
                return b.date().isoformat()
            return b.isoformat()
        if isinstance(b, _dt.date):
            return b.isoformat()
        return b

    def _cmp_hi(b):
        # the HI side widens by '~' (sorts above '+', '.', ':' and
        # digits): a same-instant stat spelled 'P+00:00' or 'P.000000'
        # must NOT read as > the bound — widening can only over-KEEP
        # (same-second files), never wrongly skip.
        if isinstance(b, (_dt.datetime, _dt.date)):
            return _cmp_lo(b) + "~"
        return b

    def _disjoint(rng, clo, chi) -> bool:
        # a cross-type comparison (string stats vs numeric literal, or
        # vice versa) makes NO claims — the file is read, never a
        # TypeError at plan time (the SQL pruned-attach path feeds
        # literals of whatever type the statement wrote).  A None
        # bound is OPEN on that side and claims nothing there.
        #
        # FLOAT stats claim ONLY with a recorded NaN count (round 12,
        # review): a pre-round-12 fold could UNDERSTATE the finite
        # span when parquet-mr folded NaN into a row group's min/max
        # (Python's order-dependent min/max then dropped the NaN and
        # the other row groups' finite extremes with it) — so a
        # count-less float entry proves nothing, in either direction.
        # Counted entries carry EXACT finite extremes (the write
        # chokepoint re-derives them from the data): bounded-above
        # claims skip at any count (a NaN row fails every `<= hi`),
        # open-top claims additionally need the count to be ZERO
        # (Spark orders NaN above every number, so a NaN row
        # satisfies `col >= lo` from above the finite max).
        try:
            if (
                isinstance(rng[0], float) or isinstance(rng[1], float)
            ) and len(rng) <= 2:
                return False
            if chi is not None and rng[0] > _cmp_hi(chi):
                return True
            if clo is not None and rng[1] < _cmp_lo(clo):
                if chi is None and not _nan_free(rng):
                    return False
                return True
            return False
        except TypeError:
            return False

    prefix_uppers = {
        c: _prefix_upper(p) for c, p in (prefixes or {}).items()
    }
    keep = []
    for f in m["files"]:
        fstats = stats.get(f) or {}
        ok = True
        for c, (clo, chi) in ranges.items():
            sk = stat_key(f, c)
            rng = fstats.get(sk) if sk is not None else None
            if rng is not None and _disjoint(rng, clo, chi):
                ok = False  # provably disjoint in SOME dimension -> skip
                break
        for c, val in (point_eq or {}).items():
            if not ok:
                break
            sk = stat_key(f, c)
            if sk is None:
                continue  # field absent from this file — no claims
            rng = fstats.get(sk)
            if rng is not None and _disjoint(rng, val, val):
                ok = False  # outside the file's range
                break
            bloom = (blooms.get(f) or {}).get(sk)
            if (
                bloom is not None
                and isinstance(val, (int, str))
                and not isinstance(val, bool)
                and not _bloom_maybe_contains(bloom, val)
            ):
                ok = False  # bloom proves absence (int/str only: the
                # hash contract is the canonical str() form — any
                # other type makes no bloom claims)
                break
        for c, vals in (point_in or {}).items():
            if not ok:
                break
            sk = stat_key(f, c)
            if sk is None:
                continue  # field absent from this file — no claims
            rng = fstats.get(sk)
            bloom = (blooms.get(f) or {}).get(sk)
            any_maybe = False
            for val in vals:
                if rng is not None and _disjoint(rng, val, val):
                    continue  # this value provably outside the range
                if (
                    bloom is not None
                    and isinstance(val, (int, str))
                    and not isinstance(val, bool)
                    and not _bloom_maybe_contains(bloom, val)
                ):
                    continue  # bloom proves THIS value absent
                any_maybe = True
                break
            if not any_maybe:
                ok = False  # every listed value provably absent
        for c, pre in (prefixes or {}).items():
            if not ok:
                break
            sk = stat_key(f, c)
            rng = fstats.get(sk) if sk is not None else None
            if rng is None:
                continue  # no stats — no claims
            # s.startswith(pre)  <=>  pre <= s < next(pre): skip when
            # the file's whole [min, max] lies outside that window
            try:
                if rng[1] < pre:
                    ok = False
                    break
                nxt = prefix_uppers[c]
                if nxt is not None and rng[0] >= nxt:
                    ok = False
                    break
            except TypeError:
                pass  # non-string stats: no claims
        for name, val in (partition_eq or {}).items():
            if not ok:
                break
            rec = pvals.get(f) or {}
            strs = (
                {str(v) for v in val}
                if isinstance(val, (list, tuple, set))
                else {str(val)}
            )
            if name in rec and rec[name] not in strs:
                ok = False  # recorded value differs (incl. null marker)
        if ok:
            keep.append(f)
    return keep

def snapshot_compact(
    spark: SparkSession,
    root: str,
    target_files: int | None = None,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """BIN-PACKING, layout-preserving compaction — the Iceberg
    RewriteDataFiles shape: rewrite ONLY the file groups that need it
    and leave already-good files referenced untouched, so maintenance
    cost is proportional to small files + accumulated deletes, never to
    the table.  The rewrite set is

    * files smaller than ``target_file_bytes`` (small-file packing),
    * files any MoR delete can touch: data files whose commit sequence
      is below an equality-delete's sequence AND whose recorded key
      stats intersect the delete file's key range (ranges read from the
      delete file's parquet FOOTER — no data pages; a file without
      stats on the delete keys is conservatively affected), and files
      named by a position delete (read from the delete lists'
      ``_file`` column — bounded by delete-file size)

    and everything else is carried by reference, byte-identical.  The
    rewritten rows are read THROUGH the delete files (so compaction
    also folds MoR deletes back into pure data), written as
    ``ceil(rewrite_bytes / target_file_bytes)`` files (or exactly
    ``target_files`` when given), and the commit drops every delete
    entry.

    LAYOUT-PRESERVING: a table whose commits declared a layout policy
    (`snapshot_append_clustered` records ``sort_cols``/``stats_cols``
    in the manifest) is rewritten range-partitioned and sorted on its
    sort columns with fresh per-file min/max recorded — so
    `read_snapshot_pruned`'s file-skipping guarantee SURVIVES
    maintenance instead of being silently discarded.  Tables without a
    policy still get stats recomputed over whatever columns the parent
    manifest carried stats for; kept files keep their stats and their
    original commit sequences verbatim.

    A table that is already compact (no deletes, nothing worth
    rewriting — rewriting k files into k files is churn, not
    compaction) returns the current version WITHOUT committing, which
    is what makes `maintain_snapshot` idempotent.

    SERIALIZABLE like `snapshot_delete_where`: the rewrite captures one
    specific head, so a commit landing mid-rewrite (e.g. the streaming
    CDC sink, whose cron pairing with `maintain_snapshot` is the
    advertised use) would be silently buried by a blind overwrite —
    instead the conflict aborts the commit and the whole rewrite
    retries against the new head (bounded attempts, then
    `SnapshotConflictError`)."""
    import math

    last_err: Exception | None = None
    for _ in range(5):
        # seen BEFORE parent — see snapshot_append's capture-order comment
        seen = set(snapshot_versions(root))
        parent = current_version(root)
        if parent is None:
            raise FileNotFoundError(f"snapshot_compact: no table at {root}")
        m = _read_manifest(root, parent)
        deletes = m.get("delete_files") or []
        fseq = m.get("file_seq") or {}
        mstats = m.get("stats") or {}
        # sizes recorded at commit time in the manifest entries — the
        # stat() sweep over every live file is only the fallback for
        # files committed before sizes were recorded
        rec_sizes = m.get("sizes") or {}
        sizes = {
            f: int(
                rec_sizes[f]
                if f in rec_sizes
                else os.path.getsize(os.path.join(root, f))
            )
            for f in m["files"]
        }
        eq_dels: list[tuple[int, dict | None]] = []
        pos_named: set[tuple[int, str]] = set()
        for d in deletes:
            if d.get("kind") == "position":
                import pyarrow.parquet as pq

                depth = int(d.get("path_depth", 3))
                pos_named.update(
                    (depth, v)
                    for v in pq.read_table(
                        os.path.join(root, d["file"]), columns=["_file"]
                    )
                    .column("_file")
                    .to_pylist()
                )
            else:
                # the delete list's own footer gives its key range —
                # the Iceberg trick that keeps a narrow delete from
                # forcing a whole-table rewrite.  NULL-keyed deletes
                # make NO range claims (footer min/max excludes nulls,
                # but eqNullSafe matches NULL rows — range-pruning such
                # a delete would be a silent GDPR failure), so any null
                # in the key list degrades to conservative.
                dpath = os.path.join(root, d["file"])
                # nan_counts: float-keyed lists stay range-provable —
                # a count-less float entry fails `_nan_free` and would
                # force every older file into the rewrite (review,
                # round 12); delete lists are small, the extra column
                # read is noise
                dstats = _file_stats(
                    dpath, list(d["keys"]), nan_counts=True
                )
                if dstats and _has_null_values(dpath, list(d["keys"])):
                    dstats = None
                if dstats and m.get("fields"):
                    # evolved table: compare by FIELD ID, never by name
                    # — a rename-recycled name must not alias another
                    # column's stats into a wrong skip (rows the delete
                    # kills would resurrect after compaction dropped it)
                    ids = d.get("key_ids")
                    dstats = (
                        {
                            i: dstats[k]
                            for k, i in zip(d["keys"], ids)
                            if k in dstats
                        }
                        if ids
                        else None  # unresolvable list — conservative
                    )
                eq_dels.append((int(d["seq"]), dstats or None))
        pos_depths = {depth for depth, _ in pos_named}
        ffields_m = m.get("file_fields") or {}

        def eq_affected(f: str) -> bool:
            fs = (mstats.get(f) or {})
            if m.get("fields"):
                binding = ffields_m.get(f) or {}
                fs = {
                    binding[p]: r for p, r in fs.items() if p in binding
                }
            for seq, dstats in eq_dels:
                if int(fseq.get(f, 0)) >= seq:
                    continue  # sequence rule: delete can't touch f
                if dstats is None:
                    return True  # no evidence either way — conservative
                disjoint = any(
                    k in fs
                    # float bounds need NaN-absence evidence: a legacy
                    # order-dependent fold can UNDERSTATE the finite
                    # span when NaN rode a row group (round 12)
                    and _nan_free(fs[k])
                    and _nan_free(dstats[k])
                    and (fs[k][0] > dstats[k][1] or fs[k][1] < dstats[k][0])
                    for k in dstats
                )
                if not disjoint:
                    return True
            return False

        rewrite = [
            f
            for f in m["files"]
            if sizes[f] < target_file_bytes
            or eq_affected(f)
            # position deletes name files by a path suffix whose depth
            # each list recorded (see snapshot_delete_where.path_depth)
            or any(
                (depth, "/".join(f.split(os.sep)[-depth:])) in pos_named
                for depth in pos_depths
            )
        ]
        rewrite_set = set(rewrite)
        keep = [f for f in m["files"] if f not in rewrite_set]
        n_out = target_files or max(
            1, math.ceil(sum(sizes[f] for f in rewrite) / target_file_bytes)
        )
        layout = m.get("layout") or {}
        sort_cols = layout.get("sort_cols")
        stats_cols = layout.get("stats_cols")
        transforms = layout.get("partition_transforms") or {}
        if not deletes:
            if transforms:
                # partitioned rewrite emits ONE file per partition value
                # present in the rewrite set (regardless of n_out), so
                # the fixed point is: every rewrite file already carries
                # a recorded value and no value spans two files.  Without
                # this guard a cron maintain_snapshot would re-rewrite
                # the same small partition files — and commit a junk
                # version — on every tick, forever.
                pvals = m.get("partition_values") or {}
                rec = [pvals.get(f) for f in rewrite]
                n_vals = len(
                    {tuple(sorted(v.items())) for v in rec if v}
                )
                # a file recorded under an OLDER spec (missing a current
                # partition name) still gains from a rewrite: re-deriving
                # the full spec can merge it with its same-value peers
                names = set(transforms)
                spec_complete = all(v and set(v) == names for v in rec)
                if spec_complete and len(rewrite) <= n_vals:
                    return parent  # one file per value — a rewrite is churn
            elif len(rewrite) <= n_out:
                return parent  # already compact — a rewrite gains nothing
        if not stats_cols:
            # no declared policy: preserve whatever pruning evidence the
            # parent carried (union of its stat columns) — ADVICE r6
            stats_cols = sorted(
                {c for f in rewrite for c in (mstats.get(f) or {})}
            ) or None
        new_files: list[str] = []
        new_stats: dict = {}
        new_pvals: dict = {}
        if rewrite:
            # merge_schema: the rewrite must carry EVOLVED columns — a
            # plain read infers one file group's schema and would
            # silently drop columns added by later appends
            sub = read_snapshot_mor(
                spark, root, parent, merge_schema=True, _files=rewrite
            )
            if transforms:
                # a partitioned table's layout POLICY survives
                # maintenance: re-derive the rewritten files' partition
                # values through the recorded transforms, so
                # partition_eq pruning keeps skipping them (kept files
                # carry their recorded values by reference) — ADVICE r7.
                # A within-partition z-order policy (OPTIMIZE ZORDER on
                # a partitioned table) re-clusters the rewrite set too.
                zw = (
                    (
                        list(layout["zorder_cols"]),
                        int(layout.get("zorder_bits") or 8),
                    )
                    if layout.get("zorder_cols")
                    else None
                )
                new_files, new_stats, new_pvals = _write_partitioned_files(
                    sub,
                    root,
                    transforms,
                    stats_cols,
                    sort_cols=sort_cols,
                    zorder=zw,
                    n_files=n_out if zw else None,
                )
            else:
                if layout.get("zorder_cols"):
                    # multi-dim layout survives maintenance: re-zorder
                    # the rewrite set under the declared policy
                    sub = _zorder_frame(
                        sub,
                        layout["zorder_cols"],
                        int(layout.get("zorder_bits") or 8),
                        n_out,
                    )
                elif sort_cols:
                    sub = sub.repartitionByRange(
                        n_out, *sort_cols
                    ).sortWithinPartitions(*sort_cols)
                else:
                    sub = sub.coalesce(n_out)
                if stats_cols:
                    new_files, new_stats = _write_files(sub, root, stats_cols)
                else:
                    new_files = _write_files(sub, root)
        new_blooms = None
        bcols = layout.get("bloom_cols")
        if new_files and bcols:
            # bloom policy survives maintenance: re-derive the rewritten
            # files' filters so point lookups keep skipping them (kept
            # files carry their blooms by entry reference); a rewritten
            # column set that no longer carries a bloom column (post-
            # evolution drop) simply makes no claims
            live = [c for c in bcols if c in sub.columns]
            if live:
                new_blooms = _file_blooms(
                    spark,
                    root,
                    new_files,
                    live,
                    int(layout.get("bloom_bits") or 8192),
                )
        try:
            return _commit(
                root,
                keep + new_files,
                parent,
                operation="compact",
                stats=new_stats,
                blooms=new_blooms,
                seen_versions=seen,
                conflict_mode="serialize",
                entries_from=parent,
                keep_files=set(keep),
                new_file_columns=sub.columns if rewrite else None,
                meta_updates=(
                    {"partition_values": new_pvals} if new_pvals else None
                ),
            )
        except SnapshotConflictError as exc:
            last_err = exc  # head moved mid-rewrite — redo against it
    raise SnapshotConflictError(
        f"snapshot_compact: gave up after 5 conflicted attempts "
        f"({last_err})"
    )


def snapshot_evolve(
    root: str,
    renames: dict[str, str] | None = None,
    drops: list[str] | None = None,
    adds: dict | None = None,
) -> int:
    """SCHEMA EVOLUTION as a METADATA-ONLY commit — the Iceberg model in
    miniature: rename and drop never rewrite a data file.  The manifest
    records a logical schema (``fields``: ordered ``{id, name}`` pairs)
    plus each file's physical-name→field-id binding (``file_fields``);
    reads resolve a file's columns through its OWN binding, so

    * old versions still read under their own schema (a pre-evolution
      manifest carries no ``fields`` and reads raw),
    * new reads see the new names across ALL file epochs,
    * time travel crosses the rename in both directions, and
    * a later append written under the NEW names binds its files to the
      SAME field ids — the rename never forks the column.

    A DROP removes the field from the logical schema only; the bytes
    stay in the old files (projected away at read) until a compaction
    rewrites them — exactly Iceberg's drop semantics.  Field ids are
    never reused, so a subsequent add of the same NAME is a NEW field:
    old files' values do not resurface under it.

    ``adds`` ADDS columns as metadata only (Iceberg ``ADD COLUMN``
    with an INITIAL DEFAULT): ``{name: (type, default)}`` or ``{name:
    (type,)}``/``{name: type}`` for a plain nullable add.  Files
    written BEFORE the add project the default (or a typed NULL) at
    read — no data rewritten; rows written AFTER the add carry their
    own values, including explicit NULLs (the default never masks a
    real NULL, unlike a read-side coalesce), and a post-add writer
    that OMITS the column produces NULLs, not the default — Iceberg
    INITIAL-default, not write-default, semantics (the manifest
    records ``default_seq`` so the read path can tell the two file
    epochs apart).  The default must be a JSON-scalar
    (int/float/str/bool) castable to the declared Spark type; the
    type string is Spark DDL (``bigint``, ``string``,
    ``decimal(28,10)``, …) — both are VALIDATED up front against an
    active SparkSession by evaluating the read path's own expression,
    so a typo'd type or uncastable default refuses loudly instead of
    committing an unreadable table head.  Field ids are never reused,
    so adding a previously-dropped NAME is a genuinely new column.

    First evolution BOOTSTRAPS the schema from the parquet footers of
    the current version's files (names only — no data pages read).
    COMPOSES WITH MoR (Iceberg v2 spec §'equality delete files'):
    tables carrying delete lists evolve freely — the lists are bound
    to FIELD IDS (stamped here on first evolution, by the writers
    afterwards), so a rename never detaches a delete from its key
    column; only DROPPING a live delete-key column refuses (compact
    first — the lists would become unresolvable).
    SERIALIZABLE: computed against one head; a concurrent commit aborts
    the claim and the evolution re-derives against the new head."""
    renames = dict(renames or {})
    drops = list(drops or [])
    adds_norm: dict[str, tuple[str, object]] = {}
    for name, spec in (adds or {}).items():
        if isinstance(spec, str):
            typ, dflt = spec, None
        elif isinstance(spec, (tuple, list)) and len(spec) in (1, 2):
            typ = spec[0]
            dflt = spec[1] if len(spec) == 2 else None
        else:
            raise ValueError(
                f"snapshot_evolve: adds[{name!r}] must be a type string "
                f"or (type, default) tuple, got {spec!r}"
            )
        if not isinstance(typ, str) or not typ.strip():
            raise ValueError(
                f"snapshot_evolve: adds[{name!r}] needs a Spark DDL type "
                f"string, got {typ!r}"
            )
        if dflt is not None and not isinstance(dflt, (int, float, str, bool)):
            raise ValueError(
                f"snapshot_evolve: adds[{name!r}] default must be a JSON "
                f"scalar, got {type(dflt).__name__}"
            )
        adds_norm[name] = (typ.strip(), dflt)
    if not renames and not drops and not adds_norm:
        raise ValueError("snapshot_evolve: nothing to do")
    if adds_norm:
        # validate the declared type AND the default's castability UP
        # FRONT by evaluating the exact expression the read path will
        # run — an unparseable type or uncastable default committed to
        # the manifest would make every subsequent read of the table
        # fail (a committed-but-unreadable head)
        from pyspark.sql import SparkSession as _SS
        from pyspark.sql import functions as _F

        _sp = _SS.getActiveSession()
        if _sp is None:
            raise ValueError(
                "snapshot_evolve: adding columns needs an active "
                "SparkSession (the declared type and default are "
                "validated before the metadata commit)"
            )
        for name, (typ, dflt) in adds_norm.items():
            try:
                got = _sp.range(1).select(
                    _F.lit(dflt).cast(typ).alias("v")
                ).first()["v"]
            except Exception as exc:
                raise ValueError(
                    f"snapshot_evolve: adds[{name!r}] is unreadable as "
                    f"declared — lit({dflt!r}).cast({typ!r}) fails: "
                    f"{str(exc).splitlines()[0]}"
                ) from None
            if dflt is not None and got is None:
                raise ValueError(
                    f"snapshot_evolve: adds[{name!r}] default {dflt!r} "
                    f"casts to NULL under type {typ!r} — an initial "
                    "default must survive the cast (use a plain typed "
                    "add for a nullable column)"
                )
    last_err: Exception | None = None
    for _ in range(5):
        seen = set(snapshot_versions(root))
        parent = current_version(root)
        if parent is None:
            raise FileNotFoundError(f"snapshot_evolve: no table at {root}")
        m = _read_manifest(root, parent)
        fields = [dict(x) for x in m.get("fields") or []]
        ffields = {f: dict(v) for f, v in (m.get("file_fields") or {}).items()}
        if not fields:
            # bootstrap: derive the logical schema from the files' own
            # footers, first-seen order; every existing file gets its
            # binding by name
            import pyarrow.parquet as pq

            name_to_id: dict[str, int] = {}
            for f in m["files"]:
                fnames = pq.ParquetFile(
                    os.path.join(root, f)
                ).schema_arrow.names
                for c in fnames:
                    if c not in name_to_id:
                        name_to_id[c] = len(name_to_id) + 1
                ffields[f] = {c: name_to_id[c] for c in fnames}
            fields = [
                {"id": i, "name": c} for c, i in name_to_id.items()
            ]
        by_name = {x["name"]: x for x in fields}
        # MoR × evolution (the Iceberg v2 composition): equality-delete
        # lists bind to FIELD IDS, so renames never detach a delete
        # from its key column.  A first evolution stamps ``key_ids``
        # onto every pre-existing list here (names → ids under the
        # PRE-rename schema — exactly the names the lists were written
        # under); the MoR writers stamp their own lists from then on.
        dels = [dict(d) for d in m.get("delete_files") or []]
        pre_n2i = {x["name"]: x["id"] for x in fields}
        for d in dels:
            if d.get("kind") == "position" or d.get("key_ids"):
                continue
            missing = [k for k in d["keys"] if k not in pre_n2i]
            if missing:
                raise ValueError(
                    f"snapshot_evolve: delete list {d['file']} keys on "
                    f"{missing}, not in the table's logical schema — "
                    "run snapshot_compact first (inconsistent metadata)"
                )
            d["key_ids"] = [pre_n2i[k] for k in d["keys"]]
        # collision checks are CASE-INSENSITIVE: Spark resolves column
        # names case-insensitively by default, so committing both `k`
        # and `K` would make every read fail AMBIGUOUS_REFERENCE
        low = {n.lower(): n for n in by_name}
        for old, new in renames.items():
            if old not in by_name:
                raise ValueError(f"snapshot_evolve: no column {old!r}")
            if low.get(new.lower(), old) != old:
                raise ValueError(
                    f"snapshot_evolve: rename {old!r}→{new!r} collides "
                    "with an existing column (case-insensitive)"
                )
            by_name[old]["name"] = new
            by_name[new] = by_name.pop(old)
            low.pop(old.lower(), None)
            low[new.lower()] = new
        for c in drops:
            if c not in by_name:
                raise ValueError(f"snapshot_evolve: no column {c!r}")
            fields = [x for x in fields if x["name"] != c]
            del by_name[c]
            low.pop(c.lower(), None)
        if not fields:
            raise ValueError("snapshot_evolve: cannot drop every column")
        # a DROP of a live equality-delete key column would leave its
        # lists unresolvable (and the deleted rows resurrectable) —
        # refuse; compaction folds the deletes away first.  Checked by
        # FIELD ID against the post-rename/drop schema, so a rename
        # chained with a drop in one call cannot slip a key through.
        if drops and dels:
            live_ids = {x["id"] for x in fields}
            for d in dels:
                if d.get("kind") == "position":
                    continue
                for k, i in zip(d["keys"], d["key_ids"]):
                    if i not in live_ids:
                        raise ValueError(
                            f"snapshot_evolve: dropping {k!r} (field "
                            f"id {i}), a key of live equality-delete "
                            f"list {d['file']} — snapshot_compact (or "
                            "compact_delete_files) first, then drop"
                        )
        next_id = max(
            [x["id"] for x in fields]
            + [i for mp in ffields.values() for i in mp.values()],
            default=0,
        )
        for name, (typ, dflt) in adds_norm.items():
            if name.lower() in low:
                raise ValueError(
                    f"snapshot_evolve: add {name!r} collides with an "
                    "existing column (case-insensitive)"
                )
            next_id += 1
            fld: dict = {"id": next_id, "name": name, "type": typ}
            if dflt is not None:
                fld["default"] = dflt
                # the INITIAL default applies only to files that predate
                # the add: files already committed have seq <= parent,
                # anything written after the evolve lands with a higher
                # seq and reads a typed NULL when it omits the column
                # (Iceberg initial-default, not write-default, semantics)
                fld["default_seq"] = parent
            fields.append(fld)
            by_name[name] = fld
            low[name.lower()] = name
        # the layout POLICY names columns too — remap it through the
        # same evolution, or compaction/pruning would later reference
        # names that no longer exist (a maintenance-breaking time bomb)
        layout = dict(m.get("layout") or {})
        import re as _re

        for name, expr in (layout.get("partition_transforms") or {}).items():
            touched = [
                c
                for c in list(renames) + drops
                if _re.search(rf"\b{_re.escape(c)}\b", expr)
            ]
            if touched:
                raise ValueError(
                    f"snapshot_evolve: column(s) {touched} are referenced "
                    f"by partition transform {name!r} ({expr!r}) — "
                    "repartition the table instead of renaming/dropping "
                    "its partition source columns"
                )
        # generated-column specs name columns too — renaming/dropping a
        # source (or the generated column itself) would break every
        # subsequent write at its chokepoint; drop the spec first
        for gcol, spec in (m.get("generated") or {}).items():
            if spec is None:
                continue
            if gcol in renames or gcol in drops:
                raise ValueError(
                    f"snapshot_evolve: {gcol!r} is a GENERATED column — "
                    "snapshot_drop_generated first"
                )
            touched = [
                c
                for c in list(renames) + drops
                if _re.search(rf"\b{_re.escape(c)}\b", spec["expr"])
            ]
            if touched:
                raise ValueError(
                    f"snapshot_evolve: column(s) {touched} are "
                    f"referenced by generated column {gcol!r} "
                    f"({spec['expr']!r}) — snapshot_drop_generated first"
                )
        for lk in ("sort_cols", "stats_cols", "zorder_cols", "bloom_cols"):
            if layout.get(lk):
                remapped = [
                    renames.get(c, c)
                    for c in layout[lk]
                    if renames.get(c, c) in by_name  # dropped → removed
                ]
                if remapped:
                    layout[lk] = remapped
                else:
                    layout.pop(lk)
        if not layout.get("zorder_cols"):
            # a fully-dropped z-order policy takes its bits with it
            layout.pop("zorder_bits", None)
        if not layout.get("bloom_cols"):
            layout.pop("bloom_bits", None)
        try:
            return _commit(
                root,
                m["files"],
                parent,
                operation="evolve",
                seen_versions=seen,
                conflict_mode="serialize",
                entries_from=parent,
                manifest_override={
                    "fields": fields,
                    "file_fields": ffields,
                    "layout": layout or None,
                    # carry the delete lists ACROSS the evolution —
                    # re-stamped with key_ids on a first evolve,
                    # verbatim (seq preserved) otherwise
                    "delete_files": dels,
                },
                # breadcrumb for lineage walkers (read_snapshot_cdf):
                # an ADD-only evolution is transparent to a change
                # feed, a rename/drop is a schema boundary the feed
                # must split at — recorded here because a BOOTSTRAP
                # evolve's parent has no fields to diff against
                payload_extras={
                    "evolve": {
                        "renamed": len(renames),
                        "dropped": len(drops),
                        "added": len(adds_norm),
                    }
                },
            )
        except SnapshotConflictError as exc:
            last_err = exc  # head moved — re-derive against it
    raise SnapshotConflictError(
        f"snapshot_evolve: gave up after 5 conflicted attempts ({last_err})"
    )


def snapshot_stage_append(
    df: DataFrame,
    root: str,
    stats_cols: list[str] | None = None,
) -> int:
    """WRITE-AUDIT-PUBLISH, snapshot-native (Iceberg's WAP pattern on
    this format): commit ``df`` as a fully durable version whose
    manifest exists but whose version _LATEST does NOT advance to —
    every reader of the table keeps seeing the pre-stage head, while
    the audit job reads the staged version EXPLICITLY
    (``read_snapshot(spark, root, version=staged)``), checks it, and
    `snapshot_publish` flips the pointer in O(1) if it passes.  A
    failed audit simply never publishes: the staged version becomes an
    expirable side branch, its files later vacuumed — no undo needed,
    because nothing was ever visible.

    This is the table-format twin of `io.publish_atomic`'s
    staging-directory WAP: same three phases, but the staged artifact
    here is a first-class version (time-travelable, diffable against
    the head with `diff_tables`, exactly what the auditor wants).

    Returns the staged version number."""
    os.makedirs(root, exist_ok=True)
    seen = set(snapshot_versions(root))
    parent = current_version(root)
    if stats_cols is None:
        new_files, new_stats = _write_files(df, root), {}
    else:
        new_files, new_stats = _write_files(df, root, stats_cols)
    return _commit(
        root,
        new_files,
        parent,
        stats=new_stats,
        rebase_append=True,
        operation="stage-append",
        seen_versions=seen,
        new_file_columns=list(df.columns),
        publish=False,
    )


def snapshot_publish(root: str, version: int) -> None:
    """Publish a staged version (`snapshot_stage_append`): move _LATEST
    forward to it in O(1).  The staged version must DESCEND from the
    current head — if another commit landed after staging, the staged
    snapshot no longer contains it and publishing would silently drop
    that commit, so the publish fails loudly and the writer re-stages
    on the new head (Iceberg's WAP cherry-pick conflict, surfaced
    instead of auto-resolved)."""
    if not os.path.exists(
        os.path.join(_manifest_dir(root), f"v{version}.json")
    ):
        raise FileNotFoundError(
            f"snapshot_publish: version {version} does not exist"
        )
    cur = current_version(root)
    if cur is not None and cur != version and not _descends_from(
        root, version, cur
    ):
        raise SnapshotConflictError(
            f"snapshot_publish: v{version} does not descend from the "
            f"current head v{cur} — a commit landed after staging; "
            "re-stage on the new head"
        )
    _advance_latest(root, version)
    # TOCTOU close: a commit between the check above and the (forward-
    # only) advance can leave the head elsewhere — verify the staged
    # rows actually became visible, or fail as loudly as the pre-check
    now = current_version(root)
    if now != version and not _descends_from(root, now, version):
        raise SnapshotConflictError(
            f"snapshot_publish: head moved to v{now} during publish and "
            f"does not contain v{version} — re-stage on the new head"
        )


# ---------------------------------------------------------------------------
# named refs: immutable TAGS over versions (Iceberg refs in miniature)
# ---------------------------------------------------------------------------


def _refs_dir(root: str) -> str:
    return os.path.join(root, "_refs")


def _claim_ref(root: str, name: str, payload: dict) -> bool:
    """Atomically claim the ref file ``<name>.json`` (os.link — EEXIST
    instead of clobber).  False = the name is already taken."""
    os.makedirs(_refs_dir(root), exist_ok=True)
    path = os.path.join(_refs_dir(root), f"{name}.json")
    tmp = path + f".tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        json.dump(payload, fh)
    try:
        os.link(tmp, path)
        return True
    except FileExistsError:
        return False
    finally:
        os.remove(tmp)


def snapshot_create_tag(
    root: str, name: str, version: int | None = None
) -> int:
    """Create an IMMUTABLE named ref — the audit pin: ``prod-2024-06``
    keeps pointing at the exact version a model was trained on, no
    matter how the table advances or what retention expires around it
    (`expire_versions` never drops a tagged version).  Creating is an
    O(1) atomic file; re-tagging an existing name to a different
    version fails loudly (immutability is the point — delete first if
    you truly mean it).  Returns the tagged version."""
    if "/" in name or name.startswith("."):
        raise ValueError(f"snapshot_create_tag: invalid tag name {name!r}")
    v = current_version(root) if version is None else version
    if v is None or not os.path.exists(
        os.path.join(_manifest_dir(root), f"v{v}.json")
    ):
        raise FileNotFoundError(
            f"snapshot_create_tag: version {v} does not exist"
        )
    if not _claim_ref(
        root, name, {"name": name, "version": int(v), "ts": time.time()}
    ):
        entry = _ref_entry(root, name)
        if entry.get("kind") == "branch":
            raise ValueError(
                f"snapshot_create_tag: {name!r} is a branch — delete "
                "it first"
            )
        if int(entry["version"]) != v:
            raise ValueError(
                f"snapshot_create_tag: tag {name!r} already points at "
                f"v{entry['version']} — tags are immutable; delete it "
                "first"
            )
    return int(v)


def snapshot_delete_tag(root: str, name: str) -> None:
    try:
        if _ref_entry(root, name).get("kind") == "branch":
            raise ValueError(
                f"snapshot_delete_tag: {name!r} is a branch — "
                "snapshot_delete_branch"
            )
        os.remove(os.path.join(_refs_dir(root), f"{name}.json"))
    except FileNotFoundError:
        raise FileNotFoundError(f"snapshot_delete_tag: no tag {name!r}")


def resolve_ref(root: str, name: str) -> int:
    """Ref name → version (metadata read).  A tag resolves to its
    immutable pin; a branch resolves to its CURRENT head (the highest
    claimed generation)."""
    e = _ref_entry(root, name)
    if e.get("kind") == "branch":
        return _branch_head(root, name, e)[1]
    return int(e["version"])


def _ref_heads(root: str) -> dict[str, tuple[str, int]]:
    """One refs-dir pass: ``{name: (kind, version)}``, branches
    resolved to their current head.  Refs deleted mid-scan (base file
    or gen files) are skipped — maintenance concurrent with a
    `snapshot_delete_branch` sees the branch as already gone."""
    try:
        names = os.listdir(_refs_dir(root))
    except FileNotFoundError:
        return {}
    out: dict[str, tuple[str, int]] = {}
    for n in sorted(names):
        if not n.endswith(".json"):
            continue
        try:
            with open(os.path.join(_refs_dir(root), n)) as fh:
                d = json.load(fh)
            k = d.get("kind", "tag")
            v = (
                _branch_head(root, d["name"], d)[1]
                if k == "branch"
                else int(d["version"])
            )
        except FileNotFoundError:
            continue  # deleted between listdir and read — not our ref
        out[d["name"]] = (k, v)
    return out


def snapshot_refs(root: str, kind: str | None = None) -> dict[str, int]:
    """All refs — tags AND branches: ``{name: version}``, branches
    resolved to their current head.  ``kind='tag'`` / ``'branch'``
    filters; callers that treat every ref as an immutable
    reproducibility pin should pass ``kind='tag'``."""
    return {
        name: v
        for name, (k, v) in _ref_heads(root).items()
        if kind is None or k == kind
    }


def _ref_entry(root: str, name: str) -> dict:
    try:
        with open(os.path.join(_refs_dir(root), f"{name}.json")) as fh:
            return json.load(fh)
    except FileNotFoundError:
        raise FileNotFoundError(f"resolve_ref: no ref {name!r} at {root}")


def snapshot_create_branch(
    root: str, name: str, version: int | None = None
) -> int:
    """Create a WRITABLE branch — a MUTABLE named ref (Iceberg branch
    semantics, the multi-commit generalization of `snapshot_stage_append`'s
    one-commit WAP): `snapshot_append_to_branch` advances the branch
    head through fully durable commits that _LATEST never shows, an
    auditor reads the branch by name (`resolve_ref` /
    ``attach_snapshot_view(ref=)``), and `snapshot_fast_forward`
    publishes the whole branch in O(1) — or nothing ever does, and the
    branch expires like any abandoned lineage.  Starts at the current
    head unless ``version`` pins elsewhere.  Returns the start
    version."""
    if "/" in name or name.startswith("."):
        raise ValueError(
            f"snapshot_create_branch: invalid branch name {name!r}"
        )
    v = current_version(root) if version is None else version
    if v is None or not os.path.exists(
        os.path.join(_manifest_dir(root), f"v{v}.json")
    ):
        raise FileNotFoundError(
            f"snapshot_create_branch: version {v} does not exist"
        )
    if not _claim_ref(
        root,
        name,
        {
            "name": name,
            "version": int(v),
            "kind": "branch",
            # fresh incarnation id => fresh gen dir: debris from a
            # crashed delete of a previous same-named branch can never
            # be read as this branch's head
            "incarnation": uuid.uuid4().hex,
            "ts": time.time(),
        },
    ):
        kind = _ref_entry(root, name).get("kind", "tag")
        raise ValueError(
            f"snapshot_create_branch: ref {name!r} already exists "
            f"(a {kind}) — delete it first"
        )
    return int(v)


def snapshot_delete_branch(root: str, name: str) -> None:
    """Delete a branch: the base ref goes first (the name stops
    resolving atomically), then its generation files.  Deleting a
    branch with writers still appending to it is undefined — quiesce
    first (the same rule as dropping any ref mid-use)."""
    e = _ref_entry(root, name)
    if e.get("kind") != "branch":
        raise ValueError(
            f"snapshot_delete_branch: {name!r} is a tag — "
            "snapshot_delete_tag"
        )
    os.remove(os.path.join(_refs_dir(root), f"{name}.json"))
    _clear_branch_gens(root, name, e)


def _branch_gen_dir(root: str, name: str, base: dict) -> str:
    # gen dirs are PER-INCARNATION: a re-created branch name gets a
    # fresh uuid and therefore a fresh dir, so debris from a crashed
    # delete of the previous incarnation is simply never read — no
    # clear-on-create step, no window where an acknowledged generation
    # claim could be deleted
    return os.path.join(
        _refs_dir(root), f"{name}.gen-{base.get('incarnation', '0')}"
    )


def _branch_head(root: str, name: str, base: dict) -> tuple[int, int]:
    """Current (generation, version) of a branch: the highest
    generation file under its incarnation's gen dir, or (0, the base
    ref's start version) for a never-advanced branch."""
    gdir = _branch_gen_dir(root, name, base)
    try:
        gens = [
            int(f[1:-5])
            for f in os.listdir(gdir)
            if f.startswith("g") and f.endswith(".json")
        ]
    except FileNotFoundError:
        gens = []
    if not gens:
        return 0, int(base["version"])
    g = max(gens)
    try:
        with open(os.path.join(gdir, f"g{g}.json")) as fh:
            return g, int(json.load(fh)["version"])
    except FileNotFoundError:
        # a concurrent snapshot_delete_branch removed the gen files
        # between the listdir and the open — surface the same "no ref"
        # shape resolve_ref gives for a deleted name (readers tolerate
        # it; snapshot_refs skips the ref)
        raise FileNotFoundError(
            f"resolve_ref: ref {name!r} is being deleted at {root}"
        )


def _clear_branch_gens(root: str, name: str, base: dict) -> None:
    """Remove a branch incarnation's generation files (race-tolerant:
    a racer removing the same debris is fine; an ENOTEMPTY rmdir
    leaves an empty dir, which `_branch_head` treats as generation 0)."""
    gdir = _branch_gen_dir(root, name, base)
    if os.path.isdir(gdir):
        for f in os.listdir(gdir):
            try:
                os.remove(os.path.join(gdir, f))
            except FileNotFoundError:
                pass
        try:
            os.rmdir(gdir)
        except OSError:
            pass


def _claim_branch_gen(
    root: str, name: str, base: dict, gen: int, version: int
) -> bool:
    """TRUE compare-and-swap for the branch pointer: generation files
    are claimed with ``os.link`` (the manifest-claim idiom), so exactly
    ONE writer owns each generation — no read-then-replace window, no
    acknowledged advance can ever be buried.  False = another writer
    claimed this generation first; re-read the head and recommit."""
    gdir = _branch_gen_dir(root, name, base)
    os.makedirs(gdir, exist_ok=True)
    tmp = os.path.join(gdir, f".tmp.{uuid.uuid4().hex}")
    with open(tmp, "w") as fh:
        json.dump({"version": int(version), "ts": time.time()}, fh)
    try:
        os.link(tmp, os.path.join(gdir, f"g{gen}.json"))
        return True
    except FileExistsError:
        return False
    finally:
        os.remove(tmp)


def snapshot_append_to_branch(
    df: DataFrame,
    root: str,
    branch: str,
    stats_cols: list[str] | None = None,
) -> int:
    """Append to a BRANCH: the commit is durable and parented on the
    branch head, _LATEST never moves — plain readers keep seeing main
    while the branch accumulates staged commits (the audit-branch
    pattern; a failed audit just deletes the branch).  The file group
    is written ONCE; pointer races and concurrent main commits cost a
    manifest retry, never a data rewrite.  Returns the new branch
    head version."""
    e = _ref_entry(root, branch)
    if e.get("kind") != "branch":
        raise ValueError(
            f"snapshot_append_to_branch: {branch!r} is a tag — tags are "
            "immutable"
        )
    if stats_cols is None:
        new_files, new_stats = _write_files(df, root), {}
    else:
        new_files, new_stats = _write_files(df, root, stats_cols)
    last_err: Exception | None = None
    for _ in range(5):
        seen = set(snapshot_versions(root))
        gen, h = _branch_head(root, branch, e)
        try:
            v = _commit(
                root,
                new_files,
                h,
                stats=new_stats,
                rebase_append=True,
                operation="branch-append",
                seen_versions=seen,
                conflict_mode="serialize",
                new_file_columns=list(df.columns),
                publish=False,
            )
        except SnapshotConflictError as exc:
            last_err = exc  # a published sibling landed — reread, retry
            continue
        if _claim_branch_gen(root, branch, e, gen + 1, v):
            return v
        last_err = SnapshotConflictError(
            f"snapshot_append_to_branch: branch {branch!r} advanced "
            f"past v{h} during commit"
        )  # our manifest is an expirable orphan; recommit on the new head
    raise SnapshotConflictError(
        f"snapshot_append_to_branch: gave up after 5 conflicted "
        f"attempts ({last_err})"
    )


def snapshot_fast_forward(root: str, branch: str) -> int:
    """Publish a branch: move _LATEST forward to the branch head in
    O(1) (Iceberg's fast_forward).  Requires the branch head to DESCEND
    from the current main head — if main advanced past the fork point,
    publishing would silently drop main's commits, so it fails loudly
    (`snapshot_publish`'s rule) and the operator rebuilds the branch on
    the new head.  The branch ref keeps pointing at the published
    version.  Returns it."""
    e = _ref_entry(root, branch)
    if e.get("kind") != "branch":
        raise ValueError(
            f"snapshot_fast_forward: {branch!r} is a tag — nothing to "
            "publish"
        )
    v = _branch_head(root, branch, e)[1]
    snapshot_publish(root, v)
    return v


def snapshot_cherry_pick(root: str, version: int, tag: str | None = None) -> int:
    """Apply one committed-elsewhere APPEND onto the current head as a
    new commit — Iceberg's cherry-pick, the remedy when
    `snapshot_publish`/`snapshot_fast_forward` refuses because main
    advanced past the fork point: the staged/branch commit's added file
    group is REFERENCED from a new head commit, metadata-only — data
    files are immutable and safely shared between manifests
    (`vacuum_orphans` consults every manifest), so rebuilding a
    diverged branch costs one manifest per commit, never a data
    rewrite.  Restricted to append-shaped commits (no overwrite, no
    delete-file change) — anything else has merge semantics a file
    reference cannot express, and evolved lineages are refused (field
    bindings differ); both fail loudly toward a recompute.  Files
    already referenced by the head are skipped, so re-picking an
    already-merged commit is a no-op (returns the head).  The picked
    rows take the NEW commit's sequence — the head's older equality
    deletes do not apply to them, matching their commit time.  ``tag``
    gives the usual idempotent-replay contract.  Returns the new (or
    unchanged) head version."""
    if tag is not None:
        done = _resume_tagged_commit(root, tag)
        if done is not None:
            return done
    m = _read_manifest(root, version)
    parent = m["parent"]
    pm = (
        _read_manifest(root, parent)
        if parent is not None
        else {"files": [], "delete_files": []}
    )
    if not set(pm["files"]) <= set(m["files"]):
        raise ValueError(
            f"snapshot_cherry_pick: v{version} overwrote its parent — "
            "not an append; recompute against the head instead"
        )
    def _delkey(man: dict) -> set:
        return {d["file"] for d in man.get("delete_files") or []}

    if _delkey(m) != _delkey(pm):
        raise ValueError(
            f"snapshot_cherry_pick: v{version} changed the MoR "
            "delete-file set — a delete cannot be cherry-picked as a "
            "file reference; replay it with snapshot_mor_merge/"
            "snapshot_delete_where on the head"
        )
    # seen BEFORE parent — see snapshot_append's capture-order comment
    seen = set(snapshot_versions(root))
    head = current_version(root)
    if head is None:
        raise FileNotFoundError(
            f"snapshot_cherry_pick: no committed version at {root}"
        )
    hm = _read_manifest(root, head)
    if m.get("fields") or hm.get("fields"):
        raise ValueError(
            "snapshot_cherry_pick: evolved lineages are not supported — "
            "field bindings may differ between the lineages"
        )
    pm_files, hm_files = set(pm["files"]), set(hm["files"])
    added = [
        f for f in m["files"] if f not in pm_files and f not in hm_files
    ]
    if not added:
        return head
    added_set = set(added)
    meta: dict = {}
    for k in ("file_fields", "partition_values"):
        sub = {f: v for f, v in (m.get(k) or {}).items() if f in added_set}
        if sub:
            meta[k] = sub
    return _commit(
        root,
        added,
        head,
        tag=tag,
        stats={f: s for f, s in (m.get("stats") or {}).items() if f in added_set},
        rebase_append=True,
        operation="cherry-pick",
        seen_versions=seen,
        meta_updates=meta or None,
    )


def compact_manifests(root: str, max_entries: int = 1) -> int:
    """MANIFEST compaction — Iceberg's manifest-merge, the metadata
    twin of `compact_delete_files`: consolidate the live version's
    per-commit entry files into ONE entry (and its delete entries into
    one) WITHOUT touching a single data file.  Two-level manifests make
    every commit O(delta), but the version payload's entry-NAME list
    still grows one reference per commit; a long append-only lineage
    (the streaming-ingest steady state, where no data file is ever
    small enough to trigger `snapshot_compact`) would accrete an
    unbounded name list.  This bounds it at metadata prices: read the
    entries, write one consolidated entry, commit a payload referencing
    it — O(table-files) JSON once, amortized over the commits since the
    last merge, exactly Iceberg's RewriteManifests.

    No-op (current version returned, no commit) when the payload
    already references at most ``max_entries`` data entries and one
    delete entry.  SERIALIZABLE like the other maintenance commits.
    Every changes/CDF/stream consumer crosses the hop untouched — the
    file set and delete-file set are byte-identical, so the hop is
    vacuously append-shaped and emits nothing."""
    max_entries = max(1, int(max_entries))  # one entry IS the fixed point
    last_err: Exception | None = None
    # ``seen`` is captured ONCE (the _commit discipline): a version that
    # appears after this listing is a CONCURRENT commit — published or
    # mid-publish — and the merge REBASES onto it instead of burying it
    # (re-capturing per attempt would hide a claimed-but-unadvanced
    # sibling on the retry and bury its acknowledged rows)
    seen = set(snapshot_versions(root))
    parent = current_version(root)
    if parent is None:
        raise FileNotFoundError(f"compact_manifests: no table at {root}")
    for _ in range(5):
        existing = snapshot_versions(root)
        version = (existing[-1] + 1) if existing else 0
        for v2 in sorted(x for x in set(existing) - seen if x > parent):
            if _descends_from(root, v2, parent):
                vm = _read_manifest_meta(root, v2)
                if vm.get("operation") in (
                    "stage-append",
                    "branch-append",
                ) and not _is_published(root, v2):
                    continue  # invisible until publish — not a sibling
                parent = v2  # rebase: the merge consolidates ITS state
        meta = _read_manifest_meta(root, parent)
        if meta.get("format") != 2:
            # a format-1 head consolidates on its next commit anyway
            n_entries, n_dentries = 0, 0
        else:
            n_entries = len(meta.get("entries") or [])
            n_dentries = len(meta.get("delete_entries") or [])
        if n_entries <= max_entries and n_dentries <= 1:
            return parent  # nothing to merge
        m = _read_manifest(root, parent)
        merged: dict = {"files": m["files"]}
        for k in ("stats", "file_seq", "file_fields", "partition_values",
                  "sizes", "rows", "blooms", "nulls", "sums"):
            # nulls/sums added round 13: the manifest rewrite used to
            # drop them, silently demoting the metadata fast paths to
            # their strict-refusal fallbacks after a RewriteManifests
            if m.get(k):
                merged[k] = m[k]
        entries = [_write_entry(root, merged)] if m["files"] else []
        dentries = (
            [_write_entry(root, {"delete_files": m["delete_files"]}, "de")]
            if m.get("delete_files")
            else []
        )
        staged = os.path.join(
            _manifest_dir(root), f".stage-{uuid.uuid4().hex}"
        )
        # direct payload commit (the _commit machinery is for content
        # changes; this hop's content is the parent's, verbatim)
        payload = {
            "version": version,
            "parent": parent,
            "tag": None,
            "ts": time.time(),
            "operation": "compact-manifests",
            "format": 2,
            "entries": entries,
            "delete_entries": dentries,
        }
        for k in ("layout", "fields", "checks", "table_stats", "generated"):
            if meta.get(k):
                payload[k] = meta[k]
        copied_all = _copied_identities(root, start=parent)
        if copied_all:
            # consolidate the copy-into identity set FORWARD (same move
            # as the entry merge): `_copied_identities` stops its walk
            # here, so the ingestion cron's steady-state planning cost
            # is O(commits since the last manifest maintenance)
            payload["copied_all"] = sorted(copied_all)

        def _drop_attempt() -> None:
            for n in entries + dentries:
                try:
                    os.remove(os.path.join(_manifest_dir(root), n))
                except FileNotFoundError:
                    pass

        with open(staged, "w") as fh:
            json.dump(payload, fh)
        mpath = _manifest_path(root, version)
        try:
            os.link(staged, mpath)
        except FileExistsError:
            _drop_attempt()
            last_err = SnapshotConflictError(
                f"compact_manifests: version v{version} claimed "
                "concurrently"
            )
            continue
        finally:
            os.remove(staged)
        try:
            _advance_latest(root, version)
        except SnapshotConflictError as exc:
            # a publish/fast-forward surfaced a lineage the original
            # listing could not see — rescan EVERYTHING (the _commit
            # convention) and re-merge against the new head
            last_err = exc
            seen = set()
            parent = current_version(root)
            continue
        now = current_version(root)
        if now != version and not _descends_from(root, now, version):
            # a concurrent sibling that never saw this merge won the
            # pointer (forward-only advance no-ops past it): the merge
            # silently did not land — retry against the new head.  A
            # head that DESCENDS from the merge inherited the
            # consolidated entries through its rebase: success.
            last_err = SnapshotConflictError(
                "compact_manifests: a concurrent commit buried the merge"
            )
            seen = set()
            parent = now
            continue
        return version
    raise SnapshotConflictError(
        f"compact_manifests: gave up after 5 conflicted attempts "
        f"({last_err})"
    )


def compact_delete_files(spark: SparkSession, root: str) -> int:
    """MINOR compaction — Iceberg's 'rewrite delete files' in miniature:
    merge the live version's many small MoR delete lists into ONE list
    per equality key set (and one per position path-key format) WITHOUT
    touching a single data file.  A table taking frequent small CDC
    merges accumulates one delete file per commit; the read side pays
    one broadcast anti-join per file group — this bounds that cost at
    metadata prices (read the small delete lists, write one, commit),
    the cheap periodic remedy between full `snapshot_compact` runs whose
    data rewrite may be orders of magnitude larger.

    Equality lists merge EXACTLY, not conservatively: the merged file
    carries each key's sequence PER ROW (``_seq`` = the max sequence of
    that key across the merged lists — a delete at seq 5 subsumes one at
    seq 2 for the same key), and `read_snapshot_mor` applies the
    sequence rule row-wise, so re-inserted keys still survive their
    older deletes.  Position lists merge by distinct (file, ordinal)
    within each path-key depth.  Data files, stats, layout, and file
    sequences are carried verbatim; history stays time-travelable.

    No-op (current version returned, no commit) when there is at most
    one list per group already.  SERIALIZABLE like the major compact."""
    from pyspark.sql import functions as F

    last_err: Exception | None = None
    for _ in range(5):
        seen = set(snapshot_versions(root))
        parent = current_version(root)
        if parent is None:
            raise FileNotFoundError(
                f"compact_delete_files: no table at {root}"
            )
        m = _read_manifest(root, parent)
        deletes = m.get("delete_files") or []
        # equality lists group by RESOLVED key names (field ids → the
        # current logical names), so lists written before and after a
        # rename merge into ONE list under the current names
        eq_groups: dict[tuple, list[dict]] = {}
        pos_groups: dict[int, list[dict]] = {}
        for d in deletes:
            if d.get("kind") == "position":
                pos_groups.setdefault(
                    int(d.get("path_depth", 3)), []
                ).append(d)
            else:
                eq_groups.setdefault(
                    _resolve_delete_keys(m, d), []
                ).append(d)
        if all(len(v) <= 1 for v in eq_groups.values()) and all(
            len(v) <= 1 for v in pos_groups.values()
        ):
            return parent  # nothing to merge
        new_entries: list[dict] = []
        for key_tuple, dels in eq_groups.items():
            if len(dels) == 1:
                new_entries.append(dict(dels[0]))
                continue
            if "_seq" in key_tuple:
                raise ValueError(
                    "compact_delete_files: a delete key is named _seq — "
                    "collides with the merged list's sequence column"
                )
            # batched per physical schema with per-file sequences from
            # the suffix→seq map — shared core with read_snapshot_mor
            # (r15; `_read_delete_lists`)
            side = _read_delete_lists(spark, root, dels, key_tuple, "_seq")
            # max sequence per key: a later delete of the same key
            # subsumes the earlier one exactly (kills strictly more)
            merged = side.groupBy(*key_tuple).agg(
                F.max("_seq").alias("_seq")
            )
            [f] = _write_files(merged.coalesce(1), root, kind="deletes")
            # the merged list is written under the CURRENT logical
            # names — bind it to their ids directly (never inherited:
            # a name-fallback-resolved donor list may carry none)
            ids = (
                [
                    {fl["name"]: fl["id"] for fl in m["fields"]}[k]
                    for k in key_tuple
                ]
                if m.get("fields")
                else None
            )
            new_entries.append(
                {
                    "file": f,
                    "keys": list(key_tuple),
                    **({"key_ids": ids} if ids else {}),
                    "kind": "equality-multi",
                    # informational upper bound; reads use the per-row
                    # sequences, the major compact uses this max
                    # conservatively
                    "seq": max(int(d["seq"]) for d in dels),
                }
            )
        for depth, dels in pos_groups.items():
            if len(dels) == 1:
                new_entries.append(dict(dels[0]))
                continue
            side = spark.read.parquet(
                *[os.path.join(root, d["file"]) for d in dels]
            )
            [f] = _write_files(side.distinct().coalesce(1), root, kind="deletes")
            new_entries.append(
                {
                    "file": f,
                    "kind": "position",
                    "path_depth": depth,
                    "seq": max(int(d["seq"]) for d in dels),
                }
            )
        try:
            return _commit(
                root,
                m["files"],
                parent,
                operation="compact-deletes",
                seen_versions=seen,
                conflict_mode="serialize",
                entries_from=parent,
                manifest_override={"delete_files": new_entries},
            )
        except SnapshotConflictError as exc:
            last_err = exc
    raise SnapshotConflictError(
        f"compact_delete_files: gave up after 5 conflicted attempts "
        f"({last_err})"
    )


def rollback(root: str, version: int) -> None:
    """Move _LATEST back to ``version`` — a pointer rename, no data
    touched; later versions remain readable explicitly."""
    if not os.path.exists(
        os.path.join(_manifest_dir(root), f"v{version}.json")
    ):
        raise FileNotFoundError(f"rollback: version {version} does not exist")
    _set_latest(root, version)


def snapshot_versions(root: str) -> list[int]:
    try:
        names = os.listdir(_manifest_dir(root))
    except FileNotFoundError:
        return []
    return sorted(
        int(n[1:-5]) for n in names if n.startswith("v") and n.endswith(".json")
    )


def snapshot_merge_keys(
    spark: SparkSession,
    root: str,
    batch: DataFrame,
    keys: list[str],
    op_col: str = "_op",
    tag: str | None = None,
    seq_col: str | None = None,
) -> int:
    """Copy-on-write CDC MERGE onto a snapshot table: upsert 'I'/'U'
    rows, delete 'D' keys, commit the result as a NEW VERSION — the
    parents stay readable, so the merge history is a time-travelable
    audit trail (what was this table before batch N?), and `rollback`
    undoes a bad feed in O(1).

    Same op-domain validation and last-change-per-key semantics as
    `streaming.apply_cdc` (malformed ops fail the batch loudly;
    ``seq_col`` orders same-key collisions by the feed's LSN/commit
    sequence, arrival order as tie-break — shuffled delivery safe);
    ``tag`` passes through for exactly-once replay.  Copy-on-write
    rewrites the whole table per commit — the simple/audit-first trade;
    the partition-restricted `apply_cdc` is the in-place alternative
    when history isn't needed.

    Concurrency is SERIALIZABLE with re-evaluating retry (same as
    `snapshot_merge_into`): the merged content is computed against one
    specific snapshot, and a stale CoW file list would silently erase
    any commit that landed in between — on conflict the merge re-reads
    the new head and re-runs (bounded attempts, then
    `SnapshotConflictError`)."""
    from pyspark.sql import functions as F

    last = _last_change_per_key(batch, keys, op_col, seq_col)
    if tag is not None:
        v = _resume_tagged_commit(root, tag)
        if v is not None:
            return v
    upserts = last.filter(F.col(op_col) != "D").drop(op_col)
    last_err: Exception | None = None
    for _ in range(5):
        # seen BEFORE parent — see snapshot_append's capture-order comment
        seen = set(snapshot_versions(root))
        parent = current_version(root)
        if parent is None:
            # bootstrap: MERGE into a never-committed table treats the
            # target as empty (a first batch of inserts just works)
            merged = upserts
        else:
            # MoR-aware read: a CoW merge after snapshot_mor_merge commits
            # must not resurface MoR-deleted rows (degrades to a plain read
            # when there are no delete files); the overwrite commit below
            # carries no delete files, so the merge also FOLDS them
            current = read_snapshot_mor(spark, root)
            touched = last.select(*keys).distinct()
            # eqNullSafe so NULL-keyed changes replace/delete their
            # NULL-keyed targets (matching the MoR read's null semantics)
            kept = current.join(
                touched,
                functools.reduce(
                    lambda a, b: a & b,
                    [current[k].eqNullSafe(touched[k]) for k in keys],
                ),
                "left_anti",
            )
            merged = kept.unionByName(upserts)
        os.makedirs(root, exist_ok=True)
        files = _write_files(merged, root)
        try:
            return _commit(
                root,
                files,
                parent,
                tag=tag,
                operation="merge",
                seen_versions=seen,
                conflict_mode="serialize",
                new_file_columns=list(merged.columns),
            )
        except SnapshotConflictError as exc:
            last_err = exc  # head moved — re-evaluate against it
            for f in files:  # best-effort cleanup; vacuum catches rest
                try:
                    os.remove(os.path.join(root, f))
                except OSError:
                    pass
    raise SnapshotConflictError(
        f"snapshot_merge_keys: gave up after 5 conflicted attempts "
        f"({last_err})"
    )


def _last_change_per_key(
    batch: DataFrame,
    keys: list[str],
    op_col: str,
    seq_col: str | None,
) -> DataFrame:
    """Shared CDC-batch canonicalization (`snapshot_merge_keys` /
    `snapshot_mor_merge`): validate the op domain loudly, then keep the
    last change per key — ``seq_col`` (the feed's LSN) first, arrival
    order as tie-break, so shuffled delivery is safe."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    bad = batch.filter(
        F.col(op_col).isNull() | ~F.col(op_col).isin("I", "U", "D")
    ).limit(1).collect()
    if bad:
        raise ValueError(
            f"snapshot merge: {op_col} must be 'I'/'U'/'D', got "
            f"{bad[0][op_col]!r} — failing the batch"
        )
    order = [F.desc("_arrival")]
    if seq_col is not None:
        order.insert(0, F.desc(seq_col))
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        batch.withColumn("_arrival", F.monotonically_increasing_id())
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_arrival", "_rn")
    )


def snapshot_mor_merge(
    spark: SparkSession,
    root: str,
    batch: DataFrame,
    keys: list[str],
    op_col: str = "_op",
    tag: str | None = None,
    seq_col: str | None = None,
    stats_cols: list[str] | None = None,
    drop_seq_col: bool = False,
) -> int:
    """MERGE-ON-READ CDC onto a snapshot table — the Iceberg
    equality-delete / Delta deletion-vector pattern, the write-cheap
    twin of the copy-on-write `snapshot_merge_keys`:

    the commit writes (1) one NEW data file group holding the batch's
    upsert rows and (2) one EQUALITY-DELETE file listing every touched
    key (deletes AND upserts — an upsert supersedes the key's older
    copies), both referenced from the manifest with the commit's
    sequence number.  NOTHING existing is rewritten: merge cost is
    O(batch), not O(table) — at 100 TB that is the difference between a
    usable CDC feed and a nightly rewrite.  The price moves to the read
    (`read_snapshot_mor` anti-joins the delete files, applied only to
    data files with a LOWER sequence — so a re-inserted key survives
    its own older delete), and `snapshot_compact` folds the deletes
    away again.  Same op-domain validation, last-change-per-key
    (``seq_col`` + arrival) and ``tag`` replay-idempotence contract as
    the CoW merge; history stays time-travelable across MoR commits
    (reference: Iceberg spec §'equality delete files'; semantics mirror
    reference customer upsert flow, db_operations.py:59-88)."""
    last = _last_change_per_key(batch, keys, op_col, seq_col)
    if tag is not None:
        v = _resume_tagged_commit(root, tag)
        if v is not None:
            return v
    os.makedirs(root, exist_ok=True)
    # seen BEFORE parent — see snapshot_append's capture-order comment
    seen = set(snapshot_versions(root))
    parent = current_version(root)
    key_ids = _eq_key_ids(root, parent, keys, "snapshot_mor_merge")
    # the window result feeds BOTH file writes — persist so the batch is
    # shuffled/windowed once, not once per output (O(batch) means once)
    last = last.persist()
    try:
        upserts = last.filter(last[op_col] != "D").drop(op_col)
        if drop_seq_col and seq_col is not None:
            # a transport-level replay sequence orders the merge but is
            # not table data — keep it out of the written schema
            upserts = upserts.drop(seq_col)
        # both writes read the persisted window result, whose partition
        # width is frozen at the shuffle width — rebalance so the delta
        # lands as size-appropriate files, not one file per shuffle task
        upserts = _size_for_write(upserts)
        if stats_cols is None:
            new_files, new_stats = _write_files(upserts, root), {}
        else:
            # recorded stats keep read_snapshot_pruned AND the CDF
            # pre-image scan prunable on a continuously merged table
            new_files, new_stats = _write_files(upserts, root, stats_cols)
        del_files = _write_files(
            _size_for_write(last.select(*keys)), root, kind="deletes"
        )
    finally:
        last.unpersist()
    return _commit(
        root,
        new_files,
        parent,
        stats=new_stats,
        tag=tag,
        rebase_append=True,
        operation="mor-merge",
        seen_versions=seen,
        new_file_columns=list(upserts.columns),
        expected_fields=(
            _read_manifest_meta(root, parent).get("fields")
            if parent is not None
            else None
        ),
        new_delete_files=[
            {
                "file": f,
                "keys": keys,
                **({"key_ids": key_ids} if key_ids else {}),
            }
            for f in del_files
        ],
    )


def snapshot_merge_into(
    spark: SparkSession,
    root: str,
    source: DataFrame,
    on: list[str],
    when_matched: list[tuple] | None = None,
    when_not_matched: tuple | None = None,
    when_not_matched_by_source: list[tuple] | None = None,
    tag: str | None = None,
    small_target_rows: int = 100_000,
    auto_evolve: bool = False,
) -> int:
    """Full ANSI/Delta-style ``MERGE INTO`` — the general conditional
    upsert the keyed CDC merges (`snapshot_merge_keys` /
    `snapshot_mor_merge`) cannot express: per-clause conditions,
    ordered WHEN MATCHED evaluation, inserts gated on predicates, and
    the WHEN NOT MATCHED BY SOURCE family (SQL:2023 / Delta).  One
    copy-on-write commit; parents stay time-travelable and `rollback`
    undoes the merge in O(1).

    Clause grammar (evaluated over the target aliased ``t`` and the
    source aliased ``s`` — conditions and set/insert expressions are
    Columns or SQL strings referencing ``t.<col>`` / ``s.<col>``):

    * ``when_matched``: ordered list of ``("update", cond|None, {col:
      expr})`` / ``("delete", cond|None, None)`` — the FIRST clause
      whose condition holds applies (SQL MERGE semantics); a matched
      row matching no clause is kept unchanged.
    * ``when_not_matched``: one ``("insert", cond|None, "all"|{col:
      expr})`` — ``"all"`` copies the source's same-named columns
      (every target column must exist in the source); a dict fills
      unnamed columns with NULL.  Source rows failing the condition
      (or with no clause) are ignored.
    * ``when_not_matched_by_source``: ordered list of ``("update",
      cond|None, {col: expr})`` / ``("delete", cond|None, None)``
      over target-only rows (conditions see ``t`` only); default keep.

    ``auto_evolve=True`` (Delta's ``MERGE WITH SCHEMA EVOLUTION`` /
    ``schema.autoMerge``): WHEN NOT MATCHED INSERT columns the target
    LACKS evolve the target first — one `snapshot_evolve` typed-add
    commit (metadata only; pre-merge files read the new columns as
    NULL through the logical schema), then the merge proceeds with the
    widened target.  Off by default: an unexpected source column is a
    contract violation unless the caller opted in.  Composes with MoR
    delete-carrying targets (round 10's field-id binding).

    PHYSICAL choice is STATS-DRIVEN (`snapshot_plan_hints` — the
    consumption layer for manifest rowcounts and `snapshot_analyze`):
    a target provably at or under ``small_target_rows`` skips the
    findTouchedFiles scan and rewrites outright (one job fewer; the
    rewrite is trivial at that size and MoR deletes fold away); larger
    or unprovable targets take the touched-files path — O(matched
    files), never O(table).  Pass ``small_target_rows=0`` to pin the
    touched-files machinery regardless of size.

    Semantics pinned by tests: ``ON`` uses PLAIN equality — NULL keys
    never match (SQL standard; unlike the CDC merges' eqNullSafe), so
    NULL-keyed rows fall into the two NOT MATCHED families.  A target
    row matched by MULTIPLE source rows with any WHEN MATCHED clause
    raises (Delta's cardinality check) — the merge would be
    non-deterministic; duplicate source keys that match no target row
    are legal and insert normally (and with NO matched clause a
    multiply-matched target row is kept exactly ONCE, never fanned
    out).  Every produced column is cast to the target's type.

    Cost — O(TOUCHED FILES), not O(table), when no BY SOURCE clause is
    given (Delta's findTouchedFiles shape): one key-columns scan marks
    the files holding matching keys, ONLY those are rewritten through
    the merge join (a sort-merge FULL OUTER on the ON keys —
    outer-both-sides joins cannot broadcast; the cardinality check's
    probe IS broadcast), every other file rides by reference at
    metadata cost, MoR delete files carried (kept files keep their
    sequences; the new files outnumber every delete sequence).  An
    insert-only merge rewrites NOTHING — all base files kept, one
    anti-joined insert group added — and a merge that provably changes
    nothing commits nothing.  WHEN NOT MATCHED BY SOURCE inspects every
    target row, so that clause family pays the full CoW rewrite by
    semantics.  Use the MoR merges for the O(batch) hot path when
    clause generality isn't needed.

    Concurrency is SERIALIZABLE with re-evaluating retry (same as
    `snapshot_delete_where`): the merged content was computed against
    one specific snapshot, so a concurrent commit landing first makes
    the decision stale — the whole merge re-reads and re-runs against
    the new head (bounded attempts, then `SnapshotConflictError`)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    matched = list(when_matched or [])
    by_src = list(when_not_matched_by_source or [])
    if not matched and when_not_matched is None and not by_src:
        raise ValueError(
            "snapshot_merge_into: at least one clause is required"
        )
    for act, _c, payload in matched + by_src:
        if act not in ("update", "delete"):
            raise ValueError(
                f"snapshot_merge_into: unknown clause action {act!r}"
            )
        if act == "update" and not payload:
            raise ValueError(
                "snapshot_merge_into: update clause needs a non-empty "
                "{col: expr} payload"
            )
    if when_not_matched is not None and (
        when_not_matched[0] != "insert" or not when_not_matched[2]
    ):
        raise ValueError(
            "snapshot_merge_into: when_not_matched must be "
            '("insert", cond, "all"|{col: expr})'
        )
    if tag is not None:
        v = _resume_tagged_commit(root, tag)
        if v is not None:
            return v
    if current_version(root) is None:
        raise FileNotFoundError(
            f"snapshot_merge_into: no committed version at {root} — "
            "bootstrap with snapshot_append/overwrite first"
        )
    bad = [k for k in on if k not in source.columns]
    if bad:
        raise ValueError(
            f"snapshot_merge_into: ON columns missing from source: {bad}"
        )

    def _expr(e):
        return F.expr(e) if isinstance(e, str) else e

    def _cond(c):
        return F.lit(True) if c is None else _expr(c)

    if auto_evolve and when_not_matched is not None:
        # WHEN NOT MATCHED INSERT columns the target lacks → one typed
        # ADD COLUMN commit first (metadata only; NULL for every
        # pre-merge row), then the merge runs against the widened
        # target.  Idempotent: a retry/replay finds nothing missing.
        head = current_version(root)
        if head is not None:
            have = {
                c.lower()
                for c in read_snapshot_mor(spark, root, head).columns
            }
            spec = when_not_matched[2]
            adds: dict[str, tuple] = {}
            if spec == "all":
                for f in source.schema.fields:
                    if f.name.lower() not in have:
                        adds[f.name] = (f.dataType.simpleString(),)
            else:
                for cname, ex in spec.items():
                    if cname.lower() in have:
                        continue
                    # the new column's type comes from its insert
                    # expression, resolved over the SOURCE alone —
                    # t.<col> refs cannot type a column the target
                    # doesn't have yet
                    try:
                        dt = (
                            source.alias("s")
                            .select(_expr(ex))
                            .schema[0]
                            .dataType
                        )
                    except Exception as exc:
                        raise ValueError(
                            "snapshot_merge_into(auto_evolve): cannot "
                            f"type new column {cname!r} from its insert "
                            f"expression {ex!r} (it must resolve over "
                            f"the source alone) — "
                            f"{str(exc).splitlines()[0]}"
                        ) from None
                    adds[cname] = (dt.simpleString(),)
            if adds:
                snapshot_evolve(root, adds=adds)

    # evaluate the source ONCE: the touched-files scan and the merge
    # join would otherwise each re-evaluate it, and a non-deterministic
    # or externally-mutating source could mark a file set inconsistent
    # with the rows the join later sees (Delta materializes the merge
    # source for the same hazard)
    source = source.persist()
    try:
        last_err: Exception | None = None
        for _ in range(5):
            # seen BEFORE parent — snapshot_append's capture-order comment
            seen = set(snapshot_versions(root))
            parent = current_version(root)
            # every read this attempt makes is PINNED to the captured
            # parent: a commit landing mid-attempt must surface as the
            # serialize conflict below, never as a torn view
            target = read_snapshot_mor(spark, root, parent)
            tcols = list(target.columns)
            dtypes = {f.name: f.dataType for f in target.schema.fields}
            bad = [k for k in on if k not in tcols]
            if bad:
                raise ValueError(
                    f"snapshot_merge_into: ON columns missing from "
                    f"target: {bad}"
                )
            keep: list[str] = []
            extra: dict = {}
            # STATS-DRIVEN physical choice (the CBO decision
            # `snapshot_analyze` feeds, consumed via
            # `snapshot_plan_hints`): a provably SMALL target is
            # cheaper to rewrite outright than to run the
            # touched-files scan job over first — the scan is a full
            # key-column pass whose only payoff is avoiding rewrites
            # that are trivial here anyway.  "Provably" = the
            # manifest's exact per-file rowcounts, or a recorded
            # ANALYZE rowcount certified current (no row-changing
            # commit since) — stale stats never claim smallness.
            hints = snapshot_plan_hints(root, parent)
            est_rows = hints["rows"]
            if est_rows is None and hints["analyze_current"]:
                est_rows = hints["analyzed_rows"]
            small = est_rows is not None and est_rows <= small_target_rows
            if small and not by_src and when_not_matched is None:
                # the touched path's provably-nothing-to-change early
                # exit must survive the fast path: an update/delete-only
                # merge matching NOTHING commits NOTHING (a no-op cron
                # must not churn versions) — one limit(1) probe, trivial
                # on a table small enough to take this branch
                hit = (
                    target.select(*on)
                    .join(source.select(*on).distinct(), on, "left_semi")
                    .limit(1)
                    .collect()
                )
                if not hit:
                    return parent
            # the touched-files scan borrows the internal _file/_pos
            # column names — a table using them falls back to full CoW
            if by_src or small or {"_file", "_pos"} & set(tcols):
                # WHEN NOT MATCHED BY SOURCE inspects EVERY target row —
                # nothing can ride by reference; full CoW is the
                # semantics
                merged = _merge_into_plan(
                    F, Window, target, source, on, matched,
                    when_not_matched, by_src, tcols, dtypes, _expr,
                    _cond,
                )
            else:
                # Delta's findTouchedFiles: only files holding a row
                # whose key appears in the source can change — rewrite
                # THOSE, ride every other file by reference at metadata
                # cost, so a small merge into a huge table is O(matched
                # files), never O(table).  MoR delete files are CARRIED
                # (kept files keep their sequences through the entries;
                # the rewrite's new files outnumber every delete
                # sequence, so nothing resurfaces or double-deletes).
                m = _read_manifest(root, parent)
                touched = _merge_touched_files(
                    spark, root, parent, m, source, on, bool(matched)
                )
                if not touched and when_not_matched is None:
                    return parent  # provably nothing to change
                if touched:
                    tprime = read_snapshot_mor(
                        spark, root, parent, _files=touched
                    )
                    src2 = source
                else:
                    # no file is touched (insert-only merge, or matched
                    # clauses that matched nothing): every file rides by
                    # reference; restrict the source to rows UNMATCHED
                    # against the FULL target's keys (a matched source
                    # row must not insert just because nothing was
                    # rewritten) and drive the SAME plan over an empty
                    # target, so insert expressions referencing t.<col>
                    # resolve to NULL exactly as on the touched path
                    tprime = spark.createDataFrame(
                        [], schema=target.schema
                    )
                    src2 = source.join(
                        target.select(*on), on, "left_anti"
                    )
                merged = _merge_into_plan(
                    F, Window, tprime, src2, on, matched,
                    when_not_matched, [], tcols, dtypes, _expr, _cond,
                )
                tset = set(touched)
                keep = [f for f in m["files"] if f not in tset]
                extra = dict(
                    entries_from=parent,
                    keep_files=set(keep),
                    manifest_override={
                        "delete_files": m.get("delete_files") or []
                    },
                )
            files = _write_files(merged, root)
            try:
                return _commit(
                    root,
                    keep + files,
                    parent,
                    tag=tag,
                    operation="merge-into",
                    seen_versions=seen,
                    conflict_mode="serialize",
                    new_file_columns=list(merged.columns),
                    **extra,
                )
            except SnapshotConflictError as exc:
                last_err = exc  # head moved — re-evaluate against it
                for f in files:  # best-effort cleanup; vacuum catches rest
                    try:
                        os.remove(os.path.join(root, f))
                    except OSError:
                        pass
        raise SnapshotConflictError(
            f"snapshot_merge_into: gave up after 5 conflicted attempts "
            f"({last_err})"
        )
    finally:
        source.unpersist()


def _resolve_merge_insert(
    F, when_not_matched, tcols, source_columns, _expr, _cond
):
    """Validate + resolve the WHEN NOT MATCHED clause into
    ``(keep_condition, {col: Column})`` — shared by the full merge plan
    and the ride-by-reference insert frame."""
    if when_not_matched is None:
        return F.lit(False), {c: F.lit(None) for c in tcols}
    _a, icond, ipayload = when_not_matched
    ins_keep = _cond(icond)
    if ipayload == "all":
        missing = [c for c in tcols if c not in source_columns]
        if missing:
            raise ValueError(
                "snapshot_merge_into: insert 'all' but the source "
                f"is missing target column(s) {missing}"
            )
        ins_val = {c: F.col(f"s.{c}") for c in tcols}
    else:
        bad2 = sorted(set(ipayload) - set(tcols))
        if bad2:
            raise ValueError(
                "snapshot_merge_into: insert payload names "
                f"non-target column(s) {bad2}"
            )
        ins_val = {
            c: (_expr(ipayload[c]) if c in ipayload else F.lit(None))
            for c in tcols
        }
    return ins_keep, ins_val


def _merge_touched_files(
    spark, root, version, m, source, on, has_matched
) -> list[str]:
    """The files a merge's WHEN MATCHED clauses can change: manifest
    paths of files holding at least one row (visible at ``version``,
    the caller's pinned parent) whose key appears in the source — one
    key-columns scan + semi join + a file-count-bounded collect, Delta's
    findTouchedFiles job.  With no matched clause nothing existing can
    change, so nothing is touched; NULL source keys never match (plain
    equality) and mark nothing."""
    if not has_matched or not m["files"]:
        return []
    key2path = {"/".join(f.split(os.sep)[-2:]): f for f in m["files"]}
    coords = read_snapshot_mor(spark, root, version, _keep_coords=True)
    skeys = source.select(*on).distinct()
    touched_keys = [
        r[0]
        for r in coords.join(skeys, on, "left_semi")
        .select("_file")
        .distinct()
        .collect()
    ]
    return sorted(key2path[k] for k in touched_keys)


def _merge_into_plan(
    F, Window, target, source, on, matched, when_not_matched, by_src,
    tcols, dtypes, _expr, _cond,
):
    """Build the merged-content DataFrame for one `snapshot_merge_into`
    attempt (split out so the serialize-retry loop re-plans against a
    fresh target read)."""
    if matched:
        # cardinality check: duplicates are only ambiguous when they
        # actually match a target row (Delta raises the same way) —
        # the dup-key set is expected tiny, so probe it into the
        # target's KEY COLUMNS as a broadcast semi (no target shuffle,
        # no distinct)
        dups = (
            source.groupBy(*on)
            .count()
            .filter(F.col("count") > 1)
            .drop("count")
        )
        amb = (
            target.select(*on)
            .join(F.broadcast(dups), on, "left_semi")
            .limit(1)
            .collect()
        )
        if amb:
            raise ValueError(
                "snapshot_merge_into: multiple source rows match a "
                f"single target row on {on} (e.g. "
                f"{tuple(amb[0])}) — a matched update/delete would be "
                "non-deterministic; deduplicate the source first"
            )
    sfx = uuid.uuid4().hex[:8]
    tp, sp, rn = f"_tp_{sfx}", f"_sp_{sfx}", f"_rn_{sfx}"
    t = target.withColumn(tp, F.lit(True)).alias("t")
    s_df = source.withColumn(sp, F.lit(True))
    if not matched:
        # without WHEN MATCHED clauses the cardinality check doesn't
        # run, but duplicate source keys matching a target row would
        # still fan the kept-unchanged target row out once per copy —
        # number the copies so each matched target row pairs with
        # exactly ONE (any one: its values are unused with no matched
        # clause); unmatched copies all still insert
        w = Window.partitionBy(*on).orderBy(F.lit(1))
        s_df = s_df.withColumn(rn, F.row_number().over(w))
    s = s_df.alias("s")
    jc = functools.reduce(
        lambda a, b: a & b,
        [F.col(f"t.{k}") == F.col(f"s.{k}") for k in on],
    )
    j = t.join(s, jc, "full_outer")
    is_matched = F.col(f"t.{tp}").isNotNull() & F.col(f"s.{sp}").isNotNull()
    if not matched:
        j = j.filter(~is_matched | (F.col(f"s.{rn}") == 1))
    src_only = F.col(f"t.{tp}").isNull() & F.col(f"s.{sp}").isNotNull()

    def _chain_keep(clauses) -> "F.Column":
        # first-matching-clause-wins: keep = NOT (first clause that
        # fires is a delete); no clause fires -> keep unchanged
        keep = F.lit(True)
        for act, c, _p in reversed(clauses):
            keep = F.when(_cond(c), F.lit(act != "delete")).otherwise(keep)
        return keep

    def _chain_value(clauses, col) -> "F.Column":
        # the first clause that fires pins the value: an update sets
        # its expression (or keeps t.col if the clause doesn't name
        # this column); a delete keeps t.col (the row drops via the
        # keep flag, but the chain must still consume the condition so
        # a LATER update clause cannot leak through)
        val = F.col(f"t.{col}")
        for act, c, p in reversed(clauses):
            v2 = (
                _expr(p[col])
                if act == "update" and col in p
                else F.col(f"t.{col}")
            )
            val = F.when(_cond(c), v2).otherwise(val)
        return val

    ins_keep, ins_val = _resolve_merge_insert(
        F, when_not_matched, tcols, source.columns, _expr, _cond
    )

    keep = (
        F.when(is_matched, _chain_keep(matched))
        .when(src_only, ins_keep)
        .otherwise(_chain_keep(by_src))
    )
    out_cols = [
        F.when(is_matched, _chain_value(matched, c))
        .when(src_only, ins_val[c])
        .otherwise(_chain_value(by_src, c))
        .cast(dtypes[c])
        .alias(c)
        for c in tcols
    ]
    kcol = f"_keep_{sfx}"
    return (
        j.select(*out_cols, keep.alias(kcol))
        .filter(F.col(kcol))
        .select(*tcols)
    )


def _resolve_delete_keys(m: dict, d: dict) -> tuple[str, ...]:
    """Current LOGICAL names of an equality-delete list's key columns
    under manifest ``m``.  ``d["keys"]`` records the delete FILE's
    physical column names (the logical names at write time);
    ``d["key_ids"]`` (aligned, stamped by the writers and by
    `snapshot_evolve`'s first-evolution consolidation) binds each to a
    field id, so a later RENAME never detaches the delete from its key
    column — the Iceberg v2 rule (spec §'equality delete files': keys
    are field ids, names are per-file bindings).  Non-evolved tables
    read the names as-is."""
    fields = m.get("fields")
    if not fields:
        return tuple(d["keys"])
    id_to_name = {fl["id"]: fl["name"] for fl in fields}
    ids = d.get("key_ids")
    if ids is None:
        # a delete list never stamped with ids on an evolved table:
        # only reachable through metadata written outside this module
        # (evolve stamps every pre-existing list, writers stamp new
        # ones).  Resolve by name when every key is still a live field
        # name; anything else is unresolvable, and guessing could kill
        # the WRONG rows after a rename recycled the name.
        live = {fl["name"] for fl in fields}
        if all(k in live for k in d["keys"]):
            return tuple(d["keys"])
        raise ValueError(
            f"_resolve_delete_keys: delete list {d['file']} has no "
            f"key_ids and its keys {d['keys']} are not all live "
            "columns — inconsistent evolved-table metadata"
        )
    out = []
    for k, i in zip(d["keys"], ids):
        if i not in id_to_name:
            raise ValueError(
                f"_resolve_delete_keys: delete list {d['file']} keys "
                f"on dropped field id {i} ({k!r} at write time) — "
                "snapshot_evolve refuses dropping live delete-key "
                "columns, so this manifest is inconsistent"
            )
        out.append(id_to_name[i])
    return tuple(out)


def _read_delete_lists(spark, root: str, dels: list, key_tuple, seq_out: str):
    """ONE seq-attached DataFrame for a key group's equality-delete lists
    — the shared read core of `read_snapshot_mor` and
    `compact_delete_files` (r15; extracted after review so the two paths
    cannot drift on which rows a delete kills).

    Files are batched per (kind, physical-schema, field-id binding)
    subgroup into a single ``spark.read.parquet`` call (each call is a
    schema-inference driver job, so a table with N merge commits used to
    pay N reads per composition); per-file sequences re-attach from a literal suffix→seq
    map over ``_metadata.file_path`` — bounded by the delete-file count
    (commits since compaction), never table size.  ``equality-multi``
    lists (minor-compacted) carry their sequences PER ROW and only need
    the rename.  A suffix collision (uuid dirs — practically impossible,
    but a wrong seq would kill wrong rows) falls back to per-file reads.
    ``seq_out`` is the caller's sequence column name; keys are projected
    to the current logical names via `_project_delete_keys`."""
    from pyspark.sql import functions as F

    side = None
    subgroups: dict[tuple, list[dict]] = {}
    for d in dels:
        # the field ids ride in the key: a batch projects every list
        # with ITS FIRST list's binding, so lists sharing physical key
        # names but bound to different fields must never share one
        subgroups.setdefault(
            (
                d.get("kind") == "equality-multi",
                tuple(d["keys"]),
                tuple(d.get("key_ids") or ()),
            ),
            [],
        ).append(d)
    for (is_multi, _phys, _ids), sub in subgroups.items():
        sufs = ["/".join(d["file"].split(os.sep)[-2:]) for d in sub]
        if len(set(sufs)) != len(sufs):  # pragma: no cover - uuid dirs
            for d in sub:
                one = spark.read.parquet(os.path.join(root, d["file"]))
                if is_multi:
                    if seq_out != "_seq":
                        one = one.withColumnRenamed("_seq", seq_out)
                else:
                    one = one.withColumn(seq_out, F.lit(int(d["seq"])))
                one = _project_delete_keys(one, d, key_tuple, keep=[seq_out])
                side = one if side is None else side.unionByName(one)
            continue
        one = spark.read.parquet(
            *[os.path.join(root, d["file"]) for d in sub]
        )
        if is_multi:
            if seq_out != "_seq":
                one = one.withColumnRenamed("_seq", seq_out)
        elif len(sub) == 1:
            one = one.withColumn(seq_out, F.lit(int(sub[0]["seq"])))
        else:
            dparts = F.split(F.col("_metadata.file_path"), "/")
            dsuf = F.concat_ws(
                "/", *[F.element_at(dparts, k) for k in (-2, -1)]
            )
            pairs: list = []
            for d, s in zip(sub, sufs):
                pairs.extend([F.lit(s), F.lit(int(d["seq"]))])
            one = one.withColumn(
                seq_out, F.element_at(F.create_map(*pairs), dsuf)
            )
        one = _project_delete_keys(one, sub[0], key_tuple, keep=[seq_out])
        side = one if side is None else side.unionByName(one)
    return side


def _project_delete_keys(df, d: dict, key_tuple, keep=()):
    """Project a delete LIST's physical key columns to the current
    logical names — positional: ``keys`` and ``key_ids`` are aligned
    by construction (`_eq_key_ids` / `snapshot_evolve` stamping), and
    ``key_tuple`` is `_resolve_delete_keys`' output for the same list.
    ``keep`` columns (a per-row sequence) ride along.  No-op when the
    list already carries the current names."""
    from pyspark.sql import functions as F

    phys = list(d["keys"])
    if tuple(phys) == tuple(key_tuple):
        return df
    return df.select(
        *[F.col(p).alias(lg) for p, lg in zip(phys, key_tuple)],
        *keep,
    )


def read_snapshot_mor(
    spark: SparkSession,
    root: str,
    version: int | None = None,
    merge_schema: bool = False,
    _keep_coords: bool = False,
    _files: list[str] | None = None,
    _eq_delete_ranges: dict | None = None,
) -> DataFrame:
    """Merge-on-read snapshot scan: the manifest's data files minus the
    rows its delete files kill — both flavors: EQUALITY deletes (key
    lists; a delete with sequence S applies only to data files with
    sequence < S, the Iceberg sequence-number rule — a key re-inserted
    AFTER its delete survives) and POSITION deletes ((file, row-ordinal)
    references; no sequence rule — the named file is immutable, so the
    reference is physical and exact).

    Plan shape at scale: ONE scan of all data files (never per-file
    unions) — each row picks up its commit sequence by joining the
    hidden ``_metadata.file_path`` against a broadcast file→seq map
    bounded by the file count, and every delete side is a
    broadcast-sized union; the anti-joins are the only comparisons.
    Tables with no delete files degrade to exactly `read_snapshot`.

    ``_keep_coords`` (internal, for the position-delete writer) appends
    the physical coordinates as ``_file``/``_pos`` columns; ``_files``
    restricts the data scan to a subset of the manifest's files with
    every delete still applied (compaction's rewrite-set read);
    ``_eq_delete_ranges`` (internal, the pruned-read composition) is
    ``{col: (lo, hi)}`` ranges the CALLER re-applies after the merge —
    equality-delete rows whose key for such a column falls outside the
    range are dropped before the broadcast, bounding delete-side cost
    by the lookup instead of total CDC volume.  Sound because a dropped
    delete row can only resurrect data rows the caller's post-filter
    removes anyway (including NULL keys, which fail any BETWEEN)."""
    from pyspark.sql import functions as F

    v = current_version(root) if version is None else version
    if v is None:
        raise FileNotFoundError(f"read_snapshot_mor: no version at {root}")
    m = _read_manifest(root, v)
    deletes = m.get("delete_files") or []
    if not deletes and not _keep_coords:
        return read_snapshot(
            spark, root, v, merge_schema=merge_schema, _files=_files
        )
    scan_files = m["files"] if _files is None else _files
    fseq = m.get("file_seq") or {}
    # uuid-suffixed internal names: user columns named "_rel"/"_seq"/
    # "_pos" must never be clobbered or made ambiguous
    sfx = uuid.uuid4().hex[:8]
    rel_c, seq_c = f"_rel_{sfx}", f"_seq_{sfx}"
    pos_c, dseq_c = f"_pos_{sfx}", f"_del_seq_{sfx}"
    # files are keyed by their LAST TWO path segments: for a plain
    # group that is "<groupuuid>/<partfile>" (group uuid unique per
    # commit); for a partitioned group "<_pt_x=v>/<partfile>" (the
    # part-file name carries the write job's uuid, and one job's name
    # repeats only across DIFFERENT partition dirs) — unique in both
    # layouts, unlike a fixed-segment-count path or a bare basename;
    # asserted below so a collision fails loudly, never misattributes
    # a sequence
    base = {f: "/".join(f.split(os.sep)[-2:]) for f in scan_files}
    if len(set(base.values())) != len(base):
        raise ValueError(
            "read_snapshot_mor: duplicate (dir, part-file) suffixes in "
            "one manifest — cannot key the file→sequence map"
        )
    parts = F.split(F.col("_metadata.file_path"), "/")

    def suffix(depth: int):
        return F.concat_ws(
            "/", *[F.element_at(parts, k) for k in range(-depth, 0)]
        )

    seq_map = spark.createDataFrame(
        [(base[f], int(fseq.get(f, 0))) for f in scan_files],
        f"`{rel_c}` STRING, `{seq_c}` BIGINT",
    )
    # classify the delete lists BEFORE touching data: position lists
    # are grouped by the path-key depth each was WRITTEN under (legacy
    # lists predate the field and used 3 segments), and every needed
    # suffix column is materialized here — _metadata resolves only on
    # the scan relation, never after a join.  Equality lists group by
    # their RESOLVED key names (field ids → the manifest's current
    # logical names), so lists written before and after a rename land
    # in one group and anti-join the same logical column.
    by_keys: dict[tuple, list[dict]] = {}
    pos_by_depth: dict[int, list[dict]] = {}
    for d in deletes:
        if d.get("kind") == "position":
            pos_by_depth.setdefault(
                int(d.get("path_depth", 3)), []
            ).append(d)
        else:
            by_keys.setdefault(_resolve_delete_keys(m, d), []).append(d)
    depth_cols = {
        depth: f"_rel{depth}_{sfx}" for depth in pos_by_depth if depth != 2
    }
    coords = [
        (rel_c, suffix(2)),
        (pos_c, F.col("_metadata.row_index")),
        *[(cname, suffix(depth)) for depth, cname in depth_cols.items()],
    ]
    if m.get("fields"):
        # evolved table: per-epoch physical→logical projection with the
        # coordinate columns evaluated inside each epoch's own scan
        # relation (`_metadata` never survives a union/join)
        data = _read_files_logical(
            spark, root, m, scan_files,
            merge_schema=merge_schema, _coords=coords,
        )
    else:
        reader = spark.read
        if merge_schema:
            reader = reader.option("mergeSchema", True)
        data = reader.parquet(
            *[os.path.join(root, f) for f in scan_files]
        )
        for n, c in coords:
            data = data.withColumn(n, c)
    internal = {rel_c, pos_c, *depth_cols.values()}
    out_cols = [c for c in data.columns if c not in internal]
    data = data.join(F.broadcast(seq_map), rel_c)
    # equality deletes: group by key set (usually one); anti-join each
    # with the sequence rule (delete kills only lower-seq data).  The
    # lists are read batched per physical schema with per-file sequences
    # from a _metadata suffix→seq map — `_read_delete_lists` (r15), the
    # shared core with compact_delete_files
    for key_tuple, dels in by_keys.items():
        side = _read_delete_lists(spark, root, dels, key_tuple, dseq_c)
        for k in key_tuple:
            rng = (_eq_delete_ranges or {}).get(k)
            if rng is not None:
                # open-bound aware (round-11 review): between(lo, None)
                # is NULL for every row — it would empty the delete
                # side and RESURRECT deleted rows
                side = side.filter(_range_term(k, rng))
        # eqNullSafe: Iceberg equality deletes match NULL keys (a plain
        # == would null-reject and silently resurrect NULL-keyed rows —
        # a GDPR-erasure failure)
        cond = [data[k].eqNullSafe(side[k]) for k in key_tuple]
        cond.append(side[dseq_c] > data[seq_c])
        data = data.join(
            F.broadcast(side),
            functools.reduce(lambda a, b: a & b, cond),
            "left_anti",
        )
    # position deletes: exact (file, row ordinal) references — no
    # sequence rule needed, the referenced file is immutable (Iceberg
    # position-delete semantics: the delete names the row physically);
    # one anti-join per path-key format present (see classification
    # above), so a table spanning both formats kills exactly its rows
    for depth, dels in pos_by_depth.items():
        key_col = data[rel_c] if depth == 2 else data[depth_cols[depth]]
        # identical (_file, _pos) schema across lists: ONE read for the
        # whole depth group instead of a per-file read + union chain
        side = spark.read.parquet(
            *[os.path.join(root, d["file"]) for d in dels]
        )
        data = data.join(
            F.broadcast(side),
            (key_col == side["_file"]) & (data[pos_c] == side["_pos"]),
            "left_anti",
        )
    if _keep_coords:
        if {"_file", "_pos"} & set(out_cols):
            raise ValueError(
                "read_snapshot_mor(_keep_coords): table already has a "
                "_file/_pos column"
            )
        return data.select(
            *out_cols,
            data[rel_c].alias("_file"),
            data[pos_c].alias("_pos"),
        )
    return data.select(*out_cols)


#: per-session attach memo: SparkSession -> {view name: ((root,
#: version, broadcast threshold), analyzed DataFrame)}.  Weak on the
#: session so closed sessions free their plans; correctness rests on
#: manifest-version IMMUTABILITY (a repointed or newly-committed table
#: changes the key and rebuilds).
_ATTACH_MEMO: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()

#: manifest-uuid cache for the attach memo: root ->
#: ((version, stat signature), uuid).  A manifest version is
#: immutable, so the uuid only changes when the FILE identity does —
#: the stat signature is re-checked on every attach and any mismatch
#: re-reads.  BOUNDED (advice, round 13): a long-lived driver that
#: creates and deletes many temp roots must not leak one entry per
#: dead root forever, so the dict is LRU-evicted at a modest cap —
#: an evicted live root just re-reads one manifest header on its
#: next attach.
_MANIFEST_UUID_CACHE: dict = {}
_MANIFEST_UUID_CACHE_CAP = 1024


def attach_snapshot_view(
    spark: SparkSession,
    name: str,
    root: str,
    version: int | None = None,
    asof: float | None = None,
    ref: str | None = None,
) -> int:
    """Put a snapshot table on the SQL SURFACE: register ``name`` as a
    temp view over the MoR-merged read, so a SQL-only user queries the
    table format — including TIME TRAVEL (``version=N`` is Delta's
    ``VERSION AS OF``, ``asof=ts`` its ``TIMESTAMP AS OF``, resolved
    through the lineage-restricted `resolve_asof_version`, and
    ``ref="name"`` reads a named tag pin) — with plain ``spark.sql``
    text and no DataFrame API in sight.

    The view PINS the version resolved at attach time (None pins the
    then-current _LATEST): SQL results stay snapshot-consistent across
    a concurrent commit, exactly like a reader holding a manifest.
    Re-attach to follow the head.  Returns the pinned version.

    The view is lazy metadata over the manifest's file list — nothing
    is materialized; it plans straight down to native parquet scans
    with parquet ROW-GROUP pushdown.  FILE-level manifest pruning for
    SQL text lives in the statement executor (`sql_exec` re-attaches a
    statement's table views (inner joins included) through
    `read_snapshot_pruned`): per-scan pruning inside the Python
    DataSource was measured UNSOUND on Spark 4.1 — one read plan per
    relation means a pruned plan silently serves every other scan of
    the view — and withdrawn (tests/test_snapshot_source.py pins the
    engine behavior).  A small table (recorded bytes within the
    session's autoBroadcastJoinThreshold) whose merged read Catalyst
    cannot size gets a broadcast hint (`_maybe_broadcast_attach`)."""
    if sum(x is not None for x in (version, asof, ref)) > 1:
        raise ValueError(
            "attach_snapshot_view: pass at most one of version/asof/ref"
        )
    if ref is not None:
        version = resolve_ref(root, ref)
    elif asof is not None:
        version = resolve_asof_version(root, asof)
    elif version is None:
        version = current_version(root)
        if version is None:
            raise FileNotFoundError(
                f"attach_snapshot_view: no committed version at {root}"
            )
    # ATTACH MEMO (round 11): a manifest version is immutable, so the
    # analyzed view for (root, version, broadcast threshold) can be
    # re-registered as-is — re-attaching N referenced tables per SQL
    # statement then costs N cheap view registrations instead of N
    # manifest reads + relation builds (parquet footer jobs).  The
    # cached DataFrame is ALWAYS re-registered (never "skipped"), so a
    # manually replaced view is still overwritten exactly like an
    # uncached attach.  The manifest FILE's identity (mtime, size)
    # rides in the key: a table dropped and recreated at the same root
    # reaches the same version number with a different manifest, and
    # must rebuild, not serve the old file list.
    try:
        st = os.stat(_manifest_path(root, version))
        # identity = the full stat signature `_read_manifest` itself
        # trusts (inode included) PLUS the per-commit uuid `_commit`
        # records in the payload (advice, round 12): a drop/recreate
        # reaching the same version number with a same-size manifest on
        # a coarse-mtime filesystem — or an mtime-preserving
        # copy/restore — changes the uuid and rebuilds instead of
        # serving the old file list.  Manifests written by paths that
        # predate uuid recording carry None and fall back to the stat
        # signature alone.  The uuid itself is CACHED by the stat
        # signature (advice, round 13): re-reading the manifest JSON on
        # every attach just to fetch it would re-pay the cost the memo
        # exists to avoid; any stat-identity change misses the cache
        # and re-reads.
        sig = (st.st_ino, st.st_mtime_ns, st.st_size)
        # keyed by ROOT alone (review, round 13): only the version
        # being attached is ever re-queried, and a per-(root, version)
        # key would grow one entry per commit forever in a long-lived
        # driver — superseded versions, expired snapshots, deleted
        # temp roots.  One entry per root; a version or stat-identity
        # change misses and re-reads.
        cached = _MANIFEST_UUID_CACHE.pop(root, None)
        if cached is None or cached[0] != (version, sig):
            cached = (
                (version, sig),
                _read_manifest_meta(root, version).get("uuid"),
            )
        # re-insert = move-to-end: python dicts iterate in insertion
        # order, so evicting the FIRST key is LRU
        _MANIFEST_UUID_CACHE[root] = cached
        while len(_MANIFEST_UUID_CACHE) > _MANIFEST_UUID_CACHE_CAP:
            _MANIFEST_UUID_CACHE.pop(
                next(iter(_MANIFEST_UUID_CACHE))
            )
        ident = sig + (cached[1],)
    except (OSError, ValueError):
        ident = None
    key = (root, version, ident, _auto_broadcast_threshold(spark))
    sess = _ATTACH_MEMO.setdefault(spark, {})
    hit = sess.get(name)
    if hit is not None and hit[0] == key:
        hit[1].createOrReplaceTempView(name)
        return version
    df = read_snapshot_mor(spark, root, version)
    m = _read_manifest(root, version)
    if m.get("delete_files") or m.get("fields"):
        # the engine-merged read hides the scan size behind
        # joins/unions; the plain-parquet path needs no hint
        # (Catalyst's own file-size estimate is already exact)
        df = _maybe_broadcast_attach(spark, root, version, df)
    df.createOrReplaceTempView(name)
    sess[name] = (key, df)
    return version


def _auto_broadcast_threshold(spark: SparkSession) -> int:
    """``spark.sql.autoBroadcastJoinThreshold`` in BYTES (<=0 =
    disabled); tolerates the size-suffixed forms the conf accepts."""
    try:
        raw = str(
            spark.conf.get(
                "spark.sql.autoBroadcastJoinThreshold", "10485760"
            )
        ).strip().lower()
    except Exception:
        return 0
    mult = 1
    for sfx, m in (("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30), ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30), ("b", 1)):
        if raw.endswith(sfx):
            raw, mult = raw[: -len(sfx)], m
            break
    try:
        return int(float(raw)) * mult
    except ValueError:
        return 0


def _maybe_broadcast_attach(
    spark: SparkSession, root: str, version: int, df: DataFrame
) -> DataFrame:
    """AUTO-BROADCAST for attached views whose size Catalyst cannot
    estimate: when the manifest's recorded file bytes — exact and
    never stale, `snapshot_plan_hints` — total at or below the
    session's autoBroadcastJoinThreshold, hint the view broadcastable
    so a join against the small table plans BroadcastHashJoin instead
    of shuffling both sides.  This is the size-statistics consumption
    a CBO does; MoR deletes only SHRINK the merged result, so the
    bound stays safe.  An inapplicable hint (e.g. full outer) is
    ignored by Catalyst, never an error."""
    thr = _auto_broadcast_threshold(spark)
    if thr <= 0:
        return df
    hints = snapshot_plan_hints(root, version)
    b = hints["bytes"]
    if b is not None and b <= thr:
        from pyspark.sql import functions as F

        return F.broadcast(df)
    return df


def attach_snapshot_views(
    spark: SparkSession, tables: dict[str, str | dict]
) -> dict[str, int]:
    """Plural `attach_snapshot_view`: ``{view_name: root}`` or
    ``{view_name: {"root": ..., "version": N | "asof": ts}}``.  Returns
    the pinned version per view."""
    out: dict[str, int] = {}
    for name, spec in tables.items():
        if isinstance(spec, str):
            out[name] = attach_snapshot_view(spark, name, spec)
        else:
            out[name] = attach_snapshot_view(
                spark,
                name,
                spec["root"],
                version=spec.get("version"),
                asof=spec.get("asof"),
                ref=spec.get("ref"),
            )
    return out


def attach_snapshot_meta_views(
    spark: SparkSession, name: str, root: str
) -> int:
    """The METADATA tables on the SQL surface (Iceberg's
    ``db.table.files`` / ``.partitions`` / ``.history`` path syntax,
    Delta's ``DESCRIBE DETAIL/HISTORY``): registers four temp views
    over the live version —

    * ``<name>__files``      — `snapshot_files` (per-file planning view)
    * ``<name>__partitions`` — `snapshot_partitions` (``approximate``:
      MoR tables overcount rather than refuse — a monitoring view must
      not break when a delete lands)
    * ``<name>__history``    — `snapshot_history` (the commit DAG)
    * ``<name>__detail``     — `snapshot_detail` (one-row summary)
    * ``<name>__stats``      — the recorded ANALYZE statistics, one row
      per column (empty until the first `snapshot_analyze`)

    so a SQL-only operator sizes compaction, spots skew, and audits
    lineage in plain ``spark.sql`` text.  The frames are computed at
    attach time from manifests only (metadata snapshots, consistent
    with each other); re-attach to refresh.  Returns the version the
    views describe."""
    v = current_version(root)
    if v is None:
        raise FileNotFoundError(
            f"attach_snapshot_meta_views: no committed version at {root}"
        )
    snapshot_files(spark, root, v).createOrReplaceTempView(
        f"{name}__files"
    )
    snapshot_partitions(
        spark, root, v, approximate=True
    ).createOrReplaceTempView(f"{name}__partitions")
    snapshot_history(spark, root).createOrReplaceTempView(
        f"{name}__history"
    )
    snapshot_detail(spark, root).createOrReplaceTempView(
        f"{name}__detail"
    )
    st = snapshot_table_stats(root, v) or {"rows": None, "cols": {}}
    spark.createDataFrame(
        [
            (
                c,
                d.get("ndv"),
                d.get("nulls"),
                str(d["min"]) if d.get("min") is not None else None,
                str(d["max"]) if d.get("max") is not None else None,
                bool(d.get("approx")),
                d.get("v"),
                st.get("rows"),
            )
            for c, d in sorted((st.get("cols") or {}).items())
        ],
        "column string, ndv bigint, nulls bigint, min string, "
        "max string, approx boolean, analyzed_version bigint, "
        "table_rows bigint",
    ).createOrReplaceTempView(f"{name}__stats")
    return v


def attach_snapshot_cdf_view(
    spark: SparkSession,
    name: str,
    root: str,
    from_version: int,
    to_version: int | None = None,
    keys: list[str] | None = None,
) -> int:
    """The change data feed on the SQL SURFACE — Delta's
    ``table_changes('t', from, to)`` for this format: registers
    ``name`` as a temp view over `read_snapshot_cdf`, so a SQL-only
    consumer selects per-commit insert/delete events (with
    ``_change_type``/``_commit_version`` columns) in plain ``spark.sql``
    text.  ``to_version=None`` pins the head current at attach time
    (same pin-at-attach consistency rule as `attach_snapshot_view`);
    re-attach with the last-seen ``_commit_version`` as the next
    ``from_version`` to poll the feed.  ``keys`` lifts the view to the
    FOUR-VALUED Delta shape (`classify_cdf_updates`: same-key
    delete+insert within a commit become update_preimage /
    update_postimage).  Returns the pinned ``to_version``."""
    if to_version is None:
        to_version = current_version(root)
        if to_version is None:
            raise FileNotFoundError(
                f"attach_snapshot_cdf_view: no committed version at {root}"
            )
    feed = read_snapshot_cdf(spark, root, from_version, to_version)
    if keys is not None:
        feed = classify_cdf_updates(feed, keys)
    feed.createOrReplaceTempView(name)
    return to_version


def read_snapshot_asof(
    spark: SparkSession, root: str, ts: float, merge_schema: bool = False
) -> DataFrame:
    """Timestamp-based time travel: read the newest version whose
    commit time is ≤ ``ts`` (the Delta ``timestampAsOf`` rule), via
    `resolve_asof_version` — manifests record their commit time, so
    resolution is a metadata walk, no data touched.  MoR-aware: the
    resolved version reads through `read_snapshot_mor`."""
    return read_snapshot_mor(
        spark,
        root,
        resolve_asof_version(root, ts),
        merge_schema=merge_schema,
    )


def resolve_asof_version(root: str, ts: float) -> int:
    """Newest version ON THE CURRENT LINEAGE with commit time ≤ ``ts``
    (legacy manifests without a recorded time are ignored); raises if
    the lineage has no commit that old.

    Lineage-restricted on purpose: a branch abandoned by `rollback`
    must never be resurfaced by a timestamp lookup (its commits existed
    at that wall-clock time, but the table's live history no longer
    contains them — after a rollback, wall-clock reconstruction is
    ambiguous and the lineage is the only answer that can't silently
    surprise).  To keep history LINEAR so every commit stays timestamp-
    addressable, undo with `snapshot_restore` (restore-as-a-commit)
    instead of `rollback`.  An abandoned version remains readable by
    explicit number."""
    best = None
    cur = current_version(root)
    v: int | None = cur
    while v is not None:
        m = _read_manifest_meta(root, v)
        mts = m.get("ts")
        if mts is not None and mts <= ts:
            best = v
            break  # ancestors are older — the first hit is the newest
        v = m["parent"]
    if best is None:
        raise FileNotFoundError(
            f"resolve_asof_version: no commit at or before ts={ts} on "
            f"the current lineage of {root}"
        )
    return best


def snapshot_restore(root: str, version: int) -> int:
    """RESTORE as a COMMIT (Delta ``RESTORE TABLE ... TO VERSION``): a
    new version whose content is exactly ``version``'s — FILE REFERENCES
    only (stats, per-file sequences, and MoR delete files carried
    verbatim), no data copied or read — so undo is O(1) metadata like
    `rollback`, but history stays LINEAR: the undone commits remain on
    the lineage and `resolve_asof_version` keeps working for every
    wall-clock instant.  Prefer this over `rollback` whenever timestamp
    time travel matters.

    The payload records ``restore_of`` so STATE-SCOPED walks (the
    copy-into identity set) resume from the restored version's history
    — a restore that undoes a COPY INTO batch really un-loads it, and
    the cron's next run re-ingests (same contract as `rollback`)."""
    m = _read_manifest(root, version)  # raises if the version is unknown
    return _commit(
        root,
        m["files"],
        current_version(root),
        operation="restore",
        entries_from=version,
        payload_extras={"restore_of": version},
        manifest_override={
            # verbatim carry — including schema metadata, so restoring
            # past a rename/drop restores the schema too (None values
            # REMOVE the key: restoring to a pre-evolution version must
            # not inherit the current logical schema).  Per-file
            # metadata (file_seq/partition_values/stats) rides in the
            # referenced version's own entry files.
            k: m.get(k)
            for k in ("delete_files", "fields", "file_fields", "layout")
        },
    )


def snapshot_history(spark: SparkSession, root: str) -> DataFrame:
    """The table's commit history as a DataFrame — the ``DESCRIBE
    HISTORY`` surface: one row per committed version with its parent
    (the TRUE lineage DAG, so a rollback-then-commit shows its branch
    point), commit time, operation, file counts, and the file-set delta
    vs the parent.  Built from manifests only; `is_current` marks the
    version _LATEST points at (after a rollback that is not the highest
    number).  A row whose parent was EXPIRED by retention keeps its
    parent number but reports NULL added/removed deltas — history after
    VACUUM is the normal case, never a crash."""
    rows = []
    cur = current_version(root)
    live = set(snapshot_versions(root))
    for v in sorted(live):
        m = _read_manifest(root, v)
        files = set(m["files"])
        parent = m["parent"]
        if parent is None:
            pfiles: set | None = set()
        elif parent in live:
            pfiles = set(_read_manifest(root, parent)["files"])
        else:
            # the parent was EXPIRED (retention) — the row survives,
            # the vs-parent delta is simply unknowable (NULLs), never
            # a crash: DESCRIBE HISTORY after VACUUM is the normal case
            pfiles = None
        rows.append(
            (
                v,
                parent,
                float(m["ts"]) if m.get("ts") is not None else None,
                m.get("operation"),
                m.get("tag"),
                len(files),
                len(m.get("delete_files") or []),
                len(files - pfiles) if pfiles is not None else None,
                len(pfiles - files) if pfiles is not None else None,
                v == cur,
            )
        )
    return spark.createDataFrame(
        rows,
        "version BIGINT, parent BIGINT, ts DOUBLE, operation STRING, "
        "tag STRING, n_files BIGINT, n_delete_files BIGINT, "
        "files_added BIGINT, files_removed BIGINT, is_current BOOLEAN",
    )


def _stream_app_id(checkpoint_dir: str) -> str:
    """Stable stream identity from the checkpoint path (Delta txnAppId
    analog): same checkpoint ⇒ same tags ⇒ replays no-op; different
    checkpoint ⇒ disjoint tags ⇒ two streams can share a table."""
    import hashlib

    return hashlib.md5(
        os.path.abspath(checkpoint_dir).encode()
    ).hexdigest()[:10]


def _commit_mor_dml(
    root: str,
    pre: DataFrame,
    keys: list[str] | None,
    parent: int | None,
    seen: set,
    tag: str | None,
    operation: str,
    new_files: list[str] | None = None,
    new_stats: dict | None = None,
    key_ids: list[int] | None = None,
    new_file_columns: list[str] | None = None,
) -> int | None:
    """ONE attempt of a MoR DML commit — the core shared by
    `snapshot_delete_where` and `snapshot_update_where`.  Writes ``pre``
    as a delete file group: EQUALITY lists when ``keys`` is given, else
    POSITION lists (``path_depth`` records the ``_file`` key format —
    suffix segment count — so the reader applies each list under the
    key convention it was WRITTEN with; older lists used 3 segments,
    the pre-partitioning layout, and must keep matching after the key
    format changed).  The matched-row count comes from the delete
    files' parquet FOOTERS only, no data read (ADVICE r6): a predicate
    matching ZERO rows (e.g. a GDPR request for an absent key) must NOT
    commit — an empty delete file would flip the table into MoR-only
    mode for nothing — so every just-written group (delete lists AND
    the update's post-image ``new_files``) is removed best-effort and
    ``parent`` is returned unchanged.  Otherwise commits SERIALIZABLE;
    a `SnapshotConflictError` propagates to the caller's
    re-evaluate-and-retry loop."""
    if keys is not None:
        entry = lambda f: {  # noqa: E731
            "file": f,
            "keys": keys,
            **({"key_ids": key_ids} if key_ids else {}),
        }
    else:
        entry = lambda f: {  # noqa: E731
            "file": f,
            "kind": "position",
            "path_depth": 2,
            # recorded row count (round 14): each position delete
            # kills at most one data row, so consumers (the MoR-aware
            # top-k accumulation) can bound deletions without
            # re-reading this footer per statement; legacy entries
            # without it fall back to the footer read
            "rows": int(drows[f]),
        }
    del_files = _write_files(pre, root, kind="deletes")
    import pyarrow.parquet as pq

    drows = {
        f: pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
        for f in del_files
    }
    n_hits = sum(drows.values())
    if n_hits == 0:
        for f in del_files + list(new_files or []):
            try:  # best-effort cleanup; vacuum catches the rest
                os.remove(os.path.join(root, f))
            except OSError:
                pass
        return parent
    return _commit(
        root,
        list(new_files or []),
        parent,
        stats=new_stats,
        tag=tag,
        rebase_append=True,
        operation=operation,
        seen_versions=seen,
        new_file_columns=new_file_columns,
        new_delete_files=[entry(f) for f in del_files],
        conflict_mode="serialize",
        expected_fields=(
            _read_manifest_meta(root, parent).get("fields")
            if parent is not None
            else None
        ),
    )


def snapshot_delete_where(
    spark: SparkSession,
    root: str,
    predicate,
    keys: list[str] | None = None,
    tag: str | None = None,
) -> int:
    """Predicate DELETE via merge-on-read — the GDPR/right-to-erasure
    shape at 100 TB: commit ONE delete file covering every
    currently-visible row matching ``predicate`` (a Column or SQL
    string), touching no data files.  Cost is one filtered scan plus a
    small write; the rows vanish from every subsequent
    `read_snapshot_mor` and `snapshot_compact` later reclaims the bytes.
    History is preserved: older versions still show the rows (for true
    physical erasure, compact then `expire_versions` + `vacuum_orphans`
    — the same two-phase story as Delta/Iceberg).  ``tag`` gives the
    usual idempotent-replay contract.

    Two delete-file flavors, per the Iceberg spec:
    * ``keys=[...]`` — EQUALITY delete: the matching rows' key tuples
      (requires the key to identify exactly the rows to kill: a later
      re-insert of the key survives via the sequence rule);
    * ``keys=None`` — POSITION delete: the matching rows' physical
      (file, row-ordinal) coordinates — works on ANY table, unique key
      or not, and kills exactly the matched rows and nothing else.

    Concurrency is SERIALIZABLE, not rebase-merge: the key list was
    computed by evaluating ``predicate`` against one specific snapshot,
    so if a concurrent commit lands first the decision is stale — a
    rebased delete could kill rows the sibling just wrote that were
    never evaluated (Iceberg aborts the same way).  On conflict the
    whole operation retries against the new head: re-read, re-filter,
    re-commit (bounded attempts, then `SnapshotConflictError`)."""
    from pyspark.sql import functions as F

    if tag is not None:
        v = _resume_tagged_commit(root, tag)
        if v is not None:
            return v
    if isinstance(predicate, str):
        predicate = F.expr(predicate)
    last_err: Exception | None = None
    for _ in range(5):
        # seen BEFORE parent — see snapshot_append's capture-order comment
        seen = set(snapshot_versions(root))
        parent = current_version(root)
        key_ids = (
            _eq_key_ids(root, parent, keys, "snapshot_delete_where")
            if keys is not None
            else None
        )
        if keys is not None:
            hits = (
                read_snapshot_mor(spark, root)
                .filter(predicate)
                .select(*keys)
                .distinct()
            )
        else:
            hits = (
                read_snapshot_mor(spark, root, _keep_coords=True)
                .filter(predicate)
                .select("_file", "_pos")
            )
        try:
            return _commit_mor_dml(
                root, hits, keys, parent, seen, tag, "delete-where",
                key_ids=key_ids,
            )
        except SnapshotConflictError as exc:
            last_err = exc  # head moved — re-evaluate against it
    raise SnapshotConflictError(
        f"snapshot_delete_where: gave up after 5 conflicted attempts "
        f"({last_err})"
    )


def snapshot_update_where(
    spark: SparkSession,
    root: str,
    predicate,
    set_exprs: dict,
    keys: list[str] | None = None,
    stats_cols: list[str] | None = None,
    tag: str | None = None,
) -> int:
    """Predicate UPDATE via merge-on-read — ``UPDATE t SET c = expr
    WHERE pred`` as ONE O(matched) commit, never an O(table) rewrite:
    the commit adds (1) a data file group holding the POST-IMAGE of
    every currently-visible row matching ``predicate`` with
    ``set_exprs`` applied, and (2) a delete file killing the PRE-IMAGE
    rows.  The sequence rule makes the new rows survive their own
    delete (data sequence > delete sequence), exactly the
    `snapshot_mor_merge` upsert shape — so the commit flows through
    `read_snapshot_cdf` as delete(pre-image) + insert(post-image)
    events and through every downstream CDC consumer untouched.
    Reference parity: the reference mutates rows in place with SQL
    UPDATE (pipeline/db_operations.py); here the update is a new
    version — history stays time-travelable and `rollback` undoes a
    bad update in O(1).

    ``set_exprs`` maps column name → Column or SQL-string expression,
    evaluated over the matched rows (expressions may reference any
    table column, e.g. ``{"price": "price * 1.1"}``); each result is
    CAST back to the column's existing type so the post-image files
    never drift the table schema (an INT literal on a BIGINT column
    would otherwise split the parquet schema).

    Delete-file flavor mirrors `snapshot_delete_where`:
    * ``keys=None`` (default) — POSITION delete: exact on ANY table,
      kills precisely the matched physical rows;
    * ``keys=[...]`` — EQUALITY delete: cheaper lists, but the key
      must identify exactly the matched rows (a non-matching row
      sharing a matched key tuple would be killed without a
      post-image).

    ``stats_cols`` records footer min/max for the post-image group so
    `read_snapshot_pruned` and the CDF pre-image scan stay prunable on
    a continuously updated table.  Zero matched rows commit NOTHING
    (the no-op-GDPR contract).  Concurrency is SERIALIZABLE with
    re-evaluating retry, same as the predicate delete."""
    from pyspark.sql import functions as F

    if tag is not None:
        v = _resume_tagged_commit(root, tag)
        if v is not None:
            return v
    if isinstance(predicate, str):
        predicate = F.expr(predicate)
    sets = {
        c: (F.expr(e) if isinstance(e, str) else e)
        for c, e in set_exprs.items()
    }
    if not sets:
        raise ValueError("snapshot_update_where: empty set_exprs")
    last_err: Exception | None = None
    for _ in range(5):
        # seen BEFORE parent — see snapshot_append's capture-order comment
        seen = set(snapshot_versions(root))
        parent = current_version(root)
        if parent is None:
            raise FileNotFoundError(
                f"snapshot_update_where: no committed version at {root}"
            )
        key_ids = (
            _eq_key_ids(root, parent, keys, "snapshot_update_where")
            if keys is not None
            else None
        )
        cur = read_snapshot_mor(
            spark, root, _keep_coords=keys is None
        )
        cols = [c for c in cur.columns if c not in ("_file", "_pos")]
        unknown = sorted(set(sets) - set(cols))
        if unknown:
            raise ValueError(
                f"snapshot_update_where: set_exprs name columns not in "
                f"the table: {unknown}"
            )
        if keys is not None:
            missing = sorted(set(keys) - set(cols))
            if missing:
                raise ValueError(
                    f"snapshot_update_where: keys not in the table: "
                    f"{missing}"
                )
        dtypes = {f.name: f.dataType for f in cur.schema.fields}
        hits = cur.filter(predicate).persist()
        try:
            post = hits.select(
                *[
                    (
                        sets[c].cast(dtypes[c]).alias(c)
                        if c in sets
                        else F.col(c)
                    )
                    for c in cols
                ]
            )
            # hits is persisted: its partition width is the cached plan's
            # (not AQE-coalesced) — rebalance both derived writes
            post = _size_for_write(post)
            if stats_cols is None:
                new_files, new_stats = _write_files(post, root), {}
            else:
                new_files, new_stats = _write_files(post, root, stats_cols)
            if keys is None:
                pre = _size_for_write(hits.select("_file", "_pos"))
            else:
                pre = hits.select(*keys).distinct()
            try:
                return _commit_mor_dml(
                    root, pre, keys, parent, seen, tag, "update-where",
                    new_files=new_files, new_stats=new_stats,
                    key_ids=key_ids, new_file_columns=cols,
                )
            except SnapshotConflictError as exc:
                last_err = exc  # head moved — re-evaluate against it
        finally:
            hits.unpersist()
    raise SnapshotConflictError(
        f"snapshot_update_where: gave up after 5 conflicted attempts "
        f"({last_err})"
    )


def _meta_only_commit(
    root: str,
    operation: str,
    meta_updates: dict,
    pre_attempt=None,
) -> int:
    """Shared serialize-retry loop for metadata-only commits on the
    CURRENT content (`snapshot_set_check` / `snapshot_drop_check` /
    `snapshot_analyze`): capture seen before parent, run
    ``pre_attempt(parent)`` (per-attempt validation hooks — they re-run
    against the new head on retry), then commit ``entries_from=parent``
    with the parent's delete files carried verbatim — content
    unchanged, metadata updated."""
    last_err: Exception | None = None
    for _ in range(5):
        # seen BEFORE parent — see snapshot_append's capture-order comment
        seen = set(snapshot_versions(root))
        parent = current_version(root)
        if parent is None:
            raise FileNotFoundError(
                f"{operation}: no committed version at {root}"
            )
        if pre_attempt is not None:
            pre_attempt(parent)
        m = _read_manifest(root, parent)
        try:
            return _commit(
                root,
                m["files"],
                parent,
                operation=operation,
                seen_versions=seen,
                conflict_mode="serialize",
                entries_from=parent,
                meta_updates=meta_updates,
                manifest_override={
                    "delete_files": m.get("delete_files") or []
                },
            )
        except SnapshotConflictError as exc:
            last_err = exc  # head moved — re-validate against it
    raise SnapshotConflictError(
        f"{operation}: gave up after 5 conflicted attempts ({last_err})"
    )


def snapshot_set_check(
    spark: SparkSession,
    root: str,
    name: str,
    expr: str,
    validate: bool = True,
    replace: bool = False,
) -> int:
    """Add a persistent CHECK constraint (Delta's ``ALTER TABLE … ADD
    CONSTRAINT`` analog): a metadata-only commit recording ``name:
    expr`` in the table metadata, inherited by every subsequent commit
    like ``layout``/``fields``.  From then on EVERY data write path
    (append, overwrite, partitioned/clustered, the CDC merges,
    UPDATE…WHERE post-images, streaming sinks, even compaction
    rewrites) enforces the expression per row INSIDE the write job —
    a violating batch fails loudly and commits nothing, with the
    offending row in the error (see `_apply_check_constraints`).  SQL
    CHECK semantics: NULL passes.

    ``validate=True`` (Delta's default) first proves the EXISTING
    visible rows satisfy the constraint — one filtered scan,
    ``limit(1)`` — and refuses otherwise; ``validate=False`` skips the
    scan (constraint applies to new writes only; a later compaction
    of violating history will fail loudly — compact first or validate).
    A live check with the same name REFUSES (silently swapping the
    expression would invisibly weaken the audited contract; Delta
    raises the same way) unless ``replace=True``.

    An in-flight data write that raced this commit fails with
    `SnapshotConflictError` at ITS commit instead of landing
    unvalidated rows under the new contract (see `_commit`'s CHECK
    write/commit race guard) — re-run the write.

    Reference parity: the reference has no constraint surface — bad
    rows abort the whole run only at read time (reference
    pipeline.py:98-100); here the TABLE carries the contract."""
    from pyspark.sql import functions as F

    if not name or not isinstance(expr, str) or not expr.strip():
        raise ValueError(
            "snapshot_set_check: need a non-empty name and SQL expr"
        )

    def _pre(parent: int) -> None:
        if not replace and name in _table_checks(root, parent):
            raise ValueError(
                f"snapshot_set_check: a live check named {name!r} "
                "already exists — drop it first or pass replace=True"
            )
        if validate:
            bad = (
                read_snapshot_mor(spark, root)
                .filter(~F.coalesce(F.expr(expr), F.lit(True)))
                .limit(1)
                .collect()
            )
            if bad:
                raise ValueError(
                    f"snapshot_set_check: existing rows violate "
                    f"{name!r} ({expr}), e.g. {tuple(bad[0])} — fix the "
                    "data or pass validate=False (new writes only)"
                )

    return _meta_only_commit(root, "set-check", {"checks": {name: expr}}, _pre)


def snapshot_drop_check(root: str, name: str) -> int:
    """Drop a CHECK constraint by name: a metadata-only commit storing
    ``name: None`` (the recursive meta merge has no delete operation;
    `_table_checks` filters the tombstone).  Older versions keep the
    constraint in their metadata — time travel shows the contract that
    held when they committed."""

    def _pre(parent: int) -> None:
        live = _table_checks(root, parent)
        if name not in live:
            raise ValueError(
                f"snapshot_drop_check: no live check named {name!r} "
                f"(have {sorted(live)})"
            )

    return _meta_only_commit(
        root, "drop-check", {"checks": {name: None}}, _pre
    )


def snapshot_set_generated(
    spark: SparkSession,
    root: str,
    col: str,
    expr: str,
    dtype: str,
    validate: bool = True,
    replace: bool = False,
) -> int:
    """Declare ``col`` GENERATED ALWAYS AS ``expr`` (Delta's generated
    columns): a metadata-only commit recording ``{col: {expr, type}}``
    in the table metadata, inherited like checks.  From then on EVERY
    data write path (append, overwrite, partitioned/clustered, CDC
    merges, UPDATE post-images, streaming sinks, compaction rewrites)
    RECOMPUTES the column inside the write job — a writer may omit it
    (it materializes) or provide it (the stored value is the expression
    regardless: ``ALWAYS`` taken literally, so an UPDATE that changes a
    source column keeps the derivation consistent without the writer
    knowing the rule).  Partition transforms and sort policies may
    reference the derived column — it computes first.

    The column must ALREADY EXIST in the current schema — declare-at-
    creation is ``CTAS computing the column, then set_generated`` —
    which keeps every file epoch physically carrying it (no
    heterogeneous-schema inference hazards).  ``validate=True`` proves
    the existing visible rows already equal the expression (one
    filtered scan, ``limit(1)``) and refuses otherwise; the same
    write/commit race guard as checks aborts a commit whose files were
    derived under a different generation contract.  A live spec for
    the same column refuses unless ``replace=True``."""
    import re as _re

    from pyspark.sql import functions as F

    if not expr or not expr.strip():
        raise ValueError("snapshot_set_generated: empty expression")
    try:
        declared = (
            spark.range(1)
            .select(F.lit(None).cast(dtype))
            .schema.fields[0]
            .dataType.simpleString()
        )
    except Exception as exc:
        raise ValueError(
            f"snapshot_set_generated: {dtype!r} is not a valid Spark "
            f"DDL type: {str(exc).splitlines()[0]}"
        ) from None

    def _pre(parent: int) -> None:
        live = _table_generated(root, parent)
        if col in live and not replace:
            raise ValueError(
                f"snapshot_set_generated: {col!r} already has a live "
                "generated spec — pass replace=True to redefine it"
            )
        # no derivation chains: a generated expression referencing
        # another generated column (or itself) would be computed from
        # the writer's UN-recomputed value under the single-pass
        # chokepoint — Delta forbids the same at declaration time
        chained = sorted(
            g
            for g in {*live, col}
            if _re.search(rf"\b{_re.escape(g)}\b", expr)
        )
        if chained:
            raise ValueError(
                f"snapshot_set_generated: expression references "
                f"generated column(s) {chained} — derivations must "
                "depend only on plainly-written columns"
            )
        cur = read_snapshot_mor(spark, root, parent)
        if col not in cur.columns:
            raise ValueError(
                f"snapshot_set_generated: column {col!r} is not in the "
                "table — generated columns are declared over an "
                "existing column (create the table computing it, then "
                "declare)"
            )
        actual = dict(
            (f.name, f.dataType.simpleString()) for f in cur.schema.fields
        )[col]
        if actual != declared:
            raise ValueError(
                f"snapshot_set_generated: declared type {declared!r} "
                f"differs from the column's stored type {actual!r} — a "
                "mismatched declaration would write a different "
                "physical type than older file epochs (heterogeneous-"
                "schema reads); declare the stored type"
            )
        if validate:
            bad = cur.filter(
                ~F.col(col).eqNullSafe(F.expr(expr).cast(dtype))
            ).limit(1).collect()
            if bad:
                raise ValueError(
                    f"snapshot_set_generated: existing row violates "
                    f"{col} = {expr}: {bad[0].asDict()} (fix the data "
                    "or pass validate=False to apply to new writes "
                    "only)"
                )

    return _meta_only_commit(
        root,
        "set-generated",
        {"generated": {col: {"expr": expr, "type": dtype}}},
        _pre,
    )


def snapshot_drop_generated(root: str, col: str) -> int:
    """Drop a generated-column spec: a metadata-only tombstone commit
    (the column and its data stay — only the write-time derivation
    stops; older versions keep the contract they committed under)."""

    def _pre(parent: int) -> None:
        live = _table_generated(root, parent)
        if col not in live:
            raise ValueError(
                f"snapshot_drop_generated: no live generated spec for "
                f"{col!r} (have {sorted(live)})"
            )

    return _meta_only_commit(
        root, "drop-generated", {"generated": {col: None}}, _pre
    )


def snapshot_analyze(
    spark: SparkSession,
    root: str,
    columns: list[str] | None = None,
    approx: bool = True,
) -> int:
    """``ANALYZE TABLE … COMPUTE STATISTICS``: ONE aggregation pass
    over the current snapshot computing the table rowcount plus
    per-column NDV / null count / min / max, recorded as inherited
    table metadata (a metadata-only ``analyze`` commit — content
    unchanged, like set-check).  This is the planner-facing statistics
    layer real engines feed their CBO from: per-FILE min/max already
    live in the manifests for pruning; these are TABLE-level shapes
    (cardinality, selectivity denominators) no file union can answer
    without a scan.

    ``approx=True`` (default, the 100 TB path) uses
    ``approx_count_distinct`` — one pass, mergeable HLL sketches, no
    distinct shuffle per column; ``approx=False`` computes exact NDV
    (``count(distinct)``) for small tables and oracle parity.
    ``columns=None`` analyzes every leaf column whose type is
    orderable-scalar; a named subset merges into previously recorded
    stats per column, each carrying ``v`` — the version whose CONTENT
    it was computed over — so staleness is self-describing
    (``version``/``rows`` at the top level describe the latest
    ANALYZE; an analyze commit's own content is identical to that
    version's).  Non-scalar columns (arrays/structs) record NDV and
    null counts but no min/max; maps record null counts only.

    Stats INHERIT across subsequent commits like layout/fields/checks —
    they go stale exactly as in Delta/Iceberg until the next ANALYZE.
    SERIALIZABLE the honest way: the scan is PINNED to the head it
    captured, and if a concurrent commit lands first the whole
    aggregation RECOMPUTES against the new head — stale numbers are
    never stamped onto a version they don't describe.  Reads via
    `snapshot_table_stats`."""
    from pyspark.sql import functions as F

    scalar_ok = {
        "byte", "short", "int", "bigint", "float", "double", "date",
        "timestamp", "timestamp_ntz", "string", "boolean",
    }

    def _simple(t) -> str:
        s = t.simpleString()
        return "decimal" if s.startswith("decimal") else s

    def _json_safe(x):
        if x is None or isinstance(x, (int, float, str, bool)):
            return x
        import datetime
        import decimal

        if isinstance(x, decimal.Decimal):
            return str(x)
        if isinstance(x, (datetime.datetime, datetime.date)):
            return x.isoformat()
        return str(x)

    last_err: Exception | None = None
    for _ in range(5):
        seen = set(snapshot_versions(root))
        parent = current_version(root)
        if parent is None:
            raise FileNotFoundError(
                f"snapshot_analyze: no committed version at {root}"
            )
        # the scan is PINNED to the captured head: the committed stats
        # describe exactly this content (the analyze commit carries it
        # verbatim); a conflict below recomputes against the new head
        df = read_snapshot_mor(spark, root, parent)
        all_cols = {f.name: _simple(f.dataType) for f in df.schema.fields}
        if columns is None:
            cols = list(all_cols)
        else:
            missing = sorted(set(columns) - set(all_cols))
            if missing:
                raise ValueError(
                    f"snapshot_analyze: columns not in the table: "
                    f"{missing}"
                )
            cols = list(columns)
        ndv = F.approx_count_distinct if approx else F.count_distinct
        aggs = [F.count(F.lit(1)).alias("__rows")]
        for c in cols:
            if not all_cols[c].startswith("map"):
                # map values are unhashable for (approx_)count_distinct
                # — maps record null counts only
                aggs.append(ndv(F.col(c)).alias(f"ndv__{c}"))
            aggs.append(
                F.count(F.when(F.col(c).isNull(), 1)).alias(f"nulls__{c}")
            )
            if all_cols[c] in scalar_ok or all_cols[c] == "decimal":
                aggs.append(F.min(c).alias(f"min__{c}"))
                aggs.append(F.max(c).alias(f"max__{c}"))
        row = df.agg(*aggs).first().asDict()
        col_stats: dict = {}
        for c in cols:
            d = {
                "nulls": int(row[f"nulls__{c}"]),
                "approx": bool(approx),
                "v": parent,
            }
            if f"ndv__{c}" in row:
                d["ndv"] = int(row[f"ndv__{c}"])
            if f"min__{c}" in row:
                d["min"] = _json_safe(row[f"min__{c}"])
                d["max"] = _json_safe(row[f"max__{c}"])
            col_stats[c] = d
        m = _read_manifest(root, parent)
        try:
            return _commit(
                root,
                m["files"],
                parent,
                operation="analyze",
                seen_versions=seen,
                conflict_mode="serialize",
                entries_from=parent,
                meta_updates={
                    "table_stats": {
                        "rows": int(row["__rows"]),
                        "version": parent,
                        "cols": col_stats,
                    }
                },
                manifest_override={
                    "delete_files": m.get("delete_files") or []
                },
            )
        except SnapshotConflictError as exc:
            last_err = exc  # head moved — recompute against it
    raise SnapshotConflictError(
        f"snapshot_analyze: gave up after 5 conflicted attempts "
        f"({last_err})"
    )


def snapshot_table_stats(
    root: str, version: int | None = None
) -> dict | None:
    """The recorded ANALYZE statistics visible at ``version`` (default
    head): ``{"rows", "version", "cols": {col: {nulls, approx, v[,
    ndv][, min, max]}}}`` or None if the lineage was never analyzed.
    O(1) — payload-resident metadata, no data read.  Returns a DEEP
    copy: the manifest cache shares nested dicts process-wide, so a
    caller mutating its estimates must never corrupt what every other
    reader (and the next commit's inheritance) sees."""
    import copy

    v = current_version(root) if version is None else version
    if v is None:
        raise FileNotFoundError(
            f"snapshot_table_stats: no table at {root}"
        )
    ts = _read_manifest_meta(root, v).get("table_stats")
    return copy.deepcopy(ts) if ts else None


#: commit operations that cannot change the VISIBLE ROWCOUNT — an
#: ANALYZE rowcount stays exact across any chain of these (compaction
#: included: it folds deletes into rewrites, visible rows unchanged;
#: update-where replaces values 1:1; the zorder rewrite commits as
#: "compact").  delete-where is deliberately absent: it shrinks the
#: count, so the certification stays conservative.
_ROW_PRESERVING_OPS = {
    "analyze", "evolve", "set-check", "drop-check", "set-generated",
    "drop-generated", "compact", "compact-deletes", "compact-manifests",
    "update-where",
}


def snapshot_plan_hints(root: str, version: int | None = None) -> dict:
    """Planner-facing SIZE ESTIMATES for one snapshot version — the
    consumption layer for `snapshot_analyze`'s recorded statistics and
    the manifest's write-time sizes, built STALE-SAFE so a physical
    choice (broadcast side, touched-files-vs-CoW) can trust it:

    * ``bytes`` / ``rows`` — exact sums of the CURRENT manifest's
      per-file sizes/rowcounts (None when any live file predates their
      recording).  Never stale: they ride every commit.  ``rows`` is
      the pre-MoR-delete file total, i.e. an UPPER bound on visible
      rows — exactly the safe direction for a smallness decision.
    * ``analyzed_rows`` — the last ANALYZE's visible-rowcount;
      ``analyze_current`` is True only when every commit since the
      analyzed version is row-content-preserving (metadata, schema,
      maintenance), so the number still describes the head EXACTLY.
      Stale analyze output must only ever be used as a low-confidence
      estimate, never as proof of smallness.

    O(1) metadata reads plus an O(commits-since-analyze) payload walk."""
    v = current_version(root) if version is None else version
    if v is None:
        raise FileNotFoundError(f"snapshot_plan_hints: no table at {root}")
    m = _read_manifest(root, v)
    sizes = m.get("sizes") or {}
    rows = m.get("rows") or {}
    files = m["files"]
    out: dict = {
        "bytes": (
            sum(int(sizes[f]) for f in files)
            if files and all(f in sizes for f in files)
            else (0 if not files else None)
        ),
        "rows": (
            sum(int(rows[f]) for f in files)
            if files and all(f in rows for f in files)
            else (0 if not files else None)
        ),
        "analyzed_rows": None,
        "analyze_current": False,
    }
    ts = m.get("table_stats")
    if ts and ts.get("rows") is not None:
        out["analyzed_rows"] = int(ts["rows"])
        av = ts.get("version")
        cur: int | None = v
        current = av is not None
        while current and cur is not None and cur != av:
            try:
                meta = _read_manifest_meta(root, cur)
            except FileNotFoundError:
                current = False  # expired history: cannot certify
                break
            if meta.get("operation") not in _ROW_PRESERVING_OPS:
                current = False
                break
            cur = meta.get("parent")
            if cur is None or cur < av:
                current = False
        out["analyze_current"] = bool(current and cur == av)
    return out


def snapshot_clone(
    src_root: str,
    dst_root: str,
    version: int | None = None,
    mode: str = "link",
) -> int:
    """CLONE a snapshot table (Delta ``CREATE TABLE … CLONE`` analog):
    materialize ``src_root``'s state at ``version`` (default: head) as
    a NEW table at ``dst_root`` — an independent lineage whose first
    version NUMBER equals the source version (version numbers are only
    required to be monotonic, and keeping the number keeps the carried
    commit SEQUENCES below every future commit of the clone: a fresh
    insert after the clone must never be killed by a pre-clone
    equality-delete list, which applies only to lower sequences).
    The clone carries the source's full state verbatim at METADATA
    cost: data files AND MoR delete files keep their root-relative
    paths and commit sequences (the sequence rule keeps working:
    re-inserted-after-delete keys survive in the clone exactly as in
    the source), stats/partition values/field bindings keep pruning
    and evolved reads working, and layout/fields/CHECK constraints
    carry so the clone enforces the same contract.

    ``mode="link"`` (default) hard-links every file — a ZERO-COPY
    clone: bytes are shared until either side's maintenance rewrites
    them, and vacuum in one table only unlinks its own path (the inode
    survives while the other table references it) — the dev/test-copy
    and experiment-fork primitive at any table size (same filesystem
    only; on object stores you'd copy or reference, so
    ``mode="copy"`` does a physical copy).  Writes after the clone
    diverge freely: each lineage appends under its own root.

    NOT cloned: tags/branches (refs are pointers into the SOURCE's
    history, which the clone does not carry) and older versions — the
    clone's history starts at its first version, time travel beyond it
    lives in the source."""
    if mode not in ("link", "copy"):
        raise ValueError(
            f"snapshot_clone: mode must be 'link' or 'copy', got {mode!r}"
        )
    v = current_version(src_root) if version is None else version
    if v is None:
        raise FileNotFoundError(
            f"snapshot_clone: no committed version at {src_root}"
        )
    if current_version(dst_root) is not None:
        raise FileExistsError(
            f"snapshot_clone: {dst_root} already holds a snapshot table"
        )
    m = _read_manifest(src_root, v)
    import errno
    import shutil

    dels = m.get("delete_files") or []
    for entry in m["files"] + [d["file"] for d in dels]:
        src = os.path.join(src_root, entry)
        dst = os.path.join(dst_root, entry)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        if os.path.exists(dst):
            # idempotent retry of a crashed clone: the same file from
            # the same source is fine (hard link or equal byte size);
            # anything else is foreign debris — refuse, don't clobber
            if os.path.samefile(src, dst) or (
                os.path.getsize(src) == os.path.getsize(dst)
            ):
                continue
            raise FileExistsError(
                f"snapshot_clone: {dst} exists and does not match the "
                "source file — remove the partial clone first"
            )
        if mode == "link":
            try:
                os.link(src, dst)
            except OSError as exc:
                if exc.errno != errno.EXDEV:  # only cross-device falls
                    raise  # back to copy; anything else is real
                shutil.copy2(src, dst)
        else:
            shutil.copy2(src, dst)
    # one entry file carrying the resolved per-file metadata verbatim
    # (sequences included — MoR semantics survive), one for the delete
    # lists; the payload is the clone's first version, parent-less
    os.makedirs(_manifest_dir(dst_root), exist_ok=True)
    merged: dict = {"files": m["files"]}
    for k in ("stats", "file_seq", "file_fields", "partition_values",
              "sizes", "rows", "blooms", "nulls", "sums"):
        # nulls/sums added round 13: a clone used to shed them,
        # silently demoting the clone's metadata fast paths
        if m.get(k):
            merged[k] = m[k]
    entries = [_write_entry(dst_root, merged)] if m["files"] else []
    dentries = (
        [_write_entry(dst_root, {"delete_files": dels}, "de")]
        if dels
        else []
    )
    clone_src = {"root": os.path.abspath(src_root), "version": v}
    payload = {
        "version": v,
        "parent": None,
        "tag": None,
        "ts": time.time(),
        "operation": "clone",
        "format": 2,
        "entries": entries,
        "delete_entries": dentries,
        "clone_source": clone_src,
    }
    for k in ("layout", "fields", "checks", "table_stats", "generated"):
        if m.get(k):
            payload[k] = m[k]
    staged = os.path.join(
        _manifest_dir(dst_root), f".stage-{uuid.uuid4().hex}"
    )
    with open(staged, "w") as fh:
        json.dump(payload, fh)
    try:
        os.link(staged, _manifest_path(dst_root, v))
    except FileExistsError:
        # a crashed clone claimed the manifest but never advanced
        # _LATEST (the torn window the tagged commits repair via their
        # marker): if the existing claim IS this clone, finish the
        # pointer move idempotently; a different claim is a real race
        prior = _read_manifest_meta(dst_root, v)
        if (
            prior.get("operation") != "clone"
            or prior.get("clone_source") != clone_src
        ):
            raise FileExistsError(
                f"snapshot_clone: {dst_root} v{v} claimed concurrently "
                "by a different commit"
            )
        for n in entries + dentries:  # this attempt's entries lost
            try:
                os.remove(os.path.join(_manifest_dir(dst_root), n))
            except FileNotFoundError:
                pass
    finally:
        os.remove(staged)
    _advance_latest(dst_root, v)
    return v


def snapshot_append_expect(
    spark: SparkSession,
    df: DataFrame,
    root: str,
    rules,
    on_violation: str = "fail",
    quarantine_root: str | None = None,
    tag: str | None = None,
    stats_cols: list[str] | None = None,
) -> dict:
    """EXPECTATIONS-gated append (the DLT ``expect`` /
    ``expect_or_drop`` / quarantine family as one batch operator):
    evaluate ``rules`` (a list of `operators.quality.RowRule`) over the
    batch in ONE projection (`tag_violations` — no shuffle), then:

    * ``on_violation="fail"`` — any violating row refuses the whole
      batch (per-rule counts in the error), nothing commits;
    * ``"drop"`` — clean rows append, violating rows are counted and
      discarded (DLT ``expect_or_drop``);
    * ``"quarantine"`` — clean rows append to ``root``, violating rows
      append to the ``quarantine_root`` snapshot table with a
      ``_violations array<string>`` column naming every failed rule —
      nothing is silently dropped and bad records carry WHY (the batch
      twin of `streaming.quarantine`).

    Returns ``{"version", "quarantine_version", "admitted",
    "quarantined", "violations": {rule: count}}`` — the DLT
    expectation-metrics row.  ``tag`` makes both appends idempotent
    (the quarantine append tags ``{tag}-q``).  The metrics pass and the
    two appends each scan the tagged batch once; pass a pre-persisted
    ``df`` to avoid recomputing an expensive upstream."""
    from pyspark.sql import functions as F

    from ..operators.quality import tag_violations

    if on_violation not in ("fail", "drop", "quarantine"):
        raise ValueError(
            "snapshot_append_expect: on_violation must be fail/drop/"
            f"quarantine, got {on_violation!r}"
        )
    if on_violation == "quarantine" and quarantine_root is None:
        raise ValueError(
            "snapshot_append_expect: quarantine mode needs a "
            "quarantine_root"
        )
    if not rules:
        raise ValueError("snapshot_append_expect: no rules given")
    tagged = tag_violations(df, rules).persist()
    try:
        counts = tagged.agg(
            F.count("*").alias("_total"),
            F.count(
                F.when(F.size("_violations") == 0, F.lit(1))
            ).alias("_clean"),
            *[
                F.count(
                    F.when(
                        F.array_contains("_violations", r.name), F.lit(1)
                    )
                ).alias(f"_r{i}")
                for i, r in enumerate(rules)
            ],
        ).collect()[0]
        violations = {
            r.name: counts[f"_r{i}"] for i, r in enumerate(rules)
        }
        n_bad = counts["_total"] - counts["_clean"]
        if on_violation == "fail" and n_bad:
            raise ValueError(
                f"snapshot_append_expect: {n_bad} row(s) violate "
                f"expectations {violations} — batch refused"
            )
        clean = tagged.filter(F.size("_violations") == 0).drop(
            "_violations"
        )
        v = snapshot_append(clean, root, tag=tag, stats_cols=stats_cols)
        qv = None
        if on_violation == "quarantine" and n_bad:
            qv = snapshot_append(
                tagged.filter(F.size("_violations") > 0),
                quarantine_root,
                tag=None if tag is None else f"{tag}-q",
            )
        return {
            "version": v,
            "quarantine_version": qv,
            "admitted": counts["_clean"],
            "quarantined": n_bad if on_violation == "quarantine" else 0,
            "violations": violations,
        }
    finally:
        tagged.unpersist()


def maintain_snapshot(
    spark: SparkSession,
    root: str,
    max_delete_files: int = 8,
    target_files: int | None = None,
    keep_last: int | None = None,
    vacuum_grace_s: float | None = None,
    target_file_bytes: int = 128 * 1024 * 1024,
    max_small_files: int | None = None,
    delete_mode: str = "major",
    max_manifest_entries: int | None = None,
) -> dict:
    """One-call table MAINTENANCE policy — the janitor a continuously
    merged table needs (Delta OPTIMIZE + VACUUM rolled together), meant
    for a cron/DAG step after streaming CDC:

    1. if the live manifest carries more than ``max_delete_files`` MoR
       delete files — or, with ``max_small_files`` set, more than that
       many files under ``target_file_bytes`` — `snapshot_compact`
       bin-packs them (read-side anti-join cost is proportional to
       accumulated deletes and scan cost to file count — this bounds
       both, and the rewrite touches ONLY those files: maintenance
       bytes ∝ small files + deletes, never the table).  With
       ``delete_mode="minor"`` a delete-file trigger instead runs
       `compact_delete_files` — merge the delete LISTS at metadata
       cost, leave data files merge-on-read — unless the small-file
       trigger also fired, which always takes the major path (minor
       compaction cannot fix file count);
    2. with ``max_manifest_entries`` set, a live payload referencing
       more data entries than that runs `compact_manifests` — merge the
       manifest ENTRY files at metadata cost (the version payload's
       entry-name list is the one O(commits) component of the two-level
       format; this is its janitor, Iceberg's RewriteManifests);
    3. if ``keep_last`` is set, `expire_versions` drops older manifests
       (never the live version);
    4. if ``vacuum_grace_s`` is set, `vacuum_orphans` reclaims
       unreferenced files older than the grace window.

    Each sub-step is independently idempotent and crash-safe (they are
    the existing primitives), so the policy inherits those guarantees;
    running it twice is a no-op.  Returns what it did:
    ``{"compacted": version|None, "manifests_merged": version|None,
    "expired": [...], "vacuumed": [...]}``.
    """
    if delete_mode not in ("major", "minor"):
        raise ValueError(
            f"maintain_snapshot: delete_mode={delete_mode!r} — expected "
            "'major' (bin-pack data files) or 'minor' (merge delete "
            "lists only)"
        )
    did: dict = {
        "compacted": None,
        "manifests_merged": None,
        "expired": [],
        "vacuumed": [],
    }
    cur = current_version(root)
    if cur is not None:
        m = _read_manifest(root, cur)
        n_del = len(m.get("delete_files") or [])
        rec_sizes = m.get("sizes") or {}
        n_small = sum(
            int(
                rec_sizes[f]
                if f in rec_sizes
                else os.path.getsize(os.path.join(root, f))
            )
            < target_file_bytes
            for f in m["files"]
        )
        trigger_small = (
            max_small_files is not None and n_small > max_small_files
        )
        trigger_del = n_del > max_delete_files
        if trigger_del and delete_mode == "minor" and not trigger_small:
            # MINOR first: merge the delete lists at metadata cost —
            # the right cron remedy when data files are healthy and
            # only the anti-join count grew (compact_delete_files's
            # docstring has the trade); falls back to nothing more —
            # rows stay merge-on-read until a major compact
            v = compact_delete_files(spark, root)
            did["compacted"] = v if v != cur else None
        elif trigger_del or trigger_small:
            tf = target_files
            if trigger_small and tf is not None:
                # the policy's goal is to get UNDER max_small_files: a
                # larger explicit target would make compact a no-op and
                # the janitor would decline forever
                tf = min(tf, max_small_files)
            v = snapshot_compact(
                spark,
                root,
                target_files=tf,
                target_file_bytes=target_file_bytes,
            )
            # compact no-ops (returns cur) when nothing would improve —
            # report only real commits so reruns read as idempotent
            did["compacted"] = v if v != cur else None
    if max_manifest_entries is not None:
        cur2 = current_version(root)
        if cur2 is not None:
            v = compact_manifests(root, max_entries=max_manifest_entries)
            did["manifests_merged"] = v if v != cur2 else None
    if keep_last is not None:
        did["expired"] = expire_versions(root, keep_last=keep_last)
    if vacuum_grace_s is not None:
        did["vacuumed"] = vacuum_orphans(root, min_age_s=vacuum_grace_s)
    return did


def run_streaming_snapshot_cdc_sink(
    stream_df: DataFrame,
    root: str,
    checkpoint_dir: str,
    keys: list[str],
    op_col: str = "_op",
    seq_col: str | None = None,
    honor_legacy_epoch_tags: bool = False,
) -> None:
    """EXACTLY-ONCE streaming CDC into a snapshot table via MERGE-ON-READ:
    each micro-batch applies `snapshot_mor_merge` with ``tag=
    f"epoch-{id}"``, so a checkpoint-recovery replay finds its tagged
    commit and no-ops — the streaming twin of the batch MoR merge, and
    the write-cheap alternative to replaying CDC through `apply_cdc`'s
    partition swaps when time travel / audit history of the merged table
    is wanted.  Per-epoch write cost is O(micro-batch) (upserts + one
    delete key list); compaction policy stays the consumer's knob.

    Tags are SCOPED to the stream identity (Delta's txnAppId pattern):
    the checkpoint path hashes into the tag, so two different streams
    feeding the same table can both start at epoch 0 without one
    swallowing the other's batches.  Re-running the SAME checkpoint
    path replays identically and no-ops; wiping a checkpoint while
    pointing NEW data at the same path violates the contract (as it
    does for every txn-dedup sink) — use a fresh checkpoint dir for a
    new feed."""
    app = _stream_app_id(checkpoint_dir)

    def handle(bdf: DataFrame, epoch_id: int) -> None:
        # Legacy unscoped 'epoch-N' tags are honored only behind the
        # EXPLICIT migration knob (read-only probe — never moves
        # _LATEST): by default an unscoped marker on the table belongs
        # to some other writer and honoring it would silently swallow
        # this stream's early epochs (ADVICE r6); a checkpoint that
        # genuinely predates tag scoping opts in once.
        if (
            honor_legacy_epoch_tags
            and _tagged_version(root, f"epoch-{int(epoch_id)}") is not None
        ):
            return
        snapshot_mor_merge(
            bdf.sparkSession,
            root,
            bdf,
            keys,
            op_col=op_col,
            tag=f"cdc-{app}-epoch-{int(epoch_id)}",
            seq_col=seq_col,
        )

    q = (
        stream_df.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_streaming_snapshot_sink(
    stream_df: DataFrame,
    root: str,
    checkpoint_dir: str,
    honor_legacy_epoch_tags: bool = False,
    partition_transforms: dict[str, str] | None = None,
    stats_cols: list[str] | None = None,
    sort_cols: list[str] | None = None,
) -> None:
    """EXACTLY-ONCE streaming appends onto a snapshot table: each
    micro-batch commits one tagged append (`tag=f"epoch-{id}"`), so a
    checkpoint-recovery replay of an epoch finds its tag already
    committed and becomes a no-op instead of duplicating rows — the
    manifest is the transaction log (the foreachBatch twin of the
    `_batch=<epoch>` partition trick, but with time travel and
    incremental scans of the result for free: consumers read each
    batch's delta via `read_snapshot_changes`).

    Tags are scoped to the stream identity via the checkpoint path
    (see `run_streaming_snapshot_cdc_sink` — same txnAppId pattern), so
    a second stream appending to the same table never collides with
    this one's epoch numbering.

    ``honor_legacy_epoch_tags`` is the EXPLICIT one-time migration knob
    for checkpoints that genuinely predate tag scoping (their epochs
    committed under unscoped ``epoch-N`` tags): when set, an epoch whose
    legacy marker exists is skipped — via a READ-ONLY marker probe, so
    the pre-check can never move _LATEST onto an abandoned lineage.  It
    defaults to OFF because on any table that merely HAPPENS to carry
    unscoped markers (written by a different stream or a batch job), the
    check would silently swallow this stream's epochs 0..K — the exact
    collision tag scoping exists to prevent (ADVICE r6).

    ``partition_transforms`` composes the sink with HIDDEN PARTITIONING
    (round 8): each epoch commits via `snapshot_append_partitioned`
    under the same exactly-once tag, so a continuously ingested table
    is partition-pruned from the first epoch — the transform column is
    never stored, the spec lives in the table layout, and downstream
    `read_snapshot_pruned(partition_eq=…)` / `snapshot_partitions`
    work mid-stream.  ``stats_cols``/``sort_cols`` pass through on
    either path: partitioned epochs sort within their partition
    groups; an unpartitioned epoch with ``sort_cols`` commits via
    `snapshot_append_clustered` (range-partitioned, sorted, stats
    recorded) so stats pruning holds on the plain path too."""
    app = _stream_app_id(checkpoint_dir)

    def handle(bdf: DataFrame, epoch_id: int) -> None:
        if (
            honor_legacy_epoch_tags
            and _tagged_version(root, f"epoch-{int(epoch_id)}") is not None
        ):
            return
        tag = f"append-{app}-epoch-{int(epoch_id)}"
        if partition_transforms:
            snapshot_append_partitioned(
                bdf,
                root,
                partition_transforms,
                stats_cols=stats_cols,
                tag=tag,
                sort_cols=sort_cols,
            )
        elif sort_cols:
            snapshot_append_clustered(
                bdf, root, sort_cols, tag=tag, stats_cols=stats_cols
            )
        else:
            snapshot_append(bdf, root, tag=tag, stats_cols=stats_cols)

    q = (
        stream_df.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()



def _check_compact_hop(m: dict, op_name: str) -> None:
    """Shared consistency check for every consumer that SKIPS a
    row-content-preserving major-compaction hop (`read_snapshot_changes`,
    `read_snapshot_cdf`, and the streaming source's two modes): a
    compact commit FOLDS MoR deletes, never adds them — one carrying
    delete files violates the invariant the skip relies on, so fail
    loudly instead of emitting wrong events."""
    if m.get("delete_files"):
        raise ValueError(
            f"{op_name}: v{m['version']} compact commit carries delete "
            "files — inconsistent manifest"
        )


def _hop_chain(
    root: str, from_version: int, to_version: int, op_name: str
) -> list[dict]:
    """The manifests from ``from_version`` to ``to_version`` inclusive,
    oldest first, walking the parent DAG (metadata only); raises if
    ``from_version`` is not an ancestor of ``to_version`` — the shared
    walk under `read_snapshot_changes` and `read_snapshot_cdf`."""
    chain = [_read_manifest(root, to_version)]
    while chain[-1]["version"] != from_version:
        parent = chain[-1]["parent"]
        if parent is None or parent < from_version:
            raise ValueError(
                f"{op_name}: v{from_version} is not an ancestor of "
                f"v{to_version}"
            )
        chain.append(_read_manifest(root, parent))
    chain.reverse()
    return chain


def read_snapshot_changes(
    spark: SparkSession, root: str, from_version: int, to_version: int
) -> DataFrame:
    """Incremental scan: the rows ADDED between two versions of an
    append lineage, read from ONLY the file-set difference — O(delta)
    I/O no matter how large the table (the consumer pattern a changelog
    feeds; with manifests it needs no changelog at all).

    Walks the parent DAG from ``to_version`` back to ``from_version``
    and requires every hop to be an append (parent's files ⊆ child's);
    an overwrite in between means the delta is NOT expressible as
    added-files — fail loudly and let the caller fall back to
    `diff_tables`/`generate_cdc_feed` on the two time-traveled reads.

    MAJOR-COMPACTION hops (``operation="compact"``) are SKIPPED, not
    refused: the rewrite is row-content-preserving by construction, so
    it adds no rows — and the deletes it folds necessarily predate
    ``from_version`` (an in-range delete commit already fails the
    delete-set check on its own hop), and a delete at sequence S can
    never kill rows in files committed after S (the sequence rule), so
    the in-range added rows are untouched.  The added set therefore
    accumulates PER HOP (a file the compaction later rewrote away is
    still read — it is immutable and stays referenced by its pre-compact
    manifest until retention expires it)."""

    def _delkey(man: dict) -> set:
        return {
            (d["file"], d["seq"]) for d in man.get("delete_files") or []
        }

    chain = _hop_chain(root, from_version, to_version, "read_snapshot_changes")
    to_m = chain[-1]
    added: list[str] = []
    for pm, m in zip(chain, chain[1:]):
        if m.get("operation") == "compact":
            _check_compact_hop(m, "read_snapshot_changes")
            continue  # row-content-preserving: contributes no added rows
        if not set(pm["files"]) <= set(m["files"]):
            raise ValueError(
                f"read_snapshot_changes: v{m['version']} overwrote "
                f"v{pm['version']} — the delta is not append-only; diff "
                "the time-traveled reads instead"
            )
        if _delkey(m) != _delkey(pm):
            # ANY delete-set change breaks added-rows semantics: an
            # added delete file removes rows, and a restore that DROPS
            # delete files (undoing a delete-where) resurrects rows —
            # both invisible to a file-set diff, so both must fail loud
            raise ValueError(
                f"read_snapshot_changes: v{m['version']} changed the "
                "MoR delete-file set — the delta is not expressible as "
                "added rows; read_snapshot_cdf carries those hops as "
                "insert/delete events"
            )
        pf = set(pm["files"])
        added.extend(f for f in m["files"] if f not in pf)
    new_files = sorted(set(added))
    if not new_files:
        return read_snapshot(
            spark, root, to_version, _allow_mor_raw=True
        ).limit(0)  # schema-only: no rows surface
    return spark.read.parquet(
        *[os.path.join(root, f) for f in new_files]
    )


def read_snapshot_cdf(
    spark: SparkSession,
    root: str,
    from_version: int,
    to_version: int,
) -> DataFrame:
    """CHANGE DATA FEED between two versions, MoR-aware — the rows a
    downstream mirror must apply to advance from ``from_version``'s
    state to ``to_version``'s, one event row per changed table row per
    commit, tagged ``_change_type`` ('insert' | 'delete') and
    ``_commit_version`` (Delta CDF / Iceberg changelog-view shape;
    reference consumers poll db_operations.py's merged tables — this is
    the incremental form of that read).

    `read_snapshot_changes` covers append-only hops at O(added files);
    this generalizes to hops that ADD MoR delete files (`mor-merge`,
    `delete-where`): an upsert surfaces as its delete(pre-image) +
    insert(new row) pair — exactly the event stream
    `apply_cdc_batch`-style consumers replay.  Per-hop cost:

    - inserts: read ONLY the files the commit added — O(delta);
    - equality-delete events: the as-of-parent MoR read semi-joined
      with the commit's (broadcast-sized) key lists — a scan bounded
      by the PARENT's file set and STATS-PRUNED to the files whose
      recorded min/max overlap the delete lists' key range (footer
      metadata only; skipped if a list carries NULL keys or stats are
      missing), never a diff of two full table reads;
    - position-delete events: read ONLY the files the list references.

    Minor-compaction hops (``compact-deletes``) rewrite delete lists
    without changing row content — they emit nothing.  Hops that
    REMOVE data files or delete entries (overwrite, restore, major
    compaction) are not expressible as row changes: fail loudly and
    let the caller diff time-traveled MoR reads.  Schema evolution:
    ADD-only hops are transparent (columns pad as NULL, the
    merge-schema rule); a RENAME or DROP inside the range refuses —
    events on the two sides would carry different names for the same
    field — with instructions to split the range at the boundary
    (Delta's column-mapping CDF posture).  Equality-delete events
    resolve their key columns through field ids, so deletes recorded
    before an OLD rename still join the current logical names.

    REPLAY CONTRACT: within one ``_commit_version``, apply the
    'delete' events BEFORE the 'insert' events — an upsert's
    delete(pre-image) must precede its insert, or a keyed mirror drops
    the key it just upserted.  Across commits, order by
    ``_commit_version`` ascending.  (The DataFrame itself carries no
    row order; the consumer sorts by these two columns.)

    ``from_version=-1`` bootstraps a consumer: the whole as-of-
    ``to_version`` table as one insert batch at ``to_version``."""
    import pyarrow.parquet as _pq
    from pyspark.sql import functions as F

    def _guard(cols) -> None:
        if {"_change_type", "_commit_version"} & set(cols):
            raise ValueError(
                "read_snapshot_cdf: table already has a _change_type/"
                "_commit_version column"
            )

    if from_version > to_version:
        raise ValueError(
            f"read_snapshot_cdf: from_version={from_version} > "
            f"to_version={to_version}"
        )
    if from_version < 0:
        base = read_snapshot_mor(spark, root, to_version, merge_schema=True)
        _guard(base.columns)
        return base.select(
            *base.columns,
            F.lit("insert").alias("_change_type"),
            F.lit(int(to_version)).cast("bigint").alias("_commit_version"),
        )
    chain = _hop_chain(root, from_version, to_version, "read_snapshot_cdf")
    m, hops = chain[0], chain[1:]

    def _dels(man: dict) -> dict[str, dict]:
        return {d["file"]: d for d in man.get("delete_files") or []}

    out: DataFrame | None = None

    def emit(df: DataFrame, change: str, v: int) -> None:
        nonlocal out
        _guard(df.columns)
        df = df.select(
            *df.columns,
            F.lit(change).alias("_change_type"),
            F.lit(v).cast("bigint").alias("_commit_version"),
        )
        # allowMissingColumns: hops on a lineage with ADDITIVE schema
        # drift (plain appends that widened the schema) union with the
        # missing columns as NULL — the same padding a merge-schema
        # batch read gives (ADVICE r7)
        out = (
            df
            if out is None
            else out.unionByName(df, allowMissingColumns=True)
        )

    prev = m
    for cm in hops:
        v, op = int(cm["version"]), cm.get("operation")
        # schema evolution across the range: ADD-only hops are
        # transparent (missing columns pad as NULL, exactly the
        # merge-schema batch read); a RENAME or DROP inside the range
        # is a schema boundary — events before and after it would
        # carry different column names for the same field, so the
        # caller must split the range at the boundary (Delta CDF's
        # column-mapping posture).  Both manifests carrying fields
        # diff exactly by (id, name) pairs; a BOOTSTRAP evolve hop has
        # no parent fields to diff, so the evolve breadcrumb decides
        # (no breadcrumb = a pre-composition commit: conservative).
        pf, cf = prev.get("fields"), cm.get("fields")
        if (cf or None) != (pf or None):
            if pf and cf:
                old_ids = {x["id"] for x in pf}
                additive = {(x["id"], x["name"]) for x in pf} <= {
                    (x["id"], x["name"]) for x in cf
                } and not any(
                    # an add WITH a non-null INITIAL DEFAULT changes
                    # the VISIBLE VALUES of every pre-add row (they
                    # read the default from this hop on) — a change no
                    # added-file diff can express, so it is a boundary
                    # exactly like a rename
                    x["id"] not in old_ids and x.get("default") is not None
                    for x in cf
                )
            elif pf and not cf:
                additive = False  # fields vanished (restore-like hop)
            else:
                ev = cm.get("evolve")
                # a bootstrap evolve's fields all originate from THIS
                # hop (footers carry no defaults), so any recorded
                # default IS a defaulted add — detected from cf itself,
                # which covers hops committed by pre-round-10 builds
                # whose breadcrumb predates the boundary rule
                additive = (
                    ev is not None
                    and not (ev.get("renamed") or ev.get("dropped"))
                    and not any(
                        x.get("default") is not None for x in cf or []
                    )
                )
            if not additive:
                raise ValueError(
                    f"read_snapshot_cdf: v{v} renames, drops, or adds "
                    "a defaulted column — events across the boundary "
                    "would mislabel or silently re-value rows; split "
                    "the range at this version and read each side "
                    "under its own schema"
                )
        if op == "compact-deletes":
            # delete LISTS rewritten, row content identical — no events
            if set(cm["files"]) != set(prev["files"]):
                raise ValueError(
                    f"read_snapshot_cdf: v{v} compact-deletes commit "
                    "changed the data file set — inconsistent manifest"
                )
            prev = cm
            continue
        if op == "compact":
            # MAJOR compaction is row-content-preserving by construction
            # (the rewrite reads THROUGH the delete files), so the hop
            # emits no events: the folded deletes already streamed as
            # events when their own commits crossed this feed — skipping
            # is what keeps a live CDF consumer (and every replication
            # mirror) alive across cron maintenance instead of forcing a
            # re-bootstrap.  Consistency: a compact commit folds deletes,
            # never adds them.
            _check_compact_hop(cm, "read_snapshot_cdf")
            prev = cm
            continue
        if not set(prev["files"]) <= set(cm["files"]):
            raise ValueError(
                f"read_snapshot_cdf: v{v} ({op}) removed or rewrote "
                "data files — not expressible as row changes; diff the "
                "time-traveled MoR reads instead"
            )
        if not set(_dels(prev)) <= set(_dels(cm)):
            raise ValueError(
                f"read_snapshot_cdf: v{v} ({op}) dropped MoR delete "
                "files — rows were resurrected; diff the time-traveled "
                "MoR reads instead"
            )
        pv = int(prev["version"])
        new_dels = [
            d for f, d in _dels(cm).items() if f not in _dels(prev)
        ]
        eq_by_keys: dict[tuple, list[dict]] = {}
        pos_lists: list[dict] = []
        for d in new_dels:
            kind = d.get("kind")
            if kind == "position":
                pos_lists.append(d)
            elif kind == "equality-multi":
                raise ValueError(
                    f"read_snapshot_cdf: v{v} ({op}) added a minor-"
                    "compacted delete list outside a compact-deletes "
                    "commit — inconsistent manifest"
                )
            else:
                eq_by_keys.setdefault(
                    _resolve_delete_keys(cm, d), []
                ).append(d)
        # the UNPRUNED as-of-parent read, built lazily and shared by
        # every key set the stats cannot bound
        pre_all: DataFrame | None = None

        def _pre_unpruned() -> DataFrame:
            nonlocal pre_all
            if pre_all is None:
                pre_all = read_snapshot_mor(
                    spark, root, pv, merge_schema=True
                )
            return pre_all

        pstats = prev.get("stats") or {}
        for key_tuple, dels in eq_by_keys.items():
            side = None
            # the delete lists' key RANGE from their footers (no data
            # read) — lets the pre-image scan skip parent files whose
            # recorded stats are provably disjoint.  Sound only when no
            # list carries NULL keys (footer min/max exclude nulls, but
            # eqNullSafe deletes match them) and every list has usable
            # stats; otherwise fall back to the full parent scan.
            rng: dict[str, list] | None = {}
            for d in dels:
                p = os.path.join(root, d["file"])
                phys = list(d["keys"])  # the FILE's own column names
                one = _project_delete_keys(
                    spark.read.parquet(p), d, key_tuple
                )
                side = one if side is None else side.unionByName(one)
                if rng is None:
                    continue
                if _pq.read_metadata(p).num_rows == 0:
                    continue  # an empty part-file claims no keys
                if _has_null_values(p, phys):
                    rng = None
                    continue
                st = _file_stats(p, phys)
                if not st or any(pk not in st for pk in phys):
                    # a list with ANY stats-less key column (including
                    # a NaN-poisoned float fold) must disable pruning
                    # outright: folding only the OTHER lists would
                    # silently NARROW the range and skip pre-image
                    # files this list's keys actually hit (round 12 —
                    # previously a per-column `continue` did exactly
                    # that)
                    rng = None
                    continue
                for pk, lg in zip(phys, key_tuple):
                    klo, khi = st[pk][0], st[pk][1]
                    cur_r = rng.get(lg)
                    rng[lg] = (
                        [klo, khi]
                        if cur_r is None
                        else [min(cur_r[0], klo), max(cur_r[1], khi)]
                    )
            side = side.dropDuplicates(list(key_tuple))
            if rng and pstats:
                # data-file stats are keyed by each file's PHYSICAL
                # names — translate the logical range column through
                # the field-id binding per file (the read_snapshot_pruned
                # rule), so a recycled name can never alias another
                # column's stats into a wrong skip of pre-image files
                pfields = prev.get("fields")
                pn2i = {x["name"]: x["id"] for x in pfields or []}
                pff = prev.get("file_fields") or {}

                def _sk(f: str, logical: str) -> str | None:
                    if not pfields:
                        return logical
                    fid = pn2i.get(logical)
                    if fid is None:
                        return None
                    for phys, i in (pff.get(f) or {}).items():
                        if i == fid:
                            return phys
                    return None

                keep = []
                for f in prev["files"]:
                    fst = pstats.get(f) or {}
                    ok = True
                    for c, (klo, khi) in rng.items():
                        sk = _sk(f, c)
                        r2 = fst.get(sk) if sk is not None else None
                        # a file without recorded stats makes no
                        # claims; float stats claim only with NaN-
                        # absence evidence (a legacy fold can
                        # understate the finite span — round 12)
                        if (
                            r2 is not None
                            and _nan_free(r2)
                            and (r2[0] > khi or r2[1] < klo)
                        ):
                            ok = False
                            break
                    if ok:
                        keep.append(f)
                if not keep:
                    continue  # provably no pre-image rows — no events
                pre = (
                    read_snapshot_mor(
                        spark, root, pv, merge_schema=True, _files=keep
                    )
                    if len(keep) < len(prev["files"])
                    else _pre_unpruned()
                )
            else:
                pre = _pre_unpruned()
            # eqNullSafe, like the MoR read: NULL-keyed rows must emit
            # their delete event too
            cond = functools.reduce(
                lambda a, b: a & b,
                [pre[k].eqNullSafe(side[k]) for k in key_tuple],
            )
            emit(
                pre.join(F.broadcast(side), cond, "left_semi"),
                "delete",
                v,
            )
        for d in pos_lists:
            side = spark.read.parquet(os.path.join(root, d["file"]))
            depth = int(d.get("path_depth", 3))
            if depth != 2:
                # legacy lists key files by a longer path suffix:
                # translate to the canonical 2-segment key through the
                # manifest (metadata-sized broadcast map)
                trans = {
                    "/".join(f.split(os.sep)[-depth:]): "/".join(
                        f.split(os.sep)[-2:]
                    )
                    for f in prev["files"]
                }
                if len(trans) != len(prev["files"]):
                    raise ValueError(
                        f"read_snapshot_cdf: v{v} duplicate "
                        f"{depth}-segment file suffixes — cannot "
                        "translate the legacy position-delete list"
                    )
                tmap = spark.createDataFrame(
                    list(trans.items()), "_file_old STRING, _file STRING"
                )
                side = (
                    side.withColumnRenamed("_file", "_file_old")
                    .join(F.broadcast(tmap), "_file_old")
                    .select("_file", "_pos")
                )
            # referenced files only: the distinct file keys are bounded
            # by the manifest's file count (driver-side, metadata-sized)
            refs = {r._file for r in side.select("_file").distinct().collect()}
            if not refs:
                # multi-partition delete batches can emit EMPTY position
                # list part-files (the num_rows==0 footer-stats rule):
                # no references, no events — and a zero-path parquet
                # scan would crash, not no-op
                continue
            touched = [
                f
                for f in prev["files"]
                if "/".join(f.split(os.sep)[-2:]) in refs
            ]
            pre = read_snapshot_mor(
                spark,
                root,
                pv,
                merge_schema=True,
                _keep_coords=True,
                _files=touched,
            )
            joined = pre.join(
                F.broadcast(side),
                (pre["_file"] == side["_file"]) & (pre["_pos"] == side["_pos"]),
                "left_semi",
            )
            emit(joined.drop("_file", "_pos"), "delete", v)
        new_files = sorted(set(cm["files"]) - set(prev["files"]))
        if new_files:
            emit(
                spark.read.option("mergeSchema", True).parquet(
                    *[os.path.join(root, f) for f in new_files]
                ),
                "insert",
                v,
            )
        prev = cm
    if out is None:
        base = read_snapshot_mor(
            spark, root, to_version, merge_schema=True
        ).limit(0)
        _guard(base.columns)
        return base.select(
            *base.columns,
            F.lit("insert").alias("_change_type"),
            F.lit(0).cast("bigint").alias("_commit_version"),
        )
    return out


def refresh_incremental_agg(
    spark: SparkSession,
    root: str,
    view_path: str,
    group_cols: list[str],
    sum_cols: list[str],
) -> int | None:
    """Incremental materialized-view maintenance over a snapshot table:
    a grouped SUM/COUNT view refreshed by consuming ONLY the rows added
    since the last refresh (`read_snapshot_changes` on the append
    lineage), merged into the stored view by addition.  The processed-
    version marker is written INSIDE the staged view directory
    (``_PROCESSED_VERSION``, skipped by Spark's file listing), so the
    `publish_atomic` swap carries view and marker in ONE rename — a
    crash can never leave a merged view whose marker still points at
    the old version (which would re-merge the same delta and silently
    double-count on the next refresh).  A legacy sidecar marker
    (``<view>._processed``) is honored once for migration.

    Per-refresh work ∝ the delta + the view size — never the table.
    Restricted to ADDITIVE aggregates (sums + the `n` rowcount), which
    is what makes delta-merge correct; avg/min/max need the
    full-recompute path.  If the lineage broke (an overwrite between
    refreshes), `read_snapshot_changes` fails loudly and the caller
    falls back to a full rebuild — never a silent wrong view.  The view
    itself is batch-bit-identical to a from-scratch aggregation (sums
    stay in Spark's decimal/long domain; tested).

    Returns the new processed version (None if already current)."""
    cur = current_version(root)
    if cur is None:
        raise FileNotFoundError(f"refresh_incremental_agg: no table at {root}")
    done = _view_processed_version(view_path)
    if done == cur:
        return None
    if done is None:
        # bootstrap reads MoR-aware: a table built with snapshot_mor_merge
        # must not seed the view with deleted/superseded rows (no delete
        # files -> identical to the plain read)
        merged = _view_partial(
            read_snapshot_mor(spark, root, cur), group_cols, sum_cols
        )
    else:
        delta = _view_partial(
            read_snapshot_changes(spark, root, done, cur),
            group_cols,
            sum_cols,
        )
        merged = _view_merge(
            spark.read.parquet(view_path), delta, group_cols, sum_cols
        )
    _publish_view(merged, view_path, cur)
    return cur


def _view_partial(
    df: DataFrame, group_cols: list[str], sum_cols: list[str]
) -> DataFrame:
    """The view's aggregate shape — ONE spelling shared by both
    refresh paths so they cannot diverge."""
    from pyspark.sql import functions as F

    return df.groupBy(*group_cols).agg(
        F.count("*").alias("n"),
        *[F.sum(c).alias(c) for c in sum_cols],
    )


def _view_merge(
    stored: DataFrame,
    delta: DataFrame,
    group_cols: list[str],
    sum_cols: list[str],
) -> DataFrame:
    """Merge a (possibly signed) delta into the stored view by
    addition."""
    from pyspark.sql import functions as F

    return (
        stored.unionByName(delta)
        .groupBy(*group_cols)
        .agg(
            F.sum("n").alias("n"),
            *[F.sum(c).alias(c) for c in sum_cols],
        )
    )


#: processed-version marker carried INSIDE the staged view directory —
#: see refresh_incremental_agg's crash-safety rationale
_VIEW_MARKER = "_PROCESSED_VERSION"


def _view_processed_version(view_path: str) -> int | None:
    """The view's processed-version marker (None = never refreshed);
    honors the legacy sidecar layout once for migration."""
    try:
        with open(os.path.join(view_path, _VIEW_MARKER)) as fh:
            return int(fh.read().strip())
    except FileNotFoundError:
        try:
            with open(view_path.rstrip("/") + "._processed") as fh:
                return int(fh.read().strip())
        except FileNotFoundError:
            return None


def _publish_view(
    merged: DataFrame,
    view_path: str,
    cur: int,
    extra_marker: dict | None = None,
) -> None:
    """Atomic view swap carrying the marker — and any caller-supplied
    extra marker files (the catalog's definition fingerprint) — in the
    SAME rename, plus the one-time legacy-sidecar retirement."""
    from . import io as eio

    eio.publish_atomic(
        merged,
        view_path,
        extra_files={
            _VIEW_MARKER: str(cur),
            **{k: str(v) for k, v in (extra_marker or {}).items()},
        },
    )
    try:  # the marker now travels with the view — retire the sidecar
        os.remove(view_path.rstrip("/") + "._processed")
    except FileNotFoundError:
        pass


def classify_cdf_updates(
    events: DataFrame, keys: list[str]
) -> DataFrame:
    """Delta-CDF parity pass over a `read_snapshot_cdf` feed: pair each
    commit's delete(pre-image) with its same-key insert into
    ``update_preimage`` / ``update_postimage`` events, leaving true
    deletes and inserts as-is — the four-valued ``_change_type`` Delta's
    ``table_changes()`` emits, derived from the two-valued feed plus
    the table's merge ``keys`` (the feed itself stays key-agnostic:
    the format never assumes one key set per table).

    Pure column algebra — one window per side keyed by (commit, key):
    a delete and an insert of the same key in the same commit are an
    upsert's two halves (`snapshot_mor_merge` writes exactly one delete
    list row and at most one insert per key per commit, and
    `read_snapshot_cdf` emits each pre-image once), so a presence flag
    from a self-aggregation suffices; no join back to data files.
    NULL keys pair via null-safe grouping (a NULL-keyed upsert is still
    an update).  The REPLAY CONTRACT is unchanged: within a commit,
    apply pre-images before post-images."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    sfx = uuid.uuid4().hex[:8]
    has_del, has_ins = f"_has_del_{sfx}", f"_has_ins_{sfx}"
    w = Window.partitionBy("_commit_version", *keys)
    is_del = F.col("_change_type") == "delete"
    is_ins = F.col("_change_type") == "insert"
    out = (
        events.withColumn(has_del, F.max(is_del).over(w))
        .withColumn(has_ins, F.max(is_ins).over(w))
        .withColumn(
            "_change_type",
            F.when(
                is_del & F.col(has_ins), F.lit("update_preimage")
            )
            .when(is_ins & F.col(has_del), F.lit("update_postimage"))
            .otherwise(F.col("_change_type")),
        )
        .drop(has_del, has_ins)
    )
    return out


def refresh_incremental_agg_cdf(
    spark: SparkSession,
    root: str,
    view_path: str,
    group_cols: list[str],
    sum_cols: list[str],
    extra_marker: dict | None = None,
) -> int | None:
    """`refresh_incremental_agg` for tables whose history carries MoR
    DELETES — incremental materialized-view maintenance over a CDC
    table: the delta is the CHANGE DATA FEED (`read_snapshot_cdf`), and
    delete events RETRACT (insert events count +1/+value, pre-image
    delete events count -1/-value — an upsert's delete+insert pair nets
    to the value change), so the merged view equals a from-scratch
    aggregate over the merged table after every refresh.  Groups whose
    rowcount retracts to zero are dropped, exactly like the recompute.

    Same crash-safe marker-inside-the-swap discipline, same additive
    restriction (sums + rowcount; min/max cannot retract), same
    work ∝ delta + view — pass exact-typed sum columns (decimal/long)
    for bit-identity with the one-shot aggregate.  Hops the CDF cannot
    express (overwrite, restore, major compaction) fail loudly toward
    a full rebuild.  Returns the new processed version (None if
    current)."""
    from pyspark.sql import functions as F

    cur = current_version(root)
    if cur is None:
        raise FileNotFoundError(
            f"refresh_incremental_agg_cdf: no table at {root}"
        )
    done = _view_processed_version(view_path)
    if done == cur:
        return None
    if done is None:
        merged = _view_partial(
            read_snapshot_mor(spark, root, cur), group_cols, sum_cols
        )
    else:
        events = read_snapshot_cdf(spark, root, done, cur)
        is_del = F.col("_change_type") == "delete"
        # retraction by NEGATION, not sign multiplication: -decimal
        # keeps the exact column type, while INT * decimal(28,10)
        # widens past precision 38 and silently rounds the last digit
        delta = events.groupBy(*group_cols).agg(
            F.sum(F.when(is_del, F.lit(-1)).otherwise(F.lit(1))).alias("n"),
            *[
                F.sum(
                    F.when(is_del, -F.col(c)).otherwise(F.col(c))
                ).alias(c)
                for c in sum_cols
            ],
        )
        merged = _view_merge(
            spark.read.parquet(view_path), delta, group_cols, sum_cols
        ).filter(  # a fully-retracted group must VANISH, like the recompute
            F.col("n") != 0
        )
    _publish_view(merged, view_path, cur, extra_marker)
    return cur


def snapshot_files(
    spark: SparkSession, root: str, version: int | None = None
) -> DataFrame:
    """The FILES metadata table (Iceberg's ``<table>.files`` /
    Delta's DESCRIBE DETAIL at file grain): one row per file the
    manifest references — data files AND MoR delete lists — with the
    planning metadata an operator tunes compaction/pruning by:

    ``file`` (table-relative path), ``content`` ('data' | 'deletes'),
    ``seq`` (committing version; NULL for minor-compacted delete lists,
    whose sequences ride per row), ``bytes`` (on-disk size), ``n_rows``
    (parquet footer count — metadata only, no data read),
    ``partition`` (recorded hidden-partition values) and ``stats``
    (per-column [min, max] as strings, as recorded in the manifest).

    Driver-side construction bounded by FILE COUNT (footers + manifest,
    never data) — the same budget every planning read already spends;
    register the result as a temp view for the SQL surface."""
    import pyarrow.parquet as pq

    v = current_version(root) if version is None else version
    if v is None:
        raise FileNotFoundError(f"snapshot_files: no version at {root}")
    m = _read_manifest(root, v)
    fseq = m.get("file_seq") or {}
    pvals = m.get("partition_values") or {}
    stats = m.get("stats") or {}
    rows = []

    def _one(f: str, content: str, seq: int | None) -> None:
        path = os.path.join(root, f)
        rows.append(
            {
                "file": f,
                "content": content,
                "seq": seq,
                "bytes": os.path.getsize(path),
                "n_rows": pq.read_metadata(path).num_rows,
                # NULL transform values stay NULL (a file in the
                # default partition must answer `partition['b'] IS
                # NULL`, and the string 'None' would shadow a genuine
                # value)
                "partition": {
                    k: (None if x is None else str(x))
                    for k, x in (pvals.get(f) or {}).items()
                },
                "stats": {
                    # [min, max] only — a float entry's recorded NaN
                    # count is an internal trust marker, not a bound
                    c: [str(st[0]), str(st[1])]
                    for c, st in (stats.get(f) or {}).items()
                },
            }
        )

    for f in m["files"]:
        _one(f, "data", int(fseq.get(f, 0)))
    for d in m.get("delete_files") or []:
        s = d.get("seq")
        _one(
            d["file"],
            "deletes",
            None if d.get("kind") == "equality-multi" else int(s),
        )
    return spark.createDataFrame(
        rows,
        "file STRING, content STRING, seq BIGINT, bytes BIGINT, "
        "n_rows BIGINT, partition MAP<STRING,STRING>, "
        "stats MAP<STRING,ARRAY<STRING>>",
    )


def snapshot_stats_agg(
    spark: SparkSession,
    root: str,
    cols: list[str],
    version: int | None = None,
) -> DataFrame:
    """Metadata-only aggregation — ``COUNT(*)`` / ``MIN`` / ``MAX``
    answered from the MANIFEST alone, zero data-file reads (pinned in
    tests by chmod-ing the data files unreadable): Iceberg's aggregate
    pushdown, the reason a 100 TB table answers ``SELECT count(*)`` in
    milliseconds.  Per-file row counts are recorded at commit time
    (entry ``rows``); min/max come from the recorded per-file stats
    (``stats_cols`` at write time).

    STRICT by design — refuses loudly instead of silently scanning:
    * MoR delete files present → counts/extremes would be stale
      (compact first, or run the real aggregation);
    * a file without a recorded row count (pre-row-recording commits)
      or without recorded stats for a requested column → the metadata
      cannot answer (re-commit/compact with ``stats_cols``, or scan);
    * schema-evolved tables → recorded stats are keyed by PHYSICAL
      column names, which renames recycle.

    Empty files claim nothing and are skipped; an empty table answers
    ``n_rows = 0`` with NULL extremes.  Returns one row: ``n_rows``,
    then ``min_<c>``/``max_<c>`` per requested column, typed by the
    stats' JSON-primitive coercion (ints/floats native, dates and
    timestamps as their recorded ISO-8601 strings).

    The driver-side fold is exposed as `_stats_agg_values` (same
    refusals, plain Python values) so the SQL metadata fast path can
    answer without a DataFrame round-trip."""
    n_rows, extremes = _stats_agg_values(root, cols, version)
    vals: list = [n_rows]
    fields = ["n_rows BIGINT"]

    def _sql_type(x) -> str:
        if isinstance(x, bool) or x is None:
            return "STRING"
        if isinstance(x, int):
            return "BIGINT"
        if isinstance(x, float):
            return "DOUBLE"
        return "STRING"

    for c in cols:
        lo, hi = extremes[c]
        vals.extend([lo, hi])
        ty = _sql_type(lo)
        fields.extend([f"min_{c} {ty}", f"max_{c} {ty}"])
    if not any(isinstance(v, float) and v != v for v in vals):
        # pandas/Arrow path → LocalRelation: collect is a driver-side
        # copy instead of a scheduled RDD job (~0.04 s vs ~1.2 s
        # measured, round 12); object dtype keeps None as NULL.  A
        # NaN extreme would convert to NULL there — exact path then;
        # same fallback on any Arrow conversion surprise.
        try:
            import pandas as pd

            return spark.createDataFrame(
                pd.DataFrame([list(vals)], dtype=object),
                ", ".join(fields),
            )
        except Exception:
            pass
    return spark.createDataFrame([tuple(vals)], ", ".join(fields))


def _fold_sum(cur: tuple, sv) -> tuple:
    """Fold one ``(sum, n_nonnull)`` contribution into an accumulator
    pair — the ONE place NULL-sum semantics live (review, round 13):
    the running sum stays None until the first non-null contribution,
    exactly as Spark's SUM returns NULL over zero non-null values;
    values coerce through int() so recorded JSON numerics and
    boundary-scan Decimals fold in arbitrary precision."""
    s0, n0 = cur
    return (
        (int(sv[0]) if s0 is None else s0 + int(sv[0]))
        if int(sv[1]) > 0
        else s0,
        n0 + int(sv[1]),
    )


def _stats_agg_values(
    root: str,
    cols: list[str],
    version: int | None = None,
    temporal_cols: dict | None = None,
) -> tuple[int, dict]:
    """`snapshot_stats_agg`'s driver-side fold: ``(n_rows, {col: (lo,
    hi)})`` as plain Python values — same strict refusals, no Spark
    round-trip (the SQL metadata fast path answers from this
    directly).

    ``temporal_cols`` (round 13 — the watermark query ``SELECT
    MAX(ts) FROM t``): ``{col: 'date'|'timestamp'}`` converts that
    column's recorded ISO stat strings to typed date/naive-UTC
    datetime values via `_typed_temporal_stat` BEFORE folding, so the
    fold is temporal-exact rather than trusting ISO lexicographic
    order (mixed tz-suffix recordings from foreign writers would
    break the string order).  An unparseable recorded stat refuses
    loudly.  The CALLER gates timestamp columns on a UTC session."""
    v = current_version(root) if version is None else version
    if v is None:
        raise FileNotFoundError(f"snapshot_stats_agg: no version at {root}")
    m = _read_manifest(root, v)
    if m.get("delete_files"):
        raise ValueError(
            "snapshot_stats_agg: table has MoR delete files — metadata "
            "counts/extremes would be stale; compact first or aggregate "
            "the MoR read"
        )
    if m.get("fields"):
        raise ValueError(
            "snapshot_stats_agg: table is schema-evolved — recorded "
            "stats are keyed by physical names; aggregate the read "
            "instead"
        )
    rows_rec = m.get("rows") or {}
    stats = m.get("stats") or {}
    n_rows = 0
    live: list[str] = []
    for f in m["files"]:
        r = rows_rec.get(f)
        if r is None:
            raise ValueError(
                f"snapshot_stats_agg: no recorded row count for {f} "
                "(commit predates row recording) — compact the table "
                "or aggregate the read"
            )
        n_rows += int(r)
        if r > 0:
            live.append(f)
    extremes: dict = {}
    for c in cols:
        lo = hi = None
        for f in live:
            st = (stats.get(f) or {}).get(c)
            if st is None:
                raise ValueError(
                    f"snapshot_stats_agg: no recorded stats for column "
                    f"{c!r} in {f} — write with stats_cols=[...] (or "
                    "compact with them) to enable metadata min/max"
                )
            flo, fhi = st[0], st[1]
            kind = (temporal_cols or {}).get(c)
            if kind is not None:
                flo = _typed_temporal_stat(flo, kind)
                fhi = _typed_temporal_stat(fhi, kind)
                if flo is None or fhi is None:
                    raise ValueError(
                        f"snapshot_stats_agg: recorded stats for "
                        f"{c!r} in {f} do not parse as {kind} — "
                        "aggregate the read"
                    )
                lo = flo if lo is None else min(lo, flo)
                hi = fhi if hi is None else max(hi, fhi)
                continue
            # NaN refusal (round-11 review): a NaN in float stats makes
            # the Python fold ORDER-DEPENDENT (max(5.0, nan) == 5.0 but
            # max(nan, 5.0) == nan) and diverges from Spark's
            # NaN-is-greatest ordering — refuse loudly, never fold a
            # silently wrong extreme.
            for x in (flo, fhi):
                if isinstance(x, float) and x != x:
                    raise ValueError(
                        f"snapshot_stats_agg: NaN in recorded stats for "
                        f"{c!r} in {f} — metadata extremes cannot match "
                        "Spark's NaN ordering; aggregate the read"
                    )
            # FLOAT stats ride the parquet writer's NaN policy (NaN is
            # EXCLUDED from min/max, so finite stats can hide NaNs) —
            # trusted only when the write chokepoint recorded a NaN
            # count of ZERO for the file (round 12, Iceberg's
            # nan_value_counts).  An absent count (pre-round-12
            # manifest) means "presence unknown": refuse.
            if isinstance(flo, float) or isinstance(fhi, float):
                nan = st[2] if len(st) > 2 else None
                if nan is None:
                    raise ValueError(
                        f"snapshot_stats_agg: no recorded NaN count for "
                        f"float column {c!r} in {f} — finite footer "
                        "stats can hide NaNs; recommit/compact with "
                        "stats_cols to record counts, or aggregate the "
                        "read"
                    )
                if nan:
                    raise ValueError(
                        f"snapshot_stats_agg: {f} holds {nan} NaN "
                        f"value(s) in {c!r} — metadata extremes cannot "
                        "match Spark's NaN-is-greatest ordering; "
                        "aggregate the read"
                    )
            lo = flo if lo is None else min(lo, flo)
            hi = fhi if hi is None else max(hi, fhi)
        extremes[c] = (lo, hi)
    return n_rows, extremes


def _stats_sums_values(
    root: str, cols: list[str], version: int | None = None
) -> tuple[int, dict]:
    """Whole-table metadata ``SUM`` fold (round 13 — VERDICT r12 'Next
    round #5'): ``(n_rows, {col: (sum, n_nonnull)})`` from the
    per-file exact integral sums the write chokepoints record
    (`_file_int_sums`) — plain Python values, zero data reads at any
    scale.  The recorded sums are arbitrary-precision and the fold is
    associative, so the result is decimal-exact; an all-NULL column
    folds to ``(None, 0)`` exactly as Spark's SUM returns NULL.

    STRICT refusals mirroring `_stats_agg_values` — raise, never a
    silently wrong fold: MoR delete files (sums would be stale),
    schema evolution (sums ride physical names), a live file without
    a recorded row count or without a recorded sum for a requested
    column (pre-round-13 commit, a non-integral column, or a column
    outside the stats policy)."""
    v = current_version(root) if version is None else version
    if v is None:
        raise FileNotFoundError(f"snapshot_stats_sums: no version at {root}")
    m = _read_manifest(root, v)
    if m.get("delete_files"):
        raise ValueError(
            "snapshot_stats_sums: table has MoR delete files — metadata "
            "sums would be stale; compact first or aggregate the MoR "
            "read"
        )
    if m.get("fields"):
        raise ValueError(
            "snapshot_stats_sums: table is schema-evolved — recorded "
            "sums are keyed by physical names; aggregate the read "
            "instead"
        )
    rows_rec = m.get("rows") or {}
    sums_rec = m.get("sums") or {}
    n_rows = 0
    out: dict = {c: (None, 0) for c in cols}
    for f in m["files"]:
        r = rows_rec.get(f)
        if r is None:
            raise ValueError(
                f"snapshot_stats_sums: no recorded row count for {f} "
                "(commit predates row recording) — compact the table "
                "or aggregate the read"
            )
        n_rows += int(r)
        if int(r) == 0:
            continue
        fsums = sums_rec.get(f) or {}
        for c in cols:
            sv = fsums.get(c)
            if sv is None:
                raise ValueError(
                    f"snapshot_stats_sums: no recorded sum for column "
                    f"{c!r} in {f} — recommit/compact with "
                    "stats_cols=[...] (integral columns only) to "
                    "enable metadata SUM/AVG"
                )
            out[c] = _fold_sum(out[c], sv)
    return n_rows, out


def snapshot_partition_sums(
    root: str,
    partition_eq: dict,
    cols: list[str],
    version: int | None = None,
) -> tuple[int, dict]:
    """Metadata ``SUM``/``AVG``/``COUNT(*)`` under PARTITION
    equalities (round 13): ``(n_rows_matched, {col: (sum,
    n_nonnull)})`` — the `snapshot_partition_count` matching semantics
    (every row of a partitioned file shares its recorded transform
    value; values compare as strings; a value may be a list) composed
    with the per-file exact sums, zero data reads at any scale.

    STRICT: refuses on MoR delete files, an unknown partition name, a
    live file without a recorded row count or partition value (mixed
    lineage), or a MATCHING file without a recorded sum for a
    requested column."""
    v = current_version(root) if version is None else version
    if v is None:
        raise FileNotFoundError(
            f"snapshot_partition_sums: no version at {root}"
        )
    if not partition_eq:
        raise ValueError(
            "snapshot_partition_sums: partition_eq must be non-empty"
        )
    m = _read_manifest(root, v)
    if m.get("delete_files"):
        raise ValueError(
            "snapshot_partition_sums: table has MoR delete files — "
            "metadata sums would be stale; compact first"
        )
    if m.get("fields"):
        raise ValueError(
            "snapshot_partition_sums: table is schema-evolved — "
            "recorded sums are keyed by physical names; aggregate the "
            "read instead"
        )
    transforms = (m.get("layout") or {}).get("partition_transforms") or {}
    missing = [n for n in partition_eq if n not in transforms]
    if missing:
        raise ValueError(
            f"snapshot_partition_sums: no partition transform recorded "
            f"for {missing} — the table's layout declares "
            f"{sorted(transforms)}"
        )
    rows_rec = m.get("rows") or {}
    sums_rec = m.get("sums") or {}
    pvals = m.get("partition_values") or {}
    want = {
        n: (
            {str(x) for x in val}
            if isinstance(val, (list, tuple, set))
            else {str(val)}
        )
        for n, val in partition_eq.items()
    }
    if any(not s for s in want.values()):
        raise ValueError(
            "snapshot_partition_sums: an empty value list matches "
            "nothing — refuse rather than answer 0 for a malformed "
            "claim"
        )
    total = 0
    out: dict = {c: (None, 0) for c in cols}
    for f in m["files"]:
        r = rows_rec.get(f)
        if r is None:
            raise ValueError(
                f"snapshot_partition_sums: no recorded row count for "
                f"{f} — compact the table or aggregate the read"
            )
        if int(r) == 0:
            continue
        rec = pvals.get(f) or {}
        if any(n not in rec for n in want):
            raise ValueError(
                f"snapshot_partition_sums: {f} has no recorded value "
                "for a claimed partition — mixed lineage; aggregate "
                "the read instead"
            )
        if not all(rec[n] in s for n, s in want.items()):
            continue
        total += int(r)
        fsums = sums_rec.get(f) or {}
        for c in cols:
            sv = fsums.get(c)
            if sv is None:
                raise ValueError(
                    f"snapshot_partition_sums: no recorded sum for "
                    f"column {c!r} in {f} — recommit/compact with "
                    "stats_cols=[...] to enable metadata SUM/AVG"
                )
            out[c] = _fold_sum(out[c], sv)
    return total, out


def snapshot_row_count(root: str, version: int | None = None) -> int:
    """Metadata-only TOTAL row count: the sum of recorded per-file row
    counts — zero data reads, sound under schema evolution (a row is a
    row whatever its columns).  STRICT: refuses on MoR delete files
    (counts would be stale) or a file without a recorded count."""
    v = current_version(root) if version is None else version
    if v is None:
        raise FileNotFoundError(f"snapshot_row_count: no version at {root}")
    m = _read_manifest(root, v)
    if m.get("delete_files"):
        raise ValueError(
            "snapshot_row_count: table has MoR delete files — metadata "
            "counts would be stale; compact first"
        )
    rows_rec = m.get("rows") or {}
    total = 0
    for f in m["files"]:
        r = rows_rec.get(f)
        if r is None:
            raise ValueError(
                f"snapshot_row_count: no recorded row count for {f} — "
                "compact the table or count the read"
            )
        total += int(r)
    return total


def snapshot_partition_count(
    root: str,
    partition_eq: dict,
    version: int | None = None,
) -> int:
    """Metadata-only ``COUNT(*)`` under PARTITION equalities (round 11
    — Iceberg's partition-predicate count): every row of a
    hidden-partitioned file shares the file's recorded transform value
    (`_write_partitioned_files` groups by value before writing), so a
    count whose WHERE is exactly partition equalities is the SUM of
    matching files' recorded row counts — zero data reads at any
    scale.

    STRICT like `snapshot_stats_agg` — refuses loudly instead of
    silently under-counting:
    * MoR delete files present → counts would be stale;
    * a file without a recorded row count, or WITHOUT a recorded
      value for a claimed partition name (mixed plain/partitioned
      lineage) → the metadata cannot answer exactly (a pruning read
      keeps such files conservatively; an exact count cannot);
    * an unknown partition name → the claim is not this table's.

    ``partition_eq`` values compare as strings against the recorded
    hive path values — callers must pass values whose ``str()`` is
    the transform output's canonical form (the SQL layer's type
    gating guarantees this).  A value may be a LIST (round 12 — the
    ``day(ts) IN (1, 2)`` / same-transform OR shape): the file counts
    when its recorded value matches ANY listed value; per-name sets
    still AND together."""
    v = current_version(root) if version is None else version
    if v is None:
        raise FileNotFoundError(
            f"snapshot_partition_count: no version at {root}"
        )
    if not partition_eq:
        raise ValueError(
            "snapshot_partition_count: partition_eq must be non-empty"
        )
    m = _read_manifest(root, v)
    if m.get("delete_files"):
        raise ValueError(
            "snapshot_partition_count: table has MoR delete files — "
            "metadata counts would be stale; compact first"
        )
    transforms = (m.get("layout") or {}).get("partition_transforms") or {}
    missing = [n for n in partition_eq if n not in transforms]
    if missing:
        raise ValueError(
            f"snapshot_partition_count: no partition transform recorded "
            f"for {missing} — the table's layout declares "
            f"{sorted(transforms)}"
        )
    rows_rec = m.get("rows") or {}
    pvals = m.get("partition_values") or {}
    want = {
        n: (
            {str(v) for v in val}
            if isinstance(val, (list, tuple, set))
            else {str(val)}
        )
        for n, val in partition_eq.items()
    }
    if any(not s for s in want.values()):
        raise ValueError(
            "snapshot_partition_count: an empty value list matches "
            "nothing — refuse rather than answer 0 for a malformed "
            "claim"
        )
    total = 0
    for f in m["files"]:
        r = rows_rec.get(f)
        if r is None:
            raise ValueError(
                f"snapshot_partition_count: no recorded row count for "
                f"{f} — compact the table or count the read"
            )
        if int(r) == 0:
            continue  # an empty file matches nothing either way
        rec = pvals.get(f) or {}
        if any(n not in rec for n in want):
            raise ValueError(
                f"snapshot_partition_count: {f} has no recorded value "
                f"for a claimed partition — mixed lineage; count the "
                "read instead"
            )
        if all(rec[n] in s for n, s in want.items()):
            total += int(r)
    return total


def _classify_range_file(
    bounds: dict,
    partition_eq: dict | None,
    fstats: dict,
    fnulls: dict,
    rec_all: dict,
) -> tuple[str, list[int]]:
    """The ONE per-file EXCLUDED / INTERIOR / boundary walk shared by
    every hybrid metadata path (review, round 13 — previously three
    hand-kept copies): ``('excluded', [])`` when a recorded partition
    value mismatches an equality or the file's whole [min, max] for
    some claimed column lies outside its window (every row provably
    fails the claim); ``('interior', pred_null_counts)`` when every
    claimed column's span lies wholly INSIDE its window and every
    partition equality matches — so every row satisfies every claim
    EXCEPT rows that are NULL in a predicate column, whose per-column
    recorded counts are returned for the caller to subtract or gate
    on; ``('boundary', ...)`` for anything weaker (missing or
    cross-typed stats, straddling spans, an absent partition value,
    an unknown null count).  Callers layer their own trust gates
    (extremes/sums/temporal) on top and demote interior to boundary
    as needed — the soundness of excluded/interior itself lives
    here."""
    interior = True
    for pn, pv in (partition_eq or {}).items():
        rec = rec_all.get(pn, "__ABSENT__")
        if rec == "__ABSENT__":
            interior = False  # mixed lineage: the boundary scan
            # re-applies the semantic transform predicate
        elif rec != str(pv):
            return "excluded", []  # every row shares the file's value
    null_cols: list[int] = []
    for c, (lo, lo_s, hi, hi_s) in (bounds or {}).items():
        st = fstats.get(c)
        b = lo if lo is not None else hi
        slo = _typed_stat(st[0], b) if st is not None else None
        shi = _typed_stat(st[1], b) if st is not None else None
        if slo is None or shi is None:
            interior = False  # no evidence: boundary, not excluded
            continue
        if hi is not None and (slo > hi or (hi_s and slo >= hi)):
            return "excluded", []  # every value ABOVE the window
        if lo is not None and (shi < lo or (lo_s and shi <= lo)):
            return "excluded", []  # every value BELOW the window
        if lo is not None and not (slo > lo or (not lo_s and slo >= lo)):
            interior = False
        if hi is not None and not (shi < hi or (not hi_s and shi <= hi)):
            interior = False
        n = fnulls.get(c)
        if n is None:
            interior = False  # null presence unknown: boundary
        elif n > 0:
            null_cols.append(int(n))
    return ("interior" if interior else "boundary"), null_cols


def _typed_stat(v, bound):
    """Parse a recorded stat primitive into ``bound``'s type for an
    EXACT compare — int for integral bounds, datetime/date parsed from
    the ISO strings `_stat_primitive` records (offset forms normalize
    to UTC-naive, matching the SQL layer's literal parse).  ``None``
    when no faithful typed compare exists (cross-type stats, an
    unparseable string) — the caller then treats the file as boundary,
    never folds it.

    Deliberately NOT `sql_exec._sql_temporal`: that parses USER
    LITERALS and gates on the intersection of Spark-cast and Python
    formats (a literal Spark nulls out must not become a bound); this
    parses `_stat_primitive`'s OWN isoformat output, where every
    produced form is faithful by construction and a format gate would
    only demote valid files to boundary."""
    import datetime as dt

    if isinstance(v, bool):
        return None
    if isinstance(bound, bool) or bound is None:
        return None
    if isinstance(bound, int) and isinstance(v, int):
        return v
    if isinstance(bound, dt.datetime):
        if not isinstance(v, str):
            return None
        try:
            d = dt.datetime.fromisoformat(v)
        except ValueError:
            return None
        if d.tzinfo is not None:
            d = d.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return d
    if isinstance(bound, dt.date):
        if not isinstance(v, str):
            return None
        try:
            return dt.date.fromisoformat(v)
        except ValueError:
            return None
    return None


def snapshot_range_count(
    spark: SparkSession,
    root: str,
    bounds: dict,
    version: int | None = None,
) -> int:
    """HYBRID metadata ``COUNT(*)`` under RANGE predicates (round 12 —
    the Iceberg/DataFusion shape VERDICT r11 asked for): classify each
    live file from its recorded stats as INTERIOR (every non-null row
    provably satisfies every bound — folds from the recorded row and
    null counts, the file is NEVER OPENED), EXCLUDED (provably
    disjoint in some bound — folds as zero), or BOUNDARY (scanned with
    the predicate re-applied).  On the canonical incremental shape
    ``ts >= a AND ts < b`` over a clustered table, the boundary set is
    the one or two window-edge files; everything else answers from the
    manifest.

    ``bounds``: ``{col: (lo, lo_strict, hi, hi_strict)}`` with TYPED
    values — int for integral columns, ``datetime``/``date`` for
    temporal ones (compared against the ISO-string stats via a typed
    parse; the SQL layer gates literal types and the UTC session).  A
    ``None`` lo/hi is open on that side.

    Exactness argument: an interior file's non-null values all lie in
    every bound's interval, its NULL rows fail any range predicate,
    and at most ONE claimed column may carry a recorded non-zero null
    count (``rows - nulls`` is then exact; two nullable dimensions
    overlap unknowably and the file demotes to boundary).  Float/bool
    bounds are refused by construction (`_typed_stat` — Spark's
    NaN-is-greatest ordering breaks interval reasoning); files with
    missing stats, unknown null counts, or unparseable stat strings
    demote to boundary, never fold.

    STRICT refusals (raise — the caller runs the statement normally):
    MoR delete files (counts would be stale), schema evolution (stats
    ride physical names), a file without a recorded row count, empty
    ``bounds``."""
    return snapshot_range_agg_values(spark, root, bounds, [], version)[0]


def _nan_min(a, b):
    """Fold one MIN candidate under Spark's NaN-is-greatest ordering:
    NaN loses to any finite value (MIN is NaN only when every value
    is)."""
    if a is None:
        return b
    if isinstance(a, float) and a != a:
        return b
    if isinstance(b, float) and b != b:
        return a
    return min(a, b)


def _nan_max(a, b):
    """Fold one MAX candidate under Spark's NaN-is-greatest ordering:
    any NaN makes the MAX NaN."""
    if a is None:
        return b
    if (isinstance(a, float) and a != a) or (
        isinstance(b, float) and b != b
    ):
        return float("nan")
    return max(a, b)


def snapshot_range_agg_values(
    spark: SparkSession,
    root: str,
    bounds: dict,
    cols: list[str],
    version: int | None = None,
    schema=None,
    partition_eq: dict | None = None,
    sum_cols: list[str] | None = None,
    temporal_cols: dict | None = None,
):
    """`snapshot_range_count`'s general form (round 12): ``(n_rows,
    {col: (lo, hi)})`` for COUNT(*) plus MIN/MAX over ``cols``, all
    under the RANGE predicates in ``bounds`` — interior files fold
    from recorded metadata, boundary files are scanned ONCE for count
    and extremes together.

    ``sum_cols`` (round 13) extends the same hybrid to ``SUM``/
    ``AVG``: interior files fold their recorded per-file exact sums
    (`_file_int_sums`), the boundary scan adds ``SUM``/``COUNT`` of
    each column in the SAME single job, and the return grows a third
    element ``{col: (sum, n_nonnull)}`` (the two-element shape is
    unchanged when ``sum_cols`` is None).  A file folds its sum only
    when EVERY claimed predicate column is recorded null-free there —
    a filtered-out NULL-predicate row's value rides inside the
    recorded sum and cannot be subtracted — and only when the sum is
    recorded at all; anything weaker demotes to boundary.  Sum columns
    must be INTEGRAL (recorded sums only exist for integral stats
    columns; a float SUM is order-dependent in Spark itself) — a
    caller-provided ``schema`` is checked up front, and the boundary
    scan accumulates through ``decimal(38,0)`` so a per-file Spark
    long SUM can never silently wrap inside the fold.

    Extremes tighten the interior requirements: a file folds its
    recorded agg-column stats only when EVERY claimed predicate
    column's recorded null count is ZERO (a filtered-out NULL-pred
    row could otherwise own the file's extreme) and the agg column's
    stats are NaN-trustworthy (`_nan_free` — a NaN row would make
    Spark's MAX NaN, which no finite fold can represent); anything
    weaker demotes the file to boundary, where the scan computes
    exact Spark semantics (NaN included — the driver-side fold uses
    NaN-is-greatest combiners).  Agg-column NULLs are harmless in
    interior files: recorded stats already exclude them, exactly as
    MIN/MAX do.

    ``temporal_cols`` (round 13 — the windowed watermark query):
    ``{col: 'date'|'timestamp'}`` lets those agg columns' recorded
    ISO stat strings fold as typed date/naive-UTC datetime values
    (`_typed_temporal_stat`) instead of demoting every file to
    boundary under the numeric-only gate; an unparseable stat demotes
    that file.  The CALLER gates timestamp columns on a UTC session
    (the boundary scan collects session-local naive datetimes, which
    under UTC coincide with the recorded instants).

    ``partition_eq`` (round 12) composes HIDDEN-PARTITION equalities
    with the range bounds — `WHERE day(ts) = 5 AND k >= 100`: a file
    recorded with a DIFFERENT value for a claimed name folds as
    excluded (every row shares the file's value), a matching value
    satisfies that conjunct for every row (no classification change),
    and a file WITHOUT a recorded value demotes to boundary, where
    the scan re-applies the semantic transform predicate."""
    from pyspark.sql import functions as F

    if not bounds or any(
        b[0] is None and b[2] is None for b in bounds.values()
    ):
        raise ValueError(
            "snapshot_range_agg: every bound needs at least one side"
        )
    v = current_version(root) if version is None else version
    if v is None:
        raise FileNotFoundError(
            f"snapshot_range_agg: no version at {root}"
        )
    m = _read_manifest(root, v)
    if m.get("delete_files"):
        raise ValueError(
            "snapshot_range_agg: table has MoR delete files — "
            "metadata counts would be stale; compact first"
        )
    if m.get("fields"):
        raise ValueError(
            "snapshot_range_agg: table is schema-evolved — recorded "
            "stats are keyed by physical names; aggregate the read "
            "instead"
        )
    transforms = (m.get("layout") or {}).get("partition_transforms") or {}
    if partition_eq:
        missing = [n for n in partition_eq if n not in transforms]
        if missing:
            raise ValueError(
                f"snapshot_range_agg: no partition transform recorded "
                f"for {missing} — the table's layout declares "
                f"{sorted(transforms)}"
            )
    pvals = m.get("partition_values") or {}
    rows_rec = m.get("rows") or {}
    stats = m.get("stats") or {}
    nulls = m.get("nulls") or {}
    sums_rec = m.get("sums") or {}
    want_sums = sum_cols is not None
    sum_cols = list(sum_cols or [])
    dec_scales: dict[str, int] = {}
    if sum_cols and schema is not None:
        # integral/decimal-only fold (rounds 13/14): recorded sums
        # exist only for integral and decimal columns, and a float SUM
        # is order-dependent in Spark itself — refuse rather than
        # mis-type.  DECIMAL(p,s) columns fold UNSCALED integers
        # (`_file_int_sums` records them that way), so the boundary
        # scan must accumulate at the column's own scale and convert.
        by_field = {f.name: f.dataType for f in schema.fields}
        bad = []
        for c in sum_cols:
            dt = by_field.get(c)
            ss = dt.simpleString() if dt is not None else None
            if ss in ("tinyint", "smallint", "int", "bigint"):
                continue
            if ss is not None and ss.startswith("decimal("):
                dec_scales[c] = int(dt.scale)
                continue
            bad.append(c)
        if bad:
            raise ValueError(
                f"snapshot_range_agg: sum_cols must be integral or "
                f"decimal; got {bad}"
            )
    sums_out: dict = {c: (None, 0) for c in sum_cols}
    total = 0
    extremes: dict = {c: (None, None) for c in cols}
    boundary: list[str] = []
    for f in m["files"]:
        r = rows_rec.get(f)
        if r is None:
            raise ValueError(
                f"snapshot_range_agg: no recorded row count for {f} "
                "— compact the table or aggregate the read"
            )
        if int(r) == 0:
            continue
        fstats = stats.get(f) or {}
        fnulls = nulls.get(f) or {}
        status, null_cols = _classify_range_file(
            bounds, partition_eq, fstats, fnulls, pvals.get(f) or {}
        )
        if status == "excluded":
            continue
        interior = status == "interior"
        if interior and sum_cols:
            # sums: every pred column must be null-free here (a
            # filtered-out NULL-pred row's value rides inside the
            # recorded sum), and the sum must be recorded at all
            if null_cols:
                interior = False
            else:
                fsums = sums_rec.get(f) or {}
                if any(c not in fsums for c in sum_cols):
                    interior = False
        tvals: dict = {}
        if interior and cols:
            # extremes: every pred column must be null-free in this
            # file, and every agg column's stats trustworthy
            if null_cols:
                interior = False
            for c in cols:
                st = fstats.get(c)
                if st is None or not _nan_free(st):
                    interior = False
                    break
                kind = (temporal_cols or {}).get(c)
                if kind is not None:
                    # typed temporal fold (round 13): recorded ISO
                    # strings convert to date/naive-UTC datetime; an
                    # unparseable stat demotes to boundary
                    tlo = _typed_temporal_stat(st[0], kind)
                    thi = _typed_temporal_stat(st[1], kind)
                    if tlo is None or thi is None:
                        interior = False
                        break
                    tvals[c] = (tlo, thi)
                    continue
                # numeric-only fold (advice, round 13): temporal and
                # string columns record ISO/raw STRINGS — folding them
                # into extremes would return wrong-typed values (and
                # TypeError against boundary-scan datetimes).  Demote
                # to boundary, where the scan computes typed extremes.
                if not all(
                    isinstance(x, (int, float)) and not isinstance(x, bool)
                    for x in (st[0], st[1])
                ):
                    interior = False
                    break
        if interior and len(null_cols) <= 1:
            total += int(r) - (null_cols[0] if null_cols else 0)
            for c in cols:
                st = tvals.get(c) or fstats[c]
                lo0, hi0 = extremes[c]
                extremes[c] = (
                    _nan_min(lo0, st[0]), _nan_max(hi0, st[1])
                )
            if sum_cols:
                # null_cols is provably empty here (sums demote on
                # any predicate-column nulls above)
                fsums = sums_rec.get(f) or {}
                for c in sum_cols:
                    sv = fsums[c]
                    sums_out[c] = _fold_sum(sums_out[c], sv)
        else:
            boundary.append(f)
    if boundary:
        from .io import ensure_instant_timestamps

        ensure_instant_timestamps(spark)
        pred = None
        for c, (lo, lo_s, hi, hi_s) in bounds.items():
            if lo is not None:
                term = (
                    F.col(c) > F.lit(lo) if lo_s else F.col(c) >= F.lit(lo)
                )
                pred = term if pred is None else pred & term
            if hi is not None:
                term = (
                    F.col(c) < F.lit(hi) if hi_s else F.col(c) <= F.lit(hi)
                )
                pred = term if pred is None else pred & term
        for pn, pv in (partition_eq or {}).items():
            # the SEMANTIC transform predicate, exactly as
            # read_snapshot_pruned re-applies it — boundary files
            # without a recorded value still answer correctly
            term = F.expr(transforms[pn]).cast("string") == str(pv)
            pred = term if pred is None else pred & term
        aggs = [F.count(F.lit(1)).alias("__n")]
        for i, c in enumerate(cols):
            aggs.append(F.min(c).alias(f"__lo{i}"))
            aggs.append(F.max(c).alias(f"__hi{i}"))
        for i, c in enumerate(sum_cols):
            # decimal(38,scale) accumulator: exact for integral
            # (scale 0) and decimal inputs alike, immune to the
            # silent int64 wrap of Spark's long SUM
            sc = dec_scales.get(c, 0)
            aggs.append(
                F.sum(F.col(c).cast(f"decimal(38,{sc})")).alias(
                    f"__s{i}"
                )
            )
            aggs.append(F.count(c).alias(f"__sn{i}"))
        # a caller-provided schema (the SQL layer passes its attached
        # view's) skips the per-statement footer-inference job
        reader = spark.read.schema(schema) if schema is not None else spark.read
        row = (
            reader.parquet(*[os.path.join(root, f) for f in boundary])
            .where(pred)
            .agg(*aggs)
            .first()
        )
        total += int(row["__n"])
        for i, c in enumerate(cols):
            blo, bhi = row[f"__lo{i}"], row[f"__hi{i}"]
            lo0, hi0 = extremes[c]
            if blo is not None:
                lo0 = _nan_min(lo0, blo)
            if bhi is not None:
                hi0 = _nan_max(hi0, bhi)
            extremes[c] = (lo0, hi0)
        for i, c in enumerate(sum_cols):
            bs, bn = row[f"__s{i}"], int(row[f"__sn{i}"] or 0)
            if bn > 0:
                if bs is None:
                    # non-null rows but a NULL partial: the boundary
                    # job's decimal(38,·) accumulator overflowed
                    # (non-ANSI NULL) — refuse loudly, never fold 0
                    raise ValueError(
                        "snapshot_range_agg: boundary sum overflowed "
                        f"the decimal(38) accumulator for {c!r}"
                    )
                sc = dec_scales.get(c, 0)
                if sc:
                    # decimal boundary partial → exact UNSCALED int,
                    # matching the recorded per-file form
                    bs = _dec_unscaled(bs, sc)
                    if bs is None:
                        raise ValueError(
                            "snapshot_range_agg: unscalable boundary "
                            f"decimal sum for {c!r}"
                        )
                sums_out[c] = _fold_sum(sums_out[c], (bs, bn))
    if want_sums:
        return total, extremes, sums_out
    return total, extremes


def snapshot_group_range_agg(
    spark: SparkSession,
    root: str,
    pname: str,
    group_expr: str,
    bounds: dict,
    cols: list[str],
    version: int | None = None,
    schema=None,
    partition_eq: dict | None = None,
    sum_cols: list[str] | None = None,
    temporal_cols: dict | None = None,
) -> dict:
    """`snapshot_range_agg_values`' GROUPED form (round 13 — the
    dashboard query): COUNT(*) plus MIN/MAX over ``cols`` and SUM over
    ``sum_cols``, grouped by the hidden-partition transform ``pname``
    (semantic expression ``group_expr``), under the RANGE claims in
    ``bounds`` and the transform equalities in ``partition_eq``.
    Returns ``{group_value_str_or_None: [count, {col: (lo, hi)},
    {col: (sum, n_nonnull)}]}`` — group keys are the transform
    outputs as hive-path strings, exactly as the manifest records
    them (the boundary scan CASTs its group expression to string so
    both sides merge on one spelling; the SQL layer re-types once).

    Per-file classification follows `snapshot_range_agg_values`
    verbatim — EXCLUDED folds as nothing, INTERIOR folds recorded
    row/null counts (plus stats/sums under the same trust gates:
    null-free predicate columns for extremes and sums, NaN-free
    numeric stats for extremes, recorded sums for sums), and anything
    weaker joins the ONE boundary job — with one addition: a file
    missing a recorded ``pname`` value demotes to boundary, where the
    scan computes its groups from the rows.  Groups whose final count
    is ZERO are dropped (GROUP BY returns no row for them).  MoR
    deletes and schema evolution refuse loudly; ``bounds`` may be
    empty here (the grouped shape is useful under pure transform
    equalities, and with MIN/MAX items even with no predicate at
    all).  Sum columns must be integral (see the range form); the
    boundary job accumulates SUM through decimal(38,0)."""
    from pyspark.sql import functions as F

    if any(
        b[0] is None and b[2] is None for b in (bounds or {}).values()
    ):
        raise ValueError(
            "snapshot_group_range_agg: every bound needs at least one side"
        )
    v = current_version(root) if version is None else version
    if v is None:
        raise FileNotFoundError(
            f"snapshot_group_range_agg: no version at {root}"
        )
    m = _read_manifest(root, v)
    if m.get("delete_files"):
        raise ValueError(
            "snapshot_group_range_agg: table has MoR delete files — "
            "metadata counts would be stale; compact first"
        )
    if m.get("fields"):
        raise ValueError(
            "snapshot_group_range_agg: table is schema-evolved — "
            "recorded stats are keyed by physical names; aggregate "
            "the read instead"
        )
    transforms = (m.get("layout") or {}).get("partition_transforms") or {}
    if pname not in transforms:
        raise ValueError(
            f"snapshot_group_range_agg: no partition transform "
            f"{pname!r} — the table's layout declares "
            f"{sorted(transforms)}"
        )
    for n in partition_eq or {}:
        if n not in transforms:
            raise ValueError(
                f"snapshot_group_range_agg: no partition transform "
                f"recorded for {n!r}"
            )
    sum_cols = list(sum_cols or [])
    if sum_cols and schema is not None:
        by_name = {f.name: f.dataType.simpleString() for f in schema.fields}
        bad = [
            c
            for c in sum_cols
            if by_name.get(c) not in ("tinyint", "smallint", "int", "bigint")
        ]
        if bad:
            raise ValueError(
                f"snapshot_group_range_agg: sum_cols must be integral; "
                f"got {bad}"
            )
    pvals = m.get("partition_values") or {}
    rows_rec = m.get("rows") or {}
    stats = m.get("stats") or {}
    nulls = m.get("nulls") or {}
    sums_rec = m.get("sums") or {}

    def _fresh():
        return [
            0,
            {c: (None, None) for c in cols},
            {c: (None, 0) for c in sum_cols},
        ]

    groups: dict = {}
    boundary: list[str] = []
    for f in m["files"]:
        r = rows_rec.get(f)
        if r is None:
            raise ValueError(
                f"snapshot_group_range_agg: no recorded row count for "
                f"{f} — compact the table or aggregate the read"
            )
        if int(r) == 0:
            continue
        fstats = stats.get(f) or {}
        fnulls = nulls.get(f) or {}
        rec_all = pvals.get(f) or {}
        gval = rec_all.get(pname, "__ABSENT__")
        status, null_cols = _classify_range_file(
            bounds, partition_eq, fstats, fnulls, rec_all
        )
        if status == "excluded":
            continue
        # no recorded group value: the scan computes this file's
        # groups from its rows
        interior = status == "interior" and gval != "__ABSENT__"
        if interior and sum_cols:
            if null_cols:
                interior = False
            else:
                fsums = sums_rec.get(f) or {}
                if any(c not in fsums for c in sum_cols):
                    interior = False
        tvals: dict = {}
        if interior and cols:
            if null_cols:
                interior = False
            for c in cols:
                st = fstats.get(c)
                if st is None or not _nan_free(st):
                    interior = False
                    break
                kind = (temporal_cols or {}).get(c)
                if kind is not None:
                    # typed temporal fold (round 13) — see
                    # snapshot_range_agg_values
                    tlo = _typed_temporal_stat(st[0], kind)
                    thi = _typed_temporal_stat(st[1], kind)
                    if tlo is None or thi is None:
                        interior = False
                        break
                    tvals[c] = (tlo, thi)
                    continue
                if not all(
                    isinstance(x, (int, float)) and not isinstance(x, bool)
                    for x in (st[0], st[1])
                ):
                    interior = False
                    break
        if interior and len(null_cols) <= 1:
            g = groups.setdefault(gval, _fresh())
            g[0] += int(r) - (null_cols[0] if null_cols else 0)
            for c in cols:
                st = tvals.get(c) or fstats[c]
                lo0, hi0 = g[1][c]
                g[1][c] = (_nan_min(lo0, st[0]), _nan_max(hi0, st[1]))
            if sum_cols:
                fsums = sums_rec.get(f) or {}
                for c in sum_cols:
                    sv = fsums[c]
                    g[2][c] = _fold_sum(g[2][c], sv)
        else:
            boundary.append(f)
    if boundary:
        from .io import ensure_instant_timestamps

        ensure_instant_timestamps(spark)
        pred = None
        for c, (lo, lo_s, hi, hi_s) in (bounds or {}).items():
            if lo is not None:
                term = (
                    F.col(c) > F.lit(lo) if lo_s else F.col(c) >= F.lit(lo)
                )
                pred = term if pred is None else pred & term
            if hi is not None:
                term = (
                    F.col(c) < F.lit(hi) if hi_s else F.col(c) <= F.lit(hi)
                )
                pred = term if pred is None else pred & term
        for n, pv in (partition_eq or {}).items():
            term = F.expr(transforms[n]).cast("string") == str(pv)
            pred = term if pred is None else pred & term
        aggs = [F.count(F.lit(1)).alias("__n")]
        for i, c in enumerate(cols):
            aggs.append(F.min(c).alias(f"__lo{i}"))
            aggs.append(F.max(c).alias(f"__hi{i}"))
        for i, c in enumerate(sum_cols):
            aggs.append(
                F.sum(F.col(c).cast("decimal(38,0)")).alias(f"__s{i}")
            )
            aggs.append(F.count(c).alias(f"__sn{i}"))
        reader = spark.read.schema(schema) if schema is not None else spark.read
        df = reader.parquet(*[os.path.join(root, f) for f in boundary])
        if pred is not None:
            df = df.where(pred)
        rows = (
            df.groupBy(
                F.expr(group_expr).cast("string").alias("__g")
            )
            .agg(*aggs)
            .collect()
        )
        for row in rows:
            g = groups.setdefault(row["__g"], _fresh())
            g[0] += int(row["__n"])
            for i, c in enumerate(cols):
                blo, bhi = row[f"__lo{i}"], row[f"__hi{i}"]
                lo0, hi0 = g[1][c]
                if blo is not None:
                    lo0 = _nan_min(lo0, blo)
                if bhi is not None:
                    hi0 = _nan_max(hi0, bhi)
                g[1][c] = (lo0, hi0)
            for i, c in enumerate(sum_cols):
                bs, bn = row[f"__s{i}"], int(row[f"__sn{i}"] or 0)
                if bn > 0:
                    g[2][c] = _fold_sum(g[2][c], (bs, bn))
    return {g: v for g, v in groups.items() if v[0] > 0}


def snapshot_partitions(
    spark: SparkSession,
    root: str,
    version: int | None = None,
    approximate: bool = False,
) -> DataFrame:
    """The PARTITIONS metadata table (Iceberg's ``<table>.partitions``):
    one row per hidden-partition tuple with ``file_count``,
    ``row_count`` and ``total_bytes`` — manifests only, zero data-file
    reads, the planning view a 100 TB operator sizes compaction and
    spots skew with.  Files committed outside any partition spec (or
    before one existed) group under the empty tuple.  Row counts come
    from the recorded per-file ``rows``; with MoR delete files present
    the counts overcount and the call REFUSES unless
    ``approximate=True`` (Iceberg documents the same caveat)."""
    v = current_version(root) if version is None else version
    if v is None:
        raise FileNotFoundError(f"snapshot_partitions: no version at {root}")
    m = _read_manifest(root, v)
    if m.get("delete_files") and not approximate:
        raise ValueError(
            "snapshot_partitions: table has MoR delete files — row "
            "counts would overcount; pass approximate=True or compact "
            "first"
        )
    pvals = m.get("partition_values") or {}
    rows_rec = m.get("rows") or {}
    sizes = m.get("sizes") or {}
    agg: dict[tuple, list[int]] = {}
    for f in m["files"]:
        r = rows_rec.get(f)
        if r is None:
            raise ValueError(
                f"snapshot_partitions: no recorded row count for {f} "
                "(commit predates row recording) — compact the table "
                "first"
            )
        b = sizes.get(f)
        if b is None:  # pre-size-recording commit: fs metadata only
            b = os.path.getsize(os.path.join(root, f))
        key = tuple(
            sorted(
                (k, None if x is None else str(x))
                for k, x in (pvals.get(f) or {}).items()
            )
        )
        cur = agg.setdefault(key, [0, 0, 0])
        cur[0] += 1
        cur[1] += int(r)
        cur[2] += int(b)
    out = [
        {
            "partition": dict(k),
            "file_count": fc,
            "row_count": rc,
            "total_bytes": tb,
        }
        # NULL partition values (__HIVE_DEFAULT_PARTITION__, recorded
        # as None) sort first within a column — a plain tuple compare
        # would TypeError on None vs str
        for k, (fc, rc, tb) in sorted(
            agg.items(),
            key=lambda kv: [(c, x is not None, x or "") for c, x in kv[0]],
        )
    ]
    return spark.createDataFrame(
        out,
        "partition MAP<STRING,STRING>, file_count BIGINT, "
        "row_count BIGINT, total_bytes BIGINT",
    )


def snapshot_detail(spark: SparkSession, root: str) -> DataFrame:
    """One-row table summary (Delta's ``DESCRIBE DETAIL``): live
    version, file/delete-file counts, total bytes and rows (recorded
    at commit time — manifests only, zero data reads where recorded),
    the declared clustering/partition layout, live CHECK constraints,
    ref counts and retained version count — the operator's one-glance
    view that sizes maintenance before running it."""
    v = current_version(root)
    if v is None:
        raise FileNotFoundError(f"snapshot_detail: no version at {root}")
    m = _read_manifest(root, v)
    sizes = m.get("sizes") or {}
    rows = m.get("rows") or {}
    files = m["files"]
    total_bytes = sum(
        sizes[f] if f in sizes  # a recorded 0 is still recorded
        else os.path.getsize(os.path.join(root, f))
        for f in files
    )
    n_rows = (
        sum(int(rows[f]) for f in files)
        if all(f in rows for f in files)
        else None  # pre-row-recording commits: unknown without a scan
    )
    layout = m.get("layout") or {}
    heads = _ref_heads(root)
    out = [
        {
            "version": v,
            "num_files": len(files),
            "num_delete_files": len(m.get("delete_files") or []),
            "total_bytes": total_bytes,
            "num_rows": n_rows,
            "sort_cols": layout.get("sort_cols"),
            "zorder_cols": layout.get("zorder_cols"),
            "partition_transforms": layout.get("partition_transforms"),
            "checks": _table_checks(root, v) or None,
            "num_tags": sum(1 for k, _ in heads.values() if k == "tag"),
            "num_branches": sum(
                1 for k, _ in heads.values() if k == "branch"
            ),
            "num_versions_retained": len(snapshot_versions(root)),
            "operation": m.get("operation"),
        }
    ]
    return spark.createDataFrame(
        out,
        "version BIGINT, num_files BIGINT, num_delete_files BIGINT, "
        "total_bytes BIGINT, num_rows BIGINT, sort_cols ARRAY<STRING>, "
        "zorder_cols ARRAY<STRING>, "
        "partition_transforms MAP<STRING,STRING>, "
        "checks MAP<STRING,STRING>, num_tags BIGINT, "
        "num_branches BIGINT, num_versions_retained BIGINT, "
        "operation STRING",
    )


def expire_versions(
    root: str,
    keep_last: int = 10,
    keep_hours: float | None = None,
) -> list[int]:
    """Version RETENTION: drop every version older than the newest
    ``keep_last`` (by number), EXCEPT the one _LATEST points at — a
    rolled-back table never loses its live version.  ``keep_hours``
    adds AGE-based retention (Delta's ``VACUUM … RETAIN n HOURS``
    posture): a version younger than the window survives even when
    ``keep_last`` would drop it — the two compose as retain-if-EITHER,
    so setting ``keep_hours`` only ever keeps MORE history (pass
    ``keep_last=1`` for a purely age-driven policy).  Only version
    payloads (and their tag markers) are removed here — surviving
    versions keep every entry file they reference, so they are
    unaffected; the expired versions' now-unreferenced data files AND
    manifest entry files become orphans that the next
    `vacuum_orphans` collects (expire = metadata decision, vacuum =
    space reclamation — deliberately separate steps, matching the
    Delta/Iceberg retention model).  Returns the expired version
    numbers."""
    import time as _time

    if keep_hours is not None and keep_hours < 0:
        raise ValueError(
            f"expire_versions: keep_hours must be >= 0, got {keep_hours}"
        )
    cutoff = (
        _time.time() - keep_hours * 3600.0
        if keep_hours is not None
        else None
    )
    versions = snapshot_versions(root)
    live = current_version(root)
    # tag pins and branch heads survive; a LIVE branch additionally
    # pins its whole parent chain — fast_forward's descend check and
    # the sibling scans must stay walkable, so a branch's lineage is
    # retained until the branch is deleted or published (the
    # Iceberg branch-retention rule).  Tags stay head-only pins:
    # reading a version needs only its own (self-contained) manifest.
    heads = _ref_heads(root)  # ONE refs pass serves pins and chains
    pinned = {v for _k, v in heads.values()}
    chain_pinned: set[int] = set()
    for _name, (k, head) in heads.items():
        if k != "branch":
            continue
        cur: int | None = head
        while cur is not None and cur not in chain_pinned:
            chain_pinned.add(cur)
            try:
                cur = _read_manifest_meta(root, cur)["parent"]
            except FileNotFoundError:
                break  # pre-existing gap below — nothing left to pin
    pinned |= chain_pinned
    to_expire = [
        v
        for v in versions[:-keep_last]
        if keep_last > 0
        and v != live
        and v not in pinned
        and (
            cutoff is None
            # unknown commit time (legacy manifest) → KEEP: age-based
            # retention must never expire what it cannot date
            or (
                (_ts := _read_manifest_meta(root, v).get("ts"))
                is not None
                and float(_ts) < cutoff
            )
        )
    ]
    # COPY INTO identity consolidation BEFORE anything is removed: a
    # surviving version whose parent-chain hop (restore_of, else
    # parent) lands in the expired set would lose its ingestion
    # history — the `_copied_identities` walk would dead-end on a
    # missing manifest and permanently block `snapshot_copy_into`.
    # Stamp the accumulated identity set from BELOW the boundary onto
    # each such survivor (the same ``copied_all`` marker
    # `compact_manifests` writes), so every post-expiry walk terminates
    # at the boundary with full knowledge.  An EMPTY list is still a
    # valid terminator — "nothing was ever copied below here".
    expiring = set(to_expire)
    if expiring:
        for v in versions:
            if v in expiring:
                continue
            meta = _read_manifest_meta(root, v)
            if meta.get("copied_all") is not None:
                continue  # walk already terminates here
            ro = meta.get("restore_of")
            nxt = ro if ro is not None else meta.get("parent")
            if nxt not in expiring:
                continue
            try:
                below = _copied_identities(root, start=nxt)
            except RuntimeError:
                # the below-walk itself dead-ends on a PRE-EXISTING gap
                # (a table vacuumed by a pre-consolidation build): the
                # history is unknowable, so stamping would falsely
                # claim completeness — leave the survivor unmarked
                # (copy_into keeps refusing loudly with remediation)
                continue
            _stamp_manifest_payload(
                root, v, {"copied_all": sorted(below)}
            )
    for v in to_expire:
        m = _read_manifest_meta(root, v)
        os.remove(os.path.join(_manifest_dir(root), f"v{v}.json"))
        if m.get("tag"):
            try:
                os.remove(_tag_marker(root, m["tag"]))
            except FileNotFoundError:
                pass
    return to_expire


def vacuum_orphans(root: str, min_age_s: float = 600.0) -> list[str]:
    """Remove data files NO manifest references — the debris of crashed
    commits.  Every committed version (current, rolled-back-from,
    abandoned lineage) keeps its files because every manifest is
    consulted; ``min_age_s`` protects IN-FLIGHT commits (files written,
    manifest not yet claimed) — only groups whose newest file is older
    than the grace window are collected, the same retention-guard
    convention as Delta/Iceberg vacuum.  Version-RETENTION vacuum
    (dropping old manifests and then their now-unreferenced files) is
    deliberately not bundled — retention windows are deployment policy,
    and this primitive composes with one (delete manifests, then call
    this).  Returns the removed paths (table-root-relative)."""
    import shutil
    import time

    referenced: set[str] = set()
    entry_refs: set[str] = set()
    for v in snapshot_versions(root):
        m = _read_manifest(root, v)
        referenced.update(m["files"])
        referenced.update(d["file"] for d in m.get("delete_files") or [])
        pl = _read_manifest_meta(root, v)
        entry_refs.update(pl.get("entries") or [])
        entry_refs.update(pl.get("delete_entries") or [])
    removed: list[str] = []
    cutoff = time.time() - min_age_s
    for kind in ("data", "deletes"):
        kind_root = os.path.join(root, kind)
        if not os.path.isdir(kind_root):
            continue
        for group in os.listdir(kind_root):
            gdir = os.path.join(kind_root, group)
            # RECURSIVE walk: partitioned commits nest files under
            # _pt_<name>=<value>/ subdirectories, so manifest-relative
            # paths must be compared at ANY depth — a one-level listing
            # would mistake partition dirs for byproduct files
            paths: list[str] = []
            for dirpath, _dirs, names in os.walk(gdir):
                paths.extend(os.path.join(dirpath, n) for n in names)
            newest = max(
                (os.path.getmtime(p) for p in paths), default=0.0
            )
            if newest > cutoff:
                continue  # possibly an in-flight commit — grace period
            for p in paths:
                rel = os.path.relpath(p, root)
                if p.endswith(".parquet") and rel not in referenced:
                    os.remove(p)
                    removed.append(rel)
            # drop byproducts (_SUCCESS etc., empty partition dirs) and
            # the group once no data remains anywhere under it
            live = any(
                n.endswith(".parquet")
                for _dp, _ds, ns in os.walk(gdir)
                for n in ns
            )
            if not live:
                shutil.rmtree(gdir, ignore_errors=True)
    # format-2 entry files no surviving version references (expired
    # versions, lost commit races) — same grace window protects entries
    # an in-flight commit wrote but has not claimed a manifest for yet
    mdir = _manifest_dir(root)
    scan: list[tuple[str, str]] = []  # (name-as-referenced, fs path)
    if os.path.isdir(mdir):
        scan.extend((n, os.path.join(mdir, n)) for n in os.listdir(mdir))
    edir = os.path.join(mdir, "entries")
    if os.path.isdir(edir):
        scan.extend(
            (f"entries/{n}", os.path.join(edir, n))
            for n in os.listdir(edir)
        )
    for n, p in scan:
        base = os.path.basename(n)
        entry_like = (
            base.startswith("e-") or base.startswith("de-")
        ) and base.endswith(".json")
        # crashed-writer debris: _write_entry tmps and _commit
        # stage files that never reached their rename/claim.  These
        # live for MILLISECONDS in a healthy commit, so they get a
        # hard age floor regardless of min_age_s — a zero-grace
        # vacuum (quiesced-table cleanup) must never delete a
        # concurrent committer's stage file mid-claim
        debris = base.endswith(".json.tmp") or base.startswith(
            ".stage-"
        )
        if (not entry_like and not debris) or n in entry_refs:
            continue
        limit = (
            time.time() - max(min_age_s, 600.0) if debris else cutoff
        )
        try:
            if os.path.getmtime(p) <= limit:
                os.remove(p)
        except FileNotFoundError:
            pass  # a racing vacuum — already gone
    return removed
