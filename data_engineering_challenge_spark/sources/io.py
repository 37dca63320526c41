"""Readers and writers (SURVEY.md §2.1).

The reference moves data through a single SQLite file and CSV interchange
files (reference pipeline/db_operations.py:46-69, cj_builder.py:130,
run_pipeline.py:98).  Spark-native mapping:

* table scan            -> ``spark.read.parquet`` (lazy; pushdown + pruning)
* df.to_sql(append)     -> ``df.write.mode("append")``
* DELETE + INSERT loop  -> ``df.write.mode("overwrite")`` — atomic, and fixes
  the reference's per-chunk-truncation bug (api_client.py:139 runs inside
  every chunk, erasing prior chunks; SURVEY.md §3.1 step 5)
* CSV source/sink       -> schema'd CSV reader / header CSV writer
* real external DBs     -> JDBC reader (stub below; no JDBC driver jar ships
  in this container, so it is config-gated)
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def ensure_instant_timestamps(spark: SparkSession) -> None:
    """Pin un-annotated parquet timestamps to TimestampType (instant
    semantics) instead of TIMESTAMP_NTZ.  The testdata generator writes
    ``timestamp[us]`` with or without the UTC-adjusted flag depending on its
    arrow version; every timestamp expression in this engine (unix_micros,
    date arithmetic, windows) and the DuckDB oracle's naive-UTC view target
    the instant type.  Runtime-settable, idempotent — called at the read
    chokepoints so externally-built sessions (the driver's) behave the same
    as :func:`..session.get_spark` ones."""
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")


@contextmanager
def ensure_prunable_timestamp_writes(spark: SparkSession):
    """Pin parquet timestamp OUTPUT to annotated INT64 micros FOR THE
    ENCLOSED WRITE.  Spark's default is legacy INT96, which carries NO
    parquet min/max statistics — so neither the snapshot format's
    manifest stats (`snapshots._file_stats` reads the footer) nor
    Spark's own row-group pushdown could ever prune a timestamp
    predicate on engine-written data.  Runtime-settable — used at the
    WRITE chokepoints so externally-built sessions (the driver's)
    produce the same prunable files as :func:`..session.get_spark`
    ones.  A CONTEXT MANAGER that restores the session's prior value
    on exit: the engine's write policy must not silently change the
    physical parquet type of the caller's own unrelated writes in an
    externally-built session (advice, round 12)."""
    key = "spark.sql.parquet.outputTimestampType"
    prior = spark.conf.get(key)  # the conf has a default; never None
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try:
        yield
    finally:
        if prior != "TIMESTAMP_MICROS":
            spark.conf.set(key, prior)


def read_parquet_table(spark: SparkSession, path: str) -> DataFrame:
    """Lazy parquet scan. Column pruning / predicate pushdown are Catalyst's
    job — callers just select/filter and the scan narrows (check with
    ``df.explain``: ``PushedFilters`` / ``ReadSchema``)."""
    ensure_instant_timestamps(spark)
    return spark.read.parquet(path)


#: schema-on-read cache: path -> StructType.  Inferring a parquet schema
#: costs a footer-read job per ``spark.read.parquet`` call (~30-50 ms each,
#: measured); immutable inputs read repeatedly (the testdata tables, every
#: registry query) pay it once.  StructType is pure Python, so entries
#: survive session restarts.
_SCHEMA_CACHE: dict[str, StructType] = {}


def read_parquet_cached_schema(
    spark: SparkSession, path: str, cache: dict[str, StructType] | None = None
) -> DataFrame:
    """Parquet scan with a process-cached schema — identical plan to
    :func:`read_parquet_table` (pushdown/pruning unaffected), minus the
    per-call footer-inference round trip.  Only for paths whose schema is
    stable for the life of the process (the driver testdata is) — or for
    the life of ``cache``, the caller's own memo used in place of the
    process-wide one (a pipeline's outputs, which another pipeline may
    rewrite under the same path with another schema)."""
    ensure_instant_timestamps(spark)
    memo = _SCHEMA_CACHE if cache is None else cache
    sch = memo.get(path)
    if sch is None:
        sch = spark.read.parquet(path).schema
        memo[path] = sch
    return spark.read.schema(sch).parquet(path)


def _parse_size_bytes(s: str) -> int:
    """A Spark size conf value ("134217728b", "128m", "64k", "1g", bare
    int) → bytes.  Mirrors Spark's JavaUtils.byteStringAsBytes for the
    suffixes those confs actually use."""
    s = str(s).strip().lower()
    mult = 1
    for suf, m in (
        ("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30), ("tb", 1 << 40),
        ("b", 1), ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30),
        ("t", 1 << 40),
    ):
        if s.endswith(suf):
            s, mult = s[: -len(suf)], m
            break
    return int(s) * mult


def _estimate_scan_splits(df: DataFrame) -> int | None:
    """The scan-partition count Spark will give ``df``'s file scan,
    computed from FILE METADATA only — ``inputFiles()`` (the already-
    listed file index, no job) plus local ``stat()`` sizes, folded
    through Spark's own split formula (maxSplitBytes = min(
    maxPartitionBytes, max(openCostInBytes, totalBytes/parallelism)),
    then the greedy size-desc bin-packing of FilePartition).  Replaces
    the former ``df.rdd.getNumPartitions()`` probe, which compiled the
    physical plan per query build and — under AQE, on an input already
    containing an exchange — eagerly EXECUTED upstream stages at
    composition time (advice, round 14).

    Returns ``None`` (caller no-ops) when the estimate is unavailable:
    a non-file source, or files on a non-local filesystem — at scale a
    real table has thousands of splits and the caller's no-op branch is
    the correct outcome anyway.  Verified exact against
    ``rdd.getNumPartitions()`` on every driver testdata table at sf0.1
    and the ×10 upscale (r15)."""
    try:
        files = df.inputFiles()
        if not files:
            return None
        from urllib.parse import unquote

        sizes = []
        for u in files:
            p = u
            if p.startswith("file:"):
                p = p[len("file:"):]
                if p.startswith("//"):
                    p = p[2:]  # file:///x -> /x (empty authority)
                # inputFiles() returns percent-encoded URIs — a path with
                # a space ('test%20dir') must be decoded before stat, or
                # the estimate silently degrades to no-op (review, r15)
                p = unquote(p)
            elif "://" in p:
                return None  # non-local FS: no cheap stat; no-op at scale
            sizes.append(os.path.getsize(p))
        conf = df.sparkSession.conf
        max_pb = _parse_size_bytes(
            conf.get("spark.sql.files.maxPartitionBytes")
        )
        open_cost = _parse_size_bytes(
            conf.get("spark.sql.files.openCostInBytes")
        )
        min_pn = conf.get("spark.sql.files.minPartitionNum", None)
        parallelism = (
            int(min_pn)
            if min_pn
            else df.sparkSession.sparkContext.defaultParallelism
        )
        total = sum(sizes) + len(sizes) * open_cost
        max_split = min(max_pb, max(open_cost, total // max(1, parallelism)))
        # per-file byte-range chunks (parquet files are splittable), then
        # FilePartition's greedy packing: size-descending, close when the
        # next chunk would overflow, charge open_cost per chunk
        chunks: list[int] = []
        for sz in sizes:
            full, rem = divmod(sz, max_split)
            chunks.extend([max_split] * int(full))
            if rem:
                chunks.append(rem)
        chunks.sort(reverse=True)
        parts, cur, started = 0, 0, False
        for ch in chunks:
            if started and cur + ch > max_split:
                parts, cur, started = parts + 1, 0, False
            cur += ch + open_cost
            started = True
        return parts + 1 if started else max(parts, 1)
    except Exception:  # pragma: no cover - conf/stat quirk: no claims
        return None


def fan_out_scan(df: DataFrame, force: bool = False) -> DataFrame:
    """Round-robin-redistribute a coarse-grained source so downstream
    per-row compute (hashing, decimal aggregation, join probes) uses the
    whole cluster instead of the scan's task count.

    A parquet row group is Spark's minimum split: a table laid out as a
    few single-row-group files scans as a few tasks no matter how many
    cores exist, and everything pipelined into that scan stage (partial
    aggregation, broadcast-join probes, shuffle writes) runs at that
    parallelism.  This is the optimization guide's input-skew fix ("one
    huge unsplittable file … repartition immediately after the read",
    §2.5) made adaptive:

    * **no-op when the scan is already parallel enough** (estimated split
      count >= ``defaultParallelism / 2`` — the ≥2x task-gain margin) —
      on a real multi-file table at scale this adds nothing to the plan,
      so it is NOT a local-mode constant;
    * otherwise one round-robin exchange of the scan output.  Round-robin
      repartition is deterministic under task retry (Spark sorts before
      round-robin partitioning, SPARK-23207) and is never coalesced back
      by AQE (only ENSURE_REQUIREMENTS / REPARTITION_BY_COL shuffles are).

    The split count comes from :func:`_estimate_scan_splits` (file
    metadata only — no plan compile, no job, fully lazy composition);
    when no estimate exists (non-file source, remote FS) the scan is
    left alone.

    Only worth it when the downstream per-row work dominates one pass of
    the rows over the network — apply at compute-heavy chokepoints, not
    blanket.  Row multisets are preserved; callers' aggregations must be
    order-independent (the engine's decimal-exact convention).

    ``force=True`` always repartitions to ``defaultParallelism`` with NO
    probing of the input: for call sites that need the exchange as a
    MATERIALIZATION BARRIER (exploding winnow/shingle expressions whose
    re-inlining was measured catastrophic).  The input there may already
    contain exchanges, which is exactly where a partition probe would
    eagerly execute upstream stages at composition time — so the barrier
    width comes straight from the session (advice, round 14).
    """
    spark = df.sparkSession
    try:
        target = spark.sparkContext.defaultParallelism
    except Exception:  # pragma: no cover - no classic context
        target = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if force:
        return df.repartition(target)
    parts = _estimate_scan_splits(df)
    if parts is None or parts * 2 > target:
        # already parallel enough that one extra pass of the rows over the
        # network cannot pay for itself (< 2x task-count gain) — the margin
        # keeps a 30-split scan on a 32-core cluster from round-tripping
        # the whole relation for two more tasks
        return df
    return df.repartition(target)


def read_testdata(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver testdata table (TESTDATA.md)."""
    return read_parquet_table(spark, os.path.join(sf_dir, f"{name}.parquet"))


def read_csv(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """Schema'd CSV read — never infer (inference scans the file twice and
    guesses; the reference's CSV round-trip silently re-types timestamps,
    run_pipeline.py:98)."""
    return spark.read.schema(schema).option("header", True).csv(path)


def write_csv(df: DataFrame, path: str, single_file: bool = False) -> None:
    """CSV sink (reference cj_builder.py:130, channel_reporter.py:130).

    ``single_file=True`` coalesces to one partition for small exports only —
    at scale, always write partitioned.
    """
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").option("header", True).csv(path)


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    dynamic_partitions: bool = False,
    compression: str | None = None,
) -> None:
    """Primary sink. ``partition_by=['date']`` gives partition pruning for the
    date-range re-runs the reference does with DELETE+INSERT idempotency
    (channel_reporter.py:99).

    ``dynamic_partitions=True`` (with ``mode="overwrite"``) replaces ONLY
    the partitions present in ``df`` and leaves every other partition
    intact — the partition-level DELETE+INSERT a ranged re-run needs.  It
    is per-write (writer option, not session conf) and deliberately
    opt-in: a FULL rebuild must keep static overwrite, otherwise
    partitions that vanished from the input would survive as stale data."""
    writer = df.write.mode(mode)
    if compression:
        # snappy is the read-speed default; zstd trades ~even read cost for
        # materially smaller files — at 100 TB the storage/network win
        # usually dominates for cold layers
        writer = writer.option("compression", compression)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
        if dynamic_partitions:
            writer = writer.option("partitionOverwriteMode", "dynamic")
    writer.parquet(path)


def read_parquet_evolved(spark: SparkSession, path: str) -> DataFrame:
    """Schema-evolution-tolerant parquet read: files written before a column
    was added are read with that column NULL (``mergeSchema`` unions the
    per-file schemas instead of trusting one footer).

    The 100 TB reality this serves: long-lived tables accrete columns, and
    a reader pinned to a single file's schema silently drops the new ones
    (or crashes on the old ones).  Merge costs a footer read per file at
    planning time — turn it on for evolved tables, not everywhere."""
    return spark.read.option("mergeSchema", True).parquet(path)


def _hadoop_fs(spark: SparkSession, path: str):
    """Hadoop FileSystem + Path for ``path`` (works for file:// and hdfs://)."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, p


def _swap_siblings(spark: SparkSession, path: str):
    """The two sibling paths used by the atomic table swap."""
    tmp = path.rstrip("/") + "._inprogress"
    old = path.rstrip("/") + "._replaced"
    _, tmp_p = _hadoop_fs(spark, tmp)
    _, old_p = _hadoop_fs(spark, old)
    return tmp_p, old_p


def recover_interrupted_swap(spark: SparkSession, path: str) -> bool:
    """Repair a table whose ``publish_atomic`` swap crashed between its two
    renames.  Returns True iff ``path`` exists after recovery.

    State machine: the swap writes ``._inprogress`` COMPLETELY before the
    first rename, so an absent target with a present ``._inprogress`` AND a
    ``._replaced`` sibling can only mean the crash hit between
    rename(target -> ._replaced) and rename(._inprogress -> target) — the
    temp IS the complete new table and is published.  With NO ``._replaced``
    (a first-ever publish: no prior table was moved aside), completeness is
    decided by the writer's ``_SUCCESS`` job-commit marker — a temp missing
    it is a HALF-WRITTEN first publish whose crash hit mid-write, and
    publishing it would install a torn table; it is deleted instead (the
    caller's replayed batch regenerates it).  An absent target with only
    ``._replaced`` left means the publish rename and its rollback both
    failed — the old table is the best surviving copy and is restored.
    Callers deciding "first write ever?" from a bare existence check MUST
    call this first, or a crashed swap masquerades as an empty table and
    history is silently replaced."""
    fs, target = _hadoop_fs(spark, path)
    tmp_p, old_p = _swap_siblings(spark, path)
    if fs.exists(target):
        return True
    if fs.exists(tmp_p):
        jvm = spark._jvm
        complete = fs.exists(old_p) or fs.exists(
            jvm.org.apache.hadoop.fs.Path(tmp_p, "_SUCCESS")
        )
        if not complete:
            # half-written first-ever publish: no prior table existed (no
            # ._replaced) and the job never committed — discard the torn temp
            fs.delete(tmp_p, True)
            return False
        if not fs.rename(tmp_p, target):
            raise IOError(
                f"recover_interrupted_swap: could not publish {tmp_p} to {path}"
            )
        fs.delete(old_p, True)
        return True
    if fs.exists(old_p):
        if not fs.rename(old_p, target):
            raise IOError(
                f"recover_interrupted_swap: could not restore {old_p} to {path}"
            )
        return True
    return False


def publish_atomic(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    extra_files: dict[str, str] | None = None,
) -> None:
    """Replace the table at ``path`` with ``df`` via full-write-then-swap:
    ``df`` is completely written to a ``._inprogress`` sibling (it may read
    from ``path`` itself — the plan is forced before the target moves), then
    swapped in with two FileSystem renames.  A crash at any point leaves
    either the old table, the old table plus a complete temp, or the new
    table — never a half-written target — and ``recover_interrupted_swap``
    can mechanically repair the between-renames window.

    ``extra_files`` ({name: text_content}) are written INTO the staged
    directory before the swap, so sidecar metadata (e.g. a processed-
    version marker) is published in the SAME atomic rename as the data —
    there is no window where the table and its marker disagree.  Names
    must start with ``_`` or ``.`` so Spark's file listing ignores them."""
    spark = df.sparkSession
    fs, target = _hadoop_fs(spark, path)
    tmp_p, old_p = _swap_siblings(spark, path)
    if fs.exists(target):
        # leftovers next to a live target are stale garbage from a completed
        # (or rolled-back) prior swap — safe to clear
        fs.delete(tmp_p, True)
        fs.delete(old_p, True)
    elif fs.exists(tmp_p) or fs.exists(old_p):
        raise IOError(
            f"publish_atomic: {path} is absent but swap leftovers exist — "
            "an interrupted swap holds the only copies; call "
            "recover_interrupted_swap first"
        )
    for name in extra_files or {}:
        # validate BEFORE the (expensive) staging write
        if not name.startswith(("_", ".")):
            raise ValueError(
                f"publish_atomic: extra file {name!r} must start with "
                "'_' or '.' so data-source listings skip it"
            )
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(str(tmp_p))  # full write BEFORE any swap
    for name, content in (extra_files or {}).items():
        # through the FileSystem API, not a local open(): the swap deals
        # in fs paths (file://, hdfs://) and the marker must live on the
        # same filesystem as the table it travels with
        jvm = spark._jvm
        out = fs.create(
            jvm.org.apache.hadoop.fs.Path(tmp_p, name), True
        )
        try:
            out.write(bytearray(content.encode("utf-8")))
        finally:
            out.close()
    _swap_staged_in(fs, target, tmp_p, old_p, path)


def _swap_staged_in(fs, target, tmp_p, old_p, path: str) -> None:
    """The two-rename publish of a completely-staged ``._inprogress``
    (shared by `publish_atomic` and `write_audit_publish`)."""
    had_target = fs.exists(target)
    if had_target and not fs.rename(target, old_p):
        raise IOError(f"publish_atomic: could not move {path} aside")
    if not fs.rename(tmp_p, target):
        if had_target:
            # put the old table back; the complete temp stays for recovery
            fs.rename(old_p, target)
        raise IOError(f"publish_atomic: could not publish {tmp_p} to {path}")
    fs.delete(old_p, True)


def write_audit_publish(
    df: DataFrame,
    path: str,
    expectations: list,
    partition_by: list[str] | None = None,
) -> None:
    """Write-Audit-Publish: stage the full table, audit the STAGED FILES
    (not the logical plan — what was actually written is what gets
    checked), and only then swap it in atomically.  The WAP pattern a
    lakehouse runs on every batch: bad data can never become readable.

    * audit = `quality.check_expectations` over a re-read of the staged
      parquet — one aggregate pass;
    * pass → the same two-rename swap as `publish_atomic` (crash states
      and `recover_interrupted_swap` behave identically);
    * fail → ValueError with per-expectation counts; the staged data is
      renamed to ``<path>._wap_rejected`` for inspection — a DISTINCT
      name, so crash recovery can never mistake an audit-REJECTED stage
      for an interrupted publish and resurrect it (and the next publish
      won't see it as stale swap garbage)."""
    spark = df.sparkSession
    fs, target = _hadoop_fs(spark, path)
    tmp_p, old_p = _swap_siblings(spark, path)
    jvm = spark._jvm
    rejected_p = jvm.org.apache.hadoop.fs.Path(
        path.rstrip("/") + "._wap_rejected"
    )
    if fs.exists(target):
        fs.delete(tmp_p, True)
        fs.delete(old_p, True)
    elif fs.exists(tmp_p) or fs.exists(old_p):
        raise IOError(
            f"write_audit_publish: {path} is absent but swap leftovers "
            "exist — call recover_interrupted_swap first"
        )
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(str(tmp_p))

    from ..operators import quality

    staged = spark.read.parquet(str(tmp_p))
    report = quality.check_expectations(staged, expectations).collect()
    bad = [(r.expectation, r.n_violations) for r in report if not r.ok]
    if bad:
        fs.delete(rejected_p, True)
        fs.rename(tmp_p, rejected_p)
        raise ValueError(
            f"write_audit_publish: audit failed {bad}; staged data moved "
            f"to {rejected_p} for inspection — {path} untouched"
        )
    _swap_staged_in(fs, target, tmp_p, old_p, path)


def _part_swap_paths(spark: SparkSession, path: str, part_name: str):
    """Per-partition swap sibling paths INSIDE the table directory.

    Names are ``.``-prefixed so Spark's file listing hides them from reads
    even mid-swap (a bare ``<col>=<v>._inprogress`` contains ``=`` and would
    escape the ``_``-prefix filter, surfacing as a malformed partition)."""
    jvm = spark._jvm
    _, target = _hadoop_fs(spark, path)
    mk = jvm.org.apache.hadoop.fs.Path
    return (
        mk(target, part_name),
        mk(target, "." + part_name + "._inprogress"),
        mk(target, "." + part_name + "._replaced"),
    )


def list_partition_dirs(spark: SparkSession, path: str, col: str) -> list[str]:
    """Names of the live ``col=<value>`` partition directories under ``path``
    (one FileSystem listing — a driver-side metadata op, no data read)."""
    fs, target = _hadoop_fs(spark, path)
    if not fs.exists(target):
        return []
    return [
        st.getPath().getName()
        for st in fs.listStatus(target)
        if st.isDirectory() and st.getPath().getName().startswith(col + "=")
    ]


def recover_partition_swaps(spark: SparkSession, path: str) -> None:
    """Repair partition-level swap leftovers under ``path`` (the per-
    partition analog of :func:`recover_interrupted_swap`; call after it).

    For each ``.<part>._inprogress`` / ``.<part>._replaced`` found:

    * live partition present  -> the leftovers are stale copies from a swap
      that completed (or from a crashed batch the streaming checkpoint will
      replay) — deleted;
    * only ``._inprogress``   -> it was staged COMPLETELY before any rename
      (the staging write commits before the swap loop starts) — published;
    * only ``._replaced``     -> publish + rollback both failed — restored.

    A stale ``._staging`` sibling (crash mid-staging-write) is deleted: the
    replayed batch regenerates it."""
    fs, target = _hadoop_fs(spark, path)
    jvm = spark._jvm
    staging_p = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "._staging")
    fs.delete(staging_p, True)
    if not fs.exists(target):
        return
    for st in fs.listStatus(target):
        name = st.getPath().getName()
        for suffix in ("._inprogress", "._replaced"):
            if name.startswith(".") and name.endswith(suffix):
                part = name[1 : -len(suffix)]
                part_p, tmp_p, old_p = _part_swap_paths(spark, path, part)
                if fs.exists(part_p):
                    fs.delete(tmp_p, True)
                    fs.delete(old_p, True)
                elif fs.exists(tmp_p):
                    if not fs.rename(tmp_p, part_p):
                        raise IOError(
                            f"recover_partition_swaps: could not publish {tmp_p}"
                        )
                    fs.delete(old_p, True)
                elif fs.exists(old_p):
                    if not fs.rename(old_p, part_p):
                        raise IOError(
                            f"recover_partition_swaps: could not restore {old_p}"
                        )


def publish_atomic_partitions(
    df: DataFrame, path: str, partition_col: str, values: list
) -> None:
    """Replace ONLY the ``partition_col=<v>`` directories for ``v`` in
    ``values`` under ``path`` with ``df``'s content, leaving every other
    partition's files physically untouched — the partition-restricted form
    of :func:`publish_atomic` (a transactional format's ``replaceWhere``).

    ``df`` (which may read from the live table — the staging write forces
    the plan before anything moves) is fully written to a ``._staging``
    sibling partitioned by ``partition_col``; each staged partition is then
    swapped in with the publish_atomic rename dance, per partition.  A
    touched value with NO staged rows means the partition emptied — its
    directory is deleted.  Atomicity is PER PARTITION: a crash between
    partition swaps leaves earlier partitions new and later ones old, each
    internally consistent; a replayed batch (the streaming-checkpoint
    contract) re-merges to the same final state, and
    :func:`recover_partition_swaps` repairs any mid-swap window first."""
    spark = df.sparkSession
    fs, target = _hadoop_fs(spark, path)
    jvm = spark._jvm
    staging = path.rstrip("/") + "._staging"
    staging_p = jvm.org.apache.hadoop.fs.Path(staging)
    fs.delete(staging_p, True)
    (
        df.write.mode("overwrite")
        .partitionBy(partition_col)
        .parquet(staging)
    )  # complete staging write (job-committed) BEFORE any rename
    staged = {
        st.getPath().getName(): st.getPath()
        for st in fs.listStatus(staging_p)
        if st.getPath().getName().startswith(partition_col + "=")
    }
    for v in values:
        part = f"{partition_col}={v}"
        part_p, tmp_p, old_p = _part_swap_paths(spark, path, part)
        fs.delete(tmp_p, True)
        fs.delete(old_p, True)
        src = staged.get(part)
        if src is None:
            # every row of this touched partition was deleted by the merge
            fs.delete(part_p, True)
            continue
        if not fs.rename(src, tmp_p):
            raise IOError(f"publish_atomic_partitions: could not stage {part}")
        had = fs.exists(part_p)
        if had and not fs.rename(part_p, old_p):
            raise IOError(f"publish_atomic_partitions: could not move {part} aside")
        if not fs.rename(tmp_p, part_p):
            if had:
                fs.rename(old_p, part_p)
            raise IOError(f"publish_atomic_partitions: could not publish {part}")
        fs.delete(old_p, True)
    fs.delete(staging_p, True)


def compact_parquet(
    spark: SparkSession, path: str, target_files: int = 1
) -> None:
    """Small-files compaction: rewrite ``path`` as ``target_files`` parquet
    files (streaming sinks and per-batch upserts accrete tiny files; scan
    planning degrades with file COUNT long before data size matters).

    The compacted copy is fully written to a temp sibling and swapped in
    with ``publish_atomic`` — no materialization of the table in executor
    storage (the old localCheckpoint approach pinned the full dataset and
    had a crash window after the in-place overwrite started deleting the
    only copy), and a crash at any point leaves a complete table.  Size
    ``target_files`` ≈ total_bytes / 128 MB at scale; a transactional
    format's OPTIMIZE is the production equivalent.

    A merge-maintained table (key-bucket ``_kb=`` partition layout, see
    ``streaming.incremental``) keeps its layout: compaction rewrites one
    file per bucket partition instead of flattening the table — a flat
    rewrite would silently destroy the partition pruning every subsequent
    merge depends on."""
    if not recover_interrupted_swap(spark, path):
        raise IOError(f"compact_parquet: no table at {path}")
    recover_partition_swaps(spark, path)
    df = spark.read.parquet(path)
    bucket_parts = list_partition_dirs(spark, path, "_kb")
    if bucket_parts:
        publish_atomic(
            df.repartition(len(bucket_parts), F.col("_kb")),
            path,
            partition_by=["_kb"],
        )
    else:
        publish_atomic(df.repartition(target_files), path)


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str | None = None,
    num_partitions: int = 32,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    **options: str,
) -> DataFrame:
    """JDBC source for real databases (the reference's SQLite role).

    Partitioned reads (partition_column + bounds) parallelize the scan across
    executors; without them JDBC reads are single-stream. Requires the
    appropriate JDBC driver jar on the classpath — not bundled here.
    """
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    if partition_column is not None:
        if lower_bound is None or upper_bound is None:
            raise ValueError("partitioned JDBC read needs lower_bound and upper_bound")
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", str(num_partitions))
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
        )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def zorder_value(cols: list, bits: int = 8, mins=None, maxs=None):
    """Z-order (Morton) key for multi-column locality clustering: each
    column is quantized into ``2**bits`` uniform buckets over [min, max]
    and the bucket bits are interleaved — points close in EVERY dimension
    get close z-values, so a range-partitioned sort on the key co-locates
    them in the same files.

    Pure column expressions (shift/mask/or — JVM-side, no UDF).  ``mins``/
    ``maxs`` are per-column domain bounds (pass precomputed stats at scale;
    they become literals in the plan)."""
    n = len(cols)
    if bits * n > 63:
        # Java shiftleft masks the shift amount mod 64 — positions past 63
        # would silently WRAP into low bits and scramble the clustering
        raise ValueError(
            f"zorder_value: bits*len(cols) = {bits * n} exceeds the 63 "
            "interleavable bits of a bigint key — lower bits or cluster "
            "fewer columns"
        )
    z = F.lit(0).cast("bigint")
    for i, c in enumerate(cols):
        col = F.col(c) if isinstance(c, str) else c
        lo, hi = F.lit(mins[i]), F.lit(maxs[i])
        # uniform bucket in [0, 2**bits): ((x-lo)/(hi-lo)) * 2**bits, clamped
        b = F.least(
            F.lit((1 << bits) - 1),
            F.greatest(
                F.lit(0),
                F.floor(
                    (col.cast("double") - lo) / (hi - lo) * F.lit(1 << bits)
                ).cast("bigint"),
            ),
        )
        for bit in range(bits):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(b, bit).bitwiseAND(F.lit(1)), bit * n + i
                )
            )
    return z


def zorder_key_column(df: DataFrame, cols: list[str], bits: int = 8):
    """The Morton key Column for ``df``'s OWN domain bounds (one tiny
    aggregate) — the shared core of :func:`zorder_frame` and the
    snapshot format's within-partition clustering.  Bounds only steer
    LOCALITY (pruning correctness comes from per-file stats, not from
    the quantization), so per-batch bounds still cluster each output
    tightly.  All-NULL columns pin to [0, 1]; degenerate (min == max)
    domains widen by 1 to avoid a zero divisor."""
    stats = df.agg(
        *[F.min(c).cast("double").alias(f"_lo{i}") for i, c in enumerate(cols)],
        *[F.max(c).cast("double").alias(f"_hi{i}") for i, c in enumerate(cols)],
    ).collect()[0]
    mins = []
    maxs = []
    for i, c in enumerate(cols):
        lo, hi = stats[f"_lo{i}"], stats[f"_hi{i}"]
        if lo is None:  # all-NULL column: no domain to quantize, pin to 0
            lo, hi = 0.0, 1.0
        elif not hi > lo:  # degenerate domain (min == max): avoid div-by-zero
            hi = lo + 1.0
        mins.append(lo)
        maxs.append(hi)
    return zorder_value(cols, bits=bits, mins=mins, maxs=maxs)


def zorder_frame(
    df: DataFrame,
    cols: list[str],
    bits: int = 8,
    target_files: int = 16,
) -> DataFrame:
    """Range-partition + sort ``df`` on the Z-order key of ``cols`` —
    the clustering step shared by :func:`zorder_write` and the snapshot
    format's `snapshot_append_zordered`/compaction rewrite."""
    import uuid as _uuid

    z = zorder_key_column(df, cols, bits=bits)
    zc = f"_z_{_uuid.uuid4().hex[:8]}"  # never collide with user columns
    return (
        df.withColumn(zc, z)
        .repartitionByRange(target_files, zc)
        .sortWithinPartitions(zc)
        .drop(zc)
    )


def zorder_write(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 8,
    target_files: int = 16,
) -> None:
    """Rewrite ``df`` as parquet clustered on the Z-order of ``cols`` —
    the plain-parquet form of a transactional format's OPTIMIZE ZORDER.

    Why at 100 TB: min/max row-group statistics only skip scans when a
    file's value RANGE is narrow; a single-column sort narrows one column
    and leaves the others spanning the full domain.  Z-ordering bounds
    every clustered column's per-file span (~domain / files^(1/k) for k
    columns), so conjunctive predicates on any subset of them skip files.
    One pass for per-column min/max (tiny aggregate), one range shuffle."""
    zorder_frame(df, cols, bits=bits, target_files=target_files).write.mode(
        "overwrite"
    ).parquet(path)


def sorted_write(
    df: DataFrame,
    path: str,
    cols: list[str],
    target_files: int = 16,
) -> None:
    """Rewrite ``df`` as parquet in GLOBAL sort order on ``cols`` — the
    1-D complement of :func:`zorder_write` for single-key access
    patterns (time-ordered logs, id-range serving tables).

    ``repartitionByRange`` gives non-overlapping per-file key ranges and
    ``sortWithinPartitions`` orders inside each file, so the table as a
    whole is totally ordered: a point/range predicate on the leading
    sort column touches the one file (or contiguous few) whose min/max
    stats admit it, and downstream merge-style readers get sorted runs
    for free.  One range shuffle (sampling pass + exchange) — the same
    cost shape as a global orderBy, but laid out as ``target_files``
    files instead of one output partition per shuffle partition."""
    (
        df.repartitionByRange(target_files, *[F.col(c) for c in cols])
        .sortWithinPartitions(*[F.col(c) for c in cols])
        .write.mode("overwrite")
        .parquet(path)
    )

def write_bucketed(
    df: DataFrame,
    table: str,
    buckets: int,
    bucket_cols: list[str],
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed parquet table (hash-partitioned on disk by ``bucket_cols``).

    THE scale lever for repeated big-fact joins: two tables bucketed on the
    same key with the same bucket count join WITHOUT any Exchange — the
    shuffle happened once at write time and is amortized over every
    subsequent join/aggregation on that key (tests/test_bucketing.py
    asserts the Exchange-free plan).  Requires a catalog table
    (``saveAsTable``): bucketing metadata lives in the metastore.
    """
    writer = df.write.mode(mode).format("parquet").bucketBy(buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def read_jsonl(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """Schema'd JSON-lines read — the interchange format text corpora
    actually ship in.  Schema is REQUIRED: inference scans the data twice
    and silently widens/retypes across files (the CSV lesson, §2.1);
    corrupt lines surface in the default PERMISSIVE mode as all-NULL rows
    rather than killing the job — pair with a quality RowRule gate."""
    return spark.read.schema(schema).json(path)


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON-lines sink (one object per line, splittable downstream)."""
    df.write.mode(mode).json(path)


def read_orc_table(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — same lazy pushdown/pruning contract as parquet; ORC
    arrives via warehouse handoffs (Hive/Trino ecosystems)."""
    ensure_instant_timestamps(spark)
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).orc(path)


def read_text_corpus(spark: SparkSession, path: str) -> DataFrame:
    """Raw text ingestion, one document per line: (text, source_file).
    IDs are the consumer's choice — content hash (xxhash64) for dedup
    pipelines, (file, offset) for provenance; this reader adds only the
    provenance column, deliberately no order-dependent index (line
    numbering across splits is not stable at scale)."""
    return (
        spark.read.text(path)
        .select(
            F.col("value").alias("text"),
            F.input_file_name().alias("source_file"),
        )
    )
