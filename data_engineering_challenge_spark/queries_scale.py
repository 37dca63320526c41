"""Scale-pattern operator family (round 5): the distributed re-statements
of operations whose textbook form is a single-node scale-killer, plus the
remaining engine surface (ORC interchange, Python UDTF extension API).

Each query here exists because its NAIVE form breaks at 100 TB and the
distributed form is a known pattern worth shipping as a first-class
operator:

* global dense row numbering — ``ROW_NUMBER() OVER (ORDER BY ...)`` with
  no PARTITION BY collapses the whole table into ONE task; the two-pass
  bucket/offset form keeps every stage parallel;
* skyline / Pareto frontier — the NOT-EXISTS dominance query is an
  all-pairs self-join; partition-local pruning first (skyline-of-union =
  skyline-of-union-of-local-skylines) bounds the exact pass to the
  survivor set;
* EWMA — a linear recurrence no window frame expresses; per-key
  Arrow-batched ``applyInPandas`` is the tier-(b) custom-operator path
  (the closed-form trick ``(1-a)^-i`` overflows on long series, so the
  recurrence is the production form).

Float conventions per queries.py: EWMA uses alpha=0.5 — scaling by 0.5 is
EXACT in binary floating point, so each step is one IEEE addition both
engines perform identically and the whole surface hash-matches.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .queries import _dsum_sql, dsum, register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from .sources.io import read_parquet_cached_schema

    return read_parquet_cached_schema(spark, os.path.join(sf_dir, f"{name}.parquet"))


# --------------------------------------------------------------------------
# distributed dense global row ids (two-pass bucket/offset numbering)
# --------------------------------------------------------------------------


@register(
    "global_row_ids",
    """
SELECT event_id,
       ROW_NUMBER() OVER (ORDER BY ts, event_id) AS row_id
FROM events
""",
)
def global_row_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense global row ids 1..N in (ts, event_id) order — the "assign
    every training sample a stable sequential id" primitive.

    The oracle's ``ROW_NUMBER() OVER (ORDER BY ...)`` (no PARTITION BY)
    is the canonical scale-killer: Spark executes it as a SINGLE-partition
    window — one task sorts and numbers 100 TB.  The distributed form is
    the classic two-pass range numbering:

    1. bucket rows by an EXPLICIT range key (``width_bucket`` over the
       order column's min/max — deterministic, unlike
       ``repartitionByRange``'s sampled boundaries);
    2. number rows WITHIN each bucket (window partitioned by bucket —
       an ordinary parallel shuffle);
    3. offset each bucket by the total count of all lower buckets — a
       32-row aggregate, cumulated on the driver-side-tiny frame and
       broadcast back.

    Every stage is parallel; the only single-partition work is the
    32-row offset cumsum.  Uniform ``ts`` makes width_bucket balanced;
    for skewed order keys `_global_row_ids(equi_depth=True)` buckets by
    exact quantile boundaries instead — same plan shape, identical ids
    (parity-tested under skew).
    """
    events = _t(spark, sf_dir, "events").select(
        "event_id", F.unix_micros("ts").alias("ts_us")
    )
    return _global_row_ids(events, equi_depth=False)


def _global_row_ids(events: DataFrame, equi_depth: bool) -> DataFrame:
    """Two-pass numbering core.  ``equi_depth=False`` buckets by fixed
    time width (one min/max probe — right for near-uniform order keys);
    ``equi_depth=True`` buckets by EXACT quantile boundaries
    (``approxQuantile(relativeError=0)`` — deterministic), so heavily
    skewed keys still give balanced buckets: the skew fallback the
    fixed-width variant's docstring promises, and the bucketed row_id is
    identical either way (buckets are contiguous in key order and rows
    sort within buckets, so boundary choice only moves WORK, not ids —
    parity-tested on a 99%-one-timestamp skew fixture)."""
    n_buckets = 32
    if equi_depth:
        cuts = events.stat.approxQuantile(
            "ts_us", [i / n_buckets for i in range(1, n_buckets)], 0.0
        )  # scalar probe: 31 exact boundaries
        if not cuts:  # empty input
            return events.select(
                "event_id", F.lit(None).cast("bigint").alias("row_id")
            )
        # bucket = 1 + #boundaries <= ts (dup boundaries collapse — fine:
        # ids don't depend on bucket balance, only contiguity)
        bkt = F.aggregate(
            F.array(*[F.lit(c) for c in cuts]),
            F.lit(1),
            lambda acc, b: acc + F.when(F.col("ts_us") >= b, 1).otherwise(0),
        )
        bucketed = events.withColumn("_bkt", bkt)
    else:
        lo, hi = events.agg(
            F.min("ts_us").alias("lo"), F.max("ts_us").alias("hi")
        ).first()  # 1-row scalar probe: the bucket bounds
        if lo is None:  # empty input: no bounds, no rows to number
            return events.select(
                "event_id", F.lit(None).cast("bigint").alias("row_id")
            )
        bucketed = events.withColumn(
            "_bkt",
            F.width_bucket(F.col("ts_us"), F.lit(lo), F.lit(hi + 1), n_buckets),
        )
    local_w = Window.partitionBy("_bkt").orderBy("ts_us", "event_id")
    numbered = bucketed.withColumn("_rn", F.row_number().over(local_w))

    counts = bucketed.groupBy("_bkt").count()
    off_w = (
        Window.orderBy("_bkt").rowsBetween(Window.unboundedPreceding, -1)
    )  # 32-row frame: single-partition is fine HERE, bounded by n_buckets
    offsets = counts.withColumn(
        "_off", F.coalesce(F.sum("count").over(off_w), F.lit(0))
    ).select("_bkt", "_off")

    return (
        numbered.join(F.broadcast(offsets), "_bkt")
        .select(
            "event_id", (F.col("_off") + F.col("_rn")).alias("row_id")
        )
    )


# --------------------------------------------------------------------------
# skyline / Pareto frontier with partition-local pruning
# --------------------------------------------------------------------------


@register(
    "pareto_frontier",
    """
WITH pairs AS (
    SELECT DISTINCT p_retailprice AS price, p_size AS size FROM part
)
SELECT p.price, CAST(p.size AS BIGINT) AS size
FROM pairs p
WHERE NOT EXISTS (
    SELECT 1 FROM pairs q
    WHERE q.price <= p.price AND q.size >= p.size
      AND (q.price < p.price OR q.size > p.size)
)
""",
)
def pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier (skyline) of parts on (price ↓ better, size ↑
    better): the points no other point dominates — the shape behind
    "cheapest part at every capability level" / multi-objective pruning.

    The oracle's NOT-EXISTS dominance test is an all-pairs self-join —
    O(n²) and a non-starter at scale.  The distributed algorithm uses the
    skyline identity skyline(A ∪ B) = skyline(skyline(A) ∪ skyline(B)):

    1. partition-local skyline via ``mapInPandas`` — each partition sorts
       its rows by (price asc, size desc) and keeps rows whose size
       strictly exceeds the running max (on DISTINCT pairs this is the
       exact 2-D skyline); no shuffle, and dominated rows — typically
       almost everything — die here;
    2. exact global pass with the same sweep over the survivor set,
       which is bounded by (frontier size × #partitions), not n.

    The global window IS single-partition, but over the pruned survivors
    only — the same boundedness argument as the offset cumsum in
    ``global_row_ids``."""
    import pandas as pd

    pairs = (
        _t(spark, sf_dir, "part")
        .select(
            F.col("p_retailprice").alias("price"),
            F.col("p_size").cast("bigint").alias("size"),
        )
        .distinct()
    )

    def local_skyline(batches):
        chunks = list(batches)
        if not chunks:  # empty partition: pd.concat([]) raises
            return
        pdf = pd.concat(chunks, ignore_index=True)
        if pdf.empty:
            yield pdf
            return
        pdf = pdf.sort_values(["price", "size"], ascending=[True, False])
        run_max = pdf["size"].cummax().shift(1)
        yield pdf[run_max.isna() | (pdf["size"] > run_max)]

    survivors = pairs.mapInPandas(local_skyline, pairs.schema)
    w = Window.orderBy(F.col("price").asc(), F.col("size").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    return (
        survivors.withColumn("_m", F.max("size").over(w))
        .filter(F.col("_m").isNull() | (F.col("size") > F.col("_m")))
        .select("price", "size")
    )


# --------------------------------------------------------------------------
# EWMA per key: the linear recurrence as a tier-(b) custom operator
# --------------------------------------------------------------------------


@register(
    "ewma_value",
    """
WITH RECURSIVE numbered AS (
    SELECT user_id, event_id, value,
           ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS rn
    FROM events
), r AS (
    SELECT user_id, event_id, rn, value AS ewma
    FROM numbered WHERE rn = 1
    UNION ALL
    SELECT s.user_id, s.event_id, s.rn, 0.5 * s.value + 0.5 * r.ewma
    FROM r JOIN numbered s
      ON s.user_id = r.user_id AND s.rn = r.rn + 1
)
SELECT user_id, event_id, ewma FROM r
""",
)
def ewma_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of ``value`` per user in
    deterministic (ts, event_id) order — the smoothing primitive for
    telemetry/price streams: ewma_i = α·x_i + (1−α)·ewma_{i−1}, seeded
    ewma_1 = x_1, α = 0.5.

    No window frame expresses the recurrence (the coefficient of x_i
    depends on BOTH i and the row being evaluated); the closed-form
    rewrite Σ x_i·(1−α)^{-i} overflows on long series.  So: per-key
    Arrow-batched ``applyInPandas`` — one pass, one float of state per
    key, identical to the `capped_running_balance` shape and to the
    streaming `applyInPandasWithState` twin.

    Hash-exactness: α = 0.5 makes both products EXACT (scaling by a power
    of two), leaving ONE IEEE addition per step that both engines round
    identically; the recursive-CTE oracle steps the same expression."""
    import pandas as pd

    from . import roles

    events = roles.load_events(spark, sf_dir).select(
        "user_id", "event_id", "ts", "value"
    )

    def step(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"])
        e, out = None, []
        for x in pdf["value"]:
            e = x if e is None else 0.5 * x + 0.5 * e
            out.append(e)
        return pd.DataFrame(
            {
                "user_id": pdf["user_id"],
                "event_id": pdf["event_id"],
                "ewma": out,
            }
        )

    return events.groupBy("user_id").applyInPandas(
        step, "user_id bigint, event_id bigint, ewma double"
    )


# --------------------------------------------------------------------------
# ORC sink/source round trip (columnar interchange beyond parquet)
# --------------------------------------------------------------------------

#: per-(query, sf_dir) one-time materialization cache, csv_roundtrip style
_ORC_OUT_CACHE: dict[tuple[str, str], str] = {}


@register(
    "orc_roundtrip_stats",
    # oracle reads the ORIGINAL parquet — equality proves the ORC
    # sink+source pair is lossless for the whole corpus.
    """
SELECT lang, source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(len(text)) AS BIGINT) AS total_len
FROM documents
GROUP BY lang, source
""",
)
def orc_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink/source end-to-end (SURVEY.md §2.1 breadth): the corpus out
    to ORC (Spark's second built-in columnar format — the Hive-ecosystem
    interchange), back in schema'd, aggregated, hash-matched against the
    original parquet.  Column pruning and predicate pushdown work on ORC
    scans exactly as on parquet, so the format swap is plan-neutral."""
    import tempfile

    from .sources import io as eio

    docs = _t(spark, sf_dir, "documents")
    key = ("orc_roundtrip_stats", sf_dir)
    out = _ORC_OUT_CACHE.get(key)
    if out is None:
        tmp = tempfile.mkdtemp(prefix="orc_rt_")
        eio.write_orc(docs, f"{tmp}/docs")
        out = _ORC_OUT_CACHE[key] = f"{tmp}/docs"
    back = spark.read.schema(docs.schema).orc(out)
    return back.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(F.length("text")).alias("total_len"),
    )


# --------------------------------------------------------------------------
# Python UDTF: run-length encoding of token streams (extension API)
# --------------------------------------------------------------------------


@register(
    "rle_token_runs",
    """
WITH toks AS (
    SELECT doc_id,
           unnest(string_split(text, ' ')) AS token,
           generate_subscripts(string_split(text, ' '), 1) AS pos
    FROM documents
), marked AS (
    SELECT doc_id, token, pos,
           CASE WHEN LAG(token) OVER (
                    PARTITION BY doc_id ORDER BY pos
                ) IS DISTINCT FROM token THEN 1 ELSE 0 END AS is_start
    FROM toks
), runs AS (
    SELECT doc_id, token, pos,
           SUM(is_start) OVER (
               PARTITION BY doc_id ORDER BY pos
           ) AS run_id
    FROM marked
)
SELECT doc_id, CAST(run_id - 1 AS BIGINT) AS run_idx, token,
       CAST(COUNT(*) AS BIGINT) AS run_len
FROM runs
GROUP BY doc_id, run_id, token
""",
)
def rle_token_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-length encoding of each document's token stream — collapses
    consecutive duplicate tokens into (run_idx, token, run_len) rows (the
    compression/repetition primitive; `repetition_signals` measures what
    this materializes).

    Implementation exercises the Python UDTF extension API (Spark 4's
    table-function surface, SURVEY §2 extension-point breadth): a
    generator class emitting one row per run, applied per document via
    ``LATERAL``.  The oracle restates it relationally as gaps-and-islands
    (LAG ≠ marks run starts, running SUM numbers runs) — three window
    passes and an aggregate vs the UDTF's single linear scan per doc.

    Scale: the UDTF is a map-side one-to-many flatMap — no shuffle, state
    is one (token, count) pair; Python-row cost is the documented UDTF
    trade (use the gaps-and-islands form when the input is already
    exploded)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="run_idx bigint, token string, run_len bigint")
    class RleRuns:
        def eval(self, text: str):
            if text is None:
                return
            run_idx, cur, n = 0, None, 0
            for tok in text.split(" "):
                if tok == cur:
                    n += 1
                else:
                    if cur is not None:
                        yield run_idx, cur, n
                        run_idx += 1
                    cur, n = tok, 1
            if cur is not None:
                yield run_idx, cur, n

    spark.udtf.register("rle_runs", RleRuns)
    _t(spark, sf_dir, "documents").createOrReplaceTempView("_rle_docs")
    return spark.sql(
        """
        SELECT d.doc_id, r.run_idx, r.token, r.run_len
        FROM _rle_docs d, LATERAL rle_runs(d.text) r
        """
    )


#: per-(query, sf_dir) one-time stream materialization cache
_STREAM_OUT_CACHE: dict[tuple[str, str], str] = {}


@register(
    "streaming_ewma",
    """
WITH RECURSIVE numbered AS (
    SELECT user_id, event_id, value,
           ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS rn
    FROM events
), r AS (
    SELECT user_id, event_id, rn, value AS ewma
    FROM numbered WHERE rn = 1
    UNION ALL
    SELECT s.user_id, s.event_id, s.rn, 0.5 * s.value + 0.5 * r.ewma
    FROM r JOIN numbered s
      ON s.user_id = r.user_id AND s.rn = r.rn + 1
)
SELECT user_id, event_id, ewma FROM r
""",
)
def q_streaming_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cross-micro-batch stateful EWMA end-to-end (SURVEY.md §2.9):
    the feed is split at its median timestamp into TWO files,
    maxFilesPerTrigger=1 delivers them as two micro-batches, and the
    per-user (last, n) state carries batch 1's recurrence into batch 2 —
    so the value-hash match against the batch recursive-CTE oracle
    certifies STATE CARRY, not just single-batch equivalence (the α=0.5
    IEEE-exact step is what makes bit-equality achievable).  Output
    cached per (query, sf_dir)."""
    import shutil
    import tempfile

    from . import roles
    from .streaming import incremental as st
    from .streaming.stateful import streaming_ewma

    key = ("streaming_ewma", sf_dir)
    out = _STREAM_OUT_CACHE.get(key)
    if out is None:
        tmp = tempfile.mkdtemp(prefix="stream_ewma_")
        events = roles.load_events(spark, sf_dir)
        src = events.select(
            "user_id", "event_id", F.unix_micros("ts").alias("ts_us"), "value"
        )
        cut = src.approxQuantile("ts_us", [0.5], 0.0)[0]  # scalar probe
        src.filter(F.col("ts_us") <= cut).coalesce(1).write.parquet(
            f"{tmp}/src/b0"
        )
        src.filter(F.col("ts_us") > cut).coalesce(1).write.parquet(
            f"{tmp}/src/b1"
        )
        stream = (
            spark.readStream.schema(src.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{tmp}/src/b*")
        )
        st.run_available_now(streaming_ewma(stream), f"{tmp}/out", f"{tmp}/ckpt")
        shutil.rmtree(f"{tmp}/src", ignore_errors=True)
        shutil.rmtree(f"{tmp}/ckpt", ignore_errors=True)
        out = _STREAM_OUT_CACHE[key] = f"{tmp}/out"
    return spark.read.parquet(out)


# --------------------------------------------------------------------------
# count-min sketch heavy hitters — the ORACLE-GREEN mergeable sketch
# --------------------------------------------------------------------------


def _cms_db(key_col: str, depth: int, width: int) -> F.Column:
    """Exploded (d, b) pairs for a key: md5-derived buckets (engine-
    portable, like every hash in this repo — never an engine-internal
    hash)."""
    key_str = F.col(key_col).cast("string")

    def bucket(i: int) -> F.Column:
        h = F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{i}:"), key_str)), 1, 15),
            16,
            10,
        ).cast("bigint")
        return F.pmod(h, F.lit(width))

    return F.explode(
        F.array(
            *[
                F.struct(F.lit(i).alias("d"), bucket(i).alias("b"))
                for i in range(depth)
            ]
        )
    ).alias("db")


def cms_build(
    src: DataFrame, key_col: str, depth: int = 4, width: int = 64
) -> DataFrame:
    """Build a count-min sketch (depth × width counter rows) over every
    occurrence of ``key_col``: one explode(depth) + one (d, b) aggregate
    that rides map-side combine, so the shuffle carries at most
    depth×width rows per map task regardless of input size.  Counters are
    plain sums, so sketches merge across partitions, days, or streams by
    ADDITION (`cms_merge`) — the same mergeability contract as the
    HLL/Theta/KLL family, but with fully DETERMINISTIC portable hashing,
    which is why this one sketch can carry a value-hash ORACLE while
    DataSketches internals cannot."""
    return (
        src.select(_cms_db(key_col, depth, width))
        .select("db.d", "db.b")
        .groupBy("d", "b")
        .agg(F.count("*").alias("c"))
    )


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Merge count-min sketches built with the same (depth, width):
    counter-wise addition."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("d", "b").agg(F.sum("c").alias("c"))


def cms_probe(
    sketch: DataFrame, keys: DataFrame, key_col: str, depth: int, width: int
) -> DataFrame:
    """Estimate each distinct key's count: MIN over its ``depth``
    counters — an overestimate-only bound (collisions only ADD).  The
    finished sketch IS depth×width rows, so it broadcasts."""
    probes = (
        keys.select(F.col(key_col), _cms_db(key_col, depth, width))
        .select(key_col, "db.d", "db.b")
        .distinct()
    )
    return (
        probes.join(F.broadcast(sketch), ["d", "b"])
        .groupBy(key_col)
        .agg(F.min("c").alias("est_count"))
    )


def cms_estimates(
    src: DataFrame, key_col: str, depth: int = 4, width: int = 64
) -> DataFrame:
    """Count-min estimates for every distinct key in ``src`` (build +
    probe composed)."""
    sketch = cms_build(src, key_col, depth, width)
    return cms_probe(sketch, src, key_col, depth, width)


@register(
    "cms_heavy_hitters",
    """
WITH hashed AS (
    SELECT user_id, d,
           CAST(concat('0x', substring(
               md5(concat(d, ':', CAST(user_id AS VARCHAR))), 1, 15)
           ) AS BIGINT) % 64 AS b
    FROM events
    CROSS JOIN (VALUES ('0'), ('1'), ('2'), ('3')) AS t(d)
), sketch AS (
    SELECT d, b, COUNT(*) AS c FROM hashed GROUP BY d, b
), est AS (
    SELECT h.user_id, CAST(MIN(s.c) AS BIGINT) AS est_count
    FROM (SELECT DISTINCT user_id, d, b FROM hashed) h
    JOIN sketch s USING (d, b)
    GROUP BY h.user_id
)
SELECT user_id, est_count FROM est
ORDER BY est_count DESC, user_id
LIMIT 20
""",
)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 heaviest event users BY COUNT-MIN ESTIMATE (depth 4, width
    64 — deliberately undersized so collisions actually bias the
    estimates at sf0.01 and the oracle is checking real sketch behavior,
    not a degenerate exact regime).

    This is the sketch-family member whose ESTIMATES are value-hash
    verified: md5 bucket hashing is bit-identical in both engines, so the
    oracle rebuilds the identical sketch in SQL and must reproduce every
    collision.  Property tests cover the analytic guarantees (estimate ≥
    true count always; exact when width ≫ keys; merge-by-addition =
    single build).  Deterministic top-k tiebreak on user_id."""
    from . import roles

    events = roles.load_events(spark, sf_dir)
    est = cms_estimates(events.select("user_id"), "user_id", depth=4, width=64)
    return est.orderBy(F.desc("est_count"), "user_id").limit(20)


def run_streaming_cms(
    events_stream: DataFrame,
    sketch_path: str,
    checkpoint_dir: str,
    key_col: str = "user_id",
    depth: int = 4,
    width: int = 64,
) -> None:
    """Maintain a count-min sketch INCREMENTALLY over a stream: each
    micro-batch's sketch lands under its own ``_batch=<epoch>`` partition
    via dynamic partition overwrite (the quarantine-sink pattern), so a
    checkpoint-recovery REPLAY replaces its own partition instead of
    double-counting — replay-safe without read-modify-write.  The live
    sketch is merge-on-read: counters sum over all batch partitions
    (`cms_merge` semantics), exact because CMS merge IS addition.

    Scale: per-batch state written is depth×width rows regardless of
    batch size; the read-side merge is a tiny aggregate.  Compact by
    re-writing summed counters under one partition if batch count ever
    matters (it's depth×width rows per batch — it won't soon)."""

    def handle(bdf: DataFrame, epoch_id: int) -> None:
        sk = cms_build(bdf, key_col, depth, width).withColumn(
            "_batch", F.lit(int(epoch_id))
        )
        (
            sk.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch")
            .parquet(sketch_path)
        )

    q = (
        events_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def read_streaming_cms(spark: SparkSession, sketch_path: str) -> DataFrame:
    """The live sketch: counters summed across batch partitions."""
    return (
        spark.read.parquet(sketch_path)
        .groupBy("d", "b")
        .agg(F.sum("c").alias("c"))
    )


def compact_batch_partitions(
    spark: SparkSession,
    path: str,
    group_cols: list[str],
    sum_cols: list[str],
) -> None:
    """Fold a ``_batch=<epoch>``-partitioned mergeable-state table
    (streaming CMS sketches, OLS sufficient statistics, any
    merge-by-addition state) into ONE compacted partition ``_batch=-1``
    via full-write-then-atomic-swap.

    -1 is a RESERVED epoch no foreachBatch replay ever targets, and the
    NEWEST real epoch is left un-folded: Structured Streaming's replay
    contract is that only the last uncommitted epoch can re-run, so by
    folding every epoch EXCEPT max(_batch), a replay of that epoch
    REPLACES its still-live partition (dynamic partition overwrite)
    instead of double-merging into compacted state — replay-safe even
    if compaction races a crashed stream, no maintenance-window
    discipline required.  Bounds the partition count without a
    read-modify-write race; merge-equality, max-epoch-replay, and
    crash-recovery behavior are tested."""
    from .sources import io as eio

    eio.recover_interrupted_swap(spark, path)  # repair a torn prior swap
    cur = spark.read.parquet(path)
    epochs = [r._batch for r in cur.select("_batch").distinct().collect()]
    newest = max(epochs)
    to_fold = [e for e in epochs if e != newest]
    if not to_fold or to_fold == [-1]:
        return  # already compact: nothing to fold (avoid a no-op rewrite)
    folded = (
        cur.filter(F.col("_batch").isin(to_fold))
        .groupBy(*group_cols)
        .agg(*[F.sum(c).alias(c) for c in sum_cols])
        .withColumn("_batch", F.lit(-1))
    )
    kept = cur.filter(F.col("_batch") == newest).select(folded.columns)
    eio.publish_atomic(folded.unionByName(kept), path, partition_by=["_batch"])


@register(
    "streaming_cms_heavy_hitters",
    # identical oracle to cms_heavy_hitters: CMS merge is exact addition,
    # so the incrementally-maintained sketch must equal the batch build
    # bit-for-bit — collisions included.
    """
WITH hashed AS (
    SELECT user_id, d,
           CAST(concat('0x', substring(
               md5(concat(d, ':', CAST(user_id AS VARCHAR))), 1, 15)
           ) AS BIGINT) % 64 AS b
    FROM events
    CROSS JOIN (VALUES ('0'), ('1'), ('2'), ('3')) AS t(d)
), sketch AS (
    SELECT d, b, COUNT(*) AS c FROM hashed GROUP BY d, b
), est AS (
    SELECT h.user_id, CAST(MIN(s.c) AS BIGINT) AS est_count
    FROM (SELECT DISTINCT user_id, d, b FROM hashed) h
    JOIN sketch s USING (d, b)
    GROUP BY h.user_id
)
SELECT user_id, est_count FROM est
ORDER BY est_count DESC, user_id
LIMIT 20
""",
)
def q_streaming_cms_heavy_hitters(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """`run_streaming_cms` end-to-end: the median-split feed arrives as
    two micro-batches, each writes its own sketch partition, and the
    merged-on-read sketch probed for the top-20 must match the BATCH
    oracle exactly — the hash match certifies that incremental sketch
    maintenance loses nothing vs a one-shot build.  Output cached per
    (query, sf_dir)."""
    import tempfile

    from . import roles

    key = ("streaming_cms_heavy_hitters", sf_dir)
    out = _STREAM_OUT_CACHE.get(key)
    if out is None:
        tmp = tempfile.mkdtemp(prefix="stream_cms_")
        events = roles.load_events(spark, sf_dir)
        src = events.select("user_id", F.unix_micros("ts").alias("ts_us"))
        cut = src.approxQuantile("ts_us", [0.5], 0.0)[0]  # scalar probe
        src.filter(F.col("ts_us") <= cut).coalesce(1).write.parquet(
            f"{tmp}/src/b0"
        )
        src.filter(F.col("ts_us") > cut).coalesce(1).write.parquet(
            f"{tmp}/src/b1"
        )
        stream = (
            spark.readStream.schema(src.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{tmp}/src/b*")
        )
        run_streaming_cms(stream, f"{tmp}/sketch", f"{tmp}/ckpt")
        out = _STREAM_OUT_CACHE[key] = f"{tmp}/sketch"
    sketch = read_streaming_cms(spark, out)
    events = _t(spark, sf_dir, "events")
    est = cms_probe(sketch, events.select("user_id"), "user_id", 4, 64)
    return est.orderBy(F.desc("est_count"), "user_id").limit(20)


# --------------------------------------------------------------------------
# table diff: keyed symmetric difference (anti-entropy reconciliation)
# --------------------------------------------------------------------------


def diff_tables(
    a: DataFrame, b: DataFrame, keys: list[str]
) -> DataFrame:
    """Keyed symmetric difference of two same-schema tables: one row per
    key whose row content differs, with status ``only_a`` / ``only_b`` /
    ``changed`` — the anti-entropy repair step after `table_checksum`
    says two replicas diverged.

    Rows are compared by md5 over the canonical concat of ALL non-key
    columns (computed map-side, so the join carries keys + one hash —
    never the wide rows), then FULL OUTER join on the keys.  Scale: one
    shuffle per side on the key columns; output is bounded by the drift,
    not the table."""
    non_keys = [c for c in a.columns if c not in keys]

    def hashed(df: DataFrame, alias: str) -> DataFrame:
        row_str = F.concat_ws(
            "|",
            *[
                F.coalesce(F.col(c).cast("string"), F.lit("~null~"))
                for c in non_keys
            ],
        )
        return df.select(*keys, F.md5(row_str).alias(f"_h_{alias}"))

    ha, hb = hashed(a, "a"), hashed(b, "b")
    joined = ha.join(hb, keys, "full_outer")
    return joined.select(
        *keys,
        F.when(F.col("_h_b").isNull(), F.lit("only_a"))
        .when(F.col("_h_a").isNull(), F.lit("only_b"))
        .otherwise(F.lit("changed"))
        .alias("status"),
    ).filter(
        F.col("_h_a").isNull()
        | F.col("_h_b").isNull()
        | (F.col("_h_a") != F.col("_h_b"))
    )


@register(
    "table_diff_reconcile",
    # the "replica" is a deterministic drift of lineitem: high-discount
    # rows get their tax zeroed (changed), the odd linenumber-6 rows are
    # dropped (only_a) — the oracle restates the symmetric difference
    # relationally.
    """
WITH b AS (
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_discount > 0.05 THEN 0.0 ELSE l_tax END AS l_tax
    FROM lineitem
    WHERE l_linenumber <> 6
), a AS (
    SELECT l_orderkey, l_linenumber, l_tax FROM lineitem
)
SELECT a.l_orderkey, a.l_linenumber,
       CASE WHEN b.l_orderkey IS NULL THEN 'only_a' ELSE 'changed' END
           AS status
FROM a LEFT JOIN b
  ON a.l_orderkey = b.l_orderkey AND a.l_linenumber = b.l_linenumber
WHERE b.l_orderkey IS NULL OR a.l_tax <> b.l_tax
""",
)
def table_diff_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`diff_tables` end-to-end on a deterministic replica drift of
    ``lineitem`` (keys = (l_orderkey, l_linenumber)): high-discount rows
    mutated, one linenumber dropped — the diff must surface exactly the
    drifted keys with the right status and nothing else.  The oracle is
    the relational restatement of the symmetric difference (no only_b
    rows exist in this drift — the LEFT JOIN form covers it)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_tax", "l_discount"
    )
    a = li.select("l_orderkey", "l_linenumber", "l_tax")
    b = li.filter(F.col("l_linenumber") != 6).select(
        "l_orderkey",
        "l_linenumber",
        F.when(F.col("l_discount") > 0.05, F.lit(0.0))
        .otherwise(F.col("l_tax"))
        .alias("l_tax"),
    )
    return diff_tables(a, b, ["l_orderkey", "l_linenumber"])


# --------------------------------------------------------------------------
# hierarchical rollup: transitive ancestry via iterated joins
# --------------------------------------------------------------------------


@register(
    "part_hierarchy_rollup",
    """
WITH RECURSIVE anc AS (
    SELECT p_partkey AS node, p_partkey AS anc FROM part
    UNION ALL
    SELECT a.node, a.anc // 10
    FROM anc a WHERE a.anc // 10 >= 1
)
SELECT anc.anc AS partkey,
       CAST(COUNT(*) AS BIGINT) AS n_desc,
       CAST(CAST(SUM(CAST(p.p_retailprice AS DECIMAL(28,10))) AS VARCHAR)
            AS DOUBLE) AS subtree_value
FROM anc JOIN part p ON p.p_partkey = anc.node
GROUP BY anc.anc
""",
)
def part_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical (BOM-style) subtree rollup: parts form a forest via
    ``parent(k) = k DIV 10`` and every node aggregates its whole subtree
    (descendant count + decimal-exact retail value, self included) — the
    org-chart / bill-of-materials query family.

    The parent map is arithmetic here, but it is deliberately treated as
    a RELATION and the ancestry closure built by ITERATED JOINS — one
    join per level, O(log n) levels, the general pattern for hierarchies
    stored as edge tables (the oracle's WITH RECURSIVE is the same
    fixpoint).  Per level the frontier joins a broadcast parent map (a
    parent relation is |nodes| rows — broadcastable far beyond this
    scale; shuffle-join on the node key is the deep-hierarchy fallback).
    Driver traffic is one empty-check per level, the same bounded-loop
    posture as the KMeans/BPE/label-propagation iteratives; unlike
    those, the closure is SQL-expressible, so this one is hash-green."""
    parts = _t(spark, sf_dir, "part")
    node = F.col("p_partkey")
    edges = parts.select(
        node.alias("child"), F.expr("p_partkey DIV 10").alias("parent")
    ).filter(F.col("parent") >= 1)

    pairs = parts.select(node.alias("node"), node.alias("anc"))
    frontier = pairs
    closure = [pairs]
    level = 0
    while True:
        # per-level aliases keep the repeated self-join unambiguous
        level += 1
        fr, e = frontier.alias(f"f{level}"), edges.alias(f"e{level}")
        frontier = fr.join(
            F.broadcast(e),
            F.col(f"f{level}.anc") == F.col(f"e{level}.child"),
        ).select(
            F.col(f"f{level}.node").alias("node"),
            F.col(f"e{level}.parent").alias("anc"),
        )
        if frontier.isEmpty():  # bounded: one probe per tree level
            break
        closure.append(frontier)
    anc = closure[0]
    for f in closure[1:]:
        anc = anc.unionByName(f)

    vals = parts.select(node.alias("node"), F.col("p_retailprice"))
    return (
        anc.join(vals, "node")
        .groupBy(F.col("anc").alias("partkey"))
        .agg(
            F.count("*").alias("n_desc"),
            dsum("p_retailprice").alias("subtree_value"),
        )
    )


# --------------------------------------------------------------------------
# regression aggregate: per-group OLS trend (slope/intercept from sums)
# --------------------------------------------------------------------------


_SLOPE_SQL = (
    "(CAST(n AS DOUBLE) * sxy - sx * sy) / (CAST(n AS DOUBLE) * sxx - sx * sx)"
)


@register(
    "linear_trend_by_type",
    f"""
WITH d AS (
    SELECT event_type,
           date_diff('day', DATE '2020-01-01', CAST(ts AS DATE)) AS x,
           value AS y
    FROM events
), s AS (
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(x) AS DOUBLE) AS sx,
           CAST(SUM(x * x) AS DOUBLE) AS sxx,
           {_dsum_sql('y')} AS sy,
           {_dsum_sql('y * x')} AS sxy
    FROM d GROUP BY event_type
)
SELECT event_type, n,
       {_SLOPE_SQL} AS slope,
       (sy - ({_SLOPE_SQL}) * sx) / CAST(n AS DOUBLE) AS intercept
FROM s
""",
)
def linear_trend_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS regression of ``value`` against calendar day — the
    drift/trend aggregate (is this metric rising?), computed from the
    FIVE classic sufficient statistics (n, Σx, Σx², Σy, Σxy) in one
    partial-agg pass: the distributed form of regression — sums travel,
    rows don't; the statistics also merge across partitions/days by
    addition (same contract as the sketches).

    Exactness discipline: x is an INTEGER day index (bigint sums exact),
    the y-sums ride the decimal(28,10) path, and slope/intercept are
    then a fixed sequence of IEEE double ops both engines perform on
    bit-identical inputs — no libm, so the whole surface hash-matches
    (slope ≠ DuckDB's regr_slope, whose internal accumulation order is
    engine-specific; the sufficient-statistics restatement is what makes
    it portable)."""
    from . import roles

    events = roles.load_events(spark, sf_dir)
    d = events.select(
        "event_type",
        F.datediff(
            F.col("ts").cast("date"), F.to_date(F.lit("2020-01-01"))
        ).alias("x"),
        F.col("value").alias("y"),
    )
    s = d.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        dsum("y").alias("sy"),
        dsum(F.col("y") * F.col("x")).alias("sxy"),
    )
    n_d = F.col("n").cast("double")
    slope = (n_d * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        n_d * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        "event_type",
        "n",
        slope.alias("slope"),
        ((F.col("sy") - slope * F.col("sx")) / n_d).alias("intercept"),
    )


def _trend_stats(d: DataFrame) -> DataFrame:
    """The five OLS sufficient statistics per event_type over a frame with
    (event_type, x:int, y:double).  y-sums stay DECIMAL here — the
    streaming path re-sums them across batch partitions before the single
    decimal→double cast, so incremental totals are bit-identical to a
    one-shot aggregation."""
    return d.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast("decimal(28,10)")).alias("sy"),
        F.sum((F.col("y") * F.col("x")).cast("decimal(28,10)")).alias("sxy"),
    )


def run_streaming_trend(
    events_stream: DataFrame, stats_path: str, checkpoint_dir: str
) -> None:
    """Maintain the OLS sufficient statistics incrementally: per-batch
    partial stats land under ``_batch=<epoch>`` partitions (replay
    replaces, like `run_streaming_cms`); the live statistics are
    merge-on-read sums — the general pattern: ANY aggregate whose state
    merges by addition (counts, sums, sketches, sufficient statistics)
    gets replay-safe streaming maintenance from the same three pieces."""

    def handle(bdf: DataFrame, epoch_id: int) -> None:
        (
            _trend_stats(bdf)
            .withColumn("_batch", F.lit(int(epoch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch")
            .parquet(stats_path)
        )

    q = (
        events_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _trend_from_stats(stats: DataFrame) -> DataFrame:
    """slope/intercept from (possibly partition-split) sufficient stats;
    the IEEE op sequence matches `linear_trend_by_type` and its oracle."""
    merged = stats.groupBy("event_type").agg(
        F.sum("n").alias("n"),
        F.sum("sx").cast("double").alias("sx"),
        F.sum("sxx").cast("double").alias("sxx"),
        F.sum("sy").cast("double").alias("sy"),
        F.sum("sxy").cast("double").alias("sxy"),
    )
    n_d = F.col("n").cast("double")
    slope = (n_d * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        n_d * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return merged.select(
        "event_type",
        "n",
        slope.alias("slope"),
        ((F.col("sy") - slope * F.col("sx")) / n_d).alias("intercept"),
    )


@register(
    "streaming_linear_trend",
    # identical oracle to linear_trend_by_type: sufficient statistics
    # merge by exact addition (bigint / decimal), so incremental
    # maintenance must reproduce the batch answer bit-for-bit.
    f"""
WITH d AS (
    SELECT event_type,
           date_diff('day', DATE '2020-01-01', CAST(ts AS DATE)) AS x,
           value AS y
    FROM events
), s AS (
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(x) AS DOUBLE) AS sx,
           CAST(SUM(x * x) AS DOUBLE) AS sxx,
           {_dsum_sql('y')} AS sy,
           {_dsum_sql('y * x')} AS sxy
    FROM d GROUP BY event_type
)
SELECT event_type, n,
       {_SLOPE_SQL} AS slope,
       (sy - ({_SLOPE_SQL}) * sx) / CAST(n AS DOUBLE) AS intercept
FROM s
""",
)
def q_streaming_linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`run_streaming_trend` end-to-end: two micro-batches each write
    partial sufficient statistics; the merged stats must yield the BATCH
    regression bit-for-bit (decimal y-sums re-summed before the single
    cast).  Output cached per (query, sf_dir)."""
    import tempfile

    from . import roles

    key = ("streaming_linear_trend", sf_dir)
    out = _STREAM_OUT_CACHE.get(key)
    if out is None:
        tmp = tempfile.mkdtemp(prefix="stream_trend_")
        events = roles.load_events(spark, sf_dir)
        src = events.select(
            "event_type",
            F.datediff(
                F.col("ts").cast("date"), F.to_date(F.lit("2020-01-01"))
            ).alias("x"),
            F.col("value").alias("y"),
            F.unix_micros("ts").alias("ts_us"),
        )
        cut = src.approxQuantile("ts_us", [0.5], 0.0)[0]  # scalar probe
        src.filter(F.col("ts_us") <= cut).drop("ts_us").coalesce(1).write.parquet(
            f"{tmp}/src/b0"
        )
        src.filter(F.col("ts_us") > cut).drop("ts_us").coalesce(1).write.parquet(
            f"{tmp}/src/b1"
        )
        stream = (
            spark.readStream.schema(
                src.drop("ts_us").schema
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{tmp}/src/b*")
        )
        run_streaming_trend(stream, f"{tmp}/stats", f"{tmp}/ckpt")
        out = _STREAM_OUT_CACHE[key] = f"{tmp}/stats"
    return _trend_from_stats(spark.read.parquet(out).drop("_batch"))


def generate_cdc_feed(
    old: DataFrame, new: DataFrame, keys: list[str], op_col: str = "_op"
) -> DataFrame:
    """The INVERSE of `streaming.apply_cdc`: given two versions of a
    table, emit the I/U/D change feed that transforms ``old`` into
    ``new`` — snapshot-diff CDC for sources without a change log (the
    nightly-full-export integration pattern).

    Built on `diff_tables` (map-side row hashes, full-outer on keys, so
    the wide rows shuffle at most once): only_b → 'I', changed → 'U'
    (payload from ``new``), only_a → 'D' (key image only, the CDC
    convention — payload columns NULL).  Round trip is the tested
    contract: ``apply_cdc(table_at_old, generate_cdc_feed(old, new))``
    leaves the table equal to ``new``, for any pair of versions."""
    d = diff_tables(old, new, keys)
    op = (
        F.when(F.col("status") == "only_b", F.lit("I"))
        .when(F.col("status") == "changed", F.lit("U"))
        .otherwise(F.lit("D"))
    )
    payload = [c for c in new.columns if c not in keys]
    return (
        d.join(new, keys, "left")
        .select(
            *keys,
            *[
                F.when(F.col("status") != "only_a", F.col(c)).alias(c)
                for c in payload
            ],
            op.alias(op_col),
        )
    )


@register(
    "cdc_feed_generate",
    # a deterministic drift of orders (o_orderkey IS unique — CDC keys
    # must be), restated as a change feed: urgent orders are dropped
    # ('D', NULL payload — key image only), big-ticket orders are
    # discounted ('U', new payload), and a shifted key range is inserted
    # ('I').
    """
WITH a AS (
    SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
), b AS (
    SELECT o_orderkey,
           o_orderstatus,
           CASE WHEN o_totalprice > 100000
                THEN o_totalprice - 500.0 ELSE o_totalprice END
               AS o_totalprice
    FROM orders WHERE o_orderpriority <> '1-URGENT'
    UNION ALL
    SELECT o_orderkey + 10000000, 'N', o_totalprice
    FROM orders WHERE o_orderkey % 1000 = 0
)
SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
       b.o_orderstatus, b.o_totalprice,
       CASE WHEN b.o_orderkey IS NULL THEN 'D'
            WHEN a.o_orderkey IS NULL THEN 'I'
            ELSE 'U' END AS _op
FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey
WHERE b.o_orderkey IS NULL OR a.o_orderkey IS NULL
   OR a.o_orderstatus <> b.o_orderstatus
   OR a.o_totalprice <> b.o_totalprice
""",
)
def cdc_feed_generate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`generate_cdc_feed` on a three-way drift of ``orders`` (the table
    WITH a unique key — CDC requires one): deletes, updates, and inserts
    all present, each op carrying the right payload (NULL key-image for
    D).  The apply-side closure — ``apply_cdc(old, this feed) == new`` —
    is the round-trip property test."""
    o = _t(spark, sf_dir, "orders")
    a = o.select("o_orderkey", "o_orderstatus", "o_totalprice")
    b = (
        o.filter(F.col("o_orderpriority") != "1-URGENT")
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.when(
                F.col("o_totalprice") > 100000,
                F.col("o_totalprice") - 500.0,
            )
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
        )
        .unionByName(
            o.filter(F.col("o_orderkey") % 1000 == 0).select(
                (F.col("o_orderkey") + 10000000).alias("o_orderkey"),
                F.lit("N").alias("o_orderstatus"),
                "o_totalprice",
            )
        )
    )
    return generate_cdc_feed(a, b, ["o_orderkey"])


# --------------------------------------------------------------------------
# quantile normalization: percent_rank feature scaling per group
# --------------------------------------------------------------------------


@register(
    "percent_rank_normalize",
    """
SELECT event_id, event_type,
       PERCENT_RANK() OVER (
           PARTITION BY event_type ORDER BY value, event_id
       ) AS pr
FROM events
""",
)
def percent_rank_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile (rank) normalization of ``value`` within each event type —
    the distribution-free feature scaling used before mixing
    heterogeneous signals: each value maps to (rank−1)/(n−1) in [0, 1].

    The surface is IEEE-exact: rank and n are integers, so the single
    division is one correctly-rounded op both engines agree on
    (deterministic tie-break on event_id keeps ranks unique).  Scale:
    one shuffle on event_type; 5 groups here — for high-cardinality
    ORDER BY domains the two-pass global_row_ids bucket form is the
    fallback, same plan family."""
    from . import roles

    events = roles.load_events(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return events.select(
        "event_id", "event_type", F.percent_rank().over(w).alias("pr")
    )


@register(
    "pyds_manifest_roundtrip_stats",
    # oracle reads the ORIGINAL parquet — equality proves the custom
    # Python-DataSource WRITER (manifest-committed JSONL) + the
    # manifest-honoring read are lossless for the whole corpus,
    # escaping included.
    """
SELECT lang, source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(len(text)) AS BIGINT) AS total_len
FROM documents
GROUP BY lang, source
""",
)
def pyds_manifest_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Python DataSource WRITER end-to-end (SURVEY §2.1/2.10 API
    surface): corpus out through the ``jsonl_manifest`` sink (task part
    files + driver manifest commit), back in via the manifest-honoring
    schema'd read, aggregated, hash-matched against the original
    parquet.  Output cached per (query, sf_dir)."""
    import tempfile

    from .sources.pyds import (
        read_jsonl_manifest,
        register_jsonl_manifest_sink,
    )

    docs = _t(spark, sf_dir, "documents")
    key = ("pyds_manifest_roundtrip_stats", sf_dir)
    out = _ORC_OUT_CACHE.get(key)
    if out is None:
        register_jsonl_manifest_sink(spark)
        tmp = tempfile.mkdtemp(prefix="pyds_rt_")
        (
            docs.write.format("jsonl_manifest")
            .option("path", f"{tmp}/docs")
            .mode("append")
            .save()
        )
        out = _ORC_OUT_CACHE[key] = f"{tmp}/docs"
    back = read_jsonl_manifest(spark, out, docs.schema)
    return back.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(F.length("text")).alias("total_len"),
    )


@register(
    "snapshot_time_travel",
    f"""
SELECT CAST(0 AS BIGINT) AS version,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       {_dsum_sql('o_totalprice')} AS total_price
FROM orders WHERE o_orderkey % 2 = 0
UNION ALL
SELECT CAST(1 AS BIGINT) AS version,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       {_dsum_sql('o_totalprice')} AS total_price
FROM orders
""",
)
def snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Versioned-manifest snapshots end-to-end (`sources/snapshots.py` —
    the table-format core on plain parquet): version 0 commits the
    even-key orders, version 1 APPENDS the odd keys (referencing v0's
    files, not rewriting them), and the query time-travels BOTH
    versions and aggregates each — the hash match proves every manifest
    pins exactly its committed row set.  Output cached per
    (query, sf_dir)."""
    import tempfile

    from .sources import snapshots as sn

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    key = ("snapshot_time_travel", sf_dir)
    out = _ORC_OUT_CACHE.get(key)
    if out is None:
        root = tempfile.mkdtemp(prefix="snap_tt_") + "/tbl"
        sn.snapshot_overwrite(o.filter(F.col("o_orderkey") % 2 == 0), root)
        sn.snapshot_append(o.filter(F.col("o_orderkey") % 2 == 1), root)
        out = _ORC_OUT_CACHE[key] = root

    def agg(df: DataFrame, version: int) -> DataFrame:
        return df.agg(
            F.lit(version).cast("bigint").alias("version"),
            F.count("*").alias("n_rows"),
            dsum("o_totalprice").alias("total_price"),
        ).select("version", "n_rows", "total_price")

    return agg(sn.read_snapshot(spark, out, 0), 0).unionByName(
        agg(sn.read_snapshot(spark, out, 1), 1)
    )


def _median_split_stream(spark, src, tmp, cut_col):
    """Write ``src`` as two half-feeds split at the median of
    ``cut_col`` (an int64 Column) and return a file stream delivering
    them as two micro-batches — the feed scaffolding shared by the
    streaming snapshot-ingest queries."""
    cut = src.select(cut_col.alias("_cut")).approxQuantile(
        "_cut", [0.5], 0.0
    )[0]
    src.filter(cut_col <= cut).coalesce(1).write.parquet(f"{tmp}/src/b0")
    src.filter(cut_col > cut).coalesce(1).write.parquet(f"{tmp}/src/b1")
    return (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{tmp}/src/b*")
    )


@register(
    "streaming_snapshot_ingest",
    # the sink's declared contract is exactly-once delivery of the whole
    # feed into the snapshot table, so the plain batch aggregate over
    # events IS the oracle.
    f"""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       {_dsum_sql('value')} AS total_value
FROM events
GROUP BY event_type
""",
)
def q_streaming_snapshot_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`run_streaming_snapshot_sink` end-to-end: the median-split feed
    arrives as two micro-batches, each committing one tagged snapshot
    append; the LATEST snapshot aggregated must equal the batch
    aggregate over the raw events — exactly-once delivery, value-hash
    checked.  Output cached per (query, sf_dir)."""
    import tempfile

    from . import roles
    from .sources import snapshots as sn

    key = ("streaming_snapshot_ingest", sf_dir)
    out = _STREAM_OUT_CACHE.get(key)
    if out is None:
        tmp = tempfile.mkdtemp(prefix="snap_ingest_")
        events = roles.load_events(spark, sf_dir)
        src = events.select(
            "event_type", "value", F.unix_micros("ts").alias("ts_us")
        )
        stream = _median_split_stream(spark, src, tmp, F.col("ts_us"))
        sn.run_streaming_snapshot_sink(stream, f"{tmp}/tbl", f"{tmp}/ckpt")
        out = _STREAM_OUT_CACHE[key] = f"{tmp}/tbl"
    return (
        sn.read_snapshot(spark, out)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            dsum("value").alias("total_value"),
        )
    )


@register(
    "pandas_api_type_stats",
    """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       MIN(value) AS vmin,
       MAX(value) AS vmax
FROM events
GROUP BY event_type
""",
)
def pandas_api_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pandas-API-on-Spark surface (`DataFrame.pandas_api()` /
    `pyspark.pandas`) exercised end-to-end: the pandas-style
    groupby-agg chain compiles to the SAME Catalyst plans as the native
    API — this query runs it and hash-matches the SQL oracle, proving
    the third user-facing API (after DataFrame and SQL) rides the same
    engine.  Surface sticks to count/min/max (exact under any
    aggregation order); pandas-API means would float-drift, and the
    conversion back via `to_spark()` keeps everything distributed —
    no toPandas() driver collect anywhere."""
    from . import roles

    import pyspark.pandas as ps

    events = roles.load_events(spark, sf_dir).select("event_type", "value")
    psdf = events.pandas_api()
    g = psdf.groupby("event_type")["value"]
    stats = ps.concat(
        [g.count().rename("n"), g.min().rename("vmin"), g.max().rename("vmax")],
        axis=1,
    )
    out = stats.reset_index().to_spark()
    return out.select(
        "event_type", F.col("n").cast("bigint"), "vmin", "vmax"
    )


@register(
    "snapshot_pruned_lookup",
    f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
       {_dsum_sql('o_totalprice')} AS total_price
FROM orders
WHERE o_orderkey BETWEEN 5000 AND 5999
""",
)
def q_snapshot_pruned_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-stats pruning end-to-end: orders committed through
    `snapshot_append_clustered` (range-repartitioned, per-file min/max
    in the manifest), then a keyrange lookup planned from manifest
    metadata alone — the scan opens only the intersecting files (the
    unit test asserts the file count; here the ORACLE asserts the
    answer survives the pruning).  Output cached per (query, sf_dir)."""
    import tempfile

    from .sources import snapshots as sn

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    key = ("snapshot_pruned_lookup", sf_dir)
    out = _ORC_OUT_CACHE.get(key)
    if out is None:
        root = tempfile.mkdtemp(prefix="snap_prune_") + "/tbl"
        sn.snapshot_append_clustered(o, root, ["o_orderkey"], n_files=8)
        out = _ORC_OUT_CACHE[key] = root
    hit = sn.read_snapshot_pruned(spark, out, "o_orderkey", 5000, 5999)
    return hit.agg(
        F.count("*").alias("n_orders"),
        dsum("o_totalprice").alias("total_price"),
    )


@register(
    "snapshot_bloom_prune",
    # Oracle: the two point lookups replayed wholesale — the min and max
    # order keys always exist at every SF, so the key choice is
    # deterministic without hard-coding values.
    """
SELECT CAST(o_orderkey AS BIGINT) AS okey,
       CAST(o_custkey AS BIGINT) AS cust,
       o_totalprice AS price
FROM orders WHERE o_orderkey = (SELECT MIN(o_orderkey) FROM orders)
UNION ALL
SELECT CAST(o_orderkey AS BIGINT), CAST(o_custkey AS BIGINT), o_totalprice
FROM orders WHERE o_orderkey = (SELECT MAX(o_orderkey) FROM orders)
""",
)
def q_snapshot_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILE-LEVEL BLOOM FILTERS end to end: orders committed
    hash-scattered on the key (every file's [min, max] spans the whole
    domain — range stats provably keep nothing out) with
    ``bloom_cols=["o_orderkey"]``, then two point lookups
    (`read_snapshot_pruned(point_eq=...)`) planned from the manifest
    blooms alone — each opens ~1 of the 8 files (the unit tests assert
    the skip counts and the no-false-negative contract;
    scripts/bloom_evidence.py measures it).  This is the 100 TB
    needle-in-haystack path min/max cannot serve: Iceberg/Delta answer
    it with footer-resident blooms, here the filter lives in the
    manifest entry so planning stays one metadata read with zero file
    opens for pruned files.  Output cached per (query, sf_dir)."""
    import tempfile

    from .sources import snapshots as sn

    key = ("snapshot_bloom_prune", sf_dir)
    out = _ORC_OUT_CACHE.get(key)
    if out is None:
        o = _t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        root = tempfile.mkdtemp(prefix="snap_bloom_") + "/tbl"
        # SIZE the filter to the load (m ≈ 10× distinct keys per file,
        # the documented contract — bloom_evidence.py shows the default
        # 8192 bits saturating at sf ≥ 0.05 and skipping nothing)
        per_file = o.count() // 8 + 1
        bits = min(1 << 24, max(8192, ((10 * per_file + 7) // 8) * 8))
        sn.snapshot_append(
            o.repartition(8, "o_orderkey"),
            root,
            bloom_cols=["o_orderkey"],
            bloom_bits=bits,
        )
        out = _ORC_OUT_CACHE[key] = root
    bounds = (
        sn.read_snapshot(spark, out)
        .agg(
            F.min("o_orderkey").alias("lo"), F.max("o_orderkey").alias("hi")
        )
        .collect()[0]
    )
    parts = [
        sn.read_snapshot_pruned(
            spark, out, point_eq={"o_orderkey": int(k)}
        )
        for k in (bounds.lo, bounds.hi)
    ]
    both = parts[0].unionByName(parts[1])
    return both.select(
        F.col("o_orderkey").cast("bigint").alias("okey"),
        F.col("o_custkey").cast("bigint").alias("cust"),
        F.col("o_totalprice").alias("price"),
    )


@register(
    "snapshot_add_column_defaults",
    # Oracle: the evolution replayed as a CASE split — rows committed
    # BEFORE the add read the initial default, rows appended after
    # carry their computed values.
    f"""
WITH pre AS (
    SELECT c_custkey AS k, c_acctbal AS bal, 'standard' AS tier
    FROM customer WHERE c_custkey % 2 = 0
),
post AS (
    SELECT c_custkey, c_acctbal,
           CASE WHEN c_acctbal < 0 THEN 'debt' ELSE 'plus' END
    FROM customer WHERE c_custkey % 2 = 1
),
u AS (SELECT * FROM pre UNION ALL SELECT * FROM post)
SELECT tier, CAST(COUNT(*) AS BIGINT) AS n_cust,
       {_dsum_sql('bal')} AS total_bal
FROM u GROUP BY tier
""",
)
def q_snapshot_add_column_defaults(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ADD COLUMN with an INITIAL DEFAULT end to end
    (`snapshot_evolve(adds=...)`): half the customers are committed,
    then ``tier`` is added as a METADATA-ONLY commit with default
    ``'standard'`` (no file rewritten — the old files project the
    default at read), then the other half appends WITH explicit tier
    values — and the report groups over a column half the table never
    physically stored.  The Iceberg initial-default contract: defaults
    apply per file epoch, never masking post-add values (including
    explicit NULLs, pinned in tests/test_snapshot_defaults.py).  At
    100 TB this is the only viable ADD COLUMN: a backfill rewrite of
    the table is replaced by one JSON commit.  Build cached per
    (query, sf_dir)."""
    import tempfile

    from .sources import snapshots as sn

    key = ("snapshot_add_column_defaults", sf_dir)
    out = _ORC_OUT_CACHE.get(key)
    if out is None:
        c = _t(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("k"), F.col("c_acctbal").alias("bal")
        )
        root = tempfile.mkdtemp(prefix="snap_dflt_") + "/tbl"
        sn.snapshot_overwrite(c.filter(F.col("k") % 2 == 0), root)
        sn.snapshot_evolve(root, adds={"tier": ("string", "standard")})
        sn.snapshot_append(
            c.filter(F.col("k") % 2 == 1).withColumn(
                "tier",
                F.when(F.col("bal") < 0, "debt").otherwise("plus"),
            ),
            root,
        )
        out = _ORC_OUT_CACHE[key] = root
    return (
        sn.read_snapshot(spark, out)
        .groupBy("tier")
        .agg(
            F.count("*").alias("n_cust"),
            dsum("bal").alias("total_bal"),
        )
    )


@register(
    "snapshot_partitioned_zorder",
    # layout only changes which FILES open — the oracle filters raw
    f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(o_orderkey) AS BIGINT) AS mn,
       CAST(MAX(o_orderkey) AS BIGINT) AS mx,
       {_dsum_sql('o_totalprice')} AS total
FROM orders
WHERE o_orderkey % 4 = 1
  AND o_orderkey BETWEEN 1000 AND 3000
  AND o_custkey BETWEEN 20 AND 80
""",
)
def q_snapshot_partitioned_zorder(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """OPTIMIZE ZORDER on a HIDDEN-PARTITIONED table (round 10 — the
    r9 refusal replaced with Delta's composition): orders land
    partitioned by ``o_orderkey % 4``, then
    `snapshot_rewrite_zordered` re-clusters WITHIN each partition on
    the (o_orderkey, o_custkey) Morton key — transforms and recorded
    partition values preserved, the commit rides the compact
    discipline (streams survive, fixed-point cron no-op) — and the
    report reads through `read_snapshot_pruned` with partition_eq AND
    multi-dim ranges composing: the partition skip cuts 3/4 of the
    files, the zorder stats cut most of the rest (file counts pinned
    in tests/test_snapshots.py).  At 100 TB this is the layout for
    'one tenant, one key range' lookups on CDC tables.  Build cached
    per (query, sf_dir)."""
    import tempfile

    from .sources import snapshots as sn

    key = ("snapshot_partitioned_zorder", sf_dir)
    out = _ORC_OUT_CACHE.get(key)
    if out is None:
        o = _t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        root = tempfile.mkdtemp(prefix="snap_pz_") + "/tbl"
        sn.snapshot_append_partitioned(
            o, root, {"m4": "CAST(o_orderkey % 4 AS STRING)"}
        )
        sn.snapshot_rewrite_zordered(
            spark, root, ["o_orderkey", "o_custkey"], n_files=12, bits=6
        )
        out = _ORC_OUT_CACHE[key] = root
    return sn.read_snapshot_pruned(
        spark,
        out,
        ranges={"o_orderkey": (1000, 3000), "o_custkey": (20, 80)},
        partition_eq={"m4": 1},
    ).agg(
        F.count("*").alias("n"),
        F.min("o_orderkey").alias("mn"),
        F.max("o_orderkey").alias("mx"),
        dsum("o_totalprice").alias("total"),
    )


@register(
    "snapshot_mor_evolution",
    # Oracle: the full DML → evolve → DML replay as pure relational
    # algebra — equality deletes, the rename, the initial default, the
    # CDC upsert batch, and the post-evolve UPDATE each reconstructed
    # as a CTE hop; any mislabeled or resurrected row flips the hash.
    f"""
WITH c AS (
    SELECT c_custkey AS k, CAST(c_acctbal AS DECIMAL(18,2)) AS bal
    FROM customer
),
v1 AS (SELECT * FROM c WHERE k % 2 = 0 AND k % 10 <> 0),
v2 AS (SELECT k, bal AS balance, 'legacy' AS tier FROM v1),
v3 AS (
    SELECT * FROM v2 WHERE k % 10 <> 2
    UNION ALL
    SELECT k, CAST(bal * 2 AS DECIMAL(18,2)) AS balance, 'new' AS tier
    FROM c WHERE k % 2 = 1
),
v4 AS (
    SELECT k,
           CASE WHEN tier = 'legacy' AND balance < 0
                THEN CAST(0 AS DECIMAL(18,2)) ELSE balance END AS balance,
           tier
    FROM v3
)
SELECT tier, CAST(COUNT(*) AS BIGINT) AS n_rows,
       {_dsum_sql('balance')} AS total_balance
FROM v4 GROUP BY tier
""",
)
def q_snapshot_mor_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MoR × SCHEMA EVOLUTION composed end to end — the Iceberg v2
    posture (equality-delete lists bound to FIELD IDS) that a
    CDC-maintained table needs to stay evolvable: (1) append, (2) MoR
    equality DELETE, (3) `snapshot_evolve` RENAMING the delete's
    neighbor column and ADDING one with an initial default — accepted
    WITH the live delete list, which gets its key_ids stamped, (4) a
    post-evolve `snapshot_mor_merge` CDC batch (inserts + deletes
    under the NEW names), (5) a post-evolve `snapshot_update_where`.
    The final MoR read applies delete lists from BOTH schema epochs
    against one logical schema — pre-rename lists resolve through
    field ids.  Before round 10 step (3) refused outright
    (`_refuse_mor_on_evolved`); the reference's SQLite analog never
    refuses a new column (db_operations.py:59-69).  Build cached per
    (query, sf_dir)."""
    import tempfile

    from .sources import snapshots as sn

    key = ("snapshot_mor_evolution", sf_dir)
    out = _ORC_OUT_CACHE.get(key)
    if out is None:
        c = _t(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("k"),
            F.col("c_acctbal").cast("decimal(18,2)").alias("bal"),
        )
        root = tempfile.mkdtemp(prefix="snap_morev_") + "/tbl"
        sn.snapshot_append(c.filter(F.col("k") % 2 == 0), root)
        sn.snapshot_delete_where(spark, root, "k % 10 = 0", keys=["k"])
        sn.snapshot_evolve(
            root,
            renames={"bal": "balance"},
            adds={"tier": ("string", "legacy")},
        )
        batch = (
            c.filter(F.col("k") % 2 == 1)
            .select(
                "k",
                (F.col("bal") * 2).cast("decimal(18,2)").alias("balance"),
                F.lit("new").alias("tier"),
                F.lit("U").alias("_op"),
            )
            .unionByName(
                c.filter(
                    (F.col("k") % 2 == 0) & (F.col("k") % 10 == 2)
                ).select(
                    "k",
                    F.lit(None).cast("decimal(18,2)").alias("balance"),
                    F.lit(None).cast("string").alias("tier"),
                    F.lit("D").alias("_op"),
                )
            )
        )
        sn.snapshot_mor_merge(spark, root, batch, keys=["k"])
        sn.snapshot_update_where(
            spark,
            root,
            "tier = 'legacy' AND balance < 0",
            {"balance": "0"},
            keys=["k"],
        )
        out = _ORC_OUT_CACHE[key] = root
    return (
        sn.read_snapshot_mor(spark, out)
        .groupBy("tier")
        .agg(
            F.count("*").alias("n_rows"),
            dsum("balance").alias("total_balance"),
        )
    )


@register(
    "snapshot_copy_into_ingest",
    # Oracle: the landing slice aggregated ONCE — if the second COPY
    # INTO run were not a no-op, the count and sum would double and the
    # hash would scream.
    f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       {_dsum_sql('o_totalprice')} AS total_price
FROM orders WHERE o_orderkey % 3 = 0
""",
)
def q_snapshot_copy_into_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDEMPOTENT FILE INGESTION end to end (`snapshot_copy_into`, the
    COPY INTO shape): a landing directory of parquet files is loaded
    into a snapshot table, then the SAME glob runs AGAIN — the re-run
    commits nothing because each file's identity (path|size|mtime) is
    recorded atomically with the rows in the commit payload and
    recovered from the lineage walk.  The oracle aggregates the landing
    slice once, so any duplicate load fails the hash.  This is the cron
    ingestion contract every lakehouse pipeline runs on
    (Delta/Snowflake COPY INTO); at 100 TB the identity check is
    driver-side stat() metadata — no data read for already-loaded
    files.  Build cached per (query, sf_dir)."""
    import tempfile

    from .sources import snapshots as sn

    key = ("snapshot_copy_into_ingest", sf_dir)
    out = _ORC_OUT_CACHE.get(key)
    if out is None:
        tmp = tempfile.mkdtemp(prefix="snap_copy_")
        landing, root = f"{tmp}/landing", f"{tmp}/tbl"
        o = _t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice"
        ).filter(F.col("o_orderkey") % 3 == 0)
        o.repartition(4).write.parquet(landing)
        glob = f"{landing}/*.parquet"
        r1 = sn.snapshot_copy_into(spark, root, glob)
        assert len(r1["loaded"]) == 4
        r2 = sn.snapshot_copy_into(spark, root, glob)  # must no-op
        assert r2["loaded"] == []
        out = _ORC_OUT_CACHE[key] = root
    return sn.read_snapshot(spark, out).agg(
        F.count("*").alias("n_rows"),
        dsum("o_totalprice").alias("total_price"),
    )


@register(
    "snapshot_view_refresh",
    # the maintained view's contract is equality with a from-scratch
    # aggregate over the full table, so that aggregate IS the oracle.
    """
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,10))) AS VARCHAR)
            AS DOUBLE) AS total_price
FROM orders
GROUP BY o_orderstatus
""",
)
def q_snapshot_view_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`refresh_incremental_agg` end-to-end: orders committed in TWO
    snapshot appends, the view refreshed after each (refresh #2 consumes
    only the second append's delta), then read back — the hash match
    against the whole-table aggregate proves delta-driven maintenance
    loses nothing.  Sums ride decimal until the final cast, so the
    incremental merge is bit-identical to one-shot aggregation.  Output
    cached per (query, sf_dir)."""
    import tempfile

    from .sources import snapshots as sn

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(28,10)").alias("price_dec"),
    )
    key = ("snapshot_view_refresh", sf_dir)
    out = _ORC_OUT_CACHE.get(key)
    if out is None:
        tmp = tempfile.mkdtemp(prefix="snap_view_")
        root, view = f"{tmp}/tbl", f"{tmp}/view"
        sn.snapshot_append(o.filter(F.col("o_orderkey") % 2 == 0), root)
        sn.refresh_incremental_agg(
            spark, root, view, ["o_orderstatus"], ["price_dec"]
        )
        sn.snapshot_append(o.filter(F.col("o_orderkey") % 2 == 1), root)
        sn.refresh_incremental_agg(
            spark, root, view, ["o_orderstatus"], ["price_dec"]
        )
        out = _ORC_OUT_CACHE[key] = view
    return spark.read.parquet(out).select(
        "o_orderstatus",
        "n",
        F.col("price_dec").cast("double").alias("total_price"),
    )


@register(
    "user_type_profile_map",
    """
WITH t AS (
    SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY user_id, event_type
), u AS (
    SELECT user_id, CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types
    FROM t GROUP BY user_id
)
SELECT t.user_id, u.n_types, t.event_type, t.n
FROM t JOIN u USING (user_id)
""",
)
def user_type_profile_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user behavior profile carried as a MAP column — the
    feature-store shape (one row per entity, features as map<name, val>)
    — then exploded back to the relational form the oracle checks.

    The point is TYPE-SYSTEM coverage: the profile genuinely goes
    through MapType (`map_from_entries` over a collected struct array,
    `map_keys` for the type count, `explode` back to rows), the one
    Spark column family the registry didn't yet exercise through
    codegen/Arrow.  Map iteration order is undefined — the surface is
    the exploded SET of entries, which the order-insensitive hash
    compares fine; the map itself is never hashed (engine map
    serialization is not portable, so a map-typed output column would
    violate the oracle conventions).

    Scale: one (user, type) aggregate, then a per-user collect bounded
    by the type-domain cardinality (5 here; profile maps are bounded by
    construction — that bound is what makes the feature-store shape
    safe)."""
    from . import roles

    events = roles.load_events(spark, sf_dir)
    counts = events.groupBy("user_id", "event_type").agg(
        F.count("*").alias("n")
    )
    profile = counts.groupBy("user_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("event_type", "n"))
        ).alias("m")
    )
    return profile.select(
        "user_id",
        F.size(F.map_keys(F.col("m"))).cast("bigint").alias("n_types"),
        F.explode(F.col("m")).alias("event_type", "n"),
    )


@register("pq_topk", None)  # iterative (KMeans codebooks) — rows-only check
def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization approximate top-5 over the embeddings table
    (asymmetric distance; `pq_topk` defaults: 16 subspaces of dim 4 ×
    16 centroids each — see `operators.similarity.pq_topk`).  No SQL oracle: codebook training
    is iterative KMeans; tests pin exact-on-quantized-vectors behavior
    and recall against the exact search instead
    (test_text_dedup_similarity / test_scale_ops)."""
    from .operators import similarity as sim

    emb = _t(spark, sf_dir, "embeddings")
    return sim.pq_topk(emb, emb.filter(F.col("vec_id") < 20), k=5)


# --------------------------------------------------------------------------
# metric anomaly detection: integer-exact 2-sigma on daily counts
# --------------------------------------------------------------------------


@register(
    "daily_count_anomalies",
    """
WITH daily AS (
    SELECT event_type, CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY event_type, CAST(ts AS DATE)
), stats AS (
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(n) AS BIGINT) AS sum_n,
           CAST(SUM(n * n) AS BIGINT) AS sum_n2
    FROM daily GROUP BY event_type
)
SELECT d.event_type, d.day, d.n
FROM daily d JOIN stats s USING (event_type)
WHERE (d.n * s.n_days - s.sum_n) * (d.n * s.n_days - s.sum_n)
      > 4 * (s.n_days * s.sum_n2 - s.sum_n * s.sum_n)
""",
)
def daily_count_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly days per event type — the pipeline-health monitor
    (did a source stop sending? did a bot triple a feed?): a day is
    anomalous when its count deviates from the type's mean by more than
    2σ (2σ, not 3σ, so the flag fires on this corpus — the threshold is
    the caller's risk knob, the mechanism is the point).

    The whole test runs in INTEGER arithmetic: multiply (x−μ)² > 4σ²
    through by days² and every term is a bigint product of counts —
    no sqrt, no division, no float at all, so the flag can never drift
    between engines or partitionings (the same trick as the
    `attribution_verify` tolerance gate, taken all the way to exact).
    Scale: two stacked aggregates (day roll-up, then per-type stats
    broadcast back) — partial-agg shapes end to end."""
    from . import roles

    events = roles.load_events(spark, sf_dir)
    daily = events.groupBy(
        "event_type",
        F.col("ts").cast("date").cast("string").alias("day"),
    ).agg(F.count("*").alias("n"))
    stats = daily.groupBy("event_type").agg(
        F.count("*").alias("n_days"),
        F.sum("n").alias("sum_n"),
        F.sum(F.col("n") * F.col("n")).alias("sum_n2"),
    )
    dev = F.col("n") * F.col("n_days") - F.col("sum_n")
    var_scaled = F.col("n_days") * F.col("sum_n2") - F.col("sum_n") * F.col(
        "sum_n"
    )
    return (
        daily.join(F.broadcast(stats), "event_type")
        .filter(dev * dev > 4 * var_scaled)
        .select("event_type", "day", "n")
    )


# --------------------------------------------------------------------------
# order-independent table checksum (migration / replication validation)
# --------------------------------------------------------------------------


@register(
    "table_checksum",
    """
WITH canon AS (
    SELECT concat_ws('|',
        COALESCE(CAST(l_orderkey AS VARCHAR), '~null~'),
        COALESCE(CAST(l_partkey AS VARCHAR), '~null~'),
        COALESCE(CAST(l_suppkey AS VARCHAR), '~null~'),
        COALESCE(CAST(l_linenumber AS VARCHAR), '~null~'),
        COALESCE(CAST(CAST(l_quantity AS DECIMAL(18,6)) AS VARCHAR), '~null~'),
        COALESCE(CAST(CAST(l_extendedprice AS DECIMAL(18,6)) AS VARCHAR), '~null~'),
        COALESCE(CAST(CAST(l_discount AS DECIMAL(18,6)) AS VARCHAR), '~null~'),
        COALESCE(CAST(CAST(l_tax AS DECIMAL(18,6)) AS VARCHAR), '~null~'),
        COALESCE(l_returnflag, '~null~'),
        COALESCE(l_linestatus, '~null~'),
        COALESCE(CAST(epoch_us(l_shipdate) AS VARCHAR), '~null~')
    ) AS row_str
    FROM lineitem
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(CAST(concat('0x', substring(md5(row_str), 1, 15))
                AS BIGINT) AS DECIMAL(38,0))) AS VARCHAR) AS checksum
FROM canon
""",
)
def table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent whole-table fingerprint of ``lineitem`` — the
    migration/replication validation primitive: after moving 100 TB
    between engines/formats/clusters, compare ONE row per table instead
    of the tables.

    Construction: canonical row string (every column through an
    engine-portable text form — bigints verbatim, doubles via the
    DECIMAL(18,6) convention, timestamps as epoch-µs, NULL marked
    distinctly from empty) → md5 → 60-bit integer → SUM as
    DECIMAL(38,0).  Exact decimal addition is commutative, so the
    checksum is independent of partitioning, ordering, and engine —
    that the DuckDB oracle reproduces it bit-for-bit IS the feature
    being shipped.

    Scale: map-only hashing + one partial-agg scalar — no shuffle wider
    than one row per map task; no column survives past the md5."""
    li = _t(spark, sf_dir, "lineitem")

    def canon(c: str, expr: F.Column) -> F.Column:
        return F.coalesce(expr.cast("string"), F.lit("~null~"))

    row_str = F.concat_ws(
        "|",
        canon("l_orderkey", F.col("l_orderkey")),
        canon("l_partkey", F.col("l_partkey")),
        canon("l_suppkey", F.col("l_suppkey")),
        canon("l_linenumber", F.col("l_linenumber")),
        canon("l_quantity", F.col("l_quantity").cast("decimal(18,6)")),
        canon("l_extendedprice", F.col("l_extendedprice").cast("decimal(18,6)")),
        canon("l_discount", F.col("l_discount").cast("decimal(18,6)")),
        canon("l_tax", F.col("l_tax").cast("decimal(18,6)")),
        canon("l_returnflag", F.col("l_returnflag")),
        canon("l_linestatus", F.col("l_linestatus")),
        canon("l_shipdate", F.unix_micros("l_shipdate")),
    )
    h = F.conv(F.substring(F.md5(row_str), 1, 15), 16, 10).cast("bigint")
    return li.select(h.alias("_h")).agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("_h").cast("decimal(38,0)")).cast("string").alias("checksum"),
    )


# --------------------------------------------------------------------------
# merge-on-read snapshot merge + commit-history surface (round 6)
# --------------------------------------------------------------------------


def _mor_feed_root(spark: SparkSession, sf_dir: str) -> str:
    """Shared fixture for the MoR-family queries: the events table as a
    deterministic I/U/D feed (key = user_id, sequence = event_id, three
    batches by event_id % 3) applied as three `snapshot_mor_merge`
    commits (v0, v1, v2).  Built once per sf_dir, cached."""
    import tempfile

    from . import roles
    from .sources import snapshots as sn

    key = ("snapshot_mor_merge", sf_dir)
    out = _STREAM_OUT_CACHE.get(key)
    if out is None:
        tmp = tempfile.mkdtemp(prefix="snap_mor_")
        events = roles.load_events(spark, sf_dir)
        feed = events.select(
            F.col("user_id").alias("k"),
            F.col("event_id").alias("seq"),
            (F.col("event_id") % 3).alias("_batch"),
            F.when(F.col("event_id") % 7 == 0, F.lit("D"))
            .when(F.col("event_id") % 2 == 0, F.lit("I"))
            .otherwise(F.lit("U"))
            .alias("_op"),
            F.col("value").alias("v"),
        )
        for b in range(3):
            sn.snapshot_mor_merge(
                spark,
                f"{tmp}/tbl",
                feed.filter(F.col("_batch") == b).drop("_batch"),
                ["k"],
                seq_col="seq",
            )
        out = _STREAM_OUT_CACHE[key] = f"{tmp}/tbl"
    return out


@register(
    "snapshot_mor_merge",
    # The MoR merge is deterministic given a sequenced feed, so plain SQL
    # replays it wholesale (same shape as the cdc_apply_replay oracle):
    # per key, the change with the highest (batch, seq) wins — an
    # equality-delete file kills every lower-sequence copy of a touched
    # key, and the winning batch's upsert (if not a delete) is the one
    # row the anti-join lets through.
    """
WITH feed AS (
    SELECT user_id AS k,
           event_id AS seq,
           event_id % 3 AS batch,
           CASE WHEN event_id % 7 = 0 THEN 'D'
                WHEN event_id % 2 = 0 THEN 'I'
                ELSE 'U' END AS op,
           value AS v
    FROM events
),
ranked AS (
    SELECT k, seq, op, v,
           ROW_NUMBER() OVER (PARTITION BY k
                              ORDER BY batch DESC, seq DESC) AS rn
    FROM feed
)
SELECT k AS user_id, seq AS last_seq, v AS last_value
FROM ranked
WHERE rn = 1 AND op <> 'D'
""",
)
def q_snapshot_mor_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-ON-READ CDC end-to-end (`sources/snapshots.py
    snapshot_mor_merge` — the Iceberg equality-delete pattern): the
    events table becomes a deterministic I/U/D feed (key = user_id,
    sequence = event_id, three batches by event_id % 3) applied as
    three MoR commits — each writes ONLY its upserts plus an
    equality-delete key list, never rewriting existing data files —
    and `read_snapshot_mor` reconstructs the merged table through the
    sequence-aware anti-join.  The oracle replays the same feed in
    plain SQL.  Write cost O(batch) instead of the CoW merge's
    O(table) — the trade that makes per-batch CDC viable at 100 TB.
    Output cached per (query, sf_dir)."""
    from .sources import snapshots as sn

    out = _mor_feed_root(spark, sf_dir)
    return sn.read_snapshot_mor(spark, out).select(
        F.col("k").alias("user_id"),
        F.col("seq").alias("last_seq"),
        F.col("v").alias("last_value"),
    )


#: the CDF oracles' shared feed-replay prologue — the deterministic
#: 3-batch I/U/D feed, per-batch last-change winners, and the two
#: intermediate states; `snapshot_cdf_feed` and `snapshot_cdf_updates`
#: compose their event derivations on top of ONE spelling so the
#: fixture rule can never silently diverge between them
_CDF_FEED_CTES = """WITH feed AS (
    SELECT user_id AS k,
           event_id AS seq,
           event_id % 3 AS batch,
           CASE WHEN event_id % 7 = 0 THEN 'D'
                WHEN event_id % 2 = 0 THEN 'I'
                ELSE 'U' END AS op,
           value AS v
    FROM events
),
w AS (
    SELECT batch, k, seq, op, v FROM (
        SELECT batch, k, seq, op, v,
               ROW_NUMBER() OVER (PARTITION BY batch, k
                                  ORDER BY seq DESC) AS rn
        FROM feed
    ) WHERE rn = 1
),
state0 AS (SELECT k, v FROM w WHERE batch = 0 AND op <> 'D'),
state1 AS (
    SELECT k, v FROM (
        SELECT k, op, v,
               ROW_NUMBER() OVER (PARTITION BY k ORDER BY batch DESC) AS rn
        FROM w WHERE batch <= 1
    ) WHERE rn = 1 AND op <> 'D'
),"""


@register(
    "snapshot_cdf_feed",
    # The CDF is deterministic given the sequenced feed: delete events
    # at commit v are the state-after-batches<v rows whose key batch v
    # touched (upsert OR delete — the equality list names both), insert
    # events are batch v's per-key winners that aren't deletes.  The
    # oracle replays both intermediate states with the same window the
    # snapshot_mor_merge oracle uses for the final state.
    f"""
{_CDF_FEED_CTES}
ev AS (
    SELECT CAST(1 AS BIGINT) AS commit_version, 'delete' AS change_type, v
    FROM state0 WHERE k IN (SELECT k FROM w WHERE batch = 1)
    UNION ALL
    SELECT CAST(1 AS BIGINT), 'insert', v FROM w WHERE batch = 1 AND op <> 'D'
    UNION ALL
    SELECT CAST(2 AS BIGINT), 'delete', v
    FROM state1 WHERE k IN (SELECT k FROM w WHERE batch = 2)
    UNION ALL
    SELECT CAST(2 AS BIGINT), 'insert', v FROM w WHERE batch = 2 AND op <> 'D'
)
SELECT commit_version, change_type,
       COUNT(*) AS n_events,
       {_dsum_sql("v")} AS sum_v
FROM ev
GROUP BY commit_version, change_type
ORDER BY commit_version, change_type
""",
)
def q_snapshot_cdf_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHANGE DATA FEED over the MoR lineage (`sources/snapshots.py
    read_snapshot_cdf` — the Delta CDF / Iceberg changelog-view read):
    the three-batch `_mor_feed_root` fixture is consumed as per-commit
    insert/delete EVENTS — an upsert surfaces as delete(pre-image) +
    insert(new row), computed from only the commit's added files plus
    an as-of-parent semi-join against the broadcast key list (never a
    diff of two full table reads).  The oracle replays each
    intermediate state in plain SQL and derives the same events.
    Aggregated per (commit, change_type) so the hash check pins both
    event counts and the pre-image VALUES the deletes carried."""
    from .sources import snapshots as sn

    root = _mor_feed_root(spark, sf_dir)
    cdf = sn.read_snapshot_cdf(spark, root, 0, 2)
    return (
        cdf.groupBy(
            F.col("_commit_version").alias("commit_version"),
            F.col("_change_type").alias("change_type"),
        )
        .agg(F.count("*").alias("n_events"), dsum("v").alias("sum_v"))
        .orderBy("commit_version", "change_type")
    )


@register(
    "snapshot_history",
    # The lineage DAG is deterministic by construction (coalesce(1)
    # commits ⇒ exact file counts); the per-version row counts are
    # genuine data aggregates over the same orders slices, so the hash
    # check ties the metadata surface to real reads.
    """
SELECT CAST(0 AS BIGINT) AS version, CAST(NULL AS BIGINT) AS parent,
       'append' AS operation, CAST(1 AS BIGINT) AS n_files,
       CAST(1 AS BIGINT) AS files_added, CAST(0 AS BIGINT) AS files_removed,
       CAST(0 AS INT) AS is_current,
       CAST((SELECT COUNT(*) FROM orders WHERE o_orderkey % 3 = 0) AS BIGINT)
           AS n_rows
UNION ALL
SELECT 1, 0, 'append', 2, 1, 0, 0,
       (SELECT COUNT(*) FROM orders WHERE o_orderkey % 3 IN (0, 1))
UNION ALL
SELECT 2, 1, 'overwrite', 1, 1, 2, 0,
       (SELECT COUNT(*) FROM orders WHERE o_orderkey % 3 = 2)
UNION ALL
SELECT 3, 1, 'append', 3, 1, 0, 1,
       (SELECT COUNT(*) FROM orders WHERE o_orderkey % 3 IN (0, 1, 2))
""",
)
def q_snapshot_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`snapshot_history` — the DESCRIBE-HISTORY surface — over a
    fixture lineage that includes a ROLLBACK: v0/v1 append thirds of
    orders, v2 overwrites, the table rolls back to v1, and v3 appends
    on the v1 branch — so the history's parent column records the true
    DAG (v3.parent = 1, not 2) and is_current marks v3.  Each
    history row is joined with the version's actual row count
    (time-traveled reads), tying the metadata to the data; the oracle
    restates lineage constants + the same COUNT aggregates.  Output
    cached per (query, sf_dir)."""
    import tempfile

    from .sources import snapshots as sn

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    key = ("snapshot_history", sf_dir)
    out = _ORC_OUT_CACHE.get(key)
    if out is None:
        root = tempfile.mkdtemp(prefix="snap_hist_") + "/tbl"
        third = lambda r: o.filter(F.col("o_orderkey") % 3 == r).coalesce(1)
        sn.snapshot_append(third(0), root)      # v0
        sn.snapshot_append(third(1), root)      # v1
        sn.snapshot_overwrite(third(2), root)   # v2
        sn.rollback(root, 1)
        sn.snapshot_append(third(2), root)      # v3 (parent v1)
        out = _ORC_OUT_CACHE[key] = root

    hist = sn.snapshot_history(spark, out).select(
        "version",
        "parent",
        "operation",
        "n_files",
        "files_added",
        "files_removed",
        F.col("is_current").cast("int").alias("is_current"),
    )
    counts = None
    for v in sn.snapshot_versions(out):
        c = sn.read_snapshot(spark, out, v).agg(
            F.lit(v).cast("bigint").alias("version"),
            F.count("*").alias("n_rows"),
        )
        counts = c if counts is None else counts.unionByName(c)
    return hist.join(counts, "version").select(
        "version", "parent", "operation", "n_files",
        "files_added", "files_removed", "is_current", "n_rows",
    )


@register(
    "streaming_snapshot_cdc",
    # The epoch split is by event_id median, so epoch precedence and seq
    # precedence coincide: per key the highest event_id's change wins —
    # one global ranking replays the whole streamed merge in SQL.
    """
WITH feed AS (
    SELECT user_id AS k,
           event_id AS seq,
           CASE WHEN event_id % 6 = 0 THEN 'D' ELSE 'U' END AS op,
           value AS v
    FROM events
),
ranked AS (
    SELECT k, seq, op, v,
           ROW_NUMBER() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
    FROM feed
)
SELECT k AS user_id, seq AS last_seq, v AS last_value
FROM ranked
WHERE rn = 1 AND op <> 'D'
""",
)
def q_streaming_snapshot_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`run_streaming_snapshot_cdc_sink` end-to-end (SURVEY.md §2.9 ∩
    the table-format family): the events table becomes a U/D change feed
    split into two micro-batches at the event_id median, streamed
    through the EXACTLY-ONCE MoR CDC sink (each epoch = one tagged
    `snapshot_mor_merge` commit — O(micro-batch) writes), and the merged
    table read back through `read_snapshot_mor` must equal the wholesale
    SQL replay.  Certifies the streaming MoR path with a value hash the
    same way `streaming_snapshot_ingest` certifies the append sink.
    Output cached per (query, sf_dir)."""
    import tempfile

    from . import roles
    from .sources import snapshots as sn

    key = ("streaming_snapshot_cdc", sf_dir)
    out = _STREAM_OUT_CACHE.get(key)
    if out is None:
        tmp = tempfile.mkdtemp(prefix="snap_scdc_")
        events = roles.load_events(spark, sf_dir)
        feed = events.select(
            F.col("user_id").alias("k"),
            F.col("event_id").alias("seq"),
            F.when(F.col("event_id") % 6 == 0, "D")
            .otherwise("U")
            .alias("_op"),
            F.col("value").alias("v"),
        )
        cut = feed.approxQuantile("seq", [0.5], 0.0)[0]  # scalar probe
        feed.filter(F.col("seq") <= cut).coalesce(1).write.parquet(
            f"{tmp}/src/b0"
        )
        feed.filter(F.col("seq") > cut).coalesce(1).write.parquet(
            f"{tmp}/src/b1"
        )
        stream = (
            spark.readStream.schema(feed.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{tmp}/src/b*")
        )
        sn.run_streaming_snapshot_cdc_sink(
            stream, f"{tmp}/tbl", f"{tmp}/ckpt", ["k"], seq_col="seq"
        )
        out = _STREAM_OUT_CACHE[key] = f"{tmp}/tbl"
    from .sources import snapshots as sn2

    return sn2.read_snapshot_mor(spark, out).select(
        F.col("k").alias("user_id"),
        F.col("seq").alias("last_seq"),
        F.col("v").alias("last_value"),
    )


@register(
    "snapshot_restore_asof",
    # The lineage is deterministic by construction; every row's count and
    # decimal-exact total comes from a real (time-traveled) read, and the
    # as-of row (version = -1) must reproduce v1's numbers exactly —
    # proving timestamp resolution picks the right commit.
    f"""
SELECT CAST(0 AS BIGINT) AS version,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       {_dsum_sql('o_totalprice')} AS total_price
FROM orders WHERE o_orderkey % 3 = 0
UNION ALL
SELECT 1, COUNT(*), {_dsum_sql('o_totalprice')}
FROM orders WHERE o_orderkey % 3 IN (0, 1)
UNION ALL
SELECT 2, (SELECT COUNT(*) FROM orders WHERE o_orderkey % 3 = 0),
       (SELECT {_dsum_sql('o_totalprice')}
        FROM orders WHERE o_orderkey % 3 = 0)
UNION ALL
SELECT -1, COUNT(*), {_dsum_sql('o_totalprice')}
FROM orders WHERE o_orderkey % 3 IN (0, 1)
""",
)
def q_snapshot_restore_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE-as-a-commit + timestamp time travel end-to-end
    (`sources/snapshots.py snapshot_restore` / `read_snapshot_asof`):
    v0 appends a third of orders, v1 appends another, v2 RESTORES v0
    (file references only — undo as a commit, history linear).  The
    query aggregates every version plus one AS-OF read resolved at v1's
    recorded commit time (version = -1 row), which must reproduce v1's
    numbers exactly — lineage-restricted timestamp resolution over a
    restore lineage, value-hash checked.  Output cached per
    (query, sf_dir)."""
    import tempfile

    from .sources import snapshots as sn

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    key = ("snapshot_restore_asof", sf_dir)
    out = _ORC_OUT_CACHE.get(key)
    if out is None:
        root = tempfile.mkdtemp(prefix="snap_restore_") + "/tbl"
        third = lambda r: o.filter(F.col("o_orderkey") % 3 == r).coalesce(1)
        sn.snapshot_append(third(0), root)   # v0
        sn.snapshot_append(third(1), root)   # v1
        sn.snapshot_restore(root, 0)         # v2: undo v1, linear history
        out = _ORC_OUT_CACHE[key] = root

    def agg(df: DataFrame, version: int) -> DataFrame:
        return df.agg(
            F.lit(version).cast("bigint").alias("version"),
            F.count("*").alias("n_rows"),
            dsum("o_totalprice").alias("total_price"),
        ).select("version", "n_rows", "total_price")

    t1 = sn._read_manifest(out, 1)["ts"]
    result = agg(sn.read_snapshot_mor(spark, out, 0), 0)
    for part in (
        agg(sn.read_snapshot_mor(spark, out, 1), 1),
        agg(sn.read_snapshot_mor(spark, out, 2), 2),
        agg(sn.read_snapshot_asof(spark, out, t1), -1),
    ):
        result = result.unionByName(part)
    return result


# --------------------------------------------------------------------------
# snapshot table as a streaming SOURCE (round 7)
# --------------------------------------------------------------------------


@register(
    "streaming_snapshot_source",
    # Source commits carry the whole events-derived feed; the stream's
    # exactly-once contract is that the sink table ends up with exactly
    # those rows, so the plain batch aggregate over events IS the oracle
    # (same discipline as streaming_snapshot_ingest).
    f"""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       {_dsum_sql('value')} AS total_value
FROM events
GROUP BY event_type
""",
)
def q_streaming_snapshot_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot table as a STREAMING SOURCE (`sources/snapshot_source.py`
    — the Delta streaming-source pattern: offsets are snapshot versions,
    micro-batches are manifest file-set deltas, reads are executor-side
    arrow batches), certified by the strongest composition available:
    snapshot → stream → snapshot.  The events feed lands in a SOURCE
    snapshot table as two appends; each append is drained by a
    checkpointed availableNow run of the ``snapshot_table`` stream into
    the exactly-once append SINK (`run_streaming_snapshot_sink`) — run 1
    consumes the initial snapshot, run 2 must replay NOTHING and deliver
    only the second commit's delta.  The sink table's aggregate
    hash-matches the raw batch oracle, proving the full round trip is
    exactly-once in both directions.  Output cached per (query, sf_dir)."""
    import tempfile

    from . import roles
    from .sources import snapshots as sn
    from .sources.snapshot_source import register_snapshot_source
    from .streaming import incremental as st

    key = ("streaming_snapshot_source", sf_dir)
    out = _STREAM_OUT_CACHE.get(key)
    if out is None:
        register_snapshot_source(spark)
        tmp = tempfile.mkdtemp(prefix="snap_src_")
        src, dst, ckpt = f"{tmp}/src", f"{tmp}/dst", f"{tmp}/ckpt"
        events = roles.load_events(spark, sf_dir)
        feed = events.select(
            "event_id", "event_type", "value"
        )
        for half in (0, 1):  # two commits, two stream runs
            sn.snapshot_append(
                feed.filter(F.col("event_id") % 2 == half), src
            )
            stream = (
                spark.readStream.format("snapshot_table")
                .option("root", src)
                .load()
            )
            sn.run_streaming_snapshot_sink(stream, dst, ckpt)
        out = _STREAM_OUT_CACHE[key] = dst
    from .sources import snapshots as sn2

    return (
        sn2.read_snapshot(spark, out)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            dsum("value").alias("total_value"),
        )
    )


@register(
    "streaming_rate_limited_backfill",
    # The capped stream pages through the table in bounded micro-batches
    # but must deliver every row exactly once — so the plain batch
    # aggregate over the same slice IS the oracle.
    f"""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       {_dsum_sql('value')} AS total_value
FROM events
WHERE event_id % 3 = 0
GROUP BY event_type
""",
)
def q_streaming_rate_limited_backfill(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Rate-limited snapshot-stream BACKFILL (`max_files_per_trigger` —
    Delta's maxFilesPerTrigger posture at file grain): a 6-file source
    commit is drained under a 2-files-per-trigger cap, so the initial
    snapshot is SPLIT across micro-batches at deterministic
    sorted-file boundaries ({version, idx, snap} offsets — each split
    is self-describing, WAL-replay-safe) instead of being planned as
    one giant catch-up batch.  Spark's Python DataSource falls back to
    single-batch execution under availableNow, so each checkpointed
    drain run advances exactly one capped batch; the loop below pages
    until drained — exactly the cron-driven backfill shape.  The sink
    aggregate hash-matches the batch oracle: admission control loses
    nothing and duplicates nothing.  At 100 TB this is the difference
    between a bounded, spill-safe backfill and a micro-batch that
    reads the whole table.  Output cached per (query, sf_dir)."""
    import tempfile

    from . import roles
    from .sources import snapshots as sn
    from .sources.snapshot_source import register_snapshot_source

    key = ("streaming_rate_limited_backfill", sf_dir)
    out = _STREAM_OUT_CACHE.get(key)
    if out is None:
        register_snapshot_source(spark)
        tmp = tempfile.mkdtemp(prefix="snap_rate_")
        src, dst, ckpt = f"{tmp}/src", f"{tmp}/dst", f"{tmp}/ckpt"
        feed = (
            roles.load_events(spark, sf_dir)
            .filter(F.col("event_id") % 3 == 0)
            .select("event_id", "event_type", "value")
        )
        sn.snapshot_append(feed.repartition(6), src)
        stream = (
            spark.readStream.format("snapshot_table")
            .option("root", src)
            .option("max_files_per_trigger", 2)
            .load()
        )
        last = -1
        for _ in range(8):  # 6 files / cap 2 = 3 paging runs + drain
            sn.run_streaming_snapshot_sink(stream, dst, ckpt)
            n = sn.read_snapshot(spark, dst).count()
            if n == last:
                break
            last = n
        out = _STREAM_OUT_CACHE[key] = dst
    return (
        sn.read_snapshot(spark, out)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            dsum("value").alias("total_value"),
        )
    )


@register(
    "streaming_snapshot_cdf_source",
    # The streamed change feed is deterministic given the sequenced
    # feed: per commit, one key-only DELETE tombstone per touched key
    # (the equality-delete list — Kafka-compacted-topic CDC shape) and
    # one INSERT event per surviving upsert (full row).  The oracle
    # derives both from the same per-batch winner window the
    # snapshot_mor_merge oracle uses.
    f"""
WITH feed AS (
    SELECT user_id AS k,
           event_id AS seq,
           event_id % 3 AS batch,
           CASE WHEN event_id % 7 = 0 THEN 'D'
                WHEN event_id % 2 = 0 THEN 'I'
                ELSE 'U' END AS op,
           value AS v
    FROM events
),
w AS (
    SELECT batch, k, seq, op, v FROM (
        SELECT batch, k, seq, op, v,
               ROW_NUMBER() OVER (PARTITION BY batch, k
                                  ORDER BY seq DESC) AS rn
        FROM feed
    ) WHERE rn = 1
),
ev AS (
    SELECT CAST(1 AS BIGINT) AS commit_version, 'delete' AS change_type, k
    FROM w WHERE batch = 1
    UNION ALL
    SELECT CAST(1 AS BIGINT), 'insert', k FROM w WHERE batch = 1 AND op <> 'D'
    UNION ALL
    SELECT CAST(2 AS BIGINT), 'delete', k FROM w WHERE batch = 2
    UNION ALL
    SELECT CAST(2 AS BIGINT), 'insert', k FROM w WHERE batch = 2 AND op <> 'D'
)
SELECT commit_version, change_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(k) AS BIGINT) AS sum_k
FROM ev
GROUP BY commit_version, change_type
ORDER BY commit_version, change_type
""",
)
def q_streaming_snapshot_cdf_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAMING change feed out of the table format
    (`sources/snapshot_source.py` ``option("change_feed", "true")``):
    the three-batch MoR fixture is consumed from ``start_version=1`` as
    per-commit events — inserts carry full rows from only the commit's
    added files, deletes are KEY-ONLY tombstones read straight from the
    equality-delete lists (the Kafka-compacted-topic CDC shape), so the
    stream plans pure file reads and needs no engine join at any scale;
    full pre-image deletes stay the batch `read_snapshot_cdf`'s job.
    Aggregated per (commit, change_type) over the landed events; the
    oracle derives the same events from the feed in plain SQL.  Output
    cached per (query, sf_dir)."""
    import tempfile

    from .sources.snapshot_source import register_snapshot_source
    from .streaming import incremental as st

    key = ("streaming_snapshot_cdf_source", sf_dir)
    out = _STREAM_OUT_CACHE.get(key)
    if out is None:
        register_snapshot_source(spark)
        src = _mor_feed_root(spark, sf_dir)
        tmp = tempfile.mkdtemp(prefix="snap_cdf_src_")
        out_dir, ckpt = f"{tmp}/out", f"{tmp}/ckpt"
        stream = (
            spark.readStream.format("snapshot_table")
            .option("root", src)
            .option("change_feed", "true")
            .option("start_version", "1")
            .load()
        )
        st.run_available_now(stream, out_dir, ckpt)
        out = _STREAM_OUT_CACHE[key] = out_dir
    return (
        spark.read.parquet(out)
        .groupBy(
            F.col("_commit_version").alias("commit_version"),
            F.col("_change_type").alias("change_type"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum("k").cast("bigint").alias("sum_k"),
        )
        .orderBy("commit_version", "change_type")
    )


# --------------------------------------------------------------------------
# schema evolution + hidden partitioning on snapshot tables (round 7)
# --------------------------------------------------------------------------


@register(
    "snapshot_evolution_read",
    # Deterministic lineage over orders thirds; the rename is metadata
    # only, so every row's numbers are plain aggregates the oracle
    # restates with mod filters — version 0 read under its own (old)
    # schema, the latest read under the renamed schema across BOTH file
    # epochs.
    f"""
SELECT CAST(0 AS BIGINT) AS version,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       {_dsum_sql('o_totalprice')} AS total_price
FROM orders WHERE o_orderkey % 3 = 0
UNION ALL
SELECT 2, COUNT(*), {_dsum_sql('o_totalprice')}
FROM orders WHERE o_orderkey % 3 IN (0, 1)
""",
)
def q_snapshot_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution WRITE path end-to-end (`sources/snapshots.py
    snapshot_evolve` — the Iceberg field-id model in miniature): v0
    appends a third of orders under ``o_totalprice``, v1 RENAMES it to
    ``price`` (metadata-only commit — no file rewritten), v2 appends
    another third already written under the NEW name.  The query reads
    version 0 under its own OLD schema (the code references
    ``o_totalprice`` — a leaked rename would fail loudly) and the
    latest under the new name across BOTH file epochs; both aggregates
    must match the oracle's plain mod-filter restatement — proving the
    rename crossed file epochs without touching data.  Output cached
    per (query, sf_dir)."""
    import tempfile

    from .sources import snapshots as sn

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    key = ("snapshot_evolution_read", sf_dir)
    out = _ORC_OUT_CACHE.get(key)
    if out is None:
        root = tempfile.mkdtemp(prefix="snap_evo_") + "/tbl"
        third = lambda r: o.filter(F.col("o_orderkey") % 3 == r).coalesce(1)
        sn.snapshot_append(third(0), root)                       # v0
        sn.snapshot_evolve(root, renames={"o_totalprice": "price"})  # v1
        sn.snapshot_append(
            third(1).withColumnRenamed("o_totalprice", "price"), root
        )                                                        # v2
        out = _ORC_OUT_CACHE[key] = root

    old = sn.read_snapshot(spark, out, 0).agg(
        F.lit(0).cast("bigint").alias("version"),
        F.count("*").alias("n_rows"),
        dsum("o_totalprice").alias("total_price"),  # the OLD name
    ).select("version", "n_rows", "total_price")
    new = sn.read_snapshot(spark, out).agg(
        F.lit(2).cast("bigint").alias("version"),
        F.count("*").alias("n_rows"),
        dsum("price").alias("total_price"),         # the NEW name
    ).select("version", "n_rows", "total_price")
    return old.unionByName(new)


@register(
    "snapshot_partitioned_prune",
    f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       {_dsum_sql('value')} AS total_value
FROM events
WHERE CAST(ts AS DATE) = (SELECT MIN(CAST(ts AS DATE)) FROM events)
""",
)
def q_snapshot_partitioned_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hidden partitioning end-to-end (`snapshot_append_partitioned` —
    Iceberg partition transforms in miniature): events committed
    day-partitioned (``day = CAST(ts AS DATE)`` recorded per file in
    the manifest, the transform column NOT stored), then a one-day
    lookup via ``partition_eq`` — scan planning keeps only that day's
    files from manifest metadata alone, and the reader re-applies the
    semantic predicate, so the aggregate survives the pruning exactly
    (the file-skip itself is pinned in tests/test_snapshots.py).
    Output cached per (query, sf_dir)."""
    import tempfile

    from . import roles
    from .sources import snapshots as sn

    key = ("snapshot_partitioned_prune", sf_dir)
    out = _ORC_OUT_CACHE.get(key)
    if out is None:
        root = tempfile.mkdtemp(prefix="snap_part_") + "/tbl"
        events = roles.load_events(spark, sf_dir).select(
            "event_id", "ts", "value"
        )
        sn.snapshot_append_partitioned(
            events, root, {"day": "CAST(ts AS DATE)"}, stats_cols=["event_id"]
        )
        out = _ORC_OUT_CACHE[key] = root
    day = (
        roles.load_events(spark, sf_dir)
        .agg(F.min(F.col("ts").cast("date")))
        .first()[0]
    )  # scalar probe — the lookup key
    hit = sn.read_snapshot_pruned(spark, out, partition_eq={"day": day})
    return hit.agg(
        F.count("*").alias("n"),
        dsum("value").alias("total_value"),
    )


@register(
    "snapshot_pruned_mor_lookup",
    # The clustered base holds orders; the MoR feed deletes every
    # orderkey divisible by 7 and re-prices those divisible by 5
    # (updates win over the base by sequence).  The oracle replays the
    # merged state in SQL, then applies the same keyrange filter the
    # pruned read plans.
    f"""
WITH merged AS (
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1000.0
                ELSE o_totalprice END AS price
    FROM orders
    WHERE o_orderkey % 7 <> 0 OR o_orderkey % 5 = 0
)
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       {_dsum_sql('price')} AS total_price
FROM merged
WHERE o_orderkey BETWEEN 5000 AND 5999
""",
)
def q_snapshot_pruned_mor_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stats pruning COMPOSED with merge-on-read (round 7): orders
    committed clustered on ``o_orderkey`` (8 files, manifest stats),
    then ONE MoR merge deletes every key divisible by 7 and re-inserts
    every key divisible by 5 at +1000 — and the keyrange lookup runs
    `read_snapshot_pruned` directly on the dirty table: the stats skip
    bounds the DATA scan while the delete anti-joins still apply, so a
    point lookup on a CDC-merged table needs NO compaction first.  A
    re-inserted key divisible by both 5 and 7 survives its own delete
    (sequence rule through the subset read).  After `compact_delete_files`
    (minor compaction — delete lists merged, data untouched) the same
    read must return identical values, which the oracle pins.  Output
    cached per (query, sf_dir)."""
    import tempfile

    from .sources import snapshots as sn

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    key = ("snapshot_pruned_mor_lookup", sf_dir)
    out = _ORC_OUT_CACHE.get(key)
    if out is None:
        root = tempfile.mkdtemp(prefix="snap_pmor_") + "/tbl"
        sn.snapshot_append_clustered(o, root, ["o_orderkey"], n_files=8)
        feed = o.filter(
            (F.col("o_orderkey") % 7 == 0) | (F.col("o_orderkey") % 5 == 0)
        ).select(
            "o_orderkey",
            (F.col("o_totalprice") + 1000.0).alias("o_totalprice"),
            F.when(
                (F.col("o_orderkey") % 5 == 0), F.lit("U")
            ).otherwise(F.lit("D")).alias("_op"),
        )
        # two halves -> two delete lists, then MINOR compaction merges
        # them (data files untouched) before the pruned lookup
        sn.snapshot_mor_merge(
            spark, root, feed.filter(F.col("o_orderkey") % 2 == 0), ["o_orderkey"]
        )
        sn.snapshot_mor_merge(
            spark, root, feed.filter(F.col("o_orderkey") % 2 == 1), ["o_orderkey"]
        )
        sn.compact_delete_files(spark, root)
        out = _ORC_OUT_CACHE[key] = root
    hit = sn.read_snapshot_pruned(spark, out, "o_orderkey", 5000, 5999)
    return hit.agg(
        F.count("*").alias("n"),
        dsum("o_totalprice").alias("total_price"),
    )


@register(
    "snapshot_wap_publish",
    # Deterministic WAP lineage over orders thirds: the rejected stage
    # (negated prices) never publishes but stays explicitly readable;
    # the clean stage publishes.  Every row is a plain aggregate the
    # oracle restates with mod filters.
    f"""
SELECT 'base' AS phase,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       {_dsum_sql('o_totalprice')} AS total_price
FROM orders WHERE o_orderkey % 3 = 0
UNION ALL
SELECT 'rejected_stage', COUNT(*),
       {_dsum_sql("CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice "
                  "ELSE -o_totalprice END")}
FROM orders WHERE o_orderkey % 3 IN (0, 1)
UNION ALL
SELECT 'published', COUNT(*), {_dsum_sql('o_totalprice')}
FROM orders WHERE o_orderkey % 3 IN (0, 1)
""",
)
def q_snapshot_wap_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-native WRITE-AUDIT-PUBLISH end-to-end
    (`snapshot_stage_append` / `snapshot_publish`): a BAD batch (prices
    negated) is staged, audited (negative prices found), and NEVER
    published — readers keep the base, yet the rejected stage remains
    explicitly readable for forensics; then the clean batch stages,
    audits green, and publishes in O(1).  The three phases' aggregates
    hash-match the oracle's mod-filter restatement — certifying that
    staging is invisible, rejection is free (nothing to undo), and
    publish delivers exactly the audited rows.  Output cached per
    (query, sf_dir)."""
    import tempfile

    from .sources import snapshots as sn

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    key = ("snapshot_wap_publish", sf_dir)
    out = _ORC_OUT_CACHE.get(key)
    if out is None:
        root = tempfile.mkdtemp(prefix="snap_wap_") + "/tbl"
        third = lambda r: o.filter(F.col("o_orderkey") % 3 == r).coalesce(1)
        sn.snapshot_append(third(0), root)                        # base
        bad = third(1).withColumn(
            "o_totalprice", -F.col("o_totalprice")
        )
        s_bad = sn.snapshot_stage_append(bad, root)
        # the AUDIT: negative prices -> reject (never publish)
        n_neg = (
            sn.read_snapshot(spark, root, s_bad)
            .filter(F.col("o_totalprice") < 0)
            .count()
        )
        assert n_neg > 0, "fixture: the bad stage must fail its audit"
        s_good = sn.snapshot_stage_append(third(1), root)
        assert (
            sn.read_snapshot(spark, root, s_good)
            .filter(F.col("o_totalprice") < 0)
            .count()
            == 0
        )
        sn.snapshot_publish(root, s_good)
        # fresh tempdir + fixed commit order => the bad stage is always
        # v1, so the cache can stay dict[..., str] like its siblings
        assert s_bad == 1, "fixture: bad stage must be the first commit"
        out = _ORC_OUT_CACHE[key] = root
    root, s_bad = out, 1

    def agg(df: DataFrame, phase: str) -> DataFrame:
        return df.agg(
            F.lit(phase).alias("phase"),
            F.count("*").alias("n_rows"),
            dsum("o_totalprice").alias("total_price"),
        ).select("phase", "n_rows", "total_price")

    return (
        agg(sn.read_snapshot(spark, root, 0), "base")
        .unionByName(agg(sn.read_snapshot(spark, root, s_bad), "rejected_stage"))
        .unionByName(agg(sn.read_snapshot(spark, root), "published"))
    )


@register(
    "snapshot_branch_publish",
    # Deterministic audit-branch lineage over orders thirds: two branch
    # commits accumulate invisibly, then fast_forward publishes both in
    # one O(1) pointer move.  Every phase is a plain aggregate the
    # oracle restates with mod filters.
    f"""
SELECT 'main_during_staging' AS phase,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       {_dsum_sql('o_totalprice')} AS total_price
FROM orders WHERE o_orderkey % 3 = 0
UNION ALL
SELECT 'branch_staged', COUNT(*), {_dsum_sql('o_totalprice')}
FROM orders
UNION ALL
SELECT 'published', COUNT(*), {_dsum_sql('o_totalprice')}
FROM orders
""",
)
def q_snapshot_branch_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WRITABLE BRANCHES end-to-end (`snapshot_create_branch` /
    `snapshot_append_to_branch` / `snapshot_fast_forward` — Iceberg's
    audit-branch pattern, the multi-commit generalization of WAP): two
    thirds of orders land as branch commits while main keeps showing
    only the base third, then fast_forward publishes the whole branch
    with one O(1) pointer move.  The phase aggregates hash-match the
    oracle's mod-filter restatement — certifying branch invisibility
    (main read during staging), branch completeness (ref read), and
    that publish delivers exactly the branch head.  Output cached per
    (query, sf_dir)."""
    import tempfile

    from .sources import snapshots as sn

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    key = ("snapshot_branch_publish", sf_dir)
    out = _ORC_OUT_CACHE.get(key)
    if out is None:
        root = tempfile.mkdtemp(prefix="snap_branch_") + "/tbl"
        third = lambda r: o.filter(F.col("o_orderkey") % 3 == r).coalesce(1)
        sn.snapshot_append(third(0), root)            # v0: main base
        sn.snapshot_create_branch(root, "audit")
        sn.snapshot_append_to_branch(third(1), root, "audit")  # v1
        bv = sn.snapshot_append_to_branch(third(2), root, "audit")  # v2
        assert sn.current_version(root) == 0, "branch must stay invisible"
        assert bv == 2 and sn.resolve_ref(root, "audit") == 2
        sn.snapshot_fast_forward(root, "audit")
        out = _ORC_OUT_CACHE[key] = root
    root = out

    def agg(df: DataFrame, phase: str) -> DataFrame:
        return df.agg(
            F.lit(phase).alias("phase"),
            F.count("*").alias("n_rows"),
            dsum("o_totalprice").alias("total_price"),
        ).select("phase", "n_rows", "total_price")

    return (
        agg(sn.read_snapshot(spark, root, 0), "main_during_staging")
        .unionByName(agg(sn.read_snapshot(spark, root, 2), "branch_staged"))
        .unionByName(agg(sn.read_snapshot(spark, root), "published"))
    )


@register(
    "snapshot_view_refresh_cdf",
    # the maintained view's contract is equality with a from-scratch
    # aggregate over the FINAL merged state, so the replayed-feed
    # aggregate IS the oracle (winner window = snapshot_mor_merge's).
    f"""
WITH feed AS (
    SELECT user_id AS k,
           event_id AS seq,
           event_id % 3 AS batch,
           CASE WHEN event_id % 7 = 0 THEN 'D'
                WHEN event_id % 2 = 0 THEN 'I'
                ELSE 'U' END AS op,
           value AS v
    FROM events
),
ranked AS (
    SELECT k, op, v,
           ROW_NUMBER() OVER (PARTITION BY k
                              ORDER BY batch DESC, seq DESC) AS rn
    FROM feed
),
state AS (SELECT k, v FROM ranked WHERE rn = 1 AND op <> 'D')
SELECT k % 10 AS g,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       {_dsum_sql('v')} AS sum_v
FROM state
GROUP BY 1
ORDER BY 1
""",
)
def q_snapshot_view_refresh_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`refresh_incremental_agg_cdf` end-to-end: the events I/U/D feed
    lands as three MoR commits with the view refreshed after EACH —
    refresh 1 bootstraps, refreshes 2 and 3 consume only the change
    data feed, with delete pre-images RETRACTING and upserts netting to
    the value change.  The final view hash-matches a from-scratch
    aggregate of the fully-merged state (the oracle's replay), proving
    CDC-driven view maintenance loses nothing — work per refresh
    ∝ delta + view, never the table.  Sums ride decimal until the
    final cast.  Output cached per (query, sf_dir)."""
    import tempfile

    from . import roles
    from .sources import snapshots as sn

    key = ("snapshot_view_refresh_cdf", sf_dir)
    out = _STREAM_OUT_CACHE.get(key)
    if out is None:
        tmp = tempfile.mkdtemp(prefix="snap_vcdf_")
        root, view = f"{tmp}/tbl", f"{tmp}/view"
        events = roles.load_events(spark, sf_dir)
        feed = events.select(
            F.col("user_id").alias("k"),
            F.col("event_id").alias("seq"),
            (F.col("user_id") % 10).alias("g"),
            (F.col("event_id") % 3).alias("_batch"),
            F.when(F.col("event_id") % 7 == 0, F.lit("D"))
            .when(F.col("event_id") % 2 == 0, F.lit("I"))
            .otherwise(F.lit("U"))
            .alias("_op"),
            F.col("value").cast("decimal(28,10)").alias("v_dec"),
        )
        for b in range(3):
            sn.snapshot_mor_merge(
                spark,
                root,
                feed.filter(F.col("_batch") == b).drop("_batch"),
                ["k"],
                seq_col="seq",
            )
            sn.refresh_incremental_agg_cdf(
                spark, root, view, ["g"], ["v_dec"]
            )
        out = _STREAM_OUT_CACHE[key] = view
    return (
        spark.read.parquet(out)
        .select(
            "g",
            F.col("n").alias("n_rows"),
            F.col("v_dec").cast("double").alias("sum_v"),
        )
        .orderBy("g")
    )


@register(
    "snapshot_files_meta",
    # The metadata table's deterministic fields: per content kind, the
    # footer rowcount total and the number of committing versions —
    # restated by the oracle from the fixture's mod filters (file
    # counts are left to the unit test: empty-partition write behavior
    # is an engine detail the aggregate must not depend on).
    """
SELECT 'data' AS content,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(3 AS BIGINT) AS n_commits
FROM orders
UNION ALL
SELECT 'deletes',
       (SELECT COUNT(*) FROM orders WHERE o_orderkey % 1000 = 32),
       1
ORDER BY content
""",
)
def q_snapshot_files_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FILES metadata table (`snapshots.snapshot_files` — Iceberg's
    ``<table>.files`` surface): orders land as three commits plus one
    equality delete list, and the metadata table — built from manifests
    and parquet FOOTERS only, never data pages — reports every
    referenced file's rowcount and committing version.  Aggregated per
    content kind; the oracle restates the totals from the fixture's
    mod filters, tying the metadata surface to the real data.  Output
    cached per (query, sf_dir)."""
    import tempfile

    from .sources import snapshots as sn

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    key = ("snapshot_files_meta", sf_dir)
    out = _ORC_OUT_CACHE.get(key)
    if out is None:
        root = tempfile.mkdtemp(prefix="snap_files_") + "/tbl"
        third = lambda r: o.filter(F.col("o_orderkey") % 3 == r).coalesce(1)
        for r in range(3):
            sn.snapshot_append(third(r), root)
        sn.snapshot_delete_where(
            spark, root, "o_orderkey % 1000 = 32", keys=["o_orderkey"]
        )
        out = _ORC_OUT_CACHE[key] = root
    return (
        sn.snapshot_files(spark, out)
        .groupBy("content")
        .agg(
            F.sum("n_rows").alias("n_rows"),
            F.countDistinct("seq").alias("n_commits"),
        )
        .orderBy("content")
    )


@register(
    "snapshot_cherry_pick",
    # Deterministic diverged lineage over orders thirds: the branch
    # commit that fast-forward must refuse (main moved past the fork)
    # is cherry-picked onto the new head as a metadata-only commit.
    # Every phase is a plain aggregate the oracle restates.
    f"""
SELECT 'main_before_pick' AS phase,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       {_dsum_sql('o_totalprice')} AS total_price
FROM orders WHERE o_orderkey % 3 IN (0, 2)
UNION ALL
SELECT 'branch_head', COUNT(*), {_dsum_sql('o_totalprice')}
FROM orders WHERE o_orderkey % 3 IN (0, 1)
UNION ALL
SELECT 'after_pick', COUNT(*), {_dsum_sql('o_totalprice')}
FROM orders
ORDER BY phase
""",
)
def q_snapshot_cherry_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHERRY-PICK end-to-end (`snapshots.snapshot_cherry_pick` —
    Iceberg's remedy when fast-forward refuses): a branch commit lands
    while main advances past the fork, `snapshot_fast_forward` fails
    loudly, and the branch commit is re-referenced onto the new head as
    a METADATA-ONLY commit — the branch's file group is shared, never
    copied.  The three phases' aggregates hash-match the oracle's
    mod-filter restatement, certifying the divergence (main before the
    pick), the branch content, and that the pick delivers exactly
    branch + main.  Output cached per (query, sf_dir)."""
    import tempfile

    from .sources import snapshots as sn

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    key = ("snapshot_cherry_pick", sf_dir)
    out = _ORC_OUT_CACHE.get(key)
    if out is None:
        root = tempfile.mkdtemp(prefix="snap_pick_") + "/tbl"
        third = lambda r: o.filter(F.col("o_orderkey") % 3 == r).coalesce(1)
        sn.snapshot_append(third(0), root)            # v0: fork point
        sn.snapshot_create_branch(root, "wip")
        bv = sn.snapshot_append_to_branch(third(1), root, "wip")  # v1
        mv = sn.snapshot_append(third(2), root)       # v2: main diverges
        assert (bv, mv) == (1, 2)
        try:
            sn.snapshot_fast_forward(root, "wip")
            raise AssertionError("fixture: fast-forward must refuse")
        except sn.SnapshotConflictError:
            pass
        pv = sn.snapshot_cherry_pick(root, bv)        # v3: metadata-only
        assert pv == 3 and sn.current_version(root) == 3
        out = _ORC_OUT_CACHE[key] = root
    root = out

    def agg(df: DataFrame, phase: str) -> DataFrame:
        return df.agg(
            F.lit(phase).alias("phase"),
            F.count("*").alias("n_rows"),
            dsum("o_totalprice").alias("total_price"),
        ).select("phase", "n_rows", "total_price")

    return (
        agg(sn.read_snapshot(spark, root, 2), "main_before_pick")
        .unionByName(agg(sn.read_snapshot(spark, root, 1), "branch_head"))
        .unionByName(agg(sn.read_snapshot(spark, root, 3), "after_pick"))
        .orderBy("phase")
    )


@register(
    "snapshot_replication",
    # The mirror's contract is exact convergence to the source's merged
    # state, so the replayed-feed oracle of snapshot_mor_merge applies
    # verbatim to the MIRROR read.
    """
WITH feed AS (
    SELECT user_id AS k,
           event_id AS seq,
           event_id % 3 AS batch,
           CASE WHEN event_id % 7 = 0 THEN 'D'
                WHEN event_id % 2 = 0 THEN 'I'
                ELSE 'U' END AS op,
           value AS v
    FROM events
),
ranked AS (
    SELECT k, seq, op, v,
           ROW_NUMBER() OVER (PARTITION BY k
                              ORDER BY batch DESC, seq DESC) AS rn
    FROM feed
)
SELECT k AS user_id, seq AS last_seq, v AS last_value
FROM ranked
WHERE rn = 1 AND op <> 'D'
""",
)
def q_snapshot_replication(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TABLE REPLICATION through the streamed change feed
    (`snapshot_source.replicate_snapshot_table` — the capstone CDC
    composition): the three-commit MoR fixture is mirrored into a
    SECOND snapshot table by draining its ``change_feed`` stream into
    per-epoch exactly-once MoR merges (tombstones → D ops, inserts →
    I ops, the insert winning an upsert pair deterministically), and
    the MIRROR's merged read hash-matches the oracle's replay of the
    source feed — proving replication loses nothing and the mirror is
    a first-class table.  Output cached per (query, sf_dir)."""
    import tempfile

    from .sources import snapshots as sn
    from .sources.snapshot_source import replicate_snapshot_table

    key = ("snapshot_replication", sf_dir)
    out = _STREAM_OUT_CACHE.get(key)
    if out is None:
        src = _mor_feed_root(spark, sf_dir)
        tmp = tempfile.mkdtemp(prefix="snap_repl_")
        dst, ckpt = f"{tmp}/mirror", f"{tmp}/ckpt"
        replicate_snapshot_table(
            spark, src, dst, ["k"], ckpt, start_version=0
        )
        out = _STREAM_OUT_CACHE[key] = dst
    return sn.read_snapshot_mor(spark, out).select(
        F.col("k").alias("user_id"),
        F.col("seq").alias("last_seq"),
        F.col("v").alias("last_value"),
    )


@register(
    "snapshot_replication_maintained",
    # Same exact-convergence contract as snapshot_replication — the
    # mid-feed maintenance (major compaction between replication runs)
    # is row-content-preserving, so the oracle is unchanged: the mirror
    # must still equal the wholesale replay of the sequenced feed.
    """
WITH feed AS (
    SELECT user_id AS k,
           event_id AS seq,
           event_id % 3 AS batch,
           CASE WHEN event_id % 7 = 0 THEN 'D'
                WHEN event_id % 2 = 0 THEN 'I'
                ELSE 'U' END AS op,
           value AS v
    FROM events
),
ranked AS (
    SELECT k, seq, op, v,
           ROW_NUMBER() OVER (PARTITION BY k
                              ORDER BY batch DESC, seq DESC) AS rn
    FROM feed
)
SELECT k AS user_id, seq AS last_seq, v AS last_value
FROM ranked
WHERE rn = 1 AND op <> 'D'
""",
)
def q_snapshot_replication_maintained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REPLICATION SURVIVES MAINTENANCE (round 8): the advertised
    operating pattern — cron `maintain_snapshot` on a continuously
    merged source — used to kill every change-feed consumer at the
    first major compaction (the feed refused hops that remove data
    files).  Compaction hops are row-content-preserving and now SKIP
    instead of refusing, so this query replicates two batches, lets
    `maintain_snapshot` bin-pack the source MID-FEED (folding its
    delete lists), merges a third batch, resumes the SAME checkpoint
    across the compaction hop, and hash-matches the mirror against the
    unchanged wholesale-replay oracle — replication converges through
    maintenance, no re-bootstrap.  Output cached per (query, sf_dir)."""
    import tempfile

    from . import roles
    from .sources import snapshots as sn
    from .sources.snapshot_source import replicate_snapshot_table

    key = ("snapshot_replication_maintained", sf_dir)
    out = _STREAM_OUT_CACHE.get(key)
    if out is None:
        tmp = tempfile.mkdtemp(prefix="snap_replm_")
        src, dst, ckpt = f"{tmp}/src", f"{tmp}/mirror", f"{tmp}/ckpt"
        events = roles.load_events(spark, sf_dir)
        feed = events.select(
            F.col("user_id").alias("k"),
            F.col("event_id").alias("seq"),
            (F.col("event_id") % 3).alias("_batch"),
            F.when(F.col("event_id") % 7 == 0, F.lit("D"))
            .when(F.col("event_id") % 2 == 0, F.lit("I"))
            .otherwise(F.lit("U"))
            .alias("_op"),
            F.col("value").alias("v"),
        )

        def merge(b: int) -> None:
            sn.snapshot_mor_merge(
                spark,
                src,
                feed.filter(F.col("_batch") == b).drop("_batch"),
                ["k"],
                seq_col="seq",
            )

        merge(0)
        merge(1)
        replicate_snapshot_table(spark, src, dst, ["k"], ckpt, start_version=0)
        did = sn.maintain_snapshot(spark, src, max_delete_files=0)
        if did["compacted"] is None:  # the hop under test must exist
            raise RuntimeError(
                "snapshot_replication_maintained: maintenance did not "
                "compact — fixture invariant broken"
            )
        merge(2)
        replicate_snapshot_table(spark, src, dst, ["k"], ckpt, start_version=0)
        out = _STREAM_OUT_CACHE[key] = dst
    return sn.read_snapshot_mor(spark, out).select(
        F.col("k").alias("user_id"),
        F.col("seq").alias("last_seq"),
        F.col("v").alias("last_value"),
    )


@register(
    "snapshot_cdf_updates",
    # snapshot_cdf_feed's oracle with the update-pairing rule applied:
    # a commit-v delete whose key batch v also re-asserts (op <> 'D')
    # is an upsert's pre-image; a commit-v insert whose key existed in
    # the prior state is its post-image.
    f"""
{_CDF_FEED_CTES}
ev AS (
    SELECT CAST(1 AS BIGINT) AS commit_version,
           CASE WHEN s.k IN (SELECT k FROM w WHERE batch = 1 AND op <> 'D')
                THEN 'update_preimage' ELSE 'delete' END AS change_type,
           s.v
    FROM state0 s WHERE s.k IN (SELECT k FROM w WHERE batch = 1)
    UNION ALL
    SELECT CAST(1 AS BIGINT),
           CASE WHEN w1.k IN (SELECT k FROM state0)
                THEN 'update_postimage' ELSE 'insert' END,
           w1.v
    FROM w w1 WHERE w1.batch = 1 AND w1.op <> 'D'
    UNION ALL
    SELECT CAST(2 AS BIGINT),
           CASE WHEN s.k IN (SELECT k FROM w WHERE batch = 2 AND op <> 'D')
                THEN 'update_preimage' ELSE 'delete' END,
           s.v
    FROM state1 s WHERE s.k IN (SELECT k FROM w WHERE batch = 2)
    UNION ALL
    SELECT CAST(2 AS BIGINT),
           CASE WHEN w2.k IN (SELECT k FROM state1)
                THEN 'update_postimage' ELSE 'insert' END,
           w2.v
    FROM w w2 WHERE w2.batch = 2 AND w2.op <> 'D'
)
SELECT commit_version, change_type,
       COUNT(*) AS n_events,
       {_dsum_sql("v")} AS sum_v
FROM ev
GROUP BY commit_version, change_type
ORDER BY commit_version, change_type
""",
)
def q_snapshot_cdf_updates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FOUR-VALUED change feed (round 8 — Delta ``table_changes()``
    parity): `classify_cdf_updates` pairs each commit's same-key
    delete(pre-image) + insert into ``update_preimage`` /
    ``update_postimage`` events, leaving true deletes and inserts
    untouched — pure column algebra (one presence-flag window per
    (commit, key), no join back to data files) over the two-valued
    `read_snapshot_cdf` feed.  Downstream consumers that treat updates
    differently from churn (slowly-changing-dimension writers, audit
    diffing) read the event class directly.  Aggregated per (commit,
    change_type); the oracle replays the classification from the raw
    sequenced feed."""
    from .sources import snapshots as sn

    root = _mor_feed_root(spark, sf_dir)
    cdf = sn.read_snapshot_cdf(spark, root, 0, 2)
    ev = sn.classify_cdf_updates(cdf, ["k"])
    return (
        ev.groupBy(
            F.col("_commit_version").alias("commit_version"),
            F.col("_change_type").alias("change_type"),
        )
        .agg(F.count("*").alias("n_events"), dsum("v").alias("sum_v"))
        .orderBy("commit_version", "change_type")
    )


# --------------------------------------------------------------------------
# round 8: general DML (UPDATE…WHERE, MERGE INTO) + metadata-only reads
# --------------------------------------------------------------------------


@register(
    "snapshot_update_where",
    # both update flavors replayed in SQL: %100 keys got +100 then *2
    # (two commits, in that order); %10-but-not-%100 keys got +100
    f"""
SELECT CAST(o_orderkey % 10 AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       {_dsum_sql(
           "CASE WHEN o_orderkey % 100 = 0 THEN (o_totalprice + 100) * 2 "
           "WHEN o_orderkey % 10 = 0 THEN o_totalprice + 100 "
           "ELSE o_totalprice END"
       )} AS total_price
FROM orders
GROUP BY 1
""",
)
def q_snapshot_update_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``UPDATE … SET … WHERE`` as O(matched) MoR commits (round 8 —
    `snapshot_update_where`): orders committed once, then TWO updates —
    a POSITION-delete update (+100 on every %10 key: exact on any
    table, no unique key needed) and an EQUALITY-delete update (×2 on
    every %100 key, keyed by o_orderkey) — each commit adds only the
    post-image group + a delete list, existing files untouched
    (byte-identity pinned in tests/test_snapshot_dml.py).  The final
    MoR read must agree with the oracle's CASE replay per bucket, and
    both updates are CDC-visible as delete(pre)+insert(post) hops.
    Output cached per (query, sf_dir)."""
    import tempfile

    from .sources import snapshots as sn

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    key = ("snapshot_update_where", sf_dir)
    out = _ORC_OUT_CACHE.get(key)
    if out is None:
        root = tempfile.mkdtemp(prefix="snap_upd_") + "/tbl"
        sn.snapshot_overwrite(o, root)
        sn.snapshot_update_where(
            spark,
            root,
            "o_orderkey % 10 = 0",
            {"o_totalprice": "o_totalprice + 100"},
        )
        sn.snapshot_update_where(
            spark,
            root,
            "o_orderkey % 100 = 0",
            {"o_totalprice": "o_totalprice * 2"},
            keys=["o_orderkey"],
        )
        out = _ORC_OUT_CACHE[key] = root
    return (
        sn.read_snapshot_mor(spark, out)
        .groupBy((F.col("o_orderkey") % 10).cast("bigint").alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            dsum("o_totalprice").alias("total_price"),
        )
    )


@register(
    "snapshot_merge_into",
    # the full clause matrix replayed relationally: matched 'U' keys
    # update, matched 'D' keys delete, unmatched 'I' rows insert as
    # status 'N', and target-only %9 keys are deleted BY SOURCE
    f"""
WITH src AS (
    SELECT o_orderkey AS k,
           CASE WHEN o_orderkey % 4 = 0 THEN 'U' ELSE 'D' END AS op,
           o_totalprice + 50 AS new_price
    FROM orders WHERE o_orderkey % 4 IN (0, 1)
    UNION ALL
    SELECT o_orderkey + 10000000, 'I', o_totalprice + 50
    FROM orders WHERE o_orderkey % 4 = 2
),
merged AS (
    SELECT CASE WHEN s.op = 'U' THEN s.new_price
                ELSE t.o_totalprice END AS price,
           t.o_orderstatus AS status
    FROM orders t LEFT JOIN src s ON t.o_orderkey = s.k
    WHERE (s.op IS NOT NULL AND s.op <> 'D')
       OR (s.op IS NULL AND t.o_orderkey % 9 <> 0)
    UNION ALL
    SELECT s.new_price, 'N'
    FROM src s LEFT JOIN orders t ON t.o_orderkey = s.k
    WHERE s.op = 'I' AND t.o_orderkey IS NULL
)
SELECT status, CAST(COUNT(*) AS BIGINT) AS n,
       {_dsum_sql('price')} AS total_price
FROM merged
GROUP BY status
""",
)
def q_snapshot_merge_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full ANSI/Delta-style ``MERGE INTO`` (round 8 —
    `snapshot_merge_into`): one commit exercising every clause family —
    ordered WHEN MATCHED (delete 'D' before update 'U', first clause
    wins), condition-gated WHEN NOT MATCHED insert (new keys land as
    status 'N'), and WHEN NOT MATCHED BY SOURCE delete (%9 target-only
    keys dropped) — with the cardinality check live (duplicate matched
    source keys would refuse).  The oracle replays the merge as the
    standard outer-join CASE restatement.  Output cached per
    (query, sf_dir)."""
    import tempfile

    from .sources import snapshots as sn

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    key = ("snapshot_merge_into", sf_dir)
    out = _ORC_OUT_CACHE.get(key)
    if out is None:
        root = tempfile.mkdtemp(prefix="snap_mrg_") + "/tbl"
        sn.snapshot_overwrite(o, root)
        src = (
            o.filter(F.col("o_orderkey") % 4 <= 1)
            .select(
                "o_orderkey",
                F.when(F.col("o_orderkey") % 4 == 0, "U")
                .otherwise("D")
                .alias("op"),
                (F.col("o_totalprice") + 50).alias("new_price"),
            )
            .unionByName(
                o.filter(F.col("o_orderkey") % 4 == 2).select(
                    (F.col("o_orderkey") + 10000000).alias("o_orderkey"),
                    F.lit("I").alias("op"),
                    (F.col("o_totalprice") + 50).alias("new_price"),
                )
            )
        )
        sn.snapshot_merge_into(
            spark,
            root,
            src,
            on=["o_orderkey"],
            when_matched=[
                ("delete", "s.op = 'D'", None),
                ("update", "s.op = 'U'", {"o_totalprice": "s.new_price"}),
            ],
            when_not_matched=(
                "insert",
                "s.op = 'I'",
                {
                    "o_orderkey": "s.o_orderkey",
                    "o_totalprice": "s.new_price",
                    "o_orderstatus": "'N'",
                },
            ),
            when_not_matched_by_source=[
                ("delete", "t.o_orderkey % 9 = 0", None)
            ],
        )
        out = _ORC_OUT_CACHE[key] = root
    return (
        sn.read_snapshot_mor(spark, out)
        .groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.count("*").alias("n"),
            dsum("o_totalprice").alias("total_price"),
        )
    )


@register(
    "snapshot_metadata_agg",
    """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MIN(o_orderkey) AS BIGINT) AS min_o_orderkey,
       CAST(MAX(o_orderkey) AS BIGINT) AS max_o_orderkey,
       CAST(MIN(o_custkey) AS BIGINT) AS min_o_custkey,
       CAST(MAX(o_custkey) AS BIGINT) AS max_o_custkey
FROM orders
""",
)
def q_snapshot_metadata_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only aggregate pushdown (round 8 —
    `snapshot_stats_agg`): COUNT/MIN/MAX answered from the MANIFEST
    alone — per-file row counts recorded at commit time, min/max from
    the recorded footer stats — with ZERO data-file reads (pinned in
    tests by chmod-ing the files unreadable), Iceberg's "count(*) in
    milliseconds on 100 TB" path.  The table is committed clustered
    over TWO appends so the answer spans multiple entry files; the
    oracle computes the same aggregates the slow way.  Output cached
    per (query, sf_dir)."""
    import tempfile

    from .sources import snapshots as sn

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    key = ("snapshot_metadata_agg", sf_dir)
    out = _ORC_OUT_CACHE.get(key)
    if out is None:
        root = tempfile.mkdtemp(prefix="snap_meta_") + "/tbl"
        half = lambda r: o.filter(F.col("o_orderkey") % 2 == r)  # noqa: E731
        sn.snapshot_append_clustered(
            half(0), root, ["o_orderkey"], n_files=4,
            stats_cols=["o_custkey"],
        )
        sn.snapshot_append_clustered(
            half(1), root, ["o_orderkey"], n_files=4,
            stats_cols=["o_custkey"],
        )
        out = _ORC_OUT_CACHE[key] = root
    return sn.snapshot_stats_agg(spark, out, ["o_orderkey", "o_custkey"])


@register(
    "snapshot_generated_columns",
    # Oracle: GENERATED ALWAYS replayed literally — whatever each
    # writer provided, the stored derived value is the expression over
    # the row's source columns, through the update too.
    f"""
WITH base AS (
    SELECT o_orderkey AS k, CAST(o_totalprice AS DECIMAL(28,10)) AS price
    FROM orders WHERE o_orderkey % 2 = 0
),
extra AS (
    SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(28,10))
    FROM orders WHERE o_orderkey % 2 = 1
),
u AS (SELECT * FROM base UNION ALL SELECT * FROM extra),
upd AS (
    SELECT k,
           CASE WHEN k % 100 = 0
                THEN CAST(price + 50 AS DECIMAL(28,10)) ELSE price END
           AS price
    FROM u
),
final AS (
    SELECT k, price,
           CAST(CASE WHEN price >= 1000 THEN 'high' ELSE 'low' END
                AS VARCHAR) AS band
    FROM upd
)
SELECT band, CAST(COUNT(*) AS BIGINT) AS n,
       {_dsum_sql('price')} AS total_price
FROM final GROUP BY band
""",
)
def q_snapshot_generated_columns(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """GENERATED columns end to end (round 9 — `snapshot_set_generated`,
    Delta's GENERATED ALWAYS AS): a ``band`` column derived from
    ``price`` is declared once, then one writer OMITS it (it
    materializes inside the write job), another provides garbage (the
    stored value is the expression regardless — ALWAYS taken
    literally), and an UPDATE changes the source column (the
    derivation follows without the writer knowing the rule).  The
    report groups by the derived column; the oracle replays the
    derivation over the raw rows — hash-equality proves every write
    path kept the contract.  At 100 TB this is how derived columns
    stay consistent across heterogeneous writers with zero read-side
    compute.  Build + DML cached per (query, sf_dir)."""
    import tempfile

    from .sources import snapshots as sn

    key = ("snapshot_generated_columns", sf_dir)
    out = _ORC_OUT_CACHE.get(key)
    if out is None:
        o = _t(spark, sf_dir, "orders").select(
            F.col("o_orderkey").alias("k"),
            F.col("o_totalprice").cast("decimal(28,10)").alias("price"),
        )
        root = tempfile.mkdtemp(prefix="snap_gen_") + "/tbl"
        band = F.when(F.col("price") >= 1000, "high").otherwise("low")
        sn.snapshot_overwrite(
            o.filter(F.col("k") % 2 == 0).withColumn("band", band), root
        )
        sn.snapshot_set_generated(
            spark, root, "band",
            "CASE WHEN price >= 1000 THEN 'high' ELSE 'low' END",
            "string",
        )
        # writer 1 OMITS the derived column; writer 2 provides garbage
        sn.snapshot_append(
            o.filter((F.col("k") % 4 == 1)), root
        )
        sn.snapshot_append(
            o.filter(F.col("k") % 4 == 3).withColumn(
                "band", F.lit("garbage")
            ),
            root,
        )
        # the derivation follows a source-column UPDATE
        sn.snapshot_update_where(
            spark, root, "k % 100 = 0",
            {"price": "CAST(price + 50 AS DECIMAL(28,10))"},
        )
        out = _ORC_OUT_CACHE[key] = root
    return (
        sn.read_snapshot_mor(spark, out)
        .groupBy("band")
        .agg(
            F.count("*").alias("n"),
            dsum("price").alias("total_price"),
        )
    )


@register(
    "snapshot_zorder_rewrite",
    # Oracle: the DML replayed (delete), then the post-rewrite point
    # lookups — a row-content-preserving rewrite must answer both
    # exactly as the raw table does.
    f"""
WITH live AS (
    SELECT o_custkey AS x, CAST(o_orderkey % 1000 AS BIGINT) AS y,
           CAST(o_totalprice AS DECIMAL(28,10)) AS price
    FROM orders
    WHERE NOT (o_orderkey % 10 = 3)
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       {_dsum_sql('price')} AS total_price,
       CAST(SUM(CASE WHEN x BETWEEN 100 AND 120 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_x_band,
       CAST(SUM(CASE WHEN y BETWEEN 5 AND 9 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_y_band
FROM live
""",
)
def q_snapshot_zorder_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE … ZORDER BY end to end (round 9 —
    `snapshot_rewrite_zordered` via the SQL statement): a 1-D-clustered
    orders table takes a MoR DELETE, then ONE rewrite converts it to
    two-dimensional Morton clustering — folding the delete, replacing
    the sort policy wholesale, re-recording stats — and the report
    aggregates the rewritten table plus two band counts (one per
    clustered dimension, the predicates the new layout prunes for).
    Row-content preservation IS the correctness claim: the oracle
    replays the delete on the raw rows and must hash-match.  The
    rewrite is a compaction with a policy change (serializable,
    merge-schema, stream-transparent — tests/test_snapshot_dml.py);
    at 100 TB it is how a mis-clustered table adopts multi-dim
    pruning without an unload/reload.  Build cached per
    (query, sf_dir)."""
    import tempfile

    from .sources import catalog as cat
    from .sources import snapshots as sn
    from .sql_exec import execute_sql

    key = ("snapshot_zorder_rewrite", sf_dir)
    out = _ORC_OUT_CACHE.get(key)
    if out is None:
        o = _t(spark, sf_dir, "orders").select(
            F.col("o_custkey").alias("x"),
            (F.col("o_orderkey") % 1000).cast("bigint").alias("y"),
            F.col("o_totalprice").cast("decimal(28,10)").alias("price"),
            F.col("o_orderkey").alias("k"),
        )
        tmp = tempfile.mkdtemp(prefix="snap_zrw_")
        root, cdir = f"{tmp}/orders", f"{tmp}/catalog"
        sn.snapshot_append_clustered(o, root, ["x"], n_files=8)
        cat.catalog_register(cdir, "zrw_orders", root)
        execute_sql(spark, "DELETE FROM zrw_orders WHERE k % 10 = 3", cdir)
        execute_sql(spark, "OPTIMIZE zrw_orders ZORDER BY (x, y)", cdir)
        out = _ORC_OUT_CACHE[key] = root
    t = sn.read_snapshot(spark, out)
    return t.agg(
        F.count("*").alias("n_rows"),
        dsum("price").alias("total_price"),
        F.sum(
            F.when(F.col("x").between(100, 120), 1).otherwise(0)
        ).cast("bigint").alias("n_x_band"),
        F.sum(
            F.when(F.col("y").between(5, 9), 1).otherwise(0)
        ).cast("bigint").alias("n_y_band"),
    )


@register(
    "snapshot_analyze_stats",
    # Oracle: the same table-level statistics computed the slow way —
    # an incrementally-maintained/recorded stat must equal the scan.
    """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS ndv_custkey,
       CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS ndv_segment,
       CAST(MIN(c_acctbal) AS DOUBLE) AS min_bal,
       CAST(MAX(c_acctbal) AS DOUBLE) AS max_bal,
       MIN(c_mktsegment) AS min_segment,
       MAX(c_mktsegment) AS max_segment
FROM customer
""",
)
def q_snapshot_analyze_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ANALYZE TABLE`` statistics (round 9 — `snapshot_analyze` /
    `snapshot_table_stats`): one aggregation pass records table
    rowcount + per-column NDV/null/min/max as INHERITED table metadata
    (a metadata-only ``analyze`` commit, read back O(1) from the
    payload — the planner-facing statistics layer a CBO feeds on,
    which per-file pruning stats cannot answer without a scan).  Here
    the exact flavor proves correctness against the from-scratch
    oracle; ``approx=True`` (the default, one mergeable HLL pass per
    column) is the 100 TB path.  Build + analyze cached per
    (query, sf_dir); the O(1) stats read re-runs per call."""
    import tempfile

    from .sources import snapshots as sn

    key = ("snapshot_analyze_stats", sf_dir)
    out = _ORC_OUT_CACHE.get(key)
    if out is None:
        c = _t(spark, sf_dir, "customer").select(
            "c_custkey", "c_mktsegment", "c_acctbal"
        )
        root = tempfile.mkdtemp(prefix="snap_anl_") + "/tbl"
        sn.snapshot_append(c, root)
        sn.snapshot_analyze(spark, root, approx=False)
        out = _ORC_OUT_CACHE[key] = root
    st = sn.snapshot_table_stats(out)
    cols = st["cols"]
    return spark.createDataFrame(
        [(
            st["rows"],
            cols["c_custkey"]["ndv"],
            cols["c_mktsegment"]["ndv"],
            float(cols["c_acctbal"]["min"]),
            float(cols["c_acctbal"]["max"]),
            cols["c_mktsegment"]["min"],
            cols["c_mktsegment"]["max"],
        )],
        "n_rows bigint, ndv_custkey bigint, ndv_segment bigint, "
        "min_bal double, max_bal double, min_segment string, "
        "max_segment string",
    )


@register(
    "snapshot_partitions_meta",
    """
SELECT CAST(ts AS DATE) AS day,
       CAST(COUNT(*) AS BIGINT) AS row_count
FROM events
GROUP BY 1
""",
)
def q_snapshot_partitions_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PARTITIONS metadata table (round 8 — `snapshot_partitions`,
    Iceberg's ``<table>.partitions``): per-partition row counts from
    the manifest's recorded partition values + per-file row counts —
    manifests only, no data-file reads — on a hidden-partitioned
    events table (``day = CAST(ts AS DATE)``, transform column never
    stored).  The oracle recomputes the per-day counts from the raw
    rows.  Output cached per (query, sf_dir)."""
    import tempfile

    from . import roles
    from .sources import snapshots as sn

    key = ("snapshot_partitions_meta", sf_dir)
    out = _ORC_OUT_CACHE.get(key)
    if out is None:
        root = tempfile.mkdtemp(prefix="snap_parts_") + "/tbl"
        events = roles.load_events(spark, sf_dir).select(
            "event_id", "ts", "value"
        )
        sn.snapshot_append_partitioned(
            events, root, {"day": "CAST(ts AS DATE)"}
        )
        out = _ORC_OUT_CACHE[key] = root
    return sn.snapshot_partitions(spark, out).select(
        F.col("partition")["day"].cast("date").alias("day"),
        "row_count",
    )


@register(
    "snapshot_clone_diverge",
    # both lineages replayed relationally: the source lost its %7 keys,
    # the clone gained a +1-priced copy of the %5 keys
    f"""
SELECT 'source' AS side, CAST(COUNT(*) AS BIGINT) AS n,
       {_dsum_sql('o_totalprice')} AS total_price
FROM orders WHERE o_orderkey % 7 <> 0
UNION ALL
SELECT 'clone', CAST(COUNT(*) AS BIGINT), {_dsum_sql('price')}
FROM (
    SELECT o_totalprice AS price FROM orders
    UNION ALL
    SELECT o_totalprice + 1 FROM orders WHERE o_orderkey % 5 = 0
)
""",
)
def q_snapshot_clone_diverge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-copy table CLONE + independent divergence (round 8 —
    `snapshot_clone`, Delta's ``CREATE TABLE … CLONE``): orders
    committed once, hard-link-cloned at metadata cost (bytes shared,
    byte-identity pinned in tests/test_snapshot_clone.py), then the two
    lineages diverge — a predicate DELETE on the source, an append on
    the clone — and BOTH full states are read back and aggregated:
    neither side sees the other's change.  The oracle replays both
    lineages from the raw rows.  Output cached per (query, sf_dir)."""
    import tempfile

    from .sources import snapshots as sn

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    key = ("snapshot_clone_diverge", sf_dir)
    out = _ORC_OUT_CACHE.get(key)
    if out is None:
        tmp = tempfile.mkdtemp(prefix="snap_clone_")
        sn.snapshot_overwrite(o, f"{tmp}/src")
        sn.snapshot_clone(f"{tmp}/src", f"{tmp}/fork")
        sn.snapshot_delete_where(
            spark, f"{tmp}/src", "o_orderkey % 7 = 0", keys=["o_orderkey"]
        )
        sn.snapshot_append(
            o.filter(F.col("o_orderkey") % 5 == 0).select(
                (F.col("o_orderkey") + 20000000).alias("o_orderkey"),
                (F.col("o_totalprice") + 1).alias("o_totalprice"),
            ),
            f"{tmp}/fork",
        )
        out = _ORC_OUT_CACHE[key] = tmp
    src = sn.read_snapshot_mor(spark, f"{out}/src").agg(
        F.count("*").alias("n"), dsum("o_totalprice").alias("total_price")
    ).select(F.lit("source").alias("side"), "n", "total_price")
    fork = sn.read_snapshot_mor(spark, f"{out}/fork").agg(
        F.count("*").alias("n"), dsum("o_totalprice").alias("total_price")
    ).select(F.lit("clone").alias("side"), "n", "total_price")
    return src.unionByName(fork)


@register(
    "streaming_partitioned_ingest",
    # exactly-once delivery of the whole feed + per-day manifest row
    # counts equal to the data: the batch per-day aggregate IS the oracle
    f"""
SELECT CAST(ts AS DATE) AS day,
       CAST(COUNT(*) AS BIGINT) AS n,
       {_dsum_sql('value')} AS total_value
FROM events
GROUP BY 1
""",
)
def q_streaming_partitioned_ingest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming ingest × hidden partitioning (round 8 —
    `run_streaming_snapshot_sink(partition_transforms=…)`): the
    median-split events feed arrives as two micro-batches, each
    committing one tagged hidden-partitioned append (``day =
    CAST(ts AS DATE)``, transform column never stored); per-day ROW
    COUNTS then come from the PARTITIONS metadata table (manifests
    only) and per-day value sums from the data read — the join proves
    the recorded partition values match the rows AND the feed landed
    exactly once.  Output cached per (query, sf_dir)."""
    import tempfile

    from . import roles
    from .sources import snapshots as sn

    key = ("streaming_partitioned_ingest", sf_dir)
    out = _STREAM_OUT_CACHE.get(key)
    if out is None:
        tmp = tempfile.mkdtemp(prefix="snap_part_ingest_")
        events = roles.load_events(spark, sf_dir)
        src = events.select("ts", "value")
        stream = _median_split_stream(
            spark, src, tmp, F.unix_micros("ts")
        )
        sn.run_streaming_snapshot_sink(
            stream,
            f"{tmp}/tbl",
            f"{tmp}/ckpt",
            partition_transforms={"day": "CAST(ts AS DATE)"},
        )
        out = _STREAM_OUT_CACHE[key] = f"{tmp}/tbl"
    parts = sn.snapshot_partitions(spark, out).select(
        F.col("partition")["day"].cast("date").alias("day"),
        F.col("row_count").alias("n"),
    )
    vals = (
        sn.read_snapshot(spark, out)
        .groupBy(F.to_date("ts").alias("day"))
        .agg(dsum("value").alias("total_value"))
    )
    return parts.join(vals, "day")


@register(
    "snapshot_zorder_lookup",
    # the layout changes which FILES are read, never the answer: plain
    # filtered aggregates are the oracle for both dimension lookups
    f"""
SELECT 'custkey_dim' AS dim, CAST(COUNT(*) AS BIGINT) AS n,
       {_dsum_sql('o_totalprice')} AS total_price
FROM orders WHERE o_custkey BETWEEN 100 AND 200
UNION ALL
SELECT 'price_dim', CAST(COUNT(*) AS BIGINT), {_dsum_sql('o_totalprice')}
FROM orders WHERE o_totalprice BETWEEN 1000 AND 2000
""",
)
def q_snapshot_zorder_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-dimensional Z-ORDER clustering (round 8 —
    `snapshot_append_zordered`, Delta's OPTIMIZE ZORDER at write time):
    orders committed range-partitioned + sorted on the Morton key of
    (o_custkey, o_totalprice), then point-range lookups on EACH
    dimension separately run through `read_snapshot_pruned` — the
    interleaved layout bounds both columns per file, so either lookup
    skips files a 1-D sort could only skip for its leading column
    (file-skip counts pinned in tests/test_snapshot_clone.py).  The
    oracle is the plain filtered aggregate — layout moves file
    boundaries, never values.  Output cached per (query, sf_dir)."""
    import tempfile

    from .sources import snapshots as sn

    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    key = ("snapshot_zorder_lookup", sf_dir)
    out = _ORC_OUT_CACHE.get(key)
    if out is None:
        root = tempfile.mkdtemp(prefix="snap_z_") + "/tbl"
        sn.snapshot_append_zordered(
            o, root, ["o_custkey", "o_totalprice"], n_files=16
        )
        out = _ORC_OUT_CACHE[key] = root
    cust = sn.read_snapshot_pruned(spark, out, "o_custkey", 100, 200).agg(
        F.count("*").alias("n"), dsum("o_totalprice").alias("total_price")
    ).select(F.lit("custkey_dim").alias("dim"), "n", "total_price")
    price = sn.read_snapshot_pruned(
        spark, out, "o_totalprice", 1000.0, 2000.0
    ).agg(
        F.count("*").alias("n"), dsum("o_totalprice").alias("total_price")
    ).select(F.lit("price_dim").alias("dim"), "n", "total_price")
    return cust.unionByName(price)


@register(
    "snapshot_pushdown_scan",
    # pushdown changes which FILES are opened, never the answer
    f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
       CAST(MAX(o_orderkey) AS BIGINT) AS max_key,
       {_dsum_sql('o_totalprice')} AS total_price
FROM orders
WHERE o_orderkey BETWEEN 1000 AND 5000
""",
)
def q_snapshot_pushdown_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER-DRIVEN manifest file pruning from plain SQL text: orders
    committed clustered on o_orderkey, queried as ``SELECT ... WHERE
    o_orderkey >= 1000 AND o_orderkey <= 5000`` through the statement
    executor — its pruned attach (`sql_exec._pruned_attach`) turns the
    typed range filter Catalyst's optimized plan puts over the table's
    scan into a `read_snapshot_pruned` view, so only the manifest
    files whose recorded [min, max] intersect the range are opened,
    and the predicate is re-applied on top (pruning never changes the
    answer).  HISTORY: round 8 implemented this via the Spark 4.1
    Python-DataSource pushFilters API; round 10 WITHDREW that reader
    after measuring an engine defect — Spark keeps ONE read plan per
    relation (the last scan planned wins for every scan of it), so
    per-scan file pruning silently LOSES ROWS whenever a relation is
    scanned twice (a UNION over one view, or a DataFrame reused after
    a filtered query); reproduction pinned in
    tests/test_snapshot_source.py.  The statement-level layer prunes
    identically for the shapes that matter and has no such hazard.
    Build cached per (query, sf_dir)."""
    import tempfile

    from .sources import catalog as cat
    from .sources import snapshots as sn
    from .sql_exec import execute_sql

    key = ("snapshot_pushdown_scan", sf_dir)
    cdir = _ORC_OUT_CACHE.get(key)
    if cdir is None:
        o = _t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice"
        )
        tmp = tempfile.mkdtemp(prefix="snap_push_")
        root, cdir = f"{tmp}/tbl", f"{tmp}/catalog"
        sn.snapshot_append_clustered(o, root, ["o_orderkey"], n_files=8)
        cat.catalog_register(cdir, "push_orders", root)
        _ORC_OUT_CACHE[key] = cdir
    return execute_sql(
        spark,
        """
SELECT COUNT(*) AS n,
       MIN(o_orderkey) AS min_key,
       MAX(o_orderkey) AS max_key,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(28,10))) AS DOUBLE)
           AS total_price
FROM push_orders
WHERE o_orderkey >= 1000 AND o_orderkey <= 5000
""",
        cdir,
    )
