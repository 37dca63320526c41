"""Custom Python DataSource (the Spark 4 `pyspark.sql.datasource` API):
a deterministic synthetic-events generator with partition-parallel reads.

Why the engine ships one: the reference ingests only files/SQLite; a
Spark-native platform also wants PROGRAMMATIC sources (load generators,
API paginators, fixture fabricators) that plug into the reader surface —
`spark.read.format("synthetic_events")` — instead of materializing files
first.  The Python DataSource API gives that without a JVM jar: the
planner asks `partitions()` for the split list and fans `read(partition)`
out across executors, so generation is partition-parallel like any scan.

Determinism contract: row `i` of `rows` total is a pure integer function
of `i` (no RNG, no time) — the whole relation is reproducible on any
cluster layout, and an external engine can recompute it exactly (the
`synthetic_source_agg` registry query hash-matches a DuckDB
`range()`-based oracle against this source's output).

Scale: each partition generates a contiguous `[start, end)` id range —
no shuffle, no skew (ranges are equal-width), state O(1) per task.  A
Python generator yields ~1M simple rows/s/core; for bulk fixtures beyond
that, write once with this source and read parquet thereafter.
"""

from __future__ import annotations

import weakref

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import StructType


class _RangePartition(InputPartition):
    def __init__(self, start: int, end: int):
        self.start = start
        self.end = end


#: the synthetic relation, row i  (all integer arithmetic — portable):
#:   event_id = i
#:   user_id  = i mod 997                    (coprime-ish user spread)
#:   bucket   = i mod 13
#:   value_cents = (i * 31) mod 100000       (deterministic "amount")
#:   day_no   = i div 10000                  (coarse time axis)
_SCHEMA_DDL = (
    "event_id bigint, user_id bigint, bucket bigint, "
    "value_cents bigint, day_no bigint"
)


def _row(i: int) -> tuple:
    return (i, i % 997, i % 13, (i * 31) % 100000, i // 10000)


class SyntheticEventsDataSource(DataSource):
    """``spark.read.format("synthetic_events").option("rows", N)
    .option("partitions", P).load()`` — N deterministic rows split into P
    equal ranges."""

    @classmethod
    def name(cls) -> str:
        return "synthetic_events"

    def schema(self) -> str:
        return _SCHEMA_DDL

    def reader(self, schema: StructType) -> "SyntheticEventsReader":
        return SyntheticEventsReader(self.options)

    def simpleStreamReader(self, schema: StructType):
        # the SIMPLE stream API (prefetch-on-driver, offset dicts) — the
        # right fit for a generator; `streamReader` would be the
        # partition-planned variant for sources with real splits
        return SyntheticEventsStreamReader(self.options)


class SyntheticEventsReader(DataSourceReader):
    def __init__(self, options):
        self.rows = int(options.get("rows", 1000))
        self.num_partitions = int(options.get("partitions", 4))
        if self.rows < 0:
            raise ValueError("synthetic_events: rows must be >= 0")
        if self.num_partitions < 1:
            raise ValueError("synthetic_events: partitions must be >= 1")

    def partitions(self):
        n, p = self.rows, self.num_partitions
        step = (n + p - 1) // p if n else 0
        out = []
        for k in range(p):
            start, end = k * step, min((k + 1) * step, n)
            if start < end:
                out.append(_RangePartition(start, end))
        # always at least one (possibly empty) split so the scan plans
        return out or [_RangePartition(0, 0)]

    def read(self, partition: _RangePartition):
        for i in range(partition.start, partition.end):
            yield _row(i)


#: per session, the class last registered under each source NAME (r15):
#: a registration is a ~0.5 s py4j round trip and re-registering the
#: same class is pure overhead — weak so restarted sessions re-register.
#: Spark keeps whichever class registered LAST under a name, so
#: registering A, then B, then A again under one name must reach Spark
#: all three times.
_REGISTERED: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def _register_once(spark, cls) -> None:
    """Shared per-session registration memo for every Python data source
    in the engine (pyds + snapshot_source)."""
    names = _REGISTERED.setdefault(spark, {})
    if names.get(cls.name()) is cls:
        return
    spark.dataSource.register(cls)
    names[cls.name()] = cls


def register_synthetic_source(spark) -> None:
    """Idempotent registration (re-registering the same name is fine)."""
    _register_once(spark, SyntheticEventsDataSource)


# ---------------------------------------------------------------------------
# streaming variant: the same deterministic relation as a bounded stream
# ---------------------------------------------------------------------------


class SyntheticEventsStreamReader(SimpleDataSourceStreamReader):
    """Offset-tracked micro-batches over the synthetic relation:
    offset = {"i": next-row-index}; each batch is rows
    [i, min(i + batch_rows, total_rows)).  ``readBetweenOffsets`` replays
    EXACTLY the same rows for a given (start, end) — determinism is what
    makes checkpoint recovery exactly-once for downstream sinks."""

    def __init__(self, options):
        self.total = int(options.get("total_rows", 100))
        self.batch = int(options.get("batch_rows", 10))
        if self.batch < 1:
            raise ValueError("synthetic_events stream: batch_rows must be >= 1")

    def initialOffset(self) -> dict:
        return {"i": 0}

    def read(self, start: dict):
        lo = int(start["i"])
        hi = min(lo + self.batch, self.total)
        return iter([_row(i) for i in range(lo, hi)]), {"i": hi}

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter([_row(i) for i in range(int(start["i"]), int(end["i"]))])


# ---------------------------------------------------------------------------
# Python DataSource WRITER: manifest-committed JSONL sink
# ---------------------------------------------------------------------------

from pyspark.sql.datasource import (  # noqa: E402
    DataSourceWriter,
    WriterCommitMessage,
)


class _JsonlCommit(WriterCommitMessage):
    def __init__(self, path: str, rows: int):
        self.path = path
        self.rows = rows


class JsonlManifestDataSource(DataSource):
    """``df.write.format("jsonl_manifest").option("path", dir)
    .mode("append").save()`` (the API requires an explicit
    Append/Overwrite mode) — the WRITER side of the Python DataSource
    API (the reader/stream sides live above), exercising the full
    two-phase lifecycle:

    * each task writes its partition to ``part-<uuid>.jsonl`` and
      returns a `WriterCommitMessage` (file path + row count);
    * the DRIVER's ``commit`` writes ``_MANIFEST.json`` listing exactly
      the committed files + total rows — the miniature of a table
      format's snapshot commit: readers that honor the manifest
      (`read_jsonl_manifest`) see an all-or-nothing table, never a
      half-written one, and stray/aborted files are invisible;
    * ``abort`` deletes whatever the failed attempt produced.

    JSON-lines payload keeps it engine-portable (`read_jsonl_manifest`
    re-reads with an explicit schema, never inference)."""

    @classmethod
    def name(cls) -> str:
        return "jsonl_manifest"

    def writer(self, schema: StructType, overwrite: bool):
        return JsonlManifestWriter(self.options, schema)


class JsonlManifestWriter(DataSourceWriter):
    def __init__(self, options, schema: StructType):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("jsonl_manifest: option 'path' is required")
        self.fields = [f.name for f in schema.fields]

    def write(self, iterator) -> _JsonlCommit:
        import json
        import os
        import uuid

        os.makedirs(self.path, exist_ok=True)
        out = os.path.join(self.path, f"part-{uuid.uuid4().hex}.jsonl")
        n = 0
        tmp = out + ".tmp"
        with open(tmp, "w") as fh:
            for row in iterator:
                fh.write(
                    json.dumps(
                        {k: row[i] for i, k in enumerate(self.fields)},
                        sort_keys=True,
                    )
                )
                fh.write("\n")
                n += 1
        os.rename(tmp, out)  # task files appear atomically
        return _JsonlCommit(out, n)

    def commit(self, messages) -> None:
        import json
        import os

        manifest = {
            "files": sorted(
                os.path.basename(m.path) for m in messages if m.rows
            ),
            "total_rows": sum(m.rows for m in messages),
        }
        tmp = os.path.join(self.path, "_MANIFEST.json.tmp")
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        os.rename(tmp, os.path.join(self.path, "_MANIFEST.json"))

    def abort(self, messages) -> None:
        import os

        for m in messages:
            try:
                os.remove(m.path)
            except OSError:
                pass


def register_jsonl_manifest_sink(spark) -> None:
    _register_once(spark, JsonlManifestDataSource)


def read_jsonl_manifest(spark, path: str, schema: StructType):
    """Manifest-honoring read: only files listed in ``_MANIFEST.json``
    are visible — stray, aborted, or half-committed files are not part
    of the table."""
    import json
    import os

    with open(os.path.join(path, "_MANIFEST.json")) as fh:
        manifest = json.load(fh)
    files = [os.path.join(path, f) for f in manifest["files"]]
    if not files:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).json(files)
