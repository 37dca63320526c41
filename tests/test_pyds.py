"""Custom Python DataSource (sources/pyds.py): partition-parallel
deterministic generation through the real reader surface."""

from __future__ import annotations

import pytest

from data_engineering_challenge_spark.sources.pyds import (
    register_synthetic_source,
)


@pytest.fixture()
def src(spark):
    register_synthetic_source(spark)

    def load(rows, partitions):
        return (
            spark.read.format("synthetic_events")
            .option("rows", rows)
            .option("partitions", partitions)
            .load()
        )

    return load


def test_rows_and_schema(src):
    df = src(1000, 4)
    assert df.columns == [
        "event_id", "user_id", "bucket", "value_cents", "day_no",
    ]
    assert df.count() == 1000


def test_partition_layout_is_parallel(src):
    assert src(1000, 4).rdd.getNumPartitions() == 4
    # uneven split: ceil-width ranges, last one short, none dropped
    assert src(10, 3).rdd.getNumPartitions() == 3
    assert src(10, 3).count() == 10


def test_content_invariant_under_partitioning(src):
    a = sorted(src(500, 1).collect())
    b = sorted(src(500, 7).collect())
    assert a == b  # the relation is a pure function of i, not of layout


def test_row_formula(src):
    rows = {r["event_id"]: r for r in src(50, 2).collect()}
    for i in (0, 13, 49):
        r = rows[i]
        assert r["user_id"] == i % 997
        assert r["bucket"] == i % 13
        assert r["value_cents"] == (i * 31) % 100000
        assert r["day_no"] == i // 10000


def test_empty_and_bad_options(src):
    assert src(0, 4).count() == 0
    with pytest.raises(Exception):
        src(-1, 4).collect()
    with pytest.raises(Exception):
        src(10, 0).collect()


def test_stream_reader_batches_and_replay(spark, tmp_path):
    """The streaming variant emits deterministic offset-tracked
    micro-batches (30+30+30+10 for 100 rows at batch 30) whose union
    equals the batch relation.  The simple stream API prefetches ONE
    batch per availableNow run, so repeated runs over the SAME
    checkpoint advance through the offsets — which also proves offset
    persistence: a fully-drained source replays nothing."""
    register_synthetic_source(spark)
    sizes: list[int] = []
    seen: list[tuple] = []

    def run_once():
        got: list = []
        q = (
            spark.readStream.format("synthetic_events")
            .option("total_rows", 100)
            .option("batch_rows", 30)
            .load()
            .writeStream.foreachBatch(lambda b, _i: got.extend(b.collect()))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return got

    for _ in range(4):
        rows = run_once()
        sizes.append(len(rows))
        seen.extend(tuple(r) for r in rows)
    assert sizes == [30, 30, 30, 10]

    batch_rows = sorted(
        tuple(r)
        for r in spark.read.format("synthetic_events")
        .option("rows", 100)
        .option("partitions", 3)
        .load()
        .collect()
    )
    assert sorted(seen) == batch_rows

    # drained: one more run from the same checkpoint replays nothing
    assert run_once() == []


def test_jsonl_manifest_writer_roundtrip(spark, tmp_path):
    """Full writer lifecycle: partition-parallel task files + driver
    manifest commit; the manifest-honoring read reproduces the table and
    IGNORES stray files (the all-or-nothing contract)."""
    import json
    import os

    from data_engineering_challenge_spark.sources.pyds import (
        read_jsonl_manifest,
        register_jsonl_manifest_sink,
    )

    register_jsonl_manifest_sink(spark)
    df = spark.createDataFrame(
        [(i, f"s{i % 3}", float(i) / 2) for i in range(100)],
        "id bigint, s string, v double",
    ).repartition(5)
    path = str(tmp_path / "sink")
    df.write.format("jsonl_manifest").option("path", path).mode("append").save()

    with open(os.path.join(path, "_MANIFEST.json")) as fh:
        manifest = json.load(fh)
    assert manifest["total_rows"] == 100
    assert 1 <= len(manifest["files"]) <= 5
    for f in manifest["files"]:
        assert os.path.isfile(os.path.join(path, f))

    # a stray (uncommitted) file must be invisible to the manifest read
    with open(os.path.join(path, "part-stray.jsonl"), "w") as fh:
        fh.write('{"id": 999999, "s": "ghost", "v": 0.0}\n')

    back = read_jsonl_manifest(spark, path, df.schema)
    assert back.count() == 100
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_register_once_follows_last_class_per_name(spark):
    """Spark keeps whichever class registered LAST under a source name,
    so the per-session memo must let A -> B -> A reach Spark every time
    (a memo keyed by class alone skipped the second A and left B)."""
    from pyspark.sql.datasource import DataSource, DataSourceReader

    from data_engineering_challenge_spark.sources.pyds import _register_once

    def source(tag: str):
        class Reader(DataSourceReader):
            def read(self, partition):
                yield (tag,)

        class Source(DataSource):
            @classmethod
            def name(cls) -> str:
                return "register_once_swap"

            def schema(self) -> str:
                return "tag string"

            def reader(self, schema):
                return Reader()

        return Source

    a, b = source("a"), source("b")
    seen = []
    for cls in (a, b, a):
        _register_once(spark, cls)
        df = spark.read.format("register_once_swap").load()
        seen.append(df.first()["tag"])
    assert seen == ["a", "b", "a"]
