"""Unit tests for queries_scale: hand fixtures pin the SEMANTICS of the
distributed scale-pattern operators (global numbering, skyline, EWMA,
RLE UDTF); oracle hash-parity at sf0.01 is covered by
scripts/verify_local.py / the driver gate.  Plan-level: global_row_ids
must NOT contain a single-partition global-sort window over the full
input, and pareto_frontier's local prune must shrink the exact pass."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from data_engineering_challenge_spark import queries_scale as qsc

SF = "/root/testdata/sf0.001"


def _write_events(spark, tmp_path, rows):
    df = spark.createDataFrame(
        rows,
        "event_id bigint, user_id bigint, ts timestamp, event_type string, value double",
    ).withColumn("props", F.lit(None).cast("string"))
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    return str(tmp_path)


def test_global_row_ids_dense_and_ordered(spark):
    out = qsc.global_row_ids(spark, SF).collect()
    n = len(out)
    ids = sorted(r.row_id for r in out)
    assert ids == list(range(1, n + 1)), "ids must be dense 1..N"
    # ids must follow (ts, event_id) order: re-derive the expected order
    events = spark.read.parquet(f"{SF}/events.parquet").select("event_id", "ts")
    expected = [
        r.event_id for r in events.orderBy("ts", "event_id").collect()
    ]
    got = [r.event_id for r in sorted(out, key=lambda r: r.row_id)]
    assert got == expected


def test_global_row_ids_no_global_sort_window(spark):
    """The scale contract: numbering the full input must NOT pass through
    a single-partition window (Exchange SinglePartition feeding a Window
    over the events scan).  Only the 32-row offset frame may be
    single-partition."""
    plan = qsc.global_row_ids(spark, SF)._jdf.queryExecution().executedPlan().toString()
    # the Window over the full input is partitioned by _bkt; the only
    # SinglePartition exchange allowed is the tiny offsets branch (input =
    # the 32-row groupBy count output, which contains an HashAggregate)
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "SinglePartition" in ln:
            ctx = "\n".join(lines[i : i + 6])
            assert "HashAggregate" in ctx or "count" in ctx, (
                "SinglePartition exchange outside the offsets branch:\n" + ctx
            )


def test_pareto_frontier_hand_fixture(spark, tmp_path):
    """Points: (1,1) (1,3) (2,5) (3,5) (3,2).  Frontier (price low, size
    high): (1,3) dominates (1,1); (2,5) dominates (3,5) and (3,2).
    Expected frontier = {(1.0,3), (2.0,5)}."""
    rows = [
        (1, "a", "B", "T", 1, 1.0),
        (2, "b", "B", "T", 3, 1.0),
        (3, "c", "B", "T", 5, 2.0),
        (4, "d", "B", "T", 5, 3.0),
        (5, "e", "B", "T", 2, 3.0),
    ]
    spark.createDataFrame(
        rows,
        "p_partkey bigint, p_name string, p_brand string, p_type string, "
        "p_size int, p_retailprice double",
    ).write.mode("overwrite").parquet(str(tmp_path / "part.parquet"))
    got = {
        (r.price, r.size)
        for r in qsc.pareto_frontier(spark, str(tmp_path)).collect()
    }
    assert got == {(1.0, 3), (2.0, 5)}


def test_pareto_local_prune_bounds_exact_pass(spark):
    """skyline(union) == skyline(union of local skylines): the mapInPandas
    prune output must already be small (<= frontier × partitions) and the
    final frontier from the pruned path must equal a brute-force
    NOT-EXISTS computed in Spark SQL."""
    pairs = (
        spark.read.parquet(f"{SF}/part.parquet")
        .select(
            F.col("p_retailprice").alias("price"),
            F.col("p_size").cast("bigint").alias("size"),
        )
        .distinct()
    )
    pairs.createOrReplaceTempView("_pp")
    brute = {
        (r.price, r.size)
        for r in spark.sql(
            """
            SELECT p.price, p.size FROM _pp p WHERE NOT EXISTS (
                SELECT 1 FROM _pp q
                WHERE q.price <= p.price AND q.size >= p.size
                  AND (q.price < p.price OR q.size > p.size))
            """
        ).collect()
    }
    got = {
        (r.price, r.size)
        for r in qsc.pareto_frontier(spark, SF).collect()
    }
    assert got == brute
    assert len(got) >= 1


def test_ewma_hand_fixture(spark, tmp_path):
    """user 1: values 10, 20, 40 -> ewma 10, 15, 27.5 (alpha=.5);
    user 2 single event -> seeded with its own value."""
    d = dt.datetime(2024, 5, 1)
    rows = [
        (1, 1, d, "a", 10.0),
        (2, 1, d + dt.timedelta(minutes=1), "a", 20.0),
        (3, 1, d + dt.timedelta(minutes=2), "a", 40.0),
        (4, 2, d, "a", 7.0),
    ]
    sf = _write_events(spark, tmp_path, rows)
    got = {
        r.event_id: r.ewma for r in qsc.ewma_value(spark, sf).collect()
    }
    assert got == {1: 10.0, 2: 15.0, 3: 27.5, 4: 7.0}


def test_ewma_tie_break_on_event_id(spark, tmp_path):
    """Two events at the SAME timestamp order by event_id — the
    deterministic-order convention every sequence operator shares."""
    d = dt.datetime(2024, 5, 1)
    rows = [
        (2, 1, d, "a", 20.0),
        (1, 1, d, "a", 10.0),
    ]
    sf = _write_events(spark, tmp_path, rows)
    got = {
        r.event_id: r.ewma for r in qsc.ewma_value(spark, sf).collect()
    }
    assert got == {1: 10.0, 2: 15.0}


def test_rle_runs_hand_fixture(spark, tmp_path):
    rows = [(1, "a a b a a a", "en", "s", 11), (2, "x", "en", "s", 1)]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = qsc.rle_token_runs(spark, str(tmp_path)).collect()
    got = {(r.doc_id, r.run_idx): (r.token, r.run_len) for r in out}
    assert got == {
        (1, 0): ("a", 2),
        (1, 1): ("b", 1),
        (1, 2): ("a", 3),
        (2, 0): ("x", 1),
    }


def test_rle_runs_reconstruct_roundtrip(spark):
    """RLE is lossless: expanding every run back (token repeated run_len
    times, in run_idx order) reproduces each document's token count and
    the repetition mass (sum of run_len == token count; max run per doc
    matches a window recomputation)."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    runs = qsc.rle_token_runs(spark, SF)
    per_doc = runs.groupBy("doc_id").agg(
        F.sum("run_len").alias("n_toks"), F.count("*").alias("n_runs")
    )
    direct = docs.select(
        "doc_id", F.size(F.split("text", " ")).alias("n_toks_direct")
    )
    joined = per_doc.join(direct, "doc_id")
    bad = joined.filter(F.col("n_toks") != F.col("n_toks_direct")).count()
    assert bad == 0
    # runs must be strictly fewer than tokens whenever a doc repeats
    assert joined.filter(F.col("n_runs") > F.col("n_toks")).count() == 0


def test_orc_roundtrip_matches_parquet_direct(spark):
    got = qsc.orc_roundtrip_stats(spark, SF)
    direct = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum(F.length("text")).alias("total_len"),
        )
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, direct.collect())
    )


def test_cms_overestimate_only_and_exact_when_wide(spark):
    """CMS analytic guarantees on the real events table: estimate >= true
    count for EVERY key at the undersized width (collisions only add),
    and estimate == true count when width >> #keys."""
    events = spark.read.parquet(f"{SF}/events.parquet").select("user_id")
    exact = {
        r.user_id: r.c
        for r in events.groupBy("user_id").agg(F.count("*").alias("c")).collect()
    }
    est_narrow = {
        r.user_id: r.est_count
        for r in qsc.cms_estimates(events, "user_id", depth=4, width=16).collect()
    }
    assert set(est_narrow) == set(exact)
    assert all(est_narrow[k] >= exact[k] for k in exact)
    # narrow width MUST actually collide on this data, else the oracle
    # checks a degenerate regime
    assert any(est_narrow[k] > exact[k] for k in exact)

    est_wide = {
        r.user_id: r.est_count
        for r in qsc.cms_estimates(events, "user_id", depth=4, width=4096).collect()
    }
    assert est_wide == exact


def test_cms_merge_equals_single_build(spark):
    """Sketch mergeability: build over two disjoint halves, add counters,
    probe — identical estimates to one build over the union."""
    events = spark.read.parquet(f"{SF}/events.parquet").select(
        "user_id", "event_id"
    )
    a = events.filter(F.col("event_id") % 2 == 0)
    b = events.filter(F.col("event_id") % 2 == 1)
    merged = qsc.cms_merge(
        qsc.cms_build(a, "user_id", 4, 64), qsc.cms_build(b, "user_id", 4, 64)
    )
    got = {
        r.user_id: r.est_count
        for r in qsc.cms_probe(merged, events, "user_id", 4, 64).collect()
    }
    single = {
        r.user_id: r.est_count
        for r in qsc.cms_estimates(events, "user_id", 4, 64).collect()
    }
    assert got == single


def test_table_checksum_order_and_partitioning_invariant(spark):
    """The checksum must not move under repartitioning/reordering, and
    MUST move when a row changes."""
    base = qsc.table_checksum(spark, SF).collect()[0]
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    # same rows, different physical layout -> same fingerprint
    import tempfile

    tmp = tempfile.mkdtemp(prefix="cksum_")
    li.repartition(7, "l_suppkey").write.parquet(f"{tmp}/lineitem.parquet")
    moved = qsc.table_checksum(spark, tmp).collect()[0]
    assert (moved.n_rows, moved.checksum) == (base.n_rows, base.checksum)
    # one flipped value -> different fingerprint
    tampered = li.withColumn(
        "l_quantity",
        F.when(F.col("l_orderkey") == li.first().l_orderkey, F.col("l_quantity") + 1)
        .otherwise(F.col("l_quantity")),
    )
    tmp2 = tempfile.mkdtemp(prefix="cksum2_")
    tampered.write.parquet(f"{tmp2}/lineitem.parquet")
    assert qsc.table_checksum(spark, tmp2).collect()[0].checksum != base.checksum


def test_diff_tables_all_three_statuses(spark):
    """Hand fixture covering only_a, only_b, changed, and identical-rows
    (which must NOT appear)."""
    a = spark.createDataFrame(
        [(1, "x", 1.0), (2, "y", 2.0), (3, "z", 3.0)], "k bigint, s string, v double"
    )
    b = spark.createDataFrame(
        [(2, "y", 2.0), (3, "z", 9.0), (4, "w", 4.0)], "k bigint, s string, v double"
    )
    got = {
        (r.k, r.status) for r in qsc.diff_tables(a, b, ["k"]).collect()
    }
    assert got == {(1, "only_a"), (3, "changed"), (4, "only_b")}


def test_diff_tables_null_vs_empty_distinct(spark):
    """NULL and '' in a non-key column are DIFFERENT row contents — the
    canonicalization must not conflate them (concat_ws would)."""
    a = spark.createDataFrame([(1, None)], "k bigint, s string")
    b = spark.createDataFrame([(1, "")], "k bigint, s string")
    got = [(r.k, r.status) for r in qsc.diff_tables(a, b, ["k"]).collect()]
    assert got == [(1, "changed")]


def test_percent_rank_bounds_and_monotone(spark):
    out = qsc.percent_rank_normalize(spark, SF)
    stats = out.groupBy("event_type").agg(
        F.min("pr").alias("lo"), F.max("pr").alias("hi"), F.count("*").alias("n")
    )
    for r in stats.collect():
        assert r.lo == 0.0
        assert r.hi == 1.0 or r.n == 1


def test_linear_trend_exact_line(spark, tmp_path):
    """Points on y = 2x + 3 (x = day index) must recover slope 2,
    intercept 3 exactly (all quantities exactly representable)."""
    import datetime as _dt

    base = _dt.date(2020, 1, 1)
    rows = [
        (i, 1, _dt.datetime(2024, 3, 1 + i, 12), "a", 2.0 * x + 3.0)
        for i, x in enumerate(
            [(_dt.date(2024, 3, 1 + i) - base).days for i in range(5)]
        )
    ]
    sf = _write_events(spark, tmp_path, rows)
    out = qsc.linear_trend_by_type(spark, sf).collect()
    assert len(out) == 1
    assert out[0].slope == 2.0
    assert out[0].intercept == 3.0


def test_linear_trend_matches_numpy(spark):
    """Cross-check against numpy.polyfit on the real sf0.001 events."""
    import numpy as np

    events = spark.read.parquet(f"{SF}/events.parquet")
    got = {r.event_type: (r.slope, r.intercept)
           for r in qsc.linear_trend_by_type(spark, SF).collect()}
    pdf = events.select("event_type", "ts", "value").toPandas()
    base = np.datetime64("2020-01-01")
    pdf["x"] = (pdf["ts"].dt.floor("D").values.astype("datetime64[D]") - base).astype(int)
    for et, g in pdf.groupby("event_type"):
        m, c = np.polyfit(g["x"], g["value"], 1)
        gs, gi = got[et]
        assert abs(gs - m) < 1e-8 and abs(gi - c) < 1e-6, (et, gs, m, gi, c)


def test_pareto_survives_empty_partitions(spark, tmp_path):
    """repartition(64) over 2 rows leaves most partitions EMPTY — the
    local-skyline mapInPandas must handle empty batch iterators."""
    spark.createDataFrame(
        [(1, "a", "B", "T", 1, 1.0), (2, "b", "B", "T", 3, 1.0)],
        "p_partkey bigint, p_name string, p_brand string, p_type string, "
        "p_size int, p_retailprice double",
    ).repartition(64).write.parquet(str(tmp_path / "part.parquet"))
    got = {
        (r.price, r.size)
        for r in qsc.pareto_frontier(spark, str(tmp_path)).collect()
    }
    assert got == {(1.0, 3)}


def test_streaming_cms_replay_replaces_not_doubles(spark, tmp_path):
    """A replayed micro-batch must REPLACE its _batch partition, not
    double-count: write epoch 0, replay epoch 0, add epoch 1 — the
    merged sketch must equal a one-shot build over the union."""
    events = spark.read.parquet(f"{SF}/events.parquet").select(
        "user_id", "event_id"
    )
    a = events.filter(F.col("event_id") % 2 == 0)
    b = events.filter(F.col("event_id") % 2 == 1)
    path = str(tmp_path / "sketch")

    def write_epoch(df, epoch):
        (
            qsc.cms_build(df, "user_id", 4, 64)
            .withColumn("_batch", F.lit(epoch))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch")
            .parquet(path)
        )

    write_epoch(a, 0)
    write_epoch(a, 0)  # replay
    write_epoch(b, 1)
    merged = {
        (r.d, r.b): r.c for r in qsc.read_streaming_cms(spark, path).collect()
    }
    single = {
        (r.d, r.b): r.c
        for r in qsc.cms_build(events, "user_id", 4, 64).collect()
    }
    assert merged == single


def test_global_row_ids_empty_input(spark, tmp_path):
    spark.createDataFrame(
        [],
        "event_id bigint, user_id bigint, ts timestamp, event_type string, value double",
    ).write.parquet(str(tmp_path / "events.parquet"))
    assert qsc.global_row_ids(spark, str(tmp_path)).count() == 0


def test_compact_batch_partitions_preserves_merge(spark, tmp_path):
    """Compaction folds all epochs EXCEPT the newest into _batch=-1
    without changing the merged counters; a replay of the newest epoch
    REPLACES its partition (no double count), and a post-compaction new
    epoch merges additively."""
    events = spark.read.parquet(f"{SF}/events.parquet").select(
        "user_id", "event_id"
    )
    a = events.filter(F.col("event_id") % 2 == 0)
    b = events.filter(F.col("event_id") % 2 == 1)
    path = str(tmp_path / "sketch")

    def write_epoch(df, epoch):
        (
            qsc.cms_build(df, "user_id", 4, 64)
            .withColumn("_batch", F.lit(epoch))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch")
            .parquet(path)
        )

    write_epoch(a, 0)
    write_epoch(b, 1)
    write_epoch(a, 2)
    before = {
        (r.d, r.b): r.c for r in qsc.read_streaming_cms(spark, path).collect()
    }
    qsc.compact_batch_partitions(spark, path, ["d", "b"], ["c"])
    after = {
        (r.d, r.b): r.c for r in qsc.read_streaming_cms(spark, path).collect()
    }
    assert after == before
    parts = {
        r._batch
        for r in spark.read.parquet(path).select("_batch").distinct().collect()
    }
    assert parts == {-1, 2}, "newest epoch must stay un-folded"
    # replay of the NEWEST epoch replaces its partition -> merge unchanged
    write_epoch(a, 2)
    replayed = {
        (r.d, r.b): r.c for r in qsc.read_streaming_cms(spark, path).collect()
    }
    assert replayed == before
    # re-compaction with a single fresh state is a no-op (nothing to fold
    # besides -1 and the newest)
    qsc.compact_batch_partitions(spark, path, ["d", "b"], ["c"])
    assert {
        (r.d, r.b): r.c for r in qsc.read_streaming_cms(spark, path).collect()
    } == before
    # a new epoch after compaction merges beside the compacted state
    write_epoch(b, 3)
    grown = {
        (r.d, r.b): r.c for r in qsc.read_streaming_cms(spark, path).collect()
    }
    b_sketch = {
        (r.d, r.b): r.c for r in qsc.cms_build(b, "user_id", 4, 64).collect()
    }
    assert all(
        grown[k] == before[k] + b_sketch.get(k, 0) for k in grown
    )


def test_hierarchy_rollup_hand_fixture(spark, tmp_path):
    """Forest under parent(k)=k DIV 10 for keys {1, 12, 123, 124, 9}:
    1 is an ancestor of 12, 123, 124 (12 -> 1; 123/124 -> 12 -> 1);
    9 is a lone root.  Values = key as double.
      subtree(1)   = 1+12+123+124 = 260, n=4
      subtree(12)  = 12+123+124   = 259, n=3
      subtree(123) = 123, n=1 ; subtree(124) = 124, n=1 ; subtree(9) = 9, n=1
    """
    rows = [(k, f"p{k}", "B", "T", 1, float(k)) for k in (1, 12, 123, 124, 9)]
    spark.createDataFrame(
        rows,
        "p_partkey bigint, p_name string, p_brand string, p_type string, "
        "p_size int, p_retailprice double",
    ).write.parquet(str(tmp_path / "part.parquet"))
    got = {
        r.partkey: (r.n_desc, r.subtree_value)
        for r in qsc.part_hierarchy_rollup(spark, str(tmp_path)).collect()
    }
    assert got == {
        1: (4, 260.0),
        12: (3, 259.0),
        123: (1, 123.0),
        124: (1, 124.0),
        9: (1, 9.0),
    }


def test_cdc_feed_roundtrip_closes(spark, tmp_path):
    """The diff->apply closure: materialize version A, generate the feed
    A->B, apply it with streaming.apply_cdc — the table must now equal B
    exactly (deletes gone, updates replaced, inserts present)."""
    from data_engineering_challenge_spark.streaming.incremental import apply_cdc

    sf = "/root/testdata/sf0.001"
    o = spark.read.parquet(f"{sf}/orders.parquet")
    a = o.select("o_orderkey", "o_orderstatus", "o_totalprice")
    b = (
        o.filter(F.col("o_orderpriority") != "1-URGENT")
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.when(
                F.col("o_totalprice") > 100000, F.col("o_totalprice") - 500.0
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
    path = str(tmp_path / "orders_tbl")
    a.write.parquet(path)
    feed = qsc.generate_cdc_feed(a, b, ["o_orderkey"])
    assert feed.count() > 0
    apply_cdc(feed, path, ["o_orderkey"])
    got = sorted(
        map(tuple, spark.read.parquet(path).drop("_kb").collect())
    )
    want = sorted(map(tuple, b.collect()))
    assert got == want


def test_global_row_ids_equi_depth_parity_under_skew(spark, tmp_path):
    """99% of rows share ONE timestamp (worst case for fixed-width
    buckets): the equi-depth variant must produce the IDENTICAL ids as
    the fixed-width one (boundary choice moves work, not ids), and both
    must match the single-partition ROW_NUMBER truth."""
    import datetime as _dt

    d = _dt.datetime(2024, 5, 1)
    rows = [(i, 1, d, "a", 1.0) for i in range(990)] + [
        (990 + j, 1, d + _dt.timedelta(hours=j + 1), "a", 1.0)
        for j in range(10)
    ]
    sf = _write_events(spark, tmp_path, rows)
    events = spark.read.parquet(f"{sf}/events.parquet").select(
        "event_id", F.unix_micros("ts").alias("ts_us")
    )
    fixed = {
        r.event_id: r.row_id
        for r in qsc._global_row_ids(events, equi_depth=False).collect()
    }
    eq = {
        r.event_id: r.row_id
        for r in qsc._global_row_ids(events, equi_depth=True).collect()
    }
    assert fixed == eq
    w_truth = {
        r.event_id: r.rn
        for r in events.selectExpr(
            "event_id", "row_number() over (order by ts_us, event_id) rn"
        ).collect()
    }
    assert eq == w_truth


def test_daily_count_anomalies_hand_fixture(spark, tmp_path):
    """Type 'a': 10 days of 10 events and one day of 40 — only the spike
    day deviates >2 sigma.  Type 'b': perfectly flat -> no flags."""
    import datetime as _dt

    rows, eid = [], 0
    d0 = _dt.datetime(2024, 5, 1)
    for day in range(10):
        for _ in range(10):
            rows.append((eid, 1, d0 + _dt.timedelta(days=day), "a", 1.0)); eid += 1
    for _ in range(40):
        rows.append((eid, 1, d0 + _dt.timedelta(days=10), "a", 1.0)); eid += 1
    for day in range(5):
        for _ in range(7):
            rows.append((eid, 2, d0 + _dt.timedelta(days=day), "b", 1.0)); eid += 1
    sf = _write_events(spark, tmp_path, rows)
    got = [(r.event_type, r.day, r.n)
           for r in qsc.daily_count_anomalies(spark, sf).collect()]
    assert got == [("a", "2024-05-11", 40)]


def test_pq_exact_on_quantized_vectors(spark):
    """A corpus whose vectors ARE codebook-centroid concatenations is
    reconstructed losslessly, so PQ approx_dot must equal the exact dot
    for every pair."""
    from data_engineering_challenge_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    books = sim.pq_train_codebooks(emb, m=8, codebook_k=16, dim=64)
    enc = sim.pq_encode(emb, books)
    # rebuild each vector from its codes -> quantized corpus
    import numpy as np

    rows = enc.collect()
    quant = [
        (
            r.vec_id,
            [
                float(x)
                for s, c in enumerate(r.pq_code)
                for x in books[s][c]
            ],
            0,
        )
        for r in rows[:50]
    ]
    qdf = spark.createDataFrame(
        quant, "vec_id bigint, embedding array<float>, label int"
    )
    got = sim.pq_topk(
        qdf, qdf.filter(F.col("vec_id") < 5), k=3,
        codebooks=books, rerank=None,
    )
    exact = {}
    pdf = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in qdf.collect()}
    for r in got.collect():
        # float32 storage: compare at float32-roundtrip tolerance
        true_dot = float(pdf[r.query_id] @ pdf[r.neighbor_id])
        assert abs(r.approx_dot - true_dot) < 1e-3, (
            r.query_id, r.neighbor_id, r.approx_dot, true_dot,
        )
        exact.setdefault(r.query_id, []).append(r.neighbor_id)
    assert len(exact) == 5


def _pq_sub_l2(vec_col: str, s: int, sub: int, centroid: list[float]):
    """Squared L2 between subvector s of ``vec_col`` and a literal
    centroid — pure fold, no UDF."""
    sv = F.slice(F.col(vec_col), s * sub + 1, sub)
    diff = F.zip_with(
        sv, F.array(*[F.lit(c) for c in centroid]), lambda a, b: (a - b) * (a - b)
    )
    return F.aggregate(diff, F.lit(0.0), lambda acc, x: acc + x)


def pq_encode_expr(corpus, codebooks, id_col="vec_id", vec_col="embedding"):
    """Expression-form PQ encode (the r5–r14 engine implementation), the
    bit-identity reference for ``similarity.pq_encode``: per subspace, the
    index of the nearest (squared-L2) codebook centroid — m×codebook_k
    fold expressions per row."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    codes = []
    for s in range(m):
        dists = F.array(
            *[_pq_sub_l2(vec_col, s, sub, c) for c in codebooks[s]]
        )
        codes.append((F.array_position(dists, F.array_min(dists)) - 1).cast("int"))
    return corpus.select(
        F.col(id_col), F.col(vec_col), F.array(*codes).alias("pq_code")
    )


def test_pq_encode_kernel_matches_expression(spark):
    """The mapInArrow encode kernel is BIT-identical to the expression
    fold it replaced (r15) — pinned on the real float corpus, on an
    array<double> corpus (the kernel must decode at native width, never
    downcast — review r15), and on NULL-vector rows (the expression twin
    yields [NULL]*m)."""
    from data_engineering_challenge_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    books = sim.pq_train_codebooks(emb, m=8, codebook_k=16, dim=64)
    a = {r.vec_id: list(r.pq_code) for r in pq_encode_expr(emb, books).collect()}
    b = {r.vec_id: list(r.pq_code) for r in sim.pq_encode(emb, books).collect()}
    assert a == b
    # array<double> corpus: a centroid pair straddling a float32 rounding
    # boundary — a downcasting kernel picks the wrong centroid
    dbooks = [[[1.0], [1.0000002384185791]]] + [[[0.0], [1.0]]] * 0
    mid = (1.0 + 1.0000002384185791) / 2
    ddf = spark.createDataFrame(
        [(1, [mid + 1e-12]), (2, [0.9]), (3, None)],
        "vec_id bigint, embedding array<double>",
    )
    da = {r.vec_id: list(r.pq_code)
          for r in pq_encode_expr(ddf, dbooks).collect()}
    db = {r.vec_id: list(r.pq_code)
          for r in sim.pq_encode(ddf, dbooks).collect()}
    assert da == db, (da, db)
    assert da[3] == [None]  # NULL vector -> [NULL]*m on both paths


def test_pq_recall_vs_exact(spark):
    """Recall@5 of PQ against the exact cosine ranking on the real
    embeddings — the approximation must find most true neighbors (the
    synthetic corpus has label clusters, the friendly regime PQ serves)."""
    from data_engineering_challenge_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    approx = sim.pq_topk(emb, queries, k=5)
    exact = sim.cosine_topk(emb, queries, k=5)
    a = {}
    for r in approx.collect():
        a.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = tot = 0
    for r in exact.collect():
        tot += 1
        hits += r.neighbor_id in a.get(r.query_id, set())
    recall = hits / tot
    assert recall >= 0.7, f"PQ recall@5 too low: {recall}"


def test_write_audit_publish_gates_bad_data(spark, tmp_path):
    """WAP: a failing audit must leave the live table untouched (and the
    rejected stage quarantined under ._wap_rejected, invisible to
    recovery); a passing audit publishes atomically."""
    import pytest as _pytest

    from data_engineering_challenge_spark.operators import quality as q
    from data_engineering_challenge_spark.sources import io as eio

    path = str(tmp_path / "tbl")
    good = spark.createDataFrame(
        [(1, 10.0), (2, 20.0)], "id bigint, v double"
    )
    exps = [q.expect_not_null("v"), q.expect_between("v", 0.0, 100.0)]
    eio.write_audit_publish(good, path, exps)
    assert sorted(r.id for r in spark.read.parquet(path).collect()) == [1, 2]

    bad = spark.createDataFrame(
        [(3, 999.0), (4, None)], "id bigint, v double"
    )
    with _pytest.raises(ValueError, match="audit failed"):
        eio.write_audit_publish(bad, path, exps)
    # live table untouched; rejected stage quarantined
    assert sorted(r.id for r in spark.read.parquet(path).collect()) == [1, 2]
    import os

    assert os.path.isdir(path + "._wap_rejected")
    # recovery must NOT resurrect the rejected stage
    eio.recover_interrupted_swap(spark, path)
    assert sorted(r.id for r in spark.read.parquet(path).collect()) == [1, 2]

    # first-ever publish that fails the audit leaves NO table at all
    path2 = str(tmp_path / "tbl2")
    with _pytest.raises(ValueError, match="audit failed"):
        eio.write_audit_publish(bad, path2, exps)
    assert not os.path.isdir(path2)
    eio.recover_interrupted_swap(spark, path2)
    assert not os.path.isdir(path2)
