"""Similarity search over embedding columns (SURVEY.md §2.10 ✚):
brute-force cosine top-k as the exact baseline, LSH-bucketed ANN as the
scale path.

Math is pure column expressions: ``F.zip_with`` elementwise product +
``F.aggregate`` sequential fold for dot products — JVM-side, codegen'd, and
(deliberately) the same left-to-right fold order DuckDB's ``list_sum`` uses,
so oracle comparison is bit-exact.  No UDFs.

Scale design:
* brute-force = |Q| × |C| pairs: right for small query sets / reranking.
  The join is a broadcast of the (tiny) query side against the corpus —
  corpus never shuffles.
* sign-random-projection LSH buckets cut candidate generation to matching
  buckets (Hamming-similar sign patterns), the standard ANN trade: recall
  for throughput.  Projections are derived from md5 bits — deterministic,
  engine-portable, no stored model.
* at real 100 TB scale the next step is IVF (k-means coarse quantizer via
  MLlib KMeans) — same bucket-join shape, learned buckets.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product of two float arrays, in double."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors of each query vector (self-match
    excluded).  Query side is broadcast; ranking is per-query row_number
    with a deterministic (cosine DESC, candidate id ASC) order.

    Norms are precomputed once per vector (O(n·d)) so each of the n·q pairs
    costs one dot product, not three.

    The corpus side is fanned out when its scan under-splits
    (io.fan_out_scan; no-op on a well-split table): the n·q dot products
    are pipelined into the corpus scan stage, so an unsplittable
    single-row-group corpus would otherwise score every pair in one task
    (measured r14: 0.56 s -> 0.35 s at sf0.1).
    Returns (query_id, neighbor_id, cos_sim, rank)."""
    from ..sources.io import fan_out_scan

    corpus = fan_out_scan(corpus)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.sqrt(dot(F.col(vec_col), F.col(vec_col))).alias("qnorm"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        F.sqrt(dot(F.col(vec_col), F.col(vec_col))).alias("cnorm"),
    )
    # NOTE (r15): a mapInArrow pair-scoring kernel (ship (qv, cv, norms)
    # pair rows to NumPy, fold bit-identically) was implemented, proven
    # bit-exact on every pair, and REJECTED ON MEASUREMENT: 0.33→0.55 s
    # at sf0.1 and 0.41→0.76 s at sf1.0 — the ~520 B/pair Arrow transfer
    # costs more than the codegen'd 64-step fold saves at any measured
    # scale.  The JVM expression stays.
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (dot(F.col("qv"), F.col("cv")) / (F.col("qnorm") * F.col("cnorm"))).alias(
                "cos_sim"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All pairs (a < b) with cosine >= threshold — embedding-space
    near-duplicate detection.  Brute-force form (norms precomputed per
    vector); LSH-bucket first at scale (compose with lsh_sign_buckets)."""
    a = corpus.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        F.sqrt(dot(F.col(vec_col), F.col(vec_col))).alias("norm_a"),
    )
    b = corpus.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        F.sqrt(dot(F.col(vec_col), F.col(vec_col))).alias("norm_b"),
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            (dot(F.col("va"), F.col("vb")) / (F.col("norm_a") * F.col("norm_b"))).alias(
                "cos_sim"
            ),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def sign_lsh_bands(
    corpus: DataFrame,
    num_bands: int = 8,
    bits_per_band: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Banded sign-random-projection LSH: ``num_bands`` independent buckets
    per vector, each bucket the sign pattern of ``bits_per_band``
    projections (hyperplane seeds ``band * bits_per_band + bit`` — disjoint
    across bands).  Two vectors are near-dup CANDIDATES if they agree on
    ALL bits of ANY band — the same band/bucket amplification MinHash-LSH
    uses, tuned for cosine: with per-bit collision p = 1 - θ/π, candidate
    recall is 1 - (1 - p^bits)^bands.
    Returns (vec_id, band, bucket) — one row per vector per band.
    """
    v = F.col(vec_col)
    band_structs = []
    for band in range(num_bands):
        bucket = None
        for bit in range(bits_per_band):
            seed = band * bits_per_band + bit
            comps = F.lit(_sign_component_values(seed, dim))
            proj = F.aggregate(
                F.zip_with(v, comps, lambda x, c: x.cast("double") * c),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            term = F.when(proj > 0, F.lit(2**bit)).otherwise(F.lit(0))
            bucket = term if bucket is None else bucket + term
        band_structs.append(
            F.struct(F.lit(band).alias("band"), bucket.alias("bucket"))
        )
    return corpus.select(
        F.col(id_col).alias("vec_id"), F.explode(F.array(*band_structs)).alias("bb")
    ).select("vec_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def near_dup_pairs_lsh(
    corpus: DataFrame,
    threshold: float = 0.9,
    num_bands: int = 8,
    bits_per_band: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Scale-safe embedding near-dup: banded sign-LSH candidate generation
    + exact cosine verification within candidates — never an all-pairs
    join.  The candidate set is proportional to true near-dup density, so
    this survives corpus sizes where :func:`near_dup_pairs` (the O(n²)
    brute-force baseline, kept for reranking/small inputs) cannot.

    Buckets larger than ``max_bucket_size`` are dropped (skew guard — see
    dedup.minhash_lsh_candidates); with 2-bit bands a bucket holds ~1/4 of
    the corpus only when the corpus is degenerate boilerplate.
    Returns (id_a, id_b, cos_sim), id_a < id_b, cos_sim >= threshold.
    """
    from .dedup import _ordered_pairs

    bands = sign_lsh_bands(corpus, num_bands, bits_per_band, dim, id_col, vec_col)
    cand = (
        bands.groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_list("vec_id")).alias("ids"))
        .filter((F.size("ids") > 1) & (F.size("ids") <= max_bucket_size))
        .select(F.explode(_ordered_pairs(F.col("ids"))).alias("p"))
        .select(F.col("p.doc_a").alias("id_a"), F.col("p.doc_b").alias("id_b"))
        .distinct()
    )
    a = corpus.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        F.sqrt(dot(F.col(vec_col), F.col(vec_col))).alias("norm_a"),
    )
    b = corpus.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        F.sqrt(dot(F.col(vec_col), F.col(vec_col))).alias("norm_b"),
    )
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            (dot(F.col("va"), F.col("vb")) / (F.col("norm_a") * F.col("norm_b"))).alias(
                "cos_sim"
            ),
        )
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def _sign_component_values(seed: int, dim: int = 64) -> list[float]:
    """Deterministic pseudo-random ±1 hyperplane from md5(seed:d) per
    component — bit 0 of the hash's first hex nibble decides the sign.
    Computed driver-side (md5 is the same function everywhere, so DuckDB
    oracles and any other engine reproduce these exactly); shipped to
    executors as one array literal per hyperplane instead of dim md5
    expression nodes — the expression tree stays small enough for fast
    codegen and the per-row cost is a plain dot product."""
    return [
        1.0
        if int(hashlib.md5(f"{seed}:{d}".encode()).hexdigest()[:4], 16) & 1
        else -1.0
        for d in range(dim)
    ]


def _projection_component(seed: int, dim: int) -> Column:
    """Column twin of one :func:`_sign_component_values` entry (kept for
    API compatibility; the operators use the literal-array form)."""
    h = F.conv(F.substring(F.md5(F.lit(f"{seed}:{dim}")), 1, 4), 16, 10).cast("int")
    return F.when(h.bitwiseAND(F.lit(1)) == 1, F.lit(1.0)).otherwise(F.lit(-1.0))


def lsh_sign_buckets(
    corpus: DataFrame,
    num_bits: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Sign-random-projection LSH: bucket = the sign pattern of ``num_bits``
    fixed ±1 projections.  Vectors in the same bucket are likely
    angle-close; ANN = exact search within (query's bucket ∪ neighbors).
    Returns (id, bucket) with bucket an int in [0, 2^num_bits)."""
    v = F.col(vec_col)
    bucket = None
    for bit in range(num_bits):
        comps = F.lit(_sign_component_values(bit, dim))
        proj = F.aggregate(
            F.zip_with(v, comps, lambda x, c: x.cast("double") * c),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        term = F.when(proj > 0, F.lit(2**bit)).otherwise(F.lit(0))
        bucket = term if bucket is None else bucket + term
    return corpus.select(F.col(id_col).alias("vec_id"), bucket.alias("bucket"))


def ann_topk_bucketed(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_bits: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: restrict the exact search to same-bucket
    candidates.  Trades recall for candidate-set size exactly like a
    production ANN index; bucket count tunes the trade."""
    cb = lsh_sign_buckets(corpus, num_bits, dim, id_col, vec_col).withColumnRenamed(
        "vec_id", "neighbor_id"
    )
    qb = lsh_sign_buckets(queries, num_bits, dim, id_col, vec_col).withColumnRenamed(
        "vec_id", "query_id"
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        F.sqrt(dot(F.col(vec_col), F.col(vec_col))).alias("cnorm"),
    ).join(cb, "neighbor_id")
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.sqrt(dot(F.col(vec_col), F.col(vec_col))).alias("qnorm"),
    ).join(qb, "query_id")
    scored = (
        c.join(
            F.broadcast(q),
            (F.col("query_id") != F.col("neighbor_id"))
            & (c["bucket"] == q["bucket"]),
        )
        .select(
            "query_id",
            "neighbor_id",
            (dot(F.col("qv"), F.col("cv")) / (F.col("qnorm") * F.col("cnorm"))).alias(
                "cos_sim"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_clusters: int = 8,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 8,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: a KMeans coarse quantizer
    assigns every vector to a cluster; each query probes its ``n_probe``
    nearest centroids and searches exactly within those clusters only.

    The production ANN architecture at 100 TB: the index is a partitioning
    (cluster id), candidate generation is a partition-pruned scan, and
    recall/latency trades via ``n_probe``.  KMeans training itself is an
    iterative distributed job — train once, reuse across queries.

    Returns (query_id, neighbor_id, cos_sim, rank).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    dense = corpus.select(
        F.col(id_col), array_to_vector(F.col(vec_col)).alias("features")
    )
    # coarse quantizer: a few iterations is plenty (cluster QUALITY only
    # moves recall marginally; each extra iteration is a full data pass)
    model = KMeans(
        k=n_clusters, seed=seed, maxIter=max_iter, featuresCol="features"
    ).fit(dense)

    spark = corpus.sparkSession
    centroids = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        ["cluster", "centroid"],
    )

    # n_probe nearest centroids per query (tiny cross join: |Q| x n_clusters)
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    qc = (
        q.crossJoin(F.broadcast(centroids))
        .select(
            "query_id",
            "cluster",
            dot(F.col("qv"), F.col("centroid")).alias("_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("_sim"), F.asc("cluster"))
    probes = (
        qc.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= n_probe)
        .select("query_id", "cluster")
    )

    # cluster assignment rides along the corpus scan (model.transform adds
    # `prediction` to the existing columns) — no corpus self-join; the only
    # join on the candidate side is the broadcast of the tiny probe list
    c_assigned = model.transform(
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("cv"),
            F.sqrt(dot(F.col(vec_col), F.col(vec_col))).alias("cnorm"),
            array_to_vector(F.col(vec_col)).alias("features"),
        )
    ).select(
        "neighbor_id", "cv", "cnorm", F.col("prediction").alias("cluster")
    )
    cand = c_assigned.join(F.broadcast(probes), "cluster")
    qn = q.withColumn("qnorm", F.sqrt(dot(F.col("qv"), F.col("qv"))))
    scored = (
        cand.join(F.broadcast(qn), "query_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (dot(F.col("qv"), F.col("cv")) / (F.col("qnorm") * F.col("cnorm"))).alias(
                "cos_sim"
            ),
        )
    )
    wr = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(wr)).filter(
        F.col("rank") <= k
    )


def semdedup_prune(
    corpus: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): assign every embedding to its nearest centroid by
    cosine (deterministic centroid-id tie-break), then prune semantic
    duplicates WITHIN each cluster — a vector is removed iff a lower-id
    vector in the same cluster has cosine >= threshold with it (keep the
    earliest, the paper's keep-one-representative rule made deterministic).

    Scale design — this is the published fix for semantic dedup's O(n²)
    wall: K centroids turn one corpus-wide all-pairs problem into K
    independent (n/K)² problems, each a self-join co-partitioned on the
    cluster key; the centroid frame is a tiny broadcast (K rows), so
    assignment is a map-side pass over the corpus.  In production the
    centroids come from a KMeans coarse quantizer (see ivf_topk's trainer);
    the assignment/prune semantics — what the oracle checks — are
    centroid-agnostic.  Output = surviving (id, cluster), integers only.

    No reference analog (reference has no embedding ops); extension per
    SURVEY.md §2.10.
    """
    cents = centroids.select(
        F.col(id_col).alias("cid"),
        F.col(vec_col).alias("cvec"),
        F.sqrt(dot(F.col(vec_col), F.col(vec_col))).alias("cnorm"),
    )
    if not cents.take(1):
        # an empty centroid frame would silently drop EVERY vector (the
        # assignment inner-join matches nothing) — that's a caller error,
        # not a valid "no clusters" request
        raise ValueError("semdedup_prune: centroid frame is empty")
    e = corpus.select(
        F.col(id_col),
        F.col(vec_col),
        F.sqrt(dot(F.col(vec_col), F.col(vec_col))).alias("norm"),
    )
    scored = e.crossJoin(F.broadcast(cents)).select(
        id_col,
        "cid",
        (dot(F.col(vec_col), F.col("cvec")) / (F.col("norm") * F.col("cnorm"))).alias(
            "cos_c"
        ),
    )
    # grouped argmax via max_by, not a window: the aggregate partial-
    # combines MAP-SIDE, so the vec_id shuffle carries ONE row per vector
    # instead of K scored rows, and there is no per-group sort.  Ties in
    # cos_c break toward the smallest centroid id (max of (cos, -cid)) —
    # the same order the oracle's ROW_NUMBER uses.
    assign = scored.groupBy(id_col).agg(
        F.max_by(
            "cid", F.struct(F.col("cos_c"), (-F.col("cid")).alias("_nc"))
        ).alias("cluster")
    )
    m = e.join(assign, id_col)
    a = m.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        F.col("norm").alias("norm_a"),
        "cluster",
    )
    b = m.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        F.col("norm").alias("norm_b"),
        F.col("cluster").alias("cluster_b"),
    )
    pruned = (
        a.join(b, (F.col("cluster") == F.col("cluster_b")) & (F.col("id_a") > F.col("id_b")))
        .filter(
            dot(F.col("va"), F.col("vb")) / (F.col("norm_a") * F.col("norm_b"))
            >= threshold
        )
        .select(F.col("id_a").alias(id_col))
        .distinct()
    )
    return m.join(pruned, id_col, "left_anti").select(
        id_col, F.col("cluster").cast("int").alias("cluster")
    )


def pq_train_codebooks(
    corpus: DataFrame,
    vec_col: str = "embedding",
    m: int = 8,
    codebook_k: int = 16,
    dim: int = 64,
    seed: int = 42,
    max_iter: int = 8,
) -> list[list[list[float]]]:
    """Train product-quantization codebooks: the vector space splits into
    ``m`` subspaces of dim/m dimensions, each with its own tiny KMeans
    codebook (``codebook_k`` centroids).  m independent MLlib fits over
    the subvectors — train once at index-build time, reuse forever
    (the IVF posture; at 100 TB each fit samples, it doesn't need the
    full corpus).  Returns codebooks[s][j] = centroid j of subspace s."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    sub = dim // m

    def _fit(s: int) -> list[list[float]]:
        dense = corpus.select(
            array_to_vector(
                F.slice(F.col(vec_col), s * sub + 1, sub)
            ).alias("features")
        )
        model = KMeans(
            k=codebook_k, seed=seed + s, maxIter=max_iter,
            featuresCol="features",
        ).fit(dense)
        return [[float(x) for x in c] for c in model.clusterCenters()]

    # the m sub-fits are INDEPENDENT jobs (disjoint subvector slices,
    # per-subspace seeds), so submit them from a small thread pool and let
    # the scheduler back-fill idle cores (guide §2.6) — each tiny fit is
    # scheduling-bound, serial training wastes the cluster m times over.
    # Same seeds, same data per subspace ⇒ bit-identical codebooks.
    with ThreadPoolExecutor(max_workers=min(m, 8)) as pool:
        return list(pool.map(_fit, range(m)))


def pq_encode(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector as its PQ code array — a `mapInArrow` batch
    kernel (guide §4.2): whole Arrow batches are handed to NumPy instead
    of evaluating m×codebook_k fold EXPRESSIONS per row (the encode was
    the dominant per-row cost of the ADC scan; JVM row-at-a-time
    expression eval is slow at this arithmetic density).

    BIT-IDENTICAL to the expression form it replaced (m×codebook_k fold
    expressions per row, kept as the reference ``pq_encode_expr`` in
    tests/test_scale_ops.py) by construction, not by tolerance (pinned by
    tests/test_scale_ops.py::test_pq_encode_kernel_matches_expression):
    the JVM fold computes ``(cast(→double) −
    literal)²`` summed LEFT-TO-RIGHT in double, ties broken by FIRST
    minimum (array_position); the kernel decodes the vector at its NATIVE
    width (float stays exact under the f32→f64 cast, double is used
    as-is — never downcast), squares, and accumulates sequentially over
    the sub-dimensions in float64 — the same IEEE operations in the same
    order — and ``np.argmin`` takes the first minimum.  NaN distances map
    to +inf first (Spark orders NaN greatest, so a NaN distance never
    wins array_min either).  A NULL VECTOR row encodes as ``[NULL]*m``
    (the expression twin's output); a NULL ELEMENT inside a vector fails
    loudly (the expression twin would silently NULL that subspace's code
    — out of the engine's non-null-embedding contract either way, and a
    loud error beats a silently-wrong code).

    Only (id, vector) cross the Python boundary (pre-projected — an
    opaque function would otherwise defeat column pruning, guide §4.1);
    codes come back as one offsets-over-values Arrow list array per
    batch.  No shuffle, cardinality-preserving, order-preserving."""
    books = [
        [[float(x) for x in c] for c in b] for b in codebooks
    ]
    m = len(books)
    sub = len(books[0][0])
    id_type = corpus.schema[id_col].dataType.simpleString()
    vec_type = corpus.schema[vec_col].dataType.simpleString()

    def _encode(batches):
        import numpy as np
        import pyarrow as pa

        cents = [np.asarray(b, dtype=np.float64) for b in books]  # (K, sub)

        def _codes_for(X):
            nn = X.shape[0]
            codes = np.empty((nn, m), dtype=np.int32)
            for s in range(m):
                S = X[:, s * sub : (s + 1) * sub]
                D = np.empty((nn, len(cents[s])), dtype=np.float64)
                for j in range(len(cents[s])):
                    sq = S - cents[s][j]
                    sq *= sq
                    acc = sq[:, 0].copy()
                    for t in range(1, sub):
                        acc += sq[:, t]
                    D[:, j] = acc
                np.nan_to_num(D, copy=False, nan=np.inf)
                codes[:, s] = np.argmin(D, axis=1)
            return codes

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            emb = batch.column(1)
            if isinstance(emb, pa.ChunkedArray):  # pragma: no cover
                emb = emb.combine_chunks()
            off = np.asarray(emb.offsets)
            widths = np.diff(off)
            used = emb.values.slice(off[0], off[-1] - off[0])
            if used.null_count:
                raise ValueError(
                    "pq_encode: NULL element inside an embedding vector"
                )
            valid = (
                np.asarray(emb.is_valid()) if emb.null_count else None
            )
            bad = widths != m * sub
            if (bad if valid is None else (bad & valid)).any():
                raise ValueError(
                    "pq_encode: vector length != m*sub for some row"
                )
            # native width → f64: exact for float input (same cast the
            # JVM fold performs), identity for double input (which the
            # JVM uses uncast) — never a lossy downcast
            flat = np.asarray(emb.values).astype(np.float64)
            if valid is None:
                X = flat[off[0] : off[-1]].reshape(n, m * sub)
                offsets = pa.array(
                    np.arange(n + 1, dtype=np.int32) * m, type=pa.int32()
                )
                code_col = pa.ListArray.from_arrays(
                    offsets, pa.array(_codes_for(X).ravel(), type=pa.int32())
                )
            else:
                # NULL rows: emit [NULL]*m like the expression twin —
                # valid rows' subvectors gather by their own offsets
                starts = off[:-1][valid]
                idx = (
                    starts[:, None] + np.arange(m * sub)[None, :]
                ).ravel()
                X = flat[idx].reshape(int(valid.sum()), m * sub)
                vc = _codes_for(X)
                values: list = []
                vi = 0
                for r in range(n):
                    if valid[r]:
                        values.extend(int(c) for c in vc[vi])
                        vi += 1
                    else:
                        values.extend([None] * m)
                offsets = pa.array(
                    np.arange(n + 1, dtype=np.int32) * m, type=pa.int32()
                )
                code_col = pa.ListArray.from_arrays(
                    offsets, pa.array(values, type=pa.int32())
                )
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), batch.column(1), code_col],
                schema=pa.schema(
                    [
                        batch.schema.field(0),
                        batch.schema.field(1),
                        pa.field("pq_code", pa.list_(pa.int32())),
                    ]
                ),
            )

    return corpus.select(F.col(id_col), F.col(vec_col)).mapInArrow(
        _encode,
        f"`{id_col}` {id_type}, `{vec_col}` {vec_type}, "
        "pq_code array<int>",
    )


def _pq_query_table_arrow(
    q: DataFrame, books: list[list[list[float]]]
) -> DataFrame:
    """(query_id, qv) → (query_id, qv, _tbl) where ``_tbl`` is the
    row-major m×K ADC lookup table: _tbl[s*K+j] = dot(q_s, books[s][j]).
    Bit-identical to the former fold expressions: each entry accumulates
    ``cast(float→double) * double_literal`` LEFT-TO-RIGHT from 0.0 in
    float64 — the same IEEE sequence NumPy performs here."""
    mm = len(books)
    kk = len(books[0])
    sub = len(books[0][0])
    id_type = q.schema["query_id"].dataType.simpleString()
    vec_type = q.schema["qv"].dataType.simpleString()

    def _tab(batches):
        import numpy as np
        import pyarrow as pa

        cents = [np.asarray(b, dtype=np.float64) for b in books]  # (K, sub)
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            emb = batch.column(1)
            off = np.asarray(emb.offsets)
            widths = np.diff(off)
            if emb.null_count or emb.values.slice(
                off[0], off[-1] - off[0]
            ).null_count:
                raise ValueError(
                    "pq query table: NULL query vector or element"
                )
            if not (widths == mm * sub).all():
                raise ValueError(
                    "pq query table: vector length != m*sub for some row"
                )
            # native width → f64 (exact for float, identity for double —
            # never a lossy downcast)
            flat = np.asarray(emb.values).astype(np.float64)
            X = flat[off[0] : off[-1]].reshape(n, mm * sub)
            tbl = np.empty((n, mm * kk), dtype=np.float64)
            for s in range(mm):
                Qs = X[:, s * sub : (s + 1) * sub]
                for j in range(kk):
                    acc = np.zeros(n, dtype=np.float64)
                    for t in range(sub):
                        acc += Qs[:, t] * cents[s][j][t]
                    tbl[:, s * kk + j] = acc
            offsets = pa.array(
                np.arange(n + 1, dtype=np.int32) * (mm * kk),
                type=pa.int32(),
            )
            tbl_col = pa.ListArray.from_arrays(
                offsets, pa.array(tbl.ravel(), type=pa.float64())
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), batch.column(1), tbl_col],
                names=["query_id", "qv", "_tbl"],
            )

    return q.select("query_id", "qv").mapInArrow(
        _tab,
        f"query_id {id_type}, qv {vec_type}, _tbl array<double>",
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 16,
    codebook_k: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    rerank: int | None = 50,
    codebooks: list | None = None,
) -> DataFrame:
    """Product-quantization approximate top-k (asymmetric distance): the
    missing member of the ANN family next to brute-force / sign-LSH /
    IVF.

    Index time: train ``m`` sub-codebooks, encode the corpus to
    ``m``-byte codes (map-only, `pq_encode`).  Query time: each query
    precomputes ONE m×codebook_k lookup table of sub-inner-products
    against the literal codebooks (tiny query frame), broadcasts, and
    scoring a candidate is m table LOOKUPS instead of dim multiplies —
    the arithmetic cut that makes exhaustive scan of a 100 TB corpus
    feasible, and the corpus never shuffles (same broadcast-query shape
    as `cosine_topk`).  Approximation: dot(q, x) ≈ Σ_s dot(q_s,
    centroid[s][code_s(x)]) — exact whenever x IS its quantization
    (tested).

    ``rerank=C`` applies the production two-stage scan: the ADC pass
    keeps each query's top-C candidates (bounded per query), then the
    EXACT dot re-ranks just those — the raw vector rides the encoded
    frame, so reranking is a column expression on C rows per query, not
    a second corpus join.  Measured on the test corpus: recall@5 jumps
    0.30 → ~0.85 at C=50 (tested floor 0.7).  ``codebooks`` accepts
    pretrained books (index reuse; also what the exactness test uses so
    a tiny quantized corpus isn't retrained on).

    Returns (query_id, neighbor_id, approx_dot, rank).  With rerank the
    rank (and the k-cut) follow the EXACT dot; approx_dot stays the ADC
    score that selected the candidate."""
    from ..sources.io import fan_out_scan

    books = codebooks or pq_train_codebooks(
        corpus, vec_col, m=m, codebook_k=codebook_k, dim=dim, seed=seed
    )
    m = len(books)
    codebook_k = len(books[0])
    sub = len(books[0][0])
    # the ADC scan is m*codebook_k fold expressions per row — fan out an
    # under-split corpus so encode+score use every core (no-op at scale)
    corpus = fan_out_scan(corpus)
    encoded = pq_encode(corpus, books, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        "pq_code",
    )

    # per-query lookup table: dot(q_s, centroid[s][j]) for all (s, j),
    # flattened row-major — an Arrow batch kernel over the TINY query
    # frame (r15): the former m*codebook_k fold EXPRESSIONS were a
    # 256-node lambda forest whose Catalyst analysis alone cost ~1 s per
    # composition; the kernel computes the same left-to-right double
    # folds in NumPy, bit-identically (same IEEE ops, same order)
    q = _pq_query_table_arrow(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
        ),
        books,
    )

    # score = m lookups: element_at(table, s*K + code_s + 1)
    score = None
    for s in range(m):
        term = F.element_at(
            F.col("_tbl"),
            (F.lit(s * codebook_k) + F.element_at(F.col("pq_code"), s + 1) + 1).cast(
                "int"
            ),
        )
        score = term if score is None else score + term
    scored = (
        encoded.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id", "cv", "qv", score.alias("approx_dot")
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("approx_dot"), F.asc("neighbor_id")
    )
    if rerank is None:
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "approx_dot", "rank")
        )
    cand = scored.withColumn("_ar", F.row_number().over(w)).filter(
        F.col("_ar") <= rerank
    )
    exact = cand.withColumn("_ed", dot(F.col("qv"), F.col("cv")))
    w2 = Window.partitionBy("query_id").orderBy(
        F.desc("_ed"), F.asc("neighbor_id")
    )
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "approx_dot", "rank")
    )
