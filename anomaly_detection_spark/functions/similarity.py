"""Similarity search over embedding columns (``array<float>``).

Baseline: brute-force cosine top-k via JVM-side ``zip_with``/``aggregate``
(no UDF, no collect). Scale path: IVF-style bucketing — restrict candidate
pairs to a coarse partition (cluster label or LSH sign-bucket) so the join
is per-bucket instead of O(n²).

At 10^12 scale the brute-force path is only for reranking within buckets;
the bucket join IS the plan. Both paths share the same cosine expression.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ via zip_with + aggregate — runs in codegen, double precision."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(
        a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
    ))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(
    emb: DataFrame, k: int = 5, id_col: str = "vec_id", vec_col: str = "embedding",
    queries: DataFrame | None = None,
) -> DataFrame:
    """Top-k cosine neighbours for every query vector (defaults to all
    vectors, self excluded). Returns (query_id, neighbor_id, cos, rank).

    Ties broken by neighbor_id so results are deterministic."""
    # norms are per-vector, so compute them once per side — never per pair
    q = (queries or emb).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    ).withColumn("qn", norm(F.col("qv")))
    c = emb.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    ).withColumn("cn", norm(F.col("cv")))
    scored = (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id",
            F.round(
                dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 6
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _cap_cells(e: DataFrame, bucket_col: str,
               max_bucket: int | None) -> DataFrame:
    """Oversize-cell PREFILTER — the ``dedup.lsh_candidate_pairs``
    discipline applied to the ANN cell joins: a map-side-combinable count
    finds cells above ``max_bucket``, then a broadcast anti-join drops
    their rows BEFORE any per-cell join materializes. Cells here are
    data-given labels, not a balanced codebook, so one skewed cell at
    100 TB would otherwise make the candidate join Σ|cell|² unbounded.
    Pair with ``ivf_cell_stats`` to log what was dropped (a silent cap
    reads as full coverage). ``None`` opts out."""
    if max_bucket is None:
        return e
    oversize = (
        e.groupBy(bucket_col).agg(F.count("*").alias("_sz"))
        .filter(F.col("_sz") > max_bucket)
        .select(bucket_col)
    )
    return e.join(F.broadcast(oversize), bucket_col, "left_anti")


def ivf_cell_stats(emb: DataFrame, bucket_col: str = "label",
                   max_bucket: int = 2000) -> DataFrame:
    """One-row observability frame for an IVF ANN run (the ANN twin of
    ``dedup.lsh_bucket_stats``): cell count/size extremes and how many
    cells the ``max_bucket`` cap drops, plus the ordered candidate pairs
    (Σ sz·(sz−1), the directed query→neighbor fan-out) those cells held.
    Run alongside any ``ivf_*_topk`` call at scale."""
    sizes = emb.groupBy(bucket_col).agg(F.count("*").alias("sz"))
    over = F.col("sz") > max_bucket
    return sizes.agg(
        F.count("*").alias("n_cells"),
        F.max("sz").alias("max_cell_size"),
        F.sum(over.cast("long")).alias("n_cells_dropped"),
        F.sum(F.when(over, F.col("sz") * (F.col("sz") - 1))
              .otherwise(F.lit(0)).cast("long")).alias("candidates_dropped"),
    )


def ivf_topk(
    emb: DataFrame, k: int = 5, id_col: str = "vec_id", vec_col: str = "embedding",
    bucket_col: str = "label", max_bucket: int | None = 2000,
) -> DataFrame:
    """IVF-style ANN: candidates restricted to the same coarse bucket
    (cluster label / LSH bucket). The join is an equi-join on the bucket —
    shuffle-partitioned by bucket, Σ|bucket|² work instead of n².

    ``max_bucket`` (default 2000; ``None`` opts out) drops oversized
    cells entirely — queries probe only their home cell here, so a
    dropped cell's members emit no rows (the LSH-bucket drop semantics);
    log the drop with ``ivf_cell_stats``."""
    capped = _cap_cells(
        emb.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"),
                   F.col(bucket_col).alias("_b")),
        "_b", max_bucket)
    q = capped.select(F.col("_id").alias("query_id"), F.col("_v").alias("qv"),
                      "_b").withColumn("qn", norm(F.col("qv")))
    c = capped.select(F.col("_id").alias("neighbor_id"), F.col("_v").alias("cv"),
                      "_b").withColumn("cn", norm(F.col("cv")))
    scored = (
        q.join(c, "_b")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id",
            F.round(
                dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 6
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def lsh_multiprobe_topk(
    emb: DataFrame, k: int = 3, n_planes: int = 8, dim: int = 64,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Multi-probe hyperplane-LSH ANN: each query probes its own sign bucket
    PLUS the ``n_planes`` buckets at Hamming distance 1 (one flipped bit) —
    the standard multi-probe recall fix for the single-bucket LSH ceiling
    (a true neighbour that lands one sign-bit away is found, not lost).

    Physical shape: candidates carry ONE bucket; queries explode to
    ``n_planes + 1`` probe buckets; the join stays a bucket equi-join
    (Σ|bucket|²·(p+1) work, never n²). Probe buckets are distinct strings,
    so each (query, neighbour) pair joins at most once — no dedup pass."""
    bucket = lsh_sign_bucket(F.col(vec_col), n_planes, dim)
    base = emb.select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"),
        bucket.alias("_b0"),
    )

    def flip(j: int) -> Column:
        bit = F.when(F.substring("_b0", j, 1) == "1", F.lit("0")).otherwise(F.lit("1"))
        return F.concat(
            F.substring("_b0", 1, j - 1), bit,
            F.substring("_b0", j + 1, n_planes - j),
        )

    probes = F.array(F.col("_b0"), *[flip(j) for j in range(1, n_planes + 1)])
    # explode_outer: probes is never empty, and plain explode's inferred
    # non-empty pre-filter would inline the bucket computation into the
    # scan filter (see dedup._band_buckets).
    q = base.select(
        F.col("_id").alias("query_id"), F.col("_v").alias("qv"),
        F.explode_outer(probes).alias("_b"),
    ).withColumn("qn", norm(F.col("qv")))
    c = base.select(
        F.col("_id").alias("neighbor_id"), F.col("_v").alias("cv"),
        F.col("_b0").alias("_b"),
    ).withColumn("cn", norm(F.col("cv")))
    scored = (
        q.join(c, "_b")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id",
            F.round(
                dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 6
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ivf_multiprobe_topk(
    emb: DataFrame, k: int = 3, nprobe: int = 2,
    id_col: str = "vec_id", vec_col: str = "embedding",
    bucket_col: str = "label", scale: int = 1000, dim: int = 64,
    max_bucket: int | None = 2000,
) -> DataFrame:
    """IVF ANN with multi-bucket probing — the recall fix over single-bucket
    ``ivf_topk``: each query searches its ``nprobe`` NEAREST coarse cells
    (by distance to the cell centroid), so a true neighbour sitting just
    across a Voronoi boundary is found, not lost. This is the standard
    IVF ``nprobe`` knob (reference: coarse-quantized ANN; cf. the
    multi-probe idea in ``lsh_multiprobe_topk``, which flips hash bits
    because LSH has no centroids to rank).

    Everything is integer-exact and engine-reproducible:

    * vectors quantize to int64 milli-units (``round(x*scale)``);
    * the centroid codebook keeps per-dimension integer SUMS + counts —
      never a float mean, whose summation order is non-associative;
    * query→centroid distance accumulates ``Σ (xᵢ·n − sᵢ)²`` exactly in
      int64 (= n² × the true distance to the mean; exact while
      ``dim·(|x|·scale·n)² < 2⁶³``, i.e. beyond 10⁸ rows per cell at
      unit-norm 64-dim), then divides the per-cell n² back out in
      double for the CROSS-cell probe ranking — cells have different
      counts, so the raw integer would bias probes toward small cells.
      ``(d2/n)/n`` is fixed-order IEEE arithmetic both engines replay;
      ties break on the bucket id.

    Scale shape: the codebook is ``n_buckets × dim`` — tiny — built with
    one map-side-combined aggregation and BROADCAST back, so probe
    assignment is a map-only pass over the queries; candidates keep their
    single home cell and the join stays a per-bucket equi-join
    (``nprobe``-fold the single-probe work, never n²)."""
    qz = F.transform(F.col(vec_col),
                     lambda x: F.round(x.cast("double") * scale).cast("long"))
    e = emb.select(F.col(id_col).alias("_id"), qz.alias("_v"),
                   F.col(bucket_col).alias("_b"))
    return _ivf_multiprobe_quantized(e, k, nprobe, dim, max_bucket)


def int8_ivf_topk(
    emb: DataFrame, k: int = 3, nprobe: int = 2,
    id_col: str = "vec_id", vec_col: str = "embedding",
    bucket_col: str = "label", dim: int = 64,
    max_bucket: int | None = 2000,
) -> DataFrame:
    """INT8-quantized IVF multi-probe ANN — the composition that actually
    ships at 100 TB: vectors stored 4× smaller (``int8_quantize``; cosine
    is scale-invariant so the per-vector scale cancels and the ranking
    arithmetic is exact integers), searched with the IVF ``nprobe`` plan
    (tiny broadcast codebook, per-bucket equi-join — ``ivf_multiprobe_
    topk``'s shape at the quantized representation's storage cost).

    The codebook is built over the int8 components themselves — the
    representation the storage layer holds — so probe assignment needs no
    dequantization pass; per-vector scales make it a slightly different
    centroid than the float path's, which costs a little recall (pinned
    by the parity test, not assumed). Zero vectors are excluded (int8
    quantization is undefined for them), matching ``int8_quantize``'s
    contract."""
    nonzero = emb.filter(
        F.array_max(F.transform(
            F.col(vec_col), lambda v: F.abs(v.cast("double")))) > 0)
    e = nonzero.select(
        F.col(id_col).alias("_id"),
        int8_quantize(F.col(vec_col)).alias("_v"),
        F.col(bucket_col).alias("_b"),
    )
    return _ivf_multiprobe_quantized(e, k, nprobe, dim, max_bucket)


def ann_recall(truth: DataFrame, variant: DataFrame, name: str) -> DataFrame:
    """Recall of an ANN variant against brute-force ground truth — the
    eval every production ANN deployment runs before choosing nprobe /
    plane counts: the fraction of true top-k ``(query, neighbor)`` pairs
    the variant actually returns. One row:
    ``(variant, n_queries, n_truth, n_hits, recall_ppm)`` (truncating
    integer ppm, oracle-replayable).

    Scale shape: ground truth is only ever computed on a QUERY SAMPLE
    (n_queries·k rows — broadcast-sized however big the corpus), so the
    pair-key left join here is against a tiny frame; the variant side is
    the ANN output already restricted to the same sample. A pair the
    variant returns twice is one hit."""
    t = truth.select("query_id", "neighbor_id")
    v = variant.select("query_id", "neighbor_id").distinct() \
        .withColumn("_hit", F.lit(1))
    j = t.join(v, ["query_id", "neighbor_id"], "left")
    return j.agg(
        F.countDistinct("query_id").alias("n_queries"),
        F.count(F.lit(1)).alias("n_truth"),
        F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("long")
        .alias("n_hits"),
    ).select(
        F.lit(name).alias("variant"),
        "n_queries", "n_truth", "n_hits",
        F.expr("(n_hits * 1000000) div n_truth").alias("recall_ppm"),
    )


def ivf_kmeans_topk(
    emb: DataFrame, k: int = 3, n_clusters: int = 8, n_iters: int = 2,
    nprobe: int = 2, id_col: str = "vec_id", vec_col: str = "embedding",
    dim: int = 64, max_bucket: int | None = 2000,
) -> DataFrame:
    """IVF ANN over a LEARNED balanced codebook — the production shape:
    instead of trusting a data-given label column (whose cells can be
    arbitrarily skewed — the hazard ``max_bucket`` backstops), train the
    coarse quantizer with ``clustering.kmeans`` and assign every vector
    to its nearest centroid IN-ROW (the k·dim centroids ride the
    assignment expression as literals — no join, no shuffle of the
    vectors), then run the standard int8 multi-probe search with the
    cluster id as the cell. Lloyd's objective drives cells toward
    balance by construction; the cap remains as the backstop for
    pathological distributions.

    Training cost: ``n_iters`` corpus scans each ending in a k-row
    driver collect (integer sums — nothing row-sized); search cost is
    identical to ``int8_ivf_topk``. Deterministic end to end (int8 +127
    shifted coordinates, smallest-id init, ties → smallest centroid
    index), so the oracle replays codebook AND search bit-for-bit.
    Zero vectors are excluded per ``int8_quantize``'s contract."""
    from anomaly_detection_spark.functions import clustering

    nonzero = emb.filter(
        F.array_max(F.transform(
            F.col(vec_col), lambda v: F.abs(v.cast("double")))) > 0)
    _, centroids = clustering.kmeans(
        nonzero, k=n_clusters, n_iters=n_iters,
        id_col=id_col, vec_col=vec_col)
    if not centroids:
        empty = nonzero.sparkSession.range(0)
        return empty.select(
            F.col("id").alias("query_id"), F.col("id").alias("neighbor_id"),
            F.lit(0.0).alias("cos"), F.lit(0).cast("int").alias("rank"))
    pts = nonzero.select(
        F.col(id_col).alias("_id"),
        int8_quantize(F.col(vec_col)).alias("_v"),
    ).withColumn("_sv", F.transform("_v", lambda q: q + F.lit(127)))
    e = clustering.assign_clusters(pts, centroids, vec_col="_sv") \
        .select("_id", "_v", F.col("cluster").alias("_b"))
    return _ivf_multiprobe_quantized(e, k, nprobe, dim, max_bucket)


def _ivf_multiprobe_quantized(
    e: DataFrame, k: int, nprobe: int, dim: int,
    max_bucket: int | None = 2000,
) -> DataFrame:
    """Shared IVF multi-probe core over a pre-quantized frame
    ``(_id, _v array<long>, _b)`` — see ``ivf_multiprobe_topk`` for the
    plan-shape contract (broadcast integer codebook, per-bucket join).

    ``max_bucket`` applies the ``_cap_cells`` oversize prefilter to the
    INDEX side only: codebook and candidates come from cells ≤ the cap
    (Σ|cell|² bounded by n·nprobe·max_bucket), while every query still
    probes its ``nprobe`` nearest KEPT cells — a member of a dropped
    cell keeps returning neighbors, they just come from indexed cells
    (drop the index entries, not the queries). Log drops with
    ``ivf_cell_stats``.

    ``e`` feeds FOUR subtrees (codebook sums, bucket counts, query side,
    candidate side); column pruning makes them non-identical so exchange
    reuse never fires, and the upstream quantization expression
    (array-max scale + 64-wide transform per vector) would run four
    times. Materialize once — the quantized frame is the 4×-compressed
    representation, exactly what the storage layer would hold at 100 TB
    (quantize-on-write; a production table reads int8 directly and this
    checkpoint is the scan)."""
    e = e.localCheckpoint(eager=False)
    idx = _cap_cells(e, "_b", max_bucket)
    # codebook: exact per-dim int sums as ONE wide hash aggregate — dim
    # sum(element_at(_v, i)) columns re-assembled into an array.  This
    # keeps one row per bucket per map task (map-side combine), versus
    # the posexplode alternative which multiplies the shuffle rows ×dim
    # and needs a second agg level plus a collect_list sort — at 100 TB
    # the explode is the difference between shuffling n rows and n·dim.
    cent = (
        idx.groupBy("_b")
        .agg(
            F.count("*").alias("n"),
            *[F.sum(F.element_at("_v", i + 1)).alias(f"_s{i}")
              for i in range(dim)],
        )
        .select(
            "_b", "n",
            F.array(*[f"_s{i}" for i in range(dim)]).alias("sv"),
        )
    )
    d2 = F.aggregate(
        F.zip_with("qv", "sv",
                   lambda x, s: (x * F.col("n") - s) * (x * F.col("n") - s)),
        F.lit(0).cast("long"), lambda a, v: a + v,
    )
    # cross-cell ranking must divide the n²-scaled exact distance back
    # out: Σ(x·n − s)² = n²·(true distance to the mean), so ordering on
    # the raw integer biases probes toward SMALL cells (n² is per-cell) —
    # with a skew-balanced kmeans codebook that bias collapsed recall to
    # ~1% in the ann_recall_report eval. (d2/n)/n is deterministic IEEE
    # arithmetic both engines replay; ties break on the cell id.
    wp = Window.partitionBy("query_id").orderBy(F.asc("_d2n"), F.asc("_b"))
    probed = (
        e.select(F.col("_id").alias("query_id"), F.col("_v").alias("qv"))
        .crossJoin(F.broadcast(cent))
        .withColumn("_d2", d2)
        .withColumn("_d2n", (F.col("_d2").cast("double") / F.col("n"))
                    / F.col("n"))
        .withColumn("_pr", F.row_number().over(wp))
        .filter(F.col("_pr") <= nprobe)
        .select("query_id", "qv", "_b")
    )
    inrm = lambda col: F.aggregate(  # noqa: E731
        col, F.lit(0).cast("long"), lambda a, x: a + x * x)
    q = probed.withColumn("qn", inrm(F.col("qv")))
    c = idx.select(F.col("_id").alias("neighbor_id"), F.col("_v").alias("cv"),
                   "_b").withColumn("cn", inrm(F.col("cv")))
    idot = F.aggregate(
        F.zip_with("qv", "cv", lambda a, b: a * b),
        F.lit(0).cast("long"), lambda a, x: a + x,
    )
    scored = (
        q.join(c, "_b")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id",
            (idot.cast("double")
             / F.sqrt(F.col("qn").cast("double") * F.col("cn").cast("double"))
             ).alias("cos_x"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_x"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("cos_x", 6).alias("cos"), "rank")
    )


def near_dup_pairs(
    emb: DataFrame, threshold: float = 0.9, n_planes: int = 8, dim: int = 64,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — the semantic-dedup member of
    the dedup family (exact / MinHash-LSH / SimHash / n-gram Jaccard /
    embedding-cosine): candidates blocked by hyperplane-LSH sign bucket so
    the self-join is a bucket equi-join (Σ|bucket|² work, never n²), then
    exact cosine ≥ ``threshold`` verifies each candidate. Same
    trade-recall-for-scale discipline as ``dedup.lsh_candidate_pairs``:
    a near-identical pair is missed only when a hyperplane sum sits close
    enough to zero for the perturbation to flip a sign bit. Norms are
    computed once per vector, never per pair."""
    bucket = lsh_sign_bucket(F.col(vec_col), n_planes, dim)
    base = emb.select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"),
        bucket.alias("_b"),
    ).withColumn("_n", norm(F.col("_v")))
    a = base.select(F.col("_id").alias("id_a"), F.col("_v").alias("va"),
                    F.col("_n").alias("na"), "_b")
    b = base.select(F.col("_id").alias("id_b"), F.col("_v").alias("vb"),
                    F.col("_n").alias("nb"), "_b")
    return (
        a.join(b, "_b")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            F.round(
                dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6
            ).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def _plane_component(p: int, i: int) -> float:
    """Deterministic pseudo-random hyperplane component — md5 of "p:i",
    first 4 hex digits, mapped to (−1, 1). Computed driver-side with
    hashlib (bit-identical to SQL ``md5``) and baked in as literals: the
    equivalent in-plan md5 ``transform`` is not constant-folded by Catalyst
    (lambdas block folding), though measured per-row cost is the same —
    literals simply keep the plan inspectable and the constants explicit."""
    import hashlib

    h = int(hashlib.md5(f"{p}:{i}".encode()).hexdigest()[:4], 16)
    return (h - 32767.5) / 32768.0


def lsh_sign_bucket(vec_col: Column, n_planes: int = 8, dim: int = 64) -> Column:
    """Random-hyperplane LSH bucket as a bit string. Hyperplane components
    are deterministic pseudo-randoms derived from md5 of (plane, dim-index) —
    md5 (unlike xxhash64) is bit-identical in every engine, so buckets are
    reproducible across engines and runs without storing planes. Components
    are baked into the plan as literal arrays (see ``_plane_component``);
    the oracle recomputes them with SQL md5 and lands on the same doubles."""
    bits = []
    for p in range(n_planes):
        comps = F.array(*[F.lit(_plane_component(p, i)) for i in range(dim)])
        s = F.aggregate(
            F.zip_with(vec_col, comps, lambda v, c: v.cast("double") * c),
            F.lit(0.0), lambda acc, v: acc + v,
        )
        bits.append(F.when(s >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def semantic_prune(
    emb: DataFrame,
    threshold: float = 0.92,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_col: str = "label",
    scale: int = 1000,
    max_bucket: int = 2000,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): within each coarse cluster, a vector is PRUNED when
    an earlier (lower-id) member of the same cluster sits at cosine ≥
    ``threshold`` — semantically-redundant training examples that exact and
    MinHash dedup (different surface text) can never catch. The
    keep-the-earliest rule is the deterministic analogue of SemDeDup's
    keep-one-per-ε-ball; no transitive closure is needed because every
    pruned vector names its earliest qualifying duplicate.

    Shape: the pairwise test runs as a per-cluster equi-join — Σ|cluster|²
    work, never n² — exactly the IVF discipline (``ivf_topk``). Cluster
    granularity is the knob that bounds |cluster|; ``max_bucket`` is the
    guard-rail for degenerate clusterings (a cluster above the cap is
    excluded and reported upstream rather than silently exploding the
    join — same default-on cap discipline as ``dedup.lsh_candidate_pairs``).
    Components quantize to int64 milli-units so every dot product and norm
    is an exact integer; the single float op is the final cosine division.

    Returns one row per pruned vector:
    ``(vec_id, bucket, canonical_id, best_cos6)`` with ``canonical_id`` the
    LOWEST qualifying earlier id and ``best_cos6`` the highest cosine seen.
    """
    qz = F.transform(F.col(vec_col),
                     lambda x: F.round(x.cast("double") * scale).cast("long"))
    inrm = lambda col: F.aggregate(  # noqa: E731
        col, F.lit(0).cast("long"), lambda a, x: a + x * x)
    e = emb.select(
        F.col(id_col).alias("_id"), qz.alias("_v"),
        F.col(bucket_col).alias("_b"),
    ).withColumn("_n", inrm(F.col("_v")))
    sizes = e.groupBy("_b").agg(F.count(F.lit(1)).alias("_bn"))
    bounded = e.join(
        F.broadcast(sizes.filter(F.col("_bn") <= max_bucket).select("_b")), "_b"
    )
    u = bounded.select(F.col("_b"), F.col("_id").alias("u_id"),
                       F.col("_v").alias("uv"), F.col("_n").alias("un"))
    v = bounded.select(F.col("_b"), F.col("_id").alias("v_id"),
                       F.col("_v").alias("vv"), F.col("_n").alias("vn"))
    idot = F.aggregate(
        F.zip_with("uv", "vv", lambda a, b: a * b),
        F.lit(0).cast("long"), lambda a, x: a + x,
    )
    cos6 = F.round(
        idot.cast("double")
        / F.sqrt(F.col("un").cast("double") * F.col("vn").cast("double")),
        6,
    )
    pairs = (
        u.join(v, "_b")
        .filter(F.col("u_id") < F.col("v_id"))
        .select(F.col("_b").alias("bucket"), "u_id", "v_id",
                cos6.alias("_c"))
        .filter(F.col("_c") >= threshold)
    )
    return (
        pairs.groupBy(F.col("v_id").alias(id_col), "bucket")
        .agg(F.min("u_id").alias("canonical_id"),
             F.max("_c").alias("best_cos6"))
    )


def int8_quantize(vec_col: Column) -> Column:
    """Per-vector symmetric int8 quantization: q_i = floor(x_i·127/max|x|
    + 0.5) ∈ [-127, 127] — 4× smaller than float32 at 100 TB, and because
    cosine is SCALE-INVARIANT the per-vector scale cancels entirely:
    cosine over the int8 components is an exact integer-arithmetic
    ranking (no dequantization, no float accumulation order). Engine-
    portable: one float→double upcast per element, a fixed-order
    multiply/divide, floor(+0.5).

    Returns array<int> (storage layer may persist as tinyint). A zero
    vector quantizes to the zero vector (the division is guarded — under
    ANSI mode an unguarded ``/mx`` throws even when the caller filters
    zero vectors first, because InferFiltersFromGenerate can inline this
    expression into a scan predicate that runs before that filter
    conjunct); callers still exclude zero vectors before any cosine.

    The vector and its max-abs scale are BOTH bound through
    single-element-array ``transform`` lambdas (the ``_shingles_of``
    discipline): without the binding, CollapseProject inlines the
    ``array_max`` reduction into the per-element lambda and the scale is
    re-reduced dim times per row — measured 3.2 s → 0.2 s for the bare
    quantize scan of 50k×64 vectors."""
    return F.element_at(
        F.transform(F.array(vec_col), lambda vv: F.element_at(
            F.transform(
                F.array(F.array_max(
                    F.transform(vv, lambda x: F.abs(x.cast("double"))))),
                lambda m: F.transform(
                    vv,
                    lambda x: F.floor(
                        x.cast("double") * F.lit(127.0)
                        / F.when(m > 0, m).otherwise(F.lit(1.0))
                        + F.lit(0.5)
                    ).cast("long"),
                ),
            ), 1)),
        1)


def contrastive_pairs(
    emb: DataFrame, n_planes: int = 4, dim: int = 64,
    id_col: str = "vec_id", vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Contrastive-pair mining for embedding training data: per anchor,
    the most similar SAME-label neighbour (positive) and the most
    similar DIFFERENT-label neighbour (hard negative) among its LSH
    sign-bucket mates, plus the margin between them — the mining step
    behind triplet/InfoNCE dataset construction, where the hardest
    negatives carry almost all the gradient signal.

    Scale shape: candidates are blocked by the hyperplane sign bucket
    (Σ|bucket|² work, never n² — ``near_dup_pairs``' discipline);
    similarity is the int8-quantized cosine in integer micro units
    (scale cancels, ranking deterministic cross-engine); the two top-1
    picks are one window over (anchor, same-label?) partitions. An
    anchor missing a same-label (or different-label) bucket-mate keeps a
    NULL on that side — at mining scale those anchors are re-bucketed
    with more probes, not dropped silently.

    Returns (query_id, pos_id, pos_cos_micro, neg_id, neg_cos_micro,
    margin_micro) with margin NULL whenever either side is."""
    nonzero = emb.filter(
        F.array_max(F.transform(
            F.col(vec_col), lambda v: F.abs(v.cast("double")))) > 0)
    nrm = lambda col: F.aggregate(  # noqa: E731
        col, F.lit(0).cast("long"), lambda a, x: a + x * x)
    base = nonzero.select(
        F.col(id_col).alias("_id"), F.col(label_col).alias("_lbl"),
        int8_quantize(F.col(vec_col)).alias("_v"),
        lsh_sign_bucket(F.col(vec_col), n_planes, dim).alias("_b"),
    ).withColumn("_nn", nrm(F.col("_v")))
    a = base.select(F.col("_id").alias("query_id"),
                    F.col("_lbl").alias("_la"), F.col("_v").alias("qv"),
                    F.col("_nn").alias("qn"), "_b")
    c = base.select(F.col("_id").alias("neighbor_id"),
                    F.col("_lbl").alias("_lc"), F.col("_v").alias("cv"),
                    F.col("_nn").alias("cn"), "_b")
    idot = F.aggregate(
        F.zip_with("qv", "cv", lambda x, y: x * y),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    cos_micro = F.floor(
        idot.cast("double")
        / (F.sqrt(F.col("qn").cast("double"))
           * F.sqrt(F.col("cn").cast("double")))
        * F.lit(1e6) + F.lit(0.5)).cast("long")
    scored = (
        a.join(c, "_b")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id",
                (F.col("_la") == F.col("_lc")).alias("_same"),
                cos_micro.alias("_cm"))
    )
    w = Window.partitionBy("query_id", "_same").orderBy(
        F.desc("_cm"), F.asc("neighbor_id"))
    top = scored.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") == 1)
    pos = top.filter(F.col("_same")).select(
        "query_id", F.col("neighbor_id").alias("pos_id"),
        F.col("_cm").alias("pos_cos_micro"))
    neg = top.filter(~F.col("_same")).select(
        "query_id", F.col("neighbor_id").alias("neg_id"),
        F.col("_cm").alias("neg_cos_micro"))
    return pos.join(neg, "query_id", "full").select(
        "query_id", "pos_id", "pos_cos_micro", "neg_id", "neg_cos_micro",
        (F.col("pos_cos_micro") - F.col("neg_cos_micro"))
        .cast("long").alias("margin_micro"),
    )


def knn_label_noise(
    emb: DataFrame, k: int = 5, n_planes: int = 4, dim: int = 64,
    id_col: str = "vec_id", vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Label-noise screening by k-NN label disagreement (the confident-
    learning / Deep-kNN heuristic): per anchor, its k most-similar LSH
    sign-bucket mates vote with their labels; an anchor whose neighbours
    mostly disagree with its own label is a mislabeling candidate — the
    audit every labeled training set needs before the labels are trusted.

    Scale shape: identical to ``contrastive_pairs`` — hyperplane-bucket
    equi-join (Σ|bucket|², never n²), int8-quantized integer-micro
    cosine, one top-k window per anchor, then a per-anchor count agg.
    The verdict is the integer majority test ``2·n_disagree ≥
    n_neighbors`` (no float threshold).  Anchors alone in their bucket
    are dropped: no evidence, not a clean bill.

    Returns (vec_id, label, n_neighbors, n_disagree, disagree_ppm,
    noisy) ordered by disagreement."""
    nonzero = emb.filter(
        F.array_max(F.transform(
            F.col(vec_col), lambda v: F.abs(v.cast("double")))) > 0)
    nrm = lambda col: F.aggregate(  # noqa: E731
        col, F.lit(0).cast("long"), lambda a, x: a + x * x)
    base = nonzero.select(
        F.col(id_col).alias("_id"), F.col(label_col).alias("_lbl"),
        int8_quantize(F.col(vec_col)).alias("_v"),
        lsh_sign_bucket(F.col(vec_col), n_planes, dim).alias("_b"),
    ).withColumn("_nn", nrm(F.col("_v")))
    a = base.select(F.col("_id").alias("vec_id"),
                    F.col("_lbl").alias("label"), F.col("_v").alias("qv"),
                    F.col("_nn").alias("qn"), "_b")
    c = base.select(F.col("_id").alias("_nid"),
                    F.col("_lbl").alias("_nlbl"), F.col("_v").alias("cv"),
                    F.col("_nn").alias("cn"), "_b")
    idot = F.aggregate(
        F.zip_with("qv", "cv", lambda x, y: x * y),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    cos_micro = F.floor(
        idot.cast("double")
        / (F.sqrt(F.col("qn").cast("double"))
           * F.sqrt(F.col("cn").cast("double")))
        * F.lit(1e6) + F.lit(0.5)).cast("long")
    scored = (
        a.join(c, "_b")
        .filter(F.col("vec_id") != F.col("_nid"))
        .select("vec_id", "label",
                (F.col("_nlbl") != F.col("label")).cast("long")
                .alias("_dis"),
                cos_micro.alias("_cm"), "_nid")
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("_cm"), F.asc("_nid"))
    topk = scored.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= k)
    return (
        topk.groupBy("vec_id", "label")
        .agg(F.count(F.lit(1)).cast("long").alias("n_neighbors"),
             F.sum("_dis").cast("long").alias("n_disagree"))
        .select(
            "vec_id", "label", "n_neighbors", "n_disagree",
            F.expr("n_disagree * 1000000 DIV n_neighbors")
            .alias("disagree_ppm"),
            (F.lit(2) * F.col("n_disagree") >= F.col("n_neighbors"))
            .cast("int").alias("noisy"))
    )


def spectral_top_direction(emb: DataFrame, dim: int = 64,
                           vec_col: str = "qv", iters: int = 3,
                           scale_bits: int = 14) -> DataFrame:
    """Top singular direction of the quantized embedding matrix by
    INTEGER power iteration — the spectral-structure diagnostic behind
    PCA/LSA (uncentered; at scale the mean folds in analytically rather
    than by materializing centered vectors). Starting from the all-ones
    vector, each round computes ``v ← Mᵀ(Mv)`` distributed: one scan
    produces every row's projection ``d = ⟨q, v⟩`` and ONE wide
    aggregate accumulates the ``dim`` component sums ``Σ d·qⱼ`` (the
    IVF-codebook shape — never a posexplode of the corpus), then the
    1-row result renormalizes to max-component 2^``scale_bits`` in pure
    integer arithmetic (truncating div on the absolute value, so Spark's
    ``div`` and DuckDB's ``//`` agree for negative components).

    Everything is exact integers — deterministic across engines and
    partitionings. Overflow headroom: |d| ≤ dim·127·2^scale_bits ≈ 1.3e8
    and each component sum ≤ n·127·|d|, so a long holds the sums to
    n ≈ 5·10⁸ rows; the renormalizing product ``|s|·2^scale_bits`` is
    widened to decimal(38,0) (HUGEINT in the oracle) BEFORE the
    multiply, so it never wraps below that structural bound. Beyond
    n ≈ 5·10⁸, per-partition partial normalization (same merge law)
    keeps the arithmetic in range.

    Input must carry ``vec_col`` as an int8-quantized long array
    (``int8_quantize``). Returns a 1-row frame with column ``v``
    (array<long>, the direction at scale 2^``scale_bits``).
    """
    q = emb.select(F.col(vec_col).alias("_q"))
    spark = emb.sparkSession
    v = spark.range(1).select(
        F.array(*[F.lit(1).cast("long")] * dim).alias("v"))
    for _ in range(iters):
        joined = q.crossJoin(F.broadcast(v))
        d = F.aggregate(
            F.zip_with("_q", "v", lambda a, b: a * b),
            F.lit(0).cast("long"), lambda acc, x: acc + x)
        scored = joined.select(d.alias("_d"), "_q")
        sums = scored.agg(*[
            F.sum(F.col("_d") * F.col("_q")[j]).alias(f"s{j}")
            for j in range(dim)
        ])
        mx = sums.select(
            "*",
            F.greatest(*[F.abs(F.col(f"s{j}")) for j in range(dim)],
                       F.lit(1)).alias("_mx"),
        )
        # widen |s|·2^scale_bits through decimal(38,0) before the div:
        # |s| can reach n·127·|d| ≈ 1.7e10·n, so the long product wraps
        # at n ≈ 3e4; decimal holds long·2^14 exactly (div returns long)
        norm = (f"(cast(abs(s{{j}}) as decimal(38,0))"
                f" * {1 << scale_bits}) div _mx")
        comp = [
            F.when(
                F.col(f"s{j}") < 0,
                -F.expr(norm.format(j=j)),
            ).otherwise(
                F.expr(norm.format(j=j))
            ).cast("long")
            for j in range(dim)
        ]
        # localCheckpoint the 1-row direction: without it each iteration's
        # plan embeds the previous iteration's whole subtree, and the
        # final consumer pays dim-wide codegen compilation per level (the
        # ml.py LOF lesson — measured multi-second on 3 iterations)
        v = mx.select(F.array(*comp).alias("v")).localCheckpoint(eager=True)
    return v


def _renorm_direction(frame: DataFrame, src: str,
                      scale_bits: int) -> DataFrame:
    """Renormalize a 1-row integer direction to max-component
    2^``scale_bits``: truncating div on the absolute value (Spark ``div``
    == DuckDB ``//`` for non-negative operands), the product widened to
    decimal(38,0) so a full-scale component never wraps an int64."""
    body = (f"CAST((CAST(abs(x) AS DECIMAL(38,0)) * {1 << scale_bits})"
            f" div _mx AS BIGINT)")
    return frame.select(
        F.col(src).alias("_w"),
        F.greatest(
            F.array_max(F.transform(src, lambda x: F.abs(x))),
            F.lit(1).cast("long")).alias("_mx"),
    ).select(F.expr(
        f"transform(_w, x -> CASE WHEN x < 0 THEN -{body}"
        f" ELSE {body} END)").alias("v"))


def _orthogonalize(vf: DataFrame, pf: DataFrame,
                   scale_bits: int) -> DataFrame:
    """One Gram-Schmidt step on 1-row direction frames, all exact
    integers: v ← v·‖p‖² − ⟨v,p⟩·p, then renormalize. With both
    directions at scale 2^14 the products stay ≤ 2^49 — driver-free,
    corpus-free, long-safe."""
    j = vf.crossJoin(F.broadcast(pf.select(F.col("v").alias("_p"))))
    mul = lambda a, b: a * b  # noqa: E731
    add = lambda acc, x: acc + x  # noqa: E731
    np_ = F.aggregate(F.zip_with("_p", "_p", mul),
                      F.lit(0).cast("long"), add)
    vp = F.aggregate(F.zip_with("v", "_p", mul),
                     F.lit(0).cast("long"), add)
    t = j.withColumn("_np", np_).withColumn("_vp", vp).select(
        F.zip_with("v", "_p",
                   lambda a, b: a * F.col("_np") - F.col("_vp") * b)
        .alias("_w"))
    return _renorm_direction(t, "_w", scale_bits)


def spectral_top_directions(emb: DataFrame, n_components: int = 3,
                            dim: int = 64, vec_col: str = "qv",
                            iters: int = 3,
                            scale_bits: int = 14) -> DataFrame:
    """Top ``n_components`` singular directions of the quantized
    embedding matrix by DEFLATED integer power iteration (orthogonal
    iteration) — the multi-component PCA analogue the reference runs
    before its ML ensemble (``PCA(n_components=...)``,
    ``/root/reference/anomaly_detection/analyzers/ml_analyzer.py:86-90``),
    built on ``spectral_top_direction``'s one-wide-agg-per-round shape:
    each round is one corpus scan + ONE ``dim``-component sum aggregate;
    deflation happens entirely in the 1-row direction frame (Gram-
    Schmidt against every previously-found direction after each
    multiply — v·‖p‖² − ⟨v,p⟩·p then renormalize, exact longs ≤ 2^49),
    so later components cost the SAME corpus work as the first and the
    vectors are never rewritten or re-shuffled.

    Integer-exact and engine-replayable end to end (the renormalizing
    product rides decimal(38,0) / HUGEINT). Directions are orthogonal up
    to the 2^``scale_bits`` integer rounding — pinned by the
    orthogonality test, not assumed. A degenerate (rank-deficient)
    matrix deflates later components to the zero vector, which is
    reported as-is.

    Returns ``n_components`` rows: ``(component, v array<long>)``,
    each at scale 2^``scale_bits``.
    """
    q = emb.select(F.col(vec_col).alias("_q"))
    spark = emb.sparkSession
    dirs: list[DataFrame] = []
    for _c in range(n_components):
        v = spark.range(1).select(
            F.array(*[F.lit(1).cast("long")] * dim).alias("v"))
        for _ in range(iters):
            joined = q.crossJoin(F.broadcast(v))
            d = F.aggregate(
                F.zip_with("_q", "v", lambda a, b: a * b),
                F.lit(0).cast("long"), lambda acc, x: acc + x)
            sums = joined.select(d.alias("_d"), "_q").agg(*[
                F.sum(F.col("_d") * F.col("_q")[j]).alias(f"s{j}")
                for j in range(dim)
            ]).select(F.array(*[f"s{j}" for j in range(dim)]).alias("_w"))
            v = _renorm_direction(sums, "_w", scale_bits)
            for p in dirs:
                v = _orthogonalize(v, p, scale_bits)
            # localCheckpoint per round (the spectral_top_direction
            # lesson): without it every level re-embeds the previous
            # subtree and codegen compilation dominates
            v = v.localCheckpoint(eager=True)
        dirs.append(v)
    out = None
    for i, dv in enumerate(dirs):
        row = dv.select(F.lit(i).cast("int").alias("component"), "v")
        out = row if out is None else out.unionByName(row)
    return out


def spectral_projections(emb: DataFrame, direction: DataFrame,
                         vec_col: str = "qv") -> DataFrame:
    """Each row's integer projection onto a ``spectral_top_direction``
    result: broadcast the 1-row direction, one zip_with dot product per
    row — a pure scan, no shuffle. Appends column ``proj`` (long)."""
    d = F.aggregate(
        F.zip_with(vec_col, "v", lambda a, b: a * b),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    return emb.crossJoin(F.broadcast(direction)) \
        .withColumn("proj", d).drop("v")
