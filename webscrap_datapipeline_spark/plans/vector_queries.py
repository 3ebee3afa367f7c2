"""Similarity search over the `embeddings` table (array<float>, 64-dim)
— brute-force cosine top-k (the exactness baseline) and pairwise mining.
The LSH-bucketed ANN scale path lives in operators/similarity.py with
rows-only checks (bucket boundaries aren't SQL-portable).

All vector math is JVM-side higher-order functions (functions/vectors.py)
— sequential left-fold dot products that DuckDB's list_sum(list_transform)
reproduces bit-for-bit, rounded to 6 dp at the boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.vectors import cosine, norm
from .registry import query

_COS = """
  list_sum(list_transform(range(1, len({a}) + 1), i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE))
  / (sqrt(list_sum(list_transform({a}, x -> x::DOUBLE * x::DOUBLE)))
     * sqrt(list_sum(list_transform({b}, x -> x::DOUBLE * x::DOUBLE))))
"""


@query(
    "embedding_knn_query0",
    oracle=f"""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
    SELECT vec_id, label,
           round({_COS.format(a="embedding", b="qe")}, 6) AS cos_sim
    FROM embeddings, q
    WHERE vec_id <> 0
    ORDER BY cos_sim DESC, vec_id ASC
    LIMIT 10
    """,
    tags=("similarity", "knn"),
)
def embedding_knn_query0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 against one query vector. The query side
    is a 1-row broadcast; the corpus streams → per-partition top-k via
    TakeOrderedAndProject. This is the exact baseline ANN variants are
    judged against."""
    emb = load_table(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    return (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            F.round(cosine(F.col("embedding"), F.col("qe")), 6).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
        .limit(10)
    )


@query(
    "embedding_pairwise_topk",
    oracle=f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round({_COS.format(a="a.embedding", b="b.embedding")}, 6) AS cos_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE a.vec_id < 100 AND b.vec_id < 100
    ORDER BY cos_sim DESC, vec_a ASC, vec_b ASC
    LIMIT 15
    """,
    tags=("similarity",),
)
def embedding_pairwise_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs cosine over a bounded slice (the exact-verification
    shape; unbounded all-pairs is what LSH bucketing replaces at scale)."""
    emb = load_table(spark, "embeddings", sf_dir).filter(F.col("vec_id") < 100)
    a = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"))
    return (
        a.join(F.broadcast(b), F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            F.round(cosine(F.col("ea"), F.col("eb")), 6).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_a").asc(), F.col("vec_b").asc())
        .limit(15)
    )


@query(
    "embedding_norm_stats",
    oracle=f"""
    SELECT label,
           COUNT(*) AS n_vectors,
           CAST(SUM(CAST(sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)))
                         AS DECIMAL(18,6))) AS DOUBLE) AS total_norm,
           round(MIN(sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)))), 6)
             AS min_norm,
           round(MAX(sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)))), 6)
             AS max_norm
    FROM embeddings
    GROUP BY label
    """,
    tags=("similarity", "agg"),
)
def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label L2-norm statistics — the data-quality profile step of an
    embedding pipeline (catches unnormalized / degenerate vectors)."""
    emb = load_table(spark, "embeddings", sf_dir)
    nrm = norm(F.col("embedding"))
    return emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum(nrm.cast("decimal(18,6)")).cast("double").alias("total_norm"),
        F.round(F.min(nrm), 6).alias("min_norm"),
        F.round(F.max(nrm), 6).alias("max_norm"),
    )


# --- LSH near-dup / ANN scale path -----------------------------------------
# The hyperplanes are deterministic (md5-seeded ±1, operators/similarity.py
# _hyperplane), so the SQL oracle reproduces the bucketing bit-for-bit:
# near-dup-by-bucket is approximate by construction but exactly checkable.

from ..operators import similarity as SIM  # noqa: E402

_ND_PLANES = 12
_ND_DIM = 64
_ND_SEED = 7


def _plane_dot_sql(vec: str, plane: list[float]) -> str:
    lits = ", ".join("1.0" if x > 0 else "-1.0" for x in plane)
    return (
        f"list_sum(list_transform(range(1, {len(plane) + 1}), "
        f"i -> {vec}[i]::DOUBLE * (LIST_VALUE({lits}))[i]))"
    )


def _bucket_sql(vec: str, n_planes: int = _ND_PLANES, seed: int = _ND_SEED) -> str:
    planes = [SIM._hyperplane(seed, p, _ND_DIM) for p in range(n_planes)]
    terms = [
        f"(CASE WHEN {_plane_dot_sql(vec, plane)} >= 0 THEN {1 << p} ELSE 0 END)"
        for p, plane in enumerate(planes)
    ]
    return "(" + " + ".join(terms) + ")"


@query(
    "embedding_near_dup_lsh",
    oracle=f"""
    WITH corpus AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings WHERE vec_id % 20 = 0
    ), bucketed AS (
      SELECT vec_id, embedding, {_bucket_sql("embedding")} AS bucket FROM corpus
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round({_COS.format(a="a.embedding", b="b.embedding")}, 6) AS cos_sim
    FROM bucketed a JOIN bucketed b
      ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE {_COS.format(a="a.embedding", b="b.embedding")} >= 0.9
    """,
    tags=("similarity", "dedup", "lsh"),
)
def embedding_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup dedup, LSH-bucketed: hyperplane-bucket
    every vector map-side, compare only within buckets (equi-join on
    bucket — never n²), keep pairs with cosine ≥ 0.9. The corpus has no
    natural near-dups, so shifted exact copies of every 20th vector are
    unioned in — the operator must find exactly those pairs. At 100 TB
    the bucket join shuffles 8-byte keys; multi-probe or fewer planes
    trade recall for candidate volume."""
    emb = load_table(spark, "embeddings", sf_dir, widen=True).select("vec_id", "embedding")
    dups = emb.filter(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(dups)
    b = SIM.lsh_bucket(corpus, "embedding", dim=_ND_DIM, n_planes=_ND_PLANES, seed=_ND_SEED)
    left = b.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"), "bucket"
    )
    right = b.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"), "bucket"
    )
    cs = cosine(F.col("ea"), F.col("eb"))
    return (
        left.join(right, ["bucket"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .filter(cs >= 0.9)
        .select("vec_a", "vec_b", F.round(cs, 6).alias("cos_sim"))
    )


@query(
    "embedding_ann_lsh_topk",
    # Recall is probabilistic-by-design (pytest pins it against
    # brute_force_topk), but the COMPUTATION is fully deterministic —
    # md5-derived hyperplanes, sequential-fold dot products, total-order
    # rank tiebreak — so DuckDB can replay buckets, candidate join, and
    # ranking exactly. Upgraded from rows-only in round 2.
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qe,
             {_bucket_sql("embedding", n_planes=6)} AS bucket
      FROM embeddings WHERE vec_id < 5
    ), c AS (
      SELECT vec_id, embedding,
             {_bucket_sql("embedding", n_planes=6)} AS bucket
      FROM embeddings WHERE vec_id >= 5
    ), cand AS (
      SELECT q.query_id, c.vec_id,
             {_COS.format(a="c.embedding", b="q.qe")} AS score
      FROM c JOIN q ON c.bucket = q.bucket
    ), ranked AS (
      SELECT query_id, vec_id, round(score, 6) AS cos_sim,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY score DESC, vec_id ASC
             ) AS INT) AS rnk
      FROM cand
    )
    SELECT query_id, vec_id, cos_sim, rnk FROM ranked WHERE rnk <= 5
    """,
    tags=("similarity", "knn", "lsh"),
)
def embedding_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-5 for 5 query vectors via hyperplane-LSH bucketing with
    exact-cosine rescoring (operators/similarity.lsh_topk). 6 planes →
    64 buckets: recall/candidate-volume knob. This is the scale path the
    brute-force oracle query (embedding_knn_query0) is the ground truth
    for."""
    emb = load_table(spark, "embeddings", sf_dir)
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    corpus = emb.filter(F.col("vec_id") >= 5)
    out = SIM.lsh_topk(corpus, queries_df, k=5, dim=64, n_planes=6)
    return out.select(
        "query_id", "vec_id", F.round("score", 6).alias("cos_sim"), "rnk"
    ).orderBy("query_id", "rnk")


@query(
    "lsh_auto_planes_volume",
    # Driver-checks operators/similarity.auto_planes — the fix for the
    # measured fixed-plane quadratic term (×16 candidate pairs per ×4
    # data at ×1024, SCALE.md round 6). The plane count b is a
    # deterministic function of COUNT(*), so both engines compute it;
    # the oracle reproduces "bucket with b planes" WITHOUT knowing b at
    # SQL-generation time by masking a 30-bit signature to its low b
    # bits — valid because _hyperplane(seed, p, i) is independent of
    # the total plane count, so plane p contributes bit p in any b ≥ p.
    # Occupancy/volume stats (Σ c·(c−1)/2), not the pairs themselves,
    # keep the oracle linear-cost at any factor.
    oracle=f"""
    WITH corpus AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings WHERE vec_id % 20 = 0
    ), cnt AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM corpus
    ), p AS (
      -- integer-exact ⌈log₂(n)⌉ (occupancy 1): smallest b with 2**b ≥ n,
      -- no libm — matches auto_planes' bit_length form bit-for-bit at
      -- every n, including exact powers of two (round-8 ADVICE). Clamp
      -- constants are interpolated from operators/similarity so the
      -- oracle can never drift from the engine defaults.
      SELECT n_rows,
             GREATEST({SIM.AUTO_PLANES_MIN}, LEAST({SIM.AUTO_PLANES_MAX},
               (SELECT MIN(t.b) FROM range(0, 63) t(b)
                WHERE (CAST(1 AS BIGINT) << t.b) >= cnt.n_rows)
             )) AS planes
      FROM cnt
    ), sig AS (
      SELECT {_bucket_sql("embedding", n_planes=30)} AS sig30 FROM corpus
    ), bucketed AS (
      SELECT sig.sig30 % (CAST(1 AS BIGINT) << p.planes) AS bucket FROM sig, p
    ), hist AS (
      SELECT bucket, COUNT(*) AS c FROM bucketed GROUP BY bucket
    )
    SELECT (SELECT n_rows FROM p) AS n_rows,
           (SELECT CAST(planes AS BIGINT) FROM p) AS planes,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(MAX(c) AS BIGINT) AS max_occupancy,
           CAST(SUM(c * (c - 1)) // 2 AS BIGINT) AS candidate_pairs
    FROM hist
    """,
    tags=("similarity", "lsh", "scale"),
)
def lsh_auto_planes_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-scaled LSH bucketing audit: size the plane count with
    ``auto_planes`` (b = ⌈log₂(n/occupancy)⌉, the production path for
    corpus-sized calls — occupancy 1 here so driver-scale corpora
    already exercise the log branch, not just the min-planes clamp),
    bucket every vector, and report the bucket-occupancy histogram
    rolled up to one row: vector count, chosen plane count, bucket
    count, max occupancy, and the exact candidate-pair volume
    Σ c·(c−1)/2 the within-bucket join would produce. Shifted exact
    copies of every 20th vector are unioned in (same construction as
    ``embedding_near_dup_lsh``) so true collisions — and therefore the
    volume — are non-trivially positive at every SF: identical vectors
    share all sign bits at any b. At 100 TB this single-scan histogram
    is the cheap pre-flight that proves the candidate join is linear
    BEFORE paying for it; the driver hash pins auto_planes' arithmetic
    against an independent engine."""
    emb = load_table(spark, "embeddings", sf_dir, widen=True).select("vec_id", "embedding")
    dups = emb.filter(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(dups).localCheckpoint(eager=False)
    n = corpus.count()
    b = SIM.auto_planes(n, target_occupancy=1)
    hist = (
        SIM.lsh_bucket(corpus, "embedding", dim=_ND_DIM, n_planes=b, seed=_ND_SEED)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return hist.agg(
        F.lit(n).cast("bigint").alias("n_rows"),
        F.lit(b).cast("bigint").alias("planes"),
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.max("c").cast("bigint").alias("max_occupancy"),
        F.expr("sum(c * (c - 1)) div 2").cast("bigint").alias("candidate_pairs"),
    )


@query(
    "embedding_ivf_topk",
    oracle=None,  # probe membership is argmin-of-float — deterministic in
    # Spark but not portably reproducible in SQL at the boundary; pytest
    # pins planted-neighbor recall and cross-checks against brute force.
    tags=("similarity", "knn", "ivf", "rows-only"),
)
def embedding_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-5 for 5 query vectors: Voronoi-cell partition around 8
    trained centroids (deterministic hash-scattered seeds + 2 Lloyd
    refinement iterations — never "the k lowest ids", which collapses on
    sorted corpora), nprobe=3 cells searched per query, exact cosine
    rescoring (operators/similarity.ivf_topk). The inverted-file
    counterpart to the hyperplane-LSH scale path."""
    emb = load_table(spark, "embeddings", sf_dir)
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    # centroid training + final assignment scan the corpus once per
    # action (seed sample, each Lloyd iteration, candidate join) — a
    # lazy localCheckpoint materializes the filtered corpus on first
    # use instead of re-reading the parquet per action
    corpus = emb.filter(F.col("vec_id") >= 5).localCheckpoint(eager=False)
    out = SIM.ivf_topk(corpus, queries_df, k=5, n_centroids=8, nprobe=3)
    return out.select(
        "query_id", "vec_id", F.round("score", 6).alias("cos_sim"), "rnk"
    ).orderBy("query_id", "rnk")


@query(
    "embedding_quantization_error",
    oracle="""
    WITH prep AS (
      SELECT vec_id,
             list_min(list_transform(embedding, x -> x::DOUBLE)) AS mn,
             list_max(list_transform(embedding, x -> x::DOUBLE)) AS mx,
             embedding
      FROM embeddings WHERE vec_id < 100
    ), scaled AS (
      SELECT vec_id, mn,
             CASE WHEN mx > mn THEN (mx - mn) / 255.0 ELSE 0.0 END AS scale,
             embedding
      FROM prep
    )
    SELECT vec_id,
           round(scale, 6) AS scale,
           round(list_max(list_transform(
             range(1, len(embedding) + 1),
             i -> abs(embedding[i]::DOUBLE -
                      (mn + scale * round((embedding[i]::DOUBLE - mn)
                                          / (CASE WHEN scale > 0 THEN scale ELSE 1 END))))
           )), 6) AS max_abs_err
    FROM scaled
    """,
    tags=("vector", "quantization", "compression"),
)
def embedding_quantization_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 affine quantization round trip (functions/vectors.quantize_
    int8 → dequantize_int8) for the first 100 vectors: per-vector scale
    and max reconstruction error — the 4× compression / accuracy audit a
    vector pipeline runs before switching storage to int8. The oracle
    replays the affine arithmetic (min/max, /255 scale, round-half-up
    codes — identical tie behavior for non-negative codes on both
    engines, reconstruction) in SQL, so codes AND dequantization are
    value-checked, not just bounded. All column algebra inside codegen —
    the quantization pass streams at scan speed."""
    from ..functions.vectors import dequantize_int8, quantize_int8

    emb = load_table(spark, "embeddings", sf_dir).filter(F.col("vec_id") < 100)
    q = quantize_int8(F.col("embedding"))
    dq = dequantize_int8(q)
    err = F.array_max(
        F.zip_with(F.col("embedding"), dq, lambda a, b: F.abs(a.cast("double") - b))
    )
    return emb.select(
        "vec_id",
        F.round(q["scale"], 6).alias("scale"),
        F.round(err, 6).alias("max_abs_err"),
    )


@query(
    "kmeans_embedding_clusters",
    oracle=None,  # iterative algorithm — not SQL-expressible; pytest pins
    # determinism, monotone objective decrease, and exact recovery of
    # well-separated synthetic clusters.
    tags=("clustering", "kmeans", "iterative", "rows-only"),
)
def kmeans_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means (k=10, 6 Lloyd's iterations, deterministic hash-scattered
    init — order by xxhash64(id), take k: decorrelated from storage
    order, no RNG) over the embedding corpus —
    operators/clustering.kmeans_fit.
    Returns per-cluster size and the count of distinct planted labels
    inside each cluster (1 = pure recovery). Each iteration is one scan:
    assignment is codegen'd arithmetic, the centroid update shuffles only
    O(k x dim x partitions) partially-aggregated rows."""
    from ..operators.clustering import kmeans_fit

    # Keep the scan's natural partitioning: an iterative loop pays every
    # per-partition overhead ×iters, so forcing local[32]-width on a
    # small corpus multiplies Python-worker and shuffle latency for
    # nothing. At real scale the parquet layout already provides width.
    emb = load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding", "label").cache()
    try:
        _, assigned = kmeans_fit(emb, "embedding", "vec_id", k=10, iters=6)
        out = assigned.groupBy("cluster").agg(
            F.count(F.lit(1)).alias("n_members"),
            F.countDistinct("label").alias("n_labels"),
        )
        # Materialize the k-row result NOW, while emb is still cached —
        # returning the lazy plan and unpersisting in `finally` would
        # evict the cache before the caller's action runs, forcing the
        # final aggregation back to a cold parquet scan. k rows are
        # driver-sized by construction, so collect + createDataFrame
        # (sorted on the driver) beats an orderBy exchange + checkpoint.
        rows = sorted(out.collect(), key=lambda r: r["cluster"])
        return spark.createDataFrame(rows, out.schema)
    finally:
        emb.unpersist()


@query(
    "label_centroids",
    oracle="""
    WITH comps AS (
      SELECT label, d.i AS dim, d.x AS x
      FROM embeddings,
           LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i,
                           unnest(embedding) AS x) d
    )
    SELECT label, CAST(dim AS INT) AS dim,
           round(CAST(SUM(CAST(x AS DECIMAL(20,8))) AS DOUBLE) / COUNT(*), 6) AS m
    FROM comps GROUP BY label, dim
    """,
    tags=("vector", "agg", "centroid"),
)
def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Element-wise mean vector per label — the vector-aggregate shape
    (class prototypes / cluster seeding). posexplode fans each vector
    into (dim, component) rows that partially aggregate map-side, so
    the shuffle carries labels × dims rows, not vectors. Components
    accumulate as DECIMAL(20,8) — both engines round each float32 to the
    same 8-decimal value, so the sum is order-independent and identical
    — with ONE double division per dim, then a 6-digit round.

    Output is the exploded ``(label, dim, m)`` relation rather than a
    reassembled ``array<double>`` centroid: the driver's pandas
    canonicalizer can't sort/hash list-valued cells (round-2 comparator
    error, CORRECTNESS_r02.json — ``unhashable type: 'list'``). The
    array form lives in :func:`label_centroids_array` for in-repo use."""
    emb = load_table(spark, "embeddings", sf_dir)
    return (
        emb.select("label", F.posexplode("embedding").alias("dim0", "x"))
        .groupBy("label", (F.col("dim0") + 1).cast("int").alias("dim"))
        .agg(
            F.round(
                F.sum(F.col("x").cast("decimal(20,8)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("m")
        )
    )


def label_centroids_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-valued variant of :func:`label_centroids` — one row per
    label with the centroid reassembled ordered-by-dim as
    ``array<double>``. Not registered (driver comparator can't hash
    list cells); pytest pins it against the exploded form."""
    per_dim = label_centroids(spark, sf_dir)
    return per_dim.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct(F.col("dim"), F.col("m")))),
            lambda s: s["m"],
        ).alias("centroid"),
        F.max("dim").cast("int").alias("dim_count"),
    )


_MP_PLANES = 8


def _multiprobe_unnest_sql(bucket_col: str, n_planes: int = _MP_PLANES) -> str:
    """DuckDB replay of operators/similarity.probe_buckets at Hamming
    distance 1: the bucket itself plus each single-bit flip (xor with
    2**p). The probe list is pairwise distinct by construction, so the
    candidate join cannot duplicate a (query, corpus) pair — the same
    argument the Spark side's docstring makes."""
    probes = ", ".join(
        [bucket_col] + [f"xor({bucket_col}, {1 << p})" for p in range(n_planes)]
    )
    return f"UNNEST([{probes}])"


@query(
    "embedding_ann_multiprobe_topk",
    # Multi-probe LSH (round 11): same deterministic machinery as
    # embedding_ann_lsh_topk — md5 hyperplanes, sequential-fold dots,
    # total-order tiebreak — plus a query-side Hamming-1 probe
    # expansion, all of which DuckDB replays exactly (xor is bit-exact
    # in both engines; the probe list is distinct by construction).
    # Recall-vs-mp0 monotonicity is pinned in pytest
    # (test_ann_stream.test_ann_multiprobe_expands_candidates_and_recall).
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qe,
             {_bucket_sql("embedding", n_planes=_MP_PLANES)} AS bucket
      FROM embeddings WHERE vec_id < 5
    ), qp AS (
      SELECT query_id, qe, {_multiprobe_unnest_sql("bucket")} AS bucket
      FROM q
    ), c AS (
      SELECT vec_id, embedding,
             {_bucket_sql("embedding", n_planes=_MP_PLANES)} AS bucket
      FROM embeddings WHERE vec_id >= 5
    ), cand AS (
      SELECT qp.query_id, c.vec_id,
             {_COS.format(a="c.embedding", b="qp.qe")} AS score
      FROM c JOIN qp ON c.bucket = qp.bucket
    ), ranked AS (
      SELECT query_id, vec_id, round(score, 6) AS cos_sim,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY score DESC, vec_id ASC
             ) AS INT) AS rnk
      FROM cand
    )
    SELECT query_id, vec_id, cos_sim, rnk FROM ranked WHERE rnk <= 5
    """,
    tags=("similarity", "knn", "lsh", "multiprobe"),
)
def embedding_ann_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe ANN top-5: hyperplane-LSH buckets at 8 planes with
    every Hamming-1 neighbor bucket probed per query
    (operators/similarity.lsh_topk multiprobe=1, the serve-path recall
    knob of streaming/ann_stream.ann_query_index). Probing is
    query-side only — 9× the candidate volume without touching the
    corpus bucketing, which is what lets a PERSISTED corpus index
    serve higher recall than its plane count alone allows. At 100 TB
    the corpus side is one scan feeding a broadcast join, identical to
    the single-probe plan."""
    emb = load_table(spark, "embeddings", sf_dir)
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    corpus = emb.filter(F.col("vec_id") >= 5)
    out = SIM.lsh_topk(
        corpus, queries_df, k=5, dim=64, n_planes=_MP_PLANES, multiprobe=1
    )
    return out.select(
        "query_id", "vec_id", F.round("score", 6).alias("cos_sim"), "rnk"
    ).orderBy("query_id", "rnk")
