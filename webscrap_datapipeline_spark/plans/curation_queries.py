"""Training-data curation queries — round-3 widening of the LLM-data-
pipeline surface (BASELINE.json north star): repetition filtering
(Gopher-style top-n-gram fraction), prefix dedup, character-n-gram
language profiles, document rarity scoring, product-analytics funnels /
retention / transition matrices over the event stream, per-dimension
embedding statistics, and the fixed-codebook IVF search path with a full
SQL value check (upgrading IVF from rows-only evidence — VERDICT.md r2
task 6).

Reference lineage: the reference pipeline has no analytics surface at
all (741-LoC incremental ETL, main.py:30-112); everything here is the
mandated extension surface. Determinism follows plans/registry.py rules:
integer-exact flags via cross-multiplication (never float thresholds),
decimal-accumulated float sums, total-order tiebreaks on every top-k.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..functions import text as TX
from .registry import query

_TOKENS = "list_filter(regexp_split_to_array(trim({c}), '\\s+'), w -> w <> '')"
_STOPSET = "('the','a','of','and','to','in','is','it')"


# --- text curation ----------------------------------------------------------


@query(
    "dup_quality_interaction",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, md5(substr(text, 1, 120)) AS pfp,
             {_TOKENS.format(c="text")} AS toks
      FROM documents
    ), q AS (
      SELECT doc_id, lang, pfp,
             round((len(list_distinct(toks))::DOUBLE / len(toks)
                  + len(list_filter(toks, w -> w IN {_STOPSET}))::DOUBLE / len(toks)
                  + CASE WHEN len(toks) BETWEEN 20 AND 1000 THEN 1.0 ELSE 0.0 END) / 3.0,
                   6) AS quality,
             COUNT(*) OVER (PARTITION BY pfp) AS grp_n
      FROM t WHERE len(toks) > 0
    )
    SELECT lang,
           CASE WHEN grp_n > 1 THEN 'dup' ELSE 'unique' END AS dup_class,
           COUNT(*) AS n_docs,
           CAST(SUM(CAST(quality AS DECIMAL(10,6))) AS DOUBLE) AS total_quality
    FROM q GROUP BY 1, 2
    """,
    tags=("text", "dedup", "quality"),
)
def dup_quality_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does duplication correlate with quality? Per (lang, dup/unique)
    class: doc count and summed quality score, where dup membership is
    the prefix-fingerprint family (prefix_dup_groups) — the evidence a
    curation pipeline needs before deciding whether dedup survivors
    should also pass a quality gate. Per-doc quality rounds to 6 dp then
    accumulates as DECIMAL(10,6) (order-independent, exact on both
    engines). One window shuffle on the 16-byte fingerprint, one
    lang×2-sized aggregate."""
    docs = load_table(spark, "documents", sf_dir)
    w = Window.partitionBy("pfp")
    q = (
        docs.filter(TX.token_count("text") > 0)
        .select(
            "lang",
            F.md5(F.substring("text", 1, 120)).alias("pfp"),
            F.round(TX.quality_score("text"), 6).alias("quality"),
        )
        .withColumn("grp_n", F.count(F.lit(1)).over(w))
    )
    return (
        q.groupBy(
            "lang",
            F.when(F.col("grp_n") > 1, "dup").otherwise("unique").alias("dup_class"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("quality").cast("decimal(10,6)")).cast("double").alias("total_quality"),
        )
    )


@query(
    "repetition_top_bigram_stats",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, {_TOKENS.format(c="text")} AS t FROM documents
    ), bg AS (
      SELECT doc_id, lang, u.b AS bigram
      FROM toks,
           LATERAL (SELECT unnest(list_transform(range(1, len(t)),
                                                 i -> t[i] || ' ' || t[i+1])) AS b) u
      WHERE len(t) >= 2
    ), per_doc AS (
      SELECT doc_id, lang, MAX(c) AS max_c, SUM(c) AS n_bigrams
      FROM (SELECT doc_id, lang, bigram, COUNT(*) AS c FROM bg GROUP BY 1, 2, 3)
      GROUP BY 1, 2
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(max_c) AS BIGINT) AS total_top_bigram,
           CAST(SUM(n_bigrams) AS BIGINT) AS total_bigrams,
           CAST(COUNT(*) FILTER (WHERE max_c * 20 >= n_bigrams) AS BIGINT) AS n_flagged
    FROM per_doc GROUP BY lang
    """,
    tags=("text", "quality", "repetition"),
)
def repetition_top_bigram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signal: per-document fraction of bigram
    mass captured by the single most frequent word bigram, aggregated per
    language with a flagged-document count (top-bigram fraction ≥ 1/20 —
    the threshold test is the integer cross-product ``max_c*20 >=
    n_bigrams``, so no float boundary exists to disagree on).

    Shape at scale: bigrams explode to (doc, bigram) rows that partially
    aggregate map-side before the (doc_id, bigram) shuffle — the same
    posting-list discipline as the Jaccard dedup path; nothing is ever
    quadratic in document length."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "lang", "text")
    toks = TX.tokens("text")
    with_t = docs.select("doc_id", "lang", toks.alias("t")).filter(F.size("t") >= 2)
    bigrams = with_t.select(
        "doc_id",
        "lang",
        F.explode(
            F.zip_with(
                F.slice(F.col("t"), 1, F.size("t") - 1),
                F.slice(F.col("t"), 2, F.size("t") - 1),
                lambda a, b: F.concat(a, F.lit(" "), b),
            )
        ).alias("bigram"),
    )
    per_doc = (
        bigrams.groupBy("doc_id", "lang", "bigram")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id", "lang")
        .agg(F.max("c").alias("max_c"), F.sum("c").alias("n_bigrams"))
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("max_c").cast("bigint").alias("total_top_bigram"),
        F.sum("n_bigrams").cast("bigint").alias("total_bigrams"),
        F.sum((F.col("max_c") * 20 >= F.col("n_bigrams")).cast("bigint"))
        .cast("bigint")
        .alias("n_flagged"),
    )


@query(
    "prefix_dup_groups",
    oracle="""
    SELECT md5(substr(text, 1, 120)) AS prefix_fp,
           CAST(MIN(doc_id) AS BIGINT) AS canonical_id,
           COUNT(*) AS n_members
    FROM documents
    GROUP BY 1
    HAVING COUNT(*) > 1
    """,
    tags=("dedup", "text"),
)
def prefix_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix dedup: documents sharing the same first-120-character
    fingerprint (boilerplate headers, template reuse, truncated
    re-crawls — near-dup families exact matching misses; the corpus has
    ~20 natural groups). One groupBy on a 16-byte hash — the shuffle
    never carries document bodies, identical to the exact-dedup shape."""
    docs = load_table(spark, "documents", sf_dir)
    return (
        docs.select("doc_id", F.md5(F.substring("text", 1, 120)).alias("prefix_fp"))
        .groupBy("prefix_fp")
        .agg(
            F.min("doc_id").cast("bigint").alias("canonical_id"),
            F.count(F.lit(1)).alias("n_members"),
        )
        .filter(F.col("n_members") > 1)
    )


@query(
    "char_trigram_profile",
    oracle="""
    WITH tg AS (
      SELECT lang, u.g AS trigram
      FROM documents,
           LATERAL (SELECT unnest(list_transform(range(1, length(text) - 1),
                                                 i -> substr(text, i, 3))) AS g) u
      WHERE length(text) >= 3
    ), cnt AS (
      SELECT lang, trigram, COUNT(*) AS n FROM tg GROUP BY 1, 2
    ), ranked AS (
      SELECT lang, trigram, n,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY lang ORDER BY n DESC, trigram ASC
             ) AS INT) AS rnk
      FROM cnt
    )
    SELECT lang, trigram, n, rnk FROM ranked WHERE rnk <= 5
    """,
    tags=("text", "lang-id", "ngram"),
)
def char_trigram_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram language profile: top-5 trigrams per language by
    corpus frequency — the feature table an n-gram language-ID model is
    trained from (functions/text.lang_id consumes profiles of exactly
    this shape). The explode fans each doc into length-2 trigram rows
    that partially aggregate map-side, so the shuffle carries (lang,
    trigram) partial counts — vocabulary-sized, not corpus-sized.

    The trigrams are cut by exploding the POSITION sequence and taking
    ``substring(text, i, 3)`` as a plain projection — not by building
    the trigram array inside ``F.transform``: a HOF lambda body runs
    interpreted per element, while the post-explode substring stays in
    whole-stage codegen (measured 1.6× on this query; the engine-wide
    HOF discipline in SCALE.md). Generate+Project fuse in codegen, so
    the text column is re-referenced per emitted row, never copied."""
    docs = load_table(spark, "documents", sf_dir).filter(F.length("text") >= 3)
    grams = docs.select(
        "lang", "text", F.explode(F.sequence(F.lit(1), F.length("text") - 2)).alias("i")
    ).select("lang", F.expr("substring(text, i, 3)").alias("trigram"))
    cnt = grams.groupBy("lang", "trigram").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("trigram").asc())
    return (
        cnt.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 5)
        .select("lang", "trigram", "n", "rnk")
    )


@query(
    "doc_rarity_topk",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             list_distinct({_TOKENS.format(c="text")}) AS dt
      FROM documents
    ), words AS (
      SELECT doc_id, u.w AS word FROM toks, LATERAL (SELECT unnest(dt) AS w) u
    ), dft AS (
      SELECT word, COUNT(*) AS df FROM words GROUP BY 1
    ), total AS (SELECT COUNT(*) AS n FROM documents)
    SELECT doc_id,
           CAST(SUM(n - df) AS BIGINT) AS rarity,
           COUNT(*) AS n_distinct_terms
    FROM words JOIN dft USING (word), total
    GROUP BY doc_id
    ORDER BY rarity DESC, doc_id ASC
    LIMIT 20
    """,
    tags=("text", "quality", "topk"),
)
def doc_rarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-rarity scoring: each document scores the sum over its
    distinct terms of (corpus size − term document-frequency) — an
    integer-exact IDF surrogate (log-free, so no libm portability hazard)
    that ranks documents carrying unusual vocabulary; top-20. The
    document-frequency table is vocabulary-sized → broadcast back to the
    posting rows, so the only large shuffles are on ``word`` and
    ``doc_id`` — never doc × doc."""
    docs = load_table(spark, "documents", sf_dir)
    words = docs.select(
        "doc_id", F.explode(F.array_distinct(TX.tokens("text"))).alias("word")
    )
    dft = words.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    total = docs.agg(F.count(F.lit(1)).alias("n"))
    return (
        words.join(F.broadcast(dft), "word")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("n") - F.col("df")).cast("bigint").alias("rarity"),
            F.count(F.lit(1)).alias("n_distinct_terms"),
        )
        .orderBy(F.col("rarity").desc(), F.col("doc_id").asc())
        .limit(20)
    )


# --- event-stream product analytics ----------------------------------------


@query(
    "funnel_stage_counts",
    oracle="""
    WITH s1 AS (
      SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type = 'signup' GROUP BY 1
    ), s2 AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'view' AND e.ts > s1.t1
        AND epoch(e.ts) - epoch(s1.t1) <= 14400
      GROUP BY e.user_id
    ), s3 AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        AND epoch(e.ts) - epoch(s2.t2) <= 14400
      GROUP BY e.user_id
    )
    SELECT 'signup' AS stage, CAST(1 AS INT) AS stage_ord,
           (SELECT COUNT(*) FROM s1) AS n_users
    UNION ALL
    SELECT 'view_within_4h', CAST(2 AS INT), (SELECT COUNT(*) FROM s2)
    UNION ALL
    SELECT 'purchase_within_4h', CAST(3 AS INT), (SELECT COUNT(*) FROM s3)
    """,
    tags=("events", "funnel"),
)
def funnel_stage_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel signup → view → purchase, each
    subsequent stage within 4 h of the previous stage's event (strictly
    later; epoch-seconds arithmetic both engines derive from the same µs
    values). Classic sequential-pattern shape a plain join tree
    expresses: each stage is one groupBy(user) over an equi-join with the
    previous stage — all shuffles are on user_id and reuse the same
    partitioning."""
    events = load_table(spark, "events", sf_dir)

    def within(later: Column, earlier: Column) -> Column:
        return (later > earlier) & (
            later.cast("double") - earlier.cast("double") <= 14400
        )

    s1 = (
        events.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        events.filter(F.col("event_type") == "view")
        .join(s1, "user_id")
        .filter(within(F.col("ts"), F.col("t1")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        events.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(within(F.col("ts"), F.col("t2")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )

    def stage(df: DataFrame, name: str, ord_: int) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(name).alias("stage"),
            F.lit(ord_).cast("int").alias("stage_ord"),
            "n_users",
        )

    return (
        stage(s1, "signup", 1)
        .unionByName(stage(s2, "view_within_4h", 2))
        .unionByName(stage(s3, "purchase_within_4h", 3))
    )


@query(
    "retention_cohort_matrix",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS cd FROM events GROUP BY 1
    )
    SELECT strftime(f.cd, '%Y-%m-%d') AS cohort_date,
           CAST(date_diff('day', f.cd, CAST(e.ts AS DATE)) AS INT) AS day_offset,
           COUNT(DISTINCT e.user_id) AS n_users
    FROM events e JOIN first_seen f ON e.user_id = f.user_id
    GROUP BY 1, 2
    """,
    tags=("events", "retention"),
)
def retention_cohort_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention cohort matrix: users grouped by first-activity date,
    counted distinct on each day-offset they return — the (cohort ×
    offset) table every retention curve is drawn from. Both the
    first-seen aggregation and the join shuffle on user_id (one exchange,
    reused); the final aggregate is cohort×offset-sized. The cohort date
    goes out as a 'yyyy-MM-dd' string: DATE columns canonicalize
    asymmetrically in the driver's pandas path (DuckDB DATE →
    datetime64 midnight, Spark DATE → datetime.date) — same comparator
    hazard class as round 2's HUGEINT red row."""
    events = load_table(spark, "events", sf_dir)
    first_seen = events.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("cd"))
    return (
        events.join(first_seen, "user_id")
        .groupBy(
            F.date_format("cd", "yyyy-MM-dd").alias("cohort_date"),
            F.datediff(F.to_date("ts"), F.col("cd")).cast("int").alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


@query(
    "event_transition_matrix",
    oracle="""
    WITH nxt AS (
      SELECT event_type AS from_type,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS to_type
      FROM events
    )
    SELECT from_type, to_type, COUNT(*) AS n_transitions
    FROM nxt WHERE to_type IS NOT NULL
    GROUP BY 1, 2
    """,
    tags=("events", "markov"),
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts between consecutive event
    types per user (total order ts, event_id — deterministic under
    timestamp ties). One shuffle on user_id for the window, then a
    5×5-sized aggregate with map-side partials."""
    events = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        events.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )


# --- embedding statistics & fixed-codebook IVF ------------------------------


@query(
    "embedding_dim_variance",
    oracle="""
    WITH comps AS (
      SELECT d.i AS dim, d.x AS x
      FROM embeddings,
           LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i,
                           unnest(embedding) AS x) d
    ), stats AS (
      SELECT CAST(dim AS INT) AS dim, COUNT(*) AS n,
             CAST(SUM(CAST(x AS DECIMAL(20,8))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(x AS DECIMAL(12,8)) * CAST(x AS DECIMAL(12,8))) AS DOUBLE) AS sxx
      FROM comps GROUP BY 1
    )
    SELECT dim,
           round(sxx / n - (sx / n) * (sx / n), 6) AS variance,
           round(sx / n, 6) AS mean
    FROM stats
    ORDER BY variance DESC, dim ASC
    LIMIT 10
    """,
    tags=("vector", "agg", "profile"),
)
def embedding_dim_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension corpus statistics — top-10 highest-variance
    embedding dimensions (the profile pass behind feature selection /
    whitening / dead-dimension detection). Components accumulate exactly:
    x as DECIMAL(20,8) (the proven label_centroids path) and x² as the
    exact product of two DECIMAL(12,8) casts — both engines then perform
    the same two IEEE divisions and one subtraction, so the 6-dp round
    lands identically. posexplode rows partially aggregate map-side: the
    shuffle carries 64 dims × partitions, not vectors."""
    emb = load_table(spark, "embeddings", sf_dir)
    x8 = F.col("x").cast("decimal(20,8)")
    x12 = F.col("x").cast("decimal(12,8)")
    stats = (
        emb.select(F.posexplode("embedding").alias("dim0", "x"))
        .groupBy((F.col("dim0") + 1).cast("int").alias("dim"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(x8).cast("double").alias("sx"),
            F.sum(x12 * x12).cast("double").alias("sxx"),
        )
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    return (
        stats.select(
            "dim",
            F.round(sxx / n - (sx / n) * (sx / n), 6).alias("variance"),
            F.round(sx / n, 6).alias("mean"),
        )
        .orderBy(F.col("variance").desc(), F.col("dim").asc())
        .limit(10)
    )


_COS = """
  list_sum(list_transform(range(1, len({a}) + 1), i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE))
  / (sqrt(list_sum(list_transform({a}, x -> x::DOUBLE * x::DOUBLE)))
     * sqrt(list_sum(list_transform({b}, x -> x::DOUBLE * x::DOUBLE))))
"""

_L2 = """
  list_sum(list_transform(range(1, len({a}) + 1),
                          i -> ({a}[i]::DOUBLE - {b}[i]::DOUBLE)
                               * ({a}[i]::DOUBLE - {b}[i]::DOUBLE)))
"""


@query(
    "embedding_ivf_seeded_topk",
    # Every stage of the fixed-codebook IVF path is deterministic
    # arithmetic (sequential-fold L2/cosine, argmin with an integer
    # tiebreak, equi-join on the cell id), so — unlike the trained
    # variant, whose Lloyd iterations aren't SQL-expressible — the
    # oracle replays assignment, probing, candidate generation, and
    # ranking exactly. This upgrades IVF from rows-only evidence
    # (VERDICT.md round-2 task 6).
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 5
    ), corpus AS (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 5
    ), cent AS (
      SELECT cid, ce FROM (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id ASC) AS INT) AS cid,
               embedding AS ce
        FROM corpus WHERE vec_id % 61 = 8
      ) WHERE cid <= 8
    ), assign0 AS (
      SELECT vec_id, embedding, cid,
             ROW_NUMBER() OVER (
               PARTITION BY vec_id
               ORDER BY {_L2.format(a="embedding", b="ce")} ASC, cid ASC
             ) AS r
      FROM corpus CROSS JOIN cent
    ), assigned AS (
      SELECT vec_id, embedding, cid FROM assign0 WHERE r = 1
    ), probe0 AS (
      SELECT query_id, qe, cid,
             ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY {_L2.format(a="qe", b="ce")} ASC, cid ASC
             ) AS r
      FROM q CROSS JOIN cent
    ), probes AS (
      SELECT query_id, qe, cid FROM probe0 WHERE r <= 3
    ), cand AS (
      SELECT p.query_id, a.vec_id,
             {_COS.format(a="a.embedding", b="p.qe")} AS score
      FROM assigned a JOIN probes p ON a.cid = p.cid
    ), ranked AS (
      SELECT query_id, vec_id, round(score, 6) AS cos_sim,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY score DESC, vec_id ASC
             ) AS INT) AS rnk
      FROM cand
    )
    SELECT query_id, vec_id, cos_sim, rnk FROM ranked WHERE rnk <= 5
    """,
    tags=("similarity", "knn", "ivf"),
)
def embedding_ivf_seeded_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-5 for 5 queries against a FIXED centroid codebook
    (corpus rows vec_id % 61 = 8, first 8 by vec_id — a deterministic,
    storage-order-decorrelated pick), nprobe=3 —
    operators/similarity.ivf_search, the serving half of the IVF path
    where the codebook is trained offline and reused across jobs.
    Assignment/probing are argmin-L2 over the 8 plan-literal centroids
    (codegen, no shuffle; the collect is 8 driver-sized rows); the
    candidate join is equi on the int cell id; exact-cosine rescore with
    a total-order rank. The trained variant (embedding_ivf_topk) keeps
    its pytest recall pins; this one is value-checked end-to-end in SQL."""
    from ..operators.similarity import ivf_search

    emb = load_table(spark, "embeddings", sf_dir)
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    corpus = emb.filter(F.col("vec_id") >= 5).select("vec_id", "embedding")
    seed_rows = (
        corpus.filter(F.col("vec_id") % 61 == 8)
        .orderBy("vec_id")
        .limit(8)
        .collect()  # 8 rows — driver-sized by construction (the codebook)
    )
    centroids = [
        (cid + 1, [float(x) for x in row["embedding"]])
        for cid, row in enumerate(seed_rows)
    ]
    out = ivf_search(corpus, queries_df, centroids, k=5, nprobe=3)
    return out.select(
        "query_id", "vec_id", F.round("score", 6).alias("cos_sim"), "rnk"
    ).orderBy("query_id", "rnk")


@query(
    "kmeans_one_step_seeded",
    # One full Lloyd iteration from a literal codebook: ASSIGN is the
    # proven argmin-L2-with-cid-tiebreak of embedding_ivf_seeded_topk;
    # UPDATE is a decimal-exact per-(cid, dim) mean — both stages are
    # deterministic arithmetic, so the oracle replays the whole
    # iteration. Closes round-3 VERDICT item 2: the k-means update step
    # was the one north-star component with no driver hash row.
    oracle=f"""
    WITH cent AS (
      SELECT cid, ce FROM (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id ASC) AS INT) AS cid,
               embedding AS ce
        FROM embeddings WHERE vec_id % 61 = 8
      ) WHERE cid <= 8
    ), assign0 AS (
      SELECT vec_id, embedding, cid,
             ROW_NUMBER() OVER (
               PARTITION BY vec_id
               ORDER BY {_L2.format(a="embedding", b="ce")} ASC, cid ASC
             ) AS r
      FROM embeddings CROSS JOIN cent
    ), assigned AS (
      SELECT vec_id, embedding, cid FROM assign0 WHERE r = 1
    ), comps AS (
      SELECT cid, CAST(d.i AS INT) AS dim, d.x::DOUBLE AS x
      FROM assigned,
           LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i,
                           unnest(embedding) AS x) d
    )
    SELECT cid, dim, COUNT(*) AS n,
           round(CAST(SUM(CAST(x AS DECIMAL(20,8))) AS DOUBLE) / COUNT(*), 6)
             AS new_m
    FROM comps GROUP BY 1, 2
    """,
    tags=("clustering", "kmeans", "vector"),
)
def kmeans_one_step_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One value-checked Lloyd's iteration over the embeddings from a
    FIXED 8-centroid codebook (rows vec_id % 61 = 8, first 8 by vec_id —
    the embedding_ivf_seeded_topk seeding): assign every vector to its
    argmin-L2 centroid (operators/similarity.ivf_assign — codegen fold
    identical to the oracle's list_sum, lowest-cid tiebreak), then emit
    the update relation (cid, dim, n, new_m) via
    operators/clustering.lloyd_update (decimal-exact means, 6-dp round).
    The trained kmeans variant (kmeans_embedding_clusters) runs this
    exact update code path per iteration and keeps its pytest
    determinism/recovery pins; here both halves of one iteration are
    SQL-replayed end-to-end."""
    from ..operators.clustering import lloyd_update
    from ..operators.similarity import ivf_assign

    emb = load_table(spark, "embeddings", sf_dir)
    seed_rows = (
        emb.filter(F.col("vec_id") % 61 == 8)
        .orderBy("vec_id")
        .limit(8)
        .collect()  # 8 rows — driver-sized by construction (the codebook)
    )
    centroids = [
        (cid + 1, [float(x) for x in row["embedding"]])
        for cid, row in enumerate(seed_rows)
    ]
    assigned = ivf_assign(emb.select("vec_id", "embedding"), "embedding", centroids)
    return lloyd_update(assigned, "embedding", cluster_col="cid", round_dp=6)


# One SQL Lloyd iteration: assign `src` (vec_id, embedding) to the
# nearest `cent` (cid, ce) centroid (argmin L2, cid tiebreak — the
# proven kmeans_one_step_seeded shape), then emit the next codebook as
# decimal-exact 6-dp-rounded per-dim means, empty cells keeping their
# previous centroid (standard Lloyd's, COALESCE on the left join).
def _sql_lloyd_iter(src: str, cent: str, out: str) -> str:
    return f"""
    {out}_a0 AS (
      SELECT s.vec_id, s.embedding, c.cid,
             ROW_NUMBER() OVER (
               PARTITION BY s.vec_id
               ORDER BY {_L2.format(a="s.embedding", b="c.ce")} ASC, c.cid ASC
             ) AS r
      FROM {src} s CROSS JOIN {cent} c
    ), {out}_m AS (
      SELECT cid, CAST(d.i AS INT) AS dim,
             round(CAST(SUM(CAST(d.x AS DECIMAL(20,8))) AS DOUBLE) / COUNT(*), 6)
               AS new_m
      FROM {out}_a0,
           LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i,
                           unnest(embedding) AS x) d
      WHERE r = 1 GROUP BY 1, 2
    ), {out} AS (
      SELECT c.cid,
             COALESCE(m.ce, list_transform(c.ce, x -> x::DOUBLE)) AS ce
      FROM {cent} c
      LEFT JOIN (
        SELECT cid, list(new_m ORDER BY dim ASC) AS ce FROM {out}_m GROUP BY cid
      ) m USING (cid)
    )"""


@query(
    "embedding_ivf_trained_topk",
    # The TRAINED IVF path, hash-verified end-to-end (round-10 VERDICT
    # item 6): both Lloyd iterations are unrolled in SQL — ASSIGN is
    # the proven argmin-L2-with-cid-tiebreak sequential fold
    # (kmeans_one_step_seeded's green row pins Spark's F.aggregate ==
    # DuckDB's list_sum), UPDATE is the proven decimal-exact
    # 6-dp-rounded mean, and the search half is the proven
    # embedding_ivf_seeded_topk replay. Rounding each iteration's
    # codebook to 6 dp is what makes the cross-engine floats identical
    # plan literals rather than accumulated ulp drift.
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 5
    ), corpus AS (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 5
    ), cent0 AS (
      SELECT cid, ce FROM (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id ASC) AS INT) AS cid,
               embedding AS ce
        FROM corpus WHERE vec_id % 61 = 8
      ) WHERE cid <= 8
    ), {_sql_lloyd_iter("corpus", "cent0", "cent1")},
    {_sql_lloyd_iter("corpus", "cent1", "cent2")},
    assign0 AS (
      SELECT vec_id, embedding, cid,
             ROW_NUMBER() OVER (
               PARTITION BY vec_id
               ORDER BY {_L2.format(a="embedding", b="ce")} ASC, cid ASC
             ) AS r
      FROM corpus CROSS JOIN cent2
    ), assigned AS (
      SELECT vec_id, embedding, cid FROM assign0 WHERE r = 1
    ), probe0 AS (
      SELECT query_id, qe, cid,
             ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY {_L2.format(a="qe", b="ce")} ASC, cid ASC
             ) AS r
      FROM q CROSS JOIN cent2
    ), probes AS (
      SELECT query_id, qe, cid FROM probe0 WHERE r <= 3
    ), cand AS (
      SELECT p.query_id, a.vec_id,
             {_COS.format(a="a.embedding", b="p.qe")} AS score
      FROM assigned a JOIN probes p ON a.cid = p.cid
    ), ranked AS (
      SELECT query_id, vec_id, round(score, 6) AS cos_sim,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY score DESC, vec_id ASC
             ) AS INT) AS rnk
      FROM cand
    )
    SELECT query_id, vec_id, cos_sim, rnk FROM ranked WHERE rnk <= 5
    """,
    tags=("similarity", "knn", "ivf", "clustering"),
)
def embedding_ivf_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-5 for 5 queries against a TRAINED codebook: the
    embedding_ivf_seeded_topk seeds refined by two decimal-exact Lloyd
    iterations (operators/similarity.ivf_assign +
    operators/clustering.lloyd_update, round_dp=6) before the
    operators/similarity.ivf_search probe/rescore. Each iteration
    collects the k × dim update relation (8 × 64 rows — driver-sized
    by construction, the same codebook-collect pattern as the seeded
    query) and rebuilds the plan-literal centroids, so training is a
    fixed number of corpus scans and the serving plan stays
    shuffle-free on the assignment side. The production trainer
    (kmeans_fit's fused scaled-integer path, used by embedding_ivf_topk
    / kmeans_embedding_clusters) keeps its pytest recall/determinism
    pins; THIS query is the hash-green evidence that train→serve as a
    whole computes the same answer as an independent engine."""
    from ..operators.clustering import lloyd_update
    from ..operators.similarity import ivf_assign, ivf_search

    emb = load_table(spark, "embeddings", sf_dir)
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    # four actions scan the corpus (seed collect, one per Lloyd
    # iteration, the final search) — a lazy localCheckpoint
    # materializes the filtered corpus on first use instead of
    # re-reading the parquet per action (same shape as
    # embedding_ivf_topk; measured 2.02 → 1.89 s same-JVM A/B, r13,
    # results identical)
    corpus = (
        emb.filter(F.col("vec_id") >= 5)
        .select("vec_id", "embedding")
        .localCheckpoint(eager=False)
    )
    seed_rows = (
        corpus.filter(F.col("vec_id") % 61 == 8)
        .orderBy("vec_id")
        .limit(8)
        .collect()  # 8 rows — driver-sized by construction (the codebook)
    )
    centroids = [
        (cid + 1, [float(x) for x in row["embedding"]])
        for cid, row in enumerate(seed_rows)
    ]
    for _ in range(2):
        assigned = ivf_assign(corpus, "embedding", centroids)
        upd = lloyd_update(
            assigned, "embedding", cluster_col="cid", round_dp=6
        ).collect()  # k × dim rows — driver-sized by construction
        means: dict[int, dict[int, float]] = {}
        for r in upd:
            means.setdefault(r["cid"], {})[r["dim"]] = float(r["new_m"])
        centroids = [
            (
                cid,
                [means[cid][d] for d in range(1, len(vec) + 1)]
                if cid in means
                else vec,  # empty cell keeps its centroid (Lloyd's)
            )
            for cid, vec in centroids
        ]
    out = ivf_search(corpus, queries_df, centroids, k=5, nprobe=3)
    return out.select(
        "query_id", "vec_id", F.round("score", 6).alias("cos_sim"), "rnk"
    ).orderBy("query_id", "rnk")


@query(
    "semantic_outlier_docs",
    # The label centroid CTE is the proven label_centroids relation
    # (6-dp-rounded per-dim means); dot products and norms accumulate as
    # DECIMAL(24,12) casts of IEEE-identical double products, so the
    # final cosine is one identical division+sqrt on both engines.
    oracle="""
    WITH comps0 AS (
      SELECT label, d.i AS dim, d.x AS x
      FROM embeddings,
           LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i,
                           unnest(embedding) AS x) d
    ), cent AS (
      SELECT label, CAST(dim AS INT) AS dim,
             round(CAST(SUM(CAST(x AS DECIMAL(20,8))) AS DOUBLE) / COUNT(*), 6) AS m
      FROM comps0 GROUP BY label, dim
    ), comps AS (
      SELECT vec_id, label, CAST(d.i AS INT) AS dim, d.x::DOUBLE AS x
      FROM embeddings,
           LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i,
                           unnest(embedding) AS x) d
    ), dots AS (
      SELECT c.vec_id, c.label,
             CAST(SUM(CAST(c.x * t.m AS DECIMAL(24,12))) AS DOUBLE) AS dp,
             CAST(SUM(CAST(c.x * c.x AS DECIMAL(24,12))) AS DOUBLE) AS nx2,
             CAST(SUM(CAST(t.m * t.m AS DECIMAL(24,12))) AS DOUBLE) AS nc2
      FROM comps c JOIN cent t ON c.label = t.label AND c.dim = t.dim
      GROUP BY 1, 2
    )
    SELECT vec_id, label, round(dp / (sqrt(nx2) * sqrt(nc2)), 6) AS cos_centroid
    FROM dots
    ORDER BY cos_centroid ASC, vec_id ASC
    LIMIT 10
    """,
    tags=("vector", "quality", "outlier"),
)
def semantic_outlier_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic outlier mining: the 10 vectors least similar (cosine) to
    their own label's centroid — the embedding-space mislabel/noise
    filter a curation pipeline runs before training. Reuses the
    label_centroids relation; the centroid table is labels × dims rows →
    broadcast back onto the exploded components, so the only large
    shuffle is the per-vector aggregation on vec_id. Products accumulate
    as DECIMAL(24,12) — order-independent, identical on both engines."""
    from .vector_queries import label_centroids

    cent = label_centroids(spark, sf_dir)  # (label, dim, m)
    emb = load_table(spark, "embeddings", sf_dir)
    comps = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("dim0", "x")
    ).select(
        "vec_id",
        "label",
        (F.col("dim0") + 1).cast("int").alias("dim"),
        F.col("x").cast("double").alias("x"),
    )
    joined = comps.join(F.broadcast(cent), ["label", "dim"])
    d2412 = lambda c: c.cast("decimal(24,12)")  # noqa: E731
    dots = joined.groupBy("vec_id", "label").agg(
        F.sum(d2412(F.col("x") * F.col("m"))).cast("double").alias("dp"),
        F.sum(d2412(F.col("x") * F.col("x"))).cast("double").alias("nx2"),
        F.sum(d2412(F.col("m") * F.col("m"))).cast("double").alias("nc2"),
    )
    return (
        dots.select(
            "vec_id",
            "label",
            F.round(
                F.col("dp") / (F.sqrt(F.col("nx2")) * F.sqrt(F.col("nc2"))), 6
            ).alias("cos_centroid"),
        )
        .orderBy(F.col("cos_centroid").asc(), F.col("vec_id").asc())
        .limit(10)
    )


# --- corpus observability & stream-audit batch twins -------------------------

_SHINGLES = """unnest(list_distinct(list_transform(
      range(1, greatest(len({t}) - 2, 0) + 1),
      i -> array_to_string(list_slice({t}, i, i + 2), ' '))))"""


@query(
    "shingle_df_histogram",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id AS doc, {_SHINGLES.format(t=_TOKENS.format(c="text"))} AS shingle
      FROM documents
    ), dft AS (
      SELECT shingle, COUNT(*) AS df FROM sh GROUP BY 1
    )
    SELECT CASE WHEN df = 1 THEN 1 WHEN df < 4 THEN 2 WHEN df < 8 THEN 4
                WHEN df < 16 THEN 8 WHEN df < 32 THEN 16 WHEN df < 64 THEN 32
                ELSE 64 END AS df_bucket_floor,
           COUNT(*) AS n_shingles,
           CAST(SUM(df) AS BIGINT) AS total_postings
    FROM dft GROUP BY 1
    """,
    tags=("text", "dedup", "observability"),
)
def shingle_df_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle document-frequency histogram (power-of-2 buckets via
    integer CASE — no log portability hazard): the observability table
    that justifies the Jaccard posting-list frequency cap. The long tail
    (df=1) is dead weight the pair join never touches; the head (df ≥
    cap) is exactly what the cap drops — this query is how an operator
    picks the cap for a new corpus. Same explode/groupBy shape as the
    dedup path itself."""
    docs = load_table(spark, "documents", sf_dir)
    sh = docs.select(
        "doc_id", F.explode(TX.word_shingles("text", 3)).alias("shingle")
    )
    dft = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    df_ = F.col("df")
    bucket = (
        F.when(df_ == 1, 1)
        .when(df_ < 4, 2)
        .when(df_ < 8, 4)
        .when(df_ < 16, 8)
        .when(df_ < 32, 16)
        .when(df_ < 64, 32)
        .otherwise(64)
    )
    return dft.groupBy(bucket.alias("df_bucket_floor")).agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum("df").cast("bigint").alias("total_postings"),
    )


@query(
    "dedup_token_savings",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, md5(substr(text, 1, 120)) AS pfp,
             len({_TOKENS.format(c="text")}) AS n_toks
      FROM documents
    ), k AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY pfp ORDER BY doc_id) AS r FROM t
    )
    SELECT lang,
           CAST(SUM(n_toks) AS BIGINT) AS tokens_total,
           CAST(SUM(CASE WHEN r = 1 THEN n_toks ELSE 0 END) AS BIGINT) AS tokens_kept,
           CAST(SUM(CASE WHEN r > 1 THEN n_toks ELSE 0 END) AS BIGINT) AS tokens_saved
    FROM k GROUP BY 1
    """,
    tags=("text", "dedup", "observability"),
)
def dedup_token_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token budget saved by prefix-family dedup per language: total
    tokens vs tokens kept (one canonical doc per family, lowest doc_id)
    vs tokens dropped — the cost/benefit report a curation run publishes
    before committing a dedup policy. Integer-exact; one window shuffle
    on the 16-byte fingerprint, one lang-sized aggregate."""
    docs = load_table(spark, "documents", sf_dir)
    t = docs.select(
        "doc_id",
        "lang",
        F.md5(F.substring("text", 1, 120)).alias("pfp"),
        TX.token_count("text").alias("n_toks"),
    )
    w = Window.partitionBy("pfp").orderBy("doc_id")
    k = t.withColumn("r", F.row_number().over(w))
    return k.groupBy("lang").agg(
        F.sum("n_toks").cast("bigint").alias("tokens_total"),
        F.sum(F.when(F.col("r") == 1, F.col("n_toks")).otherwise(0))
        .cast("bigint")
        .alias("tokens_kept"),
        F.sum(F.when(F.col("r") > 1, F.col("n_toks")).otherwise(0))
        .cast("bigint")
        .alias("tokens_saved"),
    )


@query(
    "cross_source_shingle_overlap",
    oracle=f"""
    WITH ss AS (
      SELECT DISTINCT source, sh.shingle
      FROM (SELECT source, {_SHINGLES.format(t=_TOKENS.format(c="text"))} AS shingle
            FROM documents) sh
    ), capped AS (
      SELECT shingle FROM ss GROUP BY 1 HAVING COUNT(*) <= 1000
    )
    SELECT a.source AS source_a, b.source AS source_b,
           COUNT(*) AS shared_shingles
    FROM ss a JOIN ss b ON a.shingle = b.shingle AND a.source < b.source
    JOIN capped c ON c.shingle = a.shingle
    GROUP BY 1, 2
    ORDER BY shared_shingles DESC, source_a ASC, source_b ASC
    LIMIT 10
    """,
    tags=("text", "dedup", "cross-source"),
)
def cross_source_shingle_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which sources share content? Top-10 source pairs by shared
    distinct-shingle count — the corpus-level contamination/mirror-site
    signal (two crawls of the same site light up here long before
    doc-level dedup finds the pairs). The self-join is on the shingle
    key over source-deduplicated postings with the same frequency cap as
    the Jaccard path, so fan-out is bounded by sources-per-shingle, not
    docs."""
    docs = load_table(spark, "documents", sf_dir)
    ss = docs.select(
        "source", F.explode(TX.word_shingles("text", 3)).alias("shingle")
    ).distinct()
    capped = (
        ss.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("n_src"))
        .filter(F.col("n_src") <= 1000)
        .select("shingle")
    )
    a = ss.select(F.col("source").alias("source_a"), "shingle")
    b = ss.select(F.col("source").alias("source_b"), "shingle")
    return (
        a.join(b, "shingle")
        .filter(F.col("source_a") < F.col("source_b"))
        .join(capped, "shingle")
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("shared_shingles"))
        .orderBy(
            F.col("shared_shingles").desc(),
            F.col("source_a").asc(),
            F.col("source_b").asc(),
        )
        .limit(10)
    )


@query(
    "value_anomaly_zscore",
    oracle="""
    WITH s AS (
      SELECT event_type, COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(value * value AS DECIMAL(24,10))) AS DOUBLE) AS sxx
      FROM events GROUP BY 1
    )
    SELECT e.event_id, e.event_type, round(e.value, 6) AS value,
           round(abs(e.value - sx / n) / sqrt(sxx / n - (sx / n) * (sx / n)), 6) AS abs_z
    FROM events e JOIN s USING (event_type)
    WHERE sxx / n - (sx / n) * (sx / n) > 0
    ORDER BY abs_z DESC, event_id ASC
    LIMIT 10
    """,
    tags=("events", "anomaly"),
)
def value_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type z-score anomaly mining: the 10 events furthest (in
    within-type standard deviations) from their type's mean value. The
    stats table is 5 rows → broadcast back onto the stream; moments
    accumulate as decimals (order-independent), then both engines run
    the same IEEE divisions/sqrt. The batch twin of a streaming
    anomaly-detector's scoring pass.

    Zero-variance guard (round-3 ADVICE): a constant-valued or
    singleton event_type makes the variance 0 (or rounds tiny-
    negative), where the engines' division/sqrt edge semantics diverge
    (Spark non-ANSI ``x/0`` → NULL vs DuckDB IEEE → inf; DuckDB
    ``sqrt(<0)`` raises vs Spark → NaN). Both sides therefore filter
    ``var > 0`` with the SAME expression before dividing — such types
    have no meaningful z-score anyway."""
    events = load_table(spark, "events", sf_dir)
    s = events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sx"),
        F.sum((F.col("value") * F.col("value")).cast("decimal(24,10)"))
        .cast("double")
        .alias("sxx"),
    )
    e = events.join(F.broadcast(s), "event_type")
    mean = F.col("sx") / F.col("n")
    var = F.col("sxx") / F.col("n") - mean * mean
    std = F.sqrt(var)
    return (
        e.filter(var > 0)
        .select(
            "event_id",
            "event_type",
            F.round("value", 6).alias("value"),
            F.round(F.abs(F.col("value") - mean) / std, 6).alias("abs_z"),
        )
        .orderBy(F.col("abs_z").desc(), F.col("event_id").asc())
        .limit(10)
    )


@query(
    "late_arrival_audit",
    oracle="""
    WITH corpus AS (
      SELECT event_id, 0 AS is_copy, ts, user_id, event_type FROM events
      UNION ALL
      SELECT event_id, 1 AS is_copy, ts - INTERVAL 30 MINUTE, user_id, event_type
      FROM events WHERE event_id % 50 = 0
    ), w AS (
      SELECT event_type, epoch_us(ts) AS tus,
             MAX(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY is_copy, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS prev_max
      FROM corpus
    )
    SELECT event_type, COUNT(*) AS n_events,
           CAST(COUNT(*) FILTER (
             WHERE prev_max IS NOT NULL AND prev_max - tus > 600000000
           ) AS BIGINT) AS n_late_10m,
           CAST(MAX(CASE WHEN prev_max IS NULL THEN 0
                         ELSE greatest(prev_max - tus, 0) END) AS BIGINT)
             AS max_disorder_us
    FROM w GROUP BY 1
    """,
    tags=("events", "streaming-batch", "watermark"),
)
def late_arrival_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key lateness audit — the batch replay of watermark tuning:
    treating event_id as arrival order, how far behind each user's
    running max event-time do events arrive (µs-exact integers)?
    ``n_late_10m`` is what a 10-minute watermark would drop;
    ``max_disorder_us`` bounds the delay that loses nothing. The
    synthetic stream arrives in order, so copies of every 50th event
    are unioned in arriving last with 30-min-old timestamps — the
    audit must count exactly those. Arrival order is the explicit pair
    ``(is_copy, event_id)`` — total at ANY scale factor, unlike the
    previous ``event_id + 1e6`` id shift, whose shifted ids collide
    with real ids once a corpus has >1M events and silently make the
    per-user ordering non-total (round-3 ADVICE). One window shuffle on
    user_id (the same per-key ordering the streaming engine maintains
    in state)."""
    events = load_table(spark, "events", sf_dir).select(
        "event_id",
        F.lit(0).alias("is_copy"),
        "ts",
        "user_id",
        "event_type",
    )
    late = events.filter(F.col("event_id") % 50 == 0).select(
        "event_id",
        F.lit(1).alias("is_copy"),
        (F.col("ts") - F.expr("INTERVAL 30 MINUTES")).alias("ts"),
        "user_id",
        "event_type",
    )
    corpus = events.unionByName(late)
    w = (
        Window.partitionBy("user_id")
        .orderBy("is_copy", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    tus = F.unix_micros("ts")
    audited = corpus.select(
        "event_type",
        tus.alias("tus"),
        F.max(tus).over(w).alias("prev_max"),
    )
    late_cond = F.col("prev_max").isNotNull() & (
        F.col("prev_max") - F.col("tus") > 600000000
    )
    disorder = F.when(F.col("prev_max").isNull(), F.lit(0)).otherwise(
        F.greatest(F.col("prev_max") - F.col("tus"), F.lit(0))
    )
    return audited.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(late_cond.cast("bigint")).cast("bigint").alias("n_late_10m"),
        F.max(disorder).cast("bigint").alias("max_disorder_us"),
    )


@query(
    "corpus_novelty_curve",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id AS doc, {_SHINGLES.format(t=_TOKENS.format(c="text"))} AS shingle
      FROM documents
    ), firsts AS (
      SELECT shingle, MIN(doc) AS first_doc FROM sh GROUP BY 1
    ), per_doc AS (
      SELECT s.doc, COUNT(*) AS n_shingles,
             COUNT(*) FILTER (WHERE f.first_doc = s.doc) AS n_novel
      FROM sh s JOIN firsts f USING (shingle) GROUP BY 1
    ), mx AS (SELECT MAX(doc_id) AS mx FROM documents)
    SELECT CAST(FLOOR(doc * 10.0 / (mx + 1)) AS INT) AS id_decile,
           COUNT(*) AS n_docs,
           CAST(SUM(n_shingles) AS BIGINT) AS total_shingles,
           CAST(SUM(n_novel) AS BIGINT) AS novel_shingles
    FROM per_doc, mx GROUP BY 1
    """,
    tags=("text", "observability", "saturation"),
)
def corpus_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus saturation curve: per doc_id-decile, how many of each
    document's shingles were never seen in any earlier document (shingle
    attributed to MIN(doc_id) — integer-exact, order-free)? The novel
    fraction decays ~92% → ~36% across this corpus — the diminishing-
    returns signal that tells a collection pipeline when more of the
    same source stops adding information.

    JOIN-FREE (round 6, 1.9 → 0.95 s solo): shingles are distinct per
    doc (set semantics in ``word_shingles`` AND in the oracle's
    ``list_distinct``), so each doc's novel count is exactly the number
    of shingles whose global MIN(doc) lands on it —
    ``firsts.groupBy(first_doc).count()`` — and the shingle-cardinality
    probe (|sh| rows hashed against |distinct shingles|) the previous
    plan paid for disappears; what remains is two partial-aggregated
    passes whose shuffles carry doc-cardinality rows, plus one
    doc-level left join (novel=0 for docs with no first). The decile
    boundary uses one broadcast MAX, never a global sort/ntile."""
    docs = load_table(spark, "documents", sf_dir)
    sh = docs.select(
        F.col("doc_id").alias("doc"),
        F.explode(TX.word_shingles("text", 3)).alias("shingle"),
    )
    firsts = sh.groupBy("shingle").agg(F.min("doc").alias("doc"))
    novel = firsts.groupBy("doc").agg(F.count(F.lit(1)).alias("n_novel"))
    cnts = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n_shingles"))
    per_doc = cnts.join(novel, "doc", "left").withColumn(
        "n_novel", F.coalesce("n_novel", F.lit(0))
    )
    mx = docs.agg(F.max("doc_id").alias("mx"))
    return (
        per_doc.crossJoin(F.broadcast(mx))
        .groupBy(
            F.floor(F.col("doc") * 10.0 / (F.col("mx") + 1))
            .cast("int")
            .alias("id_decile")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_shingles").cast("bigint").alias("total_shingles"),
            F.sum("n_novel").cast("bigint").alias("novel_shingles"),
        )
    )


@query(
    "train_val_test_split_stats",
    oracle=f"""
    WITH t AS (
      SELECT lang, len({_TOKENS.format(c="text")}) AS n_toks,
             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 2)) AS BIGINT) AS h
      FROM documents
    )
    SELECT lang,
           CASE WHEN h < 230 THEN 'train'
                WHEN h < 243 THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS total_tokens
    FROM t GROUP BY 1, 2
    """,
    tags=("text", "split", "training-data"),
)
def train_val_test_split_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~90/5/5 train/val/test split by hashing the
    document KEY (first md5 byte of doc_id: <230 train, <243 val, else
    test) with per-(lang, split) doc and token counts. Hash-of-key
    splitting is the only split that survives reruns, re-partitioning,
    and incremental appends — a row's split never depends on scan order
    or corpus size, unlike randomSplit/sample. Pure per-row codegen
    projection + one small aggregate; the assignment column is the
    splitter a shard-writer would partition by."""
    docs = load_table(spark, "documents", sf_dir)
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10).cast(
        "bigint"
    )
    split = (
        F.when(h < 230, "train").when(h < 243, "val").otherwise("test").alias("split")
    )
    return docs.groupBy("lang", split).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(TX.token_count("text")).cast("bigint").alias("total_tokens"),
    )


@query(
    "token_budget_take_stats",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, len({_TOKENS.format(c="text")}) AS n_toks,
             md5(CAST(doc_id AS VARCHAR)) AS h
      FROM documents
    ), c AS (
      SELECT lang, n_toks,
             SUM(n_toks) OVER (
               ORDER BY h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum
      FROM t
    )
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS total_tokens
    FROM c WHERE cum <= 10000 GROUP BY 1
    """,
    tags=("text", "sampling", "training-data"),
)
def token_budget_take_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic token-budget subsampling: hash-shuffle the corpus
    (md5 of doc_id — rerun/append-stable like the split op), take the
    strict prefix whose running token sum stays ≤ 10 000, report per-
    language doc/token counts of the selection. The oracle is the naive
    global-window cumulative sum; operators/ids.budgeted_take computes
    the same prefix with range-partition + broadcast offsets — no
    single-task sort barrier, same two-pass discipline as the
    contiguous-id assigner. Weights are integer token counts, so the
    budget boundary is exact on both engines."""
    from ..operators.ids import budgeted_take

    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id",
        "lang",
        TX.token_count("text").alias("n_toks"),
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    taken = budgeted_take(docs, ["h", "doc_id"], "n_toks", budget=10_000)
    return taken.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_toks").cast("bigint").alias("total_tokens"),
    )


@query(
    "doc_char_class_profile",
    oracle="""
    SELECT lang,
           CAST(SUM(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))) AS BIGINT)
             AS alpha_chars,
           CAST(SUM(length(regexp_replace(text, '[^0-9]', '', 'g'))) AS BIGINT)
             AS digit_chars,
           CAST(SUM(length(regexp_replace(text, '[^ ]', '', 'g'))) AS BIGINT)
             AS space_chars,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars
    FROM documents GROUP BY 1
    """,
    tags=("text", "profile"),
)
def doc_char_class_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-class composition per language (alpha/digit/space vs
    total) — the cheap first-pass corpus profile that flags OCR noise,
    number dumps, or markup residue before any tokenization. Counting
    via strip-and-measure regexp_replace (identical RE2-safe patterns
    both engines); integer-exact, pure codegen projection, lang-sized
    aggregate."""
    docs = load_table(spark, "documents", sf_dir)

    def count_class(pattern: str) -> Column:
        return F.length(F.regexp_replace("text", pattern, ""))

    return docs.groupBy("lang").agg(
        F.sum(count_class("[^a-zA-Z]")).cast("bigint").alias("alpha_chars"),
        F.sum(count_class("[^0-9]")).cast("bigint").alias("digit_chars"),
        F.sum(count_class("[^ ]")).cast("bigint").alias("space_chars"),
        F.sum(F.length("text")).cast("bigint").alias("total_chars"),
    )


@query(
    "user_activity_concentration",
    oracle="""
    WITH per_user AS (
      SELECT user_id, COUNT(*) AS n FROM events GROUP BY 1
    ), ranked AS (
      SELECT user_id, n,
             ROW_NUMBER() OVER (ORDER BY n DESC, user_id ASC) AS r,
             COUNT(*) OVER () AS nu
      FROM per_user
    )
    SELECT CAST(SUM(CASE WHEN r * 10 <= nu THEN n ELSE 0 END) AS BIGINT)
             AS top_decile_events,
           CAST(SUM(n) AS BIGINT) AS total_events,
           CAST(MAX(nu) AS BIGINT) AS n_users
    FROM ranked
    """,
    tags=("events", "skew", "observability"),
)
def user_activity_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity concentration: how many events the top 10% of users (by
    event count, integer cross-product decile test ``r*10 <= nu``)
    account for — the hot-key/abuse signal that decides whether the
    per-user pipelines need salting. The global rank over the per-user
    relation is computed with operators/ids.assign_contiguous_ids'
    two-pass range-partition discipline — NOT an unpartitioned
    ``row_number`` window, which is a single-task sort that would make
    this observability query the bottleneck it is meant to detect at
    billions of users (round-3 VERDICT item 4). The events scan runs
    once: the rank operator materializes the user-sized per_user
    relation, and the ``nu`` total re-reads that materialization."""
    from ..operators.ids import assign_contiguous_ids

    events = load_table(spark, "events", sf_dir)
    per_user = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    ranked0 = assign_contiguous_ids(
        per_user, [F.col("n").desc(), F.col("user_id").asc()], id_name="r0"
    )
    nu_df = ranked0.select("user_id").agg(F.count(F.lit(1)).alias("nu"))
    ranked = ranked0.withColumn("r", F.col("r0") + 1).crossJoin(F.broadcast(nu_df))
    return ranked.agg(
        F.sum(F.when(F.col("r") * 10 <= F.col("nu"), F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("top_decile_events"),
        F.sum("n").cast("bigint").alias("total_events"),
        F.max("nu").cast("bigint").alias("n_users"),
    )


_SPLIT_CASE = """CASE WHEN hh < 230 THEN 'train' WHEN hh < 243 THEN 'val'
                      ELSE 'test' END"""
_DOC_HASH = """CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 2))
               AS BIGINT)"""


@query(
    "split_leakage_audit",
    # Same hash-split CTE as train_val_test_split_stats; the overlap
    # join is integer-count arithmetic keyed on the shingle string —
    # exact on both engines.
    oracle=f"""
    WITH d AS (
      SELECT doc_id, lang, text, {_DOC_HASH} AS hh FROM documents
    ), sd AS (
      SELECT doc_id, lang, text, {_SPLIT_CASE} AS split FROM d
    ), s AS (
      SELECT doc_id, split,
             {_SHINGLES.format(t=_TOKENS.format(c="text"))} AS shingle
      FROM sd
    ), tr AS (
      SELECT DISTINCT shingle FROM s WHERE split = 'train'
    ), hits AS (
      SELECT s.doc_id, COUNT(*) AS n_sh, COUNT(tr.shingle) AS n_hit
      FROM s LEFT JOIN tr USING (shingle)
      WHERE s.split = 'test'
      GROUP BY 1
    ), per_doc AS (
      -- shingle-less test docs (<3 tokens) are RETAINED with n_sh = 0 so
      -- n_test_docs counts the same denominator as dup_leakage_across_split
      SELECT sd.doc_id, sd.lang,
             COALESCE(h.n_sh, 0) AS n_sh, COALESCE(h.n_hit, 0) AS n_hit
      FROM sd LEFT JOIN hits h USING (doc_id)
      WHERE sd.split = 'test'
    )
    SELECT lang, COUNT(*) AS n_test_docs,
           CAST(SUM(CASE WHEN n_hit > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS leaky_test_docs,
           CAST(SUM(n_sh) AS BIGINT) AS test_shingles,
           CAST(SUM(n_hit) AS BIGINT) AS overlapping_shingles
    FROM per_doc GROUP BY 1
    """,
    tags=("text", "split", "decontamination", "training-data"),
)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set contamination audit for the hash train/val/test split:
    per language, how many TEST documents share at least one 3-word
    shingle with ANY train document, and what fraction of their shingle
    mass overlaps. This is the check that catches the leakage a
    random-split pipeline ships silently — eval scores inflated by
    training on near-copies of the test set. Scale shape: one shingle
    explode per doc (set semantics), the train side reduced to a
    DISTINCT shingle relation, one equi-join keyed on the shingle — the
    Jaccard posting-list discipline, linear in corpus shingle mass,
    never doc×doc. Test docs with <3 tokens have no shingles but are
    RETAINED with n_sh = 0 (explode_outer), so n_test_docs counts the
    same denominator as dup_leakage_across_split (round-4 ADVICE)."""
    docs = load_table(spark, "documents", sf_dir)
    hh = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10).cast(
        "bigint"
    )
    split = F.when(hh < 230, "train").when(hh < 243, "val").otherwise("test")
    base = docs.select(
        "doc_id",
        "lang",
        split.alias("split"),
        F.explode_outer(TX.word_shingles("text", 3)).alias("shingle"),
    )
    train_sh = (
        base.filter((F.col("split") == "train") & F.col("shingle").isNotNull())
        .select("shingle")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    # NULL shingle rows (shingle-less docs) never match the left join and
    # are excluded from n_sh by count("shingle") — the doc survives with 0.
    per_doc = (
        base.filter(F.col("split") == "test")
        .join(train_sh, "shingle", "left")
        .groupBy("doc_id", "lang")
        .agg(
            F.count("shingle").alias("n_sh"),
            F.count("__hit").alias("n_hit"),
        )
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_test_docs"),
        F.sum((F.col("n_hit") > 0).cast("bigint")).cast("bigint").alias("leaky_test_docs"),
        F.sum("n_sh").cast("bigint").alias("test_shingles"),
        F.sum("n_hit").cast("bigint").alias("overlapping_shingles"),
    )


@query(
    "dup_leakage_across_split",
    # Prefix-fingerprint grouping (the dup_quality_interaction idiom)
    # intersected with the hash split: integer-exact, one equi-join on
    # the fingerprint. Registered mid-round-4, deferred to round 5.
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, md5(substr(text, 1, 120)) AS pfp, {_DOC_HASH} AS hh
      FROM documents
    ), s AS (
      SELECT doc_id, lang, pfp, {_SPLIT_CASE} AS split FROM t
    ), tr AS (
      SELECT DISTINCT pfp FROM s WHERE split = 'train'
    ), te AS (
      SELECT doc_id, lang, pfp FROM s WHERE split = 'test'
    )
    SELECT lang, COUNT(*) AS n_test_docs,
           CAST(SUM(CASE WHEN tr.pfp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS dup_leaked_docs
    FROM te LEFT JOIN tr USING (pfp)
    GROUP BY 1
    """,
    tags=("text", "split", "dedup", "training-data"),
)
def dup_leakage_across_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate leakage across the train/test hash split: per
    language, how many TEST documents are prefix-fingerprint duplicates
    of some TRAIN document. The complement of split_leakage_audit —
    that one measures soft n-gram contamination, this one exact-copy
    leakage, the case where eval inflation is total. Key-hash splitting
    cannot prevent duplicate leakage (copies have different doc_ids →
    independent splits), which is exactly why a pipeline must dedup
    BEFORE splitting; this query is the audit that proves whether it
    did. One equi-join on the 16-byte fingerprint; the train side
    reduces to DISTINCT fingerprints."""
    docs = load_table(spark, "documents", sf_dir)
    hh = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10).cast(
        "bigint"
    )
    split = F.when(hh < 230, "train").when(hh < 243, "val").otherwise("test")
    t = docs.select(
        "doc_id",
        "lang",
        F.md5(F.substring("text", 1, 120)).alias("pfp"),
        split.alias("split"),
    )
    tr = (
        t.filter(F.col("split") == "train").select("pfp").distinct()
        .withColumn("__hit", F.lit(1))
    )
    te = t.filter(F.col("split") == "test")
    return (
        te.join(tr, "pfp", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_test_docs"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0)).cast("bigint"))
            .cast("bigint")
            .alias("dup_leaked_docs"),
        )
    )


@query(
    "order_shipping_lag",
    oracle="""
    SELECT o.o_orderpriority AS priority,
           COUNT(*) AS n_lines,
           CAST(SUM(date_diff('day', CAST(o.o_orderdate AS DATE),
                              CAST(l.l_shipdate AS DATE))) AS BIGINT)
             AS total_lag_days,
           CAST(MAX(date_diff('day', CAST(o.o_orderdate AS DATE),
                              CAST(l.l_shipdate AS DATE))) AS INT)
             AS max_lag_days
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
    """,
    tags=("analytics", "join", "temporal"),
)
def order_shipping_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship lag distribution per priority (integer day diffs —
    exact on both engines). The fact-fact equi-join shuffles on
    l_orderkey/o_orderkey; day arithmetic and the per-priority aggregate
    are codegen with map-side partials."""
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_shipdate")
    lag = F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(lag).cast("bigint").alias("total_lag_days"),
            F.max(lag).cast("int").alias("max_lag_days"),
        )
    )
