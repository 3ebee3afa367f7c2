"""Cross-modal curation — duplicate evidence from BOTH the text channel
(word-3-gram Jaccard, frequency-capped posting lists) and the embedding
channel (hyperplane-LSH-bucketed cosine) merged into ONE duplicate graph
before survivor selection.

This is the shape a real 100 TB training-data curation run needs: exact
and fuzzy text dedup miss paraphrases/re-encodes that embedding
similarity catches, and embedding similarity misses short/templated text
that n-gram overlap catches — so the pipelines union their candidate
pairs into a single connected-components pass and keep one canonical
document per cluster, whatever mixture of evidence linked it.

Scale shape: each channel is independently sub-quadratic (posting lists
/ bucket equi-joins, both shuffling fixed-width keys), the union is a
cheap row union of (id, id) pairs, and the component loop only ever
touches vertices that appear in some candidate pair. Nothing here adds
a new shuffle class over the single-channel pipelines.

Reference lineage: generalizes the reference's exact drop_duplicates
dedup (src/utils.py:190) the same way plans/text_queries.py does, now
with multi-channel duplicate evidence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import _scan_partitions, load_table
from ..functions import text as TX
from ..functions.vectors import cosine
from ..operators import dedup as DD
from ..operators import similarity as SIM
from .registry import query
from .text_queries import _SHINGLE_CAP, _TOKENS
from .vector_queries import _COS, _ND_DIM, _ND_PLANES, _ND_SEED, _bucket_sql


def seeded_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cross-modal test corpus: docs 1:1 with embeddings plus the two
    planted-duplicate families (text-only evidence: same text, negated
    embedding; embedding-only evidence: same embedding, rewritten text).
    Extracted so scripts/spill_probe.py's channel mode builds the SAME
    corpus the flagship query mines — a reimplementation that drifted
    would measure a different workload (the count_volume lesson,
    round-6 review)."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "lang", "text")
    emb = load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    base = docs.join(emb, docs["doc_id"] == emb["vec_id"]).select(
        "doc_id", "lang", "text", "embedding"
    )
    # A broadcast join is as wide as its streamed scan, so the join
    # output takes load_table(widen=True)'s file-metadata rule: widen it
    # when both scans are narrower than the cluster (widening one scan
    # instead could widen the side that gets broadcast).
    width = spark.sparkContext.defaultParallelism
    if max(_scan_partitions(spark, docs), _scan_partitions(spark, emb)) < width:
        base = base.repartition(width)
    text_copies = base.filter(F.col("doc_id") % 15 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        "lang",
        "text",
        F.transform("embedding", lambda x: -x).alias("embedding"),
    )
    vec_copies = base.filter(F.col("doc_id") % 12 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        "lang",
        F.concat(F.lit("rewrite "), F.col("doc_id").cast("string")).alias("text"),
        "embedding",
    )
    # three consumers (text mine, vector mine, survivor agg) — one lazy
    # localCheckpoint materializes the seeded corpus once on first use.
    # The three-branch union stacks each branch's partitions (3× cluster
    # width here, since base was widened to defaultParallelism); bound
    # the checkpoint back to cluster width with a narrow coalesce so the
    # ~10 downstream stage scans don't each schedule 3× the tasks on
    # sliver partitions (measured 96 → 32 partitions per consumer scan
    # at sf0.1; no shuffle, no-op when already at/below width).
    return (
        base.unionByName(text_copies)
        .unionByName(vec_copies)
        .coalesce(width)
        .localCheckpoint(eager=False)
    )


def lsh_cosine_edges(corpus: DataFrame, n_planes: int) -> DataFrame:
    """The embedding channel: hyperplane-bucket, within-bucket equi-join,
    exact-cosine >= 0.9 filter. The oracled query passes the
    contract-frozen ``_ND_PLANES``; the production path passes
    ``SIM.auto_planes(corpus_count)`` — same code, one knob, so the
    spill probe exercises exactly the shipped channel."""
    b = SIM.lsh_bucket(
        corpus.select("doc_id", "embedding"),
        "embedding",
        dim=_ND_DIM,
        n_planes=n_planes,
        seed=_ND_SEED,
    )
    left = b.select(F.col("doc_id").alias("doc_a"), F.col("embedding").alias("ea"), "bucket")
    right = b.select(F.col("doc_id").alias("doc_b"), F.col("embedding").alias("eb"), "bucket")
    return (
        left.join(right, ["bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(cosine(F.col("ea"), F.col("eb")) >= 0.9)
        .select("doc_a", "doc_b")
    )


@query(
    "cross_modal_curation_stats",
    oracle=f"""
    WITH RECURSIVE base AS (
      SELECT d.doc_id, d.lang, d.text, e.embedding
      FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
    ), corpus AS (
      SELECT doc_id, lang, text, embedding FROM base
      UNION ALL
      -- text-only evidence: identical text, embedding negated (cosine -1)
      SELECT doc_id + 1000000, lang, text,
             list_transform(embedding, x -> -x)
      FROM base WHERE doc_id % 15 = 0
      UNION ALL
      -- embedding-only evidence: identical embedding, unrelated text
      SELECT doc_id + 2000000, lang, 'rewrite ' || doc_id, embedding
      FROM base WHERE doc_id % 12 = 0
    ), sh AS (
      SELECT doc_id AS doc, unnest(list_distinct(list_transform(
               range(1, greatest(len({_TOKENS.format(c="text")}) - 2, 0) + 1),
               i -> array_to_string(list_slice({_TOKENS.format(c="text")}, i, i + 2), ' ')
             ))) AS shingle
      FROM corpus
    ), sizes AS (
      SELECT doc, COUNT(*) AS sz FROM sh GROUP BY doc
    ), capped AS (
      SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= {_SHINGLE_CAP}
    ), inter AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
      JOIN capped c ON c.shingle = a.shingle
      GROUP BY 1, 2
    ), tedges AS (
      SELECT doc_a AS a, doc_b AS b FROM inter
      JOIN sizes sa ON sa.doc = doc_a
      JOIN sizes sb ON sb.doc = doc_b
      WHERE inter::DOUBLE / (sa.sz + sb.sz - inter) >= 0.5
    ), bucketed AS (
      SELECT doc_id, embedding, {_bucket_sql("embedding")} AS bucket FROM corpus
    ), vedges AS (
      SELECT a.doc_id AS a, b.doc_id AS b
      FROM bucketed a JOIN bucketed b
        ON a.bucket = b.bucket AND a.doc_id < b.doc_id
      WHERE {_COS.format(a="a.embedding", b="b.embedding")} >= 0.9
    ), edges AS (
      SELECT a, b FROM tedges UNION SELECT a, b FROM vedges
    ), sym AS (
      SELECT a, b FROM edges UNION SELECT b, a FROM edges
    ), reach(v, l) AS (
      SELECT a, a FROM sym
      UNION
      SELECT s.b, r.l FROM sym s JOIN reach r ON s.a = r.v
    ), comp AS (
      SELECT v, MIN(l) AS component FROM reach GROUP BY v
    ), survivors AS (
      SELECT doc_id, lang, text FROM corpus
      WHERE doc_id NOT IN (SELECT v FROM comp WHERE v <> component)
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(len({_TOKENS.format(c="text")})) AS BIGINT) AS total_tokens
    FROM survivors GROUP BY lang
    """,
    tags=("pipeline", "dedup", "similarity", "crossmodal", "flagship"),
)
def cross_modal_curation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal dedup end-to-end as one lazy plan. The corpus (docs
    1:1 with their embeddings) is seeded with two kinds of planted dups:

      * ``+1_000_000`` copies (every 15th doc): same text, NEGATED
        embedding — only the TEXT channel can link them;
      * ``+2_000_000`` copies (every 12th doc): same embedding, unrelated
        text — only the EMBEDDING channel can link them.

    Capped-Jaccard (>= 0.5) pairs ∪ LSH-bucketed-cosine (>= 0.9) pairs
    feed one hash-min connected-components pass; the min-id canonical
    per cluster survives; per-language doc/token stats come out. Both
    planted families MUST be eliminated — each requires a different
    channel, so the query fails if either channel (or the union/CC
    plumbing) silently degrades. Natural text near-dups get collapsed
    too, exactly as in corpus_curation_stats.

    The oracle replays all of it — shingle caps, hyperplane buckets,
    recursive-CTE reachability — as one DuckDB query.
    """
    from ..operators.components import dedup_survivors

    corpus = seeded_corpus(spark, sf_dir)

    tedges = (
        DD.jaccard_pairs(corpus, "text", "doc_id", n=3, max_shingle_freq=_SHINGLE_CAP)
        .filter(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b")
    )

    vedges = lsh_cosine_edges(corpus, _ND_PLANES)

    edges = tedges.unionByName(vedges)
    survivors = dedup_survivors(corpus, edges, "doc_id", "doc_a", "doc_b")
    return survivors.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(TX.token_count("text")).cast("bigint").alias("total_tokens"),
    )
