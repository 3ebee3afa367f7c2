"""Multimodal-column queries — image/audio/video payloads as opaque
BINARY columns with typed metadata (BASELINE.json north star:
"multimodal columns").

The test corpus has no real media, so the media table is derived
deterministically from `documents` (payload = utf-8 bytes of the text,
kind/metadata from stable column math). What the driver then checks
end-to-end is the real Spark plumbing: binary columns, metadata-struct
pruning BEFORE any decode, and the Arrow-batched mapInPandas decode
path (operators/multimodal.py) whose Python-side byte counts must agree
with DuckDB's octet_length — if the Arrow round trip corrupted or
re-encoded payloads, the oracle hash would catch it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators import multimodal as MM
from .registry import query

_KINDS = ("image", "audio", "video")


def media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → media rows matching operators/multimodal.MEDIA_SCHEMA.
    Deterministic: payload is the utf-8 encoding of the text; kind cycles
    by doc_id; width/height/duration derive from n_chars."""
    docs = load_table(spark, "documents", sf_dir, widen=True)
    kind = F.element_at(F.array(*[F.lit(k) for k in _KINDS]), (F.col("doc_id") % 3 + 1).cast("int"))
    return docs.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.struct(
            F.concat(F.lit("application/x-"), kind).alias("mime"),
            (F.col("n_chars") % 1024).cast("int").alias("width"),
            (F.col("n_chars") % 768).cast("int").alias("height"),
            (F.col("n_chars") * 10).cast("int").alias("duration_ms"),
        ).alias("meta"),
    )


@query(
    "multimodal_payload_stats",
    oracle="""
    SELECT doc_id AS media_id,
           ['image','audio','video'][(doc_id % 3 + 1)::INT] AS kind,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
    FROM documents
    WHERE (n_chars % 1024) >= 200
      AND ['image','audio','video'][(doc_id % 3 + 1)::INT] IN ('image', 'video')
    """,
    tags=("multimodal", "mapInPandas"),
)
def multimodal_payload_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-prune (kind + min width, struct predicates only — no
    payload touched) → Arrow-batched mapInPandas decode pass → per-media
    byte counts. The n_bytes values are computed in PYTHON inside the
    decode batches, so the oracle hash certifies the whole
    binary-through-Arrow round trip."""
    media = MM.metadata_prune(media_table(spark, sf_dir), min_width=200, kinds=("image", "video"))
    feats = MM.extract_features(media, decoder=MM.fake_decoder)
    return feats.select("media_id", "kind", F.col("n_bytes").cast("bigint").alias("n_bytes"))


@query(
    "multimodal_feature_batches",
    # The fake decoder's 4th feature is sum(payload_bytes) % 997, and the
    # corpus text is pure ASCII at every SF (checked: octet_length ==
    # length for all docs; a non-ASCII doc would surface as a loud hash
    # mismatch, never silent corruption), so DuckDB can replay the Python
    # kernel exactly: byte sum == sum of per-char code points. This
    # upgrades the
    # round-1 "err: no_oracle" row to a full value check of the
    # mapInPandas decode path (verdict item 5).
    oracle="""
    SELECT doc_id AS media_id,
           ['image','audio','video'][(doc_id % 3 + 1)::INT] AS kind,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           round(CASE
             WHEN length(text) = 0 THEN 0.0
             ELSE (list_aggregate(
                     list_transform(range(1, length(text) + 1), i -> ord(text[i])),
                     'sum') % 997)::DOUBLE
           END, 1) AS checksum_feature
    FROM documents
    """,
    tags=("multimodal", "mapInPandas"),
)
def multimodal_feature_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full decode/feature-extract surface: every media row through the
    batch-budgeted mapInPandas decoder, returning the feature vectors a
    real image/audio kernel would emit (deterministic fake here — the
    decode kernel is the documented injection point)."""
    feats = MM.extract_features(media_table(spark, sf_dir), decoder=MM.fake_decoder)
    return feats.select(
        "media_id",
        "kind",
        F.col("n_bytes").cast("bigint").alias("n_bytes"),
        F.round(F.element_at("feature", 4), 1).alias("checksum_feature"),
    )


@query(
    "multimodal_frame_sample",
    oracle="""
    WITH vids AS (
        SELECT doc_id AS media_id, n_chars * 10 AS duration_ms
        FROM documents
        WHERE ['image','audio','video'][(doc_id % 3 + 1)::INT] = 'video'
          AND doc_id < 300
    )
    SELECT media_id,
           CAST(unnest(range(0, least(duration_ms // 1000 + 1, 8))) AS INT) AS frame_idx,
           CAST(unnest(range(0, least(duration_ms // 1000 + 1, 8))) * 1000 AS INT) AS ts_ms
    FROM vids
    """,
    tags=("multimodal", "udtf", "frame-sample"),
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling (1 frame/s, capped at 8): the 1:N mapInPandas
    fan-out of operators/multimodal.sample_frames with the deterministic
    fake sampler. The oracle independently recomputes the expected
    (media_id, frame_idx, ts_ms) lattice from the metadata — verifying
    the fan-out arithmetic and lineage columns; payload bytes are checked
    in pytest (not SQL-expressible)."""
    media = media_table(spark, sf_dir).filter(F.col("media_id") < 300)
    frames = MM.sample_frames(
        media, every_ms=1000, max_frames=8, sampler=MM.fake_frame_sampler
    )
    return frames.select("media_id", "frame_idx", "ts_ms")
