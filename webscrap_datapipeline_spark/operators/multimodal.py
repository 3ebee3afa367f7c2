"""Multimodal column plumbing — image/audio/video as opaque BINARY
columns with typed metadata, processed through Arrow-batched mapInPandas
(BASELINE.json north star: "multimodal columns").

The decode kernels themselves are STUBBED (the container ships no
image/audio libs — documented contract: inject a real decoder in
production); everything Spark-side is real and tested:
  * the media schema (binary payload + struct metadata),
  * partition sizing for large blobs (bytes-per-batch budgeting),
  * the mapInPandas batch shape (iterator of pandas DataFrames — memory
    stays bounded at arrow-batch granularity, never whole-partition),
  * deterministic fake decoders for tests.

Scale notes: binary payloads dominate row width, so operators here
repartition by byte budget, not row count; metadata-only transforms
(filtering on width, codec, duration) prune BEFORE any decode via
ordinary column pushdown on the metadata struct.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),  # 'image' | 'audio' | 'video'
        T.StructField("payload", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType()),
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("duration_ms", T.IntegerType()),
                ]
            ),
        ),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)


def default_decoder(kind: str, payload: bytes) -> list[float]:
    """Production decode hook — REPLACE via ``decoder=`` injection.
    Raises by contract so a misconfigured cluster fails loudly instead of
    silently producing garbage features."""
    raise NotImplementedError(
        "no media decoder installed: inject decoder=... (image/audio libs "
        "are not available in this environment)"
    )


def fake_decoder(kind: str, payload: bytes) -> list[float]:
    """Deterministic stand-in used by tests: 4 features derived from the
    byte content (length, first/last byte, checksum) — exercises the full
    Arrow round trip with verifiable outputs."""
    if not payload:
        return [0.0, 0.0, 0.0, 0.0]
    return [
        float(len(payload)),
        float(payload[0]),
        float(payload[-1]),
        float(sum(payload) % 997),
    ]


def extract_features(
    media: DataFrame,
    decoder: Callable[[str, bytes], list[float]] = default_decoder,
    batch_budget_bytes: int = 64 << 20,
) -> DataFrame:
    """Decode/feature-extract every payload via mapInPandas. The decoder
    runs once per row inside Arrow batches; partitions are resized by
    total payload bytes so one executor never holds more than
    ``batch_budget_bytes`` of blobs per task (row-count partitioning is
    meaningless when rows are 10 KB–100 MB wide)."""
    sized = media.withColumn("__sz", F.coalesce(F.octet_length("payload"), F.lit(0)))
    total = sized.agg(F.sum("__sz")).first()[0] or 0
    n_parts = max(1, int(total / batch_budget_bytes) + 1)
    repartitioned = sized.repartition(n_parts).drop("__sz")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                decoder(k, bytes(p) if p is not None else b"")
                for k, p in zip(pdf["kind"], pdf["payload"])
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": [len(p) if p is not None else 0 for p in pdf["payload"]],
                    "feature": feats,
                }
            )

    return repartitioned.mapInPandas(run, FEATURE_SCHEMA)


def metadata_prune(media: DataFrame, min_width: int = 0, kinds: tuple[str, ...] = ()) -> DataFrame:
    """Metadata-level filtering — ordinary column predicates on the meta
    struct, pushed to the scan; no payload ever deserialized."""
    out = media
    if kinds:
        out = out.filter(F.col("kind").isin(*kinds))
    if min_width:
        out = out.filter(F.col("meta.width") >= min_width)
    return out


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("ts_ms", T.IntegerType()),
        T.StructField("payload", T.BinaryType()),
    ]
)


def default_frame_sampler(payload: bytes, ts_ms: int) -> bytes:
    """Production video-frame extraction hook (ffmpeg-shaped). Stub."""
    raise NotImplementedError("no video decoder installed: inject sampler=...")


def fake_frame_sampler(payload: bytes, ts_ms: int) -> bytes:
    """Deterministic stand-in: an 8-byte slice of the payload selected by
    the timestamp — enough to verify fan-out shape and per-frame lineage."""
    if not payload:
        return b""
    off = ts_ms % max(1, len(payload))
    return (payload * 2)[off : off + 8]


def sample_frames(
    media: DataFrame,
    every_ms: int = 1000,
    max_frames: int = 64,
    sampler: Callable[[bytes, int], bytes] = default_frame_sampler,
) -> DataFrame:
    """1:N frame sampling over video rows: each input row yields
    ``min(duration_ms // every_ms + 1, max_frames)`` frame rows via
    mapInPandas (the UDTF shape — SURVEY §2.9 X5 — over binary media).
    ``max_frames`` bounds the fan-out so one 10-hour video can't blow up
    a task's output; lineage (media_id, frame_idx, ts_ms) rides along."""

    vids = media.filter(F.col("kind") == "video")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"media_id": [], "frame_idx": [], "ts_ms": [], "payload": []}
            for mid, p, m in zip(pdf["media_id"], pdf["payload"], pdf["meta"]):
                duration = int((m or {}).get("duration_ms") or 0)
                n = min(duration // every_ms + 1, max_frames)
                raw = bytes(p) if p is not None else b""
                for i in range(n):
                    rows["media_id"].append(mid)
                    rows["frame_idx"].append(i)
                    rows["ts_ms"].append(i * every_ms)
                    rows["payload"].append(sampler(raw, i * every_ms))
            yield pd.DataFrame(rows)

    return vids.mapInPandas(run, FRAME_SCHEMA)
