"""Shared lifecycle core for the two persisted streaming indexes —
the dedup LSH band index (`streaming/dedup_stream.py`) and the ANN
cell index (`streaming/ann_stream.py`).

Both indexes are the same on-disk machine: append-only
``__batch_id``-partitioned parquet kept current by a strictly serial
``foreachBatch`` sink, with (a) a committed-watermark rule deciding
which partitions can never replay, (b) a compaction FOLD that
consolidates committed partitions into negative-id chunks via
scratch-write → publish-rename → delete ordering, (c) ``.maxbatch``
(and optional ``.maxts``) age sidecars so retention can expire
consolidated content, and (d) partition-granular RETENTION. Round 11
shipped those protocols twice, deliberately mirrored; round-11 VERDICT
item 4 asked for one core with the two indexes as policies — the
index-specific part (what a consolidated row IS) enters as a
callable, and every safety-critical ordering lives HERE, once.

Contracts (shared by both indexes; each module's public functions
document their own specifics):

* **Watermark safety.** Only partitions at or below the stream
  checkpoint's committed watermark (:func:`last_committed_batch`) may
  be folded: committed batches never replay, and any future batch k
  still selects consolidated rows through its ``__batch_id < k``
  pre-batch filter, because consolidated chunks take fresh NEGATIVE
  ids below every real batch id. Folding an uncommitted batch would
  let its replay see its own rows.
* **Crash safety by ordering, not locks.** Fold: (1) consolidated
  rows land in a dot-prefixed scratch Spark's file index ignores, (2)
  one rename publishes the chunk, (3) only then are the folded
  sources deleted. The rename is atomic on HDFS/local; on object
  stores it degrades to copy+delete, leaving at worst duplicate rows
  that both indexes absorb by construction (miner ``distinct`` /
  serve-path newest-row resolve) and the next fold re-distincts.
* **Age markers fail safe.** The fold drops the per-row partition id,
  so a chunk's newest ingest batch rides in a ``.maxbatch`` sidecar
  (written after publish, before source delete). Unknown age — a
  crash in that window, or folding a pre-marker chunk — means the
  partition is never pruned: retention errs toward retaining.
* **Concurrency.** Fold and prune delete files a concurrent scan may
  have listed: run them with the stream stopped or inside the sink's
  own foreachBatch thread (strictly serial micro-batches), never from
  a sidecar process against a live stream.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..fsutil import (
    fs_delete,
    fs_dir_size,
    fs_exists,
    fs_read_text,
    fs_rename,
    fs_write_text,
    list_child_names,
)


def last_committed_batch(spark: SparkSession, checkpoint_dir: str) -> int:
    """Highest micro-batch id the checkpoint has COMMITTED (the
    ``commits/`` log — public Structured Streaming checkpoint layout:
    one integer-named file per committed batch). Batches ≤ this id can
    never replay, which makes them safe to fold. Returns -1 for a
    fresh/absent checkpoint (nothing committed — only the bootstrap
    partition is foldable, i.e. compaction is a no-op)."""
    best = -1
    for name in list_child_names(spark, checkpoint_dir + "/commits"):
        try:
            best = max(best, int(name))
        except ValueError:
            continue  # .tmp / metadata files
    return best


def list_batch_partitions(spark: SparkSession, index_dir: str) -> list[int]:
    """The ``__batch_id`` partition ids present under ``index_dir``."""
    return [
        int(name.split("=", 1)[1])
        for name in list_child_names(spark, index_dir, dirs_only=True)
        if name.startswith("__batch_id=")
    ]


def max_ingest_marker(spark: SparkSession, base: str, part_id: int) -> int | None:
    """The NEWEST ingest batch id a partition's rows came from: the id
    itself for batch/bootstrap partitions (ids ≥ -1), the ``.maxbatch``
    marker the fold writes for consolidated chunks (ids < -1 — the
    fold drops the per-row partition id, so age must ride in a
    sidecar). None = unknown (pre-marker chunk, or a fold whose
    sources were themselves unknown): retention treats unknown as
    un-prunable, the direction that never deletes fresh content."""
    if part_id >= -1:
        return part_id
    txt = fs_read_text(spark, f"{base}/__batch_id={part_id}/.maxbatch")
    if txt is None:
        return None
    try:
        return int(txt.strip())
    except ValueError:
        return None


def max_ingest_ts_marker(
    spark: SparkSession, base: str, part_id: int
) -> float | None:
    """The newest EVENT-TIME any of a partition's rows carried, from
    the ``.maxts`` sidecar a ``ts_col``-configured sink writes per
    batch partition (and the fold propagates to chunks). None =
    unknown — a partition written without event-time tracking, or a
    fold over such sources — and unknown is never pruned, exactly as
    with :func:`max_ingest_marker`. Unlike batch age, EVERY partition
    needs the sidecar (a batch id does not encode a time)."""
    txt = fs_read_text(spark, f"{base}/__batch_id={part_id}/.maxts")
    if txt is None:
        return None
    try:
        return float(txt.strip())
    except ValueError:
        return None


def latest_known_ts(spark: SparkSession, index_dir: str) -> float | None:
    """The newest event time any partition's ``.maxts`` marker
    records — the reference point for relative time retention ("drop
    content older than N seconds"): the cutoff is THIS minus the
    window, i.e. stream-time like a watermark, never wall-clock (a
    paused stream must not age its corpus out). None when no
    partition tracks event time."""
    base = index_dir.rstrip("/")
    known = [
        t
        for v in list_batch_partitions(spark, index_dir)
        if (t := max_ingest_ts_marker(spark, base, v)) is not None
    ]
    return max(known) if known else None


def write_age_markers(
    spark: SparkSession,
    base: str,
    new_id: int,
    source_ids: list[int],
) -> None:
    """Stamp a freshly published partition's age sidecars from its
    SOURCES (read before they are deleted): ``.maxbatch`` = the max
    known ingest batch, ``.maxts`` = the max known event time. Either
    marker is written only when EVERY source knows it — a partial max
    would claim the chunk older than some of its rows and let
    retention delete fresh content."""
    ingests = [max_ingest_marker(spark, base, v) for v in source_ids]
    if all(i is not None for i in ingests):
        fs_write_text(
            spark, f"{base}/__batch_id={new_id}/.maxbatch", str(max(ingests))
        )
    tss = [max_ingest_ts_marker(spark, base, v) for v in source_ids]
    if tss and all(t is not None for t in tss):
        fs_write_text(
            spark, f"{base}/__batch_id={new_id}/.maxts", repr(max(tss))
        )


def check_sink_retention(
    compact_every: int | None,
    compact_max_partitions: int | None,
    retain_batches: int | None,
    ts_col: str | None,
    retain_ts_seconds: float | None,
) -> None:
    """Reject a sink's retention options when they cannot work, at
    sink construction. Time retention needs an event-time column. Any
    retention combined with an in-sink MAXIMAL fold (``compact_every``
    set, ``compact_max_partitions=None``) is inert: every fold
    re-absorbs everything, expired rows and prior chunks included,
    into one chunk whose age markers are always inside the window, so
    partition-granular retention never prunes while the operator
    believes the corpus is bounded. The tiered fold is the compatible
    shape: it folds only the K oldest batch partitions, so chunks
    age-band and expire in arrival order."""
    if retain_ts_seconds is not None and ts_col is None:
        raise ValueError("retain_ts_seconds needs ts_col (no event time to age by)")
    if (retain_ts_seconds or retain_batches) and compact_every and compact_max_partitions is None:
        knob = "retain_ts_seconds" if retain_ts_seconds else "retain_batches"
        raise ValueError(
            f"{knob} with an in-sink MAXIMAL fold (compact_every "
            "set, compact_max_partitions=None) makes retention inert: "
            "every fold re-marks all content fresh. Pass "
            "compact_max_partitions=K (tiered fold) so chunks age-band "
            "and expire, or run maximal folds in maintenance windows."
        )


def prune_index_partitions(
    spark: SparkSession,
    index_dir: str,
    min_batch_id: int | None = None,
    min_ingest_ts: float | None = None,
) -> dict:
    """RETENTION: delete partitions whose NEWEST content is expired —
    ingested before batch ``min_batch_id``, or carrying no event time
    newer than ``min_ingest_ts`` (both cutoffs may be given; a
    partition expires when EVERY given cutoff says so — the
    conservative conjunction). Partition-granular: a chunk mixing old
    and fresh rows is retained whole; the tiered fold consolidates
    oldest-first, so chunks age-band and expire in arrival order.
    Unknown age (no marker) is never pruned."""
    if min_batch_id is None and min_ingest_ts is None:
        raise ValueError("prune needs min_batch_id and/or min_ingest_ts")
    base = index_dir.rstrip("/")
    removed = []
    for v in list_batch_partitions(spark, index_dir):
        if min_batch_id is not None:
            eff = max_ingest_marker(spark, base, v)
            if eff is None or eff >= min_batch_id:
                continue
        if min_ingest_ts is not None:
            eff_ts = max_ingest_ts_marker(spark, base, v)
            if eff_ts is None or eff_ts >= min_ingest_ts:
                continue
        fs_delete(spark, f"{base}/__batch_id={v}")
        removed.append(v)
    return {"pruned_partitions": len(removed), "pruned_ids": sorted(removed)}


def fold_index_partitions(
    spark: SparkSession,
    index_dir: str,
    upto_batch_id: int,
    read_consolidated: Callable[[list[int]], DataFrame],
    checkpoint_dir: str | None = None,
    max_fold_partitions: int | None = None,
    chunk_merge_at: int = 8,
) -> dict:
    """COMPACTION: fold partitions with ``__batch_id <= upto_batch_id``
    into consolidated negative-id partitions — the maintenance operator
    that keeps the per-read file LISTING flat over the stream's
    lifetime (one partition per micro-batch is 2,880/day at 30 s
    triggers: the classic small-files failure, hit at month scale even
    on a 1000-executor cluster).

    Policy callable: ``read_consolidated(ids)`` returns the rows to
    persist for those source partitions (each index's own schema,
    already distinct), written as parquet. Everything else — the
    watermark clamp, the scratch → rename → delete ordering, row-count
    observation on the write job itself, age markers, and the tier
    policy — is the shared contract (module docstring).

    Two shapes: ``max_fold_partitions=None`` folds EVERYTHING eligible
    into one partition (maximal reclaim — maintenance windows; measured
    to spike a live-wire batch, SCALE.md round 9). ``=K`` is the TIERED
    in-sink shape: fold only the K oldest BATCH partitions into one new
    chunk (never re-absorbing prior chunks), and when ``chunk_merge_at``
    chunks exist, merge the SMALLEST ``chunk_merge_at`` (by on-disk
    size — never repeatedly re-absorbing the one big old chunk) in a
    second bounded job. Steady-state partition count stays bounded
    whenever ``K - 1 >= compact_every``.

    Returns ``{"folded_partitions", "rows", "new_partition_id"}`` plus
    ``{"merged_chunks", "chunk_rows", "chunk_partition_id"}`` when a
    chunk merge also ran."""
    noop = {"folded_partitions": 0, "rows": 0, "new_partition_id": None}
    if not fs_exists(spark, index_dir):
        return noop
    if checkpoint_dir is not None:
        upto_batch_id = min(upto_batch_id, last_committed_batch(spark, checkpoint_dir))
    base = index_dir.rstrip("/")
    part_vals = list_batch_partitions(spark, index_dir)
    if not part_vals:
        return noop
    next_id = min(min(part_vals), -1) - 1

    def fold(ids: list[int], new_id: int) -> int:
        obs = Observation(f"fold_rows_{new_id}")
        consolidated = read_consolidated(ids).observe(
            obs, F.count(F.lit(1)).alias("n")
        )
        scratch = base + "/.compact_scratch"
        consolidated.write.mode("overwrite").parquet(scratch)
        if not fs_rename(spark, scratch, f"{base}/__batch_id={new_id}"):  # pragma: no cover - FS race
            raise IOError(f"index fold: publish rename failed under {index_dir}")
        write_age_markers(spark, base, new_id, ids)
        for v in ids:
            fs_delete(spark, f"{base}/__batch_id={v}")
        return obs.get["n"]

    eligible = sorted(v for v in part_vals if v <= upto_batch_id)
    if max_fold_partitions is None:
        if len(eligible) <= 1:
            return noop
        rows = fold(eligible, next_id)
        return {
            "folded_partitions": len(eligible),
            "rows": rows,
            "new_partition_id": next_id,
        }

    # tiered: oldest K batch partitions (bootstrap -1 counts as one),
    # prior chunks untouched by this tier
    batch_tier = [v for v in eligible if v >= -1][:max_fold_partitions]
    out = dict(noop)
    if len(batch_tier) >= 2:
        out = {
            "folded_partitions": len(batch_tier),
            "rows": fold(batch_tier, next_id),
            "new_partition_id": next_id,
        }
        next_id -= 1
    chunks = [v for v in part_vals if v < -1]
    if out["new_partition_id"] is not None:
        chunks.append(out["new_partition_id"])
    if len(chunks) >= chunk_merge_at:
        by_size = sorted(
            chunks, key=lambda v: (fs_dir_size(spark, f"{base}/__batch_id={v}"), v)
        )[:chunk_merge_at]
        out["merged_chunks"] = len(by_size)
        out["chunk_rows"] = fold(by_size, next_id)
        out["chunk_partition_id"] = next_id
    return out
