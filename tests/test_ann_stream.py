"""Streaming ANN index (streaming/ann_stream.py): twin-equality with
the batch operator, replay idempotence, geometry drift guard,
multiprobe recall, compaction/retention, newest-row upsert/duplicate
resolution, committed-prefix serving, and the no-corpus-shuffle serve
plan.

The module is part of the LLM-pipeline extension surface (the
reference has no similarity operators — SURVEY.md north star); its
protocols mirror streaming/dedup_stream.py, whose own pins live in
test_streaming.py.
"""

from __future__ import annotations

import json as _json
import os

import pytest
from pyspark.sql import functions as F

from webscrap_datapipeline_spark.operators.similarity import (
    brute_force_topk,
    lsh_topk,
)
from webscrap_datapipeline_spark.streaming.ann_stream import (
    ann_query_index,
    bootstrap_ann_index,
    compact_ann_index,
    incremental_ann_sink,
    prune_ann_index,
    read_ann_geometry,
    read_ann_index,
)

DIM = 64


def _emb(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).select(
        "vec_id", "embedding"
    )


def _rows(df, *cols):
    return {tuple(r[c] for c in cols) for r in df.collect()}


def _queries(emb, lo, hi):
    return emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def test_ann_sink_matches_batch_lsh_topk_and_replays_idempotently(
    spark, sf_dir, tmp_path
):
    """The streamed index must answer EXACTLY what the batch operator
    answers over the union corpus (same geometry, same total-order
    tiebreak) — and a replayed micro-batch must leave both the index
    and the answers unchanged (dynamic partition overwrite)."""
    emb = _emb(spark, sf_dir)
    index_dir = str(tmp_path / "ann_idx")
    boot = emb.filter(F.col("vec_id") < 60)
    b0 = emb.filter((F.col("vec_id") >= 60) & (F.col("vec_id") < 80))
    b1 = emb.filter((F.col("vec_id") >= 80) & (F.col("vec_id") < 100))
    queries = _queries(emb, 100, 105)

    # 6 planes = 64 buckets: coarse enough that a 100-vector corpus
    # actually produces candidates (12 planes' 4096 buckets do not)
    n = bootstrap_ann_index(boot, index_dir, dim=DIM, n_planes=6)
    assert n == boot.count()
    sink = incremental_ann_sink(index_dir, dim=DIM, n_planes=6)
    sink(b0, 0)
    sink(b1, 1)

    got = ann_query_index(spark, index_dir, queries, k=5)
    want = lsh_topk(
        boot.unionByName(b0).unionByName(b1), queries, k=5, dim=DIM, n_planes=6
    )
    cols = ("query_id", "vec_id", "rnk")
    assert _rows(got, *cols) == _rows(want, *cols)
    assert got.count() > 0  # the corpus is dense enough to produce hits

    # historical cut: upto_batch_id=1 serves the index as of batch 1
    got_cut = ann_query_index(spark, index_dir, queries, k=5, upto_batch_id=1)
    want_cut = lsh_topk(boot.unionByName(b0), queries, k=5, dim=DIM, n_planes=6)
    assert _rows(got_cut, *cols) == _rows(want_cut, *cols)

    # replay: re-running batch 0 rewrites exactly its own partition
    before = read_ann_index(spark, index_dir).count()
    sink(b0, 0)
    assert read_ann_index(spark, index_dir).count() == before
    assert _rows(ann_query_index(spark, index_dir, queries, k=5), *cols) == _rows(
        want, *cols
    )


def test_ann_geometry_guard_rejects_drift(spark, sf_dir, tmp_path):
    """A writer or reader running different hyperplane geometry against
    an existing index must fail LOUDLY: the silent alternative is
    near-zero recall (buckets computed under different planes are
    incomparable)."""
    emb = _emb(spark, sf_dir)
    index_dir = str(tmp_path / "ann_idx")
    bootstrap_ann_index(emb.filter(F.col("vec_id") < 20), index_dir, dim=DIM)
    geo = read_ann_geometry(spark, index_dir)
    assert geo["n_planes"] == 12 and geo["dim"] == DIM and geo["seed"] == 7

    drifted = incremental_ann_sink(index_dir, dim=DIM, n_planes=10)
    with pytest.raises(ValueError, match="geometry mismatch"):
        drifted(emb.filter(F.col("vec_id") < 25), 0)
    drifted_seed = incremental_ann_sink(index_dir, dim=DIM, seed=8)
    with pytest.raises(ValueError, match="geometry mismatch"):
        drifted_seed(emb.filter(F.col("vec_id") < 25), 0)
    # matching geometry proceeds
    incremental_ann_sink(index_dir, dim=DIM)(emb.filter(F.col("vec_id") < 25), 0)

    # the crash window: partition data WITHOUT a sidecar (writer died
    # before pinning geometry, or the sidecar was deleted) must refuse
    # rather than silently adopt the caller's geometry over rows
    # bucketed under an unknown one
    from webscrap_datapipeline_spark.streaming.ann_stream import GEOMETRY_FILE

    os.remove(os.path.join(index_dir, GEOMETRY_FILE))
    with pytest.raises(ValueError, match="no .* sidecar|re-bootstrap"):
        incremental_ann_sink(index_dir, dim=DIM)(
            emb.filter(F.col("vec_id") < 25), 1
        )


def test_ann_multiprobe_expands_candidates_and_recall(spark, sf_dir, tmp_path):
    """multiprobe=1 probes every Hamming-1 neighbor bucket: its
    candidate set is a SUPERSET of multiprobe=0's, so per-query top-1
    scores are monotonically >= and recall against brute force cannot
    drop. Pinned on the serve path and the batch operator both."""
    emb = _emb(spark, sf_dir)
    index_dir = str(tmp_path / "ann_idx")
    corpus = emb.filter(F.col("vec_id") >= 20)
    queries = _queries(emb, 0, 10)
    bootstrap_ann_index(corpus, index_dir, dim=DIM, n_planes=6)

    k = 10
    exact = {
        (r["query_id"], r["vec_id"])
        for r in brute_force_topk(corpus, queries, k=k).collect()
    }

    def recall(df):
        got = {(r["query_id"], r["vec_id"]) for r in df.collect()}
        return len(got & exact) / len(exact)

    mp0 = ann_query_index(spark, index_dir, queries, k=k, multiprobe=0)
    mp1 = ann_query_index(spark, index_dir, queries, k=k, multiprobe=1)
    r0, r1 = recall(mp0), recall(mp1)
    assert r1 >= r0
    assert mp1.count() >= mp0.count() and mp1.count() > 0
    top0 = {r["query_id"]: r["score"] for r in mp0.filter("rnk = 1").collect()}
    top1 = {r["query_id"]: r["score"] for r in mp1.filter("rnk = 1").collect()}
    for qid, s in top0.items():
        assert top1[qid] >= s - 1e-12

    # the batch operator's multiprobe agrees with the serve path
    want = lsh_topk(corpus, queries, k=k, dim=DIM, n_planes=6, multiprobe=1)
    cols = ("query_id", "vec_id", "rnk")
    assert _rows(mp1, *cols) == _rows(want, *cols)

    with pytest.raises(ValueError, match="multiprobe"):
        ann_query_index(spark, index_dir, queries, k=k, multiprobe=2)


def test_ann_compaction_preserves_answers_and_historical_cut(
    spark, sf_dir, tmp_path
):
    """compact_ann_index folds committed partitions without changing
    any answer — including historical ``upto_batch_id`` cuts and
    newest-row resolution, which both depend on the per-row
    ``__ingest`` the fold must persist (batch partitions carry it in
    the partition id; the consolidated chunk can't). Re-running the
    fold is a no-op; the chunk carries the .maxbatch age sidecar."""
    emb = _emb(spark, sf_dir)
    index_dir = str(tmp_path / "ann_idx")
    queries = _queries(emb, 200, 205)
    bootstrap_ann_index(
        emb.filter(F.col("vec_id") < 50), index_dir, dim=DIM, n_planes=4
    )
    sink = incremental_ann_sink(index_dir, dim=DIM, n_planes=4)
    for i, (lo, hi) in enumerate([(50, 100), (100, 150), (150, 200)]):
        sink(emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)), i)

    cols = ("query_id", "vec_id", "rnk")
    full_before = _rows(ann_query_index(spark, index_dir, queries, k=5), *cols)
    cut_before = _rows(
        ann_query_index(spark, index_dir, queries, k=5, upto_batch_id=2), *cols
    )
    rows_before = read_ann_index(spark, index_dir).count()
    assert len(full_before) > 0 and len(cut_before) > 0

    out = compact_ann_index(spark, index_dir, upto_batch_id=1)
    assert out["folded_partitions"] == 3  # bootstrap + batches 0, 1
    assert out["rows"] > 0
    parts = {
        r["__batch_id"]
        for r in spark.read.parquet(index_dir).select("__batch_id").distinct().collect()
    }
    assert parts == {out["new_partition_id"], 2}

    assert read_ann_index(spark, index_dir).count() == rows_before
    assert _rows(ann_query_index(spark, index_dir, queries, k=5), *cols) == full_before
    # the cut still excludes batch-2 rows AND still includes the folded
    # batch-0/1 rows — per-row __ingest survived the fold
    assert (
        _rows(ann_query_index(spark, index_dir, queries, k=5, upto_batch_id=2), *cols)
        == cut_before
    )

    # age sidecar for retention + re-run no-op
    from webscrap_datapipeline_spark.fsutil import fs_read_text

    assert fs_read_text(
        spark, f"{index_dir}/__batch_id={out['new_partition_id']}/.maxbatch"
    ).strip() == "1"
    again = compact_ann_index(spark, index_dir, upto_batch_id=1)
    assert again["folded_partitions"] == 0


def test_ann_retention_prunes_expired_partitions_only(spark, sf_dir, tmp_path):
    """prune_ann_index deletes partitions whose newest ingest predates
    the cutoff; consolidated chunks expire by their .maxbatch age, and
    unknown-age content is never pruned (fails safe)."""
    emb = _emb(spark, sf_dir)
    index_dir = str(tmp_path / "ann_idx")
    bootstrap_ann_index(emb.filter(F.col("vec_id") < 30), index_dir, dim=DIM)
    sink = incremental_ann_sink(index_dir, dim=DIM)
    for i, (lo, hi) in enumerate([(30, 60), (60, 90), (90, 120)]):
        sink(emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)), i)

    out = prune_ann_index(spark, index_dir, min_batch_id=1)
    assert out["pruned_ids"] == [-1, 0]
    kept = read_ann_index(spark, index_dir)
    assert kept.count() == 60  # batches 1 and 2 only
    assert {r["__ingest"] for r in kept.select("__ingest").distinct().collect()} == {1, 2}

    # fold the survivors, then expire the chunk by its sidecar age
    c = compact_ann_index(spark, index_dir, upto_batch_id=2)
    assert c["folded_partitions"] == 2
    assert prune_ann_index(spark, index_dir, min_batch_id=2)["pruned_ids"] == []
    assert prune_ann_index(spark, index_dir, min_batch_id=3)["pruned_ids"] == [
        c["new_partition_id"]
    ]
    assert read_ann_index(spark, index_dir).count() == 0

    # the in-sink retention wiring does the same under the sink thread
    index_dir2 = str(tmp_path / "ann_idx2")
    sink2 = incremental_ann_sink(index_dir2, dim=DIM, retain_batches=2)
    for i, (lo, hi) in enumerate([(0, 30), (30, 60), (60, 90)]):
        sink2(emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)), i)
    assert {
        r["__ingest"]
        for r in read_ann_index(spark, index_dir2).select("__ingest").distinct().collect()
    } == {1, 2}


def test_ann_time_based_retention_prunes_by_event_time(spark, sf_dir, tmp_path):
    """round-12 (round-11 VERDICT item 5): retain_ts_seconds bounds the
    ANN corpus in EVENT TIME. Pins: the cutoff is stream-time (newest
    .maxts minus the window); partitions with no event-time marker
    (the bootstrap) are never time-pruned — unknown age fails safe;
    folds over all-known sources propagate .maxts and the chunk then
    expires by event time; the knob without ts_col fails loudly."""
    from webscrap_datapipeline_spark.streaming.index_core import (
        max_ingest_ts_marker,
    )

    emb = _emb(spark, sf_dir)
    index_dir = str(tmp_path / "ann_idx")
    bootstrap_ann_index(emb.filter(F.col("vec_id") < 30), index_dir, dim=DIM)
    sink = incremental_ann_sink(
        index_dir, dim=DIM, ts_col="ts", retain_ts_seconds=300.0
    )
    mk = lambda lo, hi, ts: emb.filter(
        (F.col("vec_id") >= lo) & (F.col("vec_id") < hi)
    ).withColumn("ts", F.lit(float(ts)))
    sink(mk(30, 60, 100.0), 0)
    base = index_dir.rstrip("/")
    assert max_ingest_ts_marker(spark, base, 0) == 100.0
    sink(mk(60, 90, 200.0), 1)
    sink(mk(90, 120, 1000.0), 2)  # horizon 1000 → cutoff 700
    kept = read_ann_index(spark, index_dir)
    # batches 0 (ts 100) and 1 (ts 200) expired; the bootstrap has no
    # event-time marker and is RETAINED (unknown age fails safe)
    assert {r["__ingest"] for r in kept.select("__ingest").distinct().collect()} == {-1, 2}
    assert kept.count() == 60

    # fold over all-known sources → chunk carries .maxts and expires
    idx2 = str(tmp_path / "ann_idx2")
    sink2 = incremental_ann_sink(idx2, dim=DIM, ts_col="ts")
    sink2(mk(0, 30, 100.0), 0)
    sink2(mk(30, 60, 200.0), 1)
    out = compact_ann_index(spark, idx2, upto_batch_id=1)
    assert out["folded_partitions"] == 2
    assert max_ingest_ts_marker(spark, idx2, out["new_partition_id"]) == 200.0
    assert prune_ann_index(spark, idx2, min_ingest_ts=150.0)["pruned_ids"] == []
    assert prune_ann_index(spark, idx2, min_ingest_ts=250.0)["pruned_ids"] == [
        out["new_partition_id"]
    ]

    with pytest.raises(ValueError, match="needs ts_col"):
        incremental_ann_sink(index_dir, dim=DIM, retain_ts_seconds=10.0)
    with pytest.raises(ValueError, match="retention inert"):
        incremental_ann_sink(
            index_dir, dim=DIM, ts_col="ts", retain_ts_seconds=10.0,
            compact_every=2,
        )


def test_ann_serving_resolves_reingested_ids_to_newest(spark, sf_dir, tmp_path):
    """An id re-ingested with a new embedding yields TWO physical index
    rows (append-only). Serving resolves every (query, id) to the
    NEWEST candidate row by __ingest — one rank per distinct id,
    scored by the newest embedding whenever old and new share a probed
    bucket. Pinned by re-ingesting an id with an embedding equal to
    the query vector (its own old bucket is probed too at
    multiprobe=1)."""
    emb = _emb(spark, sf_dir)
    index_dir = str(tmp_path / "ann_idx")
    corpus = emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 60))
    qvec = emb.filter(F.col("vec_id") == 0)
    queries = qvec.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    bootstrap_ann_index(corpus, index_dir, dim=DIM)
    sink = incremental_ann_sink(index_dir, dim=DIM)
    # batch 0 re-ingests vec_id 10 with EXACTLY the query's embedding
    upsert = qvec.select(F.lit(10).cast("long").alias("vec_id"), "embedding")
    sink(upsert, 0)

    got = ann_query_index(spark, index_dir, queries, k=5, multiprobe=1).collect()
    per_id = [r["vec_id"] for r in got]
    assert per_id.count(10) == 1  # never two ranks for one id
    assert len(per_id) == len(set(per_id))
    top = sorted(got, key=lambda r: r["rnk"])[0]
    assert top["rnk"] == 1 and top["vec_id"] == 10
    assert top["score"] == pytest.approx(1.0, abs=1e-6)


def test_ann_duplicate_physical_rows_never_evict_a_neighbor(
    spark, sf_dir, tmp_path
):
    """The crash degradations the module documents (non-atomic
    compaction publish on an object store; the fold-publish window a
    concurrent reader can list) materialize as EXACT duplicate physical
    rows. The per-(query, id) resolve must collapse them: answers with
    a fully duplicated chunk present are identical to the clean index —
    without the resolve, each duplicate would occupy two ranks and
    evict the true k-th neighbor."""
    import shutil

    emb = _emb(spark, sf_dir)
    index_dir = str(tmp_path / "ann_idx")
    queries = _queries(emb, 200, 205)
    bootstrap_ann_index(
        emb.filter(F.col("vec_id") < 100), index_dir, dim=DIM, n_planes=4
    )
    sink = incremental_ann_sink(index_dir, dim=DIM, n_planes=4)
    sink(emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 200)), 0)

    cols = ("query_id", "vec_id", "rnk")
    clean = _rows(ann_query_index(spark, index_dir, queries, k=10), *cols)
    assert len(clean) > 0

    # fold, then simulate the crashed publish: the consolidated chunk
    # exists TWICE (its rows carry identical __ingest values)
    out = compact_ann_index(spark, index_dir, upto_batch_id=0)
    chunk = f"{index_dir}/__batch_id={out['new_partition_id']}"
    shutil.copytree(chunk, f"{index_dir}/__batch_id={out['new_partition_id'] - 1}")
    dup_rows = read_ann_index(spark, index_dir).count()
    assert dup_rows == 2 * out["rows"]  # duplicates really are on disk

    assert _rows(ann_query_index(spark, index_dir, queries, k=10), *cols) == clean
    # and the next fold re-distincts the duplicates away
    refold = compact_ann_index(spark, index_dir, upto_batch_id=0)
    assert refold["rows"] == out["rows"]
    assert read_ann_index(spark, index_dir).count() == out["rows"]


def test_ann_sink_on_live_stream_with_checkpoint(spark, sf_dir, tmp_path):
    """End-to-end on a real file-source stream: two micro-batches
    through writeStream.foreachBatch land as two index partitions, the
    geometry sidecar is written once, and the serve path answers over
    everything ingested."""
    emb = _emb(spark, sf_dir)
    rows = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 40).collect()
    }
    src_dir = str(tmp_path / "vec_in")
    ckpt = str(tmp_path / "ckpt_ann")
    index_dir = str(tmp_path / "ann_idx")
    os.makedirs(src_dir, exist_ok=True)

    sink = incremental_ann_sink(index_dir, dim=DIM, n_planes=4)
    stream = spark.readStream.schema("vec_id long, embedding array<float>").json(
        src_dir
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .start()
    )

    def write_batch(ids, fname):
        with open(os.path.join(src_dir, fname), "w") as f:
            for i in ids:
                f.write(_json.dumps({"vec_id": i, "embedding": rows[i]}) + "\n")

    try:
        write_batch(range(0, 20), "b0.json")
        q.processAllAvailable()
        write_batch(range(20, 40), "b1.json")
        q.processAllAvailable()
    finally:
        q.stop()

    idx = read_ann_index(spark, index_dir)
    assert idx.count() == 40
    assert {
        r["__ingest"] for r in idx.select("__ingest").distinct().collect()
    } == {0, 1}
    queries = _queries(emb, 50, 52)
    got = ann_query_index(spark, index_dir, queries, k=3, multiprobe=1)
    want = lsh_topk(
        emb.filter(F.col("vec_id") < 40), queries, k=3, dim=DIM, n_planes=4,
        multiprobe=1,
    )
    cols = ("query_id", "vec_id", "rnk")
    assert _rows(got, *cols) == _rows(want, *cols)
    assert got.count() > 0


def test_ann_query_plan_never_shuffles_the_corpus(spark, sf_dir, tmp_path):
    """The serve-path scale contract (module docstring): the corpus
    side is ONE scan feeding a BroadcastHashJoin with the query side
    built — no SortMergeJoin, no Exchange under the corpus input. The
    only Exchange in the whole plan moves candidate rows into the
    per-query top-k window. This is why plain partitioned parquet is
    the right index layout at every corpus size (the asymmetry with
    the dedup index's bucketed-table regime 2)."""
    emb = _emb(spark, sf_dir)
    index_dir = str(tmp_path / "ann_idx")
    bootstrap_ann_index(emb.filter(F.col("vec_id") >= 10), index_dir, dim=DIM)
    queries = _queries(emb, 0, 5)
    out = ann_query_index(spark, index_dir, queries, k=5, multiprobe=1)
    out.collect()  # AQE finalizes the adaptive plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    # AQE's toString prints BOTH the final and the initial plan — count
    # structure in the final section only
    final = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in final, plan[:2000]
    assert "SortMergeJoin" not in final, plan[:2000]
    # exactly two hash Exchanges, BOTH candidate-sized: candidates →
    # per-(query,id) resolve (partial-aggregated map-side first), then
    # resolved candidates → per-query top-k window. The corpus scan
    # feeds the join directly — no Exchange beneath it.
    assert final.count("Exchange hashpartitioning") == 2, plan[:2000]
    # the resolve really is partial-aggregated (duplicates collapse
    # map-side before the shuffle)
    assert "partial_max_by" in final or final.count("HashAggregate") >= 2, plan[:2000]


def test_ann_committed_serve_cut_reads_exactly_the_committed_prefix(
    spark, sf_dir, tmp_path
):
    """committed_serve_cut: serving a LIVE stream through the
    checkpoint watermark must answer over exactly the committed prefix
    (bootstrap + committed batches), repeatably, while later batches
    land — the read-consistent production posture (no locks: committed
    partitions are immutable, in-flight ones are partition-pruned
    before any file is opened)."""
    from webscrap_datapipeline_spark.streaming.ann_stream import (
        committed_serve_cut,
    )

    emb = _emb(spark, sf_dir)
    rows = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 60).collect()
    }
    src_dir = str(tmp_path / "vec_in")
    ckpt = str(tmp_path / "ckpt_ann")
    index_dir = str(tmp_path / "ann_idx")
    os.makedirs(src_dir, exist_ok=True)

    boot = emb.filter((F.col("vec_id") >= 40) & (F.col("vec_id") < 60))
    bootstrap_ann_index(boot, index_dir, dim=DIM, n_planes=4)
    queries = _queries(emb, 100, 103)
    cols = ("query_id", "vec_id", "rnk")

    # fresh checkpoint: cut serves the bootstrap only
    assert committed_serve_cut(spark, ckpt) == 0
    got0 = ann_query_index(spark, index_dir, queries, k=3, upto_batch_id=0)
    want0 = lsh_topk(boot, queries, k=3, dim=DIM, n_planes=4)
    assert _rows(got0, *cols) == _rows(want0, *cols)

    sink = incremental_ann_sink(index_dir, dim=DIM, n_planes=4)
    stream = spark.readStream.schema("vec_id long, embedding array<float>").json(
        src_dir
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .start()
    )

    def write_batch(ids, fname):
        with open(os.path.join(src_dir, fname), "w") as f:
            for i in ids:
                f.write(_json.dumps({"vec_id": i, "embedding": rows[i]}) + "\n")

    try:
        write_batch(range(0, 20), "b0.json")
        q.processAllAvailable()
        cut = committed_serve_cut(spark, ckpt)
        assert cut == 1
        # serve THROUGH the cut while the stream stays live; twin over
        # exactly the committed prefix (bootstrap + batch 0). Repeat the
        # query to pin repeatable-read at a fixed cut.
        prefix = boot.unionByName(emb.filter(F.col("vec_id") < 20))
        want = _rows(lsh_topk(prefix, queries, k=3, dim=DIM, n_planes=4), *cols)
        first = _rows(
            ann_query_index(spark, index_dir, queries, k=3, upto_batch_id=cut), *cols
        )
        assert first == want
        write_batch(range(20, 40), "b1.json")
        q.processAllAvailable()
        # the OLD cut still answers the OLD prefix after batch 1 landed
        again = _rows(
            ann_query_index(spark, index_dir, queries, k=3, upto_batch_id=cut), *cols
        )
        assert again == want
        # the NEW cut sees batch 1
        cut2 = committed_serve_cut(spark, ckpt)
        assert cut2 == 2
        full = boot.unionByName(emb.filter(F.col("vec_id") < 40))
        assert _rows(
            ann_query_index(spark, index_dir, queries, k=3, upto_batch_id=cut2), *cols
        ) == _rows(lsh_topk(full, queries, k=3, dim=DIM, n_planes=4), *cols)
    finally:
        q.stop()


def test_ann_ivf_kind_matches_batch_ivf_search(spark, sf_dir, tmp_path):
    """The IVF-celled index (codebook pinned in the geometry sidecar)
    must answer exactly what the batch operator ivf_search answers
    with the same centroids and nprobe over the union corpus — and the
    kind rides every existing protocol unchanged: replay idempotence,
    compaction with per-row __ingest, codebook drift guard."""
    from webscrap_datapipeline_spark.operators.clustering import (
        hash_sample_vectors,
    )
    from webscrap_datapipeline_spark.operators.similarity import ivf_search

    emb = _emb(spark, sf_dir)
    index_dir = str(tmp_path / "ann_ivf_idx")
    boot = emb.filter(F.col("vec_id") < 200)
    b0 = emb.filter((F.col("vec_id") >= 200) & (F.col("vec_id") < 300))
    b1 = emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 400))
    queries = _queries(emb, 400, 405)
    # deterministic codebook: hash-scattered sample (no training — the
    # twin uses the SAME literal centroids)
    cents = hash_sample_vectors(boot, "embedding", "vec_id", 8)

    bootstrap_ann_index(boot, index_dir, dim=DIM, centroids=cents)
    geo = read_ann_geometry(spark, index_dir)
    assert geo["kind"] == "ivf" and len(geo["centroids"]) == 8
    sink = incremental_ann_sink(index_dir, dim=DIM, centroids=cents)
    sink(b0, 0)
    sink(b1, 1)

    cols = ("query_id", "vec_id", "rnk")
    got = ann_query_index(spark, index_dir, queries, k=5, nprobe=2)
    want = ivf_search(
        boot.unionByName(b0).unionByName(b1),
        queries,
        [(i, c) for i, c in enumerate(cents)],
        k=5,
        nprobe=2,
    )
    assert _rows(got, *cols) == _rows(want, *cols)
    assert got.count() > 0

    # replay idempotence and compaction hold for the ivf kind verbatim
    before = read_ann_index(spark, index_dir).count()
    sink(b0, 0)
    assert read_ann_index(spark, index_dir).count() == before
    out = compact_ann_index(spark, index_dir, upto_batch_id=1)
    assert out["folded_partitions"] == 3
    assert _rows(ann_query_index(spark, index_dir, queries, k=5, nprobe=2), *cols) == _rows(
        want, *cols
    )

    # codebook drift = geometry drift: fails loudly
    other = [[x + 0.25 for x in c] for c in cents]
    with pytest.raises(ValueError, match="geometry mismatch"):
        incremental_ann_sink(index_dir, dim=DIM, centroids=other)(b0, 2)


def test_ann_geometry_migration_adopts_new_geometry(spark, sf_dir, tmp_path):
    """migrate_ann_index_geometry (round-11 VERDICT item 3): a
    retrained codebook / changed plane count is adopted by ONE whole-corpus re-bucket fold. After migration the
    index answers exactly what the batch operator answers under the
    NEW geometry over the same corpus, historical cuts keep answering
    (per-row __ingest survives), the retention age marker carries
    over, and the sink accepts only the new geometry."""
    from webscrap_datapipeline_spark.operators.clustering import (
        hash_sample_vectors,
    )
    from webscrap_datapipeline_spark.operators.similarity import ivf_search
    from webscrap_datapipeline_spark.streaming.ann_stream import (
        migrate_ann_index_geometry,
    )

    emb = _emb(spark, sf_dir)
    index_dir = str(tmp_path / "ann_idx")
    boot = emb.filter(F.col("vec_id") < 200)
    b0 = emb.filter((F.col("vec_id") >= 200) & (F.col("vec_id") < 300))
    b1 = emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 400))
    queries = _queries(emb, 400, 405)
    cols = ("query_id", "vec_id", "rnk")

    bootstrap_ann_index(boot, index_dir, dim=DIM, n_planes=6)
    sink = incremental_ann_sink(index_dir, dim=DIM, n_planes=6)
    sink(b0, 0)
    sink(b1, 1)

    # the retrained production codebook, trained on the live corpus
    full = boot.unionByName(b0).unionByName(b1)
    cents = hash_sample_vectors(full, "embedding", "vec_id", 8)
    out = migrate_ann_index_geometry(spark, index_dir, centroids=cents)
    assert out["migrated_partitions"] == 3 and out["rows"] == full.count()

    geo = read_ann_geometry(spark, index_dir)
    assert geo["kind"] == "ivf"
    want = ivf_search(
        full, queries, [(i, c) for i, c in enumerate(cents)], k=5, nprobe=2
    )
    got = ann_query_index(spark, index_dir, queries, k=5, nprobe=2)
    assert _rows(got, *cols) == _rows(want, *cols) and got.count() > 0

    # the historical cut answers the OLD prefix under the NEW geometry
    prefix = boot.unionByName(b0)
    want_cut = ivf_search(
        prefix, queries, [(i, c) for i, c in enumerate(cents)], k=5, nprobe=2
    )
    got_cut = ann_query_index(spark, index_dir, queries, k=5, nprobe=2, upto_batch_id=1)
    assert _rows(got_cut, *cols) == _rows(want_cut, *cols)

    # retention age carried over from the folded sources
    from webscrap_datapipeline_spark.fsutil import fs_read_text

    assert fs_read_text(
        spark, f"{index_dir}/__batch_id={out['new_partition_id']}/.maxbatch"
    ).strip() == "1"

    # the sink now accepts ONLY the new geometry
    b2 = emb.filter((F.col("vec_id") >= 400) & (F.col("vec_id") < 450))
    with pytest.raises(ValueError, match="geometry mismatch"):
        incremental_ann_sink(index_dir, dim=DIM, n_planes=6)(b2, 2)
    incremental_ann_sink(index_dir, dim=DIM, centroids=cents)(b2, 2)
    assert read_ann_index(spark, index_dir).count() == full.count() + b2.count()

    # migrating to the geometry the index already has is a no-op
    again = migrate_ann_index_geometry(spark, index_dir, centroids=cents)
    assert again["migrated_partitions"] == 0


def test_ann_geometry_migration_crash_at_every_step_recovers(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The migration's crash contract, at every step: the k-th mutating
    ``fsutil`` call of a clean migration raises, for every k. After the
    crash the index answers exactly the batch operator under ONE
    geometry (the old one until the commit rename, the new one after)
    or fails loudly with "no ANN index"; it never mixes. The next
    migration ends at the new geometry with no ``.old`` or ``.staging``
    sibling left. An uncommitted partition above the checkpoint
    watermark aborts."""
    import shutil

    import webscrap_datapipeline_spark.fsutil as fsutil
    import webscrap_datapipeline_spark.streaming.ann_stream as anns

    emb = _emb(spark, sf_dir)
    index_dir = str(tmp_path / "ann_idx")
    pristine = str(tmp_path / "pristine")
    queries = _queries(emb, 200, 203)
    cols = ("query_id", "vec_id", "rnk")
    bootstrap_ann_index(emb.filter(F.col("vec_id") < 150), index_dir, dim=DIM, n_planes=6)
    incremental_ann_sink(index_dir, dim=DIM, n_planes=6)(
        emb.filter((F.col("vec_id") >= 150) & (F.col("vec_id") < 200)), 0
    )
    shutil.copytree(index_dir, pristine)
    corpus = emb.filter(F.col("vec_id") < 200)
    want = {
        n: _rows(lsh_topk(corpus, queries, k=3, dim=DIM, n_planes=n), *cols)
        for n in (6, 4)
    }
    assert want[6] and want[4] and want[6] != want[4]

    calls = []
    crash_at = {"k": None}

    def patched(name, real):
        def call(*args):
            calls.append((name, args[1:]))
            if len(calls) == crash_at["k"]:
                raise RuntimeError(f"simulated crash at {name}")
            return real(*args)

        return call

    for name in ("fs_rename", "fs_delete", "fs_write_text"):
        real = getattr(fsutil, name)
        for mod in (fsutil, anns):
            if hasattr(mod, name):
                monkeypatch.setattr(mod, name, patched(name, real))

    def restore():
        for d in (index_dir, index_dir + ".old", index_dir + ".staging"):
            shutil.rmtree(d, ignore_errors=True)
        shutil.copytree(pristine, index_dir)

    def served():
        try:
            got = ann_query_index(spark, index_dir, queries, k=3)
        except ValueError as e:
            assert "no ANN index" in str(e)
            return None
        return read_ann_geometry(spark, index_dir)["n_planes"], _rows(got, *cols)

    # a clean migration's mutating calls, and the one that commits
    anns.migrate_ann_index_geometry(spark, index_dir, n_planes=4)
    clean = list(calls)
    commit = clean.index(("fs_rename", (index_dir + ".staging", index_dir))) + 1
    assert len(clean) >= 5, clean

    for k in range(1, len(clean) + 1):
        restore()
        calls.clear()
        crash_at["k"] = k
        with pytest.raises(RuntimeError, match="simulated crash"):
            anns.migrate_ann_index_geometry(spark, index_dir, n_planes=4)
        crash_at["k"] = None
        if k < commit:
            expect = (6, want[6])
        elif k == commit:
            expect = None  # between the two renames: no index, loud
        else:
            expect = (4, want[4])
        assert served() == expect, k
        anns.migrate_ann_index_geometry(spark, index_dir, n_planes=4)
        assert served() == (4, want[4]), k
        assert not os.path.exists(index_dir + ".old"), k
        assert not os.path.exists(index_dir + ".staging"), k

    # uncommitted partition above the watermark aborts (fresh ckpt:
    # wm=-1, so the batch-5 partition is provably uncommitted)
    incremental_ann_sink(index_dir, dim=DIM, n_planes=4)(
        emb.filter(F.col("vec_id") == 250), 5
    )
    with pytest.raises(ValueError, match="committed watermark"):
        anns.migrate_ann_index_geometry(
            spark, index_dir, n_planes=6,
            checkpoint_dir=str(tmp_path / "ckpt_none"),
        )


def test_ann_legacy_bucket_parts_sidecar_fails_loudly(spark, sf_dir, tmp_path):
    """The ``bucket_parts`` serve-prune layout was removed. An index
    whose sidecar still pins it is outside input: every reader and
    writer refuses it with a re-bootstrap message instead of serving or
    appending under a layout nothing writes any more, and a
    re-bootstrap replaces it."""
    from webscrap_datapipeline_spark.fsutil import fs_write_text
    from webscrap_datapipeline_spark.streaming.ann_stream import (
        GEOMETRY_FILE,
        migrate_ann_index_geometry,
    )

    emb = _emb(spark, sf_dir)
    index_dir = str(tmp_path / "ann_idx")
    corpus = emb.filter(F.col("vec_id") < 50)
    bootstrap_ann_index(corpus, index_dir, dim=DIM, n_planes=6)
    geo = read_ann_geometry(spark, index_dir)
    fs_write_text(
        spark,
        f"{index_dir}/{GEOMETRY_FILE}",
        _json.dumps({**geo, "bucket_parts": 8}, sort_keys=True),
    )
    removed = "layout removed, re-bootstrap"
    batch = emb.filter((F.col("vec_id") >= 50) & (F.col("vec_id") < 60))
    for call in (
        lambda: read_ann_index(spark, index_dir),
        lambda: ann_query_index(spark, index_dir, _queries(emb, 60, 62), k=3),
        lambda: incremental_ann_sink(index_dir, dim=DIM, n_planes=6)(batch, 0),
        lambda: compact_ann_index(spark, index_dir, upto_batch_id=0),
        lambda: migrate_ann_index_geometry(spark, index_dir, n_planes=4),
    ):
        with pytest.raises(ValueError, match=removed):
            call()
    bootstrap_ann_index(corpus, index_dir, dim=DIM, n_planes=6)
    assert read_ann_geometry(spark, index_dir) == geo
    assert read_ann_index(spark, index_dir).count() == corpus.count()


def test_ann_wrong_kind_recall_knob_and_malformed_codebook_fail_loudly(
    spark, sf_dir, tmp_path
):
    """The inapplicable recall knob must raise, not silently yield base
    recall (round-11 ADVICE): multiprobe is hyperplane-only, nprobe is
    IVF-only. And a codebook whose centroids don't match ``dim`` must
    fail at index creation — zip_with over mismatched arrays would
    otherwise truncate the distance fold silently."""
    from webscrap_datapipeline_spark.operators.clustering import (
        hash_sample_vectors,
    )

    emb = _emb(spark, sf_dir)
    corpus = emb.filter(F.col("vec_id") < 50)
    queries = _queries(emb, 50, 52)

    hp_dir = str(tmp_path / "hp_idx")
    bootstrap_ann_index(corpus, hp_dir, dim=DIM, n_planes=6)
    with pytest.raises(ValueError, match="nprobe is the IVF-kind"):
        ann_query_index(spark, hp_dir, queries, k=3, nprobe=2)
    # kind-correct knobs still serve
    assert ann_query_index(spark, hp_dir, queries, k=3, multiprobe=1).count() >= 0

    ivf_dir = str(tmp_path / "ivf_idx")
    cents = hash_sample_vectors(corpus, "embedding", "vec_id", 4)
    bootstrap_ann_index(corpus, ivf_dir, dim=DIM, centroids=cents)
    with pytest.raises(ValueError, match="multiprobe is the hyperplane-kind"):
        ann_query_index(spark, ivf_dir, queries, k=3, multiprobe=1)
    assert ann_query_index(spark, ivf_dir, queries, k=3, nprobe=2).count() >= 0

    with pytest.raises(ValueError, match="codebook/dim mismatch"):
        bootstrap_ann_index(
            corpus,
            str(tmp_path / "bad_idx"),
            dim=DIM,
            centroids=[[0.0] * (DIM - 1)] * 4,
        )
