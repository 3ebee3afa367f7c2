"""Golden unit tests for composite operators on tiny literal frames —
the semantic quirks SURVEY.md §5 calls out, plus LSH recall and the
effectful-source scaffold."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from webscrap_datapipeline_spark.functions.scalars import (
    clean_column_name,
    filename_timestamp,
    location_code,
    modified_filename,
)
from webscrap_datapipeline_spark.operators.change_detection import (
    detect_changes,
    update_state,
)
from webscrap_datapipeline_spark.operators.dedup import (
    jaccard_pairs,
    minhash_lsh_candidates,
    minhash_signatures,
)
from webscrap_datapipeline_spark.operators.scd import apply_current_flag
from webscrap_datapipeline_spark.operators.temporal import asof_join
from webscrap_datapipeline_spark.sources.scrape import RetryPolicy, fetch_partitioned


def test_change_detection_composite_subsumes_both_paths(spark):
    """J1 ∪ J2 ≡ one composite anti-join (SURVEY.md §3.2): new keys AND
    stale-ts keys both surface; unchanged don't; right-only state rows
    are silently dropped (reference src/utils.py:159 behavior)."""
    source = spark.createDataFrame(
        [("A", "t1"), ("B", "t2"), ("C", "t9"), ("C", "t9")], ["k", "ts"]
    )
    state = spark.createDataFrame(
        [("A", "t1"), ("C", "t3"), ("GONE", "t0")], ["k", "ts"]
    )
    out = detect_changes(source, state, "k", "ts")
    assert sorted(r["k"] for r in out.collect()) == ["B", "C"]  # B new, C stale, dup dropped


def test_change_detection_reverted_ts_counts_as_changed(spark):
    """Equality semantics, not ordering: a ts that moved BACKWARD is
    still a change (FIXTURES.md A3: compared by equality only)."""
    source = spark.createDataFrame([("A", "t1")], ["k", "ts"])
    state = spark.createDataFrame([("A", "t5")], ["k", "ts"])
    assert detect_changes(source, state, "k", "ts").count() == 1


def test_update_state_merges_and_appends(spark):
    state = spark.createDataFrame([("A", "t1"), ("B", "t2")], ["k", "ts"])
    updates = spark.createDataFrame([("B", "t9"), ("NEW", "t7")], ["k", "ts"])
    out = {r["k"]: r["ts"] for r in update_state(state, updates, "k", "ts").collect()}
    assert out == {"A": "t1", "B": "t9", "NEW": "t7"}


def test_scd_current_flag_protocol(spark):
    existing = spark.createDataFrame(
        [("L1", "2026-01-01", "Y", 1), ("L2", "2026-01-01", "Y", 2)],
        ["LOC_ID", "ts", "CURRENT_IND", "payload"],
    )
    incoming = spark.createDataFrame(
        [("L1", "2026-02-01", "Y", 3)], ["LOC_ID", "ts", "CURRENT_IND", "payload"]
    )
    out = apply_current_flag(existing, incoming, key="LOC_ID", ts="ts", tiebreak="payload")
    rows = {(r["LOC_ID"], r["ts"]): r["CURRENT_IND"] for r in out.collect()}
    assert rows[("L1", "2026-02-01")] == "Y"
    assert rows[("L1", "2026-01-01")] is None  # de-flagged, retained
    assert rows[("L2", "2026-01-01")] == "Y"  # untouched key keeps its flag
    # idempotence: replaying the same incoming batch changes nothing
    again = apply_current_flag(out, incoming, key="LOC_ID", ts="ts", tiebreak="payload")
    assert {(r["LOC_ID"], r["ts"], r["CURRENT_IND"]) for r in again.collect()} >= {
        ("L1", "2026-02-01", "Y"),
        ("L2", "2026-01-01", "Y"),
    }
    assert again.filter(F.col("CURRENT_IND") == "Y").count() == 2


def test_asof_join_golden(spark):
    t = dt.datetime
    left = spark.createDataFrame(
        [(1, "K", t(2024, 1, 10)), (2, "K", t(2024, 1, 20)), (3, "X", t(2024, 1, 5))],
        ["id", "k", "ts"],
    )
    right = spark.createDataFrame(
        [("K", t(2024, 1, 10)), ("K", t(2024, 1, 15)), ("Y", t(2024, 1, 1))],
        ["k", "rts"],
    )
    out = {r["id"]: r["matched_ts"] for r in
           asof_join(left, right, on="k", left_ts="ts", right_ts="rts").collect()}
    assert out[1] == t(2024, 1, 10)   # match AT the left timestamp (≤)
    assert out[2] == t(2024, 1, 15)   # latest ≤, not just any
    assert out[3] is None             # key with no right rows → NULL


def test_minhash_lsh_recall_of_high_jaccard_pairs(spark):
    """Every pair with Jaccard ≥ 0.7 must be recalled by 8×4 LSH banding
    (P[miss] = (1-s^4)^8 < 2% at s=0.7; the fixture pairs are ≥0.9)."""
    base = " ".join(f"word{i}" for i in range(30))  # 28 distinct 3-shingles
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base + " tail end"),                     # ~0.93 jaccard vs 1
            (3, "completely different content about spark engines and parquet files"),
            (4, base.replace("word10", "changed")),      # ~0.8 jaccard vs 1
        ],
        ["doc_id", "text"],
    )
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in jaccard_pairs(docs, "text", "doc_id").collect()
    }
    high = {p for p, j in exact.items() if j >= 0.7}
    assert high, "fixture must contain high-jaccard pairs"
    sigs = minhash_signatures(docs, "text", "doc_id")
    cands = {
        (r["doc_a"], r["doc_b"]) for r in minhash_lsh_candidates(sigs).collect()
    }
    assert high <= cands


def test_fetch_partitioned_http_adapter_real_socket(spark):
    """The per-partition init/retry contract proven against a real HTTP
    socket (urllib opener as the injected session), not a synthetic
    callable — the reference's download-with-retry
    (src/web_scrape.py:96-111,128-178) minus Selenium. A flaky endpoint
    503s on first hit and recovers: the retry must happen ON THE WIRE
    (server-side hit counter = 2), and a 404 must become a failed status
    row, never a task failure."""
    import threading
    import urllib.request
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    hits: dict[str, int] = {}

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802 - http.server API
            key = self.path.strip("/")
            hits[key] = hits.get(key, 0) + 1
            if key == "missing":
                self.send_error(404)
                return
            if key == "flaky" and hits[key] == 1:
                self.send_error(503)
                return
            body = f"payload-{key}".encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *args):  # keep pytest output clean
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    port = srv.server_address[1]
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        keys = spark.createDataFrame([("alpha",), ("flaky",), ("missing",)], ["k"])

        def factory():
            return urllib.request.build_opener()

        def fetch(opener, key):
            with opener.open(f"http://127.0.0.1:{port}/{key}", timeout=5) as r:
                return r.read().decode()

        out = {
            r["key"]: r
            for r in fetch_partitioned(
                keys,
                "k",
                factory,
                fetch,
                policy=RetryPolicy(tries=2, delay=0.05, backoff=1.0),
                num_partitions=2,
            ).collect()
        }
        assert out["alpha"]["status"] == "ok"
        assert out["alpha"]["payload"] == "payload-alpha"
        assert out["flaky"]["status"] == "ok"
        assert out["flaky"]["attempts"] == 2
        assert hits["flaky"] == 2  # the retry really crossed the socket
        assert out["missing"]["status"] == "failed"
        assert "404" in out["missing"]["error"]
    finally:
        srv.shutdown()
        srv.server_close()


def test_jaccard_shingle_cap_kills_boilerplate_pairs(spark):
    """The max_shingle_freq cap (the 100 TB quadratic-blowup guard, now
    the oracled path — round-1 verdict item 3): shingles whose posting
    list exceeds the cap must never reach pair fan-out. Docs related ONLY
    through over-cap boilerplate lose their pairs; pairs sharing rare
    shingles survive, with the intersection counted over capped shingles
    but sizes over the full distinct-shingle sets."""
    boiler = "click here to subscribe to our newsletter today"
    near_a = " ".join(f"alpha{i}" for i in range(20))
    rows = [
        (1, near_a + " " + boiler),
        (2, near_a + " extra tail " + boiler),
    ] + [
        (10 + i, f"unique{i} stuff{i} filler{i} words{i} " + boiler)
        for i in range(12)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    uncapped = {
        (r["doc_a"], r["doc_b"]) for r in jaccard_pairs(docs, "text", "doc_id", max_shingle_freq=None).collect()
    }
    capped = {
        (r["doc_a"], r["doc_b"]) for r in jaccard_pairs(docs, "text", "doc_id", max_shingle_freq=10).collect()
    }
    boiler_pairs = {p for p in uncapped if p[0] >= 10}  # related only via boilerplate
    assert boiler_pairs, "fixture must generate boilerplate-only pairs"
    assert (1, 2) in uncapped and (1, 2) in capped  # rare-shingle pair survives
    assert capped & boiler_pairs == set()  # over-cap shingles generate nothing


def test_fetch_partitioned_retry_and_status(spark):
    keys = spark.createDataFrame([("A",), ("B",), ("FAIL",)], ["k"])
    calls: dict[str, int] = {}

    def factory():
        return object()

    def fetch(session, key):
        if key == "FAIL":
            raise RuntimeError("boom")
        return f"payload-{key}"

    out = fetch_partitioned(
        keys, "k", factory, fetch,
        policy=RetryPolicy(tries=2, delay=0.0, backoff=1.0), num_partitions=2,
    )
    rows = {r["key"]: r for r in out.collect()}
    assert rows["A"]["status"] == "ok" and rows["A"]["payload"] == "payload-A"
    assert rows["FAIL"]["status"] == "failed" and rows["FAIL"]["attempts"] == 2
    assert "RuntimeError" in rows["FAIL"]["error"]


def test_scalar_functions_semantics(spark):
    df = spark.createDataFrame(
        [("ABCDE_08132026_14-30-05.csv",), ("no_timestamp_here.csv",)], ["fn"]
    )
    out = df.select(
        filename_timestamp("fn").alias("ts"),
        location_code("fn").alias("code"),
        modified_filename("fn").alias("mod"),
    ).collect()
    assert out[0]["ts"] == dt.datetime(2026, 8, 13, 14, 30, 5)
    assert out[0]["code"] == "ABCDE"
    assert out[0]["mod"] == "ABCDE_08132026_14-30-05_modified.csv"
    # unmatched regex → NULL, not NameError (reference bug fixed, §7.4)
    assert out[1]["ts"] is None
    # name normalization implements the reference's INTENT (§1.3)
    assert clean_column_name("Rate (USD)") == "RATE_USD"
    assert clean_column_name("Closed To Arrival") == "CLOSED_TO_ARRIVAL"
    assert clean_column_name("Base-Rate") == "BASE_RATE"


def test_lsh_topk_finds_planted_near_dups(spark):
    """A vector's exact copy lands in the same LSH bucket with
    probability 1 (identical hyperplane signs), so ANN top-k must rank
    it first with cosine ≈ 1 — the planted-neighbor recall contract.
    (Random Gaussian corpora have no cluster structure; recall against
    arbitrary brute-force top-k is legitimately near-zero there, so the
    planted pair is the honest test.)"""
    from webscrap_datapipeline_spark.catalog import load_table
    from webscrap_datapipeline_spark.operators.similarity import brute_force_topk, lsh_topk

    from tests.conftest import SF_SMALL

    emb = load_table(spark, "embeddings", SF_SMALL)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    copies = emb.filter(F.col("vec_id") < 3).select(
        (F.col("vec_id") + 1000).alias("vec_id"), "embedding"
    )
    corpus = emb.filter(F.col("vec_id") >= 3).select("vec_id", "embedding").unionByName(copies)
    for fn in (brute_force_topk, lambda c, q, k: lsh_topk(c, q, k, dim=64, n_planes=8)):
        top1 = {
            r["query_id"]: (r["vec_id"], r["score"])
            for r in fn(corpus, queries, 1).collect()
        }
        for qid in (0, 1, 2):
            vec, score = top1[qid]
            assert vec == qid + 1000
            assert abs(score - 1.0) < 1e-6


def test_auto_planes_scales_bits_with_corpus():
    """Fixed LSH plane counts go quadratic in candidate pairs as the
    corpus grows (measured ×16 pairs for ×4 data at 12 planes, SCALE.md
    round 6); auto_planes holds bucket occupancy — and the candidate
    join — linear by adding log2-many bits."""
    from webscrap_datapipeline_spark.operators.similarity import auto_planes

    # the measured corpora: ×256 (512k) keeps 12 bits, ×1024 (2.05M)
    # gets the two extra bits that restored near-linear candidates
    assert auto_planes(512_000) == 12
    assert auto_planes(2_048_000) == 14
    # ×4 data → exactly +2 bits at constant target occupancy
    for n in (100_000, 1_000_000, 10_000_000):
        assert auto_planes(4 * n) == auto_planes(n) + 2
    # monotonic in corpus size, clamped at both ends, total-garbage safe
    assert auto_planes(0) == 8
    assert auto_planes(10) == 8
    assert auto_planes(10**12) <= 30
    assert auto_planes(10**12, max_planes=24) == 24
    # integer-exact at power-of-two boundaries (round-8 ADVICE: the
    # ceil(log2(float)) form could round either way within one ulp;
    # bit_length arithmetic cannot — and the driver oracle replays the
    # same integer form in SQL)
    assert auto_planes(128 << 20) == 20  # n/occ exactly 2^20
    assert auto_planes((128 << 20) + 1) == 21  # one past the boundary
    assert auto_planes((128 << 20) - 1) == 20


def test_multimodal_extract_features_fake_decoder(spark):
    from webscrap_datapipeline_spark.operators.multimodal import (
        extract_features,
        fake_decoder,
        metadata_prune,
    )

    rows = [
        (1, "image", b"abc", ("image/png", 640, 480, 0)),
        (2, "audio", b"\x00\xff", ("audio/wav", 0, 0, 1200)),
        (3, "video", None, ("video/mp4", 320, 240, 5000)),
    ]
    media = spark.createDataFrame(
        rows, "media_id long, kind string, payload binary, meta struct<mime:string,width:int,height:int,duration_ms:int>"
    )
    out = {r["media_id"]: r for r in extract_features(media, decoder=fake_decoder).collect()}
    assert out[1]["n_bytes"] == 3
    assert out[1]["feature"] == [3.0, 97.0, 99.0, float((97 + 98 + 99) % 997)]
    assert out[2]["feature"][1] == 0.0 and out[2]["feature"][2] == 255.0
    assert out[3]["n_bytes"] == 0 and out[3]["feature"] == [0.0, 0.0, 0.0, 0.0]

    pruned = metadata_prune(media, min_width=300, kinds=("image", "video"))
    assert {r["media_id"] for r in pruned.collect()} == {1, 3}


def test_multimodal_decoder_contract_raises(spark):
    """default_decoder must fail loudly — a cluster without a real decode
    kernel should never silently emit garbage features."""
    import pytest as _pytest

    from webscrap_datapipeline_spark.operators.multimodal import default_decoder

    with _pytest.raises(NotImplementedError):
        default_decoder("image", b"payload")


def test_ivf_trained_centroids_balance_and_recall_on_sorted_corpus(spark):
    """Round-1 verdict item: "k lowest-id vectors as centroids" is
    degenerate on a sorted/label-clustered corpus — every seed lands in
    one region, one hot cell absorbs the rest of the corpus (skew at
    scale) and recall craters. The hash-scattered + Lloyd-refined seeds
    must (a) keep cells balanced on exactly that corpus shape and
    (b) agree with brute force on top-1."""
    import hashlib

    from webscrap_datapipeline_spark.operators.clustering import (
        hash_sample_vectors,
        kmeans_fit,
    )
    from webscrap_datapipeline_spark.operators.similarity import (
        brute_force_topk,
        ivf_assign,
        ivf_topk,
    )

    dim = 8

    def noise(i: int, j: int, scale: float = 0.5) -> float:
        h = hashlib.md5(f"{i}|{j}".encode()).digest()
        return (h[0] / 255.0 - 0.5) * 2 * scale

    centers = [[10.0 if d == c else 0.0 for d in range(dim)] for c in range(3)]
    rows = []
    vid = 0
    for c in range(3):  # ids grouped by cluster == worst-case sorted corpus
        for _ in range(50):
            rows.append((vid, [centers[c][d] + noise(vid, d) for d in range(dim)]))
            vid += 1
    corpus = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = spark.createDataFrame(
        [
            (q, [centers[q % 3][d] + noise(1000 + q, d) for d in range(dim)])
            for q in range(9)
        ],
        ["query_id", "query_vec"],
    )

    seeds = hash_sample_vectors(corpus, "embedding", "vec_id", 6)
    trained, _ = kmeans_fit(
        corpus.select("vec_id", "embedding"),
        "embedding",
        "vec_id",
        k=6,
        iters=2,
        init_centroids=seeds,
    )
    sizes = [
        r["count"]
        for r in ivf_assign(corpus, "embedding", list(enumerate(trained)))
        .groupBy("cid")
        .count()
        .collect()
    ]
    assert max(sizes) <= 75, f"hot cell: {sorted(sizes)}"  # ≤50% of corpus

    bf = {r["query_id"]: r["vec_id"] for r in brute_force_topk(corpus, queries, k=1).collect()}
    ivf = {
        r["query_id"]: r["vec_id"]
        for r in ivf_topk(
            corpus, queries, k=1, n_centroids=6, nprobe=3, train_iters=2
        ).collect()
    }
    agree = sum(1 for q in bf if ivf.get(q) == bf[q])
    assert agree >= 8, f"top-1 agreement {agree}/9 (bf={bf}, ivf={ivf})"


def test_ivf_topk_finds_planted_near_dups(spark):
    """A query's exact copy lies in the cell whose centroid is nearest
    the query vector itself — IVF with nprobe≥1 must rank it first."""
    from webscrap_datapipeline_spark.catalog import load_table
    from webscrap_datapipeline_spark.operators.similarity import ivf_topk

    from tests.conftest import SF_SMALL

    emb = load_table(spark, "embeddings", SF_SMALL)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    copies = emb.filter(F.col("vec_id") < 3).select(
        (F.col("vec_id") + 1000).alias("vec_id"), "embedding"
    )
    corpus = emb.filter(F.col("vec_id") >= 3).select("vec_id", "embedding").unionByName(copies)
    top1 = {
        r["query_id"]: (r["vec_id"], r["score"])
        for r in ivf_topk(corpus, queries, k=1, n_centroids=8, nprobe=2).collect()
    }
    for qid in (0, 1, 2):
        vec, score = top1[qid]
        assert vec == qid + 1000
        assert abs(score - 1.0) < 1e-6


def test_asof_join_takes_latest_right_at_or_before(spark):
    """Each left row gets the greatest right timestamp at or before its
    own, per key; NULL when the key has no such right row."""
    import datetime as _dt

    t = lambda d, h=0: _dt.datetime(2024, 1, d, h)  # noqa: E731
    left = spark.createDataFrame(
        [(1, t(10, 5)), (1, t(20)), (2, t(15)), (3, t(1))],
        "k int, ts timestamp",
    )
    right = spark.createDataFrame(
        [(1, t(10)), (1, t(12)), (2, t(15)), (2, t(16))],
        "k int, rts timestamp",
    )
    a = {(r["k"], r["ts"]): r["matched_ts"]
         for r in asof_join(left, right, on="k", left_ts="ts", right_ts="rts").collect()}
    assert a == {
        (1, t(10, 5)): t(10),  # latest right row before it
        (1, t(20)): t(12),
        (2, t(15)): t(15),  # match AT the timestamp
        (3, t(1)): None,  # no right rows for the key
    }


def test_approx_count_distinct_within_tolerance(spark):
    """HLL++ estimate must land within 5% of the exact distinct count
    per group (rsd=0.01 targets ~1%; 5% is the hard ceiling)."""
    from webscrap_datapipeline_spark.plans import REGISTRY

    from tests.conftest import SF_SMALL

    rows = REGISTRY["approx_distinct_users"].fn(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        exact = r["exact_users"]
        assert exact > 0
        assert abs(r["approx_users"] - exact) <= max(1, 0.05 * exact)


def test_seeded_sample_fraction_and_determinism(spark):
    """sample(0.1, seed) must be reproducible under the same seed and
    land within a loose tolerance of the nominal fraction."""
    from webscrap_datapipeline_spark.catalog import load_table

    from tests.conftest import SF_SMALL

    li = load_table(spark, "lineitem", SF_SMALL)
    total = li.count()
    a = li.sample(fraction=0.1, seed=42).count()
    b = li.sample(fraction=0.1, seed=42).count()
    assert a == b  # deterministic under fixed seed
    assert 0.05 * total < a < 0.2 * total


def test_salted_agg_matches_plain_groupby(spark):
    """Salted two-phase aggregation must equal the plain groupBy on a
    skewed input (one key holds ~90% of rows)."""
    from webscrap_datapipeline_spark.operators.skew import salted_agg

    rows = [("hot", i, float(i % 7)) for i in range(900)] + [
        (f"k{i % 5}", i, float(i)) for i in range(100)
    ]
    df = spark.createDataFrame(rows, "k string, uid int, v double")
    got = {
        r["k"]: (r["count_v"], r["sum_v"], r["min_v"], r["max_v"])
        for r in salted_agg(
            df, ["k"], [("v", "count"), ("v", "sum"), ("v", "min"), ("v", "max")],
            salt_from="uid", n_salts=8,
        ).collect()
    }
    want = {
        r["k"]: (r["c"], r["s"], r["mn"], r["mx"])
        for r in df.groupBy("k")
        .agg(F.count("v").alias("c"), F.sum("v").alias("s"),
             F.min("v").alias("mn"), F.max("v").alias("mx"))
        .collect()
    }
    assert got == want


def test_multimodal_frame_sampling_fanout(spark):
    from webscrap_datapipeline_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        fake_frame_sampler,
        sample_frames,
    )

    rows = [
        (1, "video", b"videopayloadbytes", {"mime": "video/mp4", "width": 640, "height": 480, "duration_ms": 3500}),
        (2, "image", b"notavideo", {"mime": "image/png", "width": 10, "height": 10, "duration_ms": None}),
        (3, "video", b"x", {"mime": "video/mp4", "width": 1, "height": 1, "duration_ms": 100000}),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    frames = sample_frames(media, every_ms=1000, max_frames=5, sampler=fake_frame_sampler).collect()
    by_media = {}
    for r in frames:
        by_media.setdefault(r["media_id"], []).append(r)
    assert set(by_media) == {1, 3}  # only videos fan out
    assert len(by_media[1]) == 4  # 3500ms // 1000 + 1
    assert [r["ts_ms"] for r in sorted(by_media[1], key=lambda r: r["frame_idx"])] == [0, 1000, 2000, 3000]
    assert len(by_media[3]) == 5  # capped at max_frames
    assert all(len(bytes(r["payload"])) <= 8 for r in frames)


def test_snapshot_diff_classifies_all_four(spark):
    from webscrap_datapipeline_spark.operators.cdc import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (4, None, 40.0)],
        "k int, v string, w double",
    )
    new = spark.createDataFrame(
        [(1, "a", 10.0), (2, "B", 20.0), (4, "d", 40.0), (5, "e", 50.0)],
        "k int, v string, w double",
    )
    got = {r["k"]: r for r in snapshot_diff(old, new, keys=["k"]).collect()}
    assert got[1]["_change_type"] == "unchanged"
    assert got[2]["_change_type"] == "update" and got[2]["v"] == "B"
    assert got[3]["_change_type"] == "delete" and got[3]["v"] == "c"
    # NULL -> 'd' must count as update (null-safe compare)
    assert got[4]["_change_type"] == "update" and got[4]["v"] == "d"
    assert got[5]["_change_type"] == "insert" and got[5]["v"] == "e"


def test_snapshot_diff_update_to_null_surfaces_null(spark):
    from webscrap_datapipeline_spark.operators.cdc import snapshot_diff

    old = spark.createDataFrame([(1, "x")], "k int, v string")
    new = spark.createDataFrame([(1, None)], "k int, v string")
    row = snapshot_diff(old, new, keys=["k"]).collect()[0]
    assert row["_change_type"] == "update" and row["v"] is None


def test_snapshot_diff_hash_compare_matches_full_compare(spark):
    from webscrap_datapipeline_spark.operators.cdc import snapshot_diff

    old = spark.createDataFrame(
        [(i, f"v{i}", float(i)) for i in range(100)], "k int, v string, w double"
    )
    new = spark.createDataFrame(
        [(i, f"v{i}" if i % 7 else "CHANGED", float(i)) for i in range(2, 102)],
        "k int, v string, w double",
    )
    full = {
        (r["k"], r["_change_type"])
        for r in snapshot_diff(old, new, keys=["k"]).collect()
    }
    hashed = {
        (r["k"], r["_change_type"])
        for r in snapshot_diff(old, new, keys=["k"], hash_compare=True).collect()
    }
    assert full == hashed


def test_kmeans_exact_recovery_on_separated_clusters(spark):
    from webscrap_datapipeline_spark.operators.clustering import kmeans_fit

    # 3 well-separated clusters in 4-d; k-means must recover them exactly.
    import itertools

    centers = [[0.0, 0.0, 0.0, 0.0], [10.0, 10.0, 0.0, 0.0], [0.0, 0.0, 10.0, 10.0]]
    rows = []
    i = 0
    for c, (dx, dy) in itertools.product(range(3), [(0.1, 0), (-0.1, 0), (0, 0.1), (0, -0.1), (0.1, 0.1)]):
        v = list(centers[c])
        v[0] += dx
        v[1] += dy
        rows.append((i, v, c))
        i += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, truth int")
    _, assigned = kmeans_fit(df, "embedding", "vec_id", k=3, iters=5)
    got = assigned.select("vec_id", "cluster", "truth").collect()
    # cluster ids are arbitrary — check the partition matches the truth
    mapping = {}
    for r in got:
        mapping.setdefault(r["truth"], set()).add(r["cluster"])
    assert all(len(v) == 1 for v in mapping.values()), got
    assert len({next(iter(v)) for v in mapping.values()}) == 3


def test_kmeans_objective_decreases_and_is_deterministic(spark):
    from webscrap_datapipeline_spark.catalog import load_table
    from webscrap_datapipeline_spark.operators.clustering import _assign, kmeans_fit

    from pyspark.sql import functions as F

    emb = (
        load_table(spark, "embeddings", "/root/testdata/sf0.01")
        .select("vec_id", "embedding")
        .limit(200)
        .cache()
    )

    def sse(centroids):
        a = _assign(emb, "embedding", centroids)
        v = F.col("embedding")
        cent = F.array(*[
            F.array(*[F.lit(float(x)) for x in c]) for c in centroids
        ])[F.col("cluster")]
        d = F.aggregate(
            F.zip_with(v, cent, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        return a.select(F.sum(d).alias("s")).collect()[0]["s"]

    try:
        init = [
            [float(x) for x in r["embedding"]]
            for r in emb.orderBy("vec_id").limit(8).collect()
        ]
        c1, _ = kmeans_fit(emb, "embedding", "vec_id", k=8, iters=2)
        c2, _ = kmeans_fit(emb, "embedding", "vec_id", k=8, iters=4)
        assert sse(c1) < sse(init)  # iterating improved the objective
        assert sse(c2) <= sse(c1) + 1e-9  # monotone non-increasing
        c1b, _ = kmeans_fit(emb, "embedding", "vec_id", k=8, iters=2)
        assert c1 == c1b  # deterministic
    finally:
        emb.unpersist()


def test_kmeans_fused_step_matches_decimal_lloyd_relation(spark):
    """The trained loop's fused Arrow pass (scaled-int64 sums) and the
    oracle-replayable decimal relation (_assign + lloyd_update) are two
    implementations of the SAME Lloyd iteration — pin them together:
    identical member counts, means equal to the 1e8 quantization of the
    scaled-int path (truncation toward zero), on both merge paths
    (driver collect and decimal-cast distributed agg)."""
    from webscrap_datapipeline_spark.catalog import load_table
    from webscrap_datapipeline_spark.operators.clustering import (
        _FAST_SCALE,
        _assign,
        _fused_step_centroids,
        hash_sample_vectors,
        lloyd_update,
    )

    emb = (
        load_table(spark, "embeddings", "/root/testdata/sf0.01")
        .select("vec_id", "embedding")
        .limit(300)
        .cache()
    )
    try:
        C = hash_sample_vectors(emb, "embedding", "vec_id", 5)
        exact = {}
        for r in lloyd_update(_assign(emb, "embedding", C), "embedding").collect():
            n, sums = exact.setdefault(r["cluster"], [r["n"], {}])
            exact[r["cluster"]][1][r["dim"]] = r["new_m"]
        # the real width takes the driver-collect merge; a huge count
        # forces the distributed merge branch
        for n_parts in (emb.rdd.getNumPartitions(), 10**9):
            fused = _fused_step_centroids(emb, "embedding", C, num_partitions=n_parts)
            assert set(fused) == set(exact)
            for c, (n, mean) in fused.items():
                assert n == exact[c][0]
                for d, m in enumerate(mean, start=1):
                    # fused means are exact integer sums of trunc(x*1e8);
                    # decimal means are exact sums of x — they agree to
                    # the quantization bound (n members, /1e8 each, /n)
                    assert abs(m - exact[c][1][d]) <= 1.0 / _FAST_SCALE
    finally:
        emb.unpersist()


def test_kmeans_fused_step_overflow_guard_raises_not_wraps(spark):
    """numpy int64 wraparound is silent — the fused pass must RAISE when
    an ACTUAL scaled partial sum leaves the int64 envelope of the
    partial-row schema (round-5 ADVICE: |x| ≳ 9.2e10 wraps in the
    astype; unnormalized |x| shrinks the accumulation headroom
    proportionally), and reject non-finite inputs instead of folding
    garbage into the centroids."""
    from pyspark.errors import PythonException

    from webscrap_datapipeline_spark.operators.clustering import _fused_step_centroids

    big = spark.createDataFrame(
        [(i, [1.0e11, 0.0]) for i in range(4)], "vec_id int, embedding array<double>"
    ).coalesce(1)
    with pytest.raises(PythonException, match="int64 envelope"):
        _fused_step_centroids(big, "embedding", [[0.0, 0.0], [1.0, 1.0]], num_partitions=1)
    nan = spark.createDataFrame(
        [(0, [float("nan"), 0.0])], "vec_id int, embedding array<double>"
    )
    with pytest.raises(PythonException, match="non-finite"):
        _fused_step_centroids(nan, "embedding", [[0.0, 0.0], [1.0, 1.0]], num_partitions=1)
    # headroom arithmetic, driver-side (no Spark round-trip): 4 rows at
    # |x|=1e11 scaled by 1e8 → bound 4e19 ≥ 2^62 → must trip
    assert 4 * (int(1.0e11 * 1e8) + 1) >= 2**62


def test_kmeans_fused_step_worstcase_bound_degrades_exact_not_abort(spark):
    """Tripping the WORST-CASE headroom bound must NOT abort (round-6
    review: the bound assumes every row lands in one cluster with
    aligned signs, so a large partition of moderate, sign-mixed values
    trips it while its true sums sit far inside int64). The pass
    switches to Python-int accumulation and still returns exact
    centroids — including when |x| is large enough (≥ ~9.2e10) that the
    scaled int64 CAST itself would silently wrap."""
    from webscrap_datapipeline_spark.operators.clustering import _fused_step_centroids

    far = [[0.0, 0.0], [1.0e15, 1.0e15]]  # all rows assign to cluster 0

    # bound trips (10 × 1e18 ≥ 2^62) but true sum is exactly 0
    mixed = spark.createDataFrame(
        [(i, [1.0e10 if i % 2 == 0 else -1.0e10, 0.0]) for i in range(10)],
        "vec_id int, embedding array<double>",
    ).coalesce(1)
    out = _fused_step_centroids(mixed, "embedding", far, num_partitions=1)
    assert out[0][0] == 10 and out[0][1] == [0.0, 0.0]

    # cast-wrapping magnitude (1e11 · 1e8 ≥ 2^63) with cancelling signs:
    # the object-int scaling branch, still exact, still no raise
    wrap = spark.createDataFrame(
        [(0, [1.0e11, 0.0]), (1, [-1.0e11, 0.0])],
        "vec_id int, embedding array<double>",
    ).coalesce(1)
    out = _fused_step_centroids(wrap, "embedding", far, num_partitions=1)
    assert out[0][0] == 2 and out[0][1] == [0.0, 0.0]


def test_merge_agg_state_equals_full_recompute(spark):
    from webscrap_datapipeline_spark.operators.incremental import merge_agg_state

    rows = [(i % 7, float(i), 1, i) for i in range(100)]
    df = spark.createDataFrame(rows, "k int, v double, one int, seq int")
    from pyspark.sql import functions as F

    def partial(d):
        return d.groupBy("k").agg(
            F.sum(F.col("v").cast("decimal(18,2)")).alias("sv"),
            F.count("*").alias("n"),
            F.min("seq").alias("mn"),
            F.max("seq").alias("mx"),
        )

    state = partial(df.filter(F.col("seq") < 80))
    delta = partial(df.filter(F.col("seq") >= 80))
    merged = merge_agg_state(
        state, delta, ["k"], {"sv": "sum", "n": "count", "mn": "min", "mx": "max"}
    )
    got = sorted(tuple(r) for r in merged.collect())
    want = sorted(tuple(r) for r in partial(df).collect())
    assert got == want


def test_merge_agg_state_key_only_in_delta(spark):
    from pyspark.sql import functions as F

    from webscrap_datapipeline_spark.operators.incremental import merge_agg_state

    state = spark.createDataFrame([(1, 10, 2, 0, 5)], "k int, sv long, n long, mn long, mx long")
    delta = spark.createDataFrame([(2, 7, 1, 3, 3)], "k int, sv long, n long, mn long, mx long")
    got = {
        r["k"]: (r["sv"], r["n"], r["mn"], r["mx"])
        for r in merge_agg_state(
            state, delta, ["k"], {"sv": "sum", "n": "count", "mn": "min", "mx": "max"}
        ).collect()
    }
    assert got == {1: (10, 2, 0, 5), 2: (7, 1, 3, 3)}


def test_observation_metrics_on_enrich_plan(spark):
    """The reference's run-level audit log (ST5) as engine-native
    Observation metrics: row counts and value sums collected DURING the
    action, zero extra scans."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from webscrap_datapipeline_spark.catalog import load_table

    obs = Observation("audit")
    ev = load_table(spark, "events", "/root/testdata/sf0.001")
    observed = ev.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("total_value"),
        F.count(F.when(F.col("value").isNull(), 1)).alias("null_values"),
    )
    n = observed.filter(F.col("value") > 0).count()
    m = obs.get
    assert m["n_rows"] >= n and m["n_rows"] == ev.count()
    assert m["null_values"] == 0
    assert float(m["total_value"]) > 0


def test_approx_percentiles_within_one_percent_of_exact(spark):
    from pyspark.sql import functions as F

    from webscrap_datapipeline_spark.catalog import load_table
    from webscrap_datapipeline_spark.plans import REGISTRY

    sf = "/root/testdata/sf0.01"
    approx = {
        r["event_type"]: (r["p50"], r["p90"], r["p99"])
        for r in REGISTRY["approx_value_percentiles"].fn(spark, sf).collect()
    }
    exact = {
        r["event_type"]: (r["p50"], r["p90"], r["p99"])
        for r in load_table(spark, "events", sf)
        .groupBy("event_type")
        .agg(
            F.percentile("value", 0.5).alias("p50"),
            F.percentile("value", 0.9).alias("p90"),
            F.percentile("value", 0.99).alias("p99"),
        )
        .collect()
    }
    assert set(approx) == set(exact)
    for k in approx:
        for a, e in zip(approx[k], exact[k]):
            assert abs(a - e) <= max(0.01 * abs(e), 0.01), (k, a, e)


def test_connected_components_chain_and_islands(spark):
    """A 4-vertex path (1-2, 2-3, 3-4) is ONE component even though 1
    and 4 never share an edge — transitivity is the whole point vs
    pairwise dedup. Separate edge (10-11) stays its own component."""
    from webscrap_datapipeline_spark.operators.components import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11)], ["src", "dst"]
    )
    got = {
        r["vertex"]: r["component"]
        for r in connected_components(edges, "src", "dst").collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_runs_to_convergence_on_a_long_path(spark):
    """The path 5-6-…-33-3 is one component: its min label 3 needs ~30
    rounds to reach vertex 5, more than a fixed round cap of 20 allowed.
    The loop must run until no label changes, or the far end keeps
    label 5 and dedup keeps two docs of one cluster."""
    from webscrap_datapipeline_spark.operators.components import (
        connected_components,
        dedup_survivors,
    )

    edges = spark.createDataFrame(
        [(v, v + 1) for v in range(5, 33)] + [(33, 3)], ["src", "dst"]
    )
    got = {
        r["vertex"]: r["component"]
        for r in connected_components(edges, "src", "dst").collect()
    }
    assert got == {v: 3 for v in [3, *range(5, 34)]}
    # doc 4 is in no pair, so it passes through
    docs = spark.createDataFrame([(d,) for d in range(3, 34)], ["doc_id"])
    survivors = dedup_survivors(docs, edges, "doc_id", "src", "dst")
    assert sorted(r["doc_id"] for r in survivors.collect()) == [3, 4]


def test_dedup_survivors_keeps_min_and_unpaired(spark):
    from webscrap_datapipeline_spark.operators.components import dedup_survivors

    docs = spark.createDataFrame(
        [(i, f"doc{i}") for i in [1, 2, 3, 4, 10, 11, 99]], ["doc_id", "text"]
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["doc_a", "doc_b"]
    )
    kept = sorted(
        r["doc_id"]
        for r in dedup_survivors(docs, pairs, "doc_id", "doc_a", "doc_b").collect()
    )
    # cluster {1,2,3} -> keep 1; {10,11} -> keep 10; 4 and 99 unpaired -> kept
    assert kept == [1, 4, 10, 99]


def test_orc_sink_source_roundtrip(spark, tmp_path):
    """ORC is the second columnar format Spark ships natively (no
    external package): write partitioned, read back with predicate
    pushdown intact — same writer/reader API surface the parquet paths
    use, so the engine is format-plural like any real lakehouse."""
    from pyspark.sql import functions as F

    from webscrap_datapipeline_spark.catalog import load_table

    out = str(tmp_path / "orders_orc")
    orders = load_table(spark, "orders", "/root/testdata/sf0.001")
    orders.write.mode("overwrite").partitionBy("o_orderstatus").orc(out)
    back = spark.read.orc(out)
    assert back.count() == orders.count()
    got = (
        back.filter(F.col("o_orderstatus") == "F")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("s"))
        .collect()[0]["s"]
    )
    want = (
        orders.filter(F.col("o_orderstatus") == "F")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("s"))
        .collect()[0]["s"]
    )
    assert got == want
    # partition pruning reaches the ORC scan
    plan = back.filter(F.col("o_orderstatus") == "F")._jdf.queryExecution().executedPlan().toString()
    assert "o_orderstatus" in plan


def test_jsonlines_sink_source_roundtrip(spark, tmp_path):
    """Newline-delimited JSON round trip with an explicit schema on
    read (never inferSchema in production paths — one schema-drift row
    would silently retype a column)."""
    from webscrap_datapipeline_spark.catalog import load_table

    out = str(tmp_path / "nation_json")
    nation = load_table(spark, "nation", "/root/testdata/sf0.001")
    nation.write.mode("overwrite").json(out)
    back = spark.read.schema(nation.schema).json(out)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, nation.collect()))


def test_pack_greedy_respects_budget_and_covers_all_docs(spark):
    from pyspark.sql import functions as F

    from webscrap_datapipeline_spark.operators.packing import (
        pack_fill,
        pack_greedy,
    )

    rows = [
        ("en", 1, 900), ("en", 2, 900), ("en", 3, 300), ("en", 4, 2500),
        ("en", 5, 100), ("de", 6, 1999), ("de", 7, 2), ("de", 8, 1),
    ]
    df = spark.createDataFrame(rows, ["lang", "doc_id", "n_toks"])
    packed = pack_greedy(df, "doc_id", "n_toks", 2000, "lang").collect()
    # every doc packed exactly once
    assert sorted(r["doc_id"] for r in packed) == [1, 2, 3, 4, 5, 6, 7, 8]
    loads: dict[tuple, int] = {}
    singles = {}
    for r in packed:
        loads[(r["lang"], r["bin"])] = loads.get((r["lang"], r["bin"]), 0) + r["n_toks"]
        singles.setdefault((r["lang"], r["bin"]), []).append(r["n_toks"])
    for k, total in loads.items():
        # hard cap unless the bin is a single oversized doc
        assert total <= 2000 or (len(singles[k]) == 1 and singles[k][0] > 2000), (
            k,
            total,
        )
    # greedy in id order: en = [900+900] [300+... 4 doesn't fit alone->own bin]
    got = {r["doc_id"]: r["bin"] for r in packed if r["lang"] == "en"}
    assert got == {1: 0, 2: 0, 3: 1, 4: 2, 5: 3}

    # fill variant: same doc set, bins are contiguous in id order and
    # every doc lands in exactly one bin
    filled = pack_fill(df, "doc_id", "n_toks", 2000, "lang")
    assert filled.count() == 8
    en = {
        r["doc_id"]: r["bin"]
        for r in filled.filter(F.col("lang") == "en").collect()
    }
    # cum_before: 0, 900, 1800, 2100, 4600 -> bins 0,0,0,1,2
    assert en == {1: 0, 2: 0, 3: 0, 4: 1, 5: 2}


def test_assign_contiguous_ids_dense_and_ordered(spark):
    from pyspark.sql import functions as F

    from webscrap_datapipeline_spark.operators.ids import assign_contiguous_ids

    df = spark.createDataFrame([(k,) for k in [42, 7, 99, 1, 13, 8, 56]], ["k"])
    got = {
        r["k"]: r["row_id"]
        for r in assign_contiguous_ids(df, "k", num_partitions=3).collect()
    }
    assert got == {1: 0, 7: 1, 8: 2, 13: 3, 42: 4, 56: 5, 99: 6}
    # plan never collapses to one partition: the range exchange runs
    # inside the eager localCheckpoint (round-3 determinism fix), so the
    # final plan is a checkpoint scan + a __pid-partitioned window —
    # assert no single-partition exchange and no partition-less window
    out = assign_contiguous_ids(df, "k", num_partitions=3)
    plan = out._jdf.queryExecution().executedPlan().toString().lower()
    assert "singlepartition" not in plan
    assert "window" in plan and "__pid" in plan


def test_contiguous_ids_offset_lookup_is_o1_array_not_map_scan(spark):
    """Round-3 VERDICT item 3: the broadcast offsets must be an array
    literal probed by element_at (O(1) positional access), never a
    create_map literal whose lookup is a linear scan over the key list —
    a per-row O(P) cost that grows with cluster width."""
    from webscrap_datapipeline_spark.operators.ids import (
        assign_contiguous_ids,
        budgeted_take,
    )

    df = spark.createDataFrame([(k, 10) for k in range(50)], ["k", "w"])
    for out in (
        assign_contiguous_ids(df, "k", num_partitions=4),
        budgeted_take(df, ["k"], "w", budget=200, num_partitions=4),
    ):
        plan = out._jdf.queryExecution().executedPlan().toString().lower()
        assert "element_at" in plan
        assert "keys:" not in plan and "map(" not in plan


def test_assign_contiguous_ids_multi_column_desc_rank(spark):
    """Multi-column ordering (added for the rank-free activity-
    concentration query): global rank by (n DESC, k ASC) must equal the
    naive global window, computed without one."""
    from pyspark.sql import functions as F

    from webscrap_datapipeline_spark.operators.ids import assign_contiguous_ids

    rows = [(1, 5), (2, 9), (3, 5), (4, 1), (5, 9), (6, 3)]
    df = spark.createDataFrame(rows, ["k", "n"])
    got = {
        r["k"]: r["r"]
        for r in assign_contiguous_ids(
            df, [F.col("n").desc(), F.col("k").asc()], id_name="r", num_partitions=3
        ).collect()
    }
    # order: (9,k2) (9,k5) (5,k1) (5,k3) (3,k6) (1,k4)
    assert got == {2: 0, 5: 1, 1: 2, 3: 3, 6: 4, 4: 5}


def test_assign_contiguous_ids_order_col_forms(spark):
    """_as_order_cols accepts a name, a lone Column, or a sequence; a
    bare Column must not die in list() with PySpark's opaque 'Column is
    not iterable' (round-4 ADVICE), and a wrong type raises a TypeError
    naming the accepted forms."""
    import pytest
    from pyspark.sql import functions as F

    from webscrap_datapipeline_spark.operators.ids import assign_contiguous_ids

    df = spark.createDataFrame([(3,), (1,), (2,)], ["k"])
    lone = {
        r["k"]: r["row_id"]
        for r in assign_contiguous_ids(
            df, F.col("k").desc(), num_partitions=2
        ).collect()
    }
    assert lone == {3: 0, 2: 1, 1: 2}
    with pytest.raises(TypeError, match="column name"):
        assign_contiguous_ids(df, 42, num_partitions=2)


def test_int8_quantization_error_bound_and_roundtrip(spark):
    import math

    from pyspark.sql import functions as F

    from webscrap_datapipeline_spark.catalog import load_table
    from webscrap_datapipeline_spark.functions.vectors import (
        dequantize_int8,
        quantize_int8,
    )

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001").limit(200)
    q = emb.select(
        "vec_id",
        "embedding",
        dequantize_int8(quantize_int8(F.col("embedding"))).alias("deq"),
        quantize_int8(F.col("embedding")).alias("q"),
    )
    rows = q.select(
        "vec_id",
        F.expr(
            "aggregate(zip_with(embedding, deq, (a, b) -> abs(cast(a as double) - b)),"
            " cast(0.0 as double), (acc, v) -> greatest(acc, v))"
        ).alias("max_err"),
        (F.col("q.scale") / 2 + F.lit(1e-12)).alias("bound"),
        F.expr(
            "aggregate(transform(q.codes, c -> case when c between 0 and 255"
            " then 0 else 1 end), 0, (a, v) -> a + v)"
        ).alias("out_of_range"),
    ).collect()
    assert len(rows) == 200
    for r in rows:
        assert r["out_of_range"] == 0
        assert r["max_err"] <= r["bound"] and not math.isnan(r["max_err"]), (
            r["vec_id"],
            r["max_err"],
            r["bound"],
        )

    # constant vector: exact reconstruction with scale 0
    const = spark.createDataFrame([(1, [2.5, 2.5, 2.5])], ["id", "v"])
    out = const.select(dequantize_int8(quantize_int8(F.col("v"))).alias("d")).collect()
    assert out[0]["d"] == [2.5, 2.5, 2.5]


def test_writer_max_records_per_file_and_sorted_layout(spark, tmp_path):
    """Data-layout controls for the write path: maxRecordsPerFile bounds
    file row counts (the small-file/giant-file guard), and
    sortWithinPartitions clusters rows by key inside each file so a
    min/max-based reader can skip pages."""
    import glob

    from pyspark.sql import functions as F

    from webscrap_datapipeline_spark.catalog import load_table

    out = str(tmp_path / "orders_layout")
    orders = load_table(spark, "orders", "/root/testdata/sf0.001")
    n = orders.count()
    (
        orders.repartition(2)
        .sortWithinPartitions("o_custkey")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", 500)
        .parquet(out)
    )
    files = glob.glob(out + "/*.parquet")
    assert len(files) >= n // 500  # the cap forced splitting
    import pyarrow.parquet as pq

    for f in files:
        t = pq.read_table(f, columns=["o_custkey"])
        assert t.num_rows <= 500
        vals = t.column("o_custkey").to_pylist()
        assert vals == sorted(vals)  # clustered layout inside each file
    back = spark.read.parquet(out)
    assert back.count() == n


def test_parquet_schema_evolution_merge_schema(spark, tmp_path):
    """Schema evolution on the lake path: files written before a column
    existed must still read (NULL-filled) once mergeSchema sees the
    union schema — the append-only corpus-with-new-metadata case."""
    out = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], ["id", "txt"]).write.parquet(out + "/p=1")
    spark.createDataFrame([(2, "b", 0.9)], ["id", "txt", "quality"]).write.parquet(
        out + "/p=2"
    )
    merged = spark.read.option("mergeSchema", "true").parquet(out)
    assert set(merged.columns) == {"id", "txt", "quality", "p"}
    got = {r["id"]: r["quality"] for r in merged.collect()}
    assert got[1] is None and abs(got[2] - 0.9) < 1e-9


def test_pipe_csv_sink_roundtrip(spark, tmp_path):
    """K1 literally: the enriched report written back as pipe-delimited
    CSV with header, read again with the explicit schema — byte-faithful
    round trip including the col-14 forced-string code column
    (reference src/process_files.py:47,57)."""
    from webscrap_datapipeline_spark.sources.csv_reports import RAW_REPORT_SCHEMA

    rows = [
        tuple(
            f"v{i}" if f.dataType.simpleString() == "string" else None
            for i, f in enumerate(RAW_REPORT_SCHEMA.fields)
        )
    ]
    df = spark.createDataFrame(rows, RAW_REPORT_SCHEMA)
    out = str(tmp_path / "csv_out")
    df.write.mode("overwrite").option("header", True).option("sep", "|").csv(out)
    back = (
        spark.read.schema(RAW_REPORT_SCHEMA)
        .option("header", True)
        .option("sep", "|")
        .csv(out)
    )
    assert [tuple(r) for r in back.collect()] == [tuple(r) for r in df.collect()]
    assert back.schema == RAW_REPORT_SCHEMA


def test_stratified_sample_proportions_and_determinism(spark):
    from pyspark.sql import functions as F

    from webscrap_datapipeline_spark.catalog import load_table
    from webscrap_datapipeline_spark.plans import REGISTRY

    sf = "/root/testdata/sf0.01"
    fn = REGISTRY["stratified_event_sample"].fn
    got = {r["event_type"]: r["n_sampled"] for r in fn(spark, sf).collect()}
    again = {r["event_type"]: r["n_sampled"] for r in fn(spark, sf).collect()}
    assert got == again  # seeded => identical across runs
    totals = {
        r["event_type"]: r["n"]
        for r in load_table(spark, "events", sf)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    fr = {"click": 0.5, "view": 0.1, "purchase": 1.0}
    for t, f_exp in fr.items():
        if t not in totals:
            continue
        expect = totals[t] * f_exp
        if f_exp == 1.0:
            assert got[t] == totals[t]
        else:
            assert abs(got[t] - expect) < 0.15 * totals[t] + 20, (t, got[t], expect)
    # strata not in the fraction map are dropped entirely
    assert set(got) <= set(fr)


def test_python_datasource_hotel_reports(spark):
    """The custom Python DataSource (S6 as a first-class scan): work
    list partitioned by the planner, failures surfaced as status rows,
    column pruning requests only needed fields."""
    from pyspark.sql import functions as F

    from webscrap_datapipeline_spark.sources.report_datasource import register

    register(spark)
    df = (
        spark.read.format("hotel_reports")
        .option("hotels", "ALPHA,BRAVO,CHARLIE,ZULU,DELTA")
        .option("numPartitions", 3)
        .load()
    )
    rows = {r["hotel_cd"]: r for r in df.collect()}
    assert set(rows) == {"ALPHA", "BRAVO", "CHARLIE", "ZULU", "DELTA"}
    assert rows["ZULU"]["fetch_status"] == "error:unreachable"
    ok = [r for r in rows.values() if r["fetch_status"] == "ok"]
    assert len(ok) == 4 and all(r["n_rows"] > 0 for r in ok)
    # deterministic fetch => stable re-read
    again = {r["hotel_cd"]: tuple(r) for r in df.collect()}
    assert again == {k: tuple(v) for k, v in rows.items()}
    # scan honors a downstream filter + projection without error
    sel = df.filter(F.col("fetch_status") == "ok").select("hotel_cd", "n_rows")
    assert sel.count() == 4


def test_incremental_lsh_candidates_against_stored_index(spark):
    """Incremental dedup: a new batch containing (a) a near-copy of a
    corpus doc and (b) two near-identical new docs must surface both —
    via the stored band index for (a), via batch-self banding for (b) —
    while signaturing ONLY the new batch."""
    from pyspark.sql import functions as F

    from webscrap_datapipeline_spark.catalog import load_table
    from webscrap_datapipeline_spark.operators.dedup import (
        incremental_lsh_candidates,
        lsh_band_index,
        minhash_signatures,
    )

    corpus = load_table(spark, "documents", "/root/testdata/sf0.001").select(
        "doc_id", "text"
    )
    index = lsh_band_index(minhash_signatures(corpus, "text", "doc_id"))
    # new batch: doc 900001 = exact copy of corpus doc 3; docs 900002/3
    # exact copies of each other; 900004 unrelated
    base3 = corpus.filter(F.col("doc_id") == 3).collect()[0]["text"]
    new_rows = [
        (900001, base3),
        (900002, "alpha beta gamma delta epsilon zeta eta theta " * 5),
        (900003, "alpha beta gamma delta epsilon zeta eta theta " * 5),
        (900004, "totally different words nothing shared here at all " * 4),
    ]
    new_docs = spark.createDataFrame(new_rows, ["doc_id", "text"])
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in incremental_lsh_candidates(
            index, new_docs, "text", "doc_id"
        ).collect()
    }
    assert (900001, 3) in pairs
    assert (900002, 900003) in pairs
    # the unrelated doc pairs with nothing
    assert not any(900004 in p for p in pairs)


def test_quarantine_splits_with_all_violation_reasons(spark):
    from pyspark.sql import functions as F

    from webscrap_datapipeline_spark.sources.validation import quarantine

    df = spark.createDataFrame(
        [(1, 10.0, "US"), (2, -5.0, "US"), (3, 7.0, "??"), (4, -1.0, "??")],
        ["id", "amount", "country"],
    )
    valid, bad = quarantine(
        df,
        {
            "amount_nonneg": F.col("amount") >= 0,
            "country_known": F.col("country") != "??",
        },
    )
    assert [r["id"] for r in valid.orderBy("id").collect()] == [1]
    got = {r["id"]: sorted(r["_violations"]) for r in bad.collect()}
    assert got == {
        2: ["amount_nonneg"],
        3: ["country_known"],
        4: ["amount_nonneg", "country_known"],
    }
    # the split is lossless
    assert valid.count() + bad.count() == df.count()


def test_aho_corasick_overlapping_and_nested_probes():
    """The automaton must report every probe occurring anywhere —
    overlapping matches, probes nested inside other probes, matches at
    string boundaries, self-overlapping patterns."""
    from webscrap_datapipeline_spark.operators.decontaminate import AhoCorasick

    ac = AhoCorasick([(1, "ab"), (2, "b"), (3, "abc"), (4, "cy"), (5, "zzz")])
    assert ac.search("xabcy") == {1, 2, 3, 4}
    assert ac.search("ab") == {1, 2}      # boundary: match ends at EOS
    assert ac.search("babc") == {1, 2, 3}  # prefix + re-entry via fail links
    assert ac.search("") == set()
    ac2 = AhoCorasick([(7, "aa")])
    assert ac2.search("aaaa") == {7}      # self-overlapping pattern


def test_contamination_hits_agrees_with_bruteforce_contains(spark):
    """The Aho-Corasick mapInPandas path must produce exactly the
    (doc, probe) hit set of the brute-force contains cross join, on a
    corpus slice with real text and adversarial synthetic probes."""
    from webscrap_datapipeline_spark.catalog import load_table
    from webscrap_datapipeline_spark.operators.decontaminate import contamination_hits

    from tests.conftest import SF_SMALL

    docs = load_table(spark, "documents", SF_SMALL).select("doc_id", "text")
    rows = docs.filter(F.col("doc_id") < 3).collect()
    probes = [(int(r["doc_id"]), r["text"][5:45]) for r in rows]
    probes += [(100, "the"), (101, "he"), (102, "qqqqnevermatches")]

    ac_hits = {
        (r["doc_id"], r["probe_id"]) for r in contamination_hits(docs, probes).collect()
    }
    probes_df = spark.createDataFrame(probes, ["probe_id", "probe"])
    bf_hits = {
        (r["doc_id"], r["probe_id"])
        for r in docs.crossJoin(F.broadcast(probes_df))
        .filter(F.col("text").contains(F.col("probe")))
        .select("doc_id", "probe_id")
        .collect()
    }
    assert ac_hits == bf_hits
    assert any(p == 100 for _, p in ac_hits)  # common word really hits
    assert not any(p == 102 for _, p in ac_hits)


def test_contamination_hits_rejects_empty_probe(spark):
    import pytest as _pytest

    from webscrap_datapipeline_spark.catalog import load_table
    from webscrap_datapipeline_spark.operators.decontaminate import contamination_hits

    from tests.conftest import SF_SMALL

    docs = load_table(spark, "documents", SF_SMALL)
    with _pytest.raises(ValueError):
        contamination_hits(docs, [(1, "")])


def test_cross_modal_channels_are_individually_load_bearing(spark):
    """The cross-modal curation corpus plants two dup families that each
    REQUIRE a different evidence channel (+1M: same text / negated
    embedding; +2M: same embedding / rewritten text). With both channels
    every planted copy must be eliminated; with one channel disabled,
    exactly the family needing the disabled channel survives — proving
    the union of channels is doing real work, not redundancy."""
    from webscrap_datapipeline_spark.functions.vectors import cosine
    from webscrap_datapipeline_spark.operators import dedup as DD
    from webscrap_datapipeline_spark.operators import similarity as SIM
    from webscrap_datapipeline_spark.operators.components import dedup_survivors
    from webscrap_datapipeline_spark.plans.crossmodal_queries import seeded_corpus

    from tests.conftest import SF_SMALL

    corpus = seeded_corpus(spark, SF_SMALL)
    n_text_copies = corpus.filter(F.col("doc_id").between(1_000_000, 1_999_999)).count()
    n_vec_copies = corpus.filter(F.col("doc_id") >= 2_000_000).count()
    assert n_text_copies > 0 and n_vec_copies > 0

    tedges = (
        DD.jaccard_pairs(corpus, "text", "doc_id", n=3, max_shingle_freq=1000)
        .filter(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b")
    )
    b = SIM.lsh_bucket(
        corpus.select("doc_id", "embedding"), "embedding", dim=64, n_planes=12, seed=7
    )
    left = b.select(F.col("doc_id").alias("doc_a"), F.col("embedding").alias("ea"), "bucket")
    right = b.select(F.col("doc_id").alias("doc_b"), F.col("embedding").alias("eb"), "bucket")
    vedges = (
        left.join(right, ["bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(cosine(F.col("ea"), F.col("eb")) >= 0.9)
        .select("doc_a", "doc_b")
    )

    def surviving_planted(edges):
        surv = dedup_survivors(corpus, edges, "doc_id", "doc_a", "doc_b")
        rows = surv.filter(F.col("doc_id") >= 1_000_000).collect()
        return (
            sum(1 for r in rows if r["doc_id"] < 2_000_000),  # text-evidence family
            sum(1 for r in rows if r["doc_id"] >= 2_000_000),  # embedding-evidence family
        )

    both = surviving_planted(tedges.unionByName(vedges))
    assert both == (0, 0), f"full union left planted copies alive: {both}"
    text_only = surviving_planted(tedges)
    assert text_only[0] == 0  # text channel still kills its family
    assert text_only[1] == n_vec_copies  # embedding-only family needs vedges
    vec_only = surviving_planted(vedges)
    assert vec_only[1] == 0
    assert vec_only[0] == n_text_copies


def test_assign_contiguous_ids_dense_at_sampled_boundary_scale(spark):
    """Round-3 regression: repartitionByRange samples its boundaries with
    a per-execution seed, so the offset pass and the result pass used to
    see DIFFERENT partitionings once the input was large enough that the
    sampler no longer read every row — ids came out with gaps/collisions
    (reproduced at sf0.1; tiny inputs hid it by sampling everything).
    The eager localCheckpoint in assign_contiguous_ids freezes one
    partitioning for both passes; this pins density at a size where
    boundary sampling is genuinely partial, across repeated runs."""
    from pyspark.sql import functions as F

    from webscrap_datapipeline_spark.operators.ids import assign_contiguous_ids

    n = 50_000
    # bijective scramble of 0..n-1 (odd multiplier mod 2^32) -> unique,
    # storage-order-decorrelated sort keys
    df = spark.range(n).select(
        ((F.col("id") * 2654435761) % (2 ** 32)).alias("k")
    )
    for _ in range(2):
        ids = [
            r["row_id"]
            for r in assign_contiguous_ids(df, "k", num_partitions=8)
            .orderBy("k")
            .collect()
        ]
        assert ids == list(range(n))


def test_budgeted_take_strict_prefix_and_boundary(spark):
    """The crossing row is excluded (strict prefix <= budget); a budget
    smaller than the first weight selects nothing; a budget covering
    everything selects everything."""
    from webscrap_datapipeline_spark.operators.ids import budgeted_take

    df = spark.createDataFrame(
        [(k, 10 * (k + 1)) for k in range(5)], ["k", "w"]
    )  # weights 10,20,30,40,50 in k order; cumsums 10,30,60,100,150
    got = sorted(
        r["k"] for r in budgeted_take(df, ["k"], "w", budget=60, num_partitions=3).collect()
    )
    assert got == [0, 1, 2]  # cum 60 included, k=3 (cum 100) excluded
    assert budgeted_take(df, ["k"], "w", budget=5, num_partitions=3).count() == 0
    assert budgeted_take(df, ["k"], "w", budget=150, num_partitions=3).count() == 5


def test_budgeted_take_matches_global_cumsum_at_sampled_boundary_scale(spark):
    """Same determinism requirement as assign_contiguous_ids: at a size
    where range-boundary sampling is partial, the two-pass prefix must
    equal the naive global-window prefix, repeatedly."""
    from pyspark.sql.window import Window

    from pyspark.sql import functions as F

    from webscrap_datapipeline_spark.operators.ids import budgeted_take

    n = 20_000
    df = spark.range(n).select(
        ((F.col("id") * 2654435761) % (2 ** 32)).alias("k"),
        (F.col("id") % 97 + 1).alias("w"),
    )
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    expected = sorted(
        r["k"]
        for r in df.withColumn("c", F.sum("w").over(w)).filter(F.col("c") <= 200_000).collect()
    )
    for _ in range(2):
        got = sorted(
            r["k"] for r in budgeted_take(df, ["k"], "w", budget=200_000, num_partitions=8).collect()
        )
        assert got == expected


def test_load_table_schema_cache_is_metadata_only_and_identical(spark):
    """The catalog's per-process schema cache (metastore role) must be
    invisible: a cached-schema read returns the same schema AND the same
    rows as a cold footer-inference read, and new files under the path
    are still picked up (only metadata is cached, never a file listing
    or data)."""
    import webscrap_datapipeline_spark.catalog as CAT
    from tests.conftest import SF_SMALL

    key_prefix = (
        spark.sparkContext.applicationId,
        spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false"),
        spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled", "true"),
    )
    path = f"{SF_SMALL}/orders.parquet"
    CAT._SCHEMA_CACHE.pop(key_prefix + (path,), None)
    cold = CAT.load_table(spark, "orders", SF_SMALL)  # populates the cache
    assert key_prefix + (path,) in CAT._SCHEMA_CACHE
    warm = CAT.load_table(spark, "orders", SF_SMALL)  # explicit-schema read
    assert warm.schema == cold.schema
    cold_rows = cold.orderBy("o_orderkey").collect()
    assert warm.orderBy("o_orderkey").collect() == cold_rows

    # data is NOT cached: a fresh write under a tmp path read twice via
    # the cache path sees the second file's rows
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        p = f"{d}/t.parquet"
        spark.range(3).write.mode("overwrite").parquet(p)
        assert CAT._read_parquet(spark, p).count() == 3
        spark.range(7).write.mode("overwrite").parquet(p)
        assert CAT._read_parquet(spark, p).count() == 7


def test_load_table_widen_decision_matches_spark_scan_width(spark, tmp_path):
    """``load_table(widen=True)`` decides from file metadata alone; its
    decision must be exactly "Spark's plain scan plans fewer partitions
    than defaultParallelism" (``df.rdd`` is only the reference here) —
    on every shipped table and scale, on a multi-file directory, and
    under runtime split confs that produce both outcomes."""
    import webscrap_datapipeline_spark.catalog as CAT
    from tests.conftest import TESTDATA_ROOT

    n = spark.sparkContext.defaultParallelism
    multi = str(tmp_path)
    CAT.load_table(spark, "documents", f"{TESTDATA_ROOT}/sf0.01").repartition(6).write.parquet(
        f"{multi}/documents.parquet"
    )
    cases = [
        (t, f"{TESTDATA_ROOT}/{sf}") for sf in ("sf0.001", "sf0.01", "sf0.1") for t in CAT.TABLE_NAMES
    ] + [("documents", multi)]
    confs = ("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")
    saved = [spark.conf.get(k) for k in confs]
    outcomes = set()
    try:
        for max_bytes, open_cost in ((None, None), ("65536", "4096"), ("200000", "0")):
            if max_bytes is not None:
                spark.conf.set(confs[0], max_bytes)
                spark.conf.set(confs[1], open_cost)
            for name, sf_dir in cases:
                width = CAT.load_table(spark, name, sf_dir).rdd.getNumPartitions()
                assert CAT._scan_partitions(spark, CAT.load_table(spark, name, sf_dir)) == width
                widened = CAT.load_table(spark, name, sf_dir, widen=True)
                is_widened = widened._jdf.queryExecution().logical().nodeName() == "Repartition"
                assert is_widened == (width < n), (name, sf_dir, max_bytes, width)
                outcomes.add((sf_dir == multi, is_widened))
    finally:
        for k, v in zip(confs, saved):
            spark.conf.set(k, v)
    assert outcomes == {(False, False), (False, True), (True, False), (True, True)}


def test_width_decisions_run_no_jobs(spark, monkeypatch):
    """Scan-width decisions are metadata, not execution: building the
    widened ``documents``/``embeddings`` reads, building the seeded
    cross-modal corpus, and reading kmeans_fit's width on its two
    callers' inputs (a cached scan, a lazy localCheckpoint of a scan)
    run no Spark job. seeded_corpus ends in localCheckpoint(eager=False),
    which on Spark 4 materializes its own AQE query stages when called;
    that is the checkpoint's work, so it is identity-patched while jobs
    are counted. The unpatched corpus must stay at least cluster-wide
    before its coalesce."""
    from webscrap_datapipeline_spark.catalog import load_table
    from webscrap_datapipeline_spark.plans.crossmodal_queries import seeded_corpus

    from tests.conftest import SF_SMALL

    sc = spark.sparkContext
    n = sc.defaultParallelism
    for t in ("documents", "embeddings"):
        load_table(spark, t, SF_SMALL)  # first read infers the schema (one footer job)
    cached = load_table(spark, "embeddings", SF_SMALL).select("vec_id", "embedding", "label").cache()
    group = "width-decisions-run-no-jobs"
    sc.setJobGroup(group, group)
    try:
        load_table(spark, "documents", SF_SMALL, widen=True)
        load_table(spark, "embeddings", SF_SMALL, widen=True)
        cached.rdd.getNumPartitions()
        emb = load_table(spark, "embeddings", SF_SMALL)
        emb.filter(F.col("vec_id") >= 5).localCheckpoint(eager=False).select(
            "vec_id", "embedding"
        ).rdd.getNumPartitions()
        with monkeypatch.context() as m:
            m.setattr(type(emb), "localCheckpoint", lambda self, eager=True: self)
            seeded_corpus(spark, SF_SMALL)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        cached.unpersist()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []

    rdd = seeded_corpus(spark, SF_SMALL)._jdf.queryExecution().analyzed().rdd()
    while rdd.getClass().getSimpleName() != "CoalescedRDD":
        rdd = rdd.dependencies().head().rdd()
    assert rdd.dependencies().head().rdd().getNumPartitions() >= n
