"""Property-based tests (SURVEY §5): the change-detection invariant
under randomized source/state pairs.

Invariants:
  1. changed = src ∖ state on the composite (key, ts) — exactly the
     keys whose watermark pair is absent from state;
  2. idempotence — after committing state ← update_state(state, changed),
     a second detection over the same source yields ∅.

Examples are kept small (each one runs Spark jobs); the generator still
exercises the interesting boundaries: empty state, empty source,
duplicate keys with conflicting timestamps, reverted values.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from webscrap_datapipeline_spark.operators.change_detection import (
    detect_changes,
    update_state,
)

KEYS = st.sampled_from(["A", "B", "C", "D", "E"])
TS = st.sampled_from(["t1", "t2", "t3"])

# source rows may repeat a key with different ts (the reference dedups
# with drop_duplicates, src/utils.py:190); state has one row per key.
SRC = st.lists(st.tuples(KEYS, TS), max_size=12)
STATE = st.dictionaries(KEYS, TS, max_size=5)


def _mk(spark, rows):
    schema = "hotel_cd string, lst_optimization string"
    return spark.createDataFrame(rows, schema) if rows else spark.createDataFrame([], schema)


@given(src=SRC, state=STATE)
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_change_detection_invariants(spark, src, state):
    src_df = _mk(spark, src)
    state_df = _mk(spark, list(state.items()))

    changed = detect_changes(src_df, state_df, "hotel_cd", "lst_optimization").collect()
    changed_keys = {r["hotel_cd"] for r in changed}

    # 1. membership: a key is reported iff SOME of its source pairs is
    #    absent from state (dedup keeps one representative per key)
    state_pairs = set(state.items())
    expect_keys = {k for (k, t) in src if (k, t) not in state_pairs}
    assert changed_keys == expect_keys
    # dedup: one row per key, and each reported pair is a real source pair
    assert len(changed) == len(changed_keys)
    for r in changed:
        pair = (r["hotel_cd"], r["lst_optimization"])
        assert pair in set(src) and pair not in state_pairs

    # 2. idempotence: commit the detected watermarks, re-detect → only
    #    keys with >1 distinct source ts can still differ (the committed
    #    representative fixed one of them); keys with a single source ts
    #    must be quiescent
    committed = update_state(state_df, _mk(spark, [tuple(r) for r in changed]),
                             "hotel_cd", "lst_optimization")
    second = detect_changes(src_df, committed, "hotel_cd", "lst_optimization").collect()
    multi_ts = {k for (k, t) in src if len({t2 for (k2, t2) in src if k2 == k}) > 1}
    assert {r["hotel_cd"] for r in second} <= multi_ts


# ---------------------------------------------------------------------------
# CDC round-trip: apply(old, diff(old, new)) == new, for arbitrary
# snapshots including NULL values and disjoint/overlapping key sets.

_SNAP = st.dictionaries(
    st.integers(min_value=0, max_value=12),
    st.tuples(
        st.one_of(st.none(), st.integers(min_value=-3, max_value=3)),
        st.sampled_from(["a", "b", "c"]),
    ),
    max_size=10,
)


def _snap_df(spark, snap):
    schema = "k int, v int, tag string"
    rows = [(k, v, t) for k, (v, t) in snap.items()]
    return spark.createDataFrame(rows, schema) if rows else spark.createDataFrame([], schema)


@given(old=_SNAP, new=_SNAP)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_cdc_diff_apply_roundtrip(spark, old, new):
    from webscrap_datapipeline_spark.operators.cdc import (
        apply_change_feed,
        snapshot_diff,
    )

    old_df, new_df = _snap_df(spark, old), _snap_df(spark, new)
    feed = snapshot_diff(old_df, new_df, keys=["k"])
    rebuilt = apply_change_feed(old_df, feed, keys=["k"])
    got = sorted((tuple(r) for r in rebuilt.collect()), key=repr)
    want = sorted(((k, v, t) for k, (v, t) in new.items()), key=repr)
    assert got == want
    # the feed's class counts are exactly the set-theoretic ones
    classes = {r["k"]: r["_change_type"] for r in feed.collect()}
    assert {k for k, c in classes.items() if c == "insert"} == set(new) - set(old)
    assert {k for k, c in classes.items() if c == "delete"} == set(old) - set(new)


# ----------------------------------------------------------------------------
# Packing invariants: every doc packed exactly once; greedy respects the
# hard cap except solo-oversized docs; fill bins are contiguous in id
# order; both are deterministic across runs.

WEIGHTS = st.lists(st.integers(min_value=1, max_value=1500), min_size=1, max_size=14)


@given(weights=WEIGHTS)
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
def test_packing_invariants(spark, weights):
    from webscrap_datapipeline_spark.operators.packing import pack_fill, pack_greedy

    budget = 2000
    rows = [("g", i, w) for i, w in enumerate(weights)]
    df = spark.createDataFrame(rows, ["grp", "doc_id", "w"])

    greedy = pack_greedy(df, "doc_id", "w", budget, "grp").collect()
    assert sorted(r["doc_id"] for r in greedy) == list(range(len(weights)))
    loads: dict[int, list[int]] = {}
    for r in greedy:
        loads.setdefault(r["bin"], []).append(r["w"])
    for members in loads.values():
        assert sum(members) <= budget or len(members) == 1
    # greedy never leaves a doc behind that would have fit in the
    # previous bin (first-fit in id order is tight)
    order = sorted(greedy, key=lambda r: r["doc_id"])
    for prev, cur in zip(order, order[1:]):
        if cur["bin"] == prev["bin"] + 1:
            assert sum(loads[prev["bin"]]) + cur["w"] > budget

    fill = pack_fill(df, "doc_id", "w", budget, "grp").collect()
    assert sorted(r["doc_id"] for r in fill) == list(range(len(weights)))
    by_id = [r["bin"] for r in sorted(fill, key=lambda r: r["doc_id"])]
    assert by_id == sorted(by_id)  # bins never decrease in id order


@given(keys=st.lists(st.integers(min_value=-1000, max_value=1000), min_size=0,
                     max_size=25, unique=True))
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
def test_contiguous_ids_match_sorted_enumeration(spark, keys):
    from webscrap_datapipeline_spark.operators.ids import assign_contiguous_ids

    schema = "k long"
    df = (
        spark.createDataFrame([(k,) for k in keys], schema)
        if keys
        else spark.createDataFrame([], schema)
    )
    got = {
        r["k"]: r["row_id"]
        for r in assign_contiguous_ids(df, "k", num_partitions=4).collect()
    }
    want = {k: i for i, k in enumerate(sorted(keys))}
    assert got == want


# ----------------------------------------------------------------------------
# Partitioning-independence: the registry's determinism rules (DECIMAL
# accumulation, closed-form power sums, explicit rounding boundaries)
# exist so results don't depend on HOW data is partitioned. Enforced by
# running the float-heaviest queries under a very different shuffle
# width and requiring bit-identical rows.

_FLOAT_SENSITIVE = [
    "pricing_summary",
    "promo_revenue_share",
    "value_dispersion_by_type",
    "tfidf_top_terms",
    "label_centroids",
    "incremental_agg_maintenance",
    # round-3 float-heavy additions (decimal-accumulated moments /
    # products); a one-off full-registry 32-vs-3 sweep ran clean, this
    # list keeps the heaviest float paths guarded per-run
    "embedding_dim_variance",
    "semantic_outlier_docs",
    "value_anomaly_zscore",
    "dup_quality_interaction",
    "minhash_estimate_calibration",
]


def test_results_independent_of_shuffle_partitioning(spark):
    from webscrap_datapipeline_spark.plans import REGISTRY

    sf = "/root/testdata/sf0.001"
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    for name in _FLOAT_SENSITIVE:
        fn = REGISTRY[name].fn
        try:
            spark.conf.set("spark.sql.shuffle.partitions", "32")
            wide = sorted(map(tuple, fn(spark, sf).collect()))
            spark.conf.set("spark.sql.shuffle.partitions", "3")
            narrow = sorted(map(tuple, fn(spark, sf).collect()))
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", saved)
        assert wide == narrow, f"{name} varies with partitioning"


# --- frequency sketches (operators/sketches.py, round-10) -------------

_WORDS = st.lists(
    st.sampled_from([f"w{i}" for i in range(40)]),
    min_size=1,
    max_size=400,
)


@given(words=_WORDS)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_count_min_sketch_never_underestimates(spark, words):
    """Cormode–Muthukrishnan one-sided error, pinned: for EVERY item,
    cms_estimate >= exact count — at a deliberately tiny width (16
    buckets for up to 40 distinct words) so collisions actually occur;
    and at the shipped width the estimate is EXACT because the additive
    error is bounded by e/width * N < 1."""
    import collections

    from webscrap_datapipeline_spark.operators.sketches import (
        cms_estimate,
        count_min_sketch,
    )

    exact = collections.Counter(words)
    items = spark.createDataFrame([(w,) for w in words], "token string")
    probes = spark.createDataFrame([(w,) for w in exact], "token string")

    tiny = count_min_sketch(items, width=16)
    est_tiny = {
        r["token"]: r["est_count"]
        for r in cms_estimate(tiny, probes, width=16).collect()
    }
    assert set(est_tiny) == set(exact)
    for w, c in exact.items():
        assert est_tiny[w] >= c, f"{w}: {est_tiny[w]} < {c}"

    wide = count_min_sketch(items, width=16384)
    est_wide = {
        r["token"]: r["est_count"]
        for r in cms_estimate(wide, probes, width=16384).collect()
    }
    assert est_wide == dict(exact)  # e/width * N < 1 at these sizes

    # never-seen probe estimates 0 (left join + coalesce, not a drop)
    ghost = spark.createDataFrame([("never-seen-token",)], "token string")
    got = cms_estimate(tiny, ghost, width=16).collect()
    assert [(r["token"], r["est_count"]) for r in got] == [("never-seen-token", 0)]

    # the portable (md5-bucketed, engine-replayable) variant carries the
    # SAME guarantees: one-sided error under forced collisions, exact at
    # the shipped width — different hash family, same sketch math
    tiny_p = count_min_sketch(items, width=16, portable=True)
    est_tiny_p = {
        r["token"]: r["est_count"]
        for r in cms_estimate(tiny_p, probes, width=16, portable=True).collect()
    }
    for w, c in exact.items():
        assert est_tiny_p[w] >= c, f"portable {w}: {est_tiny_p[w]} < {c}"
    wide_p = count_min_sketch(items, width=16384, portable=True)
    est_wide_p = {
        r["token"]: r["est_count"]
        for r in cms_estimate(wide_p, probes, width=16384, portable=True).collect()
    }
    assert est_wide_p == dict(exact)


@given(
    words=_WORDS,
    capacity=st.sampled_from([4, 8, 64]),
)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_heavy_hitters_exact_above_the_misra_gries_bound(spark, words, capacity):
    """token_heavy_hitters invariants under adversarially flat
    distributions and tiny capacities: (1) every emitted count is the
    EXACT global count (candidates are rescored, never estimated);
    (2) every token whose count exceeds N/capacity IS in the result
    (the summed Misra-Gries decrement bound survives partitioning);
    (3) when capacity comfortably exceeds the vocabulary the result is
    exactly the true top-k with the (count desc, token asc) tiebreak."""
    import collections

    from webscrap_datapipeline_spark.operators.sketches import token_heavy_hitters

    exact = collections.Counter(words)
    n = len(words)
    k = 10
    docs = spark.createDataFrame(
        [(i, w) for i, w in enumerate(words)], "doc_id long, text string"
    ).repartition(4)
    got = token_heavy_hitters(docs, "text", k=k, capacity=capacity).collect()

    for r in got:
        assert r["occurrences"] == exact[r["token"]]  # (1) exact counts
    got_tokens = {r["token"] for r in got}
    true_order = sorted(exact.items(), key=lambda kv: (-kv[1], kv[0]))
    must_have = {w for w, c in exact.items() if c > n / capacity}
    top_of_must = set(
        w for w, _ in sorted(
            ((w, exact[w]) for w in must_have), key=lambda kv: (-kv[1], kv[0])
        )[:k]
    )
    assert top_of_must <= got_tokens  # (2) the guarantee set survives

    if capacity >= len(exact):
        want = [(w, c) for w, c in true_order[:k]]
        assert [(r["token"], r["occurrences"]) for r in got] == want  # (3)
