"""Deduplication operators for the LLM-data-pipeline surface:
exact (fingerprint groupBy), n-gram Jaccard pair mining, SimHash, and
MinHash-LSH near-dup detection.

Design for 100 TB:
  * exact dedup is a hash-aggregate on a fingerprint — one shuffle of
    (fingerprint, doc_id), never of document bodies;
  * Jaccard pairs come from an inverted shingle index turned into
    posting lists (groupBy shingle-hash → sorted doc list → a<b pair
    fan-out) with frequency capping to kill the quadratic blowup of
    ultra-common shingles; sizes ride along in the posting list so the
    whole mine is two shuffles and zero joins;
  * SimHash reduces each doc to 63 bits map-side (explode+agg, no UDF);
  * MinHash signatures are computed per-row (one md5 per shingle, then
    cheap affine permutations) — a narrow map stage, zero shuffle;
  * LSH banding buckets become posting lists the same way — candidate
    discovery is O(n·bands), never O(n²).

Evaluation discipline (matters as much as the shuffle plan): token and
shingle arrays are materialized as real columns between stages.
Higher-order-function lambdas inline their argument expression trees
and re-evaluate them per element — compute-once columns keep the
per-row cost linear. Deterministic throughout: hashes derive from md5,
never from Spark-internal hash seeds.
"""

from __future__ import annotations

import hashlib
import warnings

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import fingerprint, shingles_of_tokens, tokens


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep the smallest id per normalized-text fingerprint.
    Returns (canonical id, n_members, fingerprint). Deterministic via
    min() — never 'first row wins'."""
    return (
        df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias("canonical_id"), F.count(F.lit(1)).alias("n_members"))
    )


def shingled(df: DataFrame, text_col: str, id_col: str, n: int = 3) -> DataFrame:
    """(doc, sh): distinct word-n-gram shingle set per document, with
    the token array materialized once per row. Documents with fewer
    than n tokens are dropped (they have no n-shingles); the pushed-down
    filter only re-tokenizes, which is linear and scan-side."""
    toks = tokens(text_col)
    return (
        df.filter(F.size(toks) >= n)
        .select(F.col(id_col).alias("doc"), toks.alias("__toks"))
        .select("doc", shingles_of_tokens(F.col("__toks"), n).alias("sh"))
    )


def _pair_combos(arr: Column) -> Column:
    """All (i < j) element pairs of an array column, as structs
    (a, b). Input must be pre-sorted for deterministic a<b order."""
    return F.flatten(
        F.transform(
            arr,
            lambda x, i: F.transform(
                F.slice(arr, i + 2, F.size(arr)),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )


DEFAULT_SHINGLE_FREQ_CAP = 1000


def shingle_hash_sets(df: DataFrame, text_col: str, id_col: str, n: int = 3) -> DataFrame:
    """(doc, sh: array<long>) — each doc's DISTINCT word-n-gram shingle
    hashes, the exact frame :func:`jaccard_pairs` builds its posting
    lists from. Shared (scripts/scale_derive.py's volume counter) so
    scale-evidence counts provably measure THIS pipeline's workload —
    a drifted reimplementation would make the linearity tables
    unfalsifiable.

    Shingle identity is ONLY an internal shuffle key here (never
    compared against an oracle), so skip building n-gram *strings*
    entirely: hash each token once (xxhash64, JVM-intrinsic), then
    combine n consecutive token hashes with a second multi-arg
    xxhash64 over the longs (position-sensitive, no string allocation,
    no ANSI overflow — arithmetic combining throws under Spark 4's
    default ANSI mode). Same 64-bit collision exposure as hashing the
    n-gram string.

    Evaluation-shape caveat (measured 5× either way): the n-gram
    windows MUST come from arrays_zip over shifted slices, all at
    projection top level — indexing the token-hash array inside a
    lambda (th[i+j]) defeats common-subexpression elimination after
    projection collapse, re-evaluating the whole token transform per
    element (O(tokens²) per doc).

    Two-PROJECTION shape (round 13): the token-hash array lands as a
    real column first, and the slices/size reference that attribute.
    CollapseProject refuses to re-inline a non-cheap alias referenced
    more than once, so the optimized tree carries the tokenize+hash
    subtree ONCE instead of 4× — Catalyst optimize + codegen-source
    time per plan (paid on every lazy-checkpoint call and every bench
    attempt) measured 1.73 → 1.53 s on the symmetrized-edge checkpoint
    of the jaccard pipeline, with the emitted rows bit-identical (0
    exceptAll diffs both directions on sf0.1, shingle sets and final
    edge sets)."""
    th = F.transform(tokens(text_col), lambda t: F.xxhash64(t))
    base = df.select(F.col(id_col).alias("doc"), th.alias("__th")).filter(
        F.size("__th") >= n
    )
    m = F.size(F.col("__th")) - (n - 1)
    zipped = F.arrays_zip(*[F.slice("__th", j + 1, m) for j in range(n)])
    return base.select(
        "doc",
        F.array_distinct(
            F.transform(zipped, lambda s: F.xxhash64(*[s[str(j)] for j in range(n)]))
        ).alias("sh"),
    )


def jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    max_shingle_freq: int | None = DEFAULT_SHINGLE_FREQ_CAP,
) -> DataFrame:
    """All doc pairs (a < b) sharing ≥1 word-n-gram shingle, with their
    exact Jaccard similarity over distinct-shingle sets.

    Shape (two shuffles, zero joins):
      explode on a 63-bit shingle *hash* (8-byte shuffle key instead of
      the shingle string) → groupBy(hash) posting list of (doc, sz) →
      per-shingle a<b pair fan-out (sizes ride along) → groupBy(pair)
      count = |intersection| → Jaccard.

    ``max_shingle_freq`` drops posting lists longer than the cap before
    pair fan-out — the standard guard against quadratic blowup on
    boilerplate shingles ("click here to" in 10M docs would alone
    generate 10M² pairs). At 100 TB this cap is mandatory.
    """
    sh = shingle_hash_sets(df, text_col, id_col, n)
    idx = sh.select(
        F.col("doc"), F.size("sh").alias("sz"), F.explode("sh").alias("h")
    ).select("h", F.struct("doc", "sz").alias("ds"))
    posting = (
        idx.groupBy("h")
        .agg(F.array_sort(F.collect_set("ds")).alias("docs"))
        .filter(F.size("docs") >= 2)
    )
    if max_shingle_freq is not None:
        posting = posting.filter(F.size("docs") <= max_shingle_freq)
    # The pair explode fans out |docs|²/2 rows per posting list; AQE sizes
    # partitions from the *pre*-explode bytes and would coalesce this to a
    # handful of tasks. Explicit repartition (respected by AQE) keeps the
    # fan-out and the pair aggregation wide.
    posting = posting.repartition(df.sparkSession.sparkContext.defaultParallelism)
    pairs = posting.select(F.explode(_pair_combos(F.col("docs"))).alias("p")).select(
        F.col("p.a.doc").alias("doc_a"),
        F.col("p.a.sz").alias("sz_a"),
        F.col("p.b.doc").alias("doc_b"),
        F.col("p.b.sz").alias("sz_b"),
    )
    return (
        pairs.groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("inter"),
            F.max("sz_a").alias("sz_a"),
            F.max("sz_b").alias("sz_b"),
        )
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("inter").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double")
            ).alias("jaccard"),
        )
    )


def simhash(
    df: DataFrame, text_col: str, id_col: str, bits: int = 63, wide: bool = True
) -> DataFrame:
    """63-bit SimHash per document (bit b set iff the frequency-weighted
    sum of word-hash bit b signs is positive). Two plan shapes, SAME
    output bit-for-bit (pytest pins their equality; the DuckDB oracles
    re-verify exact signatures):

    ``wide=True`` (default — the corpus path): one aggregate with
    ``bits`` conditional Σ-sign buffers. The sign of bit b is a codegen
    expression over the token's hash, so it never materializes
    tokens×63 intermediate rows (≈ 40B at the ×1024 corpus) and
    shuffles ONE row per doc — measured 2.3× faster than the explode
    form under real writes at ×64, and the only form that completes
    the ×1024 band-volume probe in sane time. Its cost is a ~0.7 s
    CONSTANT: janino compiling the 63-buffer generated aggregate class
    — negligible at corpus scale, dominant on a 100-doc slice.

    ``wide=False`` (the tiny-input path): the ×63 bit-row explode with
    map-side combine — trivial codegen, no compile constant, right for
    the oracled 100-doc queries where the wide form's compile time is
    4× the whole query (measured 0.21 → 0.92 s at sf0.1).

    ``bits`` ≤ 63 so the packed value fits a signed BIGINT on every
    engine (DuckDB has no UINT64 arithmetic in its BIGINT lane).
    """
    from ..functions.text import word_hash64

    words = df.select(F.col(id_col).alias("doc"), F.explode(tokens(text_col)).alias("w"))
    hashed = words.select("doc", word_hash64(F.col("w")).alias("h"))
    if not wide:
        bitrows = hashed.select(
            "doc", "h", F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("bit")
        ).select(
            "doc",
            "bit",
            F.when(F.expr("(shiftright(h, bit) % 2) = 1"), F.lit(1))
            .otherwise(F.lit(-1))
            .alias("sgn"),
        )
        return (
            bitrows.groupBy("doc", "bit")
            .agg(F.sum("sgn").alias("s"))
            .groupBy("doc")
            .agg(
                F.sum(
                    F.when(F.col("s") > 0, F.expr("shiftleft(1L, bit)")).otherwise(F.lit(0))
                )
                .cast("bigint")
                .alias("simhash")
            )
        )
    # One F.expr per aggregate buffer and ONE for the packed sum,
    # instead of ~5 builder calls per bit × 63 bits × 2 stages: the
    # per-call py4j round trips added ~0.3-0.4 s of plan CONSTRUCTION
    # per wide-simhash plan (round-13 finding, same as
    # similarity._l2sq_sql). Catalyst trees unchanged — CASE 1/-1 sums
    # to BIGINT exactly as the F.when builder did, and the packed
    # left-chained bigint adds are exact in any order; pytest pins
    # wide == exploded bit-for-bit.
    sums = hashed.groupBy("doc").agg(
        *[
            F.expr(
                f"sum(CASE WHEN (shiftright(h, {b}) % 2) = 1 THEN 1 ELSE -1 END) AS s{b}"
            )
            for b in range(bits)
        ]
    )
    packed = " + ".join(
        f"CASE WHEN s{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for b in range(bits)
    )
    return sums.select(
        "doc", F.expr(f"CAST(CAST(0 AS BIGINT) + {packed} AS BIGINT)").alias("simhash")
    )


def simhash_bit_band_keys(
    sh: DataFrame, bands: int = 9, width: int = 7
) -> DataFrame:
    """(doc, simhash, band_idx, band_val) rows: the Hamming-space LSH
    index. Pigeonhole recall: d ≤ bands−1 bit flips leave ≥1 band
    untouched, so band-equality buckets are exhaustive at the
    threshold. Shared by plans/text_queries.simhash_near_dup_pairs and
    scripts/simhash_band_probe.py so the measured bucket volumes are
    the shipped query's volumes, not a reimplementation's.

    Scale caveat (measured, SCALE.md round 7): a band value has only
    2**width buckets, so per-band occupancy is n/2**width and the
    candidate-pair volume grows QUADRATICALLY in the corpus with a
    1/2**width constant — width is Hamming-tolerance semantics (63
    bits / 9 bands fixes width 7 at d ≤ 8), so unlike hyperplane LSH
    the fix is NOT more bits per band; use
    ``simhash_multi_band_keys`` (k-of-bands composite keys) for
    corpus-sized candidate mining."""
    # posexplode of the plain band-value array: the position IS
    # band_idx, so no struct construction/extraction nodes. The round-7
    # extraction of this helper had switched to explode-of-structs; a
    # round-8 ABAB (SCALE.md) measured that form ×1.12 slower on the
    # oracled query, so the original inline posexplode shape is
    # restored inside the shared helper.
    band_vals = F.array(
        *[
            F.shiftright(F.col("simhash"), width * i).bitwiseAND(
                F.lit((1 << width) - 1)
            )
            for i in range(bands)
        ]
    )
    return sh.select(
        "doc", "simhash", F.posexplode(band_vals).alias("band_idx", "band_val")
    )


def simhash_auto_band_scheme(
    n_rows: int,
    hamming_tol: int = 8,
    bits: int = 63,
    target_occupancy: int = 128,
    max_k: int = 4,
) -> tuple[int, int, int]:
    """(k, bands, width) for ``simhash_multi_band_keys`` scaled to the
    corpus: the smallest k (bands-per-composite-key) whose expected
    bucket occupancy n / 2**(width·k) is ≤ ``target_occupancy``, where
    bands = hamming_tol + k and width = bits // bands — CAPPED at
    ``max_k`` (and at the largest k whose width is ≥ 1 bit): when the
    cap binds first, the returned scheme's expected occupancy still
    exceeds the target (e.g. n=10**12 returns k=4 with occupancy
    ~9.5e5) and a ``RuntimeWarning`` is emitted so callers such as
    ``scripts/simhash_band_probe`` can tell the target was not met.
    The cap is a combinatorial-cost ceiling (C(bands, k) emitted keys
    per doc), not an occupancy guarantee (round-8 ADVICE).

    The SimHash sibling of ``similarity.auto_planes``: single-band
    buckets (k=1) have only 2**width values, so their candidate volume
    carries an n²/2**width term; each +1 on k multiplies the bucket
    space by ~2**width at the cost of C(bands, k) emitted keys per doc
    (combinatorial — hence ``max_k``), while the pigeonhole guarantee
    (d ≤ hamming_tol flips touch ≤ hamming_tol bands, leaving ≥ k
    untouched, so some k-combination matches) holds at every k.

    The occupancy test is pure integer arithmetic
    (n > occupancy · 2**(width·k), exact at any n) — the driver oracle
    replays the same selection in SQL, so no float boundary may differ
    between engines."""
    if bits // (hamming_tol + 1) < 1:
        raise ValueError(f"hamming_tol={hamming_tol} needs more than {bits} bits")

    def _over_target(k: int) -> bool:
        width = bits // (hamming_tol + k)
        return n_rows > target_occupancy << (width * k)

    k = 1
    while k < max_k and bits // (hamming_tol + k + 1) >= 1 and _over_target(k):
        k += 1
    if _over_target(k):
        # name the constraint that actually stopped the climb (round-8
        # ADVICE): at large hamming_tol the next k's band width would
        # drop below 1 bit — a different ceiling than the max_k cap
        stop = (
            f"max_k={max_k} cap"
            if k >= max_k
            else f"width floor (k={k + 1} would give {bits} // {hamming_tol + k + 1} = 0-bit bands)"
        )
        warnings.warn(
            f"simhash_auto_band_scheme: bound at k={k} by {stop} "
            f"(bits={bits}) with expected occupancy "
            f"{n_rows / 2 ** ((bits // (hamming_tol + k)) * k):.3g} "
            f"> target {target_occupancy}",
            RuntimeWarning,
            stacklevel=2,
        )
    bands = hamming_tol + k
    return k, bands, bits // bands


def simhash_multi_band_keys(
    sh: DataFrame, hamming_tol: int = 8, k: int = 2, bits: int = 63
) -> DataFrame:
    """(doc, simhash, key_idx, key_val) composite-key index: one row per
    k-combination of the hamming_tol+k bands, key_val the packed band
    values. Generalized pigeonhole: d ≤ hamming_tol flips touch at most
    hamming_tol of the bands, leaving ≥ k untouched — so every true
    pair at the threshold shares at least one composite key, and
    recall stays perfect while bucket occupancy drops from n/2**width
    to n/2**(width·k). Key cost: C(hamming_tol+k, k) rows per doc
    (45 at k=2/d=8, 165 at k=3) — linear in the corpus, the price of
    taking the quadratic term's constant down by ~2**(width·(k−1)).
    Flips in the bits // bands remainder (63 − bands·width unbanded
    bits) only LOWER the in-band flip count, so the guarantee is
    unaffected; the exact popcount rescore uses all 63 bits.

    Plan shape: the C(bands, k) combinations are a BROADCAST relation
    (key_idx, combo array) joined against the signatures, with key_val
    assembled by k literal-position element_at lookups into a
    once-per-doc band-value array — NOT a literal array of C(bands, k)
    inline structs: at k=4 that array is 495 packed-sum expressions in
    one Generate operator, which exceeds janino's method limits
    (InternalCompilerException, measured at the ×1024 probe) and drops
    the whole stage to interpreted evaluation. The join form keeps
    every expression small and codegen-compiled at any k."""
    from itertools import combinations

    bands = hamming_tol + k
    width = bits // bands
    if width < 1:
        raise ValueError(f"hamming_tol={hamming_tol}, k={k}: bands exceed {bits} bits")

    combos_df = sh.sparkSession.createDataFrame(
        [(i, list(c)) for i, c in enumerate(combinations(range(bands), k))],
        "key_idx int, combo array<int>",
    )
    band_vals = F.array(
        *[
            F.shiftright(F.col("simhash"), width * i)
            .bitwiseAND(F.lit((1 << width) - 1))
            .cast("bigint")
            for i in range(bands)
        ]
    )
    packed = F.lit(0).cast("bigint")
    for j in range(k):
        # combo holds 0-based band indices; element_at is 1-based
        bv = F.element_at(F.col("__bvals"), F.element_at(F.col("combo"), j + 1) + 1)
        packed = packed + bv * F.lit(1 << (width * j)).cast("bigint")
    return (
        sh.withColumn("__bvals", band_vals)
        .crossJoin(F.broadcast(combos_df))
        .select("doc", "simhash", "key_idx", packed.alias("key_val"))
    )


def simhash_near_dup_pairs_multi(
    sh: DataFrame, hamming_tol: int = 8, k: int = 2, bits: int = 63
) -> DataFrame:
    """Corpus-sized SimHash near-dup mining: composite-key candidates
    (``simhash_multi_band_keys``) → exact popcount(xor) ≤ tol rescore →
    distinct pairs. Same output as single-band mining at the same
    tolerance (pytest pins the equality) with the candidate join volume
    divided by ~2**(width·(k−1))."""
    keys = simhash_multi_band_keys(sh, hamming_tol, k, bits)
    a, b = keys.alias("a"), keys.alias("b")
    return (
        a.join(
            b,
            (F.col("a.key_idx") == F.col("b.key_idx"))
            & (F.col("a.key_val") == F.col("b.key_val"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= hamming_tol)
        .distinct()
    )


# Affine MinHash permutation constants: deterministic (md5-derived),
# sized so a*h+b never overflows a signed 64-bit long under ANSI mode
# (a < 2^20 odd, h < 2^32, b < 2^20 → a*h+b < 2^53).
_MINHASH_PRIME = 4294967311  # smallest prime > 2^32


def _perm_consts(num_hashes: int) -> list[tuple[int, int]]:
    out = []
    for i in range(num_hashes):
        d = hashlib.md5(f"wsdp-minhash-perm-{i}".encode()).hexdigest()
        a = (int(d[:8], 16) & 0xFFFFF) | 1  # odd, < 2^20
        b = int(d[8:16], 16) & 0xFFFFF
        out.append((a, b))
    return out


def minhash_signatures(
    df: DataFrame, text_col: str, id_col: str, n: int = 3, num_hashes: int = 32
) -> DataFrame:
    """MinHash signature per doc: base-hash each distinct shingle once
    (md5 → 32-bit), then permutation i takes min over shingles of
    (aᵢ·h + bᵢ) mod p. Engine-portable, no ml-lib dependency.
    Output: (doc, array<bigint> of length num_hashes).

    Entirely per-row — a narrow map stage inside one projection, ZERO
    shuffle (the naive formulation explodes |shingles|×num_hashes rows
    through two groupBys; at 100 TB that shuffle dwarfs the hash work).
    """
    base = shingled(df, text_col, id_col, n)
    # Base hash = xxhash64 masked to 32 bits: JVM-intrinsic (no md5 hex
    # detour), still < 2^32 so the affine permutations can't overflow a
    # signed long under ANSI mode. Signatures never face a SQL oracle
    # (LSH recall is pinned in pytest), so portability doesn't apply.
    hashed = base.select(
        "doc",
        F.transform(
            F.col("sh"),
            lambda s: F.xxhash64(s).bitwiseAND(F.lit(0xFFFFFFFF)),
        ).alias("__hs"),
    )
    # One SQL fragment for the whole signature array instead of
    # num_hashes × (transform + lambda) builder calls: the per-lambda
    # py4j round trips made plan CONSTRUCTION the dominant cost of the
    # 32-permutation projection (~0.4 s/plan measured r13 — the same
    # finding as similarity._l2sq_sql). Catalyst tree unchanged:
    # `{a} * h` is int-literal × bigint → bigint, the prime literal
    # exceeds int32 so it parses as BIGINT — exactly the types the
    # F.lit builder produced.
    sig = F.expr(
        "array("
        + ",".join(
            f"array_min(transform(`__hs`, h -> ({a} * h + {b}) % {_MINHASH_PRIME}))"
            for (a, b) in _perm_consts(num_hashes)
        )
        + ")"
    )
    return hashed.select("doc", sig.alias("signature"))


def minhash_signatures_portable(
    df: DataFrame, text_col: str, id_col: str, n: int = 3, num_hashes: int = 16
) -> DataFrame:
    """Engine-portable MinHash: base hash = first 8 md5 hex chars of the
    shingle STRING (32 bits, reproducible in any SQL dialect — the same
    trick simhash uses), then the same affine permutations as
    :func:`minhash_signatures`. Use when signatures must be verified or
    joined across engines (the driver-oracled query); the xxhash64
    variant stays the fast path when signatures never leave Spark.
    Identical shape: per-row, zero shuffle."""
    base = shingled(df, text_col, id_col, n)
    hashed = base.select(
        "doc",
        F.transform(
            F.col("sh"),
            lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long"),
        ).alias("__hs"),
    )

    # One SQL fragment for the whole signature array instead of
    # num_hashes × (transform + lambda) builder calls: the per-lambda
    # py4j round trips made plan CONSTRUCTION the dominant cost of the
    # 32-permutation projection (~0.4 s/plan measured r13 — the same
    # finding as similarity._l2sq_sql). Catalyst tree unchanged:
    # `{a} * h` is int-literal × bigint → bigint, the prime literal
    # exceeds int32 so it parses as BIGINT — exactly the types the
    # F.lit builder produced.
    sig = F.expr(
        "array("
        + ",".join(
            f"array_min(transform(`__hs`, h -> ({a} * h + {b}) % {_MINHASH_PRIME}))"
            for (a, b) in _perm_consts(num_hashes)
        )
        + ")"
    )
    return hashed.select("doc", sig.alias("signature"))


def minhash_lsh_candidates(
    signatures: DataFrame, bands: int = 8, rows_per_band: int = 4
) -> DataFrame:
    """LSH banding: docs agreeing on all rows of ≥1 band become candidate
    pairs. Buckets turn into posting lists (groupBy band+bucket →
    sorted doc list → a<b fan-out → distinct): one shuffle + one
    distinct, no self-join, no n²."""
    return _band_index_pairs(lsh_band_index(signatures, bands, rows_per_band)).distinct()


def _band_index_pairs(index_df: DataFrame) -> DataFrame:
    """(doc, band, bucket) index → a<b candidate pairs via posting
    lists — the ONE place the bucket-to-pairs fan-out shape lives
    (round-9 review: it had been copied into the incremental path,
    so a future posting-list fix would have silently missed it). Not
    deduplicated: callers distinct() after unioning their sources."""
    posting = (
        index_df.groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_set("doc")).alias("docs"))
        .filter(F.size("docs") >= 2)
    )
    return posting.select(F.explode(_pair_combos(F.col("docs"))).alias("p")).select(
        F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b")
    )


def lsh_band_index(
    signatures: DataFrame, bands: int = 8, rows_per_band: int = 4
) -> DataFrame:
    """Persistable LSH index: one (doc, band, bucket) row per band —
    what a production dedup service stores between runs (partitioned by
    band/bucket on disk). ``minhash_lsh_candidates`` is this index
    turned into pairs all-at-once; the incremental path joins NEW docs
    against this instead."""
    assert bands * rows_per_band <= 64
    return signatures.select(
        "doc",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(band).alias("band"),
                        F.md5(
                            F.concat_ws(
                                ",",
                                F.lit(band),
                                F.concat_ws(
                                    ",",
                                    F.slice(
                                        F.col("signature"),
                                        band * rows_per_band + 1,
                                        rows_per_band,
                                    ),
                                ),
                            )
                        ).alias("bucket"),
                    )
                    for band in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc", "bb.band", "bb.bucket")


def incremental_lsh_candidates(
    corpus_index: DataFrame,
    new_docs: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    rows_per_band: int = 4,
) -> DataFrame:
    """Incremental near-dup detection — the reference's only-changed-keys
    discipline (README.md:21-24) applied to dedup: signature+band ONLY
    the new batch, equi-join its (band, bucket) keys against the stored
    corpus index, emit (new_doc, corpus_doc) candidate pairs. Cost
    scales with |new batch| × bands, never with the corpus; the corpus
    side is a pre-partitioned index scan (bucket-join co-location at
    real scale). New-vs-new dups inside the batch are caught by the
    batch's own banding (same index, self-pairs)."""
    sigs = minhash_signatures(new_docs, text_col, id_col, n, num_hashes)
    new_idx = lsh_band_index(sigs, bands, rows_per_band)
    return incremental_lsh_candidates_from_index(corpus_index, new_idx)


def incremental_lsh_candidates_from_index(
    corpus_index: DataFrame, new_idx: DataFrame
) -> DataFrame:
    """The join half of :func:`incremental_lsh_candidates`, taking the
    new batch ALREADY banded — shared by the batch operator above and
    the streaming foreachBatch sink (`streaming/dedup_stream.py`),
    which computes the batch's band index once and feeds it to both
    the pair mine and the index append. new-vs-new pairs come from
    posting lists over the new index itself (identical banding, so
    identical pairs to re-banding the signatures)."""
    corpus = corpus_index.select(
        F.col("doc").alias("corpus_doc"), "band", "bucket"
    )
    vs_corpus = (
        new_idx.join(corpus, ["band", "bucket"])
        .filter(F.col("doc") != F.col("corpus_doc"))
        .select(F.col("doc").alias("doc_a"), F.col("corpus_doc").alias("doc_b"))
    )
    vs_self = _band_index_pairs(new_idx)
    return vs_corpus.unionByName(vs_self).distinct()
