"""Text-analysis column expressions — tokenization, n-gram shingles,
quality scoring, language ID, fingerprinting.

All pure Spark built-ins (split/transform/filter/aggregate/md5 …), so
they run inside whole-stage codegen and scale linearly with no Python
boundary. Each has an exact SQL twin used by the DuckDB oracles in
plans/text_queries.py.

Reference lineage: the reference's only string work is filename regexes
(src/utils.py:66-81, src/process_files.py:37-41) and column-name
cleanup (src/process_files.py:73-79); this module is the north-star
extension surface (BASELINE.json: text analysis / dedup for LLM data
pipelines).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# A small deterministic stopword list shared with the oracles.
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization. split on \\s+ after trim; empty string →
    single empty token filtered out."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.trim(c), r"\s+"), lambda w: w != F.lit(""))


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def distinct_token_count(col: Column | str) -> Column:
    return F.size(F.array_distinct(tokens(col)))


def stopword_count(col: Column | str) -> Column:
    return F.size(F.filter(tokens(col), lambda w: w.isin(*STOPWORDS)))


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles as an array<string>; deduplicated (set
    semantics — what Jaccard needs). Docs shorter than n words yield
    an empty array.

    Built from n aligned slices folded with zip_with, NOT
    transform-over-positions: a positional lambda would re-evaluate the
    whole tokenization expression per shingle position (higher-order
    functions run interpreted and inline their argument trees), turning
    an O(tokens) row into O(tokens²)."""
    return shingles_of_tokens(tokens(col), n)


def shingles_of_tokens(toks: Column, n: int = 3) -> Column:
    """n-gram shingles from an already-computed token array column."""
    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    parts = [F.slice(toks, i + 1, m) for i in range(n)]
    out = parts[n - 1]
    for i in range(n - 2, -1, -1):
        out = F.zip_with(parts[i], out, lambda x, y: F.concat_ws(" ", x, y))
    return F.array_distinct(out)


def fingerprint(col: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of the
    whitespace-normalized, lowercased text. Portable across engines
    (DuckDB md5 is identical) — unlike Spark's xxhash64 seed choices."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(F.concat_ws(" ", tokens(F.lower(c))))


def word_hash64(col: Column) -> Column:
    """63-bit integer hash of a word via md5 (first 15 hex digits →
    bigint). Engine-portable and collision-fine for sketching."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def quality_score(col: Column | str) -> Column:
    """Composite 0..1 quality heuristic (length band + stopword presence
    + lexical diversity) — deterministic rational arithmetic so oracles
    match exactly."""
    toks = tokens(col)
    n = F.size(toks)
    distinct_ratio = F.when(n > 0, F.size(F.array_distinct(toks)).cast("double") / n).otherwise(
        F.lit(0.0)
    )
    stop_ratio = F.when(
        n > 0, F.size(F.filter(toks, lambda w: w.isin(*STOPWORDS))).cast("double") / n
    ).otherwise(F.lit(0.0))
    length_ok = F.when((n >= 20) & (n <= 1000), F.lit(1.0)).otherwise(F.lit(0.0))
    return (distinct_ratio + stop_ratio + length_ok) / F.lit(3.0)
