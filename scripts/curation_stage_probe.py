"""Stage decomposition of corpus_curation_stats in ONE JVM (guide §1.4):
time each pipeline prefix with the noop sink so the per-stage increment
is attributable, then A/B candidate rewrites of the quality gate in the
same session.

Usage: python scripts/curation_stage_probe.py [--sf-dir DIR] [--reps N]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from webscrap_datapipeline_spark.catalog import load_table  # noqa: E402
from webscrap_datapipeline_spark.functions import text as TX  # noqa: E402
from webscrap_datapipeline_spark.operators import dedup as DD  # noqa: E402
from webscrap_datapipeline_spark.session import get_spark  # noqa: E402


def noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def best(fn, reps):
    return min(fn() for _ in range(reps))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()

    spark = get_spark(app_name="curation-stage-probe")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()

    from webscrap_datapipeline_spark.plans.text_queries import _SHINGLE_CAP

    def corpus():
        docs = load_table(spark, "documents", args.sf_dir, widen=True).select("doc_id", "lang", "text")
        dups = docs.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "lang", "text"
        )
        return docs.unionByName(dups)

    stages: dict[str, float] = {}

    spark.sparkContext.setJobDescription("stage: scan+union")
    stages["scan_union"] = best(lambda: noop(corpus()), args.reps)

    def quality():
        c = corpus()
        return c.filter((TX.token_count("text") > 0) & (TX.quality_score("text") >= 0.5))

    spark.sparkContext.setJobDescription("stage: +quality gate")
    stages["quality_gate"] = best(lambda: noop(quality()), args.reps)

    def exact_kept():
        q = quality()
        canon = DD.exact_dedup(q, "text", "doc_id").select(
            F.col("canonical_id").alias("doc_id")
        )
        return q.join(canon, "doc_id", "left_semi")

    spark.sparkContext.setJobDescription("stage: +exact dedup semi-join")
    stages["exact_kept"] = best(lambda: noop(exact_kept()), args.reps)

    def pairs():
        return DD.jaccard_pairs(
            exact_kept().localCheckpoint(eager=False),
            "text",
            "doc_id",
            n=3,
            max_shingle_freq=_SHINGLE_CAP,
        ).filter(F.col("jaccard") >= 0.5)

    spark.sparkContext.setJobDescription("stage: +pair mining")
    stages["pairs"] = best(lambda: noop(pairs()), args.reps)

    from webscrap_datapipeline_spark.plans.registry import REGISTRY

    spark.sparkContext.setJobDescription("full query")
    stages["full_query"] = best(
        lambda: noop(REGISTRY["corpus_curation_stats"].fn(spark, args.sf_dir)), args.reps
    )

    # ---- A/B: quality gate as-is vs single-tokenize rewrite ------------
    def quality_single_tokenize():
        c = corpus().withColumn("__toks", TX.tokens("text"))
        n = F.size("__toks")
        distinct_ratio = F.when(
            n > 0, F.size(F.array_distinct("__toks")).cast("double") / n
        ).otherwise(F.lit(0.0))
        stop_ratio = F.when(
            n > 0,
            F.size(F.filter("__toks", lambda w: w.isin(*TX.STOPWORDS))).cast("double") / n,
        ).otherwise(F.lit(0.0))
        length_ok = F.when((n >= 20) & (n <= 1000), F.lit(1.0)).otherwise(F.lit(0.0))
        score = (distinct_ratio + stop_ratio + length_ok) / F.lit(3.0)
        return c.filter((n > 0) & (score >= 0.5)).drop("__toks")

    spark.sparkContext.setJobDescription("A/B: gate single-tokenize")
    stages["quality_gate_single_tok"] = best(
        lambda: noop(quality_single_tokenize()), args.reps
    )

    # equivalence check of the rewrite (row sets must match exactly)
    a = quality().select("doc_id").exceptAll(quality_single_tokenize().select("doc_id"))
    b = quality_single_tokenize().select("doc_id").exceptAll(quality().select("doc_id"))
    stages["gate_rewrite_diff_rows"] = float(a.count() + b.count())

    print({k: round(v, 3) for k, v in stages.items()})


if __name__ == "__main__":
    main()
