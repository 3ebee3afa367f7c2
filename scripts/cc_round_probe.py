"""Per-phase timing of the connected-components loop on the real
dedup_cluster_sizes edge plan, plus a same-JVM A/B of a broadcast-hinted
round join (guide §3.1: pick the strategy deliberately — the label table
is O(paired vertices), tiny next to the corpus, so the per-round
sym-side Exchange+SMJ the no-stats checkpoint forces can be a broadcast
instead).

Usage: python scripts/cc_round_probe.py [--reps N]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from webscrap_datapipeline_spark.session import get_spark  # noqa: E402


def build_edges(spark, sf_dir):
    from webscrap_datapipeline_spark.catalog import load_table
    from webscrap_datapipeline_spark.operators import dedup as DD
    from webscrap_datapipeline_spark.plans.text_queries import _SHINGLE_CAP

    docs = load_table(spark, "documents", sf_dir, widen=True).select("doc_id", "text")
    return DD.jaccard_pairs(
        docs, "text", "doc_id", n=3, max_shingle_freq=_SHINGLE_CAP
    ).filter(F.col("jaccard") >= 0.5)


def timed_cc(edges, src, dst, broadcast_labels: bool, log):
    """connected_components with per-phase wall timing; mirrors
    operators/components.connected_components exactly (same lazy
    checkpoints, fused init, convergence rule)."""
    sc = edges.sparkSession.sparkContext
    t0 = time.perf_counter()
    sym = edges.select(
        F.explode(
            F.array(
                F.struct(F.col(src).alias("u"), F.col(dst).alias("v")),
                F.struct(F.col(dst).alias("u"), F.col(src).alias("v")),
            )
        ).alias("e")
    ).select("e.u", "e.v")
    sym = sym.localCheckpoint(eager=False).coalesce(sc.defaultParallelism)
    labels = (
        sym.groupBy(F.col("u").alias("vertex"))
        .agg(F.min("v").alias("__mn"))
        .select("vertex", F.least(F.col("vertex"), F.col("__mn")).alias("component"))
        .localCheckpoint(eager=False)
    )
    log(f"  plan-build {time.perf_counter() - t0:.3f}s")
    for i in range(20):
        t0 = time.perf_counter()
        lab = F.broadcast(labels) if broadcast_labels else labels
        nbr_min = (
            sym.join(lab, sym["u"] == lab["vertex"])
            .groupBy(F.col("v").alias("vertex2"))
            .agg(F.min("component").alias("nbr_component"))
        )
        nbr = F.broadcast(nbr_min) if broadcast_labels else nbr_min
        new_labels = (
            labels.join(nbr, labels["vertex"] == nbr["vertex2"], "left")
            .select(
                "vertex",
                F.least(
                    F.col("component"), F.coalesce("nbr_component", "component")
                ).alias("component"),
                (F.col("nbr_component") < F.col("component")).alias("__changed"),
            )
            .localCheckpoint(eager=False)
        )
        n_changed = new_labels.filter(F.col("__changed")).count()
        log(f"  round {i}: {time.perf_counter() - t0:.3f}s changed={n_changed}")
        labels = new_labels.drop("__changed")
        if n_changed == 0:
            break
    return labels


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    spark = get_spark(app_name="cc-round-probe")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()

    results = {}
    for rep in range(args.reps):
        for mode in (False, True):
            name = f"{'bcast' if mode else 'smj'} rep{rep}"
            print(name)
            t0 = time.perf_counter()
            labels = timed_cc(build_edges(spark, args.sf_dir), "doc_a", "doc_b", mode, print)
            agg = labels.groupBy("component").count()
            n = agg.count()
            dt = time.perf_counter() - t0
            results[name] = dt
            print(f"  TOTAL {dt:.3f}s components={n}", flush=True)

    # answer equality between the two modes
    a = timed_cc(build_edges(spark, args.sf_dir), "doc_a", "doc_b", False, lambda *_: None)
    b = timed_cc(build_edges(spark, args.sf_dir), "doc_a", "doc_b", True, lambda *_: None)
    diff = a.exceptAll(b).count() + b.exceptAll(a).count()
    print(f"label diff rows between modes: {diff}")
    print({k: round(v, 3) for k, v in results.items()})


if __name__ == "__main__":
    main()
