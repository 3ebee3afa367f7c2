"""Connected components over a pair/edge list — the survivor-selection
step every dedup pipeline needs after near-dup mining: candidate pairs
(MinHash-LSH, Jaccard, SimHash, embedding-LSH) form a graph; each
connected component is one duplicate cluster; one canonical document
per cluster survives.

Spark-first shape: hash-min label propagation as a DataFrame loop —
each iteration is one equi-join (labels onto the symmetrized edge
list) + one min-aggregate with map-side partial min. At every call
site here the edge list is the POST-THRESHOLD pair set (near-dups
that actually cleared Jaccard/cosine), orders of magnitude smaller
than the candidate volume, so the label table stays broadcastable
far past the corpus sizes the candidate stages strain at: measured
at ×64 (≈ sf6.4) the inner join is a BroadcastHashJoin on labels and
the whole loop is ~2 s of a 19 s pipeline (SCALE.md round-8 plan
audit). When labels outgrow the broadcast threshold the join falls
back to shuffling the symmetrized list by vertex id each round —
localCheckpoint does NOT preserve hash partitioning (verified on
Spark 4.1.2: the Exchange reappears even when the checkpointed frame
was pre-repartitioned on the join key), so the per-round shuffle
cannot be hoisted out of the loop with checkpoints alone. The loop
runs until no label changes: hash-min labels only decrease, so it
stops after at most diameter + 1 rounds; duplicate clusters are
near-cliques, so 2-3 iterations in practice.
Lineage is truncated per iteration with an eager localCheckpoint
(the label table is O(vertices in pairs) — vertices touched by at
least one candidate pair, a small fraction of the corpus), which
also gives the loop its convergence counter for free: the
checkpointed table is cheap to re-aggregate.

At 1000-executor scale the same loop holds: the alternative
published formulations (large-star/small-star) reduce rounds on
high-diameter graphs, but dedup graphs are diameter-2-ish and the
simple hash-min loop does fewer shuffles per round.

Reference lineage: the reference dedups only by exact key equality
(drop_duplicates, src/utils.py:190); components generalize that to
"equal under any chain of near-duplicate evidence".
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Label every vertex appearing in ``edges`` with its component id =
    the minimum vertex id reachable from it. Returns (vertex,
    component). Deterministic: min-label is order-independent."""
    # Materialize the symmetrized edge list ONCE before looping: every
    # iteration joins against it, and without the checkpoint each join
    # would re-execute the edges' entire upstream plan (at the call
    # sites here: the full quality-filter → dedup → pair-mining DAG) —
    # measured 3× the whole pipeline's cost at sf0.1. Edges are
    # candidate pairs, orders of magnitude smaller than the corpus.
    #
    # Job-count discipline (round-12 optimization, guide §1/§2): every
    # materialization here is a LAZY localCheckpoint, so the per-
    # iteration convergence count is the ONLY action — it materializes
    # the iteration's label table and counts the changed rows in one
    # job, where the previous eager-checkpoint-then-count shape paid two
    # driver barriers per round (plus two for init). And the initial
    # label table starts one propagation step ahead: component =
    # min(self, direct neighbors) falls out of the same aggregation
    # that used to compute distinct vertices, so the common
    # near-clique dedup graph (min-id a direct neighbor of every
    # member) converges in ONE confirming round instead of
    # init + propagate + confirm. Measured on dedup_cluster_sizes at
    # sf0.1: 25 → 17 jobs per run. The fixpoint — label = min
    # reachable vertex id — is unchanged: fused init is exactly the
    # first hash-min round, and the loop still runs to no-change.
    # Symmetrize in ONE pass over the edge plan: explode a 2-element
    # struct array per edge instead of unioning two selects of the same
    # plan. The union shape executed the edges' ENTIRE upstream DAG
    # twice inside the materialization job (both branches re-run the
    # pair mining — at the call sites here that is the full
    # quality-filter → dedup → posting-list → pair fan-out pipeline,
    # the single most expensive stage of every consumer); the explode
    # runs it once and emits both directions per row (guide §2: don't
    # compute things twice). Row set is identical — (u,v) ∪ (v,u).
    sym = edges.select(
        F.explode(
            F.array(
                F.struct(F.col(src).alias("u"), F.col(dst).alias("v")),
                F.struct(F.col(dst).alias("u"), F.col(src).alias("v")),
            )
        ).alias("e")
    ).select("e.u", "e.v")
    # Materialize at the plan's natural width (the checkpoint job is
    # the expensive pair-mining compute — never cap it), THEN bound
    # the loop's read side: every CC round re-reads this checkpoint,
    # and read-side slivers scheduled ~230 tasks/round on kilobytes
    # of labels at sf0.1 (guide §2.2: fewer, larger partitions).
    # coalesce AFTER the checkpoint is a narrow merge of in-memory
    # blocks only — upstream compute width is untouched (round-12
    # ADVICE: coalesce-before-checkpoint propagated up to the
    # previous shuffle boundary and could cap the per-row
    # Jaccard/cosine filter stage at exactly core count).
    sym = sym.localCheckpoint(eager=False).coalesce(
        edges.sparkSession.sparkContext.defaultParallelism
    )
    labels = (
        sym.groupBy(F.col("u").alias("vertex"))
        .agg(F.min("v").alias("__mn"))
        .select(
            "vertex", F.least(F.col("vertex"), F.col("__mn")).alias("component")
        )
        .localCheckpoint(eager=False)
    )
    while True:
        nbr_min = (
            sym.join(labels, sym["u"] == labels["vertex"])
            .groupBy(F.col("v").alias("vertex2"))
            .agg(F.min("component").alias("nbr_component"))
        )
        new_labels = (
            labels.join(nbr_min, labels["vertex"] == nbr_min["vertex2"], "left")
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
        labels = new_labels.drop("__changed")
        if n_changed == 0:
            return labels


def dedup_survivors(
    docs: DataFrame, pairs: DataFrame, id_col: str, src: str, dst: str
) -> DataFrame:
    """Drop every document that is a non-canonical member of a duplicate
    cluster: component id = min doc id per cluster survives, the rest
    are anti-joined away. Documents in no pair pass through untouched
    (they never enter the label table, so the anti join is against the
    small victim set, not the corpus)."""
    comp = connected_components(pairs, src, dst)
    victims = comp.filter(F.col("vertex") != F.col("component")).select(
        F.col("vertex").alias(id_col)
    )
    return docs.join(victims, id_col, "left_anti")
