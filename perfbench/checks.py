"""Output checks of a benchmark run, made after the timed window.

* Queries: every execution of a query must return the same rows, and
  those rows must equal the query's DuckDB oracle over the same files
  (``tests/oracle_compare.py``, imported read-only).
* Ingest cycles: each ``PipelineResult`` must carry the counts the
  generator predicts, and the warehouse the last pass leaves must flag
  exactly each hotel's newest report as current.
* Micro-batches: the pairs each micro-batch emits must equal the batch
  operator's candidates (``operators.dedup.incremental_lsh_candidates``)
  for the same documents against the same corpus, in every pass.

An operation that raised or whose output is wrong counts as failed.
"""

from __future__ import annotations

import functools
import os

import pandas as pd


def digest(pdf: pd.DataFrame, oracle_compare) -> tuple:
    cols = sorted(pdf.columns, key=lambda c: c.lower())
    return tuple(cols), len(pdf), oracle_compare._multiset_digest(pdf.reindex(cols, axis=1))


class _Fetched:
    """A result already fetched, handed to the oracle comparator."""

    def __init__(self, pdf: pd.DataFrame):
        self._pdf = pdf

    def toPandas(self) -> pd.DataFrame:
        return self._pdf


def check_queries(ops, data_dir: str) -> tuple[int, list[str]]:
    from tests import oracle_compare
    from webscrap_datapipeline_spark.plans import oracle_sql

    sql = oracle_sql()
    con = oracle_compare.duckdb_con(data_dir)
    failed, problems = 0, []
    by_query: dict[str, list] = {}
    for op in ops:
        by_query.setdefault(op.kind, []).append(op)
    for q, q_ops in by_query.items():
        done = [op for op in q_ops if op.error is None]
        failed += len(q_ops) - len(done)
        if not done:
            problems.append(f"{q}: every execution raised")
            continue
        verdict = oracle_compare.compare(_Fetched(done[-1].result), con, sql[q])
        if not verdict["ok"]:
            failed += len(done)
            problems.append(f"{q}: differs from its oracle {verdict}")
            continue
        ref = digest(done[-1].result, oracle_compare)
        diverged = sum(digest(op.result, oracle_compare) != ref for op in done[:-1])
        if diverged:
            failed += diverged
            problems.append(f"{q}: {diverged} executions returned other rows")
    con.close()
    return failed, problems


def check_ingest(spark, ingest, ops) -> tuple[int, list[str]]:
    from pyspark.sql import functions as F

    failed, problems = 0, []
    cycles = ingest.plan["cycles"]
    want = lambda d: (len(d["changed"]), d["loaded_rows"], len(d["changed"]), 0)  # noqa: E731
    got = lambda r: (r.changed_keys, r.loaded_rows, r.log_rows, r.quarantined_rows)  # noqa: E731
    if got(ingest.boot_result) != want(ingest.plan["boot"]):
        failed += 1
        problems.append(f"bootstrap cycle: {ingest.boot_result} != {want(ingest.plan['boot'])}")
    for i, op in enumerate(ops):
        expected = want(cycles[i % len(cycles)])
        if op.error is not None:
            failed += 1
        elif got(op.result) != expected:
            failed += 1
            problems.append(f"ingest cycle {i % len(cycles)}: {op.result} != {expected}")

    wh = spark.read.parquet(ingest.paths(ingest.live)["warehouse"])
    cur = wh.filter(F.col("CURRENT_IND") == "Y")
    per_key = cur.groupBy("LOC_ID").agg(F.countDistinct("SRC_FILENAME").alias("files")).toPandas()
    n_cur = cur.count()
    last = cycles[-1]
    if n_cur != last["current_rows"] or len(per_key) != len(ingest.plan["keys"]) or (per_key["files"] != 1).any():
        failed += 1
        problems.append(
            f"warehouse current flags: {n_cur} current rows over {len(per_key)} hotels, "
            f"want {last['current_rows']} over {len(ingest.plan['keys'])}, one report each"
        )
    state = spark.read.json(ingest.paths(ingest.live)["state"]).toPandas()
    newest = {}
    for d in [ingest.plan["boot"], *cycles]:
        for k in d["changed"]:
            newest[k] = d["stamp"]
    if dict(zip(state["key"], state["last_seen_ts"])) != newest:
        failed += 1
        problems.append("state store does not hold each hotel's newest stamp")
    return failed, problems


def expected_pairs(spark, stream) -> list[set]:
    """Per micro-batch, the batch operator's candidates for that batch's
    documents against the bootstrap corpus plus every earlier batch."""
    from pyspark.sql import functions as F
    from webscrap_datapipeline_spark.operators.dedup import (
        incremental_lsh_candidates,
        lsh_band_index,
        minhash_signatures,
    )

    docs = [spark.read.parquet(os.path.join(stream.data, "stream_boot.parquet"))
            .select("doc_id", "text").withColumn("batch", F.lit(-1))]
    for b, name in enumerate(stream.files):
        docs.append(spark.read.schema("doc_id long, text string")
                    .json(os.path.join(stream.data, "stream", name)).withColumn("batch", F.lit(b)))
    docs = functools.reduce(lambda x, y: x.unionByName(y), docs).localCheckpoint()
    ids = docs.select(F.col("doc_id").alias("doc"), "batch")
    index = lsh_band_index(minhash_signatures(docs, "text", "doc_id", 3, 32), 8, 4).join(ids, "doc")
    index = index.localCheckpoint()
    out = []
    for b in range(len(stream.files)):
        pairs = incremental_lsh_candidates(
            index.filter(F.col("batch") < b).drop("batch"), docs.filter(F.col("batch") == b), "text", "doc_id"
        ).collect()
        out.append({(r["doc_a"], r["doc_b"]) for r in pairs})
    return out


def check_stream(spark, stream, passes) -> tuple[int, list[str]]:
    failed, problems = 0, []
    want = expected_pairs(spark, stream)
    if not any(want):
        problems.append("the generated documents hold no near-duplicate pairs")
        failed += 1
    streamed = [p for p in passes if any(op.kind == "micro_batch" for op in p.ops)]
    for n, (p, pairs) in enumerate(zip(streamed, stream.pairs)):
        ops = [op for op in p.ops if op.kind == "micro_batch"]
        for b, op in enumerate(ops):
            got = {(a, c) for a, c, i in zip(pairs["doc_a"], pairs["doc_b"], pairs["__batch_id"]) if i == b}
            if op.error is not None:
                failed += 1
            elif got != want[b]:
                failed += 1
                problems.append(f"pass {n} micro-batch {b}: {len(got)} pairs, the batch operator finds "
                                f"{len(want[b])} ({len(got ^ want[b])} differ)")
    return failed, problems


def check(spark, data_dir: str, passes, incremental) -> tuple[int, list[str]]:
    """Failed-operation count and the problems found, over every pass."""
    ops = [op for p in passes for op in p.ops]
    failed, problems = check_queries([op for op in ops if op.kind not in ("ingest_cycle", "micro_batch")], data_dir)
    if incremental.kind == "ingest":
        f, pr = check_ingest(spark, incremental, [op for op in ops if op.kind == "ingest_cycle"])
    else:
        f, pr = check_stream(spark, incremental, passes)
    return failed + f, problems + pr
