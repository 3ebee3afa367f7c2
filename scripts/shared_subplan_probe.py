"""Same-JVM A/B of the round-13 shared-subplan checkpoints
(cross_source_shingle_overlap's 3-consumer posting relation,
minhash_lsh_near_dups' 2-consumer shingle-set frame): these queries'
ONLY materialization is the new lazy localCheckpoint, so identity-
patching DataFrame.localCheckpoint reproduces the previous tree's
plan exactly — interleaved in one session (window-bias-free).

Run: python scripts/shared_subplan_probe.py [--rounds 3]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame  # noqa: E402

from webscrap_datapipeline_spark.plans import REGISTRY  # noqa: E402
from webscrap_datapipeline_spark.session import get_spark  # noqa: E402

QUERIES = ["cross_source_shingle_overlap", "minhash_lsh_near_dups"]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument(
        "--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    args = ap.parse_args()

    spark = get_spark(app_name="shared-subplan-probe")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()

    best = {q: {"ckpt": 1e9, "none": 1e9} for q in QUERIES}
    real_ckpt = DataFrame.localCheckpoint
    for _ in range(args.rounds):
        for tag in ("ckpt", "none"):
            DataFrame.localCheckpoint = (
                real_ckpt if tag == "ckpt" else (lambda self, eager=True: self)
            )
            try:
                for q in QUERIES:
                    t0 = time.perf_counter()
                    REGISTRY[q].fn(spark, args.sf).count()
                    best[q][tag] = min(best[q][tag], time.perf_counter() - t0)
            finally:
                DataFrame.localCheckpoint = real_ckpt
    print(
        json.dumps(
            {q: {t: round(s, 3) for t, s in d.items()} for q, d in best.items()}
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
