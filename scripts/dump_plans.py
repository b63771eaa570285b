"""Dump formatted physical plans of the headline queries to PLANS.md —
evidence that filters/projections reach the scan, dims broadcast, and
Python stays out of the hot paths (run after code changes)."""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from entity_resolution_engine_spark.session import get_spark

import __spark_entry__ as E

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
NAMES = [
    "threshold_filter",
    "revenue_by_nation",
    "argmax_best_match",
    "zscore_anomaly",
    "exact_dup_groups",
    "ngram_jaccard",
    "ngram_jaccard_fast",
    "minhash_near_dup",
    "ann_bruteforce",
    "ann_ivf_probe",
    "session_windows",
    "session_stats",
    "gopher_repetition",
    "url_canonicalize",
    "stratified_sample",
]


def main() -> None:
    spark = get_spark(shuffle_partitions=8)
    qs = E.queries()
    out = [
        "# PLANS — formatted physical plans of headline queries\n",
        "Regenerate with `python scripts/dump_plans.py`.  Things to check:",
        "`PushedFilters`/`ReadSchema` on scans (pushdown + pruning),",
        "`BroadcastHashJoin` for dimension joins, `WholeStageCodegen` spans,",
        "and exactly ONE `ArrowEvalPython` per pandas-UDF stage (text inside",
        "`InMemoryTableScan` descriptions is the cached plan, not execution).\n",
    ]
    for name in NAMES:
        df = qs[name](spark, SF)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        out.append(f"\n## {name}\n\n```\n{plan.strip()}\n```\n")

    # IVF centroid training sample: the plan must show a hash FILTER at
    # the scan with the sort applied only to the ~sample survivors —
    # never a full-corpus global sort (VERDICT round-1 item 5)
    from entity_resolution_engine_spark.operators.ann import centroid_sample
    from entity_resolution_engine_spark.sources.readers import load_table

    sample_df = centroid_sample(load_table(spark, SF, "embeddings"), sample=256)
    plan = sample_df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    out.append(f"\n## ann_ivf centroid training sample\n\n```\n{plan.strip()}\n```\n")

    # CC star round: the plan must compute per-node minima as a WINDOW
    # over one exchange — no groupBy+self-join pair per star operator
    # (round-3: the join formulation tripled the logical tree per round
    # and made localCheckpoint's Catalyst pass the dominant serial cost)
    from pyspark.sql import functions as F

    from entity_resolution_engine_spark.operators.cluster import (
        edges_to_ids,
        large_star,
        small_star,
    )

    toy = spark.createDataFrame(
        [("a", "b"), ("b", "c")], ["src", "dst"]
    )
    round_df = small_star(large_star(edges_to_ids(toy)))
    plan = round_df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    out.append(
        f"\n## connected_components star round (large_star ∘ small_star)\n\n```\n{plan.strip()}\n```\n"
    )
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
