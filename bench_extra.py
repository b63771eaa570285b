"""Round-6 measurement harness (guide §1) — bench.py stays FROZEN.

Times individual declared queries in isolation with the same
methodology as bench.py (df.count(), best-of-N, cache cleared between
reps) and optionally:

- dumps ``.explain("formatted")`` per query to plans/r06/<q>_<tag>.txt
- times with the noop sink instead of count() (``--noop``) so the
  computation is measured with every column materialized (§1.4)

All queries run in one Spark session, in the order given, and a
query's time depends on which queries ran before it (JIT, caches and
Python workers warmed by the earlier ones): the same leaf timed alone,
after another leaf, or in bench.py's order can differ by more than its
spread.  The summary line records that order as ``"order"``; compare
two checkouts only on runs with the same order.

Usage:
    python bench_extra.py --queries ngram_jaccard,minhash_near_dup \
        --sf /root/testdata/sf1.0 --reps 3 --plans before
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

if os.path.isdir("/dev/shm"):
    os.environ.setdefault("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-local")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", required=True, help="comma-separated names, or 'headline'")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--noop", action="store_true", help="noop sink instead of count()")
    ap.add_argument("--plans", default=None, help="dump explain to plans/r06/<q>_<TAG>.txt")
    args = ap.parse_args()

    from entity_resolution_engine_spark.session import get_spark

    import __spark_entry__ as E

    spark = get_spark(app_name="er_bench_extra")
    qs = E.queries()
    headline = [
        "revenue_by_nation", "argmax_best_match", "zscore_anomaly",
        "windowed_event_counts", "doc_profile", "minhash_near_dup",
        "ngram_jaccard", "ngram_jaccard_fast", "ann_bruteforce",
        "ann_ivf_probe", "ngram_decontaminate", "er_resolve_documents",
    ]
    names = headline if args.queries == "headline" else args.queries.split(",")

    plandir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans", "r06")
    timings: dict[str, float] = {}
    spreads: dict[str, float] = {}
    for name in names:
        if args.plans:
            os.makedirs(plandir, exist_ok=True)
            df = qs[name](spark, args.sf)
            with open(os.path.join(plandir, f"{name}_{args.plans}.txt"), "w") as fh:
                fh.write(df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
                    df._jdf.queryExecution(), "formatted"))
            spark.catalog.clearCache()
        reps = []
        for _ in range(args.reps):
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            # query CONSTRUCTION is inside the timed region, matching
            # bench.py (the flagship's CC loop runs driver actions at
            # construction time — timing only the final count would
            # miss most of its work)
            t0 = time.monotonic()
            df = qs[name](spark, args.sf)
            if args.noop:
                df.write.format("noop").mode("overwrite").save()
            else:
                df.count()
            reps.append(time.monotonic() - t0)
            spark.catalog.clearCache()
        timings[name] = round(min(reps), 3)
        spreads[name] = round(max(reps) - min(reps), 3)
        print(json.dumps({"query": name, "min": timings[name],
                          "samples": [round(r, 3) for r in reps]}), flush=True)
    print(json.dumps({"sf": args.sf, "mode": "noop" if args.noop else "count",
                      "order": names,
                      "total": round(sum(timings.values()), 3),
                      "queries": timings, "spread": spreads}))
    spark.stop()


if __name__ == "__main__":
    main()
