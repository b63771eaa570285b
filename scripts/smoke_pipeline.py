"""End-to-end smoke: synth corpus → pipeline → pairwise F1 vs planted labels."""
import shutil
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from entity_resolution_engine_spark.session import get_spark
from entity_resolution_engine_spark.sources.synth import generate_web_pages
from entity_resolution_engine_spark.plans.pipeline import Pipeline
from entity_resolution_engine_spark.operators.evaluate import pairwise_f1

N = int(sys.argv[1]) if len(sys.argv) > 1 else 2000

spark = get_spark(shuffle_partitions=16)
root = tempfile.mkdtemp(prefix="er_smoke_")
try:
    t0 = time.monotonic()
    pages, labels = generate_web_pages(spark, N)
    pipe = Pipeline(spark, root)
    res = pipe.run(pages, run_id="smoke1")
    clusters = pipe.table("smoke1", "clusters")
    m = pairwise_f1(clusters, labels)
    dt = time.monotonic() - t0
    print(f"rows={N} wall={dt:.1f}s stages={res.stages_run} gate={res.gate_passed}")
    print("F1 metrics:", m)
    cand = pipe.table("smoke1", "candidates").count()
    print("candidate pairs:", cand)
finally:
    shutil.rmtree(root, ignore_errors=True)
    spark.stop()
