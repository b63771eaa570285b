from __future__ import annotations

import os
import sys
import time
import uuid

import pytest

if os.path.isdir("/dev/shm"):
    # sandbox: /tmp is a throttled virtio disk; shuffle spills must not
    # serialize on it (session.py reads this env var — opt-in there)
    os.environ.setdefault("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-local")

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from entity_resolution_engine_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="er_tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.driver.memory": "8g"},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def synth_corpus(spark):
    """Shared 600-row planted-cluster corpus + labels (cached)."""
    from entity_resolution_engine_spark.sources.synth import generate_web_pages

    pages, labels = generate_web_pages(spark, 600, seed=42)
    pages = pages.cache()
    labels = labels.cache()
    pages.count(), labels.count()
    return pages, labels


@pytest.fixture()
def jobs_run_by(spark):
    """``jobs_run_by(fn)``: the Spark jobs ``fn`` starts, counted under
    a fresh job group with ``statusTracker``."""
    sc = spark.sparkContext

    def count(fn) -> int:
        group = f"jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "calls under test")
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        # status events arrive in order: once a later job is visible,
        # every job fn started is too
        sentinel = group + "-sentinel"
        sc.setJobGroup(sentinel, "sentinel")
        try:
            sc.parallelize([1], 1).count()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        tracker = sc.statusTracker()
        deadline = time.monotonic() + 30
        while not tracker.getJobIdsForGroup(sentinel) and time.monotonic() < deadline:
            time.sleep(0.05)
        assert tracker.getJobIdsForGroup(sentinel)
        return len(tracker.getJobIdsForGroup(group))

    return count
