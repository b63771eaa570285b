from __future__ import annotations

import os
import sys

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
