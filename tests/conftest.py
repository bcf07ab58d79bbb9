import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cex_crawler_spark.session import get_spark
from cex_crawler_spark.sources.corpus import REFERENCE_ROOT

# the reference's shipped announcement snapshot; tests marked
# ``reference_snapshot`` compare against it and skip when it is absent
REFERENCE_OUTPUT = os.path.join(REFERENCE_ROOT, "output")


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "reference_snapshot: reads the reference's shipped output snapshot",
    )


def pytest_collection_modifyitems(config, items):
    if os.path.isdir(REFERENCE_OUTPUT):
        return
    skip = pytest.mark.skip(
        reason=f"reference snapshot not present: {REFERENCE_OUTPUT}"
    )
    for item in items:
        if "reference_snapshot" in item.keywords:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    # local[4,2]: 2 task attempts, like a real cluster's
    # spark.task.maxFailures>1 — the fault-injection resume test needs a
    # failed task attempt to retry instead of failing the job
    s = get_spark(app_name="cex-tests", master="local[4,2]", shuffle_partitions=4)
    yield s
    s.stop()
