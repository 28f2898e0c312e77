from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_SMOKE = os.environ.get("SPARK_GRAFT_SF_SMOKE", "/root/testdata/sf0.001")

# A marker mtime set before a re-run: a rewritten marker is then newer
# than PAST and an untouched one equals it, however coarse the file
# system's timestamps and however fast the re-run.
PAST = 1_000_000_000


def backdate(*paths: str) -> None:
    for path in paths:
        os.utime(path, (PAST, PAST))


@pytest.fixture(scope="session")
def spark():
    from src_to_kb_spark.session import get_spark

    # The session's 48g default heap exceeds a 16 GB test machine: the
    # driver JVM then grows past free memory before G1 collects and can
    # be OOM-killed mid-suite.  The suite's live data fits in a few GB.
    os.environ.setdefault("SPARK_DRIVER_MEM", "6g")
    s = get_spark("src_to_kb_spark-tests", cpus=8, shuffle_partitions=8)
    yield s
    s.stop()
