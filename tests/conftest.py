from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kgraph_framework_spark.session import get_spark  # noqa: E402

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")

# The fixtures are MB-sized, but get_spark's 48g production default lets
# the one long-lived test JVM grow its heap past a small host's RAM
# before collecting (measured: 15 GB RSS on a 15 GB, 4-core box, then
# the kernel OOM killer ends the session mid-suite). A bounded heap makes
# the JVM collect instead; an explicit SPARK_GRAFT_DRIVER_MEM still wins.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "6g")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("kgraph-tests", cores=8, shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_tiny():
    return f"{TESTDATA}/sf0.001"


@pytest.fixture(scope="session")
def sf_small():
    return f"{TESTDATA}/sf0.01"


def edges_df(spark, rows):
    """rows: list of (src, dst, weight) -> canonical edge DataFrame."""
    return spark.createDataFrame(
        [(int(s), int(d), float(w)) for s, d, w in rows],
        "src_vertex long, dst_vertex long, weight double",
    )


# Micro-fixture graphs with hand-checkable structure.
# A 5-cycle plus a chord and an isolated 2-chain; one dangling vertex (9).
MICRO_EDGES = [
    (0, 1, 1.0),
    (1, 2, 1.0),
    (2, 3, 1.0),
    (3, 4, 1.0),
    (4, 0, 1.0),
    (0, 2, 2.0),
    (7, 8, 1.0),
    (8, 9, 1.0),
]

# Two triangles sharing an edge + a pendant.
TRI_EDGES = [
    (1, 2, 1.0),
    (2, 3, 1.0),
    (1, 3, 1.0),
    (3, 4, 1.0),
    (2, 4, 1.0),
    (4, 5, 1.0),
]
