from __future__ import annotations

import pytest

from okapi_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(cores=8, shuffle_partitions=8, app_name="okapi_spark_tests")
    yield s
    s.stop()


def toy_edges(spark, lines: list[tuple[int, int, float]], symmetric: bool = True):
    """Build an edges DataFrame from (src, dst, weight) triples; with
    ``symmetric`` both directions are added, matching how the reference
    tests list undirected graphs twice."""
    rows = list(lines)
    if symmetric:
        rows += [(d, s, w) for (s, d, w) in lines]
    return spark.createDataFrame(
        sorted(set(rows)), schema="src long, dst long, weight double"
    )


# every metrics_log row of the staged-fixpoint executor (the csr modes)
# carries these keys, plus the program's metric
EXECUTOR_KEYS = {"superstep", "superstep_sec", "_halted", "edges_processed"}


# Reference toy graph: 5-vertex, triangles {1,2,3} and {3,4,5}
# (graphs/ClusteringCoefficientTest.java:35-48, FIXTURES.md §3.1)
FIVE_VERTEX = [
    (1, 2, 1.0),
    (1, 3, 1.0),
    (2, 3, 2.0),
    (3, 4, 2.0),
    (3, 5, 1.0),
    (4, 5, 1.0),
]

# Weighted 6-vertex semimetric graph (graphs/SemimetricTrianglesTest.java:36-53)
SIX_VERTEX_SEMIMETRIC = [
    (1, 2, 10.0),
    (1, 4, 1.0),
    (2, 3, 3.0),
    (2, 4, 2.0),
    (2, 5, 2.0),
    (3, 5, 1.0),
    (3, 6, 5.0),
    (5, 6, 3.0),
]
