import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from fits2db_spark.session import get_spark

    s = get_spark("fits2db_spark_tests", shuffle_partitions=8)
    yield s
    s.stop()


def memo_counts(prefix: str, sf_dir: str) -> tuple[int, int]:
    """(hits, misses) summed over the memo entries of ``sf_dir`` whose name
    starts with ``prefix``."""
    from fits2db_spark import memo

    rows = [v for (_, d, n), v in memo.stats().items() if d == sf_dir and n.startswith(prefix)]
    return sum(v["hits"] for v in rows), sum(v["misses"] for v in rows)
