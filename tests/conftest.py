import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="session")
def spark():
    from osmquadtree_rust_spark.session import get_spark

    s = get_spark("tests", master="local[4]", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture()
def rel_chain(spark):
    """Relations 300..307 on one rel->rel chain: 300 holds node 1 and
    300+k holds relation 300+k-1, so relation 300+k is k hops from 300."""
    return spark.createDataFrame(
        [(300, [{"mem_type": 0, "mem_ref": 1}])]
        + [(300 + k, [{"mem_type": 2, "mem_ref": 299 + k}]) for k in range(1, 8)],
        "id long, members array<struct<mem_type:int, mem_ref:long>>",
    )
