from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ibis_olap_aggregation_spark.session import get_spark  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    # PIN the tiny-data suite's session width instead of inheriting a
    # bench-sized SPARK_GRAFT_CPUS from the environment: at sf0.001
    # the extra shuffle partitions of local[32] are pure task-scheduling
    # overhead (measured interleaved on one box: the sketches/
    # components/bucket-cap subset runs 88s at width 32 vs 76-86s at
    # width 8). The harness that NEEDS the env width (bench.py) builds
    # its own session; SPARK_GRAFT_TEST_CPUS overrides for width
    # experiments.
    os.environ["SPARK_GRAFT_CPUS"] = os.environ.get(
        "SPARK_GRAFT_TEST_CPUS", "8"
    )
    s = get_spark("tests")
    yield s


@pytest.fixture(scope="session")
def sf_small():
    return SF_SMALL


@pytest.fixture(scope="session")
def sf_oracle():
    return SF_ORACLE


@pytest.fixture(params=["local", "doubling"])
def regime(request, monkeypatch):
    """Run a test under both walks: the driver-local walk (the default
    for dim-sized tables) and the doubling walk, forced by a zero node
    limit."""
    if request.param == "doubling":
        from ibis_olap_aggregation_spark.hierarchy import HierarchyDimension

        monkeypatch.setattr(HierarchyDimension, "_LOCAL_WALK_LIMIT", 0)
    return request.param
