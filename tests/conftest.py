from __future__ import annotations

import os

import pytest

from etl_olho_vivo_spark.session import get_spark


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: long-running scale probes (10x plan invariants)"
    )


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="etl-olho-vivo-tests",
        cpus=os.environ.get("SPARK_GRAFT_CPUS", "8"),
    )
    yield s
