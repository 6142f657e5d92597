from __future__ import annotations

import pytest

from fastselect_spark.runtime.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="fastselect-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


def pytest_configure(config):
    config.addinivalue_line("markers", "slow: long-running property test")
