import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from geodesk_spark.session import get_spark

    s = get_spark("geodesk-spark-tests")
    yield s
    s.stop()


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: bench-scale deployment smokes (minutes, not seconds)"
    )
