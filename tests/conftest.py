import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from geodesk_spark.session import get_spark

    # codegen fallback off: a plan whose generated code fails to compile
    # raises here instead of silently running interpreted
    s = get_spark("geodesk-spark-tests", extra_conf={"spark.sql.codegen.fallback": "false"})
    yield s
    s.stop()


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: bench-scale deployment smokes (minutes, not seconds)"
    )
