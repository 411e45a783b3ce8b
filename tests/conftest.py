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
    # a grouped pandas kernel without full type hints (e.g. an untyped
    # `key`) makes PySpark fall back with this warning: fail it instead
    config.addinivalue_line(
        "filterwarnings", "error:Cannot infer the eval type:UserWarning"
    )
    # NumPy's scalar conversion of a 1-element array (an error in a
    # future NumPy), and overflow/invalid warnings from the
    # deterministic math kernels: both were mended at their root, so
    # either coming back fails the suite
    config.addinivalue_line(
        "filterwarnings",
        "error:Conversion of an array with ndim > 0 to a scalar:DeprecationWarning",
    )
    config.addinivalue_line(
        "filterwarnings", "error::RuntimeWarning:geodesk_spark.geo.detmath"
    )
