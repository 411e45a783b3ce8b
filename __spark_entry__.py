"""Driver contract: entry(spark), queries(), oracle_sql().

Thin shim over :mod:`geodesk_spark.driver_queries` — the per-family
query-builder modules plus the assembled registry.  The modules are
hand-maintained; add a query to its family module and register it in
geodesk_spark/driver_queries/registry.py.

Registry ordering contract: TIER A = the canonical 50 (one query per
operator family, every SURVEY §2.3 join, the tile family, the flagship
PIP join) because the driver's correctness artifact caps at 50 rows;
see geodesk_spark/driver_queries/registry.py.
"""

from geodesk_spark.driver_queries.polygons import (  # noqa: F401  (test fixtures)
    _geomcoll_fixture,
    _phash_fixture,
)
from geodesk_spark.driver_queries.registry import (  # noqa: F401
    QUERIES,
    entry,
    oracle_sql,
    queries,
)
