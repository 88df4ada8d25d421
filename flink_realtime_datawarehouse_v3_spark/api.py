"""Query catalog: the driver-facing surface.

``QUERIES`` maps query name -> callable(spark, sf_dir) -> DataFrame (the
Spark pipeline, end-to-end from the parquet tables through ODS synthesis).
``ORACLES`` maps the same names to DuckDB SQL over the pre-registered views
(region nation customer supplier part orders lineitem events documents
embeddings) computing the identical result. Names without an oracle entry
are non-SQL-expressible ops (driver records a rows-only check).

Column names are aligned on both sides (the driver sorts columns by name
before value-hashing).

Since round 12 the catalog BODY lives in ``registry/`` (one module per
query family, imported in registration order); this module is the stable
import surface tests, tools, bench.py and __spark_entry__.py use.
"""

from __future__ import annotations

from .registry._core import (  # noqa: F401
    FIXTURE_ORACLES,
    FIXTURE_QUERIES,
    ORACLES,
    QUERIES,
    QueryFn,
    _MATERIALIZED,
    _cdc,
    _memo_df,
    register,
    register_fixture,
    reset_session_caches,
    unpersist_orphans,
)

# Importing the package executes every family module IN ORDER — import
# order IS registration order (the driver checks the first 50 entries).
from . import registry as _registry  # noqa: F401,E402

# Helpers tests reach through api.* (historical surface).
from .registry.m06_training_text import (  # noqa: F401,E402
    _capped_postings,
    _corpus,
    _emb,
    _emb_corpus,
    _ngram_pairs,
)

# Driver-order artifacts (rebuilt in place by tools/rebuild_window.py,
# which points at registry/driver_order.py).
from .registry.driver_order import (  # noqa: F401,E402
    DEFINITION_ORDER,
    _DRIVER_TAIL,
    _DRIVER_WINDOW,
    _WINDOW_ROUND,
    _WINDOW_ROWS_ONLY,
)
