"""The engine's complete named-query surface (driver contract).

One entry per implemented operator from SURVEY.md §2 (+ north-star
extensions). Each name maps to (spark_fn, oracle_sql | None); oracle None ⇒
the driver records a weaker rows-only check (reserved for genuinely
non-SQL-expressible ops: MinHash/SimHash signatures use xxhash64 which
DuckDB lacks; approx_count_distinct HLLs differ by construction).

The registry is a package of per-domain modules. Every module registers
into the shared dict in ``_base`` via the ``_q`` decorator at import
time, so the import order BELOW is load-bearing: it fixes the
registration order, which QUERIES.md documents. After the last
registration the one reorder moves the names of ``windows._DRIVER_HEAD``
to the front (the external driver samples the first 50 QUERIES entries)
and keeps everything else in registration order. It permutes the dict
IN PLACE so all modules keep aliasing one object.
tests/test_registry_order.py pins the head and
tests/test_registry_split.py pins the full sequence against
tests/registry_order_snapshot.json.
"""

from __future__ import annotations

from multiagent_document_etl_system_spark.plans.registry._base import (  # noqa: F401
    QUERIES,
    QueryFn,
    RELATIONAL_QUERIES,
    _docs,
    _emb,
    _q,
)

# ---- registration-order imports (DO NOT REORDER; see module docstring) --
from multiagent_document_etl_system_spark.plans.registry import (  # noqa: E402,F401
    kernels,
    ann,
    dedup,
    curation,
    textstats,
    events,
    sources_streaming,
    corpus,
    search,
)

# relational surface (analytics.py) — registered between the search and
# reports slices, exactly where the monolith merged it
QUERIES.update(RELATIONAL_QUERIES)

from multiagent_document_etl_system_spark.plans.registry import (  # noqa: E402,F401
    reports,
    sinks,
)

from multiagent_document_etl_system_spark.plans.registry.ann import (  # noqa: E402,F401
    _namespace_registry_dir,
)
from multiagent_document_etl_system_spark.plans.registry.curation import (  # noqa: E402,F401
    curation_flags,
)
from multiagent_document_etl_system_spark.plans.registry.sinks import (  # noqa: E402,F401
    ENV_GATED_REASONS,
)
from multiagent_document_etl_system_spark.plans.registry.windows import (  # noqa: E402,F401
    _DRIVER_HEAD,
    NO_ORACLE_REASONS,
)

# The one reorder, after the last registration: the head names that
# registered lead in _DRIVER_HEAD order; update() leaves them there and
# appends every other name in registration order.
_ordered = {n: QUERIES[n] for n in _DRIVER_HEAD if n in QUERIES}
_ordered.update(QUERIES)
QUERIES.clear()
QUERIES.update(_ordered)
del _ordered
