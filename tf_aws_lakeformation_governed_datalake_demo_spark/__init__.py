"""PySpark-native governed data-lake engine.

A from-scratch re-implementation of the externally observable behavior of
``jdevto/tf-aws-lakeformation-governed-datalake-demo`` (a Lake Formation /
Athena governed-data-lake demo) on Apache Spark, plus the general relational
and LLM-data-pipeline operator surface needed at 100 TB scale.

Key pieces
----------
- :mod:`.session` — tuned SparkSession factory (AQE, Arrow, UTC).
- :mod:`.catalog` — ``GovernedCatalog``: databases, external tables,
  views, LF-style tags, data-cells filters, grants, implicit deny, audit.
- :mod:`.engine` — ``Engine``: Athena-like query lifecycle
  (submit/status/results/CSV sink) with per-principal enforcement.
- :mod:`.fixtures` — the reference's deterministic 20-row sales fixture.
- :mod:`.operators` — relational + dedup + similarity + text operators.
- :mod:`.sources` — schema-declared readers/writers for the lake layout.
- :mod:`.streaming` — Structured Streaming surface over the events table.
"""

from .governance import (
    ALL,
    DESCRIBE,
    SELECT,
    DataCellsFilter,
    Grant,
    LFTag,
    PermissionDeniedError,
    Principal,
)
from .catalog import GovernedCatalog, TableDef
from .engine import (
    Engine,
    QueryCapExceededError,
    QueryExecution,
    QueryFailedError,
    QueryState,
    ResultNotRetainedError,
    governed_sql_guard,
)
from .session import get_spark

__all__ = [
    "ALL",
    "DESCRIBE",
    "SELECT",
    "DataCellsFilter",
    "Engine",
    "governed_sql_guard",
    "GovernedCatalog",
    "Grant",
    "LFTag",
    "PermissionDeniedError",
    "Principal",
    "QueryExecution",
    "QueryCapExceededError",
    "QueryFailedError",
    "QueryState",
    "ResultNotRetainedError",
    "TableDef",
    "get_spark",
]
