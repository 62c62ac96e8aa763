"""Query registry: every implemented operator as a (spark, sf_dir) ->
DataFrame callable, paired with an equivalent DuckDB oracle SQL string.

This is the driver contract (see __spark_entry__.py) and the coverage
ledger for SURVEY.md §2 — keys are prefixed with the survey operator
IDs they implement. Each domain module under ``queries/`` registers one
family set; shared oracle fragments live in ``queries/shared.py``, which
imports no query module, so the domain modules load in any order.

Determinism rules (oracle hash-matches are order-insensitive but value-
and schema-sensitive):
  * every LIMIT/top-k query sorts by a TOTAL order first;
  * aggregate outputs are aliased identically in Spark and SQL;
  * DuckDB SUM(BIGINT) returns HUGEINT — oracles cast back to BIGINT
    to match Spark's LongType;
  * no CURRENT_DATE / now() — fixed timestamps only.

Bounds companions (``*_bounds``) are driver-checkable tolerance
contracts for the rows-only operators: each computes its operator's
VIOLATION SET in Spark (sketch/MLlib output joined against its exact
deterministic twin, operators/bounds.py) and gates it against an EMPTY
oracle of the same schema, so a contract break emits rows and fails the
gate. tests/test_bounds.py proves each companion is non-vacuous.
"""

from file_indexer_spark.queries import (  # noqa: F401  (import registers)
    catalog,
    curation,
    dedup,
    events,
    media,
    relational,
    sampling,
    similarity,
    streaming,
    text,
    writes,
)
from file_indexer_spark.registry_core import (  # noqa: F401  (re-exports)
    ORACLES,
    QUERIES,
    _land_arrivals,
)
