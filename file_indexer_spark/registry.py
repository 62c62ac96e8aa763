"""Query registry: every implemented operator as a (spark, sf_dir) ->
DataFrame callable, paired with an equivalent DuckDB oracle SQL string.

This is the driver contract (see /root/repo/__spark_entry__.py) and the
coverage ledger for SURVEY.md §2 — keys are prefixed with the survey
operator IDs they implement.

Determinism rules (oracle hash-matches are order-insensitive but value-
and schema-sensitive):
  * every LIMIT/top-k query sorts by a TOTAL order first;
  * aggregate outputs are aliased identically in Spark and SQL;
  * DuckDB SUM(BIGINT) returns HUGEINT — oracles cast back to BIGINT
    to match Spark's LongType;
  * no CURRENT_DATE / now() — fixed timestamps only.
"""


from file_indexer_spark.registry_core import (  # noqa: F401
    ORACLES,
    QUERIES,
    QueryFn,
    _events,
    _files,
    _land_arrivals,
    _table,
    register,
)

# Load order matters: later parts import shared SQL fragments from the
# parts that define them.
from file_indexer_spark.queries import q01_files  # noqa: E402, F401
from file_indexer_spark.queries import q02_text  # noqa: E402, F401
from file_indexer_spark.queries import q03_events  # noqa: E402, F401
from file_indexer_spark.queries import q04_dedup_sim  # noqa: E402, F401
from file_indexer_spark.queries import q05_media_write_stream  # noqa: E402, F401
from file_indexer_spark.queries import q06_ddmat_sampling  # noqa: E402, F401
from file_indexer_spark.queries import q07_curation_relational  # noqa: E402, F401
from file_indexer_spark.queries import q08_round4plus  # noqa: E402, F401
from file_indexer_spark.queries import q09_bounds  # noqa: E402, F401
from file_indexer_spark.queries import q10_pq_crossmodal  # noqa: E402, F401
from file_indexer_spark.queries import q11_round9  # noqa: E402, F401
from file_indexer_spark.queries import q12_round9b  # noqa: E402, F401
from file_indexer_spark.queries import q13_round9c  # noqa: E402, F401
from file_indexer_spark.queries import q14_round10  # noqa: E402, F401
from file_indexer_spark.queries import q15_round11  # noqa: E402, F401
from file_indexer_spark.queries import q16_round12  # noqa: E402, F401
from file_indexer_spark.queries import q17_round12b  # noqa: E402, F401
from file_indexer_spark.queries import q18_round12c  # noqa: E402, F401
