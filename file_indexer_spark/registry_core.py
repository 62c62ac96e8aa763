"""Registry core: the register() mechanism, the QUERIES/ORACLES
dicts, and the streaming-fixture writer. Query registrations live in
file_indexer_spark/queries/* and are loaded by the registry facade."""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from file_indexer_spark.session import tune_session

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    """Register a query under ``name``, paired with its DuckDB
    ``oracle`` (None = rows-only). The registered callable applies
    ``tune_session`` before every call, so no query depends on another
    having tuned the caller's session first (UTC time zone, nanosecond
    event timestamps read as longs)."""

    def deco(fn: QueryFn) -> QueryFn:
        @functools.wraps(fn)
        def tuned(spark: SparkSession, sf_dir: str) -> DataFrame:
            tune_session(spark)
            return fn(spark, sf_dir)

        QUERIES[name] = tuned
        if oracle is not None:
            ORACLES[name] = oracle
        return tuned

    return deco


# -- streaming fixture helper (used by several domains) ----------

def _land_arrivals(src: str, dfs) -> None:
    """Write each DataFrame as one parquet 'arrival' file and pin
    strictly increasing mtimes, so the streaming file source (which
    orders files by modification time) replays them in list order —
    deterministic micro-batch sequencing without sleeps."""
    import os

    seen: set[str] = set()
    for i, df in enumerate(dfs):
        df.coalesce(1).write.mode("append").parquet(src)
        new = {p for p in os.listdir(src) if p.endswith(".parquet")} - seen
        t = 1_700_000_000 + i
        for p in new:
            os.utime(os.path.join(src, p), (t, t))
        seen |= new

