"""Registry core: the register() mechanism, the QUERIES/ORACLES
dicts, and the shared per-query helpers (tuned table loaders and
the streaming-fixture writers). Query registrations live in
file_indexer_spark/queries/* and are loaded by the registry
facade in order."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from file_indexer_spark.session import tune_session
from file_indexer_spark.tables import events_df, files_df, load_table

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _files(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_session(spark)
    return files_df(spark, sf_dir)


def _table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    tune_session(spark)
    return load_table(spark, sf_dir, name)


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_session(spark)
    return events_df(spark, sf_dir)


# -- streaming fixture helpers (used by several parts) -----------

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

