"""Query/oracle registry feeding ``__spark_entry__.py``.

Every analytic operator ships as a named query callable ``(spark, sf_dir) ->
DataFrame`` plus (when SQL-expressible) a DuckDB oracle SQL string. The
driver's correctness gate runs both sides at sf0.01 and hash-compares; the
local mirror of that gate is ``tests/test_oracle_parity.py``.
"""

from __future__ import annotations

from collections.abc import Callable
from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    """Decorator: register a query callable and optionally its oracle SQL.

    Column names must match between the Spark result and the oracle SQL —
    the driver sorts columns by name before hashing values.
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def load_all() -> None:
    """Import every operator module so registration side-effects run."""
    from .operators import (  # noqa: F401
        relational,
        tpch_extra,
        tpch_extra2,
        timeseries,
        windows,
        asof,
        dedup,
        simhash,
        similarity,
        textanalysis,
        multimodal,
        advanced,
        behavioral,
        subqueries,
        udfs,
        streaming_queries,
        standing_index,
        curation,
        textquality,
        embedding_scale,
        frequency,
        semdedup,
        layout,
        mixtures,
        maintenance,
        linkage,
        importance,
        graph,
    )
