"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

All real content lives in ``financial_arbitrage_data_pipeline_spark``:
the plans.REGISTRY maps names → (Spark builder, DuckDB oracle SQL).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

import financial_arbitrage_data_pipeline_spark.operators  # noqa: F401  (populates REGISTRY)
from financial_arbitrage_data_pipeline_spark.plans import REGISTRY
from financial_arbitrage_data_pipeline_spark.session import POSTURE

SF0001 = "/root/testdata/sf0.001"


def _configure(spark: SparkSession) -> SparkSession:
    """Apply the engine's session posture (the driver may hand us a
    vanilla session)."""
    for key, value in POSTURE.items():
        spark.conf.set(key, value)
    # Runtime-settable; the driver's vanilla session defaults to 200, which
    # at sf<=0.1 just multiplies task/state-store overhead (esp. for the
    # streaming stateful operators — one state store per partition).
    n_cores = spark.sparkContext.defaultParallelism
    spark.conf.set("spark.sql.shuffle.partitions", str(max(8, n_cores)))
    return spark


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return REGISTRY["pricing_summary"].builder(_configure(spark), SF0001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""

    def bind(name: str) -> Callable[[SparkSession, str], DataFrame]:
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            return REGISTRY[name].builder(_configure(spark), sf_dir)

        run.__name__ = name
        run.__doc__ = REGISTRY[name].doc
        return run

    return {name: bind(name) for name in sorted(REGISTRY)}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query (omitted → rows-only check)."""
    return {name: spec.oracle for name, spec in sorted(REGISTRY.items()) if spec.oracle}
