"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash).

All real logic lives in ``engine_spark``; the query registry
(engine_spark.queries.QUERIES) holds one (Spark plan, DuckDB oracle)
pair per implemented operator from SURVEY.md §2 plus the
datapipe (dedup / similarity / text-analysis) operators.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def _ensure_session_conf(spark: SparkSession) -> None:
    """The driver owns the SparkSession; apply the one conf our scans need.

    ``spark.sql.legacy.parquet.nanosAsLong`` is a static-ish read conf that is
    honored per-read; setting it on the existing session is sufficient for
    the events table's TIMESTAMP(NANOS) column.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Reference semantics are lenient (division by zero -> NULL,
    # divide.rs:82-88); Spark 4's ANSI default would throw instead.
    spark.conf.set("spark.sql.ansi.enabled", "false")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    _ensure_session_conf(spark)
    from engine_spark.queries import QUERIES

    return QUERIES["agg_pricing_summary"].spark(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    from engine_spark.queries import QUERIES

    def wrap(name):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            _ensure_session_conf(spark)
            return QUERIES[name].spark(spark, sf_dir)

        return run

    return {name: wrap(name) for name in QUERIES}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each query (omitted → rows-only)."""
    from engine_spark.queries import QUERIES

    return {name: qd.oracle for name, qd in QUERIES.items() if qd.oracle is not None}
