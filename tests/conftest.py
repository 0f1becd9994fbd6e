"""Shared pytest fixtures: one SparkSession per test session.

Mirrors the reference's AppRunner harness (reference tests/common/mod.rs:31-83):
tests build tiny deterministic event sets with explicit timestamps, run one
operator, and assert exact output vectors.
"""

from __future__ import annotations

from datetime import datetime, timezone

import pytest
from pyspark.sql import SparkSession


@pytest.fixture(scope="session")
def spark() -> SparkSession:
    from engine_spark.session import get_spark

    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def ts(minute: int, second: int = 0, hour: int = 12) -> datetime:
    """Deterministic event-time helper: 2026-01-01 HH:MM:SS UTC (naive —
    session timezone is UTC)."""
    return datetime(2026, 1, 1, hour, minute, second)


def rows(df, *cols, order_by=None):
    """Collect as a sorted list of plain tuples for exact comparison."""
    if cols:
        df = df.select(*cols)
    out = [tuple(r) for r in df.collect()]
    return sorted(out, key=lambda t: tuple(repr(x) for x in t))


def followed_by_chain(
    df, ts_col, key_col, first, second, within_seconds, value_col, salt=None
):
    """`e1=first -> e2=second WITHIN d` as the 2-step ``chain_stream`` that
    SqlApp compiles it to, projected to (key, e1_ts, e1_value, e2_ts,
    e2_value, delay_seconds)."""
    from pyspark.sql import functions as F

    from engine_spark.streaming import nfa

    out = nfa.chain_stream(
        df, ts_col, key_col,
        steps=[("e1", first), ("e2", second)],
        within_seconds=within_seconds, payload_cols=[value_col], salt=salt,
    )
    return out.select(
        key_col,
        "e1_ts",
        F.col(f"e1_{value_col}").alias("e1_value"),
        "e2_ts",
        F.col(f"e2_{value_col}").alias("e2_value"),
        ((F.unix_micros("e2_ts") - F.unix_micros("e1_ts")) / 1e6).alias(
            "delay_seconds"
        ),
    )


def run_pattern(df, query, key="user"):
    """``PARTITION WITH (key OF S) BEGIN INSERT INTO Out <query>; END;`` run
    by SqlApp over ``df`` as stream ``S`` (event time ``ts``); returns the
    ``Out`` frame."""
    from engine_spark.plans import SqlApp

    app = SqlApp(df.sparkSession)
    app.register_stream("S", df, ts_col="ts")
    return app.sql(
        f"PARTITION WITH ({key} OF S) BEGIN INSERT INTO Out {query}; END;"
    )["Out"]


def run_live_pattern(sdf, query, key="user"):
    """The live twin of ``run_pattern``: the same app text over a streaming
    ``sdf`` (e.g. ``StreamRunner.stream()``), so SqlApp compiles it to the
    live kernels; returns the streaming ``Out`` frame."""
    assert sdf.isStreaming, "run_live_pattern needs a streaming DataFrame"
    return run_pattern(sdf, query, key)


def absent_chain(
    df, ts_col, key_col, first, absent, within_seconds, value_col, salt=None
):
    """`e1=first -> NOT absent FOR d` as the 1-step
    ``chain_stream(absent_final=…)`` that SqlApp compiles it to, projected
    to (key, e1_ts, e1_value)."""
    from pyspark.sql import functions as F

    from engine_spark.streaming import nfa

    out = nfa.chain_stream(
        df, ts_col, key_col,
        steps=[("e1", first)],
        within_seconds=within_seconds, payload_cols=[value_col],
        absent_final=(absent, float(within_seconds)), salt=salt,
    )
    return out.select(
        key_col, "e1_ts", F.col(f"e1_{value_col}").alias("e1_value")
    )
