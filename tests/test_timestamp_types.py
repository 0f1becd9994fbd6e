"""Both Spark timestamp types must flow through every epoch-arithmetic path.

The driver's parquet stores event time as TIMESTAMP_NTZ (naive micros,
isAdjustedToUTC=false); programmatic streams carry TIMESTAMP. Direct
``cast(ts as long/double)`` / ``unix_micros(ts)`` are TIMESTAMP-only, so every
operator that does epoch arithmetic routes through
engine_spark.functions.timeutils — these tests pin that contract for the four
operator families that broke when the testdata switched types (range-frame
windows, pattern quantifiers/ranks, SQL pattern time bounds).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from engine_spark.functions.timeutils import (
    as_ts,
    epoch_micros,
    epoch_seconds,
    epoch_seconds_d,
)
from engine_spark.operators import windows

from tests.conftest import rows, run_live_pattern, run_pattern, ts

TS_TYPES = ("timestamp", "timestamp_ntz")


def _events(spark, ts_type: str):
    df = spark.createDataFrame(
        [
            (1, ts(0), "a", 1.0),
            (1, ts(1), "a", 2.0),
            (1, ts(2), "b", 3.0),
            (1, ts(30), "b", 4.0),  # outside the 10-min horizon of ts(0..2)
            (2, ts(0), "a", 5.0),
            (2, ts(9), "b", 6.0),
        ],
        "user_id long, ts timestamp, kind string, value double",
    )
    return df.withColumn("ts", F.col("ts").cast(ts_type))


@pytest.mark.parametrize("ts_type", TS_TYPES)
def test_timeutils_roundtrip(spark, ts_type):
    df = _events(spark, ts_type)
    got = df.select(
        epoch_seconds("ts").alias("s"),
        epoch_seconds_d("ts").alias("d"),
        epoch_micros("ts").alias("us"),
        as_ts("ts").alias("t"),
    ).collect()[0]
    base = int(ts(0).replace(tzinfo=__import__("datetime").timezone.utc).timestamp())
    assert got.s == base
    assert got.d == float(base)
    assert got.us == base * 1_000_000


@pytest.mark.parametrize("ts_type", TS_TYPES)
def test_time_sliding_both_types(spark, ts_type):
    df = _events(spark, ts_type)
    out = windows.time_sliding(
        df, "ts", 600, partition_by=["user_id"], aggs={"n": F.count(F.lit(1))}
    )
    got = rows(out.filter(F.col("user_id") == 1), "ts", "n")
    assert [n for _, n in got] == [1, 2, 3, 1]
    # output ts type preserved
    assert out.schema["ts"].dataType.simpleString() == ts_type


@pytest.mark.parametrize("ts_type", TS_TYPES)
def test_followed_by_both_types(spark, ts_type):
    df = _events(spark, ts_type)
    # unix_micros rejects TIMESTAMP_NTZ: cast first (exact under UTC)
    out = run_pattern(
        df,
        "SELECT user_id, e1.value AS e1_value, e2.value AS e2_value, "
        "CAST(unix_micros(CAST(e2.ts AS TIMESTAMP)) - "
        "unix_micros(CAST(e1.ts AS TIMESTAMP)) AS DOUBLE) / 1000000 "
        "AS delay_seconds "
        "FROM EVERY PATTERN (e1=S[kind = 'a'] -> e2=S[kind = 'b']) "
        "WITHIN 600 SECONDS",
        key="user_id",
    )
    got = rows(out, "user_id", "e1_value", "e2_value", "delay_seconds")
    assert (1, 1.0, 3.0, 120.0) in got
    assert (1, 2.0, 3.0, 60.0) in got
    assert (2, 5.0, 6.0, 540.0) in got
    assert all(d <= 600 for *_, d in got)


@pytest.mark.parametrize("ts_type", TS_TYPES)
def test_chain_stream_preserves_ts_type_and_values(spark, ts_type):
    """The streaming NFA's per-step output timestamp columns must carry the
    INPUT ts type (an NTZ ts_col round-trips as timestamp_ntz, not
    timestamp) and naive values must come back unshifted even under a
    non-UTC session timezone — the silent +offset shift is exactly what the
    driver's TIMESTAMP_NTZ testdata would hit.

    The non-UTC session tz applies to the NTZ variant only: for TIMESTAMP
    input the harness's collect() renders os-local (UTC) naive datetimes
    while the JSON parse used the session tz — the instant round-trips but
    the wall-clock string is a display artifact, so that variant pins the
    UTC-session behavior instead."""
    from engine_spark.streaming import nfa
    from engine_spark.streaming.harness import StreamRunner

    old_tz = spark.conf.get("spark.sql.session.timeZone")
    if ts_type == "timestamp_ntz":
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        r = StreamRunner(
            spark, f"ts {ts_type}, user string, etype string, v double"
        )
        r.send(
            [
                {"ts": "2026-01-01T12:00:00", "user": "u1", "etype": "a", "v": 1.0},
                {"ts": "2026-01-01T12:05:00", "user": "u1", "etype": "b", "v": 2.0},
            ]
        )

        out_types = {}

        def build(sdf):
            assert sdf.schema["ts"].dataType.simpleString() == ts_type
            out = nfa.chain_stream(
                sdf,
                "ts",
                "user",
                steps=[
                    ("e1", F.col("etype") == "a"),
                    ("e2", F.col("etype") == "b"),
                ],
                within_seconds=3600,
                payload_cols=["v"],
            )
            for c in ("e1_ts", "e2_ts"):
                out_types[c] = out.schema[c].dataType.simpleString()
            return out

        r.run(build)
        matches = r.shutdown()
        assert out_types == {"e1_ts": ts_type, "e2_ts": ts_type}
        assert len(matches) == 1
        m = matches[0]
        assert str(m["e1_ts"]) == "2026-01-01 12:00:00"
        assert str(m["e2_ts"]) == "2026-01-01 12:05:00"
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


@pytest.mark.parametrize("ts_type", TS_TYPES)
def test_streaming_tumbling_preserves_ts_type(spark, ts_type):
    """Streaming tumbling windows accept NTZ event time (cast to TIMESTAMP
    for the watermark — Spark refuses NTZ there) and the window-bound
    columns come back in the INPUT ts type with unshifted wall clock."""
    from engine_spark.streaming import windows as SW
    from engine_spark.streaming.harness import StreamRunner

    r = StreamRunner(spark, f"ts {ts_type}, user string, v double")
    r.send([
        {"ts": "2026-01-01T12:01:00", "user": "u1", "v": 1.0},
        {"ts": "2026-01-01T12:02:00", "user": "u1", "v": 2.0},
    ])
    r.send([{"ts": "2026-01-01T15:00:00", "user": "zz", "v": 0.0}])  # close

    out_types = {}

    def build(sdf):
        out = SW.tumbling(
            sdf, "ts", "5 minutes", ["user"], [F.sum("v").alias("s")]
        )
        out_types["window_start"] = out.schema["window_start"].dataType.simpleString()
        out_types["window_end"] = out.schema["window_end"].dataType.simpleString()
        return out

    r.run(build)
    got = [m for m in r.shutdown() if m["user"] == "u1"]
    assert out_types == {"window_start": ts_type, "window_end": ts_type}
    assert len(got) == 1
    assert str(got[0]["window_start"]) == "2026-01-01 12:00:00"
    assert got[0]["s"] == 3.0


@pytest.mark.parametrize("ts_type", TS_TYPES)
def test_count_quantifier_both_types(spark, ts_type):
    df = _events(spark, ts_type)
    out = run_pattern(
        df,
        "SELECT user_id, match_count "
        "FROM PATTERN (e1=S[kind = 'a']{2,}) WITHIN 600 SECONDS",
        key="user_id",
    )
    got = rows(out, "user_id", "match_count")
    assert got == [(1, 2)]


#: live pattern shapes off ``chain_stream``: (query, compared columns,
#: expected rows, event-time output columns)
LIVE_TS_SHAPES = {
    "count": (
        "SELECT match_count, e1.v AS v, e1.ts AS ts "
        "FROM PATTERN (e1=S{2,4}) WITHIN 600 SECONDS",
        ("match_count", "v"),
        [(2, 2.0), (3, 3.0)],
        ("ts",),
    ),
    "and": (
        "SELECT e1.v AS e1_v, e2.v AS e2_v, e1.ts AS ts, "
        "_match_ts AS matched_at FROM EVERY PATTERN "
        "(e1=S[v = 1.0] AND e2=S[v > 1.0]) WITHIN 600 SECONDS",
        ("e1_v", "e2_v"),
        [(1.0, 2.0), (1.0, 3.0)],
        ("ts", "matched_at"),
    ),
}


@pytest.mark.parametrize(
    "ts_type, shape",
    [pytest.param(t, "count", id=t) for t in TS_TYPES]
    + [pytest.param(t, "and", id=f"{t}-and") for t in TS_TYPES],
)
def test_count_quantifier_stream_accepts_both_ts_types(spark, ts_type, shape):
    """The live count quantifier (time-window kernel) and the live AND
    group (stream-stream join) watermark an NTZ event-time stream through
    the watermarked() shim, which casts it to TIMESTAMP. Pin both types
    end-to-end and the output event-time type round-trip."""
    from engine_spark.streaming.harness import StreamRunner

    query, cols, expected, ts_cols = LIVE_TS_SHAPES[shape]
    r = StreamRunner(spark, f"ts {ts_type}, user string, v double")
    r.send([
        {"ts": "2026-01-01T12:00:00", "user": "u1", "v": 1.0},
        {"ts": "2026-01-01T12:00:10", "user": "u1", "v": 2.0},
        {"ts": "2026-01-01T12:00:20", "user": "u1", "v": 3.0},
    ])

    out_types = {}

    def build(sdf):
        assert sdf.schema["ts"].dataType.simpleString() == ts_type
        out = run_live_pattern(sdf, query)
        out_types.update(
            {c: out.schema[c].dataType.simpleString() for c in ts_cols}
        )
        return out

    r.run(build)
    out = r.shutdown()
    assert out_types == {c: ts_type for c in ts_cols}
    got = [tuple(m[c] for c in cols) for m in out]
    if shape == "and":  # join output order is unspecified
        got.sort()
    assert got == expected


@pytest.mark.parametrize("ts_type", TS_TYPES)
def test_funnel_stream_preserves_input_ts_type(spark, ts_type, tmp_path):
    """funnel_stream's output ts column must keep the INPUT column's type
    (an NTZ source round-trips as NTZ), like every NFA operator."""
    from engine_spark.streaming.funnel import funnel_stream

    src = (
        spark.readStream.schema(
            f"ts {ts_type}, user string, event_type string"
        ).json(str(tmp_path))
    )
    out = funnel_stream(src, "ts", "user")
    assert out.schema["ts"].dataType.simpleString() == ts_type
    assert out.schema["delay_us"].dataType.simpleString() == "bigint"
