"""CEP pattern tests — exact match sets through the relational chain
``SqlApp`` compiles PATTERN/SEQUENCE to, including the duplicate-timestamp
edge (two A events with identical key+ts must each keep their own match;
reference stream_pre_state_processor.rs spawns one NFA state per event).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import rows, ts, run_pattern as run

#: ``delay_seconds`` of a matched pair in exact integer microseconds;
#: ``unix_micros`` rejects TIMESTAMP_NTZ, hence the cast
DELAY = (
    "CAST(unix_micros(CAST(e2.ts AS TIMESTAMP)) - "
    "unix_micros(CAST(e1.ts AS TIMESTAMP)) AS DOUBLE) / 1000000 AS delay_seconds"
)


def ev(spark, data):
    return spark.createDataFrame(
        data, "user string, etype string, ts timestamp, eid int"
    )


BASE = [
    ("u1", "login", ts(0), 1),
    ("u1", "view", ts(1), 2),
    ("u1", "purchase", ts(2), 3),
    ("u1", "purchase", ts(8), 4),
    ("u2", "login", ts(0), 5),
    ("u2", "view", ts(30), 6),  # outside WITHIN for followed_by tests
]

LOGIN_PURCHASE = "(e1=S[etype = 'login'] -> e2=S[etype = 'purchase'])"


def test_followed_by_first_match(spark):
    out = run(
        ev(spark, BASE),
        f"SELECT user, e1.eid AS e1_eid, e2.eid AS e2_eid, {DELAY} "
        f"FROM EVERY PATTERN {LOGIN_PURCHASE} WITHIN 600 SECONDS",
    )
    # u1 login→ earliest purchase (eid 3, 120 s later); u2 has none
    assert rows(out) == [("u1", 1, 3, 120.0)]


def test_followed_by_duplicate_timestamp_keeps_both(spark):
    data = [
        ("u1", "login", ts(0), 1),
        ("u1", "login", ts(0), 2),  # same key, same ts, distinct event
        ("u1", "purchase", ts(1), 3),
    ]
    out = run(
        ev(spark, data),
        "SELECT e1.eid AS e1_eid, e2.eid AS e2_eid "
        f"FROM EVERY PATTERN {LOGIN_PURCHASE} WITHIN 600 SECONDS",
    )
    assert rows(out) == [(1, 3), (2, 3)]


def test_sequence_strict_adjacency(spark):
    df = ev(spark, BASE)
    out = run(
        df,
        "SELECT e1.eid AS e1_eid "
        f"FROM EVERY SEQUENCE {LOGIN_PURCHASE} WITHIN 600 SECONDS",
    )
    # u1: login(1) → view(2) intervenes before purchase(3) ⇒ no strict match
    assert rows(out) == []

    out2 = run(
        df,
        "SELECT e1.eid AS e1_eid, e2.eid AS e2_eid "
        "FROM EVERY SEQUENCE (e1=S[etype = 'view'] -> e2=S[etype = 'purchase']) "
        "WITHIN 600 SECONDS",
    )
    assert rows(out2) == [(2, 3)]


def test_absent_pattern(spark):
    out = run(
        ev(spark, BASE),
        "SELECT user, e1.eid AS eid FROM EVERY PATTERN "
        "(e1=S[etype = 'login'] -> NOT S[etype = 'purchase'] FOR 600 SECONDS)",
    )
    # u1's login sees a purchase within 10 min; u2's does not
    assert rows(out) == [("u2", 5)]


def test_count_quantifier_min(spark):
    data = [
        ("u1", "error", ts(0), 1),
        ("u1", "error", ts(1), 2),
        ("u1", "error", ts(2), 3),
        ("u2", "error", ts(0), 4),
    ]
    out = run(
        ev(spark, data),
        "SELECT user, e1.eid AS eid, match_count "
        "FROM PATTERN (e1=S[etype = 'error']{3,}) WITHIN 600 SECONDS",
    )
    assert rows(out) == [("u1", 3, 3)]


def test_count_quantifier_bounded_max(spark):
    data = [("u1", "error", ts(i), i) for i in range(7)]  # 7 errors in 6 min
    out = run(
        ev(spark, data),
        "SELECT e1.eid AS eid, match_count "
        "FROM PATTERN (e1=S[etype = 'error']{3,5}) WITHIN 600 SECONDS",
    )
    # counts run 1..7 over the trailing window; only 3..5 fire
    assert rows(out) == [(2, 3), (3, 4), (4, 5)]


def test_logical_and_either_order(spark):
    data = [
        ("u1", "login", ts(0), 1),
        ("u1", "error", ts(5), 2),   # after login, within 10 min
        ("u2", "error", ts(0), 3),
        ("u2", "login", ts(5), 4),   # before login, within 10 min
        ("u3", "login", ts(0), 5),
        ("u3", "error", ts(30), 6),  # outside window
    ]
    out = run(
        ev(spark, data),
        "SELECT user, e1.eid AS e1_eid, e2.eid AS e2_eid, _match_ts AS matched_at "
        "FROM EVERY PATTERN (e1=S[etype = 'login'] AND e2=S[etype = 'error']) "
        "WITHIN 600 SECONDS",
    )
    assert rows(out) == [("u1", 1, 2, ts(5)), ("u2", 4, 3, ts(5))]


def test_logical_or_branch_tag(spark):
    out = run(
        ev(spark, BASE),
        "SELECT coalesce(e1.eid, e2.eid) AS eid, "
        "CASE WHEN e1.eid IS NOT NULL THEN 'first' ELSE 'second' END AS branch "
        "FROM EVERY PATTERN (e1=S[etype = 'login'] OR e2=S[etype = 'view'])",
    )
    assert rows(out) == [(1, "first"), (2, "second"), (5, "first"), (6, "second")]


def test_first_match_only_non_every(spark):
    data = [
        ("u1", "login", ts(0), 1),
        ("u1", "purchase", ts(1), 2),
        ("u1", "login", ts(2), 3),
        ("u1", "purchase", ts(3), 4),
    ]
    df = ev(spark, data)
    select = "SELECT e1.eid AS e1_eid, e2.eid AS e2_eid FROM"
    every = run(df, f"{select} EVERY PATTERN {LOGIN_PURCHASE} WITHIN 600 SECONDS")
    assert len(rows(every)) == 2  # EVERY semantics: both logins match
    one = run(df, f"{select} PATTERN {LOGIN_PURCHASE} WITHIN 600 SECONDS")
    assert rows(one) == [(1, 2)]  # non-EVERY: first only


def test_collection_aggregates_over_match_set(spark):
    data = [
        ("u1", "error", ts(0), 1),
        ("u1", "error", ts(1), 2),
        ("u1", "error", ts(2), 3),
    ]
    df = ev(spark, data).withColumn("value", F.col("eid").cast("double") * 10)
    out = run(
        df,
        "SELECT e1.eid AS eid, match_count AS n, sum(e1.value) AS s, "
        "max(e1.value) AS mx "
        "FROM PATTERN (e1=S[etype = 'error']{1,}) WITHIN 600 SECONDS",
    )
    assert rows(out) == [(1, 1, 10.0, 10.0), (2, 2, 30.0, 20.0), (3, 3, 60.0, 30.0)]


def test_followed_by_dedupe_false_keeps_per_event_duplicates(spark):
    """Byte-identical duplicate A events each fire their own match: the
    reference's per-arriving-event semantics (stream_pre_state_processor.rs:
    every duplicate A opens its own state), which the streaming NFA shares,
    so batch and stream agree on at-least-once duplicate input."""
    df = spark.createDataFrame(
        [
            (1, ts(0), "a", 1.0),
            (1, ts(0), "a", 1.0),  # exact duplicate (at-least-once upstream)
            (1, ts(1), "b", 2.0),
        ],
        "user_id long, ts timestamp, kind string, value double",
    )
    out = run(
        df,
        "SELECT e1.value AS e1_value, e2.value AS e2_value "
        "FROM EVERY PATTERN (e1=S[kind = 'a'] -> e2=S[kind = 'b']) "
        "WITHIN 600 SECONDS",
        key="user_id",
    ).collect()
    assert len(out) == 2
    assert all(r["e1_value"] == 1.0 and r["e2_value"] == 2.0 for r in out)
