"""SQL front-end tests — the reference's own test SQL, run end-to-end.

Each case is lifted from the reference test corpus (cited) with the same
inputs and expected outputs, driven through SqlApp.
"""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from engine_spark.plans import SqlApp, parse_app
from engine_spark.plans.parser import (
    JoinSource,
    PatternSource,
    Query,
    parse_duration_seconds,
)
from tests.conftest import rows


def test_filter_projection_simple(spark):
    # reference tests/app_runner_windows.rs:10-21
    app = SqlApp(spark)
    app.register_stream("In", spark.createDataFrame([(5,), (15,)], "a int"))
    outs = app.sql(
        """
        CREATE STREAM In (a INT);
        CREATE STREAM Out (a INT);
        INSERT INTO Out SELECT a FROM In WHERE a > 10;
        """
    )
    assert [r["a"] for r in outs["Out"].collect()] == [15]


def test_selector_group_having_order_limit_offset(spark):
    # reference tests/app_runner_selector.rs:14
    app = SqlApp(spark)
    app.register_stream(
        "In",
        spark.createDataFrame(
            [(1, "x"), (2, "x"), (3, "y"), (4, "y"), (9, "z")], "a int, b string"
        ),
    )
    outs = app.sql(
        "INSERT INTO Out SELECT b, SUM(a) as s FROM In GROUP BY b "
        "HAVING SUM(a) > 2 ORDER BY b DESC LIMIT 2 OFFSET 1;"
    )
    assert [tuple(r) for r in outs["Out"].collect()] == [("y", 7), ("x", 3)]


def test_join_on_condition(spark):
    # reference tests/app_runner_joins.rs:17
    app = SqlApp(spark)
    app.register_stream("L", spark.createDataFrame([(1, "a"), (2, "b")], "id int, lv string"))
    app.register_stream("R", spark.createDataFrame([(1, "A"), (3, "C")], "id int, rv string"))
    outs = app.sql("INSERT INTO Out SELECT L.lv, R.rv FROM L JOIN R ON L.id = R.id;")
    assert [tuple(r) for r in outs["Out"].collect()] == [("a", "A")]


def test_left_outer_join(spark):
    # reference tests/app_runner_joins.rs:35
    app = SqlApp(spark)
    app.register_stream("L", spark.createDataFrame([(1, "a"), (2, "b")], "id int, lv string"))
    app.register_stream("R", spark.createDataFrame([(1, "A")], "rid int, rv string"))
    outs = app.sql(
        "INSERT INTO Out SELECT L.lv, R.rv FROM L LEFT OUTER JOIN R ON L.id = R.rid;"
    )
    assert rows(outs["Out"]) == [("a", "A"), ("b", None)]


def test_pattern_two_streams(spark):
    # reference tests/app_runner_patterns.rs:812
    app = SqlApp(spark)
    app.register_stream("A", spark.createDataFrame([(10,)], "val int"))
    app.register_stream("B", spark.createDataFrame([(20,)], "val int"))
    outs = app.sql(
        "INSERT INTO Out SELECT A.val AS aval, B.val AS bval "
        "FROM PATTERN (e1=A -> e2=B);"
    )
    assert [tuple(r) for r in outs["Out"].collect()] == [(10, 20)]


def test_pattern_three_streams(spark):
    # reference tests/app_runner_patterns.rs:834
    app = SqlApp(spark)
    for n, v in (("A", 1), ("B", 2), ("C", 3)):
        app.register_stream(n, spark.createDataFrame([(v,)], "val int"))
    outs = app.sql(
        "INSERT INTO Out SELECT A.val AS aval, B.val AS bval, C.val AS cval "
        "FROM PATTERN (e1=A -> e2=B -> e3=C);"
    )
    assert [tuple(r) for r in outs["Out"].collect()] == [(1, 2, 3)]


def test_pattern_logical_and(spark):
    # reference tests/app_runner_patterns.rs:1077. No key, no WITHIN → the
    # pair join is an unbounded product, which needs the explicit opt-in.
    app = SqlApp(spark, allow_unbounded_groups=True)
    app.register_stream("A", spark.createDataFrame([(1,)], "val int"))
    app.register_stream("B", spark.createDataFrame([(2,)], "val int"))
    outs = app.sql(
        "INSERT INTO Out SELECT A.val AS aval, B.val AS bval "
        "FROM PATTERN (e1=A AND e2=B);"
    )
    assert [tuple(r) for r in outs["Out"].collect()] == [(1, 2)]


def test_pattern_logical_and_unbounded_refused(spark):
    import pytest

    app = SqlApp(spark)
    app.register_stream("A", spark.createDataFrame([(1,)], "val int"))
    app.register_stream("B", spark.createDataFrame([(2,)], "val int"))
    with pytest.raises(ValueError, match="unbounded cross join"):
        app.sql(
            "INSERT INTO Out SELECT A.val AS aval, B.val AS bval "
            "FROM PATTERN (e1=A AND e2=B);"
        )


def test_pattern_logical_and_within_bounds_pairs(spark):
    """WITHIN is pushed into the AND-pair join: |tA−tB| ≤ d."""
    app = SqlApp(spark)
    t0 = datetime(2026, 1, 1, 12, 0)
    app.register_stream(
        "A",
        spark.createDataFrame(
            [(t0, 1), (t0 + timedelta(seconds=300), 2)], "ts timestamp, aid int"
        ),
        ts_col="ts",
    )
    app.register_stream(
        "B",
        spark.createDataFrame([(t0 + timedelta(seconds=30), 7)], "ts timestamp, bid int"),
        ts_col="ts",
    )
    outs = app.sql(
        "INSERT INTO Out SELECT e1.aid AS a, e2.bid AS b "
        "FROM PATTERN (e1=A AND e2=B) WITHIN 60 SECONDS;"
    )
    # only A#1 is within 60s of the B event; A#2 is 270s away
    assert [tuple(r) for r in outs["Out"].collect()] == [(1, 7)]


def test_pattern_mid_chain_and_group(spark):
    """login -> (pay AND ship): both must follow the login, fire at the
    later; second login has a pay but no ship within bound."""
    app = SqlApp(spark)
    t0 = datetime(2026, 1, 1, 12, 0)
    rows = [
        (t0, "login", 1),
        (t0 + timedelta(seconds=20), "pay", 2),
        (t0 + timedelta(seconds=40), "ship", 3),
        (t0 + timedelta(seconds=2000), "login", 4),
        (t0 + timedelta(seconds=2020), "pay", 5),
    ]
    app.register_stream(
        "E",
        spark.createDataFrame(rows, "ts timestamp, etype string, eid int"),
        ts_col="ts",
    )
    outs = app.sql(
        "INSERT INTO Out SELECT e1.eid AS a, e2.eid AS b, e3.eid AS c "
        "FROM PATTERN (e1=E[etype = 'login'] -> "
        "(e2=E[etype = 'pay'] AND e3=E[etype = 'ship'])) WITHIN 120 SECONDS;"
    )
    assert [tuple(r) for r in outs["Out"].collect()] == [(1, 2, 3)]


def test_pattern_mid_chain_or_group(spark):
    """alert -> (ack OR cancel): either continuation fires the pattern."""
    app = SqlApp(spark)
    t0 = datetime(2026, 1, 1, 12, 0)
    rows = [
        (t0, "alert", 1),
        (t0 + timedelta(seconds=10), "cancel", 2),
        (t0 + timedelta(seconds=500), "alert", 3),
        (t0 + timedelta(seconds=510), "ack", 4),
    ]
    app.register_stream(
        "E",
        spark.createDataFrame(rows, "ts timestamp, etype string, eid int"),
        ts_col="ts",
    )
    outs = app.sql(
        "INSERT INTO Out SELECT e1.eid AS a, e2.eid AS ack_id, e3.eid AS cancel_id "
        "FROM EVERY PATTERN (e1=E[etype = 'alert'] -> "
        "(e2=E[etype = 'ack'] OR e3=E[etype = 'cancel'])) WITHIN 60 SECONDS;"
    )
    got = sorted(tuple(r) for r in outs["Out"].collect())
    assert got == [(1, None, 2), (3, 4, None)]


def test_pattern_with_filter_and_within(spark):
    app = SqlApp(spark)
    t0 = datetime(2026, 1, 1, 12, 0)
    app.register_stream(
        "E",
        spark.createDataFrame(
            [
                (t0, "login", 1),
                (t0 + timedelta(seconds=30), "purchase", 2),
                (t0 + timedelta(seconds=4000), "purchase", 3),
            ],
            "ts timestamp, etype string, eid int",
        ),
        ts_col="ts",
    )
    outs = app.sql(
        "INSERT INTO Out SELECT e1.eid AS a, e2.eid AS b "
        "FROM PATTERN (e1=E[etype = 'login'] -> e2=E[etype = 'purchase']) "
        "WITHIN 60 SECONDS;"
    )
    assert [tuple(r) for r in outs["Out"].collect()] == [(1, 2)]


def test_pattern_partition_key_both_spellings(spark):
    """Under PARTITION WITH a pattern output carries its key bare and as
    ``<alias>.<key>``, the spellings the live path accepts too. A bare
    ``user`` reads the key column, not Spark's niladic user() function."""
    app = SqlApp(spark)
    t0 = datetime(2026, 1, 1, 12, 0)
    app.register_stream(
        "E",
        spark.createDataFrame(
            [
                ("u1", "login", t0, 1),
                ("u2", "login", t0 + timedelta(seconds=5), 2),
                ("u1", "purchase", t0 + timedelta(seconds=10), 3),
                ("u2", "purchase", t0 + timedelta(seconds=20), 4),
            ],
            "user string, etype string, ts timestamp, eid int",
        ),
        ts_col="ts",
    )
    outs = app.sql(
        "PARTITION WITH (user OF E) BEGIN "
        "INSERT INTO Out SELECT user, e1.user AS k1, e2.user AS k2, "
        "e1.eid AS a, e2.eid AS b "
        "FROM EVERY PATTERN (e1=E[etype = 'login'] -> e2=E[etype = 'purchase']) "
        "WITHIN 60 SECONDS; END;"
    )
    assert rows(outs["Out"]) == [("u1", "u1", "u1", 1, 3), ("u2", "u2", "u2", 2, 4)]


def test_window_length_sliding_aggregate(spark):
    app = SqlApp(spark)
    app.register_stream(
        "S", spark.createDataFrame([("x", 1.0), ("x", 2.0), ("x", 3.0)], "sym string, price double")
    )
    outs = app.sql(
        "INSERT INTO Out SELECT sym, avg(price) AS ap FROM S WINDOW('length', 2) GROUP BY sym;"
    )
    assert sorted(r["ap"] for r in outs["Out"].collect()) == [1.0, 1.5, 2.5]


def test_window_tumbling_keyword(spark):
    t0 = datetime(2026, 1, 1, 12, 0)
    app = SqlApp(spark)
    app.register_stream(
        "T",
        spark.createDataFrame(
            [(t0, 1.0), (t0 + timedelta(minutes=1), 2.0), (t0 + timedelta(minutes=6), 5.0)],
            "ts timestamp, v double",
        ),
        ts_col="ts",
    )
    outs = app.sql(
        "INSERT INTO Out SELECT window_start, sum(v) AS s FROM T WINDOW TUMBLING(5 MINUTES);"
    )
    got = sorted((str(a), b) for a, b in outs["Out"].collect())
    assert got == [("2026-01-01 12:00:00", 3.0), ("2026-01-01 12:05:00", 5.0)]


def test_window_sliding_keyword_hopping(spark):
    # the reference parses SLIDING but errors "not yet implemented"
    # (converter.rs:659-667) — native here
    t0 = datetime(2026, 1, 1, 12, 0)
    app = SqlApp(spark)
    app.register_stream(
        "T",
        spark.createDataFrame(
            [(t0, 1.0), (t0 + timedelta(minutes=1), 2.0), (t0 + timedelta(minutes=6), 5.0)],
            "ts timestamp, v double",
        ),
        ts_col="ts",
    )
    outs = app.sql(
        "INSERT INTO Out SELECT window_start, count(v) AS n "
        "FROM T WINDOW SLIDING(10 MINUTES, 5 MINUTES);"
    )
    got = sorted((str(a), b) for a, b in outs["Out"].collect())
    assert got == [
        ("2026-01-01 11:55:00", 2),
        ("2026-01-01 12:00:00", 3),
        ("2026-01-01 12:05:00", 1),
    ]


def test_partition_with_key(spark):
    # reference tests/app_runner_partitions.rs:13
    app = SqlApp(spark)
    app.register_stream(
        "In", spark.createDataFrame([("x", 1.0), ("x", 2.0), ("y", 9.0)], "symbol string, price double")
    )
    outs = app.sql(
        """
        PARTITION WITH (symbol OF In) BEGIN
          INSERT INTO Out SELECT symbol, sum(price) AS s FROM In WINDOW('length', 2);
        END;
        """
    )
    assert rows(outs["Out"]) == [("x", 1.0), ("x", 3.0), ("y", 9.0)]


def test_statements_after_partition_block(spark):
    """A PARTITION block closes at its own END: the CREATE STREAM and the
    INSERT that follow it parse as statements of their own and run."""
    app = SqlApp(spark)
    app.register_stream(
        "In", spark.createDataFrame([("x", 1.0), ("x", 2.0), ("y", 9.0)], "symbol string, price double")
    )
    text = """
        PARTITION WITH (symbol OF In) BEGIN
          INSERT INTO Out SELECT symbol, sum(price) AS s FROM In WINDOW('length', 2);
        END;
        CREATE STREAM Big (symbol STRING, price DOUBLE);
        INSERT INTO Big SELECT symbol, price FROM In WHERE price > 5;
        """
    stmts = parse_app(text)
    assert [type(s).__name__ for s in stmts] == ["Partition", "CreateStream", "Query"]
    outs = app.sql(text)
    assert rows(outs["Out"]) == [("x", 1.0), ("x", 3.0), ("y", 9.0)]
    assert rows(outs["Big"]) == [("y", 9.0)]


def test_partition_with_range(spark):
    """Range partition (reference range_partition_type.rs /
    partition_type.rs:7-21): `cond AS 'label' OR cond AS 'label' OF S` —
    each event is processed in EVERY range whose condition it matches and
    dropped when none matches; queries inside the block key on the range
    label like a value partition."""
    app = SqlApp(spark)
    app.register_stream(
        "In",
        spark.createDataFrame(
            [("a", 5.0), ("b", 15.0), ("c", 9.0), ("d", 40.0)],
            "sym string, price double",
        ),
    )
    outs = app.sql(
        """
        PARTITION WITH (price < 10 AS 'low' OR price >= 10 AND price < 20
          AS 'mid' OR price >= 8 AS 'wide' OF In) BEGIN
          INSERT INTO Out SELECT _range AS bucket, sum(price) AS s,
            count(*) AS n FROM In WINDOW('lengthBatch', 10);
        END;
        """
    )
    got = {(r["bucket"], r["s"], r["n"]) for r in outs["Out"].collect()}
    # 5.0,9.0 → low; 15.0 → mid; 9.0,15.0,40.0 → wide (9 and 15 processed
    # in TWO ranges); nothing matching no range here, but a price of 25
    # would be wide-only
    assert got == {("low", 14.0, 2), ("mid", 15.0, 1), ("wide", 64.0, 3)}


def test_partition_with_range_pattern_scoped(spark):
    """A pattern inside a range partition only matches within one range
    bucket (the NFA is cloned per label, reference partition/mod.rs:9-31)."""
    from datetime import datetime, timedelta

    app = SqlApp(spark)
    t0 = datetime(2026, 1, 1, 12, 0)
    app.register_stream(
        "E",
        spark.createDataFrame(
            [
                # low bucket: a then b → match
                (t0, "a", 1.0, 1),
                (t0 + timedelta(minutes=1), "b", 2.0, 2),
                # high bucket: only the 'a'; its 'b' is in low → no match
                (t0 + timedelta(minutes=2), "a", 50.0, 3),
                (t0 + timedelta(minutes=3), "b", 4.0, 4),
            ],
            "ts timestamp, etype string, v double, eid int",
        ),
        ts_col="ts",
    )
    outs = app.sql(
        "PARTITION WITH (v < 10 AS 'low' OR v >= 10 AS 'high' OF E) BEGIN "
        "INSERT INTO Out SELECT e1.eid AS x, e2.eid AS y "
        "FROM EVERY PATTERN (e1=E[etype = 'a'] -> e2=E[etype = 'b']) "
        "WITHIN 3600 SECONDS; "
        "END;"
    )
    got = sorted(tuple(r) for r in outs["Out"].collect())
    # (1,2): both low, first match. eid3 (high) has no high 'b' — the low
    # 'b' at eid4 must NOT complete it across buckets.
    assert got == [(1, 2)]


def test_partition_with_range_drops_unmatched(spark):
    """An event matching NO range condition is dropped from the block."""
    app = SqlApp(spark)
    app.register_stream(
        "In",
        spark.createDataFrame([(1.0,), (5.0,), (100.0,)], "v double"),
    )
    outs = app.sql(
        """
        PARTITION WITH (v < 2 AS 'tiny' OR v >= 2 AND v < 10 AS 'small' OF In) BEGIN
          INSERT INTO Out SELECT _range AS bucket, count(*) AS n
          FROM In WINDOW('lengthBatch', 10);
        END;
        """
    )
    got = {(r["bucket"], r["n"]) for r in outs["Out"].collect()}
    assert got == {("tiny", 1), ("small", 1)}  # 100.0 dropped


def test_chained_queries_stream_to_stream(spark):
    app = SqlApp(spark)
    app.register_stream("In", spark.createDataFrame([(1,), (20,), (300,)], "v int"))
    outs = app.sql(
        """
        CREATE STREAM Mid (v INT);
        CREATE STREAM Out (doubled INT);
        INSERT INTO Mid SELECT v FROM In WHERE v > 5;
        INSERT INTO Out SELECT v * 2 FROM Mid;
        """
    )
    assert sorted(r["doubled"] for r in outs["Out"].collect()) == [40, 600]


def test_insert_schema_cast(spark):
    app = SqlApp(spark)
    app.register_stream("In", spark.createDataFrame([(1.9,)], "v double"))
    outs = app.sql(
        "CREATE STREAM Out (v INT); INSERT INTO Out SELECT v FROM In;"
    )
    assert outs["Out"].schema["v"].dataType.simpleString() == "int"


def test_stddev_rewrite_population(spark):
    app = SqlApp(spark)
    app.register_stream("In", spark.createDataFrame([(2.0,), (4.0,)], "v double"))
    outs = app.sql("INSERT INTO Out SELECT stddev(v) AS sd FROM In;")
    assert outs["Out"].collect()[0]["sd"] == 1.0  # population, not sample


def test_parse_duration():
    assert parse_duration_seconds("100 MILLISECONDS") == 0.1
    assert parse_duration_seconds("5 SECONDS") == 5.0
    assert parse_duration_seconds("2 MINUTES") == 120.0
    assert parse_duration_seconds("250") == 0.25  # bare = milliseconds


def test_multi_join_chain(spark):
    # the reference rejects >1 join (converter.rs:531); Spark doesn't need to
    app = SqlApp(spark)
    app.register_stream("A", spark.createDataFrame([(1, "a")], "id int, av string"))
    app.register_stream("B", spark.createDataFrame([(1, 2)], "id int, bid int"))
    app.register_stream("C", spark.createDataFrame([(2, "c!")], "cid int, cv string"))
    outs = app.sql(
        "INSERT INTO Out SELECT A.av, C.cv FROM A "
        "JOIN B ON A.id = B.id JOIN C ON B.bid = C.cid;"
    )
    assert [tuple(r) for r in outs["Out"].collect()] == [("a", "c!")]


def test_parser_ast_shapes():
    stmts = parse_app(
        """
        CREATE STREAM S (a INT, b VARCHAR) WITH ('type'='source', 'extension'='timer');
        INSERT INTO O SELECT a FROM S JOIN T ON S.a = T.a;
        INSERT INTO P SELECT x FROM PATTERN (e1=A[v > 1] -> e2=B) WITHIN 5 SECONDS;
        """
    )
    ddl, qj, qp = stmts
    assert ddl.options == {"type": "source", "extension": "timer"}
    assert isinstance(qj, Query) and isinstance(qj.source, JoinSource)
    assert isinstance(qp.source, PatternSource)
    assert qp.source.within_seconds == 5.0
    assert qp.source.steps[0].filter == "v > 1"


def test_sql_query_over_live_stream(spark):
    """SQL compiled onto a streaming frame, run through the harness: the
    same query text drives batch AND streaming (SURVEY build-plan phase 1)."""
    import uuid

    from engine_spark.plans import SqlApp
    from engine_spark.streaming.harness import StreamRunner

    r = StreamRunner(spark, "v int")
    r.send([{"v": 5}, {"v": 15}])
    r.send([{"v": 25}])

    app = SqlApp(spark)
    # register the streaming frame directly (no _seq column on live streams)
    from engine_spark.plans.compiler import _Stream

    app.streams["In"] = _Stream(df=r.stream(), ts_col="_none")
    outs = app.sql(
        "CREATE STREAM Out (doubled INT); "
        "INSERT INTO Out SELECT v * 2 FROM In WHERE v > 10;"
    )
    out = outs["Out"]
    assert out.isStreaming
    collected = []
    q = (
        out.writeStream.foreachBatch(lambda df, _b: collected.extend(df.collect()))
        .outputMode("append")
        .option("checkpointLocation", r.checkpoint)
        .trigger(availableNow=True)
        .queryName(f"sqlstream_{uuid.uuid4().hex[:8]}")
        .start()
    )
    q.awaitTermination()
    r.shutdown()
    assert sorted(x["doubled"] for x in collected) == [30, 50]


def test_distinct_count_rewrite(spark):
    app = SqlApp(spark)
    app.register_stream(
        "In", spark.createDataFrame([("a",), ("a",), ("b",)], "x string")
    )
    outs = app.sql("INSERT INTO Out SELECT distinctCount(x) AS dc FROM In;")
    assert outs["Out"].collect()[0]["dc"] == 2


def test_sort_window_sql_multi_key(spark):
    app = SqlApp(spark)
    app.register_stream(
        "S",
        spark.createDataFrame(
            [("x", 1.0, 5), ("x", 3.0, 1), ("x", 2.0, 9)], "sym string, p double, q int"
        ),
    )
    outs = app.sql(
        "INSERT INTO Out SELECT sym, p, q FROM S WINDOW('sort', 2, p, 'desc') GROUP BY sym;"
    )
    assert sorted(r["p"] for r in outs["Out"].collect()) == [2.0, 3.0]


def test_window_over_derived_stream(spark):
    """A count-based window over a DERIVED stream (output of a prior query)
    must work — derived streams carry an arrival-order column too."""
    app = SqlApp(spark)
    app.register_stream(
        "In", spark.createDataFrame([("x", float(i)) for i in range(4)], "sym string, p double")
    )
    outs = app.sql(
        """
        CREATE STREAM Mid (sym VARCHAR, p DOUBLE);
        INSERT INTO Mid SELECT sym, p FROM In WHERE p > 0;
        INSERT INTO Out SELECT sym, sum(p) AS s FROM Mid WINDOW('length', 2) GROUP BY sym;
        """
    )
    assert sorted(r["s"] for r in outs["Out"].collect()) == [1.0, 3.0, 5.0]


def test_sequence_strict_adjacency_sql(spark):
    """FROM SEQUENCE: an intervening event on the stream kills the match
    (reference sequence_stream_receiver.rs strict adjacency)."""
    t0 = datetime(2026, 1, 1, 12, 0)
    app = SqlApp(spark)
    app.register_stream(
        "E",
        spark.createDataFrame(
            [
                (t0, "login", 1),
                (t0 + timedelta(seconds=10), "view", 2),     # intervenes
                (t0 + timedelta(seconds=20), "purchase", 3),
                (t0 + timedelta(seconds=60), "view", 4),
                (t0 + timedelta(seconds=70), "purchase", 5),  # adjacent to 4
            ],
            "ts timestamp, etype string, eid int",
        ),
        ts_col="ts",
    )
    outs = app.sql(
        "INSERT INTO Out SELECT e1.eid AS a, e2.eid AS b "
        "FROM SEQUENCE (e1=E[etype = 'view'] -> e2=E[etype = 'purchase']);"
    )
    # view(2)->purchase(3) and view(4)->purchase(5) are both adjacent;
    # non-EVERY fires once, so only the earliest survives
    got = sorted(tuple(r) for r in outs["Out"].collect())
    assert got == [(2, 3)]


def test_pattern_within_bounds_whole_chain(spark):
    """WITHIN bounds the whole 3-step pattern from e1, not per hop."""
    t0 = datetime(2026, 1, 1, 12, 0)
    app = SqlApp(spark)
    app.register_stream(
        "E",
        spark.createDataFrame(
            [
                (t0, "a", 1),
                (t0 + timedelta(seconds=40), "b", 2),
                (t0 + timedelta(seconds=80), "c", 3),  # 80s from e1 > 60s
            ],
            "ts timestamp, etype string, eid int",
        ),
        ts_col="ts",
    )
    outs = app.sql(
        "INSERT INTO Out SELECT e1.eid AS x, e3.eid AS z "
        "FROM PATTERN (e1=E[etype = 'a'] -> e2=E[etype = 'b'] -> e3=E[etype = 'c']) "
        "WITHIN 60 SECONDS;"
    )
    # each hop is < 60s apart, but the WHOLE pattern spans 80s → no match
    assert outs["Out"].collect() == []


def test_pattern_cross_reference_filter(spark):
    """e2's filter referencing e1 evaluates DURING matching: when the
    earliest candidate fails the cross-condition, the NEXT one matches
    (a post-filter would drop the pair entirely)."""
    t0 = datetime(2026, 1, 1, 12, 0)
    app = SqlApp(spark)
    app.register_stream(
        "E",
        spark.createDataFrame(
            [
                (t0, "a", 1, 10.0),
                (t0 + timedelta(seconds=10), "b", 2, 5.0),   # fails v > e1.v
                (t0 + timedelta(seconds=20), "b", 3, 50.0),  # qualifies
            ],
            "ts timestamp, etype string, eid int, v double",
        ),
        ts_col="ts",
    )
    outs = app.sql(
        "INSERT INTO Out SELECT e1.eid AS x, e2.eid AS y "
        "FROM PATTERN (e1=E[etype = 'a'] -> e2=E[etype = 'b' AND v > e1.v]);"
    )
    assert [tuple(r) for r in outs["Out"].collect()] == [(1, 3)]


def test_sql_pattern_count_quantifier_bounds(spark):
    """`e1=E[...]{3,5}` fires on events whose trailing-WITHIN qualifying
    count is in [3,5] (reference converter.rs:1608-1645)."""
    app = SqlApp(spark)
    t0 = datetime(2026, 1, 1, 12, 0)
    rows_ = [(t0 + timedelta(minutes=i), "err", i) for i in range(6)]
    rows_.append((t0 + timedelta(minutes=2, seconds=30), "ok", 99))
    app.register_stream(
        "E",
        spark.createDataFrame(rows_, "ts timestamp, etype string, eid int"),
        ts_col="ts",
    )
    outs = app.sql(
        "INSERT INTO Out SELECT e1.eid AS eid, match_count AS mc "
        "FROM PATTERN (e1=E[etype = 'err']{3,5}) WITHIN 1 HOURS;"
    )
    got = sorted(tuple(r) for r in outs["Out"].collect())
    # errors at minutes 0..5; the 'ok' event never counts; counts are
    # 1,2,3,4,5,6 → eids 2,3,4 fire (counts 3,4,5); eid 5 has count 6 > max
    assert got == [(2, 3), (3, 4), (4, 5)]


def test_sql_pattern_count_exact(spark):
    """`{3}` means exactly 3 (reference {m} → min=max=m)."""
    app = SqlApp(spark)
    t0 = datetime(2026, 1, 1, 12, 0)
    rows_ = [(t0 + timedelta(minutes=i), i) for i in range(5)]
    app.register_stream(
        "E", spark.createDataFrame(rows_, "ts timestamp, eid int"), ts_col="ts"
    )
    outs = app.sql(
        "INSERT INTO Out SELECT e1.eid AS eid FROM PATTERN (e1=E{3}) "
        "WITHIN 1 HOURS;"
    )
    assert [r["eid"] for r in outs["Out"].collect()] == [2]


def test_sql_pattern_count_collection_aggregates(spark):
    """Aggregates over the element alias aggregate the MATCHED SET per
    firing event (collection_aggregation_executor.rs), not output rows."""
    app = SqlApp(spark)
    t0 = datetime(2026, 1, 1, 12, 0)
    rows_ = [(t0 + timedelta(minutes=i), "u1", float(i + 1)) for i in range(4)]
    app.register_stream(
        "T",
        spark.createDataFrame(rows_, "ts timestamp, user string, price double"),
        ts_col="ts",
    )
    outs = app.sql(
        "INSERT INTO Out SELECT e1.price AS p, match_count AS mc, "
        "sum(e1.price) AS s, max(e1.price) AS mx "
        "FROM PATTERN (e1=T{2,3}) WITHIN 1 HOURS;"
    )
    got = sorted(tuple(r) for r in outs["Out"].collect())
    # prices 1,2,3,4 → firing at counts 2 (sum 1+2), 3 (sum 1+2+3), and the
    # 4th event has count 4 > max → silent
    assert got == [(2.0, 2, 3.0, 2.0), (3.0, 3, 6.0, 3.0)]


def test_sql_pattern_count_having_on_collection_agg(spark):
    """HAVING over a collection aggregate (`HAVING sum(e1.price) > …`) on a
    count-quantifier pattern: the agg is rewritten to a hidden _collagg
    column, and the filter must run while that column still exists (before
    the final projection drops it)."""
    app = SqlApp(spark)
    t0 = datetime(2026, 1, 1, 12, 0)
    rows_ = [(t0 + timedelta(minutes=i), "u1", float(i + 1)) for i in range(4)]
    app.register_stream(
        "T",
        spark.createDataFrame(rows_, "ts timestamp, user string, price double"),
        ts_col="ts",
    )
    outs = app.sql(
        "INSERT INTO Out SELECT e1.price AS p, match_count AS mc "
        "FROM PATTERN (e1=T{2,3}) WITHIN 1 HOURS "
        "HAVING sum(e1.price) > 4;"
    )
    got = sorted(tuple(r) for r in outs["Out"].collect())
    # firing events: count 2 (sum 3, filtered out), count 3 (sum 6, kept)
    assert got == [(3.0, 3)]
    # the hidden _collagg column must NOT leak into the output schema
    assert set(outs["Out"].columns) == {"p", "mc"}


def test_sql_pattern_zero_count_rejected(spark):
    import pytest

    app = SqlApp(spark)
    app.register_stream("E", spark.createDataFrame([(1,)], "v int"))
    with pytest.raises(ValueError, match="min must be >= 1"):
        app.sql("INSERT INTO Out SELECT v FROM PATTERN (e1=E{0,3}) WITHIN 1 HOURS;")


def test_sql_pattern_absent_final_step(spark):
    """`e1=A -> NOT B FOR d`: emit chains where no B event follows within
    d (reference PatternExpression::Absent, converter.rs:1687-1727)."""
    app = SqlApp(spark)
    t0 = datetime(2026, 1, 1, 12, 0)
    rows_ = [
        (t0, "login", 1),
        (t0 + timedelta(seconds=60), "purchase", 2),   # cancels login 1
        (t0 + timedelta(seconds=1000), "login", 3),    # nothing follows
        (t0 + timedelta(seconds=5000), "login", 4),
        (t0 + timedelta(seconds=5100), "purchase", 5),  # cancels login 4
    ]
    app.register_stream(
        "E",
        spark.createDataFrame(rows_, "ts timestamp, etype string, eid int"),
        ts_col="ts",
    )
    outs = app.sql(
        "INSERT INTO Out SELECT e1.eid AS eid "
        "FROM EVERY PATTERN (e1=E[etype = 'login'] -> "
        "NOT E[etype = 'purchase'] FOR 300 SECONDS);"
    )
    assert sorted(r["eid"] for r in outs["Out"].collect()) == [3]


def test_sql_pattern_absent_after_two_step_prefix(spark):
    """Absence can guard a longer prefix: A -> B -> NOT C FOR d."""
    app = SqlApp(spark)
    t0 = datetime(2026, 1, 1, 12, 0)
    rows_ = [
        (t0, "order", 1),
        (t0 + timedelta(seconds=10), "pay", 2),
        # no 'ship' within 300s of the pay → alert fires
        (t0 + timedelta(seconds=2000), "order", 3),
        (t0 + timedelta(seconds=2010), "pay", 4),
        (t0 + timedelta(seconds=2100), "ship", 5),  # ships in time → silent
    ]
    app.register_stream(
        "E",
        spark.createDataFrame(rows_, "ts timestamp, etype string, eid int"),
        ts_col="ts",
    )
    outs = app.sql(
        "INSERT INTO Out SELECT e1.eid AS o, e2.eid AS p "
        "FROM EVERY PATTERN (e1=E[etype = 'order'] -> e2=E[etype = 'pay'] "
        "-> NOT E[etype = 'ship'] FOR 300 SECONDS) WITHIN 1 HOURS;"
    )
    assert [tuple(r) for r in outs["Out"].collect()] == [(1, 2)]


def test_sql_pattern_absent_mid_chain_sequence_rejected(spark):
    """Mid-chain absence is supported in PATTERN mode (see
    test_sql_pattern_midchain_absent); SEQUENCE mode still rejects it —
    strict adjacency across a waited-out window is ill-defined."""
    import pytest

    app = SqlApp(spark)
    app.register_stream("E", spark.createDataFrame([(1,)], "v int"))
    with pytest.raises(ValueError, match="SEQUENCE"):
        app.sql(
            "INSERT INTO Out SELECT e1.v AS v FROM SEQUENCE "
            "(e1=E -> NOT E FOR 10 SECONDS -> e2=E);"
        )


def test_sql_pattern_count_open_ended(spark):
    """`{m,}` (no upper bound) fires on every event with trailing count >= m
    (reference PatternExpression::Count with max=None)."""
    app = SqlApp(spark)
    t0 = datetime(2026, 1, 1, 12, 0)
    rows_ = [(t0 + timedelta(minutes=i), i) for i in range(5)]
    app.register_stream(
        "E", spark.createDataFrame(rows_, "ts timestamp, eid int"), ts_col="ts"
    )
    outs = app.sql(
        "INSERT INTO Out SELECT e1.eid AS eid, match_count AS mc "
        "FROM PATTERN (e1=E{3,}) WITHIN 1 HOURS;"
    )
    got = sorted(tuple(r) for r in outs["Out"].collect())
    assert got == [(2, 3), (3, 4), (4, 5)]


def test_sql_pattern_midchain_count_quantifier(spark):
    """`e1=A -> e2=B{2,} -> e3=C`: the chain advances on B's 2nd
    qualifying event (the count state completes at min; reference
    count_pre_state_processor.rs), capturing that event as e2."""
    app = SqlApp(spark)
    t0 = datetime(2026, 1, 1, 12, 0)
    rows_ = [
        (t0 + timedelta(minutes=0), "u1", "a", 1),
        (t0 + timedelta(minutes=1), "u1", "b", 2),
        (t0 + timedelta(minutes=2), "u1", "b", 3),   # 2nd B → e2
        (t0 + timedelta(minutes=3), "u1", "c", 4),   # e3
        # u2: only one B → chain never completes
        (t0 + timedelta(minutes=0), "u2", "a", 5),
        (t0 + timedelta(minutes=1), "u2", "b", 6),
        (t0 + timedelta(minutes=2), "u2", "c", 7),
    ]
    app.register_stream(
        "E",
        spark.createDataFrame(rows_, "ts timestamp, user string, etype string, eid int"),
        ts_col="ts",
    )
    outs = app.sql(
        "PARTITION WITH (user OF E) BEGIN "
        "INSERT INTO Out SELECT e1.eid AS a, e2.eid AS b, e3.eid AS c "
        "FROM EVERY PATTERN (e1=E[etype = 'a'] -> e2=E[etype = 'b']{2,} "
        "-> e3=E[etype = 'c']) WITHIN 1 HOURS; "
        "END;"
    )
    got = sorted(tuple(r) for r in outs["Out"].collect())
    assert got == [(1, 3, 4)]


def test_sql_pattern_first_step_quantifier_in_chain_rejected(spark):
    import pytest

    app = SqlApp(spark)
    t0 = datetime(2026, 1, 1, 12, 0)
    app.register_stream(
        "E",
        spark.createDataFrame([(t0, "a", 1)], "ts timestamp, etype string, eid int"),
        ts_col="ts",
    )
    with pytest.raises(ValueError, match="FIRST step"):
        app.sql(
            "INSERT INTO Out SELECT e2.eid AS b "
            "FROM PATTERN (e1=E[etype = 'a']{2,} -> e2=E[etype = 'b']) "
            "WITHIN 1 HOURS;"
        )


def test_sql_pattern_midchain_absent(spark):
    """`e1=A -> NOT B FOR d -> e2=C`: the absence window must elapse clean
    AND the next element must arrive after it (reference
    AbsentStreamStateElement: the next state activates at the deadline)."""
    app = SqlApp(spark)
    t0 = datetime(2026, 1, 1, 12, 0)
    rows_ = [
        # u1: clean window, C after deadline → match
        (t0 + timedelta(minutes=0), "u1", "a", 1),
        (t0 + timedelta(minutes=12), "u1", "c", 2),
        # u2: B inside the window kills it
        (t0 + timedelta(minutes=0), "u2", "a", 3),
        (t0 + timedelta(minutes=5), "u2", "b", 4),
        (t0 + timedelta(minutes=12), "u2", "c", 5),
        # u3: C arrives before the window elapses → no match
        (t0 + timedelta(minutes=0), "u3", "a", 6),
        (t0 + timedelta(minutes=5), "u3", "c", 7),
    ]
    app.register_stream(
        "E",
        spark.createDataFrame(rows_, "ts timestamp, user string, etype string, eid int"),
        ts_col="ts",
    )
    outs = app.sql(
        "PARTITION WITH (user OF E) BEGIN "
        "INSERT INTO Out SELECT e1.eid AS a, e2.eid AS c "
        "FROM EVERY PATTERN (e1=E[etype = 'a'] -> NOT E[etype = 'b'] "
        "FOR 600 SECONDS -> e2=E[etype = 'c']) WITHIN 1 HOURS; "
        "END;"
    )
    got = sorted(tuple(r) for r in outs["Out"].collect())
    assert got == [(1, 2)]


def test_partition_with_range_malformed_arm_raises(spark):
    """A malformed trailing arm must fail the statement, not be silently
    dropped (a dropped arm means its events vanish from the block)."""
    import pytest as _pt

    from engine_spark.plans.parser import parse_app

    bad = """
    CREATE STREAM S (price DOUBLE, user VARCHAR);
    PARTITION WITH (price < 10 AS 'low' OR price >= 10 AS'high' OF S)
    BEGIN
      INSERT INTO Out SELECT _range AS bucket FROM S;
    END
    """
    with _pt.raises(ValueError, match="range partition arm"):
        parse_app(bad)


def test_partition_with_range_or_without_space(spark):
    """`OR(cond)` with no whitespace after OR is a legal arm separator."""
    from engine_spark.plans.parser import _parse_partition

    stmt = ("PARTITION WITH (price < 10 AS 'low' OR(price >= 10) AS 'high' "
            "OF S) BEGIN INSERT INTO Out SELECT _range AS bucket FROM S; END")
    ranges = list(_parse_partition(stmt).keys.values())[0]
    assert ranges == [("low", "price < 10"), ("high", "(price >= 10)")]


def test_division_by_zero_yields_null_like_reference(spark):
    """Reference divide executor returns NULL on zero divisor and on NULL
    operands (executor/math/divide.rs:71-88); the engine session pins
    non-ANSI mode so SQL apps match instead of crashing."""
    from engine_spark.plans import SqlApp

    d = spark.createDataFrame(
        [(1, 10.0, 2.0), (2, 10.0, 0.0), (3, None, 2.0)],
        "id long, a double, b double",
    )
    app = SqlApp(spark)
    app.register_stream("S", d)
    out = app.sql("INSERT INTO Out SELECT id, a / b AS q FROM S;")["Out"]
    got = {r.id: r.q for r in out.collect()}
    assert got[1] == 5.0
    assert got[2] is None  # zero divisor -> NULL, not SparkArithmeticException
    assert got[3] is None  # NULL operand propagates


def test_partition_with_range_dangling_or_raises(spark):
    """A trailing OR with no arm after it, or a doubled OR, must fail the
    statement rather than silently dropping or garbling arms."""
    import pytest as _pt

    from engine_spark.plans.parser import _parse_partition

    for bad in (
        "PARTITION WITH (price < 10 AS 'low' OR OF S) "
        "BEGIN INSERT INTO Out SELECT _range AS b FROM S; END",
        "PARTITION WITH (a < 1 AS 'x' OR OR b > 2 AS 'y' OF S) "
        "BEGIN INSERT INTO Out SELECT _range AS b FROM S; END",
    ):
        with _pt.raises(ValueError):
            _parse_partition(bad)


def test_create_aggregation_ddl_reference_shape(spark):
    """The reference's OWN ignored test shape (app_runner_aggregations.rs:15
    incremental_sum_seconds — '#[ignore] Requires DEFINE AGGREGATION'),
    runnable here: events at 0/500/1500/1600/2000 ms, sum(value) grouped,
    AGGREGATE EVERY SECONDS → per-second buckets [2, 2, 1]."""
    from datetime import datetime, timezone

    from engine_spark.plans import SqlApp

    def ts(ms):
        return datetime.fromtimestamp(ms / 1000.0, tz=timezone.utc).replace(
            tzinfo=None
        )

    rows = [(ts(t), 1) for t in (0, 500, 1500, 1600, 2000)]
    df = spark.createDataFrame(rows, "ts timestamp, value int")
    app = SqlApp(spark)
    app.register_stream("In", df, ts_col="ts")
    out = app.sql(
        "CREATE AGGREGATION Agg FROM In SELECT sum(value) AS total "
        "GROUP BY value AGGREGATE EVERY SECONDS; "
        "INSERT INTO Out SELECT value AS v FROM In;"
    )
    assert out["Out"].count() == 5  # the pass-through query still runs
    data = app.aggregation_data("Agg", per="second").orderBy("bucket_start")
    got = [(r["value"], int(r["sum_v"]), r["cnt"]) for r in data.collect()]
    assert got == [(1, 2, 2), (1, 2, 2), (1, 1, 1)]


def test_create_aggregation_range_and_within(spark):
    """`AGGREGATE EVERY sec ... hour` expands to the cascade levels
    second/minute/hour; WITHIN bounds the read; higher levels re-aggregate
    from the level below (counts add up)."""
    from datetime import datetime, timezone

    from engine_spark.plans import SqlApp

    t0 = datetime(2026, 1, 1, 12, 0, 0)
    rows = [
        (t0.replace(minute=mi, second=s), "g", float(v))
        for mi, s, v in [(0, 1, 10), (0, 2, 20), (1, 0, 30), (30, 0, 40)]
    ]
    df = spark.createDataFrame(rows, "ts timestamp, grp string, value double")
    app = SqlApp(spark)
    app.register_stream("E", df, ts_col="ts")
    app.sql(
        "CREATE AGGREGATION A2 FROM E SELECT sum(value) AS s, min(value) AS lo "
        "GROUP BY grp AGGREGATE EVERY sec ... hour;"
    )
    assert sorted(app.aggregations["A2"].levels) == ["hour", "minute", "second"]
    mins = app.aggregation_data("A2", per="minute").orderBy("bucket_start").collect()
    assert [(int(r["sum_v"]), r["cnt"], r["min_v"]) for r in mins] == [
        (30, 2, 10.0), (30, 1, 30.0), (40, 1, 40.0),
    ]
    hour = app.aggregation_data("A2", per="hour").collect()
    assert len(hour) == 1 and int(hour[0]["sum_v"]) == 100 and hour[0]["cnt"] == 4
    bounded = app.aggregation_data(
        "A2", per="minute", within=(t0, t0.replace(minute=2))
    ).collect()
    assert sum(r["cnt"] for r in bounded) == 3  # the :30 bucket excluded


def test_create_aggregation_errors(spark):
    import pytest as _pytest

    from engine_spark.plans import SqlApp
    from engine_spark.plans import parser as P

    with _pytest.raises(ValueError, match="ONE value column"):
        P.parse_app(
            "CREATE AGGREGATION X FROM S SELECT sum(a) AS x, max(b) AS y "
            "AGGREGATE EVERY SECONDS;"
        )
    with _pytest.raises(ValueError, match="unknown granularity"):
        P.parse_app(
            "CREATE AGGREGATION X FROM S SELECT sum(a) AS x AGGREGATE EVERY fortnight;"
        )
    app = SqlApp(spark)
    df = spark.createDataFrame([(1.0,)], "value double")
    app.register_stream("NoTs", df)  # no ts_col
    with _pytest.raises(ValueError, match="no event-time column"):
        app.sql(
            "CREATE AGGREGATION X FROM NoTs SELECT sum(value) AS s "
            "AGGREGATE EVERY SECONDS;"
        )


def test_aggregation_sql_read_within_per(spark):
    """`SELECT ... FROM Agg WITHIN 'a' AND 'b' PER 'minute'` — the
    reference's on-demand aggregation read (within+per), as SQL."""
    from datetime import datetime

    from engine_spark.plans import SqlApp

    t0 = datetime(2026, 1, 1, 12, 0, 0)
    rows = [
        (t0.replace(minute=mi, second=s), "g", float(v))
        for mi, s, v in [(0, 1, 10), (0, 2, 20), (1, 0, 30), (30, 0, 40)]
    ]
    df = spark.createDataFrame(rows, "ts timestamp, grp string, value double")
    app = SqlApp(spark)
    app.register_stream("E", df, ts_col="ts")
    out = app.sql(
        "CREATE AGGREGATION Agg FROM E SELECT sum(value) AS s "
        "GROUP BY grp AGGREGATE EVERY sec ... hour; "
        "INSERT INTO Out SELECT grp, bucket_start, sum_v, cnt "
        "FROM Agg WITHIN '2026-01-01 12:00:00' AND '2026-01-01 12:02:00' "
        "PER 'minute' ORDER BY bucket_start;"
    )["Out"].collect()
    assert [(r["sum_v"], r["cnt"]) for r in out] == [(30.0, 2), (30.0, 1)]
    # PER without WITHIN reads the whole level
    app2_out = app.sql(
        "INSERT INTO All SELECT grp, sum_v FROM Agg PER 'hour';"
    )["All"].collect()
    assert len(app2_out) == 1 and app2_out[0]["sum_v"] == 100.0


# ---------------------------------------------------------------------------
# CREATE TRIGGER DDL (reference tests/compatibility/triggers.rs:101-150,
# sqlparser CreateStreamTrigger consumed at sql_compiler/application.rs:21-35)
# ---------------------------------------------------------------------------

def test_create_trigger_start_batch(spark):
    # reference trigger_test6_sql_start: "CREATE TRIGGER StartTrigger AT
    # START;" emits exactly one event
    app = SqlApp(spark, trigger_horizon=("2024-01-01 00:00:00", "2024-01-01 01:00:00"))
    outs = app.sql(
        """
        CREATE TRIGGER StartTrigger AT START;
        CREATE STREAM outputStream (triggered_time TIMESTAMP, counter BIGINT);
        INSERT INTO outputStream SELECT triggered_time, counter FROM StartTrigger;
        """
    )
    got = outs["outputStream"].collect()
    assert len(got) == 1
    assert got[0].counter == 0
    assert got[0].triggered_time == datetime(2024, 1, 1, 0, 0, 0)


def test_create_trigger_every_batch_ticks(spark):
    # reference trigger_test7_sql_periodic: periodic trigger ticks on the
    # interval; batch replay = the ticks the horizon would have produced
    app = SqlApp(spark, trigger_horizon=("2024-01-01 00:00:00", "2024-01-01 00:00:59"))
    outs = app.sql(
        """
        CREATE TRIGGER PeriodicTrigger AT EVERY 15 SECONDS;
        CREATE STREAM o (triggered_time TIMESTAMP, counter BIGINT);
        INSERT INTO o SELECT triggered_time, counter FROM PeriodicTrigger;
        """
    )
    got = sorted(outs["o"].collect(), key=lambda r: r.counter)
    assert [r.counter for r in got] == [0, 1, 2, 3]
    assert got[3].triggered_time == datetime(2024, 1, 1, 0, 0, 45)


def test_create_trigger_every_milliseconds(spark):
    # sub-second interval (the reference's AT EVERY 50 MILLISECONDS form)
    app = SqlApp(spark, trigger_horizon=("2024-01-01 00:00:00", "2024-01-01 00:00:00.2"))
    outs = app.sql(
        """
        CREATE TRIGGER T AT EVERY 50 MILLISECONDS;
        CREATE STREAM o (triggered_time TIMESTAMP, counter BIGINT);
        INSERT INTO o SELECT triggered_time, counter FROM T;
        """
    )
    assert outs["o"].count() == 5  # 0, 50, 100, 150, 200 ms


def test_create_trigger_cron_batch_grid_aligned(spark):
    # reference trigger_test8_sql_cron uses a 6-field seconds cron; ticks
    # align to the cron GRID, not to the horizon start
    app = SqlApp(spark, trigger_horizon=("2024-01-01 00:00:07", "2024-01-01 00:01:00"))
    outs = app.sql(
        """
        CREATE TRIGGER CronTrigger AT CRON '*/15 * * * * *';
        CREATE STREAM o (triggered_time TIMESTAMP, counter BIGINT);
        INSERT INTO o SELECT triggered_time, counter FROM CronTrigger;
        """
    )
    got = sorted(r.triggered_time for r in outs["o"].collect())
    assert got == [
        datetime(2024, 1, 1, 0, 0, 15),
        datetime(2024, 1, 1, 0, 0, 30),
        datetime(2024, 1, 1, 0, 0, 45),
        datetime(2024, 1, 1, 0, 1, 0),
    ]


def test_create_trigger_heartbeat_query_expressions(spark):
    # reference trigger_test9_with_query: "SELECT FROM TriggerName" with
    # expressions over the tick row flows through the query pipeline
    app = SqlApp(spark, trigger_horizon=("2024-01-01 00:00:00", "2024-01-01 02:00:00"))
    outs = app.sql(
        """
        CREATE TRIGGER HeartbeatTrigger AT EVERY 1 HOURS;
        CREATE STREAM outputStream (c BIGINT);
        INSERT INTO outputStream SELECT counter * 10 AS c FROM HeartbeatTrigger;
        """
    )
    assert sorted(r.c for r in outs["outputStream"].collect()) == [0, 10, 20]


def test_create_trigger_batch_without_horizon_raises(spark):
    app = SqlApp(spark)
    with pytest.raises(ValueError, match="trigger_horizon"):
        app.sql("CREATE TRIGGER T AT EVERY 1 SECONDS;")


def test_create_trigger_parse_errors(spark):
    with pytest.raises(ValueError, match="AT START, AT EVERY"):
        parse_app("CREATE TRIGGER T AT NOON;")
    with pytest.raises(ValueError, match="non-positive"):
        parse_app("CREATE TRIGGER T AT EVERY 0 SECONDS;")


def test_create_trigger_streaming_rate_source(spark):
    # streaming_triggers=True compiles the trigger onto the rate source —
    # a live timer, matching the reference's scheduler thread
    app = SqlApp(spark, streaming_triggers=True)
    outs = app.sql(
        """
        CREATE TRIGGER T AT EVERY 100 MILLISECONDS;
        CREATE STREAM o (triggered_time TIMESTAMP, counter BIGINT);
        INSERT INTO o SELECT triggered_time, counter FROM T;
        """
    )
    df = outs["o"]
    assert df.isStreaming
    assert [f.name for f in df.schema.fields] == ["triggered_time", "counter"]


# ---------------------------------------------------------------------------
# Stream-driven table DML (reference tests/compatibility/tables.rs defines
# the UPDATE / DELETE FROM / UPDATE OR INSERT syntax at :160-169, :197-206,
# :381-388 but #[ignore]s every test — like CREATE AGGREGATION, the DDL
# compiles here onto the real operators)
# ---------------------------------------------------------------------------

def test_sql_update_table_from_stream(spark):
    # tables.rs:160-169 (UpdateTableTestCase.java shape); two update
    # events on one key — the LAST event wins, matching event-at-a-time
    # replay order
    app = SqlApp(spark)
    app.register_stream("stockStream", spark.createDataFrame(
        [("IBM", 100.0, 100), ("MSFT", 50.0, 20)],
        "symbol string, price double, volume int"))
    app.register_stream("updateStream", spark.createDataFrame(
        [("IBM", 123.0), ("IBM", 150.0)], "symbol string, newPrice double"))
    app.sql(
        "CREATE TABLE stockTable (symbol STRING, price FLOAT, volume INT);"
        "CREATE STREAM stockStream (symbol STRING, price FLOAT, volume INT);"
        "CREATE STREAM updateStream (symbol STRING, newPrice FLOAT);"
        "INSERT INTO stockTable SELECT * FROM stockStream;"
        "UPDATE stockTable SET price = updateStream.newPrice FROM updateStream "
        "WHERE stockTable.symbol = updateStream.symbol;"
    )
    got = sorted((r.symbol, r.price, r.volume) for r in
                 app.table("stockTable").select("symbol", "price", "volume").collect())
    assert got == [("IBM", 150.0, 100), ("MSFT", 50.0, 20)]


def test_sql_delete_from_table(spark):
    # tables.rs:197-206 (DeleteFromTableTestCase.java shape)
    app = SqlApp(spark)
    app.register_stream("stockStream", spark.createDataFrame(
        [("IBM", 100.0, 100), ("MSFT", 50.0, 20)],
        "symbol string, price double, volume int"))
    app.register_stream("deleteStream",
                        spark.createDataFrame([("IBM",)], "symbol string"))
    app.sql(
        "CREATE TABLE stockTable (symbol STRING, price FLOAT, volume INT);"
        "CREATE STREAM stockStream (symbol STRING, price FLOAT, volume INT);"
        "CREATE STREAM deleteStream (symbol STRING);"
        "INSERT INTO stockTable SELECT * FROM stockStream;"
        "DELETE FROM stockTable FROM deleteStream "
        "WHERE stockTable.symbol = deleteStream.symbol;"
    )
    assert [r.symbol for r in app.table("stockTable").select("symbol").collect()] == ["MSFT"]


def test_sql_update_or_insert_into_table(spark):
    # tables.rs:381-388 (UpdateOrInsertTableTestCase.java shape): the
    # stream replaces matching keys and inserts the rest
    app = SqlApp(spark)
    app.register_stream("seedStream", spark.createDataFrame(
        [("IBM", 1.0, 1), ("MSFT", 2.0, 2)],
        "symbol string, price double, volume int"))
    app.register_stream("stockStream", spark.createDataFrame(
        [("IBM", 200.0, 5), ("GOOG", 77.0, 7)],
        "symbol string, price double, volume int"))
    app.sql(
        "CREATE TABLE stockTable (symbol STRING, price FLOAT, volume INT);"
        "CREATE STREAM seedStream (symbol STRING, price FLOAT, volume INT);"
        "CREATE STREAM stockStream (symbol STRING, price FLOAT, volume INT);"
        "INSERT INTO stockTable SELECT * FROM seedStream;"
        "UPDATE OR INSERT INTO stockTable SELECT symbol, price, volume "
        "FROM stockStream ON stockTable.symbol = stockStream.symbol;"
    )
    got = sorted((r.symbol, r.price, r.volume) for r in
                 app.table("stockTable").select("symbol", "price", "volume").collect())
    assert got == [("GOOG", 77.0, 7), ("IBM", 200.0, 5), ("MSFT", 2.0, 2)]


def test_sql_table_dml_errors(spark):
    app = SqlApp(spark)
    app.register_stream("S", spark.createDataFrame([(1,)], "a int"))
    app.sql("CREATE TABLE T (a INT); CREATE STREAM S (a INT);"
            "INSERT INTO T SELECT * FROM S;")
    # non-equi UPDATE condition refused (the key-lookup shape is required)
    with pytest.raises(ValueError, match="equalities"):
        app.sql("UPDATE T SET a = S.a FROM S WHERE T.a > S.a;")
    # DML against a non-table refused
    with pytest.raises(ValueError, match="not a CREATE TABLE"):
        app.sql("DELETE FROM S FROM S WHERE S.a = S.a;")
    # unknown SET column refused
    with pytest.raises(ValueError, match="unknown SET"):
        app.sql("UPDATE T SET zz = S.a FROM S WHERE T.a = S.a;")


def test_partition_by_spelling(spark):
    # tables.rs:69-80 partition_test1 (#[ignore]d upstream): PARTITION BY
    # is the compatibility-corpus spelling of PARTITION WITH
    app = SqlApp(spark)
    app.register_stream("stockStream", spark.createDataFrame(
        [("IBM", 10.0, 1), ("IBM", 11.0, 2), ("MSFT", 20.0, 3), ("IBM", 12.0, 4)],
        "symbol string, price double, volume int"))
    outs = app.sql(
        "CREATE STREAM stockStream (symbol STRING, price FLOAT, volume INT);"
        "CREATE STREAM outputStream (symbol STRING, totalVolume BIGINT);"
        "PARTITION BY symbol OF stockStream BEGIN "
        "INSERT INTO outputStream SELECT symbol, sum(volume) AS totalVolume "
        "FROM stockStream WINDOW('length', 2); END;"
    )
    got = sorted((r.symbol, r.totalVolume) for r in outs["outputStream"].collect())
    assert got == [("IBM", 1), ("IBM", 3), ("IBM", 6), ("MSFT", 3)]


def test_create_table_primary_key_dedupes_inserts(spark):
    # tables.rs:229-255 table_test4 (#[ignore]d upstream): "Table should
    # have only one IBM entry" — the newest event per key wins
    app = SqlApp(spark)
    app.register_stream("stockStream", spark.createDataFrame(
        [("IBM", 100.0, 100), ("IBM", 150.0, 200), ("MSFT", 9.0, 9)],
        "symbol string, price double, volume int"))
    app.sql(
        "CREATE TABLE stockTable (symbol STRING PRIMARY KEY, price FLOAT, volume INT);"
        "CREATE STREAM stockStream (symbol STRING, price FLOAT, volume INT);"
        "INSERT INTO stockTable SELECT * FROM stockStream;"
    )
    got = sorted((r.symbol, r.price, r.volume) for r in
                 app.table("stockTable").select("symbol", "price", "volume").collect())
    assert got == [("IBM", 150.0, 200), ("MSFT", 9.0, 9)]
    # PRIMARY KEY on a stream is rejected
    with pytest.raises(ValueError, match="only tables"):
        parse_app("CREATE STREAM S (a INT PRIMARY KEY);")


def test_contains_in_table_expression(spark):
    # tables.rs:416-445 table_test8 (#[ignore]d upstream): membership of a
    # stream value in a table column, as a select item AND a WHERE clause;
    # compiles to a broadcast semi-join shape, not a collected literal
    app = SqlApp(spark)
    app.register_stream("insertStream", spark.createDataFrame(
        [("IBM", 100.0)], "symbol string, price double"))
    app.register_stream("checkStream", spark.createDataFrame(
        [("IBM",), ("ZZZ",)], "symbol string"))
    outs = app.sql(
        "CREATE TABLE stockTable (symbol STRING, price FLOAT);"
        "CREATE STREAM insertStream (symbol STRING, price FLOAT);"
        "CREATE STREAM checkStream (symbol STRING);"
        "CREATE STREAM outputStream (exists BOOLEAN);"
        "INSERT INTO stockTable SELECT * FROM insertStream;"
        "INSERT INTO outputStream "
        "SELECT (checkStream.symbol CONTAINS IN stockTable) AS exists "
        "FROM checkStream;"
    )
    assert sorted(r.exists for r in outs["outputStream"].collect()) == [False, True]
    outs2 = app.sql(
        "CREATE STREAM hits (symbol STRING);"
        "INSERT INTO hits SELECT symbol FROM checkStream "
        "WHERE checkStream.symbol CONTAINS IN stockTable;"
    )
    assert [r.symbol for r in outs2["hits"].collect()] == ["IBM"]


def test_table_join_aggregation_reference_shape(spark):
    # tables.rs:315-340 table_test6 (#[ignore]d upstream as "Complex GROUP
    # BY with table join not yet supported"): runs here unchanged
    app = SqlApp(spark)
    app.register_stream("insertStream", spark.createDataFrame(
        [(1, "US", 100.0), (2, "US", 50.0), (3, "EU", 70.0)],
        "productId int, region string, amount double"))
    app.register_stream("queryStream",
                        spark.createDataFrame([("US",)], "region string"))
    outs = app.sql(
        "CREATE TABLE salesTable (productId INT, region STRING, amount FLOAT);"
        "CREATE STREAM insertStream (productId INT, region STRING, amount FLOAT);"
        "CREATE STREAM queryStream (region STRING);"
        "CREATE STREAM outputStream (region STRING, total DOUBLE);"
        "INSERT INTO salesTable SELECT * FROM insertStream;"
        "INSERT INTO outputStream "
        "SELECT salesTable.region AS region, sum(salesTable.amount) AS total "
        "FROM queryStream JOIN salesTable "
        "ON queryStream.region = salesTable.region "
        "GROUP BY salesTable.region;"
    )
    assert [(r.region, r.total) for r in outs["outputStream"].collect()] == [("US", 150.0)]


def test_window_unique_and_first_unique(spark):
    # windows.rs:852-905 (#[ignore]d upstream): unique keeps the newest
    # event per key, firstUnique the first
    app = SqlApp(spark)
    app.register_stream("stockStream", spark.createDataFrame(
        [("IBM", 100.0, 10), ("MSFT", 50.0, 5), ("IBM", 110.0, 20)],
        "symbol string, price double, volume int"))
    outs = app.sql(
        "CREATE STREAM stockStream (symbol STRING, price FLOAT, volume INT);"
        "CREATE STREAM o1 (symbol STRING, price FLOAT);"
        "CREATE STREAM o2 (symbol STRING, price FLOAT);"
        "INSERT INTO o1 SELECT symbol, price FROM stockStream WINDOW('unique', symbol);"
        "INSERT INTO o2 SELECT symbol, price FROM stockStream WINDOW('firstUnique', symbol);"
    )
    assert sorted((r.symbol, r.price) for r in outs["o1"].collect()) == [
        ("IBM", 110.0), ("MSFT", 50.0)]
    assert sorted((r.symbol, r.price) for r in outs["o2"].collect()) == [
        ("IBM", 100.0), ("MSFT", 50.0)]


def test_window_delay_shifts_event_time(spark):
    from datetime import datetime

    app = SqlApp(spark)
    app.register_stream("S", spark.createDataFrame(
        [(datetime(2024, 1, 1, 0, 0, 0), 1.0)], "ts timestamp, v double"),
        ts_col="ts")
    outs = app.sql(
        "CREATE STREAM S (ts TIMESTAMP, v DOUBLE);"
        "CREATE STREAM o (ts TIMESTAMP, v DOUBLE);"
        "INSERT INTO o SELECT ts, v FROM S WINDOW('delay', 30 SECONDS);"
    )
    got = outs["o"].collect()
    assert got[0].ts == datetime(2024, 1, 1, 0, 0, 30) and got[0].v == 1.0


def test_window_frequent_and_lossy_counting(spark):
    app = SqlApp(spark)
    app.register_stream("S", spark.createDataFrame(
        [("A", 1.0), ("A", 2.0), ("B", 3.0), ("C", 4.0)],
        "symbol string, v double"))
    app.sql("CREATE STREAM S (symbol STRING, v DOUBLE);")
    outs = app.sql(
        "CREATE STREAM o (symbol STRING, v DOUBLE);"
        "INSERT INTO o SELECT symbol, v FROM S WINDOW('frequent', 1, symbol);"
    )
    assert sorted((r.symbol, r.v) for r in outs["o"].collect()) == [
        ("A", 1.0), ("A", 2.0)]
    # lossyCounting(0.5): only symbols with >= 50% of the events survive
    outs2 = app.sql(
        "CREATE STREAM o2 (symbol STRING, v DOUBLE);"
        "INSERT INTO o2 SELECT symbol, v FROM S WINDOW('lossyCounting', 0.5, symbol);"
    )
    assert sorted((r.symbol, r.v) for r in outs2["o2"].collect()) == [
        ("A", 1.0), ("A", 2.0)]
    # group-by aggregation composes after the retention decision
    outs3 = app.sql(
        "CREATE STREAM o3 (symbol STRING, cnt BIGINT);"
        "INSERT INTO o3 SELECT symbol, count(*) AS cnt FROM S "
        "WINDOW('frequent', 2, symbol) GROUP BY symbol;"
    )
    got = sorted((r.symbol, r.cnt) for r in outs3["o3"].collect())
    assert got == [("A", 2), ("B", 1)]  # deterministic value-asc tie-break B<C


def test_pattern_three_way_or(spark):
    # patterns.rs:1246-1261 pattern_test_three_way_or (#[ignore]d
    # upstream): OR is associative and stateless, so extra branches
    # extend the padded union; only B fires here
    app = SqlApp(spark)
    app.register_stream("A", spark.createDataFrame([], "val int"))
    app.register_stream("B", spark.createDataFrame([(20,)], "val int"))
    app.register_stream("C", spark.createDataFrame([], "val int"))
    outs = app.sql(
        "CREATE STREAM A (val INT); CREATE STREAM B (val INT);"
        "CREATE STREAM C (val INT); CREATE STREAM Out (result INT);"
        "INSERT INTO Out SELECT coalesce(e1.val, e2.val, e3.val) AS result "
        "FROM PATTERN (e1=A OR e2=B OR e3=C);"
    )
    assert [r.result for r in outs["Out"].collect()] == [20]
    # EVERY mode with all three branches firing: three rows, each padded
    # with the other branches' NULLs (fire-once above kept the earliest)
    app.register_stream("A", spark.createDataFrame([(1,)], "val int"))
    app.register_stream("C", spark.createDataFrame([(3,)], "val int"))
    outs2 = app.sql(
        "CREATE STREAM Out2 (result INT);"
        "INSERT INTO Out2 SELECT coalesce(e1.val, e2.val, e3.val) AS result "
        "FROM EVERY PATTERN (e1=A OR e2=B OR e3=C);"
    )
    assert sorted(r.result for r in outs2["Out2"].collect()) == [1, 3, 20]
    # n-ary AND stays rejected with a clear message
    with pytest.raises(ValueError, match="n-ary AND"):
        parse_app("INSERT INTO O SELECT 1 AS x FROM PATTERN (e1=A AND e2=B AND e3=C);")


def test_table_join_where_filter_reference_shapes(spark):
    # tables.rs:2613-2662 (#[ignore]d upstream as "WHERE filter with table
    # JOIN not yet supported"): NOT(...) and conjunctive WHERE over a
    # stream-table join run here unchanged
    app = SqlApp(spark)
    app.register_stream("insertStream", spark.createDataFrame(
        [(1, 60, 5), (2, 40, 5), (3, 90, 0)], "id int, price int, stock int"))
    app.register_stream("queryStream",
                        spark.createDataFrame([(1,), (2,), (3,)], "id int"))
    outs = app.sql(
        "CREATE TABLE productTable (id INT, price INT, stock INT);"
        "CREATE STREAM insertStream (id INT, price INT, stock INT);"
        "CREATE STREAM queryStream (id INT);"
        "CREATE STREAM outputStream (id INT, price INT);"
        "INSERT INTO productTable SELECT * FROM insertStream;"
        "INSERT INTO outputStream "
        "SELECT productTable.id AS id, productTable.price AS price "
        "FROM queryStream JOIN productTable "
        "ON queryStream.id = productTable.id "
        "WHERE productTable.price > 50 AND productTable.stock > 0;"
    )
    assert [(r.id, r.price) for r in outs["outputStream"].collect()] == [(1, 60)]
    outs2 = app.sql(
        "CREATE STREAM o2 (id INT);"
        "INSERT INTO o2 SELECT productTable.id AS id "
        "FROM queryStream JOIN productTable "
        "ON queryStream.id = productTable.id "
        "WHERE NOT (productTable.stock = 0);"
    )
    assert sorted(r.id for r in outs2["o2"].collect()) == [1, 2]


def test_table_dml_review_regressions(spark):
    """Round-9 review findings: DML against a declared-but-empty table,
    upsert key-dedup without an order column, non-identity upsert key
    projections, CONTAINS IN under SELECT *, and short cron horizons."""
    # initial-load upsert into a never-inserted table
    app = SqlApp(spark)
    app.register_stream("S", spark.createDataFrame(
        [("IBM", 1.0), ("IBM", 2.0)], "symbol string, price double"))
    app.sql(
        "CREATE TABLE T (symbol STRING, price FLOAT);"
        "CREATE STREAM S (symbol STRING, price FLOAT);"
        "UPDATE OR INSERT INTO T SELECT symbol, price FROM S "
        "ON T.symbol = S.symbol;"
    )
    got = [(r.symbol, r.price) for r in
           app.table("T").select("symbol", "price").collect()]
    # key-unique even from an empty start, newest event winning
    assert got == [("IBM", 2.0)]
    # UPDATE and DELETE against an empty table are no-ops, not crashes
    app.sql("UPDATE T SET price = S.price FROM S WHERE T.symbol = S.symbol;")
    app2 = SqlApp(spark)
    app2.register_stream("D", spark.createDataFrame([("X",)], "symbol string"))
    app2.sql(
        "CREATE TABLE T2 (symbol STRING); CREATE STREAM D (symbol STRING);"
        "DELETE FROM T2 FROM D WHERE T2.symbol = D.symbol;"
    )
    assert app2.table("T2").count() == 0

    # non-identity key projection: ON matches on I.k, inserted rows carry
    # k+1000 — matching table rows must be REPLACED, not duplicated
    app3 = SqlApp(spark)
    app3.register_stream("Seed", spark.createDataFrame(
        [(1, "a"), (2, "b")], "k int, name string"))
    app3.register_stream("I", spark.createDataFrame([(1, "z")], "k int, name string"))
    app3.sql(
        "CREATE TABLE T3 (k INT, name STRING);"
        "CREATE STREAM Seed (k INT, name STRING);"
        "CREATE STREAM I (k INT, name STRING);"
        "INSERT INTO T3 SELECT * FROM Seed;"
        "UPDATE OR INSERT INTO T3 SELECT k + 1000 AS k, name FROM I "
        "ON T3.k = I.k;"
    )
    got3 = sorted((r.k, r.name) for r in app3.table("T3").select("k", "name").collect())
    assert got3 == [(2, "b"), (1001, "z")]


def test_contains_in_select_star_no_internal_columns(spark):
    app = SqlApp(spark)
    app.register_stream("ins", spark.createDataFrame([("IBM",)], "symbol string"))
    app.register_stream("chk", spark.createDataFrame(
        [("IBM",), ("ZZZ",)], "symbol string"))
    outs = app.sql(
        "CREATE TABLE tbl (symbol STRING); CREATE STREAM ins (symbol STRING);"
        "CREATE STREAM chk (symbol STRING);"
        "CREATE STREAM hits (symbol STRING);"
        "INSERT INTO tbl SELECT * FROM ins;"
        "INSERT INTO hits SELECT * FROM chk "
        "WHERE chk.symbol CONTAINS IN tbl;"
    )
    df = outs["hits"]
    assert not any(c.startswith("_cin_") for c in df.columns)
    assert [r.symbol for r in df.collect()] == ["IBM"]


def test_trigger_cron_edge_cases(spark):
    from engine_spark.operators.triggers import cron_to_period

    # horizon shorter than one period: zero ticks, not a sequence error
    app = SqlApp(spark, trigger_horizon=("2024-01-01 00:00:00", "2024-01-01 00:10:00"))
    outs = app.sql(
        "CREATE TRIGGER T AT CRON '30 * * * *';"
        "CREATE STREAM o (triggered_time TIMESTAMP, counter BIGINT);"
        "INSERT INTO o SELECT triggered_time, counter FROM T;"
    )
    assert outs["o"].count() == 0
    # zero cron steps rejected at parse
    for bad in ("*/0 * * * * *", "*/0 * * * *"):
        with pytest.raises(ValueError, match="zero step"):
            cron_to_period(bad)
