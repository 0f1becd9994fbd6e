"""Per-key pattern NFA on ``applyInPandasWithState`` — the streaming
execution of the CEP constructs (reference stream_pre_state_processor.rs /
count_pre_state_processor.rs / absent + timer wheel, ~6k LoC of bespoke
state machine; here ~200 lines over Spark's state store).

Design:
- match predicates are evaluated as Catalyst expressions *before* the
  stateful operator (``_is_*`` boolean columns) — the Python NFA only
  sequences; filtering stays JVM-side and pushes to the scan;
- state per key is a few arrays (timestamps plus JSON-encoded partial
  matches or payloads), so the state store serializes compactly;
- within-batch ordering: events are sorted by event time inside each
  micro-batch (the reference's junction guarantees arrival order;
  micro-batching makes this explicit — SURVEY §7 hard spot (a));
- watermark + EventTimeTimeout evict state exactly where the reference's
  window buffer expiry / timer wheel did.

Scale: state is per key-group in the state store (RocksDB on a real
cluster), partitioned by the grouping key — the same shuffle a streaming
aggregation pays. No global state, no driver involvement.

One pattern kernel — ``chain_stream`` is what ``SqlApp`` compiles every
live-stream followed-by shape to: 1..N steps, mid-chain AND/OR groups and
count quantifiers, a trailing ``NOT C FOR d``. The two shapes it rejects
run on code that exists for other semantics:

- a lone ``A{m,n} WITHIN d`` is the trailing-d frame count, i.e.
  ``WINDOW('time', d)`` — ``streaming.windows.sliding_stream(mode='time')``;
- a first-step ``A AND B WITHIN d`` is ``SqlApp``'s relational pair join,
  which Spark runs as a stream-stream join with watermark eviction.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from engine_spark.streaming.eventtime import watermarked

US = 1_000_000


def _set_timeout(state: GroupState, deadline_ms: int) -> None:
    """Event-time timeouts must not be earlier than the current watermark —
    clamp (the deadline already passed; fire at the next possible tick)."""
    wm = state.getCurrentWatermarkMs()
    state.setTimeoutTimestamp(max(deadline_ms, wm + 1))


def _us(ts) -> int:
    return int(pd.Timestamp(ts).value // 1000)  # ns → µs


def _ts_us_arr(s: pd.Series) -> np.ndarray:
    """Whole-column µs-since-epoch conversion — one vectorized cast instead
    of a ``pd.Timestamp`` construction per event. ``.values`` on a tz-aware
    series yields UTC datetime64, matching ``pd.Timestamp(x).value``."""
    v = s.values
    if v.dtype.kind == "M":
        return v.astype("datetime64[ns]").astype("int64") // 1000
    return np.fromiter((_us(x) for x in v), dtype="int64", count=len(v))


def _bool_arr(s: pd.Series) -> np.ndarray:
    """Predicate column → dense bool array; SQL three-valued NULL means
    'not matched' (the batch WHERE treats NULL as false)."""
    if s.dtype == bool:
        return s.to_numpy()
    return s.fillna(False).to_numpy(dtype=bool)


#: Per-key per-micro-batch event count above which the unsalted chain NFA
#: logs an executor-side hot-key warning (the per-key rate ceiling is
#: documented in PERF.md; the fix is ``salt=R`` or the relational path).
HOT_KEY_WARN_EVENTS = 200_000


def _warn_hot_key(key, n: int) -> None:
    if n <= HOT_KEY_WARN_EVENTS:
        return
    import warnings

    warnings.warn(
        f"streaming NFA hot key {key!r}: {n} events in one micro-batch "
        f"(> {HOT_KEY_WARN_EVENTS}) funnel through a single python worker "
        "(~70-90k events/s/key ceiling, see PERF.md). Set "
        "SqlApp(nfa_salt=R) or pass chain_stream(salt=R) (exact semantics "
        "preserved) or route this key to the relational batch path.",
        stacklevel=2,
    )


def chain_stream(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    steps: list[tuple[str, Column]],
    within_seconds: int,
    payload_cols: list[str] | None = None,
    every: bool = True,
    late: str = "0 seconds",
    cross_filters: dict[int, "object"] | None = None,
    absent_final: tuple[Column, float] | None = None,
    step_mins: list[int] | None = None,
    group_steps: dict[int, tuple[str, Column, str]] | None = None,
    salt: int | None = None,
) -> DataFrame:
    """Streaming N-step followed-by chain `e1=A -> e2=B -> ... WITHIN d`
    per key (reference stream_pre_state_processor.rs runs arbitrary chains;
    a 1-step chain with ``absent_final`` is `A -> NOT B FOR d`, a 2-step
    chain is plain followed-by).

    Semantics match the relational compiler's PATTERN mode: every step-0
    event opens a partial match (EVERY; with ``every=False`` the key fires
    once and stops), each partial advances on the FIRST subsequent event
    satisfying its next step (skip-till-next-match), and the whole chain
    must complete within ``d`` of its first element.

    State per key = the list of open partial matches, each carrying its
    captured events — JSON-encoded so arbitrary payload columns ride along
    without a per-shape state schema. Partials are evicted as soon as the
    newest event (and, on quiet keys, the event-time timeout) passes
    ``first_ts + d``, so state stays bounded by the in-horizon starts
    exactly like the reference's pending-state queue.

    ``cross_filters`` maps a step index to a predicate
    ``fn(captured: dict[alias -> payload dict], row: dict) -> bool``
    evaluated DURING matching against the partial's captured events —
    cross-references like ``e2.price > e1.price`` (reference
    stream_pre_state_processor.rs evaluates them in-flight; a post-filter
    would drop pairs the NFA would have matched with the next candidate).

    ``absent_final=(cancel_pred, for_seconds)`` appends an absence guard
    (`... -> NOT C FOR d`, reference AbsentStreamStateElement + timer
    wheel): a chain that completes its last captured step becomes PENDING
    and emits only once event time passes ``last_ts + d`` with no
    cancelling event on the key inside that window — a cancel kills the
    pending match. The pending queue is part of the same bounded state.

    ``group_steps`` maps a step index (≥ 1) to ``(alias2, pred2, op)``,
    turning that step into an AND/OR group (`… -> (B AND C) -> …`,
    reference logical_pre_state_processor.rs mid-chain): AND holds the
    first match of each member (either arrival order, both after the
    previous captured step) and advances when both are present, at the
    later arrival; OR advances on the first event matching either member,
    null-padding the other member's columns (an event matching both
    advances via the first member).

    ``step_mins`` gives each step a count quantifier minimum (`B{m,…}`):
    the partial counts qualifying events and advances on the m-th —
    capturing that event (reference count_pre_state_processor.rs completes
    its count state at min; in skip-till-next-match mode extra events are
    skippable, so a max bound cannot gate the advance).

    ``salt=R``: exact hot-key parallelization. Every partial is anchored at
    its step-0 event, which hashes to ONE of R sub-keys; events matching
    any later step / group member / absence cancel replicate to ALL R, so
    each sub-key sees the complete continuation stream in order and every
    partial advances exactly as unsalted — the sub-key union IS the
    unsalted output. Requires ``every=True`` (fire-once is per-KEY state
    that sub-keys cannot share). Cost: continuation-event volume ×R —
    right when step-0 events dominate the stream. Unsalted, a per-batch
    detector warns (executor log) when one key exceeds
    HOT_KEY_WARN_EVENTS events in a micro-batch.

    Output: ``key`` + per step ``{alias}_{ts_col}`` and ``{alias}_{c}`` for
    each payload column.
    """
    import json

    from pyspark.sql import types as T

    n = len(steps)
    if n == 0:
        raise ValueError("chain_stream: at least one step required")
    step_mins = list(step_mins) if step_mins else [1] * n
    if len(step_mins) != n:
        raise ValueError("step_mins must have one entry per step")
    if step_mins[0] != 1:
        raise ValueError(
            "step 0 cannot carry a count quantifier (a quantified anchor "
            "is a standalone A{m,n}, which runs on the time-window kernel)"
        )
    group_steps = dict(group_steps or {})
    group_ops = {i: op for i, (_, _, op) in group_steps.items()}
    if 0 in group_steps:
        raise ValueError(
            "step 0 cannot be a group in a multi-step chain (pair "
            "multiplicity of an unanchored group needs the standalone "
            "group's pair join)"
        )
    for i in group_steps:
        if step_mins[i] != 1:
            raise ValueError("a group step cannot carry a count quantifier")
        if cross_filters and i in cross_filters:
            raise ValueError(
                "cross-reference filters on a group step are not supported"
            )
    within_us = within_seconds * US
    schema = {f.name: f.dataType for f in df.schema.fields}
    if payload_cols is None:
        payload_cols = [c for c in df.columns if c not in (key_col, ts_col)]
    ts_payload = {
        c
        for c in payload_cols
        if isinstance(schema[c], (T.TimestampType, T.TimestampNTZType))
    }

    tagged = watermarked(df, ts_col, late)
    for i, (_, pred) in enumerate(steps):
        tagged = tagged.withColumn(f"_is_{i}", pred.cast("boolean"))
    for i, (_, pred2, _) in group_steps.items():
        tagged = tagged.withColumn(f"_is_{i}b", pred2.cast("boolean"))
    if absent_final is not None:
        tagged = tagged.withColumn("_is_ab", absent_final[0].cast("boolean"))
    salted = salt is not None
    if salted:
        if not every:
            raise ValueError(
                "salt requires every=True: fire-once is per-KEY state that "
                "salted sub-keys cannot share exactly"
            )
        later_flags = [F.col(f"_is_{i}") for i in range(1, n)]
        later_flags += [F.col(f"_is_{i}b") for i in group_steps]
        if absent_final is not None:
            later_flags.append(F.col("_is_ab"))
        later = F.lit(False)
        for fcol in later_flags:
            later = later | F.coalesce(fcol, F.lit(False))
        if not isinstance(salt, int) or salt < 1:
            raise ValueError(f"salt must be an int >= 1, got {salt!r}")
        own = F.pmod(
            F.xxhash64(*[F.col(c) for c in [ts_col, *payload_cols]]),
            F.lit(salt),
        )
        tagged = (
            tagged.withColumn(
                "_salt",
                F.explode(
                    F.when(
                        later,
                        F.sequence(
                            F.lit(0).cast("long"), F.lit(salt - 1).cast("long")
                        ),
                    ).otherwise(F.array(own))
                ),
            )
            .withColumn("_is_0", F.col("_is_0") & (F.col("_salt") == own))
        )
    # run() must only close over plain Python values (Column handles hold
    # JVM locks cloudpickle can't ship) — reduce absent_final to a flag
    has_absent = absent_final is not None
    for_us = int(absent_final[1] * US) if has_absent else 0
    for_ms = for_us // 1000

    #: flattened capture positions: group steps contribute TWO entries
    flat_aliases: list[str] = []
    for i, (alias, _) in enumerate(steps):
        flat_aliases.append(alias)
        if i in group_steps:
            flat_aliases.append(group_steps[i][0])
    n_flat = len(flat_aliases)
    out_parts = [f"{key_col} {schema[key_col].simpleString()}"]
    out_columns = [key_col]
    for alias in flat_aliases:
        out_parts.append(f"{alias}_{ts_col} {schema[ts_col].simpleString()}")
        out_columns.append(f"{alias}_{ts_col}")
        for c in payload_cols:
            out_parts.append(f"{alias}_{c} {schema[c].simpleString()}")
            out_columns.append(f"{alias}_{c}")
    out_schema = ", ".join(out_parts)
    state_schema = "done boolean, partials array<string>"
    # the run closure must not capture `steps` itself: Column objects hold
    # JVM handles that cloudpickle can't ship to the workers
    step_aliases = [a for a, _ in steps]

    def _schedule(state: GroupState, partials: list[dict]) -> None:
        cands = []
        for p in partials:
            if p["i"] == n:  # pending absence: fire at its deadline
                cands.append(p["l"] // 1000 + for_ms)
            else:  # open chain: clean up once its horizon passes
                cands.append(p["f"] // 1000 + within_seconds * 1000)
        if cands:
            _set_timeout(state, min(cands))

    def run(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state.hasTimedOut:
            # quiet key: the watermark reached a deadline — emit matured
            # pending-absence matches, drop expired opens
            done, partials = False, []
            if state.exists:
                d0, pj = state.get
                done = bool(d0)
                partials = [json.loads(s) for s in (pj or [])]
            wm_us = state.getCurrentWatermarkMs() * 1000
            ready = [
                p for p in partials if p["i"] == n and p["l"] + for_us <= wm_us
            ]
            if ready and not every:
                done, partials, ready = True, [], ready[:1]
            else:
                partials = [
                    p
                    for p in partials
                    if (p["i"] == n and p["l"] + for_us > wm_us)
                    or (p["i"] < n and wm_us - p["f"] <= within_us)
                ]
            if done or partials:
                state.update((done, [json.dumps(p) for p in partials]))
                _schedule(state, partials)
            else:
                state.remove()
            if ready:
                yield _build_rows(key, [(p["f"], p["cap"]) for p in ready])
            return
        done, partials = False, []
        if state.exists:
            d0, pj = state.get
            done = bool(d0)
            partials = [json.loads(s) for s in (pj or [])]
        if done:
            state.update((True, []))
            return
        rows = pd.concat(list(pdfs), ignore_index=True).sort_values(
            ts_col, kind="mergesort"
        )
        if not salted:
            _warn_hot_key(key[0], len(rows))
        # vectorized row access (one cast per column, not a dict per event);
        # rows matching no step / group / cancel predicate are skipped — they
        # cannot change NFA state, and horizon eviction is re-checked both on
        # later matching events and at batch end
        ts_us = _ts_us_arr(rows[ts_col])
        step_f = [_bool_arr(rows[f"_is_{i}"]) for i in range(n)]
        grp_f = {i: _bool_arr(rows[f"_is_{i}b"]) for i in group_ops}
        ab_f = _bool_arr(rows["_is_ab"]) if has_absent else None
        pay_a = {c: rows[c].values for c in payload_cols}
        relevant = np.zeros(len(rows), dtype=bool)
        for f_ in step_f:
            relevant |= f_
        for f_ in grp_f.values():
            relevant |= f_
        if ab_f is not None:
            relevant |= ab_f

        def capture_at(j: int) -> dict:
            cap = {}
            for c in payload_cols:
                v = pay_a[c][j]
                if c in ts_payload:
                    cap[c] = (
                        None if v is None or v != v else pd.Timestamp(v).isoformat()
                    )
                    continue
                if hasattr(v, "item"):  # numpy scalar → python
                    v = v.item()
                cap[c] = (
                    None if v is None or (isinstance(v, float) and v != v) else v
                )
            return cap

        col_a: dict | None = None

        def row_at(j: int) -> dict:  # full row view for cross-ref predicates
            nonlocal col_a
            if col_a is None:
                col_a = {c: rows[c].values for c in rows.columns}
            return {c: col_a[c][j] for c in rows.columns}

        out: list[tuple[int, list]] = []
        for j in np.flatnonzero(relevant):
            t = int(ts_us[j])
            ab = bool(ab_f[j]) if has_absent else False
            kept = []
            fired = False
            for p in partials:
                i = p["i"]
                if i == n:  # pending absence: a cancel inside the window kills
                    if ab and p["l"] < t <= p["l"] + for_us:
                        continue
                    kept.append(p)
                    continue
                if t - p["f"] > within_us:
                    continue  # horizon passed with the chain incomplete
                if i in group_ops:
                    # AND/OR group step: two member predicates
                    ma = bool(step_f[i][j]) and t > p["l"]
                    mb = bool(grp_f[i][j]) and t > p["l"]
                    if not (ma or mb):
                        kept.append(p)
                        continue
                    ent = [t, capture_at(j)]
                    if group_ops[i] == "or":
                        # first member wins when an event matches both
                        pair = [ent, [None, None]] if ma else [[None, None], ent]
                        cap = p["cap"] + pair
                        adv_l = t
                    else:  # and: hold first match per member, either order
                        ga = p.get("ga") or (ent if ma else None)
                        gb = p.get("gb") or (ent if mb else None)
                        if not (ga and gb):
                            q2 = {k: v for k, v in p.items() if k not in ("ga", "gb")}
                            if ga:
                                q2["ga"] = ga
                            if gb:
                                q2["gb"] = gb
                            kept.append(q2)
                            continue
                        cap = p["cap"] + [ga, gb]
                        adv_l = max(ga[0], gb[0])
                    if i + 1 == n:
                        if has_absent:
                            kept.append(
                                {"i": n, "f": p["f"], "l": adv_l, "cap": cap}
                            )
                        else:
                            out.append((p["f"], cap))
                            fired = True
                    else:
                        kept.append(
                            {"i": i + 1, "f": p["f"], "l": adv_l, "cap": cap, "c": 0}
                        )
                    continue
                # Tie semantics must match the batch path: the FIRST event
                # of a step is strictly after the previous step's event
                # (hop join cond `nxt_ts > cur_ts`), but while a quantified
                # step is counting (c > 0), batch ranks ALL qualifying
                # events by ts — co-timestamped events each count — so the
                # streaming counter accepts t >= last-counted timestamp.
                _after = t >= p["l"] if p.get("c", 0) > 0 else t > p["l"]
                ok = bool(step_f[i][j]) and _after
                if ok and cross_filters and i in cross_filters:
                    captured = {
                        flat_aliases[q]: p["cap"][q][1]
                        for q in range(len(p["cap"]))
                    }
                    ok = bool(cross_filters[i](captured, row_at(j)))
                if ok:
                    c = p.get("c", 0) + 1
                    if c < step_mins[i]:
                        # quantified step still collecting (count state):
                        # stay at step i with the counter bumped
                        kept.append({**p, "c": c, "l": t})
                        continue
                    cap = p["cap"] + [[t, capture_at(j)]]  # the m-th event
                    if i + 1 == n:
                        if has_absent:
                            kept.append({"i": n, "f": p["f"], "l": t, "cap": cap})
                        else:
                            out.append((p["f"], cap))
                            fired = True
                    else:
                        kept.append(
                            {"i": i + 1, "f": p["f"], "l": t, "cap": cap, "c": 0}
                        )
                else:
                    kept.append(p)
            partials = kept
            if fired and not every:
                done, partials = True, []
                break
            if bool(step_f[0][j]):
                cap0 = [[t, capture_at(j)]]
                if n == 1:
                    if has_absent:
                        partials.append({"i": n, "f": t, "l": t, "cap": cap0})
                    else:
                        out.append((t, cap0))
                        if not every:
                            done, partials = True, []
                            break
                else:
                    partials.append({"i": 1, "f": t, "l": t, "cap": cap0})
        if len(rows) and not done:
            now = int(ts_us[-1])
            # busy-key flush: the newest event (or watermark) passing a
            # pending deadline proves its window closed uncancelled
            flush = max(now, state.getCurrentWatermarkMs() * 1000)
            ready = [
                p for p in partials if p["i"] == n and p["l"] + for_us <= flush
            ]
            if ready and not every:
                done, partials, ready = True, [], ready[:1]
            else:
                partials = [
                    p
                    for p in partials
                    if (p["i"] == n and p["l"] + for_us > flush)
                    or (p["i"] < n and now - p["f"] <= within_us)
                ]
            out.extend((p["f"], p["cap"]) for p in ready)
        if done:
            state.update((True, []))
        elif partials:
            state.update((False, [json.dumps(p) for p in partials]))
            _schedule(state, partials)
        else:
            state.remove()
        if out:
            yield _build_rows(key, out)

    def _build_rows(key, out: list[tuple[int, list]]) -> pd.DataFrame:
        built = []
        for _, cap in out:
            row = [key[0]]
            for j in range(n_flat):
                tj, pj_ = cap[j]
                if pj_ is None:  # unmatched OR-group member: all-null
                    row.append(None)
                    row.extend([None] * len(payload_cols))
                    continue
                row.append(pd.Timestamp(tj * 1000))
                for c in payload_cols:
                    v = pj_[c]
                    if c in ts_payload and v is not None:
                        v = pd.Timestamp(v)
                    row.append(v)
            built.append(tuple(row))
        return pd.DataFrame(built, columns=out_columns)

    group_cols = [key_col, "_salt"] if salted else [key_col]
    return tagged.groupBy(*group_cols).applyInPandasWithState(
        run, out_schema, state_schema, "append", GroupStateTimeout.EventTimeTimeout
    )
