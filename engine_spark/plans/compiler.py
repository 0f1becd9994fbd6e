"""Compile parsed EventFlux-SQL to DataFrame plans.

Maps each dialect construct onto the operator library:

| SQL construct                   | engine_spark operator                    |
|---------------------------------|------------------------------------------|
| WHERE / projection / exprs      | ``F.expr`` (Catalyst analyzer)           |
| WINDOW('length', n)             | operators.windows.length_sliding         |
| WINDOW('lengthBatch', n)        | operators.windows.length_batch           |
| WINDOW('time', d) / externalTime| operators.windows.time_sliding           |
| WINDOW('timeBatch', d)/TUMBLING | operators.windows.time_batch             |
| WINDOW SLIDING(size, slide)     | operators.windows.time_sliding_hop       |
| WINDOW SESSION(gap)/'session'   | operators.windows.session                |
| WINDOW('sort', n, attr, dir…)   | operators.windows.sort_window            |
| JOIN … ON                       | operators.joins (Catalyst strategy)      |
| PATTERN / SEQUENCE              | join + first-match rank per hop (below)  |
| PATTERN (A{m,n}) WITHIN d       | time_sliding; live: sliding_stream time  |
| PATTERN (A AND B) WITHIN d      | keyed range join (live: stream-stream)   |
| PARTITION WITH (k OF S)         | partition_by=k on every stateful op      |
| GROUP BY/HAVING/ORDER/LIMIT     | groupBy/filter/orderBy/limit/offset      |

Batch-mode semantics: the compiler produces the *final relation* a batch
replay of the stream would leave (sliding windows → per-event frames,
batch windows → per-batch rows), the same equivalence used throughout
``engine_spark.queries`` and verified against DuckDB oracles.

Timestamp/order: each registered stream names its event-time column
(``ts_col``). Streams with no timestamp get a monotonic ``_seq`` column at
registration — the batch stand-in for arrival order (reference events carry
an implicit wall-clock timestamp, event.rs:21).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine_spark.functions.timeutils import as_ts, epoch_seconds_d
from engine_spark.operators import joins as J
from engine_spark.operators import windows as W
from engine_spark.plans import parser as P

#: EventFlux SQL type → Spark SQL type (reference type_mapping.rs; OBJECT
#: intentionally unmapped — no Spark analog, per SURVEY §1)
TYPE_MAP = {
    "INT": "int", "INTEGER": "int",
    "BIGINT": "bigint", "LONG": "bigint",
    "FLOAT": "float", "REAL": "float",
    "DOUBLE": "double",
    "VARCHAR": "string", "STRING": "string", "TEXT": "string",
    "BOOL": "boolean", "BOOLEAN": "boolean",
    "TIMESTAMP": "timestamp",
    "BINARY": "binary", "BYTES": "binary",
}

#: aggregate-function names of the reference registry (eventflux_context.rs:
#: 440-483); used to classify select items. Name rewrites map dialect names
#: onto Spark SQL (population stddev, distinct count).
AGG_NAMES = (
    "sum", "avg", "count", "distinctcount", "min", "max", "minforever",
    "maxforever", "stddev", "first", "last",
)
_AGG_RE = re.compile(r"\b(" + "|".join(AGG_NAMES) + r")\s*\(", re.IGNORECASE)

_REWRITES = [
    (re.compile(r"\bdistinctCount\s*\(", re.IGNORECASE), "count(DISTINCT "),
    (re.compile(r"\bstddev\s*\(", re.IGNORECASE), "stddev_pop("),
    (re.compile(r"\bminForever\s*\(", re.IGNORECASE), "min("),
    (re.compile(r"\bmaxForever\s*\(", re.IGNORECASE), "max("),
]


def rewrite_expr(expr: str) -> str:
    for pat, repl in _REWRITES:
        expr = pat.sub(repl, expr)
    return expr


def is_aggregate(expr: str) -> bool:
    return bool(_AGG_RE.search(expr))


def _simple_agg_spec(text: str, alias: str) -> tuple[str, str | None, str]:
    """Parse ``fn(column)`` / ``count(*)`` into the keyed-state sliding
    window's (fn, col, alias) vocabulary; reject anything richer with a
    pointer at batch mode."""
    m = re.match(
        r"^\s*(count|sum|avg|min|max)\s*\(\s*(\*|[A-Za-z_][A-Za-z0-9_]*)\s*\)\s*$",
        text,
        re.IGNORECASE,
    )
    if not m:
        raise ValueError(
            f"aggregate {text!r} over a live-stream count/sliding window "
            "must be a simple fn(column) with fn in count/sum/avg/min/max "
            "(run richer expressions in batch mode)"
        )
    fn = m.group(1).lower()
    col = None if m.group(2) == "*" else m.group(2)
    return (fn, col, alias)


def extract_agg_calls(text: str) -> list[str]:
    """Full aggregate-call substrings (balanced parens) inside an expression,
    e.g. ``SUM(a) > 5 AND avg(b) < 2`` → ``['SUM(a)', 'avg(b)']``."""
    calls = []
    for m in _AGG_RE.finditer(text):
        depth, j = 1, m.end()
        while j < len(text) and depth:
            if text[j] == "(":
                depth += 1
            elif text[j] == ")":
                depth -= 1
            j += 1
        call = text[m.start() : j]
        if call not in calls:
            calls.append(call)
    return calls


def _compile_cross_predicate(
    expr: str, earlier_aliases: list[str], own_alias: str, own_cols: list[str]
):
    """Translate a SQL cross-reference conjunct (``e2.price > e1.price``)
    into a Python predicate ``fn(captured, row) -> bool`` for the streaming
    NFA: earlier-alias refs read the partial's captured payloads, the
    current element's refs (aliased or bare) read the arriving row.
    Supports comparisons, arithmetic, AND/OR/NOT — the cross-filter subset
    the batch compiler pushes into hop joins. Timestamp payloads are
    captured as ISO strings; cross-compare numerics/strings, not times."""
    py = expr
    py = re.sub(r"\bAND\b", " and ", py, flags=re.IGNORECASE)
    py = re.sub(r"\bOR\b", " or ", py, flags=re.IGNORECASE)
    py = re.sub(r"\bNOT\b", " not ", py, flags=re.IGNORECASE)
    py = py.replace("<>", "!=")
    py = re.sub(r"(?<![<>!=])=(?!=)", "==", py)
    py = re.sub(
        rf"\b{own_alias}\.([A-Za-z_][A-Za-z0-9_]*)", r'_r["\1"]', py
    )
    for a in earlier_aliases:
        py = re.sub(rf"\b{a}\.([A-Za-z_][A-Za-z0-9_]*)", rf'_c["{a}"]["\1"]', py)
    for c in sorted(own_cols, key=len, reverse=True):
        py = re.sub(rf'(?<![\w."]){c}(?![\w("])', rf'_r["{c}"]', py)
    return eval(  # noqa: S307 — compiler-constructed expression
        f"lambda _c, _r: bool({py})", {"__builtins__": {"bool": bool}}
    )


def _prev_key_col(columns: list[str], key: str) -> str:
    """First existing aliased column ``<alias>_<key>`` in a partial match."""
    for c in columns:
        if c.endswith(f"_{key}"):
            return c
    raise KeyError(f"partition key {key!r} not found among {columns}")


def _pair_within(a_ts: str, b_ts: str, within: float):
    """An AND pair's WITHIN bound |tA − tB| ≤ d, spelled as the event-time
    range ``tB BETWEEN tA − d AND tA + d``: the form a stream-stream join
    turns into watermark eviction of its state."""
    d = F.expr(f"make_dt_interval(0, 0, 0, {float(within)})")
    return as_ts(b_ts).between(as_ts(a_ts) - d, as_ts(a_ts) + d)


@dataclass
class _Stream:
    df: DataFrame
    ts_col: str | None  # None → synthetic _seq ordering column


class SqlApp:
    """An EventFlux application: DDL + queries compiled over registered
    streams (the programmatic-InputHandler entry point,
    reference eventflux_app_runtime.rs:306)."""

    def __init__(
        self,
        spark: SparkSession,
        allow_unbounded_groups: bool = False,
        nfa_salt: int | None = None,
        trigger_horizon: tuple | None = None,
        streaming_triggers: bool = False,
    ):
        self.spark = spark
        #: CREATE TRIGGER replay horizon for batch compiles: (start, end)
        #: timestamps the tick relation spans. Streaming compiles
        #: (streaming_triggers=True) use the rate source instead and
        #: ignore the horizon.
        self.trigger_horizon = trigger_horizon
        self.streaming_triggers = streaming_triggers
        self.streams: dict[str, _Stream] = {}
        self.schemas: dict[str, P.CreateStream] = {}
        self.outputs: dict[str, DataFrame] = {}
        #: CREATE AGGREGATION name → IncrementalAggregation cascade
        self.aggregations: dict[str, object] = {}
        #: an AND group with neither PARTITION key nor WITHIN compiles to an
        #: unbounded cross join (every A pairs with every B, state can never
        #: be evicted in streaming) — refused unless explicitly opted in
        self.allow_unbounded_groups = allow_unbounded_groups
        #: hot-key salting for live-stream PATTERN queries: nfa_salt=R
        #: splits each key into R sub-keys (streaming.nfa.chain_stream).
        #: Applied to EVERY-mode chains only: fire-once is per-key state
        #: that sub-keys cannot share, so those queries compile unsalted.
        self.nfa_salt = nfa_salt

    # ------------------------------------------------------------------
    def register_stream(
        self, name: str, df: DataFrame, ts_col: str | None = None
    ) -> None:
        if ts_col is None:
            # Synthetic arrival order. Cross-stream patterns need a global
            # arrival order the batch tables don't carry; registration order
            # is the batch stand-in (stream registered later = arrives later,
            # matching the reference tests' send sequences). Streams with a
            # real event-time column should pass ts_col instead.
            base = (len(self.streams) + 1) << 40
            df = df.withColumn(
                "_seq", F.monotonically_increasing_id() + F.lit(base)
            )
        self.streams[name] = _Stream(df=df, ts_col=ts_col)

    def table(self, name: str) -> DataFrame:
        if name in self.outputs:
            return self.outputs[name]
        if name in self.streams:
            return self.streams[name].df
        raise KeyError(f"unknown stream/table {name!r}")

    def aggregation_data(
        self, name: str, per: str, within: tuple | None = None
    ) -> DataFrame:
        """On-demand read of a CREATE AGGREGATION cascade at one granularity
        — runner.get_aggregation_data parity (reference
        eventflux_app_runtime.rs:982-993: name, within, per). Columns:
        group keys, bucket_start, cnt, sum_v, avg_v, min_v, max_v."""
        if name not in self.aggregations:
            raise KeyError(f"unknown aggregation {name!r}")
        return self.aggregations[name].query(per=per, within=within)

    # ------------------------------------------------------------------
    def sql(self, text: str) -> dict[str, DataFrame]:
        """Run an application; returns {output stream name: DataFrame}."""
        text = re.sub(r"--[^\n]*", "", text)  # strip comments BEFORE the
        text = re.sub(r"\s+", " ", text)  # newline collapse eats line ends
        for stmt in P.parse_app(text):
            if isinstance(stmt, P.CreateStream):
                for cname, typ in stmt.columns:
                    if re.sub(r"\(.*", "", typ).strip() not in TYPE_MAP:
                        raise ValueError(
                            f"unknown type {typ!r} for column {cname!r} in "
                            f"{stmt.name} (reference type_mapping.rs types: "
                            f"{sorted(set(TYPE_MAP))})"
                        )
                self.schemas[stmt.name] = stmt
                if stmt.options.get("type") == "source":
                    # auto-attach the WITH(...)-declared source (reference
                    # eventflux_app_runtime.rs:995-1007); on.error='fault'
                    # additionally registers <Name>_fault (reference
                    # stream_junction.rs:31-66 fault_stream_junction)
                    from engine_spark.sources.registry import (
                        create_source_with_faults,
                    )

                    opts = dict(stmt.options)
                    opts.setdefault("name", stmt.name)
                    opts.setdefault(
                        "event.schema",
                        ", ".join(
                            f"{n} {TYPE_MAP[re.sub(r'[(].*', '', t).strip()]}"
                            for n, t in stmt.columns
                        ),
                    )
                    sdf, faults = create_source_with_faults(self.spark, opts)
                    self.streams[stmt.name] = _Stream(
                        df=sdf, ts_col=opts.get("timestamp.column")
                    )
                    if faults is not None:
                        self.streams[f"{stmt.name}_fault"] = _Stream(
                            df=faults, ts_col=None
                        )
            elif isinstance(stmt, P.TableDml):
                self._run_table_dml(stmt)
            elif isinstance(stmt, P.CreateTrigger):
                self.streams[stmt.name] = _Stream(
                    df=self._trigger_df(stmt), ts_col="triggered_time"
                )
            elif isinstance(stmt, P.CreateAggregation):
                # the reference never got this past its grammar (every
                # aggregation test is #[ignore]d, app_runner_aggregations.rs);
                # here the DDL compiles straight onto the incremental cascade
                if stmt.source not in self.streams:
                    raise ValueError(
                        f"CREATE AGGREGATION {stmt.name}: unknown source "
                        f"stream {stmt.source!r} (register it first)"
                    )
                s = self.streams[stmt.source]
                if s.ts_col is None:
                    raise ValueError(
                        f"CREATE AGGREGATION {stmt.name}: source stream "
                        f"{stmt.source!r} has no event-time column — "
                        "register_stream(..., ts_col=...) is required"
                    )
                from engine_spark.tables import IncrementalAggregation

                self.aggregations[stmt.name] = IncrementalAggregation(
                    s.df,
                    s.ts_col,
                    stmt.group_by,
                    stmt.value_col,
                    granularities=stmt.granularities,
                )
            elif isinstance(stmt, P.Partition):
                # RANGE partitions (reference range_partition_type.rs /
                # partition_type.rs:7-21 Range variant): derive a `_range`
                # bucket-label column scoped to this BEGIN…END block — one
                # map-only explode over the labels whose condition the
                # event matches (multi-match → processed in every matching
                # range; no match → dropped), then the queries key on it
                # like any value partition.
                saved: dict[str, _Stream] = {}
                for name, spec in stmt.keys.items():
                    if isinstance(spec, list) and name in self.streams:
                        s = self.streams[name]
                        saved[name] = s
                        arms = ", ".join(
                            f"CASE WHEN {rewrite_expr(cond)} THEN '{lbl}' END"
                            for lbl, cond in spec
                        )
                        ddf = s.df.withColumn(
                            "_range",
                            F.explode(
                                F.expr(
                                    f"filter(array({arms}), x -> x IS NOT NULL)"
                                )
                            ),
                        )
                        self.streams[name] = _Stream(df=ddf, ts_col=s.ts_col)
                try:
                    for q in stmt.queries:
                        self._run_query(q)
                finally:
                    self.streams.update(saved)
            elif isinstance(stmt, P.Query):
                self._run_query(stmt)
        return dict(self.outputs)

    # ------------------------------------------------------------------
    def _equi_pairs(
        self, cond: str, table: str, source: str
    ) -> list[tuple[str, str]] | None:
        """A conjunction of ``Table.a = Source.b`` equalities →
        [(table_col, source_col)]; None when the condition has any other
        shape (the caller decides whether that is an error)."""
        pairs: list[tuple[str, str]] = []
        for part in P.split_keyword(cond, "AND"):
            m = re.match(r"(\w+)\.(\w+)\s*=\s*(\w+)\.(\w+)\s*$", part.strip())
            if not m:
                return None
            q1, c1, q2, c2 = m.groups()
            if q1 == table and q2 == source:
                pairs.append((c1, c2))
            elif q1 == source and q2 == table:
                pairs.append((c2, c1))
            else:
                return None
        return pairs or None

    @staticmethod
    def _keep_newest(df: DataFrame, keys: list, ord_col: str | None) -> DataFrame:
        """One row per key, the newest by ``ord_col`` winning (row_number
        over a descending sort — the same idiom unique_window uses). With
        no order column, micro-batch row order stands in via
        monotonically_increasing_id."""
        from pyspark.sql import Window as W

        if ord_col is None:
            df = df.withColumn("_kn_ord", F.monotonically_increasing_id())
            ord_col = "_kn_ord"
        w = W.partitionBy(*[F.col(k) for k in keys]).orderBy(F.col(ord_col).desc())
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "_kn_ord")
        )

    def _stream_order_col(self, name: str, df: DataFrame) -> str | None:
        s = self.streams[name]
        return s.ts_col if s.ts_col else ("_seq" if "_seq" in df.columns else None)

    def _last_per_key(self, name: str, df: DataFrame, keys: list) -> DataFrame:
        """Stream events collapse to the LAST event per match key — the
        reference junction applies table DML event-at-a-time in arrival
        order, so on a batch replay the final table state reflects each
        key's newest event. Order = the stream's event-time column, else
        the _seq arrival column register_stream stamps."""
        return self._keep_newest(df, keys, self._stream_order_col(name, df))

    def _run_table_dml(self, d: P.TableDml) -> None:
        """Stream-driven table DML, batch-replay semantics: the table's
        new contents are what the reference's event-at-a-time processors
        (update/delete/update_or_insert_table_processor.rs) would leave
        after consuming the source stream. UPDATE and UPSERT require an
        equi-match condition (that is the processors' key-lookup shape);
        DELETE takes any condition (a left_anti join)."""
        ddl = self.schemas.get(d.table)
        if ddl is None or not ddl.is_table:
            raise ValueError(
                f"{d.kind}: {d.table!r} is not a CREATE TABLE relation"
            )
        if d.source not in self.streams:
            raise ValueError(f"{d.kind}: unknown source stream {d.source!r}")
        tcols = [c for c, _ in ddl.columns]
        if d.table in self.outputs or d.table in self.streams:
            tdf = self.table(d.table).select(*tcols)
        else:
            # declared but never inserted: DML against an EMPTY table (the
            # reference's initial-load upsert starts exactly here)
            tdf = self.spark.createDataFrame(
                [],
                ", ".join(
                    f"{c} {TYPE_MAP[re.sub(r'[(].*', '', t).strip()]}"
                    for c, t in ddl.columns
                ),
            )
        sdf = self.streams[d.source].df
        cond = F.expr(rewrite_expr(d.cond))
        if d.kind == "delete":
            new = (
                tdf.alias(d.table)
                .join(sdf.alias(d.source), cond, "left_anti")
                .select(*tcols)
            )
        elif d.kind == "update":
            pairs = self._equi_pairs(d.cond, d.table, d.source)
            if pairs is None:
                raise ValueError(
                    f"UPDATE {d.table}: WHERE must be a conjunction of "
                    f"{d.table}.col = {d.source}.col equalities (the "
                    "reference's key-lookup update shape)"
                )
            set_map = {c: rewrite_expr(e) for c, e in d.set_items}
            unknown = set(set_map) - set(tcols)
            if unknown:
                raise ValueError(f"UPDATE {d.table}: unknown SET columns {sorted(unknown)}")
            u = self._last_per_key(d.source, sdf, [s for _, s in pairs])
            u = u.withColumn("_m", F.lit(True))
            joined = tdf.alias(d.table).join(u.alias(d.source), cond, "left")
            new = joined.select(
                *[
                    F.when(F.col(f"{d.source}._m"), F.expr(set_map[c]))
                    .otherwise(F.col(f"{d.table}.{c}"))
                    .alias(c)
                    if c in set_map
                    else F.col(f"{d.table}.{c}").alias(c)
                    for c in tcols
                ]
            )
        else:  # upsert
            pairs = self._equi_pairs(d.cond, d.table, d.source)
            if pairs is None:
                raise ValueError(
                    f"UPDATE OR INSERT INTO {d.table}: ON must be a "
                    f"conjunction of {d.table}.col = {d.source}.col "
                    "equalities"
                )
            if len(d.select_items) != len(tcols):
                raise ValueError(
                    f"UPDATE OR INSERT INTO {d.table}: {len(d.select_items)} "
                    f"select items for {len(tcols)}-column table"
                )
            # newest stream event per ON-key wins (shared keep-newest
            # idiom, with the no-order fallback the UPDATE path gets)
            u = self._last_per_key(d.source, sdf, [sc for _, sc in pairs])
            repl = u.alias(d.source).select(
                *[
                    F.expr(rewrite_expr(it.expr))
                    .cast(TYPE_MAP[re.sub(r"\(.*", "", typ).strip()])
                    .alias(c)
                    for it, (c, typ) in zip(d.select_items, ddl.columns)
                ]
            )
            # rows matching per the ON condition are REPLACED: anti-join
            # the table against the deduped stream on the condition itself
            # (keying on the SELECT output would break non-identity key
            # projections)
            keep = (
                tdf.alias(d.table)
                .join(u.alias(d.source), cond, "left_anti")
                .select(*tcols)
            )
            new = keep.unionByName(repl)
        self.outputs[d.table] = new
        self.register_stream(d.table, new)

    # ------------------------------------------------------------------
    def _trigger_df(self, t: P.CreateTrigger) -> DataFrame:
        """CREATE TRIGGER → a (triggered_time, counter) stream.

        Streaming (streaming_triggers=True): the rate source — AT START
        emits one row at query start, AT EVERY n ticks on the interval,
        AT CRON ticks on the cron's period (wall-clock grid alignment is
        best-effort: the rate source starts at query start, matching the
        reference's scheduler-relative behavior, trigger_runtime.rs).
        Batch: an explicit tick relation over ``trigger_horizon`` — the
        events the trigger WOULD have emitted in that span, which is what
        a historical replay of a trigger-driven app needs.
        """
        from engine_spark.operators.triggers import (
            trigger_batch,
            trigger_batch_cron,
            trigger_once_stream,
            trigger_stream,
        )

        if self.streaming_triggers:
            if t.timing == "start":
                return trigger_once_stream(self.spark)
            if t.timing == "every":
                return trigger_stream(self.spark, t.interval_ms)
            from engine_spark.operators.triggers import cron_to_period

            period, _ = cron_to_period(t.cron)
            return trigger_stream(self.spark, period * 1000)
        if self.trigger_horizon is None:
            raise ValueError(
                f"CREATE TRIGGER {t.name}: batch compile needs "
                "SqlApp(trigger_horizon=(start, end)) to bound the tick "
                "relation (or streaming_triggers=True for a live timer)"
            )
        start, end = self.trigger_horizon
        if t.timing == "start":
            return trigger_batch(self.spark, start, start, 1)
        if t.timing == "every":
            return trigger_batch(self.spark, start, end, t.interval_ms / 1000)
        return trigger_batch_cron(self.spark, start, end, t.cron)

    # ------------------------------------------------------------------
    _CONTAINS_IN = re.compile(
        r"^\(?\s*([A-Za-z_][A-Za-z0-9_.]*)\s+CONTAINS\s+IN\s+"
        r"([A-Za-z_][A-Za-z0-9_]*)\s*\)?$",
        re.IGNORECASE,
    )

    def _apply_contains_in(self, q: P.Query) -> None:
        """``X CONTAINS IN Table`` (reference ContainsInTableTestCase
        shape, tables.rs:419-431 — defined but #[ignore]d upstream):
        membership of a stream value in a table column (the probe's base
        name). Compiles to a broadcast left join against the table's
        distinct keys — never a collected literal list, so a large table
        stays distributed. Supported as a whole select item or the whole
        WHERE clause on a plain stream source."""
        import dataclasses

        if not isinstance(q.source, P.StreamRef):
            return
        sel_hits = [
            (i, m)
            for i, it in enumerate(q.select)
            if (m := self._CONTAINS_IN.match(it.expr.strip()))
        ]
        where_hit = (
            self._CONTAINS_IN.match(q.where.strip()) if q.where else None
        )
        if not sel_hits and not where_hit:
            return
        s = self.streams.get(q.source.name)
        if s is None:
            raise KeyError(f"stream {q.source.name!r} not registered")
        df = s.df
        hits = sel_hits + ([(-1, where_hit)] if where_hit else [])
        for i, m in hits:
            probe, tname = m.groups()
            base = probe.split(".")[-1]
            tdf = self.table(tname)
            if base not in tdf.columns:
                raise ValueError(
                    f"CONTAINS IN {tname}: no column {base!r} in the table"
                )
            tag = f"_cin_{i if i >= 0 else 'w'}"
            keys = (
                tdf.select(F.col(base).alias(f"{tag}_k"))
                .distinct()
                .withColumn(f"{tag}_p", F.lit(True))
            )
            df = df.join(
                F.broadcast(keys),
                F.col(base) == F.col(f"{tag}_k"),
                "left",
            ).drop(f"{tag}_k")
            flag = f"coalesce({tag}_p, false)"
            if i >= 0:
                q.select[i] = P.SelectItem(
                    expr=flag, alias=q.select[i].alias
                )
            else:
                q.where = flag
        # expand a bare `*` to the SOURCE's own user-visible columns so
        # the internal _cin_* flag columns (and the _seq arrival column)
        # never leak into SELECT * outputs
        expanded: list[P.SelectItem] = []
        for it in q.select:
            if it.expr.strip() == "*":
                expanded.extend(
                    P.SelectItem(expr=c, alias=None)
                    for c in s.df.columns
                    if not c.startswith("_")
                )
            else:
                expanded.append(it)
        q.select = expanded
        tmp = f"_cin_src_{abs(id(q)) % 10**9}"
        self.streams[tmp] = _Stream(df=df, ts_col=s.ts_col)
        q.source = dataclasses.replace(q.source, name=tmp)

    def _run_query(self, q: P.Query) -> DataFrame:
        self._apply_contains_in(q)
        df = self._compile(q)
        if q.insert_into:
            ddl = self.schemas.get(q.insert_into)
            if ddl is not None and not ddl.is_table:
                # align to declared schema positionally (reference
                # application.rs:129-154 validates arity at compile time)
                if len(df.columns) != len(ddl.columns):
                    raise ValueError(
                        f"INSERT INTO {q.insert_into}: {len(df.columns)} "
                        f"columns for {len(ddl.columns)}-column stream"
                    )
                df = df.select(
                    *[
                        F.col(src).cast(TYPE_MAP[re.sub(r"\(.*", "", typ)]).alias(dst)
                        for src, (dst, typ) in zip(df.columns, ddl.columns)
                    ]
                )
            if ddl is not None and ddl.is_table and ddl.primary_key:
                # PRIMARY KEY table: inserts stay key-unique, newest event
                # winning (reference DefineTableTestCase, tables.rs:229-255
                # — "Table should have only one IBM entry")
                missing = [c for c in ddl.primary_key if c not in df.columns]
                if missing:
                    raise ValueError(
                        f"INSERT INTO {q.insert_into}: primary key columns "
                        f"{missing} absent from the inserted relation"
                    )
                df = self._keep_newest(
                    df, ddl.primary_key,
                    "_seq" if "_seq" in df.columns else None,
                )
            self.outputs[q.insert_into] = df
            # outputs are streams: later queries may read them. Register
            # through register_stream so derived streams get the _seq
            # arrival column count-based windows need downstream.
            self.register_stream(q.insert_into, df)
        return df

    # ------------------------------------------------------------------
    def _compile(self, q: P.Query) -> DataFrame:
        src = q.source
        having_pre_projection = False
        if isinstance(src, P.PatternSource):
            quantified = [
                st
                for st in src.steps
                if getattr(st, "min_count", None) is not None
            ]
            if quantified and len(src.steps) != 1:
                # mid-chain quantifiers ride the normal chain compile: the
                # hop advances on the step's m-th qualifying event. A
                # quantified FIRST step would need a self-hop anchor —
                # restructure as the single-step form instead.
                first_st = src.steps[0]
                if getattr(first_st, "min_count", None) is not None:
                    raise ValueError(
                        "a count quantifier on the FIRST step of a chain "
                        "is not supported — anchor the chain on a "
                        "single-step quantifier query feeding a stream, or "
                        "put the quantified element later in the chain"
                    )
                if src.mode == "sequence":
                    raise ValueError(
                        "count quantifiers in SEQUENCE mode are not "
                        "supported (strict adjacency over a counted set is "
                        "ill-defined)"
                    )
                quantified = []  # handled by the chain paths below
            if quantified:
                df, order_col = self._compile_count_pattern(src, q), None
                # HAVING agg calls were rewritten to hidden _collaggN
                # columns that the final projection drops — the filter must
                # run while they still exist (i.e. before the projection)
                having_pre_projection = True
            elif self._pattern_streams_live(src):
                df, order_col = (
                    self._compile_pattern_streaming(src, q.partition_key),
                    None,
                )
            else:
                df, order_col = self._compile_pattern(src, q.partition_key), None
            if q.partition_key:
                df = self._with_key_spellings(df, src, q.partition_key)
            # qualify pattern references in scalar expressions
            for name, alias in self.pattern_column_rewrites(src):
                pat = re.compile(rf"\b{name}\.([A-Za-z_][A-Za-z0-9_]*)")
                repl = rf"{alias}_\1"
                for it in q.select:
                    it.expr = pat.sub(repl, it.expr)
                if q.where:
                    q.where = pat.sub(repl, q.where)
                if q.having:
                    q.having = pat.sub(repl, q.having)
        elif isinstance(src, P.JoinSource):
            df, order_col = self._compile_join(src), None
        elif isinstance(src, P.AggregationRef):
            df, order_col = (
                self.aggregation_data(src.name, per=src.per, within=src.within),
                "bucket_start",
            )
        else:
            df, order_col = self._input(src)

        if q.where:
            df = df.filter(F.expr(rewrite_expr(q.where)))

        if q.having and having_pre_projection:
            df = df.filter(F.expr(rewrite_expr(q.having)))
            q.having = None

        window = src.window if isinstance(src, P.StreamRef) else None
        agg_items = [s for s in q.select if is_aggregate(s.expr)]
        if window is not None or agg_items:
            df = self._apply_window_and_aggs(q, df, window, order_col)
        else:
            df = df.select(*self._projection(q.select))

        if q.having:
            df = df.filter(F.expr(rewrite_expr(q.having)))
        if q.order_by:
            df = df.orderBy(
                *[F.expr(e).desc() if d else F.expr(e).asc() for e, d in q.order_by]
            )
        if q.offset:
            df = df.offset(q.offset)
        if q.limit is not None:
            df = df.limit(q.limit)
        return df

    # ------------------------------------------------------------------
    def _input(self, ref: P.StreamRef) -> tuple[DataFrame, str]:
        s = self.streams.get(ref.name)
        if s is None:
            if ref.name in self.outputs:
                return self.outputs[ref.name], "_seq"
            raise KeyError(f"stream {ref.name!r} not registered")
        order_col = s.ts_col or "_seq"
        df = s.df
        if ref.alias:
            df = df.alias(ref.alias)
        return df, order_col

    def _projection(self, items: list[P.SelectItem]) -> list:
        cols = []
        for it in items:
            if it.expr == "*":
                cols.append(F.col("*"))
            else:
                c = F.expr(rewrite_expr(it.expr))
                cols.append(c.alias(it.alias) if it.alias else c)
        return cols

    # ------------------------------------------------------------------
    def _apply_window_and_aggs(
        self,
        q: P.Query,
        df: DataFrame,
        window: P.WindowSpec | None,
        order_col: str | None,
    ) -> DataFrame:
        group_keys = [g.strip() for g in q.group_by]
        partition_by = list(group_keys)
        if q.partition_key and q.partition_key not in partition_by:
            partition_by.insert(0, q.partition_key)
        agg_aliases: dict[str, F.Column] = {}
        plain_items: list[P.SelectItem] = []
        agg_exprs: list = []
        for i, it in enumerate(q.select):
            if is_aggregate(it.expr):
                name = it.alias or f"_agg{i}"
                col = F.expr(rewrite_expr(it.expr))
                agg_aliases[name] = col
                agg_exprs.append(col.alias(name))
            else:
                plain_items.append(it)

        # HAVING references pre-projection aggregates (reference
        # select_processor.rs evaluates it on the selector's state): compute
        # each aggregate call as a hidden column, filter on it post-agg, drop
        # at final projection.
        having_filter: str | None = None
        having_calls: list[tuple[str, str]] = []  # (hidden name, raw call text)
        if q.having:
            htext = q.having
            for i, call in enumerate(extract_agg_calls(htext)):
                hname = f"_hv{i}"
                col = F.expr(rewrite_expr(call))
                agg_aliases[hname] = col
                agg_exprs.append(col.alias(hname))
                having_calls.append((hname, call))
                htext = htext.replace(call, hname)
            having_filter = htext
            q.having = None  # fully handled here

        ts = order_col or "_seq"
        kind = window.kind if window else None
        params = window.params if window else []

        def dur(p: str) -> float:
            return P.parse_duration_seconds(p)

        def interval(p: str) -> str:
            secs = dur(p)
            ms = int(round(secs * 1000))
            return f"{ms} milliseconds"

        allow_global = not partition_by  # reference = single-process global order

        def fin(out: DataFrame) -> DataFrame:
            if having_filter:
                out = out.filter(F.expr(having_filter))
            return out.select(*self._final_projection(q, agg_aliases))

        if df.isStreaming and kind is not None:
            # live source: time-based windows compile to the streaming
            # builders (watermark-driven, append mode); count-based windows
            # need the keyed-state ops (streaming/nfa.py) — explicit API,
            # not inferable from SQL alone
            from engine_spark.streaming import windows as SWIN

            if kind in ("timebatch", "tumbling", "externaltimebatch"):
                if kind == "externaltimebatch":
                    ts = params[0].strip()
                    params = params[1:]
                out = SWIN.tumbling(df, ts, interval(params[0]), group_keys, agg_exprs)
                return fin(out)
            if kind == "sliding":
                out = SWIN.hopping(
                    df, ts, interval(params[0]), interval(params[1]), group_keys, agg_exprs
                )
                return fin(out)
            if kind == "session":
                out = SWIN.session(df, ts, interval(params[0]), group_keys, agg_exprs)
                return fin(out)
            if kind in ("length", "lengthbatch", "time", "externaltime"):
                # keyed-state per-event windows: arrival count / per-event
                # emission aren't Catalyst concepts — route to the
                # applyInPandasWithState op with a simple-agg vocabulary
                if len(partition_by) != 1:
                    raise ValueError(
                        f"window {kind!r} over a live stream needs exactly "
                        "one key (PARTITION WITH or a single GROUP BY) — "
                        "the frame buffer is per-key state"
                    )
                specs = []
                for i, it in enumerate(q.select):
                    if is_aggregate(it.expr):
                        specs.append(
                            _simple_agg_spec(it.expr, it.alias or f"_agg{i}")
                        )
                for hname, call in having_calls:
                    specs.append(_simple_agg_spec(call, hname))
                if kind == "externaltime":
                    ts = params[0].strip()
                    params = params[1:]
                size = (
                    int(params[0])
                    if kind in ("length", "lengthbatch")
                    else int(dur(params[0]))
                )
                out = SWIN.sliding_stream(
                    df,
                    ts,
                    partition_by[0],
                    specs,
                    mode="lengthbatch" if kind == "lengthbatch" else (
                        "length" if kind == "length" else "time"
                    ),
                    size=size,
                )
                return fin(out)
            if kind == "sort":
                # bounded priority buffer: arriving events emit
                # action='current', expelled events action='expired' (the
                # reference's current/expired pair stream — append mode
                # cannot retract, so expiry is an event)
                if agg_exprs:
                    raise ValueError(
                        "aggregates over a live-stream sort window are not "
                        "supported — the buffer retracts; consume the "
                        "current/expired event stream, or run in batch mode"
                    )
                if len(partition_by) != 1:
                    raise ValueError(
                        "sort window over a live stream needs exactly one "
                        "key (PARTITION WITH or a single GROUP BY)"
                    )
                nkeep = int(params[0])
                specs: list[tuple[str, bool]] = []
                i = 1
                while i < len(params):
                    colname = params[i].strip()
                    nxt_p = (
                        params[i + 1].strip().strip("'").lower()
                        if i + 1 < len(params)
                        else ""
                    )
                    if nxt_p in ("asc", "desc"):
                        specs.append((colname, nxt_p == "desc"))
                        i += 2
                    else:
                        specs.append((colname, False))
                        i += 1
                out = SWIN.sort_stream(df, ts, partition_by[0], nkeep, specs)
                return fin(out)
            raise ValueError(
                f"window kind {kind!r} on a live stream needs the keyed-state "
                "operators (engine_spark.streaming.nfa) — count-based windows "
                "aren't expressible as a streaming groupBy"
            )

        if kind is None:
            # plain GROUP BY aggregation (no window clause)
            out = df.groupBy(*[F.expr(g) for g in group_keys]).agg(*agg_exprs) \
                if group_keys else df.agg(*agg_exprs)
            return fin(out)

        if kind in ("length", "time", "externaltime"):
            if kind == "length":
                out = W.length_sliding(
                    df, ts, int(params[0]), partition_by or None,
                    aggs=agg_aliases, allow_global=allow_global,
                )
            else:
                if kind == "externaltime":
                    ts = params[0].strip()
                    params = params[1:]
                out = W.time_sliding(
                    df, ts, int(dur(params[0])), partition_by or None,
                    aggs=agg_aliases, allow_global=allow_global,
                )
            return fin(out)

        if kind in ("lengthbatch",):
            out = W.length_batch(
                df, ts, int(params[0]), partition_by or None,
                group_cols=(), aggs=agg_exprs, allow_global=allow_global,
            )
            return fin(out)

        if kind in ("timebatch", "tumbling", "externaltimebatch"):
            if kind == "externaltimebatch":
                ts = params[0].strip()
                params = params[1:]
            out = W.time_batch(df, ts, interval(params[0]), group_keys, agg_exprs)
            return fin(out)

        if kind == "sliding":
            out = W.time_sliding_hop(
                df, ts, interval(params[0]), interval(params[1]), group_keys, agg_exprs
            )
            return fin(out)

        if kind == "session":
            out = W.session(df, ts, interval(params[0]), group_keys, agg_exprs)
            return fin(out)

        if kind == "sort":
            n = int(params[0])
            order_cols: list = []
            i = 1
            while i < len(params):
                colname = params[i].strip()
                desc = i + 1 < len(params) and params[i + 1].strip().strip("'").lower() == "desc"
                if i + 1 < len(params) and params[i + 1].strip().strip("'").lower() in ("asc", "desc"):
                    i += 2
                else:
                    i += 1
                order_cols.append(F.col(colname).desc() if desc else F.col(colname).asc())
            out = W.sort_window(df, n, order_cols, partition_by or None,
                                allow_global=allow_global)
            if agg_exprs:
                out = out.groupBy(*[F.expr(g) for g in group_keys]).agg(*agg_exprs) \
                    if group_keys else out.agg(*agg_exprs)
            return fin(out)

        # the retained-set windows partition by the PARTITION WITH key
        # only: a GROUP BY key is an aggregation dimension applied AFTER
        # the window's retention decision, not a window partition (folding
        # it in would e.g. make every value top-ranked for 'frequent')
        part_only = [q.partition_key] if q.partition_key else None
        if kind in ("unique", "firstunique"):
            keys = [p.strip() for p in params]
            if not keys:
                raise ValueError(f"window {kind!r} needs at least one key attribute")
            out = W.unique_window(
                df, keys, ts, part_only,
                keep_first=kind == "firstunique",
            )
            if agg_exprs:
                out = (
                    out.groupBy(*[F.expr(g) for g in group_keys]).agg(*agg_exprs)
                    if group_keys else out.agg(*agg_exprs)
                )
            return fin(out)
        if kind == "delay":
            out = W.delay_window(df, ts, dur(params[0]))
            if agg_exprs:
                out = (
                    out.groupBy(*[F.expr(g) for g in group_keys]).agg(*agg_exprs)
                    if group_keys else out.agg(*agg_exprs)
                )
            return fin(out)
        if kind in ("frequent", "lossycounting"):
            if len(params) < 2:
                raise ValueError(
                    f"window {kind!r} needs (threshold, attribute) parameters"
                )
            item = params[1].strip()
            out = (
                W.frequent_window(df, item, int(params[0]), part_only)
                if kind == "frequent"
                else W.lossy_counting_window(
                    df, item, float(params[0]), part_only
                )
            )
            if agg_exprs:
                out = (
                    out.groupBy(*[F.expr(g) for g in group_keys]).agg(*agg_exprs)
                    if group_keys else out.agg(*agg_exprs)
                )
            return fin(out)

        from engine_spark.extensions import WINDOW_FACTORIES

        if kind in WINDOW_FACTORIES:
            out = WINDOW_FACTORIES[kind](
                df, ts, params, partition_by or None, agg_aliases, allow_global
            )
            return fin(out)

        raise ValueError(f"unsupported window kind {kind!r}")

    def _final_projection(self, q: P.Query, agg_aliases, batch: bool = False):
        cols = []
        for i, it in enumerate(q.select):
            if is_aggregate(it.expr):
                cols.append(F.col(it.alias or f"_agg{i}"))
            elif it.expr == "*":
                cols.append(F.col("*"))
            else:
                c = F.expr(rewrite_expr(it.expr))
                cols.append(c.alias(it.alias) if it.alias else c)
        return cols

    # ------------------------------------------------------------------
    def _compile_count_pattern(self, src: P.PatternSource, q: P.Query) -> DataFrame:
        """`PATTERN (e1=S[f]{m,n}) WITHIN d` on both paths (reference
        PatternExpression::Count, converter.rs:1608-1645 +
        count_pre_state_processor.rs; collection aggregators
        collection_aggregation_executor.rs:1-30).

        The match set is the trailing-d frame of qualifying events per key,
        i.e. ``WINDOW('time', d)``: batch runs it as the range frame of
        ``operators.windows.time_sliding``, a live stream as the keyed frame
        buffer of ``streaming.windows.sliding_stream(mode='time')``. A row
        fires when its frame count ``match_count`` lands in [m, n].
        Aggregate calls over the element alias in SELECT / HAVING
        (``sum(e1.price)``…) become hidden ``_collaggN`` columns over the
        SAME frame, so they aggregate the matched set, not the output rows;
        they are computed before the bounds filter (the filter selects which
        events fire, not what they see)."""
        el = src.steps[0]
        if src.within_seconds is None:
            raise ValueError(
                "count quantifier needs WITHIN — it bounds the match set "
                "(and the state horizon in streaming)"
            )
        within = int(src.within_seconds)
        key = q.partition_key
        live = self._pattern_streams_live(src)
        if live and not key:
            raise ValueError(
                "count quantifier over a live stream needs PARTITION WITH "
                "(the trailing-count state is per key)"
            )
        if live and self.streams[el.stream].ts_col is None:
            raise ValueError(
                "live-stream count quantifier needs the stream registered "
                "with ts_col (event time drives the trailing window)"
            )
        base, order_col = self._input(P.StreamRef(name=el.stream))
        if el.filter:
            base = base.filter(F.expr(rewrite_expr(el.filter)))
        renamed = base.select(
            *[F.col(c).alias(f"{el.alias}_{c}") for c in base.columns]
        )
        ts_col = f"{el.alias}_{order_col}"
        key_col = f"{el.alias}_{key}" if key else None

        calls: list[tuple[str, str]] = []  # (hidden name, call text)

        def hide(text: str) -> str:
            for call in extract_agg_calls(text):
                name = f"_collagg{len(calls)}"
                calls.append((name, call))
                text = text.replace(call, name)
            return text

        for it in q.select:
            it.expr = hide(it.expr)
        if q.having:
            q.having = hide(q.having)

        if live:
            from engine_spark.streaming import windows as SWIN

            specs = [("count", None, "match_count")]
            for name, call in calls:
                fn, col, _ = _simple_agg_spec(
                    re.sub(rf"\b{el.alias}\.", "", call), name
                )
                specs.append((fn, f"{el.alias}_{col}" if col else None, name))
            out = SWIN.sliding_stream(
                renamed, ts_col, key_col, specs, mode="time", size=within
            )
        else:
            aggs = {"match_count": F.count(F.lit(1))}
            for name, call in calls:
                qualified = re.sub(rf"\b{el.alias}\.", f"{el.alias}_", call)
                aggs[name] = F.expr(rewrite_expr(qualified))
            out = W.time_sliding(
                renamed,
                ts_col,
                within,
                [key_col] if key_col else None,
                aggs=aggs,
                allow_global=key_col is None,
            )

        cond = F.col("match_count") >= el.min_count
        if el.max_count is not None:
            cond = cond & (F.col("match_count") <= el.max_count)
        return out.filter(cond)

    # ------------------------------------------------------------------
    def _compile_group_streaming(
        self, src: P.PatternSource, partition_key: str | None
    ) -> DataFrame:
        """Single AND/OR group over a LIVE stream: ``_compile_pattern``'s
        relational first-step group, run on the streaming DataFrame.

        OR is stateless (disjunctive filter + null-padded union). AND is the
        keyed pair join bounded by WITHIN as an event-time range, which
        Spark runs as a stream-stream join (StreamingSymmetricHashJoin)
        whose state the watermark evicts. The element stream gets the same
        zero-lateness watermark every live kernel uses; its cast of an NTZ
        event time to TIMESTAMP is undone on the output."""
        from engine_spark.streaming.eventtime import watermarked

        g = src.steps[0]
        if not src.every:
            raise ValueError(
                "a group over a live stream needs EVERY — fire-once keeps "
                "only the globally earliest match, which a stream cannot "
                "rank"
            )
        if g.op == "or":
            return self._compile_pattern(src, partition_key)
        if src.within_seconds is None:
            raise ValueError(
                "AND group over a live stream requires WITHIN — it is the "
                "pair-buffer eviction horizon"
            )
        if not partition_key:
            raise ValueError(
                "AND group over a live stream needs PARTITION WITH (the "
                "pair buffers are per-key state)"
            )
        if g.first.stream != g.second.stream:
            raise ValueError(
                "AND group over live streams: both elements must read the "
                "same stream (union differing streams into one first)"
            )
        for el, other in ((g.first, g.second), (g.second, g.first)):
            if el.filter and re.search(rf"\b{other.alias}\.", el.filter):
                raise ValueError(
                    "cross-references between AND-group elements are not "
                    "supported over live streams"
                )
        stream = self.streams[g.first.stream]
        ts_col = stream.ts_col
        if ts_col is None:
            raise ValueError(
                "live-stream AND group needs the stream registered with "
                "ts_col"
            )
        self.streams[g.first.stream] = _Stream(
            df=watermarked(stream.df, ts_col, "0 seconds"), ts_col=ts_col
        )
        try:
            out = self._compile_pattern(src, partition_key)
        finally:
            self.streams[g.first.stream] = stream
        ts_type = stream.df.schema[ts_col].dataType
        return out.withColumns(
            {
                c: F.col(c).cast(ts_type)
                for c in (
                    f"{g.first.alias}_{ts_col}",
                    f"{g.second.alias}_{ts_col}",
                    "_match_ts",
                )
            }
        )

    # ------------------------------------------------------------------
    def _pattern_element_streams(self, src: P.PatternSource) -> list[str]:
        names: list[str] = []
        for st in src.steps:
            els = [st.first, st.second, *st.rest] if isinstance(st, P.PatternGroup) else [st]
            for el in els:
                if el.stream not in names:
                    names.append(el.stream)
        return names

    def _pattern_streams_live(self, src: P.PatternSource) -> bool:
        return any(
            self.streams[nm].df.isStreaming
            for nm in self._pattern_element_streams(src)
            if nm in self.streams
        )

    def _compile_pattern_streaming(
        self, src: P.PatternSource, partition_key: str | None
    ) -> DataFrame:
        """PATTERN over live streams → the per-key streaming NFA
        (engine_spark.streaming.nfa.chain_stream): predicates are tagged
        JVM-side, the chain advances event-at-a-time in keyed state, and
        WITHIN is the state-eviction horizon. Output columns are the same
        ``{alias}_{col}`` names the relational path produces, so SELECT
        rewriting is shared."""
        from engine_spark.streaming import nfa as NFA

        if src.mode == "sequence":
            raise ValueError(
                "SEQUENCE over a live stream is not supported (strict "
                "adjacency requires buffering every event; use PATTERN)"
            )
        if src.within_seconds is None:
            raise ValueError(
                "PATTERN over a live stream requires WITHIN — it is the "
                "state-eviction horizon (without it open partial matches "
                "accumulate forever)"
            )
        if any(
            isinstance(st, P.PatternGroup) and st.rest for st in src.steps
        ) and len(src.steps) > 1:
            raise ValueError(
                "n-ary OR groups in a live-stream chain are not supported "
                "(standalone n-ary OR works; chains pair two members)"
            )
        if any(isinstance(st, P.PatternGroup) for st in src.steps):
            if len(src.steps) == 1 and isinstance(src.steps[0], P.PatternGroup):
                return self._compile_group_streaming(src, partition_key)
            if isinstance(src.steps[0], P.PatternGroup):
                raise ValueError(
                    "an AND/OR group as the FIRST step of a live-stream "
                    "chain is not supported (an unanchored group's pair "
                    "multiplicity needs the standalone group's pair join); "
                    "put a plain element first"
                )
            # mid-chain groups ride chain_stream's group steps below
        steps_eff = list(src.steps)
        absent_last: P.AbsentElement | None = None
        if steps_eff and isinstance(steps_eff[-1], P.AbsentElement):
            absent_last = steps_eff[-1]
            steps_eff = steps_eff[:-1]
        if any(isinstance(st, P.AbsentElement) for st in steps_eff):
            raise ValueError(
                "NOT ... FOR over live streams is supported as the FINAL "
                "step only"
            )
        if not steps_eff:
            raise ValueError(
                "a pattern needs at least one captured element before "
                "NOT ... FOR"
            )
        if absent_last is not None and absent_last.filter:
            chain_aliases = []
            for st in steps_eff:
                if isinstance(st, P.PatternGroup):
                    chain_aliases.extend([st.first.alias, st.second.alias])
                else:
                    chain_aliases.append(st.alias)
            for a in chain_aliases:
                if re.search(rf"\b{a}\.", absent_last.filter):
                    raise ValueError(
                        "cross-references in a live-stream NOT element's "
                        "filter are not supported"
                    )
        # split each element filter into local conjuncts (JVM-side, pushed
        # to the scan) and cross-reference conjuncts (evaluated inside the
        # NFA against the partial's captured events — reference
        # stream_pre_state_processor.rs evaluates them during matching)
        seen: list[str] = []
        local_filters: list[str | None] = []
        group_specs: dict[int, tuple] = {}  # idx → (el2, op)
        cross_filters: dict[int, object] = {}
        for idx, st in enumerate(steps_eff):
            if isinstance(st, P.PatternGroup):
                for member in (st.first, st.second):
                    if member.filter and any(
                        re.search(rf"\b{a}\.", member.filter)
                        for a in seen + [st.first.alias, st.second.alias]
                    ):
                        raise ValueError(
                            "cross-reference filters inside a mid-chain "
                            "group over a live stream are not supported"
                        )
                group_specs[idx] = (st.second, st.op)
                local_filters.append(st.first.filter or None)
                seen.extend([st.first.alias, st.second.alias])
                continue
            el = st
            local, cross = [], []
            for conj in P.split_keyword(el.filter, "AND") if el.filter else []:
                if any(re.search(rf"\b{a}\.", conj) for a in seen):
                    cross.append(conj)
                else:
                    local.append(conj)
            if cross:
                own_cols = self.streams[el.stream].df.columns
                cross_filters[idx] = _compile_cross_predicate(
                    " AND ".join(cross), seen, el.alias, own_cols
                )
            local_filters.append(" AND ".join(local) or None)
            seen.append(el.alias)

        names = self._pattern_element_streams(src)
        ts_cols = {self.streams[nm].ts_col for nm in names}
        if len(ts_cols) != 1 or ts_cols == {None}:
            raise ValueError(
                "live-stream PATTERN needs one shared event-time column: "
                "register every element stream with the same ts_col"
            )
        ts_col = ts_cols.pop()
        cols0 = list(self.streams[names[0]].df.columns)
        for nm in names[1:]:
            if list(self.streams[nm].df.columns) != cols0:
                raise ValueError(
                    "live-stream PATTERN elements must share an identical "
                    "schema (they are unioned into one tagged stream)"
                )
        if len(names) == 1:
            base, src_tag = self.streams[names[0]].df, None
        else:
            base, src_tag = None, "_src"
            for nm in names:
                d = self.streams[nm].df.withColumn("_src", F.lit(nm))
                base = d if base is None else base.unionByName(d)
        if partition_key:
            key_col = partition_key
        else:
            # no PARTITION WITH → one global NFA, like the reference's
            # single-junction runtime
            base = base.withColumn("_gkey", F.lit("g"))
            key_col = "_gkey"
        def _member_pred(stream_name: str, flt: str | None):
            pred = F.lit(True)
            if src_tag is not None:
                pred = pred & (F.col(src_tag) == F.lit(stream_name))
            if flt:
                pred = pred & F.expr(rewrite_expr(flt))
            return pred

        preds = []
        nfa_groups: dict[int, tuple[str, F.Column, str]] = {}
        for idx, (st, local) in enumerate(zip(steps_eff, local_filters)):
            if isinstance(st, P.PatternGroup):
                el2, op = group_specs[idx]
                preds.append(
                    (st.first.alias, _member_pred(st.first.stream, local))
                )
                nfa_groups[idx] = (
                    el2.alias,
                    _member_pred(el2.stream, el2.filter or None),
                    op,
                )
                continue
            preds.append((st.alias, _member_pred(st.stream, local)))
        absent_final = None
        if absent_last is not None:
            ab_pred = F.lit(True)
            if src_tag is not None:
                ab_pred = ab_pred & (F.col(src_tag) == F.lit(absent_last.stream))
            if absent_last.filter:
                ab_pred = ab_pred & F.expr(rewrite_expr(absent_last.filter))
            absent_final = (ab_pred, float(absent_last.for_seconds))
        payloads = [
            c for c in cols0 if c not in (ts_col, key_col) and c != "_src"
        ]
        step_mins = [getattr(st, "min_count", None) or 1 for st in steps_eff]
        if step_mins[0] != 1:
            raise ValueError(
                "a count quantifier on the FIRST step of a live-stream "
                "chain is not supported — anchor on a single-step "
                "quantifier query, or put the quantified element later"
            )
        return NFA.chain_stream(
            base,
            ts_col,
            key_col,
            preds,
            int(src.within_seconds),
            payload_cols=payloads,
            every=src.every,
            cross_filters=cross_filters or None,
            absent_final=absent_final,
            step_mins=step_mins if any(m != 1 for m in step_mins) else None,
            group_steps=nfa_groups or None,
            # app-level hot-key salting default (EVERY only: fire-once is
            # per-key state sub-keys cannot share)
            salt=self.nfa_salt if src.every else None,
        )

    # ------------------------------------------------------------------
    def _compile_join(self, src: P.JoinSource) -> DataFrame:
        # left side may itself be a JoinSource (multi-join chain)
        if isinstance(src.left, P.JoinSource):
            left = self._compile_join(src.left)
        else:
            left, _ = self._input(src.left)
            left = left.alias(src.left.alias or src.left.name)
        right, _ = self._input(src.right)
        rname = src.right.alias or src.right.name
        cond = F.expr(rewrite_expr(src.on))
        return left.join(right.alias(rname), cond, src.join_type)

    # ------------------------------------------------------------------
    def _compile_pattern(
        self, src: P.PatternSource, partition_key: str | None = None
    ) -> DataFrame:
        """Relational CEP chain: each `->` hop is a time-bounded join +
        first-match rank (PATTERN mode skip-till-next-match); AND/OR groups
        via the logical operators. Aliased columns surface as
        ``<alias>.<col>`` → ``<alias>_<col>`` (rewritten in SELECT)."""
        steps = src.steps
        within = src.within_seconds

        seen_aliases: list[str] = []

        def split_filter(el: P.PatternElement) -> tuple[str | None, str | None]:
            """Split an element filter into (local, cross) conjuncts: a
            conjunct referencing an EARLIER alias (e2.price > e1.price,
            reference stream_pre_state_processor.rs cross-references) must
            evaluate inside the hop join — a post-filter would drop pairs
            the NFA would have matched with the next candidate instead."""
            if not el.filter:
                return None, None
            local, cross = [], []
            for conj in P.split_keyword(el.filter, "AND"):
                if any(
                    re.search(rf"\b{a}\.", conj) for a in seen_aliases
                ):
                    cross.append(conj)
                else:
                    local.append(conj)
            return (
                " AND ".join(local) or None,
                " AND ".join(cross) or None,
            )

        def element_df(
            el: P.PatternElement, alias: str, local_filter: str | None = "~use-el~"
        ) -> tuple[DataFrame, str]:
            base, order_col = self._input(P.StreamRef(name=el.stream))
            flt = el.filter if local_filter == "~use-el~" else local_filter
            if flt:
                base = base.filter(F.expr(rewrite_expr(flt)))
            renamed = base.select(
                *[F.col(c).alias(f"{alias}_{c}") for c in base.columns]
            )
            return renamed, f"{alias}_{order_col}"

        first = steps[0]
        if isinstance(first, P.PatternGroup):
            seen_aliases.extend(
                [first.first.alias, first.second.alias]
                + [m.alias for m in first.rest]
            )
        else:
            seen_aliases.append(first.alias)
        if isinstance(first, P.PatternGroup):
            if first.rest and first.op != "or":
                raise ValueError("n-ary groups are OR-only")
            a_df, a_ts = element_df(first.first, first.first.alias)
            b_df, b_ts = element_df(first.second, first.second.alias)
            if first.op == "and":
                # both branches must arrive; fires at the later timestamp
                # (reference logical_pre_state_processor.rs AND mode).
                # WITHIN bounds the pair directly (|tA−tB| ≤ d): it turns the
                # join into a state-evictable range join instead of an
                # unbounded product — the A×B pair IS the whole pattern here,
                # so the whole-pattern WITHIN applies to it exactly.
                conds = []
                if partition_key:
                    conds.append(
                        F.col(f"{first.first.alias}_{partition_key}")
                        == F.col(f"{first.second.alias}_{partition_key}")
                    )
                if within is not None:
                    conds.append(_pair_within(a_ts, b_ts, within))
                if not conds and not self.allow_unbounded_groups:
                    raise ValueError(
                        "AND group without PARTITION key or WITHIN is an "
                        "unbounded cross join; add one, or construct "
                        "SqlApp(spark, allow_unbounded_groups=True) to opt in"
                    )
                if conds:
                    cond0 = conds[0]
                    for c in conds[1:]:
                        cond0 = cond0 & c
                    j = a_df.join(b_df, cond0)
                else:
                    j = a_df.crossJoin(b_df)
                cur = j.withColumn(
                    "_match_ts", F.greatest(F.col(a_ts), F.col(b_ts))
                )
            else:  # OR: any branch fires; the other sides' columns are null
                # n-ary ready: OR is associative and stateless, so extra
                # branches (patterns.rs:1246 three-way OR — #[ignore]d
                # upstream) just extend the padded union
                branches = [(a_df, a_ts), (b_df, b_ts)] + [
                    element_df(m, m.alias) for m in first.rest
                ]
                all_cols: list[str] = []
                types: dict[str, object] = {}
                for dfx, _ in branches:
                    for c in dfx.columns:
                        if c not in types:
                            all_cols.append(c)
                            types[c] = dfx.schema[c].dataType

                def pad(dfx: DataFrame) -> DataFrame:
                    for c in all_cols:
                        if c not in dfx.columns:
                            dfx = dfx.withColumn(c, F.lit(None).cast(types[c]))
                    return dfx.select(*all_cols)

                cur = None
                for dfx, tsx in branches:
                    side = pad(dfx).withColumn("_match_ts", F.col(tsx))
                    cur = side if cur is None else cur.unionByName(side)
            cur_ts = "_match_ts"
        else:
            cur, cur_ts = element_df(first, first.alias)
        first_ts_col = cur_ts  # WITHIN bounds the WHOLE pattern from its
        # first element (reference converter.rs:1521-1543), not per hop

        # Per-arriving-event partial-match identity (reference
        # stream_pre_state_processor.rs: every anchor event opens its OWN
        # state, so byte-identical duplicate anchors each fire their own
        # match — the streaming NFA does the same). The hop ranks below
        # partition by cur's columns; without a unique id, duplicate
        # partials land in one window partition and row_number()==1
        # collapses them to a single match. The id rides along in
        # cur.columns through every hop (and _hop_group/_anti_between) and
        # is dropped before returning; fire-once ranks by key only, so it
        # still keeps one match per key. Streaming DataFrames reach this
        # path only for single-step AND/OR groups (no hops → no rank → no
        # id needed), and monotonically_increasing_id is unsupported there.
        if not cur.isStreaming:
            cur = cur.withColumn("_pm_uid", F.monotonically_increasing_id())

        #: seconds of absence window(s) the NEXT captured element must wait
        #: out: after `… -> NOT B FOR d`, the absent state completes at its
        #: deadline and only then does the next state activate (reference
        #: AbsentStreamStateElement) — so the next hop requires
        #: t > cur_ts + d, and consecutive absents stack their windows.
        wait_offset = 0.0
        for step_idx, step in enumerate(steps[1:], start=1):
            if isinstance(step, P.AbsentElement):
                # `prefix -> NOT B FOR d` (reference AbsentStreamStateElement,
                # converter.rs:1687-1727): anti-join the partial matches
                # against absent-stream events in the window — the timer
                # wheel becomes a time-range predicate. Mid-chain, the
                # window opens after any prior absent windows (wait_offset).
                if src.mode == "sequence" and step_idx != len(steps) - 1:
                    raise ValueError(
                        "NOT ... FOR mid-chain in SEQUENCE mode is not "
                        "supported (strict adjacency across a waited-out "
                        "window is ill-defined)"
                    )
                base, b_order = self._input(P.StreamRef(name=step.stream))
                if step.filter:
                    base = base.filter(F.expr(rewrite_expr(step.filter)))
                sel_cols = [F.col(b_order).alias("_ab_ts")]
                if partition_key:
                    sel_cols.append(F.col(partition_key).alias("_ab_key"))
                sel = base.select(*sel_cols)
                bcond = (
                    epoch_seconds_d("_ab_ts")
                    > epoch_seconds_d(cur_ts) + wait_offset
                ) & (
                    epoch_seconds_d("_ab_ts")
                    <= epoch_seconds_d(cur_ts)
                    + wait_offset
                    + float(step.for_seconds)
                )
                if partition_key:
                    bcond = bcond & (
                        F.col(_prev_key_col(cur.columns, partition_key))
                        == F.col("_ab_key")
                    )
                cur = cur.join(sel, bcond, "left_anti")
                if step_idx != len(steps) - 1:
                    wait_offset += float(step.for_seconds)
                continue
            if isinstance(step, P.PatternGroup):
                if step.rest:
                    raise ValueError(
                        "n-ary OR groups are supported as the pattern's "
                        "first/standalone step only"
                    )
                if src.mode == "sequence":
                    raise ValueError(
                        "AND/OR groups in SEQUENCE mode are only supported "
                        "as the first step (strict adjacency over a group "
                        "pair is ill-defined mid-chain)"
                    )
                if wait_offset:
                    raise ValueError(
                        "an AND/OR group directly after a mid-chain "
                        "NOT ... FOR is not supported (the group pair would "
                        "need to wait out the absence window)"
                    )
                cur, cur_ts = self._hop_group(
                    cur,
                    cur_ts,
                    first_ts_col,
                    step,
                    partition_key,
                    within,
                    seen_aliases,
                    element_df,
                    split_filter,
                    step_idx,
                )
                seen_aliases.extend([step.first.alias, step.second.alias])
                continue
            local_f, cross_f = split_filter(step)
            nxt, nxt_ts = element_df(step, step.alias, local_f)
            if wait_offset:
                # preceding mid-chain absence: this element only matches
                # after its window(s) elapsed clean
                cond = epoch_seconds_d(nxt_ts) > (
                    epoch_seconds_d(cur_ts) + wait_offset
                )
                wait_offset = 0.0
            else:
                cond = F.col(nxt_ts) > F.col(cur_ts)
            if cross_f:
                # qualify alias refs (a.col → a_col), then the element's own
                # BARE columns (v → e2_v): inside the hop join every column
                # is prefixed
                qualified = cross_f
                for a in seen_aliases + [step.alias]:
                    qualified = re.sub(rf"\b{a}\.", f"{a}_", qualified)
                own_cols = self.streams[step.stream].df.columns
                for c in sorted(own_cols, key=len, reverse=True):
                    qualified = re.sub(
                        rf"(?<![\w.]){c}(?![\w(])", f"{step.alias}_{c}", qualified
                    )
                cond = cond & F.expr(rewrite_expr(qualified))
            seen_aliases.append(step.alias)
            if partition_key:
                # PARTITION WITH (k OF S): the reference clones the NFA per
                # key value (partition/mod.rs:9-31) — relationally a key
                # equality on every hop
                prev_alias = _prev_key_col(cur.columns, partition_key)
                cond = cond & (
                    F.col(prev_alias) == F.col(f"{step.alias}_{partition_key}")
                )
            if within is not None:
                cond = cond & (
                    epoch_seconds_d(nxt_ts)
                    <= epoch_seconds_d(first_ts_col) + float(within)
                )
            if src.mode == "sequence":
                # SEQUENCE: strict adjacency — no event of ANY involved
                # stream may sit between the two matched events (reference
                # sequence_stream_receiver.rs)
                cur = self._anti_between(
                    cur, cond, nxt, cur_ts, nxt_ts, src, partition_key, step
                )
                cur_ts = nxt_ts
                continue
            j = cur.join(nxt, cond, "inner")
            # first match per current partial-match identity (PATTERN mode).
            # A quantified step B{m,…} advances the chain on its m-th
            # qualifying event (the count state completes at min; in
            # skip-till-next-match extra B's are skippable anyway, so the
            # max bound cannot gate the advance — reference
            # count_pre_state_processor.rs): rank == m instead of == 1,
            # capturing the m-th event as the step's columns.
            from pyspark.sql import Window as SW

            advance_rank = getattr(step, "min_count", None) or 1
            ident = [c for c in cur.columns]
            w = SW.partitionBy(*ident).orderBy(F.col(nxt_ts))
            cur = (
                j.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == advance_rank)
                .drop("_rn")
            )
            cur_ts = nxt_ts

        if not src.every:
            # without EVERY the pattern fires once (reference
            # app_runner_patterns.rs:1029-1052): keep the earliest match
            from pyspark.sql import Window as SW

            first_ts = (
                "_match_ts"
                if isinstance(steps[0], P.PatternGroup)
                else f"{steps[0].alias}_" + (
                    self.streams[steps[0].stream].ts_col or "_seq"
                )
            )
            part = (
                [_prev_key_col(cur.columns, partition_key)] if partition_key else []
            )
            w = SW.partitionBy(*part).orderBy(F.col(first_ts))
            cur = (
                cur.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            )
        return cur.drop("_pm_uid")

    def _hop_group(
        self,
        cur: DataFrame,
        cur_ts: str,
        first_ts_col: str,
        group,
        partition_key: str | None,
        within: float | None,
        seen_aliases: list[str],
        element_df,
        split_filter,
        idx: int,
    ) -> tuple[DataFrame, str]:
        """One `-> (X AND/OR Y)` hop mid-chain (reference
        logical_pre_state_processor.rs at arbitrary chain positions,
        converter.rs:1660-1676).

        AND: both elements must arrive after the current partial match; the
        group completes at the later of the two. The intra-group pair join is
        keyed on the partition key and/or time-bounded by WITHIN — the same
        unbounded-product guard as a first-step group. OR: either element
        continues the chain; the other side's columns are null.
        """
        import re as _re

        gts = f"_gts{idx}"
        el1, el2 = group.first, group.second

        def qualify(cross: str, own_alias: str, own_stream: str) -> F.Column:
            qualified = cross
            for a in seen_aliases + [el1.alias, el2.alias]:
                qualified = _re.sub(rf"\b{a}\.", f"{a}_", qualified)
            own_cols = self.streams[own_stream].df.columns
            for c in sorted(own_cols, key=len, reverse=True):
                qualified = _re.sub(
                    rf"(?<![\w.]){c}(?![\w(])", f"{own_alias}_{c}", qualified
                )
            return F.expr(rewrite_expr(qualified))

        local1, cross1 = split_filter(el1)
        local2, cross2 = split_filter(el2)
        a_df, a_ts = element_df(el1, el1.alias, local1)
        b_df, b_ts = element_df(el2, el2.alias, local2)

        if group.op == "and":
            conds = []
            if partition_key:
                conds.append(
                    F.col(f"{el1.alias}_{partition_key}")
                    == F.col(f"{el2.alias}_{partition_key}")
                )
            if within is not None:
                conds.append(_pair_within(a_ts, b_ts, within))
            if not conds and not self.allow_unbounded_groups:
                raise ValueError(
                    "AND group without PARTITION key or WITHIN is an "
                    "unbounded cross join; add one, or construct "
                    "SqlApp(spark, allow_unbounded_groups=True) to opt in"
                )
            if conds:
                g_cond = conds[0]
                for c in conds[1:]:
                    g_cond = g_cond & c
                g = a_df.join(b_df, g_cond)
            else:
                g = a_df.crossJoin(b_df)
            g = g.withColumn(gts, F.greatest(F.col(a_ts), F.col(b_ts)))
            # both elements strictly follow the current partial match
            cond = F.least(F.col(a_ts), F.col(b_ts)) > F.col(cur_ts)
            if cross1:
                cond = cond & qualify(cross1, el1.alias, el1.stream)
            if cross2:
                cond = cond & qualify(cross2, el2.alias, el2.stream)
        else:  # OR: union of the two branches, padded with nulls
            if cross1 or cross2:
                raise ValueError(
                    "cross-reference filters inside an OR group element are "
                    "not supported (the other branch's columns are null)"
                )
            all_cols = a_df.columns + [c for c in b_df.columns if c not in a_df.columns]

            def pad(dfx: DataFrame, other: DataFrame, own_ts: str) -> DataFrame:
                dfx = dfx.withColumn(gts, F.col(own_ts))
                for c in all_cols:
                    if c not in dfx.columns:
                        dfx = dfx.withColumn(
                            c, F.lit(None).cast(other.schema[c].dataType)
                        )
                return dfx.select(*all_cols, gts)

            g = pad(a_df, b_df, a_ts).unionByName(pad(b_df, a_df, b_ts))
            cond = F.col(gts) > F.col(cur_ts)

        if partition_key:
            prev_alias = _prev_key_col(cur.columns, partition_key)
            if group.op == "and":
                cond = cond & (
                    F.col(prev_alias) == F.col(f"{el1.alias}_{partition_key}")
                )
            else:
                # the fired branch's key (the other side is null)
                cond = cond & (
                    F.col(prev_alias)
                    == F.coalesce(
                        F.col(f"{el1.alias}_{partition_key}"),
                        F.col(f"{el2.alias}_{partition_key}"),
                    )
                )
        if within is not None:
            cond = cond & (
                epoch_seconds_d(gts)
                <= epoch_seconds_d(first_ts_col) + float(within)
            )

        j = cur.join(g, cond, "inner")
        from pyspark.sql import Window as SW

        ident = [c for c in cur.columns]
        # first-completing pair per partial; member timestamps tie-break so
        # equal completion times pick the earliest members — deterministic,
        # and the pair the streaming NFA (first match per member) captures
        w = SW.partitionBy(*ident).orderBy(
            F.col(gts), F.col(a_ts), F.col(b_ts)
        )
        out = (
            j.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        return out, gts

    def _anti_between(
        self, cur, cond, nxt, cur_ts, nxt_ts, src: P.PatternSource,
        partition_key: str | None, step,
    ):
        """One SEQUENCE hop: join + first-match rank, then anti-join away
        pairs with ANY involved-stream event strictly between them."""
        from pyspark.sql import Window as SW

        j = cur.join(nxt, cond, "inner")
        ident = [c for c in cur.columns]
        w = SW.partitionBy(*ident).orderBy(F.col(nxt_ts))
        j = (
            j.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        streams = []
        for st in src.steps:
            els = [st.first, st.second, *st.rest] if isinstance(st, P.PatternGroup) else [st]
            for el in els:
                if el.stream not in streams:
                    streams.append(el.stream)
        betweens = None
        for sname in streams:
            base, order_col = self._input(P.StreamRef(name=sname))
            sel = base.select(
                F.col(order_col).alias("_b_ts"),
                *( [F.col(partition_key).alias("_b_key")] if partition_key else [] ),
            )
            betweens = sel if betweens is None else betweens.unionByName(sel)
        bcond = (F.col("_b_ts") > F.col(cur_ts)) & (F.col("_b_ts") < F.col(nxt_ts))
        if partition_key:
            bcond = bcond & (
                F.col(_prev_key_col(j.columns, partition_key)) == F.col("_b_key")
            )
        return j.join(betweens, bcond, "left_anti")

    def _with_key_spellings(
        self, df: DataFrame, src: P.PatternSource, key: str
    ) -> DataFrame:
        """Give a partitioned pattern output its key under both spellings:
        bare ``key`` and ``{alias}_{key}`` for every captured alias. The
        live kernels keep the key bare and the batch chain prefixes every
        column, so without this one app text could not select the key on
        both paths (and a bare ``user`` would silently resolve to Spark's
        ``user()`` function in batch). The bare key coalesces the aliased
        ones: an OR branch that did not fire leaves its columns null."""
        aliases = list(
            dict.fromkeys(a for _, a in self.pattern_column_rewrites(src))
        )
        if key not in df.columns:
            present = [
                F.col(f"{a}_{key}") for a in aliases if f"{a}_{key}" in df.columns
            ]
            if not present:
                return df
            df = df.withColumn(key, F.coalesce(*present))
        return df.withColumns(
            {
                f"{a}_{key}": F.col(key)
                for a in aliases
                if f"{a}_{key}" not in df.columns
            }
        )

    @staticmethod
    def pattern_column_rewrites(src: P.PatternSource) -> list[tuple[str, str]]:
        """``A.val`` / ``e1.val`` → ``e1_val`` rewrite pairs for a pattern
        query's scalar expressions (the reference resolves stream names, its
        alias resolution being unimplemented — app_runner_patterns.rs:799-803;
        we accept both)."""
        pairs: list[tuple[str, str]] = []
        for step in src.steps:
            if isinstance(step, P.AbsentElement):
                continue  # absent elements contribute no output columns
            els = (
                [step.first, step.second, *step.rest]
                if isinstance(step, P.PatternGroup)
                else [step]
            )
            for el in els:
                pairs.append((el.alias, el.alias))
                pairs.append((el.stream, el.alias))
        return pairs
