"""The batch half of the ``cep`` workload: the live app plus three
statements, replayed over a seeded parquet event log.

The same SQL goes through the batch path, ``plans`` → ``operators`` /
``tables``. Each output is timed as its own action: the fingerprint
aggregate over all its rows, which is also checked against the DuckDB
reference over the same log (computed once per seed and cached). A pass
runs all five outputs. ``WARMUP_PASSES`` untimed passes follow set-up;
then passes repeat until ``--seconds`` are spent, at least
``MIN_PASSES``. The replay rate is input events over the median pass
time.
"""

from __future__ import annotations

import json
import os
import time

import app
import common
import inputs

N_EVENTS = 50_000
#: untimed passes before timing: the JIT keeps speeding passes up until
#: about the fourth (5.5, 4.5, 3.3, 3.0, 2.9 s)
WARMUP_PASSES = 2
MIN_PASSES = 2


def reference(seed: int, log_path: str, users_path: str) -> dict:
    """DuckDB fingerprints of every output over the log, cached per seed."""
    path = os.path.join(inputs.CACHE_DIR, f"replay-ref-{seed}-{N_EVENTS}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    import duckdb

    con = duckdb.connect()
    con.sql(
        f"CREATE TABLE ev AS SELECT *, epoch(ts)::BIGINT AS s "
        f"FROM read_parquet('{log_path}')"
    )
    con.sql(f"CREATE TABLE users AS SELECT * FROM read_parquet('{users_path}')")
    out = {}
    for name, (cols, _) in app.OUTPUTS.items():
        rel = con.sql(app.REFERENCE_SQL[name])
        kinds = {c: _kind(str(t)) for c, t in zip(rel.columns, rel.types)}
        fp = con.sql(
            f"SELECT {app.fingerprint_sql(cols, kinds, spark=False)} "
            f"FROM ({app.REFERENCE_SQL[name]})"
        ).fetchone()
        out[name] = [int(v or 0) for v in fp]
    con.close()
    with open(path + ".tmp", "w") as f:
        json.dump(out, f)
    os.replace(path + ".tmp", path)
    return out


def _kind(type_name: str) -> str:
    t = type_name.lower()
    if "timestamp" in t:
        return "timestamp"
    if t in ("varchar", "string"):
        return "string"
    return "number"


def _compile(ctx, events, users) -> dict:
    from engine_spark.plans import SqlApp
    from engine_spark.plans.parser import parse_app

    sql_app = SqlApp(ctx.spark)
    sql_app.register_stream("Events", events, ts_col="ts")
    sql_app.register_stream(
        "Purchases", events.filter("event_type = 'purchase'"), ts_col="ts"
    )
    sql_app.register_stream("Users", users)
    text = app.replay_app()
    with ctx.span("plans.parse"):
        parse_app(" ".join(text.split()))
    with ctx.span("plans.compile"):
        return sql_app.sql(text)


def prepare(ctx) -> dict:
    """Inputs and reference, generated or read from the per-seed cache."""
    log_path = inputs.event_log(ctx.seed, N_EVENTS)
    users_path = inputs.users_dim(ctx.seed)
    return {
        "log": log_path,
        "users": users_path,
        "ref": reference(ctx.seed, log_path, users_path),
    }


def setup(ctx, prep: dict) -> dict:
    """Dimension load, log staging and compile, on the current session.
    Returns one fingerprint query per output."""
    spark = ctx.spark
    with ctx.span("tables.dim_load"):
        users = spark.read.parquet(prep["users"]).cache()
        users.count()
    events = spark.read.parquet(prep["log"])
    events.count()
    outs = _compile(ctx, events, users)
    kinds_of = {"timestamp": "timestamp", "string": "string"}
    checks = {}
    for name, (cols, _) in app.OUTPUTS.items():
        kinds = {
            f.name: kinds_of.get(f.dataType.typeName(), "number")
            for f in outs[name].schema
        }
        outs[name].createOrReplaceTempView(f"perfbench_{name}")
        checks[name] = spark.sql(
            f"SELECT {app.fingerprint_sql(cols, kinds, spark=True)} FROM perfbench_{name}"
        )
    return checks


def measure(ctx, prep: dict, checks: dict) -> dict:
    """Warm-up passes, then timed passes for ``ctx.seconds``."""
    attempted = failed = 0
    times: dict[str, list[float]] = {name: [] for name in app.OUTPUTS}

    def run_pass(timed: bool) -> float:
        nonlocal attempted, failed
        t_pass = 0.0
        for name, (_, span) in app.OUTPUTS.items():
            ctx.check_disk()
            attempted += 1
            t0 = time.perf_counter()
            with ctx.span(span):
                got = [int(v or 0) for v in checks[name].first()]
            dt = time.perf_counter() - t0
            if timed:
                times[name].append(dt)
            t_pass += dt
            ctx.layer[f"operators.rows_out.{name}"] = float(got[0])
            if got != prep["ref"][name]:
                failed += 1
                common.log(f"{name}: fingerprint {got} != reference {prep['ref'][name]}")
        return t_pass

    warm = [run_pass(timed=False) for _ in range(WARMUP_PASSES)]
    passes: list[float] = []
    cpu: list[float] = []
    end = time.perf_counter() + ctx.seconds
    while len(passes) < MIN_PASSES or time.perf_counter() < end:
        c0 = common.tree_cpu_s()
        passes.append(run_pass(timed=True))
        cpu.append(common.tree_cpu_s() - c0)
    common.log(f"replay passes: warm-up {[round(p, 2) for p in warm]}, "
               f"timed {[round(p, 2) for p in passes]}")

    per_output = {name: common.median(t) for name, t in times.items()}
    for name, (_, span) in app.OUTPUTS.items():
        ctx.layer[f"{span}_s"] = per_output[name]
    return {
        "attempted": attempted,
        "failed": failed,
        "matched": (attempted - failed) / attempted,
        "eps": N_EVENTS / common.median(passes),
        "eps_cpu": N_EVENTS / common.median(cpu),
    }
