"""Benchmark entry point: one workload, one seed, one run.

Usage::

    python3 perfbench/run.py --workload cep --seed 1 --seconds 12 --trace 0

Workloads are ``cep`` and ``corpus_dedup`` (see ``perfbench/README.md``). The last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``; ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` makes a separate traced run
and reports the per-layer metrics. The run fails with a non-zero exit
code, and prints no result, when the engine cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

import common  # noqa: E402

#: end-to-end metric → unit; every workload reports every one
E2E_UNITS = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "throughput_per_cpu_s": "1/cpu-s",
    "recall": "ratio",
    "precision": "ratio",
}


#: pause after stopping a session, so its asynchronous shutdown does not
#: run into the next timed set-up
SETTLE_S = 0.5


class Ctx:
    """What a workload needs from the runner: its arguments, the current
    session, the tracer and the RSS sampler."""

    def __init__(self, args, run_dir: str, rss: common.RssSampler):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.run_dir = run_dir
        self.rss = rss
        self.spark = None
        self.tracer = common.Tracer(None, self.trace, f"{args.workload}-{args.seed}")
        self.layer: dict[str, float] = {}

    def setups(self, setup, teardown=lambda result: None):
        """Run ``setup`` ``SETUP_REPS`` times, each after stopping the
        previous session (untimed). Returns the last result and the
        median set-up seconds."""
        times, result = [], None
        for k in range(common.SETUP_REPS):
            if result is not None:
                teardown(result)
                self.stop_session()
                time.sleep(SETTLE_S)
            t0 = time.perf_counter()
            result = setup(k)
            times.append(time.perf_counter() - t0)
            common.log(f"set-up {k}: {times[-1]:.2f}s")
        return result, common.median(times)

    def stop_session(self) -> None:
        self.tracer.spark = None
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def new_session(self):
        """Start a session (the previous one must be stopped)."""
        with self.tracer.span("session.start"):
            self.spark = common.start_session(self.run_dir, self.trace)
        self.tracer.spark = self.spark
        self.rss.on_disk_full = self.spark.sparkContext.cancelAllJobs
        return self.spark

    def span(self, name: str):
        return self.tracer.span(name)

    def check_disk(self) -> None:
        if self.rss.disk_error is not None:
            raise self.rss.disk_error


def finish_trace(ctx: Ctx, e2e: dict) -> dict:
    """Per-layer metrics of a traced run: the workload's own figures, span
    totals, self times per layer, event-log task metrics per span and the
    traced run's own end-to-end figures (to set against untraced runs)."""
    from metrics import PER_LAYER

    t = ctx.tracer
    out = dict.fromkeys(PER_LAYER, 0.0)
    span_metric = {
        "session.start": "session.start_s",
        "plans.parse": "plans.parse_s",
        "plans.compile": "plans.compile_s",
        "tables.dim_load": "tables.dim_load_s",
    }
    for span, metric in span_metric.items():
        n = sum(1 for s in t.spans if s["name"] == span)
        out[metric] = t.total_s(span) / n if n else 0.0
    for layer, s in t.self_times().items():
        out[f"{layer}.self_s"] = s
    ctx.stop_session()  # flushes the event log
    groups = common.task_metrics_by_group(os.path.join(ctx.run_dir, "eventlog"))
    for group, fields in groups.items():
        for field, v in fields.items():
            key = f"{group}.{field}"
            if key in out:
                out[key] = v
    out.update({k: v for k, v in ctx.layer.items() if k in out})
    out["trace.tracer_own_s"] = t.own_s
    for k in ("setup_s", "latency_p50_ms", "throughput_per_s", "throughput_per_cpu_s"):
        out[f"trace.{k}"] = e2e[k]
    t.dump(os.path.join(common.SCRATCH, f"spans-{t.run_id}.json"))
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "engine_spark")):
        print(f"no engine_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import cep
    import dedup

    workloads = {"cep": cep, "corpus_dedup": dedup}
    if args.workload not in workloads:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    run_dir = common.pin_resources()
    try:
        with common.RssSampler() as rss:
            ctx = Ctx(args, run_dir, rss)
            res = workloads[args.workload].run(ctx)
            ctx.check_disk()
            e2e = res["e2e"]
            ctx.layer["session.peak_rss_mb"] = rss.peak_mb
            metrics = finish_trace(ctx, e2e) if ctx.trace else e2e
            ctx.stop_session()
    finally:
        common.stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)

    units = dict(E2E_UNITS)
    if ctx.trace:
        from metrics import PER_LAYER

        units = PER_LAYER
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": int(res["attempted"]),
                "failed": int(res["failed"]),
                "metrics": {
                    k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
