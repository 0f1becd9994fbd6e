"""``cep``: the EventFlux SQL app, replayed in batch and run live.

One process sets up both paths, feeds the live stream (``live.py``),
then replays the log (``replay.py``). ``throughput_per_cpu_s`` is the
replay rate per CPU second of the process tree (``throughput_per_s``,
per wall second, is reported by traced runs); ``latency_p50_ms`` is the
live event-to-result latency at the nominal rung; ``recall`` and ``precision`` are over the live rows and the
replay fingerprints together.
"""

from __future__ import annotations

import live
import replay


def run(ctx) -> dict:
    prep = replay.prepare(ctx)

    def setup(k: int):
        ctx.new_session()
        return replay.setup(ctx, prep), live.setup(ctx, k)

    (checks, compiled), setup_s = ctx.setups(setup)
    liv = live.measure(ctx, compiled)
    rep = replay.measure(ctx, prep, checks)
    return {
        "attempted": rep["attempted"] + liv["attempted"],
        "failed": rep["failed"] + liv["failed"],
        "e2e": {
            "setup_s": setup_s,
            "latency_p50_ms": liv["latency_p50_ms"],
            "throughput_per_s": rep["eps"],
            "throughput_per_cpu_s": rep["eps_cpu"],
            "recall": min(liv["recall"], rep["matched"]),
            "precision": min(liv["precision"], rep["matched"]),
        },
    }
