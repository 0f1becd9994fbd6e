"""Open-loop event generator for the live workload.

Runs as its own single-threaded process, apart from the Spark driver.
It writes one JSON-lines file per interval on a fixed schedule, whether or
not the engine keeps up, and appends one manifest line per file:
``{"file", "rung", "rate", "n", "first_id", "due_ns", "written_ns"}``.

Each event carries its ``event_id``, its logical event time ``ts`` and
``gen_ns``, the wall-clock instant it was due to be created (events of a
file are spread evenly over the interval the file closes), so latency
counts the wait a late generator or a stalled engine imposes.

Usage::

    python3 perfbench/loadgen.py --dir IN --manifest M.jsonl --seed 1 \\
        --schedule 100:4,200:12 --interval 0.5
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import inputs  # noqa: E402

DISORDER_SHARE = 0.05


def plan(schedule: str, interval: float) -> list[tuple[int, int, int]]:
    """``rate:seconds,...`` → one ``(rung, rate, n_events)`` per file."""
    files = []
    for rung, part in enumerate(schedule.split(",")):
        rate, seconds = (float(x) for x in part.split(":"))
        n = int(round(rate * interval))
        files += [(rung, int(rate), n)] * int(round(seconds / interval))
    return files


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", required=True)
    ap.add_argument("--manifest", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--schedule", required=True)
    ap.add_argument("--interval", type=float, required=True)
    a = ap.parse_args(argv)

    files = plan(a.schedule, a.interval)
    rng = inputs.rng(a.seed, 10)
    cols = inputs.event_columns(rng, 0, sum(n for _, _, n in files))
    orders = [inputs.disorder(rng, n, DISORDER_SHARE) for _, _, n in files]
    iso = [inputs.iso_ts(s) for s in cols["ts_s"]]
    step_ns = int(a.interval * 1e9)
    start_ns = time.time_ns() + step_ns
    off = 0
    with open(a.manifest, "a") as man:
        for k, ((rung, rate, n), order) in enumerate(zip(files, orders)):
            due_ns = start_ns + k * step_ns
            wait = (due_ns - time.time_ns()) / 1e9
            if wait > 0:
                time.sleep(wait)
            created = due_ns - step_ns + (np.arange(n) * step_ns) // max(n, 1)
            lines = []
            for j in order:
                i = off + int(j)
                lines.append(
                    json.dumps(
                        {
                            "ts": iso[i],
                            "user_id": str(cols["user_id"][i]),
                            "event_type": str(cols["event_type"][i]),
                            "amount": float(cols["amount"][i]),
                            "event_id": int(cols["event_id"][i]),
                            "gen_ns": int(created[j]),
                        }
                    )
                )
            name = f"f{k:06d}.json"
            tmp = os.path.join(a.dir, f".{name}.tmp")
            with open(tmp, "w") as f:
                f.write("\n".join(lines) + "\n")
            os.rename(tmp, os.path.join(a.dir, name))
            man.write(
                json.dumps(
                    {
                        "file": name,
                        "rung": rung,
                        "rate": rate,
                        "n": n,
                        "first_id": int(cols["event_id"][off]),
                        "due_ns": due_ns,
                        "written_ns": time.time_ns(),
                    }
                )
                + "\n"
            )
            man.flush()
            off += n


if __name__ == "__main__":
    main()
