"""Load generator of the ``applog_dau`` workload, run as its own process.

It replays the seeded event stream (``perfbench.events``) into the log
collector that the benchmark started on the loopback interface of the
same machine, on a fixed schedule that does not wait for the system
(an open loop): warm-up and steady phases at ``--rate`` events/s, a
pause of ``--gap-s``, then ``--burst`` events all due at once.  Every
event is timed from when it was due, so a stall shows as lateness on
the events queued behind it.

Output: one JSON line with the schedule's start as soon as it is fixed,
and, at the end, ``--out`` holding ``[index, due, sent, done, status]``
per event.  Example::

    python3 -m perfbench.loadgen --port 8000 --seed 1 --rate 50 \\
        --warmup-s 3 --steady-s 10 --gap-s 3 --burst 300 --threads 4 \\
        --out events.json
"""

from __future__ import annotations

import argparse
import json
import time
from concurrent.futures import ThreadPoolExecutor

from perfbench.applog_dau import post_event
from perfbench.events import make_events

#: sanity limits for a single-machine benchmark run
MAX_RATE = 1000.0
MAX_EVENTS = 100_000


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--warmup-s", type=float, required=True)
    ap.add_argument("--steady-s", type=float, required=True)
    ap.add_argument("--gap-s", type=float, required=True)
    ap.add_argument("--burst", type=int, required=True)
    ap.add_argument("--threads", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()

    n_paced = int(round(a.rate * (a.warmup_s + a.steady_s)))
    if not 0 < a.rate <= MAX_RATE or n_paced + a.burst > MAX_EVENTS:
        ap.error("rate or event count outside the benchmark's limits")
    events = make_events(a.seed, n_paced + a.burst)
    t0 = time.time() + 0.2
    t_burst = t0 + a.warmup_s + a.steady_s + a.gap_s
    due = [t0 + i / a.rate for i in range(n_paced)] + [t_burst] * a.burst
    print(json.dumps({"t0": t0, "t_burst": t_burst, "n": len(events)}), flush=True)

    def send(i: int) -> list:
        sent = time.time()
        try:
            status = post_event(a.port, events[i])
        except OSError:
            status = 0
        return [i, due[i], sent, time.time(), status]

    futures = []
    with ThreadPoolExecutor(max_workers=a.threads) as pool:
        for i, d in enumerate(due):
            wait = d - time.time()
            if wait > 0:
                time.sleep(wait)
            futures.append(pool.submit(send, i))
    with open(a.out, "w", encoding="utf-8") as fh:
        json.dump(
            {"t0": t0, "t_burst": t_burst, "records": [f.result() for f in futures]}, fh
        )


if __name__ == "__main__":
    main()
