"""Record a baseline: the median of every metric over the result files of
untraced runs, with the host calibration they ran at.

    python3 perfbench/baseline.py > perfbench/baseline.json

It reads ``.perfbench/results/<workload>-seed<N>-trace0.json`` (one per
run) and prints, per workload, its reason, loop type, load, the seeds
it saw, and each metric's median; then the metric -> layer -> workload
map of ``perfbench.metrics``.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import applog_dau  # noqa: E402
from perfbench.metrics import END_TO_END, LAYER_MAP  # noqa: E402
from perfbench.run import WORKLOADS  # noqa: E402
from perfbench.stats import median  # noqa: E402

LOAD = {
    "applog_dau": {
        "loop": "open",
        "rate_events_per_s": applog_dau.RATE,
        "burst_events": applog_dau.BURST,
        "clients": "1 closed-loop live reader",
    },
    "batch_headline": {"loop": "closed", "clients": "1"},
}


def record(results_dir: str) -> dict:
    out: dict = {"workloads": {}}
    for name, mod in WORKLOADS.items():
        runs, seeds = [], []
        for path in sorted(glob.glob(os.path.join(results_dir, f"{name}-seed*-trace0.json"))):
            seeds.append(int(re.search(r"-seed(\d+)-", path).group(1)))
            with open(path, encoding="utf-8") as fh:
                runs.append(json.load(fh))
        entry = {"why": mod.WHY, **LOAD[name], "seeds": sorted(seeds), "runs": len(runs)}
        if runs:
            entry["end_to_end_median"] = {
                m: median([r["e2e"][m] for r in runs]) for m, *_ in END_TO_END
            }
            entry["per_layer_median"] = {
                m: median([r["layer"][m] for r in runs])
                for m, _u, _b, wl, *_ in LAYER_MAP
                if wl in (name, "all") and not m.startswith("trace.")
            }
        out["workloads"][name] = entry
    out["metric_map"] = [
        {"metric": m, "unit": u, "workload": wl, "layer": layer, "moves": moves}
        for m, u, _b, wl, layer, moves in LAYER_MAP
    ]
    return out


if __name__ == "__main__":
    json.dump(record(os.path.join(ROOT, ".perfbench", "results")), sys.stdout, indent=1)
    sys.stdout.write("\n")
