"""The repository's benchmark: one command, two workloads.

    python3 perfbench/run.py --workload applog_dau --seed 1 --seconds 12 --trace 0

Run from the root of a checkout.  Workloads (``WORKLOADS``):

- ``applog_dau``: app logs POSTed to the collector until they are rows of
  the live DAU table (``perfbench.applog_dau``);
- ``batch_headline``: the ten headline registry queries, eight scaled
  operator cores and a round of dashboard requests, as warm passes
  (``perfbench.batch_headline``, ``perfbench.dashboard``).

Each run makes its inputs from ``--seed``, starts the engine with
``SPARK_GRAFT_CPUS`` = the cores this process may use, measures for
``--seconds``, checks the workload's outputs, and prints as its last line
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer ones with
``--trace 1``; names and units in ``perfbench.metrics``).  The traced
run also wraps the engine's public functions in spans and writes them to
``.perfbench/results/<workload>-seed<N>.spans.jsonl``; summarize with
``python3 perfbench/spans.py <that file>``.  Every file a run makes stays
under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import applog_dau, batch_headline  # noqa: E402
from perfbench.metrics import END_TO_END, LAYER_MAP, TRACE_LAYERS, UNITS  # noqa: E402
from perfbench.stats import median  # noqa: E402

RUN_SECONDS = 12
WORKLOADS = {"applog_dau": applog_dau, "batch_headline": batch_headline}
ENGINE_PACKAGE = "gmallrealtime02_spark"


@dataclass
class Context:
    """What a workload gets: where to work, its seed and time, the tracer,
    the RSS sampler, and the engine session."""

    root: str
    work_dir: str
    seed: int
    seconds: float
    tracer: object
    rss: object
    spark: object = None


def _parse(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=RUN_SECONDS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    if not 0 < a.seconds <= 600:
        ap.error("--seconds must be in (0, 600]")
    return a


def build_result(res: dict, *, trace: bool, calibration: float, nproc: int,
                 peak_rss_mb: float, trace_layers: dict[str, float],
                 trace_wall: float, n_spans: int) -> dict:
    """The printed result from a workload's raw result.  Per-layer metrics
    the workload did not produce read 0."""
    attempted = int(res["attempted"])
    failed = int(res["failed"])
    e2e = dict(res["e2e"], setup_s=median(res["setup_s"]))
    layer = {name: 0.0 for name, *_ in LAYER_MAP}
    layer.update(res["layer"])
    layer["error_rate"] = failed / attempted
    layer["peak_rss_mb"] = peak_rss_mb
    layer["host.calibration_s"] = calibration
    layer["host.nproc"] = nproc
    for name in TRACE_LAYERS:
        layer[f"trace.self.{name}_s"] = trace_layers.get(name, 0.0)
    layer["trace.self_share"] = sum(trace_layers.values()) / trace_wall if trace_wall else 0.0
    layer["trace.spans"] = n_spans
    unknown = set(layer) - set(UNITS)
    if unknown:
        raise KeyError(f"metrics missing from the catalog: {sorted(unknown)}")
    chosen = layer if trace else {name: e2e[name] for name, *_ in END_TO_END}
    return {
        "correct": bool(res["correct"]) and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": UNITS[k]} for k, v in chosen.items()},
        "all": {"e2e": e2e, "layer": layer},
    }


def _stop_engine(spark) -> None:
    """Stop the session, then the JVM this process launched, and wait for
    it (its Python workers are its children and end with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv: list[str]) -> int:
    a = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, ENGINE_PACKAGE)):
        print(f"perfbench: no {ENGINE_PACKAGE}/ under {ROOT}; run from a checkout",
              file=sys.stderr)
        return 2
    from perfbench import host
    from perfbench.spans import Tracer, instrument_engine, self_times

    bench_dir = os.path.join(ROOT, ".perfbench")
    work_root = os.path.join(bench_dir, "work")
    work_dir = os.path.join(work_root, f"{a.workload}-{a.seed}")
    results_dir = os.path.join(bench_dir, "results")
    shutil.rmtree(work_root, ignore_errors=True)  # and what killed runs left
    os.makedirs(work_dir)
    os.makedirs(results_dir, exist_ok=True)
    host.configure_env(work_dir)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )

    tracer = Tracer(enabled=bool(a.trace))
    tracer.root_id = tracer.new_id()
    rss = host.RssSampler().start()
    ctx = Context(ROOT, work_dir, a.seed, a.seconds, tracer, rss)
    stem = os.path.join(results_dir, f"{a.workload}-seed{a.seed}")
    t_start = time.time()
    try:
        ctx.spark = host.start_spark(work_dir)
        host.log("engine started")
        if a.trace:
            instrument_engine(tracer)
        res = WORKLOADS[a.workload].run(ctx)
        with tracer.span("calibration", "bench"):
            calibration = host.calibration_s(ctx.spark)
    finally:
        t_end = time.time()
        peak = rss.stop()
        try:
            _stop_engine(ctx.spark)
        finally:
            shutil.rmtree(work_dir, ignore_errors=True)
    host.log("engine stopped")
    tracer.add("run", "bench", t_start, t_end, None, "run", sid=tracer.root_id)
    layers = self_times(tracer.spans) if a.trace else {}
    out = build_result(
        res, trace=bool(a.trace), calibration=calibration, nproc=host.nproc(),
        peak_rss_mb=peak, trace_layers=layers, trace_wall=t_end - t_start,
        n_spans=len(tracer.spans),
    )
    with open(f"{stem}-trace{a.trace}.json", "w", encoding="utf-8") as fh:
        json.dump(out["all"], fh, indent=1, sort_keys=True)
    if a.trace:
        tracer.write_jsonl(f"{stem}.spans.jsonl")
    del out["all"]
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
