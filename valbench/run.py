"""Benchmark of sparkcheck's validation path.

    python3 valbench/run.py --workload suite_scan --seed 1 --seconds 6

Runs one workload in this process: set-up (Spark start, input generation from
the seed, warm-up), whole rounds of the workload's operation until --seconds
have passed, independent checks of the outputs, orderly shutdown. The last
line of stdout is one JSON object: correct, attempted, failed, metrics.
--trace 0 reports the end-to-end metrics; --trace 1 turns on Spark's event
log and the span wrappers and reports the per-layer metrics, writing spans
and per-layer tables to valbench/results/trace-<workload>-<seed>.json.
See valbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(1, os.path.dirname(HERE))

import sparkcheck  # noqa: E402,F401  (fails fast outside a checkout)

import command_single  # noqa: E402
import suite_scan  # noqa: E402
from harness import RESULTS_DIR, Run, median  # noqa: E402
from tracing import Tracer, reduce_event_log, write_trace  # noqa: E402

WORKLOADS = {"suite_scan": suite_scan, "command_single": command_single}

END_TO_END = {"setup_s": "s", "rows_per_s": "rows/s", "peak_rss_mb": "MB"}
PER_LAYER = {
    "session.start_s": "s", "sources.synth_s": "s", "model.build_ms": "ms",
    "engine.validate_s": "s", "engine.eager_jobs": "count",
    "engine.verdicts_s": "s", "engine.violations_s": "s",
    "engine.stats_s": "s", "engine.hists_s": "s",
    "engine.persisted_mb": "MB", "engine.jobs": "count",
    "uniqueness.gate_s": "s", "drift.kl_s": "s",
    "extraction.python_eval_s": "s",
    "command.accept_ms": "ms", "command.reject_ms": "ms",
    "command.accept_jobs": "count", "command.reject_jobs": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.jvm_gc_s": "s", "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB", "spark.spill_mb": "MB",
    "spark.stages": "count", "spark.tasks": "count",
    "trace.rows_per_s": "rows/s", "trace.overhead_pct": "%",
}


def _untraced_log(workload: str) -> str:
    return os.path.join(RESULTS_DIR, f"untraced-{workload}.jsonl")


def _overhead(workload: str, traced_rows_per_s: float) -> tuple[float, int]:
    """Traced minus untraced time per row, in % of the untraced time, taking
    the median rows_per_s of every untraced run of this workload recorded in
    this checkout."""
    try:
        with open(_untraced_log(workload)) as f:
            base = [r["rows_per_s"] for r in map(json.loads, f)
                    if "rows_per_s" in r]
    except FileNotFoundError:
        base = []
    if not base:
        return 0.0, 0
    return 100.0 * (median(base) / traced_rows_per_s - 1.0), len(base)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still shuts Spark down and waits for its processes
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    os.makedirs(RESULTS_DIR, exist_ok=True)
    tracer = Tracer(enabled=bool(args.trace))
    with Run(args.workload, args.seed, tracer.enabled) as run:
        with tracer.span("session.start"):
            spark = run.start_spark()
        tracer.sc = spark.sparkContext
        out = WORKLOADS[args.workload].run(run, tracer, args.seconds)
        print(f"peak RSS by pid (MB): {run.sampler.peak_parts}",
              file=sys.stderr)
        if tracer.enabled:
            tracer.unwrap()
            tracer.sc = None
            run.stop_spark()  # closes the event log
            tracer.groups = reduce_event_log(run.event_log_dir)
            ops = list(range(out["attempted"]))
            layers = dict.fromkeys(PER_LAYER, 0.0)
            for name in ("session.start", "sources.synth"):
                layers[name + "_s"] = sum(tracer.durations(name, [None]))
            layers.update(out["layers"](ops))
            overhead, n_base = _overhead(args.workload, out["rows_per_s"])
            layers["trace.rows_per_s"] = out["rows_per_s"]
            layers["trace.overhead_pct"] = overhead
            metrics = {k: {"value": float(v), "unit": PER_LAYER[k]}
                       for k, v in layers.items()}
            write_trace(
                os.path.join(RESULTS_DIR,
                             f"trace-{args.workload}-{args.seed}.json"),
                tracer,
                {"workload": args.workload, "seed": args.seed,
                 "untraced_runs_compared": n_base, "metrics": layers})
        else:
            values = {"setup_s": run.setup_s, "rows_per_s": out["rows_per_s"],
                      "peak_rss_mb": run.peak_rss_mb}
            metrics = {k: {"value": float(v), "unit": END_TO_END[k]}
                       for k, v in values.items()}
            with open(_untraced_log(args.workload), "a") as f:
                f.write(json.dumps({"seed": args.seed,
                                    "rows_per_s": out["rows_per_s"]}) + "\n")
    print(json.dumps({"correct": bool(out["correct"]),
                      "attempted": int(out["attempted"]),
                      "failed": int(out["failed"]), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
