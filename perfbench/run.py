#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload build_serve --seed 1 --seconds 8 --trace 0

Run from the repository root. Generates the seed's inputs under
``.perfbench/``, runs the workload against the library's public entry points,
checks every answer, prints each metric with its unit and, as the last line,
one JSON object ``{"correct", "attempted", "failed", "metrics"}`` holding the
end-to-end metrics ``BENCHMARK.json`` names. With ``--trace 1`` it runs every
workload in turn with spans on, prints a per-layer self-time table, writes
the spans to ``.perfbench/spans-<seed>.jsonl`` and reports the per-layer
metrics instead. Tracing overhead is measured inside that run: the query
stream is served once untraced and once traced, and the Spark loop traces
every second request.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("build_serve", "query_models")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(work: str) -> None:
    """Keep every file the run writes inside the checkout and make the
    library importable here and in Spark's Python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    for p in (ROOT, os.path.join(ROOT, "tests")):
        if p not in sys.path:
            sys.path.insert(0, p)


def print_trace_table(tracer) -> None:
    print(f"{'span':34s} {'self_s':>10s} {'count':>6s} {'jobs':>6s} "
          f"{'tasks':>7s}")
    for name, self_s, count, jobs, tasks in tracer.table():
        print(f"{name:34s} {self_s:10.4f} {count:6d} {jobs:6d} {tasks:7d}")


def main(argv=None) -> int:
    args = parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"work-{os.getpid()}")
    prepare_env(work)
    try:
        import gensim_spark  # noqa: F401
        import oracle  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the library is not importable here: {e}",
              file=sys.stderr)
        return 2

    import phases
    from tracing import Tracer

    t_start = time.perf_counter()
    tracer = Tracer(enabled=False, alternate=bool(args.trace))
    runs = []
    try:
        if args.trace:
            phases.wrap_layers(tracer)
        # the traced run covers every workload, so each measured loop gets
        # half the time to keep the whole run near one untraced run's length
        seconds = args.seconds / 2 if args.trace else args.seconds
        for w in (WORKLOADS if args.trace else (args.workload,)):
            run = phases.Run(w, args.seed, seconds, work, tracer)
            runs.append(run)
            getattr(phases, w)(run)
    finally:
        tracer.unwrap()
        shutil.rmtree(work, ignore_errors=True)

    values = {}
    for run in runs:
        values.update(run.layer if args.trace else run.metrics)
        print(f"== {run.workload}")
        for line in run.report:
            print(line)
    if args.trace:
        tracer.write(os.path.join(out_dir, f"spans-{args.seed}.jsonl"))
        print_trace_table(tracer)
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in wanted}
    for name, m in metrics.items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    attempted = sum(r.attempted for r in runs)
    failed = sum(r.failed for r in runs)
    print(f"error_rate {failed / max(1, attempted):.6g} failed/attempted "
          f"({failed}/{attempted})")
    for run in runs:
        for e in run.errors:
            print(f"FAILED: {e}")
    print(f"run_wall_s {time.perf_counter() - t_start:.1f}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
