#!/usr/bin/env python3
"""sparklog benchmark: three seeded workloads, one result line.

    python3 perfbench/run.py --workload serve_write --seed 1 --seconds 10 --trace 0

prints a detail line (every named metric of the workload with its unit
and sample count, plus the host record) and then, as the last line, one
JSON object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end slots of BENCHMARK.json;
with ``--trace 1`` they are the per-layer metrics of the traced run,
and the span file and overhead report land in ``.perfbench_out/``.

    python3 perfbench/run.py --steady 5 --seconds 10 [--workloads a,b]

re-runs each workload in alternation (one child process per run) and
prints per metric the median, quartiles and (max-min)/median against
the bound in BENCHMARK.json. See perfbench/README.md.

The exit code is non-zero when any output check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import OUT_ROOT, ROOT, WorkDir, host_record, steal_ticks  # noqa: E402

WORKLOADS = ("serve_write", "serve_read", "spark_queries")


def _metric_list(kind: str) -> list[dict]:
    """``end_to_end`` or ``per_layer`` of BENCHMARK.json: the names and
    units every result line carries (per-workload meaning: README.md)."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)[kind]


def run_workload(name: str, seed: int, seconds: int, trace: bool) -> dict:
    work = WorkDir(name)
    tracer = None
    try:
        if trace:
            from tracer import BenchTracer

            tracer = BenchTracer(name)
        if name == "spark_queries":
            import sparkwork

            res = sparkwork.spark_queries(work, seed, seconds, tracer)
        else:
            import serve

            res = getattr(serve, name)(work, seed, seconds, tracer)
        if tracer:
            res["layers"] = tracer.finish(res)
    finally:
        os.chdir(ROOT)  # spark_queries runs inside the work dir
        work.close()
    return res


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--steady", type=int, default=0, metavar="N",
                    help="same-code steadiness mode: N runs per workload")
    ap.add_argument("--workloads", default=",".join(WORKLOADS),
                    help="with --steady: comma-separated workloads")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "eventlog_spark")):
        print(f"no eventlog_spark package under {ROOT}: nothing to measure",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # a terminated run still stops its server (the finally blocks run)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.steady:
        import steady

        return steady.main(args.workloads.split(","), args.steady, args.seed,
                           args.seconds, bool(args.trace))
    if not args.workload:
        ap.error("--workload is required")

    steal0 = steal_ticks()
    res = run_workload(args.workload, args.seed, args.seconds, bool(args.trace))
    host = host_record(args.seed, steal0)
    detail = {"workload": args.workload, "host": host, "setup_s": res["setup_s"],
              "timed_wall_s": res["wall_s"], "metrics": res["detail"],
              "checks_failed": res["checks"][:20]}
    print(json.dumps(detail))
    if args.trace:
        vals = res["layers"]["metrics"]
        os.makedirs(OUT_ROOT, exist_ok=True)
        report = os.path.join(OUT_ROOT, f"{args.workload}-seed{args.seed}-report.json")
        with open(report, "w") as f:
            json.dump({"detail": detail, "layers": res["layers"]}, f, indent=1)
        print(json.dumps({"report": os.path.relpath(report, ROOT),
                          "spans": res["layers"]["span_files"]}))
    else:
        vals = dict(res["slots"], setup_s=res["setup_s"])
    metrics = {m["name"]: {"value": vals[m["name"]], "unit": m["unit"]}
               for m in _metric_list("per_layer" if args.trace else "end_to_end")}
    correct = not res["checks"]
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
