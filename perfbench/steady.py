"""Same-code steadiness mode (``run.py --steady N``).

Runs every workload N times, alternating workloads, each run in its own
child process with its own seed, and prints per end-to-end metric the
median, the quartiles, the quartile spread and (max-min)/median against
the metric's bound in BENCHMARK.json. With ``--trace 1`` every seed is
also run traced, and the median traced-vs-untraced delta of each metric
is printed as the tracing overhead. Every run record (with its host
record: nproc, log-dir filesystem, versions, SHAs, seed, steal time)
is appended to ``.perfbench_out/steady-<time>.jsonl``.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

from common import BENCH_DIR, OUT_ROOT, ROOT


def _run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.monotonic()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    rec = {"workload": workload, "seed": seed, "trace": trace, "exit": p.returncode,
           "run_s": time.monotonic() - t0}
    if len(lines) >= 2:
        rec["detail"] = json.loads(lines[0])
        rec["result"] = json.loads(lines[-1])
    else:
        rec["stderr"] = p.stderr[-2000:]
    return rec


def _bounds() -> dict[str, float]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}


def main(workloads: list[str], n: int, seed0: int, seconds: int, trace: bool) -> int:
    os.makedirs(OUT_ROOT, exist_ok=True)
    out = os.path.join(OUT_ROOT, f"steady-{time.strftime('%Y%m%dT%H%M%S')}.jsonl")
    bounds = _bounds()
    runs: list[dict] = []
    with open(out, "w") as f:
        for r in range(n):
            for w in workloads:
                for t in ((0, 1) if trace else (0,)):
                    rec = _run(w, seed0 + r, seconds, t)
                    runs.append(rec)
                    f.write(json.dumps(rec) + "\n")
                    f.flush()
                    res = rec.get("result", {})
                    print(f"# {w} seed={seed0 + r} trace={t} exit={rec['exit']} "
                          f"correct={res.get('correct')} run_s={rec['run_s']:.1f}",
                          file=sys.stderr)
    bad = 0
    for w in workloads:
        plain = [x for x in runs if x["workload"] == w and x["trace"] == 0 and "result" in x]
        bad += sum(1 for x in runs if x["workload"] == w and
                   (x["exit"] != 0 or not x.get("result", {}).get("correct")))
        print(f"\n{w}: {len(plain)} runs, mean run {statistics.fmean(x['run_s'] for x in plain):.1f} s"
              if plain else f"\n{w}: no successful runs")
        if not plain:
            continue
        print(f"  {'metric':10} {'median':>12} {'q1':>12} {'q3':>12} {'iqr/med':>8} "
              f"{'range/med':>9} {'bound':>6}")
        for name, bound in bounds.items():
            vals = [x["result"]["metrics"][name]["value"] for x in plain]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
            iqr = (q3 - q1) / med
            flag = "" if iqr < bound / 3 else ("  WIDE" if iqr > bound else "  >1/3")
            print(f"  {name:10} {med:12.4f} {q1:12.4f} {q3:12.4f} {iqr:8.3f} "
                  f"{(max(vals) - min(vals)) / med:9.3f} {bound:6.2f}{flag}")
        if trace:
            pairs = {}
            for x in runs:
                if x["workload"] == w and "result" in x:
                    pairs.setdefault(x["seed"], {})[x["trace"]] = x
            deltas: dict[str, list[float]] = {}
            for p in pairs.values():
                if 0 in p and 1 in p:
                    traced = _traced_e2e(p[1])
                    for name in bounds:
                        base = p[0]["result"]["metrics"][name]["value"]
                        deltas.setdefault(name, []).append(traced[name] / base - 1)
            print("  tracing overhead (median traced/untraced - 1):")
            for name, d in deltas.items():
                print(f"    {name:10} {statistics.median(d):+.3f}  (n={len(d)})")
    print(f"\nrecords: {os.path.relpath(out, ROOT)}")
    return 1 if bad else 0


def _traced_e2e(rec: dict) -> dict:
    path = os.path.join(OUT_ROOT, f"{rec['workload']}-seed{rec['seed']}-report.json")
    with open(path) as f:
        return json.load(f)["layers"]["traced_e2e"]
