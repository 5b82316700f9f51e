"""The Spark workload ``spark_queries``: registry queries across the
operator families and the engine's own Spark paths, run in this process
on ``local[nproc]`` at sf0.01: a timed cold pass in a fixed order, then
``WARM_PASSES`` timed warm passes, each in its own seeded order. The
warm suite time sums per-query medians over the warm passes, since a
single sub-second Spark query spreads by a fifth or more from one
execution to the next; the warm p50 pools all warm executions. Set-up
(session start and a warm-up aggregate) is reported as ``setup_s``.
"""

from __future__ import annotations

import contextlib
import json
import os
import random
import statistics
import subprocess
import time

from common import BENCH_DIR, DATA_DIR, Stopwatch, apply_env

EXPECTED_ROWS = os.path.join(BENCH_DIR, "expected_rows.json")
WARM_PASSES = 3


def _session(work, app: str):
    apply_env(work.env(driver_mem="2g"))
    os.chdir(work.path)  # derby.log / metastore_db, if any, stay in the run dir
    from eventlog_spark.session import get_spark

    spark = get_spark(
        app_name=app,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": work.sub("warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop the session and wait for the JVM to exit (it dies when its
    stdin pipe closes)."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _op(tracer, name: str):
    return tracer.spark_op(name) if tracer else contextlib.nullcontext()


def _suite_pass(spark, names: list[str], expected: dict, tracer, tag: str,
                checks: list[str]) -> dict[str, float]:
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from eventlog_spark.queries import REGISTRY

    out = {}
    for name in names:
        obs = Observation(f"{tag}_{name}")
        t0 = time.perf_counter()
        with _op(tracer, f"query.{name}") as op:
            if op is not None:
                df = op.construct(lambda: REGISTRY[name].fn(spark, DATA_DIR))
                op.plan(df)
            else:
                df = REGISTRY[name].fn(spark, DATA_DIR)
            df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format("noop").mode(
                "overwrite"
            ).save()
            if op is not None:
                op.executed()
        out[name] = (time.perf_counter() - t0) * 1e3
        rows = obs.get["rows"]
        if rows != expected[name]:
            checks.append(f"{tag} {name}: {rows} rows, expected {expected[name]}")
    return out


def spark_queries(work, seed: int, seconds: int, tracer) -> dict:
    with open(EXPECTED_ROWS) as f:
        expected = json.load(f)
    # the cold pass runs in one fixed order, as what a query pays cold
    # depends on what ran before it; the seed orders the warm passes
    names = sorted(expected)
    rng = random.Random(seed)
    orders = [rng.sample(names, len(names)) for _ in range(WARM_PASSES)]
    checks: list[str] = []
    setup = Stopwatch()
    spark = _session(work, "perfbench_spark_queries")
    try:
        from pyspark.sql import functions as F

        from eventlog_spark.queries import _ensure_loaded

        _ensure_loaded()
        # untimed session warm-up (as bench.py): one aggregate, one
        # exchange and the noop sink over the 25-row nation table
        nation = spark.read.parquet(os.path.join(DATA_DIR, "nation.parquet"))
        nation.groupBy("n_regionkey").agg(
            F.sum(F.col("n_nationkey").cast("decimal(12,2)")).alias("s")
        ).write.format("noop").mode("overwrite").save()
        setup_s = setup.s()
        if tracer:
            tracer.attach_spark(spark)
            tracer.mark_timed()
        wall = Stopwatch()
        cold = _suite_pass(spark, names, expected, tracer, "cold", checks)
        passes = [_suite_pass(spark, order, expected, tracer, f"warm{k}", checks)
                  for k, order in enumerate(orders)]
        wall_s = wall.s()
        if tracer:
            tracer.mark_untimed()
    finally:
        _stop(spark)
    warm = {q: statistics.median(p[q] for p in passes) for q in names}
    cold_s, warm_s = sum(cold.values()) / 1e3, sum(warm.values()) / 1e3
    # the p50 pools every warm execution: with ten per-query medians the
    # median fell in the gap between two queries and moved with either
    wv = sorted(t for p in passes for t in p.values())
    detail = {
        "queries": {"value": len(names), "unit": "count"},
        "warm_passes": {"value": WARM_PASSES, "unit": "count"},
        "suite_cold_s": {"value": cold_s, "unit": "s", "n": len(names)},
        "suite_warm_s": {"value": warm_s, "unit": "s", "n": len(names) * WARM_PASSES},
        "warm_query_p50_ms": {"value": statistics.median(wv), "unit": "ms", "n": len(wv)},
        "warm_query_max_ms": {"value": max(warm.values()), "unit": "ms", "n": len(names)},
        "cold_query_p50_ms": {"value": statistics.median(list(cold.values())), "unit": "ms",
                              "n": len(cold)},
        "per_query_ms": {"value": {q: [cold[q]] + [p[q] for p in passes] for q in names},
                         "unit": "ms [cold, warm passes]"},
    }
    return {
        "checks": checks,
        "attempted": (1 + WARM_PASSES) * len(names),
        "failed": len(checks),
        "setup_s": setup_s,
        "wall_s": wall_s,
        "detail": detail,
        "slots": {
            "ops_per_s": len(names) / warm_s,
            "p50_ms": statistics.median(wv),
            "aux1_ms": cold_s * 1e3,
            "aux2_ms": warm_s * 1e3,
            "aux3_ms": wall_s * 1e3,
        },
    }
