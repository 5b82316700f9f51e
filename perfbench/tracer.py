"""Spans and counts for the traced run, recorded from outside the program.

The wrappers replace public functions and engine seams of the program's
modules at run time (no product code changes). Each span is
``[name, start, end, parent, request, thread]`` with ``perf_counter``
times, which share one monotonic clock across the bench process and the
server, so the report can cut every span file to the timed window.
Spans stay in memory and are written out when the process ends.

Self time of a span is its duration minus the time its child spans
cover; a layer's ``*_ms`` metric is its mean self time per call inside
the timed window.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from collections import OrderedDict, defaultdict
from contextlib import contextmanager


class Spans:
    def __init__(self) -> None:
        self.spans: list[list] = []
        self.counts: list[tuple[float, str, float]] = []  # (time, name, amount)
        self.gauges: dict[str, float] = {}
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._next_request = 0

    def _stack(self) -> list[int]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def inside(self, name: str) -> bool:
        return any(self.spans[i][0] == name for i in self._stack())

    def begin(self, name: str, new_request: bool = False) -> int:
        st = self._stack()
        parent = st[-1] if st else -1
        with self._lock:
            if new_request or parent < 0:
                self._next_request += 1
                rid = self._next_request
            else:
                rid = self.spans[parent][4]
            idx = len(self.spans)
            self.spans.append([name, time.perf_counter(), None, parent, rid,
                               threading.get_ident()])
        st.append(idx)
        return idx

    def end(self, idx: int) -> None:
        self.spans[idx][2] = time.perf_counter()
        st = self._stack()
        if st and st[-1] == idx:
            st.pop()

    @contextmanager
    def span(self, name: str, new_request: bool = False):
        idx = self.begin(name, new_request)
        try:
            yield idx
        finally:
            self.end(idx)

    def count(self, name: str, amount: float = 1) -> None:
        with self._lock:
            self.counts.append((time.perf_counter(), name, amount))

    def wrap(self, owner, attr: str, name: str, new_request: bool = False,
             after=None) -> None:
        """Replace ``owner.attr`` with a spanned version. ``after(args,
        result)`` runs after a normal return, inside the span."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            idx = self.begin(name, new_request)
            try:
                result = orig(*args, **kwargs)
                if after is not None:
                    after(args, result)
                return result
            finally:
                self.end(idx)

        setattr(owner, attr, wrapper)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": self.counts,
                       "gauges": self.gauges}, f)


# -- server-side wrappers (installed by launcher.py) ---------------------------


def install_server(sp: Spans) -> None:
    import pyarrow.parquet as pq

    from eventlog_spark import hashpool, log, manifest, serving
    from eventlog_spark.errors import MismatchingVersions
    from eventlog_spark.sources import binformat

    H = serving._Handler
    sp.wrap(H, "do_POST", "serving.post", new_request=True)
    sp.wrap(H, "do_GET", "serving.get", new_request=True)
    sp.wrap(serving, "decode", "wire.decode")  # bound by name in serving
    # log.py binds the validation functions by name at import
    sp.wrap(log, "validate_label", "validation.validate")
    sp.wrap(log, "validate_payload", "validation.validate")
    sp.wrap(log, "minify_json", "validation.minify")

    E = log.EventLog
    for attr in ("append_multi", "append_check_multi"):
        orig = getattr(E, attr)

        @functools.wraps(orig)
        def appended(*a, _orig=orig, **k):
            with sp.span("log.append"):
                try:
                    return _orig(*a, **k)
                except MismatchingVersions:
                    sp.count("log.occ_conflicts")
                    raise

        setattr(E, attr, appended)
    sp.wrap(E, "_commit_group", "log.commit_group",
            after=lambda a, r: sp.count("log.group_ops", len(a[1])))
    sp.wrap(E, "_write_fragment", "log.fragment_write")
    sp.wrap(E, "_write_intent", "log.intent")
    sp.wrap(E, "_write_state", "log.state_publish")
    sp.wrap(E, "minor_compact", "log.minor_compact",
            after=lambda a, r: sp.count("log.minor_compact_frags", r or 0))
    sp.wrap(E, "vacuum", "log.vacuum")
    sp.wrap(E, "scan_rows", "log.scan_rows",
            after=lambda a, r: sp.count("log.rows_returned", len(r)))
    sp.wrap(E, "_rows_in_range", "log.rows_in_range")
    sp.wrap(E, "scan", "log.scan",
            after=lambda a, r: sp.inside("log.scan_rows") and sp.count("log.spark_fallbacks"))

    orig_init = E.__init__

    @functools.wraps(orig_init)
    def init(self, *a, **k):
        orig_init(self, *a, **k)
        # the hot-tail row cache, pre-installed with hit/miss counting
        # (the engine creates it lazily only when absent)
        self._frag_row_cache = _CountingCache(sp)
        self._frag_rows_total = 0

    E.__init__ = init

    sp.wrap(binformat, "checksum_rows", "binformat.checksum")
    sp.wrap(hashpool, "checksum_batch", "hashpool.batch",
            after=lambda a, r: sp.count("hashpool.batches"))
    M = manifest.ManifestLog
    sp.wrap(M, "commit", "manifest.commit",
            after=lambda a, r: sp.gauges.__setitem__("manifest.entries", a[0].count()))
    sp.wrap(M, "overlapping", "manifest.overlapping")
    sp.wrap(log._Hub, "broadcast", "hub.broadcast",
            after=lambda a, r: sp.count("hub.subscribers", len(a[0]._subs)))

    class CountingParquetFile(pq.ParquetFile):
        """Counts fragment opens and decoded rows under a page read."""

        def __init__(self, *a, **k):
            super().__init__(*a, **k)
            if sp.inside("log.rows_in_range"):
                sp.count("log.fragments_opened")

        def read(self, *a, **k):
            t = super().read(*a, **k)
            if sp.inside("log.rows_in_range"):
                sp.count("log.rows_decoded", t.num_rows)
            return t

        def read_row_groups(self, *a, **k):
            t = super().read_row_groups(*a, **k)
            if sp.inside("log.rows_in_range"):
                sp.count("log.rows_decoded", t.num_rows)
            return t

    pq.ParquetFile = CountingParquetFile


class _CountingCache(OrderedDict):
    def __init__(self, sp: Spans):
        super().__init__()
        self._sp = sp

    def get(self, key, default=None):
        v = super().get(key, default)
        self._sp.count("log.row_cache_hits" if v is not None else "log.row_cache_misses")
        return v


# -- the per-layer report ------------------------------------------------------

def _load(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def _aggregate(files: list[str], t0: float, t1: float) -> dict:
    """Calls, summed duration and self time per span name, counts and
    gauges, over the spans of ``files`` that start in [t0, t1]."""
    agg = {"calls": defaultdict(int), "self_ms": defaultdict(float),
           "dur_ms": defaultdict(float), "counts": defaultdict(float),
           "gauges": {}, "spans": 0}
    for path in files:
        doc = _load(path)
        spans = doc["spans"]
        child = [0.0] * len(spans)
        for s in spans:
            if s[2] is not None and s[3] >= 0:
                child[s[3]] += s[2] - s[1]
        for i, s in enumerate(spans):
            if s[2] is None or not (t0 <= s[1] <= t1):
                continue
            agg["spans"] += 1
            agg["calls"][s[0]] += 1
            agg["dur_ms"][s[0]] += (s[2] - s[1]) * 1e3
            agg["self_ms"][s[0]] += (s[2] - s[1] - child[i]) * 1e3
        for t, name, amount in doc["counts"]:
            if t0 <= t <= t1:
                agg["counts"][name] += amount
        agg["gauges"].update(doc["gauges"])
    return agg


def layer_report(agg: dict, wall_s: float, extra: dict) -> dict[str, float]:
    """Per-layer metric values (BENCHMARK.json ``per_layer``) from an
    ``_aggregate`` plus the Spark and disk figures in ``extra``."""
    calls, self_ms, dur_ms = agg["calls"], agg["self_ms"], agg["dur_ms"]
    counts, gauges, n_spans = agg["counts"], agg["gauges"], agg["spans"]

    def mean_self(name: str) -> float:
        return self_ms[name] / calls[name] if calls[name] else 0.0

    def mean_dur(name: str) -> float:
        return dur_ms[name] / calls[name] if calls[name] else 0.0

    def ratio(a: float, b: float) -> float:
        return a / b if b else 0.0

    m: dict[str, float] = {
        "wire.decode_ms": mean_self("wire.decode"),
        "validation.validate_ms": mean_self("validation.validate"),
        "validation.minify_ms": mean_self("validation.minify"),
        "log.append_ms": mean_dur("log.append"),
        "log.fragment_write_ms": mean_self("log.fragment_write"),
        "log.intent_ms": mean_self("log.intent"),
        "log.state_publish_ms": mean_self("log.state_publish"),
        "log.group_ops": ratio(counts["log.group_ops"], calls["log.commit_group"]),
        "log.occ_conflicts": counts["log.occ_conflicts"],
        "binformat.checksum_ms": mean_self("binformat.checksum"),
        "hashpool.batch_ms": mean_self("hashpool.batch"),
        "hashpool.batches": counts["hashpool.batches"],
        "manifest.commit_ms": mean_self("manifest.commit"),
        "manifest.entries": gauges.get("manifest.entries", 0),
        "manifest.overlapping_ms": mean_self("manifest.overlapping"),
        "log.minor_compact_count": calls["log.minor_compact"],
        "log.minor_compact_ms": mean_dur("log.minor_compact"),
        "log.minor_compact_frags": ratio(counts["log.minor_compact_frags"],
                                         calls["log.minor_compact"]),
        "log.minor_compact_share": ratio(dur_ms["log.minor_compact"] / 1e3, wall_s),
        "log.vacuum_ms": mean_dur("log.vacuum"),
        "log.scan_rows_ms": mean_dur("log.scan_rows"),
        "log.rows_in_range_ms": mean_self("log.rows_in_range"),
        "log.fragments_opened_per_page": ratio(counts["log.fragments_opened"],
                                               calls["log.scan_rows"]),
        "log.rows_decoded_per_row_returned": ratio(counts["log.rows_decoded"],
                                                   counts["log.rows_returned"]),
        "log.row_cache_hit_ratio": ratio(
            counts["log.row_cache_hits"],
            counts["log.row_cache_hits"] + counts["log.row_cache_misses"]),
        "log.spark_fallbacks": counts["log.spark_fallbacks"],
        "serving.post_ms": mean_dur("serving.post"),
        "serving.get_ms": mean_dur("serving.get"),
        "serving.page_encode_ms": (
            ratio(dur_ms["serving.get"] - dur_ms["log.scan_rows"], calls["serving.get"])),
        "serving.transport_ms": ratio(
            dur_ms["client.request"] - dur_ms["serving.post"] - dur_ms["serving.get"],
            calls["client.request"]),
        "client.page_decode_ms": mean_self("client.page"),
        "hub.broadcast_ms": mean_self("hub.broadcast"),
        "hub.subscribers": ratio(counts["hub.subscribers"], calls["hub.broadcast"]),
        "trace.spans": n_spans,
        "trace.timed_wall_s": wall_s,
    }
    m.update(extra)
    return m


class BenchTracer:
    """Tracing for one benchmark run: bench-side spans, the server's
    span file, and the Spark job-group metrics."""

    def __init__(self, workload: str):
        from common import OUT_ROOT

        os.makedirs(OUT_ROOT, exist_ok=True)
        self.spans = Spans()
        self.t0 = self.t1 = None
        self.bench_span_file = os.path.join(OUT_ROOT, f"{workload}-{os.getpid()}-bench.spans.json")
        self.server_span_file = os.path.join(OUT_ROOT, f"{workload}-{os.getpid()}-server.spans.json")
        self.spark = None
        self.spark_totals: dict[str, float] = defaultdict(float)
        self._group = 0

    def mark_timed(self) -> None:
        self.t0 = time.perf_counter()

    def mark_untimed(self) -> None:
        self.t1 = time.perf_counter()

    def span(self, name: str):
        return self.spans.span(name)

    def wrap_client(self, client_cls) -> None:
        self.spans.wrap(client_cls, "_checked", "client.request")

    # -- Spark -----------------------------------------------------------------

    def attach_spark(self, spark) -> None:
        self.spark = spark

    @contextmanager
    def spark_op(self, name: str):
        sc = self.spark.sparkContext
        self._group += 1
        group = f"perfbench-{self._group}"
        sc.setJobGroup(group, name)
        op = _SparkOp(self)
        t0 = time.perf_counter()
        try:
            with self.spans.span(name):
                yield op
        finally:
            wall_ms = (time.perf_counter() - t0) * 1e3
            sc.setLocalProperty("spark.jobGroup.id", None)
            self._stage_metrics(group)
            tot = self.spark_totals
            execute = op.execute_ms if op.planned else wall_ms
            tot["spark.execute_ms"] += execute
            tot["spark.driver_ms"] += wall_ms - execute
            tot["ops"] += 1

    def _stage_metrics(self, group: str) -> None:
        from py4j.protocol import Py4JJavaError

        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        tot = self.spark_totals
        for job in sc.statusTracker().getJobIdsForGroup(group):
            info = sc.statusTracker().getJobInfo(job)
            if info is None:
                continue
            tot["spark.jobs"] += 1
            for sid in info.stageIds:
                try:
                    sd = store.lastStageAttempt(sid)
                except Py4JJavaError:  # stage evicted from the status store
                    continue
                tot["spark.tasks"] += sd.numTasks()
                tot["spark.executor_run_ms"] += sd.executorRunTime()
                tot["spark.executor_cpu_ms"] += sd.executorCpuTime() / 1e6
                tot["spark.jvm_gc_ms"] += sd.jvmGcTime()
                tot["spark.shuffle_read_bytes"] += sd.shuffleReadBytes()
                tot["spark.shuffle_write_bytes"] += sd.shuffleWriteBytes()
                tot["spark.spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()

    # -- report ----------------------------------------------------------------

    def finish(self, res: dict) -> dict:
        self.spans.dump(self.bench_span_file)
        files = [self.bench_span_file]
        if os.path.exists(self.server_span_file):
            files.append(self.server_span_file)
        extra = {}
        tot = self.spark_totals
        n = tot.get("ops", 0)
        for k in ("spark.construct_ms", "spark.analysis_ms", "spark.optimization_ms",
                  "spark.planning_ms", "spark.execute_ms", "spark.driver_ms"):
            extra[k] = tot.get(k, 0.0) / n if n else 0.0
        for k in ("spark.jobs", "spark.tasks", "spark.executor_run_ms",
                  "spark.executor_cpu_ms", "spark.jvm_gc_ms", "spark.shuffle_read_bytes",
                  "spark.shuffle_write_bytes", "spark.spill_bytes"):
            extra[k] = tot.get(k, 0.0)
        extra["log.bytes_on_disk_per_user_byte"] = (
            res["disk_bytes"] / res["user_bytes"] if "user_bytes" in res else 0.0)
        agg = _aggregate(files, self.t0, self.t1)
        from common import ROOT

        return {
            "metrics": layer_report(agg, res["wall_s"], extra),
            "span_files": [os.path.relpath(f, ROOT) for f in files],
            "traced_e2e": dict(res["slots"], setup_s=res["setup_s"]),
            "self_ms_by_span": {
                name: {"calls": n, "self_ms": agg["self_ms"][name]}
                for name, n in sorted(agg["calls"].items())
            },
        }


class _SparkOp:
    """Per-op Catalyst phases: construction time, then the phases of a
    forced ``executedPlan()`` (the write builds its own QueryExecution,
    whose tracker would hold only ``analysis``)."""

    def __init__(self, tracer: BenchTracer):
        self.tracer = tracer
        self.planned = False
        self.execute_ms = 0.0
        self._t_plan_end = None

    def construct(self, fn):
        with self.tracer.spans.span("spark.construct"):
            t0 = time.perf_counter()
            df = fn()
            self.tracer.spark_totals["spark.construct_ms"] += (time.perf_counter() - t0) * 1e3
        return df

    def plan(self, df) -> None:
        with self.tracer.spans.span("spark.plan"):
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            phases = qe.tracker().phases()
            for phase in ("analysis", "optimization", "planning"):
                if phases.contains(phase):
                    self.tracer.spark_totals[f"spark.{phase}_ms"] += (
                        phases.apply(phase).durationMs())
        self.planned = True
        self._t_plan_end = time.perf_counter()

    def executed(self) -> None:
        self.execute_ms = (time.perf_counter() - self._t_plan_end) * 1e3
