"""The two serving workloads: ``serve_write`` and ``serve_read``.

Both drive the server from one closed-loop client connection
(``eventlog_spark.client.Client``): the next request goes out only when
the previous reply is in. Op counts are fixed by ``--seconds`` (never by
elapsed time), so every run does the same number of commits and minor
compaction folds.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import random
import selectors
import shutil
import threading
import time

from common import ROOT, Stopwatch, summary
from server import Server

LABEL = "BenchmarkEvent"

# serve_write: ops per --seconds; an 8 s run does 2560 timed ops after
# 500 warm ones, so every run folds at the same commit counts
WRITE_OPS_PER_S = 320
WRITE_WARM_OPS = 500
MULTI_EVENTS = 8
MULTI_PAYLOAD_BYTES = 32 * 1024

# serve_read: fixed history, seeded page schedule
HISTORY_BATCHES = 300  # x 1000 events: beyond the 200k-row tail cache
HISTORY_BATCH = 1000
TAIL_APPENDS = 300
HISTORY_LABELS = 16
PAGE = 1000
READ_OPS_PER_S = 18  # pages per --seconds
LABEL_PAGE_EVERY = 24  # every 24th page is a label page (~1.3 s each)
READ_WARM_PAGES = 12


def bench_payload(rng: random.Random, i: int) -> str:
    """The reference's BenchmarkEvent shape, ~120 B, seeded values."""
    return json.dumps(
        {
            "example": "benchmark",
            "foo": None,
            "bar": round(rng.uniform(0, 100), 4),
            "baz": rng.random() < 0.5,
            "fazz": "%08x-%04x-%04x" % (rng.getrandbits(32), i & 0xFFFF, rng.getrandbits(16)),
            "n": i,
        }
    )


def wide_payload(rng: random.Random, i: int) -> str:
    """Just over 32 KiB, so 8 of them pass the 256 KiB hash-pool floor."""
    blob = "%x" % rng.getrandbits(MULTI_PAYLOAD_BYTES * 4 + 64)
    return json.dumps({"n": i, "blob": blob[:MULTI_PAYLOAD_BYTES]})


class _Subscribers:
    """Two websocket subscribers read by one thread; records
    (receive time, head) per subscriber for the notify latencies."""

    def __init__(self, client, n: int = 2):
        self.subs = [client.subscribe() for _ in range(n)]
        self.seen: list[list[tuple[float, int]]] = [[] for _ in self.subs]
        self._stop = threading.Event()
        self._target: int | None = None
        self._done = threading.Event()
        self.error: BaseException | None = None
        self._sel = selectors.DefaultSelector()
        for i, s in enumerate(self.subs):
            s.set_timeout(5.0)
            self._sel.register(s._sock, selectors.EVENT_READ, i)
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _record(self, i: int) -> None:
        sub = self.subs[i]
        while True:
            head = sub.recv_version()
            if head is None:
                raise ConnectionError("subscription closed by server")
            self.seen[i].append((time.perf_counter(), head))
            if not sub._buf:  # frames already buffered are read now
                return

    def _run(self) -> None:
        try:
            while not self._stop.is_set():
                for key, _ in self._sel.select(timeout=0.2):
                    self._record(key.data)
                t = self._target
                if t is not None and all(s and s[-1][1] >= t for s in self.seen):
                    self._done.set()
        except BaseException as e:  # surfaced by wait_for()
            self.error = e
            self._done.set()

    def wait_for(self, head: int, timeout: float = 20.0) -> bool:
        self._target = head
        ok = self._done.wait(timeout) and self.error is None
        self._stop.set()
        self._thread.join(timeout=5)
        for s in self.subs:
            s.close()
        self._sel.close()
        return ok

    def notify_latencies(self, sends: list[tuple[int, float]]) -> list[float]:
        """For each committed op (version, send time), the delay until
        each subscriber saw a head >= that version."""
        import bisect

        out = []
        for seen in self.seen:
            heads = [h for _, h in seen]
            for version, t_send in sends:
                k = bisect.bisect_left(heads, version)
                if k < len(seen):
                    out.append((seen[k][0] - t_send) * 1e3)
        return out


def _start(work, log_dir: str, tracer) -> Server:
    for attempt in range(3):
        srv = Server(
            log_dir,
            work.env(driver_mem="1g"),
            cwd=work.path,
            span_file=tracer.server_span_file if tracer else None,
        )
        try:
            srv.wait_ready()
            return srv
        except RuntimeError as e:
            # another process took the port first: start again on another
            if "Address already in use" not in str(e) or attempt == 2:
                raise


def serve_write(work, seed: int, seconds: int, tracer) -> dict:
    from eventlog_spark.client import Client
    from eventlog_spark.errors import MismatchingVersions
    from eventlog_spark.log import EventLog

    rng = random.Random(seed)
    n_ops = WRITE_OPS_PER_S * seconds
    log_dir = work.sub("logs", "write")
    setup = Stopwatch()
    EventLog.create(None, log_dir)  # metadata files only; no Spark needed
    srv = _start(work, log_dir, tracer)
    client = Client("127.0.0.1", srv.port)
    if tracer:
        tracer.wrap_client(Client)
    checks: list[str] = []
    head = 0
    user_bytes = 0
    lat: dict[str, list[float]] = {"append": [], "occ": [], "multi": []}
    sends: list[tuple[int, float]] = []
    planted = refused = 0
    subs = None
    try:
        subs = _Subscribers(client)

        def one(i: int, timed: bool) -> None:
            nonlocal head, user_bytes, planted, refused
            if i % 50 == 49:
                kind = "multi"
                events = [(LABEL, wide_payload(rng, i * 8 + j)) for j in range(MULTI_EVENTS)]
            elif i % 50 == 24:
                kind = "stale"
                events = [(LABEL, bench_payload(rng, i))]
            else:
                kind = "occ" if i % 4 == 3 else "append"
                events = [(LABEL, bench_payload(rng, i))]
            t0 = time.perf_counter()
            try:
                if kind == "multi":
                    ack = client.append_multi(events)
                elif kind == "append":
                    ack = client.append(*events[0])
                elif kind == "occ":
                    ack = client.append_check(head, *events[0])
                else:
                    planted += timed
                    ack = client.append_check(max(head - 1, 0), *events[0])
            except MismatchingVersions:
                if kind == "stale":
                    refused += timed
                else:
                    checks.append(f"op {i}: unexpected OCC refusal")
                return
            dt = (time.perf_counter() - t0) * 1e3
            if kind == "stale":
                checks.append(f"op {i}: stale check was accepted")
            if ack.version_previous != head or ack.version != head + len(events):
                checks.append(
                    f"op {i}: ack {ack.version_previous}->{ack.version}, head was {head}"
                )
            head = ack.version
            user_bytes += sum(len(lb) + len(p) for lb, p in events)
            if timed:
                lat[kind].append(dt)
                sends.append((ack.version, t0))

        for i in range(WRITE_WARM_OPS):
            one(i, timed=False)
        setup_s = setup.s()
        if tracer:
            tracer.mark_timed()
        wall = Stopwatch()
        for i in range(WRITE_WARM_OPS, WRITE_WARM_OPS + n_ops):
            one(i, timed=True)
        wall_s = wall.s()
        if tracer:
            tracer.mark_untimed()
        final = client.version()
        if final != head:
            checks.append(f"final head {final} != committed {head}")
        if not subs.wait_for(head):
            checks.append(f"subscribers did not reach head {head}: {subs.error!r}")
        notify = subs.notify_latencies(sends)
        subs = None
    finally:
        if subs is not None:
            subs.wait_for(0, timeout=0)
        client.close()
        srv.stop()
    if refused != planted:
        checks.append(f"planted stale checks {planted}, refused {refused}")
    disk = _du(log_dir)
    ap, oc, mu = (summary(lat[k]) for k in ("append", "occ", "multi"))
    no = summary(notify)
    detail = {
        "ops": {"value": n_ops, "unit": "count"},
        "ops_per_s": {"value": n_ops / wall_s, "unit": "1/s"},
        "append_p50_ms": {"value": ap["p50"], "unit": "ms", "n": ap["n"]},
        "append_p99_ms": {"value": ap["tail"], "unit": "ms", "n": ap["n"]},
        "occ_p50_ms": {"value": oc["p50"], "unit": "ms", "n": oc["n"]},
        "multi_p50_ms": {"value": mu["p50"], "unit": "ms", "n": mu["n"]},
        "notify_p50_ms": {"value": no["p50"], "unit": "ms", "n": no["n"]},
        "stale_refused": {"value": refused, "unit": "count", "planted": planted},
        "final_head": {"value": head, "unit": "version"},
        "bytes_on_disk_per_user_byte": {"value": disk / max(user_bytes, 1), "unit": "ratio"},
    }
    return {
        "checks": checks,
        "attempted": n_ops,
        "failed": min(len(checks), n_ops),
        "setup_s": setup_s,
        "wall_s": wall_s,
        "detail": detail,
        "slots": {
            "ops_per_s": n_ops / wall_s,
            "p50_ms": ap["p50"],
            "aux1_ms": oc["p50"],
            "aux2_ms": mu["p50"],
            "aux3_ms": no["p50"],
        },
        "user_bytes": user_bytes,
        "disk_bytes": disk,
    }


def _du(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


# -- serve_read --------------------------------------------------------------


def _history_template(cache_root: str) -> tuple[str, float]:
    """The serve_read history, built once per checkout and copied per
    run: 300 x 1000-event append_multi batches over 16 uniform labels,
    then 300 single appends. Its content is fixed (seed 0) so every run
    reads the same log; the run's own seed drives the page schedule.
    Returns (template dir, seconds spent building it; 0 when cached)."""
    from common import code_fingerprint
    from eventlog_spark.log import EventLog

    tag = f"history-{HISTORY_BATCHES}x{HISTORY_BATCH}+{TAIL_APPENDS}-{code_fingerprint()}"
    path = os.path.join(cache_root, tag)
    if os.path.isdir(path):
        return path, 0.0
    sw = Stopwatch()
    tmp = path + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.dirname(tmp), exist_ok=True)
    rng = random.Random(0)
    log = EventLog.create(None, tmp)
    n = 0
    for _ in range(HISTORY_BATCHES):
        batch = []
        for _ in range(HISTORY_BATCH):
            batch.append((f"label{rng.randrange(HISTORY_LABELS):02d}", bench_payload(rng, n)))
            n += 1
        log.append_multi(batch)
    for _ in range(TAIL_APPENDS):
        log.append(f"label{rng.randrange(HISTORY_LABELS):02d}", bench_payload(rng, n))
        n += 1
    del log
    try:
        os.rename(tmp, path)
    except OSError:  # another run built it first
        shutil.rmtree(tmp, ignore_errors=True)
    return path, sw.s()


def _page(client, start: int, reverse: bool, label: str | None, tracer):
    """One page through the client's paginating scan: islice stops
    before the iterator asks for a second page."""
    with tracer.span("client.page") if tracer else contextlib.nullcontext():
        it = client.scan(version=start, reverse=reverse, batch_hint=PAGE, label=label)
        return list(itertools.islice(it, PAGE))


def _check_page(rows, start: int, reverse: bool, label: str | None) -> str | None:
    if len(rows) != PAGE:
        return f"page at {start}: {len(rows)} rows"
    if label is not None:
        if any(r.label != label for r in rows):
            return f"label page at {start}: foreign label"
        vs = [r.version for r in rows]
        if vs[0] < start or any(b <= a for a, b in zip(vs, vs[1:])):
            return f"label page at {start}: versions not ascending from start"
        return None
    step = -1 if reverse else 1
    for k, r in enumerate(rows):
        if r.version != start + step * k:
            return f"page at {start}: row {k} is version {r.version}"
    return None


def serve_read(work, seed: int, seconds: int, tracer) -> dict:
    from eventlog_spark.client import Client

    cache_root = os.path.join(ROOT, ".perfbench_cache")
    template, build_s = _history_template(cache_root)
    rng = random.Random(seed)
    n_pages = READ_OPS_PER_S * seconds
    log_dir = work.sub("logs", "read")
    setup = Stopwatch()
    shutil.copytree(template, log_dir)
    srv = _start(work, log_dir, tracer)
    client = Client("127.0.0.1", srv.port)
    if tracer:
        tracer.wrap_client(Client)
    checks: list[str] = []
    lat: dict[str, list[float]] = {
        "history": [], "reverse": [], "tail": [], "label": [], "append": []
    }
    try:
        head = client.version()
        history_top = HISTORY_BATCHES * HISTORY_BATCH

        def one(i: int, timed: bool) -> None:
            nonlocal head
            if i % LABEL_PAGE_EVERY == LABEL_PAGE_EVERY - 1:
                # a label page reads the whole compacted file(s) holding
                # its matches, so its cost depends on where its start falls
                # against file boundaries (it halves or doubles from one
                # start to another). Every label page therefore replays
                # its label from the start of the history, and the j-th
                # one's label is fixed: every run reads the same pages.
                j = i // LABEL_PAGE_EVERY
                kind, label = "label", f"label{j * 5 % HISTORY_LABELS:02d}"
                start, reverse = 1, False
            else:
                # fixed kind per position, so every run has the same
                # number of history pages (102 at 8 s) behind its p90
                label = None
                if i % 4 == 0:
                    kind, start, reverse = "tail", head, True
                elif rng.random() < 0.5:
                    kind, start, reverse = "history", rng.randint(1, history_top - PAGE), False
                else:
                    kind, start, reverse = "history", rng.randint(PAGE, history_top), True
            t0 = time.perf_counter()
            rows = _page(client, start, reverse, label, tracer)
            dt = (time.perf_counter() - t0) * 1e3
            err = _check_page(rows, start, reverse, label)
            if err:
                checks.append(err)
            if timed:
                lat[kind].append(dt)
                if kind == "history" and reverse:
                    lat["reverse"].append(dt)
            # one single append after every page
            t0 = time.perf_counter()
            ack = client.append(LABEL, bench_payload(rng, i))
            dt = (time.perf_counter() - t0) * 1e3
            if ack.version_previous != head:
                checks.append(f"append after page {i}: previous {ack.version_previous} != {head}")
            head = ack.version
            if timed:
                lat["append"].append(dt)

        for i in range(LABEL_PAGE_EVERY - READ_WARM_PAGES, LABEL_PAGE_EVERY):
            one(i, timed=False)  # untimed; the last one is a label page
        setup_s = setup.s()
        if tracer:
            tracer.mark_timed()
        wall = Stopwatch()
        for i in range(LABEL_PAGE_EVERY, LABEL_PAGE_EVERY + n_pages):
            one(i, timed=True)
        wall_s = wall.s()
        if tracer:
            tracer.mark_untimed()
        if client.version() != head:
            checks.append("final head does not match the acks")
    finally:
        client.close()
        srv.stop()
    n_ops = n_pages + len(lat["append"])
    hi = summary(lat["history"], tail_q=90)
    rv, ta, la, ap = (summary(lat[k]) for k in ("reverse", "tail", "label", "append"))
    detail = {
        "ops": {"value": n_ops, "unit": "count"},
        "ops_per_s": {"value": n_ops / wall_s, "unit": "1/s"},
        "page_p50_ms": {"value": hi["p50"], "unit": "ms", "n": hi["n"]},
        "page_p90_ms": {"value": hi["tail"], "unit": "ms", "n": hi["n"]},
        "reverse_page_p50_ms": {"value": rv["p50"], "unit": "ms", "n": rv["n"]},
        "tail_page_p50_ms": {"value": ta["p50"], "unit": "ms", "n": ta["n"]},
        "label_page_p50_ms": {"value": la["p50"], "unit": "ms", "n": la["n"]},
        "append_p50_ms": {"value": ap["p50"], "unit": "ms", "n": ap["n"]},
        "history_build_s": {"value": build_s, "unit": "s"},
    }
    return {
        "checks": checks,
        "attempted": n_ops,
        "failed": min(len(checks), n_ops),
        "setup_s": setup_s,
        "wall_s": wall_s,
        "detail": detail,
        "slots": {
            "ops_per_s": n_ops / wall_s,
            "p50_ms": hi["p50"],
            "aux1_ms": ta["p50"],
            "aux2_ms": rv["p50"],
            "aux3_ms": hi["tail"],
        },
    }
