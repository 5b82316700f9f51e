"""Shared plumbing for the benchmark: paths, the child-process
environment, latency statistics and the host record.

Everything a run writes lives under ``<checkout>/.perfbench_work/`` and
is removed when the run ends; traced runs leave their span files and
reports under ``<checkout>/.perfbench_out/``.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import socket
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
OUT_ROOT = os.path.join(ROOT, ".perfbench_out")
DATA_DIR = os.path.join(BENCH_DIR, "data", "sf0.01")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class WorkDir:
    """A fresh per-run directory inside the checkout; holds the logs,
    Spark's local dirs, the warehouse and the operator artifacts, so no
    run shares state with another or with the repository."""

    def __init__(self, workload: str):
        self.path = os.path.join(WORK_ROOT, f"{workload}-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(self.path)
        for sub in ("spark-local", "artifacts", "logs", "tmp"):
            os.makedirs(os.path.join(self.path, sub))

    def sub(self, *parts: str) -> str:
        return os.path.join(self.path, *parts)

    def env(self, driver_mem: str) -> dict[str, str]:
        """Environment for every process that runs the program."""
        env = dict(os.environ)
        env.update(
            SPARK_GRAFT_CPUS=str(nproc()),
            SPARK_GRAFT_DRIVER_MEM=driver_mem,
            SPARK_LOCAL_DIRS=self.sub("spark-local"),
            SPARK_GRAFT_ARTIFACTS=self.sub("artifacts"),
            PYTHONPATH=ROOT + os.pathsep + env.get("PYTHONPATH", ""),
            PYTHONHASHSEED="0",
            # temp files of Python, Spark and the JVM stay in the run dir
            TMPDIR=self.sub("tmp"),
            JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={self.sub('tmp')} -XX:-UsePerfData",
        )
        return env

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)  # only when no other run is using it
        except OSError:
            pass


def apply_env(env: dict[str, str]) -> None:
    """Adopt ``env`` in this process (the Spark workloads run the
    program in-process, and pyspark reads these at session start)."""
    import tempfile

    os.environ.update(env)
    tempfile.tempdir = env["TMPDIR"]
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def free_port() -> int:
    """A free port below the kernel's ephemeral range. A port the kernel
    hands out (bind to port 0) is free only until the server binds it:
    in between, the server's own JVM opens ephemeral ports of its own
    and may take it."""
    import random

    try:
        with open("/proc/sys/net/ipv4/ip_local_port_range") as f:
            first_ephemeral = int(f.read().split()[0])
    except (OSError, ValueError, IndexError):
        first_ephemeral = 32768
    rng = random.Random(os.getpid() ^ time.monotonic_ns())
    for _ in range(200):
        port = rng.randrange(10000, max(first_ephemeral, 10001))
        with socket.socket() as s:
            try:
                s.bind(("127.0.0.1", port))
            except OSError:
                continue
        return port
    raise RuntimeError("no free port below the ephemeral range")


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty list."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, -(-len(s) * q // 100) - 1))
    return s[int(k)]


def summary(values: list[float], tail_q: float = 99) -> dict:
    """Sample count, p50 and the ``tail_q`` percentile; each workload
    fixes ``tail_q`` so that at least ten samples lie beyond it."""
    return {
        "n": len(values),
        "p50": percentile(values, 50),
        "tail": percentile(values, tail_q),
    }


def steal_ticks() -> int:
    """Cumulative CPU steal time (clock ticks) from /proc/stat; 0 where
    the kernel does not report it."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8])
    except (OSError, IndexError, ValueError):
        return 0


def fs_type(path: str) -> str:
    try:
        out = subprocess.run(
            ["stat", "-f", "-c", "%T", path],
            capture_output=True, text=True, timeout=10,
        )
        return out.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def code_fingerprint() -> str:
    """sha1 over the program's sources: identifies the tree measured
    even in a checkout that is not a git repository."""
    h = hashlib.sha1()
    pkg = os.path.join(ROOT, "eventlog_spark")
    for dirpath, dirnames, filenames in sorted(os.walk(pkg)):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".py"):
                p = os.path.join(dirpath, name)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:12]


def git_sha() -> str:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
        return out.stdout.strip()[:12] or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def host_record(seed: int, steal_start: int) -> dict:
    import importlib.metadata as md

    def version(pkg: str) -> str:
        try:
            return md.version(pkg)
        except md.PackageNotFoundError:
            return "missing"

    return {
        "nproc": nproc(),
        "log_fs": fs_type(ROOT),
        "pyspark": version("pyspark"),
        "pyarrow": version("pyarrow"),
        "git_sha": git_sha(),
        "code_sha": code_fingerprint(),
        "seed": seed,
        "steal_ticks": steal_ticks() - steal_start,
        "flush_policy": "no fsync per append (rename-publish only)",
    }


class Stopwatch:
    def __init__(self) -> None:
        self.t0 = time.perf_counter()

    def s(self) -> float:
        return time.perf_counter() - self.t0
