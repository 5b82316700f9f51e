"""Start and stop the HTTP facade as its own process.

Untraced runs start the server as shipped
(``python -m eventlog_spark.cli run <log> --port P``); traced runs start
``perfbench/launcher.py``, which installs the span wrappers and then
calls the same ``cli.main(["run", ...])``.
"""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import time

from common import BENCH_DIR, free_port

READY_TIMEOUT_S = 150


class Server:
    def __init__(self, log_dir: str, env: dict, cwd: str, span_file: str | None):
        self.port = free_port()
        args = ["run", log_dir, "--port", str(self.port)]
        if span_file is None:
            cmd = [sys.executable, "-m", "eventlog_spark.cli", *args]
        else:
            cmd = [sys.executable, os.path.join(BENCH_DIR, "launcher.py"), span_file, *args]
        self.traced = span_file is not None
        self._stderr = open(os.path.join(cwd, "server.stderr"), "w")
        # own session: the server's JVM and hash-pool workers are its
        # children, and stop() reaps the whole group
        self.proc = subprocess.Popen(
            cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
            stderr=self._stderr, text=True, start_new_session=True,
        )
        self.stderr_path = self._stderr.name

    def wait_ready(self) -> None:
        """Block until the server prints its listening line."""
        deadline = time.monotonic() + READY_TIMEOUT_S
        while time.monotonic() < deadline:
            line = self.proc.stdout.readline()
            if line.startswith("listening on"):
                return
            if not line and self.proc.poll() is not None:
                break
        self.stop()
        with open(self.stderr_path) as f:
            tail = f.read()[-2000:]
        raise RuntimeError(f"server did not start:\n{tail}")

    def stop(self) -> None:
        if self.proc.poll() is None and self.traced:
            # the launcher writes its spans on SIGTERM, then exits
            self.proc.send_signal(signal.SIGTERM)
            try:
                self.proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                pass
        # every commit is published before its ack, so nothing is lost by
        # killing the group outright
        try:
            os.killpg(self.proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        self.proc.wait()
        # the JVM may outlive its parent briefly: wait for the group
        deadline = time.monotonic() + 30
        while time.monotonic() < deadline:
            try:
                os.killpg(self.proc.pid, 0)
            except ProcessLookupError:
                break
            time.sleep(0.05)
        else:
            try:
                os.killpg(self.proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        self.proc.stdout.close()
        self._stderr.close()
