"""Start the HTTP facade with the span wrappers installed.

    python perfbench/launcher.py <span file> run <log> --port P

installs ``tracer.install_server`` and then calls
``eventlog_spark.cli.main(["run", ...])``; on SIGTERM it writes the
spans to ``<span file>`` and exits.
"""

from __future__ import annotations

import os
import signal
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tracer import Spans, install_server  # noqa: E402


def main() -> int:
    span_file, argv = sys.argv[1], sys.argv[2:]
    spans = Spans()
    install_server(spans)

    def stop(signum, frame):
        spans.dump(span_file)
        os._exit(0)  # the caller reaps the JVM with the process group

    signal.signal(signal.SIGTERM, stop)
    from eventlog_spark import cli

    return cli.main(argv)


if __name__ == "__main__":
    sys.exit(main())
