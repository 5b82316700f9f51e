"""O26 HTTP serving facade — the reference's 7-endpoint API over an
EventLog (api/fasthttp/serve.go:20-93; README.md:16-67).

Routes and response shapes are byte-compatible with the reference:

* ``POST /log/``                  append (binary wire body, O24)
* ``POST /log/:assumedVersion``   OCC append
* ``GET  /log/:version?n=&reverse&skip_first``  scan (hex versions,
  RFC3339 times, raw JSON payload inline)
* ``GET  /version``               ``{"version":"<hex>"}``
* ``GET  /version/initial``       ``{"version-initial":"<hex>"}``
* ``GET  /meta``                  metadata JSON object
* ``GET  /subscription``          head-version push, two transports:
  - WebSocket (parity with serve.go:381-463): a request carrying
    ``Upgrade: websocket`` is upgraded per RFC 6455 (handshake +
    framing implemented here on the stdlib server — no dependency) and
    receives the current head immediately, then every new head as a
    text frame of lowercase hex. Latest-wins: heads conflate through
    the hub's 1-slot queue exactly like the reference's non-blocking
    broadcast (broadcast.go:24-27). Client twin: wsclient.py.
  - Long-poll fallback: ``?known=<hex>&timeout=<sec>`` blocks until
    the head advances past ``known`` (or timeout → 204) and returns
    the hex head.

Error strings mirror internal/internal.go (ErrInvalidPayload,
ErrMismatchingVersions, ErrInvalidVersion, ErrMalformedVersion,
ErrBadArgument, ErrPayloadSizeLimitExceeded) with status 400.

Serving scans read only the head pages of the log table — heavy
analytics stay on the Spark surface; this facade exists for drop-in
client compatibility (SURVEY §7 phase 7).
"""

from __future__ import annotations

import base64
import hashlib
import json
import select
import struct
import threading
import time
from datetime import datetime, timezone
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from .errors import (
    EventLogError,
    InvalidLabel,
    InvalidPayload,
    InvalidVersion,
    MismatchingVersions,
    PayloadSizeLimitExceeded,
)
from .log import EventLog
from .wire import WireCodecError, decode

DEFAULT_MAX_READ_BATCH = 1000


def adjust_batch_size(requested: int, limit: int) -> int:
    """serve.go:473-483 verbatim semantics."""
    if limit == 0:
        return requested
    if requested == 0 or requested > limit:
        return limit
    return requested


def _rfc3339(ts: int) -> str:
    return (
        datetime.fromtimestamp(ts, tz=timezone.utc)
        .isoformat(timespec="seconds")
        .replace("+00:00", "Z")
    )


class EventLogHTTPServer(ThreadingHTTPServer):
    daemon_threads = True

    def __init__(self, addr, log: EventLog, max_read_batch_size: int = DEFAULT_MAX_READ_BATCH):
        super().__init__(addr, _Handler)
        self.log = log
        self.max_read_batch_size = max_read_batch_size


_WS_GUID = "258EAFA5-E914-47DA-95CA-C5AB0DC85B11"  # RFC 6455 §1.3


class _Handler(BaseHTTPRequestHandler):
    server: EventLogHTTPServer
    protocol_version = "HTTP/1.1"  # required for the websocket upgrade
    disable_nagle_algorithm = True  # keep-alive + Nagle = 40 ms stalls

    def log_message(self, *a):  # silence default stderr access log
        pass

    # -- helpers -----------------------------------------------------------

    def _send(self, status: int, body: str | bytes, ctype: str = "application/json"):
        data = body.encode() if isinstance(body, str) else body
        self.send_response(status)
        self.send_header("Content-Type", ctype)
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)

    def _err(self, msg: str, status: int = 400):
        self._send(status, msg, ctype="text/plain")

    def _append_response(self, r) -> str:
        doc = {
            "version": format(r.version, "x"),
            "version-previous": format(r.version_previous, "x"),
        }
        if r.version_first != r.version:
            doc["version-first"] = format(r.version_first, "x")
        doc["time"] = _rfc3339(r.timestamp)
        return json.dumps(doc)

    # -- POST --------------------------------------------------------------

    def do_POST(self):
        path = urlparse(self.path).path
        if not path.startswith("/log/"):
            self._send(404, "not found", ctype="text/plain")
            return
        body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
        try:
            events = decode(body)
        except WireCodecError:
            self._err("ErrInvalidPayload")
            return

        log = self.server.log
        suffix = path[len("/log/") :]
        try:
            if suffix:
                try:
                    assumed = int(suffix, 16)
                except ValueError:
                    self._err("ErrMalformedVersion")
                    return
                r = log.append_check_multi(assumed, events)
            else:
                r = log.append_multi(events)
        except MismatchingVersions:
            self._err("ErrMismatchingVersions")
            return
        except PayloadSizeLimitExceeded:
            self._err("ErrPayloadSizeLimitExceeded")
            return
        except (InvalidPayload, InvalidLabel):
            self._err("ErrInvalidPayload")
            return
        self._send(200, self._append_response(r))

    # -- GET ---------------------------------------------------------------

    def do_GET(self):
        url = urlparse(self.path)
        path, q = url.path, parse_qs(url.query, keep_blank_values=True)
        log = self.server.log
        if path == "/version":
            self._send(200, '{"version":"%s"}' % format(log.version(), "x"))
        elif path in ("/version/initial", "/version-initial"):
            self._send(200, '{"version-initial":"%s"}' % format(log.version_initial(), "x"))
        elif path == "/meta":
            self._send(200, json.dumps(log.metadata()))
        elif path == "/subscription":
            if "websocket" in self.headers.get("Upgrade", "").lower():
                self._subscription_ws()
            else:
                self._subscription(q)
        elif path.startswith("/log/"):
            self._scan(path[len("/log/") :], q)
        else:
            self._send(404, "not found", ctype="text/plain")

    def _scan(self, version_hex: str, q):
        log = self.server.log
        try:
            version = int(version_hex, 16)  # empty → ValueError, like the
            # reference's hex.ReadUint64 on an empty path segment
        except ValueError:
            self._err("ErrMalformedVersion")
            return
        try:
            n = int(q["n"][0]) if "n" in q else 0
        except ValueError:
            self._err("ErrBadArgument")
            return
        n = adjust_batch_size(n, self.server.max_read_batch_size)
        reverse = "reverse" in q
        skip_first = "skip_first" in q
        # extension beyond the reference's version-only route: a label
        # query param serves a label-filtered page through the same
        # driver-side path, with manifest data skipping (log.py)
        # a blank ``?label=`` (parse_qs keeps blank values) means "no
        # filter", not "the empty-string label" — '' is not a valid
        # label anyway, so filtering on it would silently return []
        label = (q["label"][0] or None) if q.get("label") else None
        try:
            # driver-side page read (log.py:scan_rows): a ≤1000-event HTTP
            # page must not schedule a Spark job — same reasoning as the
            # reference's O(1) offset seek per scan (read_event.go:37)
            rows = log.scan_rows(
                version=version,
                reverse=reverse,
                limit=n or None,
                skip_first=skip_first,
                label=label,
            )
        except InvalidVersion:
            self._err("ErrInvalidVersion")
            return
        except EventLogError:
            self._err("ErrBadArgument")
            return
        parts = []
        times: dict[int, str] = {}  # a page's events share a few seconds
        for e in rows:
            t = times.get(e.timestamp)
            if t is None:
                t = times[e.timestamp] = _rfc3339(e.timestamp)
            parts.append(
                '{"time":"%s","version":"%s","version-previous":"%s",'
                '"version-next":"%s","label":"%s","payload":%s}'
                % (
                    t,
                    format(e.version, "x"),
                    format(e.version_prev, "x"),
                    format(e.version_next, "x"),
                    e.label,
                    e.payload,
                )
            )
        self._send(200, "[" + ",".join(parts) + "]")

    # -- websocket subscription (serve.go:381-463 parity) -------------------

    def _ws_send_text(self, text: str) -> None:
        data = text.encode("utf-8")
        # server frames are unmasked; heads are tiny → 7-bit length
        self.connection.sendall(struct.pack("!BB", 0x81, len(data)) + data)

    def _ws_client_closed(self) -> bool:
        """Non-blocking peek: consume any client frame; True on close
        frame or EOF. (Clients only ever send close/ping here.)

        poll(), not select(): select() raises on any fd ≥ FD_SETSIZE
        (1024), so with ~1000 concurrent subscribers every later-accepted
        ws connection crashed its handler mid-subscription — found by
        the 1k-subscriber fan-out stress (tools/fanout_stress.py);
        poll() has no fd-value limit."""
        p = select.poll()
        p.register(self.connection, select.POLLIN)
        if not p.poll(0):
            return False
        hdr = self.connection.recv(2)
        if len(hdr) < 2:
            return True
        opcode = hdr[0] & 0x0F
        length = hdr[1] & 0x7F
        masked = hdr[1] & 0x80
        if length == 126:
            length = struct.unpack("!H", self.connection.recv(2))[0]
        elif length == 127:
            length = struct.unpack("!Q", self.connection.recv(8))[0]
        mask = self.connection.recv(4) if masked else b""
        payload = self.connection.recv(length) if length else b""
        if opcode == 0x8:  # close
            return True
        if opcode == 0x9:  # ping → pong (echo payload, unmasked)
            if masked and payload:
                payload = bytes(b ^ mask[i % 4] for i, b in enumerate(payload))
            self.connection.sendall(struct.pack("!BB", 0x8A, len(payload)) + payload)
        return False

    def _subscription_ws(self):
        key = self.headers.get("Sec-WebSocket-Key", "")
        accept = base64.b64encode(
            hashlib.sha1((key + _WS_GUID).encode()).digest()
        ).decode()
        self.send_response(101, "Switching Protocols")
        self.send_header("Upgrade", "websocket")
        self.send_header("Connection", "Upgrade")
        self.send_header("Sec-WebSocket-Accept", accept)
        self.end_headers()
        self.close_connection = True

        log = self.server.log
        queue_, close = log.subscribe()
        try:
            # reference behavior: the new subscriber immediately learns
            # the current head, then every push (latest-wins conflation)
            self._ws_send_text(format(log.version(), "x"))
            while not self._ws_client_closed():
                try:
                    head = queue_.get(timeout=0.25)
                except Exception:
                    continue
                self._ws_send_text(format(head, "x"))
        except (BrokenPipeError, ConnectionResetError, OSError):
            pass
        finally:
            close()

    def _subscription(self, q):
        log = self.server.log
        try:
            known = int(q["known"][0], 16) if "known" in q else log.version()
            timeout = float(q["timeout"][0]) if "timeout" in q else 30.0
        except ValueError:
            self._err("ErrBadArgument")
            return
        queue_, close = log.subscribe()
        try:
            head = log.version()
            deadline = time.monotonic() + timeout
            while head <= known:
                remaining = deadline - time.monotonic()
                if remaining <= 0:
                    self.send_response(204)
                    self.end_headers()
                    return
                try:
                    head = queue_.get(timeout=remaining)
                except Exception:
                    continue
            self._send(200, format(head, "x"), ctype="text/plain")
        finally:
            close()


def serve(log: EventLog, host: str = "127.0.0.1", port: int = 8080) -> EventLogHTTPServer:
    """Start the facade in a daemon thread; returns the server (call
    ``.shutdown()`` to stop)."""
    srv = EventLogHTTPServer((host, port), log)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    return srv
