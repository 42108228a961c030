"""Live HTTP ingestion endpoints: socket-listening receivers that land
request bodies for the Structured Streaming pipeline.

Reference surface being restated (forward_server.go:15-80,
agent/http.go:16-95):

- ``POST /v1/submit-batch`` — the forward server's batch intake, with
  optional shared-key auth (``Authorization: <name>:<key>``,
  forward_server.go:37-57).
- ``POST /v1/data`` — the agent's long-form metrics/events/logs push
  (agent/http.go:42-70), re-keyed to the submit-batch ``m``/``l``/``e``
  keys before landing.
- ``POST /v1/webhook`` — arbitrary webhook wrap into a
  ``yamon-agent.webhook`` event (agent/http.go:73-95), landed as a
  one-event submit-batch body.
- ``GET /metrics`` — self-metrics in Prometheus text exposition
  (both servers mount promhttp.Handler()).

Architecture: the receiver does NO Spark work. Each accepted body is
published atomically by exec_source._publish (tmp + rename, the
landing-zone contract every acquisition shim shares) into a landing
directory. All three push endpoints land ONE format, submit-batch
bodies in ``submit_batch/``, so one streaming pipeline
(``readStream.text`` + ``parse_batch``) consumes every acknowledged
body. That keeps acquisition at the edge and lets ingestion scale by
adding receivers, not executors — on a 1000-executor cluster the
receivers write to object storage and the file stream source lists new
objects, so the intake path has no coupling to cluster size. Bodies
that fail JSON validation are 400'd AND dead-lettered to ``rejects/``
(the reference only 400s, forward_server.go:61-63; persisting them
feeds wire.parse_rejects so nothing is silently lost).
"""

from __future__ import annotations

import hmac
import json
import os
import threading
import time
from collections import Counter
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs

from yamon_spark.sources.exec_source import _publish

SUBMIT_BATCH_DIR = "submit_batch"
# POST /v1/data's long-form top-level keys (agent/http.go:36-40) ->
# the submit-batch keys (common/batch.go:3-7) every landed line uses
_LONG_KEYS = {"metrics": "m", "logs": "l", "events": "e"}
# Intake endpoints face untrusted clients: cap accepted bodies so a single
# request cannot balloon receiver memory (reference relies on chi defaults;
# http.server has no built-in limit).
MAX_BODY_BYTES = 32 * 1024 * 1024
DOCUMENTS_DIR = "documents"
REJECTS_DIR = "rejects"


class IngestHTTPServer:
    """Threaded HTTP ingestion receiver. ``keys`` enables submit-batch
    auth exactly like the reference: header ``Authorization: name:key``
    must match an entry; an empty/None mapping disables auth
    (forward_server.go:20-24)."""

    def __init__(self, landing_root: str, keys: dict[str, str] | None = None, host: str = "127.0.0.1", port: int = 0):
        self.landing_root = landing_root
        self.keys = keys or None
        self.stats: Counter[tuple[str, int]] = Counter()
        # handler threads mutate stats concurrently (Counter += is a
        # read-modify-write) and /metrics iterates it; one lock covers both
        self._stats_lock = threading.Lock()
        outer = self

        class Handler(BaseHTTPRequestHandler):
            # socket timeout: a client that stalls mid-body (slowloris)
            # gets its connection dropped instead of pinning a handler
            # thread forever (ThreadingHTTPServer spawns per-connection)
            timeout = 30

            def log_message(self, *a):  # quiet; stats replace the chi logger middleware
                pass

            def _respond(self, endpoint: str, status: int, body: bytes = b"") -> None:
                with outer._stats_lock:
                    outer.stats[(endpoint, status)] += 1
                self.send_response(status)
                self.send_header("Content-Length", str(len(body)))
                if body:
                    self.send_header("Content-Type", "text/plain; version=0.0.4")
                self.end_headers()
                if body:
                    self.wfile.write(body)

            def _read_body(self) -> bytes | None:
                """Read the request body, or None (413 already sent) when it
                exceeds MAX_BODY_BYTES. Untrusted Content-Length is never
                trusted as an allocation size."""
                try:
                    length = int(self.headers.get("Content-Length", 0) or 0)
                except ValueError:
                    length = 0
                if length > MAX_BODY_BYTES:
                    self._respond("other", 413)
                    return None
                return self.rfile.read(max(length, 0))

            def do_GET(self):  # noqa: N802 - http.server API
                # route on the path only (reference's chi router ignores
                # the query string); also applies to do_POST below
                if self.path.split("?", 1)[0] != "/metrics":
                    # unknown paths share one stats label: arbitrary client
                    # paths must not grow the Counter (or /metrics) unboundedly
                    self._respond("other", 404)
                    return
                with outer._stats_lock:
                    snapshot = sorted(outer.stats.items())
                lines = [
                    "# TYPE yamon_http_requests_total counter",
                    *(
                        f'yamon_http_requests_total{{endpoint="{ep}",status="{st}"}} {n}'
                        for (ep, st), n in snapshot
                    ),
                ]
                self._respond("/metrics", 200, ("\n".join(lines) + "\n").encode())

            def do_POST(self):  # noqa: N802 - http.server API
                body = self._read_body()
                if body is None:  # oversized: 413 already sent
                    return
                path = self.path.split("?", 1)[0]
                if path == "/v1/submit-batch":
                    if not outer._authorized(self.headers.get("Authorization", "")):
                        self._respond(path, 401)
                        return
                    self._land_json(body, "batch")
                elif path == "/v1/data":
                    self._land_json(body, "data", long_form=True)
                elif path == "/v1/documents":
                    # corpus intake: one JSON document per line (the
                    # streaming corpus pipeline's wire format). Each line
                    # validates independently; bad lines dead-letter
                    # without rejecting the rest of the batch.
                    good, bad = [], []
                    # split on newline only: str.splitlines() also breaks
                    # on U+2028/U+2029, which are legal raw inside JSON
                    # strings and would shear a valid document in two
                    for line in body.decode("utf-8", errors="replace").split("\n"):
                        line = line.rstrip("\r")
                        if not line.strip():
                            continue
                        try:
                            json.loads(line)
                            # a lone CR breaks the line for Spark's text
                            # source; it is whitespace (see _land_json)
                            good.append(line.replace("\r", " "))
                        except ValueError:
                            bad.append(line)
                    _publish(os.path.join(outer.landing_root, REJECTS_DIR), bad, "reject")
                    _publish(os.path.join(outer.landing_root, DOCUMENTS_DIR), good, "docs")
                    self._respond(path, 204 if good else 400)
                elif path == "/v1/webhook":
                    line = outer._webhook_line(
                        body,
                        self.headers.get("Content-Type", ""),
                        self.client_address[0],
                    )
                    _publish(os.path.join(outer.landing_root, SUBMIT_BATCH_DIR), [line], "webhook")
                    self._respond(path, 204)
                else:
                    self._respond("other", 404)

            def _land_json(self, body: bytes, prefix: str, long_form: bool = False) -> None:
                # stats label is the NORMALIZED path: labeling with raw
                # self.path would mint a new (endpoint, status) Counter key
                # per distinct query string — unbounded metric cardinality
                # from unauthenticated clients, defeating the bounded-
                # Counter guard that routes unknown paths to 'other'
                path = self.path.split("?", 1)[0]
                text = body.decode("utf-8", errors="replace")
                try:
                    doc = json.loads(text)
                    # a scalar/array parses but can never produce rows in
                    # the struct-typed wire parsers — reject like the
                    # reference (whose json.Unmarshal into the Batch
                    # struct fails) instead of 204-ing into a void
                    if not isinstance(doc, dict):
                        raise ValueError("top-level JSON object required")
                except ValueError:
                    _publish(os.path.join(outer.landing_root, REJECTS_DIR), [text.rstrip("\n")], "reject")
                    self._respond(path, 400)
                    return
                if long_form:
                    # only the three long-form keys survive: the long-form
                    # parse never read any other key, short ones included
                    text = json.dumps({s: doc[k] for k, s in _LONG_KEYS.items() if k in doc})
                # Spark's text source breaks lines on LF, CR and CRLF;
                # json.loads rejects raw control characters inside
                # strings, so any raw LF/CR here is whitespace
                line = text.replace("\n", " ").replace("\r", " ")
                _publish(os.path.join(outer.landing_root, SUBMIT_BATCH_DIR), [line], prefix)
                self._respond(path, 204)

        self._server = ThreadingHTTPServer((host, port), Handler)
        self._thread: threading.Thread | None = None

    @property
    def port(self) -> int:
        return self._server.server_address[1]

    def _authorized(self, auth: str) -> bool:
        if self.keys is None:
            return True
        # exactly two ':'-separated parts, like the reference
        # (forward_server.go:38-56): "name:a:b" is rejected, not treated
        # as key "a:b"; comparison is constant-time.
        parts = auth.split(":")
        if len(parts) != 2:
            return False
        name, key = parts
        expected = self.keys.get(name)
        # compare as bytes: compare_digest raises TypeError on non-ASCII
        # str inputs, which would turn a malformed header into a 500
        return expected is not None and hmac.compare_digest(
            expected.encode("utf-8", "replace"), key.encode("utf-8", "replace")
        )

    def _webhook_line(self, body: bytes, content_type: str, remote_addr: str) -> str:
        """Wrap a webhook request as one event (agent/http.go:73-95
        semantics): form values that parse as JSON inline, others stay
        strings; remote-addr + content-type become tags. The line is a
        one-event submit-batch body, the single landing format, so the
        pipeline needs no webhook-specific parser."""
        data: dict = {}
        text = body.decode("utf-8", errors="replace")
        if content_type.startswith("application/x-www-form-urlencoded"):
            for k, vs in parse_qs(text).items():
                try:
                    data[k] = json.loads(vs[0])
                except ValueError:
                    data[k] = vs[0]
        else:  # JSON (or anything JSON-shaped); non-JSON kept raw
            try:
                data = json.loads(text) if text else {}
            except ValueError:
                data = {"body": text}
        event = {
            "t": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "e": "yamon-agent.webhook",
            "d": json.dumps(data, sort_keys=True),
            "g": {"remote-addr": remote_addr, "content-type": content_type},
        }
        return json.dumps({"e": [event]})

    def start(self) -> "IngestHTTPServer":
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._server.shutdown()
        self._server.server_close()
        if self._thread:
            self._thread.join(timeout=5)
