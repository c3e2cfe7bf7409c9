"""JSON endpoint of the benchmark, run as its own process so its CPU and
body copies stay out of the measured JVM.

    python3 perfbench/endpoint.py --rows N --seed S --port-file F [--frozen]

Paths:
  /payload           current payload version (the program's URL)
  /shadow            the same bytes, counted apart (traced fetch/parse probes)
  /publish?version=v build version v and serve it from now on; replies once
                     the bytes are ready, so building is never inside an op
  /stats             JSON request counts per version, per path

`--frozen` makes /publish a no-op: the endpoint never advances its
version. The self-check uses it to prove the refresh check fails on a
stale snapshot.
"""

import argparse
import json
import os
import sys
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from inputs import Payload  # noqa: E402


class State:
    def __init__(self, payload, frozen):
        self.payload = payload
        self.frozen = frozen
        self.lock = threading.Lock()
        self.version = 0
        self.body = payload.body(0)
        self.counts = {"payload": {}, "shadow": {}}

    def publish(self, version):
        if self.frozen:
            return self.version
        body = self.payload.body(version)
        with self.lock:
            self.version, self.body = version, body
        return version

    def serve(self, path):
        with self.lock:
            v, body = self.version, self.body
            per = self.counts[path]
            per[v] = per.get(v, 0) + 1
        return body


def handler(state):
    class Handler(BaseHTTPRequestHandler):
        def _reply(self, body, ctype="application/json"):
            self.send_response(200)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self):
            url = urlparse(self.path)
            if url.path in ("/payload", "/shadow"):
                self._reply(state.serve(url.path[1:]))
            elif url.path == "/publish":
                v = int(parse_qs(url.query)["version"][0])
                self._reply(str(state.publish(v)).encode(), "text/plain")
            elif url.path == "/stats":
                with state.lock:
                    snap = json.dumps(state.counts)
                self._reply(snap.encode())
            else:
                self.send_error(404)

        def log_message(self, *args):
            pass

    return Handler


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--port-file", required=True)
    ap.add_argument("--frozen", action="store_true")
    a = ap.parse_args()
    state = State(Payload(a.rows, a.seed), a.frozen)
    server = ThreadingHTTPServer(("127.0.0.1", 0), handler(state))
    server.daemon_threads = True
    tmp = a.port_file + ".tmp"
    with open(tmp, "w") as f:
        f.write(str(server.server_address[1]))
    os.replace(tmp, a.port_file)
    server.serve_forever()


if __name__ == "__main__":
    main()
