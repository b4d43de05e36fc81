"""Stand-in for Solr's JSON update endpoint, run as its own process.

    python3 perfbench/solr_stub.py      # prints the bound port, then serves

``POST /solr/update`` takes a JSON list of documents, as
``docpipe.solr_sink.http_transport`` sends them, and answers like Solr.
The stub keeps per-phase counts so the benchmark can check delivery
without trusting the program's own summary:

- ``POST /_phase`` with ``{"sample_ids": [...]}`` starts a new phase;
- ``GET /_stats`` returns the phase's posts, docs, bytes, duplicate ids,
  re-sent batches, handler busy time, a digest of the sorted distinct
  ids and the captured sample documents.

Only 127.0.0.1 is bound.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer


class Phase:
    def __init__(self, sample_ids: list[str]) -> None:
        self.sample_ids = set(sample_ids)
        self.samples: dict[str, dict] = {}
        self.ids: set[str] = set()
        self.batch_digests: set[bytes] = set()
        self.posts = self.docs = self.bytes = 0
        self.dup_docs = self.resent = self.bad_docs = 0
        self.busy_s = 0.0

    def add(self, body: bytes, docs: list) -> None:
        digest = hashlib.sha256(body).digest()
        self.posts += 1
        self.bytes += len(body)
        if digest in self.batch_digests:
            self.resent += 1
        self.batch_digests.add(digest)
        for doc in docs:
            did = doc.get("id") if isinstance(doc, dict) else None
            if not isinstance(did, str):
                self.bad_docs += 1
                continue
            self.docs += 1
            if did in self.ids:
                self.dup_docs += 1
            self.ids.add(did)
            if did in self.sample_ids:
                self.samples[did] = doc

    def stats(self) -> dict:
        ids = sorted(self.ids)
        return {
            "posts": self.posts,
            "docs": self.docs,
            "bytes": self.bytes,
            "distinct": len(ids),
            "ids_sha256": hashlib.sha256("\n".join(ids).encode()).hexdigest(),
            "dup_docs": self.dup_docs,
            "resent_batches": self.resent,
            "bad_docs": self.bad_docs,
            "busy_s": self.busy_s,
            "samples": self.samples,
        }


class Stub:
    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.phase = Phase([])


def make_handler(stub: Stub):
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *args) -> None:  # keep stderr quiet
            pass

        def _reply(self, code: int, payload: dict) -> None:
            out = json.dumps(payload).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(out)))
            self.end_headers()
            self.wfile.write(out)

        def _body(self) -> bytes:
            return self.rfile.read(int(self.headers.get("Content-Length", 0)))

        def do_POST(self) -> None:
            t0 = time.perf_counter()
            body = self._body()
            path = self.path.split("?", 1)[0]
            if path == "/_phase":
                with stub.lock:
                    stub.phase = Phase(json.loads(body or b"{}").get("sample_ids", []))
                self._reply(200, {"ok": True})
                return
            if not path.endswith("/update"):
                self._reply(404, {"error": path})
                return
            try:
                docs = json.loads(body)
            except ValueError:
                self._reply(400, {"error": "invalid JSON"})
                return
            if not isinstance(docs, list):
                self._reply(400, {"error": "expected a JSON list"})
                return
            with stub.lock:
                stub.phase.add(body, docs)
                stub.phase.busy_s += time.perf_counter() - t0
            self._reply(200, {"responseHeader": {"status": 0, "QTime": 0}})

        def do_GET(self) -> None:
            if self.path != "/_stats":
                self._reply(404, {"error": self.path})
                return
            with stub.lock:
                stats = stub.phase.stats()
            self._reply(200, stats)

    return Handler


def exit_with_parent() -> None:
    """Stop serving once the benchmark that started the stub is gone."""
    parent = os.getppid()
    while os.getppid() == parent:
        time.sleep(1.0)
    os._exit(0)


def main() -> int:
    server = ThreadingHTTPServer(("127.0.0.1", 0), make_handler(Stub()))
    server.daemon_threads = True
    threading.Thread(target=exit_with_parent, daemon=True).start()
    print(server.server_address[1], flush=True)
    try:
        server.serve_forever(poll_interval=0.2)
    except KeyboardInterrupt:
        pass
    finally:
        server.server_close()
    return 0


if __name__ == "__main__":
    sys.exit(main())
