"""Minimal HTTP search endpoint over a built index — the reference repo's
serving demo role (`LuceneDemo/src/main/java/io/server.java`: a search
service in front of an IndexSearcher), stdlib-only (http.server + json).

    python scripts/serve.py /path/to/index [--port 8080] [--hot]

Endpoints (GET, JSON responses):
    /search?q=<classic query string>&k=10     parsed top-k BM25
    /surround?q=3W(a,b)&k=10                  surround proximity syntax
    /count?q=<query string>                   hit count (metadata fast
                                              paths apply)
    /health                                   index stats

Errors are JSON {"error": ...}: 400 for a query that does not parse or a
k that is not a positive integer, 404 for an unknown path, 500 for any
failure inside the engine.

Serving notes: one Searcher (one SparkSession) serves every request —
the IndexSearcher-reuse model; `--hot` turns on cache_index (persisted
postings + broadcast norms, the dedicated-search-node shape).  The
handler is single-threaded by design: Spark jobs from one driver
serialize anyway, and queueing at the HTTP layer keeps per-query
latency honest."""

from __future__ import annotations

import argparse
import json
import os
import sys
import traceback
import urllib.parse
from http.server import BaseHTTPRequestHandler, HTTPServer

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


class BadRequest(ValueError):
    """A request parameter the client must fix (answered 400)."""


def _parse_k(qs) -> int:
    raw = (qs.get("k") or ["10"])[0]
    try:
        k = int(raw)
    except ValueError:
        k = 0
    if k < 1:
        raise BadRequest(f"k must be a positive integer, got {raw!r}")
    return k


def make_handler(searcher):
    from lucene_7_x_9_x_spark.plans.parser import QueryParseError, parse
    from lucene_7_x_9_x_spark.plans.surround import (SurroundParseError,
                                                     parse_surround)

    class Handler(BaseHTTPRequestHandler):
        def _json(self, code: int, obj) -> None:
            body = json.dumps(obj).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):  # quiet access log
            pass

        def do_GET(self):
            u = urllib.parse.urlparse(self.path)
            qs = urllib.parse.parse_qs(u.query)
            q = (qs.get("q") or [""])[0]
            try:
                if u.path == "/health":
                    st = searcher.index.stats
                    return self._json(200, {
                        "max_doc": int(st["max_doc"]),
                        "num_segments": len(searcher.index.segments())
                        if hasattr(searcher.index, "segments")
                        else searcher.index.manifest.get("num_segments"),
                        "default_field": searcher.index.default_field})
                if u.path in ("/search", "/surround"):
                    k = _parse_k(qs)
                    parsed = (parse_surround(q) if u.path == "/surround"
                              else parse(q))
                    rows = searcher.search(parsed, k).collect()
                    return self._json(200, {"query": q, "hits": [
                        {"rank": int(r["rank"]),
                         **{c: (int(r[c]) if isinstance(r[c], int)
                                else r[c])
                            for c in searcher.index.id_cols},
                         "score": float(r["score"])} for r in rows]})
                if u.path == "/count":
                    return self._json(
                        200, {"query": q,
                              "count": int(searcher.count(parse(q)))})
                return self._json(404, {"error": "unknown endpoint"})
            except (QueryParseError, SurroundParseError, BadRequest) as e:
                return self._json(400, {"error": str(e)})
            except Exception as e:  # engine failure: the server's fault
                traceback.print_exc()
                return self._json(500, {"error": f"{type(e).__name__}: {e}"})

    return Handler


def serve(index_dir: str, port: int = 8080, hot: bool = False,
          cpus: int = 8):
    from lucene_7_x_9_x_spark.index import IndexSnapshot
    from lucene_7_x_9_x_spark.searcher import Searcher
    from lucene_7_x_9_x_spark.session import local_session
    spark = local_session(cpus)
    s = Searcher(IndexSnapshot(spark, index_dir), cache_index=hot)
    srv = HTTPServer(("127.0.0.1", port), make_handler(s))
    print(f"serving {index_dir} on http://127.0.0.1:{port}")
    srv.serve_forever()


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("index_dir")
    ap.add_argument("--port", type=int, default=8080)
    ap.add_argument("--hot", action="store_true")
    ap.add_argument("--cpus", type=int, default=8)
    a = ap.parse_args()
    serve(a.index_dir, a.port, a.hot, a.cpus)
