"""HTTP serving layer (scripts/serve.py — the reference's
io/server.java demo role): search/count/surround/health endpoints over
one reused Searcher."""

import json
import os
import sys
import threading
import urllib.error
import urllib.parse
import urllib.request
from http.server import HTTPServer

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..",
                                "scripts"))


def _get(port, path):
    try:
        with urllib.request.urlopen(
                f"http://127.0.0.1:{port}{path}", timeout=60) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:  # 4xx still carries a JSON body
        return e.code, json.loads(e.read())


def test_http_endpoints(spark, tmp_path):
    from serve import make_handler

    from lucene_7_x_9_x_spark.index import IndexSnapshot, build_index
    from lucene_7_x_9_x_spark.searcher import Searcher
    d = str(tmp_path / "serve_idx")
    docs = spark.createDataFrame(
        [(0, "fast scan of the table"), (1, "slow scan again"),
         (2, "join the hash build"), (3, "nothing to see")],
        "doc_id long, text string")
    build_index(spark, docs, d, id_cols=["doc_id"], text_col="text",
                num_segments=2)
    s = Searcher(IndexSnapshot(spark, d))
    srv = HTTPServer(("127.0.0.1", 0), make_handler(s))
    port = srv.server_address[1]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        code, h = _get(port, "/health")
        assert code == 200 and h["max_doc"] == 4
        code, r = _get(port, "/search?q=scan&k=5")
        assert code == 200
        assert sorted(hit["doc_id"] for hit in r["hits"]) == [0, 1]
        assert all(hit["score"] > 0 for hit in r["hits"])
        code, r = _get(port, "/count?q=scan")
        assert code == 200 and r["count"] == 2
        code, r = _get(port, "/surround?q=2W(fast,%20scan)&k=5")
        assert code == 200 and [h["doc_id"] for h in r["hits"]] == [0]
        code, r = _get(port, "/search?q=" + urllib.parse.quote('"AND('))
        assert code == 400 and "error" in r
        code, r = _get(port, "/search?q=scan&k=abc")
        assert code == 400 and "k must be" in r["error"]
        code, r = _get(port, "/surround?q=2W(fast,%20scan)&k=0")
        assert code == 400 and "k must be" in r["error"]
        code, r = _get(port, "/nope")
        assert code == 404
    finally:
        srv.shutdown()


def test_engine_failure_is_500():
    """A failure inside the engine is the server's fault: 500, not 400."""
    from serve import make_handler

    class Broken:
        def search(self, query, k):
            raise RuntimeError("executor lost")

    srv = HTTPServer(("127.0.0.1", 0), make_handler(Broken()))
    port = srv.server_address[1]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        code, r = _get(port, "/search?q=scan&k=3")
        assert code == 500 and "RuntimeError" in r["error"]
    finally:
        srv.shutdown()
        srv.server_close()
