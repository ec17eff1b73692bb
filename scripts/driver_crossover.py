"""Where a cold single search stops being cheaper on the driver.

Builds one seeded synth_corpus index per doc count (perfbench's build:
8 hash segments, ids repo/path/commit) and, on each, times cold single
queries through a fresh `Searcher(idx)` twice: on the driver path and on
the Spark path (`_local = False` on the instance). The queries are
perfbench's cold_single mix (or3, and2, phrase2 over Zipf-drawn terms),
the two paths alternate which runs first, and every pair of answers is
compared row for row. The session is perfbench's local[min(2, nproc)]
shape with a 2 GB driver heap (the larger builds need more than 1 GB).

Both paths are forced on the instance (`_local`), so sizes above the
driver-path bound are measured too. For each index it prints the postings
bytes (the quantity the gate bounds, `searcher.DRIVER_POSTINGS_BYTES`)
and, per path, the median and 90th-percentile wall ms per query; the last
stdout line is one JSON list of those records.

Usage: python scripts/driver_crossover.py [n_docs ...] [--queries N]
       [--work DIR]   (defaults: 10000 50000 100000 200000 400000 800000;
                       45 queries; a new temporary directory)
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "perfbench"))

from lucene_7_x_9_x_spark.session import local_session


def one_size(spark, work: str, n_docs: int, n_queries: int) -> dict:
    import numpy as np
    import workloads as wl
    from lucene_7_x_9_x_spark.index import build_index
    from lucene_7_x_9_x_spark.searcher import Searcher
    from lucene_7_x_9_x_spark.sources.corpus import synth_corpus

    root = os.path.join(work, f"idx_{n_docs}")
    t = time.perf_counter()
    idx = build_index(spark, synth_corpus(spark, n_docs), root,
                      id_cols=wl.ID_COLS, text_col=wl.TEXT_COL,
                      num_segments=wl.SEGMENTS)
    build_s = time.perf_counter() - t
    sampler = wl.TermSampler(root, wl.ZIPF_S)
    rng = np.random.default_rng([n_docs, 1])
    kinds = wl.ColdSingle.kinds
    terms = sampler.block(rng, n_queries, 3)
    queries = [wl.make_query(kinds[i % len(kinds)],
                             terms[i][:wl._ARITY[kinds[i % len(kinds)]]])
               for i in range(n_queries)]

    def run(q, local: bool):
        t0 = time.perf_counter()
        s = Searcher(idx)
        s._local = local  # forced both ways, also above the bound
        rows = [tuple(r) for r in s.search(q, wl.K).collect()]
        return (time.perf_counter() - t0) * 1000, rows, s._driver_path()

    for q in queries[:3]:  # warm: JIT, the Python worker daemon
        run(q, False)
        run(q, True)
    wall = {"driver": [], "spark": []}
    mismatches = 0
    for i, q in enumerate(queries):
        order = (True, False) if i % 2 else (False, True)
        got = {}
        for local in order:
            ms, rows, gated = run(q, local)
            assert gated == local
            wall["driver" if local else "spark"].append(ms)
            got[local] = rows
        mismatches += got[True] != got[False]
    rec = {"n_docs": n_docs, "postings_bytes": idx.postings_bytes(),
           "build_s": round(build_s, 1), "queries": n_queries,
           "mismatches": mismatches}
    for path, ms in wall.items():
        ms = sorted(ms)
        rec[f"{path}_p50_ms"] = round(statistics.median(ms), 1)
        rec[f"{path}_p90_ms"] = round(ms[int(0.9 * (len(ms) - 1))], 1)
    return rec


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("n_docs", nargs="*", type=int,
                    default=[10_000, 50_000, 100_000, 200_000, 400_000,
                             800_000])
    ap.add_argument("--queries", type=int, default=45)
    ap.add_argument("--work", default=None)
    a = ap.parse_args()
    work = a.work or tempfile.mkdtemp(prefix="driver_crossover_")
    spark = local_session(min(2, os.cpu_count() or 1), heap="2g", work=work)
    try:
        out = []
        for n in a.n_docs:
            rec = one_size(spark, work, n, a.queries)
            out.append(rec)
            mb = rec["postings_bytes"] / 2**20
            print(f"{n:>9d} docs  postings {mb:7.1f} MB  driver p50/p90"
                  f" {rec['driver_p50_ms']:7.1f} /"
                  f" {rec['driver_p90_ms']:7.1f} ms  spark p50/p90"
                  f" {rec['spark_p50_ms']:7.1f} / {rec['spark_p90_ms']:7.1f}"
                  f" ms  mismatches {rec['mismatches']}", flush=True)
        print(json.dumps(out))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
