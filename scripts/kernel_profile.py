"""Kernel-layer yardstick: hot_batch-shaped batches through the top-k kernel
in this process.

Builds (or reopens) one seeded synth_corpus index with perfbench's build
(8 hash segments, ids repo/path/commit) and runs perfbench's own hot_batch
inputs (`HotBatch.inputs`: 128 or3/and2 queries, Zipf terms over the
doc-freq rank, stratified blocks) through `Searcher._topk_frame(...,
local=True)`: the same `kernel_body` the Spark kernels run, with no Spark
job. So the numbers are kernel compute (block decode, scoring, top-k and
the per-call output frame) plus the driver prep and the pyarrow postings
read that `_topk_frame` does per batch, with no task, serde or exchange
cost. One warm-up batch (hot_batch's warm-up stream) runs first; then the
first BATCHES measured batches of seed SEED each run REPS times, and the
script prints the median wall time and the median process CPU time per
batch and per query. Every qid runs the one top-k kernel, the dense batch
accumulator (`operators/search.py::dense_topk`).

--segments S builds the index in S hash segments instead of perfbench's
8, so segment size (docs / S) can grow apart from the corpus: a segment
of more than `DENSE_CELLS` docs runs the kernel's doc windows.

--batch N sends the first N qids of each batch (default 128, all of
hot_batch's) through one `_topk_frame` call: the per-query cost at a
smaller batch.

--profile N runs the batches once more under cProfile and prints the top
N functions by internal time. --rows PATH writes every batch's rows
(batch, qid, segment, docid, score) to a parquet file, so two checkouts
can be compared row for row on the same batches.

Usage: python scripts/kernel_profile.py [--docs 10000] [--segments 8]
       [--batch 128] [--profile N] [--rows PATH] [--work DIR]
       (--work keeps the index: a later run with the same --work,
       --docs and --segments reopens it instead of building again)
"""

from __future__ import annotations

import argparse
import cProfile
import os
import pstats
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "perfbench"))

from lucene_7_x_9_x_spark.session import local_session

BATCHES = 6   # measured batches (perfbench's MEASURE stream, inputs 0..5)
REPS = 3      # timed runs of each batch
SEED = 1      # perfbench --seed


def open_index(spark, work: str, n_docs: int, segments: int):
    import workloads as wl
    from lucene_7_x_9_x_spark import index as index_mod
    from lucene_7_x_9_x_spark.sources.corpus import synth_corpus

    root = os.path.join(work, f"idx_{n_docs}" if segments == wl.SEGMENTS
                        else f"idx_{n_docs}_s{segments}")
    if os.path.exists(os.path.join(root, index_mod.MANIFEST)):
        return index_mod.IndexSnapshot(spark, root), root
    idx = index_mod.build_index(spark, synth_corpus(spark, n_docs), root,
                                id_cols=wl.ID_COLS, text_col=wl.TEXT_COL,
                                num_segments=segments)
    return idx, root


def batches(spark, root: str, idx) -> tuple[dict, list[dict]]:
    """(warm-up batch, BATCHES measured batches): exactly the {qid: query}
    inputs perfbench's hot_batch runs at seed SEED."""
    import workloads as wl

    hot = wl.HotBatch(wl.Context(spark, root, idx, wl.Scale(), SEED, None))
    return (hot.inputs(wl.WARMUP, 0),
            [hot.inputs(wl.MEASURE, i) for i in range(BATCHES)])


def run_batch(searcher, queries: dict, k: int):
    return searcher._topk_frame(
        {qid: searcher.rewrite(q) for qid, q in queries.items()}, k,
        local=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=10_000)
    ap.add_argument("--segments", type=int, default=None, metavar="S")
    ap.add_argument("--batch", type=int, default=128, metavar="N")
    ap.add_argument("--profile", type=int, default=0, metavar="N")
    ap.add_argument("--rows", default=None, metavar="PATH")
    ap.add_argument("--work", default=None)
    a = ap.parse_args()

    import pandas as pd
    import workloads as wl
    from lucene_7_x_9_x_spark.searcher import Searcher

    work = a.work or tempfile.mkdtemp(prefix="kernel_profile_")
    spark = local_session(min(2, os.cpu_count() or 1), heap="2g", work=work)
    try:
        idx, root = open_index(spark, work, a.docs,
                               a.segments or wl.SEGMENTS)
        s = Searcher(idx)
        warm, qs = batches(spark, root, idx)
        qs = [dict(list(q.items())[:a.batch]) for q in qs]
        run_batch(s, warm, wl.K)
        wall, cpu, rows = [], [], []
        for _ in range(REPS):
            for i, q in enumerate(qs):
                t, c = time.perf_counter(), time.process_time()
                got = run_batch(s, q, wl.K)
                wall.append(time.perf_counter() - t)
                cpu.append(time.process_time() - c)
                if len(rows) < len(qs):
                    rows.append(got.assign(batch=i))
        nq = len(qs[0])
        w50, c50 = statistics.median(wall), statistics.median(cpu)
        print(f"docs {a.docs}  segments {a.segments or wl.SEGMENTS}  "
              f"batch {nq}  batches {len(qs)} x {REPS}  "
              f"wall p50 {w50 * 1000:.0f} ms  cpu p50 {c50 * 1000:.0f} ms "
              f"per batch  ({w50 * 1000 / nq:.1f} / {c50 * 1000 / nq:.1f} "
              f"ms per query)", flush=True)
        if a.rows:
            (pd.concat(rows, ignore_index=True)
             [["batch", "qid", "segment", "docid", "score"]]
             .sort_values(["batch", "qid", "segment", "docid"])
             .reset_index(drop=True).to_parquet(a.rows))
        if a.profile:
            prof = cProfile.Profile()
            prof.enable()
            for q in qs:
                run_batch(s, q, wl.K)
            prof.disable()
            pstats.Stats(prof).sort_stats("tottime").print_stats(a.profile)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
