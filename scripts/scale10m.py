"""10M-doc scale point (one order up from the pinned 1M latency corpus).

Measures at local[32] on a single materialized synthetic corpus:
  - index build docs/sec,
  - cold single-query p50 / hot (cache_index=True) p50,
  - batch-32 qps cold and hot,
  - the per-doc-Python-walk shapes the verdict flagged as "watch at 10M":
    sloppy phrase k=2 vs k=3, unordered span k=3, interval ordered k=3 —
    the data that decides whether the k>=3 walks need vectorizing.

Writes BENCH/scale_10m.json; BENCH/BASELINE.md is hand-curated from it.

`--shape N` is the stand-in for hosts that cannot hold the 10M point
(local[32], 20 GB heap): N docs on local[2] with a 6 GB heap, the same
generator, queries and 16 MB scan splits, and the corpus written in
~33k-doc files, two to a split, so input-mode segments keep the 10M
point's ~67k docs. It writes BENCH/scale_10m_shape.json and does not replace the
10M point.

Usage: python scripts/scale10m.py [n_docs] [--shape N] [--work DIR]
  n_docs  default 10_000_000
  --work  holds the generated corpus (reused when present) and a scratch
          index, removed at the end; default the system temp dir
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


# --shape corpus files: ~7.3 MB of parquet, so two fit one 16 MB scan split
# (with the 1 MB open cost) and an input-mode segment holds ~67k docs, as
# the 10M point's ~150 segments do
FILE_DOCS = 33_334


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("n_docs", nargs="?", type=int, default=10_000_000)
    ap.add_argument("--shape", type=int, default=None, metavar="N")
    ap.add_argument("--work", default=tempfile.gettempdir())
    args = ap.parse_args()
    n_docs = args.shape or args.n_docs
    cores, heap = (2, "6g") if args.shape else (32, "20g")
    from pyspark.sql import functions as F
    from lucene_7_x_9_x_spark.session import local_session
    # NOT bigger = better: an 80g single-JVM heap let garbage accumulate
    # until multi-ten-second full GCs dominated the query tail (130 s
    # outliers on a 4 s query — measured, BENCH/BASELINE.md 10M section);
    # 20g keeps pauses bounded
    spark = local_session(cores, heap=heap, conf={
        "spark.sql.shuffle.partitions": str(2 * cores),
        # ~16MB scan splits over the ~2.1GB/10M-doc corpus -> ~130
        # input-mode segments of ~75k docs: balanced build waves and
        # bounded per-task inversion memory
        "spark.sql.files.maxPartitionBytes": "16m",
        "spark.sql.files.openCostInBytes": "1m",
        "spark.driver.maxResultSize": "8g"})

    from lucene_7_x_9_x_spark.index import build_index
    from lucene_7_x_9_x_spark.searcher import Searcher
    from lucene_7_x_9_x_spark.plans.query import (
        BooleanQuery, IntervalOrdered, IntervalQuery, IntervalTerm, Occur,
        PhraseQuery, SpanNearQuery, TermQuery)
    from lucene_7_x_9_x_spark.sources.corpus import synth_corpus

    tmp = tempfile.mkdtemp(prefix="scale10m_", dir=args.work)
    # the corpus is deterministic — reuse a previously generated copy
    corpus = os.path.join(args.work, f"scale10m_corpus_{n_docs}")
    old = os.path.join(args.work, "scale10m_corpus_10m")
    if n_docs == 10_000_000 and os.path.isdir(old):
        corpus = old
    out: dict = {"n_docs": n_docs, "cpus": cores, "heap": heap}

    t0 = time.time()
    if not os.path.isdir(corpus):
        files = 256 if not args.shape else -(-n_docs // FILE_DOCS)
        synth_corpus(spark, n_docs, partitions=files).write.mode(
            "overwrite").parquet(corpus)
    out["gen_secs"] = round(time.time() - t0, 1)

    df = spark.read.parquet(corpus)
    t0 = time.time()
    idx = build_index(spark, df, os.path.join(tmp, "idx"),
                      id_cols=["repo", "path", "commit"], text_col="content",
                      segment_by="input")
    out["build_secs"] = round(time.time() - t0, 1)
    out["segments"] = idx.manifest["num_segments"]
    out["docs_per_segment"] = round(n_docs / out["segments"])
    out["docs_per_sec"] = round(n_docs / out["build_secs"], 1)
    out["tokens"] = idx.stats["sum_total_term_freq"]
    out["tokens_per_sec"] = round(out["tokens"] / out["build_secs"], 1)

    def p50(fn, runs=5):
        lat = []
        for _ in range(runs):
            t = time.time()
            fn()
            lat.append(time.time() - t)
        lat.sort()
        return round(lat[len(lat) // 2], 3), [round(x, 3) for x in lat]

    top3 = [r["term"] for r in
            idx.terms().orderBy(F.desc("doc_freq")).limit(3).collect()]
    out["top3_terms"] = top3
    dis = BooleanQuery([(Occur.SHOULD, TermQuery(t)) for t in
                        ("return", "mutex", "buffer")])

    s_cold = Searcher(idx)
    out["cold_p50"], out["cold_lat"] = p50(
        lambda: s_cold.search(dis, 10).collect())

    # batch-32 cold: 32 three-term disjunctions over the hot vocabulary
    import numpy as np
    rng = np.random.RandomState(7)
    vocab = [r["term"] for r in
             idx.terms().orderBy(F.desc("doc_freq")).limit(60).collect()]
    def mk_batch(prefix):
        return {f"{prefix}{i}": BooleanQuery(
            [(Occur.SHOULD, TermQuery(vocab[rng.randint(len(vocab))]))
             for _ in range(3)]) for i in range(32)}
    batch = mk_batch("q")
    t0 = time.time()
    s_cold.search_many(batch, k=10).count()
    out["batch_32_cold"] = round(time.time() - t0, 3)
    out["batched_qps_cold"] = round(32 / out["batch_32_cold"], 1)

    # the flagged per-doc Python walks, cold path
    for name, q in [
        ("sloppy2", PhraseQuery(top3[:2], slop=2)),
        ("sloppy3", PhraseQuery(top3, slop=3)),
        ("unord3", SpanNearQuery(top3, slop=4, in_order=False)),
        ("interval_ord3", IntervalQuery(IntervalOrdered(
            tuple(IntervalTerm(t) for t in top3), max_gaps=4))),
    ]:
        out[name + "_p50"], _ = p50(
            lambda q=q: s_cold.search(q, 10).collect(), runs=3)

    # hot serving
    s_hot = Searcher(idx, cache_index=True)
    t0 = time.time()
    s_hot.search(dis, 10).collect()
    out["hot_warmup"] = round(time.time() - t0, 3)
    out["hot_p50"], out["hot_lat"] = p50(
        lambda: s_hot.search(dis, 10).collect())
    s_hot.search_many(batch, k=10).count()
    batch2 = mk_batch("h")
    t0 = time.time()
    s_hot.search_many(batch2, k=10).count()
    out["batch_32_hot"] = round(time.time() - t0, 3)
    out["batched_qps_hot"] = round(32 / out["batch_32_hot"], 1)

    print(json.dumps(out, indent=2))
    name = "scale_10m_shape.json" if args.shape else "scale_10m.json"
    with open(os.path.join(REPO, "BENCH", name), "w") as f:
        json.dump(out, f, indent=2)
    spark.stop()
    shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
