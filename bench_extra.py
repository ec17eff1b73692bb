"""Round-6 optimization profiling harness (guide §1: measure first).

NOT the frozen driver bench — this exists to isolate the expensive ops
with per-stage timers and noop sinks so optimization targets the real
cost, not the sink or the JSON plumbing. Run:

    python bench_extra.py [op ...]

ops: minhash simhash decontam dupspans termvec percolate build query
(default: all). Env: SPARK_GRAFT_SF_DIR (default sf1.0), SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

T: dict[str, float] = {}


def _jvm_cpu() -> float:
    """Total CPU seconds burned by this process tree (python driver + the
    Spark JVM child + its children). Contention-independent (modulo
    steal): the co-tenant inflates wall, not our jiffies — use this for
    A/B of algorithmic cost, wall for the final numbers."""
    import glob
    hz = os.sysconf("SC_CLK_TCK")
    pids = {os.getpid()}
    # walk the child tree
    frontier = [os.getpid()]
    while frontier:
        p = frontier.pop()
        for ch in glob.glob(f"/proc/{p}/task/*/children"):
            try:
                kids = open(ch).read().split()
            except OSError:
                continue
            for k in kids:
                k = int(k)
                if k not in pids:
                    pids.add(k)
                    frontier.append(k)
    tot = 0
    for p in pids:
        try:
            f = open(f"/proc/{p}/stat").read().rsplit(")", 1)[1].split()
            tot += int(f[11]) + int(f[12])  # utime, stime
        except (OSError, IndexError):
            pass
    return tot / hz


def timed(name, fn):
    c0 = _jvm_cpu()
    t0 = time.time()
    out = fn()
    w = round(time.time() - t0, 3)
    c = round(_jvm_cpu() - c0, 1)
    T[name] = w
    T[name + "_cpu"] = c
    print(f"  {name}: {w}s wall / {c}s cpu", flush=True)
    return out


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def main():
    ops = set(sys.argv[1:]) or {"minhash", "simhash", "decontam",
                                "dupspans", "termvec", "percolate",
                                "build", "query"}
    from pyspark.sql import functions as F
    from lucene_7_x_9_x_spark.session import local_session
    spark = local_session(
        CPUS, heap=os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    sc = spark.sparkContext
    print(f"loadavg_start={open('/proc/loadavg').read().split()[0]}",
          flush=True)

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    docs.count()

    from lucene_7_x_9_x_spark.pipeline import dedup, textstats

    if "minhash" in ops:
        print("== dedup_minhash_lsh ==", flush=True)
        sc.setJobDescription("minhash: doc_shingles persist+count")
        feat = timed("mh_feat_persist",
                     lambda: (lambda s: (s.count(), s)[1])(
                         dedup.doc_shingles(docs, "doc_id", "text", 3)
                         .persist()))
        sc.setJobDescription("minhash: signatures")
        sig = dedup.minhash_signatures(docs, "doc_id", "text", 3, 32, 42,
                                       doc_shingles_df=feat)
        timed("mh_signatures_noop", lambda: noop(sig))
        feat.unpersist()
        sc.setJobDescription("minhash: cold one-shot")
        timed("mh_cold_oneshot", lambda: dedup.minhash_lsh_pairs(
            docs, "doc_id", "text", threshold=0.5).count())
        timed("mh_cold_oneshot2", lambda: dedup.minhash_lsh_pairs(
            docs, "doc_id", "text", threshold=0.5).count())

    if "simhash" in ops:
        sc.setJobDescription("simhash")
        print("== simhash ==", flush=True)
        timed("simhash_noop", lambda: noop(
            dedup.simhash64(docs, "doc_id", "text")))
        timed("simhash_count", lambda: dedup.simhash64(
            docs, "doc_id", "text").count())

    if "decontam" in ops:
        from lucene_7_x_9_x_spark.pipeline import decontam
        print("== decontaminate ==", flush=True)
        tr = docs.where(F.col("doc_id") % 97 != 0)
        be = docs.where(F.col("doc_id") % 97 == 0)
        sc.setJobDescription("decontaminate")
        timed("decontam_count", lambda: decontam.contaminated_docs(
            tr, be, "doc_id", "text", "doc_id", "text", n=4).count())
        timed("decontam_count2", lambda: decontam.contaminated_docs(
            tr, be, "doc_id", "text", "doc_id", "text", n=4).count())

    if "dupspans" in ops:
        from lucene_7_x_9_x_spark.pipeline import decontam
        print("== dup_spans ==", flush=True)
        sc.setJobDescription("dup_spans")
        timed("dup_spans_count", lambda: decontam.duplicate_spans(
            docs, "doc_id", "text", n=8).count())
        timed("dup_spans_count2", lambda: decontam.duplicate_spans(
            docs, "doc_id", "text", n=8).count())

    if "termvec" in ops:
        print("== term_vectors ==", flush=True)
        sc.setJobDescription("term_vectors")
        timed("term_vectors_noop", lambda: noop(
            textstats.term_vectors(docs, "doc_id", "text")))
        timed("term_vectors_count", lambda: textstats.term_vectors(
            docs, "doc_id", "text").count())

    if "percolate" in ops:
        from lucene_7_x_9_x_spark.streaming.monitor import percolate
        from lucene_7_x_9_x_spark.plans.query import (BooleanQuery, Occur,
                                                      PhraseQuery,
                                                      TermQuery)
        print("== percolate_4q ==", flush=True)
        qs = {
            "q_term": TermQuery("filter"),
            "q_conj": BooleanQuery([(Occur.MUST, TermQuery("group")),
                                    (Occur.MUST, TermQuery("query"))]),
            "q_phrase": PhraseQuery(["the", "fast"]),
            "q_not": BooleanQuery(
                [(Occur.MUST, TermQuery("join")),
                 (Occur.MUST_NOT, TermQuery("window"))]),
        }
        sc.setJobDescription("percolate_4q")
        timed("percolate_count", lambda: percolate(docs, qs).count())
        timed("percolate_count2", lambda: percolate(docs, qs).count())

    tmp = tempfile.mkdtemp(prefix="lucene_bx_")
    if "build" in ops or "query" in ops:
        from lucene_7_x_9_x_spark.index import build_index
        print("== index build ==", flush=True)
        sc.setJobDescription("index build documents")
        idx = timed("index_build_documents", lambda: build_index(
            spark, docs, os.path.join(tmp, "idx_docs"), id_cols=["doc_id"],
            text_col="text", num_segments=CPUS))

    if "query" in ops:
        from lucene_7_x_9_x_spark.searcher import Searcher
        from lucene_7_x_9_x_spark.plans.query import (BooleanQuery, Occur,
                                                      TermQuery)
        print("== query path ==", flush=True)
        searcher = Searcher(idx)
        qy = BooleanQuery([(Occur.SHOULD, TermQuery("filter")),
                           (Occur.SHOULD, TermQuery("join")),
                           (Occur.SHOULD, TermQuery("window"))])
        sc.setJobDescription("bm25 cold x5")
        for i in range(5):
            timed(f"bm25_{i}", lambda: searcher.search(qy, 10).collect())

    print(f"loadavg_end={open('/proc/loadavg').read().split()[0]}",
          flush=True)
    print(json.dumps(T))
    import shutil
    shutil.rmtree(tmp, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
