"""Scaling-efficiency evidence (north rule): run the SAME indexing job on
the SAME materialized input at two parallelism levels (local[8] vs
local[32] — the sandbox stand-in for N vs 4N executors) and report
throughput at both plus efficiency = (T_8 / T_32) / 4.

Writes BENCH/scaling_<n1>_<n2>.{json,md}; BENCH/BASELINE.md is hand-curated
from these. Each run is a fresh JVM (subprocess) so executor pools don't
interfere; keep the machine otherwise idle.

Usage: python scripts/scaling.py [n_docs] [n1,n2]   (default 60000 8,32)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORKER = r"""
import json, os, sys, time
sys.path.insert(0, %(repo)r)
from lucene_7_x_9_x_spark.session import local_session
cpus = int(sys.argv[1]); corpus = sys.argv[2]; out = sys.argv[3]
spark = local_session(cpus, heap="24g", conf={
    "spark.sql.files.maxPartitionBytes": "384k",
    "spark.sql.files.openCostInBytes": "65536"})
from lucene_7_x_9_x_spark.index import build_index
from lucene_7_x_9_x_spark.searcher import Searcher
from lucene_7_x_9_x_spark.plans.query import BooleanQuery, Occur, TermQuery
df = spark.read.parquet(corpus)
n = df.count()
t0 = time.time()
idx = build_index(spark, df, out, id_cols=["repo", "path", "commit"],
                  text_col="content", segment_by="input")
build_secs = time.time() - t0
s = Searcher(idx)
q = BooleanQuery([(Occur.SHOULD, TermQuery("return")),
                  (Occur.SHOULD, TermQuery("mutex")),
                  (Occur.SHOULD, TermQuery("buffer"))])
lat = []
for _ in range(5):
    t0 = time.time(); s.search(q, 10).collect(); lat.append(time.time() - t0)
lat.sort()
print("RESULT " + json.dumps({
    "cpus": cpus, "docs": n, "build_secs": round(build_secs, 2),
    "docs_per_sec": round(n / build_secs, 1),
    "tokens": idx.stats["sum_total_term_freq"],
    "tokens_per_sec": round(idx.stats["sum_total_term_freq"] / build_secs, 1),
    "query_p50_sec": round(lat[len(lat) // 2], 3)}))
spark.stop()
"""


def run_level(cpus: int, corpus: str, out: str) -> dict:
    """Run one parallelism level with the process PINNED to `cpus` physical
    CPUs (taskset): a local[8] baseline on a 32-core box would otherwise
    borrow the idle 24 cores for JVM/GC/python-worker threads, inflating
    the small-cluster baseline and understating true N->4N scaling."""
    code = WORKER % {"repo": REPO}
    cmd = ["taskset", "-c", f"0-{cpus - 1}", sys.executable, "-c", code,
           str(cpus), corpus, out]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=3600)
    for line in p.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(f"worker {cpus} failed:\n{p.stdout[-2000:]}"
                       f"\n{p.stderr[-4000:]}")


def main():
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 60000
    pair = sys.argv[2] if len(sys.argv) > 2 else "8,32"
    n1, n2 = (int(x) for x in pair.split(","))
    tmp = tempfile.mkdtemp(prefix="scaling_")
    corpus = os.path.join(tmp, "corpus")

    # materialize identical input once
    code = (
        "import sys; sys.path.insert(0, %r)\n"
        "from lucene_7_x_9_x_spark.session import local_session\n"
        "spark = local_session(32, heap='16g')\n"
        "from lucene_7_x_9_x_spark.sources.corpus import synth_corpus\n"
        "synth_corpus(spark, %d, partitions=256).write.mode('overwrite')"
        ".parquet(%r)\n"
        "spark.stop()\n" % (REPO, n_docs, corpus))
    subprocess.run([sys.executable, "-c", code], check=True, timeout=1800)

    r8 = run_level(n1, corpus, os.path.join(tmp, "idx8"))
    r32 = run_level(n2, corpus, os.path.join(tmp, "idx32"))
    speedup = r32["docs_per_sec"] / r8["docs_per_sec"]
    eff = speedup / 4.0
    report = {
        "n_docs": n_docs, "pair": [n1, n2], "lo": r8, "hi": r32,
        "speedup_8_to_32": round(speedup, 3),
        "scaling_efficiency": round(eff, 3),
    }
    print(json.dumps(report, indent=2))

    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", f"scaling_{n1}_{n2}.json"), "w") as jf:
        json.dump(report, jf, indent=2)
    # BENCH/BASELINE.md is hand-curated (multi-pair tables + the bus-ceiling
    # decomposition) — write the single-pair table next to it instead
    with open(os.path.join(REPO, "BENCH",
                           f"scaling_{n1}_{n2}.md"), "w") as f:
        f.write(f"""# Scaling measurement {n1} -> {n2}

## Scaling efficiency (north rule: >= 0.8 from N to 4N)

Sandbox evidence: the same index-build job (synthetic F1 corpus,
{n_docs} docs, identical parquet input) on `local[{n1}]` vs `local[{n2}]`
in fresh taskset-pinned JVMs.

| parallelism | build secs | docs/sec | tokens/sec | query p50 (s) |
|---|---|---|---|---|
| local[{n1}] (N), pinned | {r8['build_secs']} | {r8['docs_per_sec']} | {r8['tokens_per_sec']} | {r8['query_p50_sec']} |
| local[{n2}] (4N), pinned | {r32['build_secs']} | {r32['docs_per_sec']} | {r32['tokens_per_sec']} | {r32['query_p50_sec']} |

- speedup {n1}->{n2} cores: **{speedup:.2f}x** (ideal 4x)
- **scaling efficiency = (docs/sec@{n2} / docs/sec@{n1}) / 4 = {eff:.3f}**

Tokens indexed: {r8['tokens']} ({r8['tokens']//max(n_docs,1)} avg dl).

## Method notes

- The build is the full pipeline: corpus scan -> sha256 -> hash-partition
  into segments (one shuffle) -> per-segment vectorized inversion + block
  encode (applyInPandas) -> parquet write -> terms/stats finalize.
- Parallelism carriers: number of corpus partitions (128) > cores at both
  levels, so scaling is limited only by scheduling overhead + the
  finalize's small aggregations (Amdahl tail).
- On a real cluster the same job submits via spark-submit --py-files
  (scripts/submit_build.py); segments = O(executors * cores) and each
  executor holds one segment group in memory at a time.

Run `python bench.py` for the per-query suite (BENCH_r*.json).
""")
    print(f"wrote BENCH/scaling_{n1}_{n2}.md")


if __name__ == "__main__":
    main()
