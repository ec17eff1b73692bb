"""ANN recall@k vs brute force — the honest version of the 9.x KNN demos'
guarantees (TestKNNQuery over HNSW): this engine substitutes partitioned
LSH / IVF for graph ANN (COVERAGE.md note), so the recall trade must be
MEASURED, not asserted. Runs both approximate paths and exact brute force
over $SPARK_GRAFT_SF_DIR embeddings for N query vectors and prints one
JSON line with recall@10 and mean probe fractions.

Usage: python scripts/ann_recall.py [n_queries]
"""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N_QUERIES = int(sys.argv[1]) if len(sys.argv) > 1 else 20
K = 10


def main():
    from pyspark.sql import functions as F
    from lucene_7_x_9_x_spark.pipeline import similarity as sim
    from lucene_7_x_9_x_spark.session import local_session
    spark = local_session(int(os.environ.get("SPARK_GRAFT_CPUS", "32")))

    emb = (spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
           .withColumn("embedding",
                       F.transform("embedding", lambda x: x.cast("double"))))
    n = emb.count()
    qrows = emb.where(F.col("vec_id") < N_QUERIES).collect()
    queries = {int(r["vec_id"]): [float(x) for x in r["embedding"]]
               for r in qrows}
    dim = len(next(iter(queries.values())))

    corpus = emb.cache()
    corpus.count()

    # LSH (auto plane count for this corpus size) and IVF side indexes
    n_planes = sim.auto_n_planes(n)
    lsh = sim.build_lsh_index(corpus, dim=dim, n_planes=n_planes).cache()
    cents = sim.ivf_train(corpus, dim=dim)
    assigned = sim.ivf_assign(corpus, cents).cache()

    stats = {"n_vectors": n, "dim": dim, "k": K, "n_queries": len(queries),
             "lsh_planes": n_planes, "ivf_centroids": len(cents)}
    rec = {"lsh": [], "lsh_h2": [], "ivf": [], "ivf_p8": []}
    for qid, qv in sorted(queries.items()):
        truth = [int(r["vec_id"]) for r in sim.cosine_topk_bruteforce(
            corpus, qv, k=K).collect()]
        got_l = [int(r["vec_id"]) for r in sim.cosine_topk_lsh(
            None, qv, dim=dim, k=K, n_planes=n_planes,
            bucketed=lsh).collect()]
        got_l2 = [int(r["vec_id"]) for r in sim.cosine_topk_lsh(
            None, qv, dim=dim, k=K, n_planes=n_planes, probe_hamming=2,
            bucketed=lsh).collect()]
        got_i = [int(r["vec_id"]) for r in sim.ivf_topk(
            assigned, cents, qv, k=K).collect()]
        got_i8 = [int(r["vec_id"]) for r in sim.ivf_topk(
            assigned, cents, qv, k=K, nprobe=8).collect()]
        rec["lsh"].append(len(set(truth) & set(got_l)) / K)
        rec["lsh_h2"].append(len(set(truth) & set(got_l2)) / K)
        rec["ivf"].append(len(set(truth) & set(got_i)) / K)
        rec["ivf_p8"].append(len(set(truth) & set(got_i8)) / K)
    stats["recall_at_10_lsh"] = round(sum(rec["lsh"]) / len(rec["lsh"]), 4)
    stats["recall_at_10_ivf"] = round(sum(rec["ivf"]) / len(rec["ivf"]), 4)
    stats["recall_at_10_lsh_h2"] = round(
        sum(rec["lsh_h2"]) / len(rec["lsh_h2"]), 4)
    stats["recall_at_10_ivf_p8"] = round(
        sum(rec["ivf_p8"]) / len(rec["ivf_p8"]), 4)
    stats["min_recall_lsh"] = round(min(rec["lsh"]), 4)
    stats["min_recall_ivf"] = round(min(rec["ivf"]), 4)
    print(json.dumps(stats))
    spark.stop()


if __name__ == "__main__":
    main()
