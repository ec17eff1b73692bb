"""The committed golden result set (tests/golden/, generated once by the
oracle per FIXTURES.md) must be reproduced bit-for-bit by BOTH engines:
the in-memory oracle (guards kernel drift) and the Spark engine (guards the
full distributed path). Scores compared as raw float32 bits."""

import os

import numpy as np
import pandas as pd
import pytest

from lucene_7_x_9_x_spark import oracle
from lucene_7_x_9_x_spark.operators import executor as ex
from lucene_7_x_9_x_spark.operators.build import invert_segment
from lucene_7_x_9_x_spark.operators.search import (SparkSegmentReader,
                                                   classify_blockmax,
                                                   dense_topk)
from lucene_7_x_9_x_spark.functions.analysis import AnalyzerConfig
from scripts.gen_golden import queries as golden_queries

GOLD = os.path.join(os.path.dirname(__file__), "golden")


@pytest.fixture(scope="module")
def golden():
    corpus = pd.read_parquet(os.path.join(GOLD, "golden_corpus.parquet"))
    gold = pd.read_csv(os.path.join(GOLD, "golden_results.csv"))
    rng = np.random.RandomState(20240816)
    # regenerate the query list with the same seed AFTER corpus generation
    # consumed its part of the stream
    from tests.test_search import _random_corpus
    _ = _random_corpus(rng, n_docs=1000)
    hot = [f"h{i}" for i in range(12)]
    tail = [f"t{i:04d}" for i in range(300)]
    qs = golden_queries(rng, hot, tail)
    return corpus, gold, qs


def test_oracle_reproduces_golden(golden):
    corpus, gold, qs = golden
    eng = oracle.OracleEngine(*oracle.index_corpus(
        corpus.sort_values("id").reset_index(drop=True), text_col="content"))
    for qid, desc, q in qs:
        for k in (1, 10):
            want = gold[(gold.qid == qid) & (gold.k == k)]
            got = eng.search(q, k)
            assert got.docid.tolist() == want.docid.tolist(), (qid, k)
            got_bits = got.score.to_numpy(np.float32).view(np.int32)
            assert np.array_equal(got_bits, want.score_bits.to_numpy()), \
                (qid, k)


def test_blockmax_kernel_reproduces_golden(golden):
    corpus, gold, qs = golden
    sorted_c = corpus.sort_values("id").reset_index(drop=True).copy()
    sorted_c["content_sha256"] = ""
    postings, docmap = invert_segment(
        sorted_c, segment=0, id_cols=["id"], text_col="content",
        cfg=AnalyzerConfig())
    norms = (docmap.sort_values("docid")["norm"].to_numpy(np.int64)
             & 0xFF).astype(np.uint8)
    reader = SparkSegmentReader(postings, norms, len(corpus))
    _, stats = oracle.index_corpus(sorted_c, text_col="content")
    # every plan-bearing qid through the dense batch accumulator, all of
    # them in one batch per k; the rest through exhaustive evaluation
    plans = {qid: classify_blockmax(q) for qid, _, q in qs}
    dense_qids = [qid for qid, plan in plans.items() if plan is not None]
    assert len(dense_qids) >= 10
    for k in (1, 10):
        dense = dict(zip(dense_qids, dense_topk(
            SparkSegmentReader(postings, norms, len(corpus)), stats,
            [plans[qid] for qid in dense_qids], k, len(corpus))))
        for qid, desc, q in qs:
            want = gold[(gold.qid == qid) & (gold.k == k)]
            d, s = (dense[qid] if qid in dense
                    else ex.top_k(ex.evaluate(reader, stats, q), k))
            assert d.tolist() == want.docid.tolist(), (qid, k)
            assert np.array_equal(s.view(np.int32),
                                  want.score_bits.to_numpy()), (qid, k)
