"""Tombstones beyond the driver cap (VERDICT r4 #4 / r4 directive #8):
queries stay correct through the distributed fallback — deletes ride the
norms cogroup side (the compaction cogroup shape) instead of a driver
collect + broadcast."""

import numpy as np

from lucene_7_x_9_x_spark.index import IndexSnapshot, build_index
from lucene_7_x_9_x_spark.operators.deletes import delete_by_ids
from lucene_7_x_9_x_spark.plans.query import (BooleanQuery,
                                              MatchAllDocsQuery, Occur,
                                              TermQuery)
from tests.test_search import _random_corpus


def _pairs(df):
    return {(int(r["segment"]), int(r["docid"])) for r in df.collect()}


def test_big_deletes_fallback_matches_small_path(spark, tmp_path):
    from lucene_7_x_9_x_spark.searcher import Searcher
    rng = np.random.RandomState(23)
    pdf = _random_corpus(rng, n_docs=400)
    out = str(tmp_path / "i")
    build_index(spark, spark.createDataFrame(pdf), out,
                id_cols=["id"], text_col="content", num_segments=3)
    victims = pdf["id"].tolist()[::3]  # 134 tombstones
    n = delete_by_ids(spark, out, spark.createDataFrame(
        [(v,) for v in victims], "id string"))
    assert n == len(victims)

    idx = IndexSnapshot(spark, out)
    s_small = Searcher(idx)  # normal path: collect + broadcast
    s_big = Searcher(idx)
    s_big.TOMBSTONE_DRIVER_CAP = 10  # force the distributed fallback

    queries = [
        TermQuery("h0"),
        BooleanQuery([(Occur.SHOULD, TermQuery("h1")),
                      (Occur.SHOULD, TermQuery("h2")),
                      (Occur.SHOULD, TermQuery("h3"))]),
        BooleanQuery([(Occur.MUST, TermQuery("h0")),
                      (Occur.MUST_NOT, TermQuery("h1"))]),
        MatchAllDocsQuery(),
        BooleanQuery([(Occur.SHOULD, TermQuery("h4")),
                      (Occur.SHOULD, MatchAllDocsQuery())]),
    ]
    for q in queries:
        a = s_small.search(q, 10).toPandas()
        b = s_big.search(q, 10).toPandas()
        assert s_big._big_deletes  # the fallback actually engaged
        assert a[["segment", "docid"]].values.tolist() == \
            b[["segment", "docid"]].values.tolist(), str(q)
        np.testing.assert_array_equal(a["score"].to_numpy(np.float32),
                                      b["score"].to_numpy(np.float32))
        assert _pairs(s_small.matches(q)) == _pairs(s_big.matches(q))

    # batched path through the big-deletes cogroup
    batch = {"a": queries[0], "b": queries[1], "c": queries[4]}
    ra = s_small.search_many(batch, 8).toPandas()
    rb = s_big.search_many(batch, 8).toPandas()
    ka = ra.sort_values(["qid", "rank"])[
        ["qid", "rank", "segment", "docid"]].values.tolist()
    kb = rb.sort_values(["qid", "rank"])[
        ["qid", "rank", "segment", "docid"]].values.tolist()
    assert ka == kb

    # no tombstoned doc leaks through the fallback
    dm = idx.docmap().select("segment", "docid", "id").toPandas()
    got = s_big.search(queries[3], 400, with_ids=True).toPandas()
    assert not set(victims) & set(got["id"])
    assert len(got) == len(dm) - len(victims)
