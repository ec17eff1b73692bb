"""search_many (batched multi-query execution) must return exactly what
per-query search returns, for every query in the batch."""

import numpy as np
import pytest

from lucene_7_x_9_x_spark.plans.query import (BooleanQuery, Occur,
                                              PhraseQuery, TermQuery)
from tests.test_search import _random_corpus


@pytest.fixture(scope="module")
def many_index(spark, tmp_path_factory):
    from lucene_7_x_9_x_spark.index import build_index
    rng = np.random.RandomState(21)
    pdf = _random_corpus(rng, n_docs=500)
    out = str(tmp_path_factory.mktemp("many"))
    return build_index(spark, spark.createDataFrame(pdf), out,
                       id_cols=["id"], text_col="content", num_segments=3)


def _assert_same_as_search(s, got, batch, k):
    for qid, q in batch.items():
        want = s.search(q, k, with_ids=False).toPandas()
        g = got[got.qid == qid].sort_values("rank")
        assert list(zip(g.segment, g.docid)) == \
            list(zip(want.segment, want.docid)), qid
        assert np.array_equal(g.score.to_numpy(np.float32),
                              want.score.to_numpy(np.float32)), qid


@pytest.mark.parametrize("cache_index", [False, True])
def test_search_many_matches_individual(spark, many_index, cache_index):
    from lucene_7_x_9_x_spark.searcher import Searcher
    s = Searcher(many_index, cache_index=cache_index)
    batch = {
        "q_term": TermQuery("h0"),
        "q_disj": BooleanQuery([(Occur.SHOULD, TermQuery("h1")),
                                (Occur.SHOULD, TermQuery("h2", boost=2.0))]),
        "q_conj": BooleanQuery([(Occur.MUST, TermQuery("h0")),
                                (Occur.MUST, TermQuery("h3"))]),
        "q_not": BooleanQuery([(Occur.SHOULD, TermQuery("h4")),
                               (Occur.MUST_NOT, TermQuery("h0"))]),
        "q_phrase": PhraseQuery(["h0", "h1"]),
        "q_absent": TermQuery("nonexistent_zzz"),
    }
    try:
        _assert_same_as_search(s, s.search_many(batch, k=5).toPandas(),
                               batch, 5)
    finally:
        s._post_src.unpersist()
        s._terms_src.unpersist()


def test_cogroup_kernel_matches_broadcast(spark, many_index):
    """Norms too big to broadcast fall back to the cogroup kernel; without
    deletes it must return the broadcast path's rows and float32 scores,
    for search and search_many alike (every test index has small norms,
    so the fallback is forced on the instance)."""
    from lucene_7_x_9_x_spark.plans.query import MatchAllDocsQuery
    from lucene_7_x_9_x_spark.searcher import Searcher
    batch = {
        "q_term": TermQuery("h0"),
        "q_disj": BooleanQuery([(Occur.SHOULD, TermQuery("h1")),
                                (Occur.SHOULD, TermQuery("h2"))]),
        "q_phrase": PhraseQuery(["h0", "h1"]),
        "q_mixed": BooleanQuery([(Occur.SHOULD, TermQuery("h3")),
                                 (Occur.SHOULD, MatchAllDocsQuery())]),
    }
    small = Searcher(many_index)
    big = Searcher(many_index)
    big._small_norms = False
    for qid, q in batch.items():
        a = small.search(q, 6, with_ids=False).toPandas()
        b = big.search(q, 6, with_ids=False).toPandas()
        assert a[["segment", "docid"]].values.tolist() == \
            b[["segment", "docid"]].values.tolist(), qid
        assert np.array_equal(a.score.to_numpy(np.float32),
                              b.score.to_numpy(np.float32)), qid
    _assert_same_as_search(small, big.search_many(batch, k=6).toPandas(),
                           batch, 6)


def test_search_many_all_absent(spark, many_index):
    from lucene_7_x_9_x_spark.searcher import Searcher
    s = Searcher(many_index)
    got = s.search_many({"a": TermQuery("zzz1"), "b": TermQuery("zzz2")},
                        k=5)
    assert got.count() == 0


def test_search_many_with_matchall(spark, many_index):
    """A MatchAll-containing query in a batch must hit docs in EVERY
    segment, including segments holding none of the batch's terms — and an
    all-absent-terms batch with a MatchAll must still return its docs."""
    from lucene_7_x_9_x_spark.plans.query import MatchAllDocsQuery
    from lucene_7_x_9_x_spark.searcher import Searcher
    s = Searcher(many_index)
    batch = {
        "q_all": MatchAllDocsQuery(),
        "q_term": TermQuery("h0"),
        "q_boolall": BooleanQuery([(Occur.MUST, MatchAllDocsQuery()),
                                   (Occur.MUST_NOT, TermQuery("h0"))]),
    }
    _assert_same_as_search(s, s.search_many(batch, k=7).toPandas(),
                           batch, 7)
    # batch whose only term is absent + a MatchAll: still k docs
    got2 = s.search_many({"m": MatchAllDocsQuery(),
                          "z": TermQuery("zzz_absent")}, k=4).toPandas()
    assert len(got2[got2.qid == "m"]) == 4
    assert len(got2[got2.qid == "z"]) == 0
