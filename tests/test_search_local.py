"""The driver path of Searcher.search: a cold single query over a small
index runs kernel_body in the driver process (pyarrow postings read, no
Spark job). It must return exactly the Spark path's rows and float32
scores, and run only behind its gate."""

import numpy as np
import pandas as pd
import pytest

from lucene_7_x_9_x_spark.index import IndexSnapshot, build_index
from lucene_7_x_9_x_spark.plans.query import (BooleanQuery,
                                              DisjunctionMaxQuery,
                                              MatchAllDocsQuery, Occur,
                                              PhraseQuery, SynonymQuery,
                                              TermQuery)
from tests.test_search import _random_corpus

S, M, F_, N = Occur.SHOULD, Occur.MUST, Occur.FILTER, Occur.MUST_NOT
T = TermQuery

QUERIES = {
    "term": T("h0"),
    "or3": BooleanQuery([(S, T("h1")), (S, T("h2")), (S, T("h4"))]),
    "and2": BooleanQuery([(M, T("h0")), (M, T("h1"))]),
    "phrase": PhraseQuery(["h0", "h1"]),
    "sloppy": PhraseQuery(["h0", "h2"], slop=3),
    "matchall_mixed": BooleanQuery([(S, T("h3")),
                                    (S, MatchAllDocsQuery())]),
    "matchall": MatchAllDocsQuery(),
    "absent": T("zzz_absent"),
    "absent_in_or": BooleanQuery([(S, T("zzz_absent")), (S, T("h4"))]),
    "must_not": BooleanQuery([(S, T("h1")), (N, T("h0"))]),
    "filter": BooleanQuery([(M, T("h2")), (F_, T("h1"))]),
    "synonym": SynonymQuery(["h5", "h6"]),
    "dismax": DisjunctionMaxQuery([T("h1"), T("h7")], tie_breaker=0.1),
    "field": BooleanQuery([(S, T("h0", field="title")), (S, T("h1"))]),
}


def _corpus(seed: int, n_docs: int) -> pd.DataFrame:
    pdf = _random_corpus(np.random.RandomState(seed), n_docs=n_docs)
    # a second text field: the last three tokens of the body
    pdf["title"] = pdf["content"].str.split().str[-3:].str.join(" ")
    return pdf


def _build(spark, out, pdf):
    return build_index(spark, spark.createDataFrame(pdf), out,
                       id_cols=["id"], text_col="content", num_segments=3,
                       extra_fields=[("title", "title")])


@pytest.fixture(scope="module")
def mf_index(spark, tmp_path_factory):
    return _build(spark, str(tmp_path_factory.mktemp("local")),
                  _corpus(31, 400))


def _pair(idx, **kw):
    """(driver-path searcher, Spark-path searcher) over one snapshot."""
    from lucene_7_x_9_x_spark.searcher import Searcher
    drv, spk = Searcher(idx, **kw), Searcher(idx, **kw)
    spk._local = False
    assert drv._driver_path()
    return drv, spk


def _assert_same(a, b, label):
    assert a.schema == b.schema, label
    a, b = a.toPandas(), b.toPandas()
    assert a.columns.tolist() == b.columns.tolist(), label
    assert a.drop(columns="score").values.tolist() == \
        b.drop(columns="score").values.tolist(), label
    assert np.array_equal(a.score.to_numpy(np.float32),
                          b.score.to_numpy(np.float32)), label
    return b


def _check(drv, spk, queries, k=7):
    for name, q in queries.items():
        for with_ids in (True, False):
            page = _assert_same(drv.search(q, k, with_ids=with_ids),
                                spk.search(q, k, with_ids=with_ids),
                                (name, with_ids))
        if len(page) >= 3:  # searchAfter from the 3rd hit
            r = page.iloc[2]
            after = (float(r.score), int(r.segment), int(r.docid))
            _assert_same(drv.search(q, 5, after=after),
                         spk.search(q, 5, after=after), (name, "after"))


def test_driver_path_matches_spark_path(spark, mf_index):
    _check(*_pair(mf_index), QUERIES)


def test_driver_path_matches_spark_path_classic(spark, mf_index):
    _check(*_pair(mf_index, similarity="classic"),
           {n: QUERIES[n] for n in ("or3", "phrase", "field")})


def test_driver_path_with_hard_and_soft_deletes(spark, tmp_path):
    from lucene_7_x_9_x_spark.operators.deletes import (delete_by_ids,
                                                        soft_delete_by_ids)
    pdf = _corpus(32, 300)
    out = str(tmp_path / "del")
    _build(spark, out, pdf)
    ids = pdf["id"].tolist()
    delete_by_ids(spark, out, spark.createDataFrame(
        [(v,) for v in ids[::4]], "id string"))
    soft_delete_by_ids(spark, out, spark.createDataFrame(
        [(v,) for v in ids[1::5]], "id string"))
    drv, spk = _pair(IndexSnapshot(spark, out))
    assert drv._deleted_by_segment()  # tombstones are driver-held
    _check(drv, spk, {n: QUERIES[n] for n in (
        "term", "or3", "phrase", "matchall_mixed", "matchall", "filter")})


def test_driver_path_on_two_batch_snapshot(spark, tmp_path):
    from lucene_7_x_9_x_spark.streaming.incremental import (append_batch,
                                                            finalize)
    out = str(tmp_path / "inc")
    _build(spark, out, _corpus(33, 250))
    more = _corpus(34, 120)
    more["id"] = "x" + more["id"]
    append_batch(spark, spark.createDataFrame(more), out)
    snap = finalize(spark, out)
    assert len(snap.manifest["batches"]) == 2
    one = IndexSnapshot(spark, out)
    one.manifest = dict(one.manifest, batches=snap.manifest["batches"][:1])
    assert 0 < one.postings_bytes() < snap.postings_bytes()
    _check(*_pair(snap), {n: QUERIES[n] for n in (
        "term", "or3", "sloppy", "matchall_mixed", "field")})


def test_driver_path_gate(spark, mf_index, tmp_path, monkeypatch):
    from lucene_7_x_9_x_spark import searcher as searcher_mod
    from lucene_7_x_9_x_spark.operators.deletes import delete_by_ids
    from lucene_7_x_9_x_spark.operators.docvalues import update_doc_values
    from lucene_7_x_9_x_spark.searcher import Searcher

    hot = Searcher(mf_index, cache_index=True)
    try:
        assert not hot._driver_path()
    finally:
        hot._post_src.unpersist()
        hot._terms_src.unpersist()

    # postings above the bound (norms still under it)
    monkeypatch.setattr(searcher_mod, "DRIVER_POSTINGS_BYTES",
                        mf_index.postings_bytes() - 1)
    big = Searcher(mf_index)
    assert big._small_norms and not big._driver_path()
    monkeypatch.undo()

    pdf = _corpus(35, 200)
    out = str(tmp_path / "gate")
    _build(spark, out, pdf)
    delete_by_ids(spark, out, spark.createDataFrame(
        [(v,) for v in pdf["id"].tolist()[::3]], "id string"))
    s = Searcher(IndexSnapshot(spark, out))
    s.TOMBSTONE_DRIVER_CAP = 10  # more tombstones than the driver holds
    assert not s._driver_path() and s._big_deletes
    assert Searcher(IndexSnapshot(spark, out))._driver_path()

    update_doc_values(spark, out, "rating", spark.createDataFrame(
        [(pdf["id"][1], 5)], "id string, value int"))
    assert not Searcher(IndexSnapshot(spark, out))._driver_path()


def test_driver_path_starts_no_spark_job(spark, mf_index):
    drv, spk = _pair(mf_index)
    sc = spark.sparkContext
    q = QUERIES["or3"]

    def jobs(s, group):
        sc.setJobGroup(group, group)
        try:
            rows = s.search(q, 5).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(rows) == 5
        return len(sc.statusTracker().getJobIdsForGroup(group))

    assert jobs(spk, "local-test-spark") > 0
    assert jobs(drv, "local-test-driver") == 0
