"""search_many (batched multi-query execution) must return exactly what
per-query search returns, for every query in the batch; and the driver
path (`_topk_frame(..., local=True)`) must return what each Spark kernel
shape (hot, cold broadcast-norms, cogroup) returns for the same batch,
with every plan-bearing qid on the dense top-k kernel (dense_topk), over
one doc window or several."""

import numpy as np
import pytest

from lucene_7_x_9_x_spark.plans.query import (BooleanQuery,
                                              DisjunctionMaxQuery,
                                              MatchAllDocsQuery, Occur,
                                              PhraseQuery, SynonymQuery,
                                              TermQuery)
from tests.test_search import _random_corpus

RARE = [f"zq{i}" for i in range(12)]  # one doc each: each misses 2 segments
DTYPES = {"qid": np.dtype(object), "segment": np.dtype(np.int32),
          "docid": np.dtype(np.int64), "score": np.dtype(np.float32)}


@pytest.fixture(scope="module")
def many_index(spark, tmp_path_factory):
    from lucene_7_x_9_x_spark.index import build_index
    rng = np.random.RandomState(21)
    pdf = _random_corpus(rng, n_docs=500)
    for i, w in enumerate(RARE):
        pdf.loc[i * 29, "content"] += f" {w}"
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


def _kernel_batches(idx) -> dict:
    """{name: batch} for the driver-path checks. "mixed": or3, and2, an
    exact phrase, a synonym beside a MUST dismax, a sloppy phrase (not
    block-max eligible), a MatchAll qid and a qid whose terms miss
    segments. "sparse": postings in two of the
    three segments, so its MatchAll qid also runs the norms-only kernel.
    "none": every qid gets zero hits in every segment it reaches."""
    seg = idx.postings_rows(set(RARE), ["term", "segment"]).to_pydict()
    seg_of = dict(zip(seg["term"], seg["segment"]))
    a = RARE[0]
    b = next(w for w in RARE if seg_of[w] != seg_of[a])
    S, M, T = Occur.SHOULD, Occur.MUST, TermQuery
    miss = BooleanQuery([(S, T(a)), (S, T(b))])
    return {
        "mixed": {
            "or3": BooleanQuery([(S, T("h1")), (S, T("h2")), (S, T("h4"))]),
            "and2": BooleanQuery([(M, T("h0")), (M, T("h1"))]),
            "phrase": PhraseQuery(["h0", "h1"]),
            "syn_dismax": BooleanQuery([
                (S, SynonymQuery(["h5", "h6"])),
                (M, DisjunctionMaxQuery([T("h2"), T("h7")], 0.2))]),
            "sloppy": PhraseQuery(["h0", "h2"], slop=3),
            "matchall": BooleanQuery([(S, T("h3")),
                                      (S, MatchAllDocsQuery())]),
            "miss": miss},
        "sparse": {"miss": miss,
                   "matchall": BooleanQuery([(S, T(a)),
                                             (S, MatchAllDocsQuery())])},
        "none": {"and": BooleanQuery([(M, T(a)), (M, T(b))]),
                 "phrase": PhraseQuery([a, b])},
    }


def _rows(pdf, label):
    assert dict(pdf.dtypes) == DTYPES, label
    return (pdf[list(DTYPES)].sort_values(["qid", "segment", "docid"])
            .reset_index(drop=True))


def _assert_driver_path_matches(s, idx, monkeypatch, cells=None):
    """s's driver path and s's Spark path give the same (qid, segment,
    docid) rows, byte-equal float32 scores and frame dtypes: top-k, every
    match (k=None) and, on the mixed batch, a searchAfter cursor. The
    driver path calls dense_topk for every top-k batch, with every unit
    kind the batches hold, and for no other call. cells sets DENSE_CELLS
    in this process alone, so the driver path runs doc windows where the
    Spark workers' kernels run one."""
    from lucene_7_x_9_x_spark import searcher as searcher_mod
    from lucene_7_x_9_x_spark.operators import search as search_mod
    dense_calls, kinds, dense = [], set(), searcher_mod.dense_topk

    def counted(reader, stats, plans, *a, **kw):
        dense_calls.append(1)
        kinds.update(u["kind"] for p in plans for u in p["units"])
        return dense(reader, stats, plans, *a, **kw)

    monkeypatch.setattr(searcher_mod, "dense_topk", counted)
    if cells is not None:
        monkeypatch.setattr(search_mod, "DENSE_CELLS", cells)
    for name, batch in _kernel_batches(idx).items():
        rq = {qid: s.rewrite(q) for qid, q in batch.items()}
        calls = [dict(k=7), dict(k=None, mode="complete")]
        if name == "mixed":
            top = _rows(s._topk_frame(rq, 7, local=True), name)
            r = top[top.qid == "or3"].sort_values(
                ["score", "segment", "docid"],
                ascending=[False, True, True]).iloc[2]
            calls.append(dict(k=5, after=(float(r.score), int(r.segment),
                                          int(r.docid))))
        for kw in calls:
            label = (name, kw)
            del dense_calls[:]
            local = _rows(s._topk_frame(rq, local=True, **kw), label)
            assert bool(dense_calls) == (kw.get("k") is not None
                                         and "after" not in kw), label
            got = _rows(s._topk_frame(rq, **kw).toPandas(), label)
            assert local[["qid", "segment", "docid"]].values.tolist() == \
                got[["qid", "segment", "docid"]].values.tolist(), label
            assert np.array_equal(local.score.to_numpy(),
                                  got.score.to_numpy()), label
            if name == "none":
                assert len(got) == 0, label
            elif "after" in kw:
                assert len(got) > 0, label
            else:
                assert set(got.qid) == set(batch), label
    assert kinds == {"term", "phrase", "synonym", "dismax"}
    monkeypatch.undo()


@pytest.mark.parametrize("cache_index", [False, True])
def test_search_many_matches_individual(spark, many_index, cache_index,
                                        monkeypatch):
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
        _assert_driver_path_matches(s, many_index, monkeypatch)
    finally:
        s._post_src.unpersist()
        s._terms_src.unpersist()


def test_cogroup_kernel_matches_broadcast(spark, many_index, monkeypatch):
    """Norms too big to broadcast fall back to the cogroup kernel; without
    deletes it must return the broadcast path's rows and float32 scores,
    for search and search_many alike, and the driver path's (every test
    index has small norms, so the fallback is forced on the instance)."""
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
    # ~170-doc segments in 64-doc windows on the driver path
    assert min(m for _, m, _ in many_index.segnorms_parsed().values()) > 64
    _assert_driver_path_matches(big, many_index, monkeypatch, cells=64)


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
