"""The dense batch accumulator (operators/search.dense_topk) must return, for
every term-only plan of a batch, exactly blockmax_topk's and exhaustive
evaluation's per-segment top-k: the same docids in the same order and
byte-equal float32 scores."""

import numpy as np
import pytest

from lucene_7_x_9_x_spark import oracle
from lucene_7_x_9_x_spark.operators import executor as ex
from lucene_7_x_9_x_spark.operators import search as search_mod
from lucene_7_x_9_x_spark.operators.build import invert_segment
from lucene_7_x_9_x_spark.operators.search import (SparkSegmentReader,
                                                   blockmax_topk,
                                                   classify_blockmax,
                                                   dense_topk, is_term_plan)
from lucene_7_x_9_x_spark.plans.query import (BooleanQuery, Occur,
                                              PhraseQuery, TermQuery,
                                              rewrite)
from tests.test_search import CFG, _random_corpus

HOT = [f"h{i}" for i in range(12)]
TAIL = [f"t{i:04d}" for i in range(300)]
OCCURS = [Occur.MUST, Occur.SHOULD, Occur.FILTER, Occur.MUST_NOT]


def _segment(pdf):
    """(postings frame, norms, stats) of one local segment."""
    postings, docmap = invert_segment(
        pdf.copy(), segment=0, id_cols=["id"], text_col="content", cfg=CFG)
    norms = (docmap.sort_values("docid")["norm"].to_numpy(np.int64)
             & 0xFF).astype(np.uint8)
    _, stats = oracle.index_corpus(pdf.sort_values("id")
                                   .reset_index(drop=True),
                                   text_col="content")
    return postings, norms, stats


def _random_term_query(rng):
    """A Boolean of 1-6 term clauses: any occur mix, boosts, msm 0-3,
    repeated terms and sometimes a term absent from the index."""
    clauses = []
    for _ in range(rng.randint(1, 7)):
        r = rng.rand()
        t = (HOT[rng.randint(len(HOT))] if r < 0.6
             else TAIL[rng.randint(len(TAIL))] if r < 0.93
             else "zzz_absent")
        occur = OCCURS[rng.choice(4, p=[0.3, 0.45, 0.12, 0.13])]
        clauses.append((occur, TermQuery(
            t, boost=float(rng.choice([1.0, 2.0, 0.5])))))
    if rng.rand() < 0.25:  # the same term twice
        clauses.append(clauses[0])
    return BooleanQuery(clauses, minimum_should_match=int(rng.randint(0, 4)))


def _exhaustive(reader, stats, q, k, deleted):
    m = ex.evaluate(reader, stats, q)
    d, s = m.docids, m.scores
    if deleted is not None:
        keep = ~np.isin(d, deleted)
        d, s = d[keep], s[keep]
    return ex.top_k(ex.Matches(d, s), k), (d, s)


def _same(a, b):
    return (np.array_equal(a[0], b[0]) and a[1].dtype == np.float32
            and np.array_equal(a[1].view(np.int32), b[1].view(np.int32)))


@pytest.mark.parametrize("cells", [search_mod.DENSE_CELLS, 3000])
def test_dense_equals_blockmax_equals_exhaustive(monkeypatch, cells):
    """Random term plans over multi-block segments, the whole batch in one
    dense_topk call (cells=3000 splits it into 2-qid chunks): msm 0-3,
    FILTER/MUST_NOT, repeated and absent terms, tombstones, k above the
    hit count and exact float32 ties at the k-th score."""
    monkeypatch.setattr(search_mod, "DENSE_CELLS", cells)
    rng = np.random.RandomState(99)
    counts = {"ties": 0, "short": 0, "absent_must": 0, "multi_block": 0}
    for trial in range(4):
        n_docs = 1200 + 100 * trial
        postings, norms, stats = _segment(_random_corpus(rng, n_docs))
        counts["multi_block"] += int(
            (postings.block_ns.map(len) > 1).sum())
        queries = []
        while len(queries) < 40:
            q = rewrite(_random_term_query(rng))
            if is_term_plan(classify_blockmax(q)):
                queries.append(q)
        plans = [classify_blockmax(q) for q in queries]
        for deleted in (None, np.unique(rng.randint(0, n_docs, 60))):
            for k in (1, 10, 5000):
                dense = dense_topk(
                    SparkSegmentReader(postings, norms, n_docs), stats,
                    plans, k, n_docs, deleted=deleted)
                reader = SparkSegmentReader(postings, norms, n_docs)
                for q, plan, got in zip(queries, plans, dense):
                    bm = blockmax_topk(reader, stats, plan, k,
                                       deleted=deleted)[:2]
                    want, (all_d, all_s) = _exhaustive(reader, stats, q, k,
                                                       deleted)
                    assert _same(got, bm), (trial, q, k)
                    assert _same(got, want), (trial, q, k)
                    if k < len(all_s) and np.sort(all_s)[::-1][k - 1] == \
                            np.sort(all_s)[::-1][k]:
                        counts["ties"] += 1
                    counts["short"] += len(all_d) < k
                    counts["absent_must"] += any(
                        u["key"] == "zzz_absent" and u["is_must"]
                        for u in plan["units"])
    assert all(v > 0 for v in counts.values()), counts


def test_dense_unit_order_and_empty_cases():
    """The float64 sum follows plan-unit order even when a term repeats;
    an absent MUST or FILTER term empties the result; k <= 0 gives no
    rows; MUST_NOT and tombstones drop docs."""
    rng = np.random.RandomState(3)
    n_docs = 900
    pdf = _random_corpus(rng, n_docs)
    postings, norms, stats = _segment(pdf)
    reader = SparkSegmentReader(postings, norms, n_docs)
    S, M, F, N = Occur.SHOULD, Occur.MUST, Occur.FILTER, Occur.MUST_NOT
    qs = [BooleanQuery([(S, TermQuery("h0")), (S, TermQuery("h1", 2.0)),
                        (S, TermQuery("h0", 0.5)), (S, TermQuery("h2"))]),
          BooleanQuery([(M, TermQuery("zzz_absent")), (S, TermQuery("h0"))]),
          BooleanQuery([(F, TermQuery("zzz_absent")), (S, TermQuery("h0"))]),
          BooleanQuery([(S, TermQuery("h0")), (N, TermQuery("h1"))]),
          BooleanQuery([(S, TermQuery("t0001")), (F, TermQuery("h0"))])]
    plans = [classify_blockmax(rewrite(q)) for q in qs]
    got = dense_topk(reader, stats, plans, 50, n_docs)
    for q, plan, g in zip(qs, plans, got):
        want, _ = _exhaustive(reader, stats, rewrite(q), 50, None)
        assert _same(g, want), q
    assert len(got[1][0]) == 0 and len(got[2][0]) == 0
    # FILTER with only SHOULD units: SHOULD is optional, filter-only docs
    # match with score 0 (the reference's required + optional split)
    assert (got[4][1] == 0).any() and (got[4][1] > 0).any()
    h1 = reader.postings("h1")[0]
    assert not np.isin(got[3][0], h1).any()
    dele = got[0][0][:3]
    again = dense_topk(reader, stats, plans[:1], 50, n_docs, deleted=dele)
    assert not np.isin(again[0][0], dele).any()
    assert all(len(d) == 0 for d, _ in
               dense_topk(reader, stats, plans, 0, n_docs))


def test_dense_sum_follows_plan_unit_order():
    """Each doc's float64 sum adds its unit scores in plan-unit order, in
    dense_topk, blockmax_topk and exhaustive evaluation alike. A power-of-
    two boost scales every float32 BM25 score exactly, so boosts 1, 2^b
    and 2^c (b near 0, c near -52: the last addend lands at the float64
    rounding bit of the first two's sum) give, for some doc, unit scores
    whose sum rounds to a different float32 value in plan order than in
    reverse order. The search for (b, c) runs over the segment's real
    scores."""
    rng = np.random.RandomState(5)
    n_docs = 1500
    postings, norms, stats = _segment(_random_corpus(rng, n_docs))
    reader = SparkSegmentReader(postings, norms, n_docs)
    terms = HOT[:3]
    alone = [ex.evaluate(reader, stats, TermQuery(t)) for t in terms]
    common = alone[0].docids
    for m in alone[1:]:
        common = np.intersect1d(common, m.docids)
    s = [m.scores[np.searchsorted(m.docids, common)].astype(np.float64)
         for m in alone]

    def f32_sum(parts):
        acc = np.zeros(len(common))
        for x in parts:
            acc = acc + x
        return acc.astype(np.float32)

    found = None
    for b in range(-4, 4):
        for c in range(-60, -44):
            parts = [s[0], s[1] * 2.0 ** b, s[2] * 2.0 ** c]
            diff = np.flatnonzero(f32_sum(parts) != f32_sum(parts[::-1]))
            if len(diff):
                found = (b, c, int(common[diff[0]]))
                break
        if found:
            break
    assert found is not None
    b, c, doc = found
    boost = dict(zip(terms, [1.0, 2.0 ** b, 2.0 ** c]))
    q = rewrite(BooleanQuery([(Occur.SHOULD, TermQuery(t, boost=boost[t]))
                              for t in terms]))
    plan = classify_blockmax(q)
    order = [terms.index(u["key"]) for u in plan["units"]]
    i = int(np.searchsorted(common, doc))
    parts = [s[j][i:i + 1] * boost[terms[j]] for j in order]
    want = f32_sum(parts)[0]
    assert want != f32_sum(parts[::-1])[0]

    def score_of(got):
        d, sc = got
        assert doc in d
        return sc[np.flatnonzero(d == doc)[0]]

    k = n_docs
    dense = dense_topk(reader, stats, [plan], k, n_docs)[0]
    bm = blockmax_topk(SparkSegmentReader(postings, norms, n_docs), stats,
                       plan, k)[:2]
    full, _ = _exhaustive(reader, stats, q, k, None)
    for got in (dense, bm, full):
        assert score_of(got).view(np.int32) == want.view(np.int32)
    assert _same(dense, bm) and _same(dense, full)


def test_dense_only_takes_term_plans():
    assert is_term_plan(classify_blockmax(rewrite(BooleanQuery(
        [(Occur.MUST, TermQuery("a")), (Occur.FILTER, TermQuery("b")),
         (Occur.MUST_NOT, TermQuery("c"))]))))
    assert not is_term_plan(classify_blockmax(rewrite(BooleanQuery(
        [(Occur.SHOULD, TermQuery("a")),
         (Occur.SHOULD, PhraseQuery(["a", "b"]))]))))
    assert not is_term_plan(None)

