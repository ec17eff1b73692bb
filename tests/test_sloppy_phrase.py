"""Sloppy-phrase parity: sloppyFreq = sum of 1/(1+matchLength) over minimal
windows (SloppyPhraseMatcher.java:158-196, PhraseScorer.java:74-81),
float32-exact, including reordered matches the reference semantics allow."""

import numpy as np
import pandas as pd

from lucene_7_x_9_x_spark import oracle
from lucene_7_x_9_x_spark.functions import bm25
from lucene_7_x_9_x_spark.operators.executor import _sloppy_freq_doc
from lucene_7_x_9_x_spark.plans.query import PhraseQuery

F32 = np.float32


def freq(doc_positions, slop):
    return _sloppy_freq_doc([np.asarray(p, np.int64)
                             for p in doc_positions], slop)


def test_sloppy_freq_hand_examples():
    # "a c b": a@0, b@2 -> pp(a)=0, pp(b)=1, matchLength 1 -> 1/(1+1)
    assert freq([[0], [2]], 1) == F32(0.5)
    # "b a": a@1, b@0 -> pp(a)=1, pp(b)=-1, matchLength 2: reordered match
    # needs slop >= 2 (the forward-window approximation missed these)
    assert freq([[1], [0]], 1) == F32(0.0)
    assert freq([[1], [0]], 2) == F32(F32(1.0) / F32(3.0))
    # "a b a b": two exact occurrences -> weight 1.0 each
    assert freq([[0, 2], [1, 3]], 0) == F32(2.0)
    assert freq([[0, 2], [1, 3]], 3) == F32(2.0)
    # exact adjacency has matchLength 0 regardless of slop
    assert freq([[5], [6]], 4) == F32(1.0)
    # three terms spread: "a x b y c": a@0 b@2 c@4 -> pps 0,1,2; pop a(0):
    # ml = 2-0 = 2 -> matches at slop 2, not 1
    assert freq([[0], [2], [4]], 1) == F32(0.0)
    assert freq([[0], [2], [4]], 2) == F32(F32(1.0) / F32(3.0))


def test_sloppy_freq_accumulates_float32():
    # two windows with matchLengths 0 and 1: freq = f32(1.0 + 0.5)
    # "a b ... a x b": a@[0,10], b@[1,12]
    got = freq([[0, 10], [1, 12]], 1)
    assert got == F32(F32(1.0) + F32(0.5))


def test_sloppy_repeated_terms():
    # phrase "a b a": slots a@0, b@1, a@2 share a's positions list; the
    # repeat group starts offset-sorted and pre-advanced (rg[1] one step)
    def f(a_pos, b_pos, slop):
        return _sloppy_freq_doc(
            [np.asarray(a_pos, np.int64), np.asarray(b_pos, np.int64),
             np.asarray(a_pos, np.int64)], slop, rpt_groups=[[0, 2]])

    # doc "a b a": exact occurrence -> matchLength 0, freq 1.0
    assert f([0, 2], [1], 0) == F32(1.0)
    assert f([0, 2], [1], 3) == F32(1.0)
    # doc "a b c a": second a one step late -> matchLength 1 at slop >= 1
    assert f([0, 3], [1], 0) == F32(0.0)
    assert f([0, 3], [1], 1) == F32(0.5)
    # doc with only one 'a' can never satisfy two repeats
    assert f([0], [1], 4) == F32(0.0)


def test_engine_matches_repeated_term_phrase():
    docs = [["a", "b", "a"], ["a", "b", "c", "a"], ["a", "b"],
            ["b", "a", "a"]]
    eng = oracle.OracleEngine(*oracle.index_token_lists(docs))
    assert eng.matches(
        PhraseQuery(["a", "b", "a"], slop=0)).docids.tolist() == [0]
    assert eng.matches(
        PhraseQuery(["a", "b", "a"], slop=1)).docids.tolist() == [0, 1]


def test_engine_scores_with_sloppy_freq():
    docs = [["q", "x", "e"],      # q@0, e@2 -> ml 1 -> freq 0.5
            ["q", "e"],           # exact   -> freq 1.0
            ["e", "q"]]           # reorder -> ml 2 -> no match at slop 1
    eng = oracle.OracleEngine(*oracle.index_token_lists(docs))
    m = eng.matches(PhraseQuery(["q", "e"], slop=1))
    assert m.docids.tolist() == [0, 1]
    stats = eng.stats
    idf_sum = F32(float(np.sum(np.array(
        [stats.idf("q"), stats.idf("e")], dtype=np.float32,
    ).astype(np.float64))))
    norms = eng.reader.norms()
    for docid, f in [(0, F32(0.5)), (1, F32(1.0))]:
        want = bm25.score_term(np.array([f], np.float32),
                               norms[docid:docid + 1], idf_sum,
                               stats.cache)[0]
        got = m.scores[list(m.docids).index(docid)]
        assert F32(got) == want, (docid, got, want)
    # reordered match appears at slop 2
    m2 = eng.matches(PhraseQuery(["q", "e"], slop=2))
    assert m2.docids.tolist() == [0, 1, 2]


def test_vectorized_2term_matches_heap_walk_random():
    """Property: the vectorized 2-distinct-term closed form (tag-switch
    boundary gaps in merged adjusted-position order) reproduces the
    PhraseQueue heap walk (_sloppy_freq_doc) bit-for-bit — docids, float32
    sloppyFreq, and fold order."""
    from lucene_7_x_9_x_spark.operators.executor import (_sloppy_freq_doc,
                                                         _sloppy_match_2)
    rng = np.random.RandomState(424)
    for trial in range(400):
        n_docs = rng.randint(1, 6)
        slop = int(rng.randint(0, 6))
        flats_a, flats_b, docids = [], [], []
        per_doc = []
        for d in range(n_docs):
            na, nb = rng.randint(1, 8), rng.randint(1, 8)
            A = np.unique(rng.randint(0, 25, size=na)).astype(np.int64)
            B = np.unique(rng.randint(0, 25, size=nb)).astype(np.int64)
            docids.append(d)
            flats_a.append(A)
            flats_b.append(B)
            per_doc.append((A, B))
        d_arr = np.asarray(docids, np.int64)
        flats = []
        for plists in (flats_a, flats_b):
            counts = np.asarray([len(x) for x in plists], np.int64)
            flat = np.concatenate(plists)
            flats.append((d_arr, counts, flat))
        vd, vf = _sloppy_match_2(flats, d_arr, slop)
        # reference: the heap walk per doc
        exp_d, exp_f = [], []
        for d, (A, B) in enumerate(per_doc):
            f = _sloppy_freq_doc([A, B], slop)
            if f > 0:
                exp_d.append(d)
                exp_f.append(f)
        assert vd.tolist() == exp_d, (trial, slop, per_doc)
        assert [F32(x) for x in vf] == exp_f, (trial, slop, per_doc)


def test_vectorized_kterm_matches_heap_walk_random():
    """Property: the k-pointer round simulation (_sloppy_match_k, k >= 3
    distinct terms) reproduces the PhraseQueue heap walk bit-for-bit —
    docids, float32 sloppyFreq, and fold order — across random position
    data, slops and k. Positions are drawn WITH repeats: MultiPhrase
    slot unions keep duplicate positions in the stream, so the walk must
    agree with the heap on those too."""
    from lucene_7_x_9_x_spark.operators.executor import (_sloppy_freq_doc,
                                                         _sloppy_match_k)
    rng = np.random.RandomState(777)
    for trial in range(400):
        k = int(rng.randint(3, 6))
        n_docs = rng.randint(1, 6)
        slop = int(rng.randint(0, 8))
        per_slot = [[] for _ in range(k)]
        per_doc = []
        for d in range(n_docs):
            lists = []
            for s in range(k):
                ns = rng.randint(1, 8)
                lists.append(np.sort(
                    rng.randint(0, 30, size=ns)).astype(np.int64))
                per_slot[s].append(lists[-1])
            per_doc.append(lists)
        d_arr = np.arange(n_docs, dtype=np.int64)
        flats = []
        for s in range(k):
            counts = np.asarray([len(x) for x in per_slot[s]], np.int64)
            flats.append((d_arr, counts, np.concatenate(per_slot[s])))
        vd, vf = _sloppy_match_k(flats, d_arr, slop)
        exp_d, exp_f = [], []
        for d, lists in enumerate(per_doc):
            f = _sloppy_freq_doc(lists, slop)
            if f > 0:
                exp_d.append(d)
                exp_f.append(f)
        assert vd.tolist() == exp_d, (trial, k, slop, per_doc)
        assert [F32(x) for x in vf] == exp_f, (trial, k, slop, per_doc)
