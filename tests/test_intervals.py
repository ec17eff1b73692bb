"""Intervals module (queries/intervals minimal-interval semantics):
minimize() properties, greedy-vs-brute-force enumeration equivalence on
random position data (including nesting — ordered inside unordered —
which classic spans cannot express), gap filtering, and end-to-end
matching through the Spark engine."""

import itertools
import os
from bisect import bisect_right

import numpy as np
import pytest

from lucene_7_x_9_x_spark.plans import query as Q
from lucene_7_x_9_x_spark.plans.query import (IntervalOr, IntervalOrdered,
                                              IntervalQuery, IntervalTerm,
                                              IntervalUnordered)

SF = "/root/testdata/sf0.001"


# ---- per-doc reference walk: the specification that
# operators/intervals.interval_match vectorizes across candidate docs

def minimize(iv: list) -> list:
    """Keep only minimal intervals: drop any (s, e, c) containing another
    interval (s', e') with s' >= s and e' <= e (duplicates collapse to
    one; among same-(s, e) survivors the max-covered one is kept, i.e.
    fewest gaps).  Sort (start asc, end desc, covered asc); scanning from
    the right, an interval survives iff its end is strictly below every
    later interval's end."""
    iv = sorted(iv, key=lambda t: (t[0], -t[1], t[2]))
    out: list = []
    best = None
    for t in reversed(iv):
        if best is None or t[1] < best:
            out.append(t)
            best = t[1]
    out.reverse()
    return out


def _gaps_filter(iv: list, max_gaps) -> list:
    if max_gaps is None:
        return iv
    return [t for t in iv
            if max(0, t[1] - t[0] + 1 - t[2]) <= max_gaps]


def eval_source(src, pos: dict) -> list:
    """Minimal intervals of `src` for one doc; pos maps term ->
    ascending position array (absent term -> missing key)."""
    if isinstance(src, Q.IntervalTerm):
        p = pos.get(src.term)
        if p is None:
            return []
        return [(int(x), int(x), 1) for x in p]
    if isinstance(src, Q.IntervalOr):
        iv: list = []
        for s in src.sources:
            iv.extend(eval_source(s, pos))
        return minimize(iv)
    if isinstance(src, Q.IntervalOrdered):
        child = [eval_source(s, pos) for s in src.sources]
        if any(not c for c in child):
            return []
        starts = [[t[0] for t in c] for c in child]
        cands = []
        for a in child[0]:
            # greedy earliest chain: within a minimal child list starts
            # AND ends both strictly increase, so the first interval with
            # start > prev.end also has the least end
            # (OrderedIntervalsSource.nextInterval)
            s0, e_prev, cov = a
            ok = True
            for cl, st in zip(child[1:], starts[1:]):
                j = bisect_right(st, e_prev)
                if j == len(cl):
                    ok = False
                    break
                e_prev = cl[j][1]
                cov += cl[j][2]
            if not ok:
                break  # later first-child intervals start even later
            cands.append((s0, e_prev, cov))
        return _gaps_filter(minimize(cands), src.max_gaps)
    if isinstance(src, Q.IntervalUnordered):
        child = [eval_source(s, pos) for s in src.sources]
        if any(not c for c in child):
            return []
        ptr = [0] * len(child)
        cands = []
        while True:
            fronts = [c[p] for c, p in zip(child, ptr)]
            s = min(f[0] for f in fronts)
            e = max(f[1] for f in fronts)
            cands.append((s, e, sum(f[2] for f in fronts)))
            # advance the child whose front starts earliest (ties: lowest
            # index) — the plane-sweep enumeration of candidate windows
            j = min(range(len(fronts)), key=lambda i: (fronts[i][0], i))
            ptr[j] += 1
            if ptr[j] == len(child[j]):
                break
        return _gaps_filter(minimize(cands), src.max_gaps)
    if isinstance(src, Q.IntervalFilter):
        sv = eval_source(src.source, pos)
        if not sv:
            return []
        rv = eval_source(src.reference, pos)

        def contains(a, b):   # a contains b
            return a[0] <= b[0] and b[1] <= a[1]

        def overlaps(a, b):
            return not (b[1] < a[0] or b[0] > a[1])

        kind = src.kind
        if kind == "containing":
            keep = lambda s: any(contains(s, r) for r in rv)
        elif kind == "not_containing":
            keep = lambda s: not any(contains(s, r) for r in rv)
        elif kind == "contained_by":
            keep = lambda s: any(contains(r, s) for r in rv)
        elif kind == "not_contained_by":
            keep = lambda s: not any(contains(r, s) for r in rv)
        elif kind == "overlapping":
            keep = lambda s: any(overlaps(s, r) for r in rv)
        else:  # non_overlapping
            keep = lambda s: not any(overlaps(s, r) for r in rv)
        # a filtered subset of a minimal list stays minimal
        return [s for s in sv if keep(s)]
    raise TypeError(f"unknown interval source {type(src).__name__}")


def brute(src, pos):
    """Exhaustive enumerator: every combination, then minimize — the
    specification the lazy algorithms must reproduce (on (start, end);
    covered can differ between equal-(start,end) chains, and the engine
    keeps the greedy chain's value like the reference's lazy iterators)."""
    if isinstance(src, IntervalTerm):
        return minimize([(int(p), int(p), 1) for p in pos.get(src.term, [])])
    if isinstance(src, IntervalOr):
        iv = []
        for s in src.sources:
            iv.extend(brute(s, pos))
        return minimize(iv)
    lists = [brute(s, pos) for s in src.sources]
    if any(not li for li in lists):
        return []
    cands = []
    for combo in itertools.product(*lists):
        if isinstance(src, IntervalOrdered):
            if not all(combo[i + 1][0] > combo[i][1]
                       for i in range(len(combo) - 1)):
                continue
            cands.append((combo[0][0], combo[-1][1],
                          sum(c[2] for c in combo)))
        else:
            cands.append((min(c[0] for c in combo),
                          max(c[1] for c in combo),
                          sum(c[2] for c in combo)))
    iv = minimize(cands)
    if src.max_gaps is not None:
        iv = [t for t in iv if max(0, t[1] - t[0] + 1 - t[2])
              <= src.max_gaps]
    return iv


def se(iv):
    return [(s, e) for s, e, _ in iv]


def test_minimize_drops_containing_intervals():
    assert minimize([(1, 5, 2), (2, 4, 2), (1, 3, 2)]) == [(1, 3, 2),
                                                           (2, 4, 2)]
    # duplicates collapse; same (start, end) keeps the max-covered one
    assert minimize([(1, 3, 2), (1, 3, 3)]) == [(1, 3, 3)]


TREES = [
    IntervalOrdered((IntervalTerm("a"), IntervalTerm("b"))),
    IntervalOrdered((IntervalTerm("a"), IntervalTerm("b"),
                     IntervalTerm("c"))),
    IntervalUnordered((IntervalTerm("a"), IntervalTerm("b"))),
    IntervalUnordered((IntervalTerm("a"), IntervalTerm("b"),
                       IntervalTerm("c"))),
    IntervalOr((IntervalOrdered((IntervalTerm("a"), IntervalTerm("b"))),
                IntervalTerm("c"))),
    IntervalOrdered((IntervalTerm("a"),
                     IntervalOr((IntervalTerm("b"), IntervalTerm("c"))))),
    # nesting the spans module cannot express: ordered INSIDE unordered
    IntervalUnordered((IntervalOrdered((IntervalTerm("a"),
                                        IntervalTerm("b"))),
                       IntervalTerm("c"))),
    IntervalOr((IntervalUnordered((IntervalTerm("a"), IntervalTerm("b"))),
                IntervalOrdered((IntervalTerm("b"), IntervalTerm("c"))))),
]


def test_lazy_equals_bruteforce_on_random_positions():
    rng = np.random.RandomState(7)
    for trial in range(300):
        pos = {}
        for t in "abc":
            n = rng.randint(0, 5)
            if n:
                pos[t] = np.unique(rng.randint(0, 14, size=n))
        for tree in TREES:
            got = se(eval_source(tree, pos))
            want = se(brute(tree, pos))
            assert got == want, (trial, tree, pos, got, want)


def test_maxgaps_two_term_chain():
    pos = {"a": np.array([0, 10]), "b": np.array([3, 11])}
    t0 = IntervalOrdered((IntervalTerm("a"), IntervalTerm("b")),
                         max_gaps=0)
    assert se(eval_source(t0, pos)) == [(10, 11)]
    t2 = IntervalOrdered((IntervalTerm("a"), IntervalTerm("b")),
                         max_gaps=2)
    assert se(eval_source(t2, pos)) == [(0, 3), (10, 11)]
    # brute agrees under the gap filter for 2-term (covered is unambiguous)
    assert se(brute(t2, pos)) == [(0, 3), (10, 11)]


def test_engine_interval_matching_vs_bruteforce(spark, tmp_path_factory):
    import re
    from lucene_7_x_9_x_spark.index import build_index
    from lucene_7_x_9_x_spark.searcher import Searcher
    out = str(tmp_path_factory.mktemp("iv_idx"))
    docs = (spark.read.parquet(os.path.join(SF, "documents.parquet"))
            .repartitionByRange(4, "doc_id"))
    idx = build_index(spark, docs, out, id_cols=["doc_id"],
                      text_col="text", segment_by="input")
    s = Searcher(idx)
    pdf = docs.select("doc_id", "text").toPandas()
    trees = [
        IntervalOrdered((IntervalTerm("key"),
                         IntervalOr((IntervalTerm("hash"),
                                     IntervalTerm("row")))), max_gaps=4),
        IntervalUnordered((IntervalOrdered((IntervalTerm("key"),
                                            IntervalTerm("hash"))),
                           IntervalTerm("row")), max_gaps=8),
    ]
    for tree in trees:
        got = {int(r.doc_id) for r in
               s.matches(IntervalQuery(tree))
               .join(idx.docmap().select("segment", "docid", "doc_id"),
                     ["segment", "docid"]).collect()}
        want = set()
        for r in pdf.itertuples():
            toks = [t for t in re.split(r"[^a-z0-9_]+", r.text.lower())
                    if t]
            pos = {}
            for t in {"key", "hash", "row"}:
                p = [i for i, x in enumerate(toks) if x == t]
                if p:
                    pos[t] = np.asarray(p)
            if eval_source(tree, pos):
                want.add(int(r.doc_id))
        assert got == want, tree


def test_interval_prefix_wildcard_expansion(spark, tmp_path_factory):
    # Intervals.prefix / Intervals.wildcard: multi-term leaves expand
    # against the terms dictionary at rewrite time, then evaluate as an
    # or-source (union of the matched terms' positions)
    import re
    from lucene_7_x_9_x_spark.index import build_index
    from lucene_7_x_9_x_spark.searcher import Searcher
    from lucene_7_x_9_x_spark.plans.query import (IntervalOr,
                                                  IntervalOrdered,
                                                  IntervalPrefix,
                                                  IntervalQuery,
                                                  IntervalTerm,
                                                  IntervalWildcard)
    out = str(tmp_path_factory.mktemp("ivx_idx"))
    docs = (spark.read.parquet(os.path.join(SF, "documents.parquet"))
            .repartitionByRange(4, "doc_id"))
    idx = build_index(spark, docs, out, id_cols=["doc_id"],
                      text_col="text", segment_by="input")
    s = Searcher(idx)
    tree = IntervalOrdered((IntervalTerm("key"), IntervalPrefix("ro")),
                           max_gaps=4)
    rq = s.rewrite(IntervalQuery(tree))
    inner = rq.source.sources[1]
    assert isinstance(inner, IntervalOr)
    expanded = {t.term for t in inner.sources}
    assert "row" in expanded and all(t.startswith("ro") for t in expanded)
    # expanded query matches == the explicit or-source query
    explicit = IntervalQuery(IntervalOrdered(
        (IntervalTerm("key"),
         IntervalOr(tuple(IntervalTerm(t) for t in sorted(expanded)))),
        max_gaps=4))
    got = {(r.segment, r.docid) for r in s.matches(rq).collect()}
    want = {(r.segment, r.docid) for r in s.matches(explicit).collect()}
    assert got == want and got
    # wildcard form agrees with prefix form
    wq = s.rewrite(IntervalQuery(IntervalOrdered(
        (IntervalTerm("key"), IntervalWildcard("ro*")), max_gaps=4)))
    got_w = {(r.segment, r.docid) for r in s.matches(wq).collect()}
    assert got_w == got


def test_interval_filters_random_vs_bruteforce():
    # containing / contained_by / overlapping (+ negations): filtered
    # views of the source's minimal intervals, verified against the same
    # predicate applied to brute-force-evaluated children
    from lucene_7_x_9_x_spark.plans.query import IntervalFilter
    rng = np.random.RandomState(11)

    def brute_filter(node, pos):
        sv = brute(node.source, pos)
        rv = brute(node.reference, pos)

        def contains(a, b):
            return a[0] <= b[0] and b[1] <= a[1]

        def overlaps(a, b):
            return not (b[1] < a[0] or b[0] > a[1])
        pred = {
            "containing": lambda s: any(contains(s, r) for r in rv),
            "not_containing":
                lambda s: not any(contains(s, r) for r in rv),
            "contained_by": lambda s: any(contains(r, s) for r in rv),
            "not_contained_by":
                lambda s: not any(contains(r, s) for r in rv),
            "overlapping": lambda s: any(overlaps(s, r) for r in rv),
            "non_overlapping":
                lambda s: not any(overlaps(s, r) for r in rv),
        }[node.kind]
        return [s for s in sv if pred(s)]

    kinds = ["containing", "not_containing", "contained_by",
             "not_contained_by", "overlapping", "non_overlapping"]
    for trial in range(200):
        pos = {}
        for t in "abc":
            n = rng.randint(0, 5)
            if n:
                pos[t] = np.unique(rng.randint(0, 14, size=n))
        src = IntervalUnordered((IntervalTerm("a"), IntervalTerm("b")))
        ref = IntervalTerm("c")
        for kind in kinds:
            node = IntervalFilter(src, ref, kind)
            got = se(eval_source(node, pos))
            want = se(brute_filter(node, pos))
            assert got == want, (trial, kind, pos)


def test_interval_filter_end_to_end(spark, tmp_path_factory):
    # "key..hash windows that do NOT contain 'row'" through the engine
    from lucene_7_x_9_x_spark.index import build_index
    from lucene_7_x_9_x_spark.searcher import Searcher
    from lucene_7_x_9_x_spark.plans.query import IntervalFilter
    import re
    out = str(tmp_path_factory.mktemp("ivf_idx"))
    docs = (spark.read.parquet(os.path.join(SF, "documents.parquet"))
            .repartitionByRange(4, "doc_id"))
    idx = build_index(spark, docs, out, id_cols=["doc_id"],
                      text_col="text", segment_by="input")
    s = Searcher(idx)
    tree = IntervalFilter(
        IntervalUnordered((IntervalTerm("key"), IntervalTerm("hash")),
                          max_gaps=6),
        IntervalTerm("row"), "not_containing")
    got = {int(r.doc_id) for r in
           s.matches(IntervalQuery(tree))
           .join(idx.docmap().select("segment", "docid", "doc_id"),
                 ["segment", "docid"]).collect()}
    want = set()
    for r in docs.select("doc_id", "text").toPandas().itertuples():
        toks = [t for t in re.split(r"[^a-z0-9_]+", r.text.lower()) if t]
        pos = {}
        for t in {"key", "hash", "row"}:
            p = [i for i, x in enumerate(toks) if x == t]
            if p:
                pos[t] = np.asarray(p)
        if eval_source(tree, pos):
            want.add(int(r.doc_id))
    assert got == want and got


def _perdoc_match(pos_by_doc, src):
    """Reference per-doc evaluation: eval_source + the float32 fold the
    pre-vectorization interval_match ran per candidate doc."""
    out = {}
    for doc, pos in sorted(pos_by_doc.items()):
        iv = eval_source(src, pos)
        if not iv:
            continue
        acc = np.float32(0.0)
        for s, e, c in iv:
            acc = np.float32(
                acc + np.float32(1.0 / (1.0 + max(0, e - s + 1 - c))))
        out[doc] = acc
    return out


class _FakeReader:
    """positions() protocol over a {term: {doc: [pos...]}} dict."""

    def __init__(self, data):
        self.data = data

    def positions(self, term):
        m = self.data.get(term)
        if not m:
            return None
        docs = sorted(m)
        return (np.asarray(docs, dtype=np.int64),
                [np.asarray(m[d], dtype=np.int64) for d in docs])


def test_vectorized_interval_match_equals_perdoc_walk():
    """The flat-array evaluator (one searchsorted pass per node across
    ALL candidate docs) must reproduce the per-doc eval_source walk
    bit-for-bit — docids, minimal intervals, and the float32 freq fold —
    across random corpora and every node type incl. filters."""
    from lucene_7_x_9_x_spark.operators.intervals import interval_match
    from lucene_7_x_9_x_spark.plans.query import (IntervalFilter,
                                                  IntervalQuery)
    rng = np.random.RandomState(11)
    filter_kinds = ["containing", "not_containing", "contained_by",
                    "not_contained_by", "overlapping", "non_overlapping"]
    trees = list(TREES) + [
        IntervalFilter(IntervalUnordered((IntervalTerm("a"),
                                          IntervalTerm("b"))),
                       IntervalTerm("c"), k)
        for k in filter_kinds
    ] + [
        IntervalOrdered((IntervalTerm("a"),
                         IntervalOr((IntervalTerm("b"),
                                     IntervalTerm("c")))), max_gaps=4),
        IntervalUnordered((IntervalTerm("a"), IntervalTerm("b")),
                          max_gaps=2),
    ]
    for trial in range(60):
        data = {}
        n_docs = rng.randint(1, 12)
        for t in "abc":
            m = {}
            for d in range(n_docs):
                k = rng.randint(0, 6)
                if k:
                    m[d] = sorted(set(
                        rng.randint(0, 30, size=k).tolist()))
            if m:
                data[t] = m
        reader = _FakeReader(data)
        pos_by_doc = {}
        for d in range(n_docs):
            pos_by_doc[d] = {t: np.asarray(data[t][d], dtype=np.int64)
                             for t in data if d in data[t]}
        for tree in trees:
            docids, freqs = interval_match(
                reader, IntervalQuery(tree))
            want = _perdoc_match(pos_by_doc, tree)
            got = dict(zip(docids.tolist(), freqs.tolist()))
            want_f = {d: float(v) for d, v in want.items()}
            assert got == want_f, (trial, tree, got, want_f)
