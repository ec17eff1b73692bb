"""M3 exit criteria (SURVEY.md §7.2): top-k kernel == exhaustive == oracle —
the CheckHits.checkTopScores equivalence property
(solr-8.4.0/lucene/test-framework/src/java/org/apache/lucene/search/CheckHits.java:577-601)
replicated over seeded random corpora, plus Spark end-to-end identity."""

import numpy as np
import pandas as pd
import pytest

from lucene_7_x_9_x_spark import oracle
from lucene_7_x_9_x_spark.functions.analysis import AnalyzerConfig
from lucene_7_x_9_x_spark.operators import executor as ex
from lucene_7_x_9_x_spark.operators.build import invert_segment
from lucene_7_x_9_x_spark.operators.search import (SparkSegmentReader,
                                                   classify_blockmax,
                                                   dense_topk)
from lucene_7_x_9_x_spark.plans.query import (BooleanQuery,
                                              DisjunctionMaxQuery, Occur,
                                              PhraseQuery, SynonymQuery,
                                              TermQuery, rewrite)

CFG = AnalyzerConfig()


def _random_corpus(rng, n_docs=800, vocab_hot=12, vocab_tail=300):
    hot = [f"h{i}" for i in range(vocab_hot)]
    tail = [f"t{i:04d}" for i in range(vocab_tail)]
    docs = []
    for i in range(n_docs):
        ln = max(1, int(rng.lognormal(2.5, 1.0)))
        words = [hot[int(rng.zipf(1.7)) % vocab_hot] if rng.rand() < 0.5
                 else tail[rng.randint(vocab_tail)] for _ in range(ln)]
        docs.append(" ".join(words))
    return pd.DataFrame({
        "id": [f"d{i:06d}" for i in range(n_docs)],
        "content": docs})


def _build_kernel_side(pdf):
    """Local (no Spark) segment build + reader, plus matching oracle."""
    postings, docmap = invert_segment(
        pdf.copy(), segment=0, id_cols=["id"], text_col="content", cfg=CFG)
    norms = (docmap.sort_values("docid")["norm"].to_numpy(np.int64)
             & 0xFF).astype(np.uint8)
    reader = SparkSegmentReader(postings, norms, len(pdf))
    sorted_pdf = pdf.sort_values("id").reset_index(drop=True)
    oreader, ostats = oracle.index_corpus(sorted_pdf, text_col="content")
    return reader, oreader, ostats


def _random_query(rng, hot, tail):
    kind = rng.randint(10)
    pick = lambda n: [hot[rng.randint(len(hot))] if rng.rand() < 0.7
                      else tail[rng.randint(len(tail))] for _ in range(n)]
    if kind == 6:  # synonym unit
        return SynonymQuery(pick(rng.randint(2, 4)))
    if kind == 7:  # dismax of terms (max-score propagation shape)
        return DisjunctionMaxQuery(
            [TermQuery(t) for t in pick(rng.randint(2, 4))],
            tie_breaker=float(rng.choice([0.0, 0.3])))
    if kind == 8:  # exact phrase (conjunction-approximation shape)
        return PhraseQuery([hot[rng.randint(len(hot))],
                            hot[rng.randint(len(hot))]])
    if kind == 9:  # mixed Boolean over composite units
        return BooleanQuery(
            [(Occur.MUST, SynonymQuery(pick(2))),
             (Occur.SHOULD, PhraseQuery([hot[rng.randint(len(hot))],
                                         hot[rng.randint(len(hot))]])),
             (Occur.SHOULD, DisjunctionMaxQuery(
                 [TermQuery(t) for t in pick(2)], tie_breaker=0.1))])
    if kind == 0:
        return TermQuery(pick(1)[0])
    if kind == 1:  # disjunction with boosts
        return BooleanQuery([(Occur.SHOULD,
                              TermQuery(t, boost=float(rng.choice([1, 2, 3]))))
                             for t in pick(rng.randint(2, 5))])
    if kind == 2:  # conjunction
        return BooleanQuery([(Occur.MUST, TermQuery(t))
                             for t in pick(rng.randint(2, 4))])
    if kind == 3:  # mixed must+should+must_not
        return BooleanQuery(
            [(Occur.MUST, TermQuery(pick(1)[0]))]
            + [(Occur.SHOULD, TermQuery(t)) for t in pick(2)]
            + [(Occur.MUST_NOT, TermQuery(pick(1)[0]))])
    if kind == 4:  # filtered
        return BooleanQuery(
            [(Occur.SHOULD, TermQuery(t)) for t in pick(3)]
            + [(Occur.FILTER, TermQuery(hot[rng.randint(len(hot))]))])
    return BooleanQuery([(Occur.SHOULD, TermQuery(t)) for t in pick(4)],
                        minimum_should_match=2)


def test_blockmax_equals_exhaustive_equals_oracle_random():
    rng = np.random.RandomState(1234)
    hot = [f"h{i}" for i in range(12)]
    tail = [f"t{i:04d}" for i in range(300)]
    for trial in range(6):
        pdf = _random_corpus(rng)
        reader, oreader, ostats = _build_kernel_side(pdf)
        eng = oracle.OracleEngine(oreader, ostats)
        for qi in range(25):
            q = rewrite(_random_query(rng, hot, tail))
            for k in (1, 10):
                om = eng.matches(q)
                od, osc = ex.top_k(om, k)
                em = ex.evaluate(reader, ostats, q)
                ed, esc = ex.top_k(em, k)
                assert np.array_equal(ed, od), (trial, qi, q)
                assert np.array_equal(esc, osc), (trial, qi, q)
                plan = classify_blockmax(q)
                if plan is not None:
                    [(bd, bs)] = dense_topk(reader, ostats, [plan], k,
                                            len(pdf))
                    assert np.array_equal(bd, od), ("dense", trial, qi, q, k)
                    assert np.array_equal(bs, osc), ("dense", trial, qi, q, k)


def test_blockmax_composite_shapes_classified():
    # the r2 gap: synonym / dismax / exact-phrase shapes must not bail to
    # exhaustive (SynonymQuery.java:305-360, MaxScoreSumPropagator.java:32,
    # PhraseWeight impacts)
    assert classify_blockmax(rewrite(SynonymQuery(["a", "b"]))) is not None
    assert classify_blockmax(rewrite(
        DisjunctionMaxQuery([TermQuery("a"), TermQuery("b")], 0.1)
    )) is not None
    assert classify_blockmax(rewrite(PhraseQuery(["a", "b"]))) is not None
    assert classify_blockmax(rewrite(
        PhraseQuery(["a", "b"], slop=2))) is None  # sloppy stays exhaustive
    assert classify_blockmax(rewrite(BooleanQuery(
        [(Occur.MUST, PhraseQuery(["a", "b"])),
         (Occur.SHOULD, SynonymQuery(["c", "d"]))]))) is not None


def _dense_top1_equals_exhaustive(pdf, q):
    reader, _, ostats = _build_kernel_side(pdf)
    q = rewrite(q)
    [(d, s)] = dense_topk(reader, ostats, [classify_blockmax(q)], 1, len(pdf))
    ed, esc = ex.top_k(ex.evaluate(reader, ostats, q), 1)
    assert np.array_equal(d, ed) and np.array_equal(s, esc)


def test_blockmax_synonym_prunes():
    """Top-1 of a synonym over skewed frequencies (scores that do not
    saturate at the idf ceiling, the corpus block-max pruning was checked
    on): dense_topk returns exhaustive evaluation's doc and float32 score."""
    rng = np.random.RandomState(9)
    rows = []
    for i in range(4000):
        f0 = 25 if i % 512 == 7 else 1
        f1 = 20 if i % 512 == 9 else (2 if i % 7 == 0 else 0)
        pad = rng.randint(5, 40)
        rows.append(" ".join(["x"] * pad + ["s0"] * f0 + ["s1"] * f1))
    pdf = pd.DataFrame({"id": [f"d{i:06d}" for i in range(4000)],
                        "content": rows})
    _dense_top1_equals_exhaustive(pdf, SynonymQuery(["s0", "s1"]))


def test_blockmax_actually_prunes():
    """Top-1 of a single hot term over 4000 docs (the ImpactsDISI case
    block-max pruning was checked on): dense_topk returns exhaustive
    evaluation's doc and float32 score."""
    rng = np.random.RandomState(77)
    _dense_top1_equals_exhaustive(_random_corpus(rng, n_docs=4000),
                                  TermQuery("h0"))


@pytest.fixture(scope="module")
def spark_index(spark, tmp_path_factory):
    from lucene_7_x_9_x_spark.index import build_index
    rng = np.random.RandomState(5)
    pdf = _random_corpus(rng, n_docs=600)
    out = str(tmp_path_factory.mktemp("sidx"))
    idx = build_index(spark, spark.createDataFrame(pdf), out,
                      id_cols=["id"], text_col="content", num_segments=4)
    return pdf, idx


def _oracle_in_engine_order(pdf, idx):
    """Oracle over docs ordered (segment asc, docid asc) so global tie-break
    order matches the engine's (TopDocs.java:75 analogue)."""
    dm = idx.docmap().toPandas().sort_values(["segment", "docid"])
    ordered = dm[["id"]].merge(pdf, on="id")
    return oracle.OracleEngine(*oracle.index_corpus(
        ordered.reset_index(drop=True), text_col="content")), ordered


def test_spark_search_matches_oracle(spark, spark_index):
    from lucene_7_x_9_x_spark.searcher import Searcher
    pdf, idx = spark_index
    eng, ordered = _oracle_in_engine_order(pdf, idx)
    searcher = Searcher(idx)
    queries = [
        TermQuery("h0"),
        BooleanQuery([(Occur.SHOULD, TermQuery("h1")),
                      (Occur.SHOULD, TermQuery("h2", boost=2.0)),
                      (Occur.SHOULD, TermQuery("t0005"))]),
        BooleanQuery([(Occur.MUST, TermQuery("h0")),
                      (Occur.MUST, TermQuery("h1")),
                      (Occur.MUST_NOT, TermQuery("h2"))]),
        BooleanQuery([(Occur.SHOULD, TermQuery("h3")),
                      (Occur.SHOULD, TermQuery("h4")),
                      (Occur.SHOULD, TermQuery("h5"))],
                     minimum_should_match=2),
    ]
    for q in queries:
        for k in (1, 10):
            got = searcher.search(q, k).toPandas()
            want = eng.search(q, k)
            want_ids = ordered.iloc[want.docid].id.tolist()
            assert got.id.tolist() == want_ids, (q, k)
            assert np.array_equal(got.score.to_numpy(np.float32),
                                  want.score.to_numpy(np.float32)), (q, k)
            # the dense kernel and complete agree end-to-end
            got_c = searcher.search(q, k, mode="complete").toPandas()
            assert got.id.tolist() == got_c.id.tolist()


def test_search_rejects_unknown_mode(spark, spark_index):
    """mode is "auto" or "complete": anything else raises, on the driver
    path and on the Spark path alike, instead of running exhaustively."""
    from lucene_7_x_9_x_spark.searcher import Searcher
    _, idx = spark_index
    driver, on_spark = Searcher(idx), Searcher(idx)
    on_spark._local = False
    assert driver._driver_path() and not on_spark._driver_path()
    for s in (driver, on_spark):
        for mode in ("blockmax", "exhaustive"):
            with pytest.raises(ValueError, match="unknown mode"):
                s.search(TermQuery("h0"), 5, mode=mode)


def test_search_equals_complete_on_input_segments(spark, tmp_path_factory):
    """On an input-mode index of 8 segments (sf0.001), search's top-10
    (the dense kernel) is search(mode="complete")'s (exhaustive
    evaluation): the same docs in the same order, the same scores, for
    term, disjunction, dismax and single-MUST queries."""
    import os

    from lucene_7_x_9_x_spark.index import build_index
    from lucene_7_x_9_x_spark.searcher import Searcher
    from tests.test_intervals import SF
    out = str(tmp_path_factory.mktemp("input_idx"))
    docs = (spark.read.parquet(os.path.join(SF, "documents.parquet"))
            .repartitionByRange(8, "doc_id"))
    s = Searcher(build_index(spark, docs, out, id_cols=["doc_id"],
                             text_col="text", segment_by="input"))
    S = Occur.SHOULD
    for q in [TermQuery("filter"),
              BooleanQuery([(S, TermQuery("filter")), (S, TermQuery("join")),
                            (S, TermQuery("window"))]),
              BooleanQuery([(S, TermQuery("group")),
                            (S, TermQuery("query"))]),
              DisjunctionMaxQuery([TermQuery("group"), TermQuery("query")],
                                  0.3),
              BooleanQuery([(Occur.MUST, TermQuery("filter"))])]:
        got = s.search(q, 10).toPandas()
        want = s.search(q, 10, mode="complete").toPandas()
        assert len(got) == 10, q
        assert got.doc_id.tolist() == want.doc_id.tolist(), q
        assert got.score.tolist() == want.score.tolist(), q


def test_spark_phrase_and_count(spark, spark_index):
    from lucene_7_x_9_x_spark.searcher import Searcher
    pdf, idx = spark_index
    eng, ordered = _oracle_in_engine_order(pdf, idx)
    searcher = Searcher(idx)
    # find a bigram that exists
    toks = pdf.content.iloc[0].split()
    q = PhraseQuery([toks[0], toks[1]])
    got = searcher.search(q, 10).toPandas()
    want = eng.search(q, 10)
    assert got.id.tolist() == ordered.iloc[want.docid].id.tolist()
    assert searcher.count(TermQuery("h0")) == eng.count(TermQuery("h0"))


def test_spark_multi_term_expansion(spark, spark_index):
    from lucene_7_x_9_x_spark.searcher import Searcher
    from lucene_7_x_9_x_spark.plans.query import PrefixQuery
    pdf, idx = spark_index
    eng, ordered = _oracle_in_engine_order(pdf, idx)
    searcher = Searcher(idx)
    assert (searcher.count(PrefixQuery("t00"))
            == eng.count(PrefixQuery("t00")))


def test_function_score_modes(spark, spark_index):
    from lucene_7_x_9_x_spark.searcher import Searcher
    import numpy as np
    pdf, idx = spark_index
    s = Searcher(idx)
    # replace mode: score == float32(dl) of each matching doc
    rep = s.function_score(TermQuery("h0"), value_col="dl",
                           mode="replace", k=5).toPandas()
    dm = idx.docmap().select("segment", "docid", "dl").toPandas()
    dl_of = {(r.segment, r.docid): r.dl for r in dm.itertuples()}
    for r in rep.itertuples():
        assert np.float32(r.score) == np.float32(
            dl_of[(r.segment, r.docid)])
    # multiply mode: score == float32(query_score * dl)
    base = s.search(TermQuery("h0"), 1000).toPandas()
    mul = s.function_score(TermQuery("h0"), value_col="dl",
                           mode="multiply", k=5).toPandas()
    base_sc = {(r.segment, r.docid): r.score for r in base.itertuples()}
    for r in mul.itertuples():
        want = np.float32(np.float64(base_sc[(r.segment, r.docid)])
                          * float(dl_of[(r.segment, r.docid)]))
        assert np.float32(r.score) == want


def test_to_parent_block_join_modes(spark, spark_index):
    from lucene_7_x_9_x_spark.searcher import Searcher
    from pyspark.sql import functions as F
    import numpy as np
    pdf, idx = spark_index
    s = Searcher(idx)
    child = s.search(TermQuery("h0"), 10_000).toPandas()
    # parent = docid DIV 4 within each segment (arbitrary but deterministic)
    parent_of = {(r.segment, r.docid): r.docid // 4
                 for r in child.itertuples()}
    for mode, combine in [("total", sum), ("max", max), ("min", min),
                          ("avg", lambda xs: sum(xs) / len(xs))]:
        got = s.to_parent_join(TermQuery("h0"), F.expr("docid DIV 4"),
                               mode, 5).toPandas()
        by_parent = {}
        for r in child.itertuples():
            by_parent.setdefault(r.docid // 4, []).append(
                np.float64(np.float32(r.score)))
        want = sorted(((np.float32(combine(v)), -p, p, len(v))
                       for p, v in by_parent.items()),
                      key=lambda x: (-x[0], x[2]))[:5]
        for row, (sc, _, p, hits) in zip(got.itertuples(), want):
            assert (row.parent, row.child_hits) == (p, hits)
            assert np.float32(row.score) == sc
    none = s.to_parent_join(TermQuery("h0"), F.expr("docid DIV 4"),
                            "none", 5).toPandas()
    assert (none.score == 0).all()


def test_join_query_modes(spark, spark_index):
    # JoinUtil.createJoinQuery: per-join-value aggregate of from-scores,
    # every to-doc carrying the value scores that aggregate
    from lucene_7_x_9_x_spark.searcher import Searcher
    import numpy as np
    import pytest as _pt
    pdf, idx = spark_index
    s = Searcher(idx)
    frm = s.search(TermQuery("h0"), 10_000).toPandas()
    dm = idx.docmap().select("segment", "docid", "dl").toPandas()
    dl_of = {(r.segment, r.docid): r.dl for r in dm.itertuples()}
    for mode, combine in [("total", sum), ("max", max), ("min", min),
                          ("avg", lambda xs: sum(xs) / len(xs))]:
        by_val = {}
        for r in frm.itertuples():
            by_val.setdefault(dl_of[(r.segment, r.docid)], []).append(
                np.float64(np.float32(r.score)))
        vscore = {v: np.float32(combine(xs)) for v, xs in by_val.items()}
        got = s.join_query(TermQuery("h0"), "dl", score_mode=mode,
                           k=8).toPandas()
        # oracle: every doc whose dl has a score, ordered
        # (score desc, segment, docid)
        want = sorted(((vscore[dl], seg, did) for (seg, did), dl
                       in dl_of.items() if dl in vscore),
                      key=lambda x: (-x[0], x[1], x[2]))[:8]
        assert [(r.segment, r.docid) for r in got.itertuples()] \
            == [(seg, did) for _, seg, did in want], mode
        for r, (sc, _, _) in zip(got.itertuples(), want):
            assert np.float32(r.score) == sc, mode
    # none mode: constant 1.0 over the joined docs
    none = s.join_query(TermQuery("h0"), "dl", score_mode="none",
                        k=8).toPandas()
    assert (none.score == 1.0).all()
    with _pt.raises(ValueError):
        s.join_query(TermQuery("h0"), "nope")


def test_joins_drop_tombstoned_docs(spark, tmp_path):
    # the to-side of a query-time join and the children of a to-child
    # join are LIVE docs: a deleted doc is neither a target nor a child
    from lucene_7_x_9_x_spark.index import IndexSnapshot, build_index
    from lucene_7_x_9_x_spark.operators.deletes import delete_by_ids
    from lucene_7_x_9_x_spark.searcher import Searcher
    pdf = pd.DataFrame({
        "id": [f"d{i}" for i in range(8)],
        "grp": [i // 4 for i in range(8)],
        "content": ["alpha beta" if i % 4 == 0 else "beta"
                    for i in range(8)]})
    out = str(tmp_path / "i")
    build_index(spark, spark.createDataFrame(pdf), out,
                id_cols=["id", "grp"], text_col="content", num_segments=2)
    assert delete_by_ids(spark, out, spark.createDataFrame(
        pdf.loc[pdf.id == "d1", ["id", "grp"]])) == 1
    s = Searcher(IndexSnapshot(spark, out))
    live = [f"d{i}" for i in range(8) if i != 1]
    hits = s.search(TermQuery("beta"), 10, with_ids=True).toPandas()
    assert sorted(hits["id"]) == live
    child = s.to_child_join(TermQuery("alpha"), "grp", k=10).toPandas()
    assert sorted(child["id"]) == live
    joined = s.join_query(TermQuery("alpha"), "grp", k=10).toPandas()
    assert sorted(joined["id"]) == live


def test_drill_sideways_excludes_own_dim(spark, spark_index):
    from lucene_7_x_9_x_spark.searcher import Searcher
    from lucene_7_x_9_x_spark.functions.facets import drill_sideways
    from pyspark.sql import functions as F
    pdf, idx = spark_index
    s = Searcher(idx)
    m = s.matches(TermQuery("h0"))
    # synthesize two dims from the docmap: parity and dl bucket
    docvals = idx.docmap().select(
        "segment", "docid",
        (F.col("docid") % 2).cast("string").alias("parity"),
        (F.col("dl") > 40).cast("string").alias("big"))
    out = drill_sideways(m, docvals, {"parity": "0", "big": "true"})
    got = {(r["dim"], r["value"]): r["cnt"] for r in out.collect()}
    md = m.join(docvals, ["segment", "docid"]).toPandas()
    want = {}
    for r in md.itertuples():
        if r.big == "true":          # parity sidebar: big filter only
            k = ("parity", r.parity)
            want[k] = want.get(k, 0) + 1
        if r.parity == "0":          # big sidebar: parity filter only
            k = ("big", r.big)
            want[k] = want.get(k, 0) + 1
    assert got == want


def test_to_child_block_join(spark, spark_index):
    # ToChildBlockJoinQuery: parents matching 'h0' return their child
    # docs, each carrying the parent group's (max) score
    import numpy as np
    from pyspark.sql import functions as F
    from lucene_7_x_9_x_spark.searcher import Searcher
    pdf, idx = spark_index
    s = Searcher(idx)
    got = s.to_child_join(TermQuery("h0"),
                          F.substring("id", 1, 5), k=10).toPandas()
    assert len(got) == 10
    # brute force: parent score = max score among its matching docs
    m = (s.search(TermQuery("h0"), 10_000, with_ids=True).toPandas()
         .assign(parent=lambda d: d.id.str[:5]))
    pmax = m.groupby("parent").score.max()
    for r in got.itertuples():
        assert np.float32(r.score) == np.float32(pmax[r.parent])
        assert r.id[:5] == r.parent
    assert list(got["rank"]) == list(range(1, 11))
