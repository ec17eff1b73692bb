"""M2 (merge + skew salting), M4 (resume), and streaming-append exits
(SURVEY.md §7.2): merged decode == concat of rebased per-segment decodes;
salted == unsalted; kill-and-resume reproduces the identical index;
incremental appends converge to the one-shot build."""

import json
import os
import shutil

import numpy as np
import pandas as pd
import pytest

from lucene_7_x_9_x_spark.index import IndexSnapshot, build_index
from lucene_7_x_9_x_spark.operators.merge import merge_index
from lucene_7_x_9_x_spark.plans.query import (BooleanQuery, Occur, TermQuery)
from tests.test_build import _decode_row, _mk_corpus


def _all_postings_decoded(idx):
    """{(segment, term): (docids, freqs)} decoded."""
    out = {}
    for row in idx.postings().toPandas().itertuples():
        out[(row.segment, row.term)] = _decode_row(row)
    return out


@pytest.fixture(scope="module")
def base_index(spark, tmp_path_factory):
    pdf = _mk_corpus(n=400)
    # skew: a stop-like term in >90% of docs (FIXTURES.md F5)
    pdf.loc[pdf.index % 10 != 0, "content"] += " the the"
    out = str(tmp_path_factory.mktemp("midx"))
    idx = build_index(spark, spark.createDataFrame(pdf), out,
                      id_cols=["repo", "path", "commit"],
                      text_col="content", num_segments=6)
    return pdf, idx


def test_merge_rebases_exactly(spark, base_index, tmp_path):
    pdf, idx = base_index
    merged = merge_index(spark, idx, str(tmp_path / "m2"), 2)
    # expected: concat per term of per-old-segment postings with docBase
    dm_old = idx.docmap().toPandas()
    sizes = dm_old.groupby("segment").size().to_dict()
    old_segs = sorted(sizes)
    groups = np.array_split(np.array(old_segs), 2)
    base, seg_of = {}, {}
    for new_seg, grp in enumerate(groups):
        acc = 0
        for s in grp.tolist():
            base[s] = acc
            seg_of[s] = new_seg
            acc += sizes[s]
    want = {}
    for (seg, term), (d, f) in _all_postings_decoded(idx).items():
        key = (seg_of[seg], term)
        want.setdefault(key, []).append((seg, d + base[seg], f))
    got = _all_postings_decoded(merged)
    assert set(got) == set(want)
    for key, parts in want.items():
        parts.sort()
        wd = np.concatenate([p[1] for p in parts])
        wf = np.concatenate([p[2] for p in parts])
        assert np.array_equal(got[key][0], wd), key
        assert np.array_equal(got[key][1], wf), key
    # docmap consistent: same doc identity at rebased (segment, docid)
    dm_new = merged.docmap().toPandas()
    assert len(dm_new) == len(dm_old)
    old_keyed = {(seg_of[r.segment], r.docid + base[r.segment]): r.repo
                 for r in dm_old.itertuples()}
    for r in dm_new.itertuples():
        assert old_keyed[(r.segment, r.docid)] == r.repo
    # global tables: a merge keeps every posting and docmap row, so the
    # terms dictionary and collection stats equal the source's
    cols = ["field", "term", "doc_freq", "total_term_freq"]
    key = ["field", "term"]
    t_old = (idx.terms().toPandas()[cols].sort_values(key)
             .reset_index(drop=True))
    t_new = (merged.terms().toPandas()[cols].sort_values(key)
             .reset_index(drop=True))
    pd.testing.assert_frame_equal(t_new, t_old)
    assert merged.stats == idx.stats


def test_salted_merge_identical_to_unsalted(spark, base_index, tmp_path):
    pdf, idx = base_index
    m1 = merge_index(spark, idx, str(tmp_path / "u"), 2, salt=1)
    m2 = merge_index(spark, idx, str(tmp_path / "s"), 2, salt=3)
    a, b = _all_postings_decoded(m1), _all_postings_decoded(m2)
    assert set(a) == set(b)
    for k in a:
        assert np.array_equal(a[k][0], b[k][0]), k
        assert np.array_equal(a[k][1], b[k][1]), k


def test_merged_index_same_search_results(spark, base_index, tmp_path):
    from lucene_7_x_9_x_spark.searcher import Searcher
    pdf, idx = base_index
    merged = merge_index(spark, idx, str(tmp_path / "q"), 2)
    q = BooleanQuery([(Occur.SHOULD, TermQuery("def")),
                      (Occur.SHOULD, TermQuery("return")),
                      (Occur.MUST_NOT, TermQuery("import"))])
    a = Searcher(idx).search(q, 10).toPandas()
    b = Searcher(merged).search(q, 10).toPandas()
    # identity + scores equal (docid tie order may legitimately differ
    # after renumbering, like Lucene merges; compare as score-sorted sets)
    assert np.array_equal(a.score.to_numpy(np.float32),
                          b.score.to_numpy(np.float32))
    assert set(zip(a.repo, a.path)) == set(zip(b.repo, b.path))


def test_kill_and_resume_identical(spark, tmp_path):
    pdf = _mk_corpus(n=200)
    sdf = spark.createDataFrame(pdf)
    full_dir, part_dir = str(tmp_path / "full"), str(tmp_path / "part")
    idx_full = build_index(spark, sdf, full_dir,
                           id_cols=["repo", "path", "commit"],
                           text_col="content", num_segments=6,
                           num_batches=3)
    # simulate a crash after batch 0: copy only batch_0 + its checkpoint
    os.makedirs(part_dir)
    shutil.copytree(os.path.join(full_dir, "batch_0"),
                    os.path.join(part_dir, "batch_0"))
    os.makedirs(os.path.join(part_dir, "checkpoints"))
    shutil.copy(os.path.join(full_dir, "checkpoints", "batch_0.json"),
                os.path.join(part_dir, "checkpoints", "batch_0.json"))
    before = os.path.getmtime(os.path.join(part_dir, "checkpoints",
                                           "batch_0.json"))
    idx_res = build_index(spark, sdf, part_dir,
                          id_cols=["repo", "path", "commit"],
                          text_col="content", num_segments=6,
                          num_batches=3, resume=True)
    # batch_0 was skipped, not rebuilt
    assert os.path.getmtime(os.path.join(part_dir, "checkpoints",
                                         "batch_0.json")) == before
    assert idx_res.stats == idx_full.stats
    a, b = _all_postings_decoded(idx_full), _all_postings_decoded(idx_res)
    assert set(a) == set(b)
    for k in a:
        assert np.array_equal(a[k][0], b[k][0])
        assert np.array_equal(a[k][1], b[k][1])
    # lineage + metrics present in checkpoints (north rule)
    cps = idx_res.checkpoints()
    assert all("docs_per_sec" in c and "run_id" in c for c in cps)


def test_streaming_incremental_append(spark, tmp_path):
    from lucene_7_x_9_x_spark.searcher import Searcher
    from lucene_7_x_9_x_spark.streaming.incremental import run_incremental
    pdf = _mk_corpus(n=240)
    wave1, wave2 = pdf.iloc[:150], pdf.iloc[150:]
    inc_dir = str(tmp_path / "arrivals")  # starts empty
    os.makedirs(inc_dir)
    idx_dir = str(tmp_path / "inc")
    ck = str(tmp_path / "ck")
    schema = ("repo string, path string, commit string, lang string, "
              "content string")
    # bootstrap: normal build over wave 1
    build_index(spark, spark.createDataFrame(wave1), idx_dir,
                id_cols=["repo", "path", "commit"], text_col="content",
                num_segments=4)
    # wave 2 arrives as files; availableNow pass appends only those
    spark.createDataFrame(wave2).write.parquet(os.path.join(inc_dir, "w2"))
    idx = run_incremental(spark, inc_dir + "/*", idx_dir, schema, ck)
    assert idx.stats["max_doc"] == len(pdf)
    # re-run with no new files: idempotent (stream checkpoint skips w2)
    idx2 = run_incremental(spark, inc_dir + "/*", idx_dir, schema, ck)
    assert idx2.stats == idx.stats
    # converged stats == one-shot build over the full corpus
    full = build_index(spark, spark.createDataFrame(pdf),
                       str(tmp_path / "full"),
                       id_cols=["repo", "path", "commit"],
                       text_col="content", num_segments=4)
    for k in ("doc_count", "sum_total_term_freq", "sum_doc_freq",
              "n_terms", "max_doc"):
        assert idx.stats[k] == full.stats[k], k
    # the finalized tables agree too: the terms dictionary row for row,
    # and every doc's norm byte read through the parsed segnorms (the
    # segment layouts differ: the append added its own segments)
    def terms(snap):
        return sorted(tuple(r) for r in snap.terms().select(
            "field", "term", "doc_freq", "total_term_freq").collect())

    def doc_norms(snap):
        parsed = snap.segnorms_parsed()
        dm = snap.docmap().select("segment", "docid", "path").collect()
        for seg, (_, max_doc, _) in parsed.items():
            assert max_doc == sum(r.segment == seg for r in dm)
        return {r.path: int(parsed[r.segment][0][r.docid]) for r in dm}

    assert terms(idx) == terms(full)
    assert doc_norms(idx) == doc_norms(full)
    # and a query agrees on count + scores set
    q = TermQuery("def")
    a = Searcher(idx).search(q, 10).toPandas()
    b = Searcher(full).search(q, 10).toPandas()
    assert np.array_equal(np.sort(a.score.to_numpy(np.float32)),
                          np.sort(b.score.to_numpy(np.float32)))
    assert Searcher(idx).count(q) == Searcher(full).count(q)


def test_balanced_groups_minimize_largest_merge():
    from lucene_7_x_9_x_spark.operators.merge import (
        _balanced_contiguous_groups)
    import numpy as np
    # heavily skewed sizes: count-balanced split would pair the two big
    # segments; size-balanced must not
    segs = [0, 1, 2, 3, 4, 5]
    sizes = {0: 100, 1: 100, 2: 5000, 3: 4000, 4: 100, 5: 100}
    groups = _balanced_contiguous_groups(segs, sizes, 3)
    assert [g.tolist() for g in groups] == [[0, 1], [2], [3, 4, 5]]
    # contiguity + completeness always hold
    flat = [s for g in groups for s in g.tolist()]
    assert flat == segs
    # optimal max-sum is 5000 (the big segment alone); the count-balanced
    # split [[0,1],[2,3],[4,5]] would have made a 9000-doc merge
    mx = max(sum(sizes[s] for s in g.tolist()) for g in groups)
    assert mx == 5000
    # brute-force optimality check over all contiguous 3-splits
    best = min(max(sum(sizes[s] for s in segs[a:b]),
                   sum(sizes[s] for s in segs[b:c]),
                   sum(sizes[s] for s in segs[c:]))
               for a in [0] for b in range(1, 5) for c in range(b + 1, 6))
    assert mx == best
    # n <= m: one segment per group + empty tails
    g2 = _balanced_contiguous_groups([7, 9], {7: 10, 9: 20}, 4)
    assert [g.tolist() for g in g2] == [[7], [9], [], []]


def test_merge_groups_weigh_live_docs(spark, tmp_path):
    # a segment that is mostly tombstones should weigh little in merge
    # candidate selection (TieredMergePolicy sizes net of deletes), while
    # docid rebasing still spans the full docmap
    import shutil
    from lucene_7_x_9_x_spark.index import IndexSnapshot, build_index
    from lucene_7_x_9_x_spark.operators.deletes import delete_by_ids
    from lucene_7_x_9_x_spark.operators.merge import merge_index
    from lucene_7_x_9_x_spark.searcher import Searcher
    from lucene_7_x_9_x_spark.plans.query import TermQuery
    from pyspark.sql import functions as F
    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .repartitionByRange(4, "doc_id"))
    out = str(tmp_path / "i")
    build_index(spark, docs, out, id_cols=["doc_id"], text_col="text",
                segment_by="input")
    # tombstone nearly all of the docs whose doc_id falls in segment 0's
    # range (first quartile)
    bound = docs.approxQuantile("doc_id", [0.22], 0.0)[0]
    delete_by_ids(spark, out,
                  docs.where(F.col("doc_id") <= bound).select("doc_id"))
    idx = IndexSnapshot(spark, out)
    merged = merge_index(spark, idx, str(tmp_path / "m"),
                         target_segments=2)
    # results stay correct through the live-weighted merge
    a = Searcher(idx).search(TermQuery("filter"), 10).toPandas()
    b = Searcher(merged).search(TermQuery("filter"), 10).toPandas()
    assert a.doc_id.tolist() == b.doc_id.tolist()
    assert a.score.tolist() == b.score.tolist()
