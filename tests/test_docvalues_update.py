"""In-place DocValues updates (UpdateDocValuesTest.java demo role):
merge-on-read overlays, last-writer-wins generations, materialization by
compaction/merge, structural-field guards."""

import numpy as np
import pandas as pd
import pytest

from lucene_7_x_9_x_spark.index import IndexSnapshot, build_index
from lucene_7_x_9_x_spark.operators.deletes import (compact_index,
                                                    delete_by_ids)
from lucene_7_x_9_x_spark.operators.docvalues import update_doc_values
from lucene_7_x_9_x_spark.searcher import Searcher
from tests.test_search import _random_corpus


def _build(spark, tmp_path, n=120, seed=41):
    rng = np.random.RandomState(seed)
    pdf = _random_corpus(rng, n_docs=n)
    out = str(tmp_path / "i")
    build_index(spark, spark.createDataFrame(pdf), out,
                id_cols=["id"], text_col="content", num_segments=3)
    return out, pdf


def _upd(spark, ids, vals):
    return spark.createDataFrame(
        list(zip(ids, vals)), "id string, value long")


def test_update_creates_and_overlays(spark, tmp_path):
    out, pdf = _build(spark, tmp_path)
    ids = pdf.id.tolist()
    n = update_doc_values(spark, out, "pop",
                          _upd(spark, ids[:10], [7] * 10))
    assert n == 10
    dm = IndexSnapshot(spark, out).docmap().select("id", "pop").toPandas()
    got = dm.set_index("id")["pop"]
    assert (got.loc[ids[:10]] == 7).all()
    assert got.loc[ids[10:]].isna().all()
    # second generation overrides a subset: last writer wins
    update_doc_values(spark, out, "pop", _upd(spark, ids[5:15], [9] * 10))
    got = (IndexSnapshot(spark, out).docmap().select("id", "pop")
           .toPandas().set_index("id")["pop"])
    assert (got.loc[ids[:5]] == 7).all()
    assert (got.loc[ids[5:15]] == 9).all()
    assert got.loc[ids[15:]].isna().all()


def test_update_existing_column_partial(spark, tmp_path):
    out, pdf = _build(spark, tmp_path, seed=42)
    ids = pdf.id.tolist()
    base = (IndexSnapshot(spark, out).docmap()
            .select("id", "content_sha256_out").toPandas()
            .set_index("id")["content_sha256_out"])
    upd = spark.createDataFrame([(ids[0], "overwritten")],
                                "id string, value string")
    update_doc_values(spark, out, "content_sha256_out", upd)
    got = (IndexSnapshot(spark, out).docmap()
           .select("id", "content_sha256_out").toPandas()
           .set_index("id")["content_sha256_out"])
    assert got.loc[ids[0]] == "overwritten"
    assert (got.drop(ids[0]) == base.drop(ids[0])).all()


def test_structural_and_sort_fields_rejected(spark, tmp_path):
    out, pdf = _build(spark, tmp_path, seed=43)
    with pytest.raises(ValueError, match="structural"):
        update_doc_values(spark, out, "docid",
                          _upd(spark, pdf.id.tolist()[:1], [1]))
    with pytest.raises(ValueError, match="structural"):
        update_doc_values(spark, out, "norm",
                          _upd(spark, pdf.id.tolist()[:1], [1]))
    with pytest.raises(ValueError, match="structural"):
        update_doc_values(spark, out, "extra_norms",
                          _upd(spark, pdf.id.tolist()[:1], [1]))


def test_snapshot_isolation(spark, tmp_path):
    out, pdf = _build(spark, tmp_path, seed=44)
    snap_before = IndexSnapshot(spark, out)
    _ = snap_before.docmap().count()  # force memoization
    update_doc_values(spark, out, "pop",
                      _upd(spark, pdf.id.tolist()[:3], [1, 2, 3]))
    assert "pop" not in snap_before.docmap().columns
    assert "pop" in IndexSnapshot(spark, out).docmap().columns


def test_searcher_reads_updated_values(spark, tmp_path):
    out, pdf = _build(spark, tmp_path, seed=45)
    ids = pdf.id.tolist()
    update_doc_values(spark, out, "pop",
                      _upd(spark, ids, list(range(len(ids)))))
    s = Searcher(IndexSnapshot(spark, out))
    got = s.numeric_range_docs(3, 5, col="pop").toPandas()
    assert sorted(got["pop"]) == [3, 4, 5]
    assert sorted(got["id"]) == sorted(ids[3:6])


def test_compaction_materializes_updates(spark, tmp_path):
    out, pdf = _build(spark, tmp_path, seed=46)
    ids = pdf.id.tolist()
    update_doc_values(spark, out, "pop", _upd(spark, ids[:20],
                                              list(range(20))))
    delete_by_ids(spark, out, spark.createDataFrame(
        [(ids[0],)], "id string"))
    comp = compact_index(spark, IndexSnapshot(spark, out),
                         str(tmp_path / "c"))
    assert comp.manifest.get("dv_updates", []) == []
    got = comp.docmap().select("id", "pop").toPandas().set_index(
        "id")["pop"]
    assert ids[0] not in got.index  # deleted doc gone
    assert (got.loc[ids[1:20]].astype(int)
            == np.arange(1, 20)).all()
    assert got.loc[ids[20:]].isna().all()


def test_merge_materializes_updates(spark, tmp_path):
    from lucene_7_x_9_x_spark.operators.merge import merge_index
    out, pdf = _build(spark, tmp_path, seed=47)
    ids = pdf.id.tolist()
    update_doc_values(spark, out, "pop", _upd(spark, ids[:7], [5] * 7))
    merged = merge_index(spark, IndexSnapshot(spark, out),
                         str(tmp_path / "m"), target_segments=2, salt=2)
    assert merged.manifest.get("dv_updates", []) == []
    got = merged.docmap().select("id", "pop").toPandas().set_index(
        "id")["pop"]
    assert (got.loc[ids[:7]] == 5).all()
    assert got.loc[ids[7:]].isna().all()


def test_resort_materializes_updates(spark, tmp_path):
    from lucene_7_x_9_x_spark.operators.merge import resort_index
    out, pdf = _build(spark, tmp_path, seed=48)
    ids = pdf.id.tolist()
    update_doc_values(spark, out, "pop", _upd(spark, ids[:7], [5] * 7))
    # reverse id order: the re-sort moves every updated doc's docid
    attrs = spark.createDataFrame(
        [(i, n) for n, i in enumerate(reversed(ids))], "id string, rank long")
    rs = resort_index(spark, IndexSnapshot(spark, out), str(tmp_path / "r"),
                      "rank", attrs=attrs)
    assert rs.manifest.get("dv_updates", []) == []
    got = rs.docmap().select("id", "pop").toPandas().set_index("id")["pop"]
    assert (got.loc[ids[:7]] == 5).all()
    assert got.loc[ids[7:]].isna().all()
