"""Grouped-UDF kernels carry no type hints: pyspark 4.1 tries eval-type
inference on any annotated kernel and, when `key` is not annotated,
warns "Cannot infer the eval type from type hints" on every call."""

import warnings

from lucene_7_x_9_x_spark.index import build_index
from lucene_7_x_9_x_spark.plans.query import (BooleanQuery,
                                              MatchAllDocsQuery, Occur,
                                              TermQuery)
from lucene_7_x_9_x_spark.searcher import Searcher


def test_no_eval_type_inference_warning(spark, tmp_path):
    rows = [(i, f"alpha beta w{i % 5}") for i in range(40)]
    with warnings.catch_warnings(record=True) as got:
        warnings.simplefilter("always")
        idx = build_index(spark, spark.createDataFrame(
                              rows, "doc_id long, text string"),
                          str(tmp_path / "i"), id_cols=["doc_id"],
                          text_col="text", num_segments=2)
        s = Searcher(idx)
        s._local = False  # the Spark kernel path, not the driver path
        s.search(TermQuery("alpha"), 5)
        # the norms-only kernel too (MatchAll covers every segment)
        s.search(BooleanQuery([(Occur.SHOULD, TermQuery("absent")),
                               (Occur.SHOULD, MatchAllDocsQuery())]), 5)
    assert [str(w.message) for w in got
            if "Cannot infer the eval type" in str(w.message)] == []
