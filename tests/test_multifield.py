"""Multi-field indexing + field-scoped queries (VERDICT r2 #1).

The load-bearing invariant: a field-scoped query against a multi-field
index must score BIT-IDENTICALLY to the same query against a dedicated
single-field index built over that field's text (same segments) — per-field
postings, norms, docCount and avgdl are then all exercised at float32
precision (per-field CollectionStatistics, IndexSearcher.java:790-803;
per-field norms, FieldInfos.java)."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from lucene_7_x_9_x_spark.index import build_index
from lucene_7_x_9_x_spark.plans.query import (BooleanQuery, Occur,
                                              PhraseQuery, PrefixQuery,
                                              TermQuery)
from lucene_7_x_9_x_spark.searcher import Searcher

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def corpora(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("mf")
    toks = F.filter(F.split(F.lower(F.col("text")), "[^a-z0-9_]+"),
                    lambda x: x != "")
    docs = (spark.read.parquet(os.path.join(SF, "documents.parquet"))
            .withColumn("head", F.concat_ws(" ", F.slice(toks, 1, 16)))
            .repartitionByRange(4, "doc_id"))
    mf = build_index(spark, docs, str(tmp / "mf"), id_cols=["doc_id"],
                     text_col="text", segment_by="input",
                     extra_fields=[("head", "head"), ("lang", "lang")])
    head_only = build_index(
        spark, docs.drop("text").withColumnRenamed("head", "text"),
        str(tmp / "head"), id_cols=["doc_id"], text_col="text",
        segment_by="input")
    return Searcher(mf), Searcher(head_only)


def _rows(df):
    return [(r["rank"], r["doc_id"], float(np.float32(r["score"])))
            for r in df.collect()]


def test_field_scoped_equals_dedicated_index(corpora):
    s_mf, s_head = corpora
    a = _rows(s_mf.search(TermQuery("filter", field="head"), 10))
    b = _rows(s_head.search(TermQuery("filter"), 10))
    assert a == b and len(a) == 10


def test_default_field_unaffected_by_extras(corpora, spark, tmp_path):
    s_mf, _ = corpora
    docs = (spark.read.parquet(os.path.join(SF, "documents.parquet"))
            .repartitionByRange(4, "doc_id"))
    plain = Searcher(build_index(spark, docs, str(tmp_path / "plain"),
                                 id_cols=["doc_id"], text_col="text",
                                 segment_by="input"))
    q = BooleanQuery([(Occur.SHOULD, TermQuery("filter")),
                      (Occur.SHOULD, TermQuery("join"))])
    assert _rows(s_mf.search(q, 10)) == _rows(plain.search(q, 10))


def test_cross_field_boolean_sums_per_field_scores(corpora):
    s_mf, _ = corpora
    q = BooleanQuery([(Occur.MUST, TermQuery("filter")),
                      (Occur.MUST, TermQuery("en", field="lang"))])
    top = s_mf.search(q, 3).collect()
    assert len(top) == 3
    for r in top:
        exp = s_mf.explain(q, r["segment"], r["docid"])
        assert {e["field"] for e in exp} == {None, "lang"}
        tot = np.float32(sum(np.float64(e["score"]) for e in exp))
        assert tot == np.float32(r["score"])


def test_field_scoped_phrase_and_prefix(corpora):
    s_mf, s_head = corpora
    pq = PhraseQuery(["the", "fast"], field="head")
    assert (s_mf.matches(pq).count()
            == s_head.matches(PhraseQuery(["the", "fast"])).count())
    # prefix expansion is scoped to the field's term dictionary
    a = s_mf.matches(PrefixQuery("quer", field="head")).count()
    b = s_head.matches(PrefixQuery("quer")).count()
    assert a == b


def test_default_field_name_canonicalizes(corpora):
    s_mf, _ = corpora
    a = _rows(s_mf.search(TermQuery("filter", field="text"), 5))
    b = _rows(s_mf.search(TermQuery("filter"), 5))
    assert a == b


def _sugg(df):
    return [(r["rank"], r["term"], r["weight"]) for r in df.collect()]


@pytest.mark.parametrize("method,text", [
    ("suggest", "s"), ("suggest_fuzzy", "filtr"), ("suggest_infix", "a")])
def test_suggesters_scope_to_field(corpora, method, text):
    # a named field suggests from its own term dictionary: the same rows
    # as a dedicated index over that field's text; the default field's
    # NAME selects the default field, like field=None
    s_mf, s_head = corpora
    head = _sugg(getattr(s_mf, method)(text, 10, field="head"))
    assert head == _sugg(getattr(s_head, method)(text, 10))
    head_terms = {r["term"] for r in s_mf.index.terms()
                  .where(F.col("field") == "head").select("term").collect()}
    assert head and {t for _, t, _ in head} <= head_terms
    default = _sugg(getattr(s_mf, method)(text, 10))
    assert _sugg(getattr(s_mf, method)(text, 10, field="text")) == default
    assert default != head


def test_unknown_field_matches_nothing(corpora):
    s_mf, _ = corpora
    assert s_mf.matches(TermQuery("filter", field="nope")).count() == 0


def test_per_field_stats_exact(corpora, spark):
    s_mf, _ = corpora
    pf = s_mf.index.stats["per_field"]
    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    toks = F.filter(F.split(F.lower(F.col("text")), "[^a-z0-9_]+"),
                    lambda x: x != "")
    agg = docs.select(
        F.least(F.size(toks), F.lit(16)).alias("dlh")).agg(
        F.sum("dlh").alias("sttf"),
        F.sum(F.when(F.col("dlh") > 0, 1).otherwise(0)).alias("dc")
    ).collect()[0]
    assert pf["head"]["sum_total_term_freq"] == int(agg["sttf"])
    assert pf["head"]["doc_count"] == int(agg["dc"])


def test_parser_field_syntax_end_to_end(corpora):
    from lucene_7_x_9_x_spark.plans.parser import parse
    s_mf, _ = corpora
    q = parse("head:fast AND lang:en")
    n = s_mf.matches(q).count()
    both = s_mf.matches(BooleanQuery(
        [(Occur.MUST, TermQuery("fast", field="head")),
         (Occur.MUST, TermQuery("en", field="lang"))])).count()
    assert n == both > 0


def test_boost_preserves_field_everywhere(corpora):
    # review regression: both the parser's ^boost path and the rewrite
    # BoostQuery->TermQuery collapse used to drop the field scope
    from lucene_7_x_9_x_spark.plans.parser import parse
    from lucene_7_x_9_x_spark.plans.query import BoostQuery, rewrite
    q = parse("head:fast^2")
    assert q.field == "head" and q.boost == 2.0
    q2 = rewrite(BoostQuery(TermQuery("fast", field="head"), 2.0))
    assert q2.field == "head" and q2.boost == 2.0
    s_mf, s_head = corpora
    a = s_mf.search(parse("head:fast^2"), 5).collect()
    b = s_head.search(TermQuery("fast", boost=2.0), 5).collect()
    assert ([(r["rank"], r["doc_id"], float(r["score"])) for r in a]
            == [(r["rank"], r["doc_id"], float(r["score"])) for r in b])


def test_per_field_analyzers(spark, tmp_path):
    # PerFieldAnalyzerWrapper model: the 'title' field stems with Porter
    # while the default body field does not; each field's postings,
    # dictionary and query analysis follow its own chain
    from lucene_7_x_9_x_spark.functions.analysis import AnalyzerConfig
    from lucene_7_x_9_x_spark.index import IndexSnapshot, build_index
    from lucene_7_x_9_x_spark.searcher import Searcher
    from lucene_7_x_9_x_spark.plans.query import TermQuery
    rows = [(0, "the running dog", "running dogs everywhere"),
            (1, "a sleeping cat", "cats sleeping soundly"),
            (2, "dogs run fast", "fast running")]
    df = spark.createDataFrame(rows, "doc_id long, text string, "
                                     "title string")
    out = str(tmp_path / "pfidx")
    idx = build_index(spark, df, out, id_cols=["doc_id"], text_col="text",
                      segment_by="input",
                      extra_fields=[("title", "title")],
                      field_analyzers={
                          "title": AnalyzerConfig(stemmer="porter")})
    terms = {(r.field, r.term) for r in idx.terms().collect()}
    assert ("title", "run") in terms          # stemmed in title
    assert ("title", "running") not in terms
    assert (None, "running") in terms         # unstemmed in body
    # manifest round-trip
    snap = IndexSnapshot(spark, out)
    assert snap.field_analyzers["title"].stemmer == "porter"
    s = Searcher(idx)
    # body query: literal term; title query: stemmed term
    body = {int(r.doc_id) for r in
            s.matches(TermQuery("running"))
            .join(idx.docmap().select("segment", "docid", "doc_id"),
                  ["segment", "docid"]).collect()}
    assert body == {0}
    title = {int(r.doc_id) for r in
             s.matches(TermQuery("run", field="title"))
             .join(idx.docmap().select("segment", "docid", "doc_id"),
                   ["segment", "docid"]).collect()}
    assert title == {0, 2}
    # analyze() picks the field's chain
    assert s.analyze("running", field="title") == ["run"]
    assert s.analyze("running") == ["running"]


def test_append_keeps_per_field_analyzer(spark, tmp_path):
    # appends go through the build's batch writer with the manifest's
    # per-field chains: an appended doc's title is stemmed like the
    # built ones, so the stemmed term matches it too
    from lucene_7_x_9_x_spark.functions.analysis import AnalyzerConfig
    from lucene_7_x_9_x_spark.streaming.incremental import (append_batch,
                                                            finalize)
    schema = "doc_id long, text string, title string"
    out = str(tmp_path / "pfa")
    build_index(spark, spark.createDataFrame(
                    [(0, "the running dog", "running dogs everywhere"),
                     (1, "a sleeping cat", "cats sleeping soundly")],
                    schema),
                out, id_cols=["doc_id"], text_col="text",
                segment_by="input", extra_fields=[("title", "title")],
                field_analyzers={"title": AnalyzerConfig(stemmer="porter")})
    append_batch(spark, spark.createDataFrame(
        [(2, "dogs run fast", "fast running")], schema), out)
    idx = finalize(spark, out)
    terms = {(r.field, r.term) for r in idx.terms().collect()}
    assert ("title", "running") not in terms
    hits = (Searcher(idx).matches(TermQuery("run", field="title"))
            .join(idx.docmap().select("segment", "docid", "doc_id"),
                  ["segment", "docid"]))
    assert {int(r.doc_id) for r in hits.collect()} == {0, 2}
