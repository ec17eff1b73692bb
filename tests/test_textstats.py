"""quality_scores and lang_id count tokens with codegen'd builtins
(regexp_extract_all, array_join), not interpreted higher-order-function
lambdas: their outputs must equal the lambda forms they replaced, row for
row, on texts built to break a whole-token match, and their physical plans
must hold no lambda."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from lucene_7_x_9_x_spark.pipeline.dedup import tokens_col
from lucene_7_x_9_x_spark.pipeline.textstats import (LANG_MARKERS,
                                                     STOPWORDS, lang_id,
                                                     quality_scores)

TEXTS = [
    "", "   ", "The the THE tHe", "theory other bathe", "a an and anda",
    "the_ _the a_b of1 1of", "a-a a.a (a) 'the'", "İthe ÜNDER the",
    "def import self lambda elif", "public static void def import",
    "struct typedef func chan", "nothing here at all", "in\tis\nfor\ron",
    "withwith with  with", "A A a", "éthe thé the",
]


@pytest.fixture(scope="module")
def docs(spark):
    rng = np.random.RandomState(4)
    words = STOPWORDS + [m for ms in LANG_MARKERS.values() for m in ms] \
        + ["x", "theme", "ofa", "_", "9", "Of", "DEF"]
    seps = [" ", "  ", "-", ".", "_", "\n", ", "]
    texts = list(TEXTS)
    for _ in range(300):
        n = rng.randint(0, 25)
        texts.append("".join(words[rng.randint(len(words))]
                             + seps[rng.randint(len(seps))]
                             for _ in range(n)))
    rows = [(i, t) for i, t in enumerate(texts)] + [(len(texts), None)]
    return spark.createDataFrame(rows, "id long, text string")


def _lambda_quality(df):
    """The replaced HOF-lambda form of quality_scores' token columns."""
    ts = tokens_col("text")
    stop = F.array(*[F.lit(s) for s in STOPWORDS])
    return df.select(
        "id",
        F.size(F.filter(ts, lambda t: F.array_contains(stop, t)))
        .cast("long").alias("n_stopwords"),
        F.aggregate(ts, F.lit(0).cast("long"),
                    lambda acc, t: acc + F.length(t)).alias("sum_token_len"))


def _lambda_lang_scores(df):
    ts = tokens_col("text")
    cols = []
    for lang in sorted(LANG_MARKERS):
        arr = F.array(*[F.lit(m) for m in LANG_MARKERS[lang]])
        cols.append(F.size(F.filter(ts, lambda t: F.array_contains(arr, t)))
                    .alias(f"s_{lang}"))
    return df.select("id", *cols)


def _has_lambda(df) -> bool:
    """Whether df's physical plan holds a higher-order-function lambda."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "lambdafunction" in plan.lower()


def test_quality_scores_equal_lambda_form_without_lambda(docs):
    got = quality_scores(docs, "id", "text")
    assert _has_lambda(_lambda_quality(docs)) and not _has_lambda(got)
    want = {r.id: (r.n_stopwords, r.sum_token_len)
            for r in _lambda_quality(docs).collect()}
    rows = got.collect()
    assert len(rows) == len(want)
    for r in rows:
        assert (r.n_stopwords, r.sum_token_len) == want[r.id], r
    assert sum(r.n_stopwords or 0 for r in rows) > 100


def test_lang_id_equals_lambda_form_without_lambda(docs):
    from lucene_7_x_9_x_spark.pipeline.textstats import count_tokens_in
    got = lang_id(docs, "id", "text")
    assert not _has_lambda(got)
    scores = docs.select("id", *[
        count_tokens_in("text", LANG_MARKERS[lang]).alias(f"s_{lang}")
        for lang in sorted(LANG_MARKERS)])
    assert _has_lambda(_lambda_lang_scores(docs))
    assert not _has_lambda(scores)
    want = {r.id: tuple(r[1:]) for r in _lambda_lang_scores(docs).collect()}
    for r in scores.collect():
        assert tuple(r[1:]) == want[r.id], r
    preds = {r.id: r.pred_lang for r in got.collect()}
    assert len(preds) == len(want)
    assert {"py", "java", "c", "go", "unknown"} <= set(preds.values())
