"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship BM25 top-k query end-to-end (index build
+ dense top-k search) on sf0.001. ``queries()`` exposes one entry per
implemented operator from SURVEY.md §2 plus the training-data pipeline ops;
``oracle_sql()`` gives the DuckDB-equivalent SQL for each (same analyzer:
lowercase ``[a-z0-9_]+`` tokens; same SmallFloat norm quantization, verified
identical to the numpy kernel for dl in 0..4999).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

K1, B = 1.2, 0.75
_CACHE_ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           ".index_cache")
_INDEXES: dict = {}

# ---------------------------------------------------------------------------
# shared SQL fragments (DuckDB)
# ---------------------------------------------------------------------------
TOKS = ("list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'), "
        "t -> t <> '')")
QDL = ("CAST(CASE WHEN dl < 24 THEN dl WHEN dl - 24 < 8 THEN dl "
       "ELSE 24 + ((((((dl - 24) >> (CAST(floor(log2(dl - 24)) AS INT) - 3))"
       " & 7) | 8)) << (CAST(floor(log2(dl - 24)) AS INT) - 3)) END "
       "AS BIGINT)")


#: the expression the expr_score gate compiles — shared verbatim by the
#: engine entry and the oracle generator below
_EXPR_SRC = "0.3 * _score * sqrt(dl) + min(dl, 100) / 50"

#: deterministic PII splice for the pii_redact gate — same string built
#: by both engines (Spark SQL form and DuckDB || form below)
_PII_SPLICE_SPARK = (
    "concat(text, ' contact u', cast(doc_id as string), "
    "'@ex.com via 10.1.', cast(doc_id % 250 as string), '.9', "
    "case when doc_id % 3 = 0 then ' card 4111 1111 1111 1111' "
    "else '' end, "
    "case when doc_id % 5 = 0 then ' ssn 987-65-4321' else '' end, "
    "' tel +321 555-', lpad(cast(doc_id % 10000 as string), 4, '0'))")

_PII_SPLICE_DUCK = (
    "text || ' contact u' || CAST(doc_id AS VARCHAR) "
    "|| '@ex.com via 10.1.' || CAST(doc_id % 250 AS VARCHAR) || '.9' "
    "|| CASE WHEN doc_id % 3 = 0 THEN ' card 4111 1111 1111 1111' "
    "ELSE '' END "
    "|| CASE WHEN doc_id % 5 = 0 THEN ' ssn 987-65-4321' ELSE '' END "
    "|| ' tel +321 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), "
    "4, '0')")


def _ann_pq_sql(dim: int = 64, m: int = 4, ksub: int = 16,
                k: int = 10) -> str:
    """PQ oracle: encode (per-subspace argmin over the 16 codebook rows,
    ties to the lowest j) + ADC (left-associated sum of per-subspace
    squared distances), every float op written in the same order the
    Spark side evaluates it."""
    dsub = dim // m

    def sq(s: int, v: str, c: str) -> str:
        terms = [f"(({v}[{s * dsub + i + 1}] - {c}[{s * dsub + i + 1}])"
                 f" * ({v}[{s * dsub + i + 1}] - {c}[{s * dsub + i + 1}]))"
                 for i in range(dsub)]
        e = terms[0]
        for t in terms[1:]:
            e = f"({e} + {t})"
        return e

    code_cols = ", ".join(
        f"(SELECT cb.j FROM cb ORDER BY {sq(s, 'a.v', 'cb.cv')}, cb.j "
        f"LIMIT 1) AS c{s}" for s in range(m))
    lut_terms = [f"(SELECT {sq(s, 'q.qv', 'cb.cv')} FROM cb "
                 f"WHERE cb.j = coded.c{s})" for s in range(m)]
    dist = lut_terms[0]
    for t in lut_terms[1:]:
        dist = f"({dist} + {t})"
    return f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
           WHERE vec_id = 0),
cb AS (SELECT vec_id AS j, embedding::DOUBLE[] AS cv FROM embeddings
       WHERE vec_id BETWEEN 1 AND {ksub}),
a AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      WHERE vec_id >= {ksub + 1}),
coded AS (SELECT vec_id, {code_cols} FROM a),
scored AS (SELECT coded.vec_id, {dist} AS adist FROM coded, q)
SELECT CAST(row_number() OVER (ORDER BY adist, vec_id) AS BIGINT)
         AS rank, vec_id
FROM scored ORDER BY adist, vec_id LIMIT {k}"""


def _ann_ivfpq_sql(dim: int = 64, m: int = 4, ksub: int = 16,
                   n_cells: int = 8, nprobe: int = 2, rerank: int = 30,
                   k: int = 10) -> str:
    """IVF-PQ oracle: coarse assignment + probes (the ann_ivf pattern),
    PQ codes + left-assoc ADC (the ann_pq pattern), ADC top-`rerank`
    cut, exact-cosine re-rank."""
    dsub = dim // m

    def sq(s: int, v: str, c: str) -> str:
        terms = [f"(({v}[{s * dsub + i + 1}] - {c}[{s * dsub + i + 1}])"
                 f" * ({v}[{s * dsub + i + 1}] - {c}[{s * dsub + i + 1}]))"
                 for i in range(dsub)]
        e = terms[0]
        for t in terms[1:]:
            e = f"({e} + {t})"
        return e

    code_cols = ", ".join(
        f"(SELECT cb.j FROM cb ORDER BY {sq(s, 'a.v', 'cb.cv')}, cb.j "
        f"LIMIT 1) AS c{s}" for s in range(m))
    lut_terms = [f"(SELECT {sq(s, 'q.qv', 'cb.cv')} FROM cb "
                 f"WHERE cb.j = coded.c{s})" for s in range(m)]
    dist = lut_terms[0]
    for t in lut_terms[1:]:
        dist = f"({dist} + {t})"
    return f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
           WHERE vec_id = 0),
cb AS (SELECT vec_id AS j, embedding::DOUBLE[] AS cv FROM embeddings
       WHERE vec_id BETWEEN 1 AND {ksub}),
cents AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
          FROM embeddings WHERE vec_id BETWEEN 1 AND {n_cells}),
full_v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
           WHERE vec_id >= {ksub + 1}),
asn AS (SELECT f.vec_id, f.v,
          (SELECT cents.cid FROM cents
           ORDER BY list_distance(f.v, cents.cv), cents.cid
           LIMIT 1) AS list_id
        FROM full_v f),
probes AS (SELECT cents.cid FROM cents, q
           ORDER BY list_distance(q.qv, cents.cv), cents.cid
           LIMIT {nprobe}),
a AS (SELECT vec_id, v FROM asn
      WHERE list_id IN (SELECT cid FROM probes)),
coded AS (SELECT vec_id, {code_cols} FROM a),
scored AS (SELECT coded.vec_id, {dist} AS adist FROM coded, q),
topr AS (SELECT vec_id FROM scored ORDER BY adist, vec_id
         LIMIT {rerank}),
rer AS (SELECT f.vec_id,
          list_cosine_similarity(f.v, q.qv) AS cos
        FROM full_v f JOIN topr USING (vec_id), q)
SELECT CAST(row_number() OVER (ORDER BY cos DESC, vec_id) AS BIGINT)
         AS rank, vec_id
FROM rer ORDER BY cos DESC, vec_id LIMIT {k}"""


def _pii_redact_sql() -> str:
    from lucene_7_x_9_x_spark.pipeline.redact import redact_sql
    red, cnts = redact_sql("ptext")
    return f"""
WITH base AS (SELECT doc_id, {_PII_SPLICE_DUCK} AS ptext FROM documents)
SELECT doc_id, {red} AS redacted, {", ".join(cnts)} FROM base"""


def _expr_score_sql(k: int = 10) -> str:
    """Oracle for expr_score_top10: the function_score scaffold with the
    scored expression emitted by the SAME compiler the engine uses
    (bindings: _score -> the f64 BM25 fragment; dl stays a column)."""
    from lucene_7_x_9_x_spark.functions.expressions import (
        compile_expression)
    bm25 = (f"ln(1 + (s.doc_count - d.df_a + 0.5) / (d.df_a + 0.5)) "
            f"* tf_a / (tf_a + {K1} * ({1 - B} + {B} * qdl "
            f"* s.doc_count / CAST(s.sum_ttf AS DOUBLE)))")
    sc = compile_expression(_EXPR_SRC).sql({"_score": bm25})
    return f"""
WITH toks AS (SELECT doc_id, {TOKS} AS ts FROM documents),
dl_t AS (SELECT doc_id, ts, len(ts) AS dl FROM toks),
stats AS (SELECT count(*) FILTER (WHERE dl > 0) AS doc_count,
                 sum(dl) AS sum_ttf FROM dl_t),
q AS (SELECT doc_id, ts, dl, {QDL} AS qdl FROM dl_t),
tf AS (SELECT doc_id, qdl, dl,
         len(list_filter(ts, t -> t = 'filter')) AS tf_a FROM q),
dfs AS (SELECT count(*) FILTER (WHERE tf_a > 0) AS df_a FROM tf),
scored AS (SELECT doc_id, {sc} AS score
    FROM tf, stats s, dfs d WHERE tf_a > 0)
SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
         AS rank, doc_id
FROM scored ORDER BY score DESC, doc_id LIMIT {k}"""


def _bm25_sql(terms: list[str], k: int, conjunctive: bool,
              cond: str | None = None, src_sql: str | None = None,
              toks: str | None = None, dl_toks: str | None = None) -> str:
    """BM25 top-k oracle. src_sql/toks override the source table and the
    tokenizer expression (used by the Unicode-analyzer entries, which
    tokenize with regexp_extract_all over the shared Unicode pattern).
    dl_toks, when given, computes dl / collection stats from a DIFFERENT
    token list than tf/df — the shingle entry scores bigram terms while
    norms count unigrams only (overlap-token discount)."""
    tf_cols = ", ".join(
        f"len(list_filter(ts, t -> t = '{t}')) AS tf_{i}"
        for i, t in enumerate(terms))
    df_cols = ", ".join(
        f"count(*) FILTER (WHERE tf_{i} > 0) AS df_{i}"
        for i in range(len(terms)))
    score_terms = " + ".join(
        f"(CASE WHEN tf_{i} > 0 THEN "
        f"ln(1 + (s.doc_count - d.df_{i} + 0.5) / (d.df_{i} + 0.5)) * tf_{i}"
        f" / (tf_{i} + {K1} * ({1 - B} + {B} * qdl * s.doc_count"
        f" / CAST(s.sum_ttf AS DOUBLE))) ELSE 0 END)"
        for i in range(len(terms)))
    nmatch = " + ".join(f"(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END)"
                        for i in range(len(terms)))
    if cond is None:
        cond = f"nmatch = {len(terms)}" if conjunctive else "nmatch >= 1"
    src = f"({src_sql})" if src_sql else "documents"
    return f"""
WITH toks AS (SELECT doc_id, {toks or TOKS} AS ts,
              {dl_toks or toks or TOKS} AS dts FROM {src}),
dl_t AS (SELECT doc_id, ts, len(dts) AS dl FROM toks),
stats AS (SELECT count(*) FILTER (WHERE dl > 0) AS doc_count,
                 sum(dl) AS sum_ttf FROM dl_t),
q AS (SELECT doc_id, ts, {QDL} AS qdl FROM dl_t),
tf AS (SELECT doc_id, qdl, {tf_cols} FROM q),
dfs AS (SELECT {df_cols} FROM tf),
scored AS (SELECT doc_id, {", ".join(f"tf_{i}" for i in range(len(terms)))},
           {score_terms} AS score, {nmatch} AS nmatch
           FROM tf, stats s, dfs d)
SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
         AS rank, doc_id
FROM scored WHERE {cond}
ORDER BY score DESC, doc_id LIMIT {k}"""


def _classic_sql(terms: list[str], k: int) -> str:
    """ClassicSimilarity (TF-IDF) disjunctive top-k oracle: per-term score
    sqrt(tf) * (ln((docCount+1)/(df+1)) + 1) / sqrt(qdl), summed
    (ClassicSimilarity.java:39-63, TFIDFSimilarity.java:519-560)."""
    tf_cols = ", ".join(
        f"len(list_filter(ts, t -> t = '{t}')) AS tf_{i}"
        for i, t in enumerate(terms))
    df_cols = ", ".join(
        f"count(*) FILTER (WHERE tf_{i} > 0) AS df_{i}"
        for i in range(len(terms)))
    score_terms = " + ".join(
        f"(CASE WHEN tf_{i} > 0 THEN "
        f"sqrt(tf_{i}) * (ln((s.doc_count + 1) / CAST(d.df_{i} + 1 AS DOUBLE))"
        f" + 1.0) / sqrt(qdl) ELSE 0 END)"
        for i in range(len(terms)))
    nmatch = " + ".join(f"(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END)"
                        for i in range(len(terms)))
    return f"""
WITH toks AS (SELECT doc_id, {TOKS} AS ts FROM documents),
dl_t AS (SELECT doc_id, ts, len(ts) AS dl FROM toks),
stats AS (SELECT count(*) FILTER (WHERE dl > 0) AS doc_count FROM dl_t),
q AS (SELECT doc_id, ts, {QDL} AS qdl FROM dl_t),
tf AS (SELECT doc_id, qdl, {tf_cols} FROM q),
dfs AS (SELECT {df_cols} FROM tf),
scored AS (SELECT doc_id, {score_terms} AS score, {nmatch} AS nmatch
           FROM tf, stats s, dfs d)
SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
         AS rank, doc_id
FROM scored WHERE nmatch >= 1
ORDER BY score DESC, doc_id LIMIT {k}"""


def _lmd_sql(terms: list[str], k: int, mu: float = 2000.0) -> str:
    """LMDirichlet disjunctive top-k oracle: per-term
    max(0, ln(1 + tf/(mu*(ttf+1)/(sumTTF+1))) + ln(mu/(qdl+mu))), summed
    (LMDirichletSimilarity.java:75-80, DefaultCollectionModel)."""
    tf_cols = ", ".join(
        f"len(list_filter(ts, t -> t = '{t}')) AS tf_{i}"
        for i, t in enumerate(terms))
    stat_cols = ", ".join(
        f"count(*) FILTER (WHERE tf_{i} > 0) AS df_{i}, "
        f"sum(tf_{i}) AS ttf_{i}" for i in range(len(terms)))
    score_terms = " + ".join(
        f"(CASE WHEN tf_{i} > 0 THEN greatest("
        f"ln(1 + tf_{i} / ({mu} * (d.ttf_{i} + 1.0) / (s.sum_ttf + 1.0)))"
        f" + ln({mu} / (qdl + {mu})), 0.0) ELSE 0 END)"
        for i in range(len(terms)))
    nmatch = " + ".join(f"(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END)"
                        for i in range(len(terms)))
    return f"""
WITH toks AS (SELECT doc_id, {TOKS} AS ts FROM documents),
dl_t AS (SELECT doc_id, ts, len(ts) AS dl FROM toks),
stats AS (SELECT sum(dl) AS sum_ttf FROM dl_t),
q AS (SELECT doc_id, ts, {QDL} AS qdl FROM dl_t),
tf AS (SELECT doc_id, qdl, {tf_cols} FROM q),
dfs AS (SELECT {stat_cols} FROM tf),
scored AS (SELECT doc_id, {score_terms} AS score, {nmatch} AS nmatch
           FROM tf, stats s, dfs d)
SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
         AS rank, doc_id
FROM scored WHERE nmatch >= 1
ORDER BY score DESC, doc_id LIMIT {k}"""


LANG_TOKS = ("list_filter(regexp_split_to_array(lower(lang), '[^a-z0-9_]+'),"
             " t -> t <> '')")


def _qdl_of(col: str) -> str:
    """QDL (SmallFloat-quantized length) over an arbitrary dl column."""
    import re as _re
    return _re.sub(r"\bdl\b", col, QDL)


def _mf_bool_sql(k: int = 10, head: int = 16) -> str:
    """Cross-field BM25 disjunction oracle (text:filter OR head:fast OR
    lang:py): each clause scores with ITS OWN field's docCount, avgdl, df
    and quantized dl — the per-field CollectionStatistics model
    (BM25Similarity.java:80-82, IndexSearcher.java:790-803)."""
    def clause(tf, qdl, dc, st, df):
        return (f"(CASE WHEN {tf} > 0 THEN "
                f"ln(1 + (s.{dc} - d.{df} + 0.5) / (d.{df} + 0.5)) * {tf}"
                f" / ({tf} + {K1} * ({1 - B} + {B} * {qdl} * s.{dc}"
                f" / CAST(s.{st} AS DOUBLE))) ELSE 0 END)")
    return f"""
WITH toks AS (SELECT doc_id, {TOKS} AS ts, {LANG_TOKS} AS ls FROM documents),
fl AS (SELECT doc_id, ts, ts[1:{head}] AS hs, ls FROM toks),
dls AS (SELECT doc_id, ts, hs, ls, len(ts) AS dlt, len(hs) AS dlh,
               len(ls) AS dll FROM fl),
stats AS (SELECT count(*) FILTER (WHERE dlt > 0) AS dct, sum(dlt) AS stt,
                 count(*) FILTER (WHERE dlh > 0) AS dch, sum(dlh) AS sth,
                 count(*) FILTER (WHERE dll > 0) AS dcl, sum(dll) AS stl
          FROM dls),
q AS (SELECT doc_id,
        len(list_filter(ts, t -> t = 'filter')) AS tft,
        len(list_filter(hs, t -> t = 'fast')) AS tfh,
        len(list_filter(ls, t -> t = 'py')) AS tfl,
        {_qdl_of('dlt')} AS qdlt, {_qdl_of('dlh')} AS qdlh,
        {_qdl_of('dll')} AS qdll
      FROM dls),
dfs AS (SELECT count(*) FILTER (WHERE tft > 0) AS dft,
               count(*) FILTER (WHERE tfh > 0) AS dfh,
               count(*) FILTER (WHERE tfl > 0) AS dfl FROM q),
scored AS (SELECT doc_id,
    {clause('tft', 'qdlt', 'dct', 'stt', 'dft')}
  + {clause('tfh', 'qdlh', 'dch', 'sth', 'dfh')}
  + {clause('tfl', 'qdll', 'dcl', 'stl', 'dfl')} AS score,
    (CASE WHEN tft > 0 THEN 1 ELSE 0 END
     + CASE WHEN tfh > 0 THEN 1 ELSE 0 END
     + CASE WHEN tfl > 0 THEN 1 ELSE 0 END) AS nmatch
    FROM q, stats s, dfs d)
SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
         AS rank, doc_id
FROM scored WHERE nmatch >= 1
ORDER BY score DESC, doc_id LIMIT {k}"""


def _lmjm_sql(terms: list[str], k: int, lam: float = 0.1) -> str:
    """LMJelinekMercer disjunctive top-k oracle: per-term
    ln(1 + ((1-lam) * tf / qdl) / (lam * (ttf+1)/(sumTTF+1))), summed
    (LMJelinekMercerSimilarity.java:60-68; docLen = quantized norm)."""
    tf_cols = ", ".join(
        f"len(list_filter(ts, t -> t = '{t}')) AS tf_{i}"
        for i, t in enumerate(terms))
    stat_cols = ", ".join(
        f"sum(tf_{i}) AS ttf_{i}" for i in range(len(terms)))
    score_terms = " + ".join(
        f"(CASE WHEN tf_{i} > 0 THEN "
        f"ln(1 + (({1 - lam}) * tf_{i} / CAST(qdl AS DOUBLE))"
        f" / ({lam} * (d.ttf_{i} + 1.0) / (s.sum_ttf + 1.0)))"
        f" ELSE 0 END)"
        for i in range(len(terms)))
    nmatch = " + ".join(f"(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END)"
                        for i in range(len(terms)))
    return f"""
WITH toks AS (SELECT doc_id, {TOKS} AS ts FROM documents),
dl_t AS (SELECT doc_id, ts, len(ts) AS dl FROM toks),
stats AS (SELECT sum(dl) AS sum_ttf FROM dl_t),
q AS (SELECT doc_id, ts, {QDL} AS qdl FROM dl_t),
tf AS (SELECT doc_id, qdl, {tf_cols} FROM q),
dfs AS (SELECT {stat_cols} FROM tf),
scored AS (SELECT doc_id, {score_terms} AS score, {nmatch} AS nmatch
           FROM tf, stats s, dfs d)
SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
         AS rank, doc_id
FROM scored WHERE nmatch >= 1
ORDER BY score DESC, doc_id LIMIT {k}"""


def _dfr_sql(terms: list[str], k: int, c: float = 1.0) -> str:
    """DFR I(n)L2 disjunctive top-k oracle (DFRSimilarity.java:96-120,
    BasicModelIn + AfterEffectL + NormalizationH2):
    tfn = tf * log2(1 + c * avgdl / qdl);
    score = (tfn/(1+tfn)) * log2((doc_count+1)/(df+0.5)), summed."""
    tf_cols = ", ".join(
        f"len(list_filter(ts, t -> t = '{t}')) AS tf_{i}"
        for i, t in enumerate(terms))
    df_cols = ", ".join(
        f"count(*) FILTER (WHERE tf_{i} > 0) AS df_{i}"
        for i in range(len(terms)))
    tfn = (lambda i:
           f"(tf_{i} * log2(1 + {c} * (s.sum_ttf / CAST(s.doc_count AS "
           f"DOUBLE)) / CAST(qdl AS DOUBLE)))")
    score_terms = " + ".join(
        f"(CASE WHEN tf_{i} > 0 THEN ({tfn(i)} / (1 + {tfn(i)}))"
        f" * log2((s.doc_count + 1.0) / (d.df_{i} + 0.5)) ELSE 0 END)"
        for i in range(len(terms)))
    nmatch = " + ".join(f"(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END)"
                        for i in range(len(terms)))
    return f"""
WITH toks AS (SELECT doc_id, {TOKS} AS ts FROM documents),
dl_t AS (SELECT doc_id, ts, len(ts) AS dl FROM toks),
stats AS (SELECT count(*) FILTER (WHERE dl > 0) AS doc_count,
                 sum(dl) AS sum_ttf FROM dl_t),
q AS (SELECT doc_id, ts, {QDL} AS qdl FROM dl_t),
tf AS (SELECT doc_id, qdl, {tf_cols} FROM q),
dfs AS (SELECT {df_cols} FROM tf),
scored AS (SELECT doc_id, {score_terms} AS score, {nmatch} AS nmatch
           FROM tf, stats s, dfs d)
SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
         AS rank, doc_id
FROM scored WHERE nmatch >= 1
ORDER BY score DESC, doc_id LIMIT {k}"""


def _dfi_sql(terms: list[str], k: int) -> str:
    """DFI chi-squared disjunctive top-k oracle (DFISimilarity.java:42-50,
    IndependenceChiSquared.java:26-29): expected = (ttf+1)*qdl/(sumTTF+1);
    score = log2((tf-expected)^2/expected + 1) when tf > expected else 0,
    summed."""
    tf_cols = ", ".join(
        f"len(list_filter(ts, t -> t = '{t}')) AS tf_{i}"
        for i, t in enumerate(terms))
    stat_cols = ", ".join(
        f"sum(tf_{i}) AS ttf_{i}" for i in range(len(terms)))
    exp = (lambda i:
           f"((d.ttf_{i} + 1.0) * qdl / (s.sum_ttf + 1.0))")
    score_terms = " + ".join(
        f"(CASE WHEN tf_{i} > {exp(i)} THEN "
        f"log2((tf_{i} - {exp(i)}) * (tf_{i} - {exp(i)}) / {exp(i)} + 1.0)"
        f" ELSE 0 END)"
        for i in range(len(terms)))
    nmatch = " + ".join(f"(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END)"
                        for i in range(len(terms)))
    return f"""
WITH toks AS (SELECT doc_id, {TOKS} AS ts FROM documents),
dl_t AS (SELECT doc_id, ts, len(ts) AS dl FROM toks),
stats AS (SELECT sum(dl) AS sum_ttf FROM dl_t),
q AS (SELECT doc_id, ts, {QDL} AS qdl FROM dl_t),
tf AS (SELECT doc_id, qdl, {tf_cols} FROM q),
dfs AS (SELECT {stat_cols} FROM tf),
scored AS (SELECT doc_id, {score_terms} AS score, {nmatch} AS nmatch
           FROM tf, stats s, dfs d)
SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
         AS rank, doc_id
FROM scored WHERE nmatch >= 1
ORDER BY score DESC, doc_id LIMIT {k}"""


def _ib_sql(terms: list[str], k: int, c: float = 1.0) -> str:
    """IB LL-DF-H2 disjunctive top-k oracle (IBSimilarity.java:99-105,
    DistributionLL + LambdaDF + NormalizationH2):
    lambda = float32((df+1)/(doc_count+1)) (LambdaDF.java:32-38);
    tfn = tf * log2(1 + c * avgdl / qdl);
    score = -ln(lambda / (tfn + lambda)), summed."""
    tf_cols = ", ".join(
        f"len(list_filter(ts, t -> t = '{t}')) AS tf_{i}"
        for i, t in enumerate(terms))
    df_cols = ", ".join(
        f"count(*) FILTER (WHERE tf_{i} > 0) AS df_{i}"
        for i in range(len(terms)))
    # LambdaDF.java:34-37: a lambda that rounds to exactly 1f is
    # nextDown'ed (the engine's IBSimilarityLLH2 does the same)
    nd1 = float(__import__("numpy").nextafter(
        __import__("numpy").float32(1.0), __import__("numpy").float32(0.0)))
    lam = (lambda i:
           f"(CASE WHEN CAST((d.df_{i} + 1.0) / (s.doc_count + 1.0)"
           f" AS FLOAT) = 1.0 THEN {nd1!r} ELSE "
           f"CAST((d.df_{i} + 1.0) / (s.doc_count + 1.0) AS FLOAT) END)")
    tfn = (lambda i:
           f"(tf_{i} * log2(1 + {c} * (s.sum_ttf / CAST(s.doc_count AS "
           f"DOUBLE)) / CAST(qdl AS DOUBLE)))")
    score_terms = " + ".join(
        f"(CASE WHEN tf_{i} > 0 THEN -ln({lam(i)}"
        f" / ({tfn(i)} + {lam(i)})) ELSE 0 END)"
        for i in range(len(terms)))
    nmatch = " + ".join(f"(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END)"
                        for i in range(len(terms)))
    return f"""
WITH toks AS (SELECT doc_id, {TOKS} AS ts FROM documents),
dl_t AS (SELECT doc_id, ts, len(ts) AS dl FROM toks),
stats AS (SELECT count(*) FILTER (WHERE dl > 0) AS doc_count,
                 sum(dl) AS sum_ttf FROM dl_t),
q AS (SELECT doc_id, ts, {QDL} AS qdl FROM dl_t),
tf AS (SELECT doc_id, qdl, {tf_cols} FROM q),
dfs AS (SELECT {df_cols} FROM tf),
scored AS (SELECT doc_id, {score_terms} AS score, {nmatch} AS nmatch
           FROM tf, stats s, dfs d)
SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
         AS rank, doc_id
FROM scored WHERE nmatch >= 1
ORDER BY score DESC, doc_id LIMIT {k}"""


def _axiomatic_sql(terms: list[str], k: int) -> str:
    """Axiomatic F2EXP disjunctive top-k oracle (AxiomaticF2EXP.java:60-87,
    Axiomatic.java:104-113): per-term
    (tf / (tf + s + s * qdl / avgdl)) * pow((doc_count+1)/df, k), summed;
    s and k are the float32 defaults 0.25f / 0.35f."""
    import numpy as _np
    s_, k_ = float(_np.float32(0.25)), float(_np.float32(0.35))
    tf_cols = ", ".join(
        f"len(list_filter(ts, t -> t = '{t}')) AS tf_{i}"
        for i, t in enumerate(terms))
    df_cols = ", ".join(
        f"count(*) FILTER (WHERE tf_{i} > 0) AS df_{i}"
        for i in range(len(terms)))
    avgdl = "(s.sum_ttf / CAST(s.doc_count AS DOUBLE))"
    score_terms = " + ".join(
        f"(CASE WHEN tf_{i} > 0 THEN "
        f"(tf_{i} / (tf_{i} + {s_!r} + {s_!r} * CAST(qdl AS DOUBLE)"
        f" / {avgdl})) * pow((s.doc_count + 1.0)"
        f" / CAST(d.df_{i} AS DOUBLE), {k_!r}) ELSE 0 END)"
        for i in range(len(terms)))
    nmatch = " + ".join(f"(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END)"
                        for i in range(len(terms)))
    return f"""
WITH toks AS (SELECT doc_id, {TOKS} AS ts FROM documents),
dl_t AS (SELECT doc_id, ts, len(ts) AS dl FROM toks),
stats AS (SELECT count(*) FILTER (WHERE dl > 0) AS doc_count,
                 sum(dl) AS sum_ttf FROM dl_t),
q AS (SELECT doc_id, ts, {QDL} AS qdl FROM dl_t),
tf AS (SELECT doc_id, qdl, {tf_cols} FROM q),
dfs AS (SELECT {df_cols} FROM tf),
scored AS (SELECT doc_id, {score_terms} AS score, {nmatch} AS nmatch
           FROM tf, stats s, dfs d)
SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
         AS rank, doc_id
FROM scored WHERE nmatch >= 1
ORDER BY score DESC, doc_id LIMIT {k}"""


def _contains_sql(pred: str) -> str:
    return (f"SELECT doc_id FROM (SELECT doc_id, {TOKS} AS ts FROM documents)"
            f" WHERE {pred}")


# ---------------------------------------------------------------------------
# engine plumbing
# ---------------------------------------------------------------------------

def _docs(spark, sf_dir) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _emb(spark, sf_dir) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


_FORMAT_VERSION = 2


def _cache_is_stale(out: str, require_offsets: bool = False,
                    require_sort: str | None = None,
                    require_regex: str | None = None,
                    require_stemmer: str | None = None,
                    require_synonyms: list | None = None,
                    require_fold: bool = False,
                    require_shingles: list | None = None,
                    require_payload_delim: str | None = None,
                    require_phonetic: str | None = None,
                    require_cjk_bigrams: bool = False,
                    require_edge_ngrams: list | None = None,
                    require_ngrams: list | None = None) -> bool:
    import json
    mpath = os.path.join(out, "manifest.json")
    if not os.path.exists(mpath):
        return True
    with open(mpath) as f:
        m = json.load(f)
    if require_offsets and not m.get("with_offsets"):
        return True
    if require_sort is not None and m.get("index_sort") != require_sort:
        return True
    if require_regex is not None and \
            m.get("analyzer", {}).get("token_regex") != require_regex:
        return True
    if require_stemmer is not None and \
            m.get("analyzer", {}).get("stemmer") != require_stemmer:
        return True
    if require_synonyms is not None and \
            m.get("analyzer", {}).get("synonyms") != require_synonyms:
        return True
    if require_fold and not m.get("analyzer", {}).get("ascii_fold"):
        return True
    if require_payload_delim is not None and \
            m.get("analyzer", {}).get("payload_delim") != \
            require_payload_delim:
        return True
    if require_shingles is not None and \
            m.get("analyzer", {}).get("shingles", []) != require_shingles:
        return True
    if require_phonetic is not None and \
            m.get("analyzer", {}).get("phonetic") != require_phonetic:
        return True
    if require_cjk_bigrams and \
            not m.get("analyzer", {}).get("cjk_bigrams"):
        return True
    if require_edge_ngrams is not None and \
            m.get("analyzer", {}).get("edge_ngrams", []) != \
            require_edge_ngrams:
        return True
    if require_ngrams is not None and \
            m.get("analyzer", {}).get("ngrams", []) != require_ngrams:
        return True
    return m.get("format_version") != _FORMAT_VERSION


def _get_searcher(spark: SparkSession, sf_dir: str,
                  similarity: str = "bm25"):
    from lucene_7_x_9_x_spark.index import IndexSnapshot, build_index
    from lucene_7_x_9_x_spark.searcher import Searcher
    key = (os.path.abspath(sf_dir), similarity)
    if key in _INDEXES:
        return _INDEXES[key]
    out = os.path.join(_CACHE_ROOT, os.path.basename(key[0]))
    if _cache_is_stale(out, require_offsets=True):
        import shutil
        shutil.rmtree(out, ignore_errors=True)
        # range-partition by doc_id so that (segment asc, docid asc) ==
        # doc_id asc globally: the engine's tie-break order then matches
        # the SQL oracles' ORDER BY score DESC, doc_id exactly
        docs = (_docs(spark, sf_dir)
                .repartitionByRange(8, F.col("doc_id")))
        build_index(spark, docs, out, id_cols=["doc_id"],
                    text_col="text", segment_by="input", with_offsets=True)
    s = Searcher(IndexSnapshot(spark, out), similarity=similarity)
    _INDEXES[key] = s
    return s


HEAD_TOKENS = 16  # the "head" extra field = first 16 analyzer tokens


def _get_searcher_mf(spark: SparkSession, sf_dir: str):
    """Multi-field searcher: default field "text" plus extra fields
    "head" (first HEAD_TOKENS analyzer tokens of text — a title-like short
    field whose per-field dl/avgdl differ from the body's) and "lang"
    (the documents.lang column). Exercises per-field postings, norms and
    collection statistics (VERDICT r2 #1)."""
    from lucene_7_x_9_x_spark.index import IndexSnapshot, build_index
    from lucene_7_x_9_x_spark.searcher import Searcher
    key = (os.path.abspath(sf_dir), "mf")
    if key in _INDEXES:
        return _INDEXES[key]
    out = os.path.join(_CACHE_ROOT, "mf_" + os.path.basename(key[0]))
    if _cache_is_stale(out):
        import shutil
        shutil.rmtree(out, ignore_errors=True)
        toks = F.filter(F.split(F.lower(F.col("text")), "[^a-z0-9_]+"),
                        lambda x: x != "")
        docs = (_docs(spark, sf_dir)
                .withColumn("head",
                            F.concat_ws(" ", F.slice(toks, 1, HEAD_TOKENS)))
                .repartitionByRange(8, F.col("doc_id")))
        build_index(spark, docs, out, id_cols=["doc_id"],
                    text_col="text", segment_by="input",
                    extra_fields=[("head", "head"), ("lang", "lang")])
    s = Searcher(IndexSnapshot(spark, out))
    _INDEXES[key] = s
    return s


# deterministic non-ASCII corpus derived from doc_id arithmetic over
# literal snippets — Spark and the DuckDB oracles synthesize the SAME text,
# so the Unicode analyzer (UAX#29-class token types) is exercised end to
# end: CJK ideographs one-token-per-char, katakana/hangul runs, accented
# Latin word runs
_UNI_A = ["搜索 引擎 索引", "中文 分词 系统", "数据 处理 管道",
          "搜索 排序 算法"]
_UNI_B = ["カタカナ テスト", "ひらがな かな", "한국어 형태소"]
_UNI_C = ["café résumé", "naïve façade", "über größe", "déjà vu",
          "señor niño"]


def _unicode_docs(spark, sf_dir) -> DataFrame:
    def pick(lits, m):
        return F.element_at(F.array(*[F.lit(x) for x in lits]),
                            (F.col("doc_id") % m + 1).cast("int"))
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.concat_ws(" ", pick(_UNI_A, 4), pick(_UNI_B, 3),
                    pick(_UNI_C, 5)).alias("text"))


def _uni_toks() -> str:
    """DuckDB tokenizer expression reproducing the engine's Unicode mode
    bit-for-bit: the SAME pattern string under RE2 (explicit codepoint
    ranges — no \\p classes, no \\w — precisely so both regex engines and
    Java regex agree)."""
    from lucene_7_x_9_x_spark.functions.analysis import UNICODE_TOKEN_REGEX
    return ("list_filter(regexp_extract_all(lower(text), "
            f"'{UNICODE_TOKEN_REGEX}'), t -> t <> '')")


def _unicode_src_sql() -> str:
    def pick(lits, m):
        arr = ", ".join("'%s'" % x for x in lits)
        return f"[{arr}][CAST(doc_id % {m} AS INT) + 1]"
    return (f"SELECT doc_id, {pick(_UNI_A, 4)} || ' ' || "
            f"{pick(_UNI_B, 3)} || ' ' || {pick(_UNI_C, 5)} AS text "
            "FROM documents")


# deterministic English corpus with rich inflection, derived from doc_id
# arithmetic over literal snippets (same construction as the Unicode
# entries) — exercises the Porter stemming analyzer end to end; the DuckDB
# oracle reproduces the stemmer with a vocabulary CASE mapping generated
# from the SAME porter_stem function (whose behavior is pinned by the
# published-vector tests in tests/test_stem.py)
_STEM_A = ["the runner was running and jumped easily",
           "connection connections connected connecting",
           "relational conditional rational arguments",
           "generalizations oscillators itemization sensational"]
_STEM_B = ["happiness happy happily",
           "adjustable adjustment adjusted",
           "traditional references plotted"]


def _stem_docs(spark, sf_dir) -> DataFrame:
    def pick(lits, m):
        return F.element_at(F.array(*[F.lit(x) for x in lits]),
                            (F.col("doc_id") % m + 1).cast("int"))
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.concat_ws(" ", pick(_STEM_A, 4), pick(_STEM_B, 3)).alias("text"))


def _stem_src_sql() -> str:
    def pick(lits, m):
        arr = ", ".join("'%s'" % x for x in lits)
        return f"[{arr}][CAST(doc_id % {m} AS INT) + 1]"
    return (f"SELECT doc_id, {pick(_STEM_A, 4)} || ' ' || "
            f"{pick(_STEM_B, 3)} AS text FROM documents")


def _stem_toks() -> str:
    """DuckDB tokenizer+stemmer: default ASCII tokens mapped through a
    CASE built from porter_stem over the (finite, literal-defined)
    corpus vocabulary."""
    import re
    from lucene_7_x_9_x_spark.functions.stem import porter_stem
    vocab = sorted({t for s in _STEM_A + _STEM_B
                    for t in re.findall(r"[a-z0-9_]+", s.lower())})
    cases = " ".join(f"WHEN '{t}' THEN '{porter_stem(t)}'" for t in vocab
                     if porter_stem(t) != t)
    return (f"list_transform({TOKS}, t -> CASE t {cases} ELSE t END)")


def _get_searcher_stem(spark: SparkSession, sf_dir: str):
    from lucene_7_x_9_x_spark.functions.analysis import AnalyzerConfig
    from lucene_7_x_9_x_spark.index import IndexSnapshot, build_index
    from lucene_7_x_9_x_spark.searcher import Searcher
    key = (os.path.abspath(sf_dir), "stem")
    if key in _INDEXES:
        return _INDEXES[key]
    out = os.path.join(_CACHE_ROOT, "stem_" + os.path.basename(key[0]))
    if _cache_is_stale(out, require_stemmer="porter"):
        import shutil
        shutil.rmtree(out, ignore_errors=True)
        docs = (_stem_docs(spark, sf_dir)
                .repartitionByRange(8, F.col("doc_id")))
        build_index(spark, docs, out, id_cols=["doc_id"],
                    text_col="text", segment_by="input",
                    analyzer=AnalyzerConfig(stemmer="porter"))
    s = Searcher(IndexSnapshot(spark, out))
    _INDEXES[key] = s
    return s


# version-string / IP corpus for the UAX#29 NUM rule (interior-punctuation
# numbers are single tokens under the Unicode analyzer): deterministic
# literal-derived text, same construction as the other analysis gates
_NUMC_A = ["release 2.4.1 fixes the parser crash",
           "version 2.4.2 beta rollout started",
           "pi equals 3.14 roughly in tests",
           "build 10.0.1 shipped early today"]
_NUMC_B = ["host 192.168.0.1 was unreachable",
           "host 10.0.0.2 answered quickly",
           "about 1,000,000 rows processed"]


def _num_docs(spark, sf_dir) -> DataFrame:
    def pick(lits, m):
        return F.element_at(F.array(*[F.lit(x) for x in lits]),
                            (F.col("doc_id") % m + 1).cast("int"))
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.concat_ws(" ", pick(_NUMC_A, 4), pick(_NUMC_B, 3)).alias("text"))


def _num_src_sql() -> str:
    def pick(lits, m):
        arr = ", ".join("'%s'" % x for x in lits)
        return f"[{arr}][CAST(doc_id % {m} AS INT) + 1]"
    return (f"SELECT doc_id, {pick(_NUMC_A, 4)} || ' ' || "
            f"{pick(_NUMC_B, 3)} AS text FROM documents")


# surname-variant corpus for the phonetic (Soundex) gate: spelling
# variants share a code (smith/smyth -> s530, ashcraft/ashcroft -> a261)
_PHON_A = ["robert met rupert at the office",
           "ashcraft and ashcroft filed the report",
           "smith wrote to smyth yesterday",
           "tymczak called tomczak early"]
_PHON_B = ["pfister signed for peterson",
           "honeyman met hanman at noon",
           "the meeting ended early again"]


def _phon_docs(spark, sf_dir) -> DataFrame:
    def pick(lits, m):
        return F.element_at(F.array(*[F.lit(x) for x in lits]),
                            (F.col("doc_id") % m + 1).cast("int"))
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.concat_ws(" ", pick(_PHON_A, 4), pick(_PHON_B, 3)).alias("text"))


def _phon_src_sql() -> str:
    def pick(lits, m):
        arr = ", ".join("'%s'" % x for x in lits)
        return f"[{arr}][CAST(doc_id % {m} AS INT) + 1]"
    return (f"SELECT doc_id, {pick(_PHON_A, 4)} || ' ' || "
            f"{pick(_PHON_B, 3)} AS text FROM documents")


def _phon_toks() -> str:
    """DuckDB tokenizer+soundex: a CASE map generated from the engine's
    own soundex over the finite literal vocabulary (the stem-gate
    model — the SQL side never re-implements the encoder)."""
    import re
    from lucene_7_x_9_x_spark.functions.phonetic import soundex
    vocab = sorted({t for s in _PHON_A + _PHON_B
                    for t in re.findall(r"[a-z0-9_]+", s.lower())})
    cases = " ".join(f"WHEN '{t}' THEN '{soundex(t)}'" for t in vocab
                     if soundex(t) != t)
    return (f"list_transform({TOKS}, t -> CASE t {cases} ELSE t END)")


# unspaced CJK corpus for the CJKAnalyzer/CJKBigramFilter gate
_CJK_A = ["中文搜索引擎系统", "中文分词处理管道", "数据索引压缩算法",
          "查询排序评分内核"]
_CJK_B = ["the quick parser", "a fast 分词 engine", "索引 merge policy"]


def _cjk_docs(spark, sf_dir) -> DataFrame:
    def pick(lits, m):
        return F.element_at(F.array(*[F.lit(x) for x in lits]),
                            (F.col("doc_id") % m + 1).cast("int"))
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.concat_ws(" ", pick(_CJK_A, 4), pick(_CJK_B, 3)).alias("text"))


def _cjk_src_sql() -> str:
    def pick(lits, m):
        arr = ", ".join("'%s'" % x for x in lits)
        return f"[{arr}][CAST(doc_id % {m} AS INT) + 1]"
    return (f"SELECT doc_id, {pick(_CJK_A, 4)} || ' ' || "
            f"{pick(_CJK_B, 3)} AS text FROM documents")


def _cjk_toks() -> str:
    """DuckDB Unicode tokenizer + the CJK bigram transform, generated
    from the engine's own range constants; the raw token list and its
    flag list are inlined (the _bm25_sql toks slot is one expression
    over `text`)."""
    from lucene_7_x_9_x_spark.functions.analysis import (
        cjk_bigram_sql, cjk_flags_sql)
    raw = _uni_toks()
    return cjk_bigram_sql(raw, cjk_flags_sql(raw))


def _get_searcher_cjk(spark: SparkSession, sf_dir: str):
    from lucene_7_x_9_x_spark.functions.analysis import (
        UNICODE_TOKEN_REGEX, AnalyzerConfig)
    from lucene_7_x_9_x_spark.index import IndexSnapshot, build_index
    from lucene_7_x_9_x_spark.searcher import Searcher
    key = (os.path.abspath(sf_dir), "cjk")
    if key in _INDEXES:
        return _INDEXES[key]
    out = os.path.join(_CACHE_ROOT, "cjk_" + os.path.basename(key[0]))
    if _cache_is_stale(out, require_regex=UNICODE_TOKEN_REGEX,
                       require_cjk_bigrams=True):
        import shutil
        shutil.rmtree(out, ignore_errors=True)
        docs = (_cjk_docs(spark, sf_dir)
                .repartitionByRange(8, F.col("doc_id")))
        build_index(spark, docs, out, id_cols=["doc_id"],
                    text_col="text", segment_by="input",
                    analyzer=AnalyzerConfig(
                        token_regex=UNICODE_TOKEN_REGEX,
                        cjk_bigrams=True))
    s = Searcher(IndexSnapshot(spark, out))
    _INDEXES[key] = s
    return s


def _get_searcher_phonetic(spark: SparkSession, sf_dir: str):
    from lucene_7_x_9_x_spark.functions.analysis import AnalyzerConfig
    from lucene_7_x_9_x_spark.index import IndexSnapshot, build_index
    from lucene_7_x_9_x_spark.searcher import Searcher
    key = (os.path.abspath(sf_dir), "phonetic")
    if key in _INDEXES:
        return _INDEXES[key]
    out = os.path.join(_CACHE_ROOT, "phon_" + os.path.basename(key[0]))
    if _cache_is_stale(out, require_phonetic="soundex"):
        import shutil
        shutil.rmtree(out, ignore_errors=True)
        docs = (_phon_docs(spark, sf_dir)
                .repartitionByRange(8, F.col("doc_id")))
        build_index(spark, docs, out, id_cols=["doc_id"],
                    text_col="text", segment_by="input",
                    analyzer=AnalyzerConfig(phonetic="soundex"))
    s = Searcher(IndexSnapshot(spark, out))
    _INDEXES[key] = s
    return s


def _get_searcher_num(spark: SparkSession, sf_dir: str):
    from lucene_7_x_9_x_spark.functions.analysis import (
        UNICODE_TOKEN_REGEX, unicode_analyzer)
    from lucene_7_x_9_x_spark.index import IndexSnapshot, build_index
    from lucene_7_x_9_x_spark.searcher import Searcher
    key = (os.path.abspath(sf_dir), "num")
    if key in _INDEXES:
        return _INDEXES[key]
    out = os.path.join(_CACHE_ROOT, "num_" + os.path.basename(key[0]))
    if _cache_is_stale(out, require_regex=UNICODE_TOKEN_REGEX):
        import shutil
        shutil.rmtree(out, ignore_errors=True)
        docs = (_num_docs(spark, sf_dir)
                .repartitionByRange(8, F.col("doc_id")))
        build_index(spark, docs, out, id_cols=["doc_id"],
                    text_col="text", segment_by="input",
                    analyzer=unicode_analyzer())
    s = Searcher(IndexSnapshot(spark, out))
    _INDEXES[key] = s
    return s


# deterministic corpus exercising INDEX-time synonym injection
# (SynonymGraphFilter's posIncr-0 index-side configuration): quick/rapid/
# swift all inject 'fast' at their own position; the corpus mixes natural
# and injected occurrences so the augmented tf/df actually reorder docs
_SYN_A = ["the quick brown fox jumped over lazy dogs",
          "a rapid red fox ran through the fields",
          "the fast blue fox sat very still",
          "slow green turtles crawled home today"]
_SYN_B = ["swift rivers flow north quickly",
          "fast delivery trucks arrive early",
          "quiet calm ponds rest deeply"]
_SYN_RULES = {"quick": ("fast",), "rapid": ("fast",), "swift": ("fast",)}


def _syn_docs(spark, sf_dir) -> DataFrame:
    def pick(lits, m):
        return F.element_at(F.array(*[F.lit(x) for x in lits]),
                            (F.col("doc_id") % m + 1).cast("int"))
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.concat_ws(" ", pick(_SYN_A, 4), pick(_SYN_B, 3)).alias("text"))


def _syn_src_sql() -> str:
    def pick(lits, m):
        arr = ", ".join("'%s'" % x for x in lits)
        return f"[{arr}][CAST(doc_id % {m} AS INT) + 1]"
    return (f"SELECT doc_id, {pick(_SYN_A, 4)} || ' ' || "
            f"{pick(_SYN_B, 3)} AS text FROM documents")


def _syn_toks() -> str:
    """DuckDB replica of index-time injection for queries whose terms are
    never a rule's lhs: mapping each lhs to its (single) rhs leaves dl,
    doc_count and sum(dl) unchanged while reproducing the injected term's
    tf/df exactly — the stem gate's vocabulary CASE-map trick."""
    lhs = ", ".join(f"'{w}'" for w in sorted(_SYN_RULES))
    return (f"list_transform({TOKS}, t -> CASE WHEN t IN ({lhs}) "
            "THEN 'fast' ELSE t END)")


def _get_searcher_syn(spark: SparkSession, sf_dir: str):
    from lucene_7_x_9_x_spark.functions.analysis import (AnalyzerConfig,
                                                         canon_synonyms)
    from lucene_7_x_9_x_spark.index import IndexSnapshot, build_index
    from lucene_7_x_9_x_spark.searcher import Searcher
    key = (os.path.abspath(sf_dir), "syn")
    if key in _INDEXES:
        return _INDEXES[key]
    syn = canon_synonyms(_SYN_RULES)
    out = os.path.join(_CACHE_ROOT, "syn_" + os.path.basename(key[0]))
    if _cache_is_stale(out, require_synonyms=[[l, list(r)] for l, r in syn]):
        import shutil
        shutil.rmtree(out, ignore_errors=True)
        docs = (_syn_docs(spark, sf_dir)
                .repartitionByRange(8, F.col("doc_id")))
        build_index(spark, docs, out, id_cols=["doc_id"],
                    text_col="text", segment_by="input",
                    analyzer=AnalyzerConfig(synonyms=syn,
                                            synonyms_at="index"))
    s = Searcher(IndexSnapshot(spark, out))
    _INDEXES[key] = s
    return s


# delimited-payload corpus (DelimitedPayloadTokenFilter + the .pay
# stream): whitespace tokens "term|int" carry integer payloads so the
# engine's float32 position-order sum is exactly integral
_PAYC_A = ["quality|3 spam|1 quality|2 length|7",
           "quality|5 boost|2",
           "spam|4 quality|1 quality|1 quality|1",
           "length|9 boost|1"]
_PAYC_B = ["quality|2 extra|3",
           "plain tokens here",
           "quality|4"]


def _pay_docs(spark, sf_dir) -> DataFrame:
    def pick(lits, m):
        return F.element_at(F.array(*[F.lit(x) for x in lits]),
                            (F.col("doc_id") % m + 1).cast("int"))
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.concat_ws(" ", pick(_PAYC_A, 4), pick(_PAYC_B, 3)).alias("text"))


def _pay_src_sql() -> str:
    def pick(lits, m):
        arr = ", ".join("'%s'" % x for x in lits)
        return f"[{arr}][CAST(doc_id % {m} AS INT) + 1]"
    return (f"SELECT doc_id, {pick(_PAYC_A, 4)} || ' ' || "
            f"{pick(_PAYC_B, 3)} AS text FROM documents")


def _get_searcher_pay(spark: SparkSession, sf_dir: str):
    from lucene_7_x_9_x_spark.functions.analysis import AnalyzerConfig
    from lucene_7_x_9_x_spark.index import IndexSnapshot, build_index
    from lucene_7_x_9_x_spark.searcher import Searcher
    key = (os.path.abspath(sf_dir), "pay")
    if key in _INDEXES:
        return _INDEXES[key]
    out = os.path.join(_CACHE_ROOT, "pay_" + os.path.basename(key[0]))
    if _cache_is_stale(out, require_payload_delim="|"):
        import shutil
        shutil.rmtree(out, ignore_errors=True)
        docs = (_pay_docs(spark, sf_dir)
                .repartitionByRange(8, F.col("doc_id")))
        build_index(spark, docs, out, id_cols=["doc_id"],
                    text_col="text", segment_by="input",
                    analyzer=AnalyzerConfig(token_regex=r"[^ ]+",
                                            payload_delim="|"))
    s = Searcher(IndexSnapshot(spark, out))
    _INDEXES[key] = s
    return s


# emoji corpus for the UAX#29 EMOJI token-type gate: pictographic
# sequences (flag pairs, skin tones, ZWJ joins, keycaps) are single tokens
_EMOC_A = ["lunch was 🍕 again today",
           "team shipped 🚀 the release",
           "flags 🇺🇸 and 🇯🇵 were flying",
           "reviews got 👍🏻 marks overall"]
_EMOC_B = ["family 👨‍👩‍👧 picnic photos",
           "vote 1️⃣ closed early",
           "plain text without any emoji"]


def _emoji_docs(spark, sf_dir) -> DataFrame:
    def pick(lits, m):
        return F.element_at(F.array(*[F.lit(x) for x in lits]),
                            (F.col("doc_id") % m + 1).cast("int"))
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.concat_ws(" ", pick(_EMOC_A, 4), pick(_EMOC_B, 3)).alias("text"))


def _emoji_src_sql() -> str:
    def pick(lits, m):
        arr = ", ".join("'%s'" % x for x in lits)
        return f"[{arr}][CAST(doc_id % {m} AS INT) + 1]"
    return (f"SELECT doc_id, {pick(_EMOC_A, 4)} || ' ' || "
            f"{pick(_EMOC_B, 3)} AS text FROM documents")


def _get_searcher_emoji(spark: SparkSession, sf_dir: str):
    from lucene_7_x_9_x_spark.functions.analysis import (
        UNICODE_TOKEN_REGEX, unicode_analyzer)
    from lucene_7_x_9_x_spark.index import IndexSnapshot, build_index
    from lucene_7_x_9_x_spark.searcher import Searcher
    key = (os.path.abspath(sf_dir), "emoji")
    if key in _INDEXES:
        return _INDEXES[key]
    out = os.path.join(_CACHE_ROOT, "emoji_" + os.path.basename(key[0]))
    if _cache_is_stale(out, require_regex=UNICODE_TOKEN_REGEX):
        import shutil
        shutil.rmtree(out, ignore_errors=True)
        docs = (_emoji_docs(spark, sf_dir)
                .repartitionByRange(8, F.col("doc_id")))
        build_index(spark, docs, out, id_cols=["doc_id"],
                    text_col="text", segment_by="input",
                    analyzer=unicode_analyzer())
    s = Searcher(IndexSnapshot(spark, out))
    _INDEXES[key] = s
    return s


# accented-Latin corpus for the ASCIIFoldingFilter gate: queries use the
# UNACCENTED forms and only match because the chain folds at index time
_FOLD_A = ["le café de Zürich ouvre tôt",
           "the cafe down the straße was closed",
           "señor Gómez drank his café noir",
           "plain words without accents here"]
_FOLD_B = ["die Straße nach Zürich ist lang",
           "naïve résumé façade",
           "ordinary ascii text again"]


def _fold_docs(spark, sf_dir) -> DataFrame:
    def pick(lits, m):
        return F.element_at(F.array(*[F.lit(x) for x in lits]),
                            (F.col("doc_id") % m + 1).cast("int"))
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.concat_ws(" ", pick(_FOLD_A, 4), pick(_FOLD_B, 3)).alias("text"))


def _fold_src_sql() -> str:
    def pick(lits, m):
        arr = ", ".join("'%s'" % x for x in lits)
        return f"[{arr}][CAST(doc_id % {m} AS INT) + 1]"
    return (f"SELECT doc_id, {pick(_FOLD_A, 4)} || ' ' || "
            f"{pick(_FOLD_B, 3)} AS text FROM documents")


def _fold_toks() -> str:
    """DuckDB replica of the fold chain: Unicode tokenize, then the SAME
    fold tables as the engine via analysis.fold_sql (translate + replace
    chain generated from one shared definition)."""
    from lucene_7_x_9_x_spark.functions.analysis import fold_sql
    return f"list_transform({_uni_toks()}, t -> {fold_sql('t')})"


def _get_searcher_fold(spark: SparkSession, sf_dir: str):
    from lucene_7_x_9_x_spark.functions.analysis import (
        UNICODE_TOKEN_REGEX, AnalyzerConfig)
    from lucene_7_x_9_x_spark.index import IndexSnapshot, build_index
    from lucene_7_x_9_x_spark.searcher import Searcher
    key = (os.path.abspath(sf_dir), "fold")
    if key in _INDEXES:
        return _INDEXES[key]
    out = os.path.join(_CACHE_ROOT, "fold_" + os.path.basename(key[0]))
    if _cache_is_stale(out, require_regex=UNICODE_TOKEN_REGEX,
                       require_fold=True):
        import shutil
        shutil.rmtree(out, ignore_errors=True)
        docs = (_fold_docs(spark, sf_dir)
                .repartitionByRange(8, F.col("doc_id")))
        build_index(spark, docs, out, id_cols=["doc_id"],
                    text_col="text", segment_by="input",
                    analyzer=AnalyzerConfig(
                        token_regex=UNICODE_TOKEN_REGEX, ascii_fold=True))
    s = Searcher(IndexSnapshot(spark, out))
    _INDEXES[key] = s
    return s


def _shingle_toks() -> str:
    """DuckDB bigram list over the default tokens (1-based list indexing;
    range(1, n) is empty for n <= 1, so short docs yield no bigrams)."""
    return (f"list_transform(range(1, len({TOKS})), "
            f"i -> {TOKS}[i] || ' ' || {TOKS}[i + 1])")


def _edgegram_toks() -> str:
    """DuckDB replica of the EdgeNGramTokenFilter(2,4) stream: unigrams
    plus every prefix of length 2..min(4, len-1) (the full-length gram is
    skipped — the primary token already carries it)."""
    return (f"list_concat({TOKS}, flatten(list_transform({TOKS}, "
            f"t -> list_transform(list_filter(range(2, 5), "
            f"g -> g < length(t)), g -> substr(t, 1, g)))))")


def _ngram_toks() -> str:
    """DuckDB replica of the NGramTokenFilter(3,3) stream: unigrams plus
    every length-3 substring at every start offset, excluding the
    (start=1, len=3) whole-token duplicate."""
    return (f"list_concat({TOKS}, flatten(list_transform({TOKS}, "
            f"t -> list_transform(list_filter(range(1, length(t) - 1), "
            f"s -> NOT (s = 1 AND length(t) = 3)), "
            f"s -> substr(t, s, 3)))))")


def _get_searcher_shingle(spark: SparkSession, sf_dir: str):
    from lucene_7_x_9_x_spark.functions.analysis import AnalyzerConfig
    from lucene_7_x_9_x_spark.index import IndexSnapshot, build_index
    from lucene_7_x_9_x_spark.searcher import Searcher
    key = (os.path.abspath(sf_dir), "shingle")
    if key in _INDEXES:
        return _INDEXES[key]
    out = os.path.join(_CACHE_ROOT, "shingle_" + os.path.basename(key[0]))
    if _cache_is_stale(out, require_shingles=[2]):
        import shutil
        shutil.rmtree(out, ignore_errors=True)
        docs = (_docs(spark, sf_dir).select("doc_id", "text")
                .repartitionByRange(8, F.col("doc_id")))
        build_index(spark, docs, out, id_cols=["doc_id"],
                    text_col="text", segment_by="input",
                    analyzer=AnalyzerConfig(shingles=(2,)))
    s = Searcher(IndexSnapshot(spark, out))
    _INDEXES[key] = s
    return s


def _get_searcher_edgegram(spark: SparkSession, sf_dir: str):
    from lucene_7_x_9_x_spark.functions.analysis import AnalyzerConfig
    from lucene_7_x_9_x_spark.index import IndexSnapshot, build_index
    from lucene_7_x_9_x_spark.searcher import Searcher
    key = (os.path.abspath(sf_dir), "edgegram")
    if key in _INDEXES:
        return _INDEXES[key]
    out = os.path.join(_CACHE_ROOT, "edge_" + os.path.basename(key[0]))
    if _cache_is_stale(out, require_edge_ngrams=[2, 4]):
        import shutil
        shutil.rmtree(out, ignore_errors=True)
        docs = (_docs(spark, sf_dir).select("doc_id", "text")
                .repartitionByRange(8, F.col("doc_id")))
        build_index(spark, docs, out, id_cols=["doc_id"],
                    text_col="text", segment_by="input",
                    analyzer=AnalyzerConfig(edge_ngrams=(2, 4)))
    s = Searcher(IndexSnapshot(spark, out))
    _INDEXES[key] = s
    return s


def _get_searcher_ngram(spark: SparkSession, sf_dir: str):
    from lucene_7_x_9_x_spark.functions.analysis import AnalyzerConfig
    from lucene_7_x_9_x_spark.index import IndexSnapshot, build_index
    from lucene_7_x_9_x_spark.searcher import Searcher
    key = (os.path.abspath(sf_dir), "ngram")
    if key in _INDEXES:
        return _INDEXES[key]
    out = os.path.join(_CACHE_ROOT, "ngram_" + os.path.basename(key[0]))
    if _cache_is_stale(out, require_ngrams=[3, 3]):
        import shutil
        shutil.rmtree(out, ignore_errors=True)
        docs = (_docs(spark, sf_dir).select("doc_id", "text")
                .repartitionByRange(8, F.col("doc_id")))
        build_index(spark, docs, out, id_cols=["doc_id"],
                    text_col="text", segment_by="input",
                    analyzer=AnalyzerConfig(ngrams=(3, 3)))
    s = Searcher(IndexSnapshot(spark, out))
    _INDEXES[key] = s
    return s


def _get_searcher_unicode(spark: SparkSession, sf_dir: str):
    from lucene_7_x_9_x_spark.functions.analysis import (
        UNICODE_TOKEN_REGEX, unicode_analyzer)
    from lucene_7_x_9_x_spark.index import IndexSnapshot, build_index
    from lucene_7_x_9_x_spark.searcher import Searcher
    key = (os.path.abspath(sf_dir), "unicode")
    if key in _INDEXES:
        return _INDEXES[key]
    out = os.path.join(_CACHE_ROOT, "uni_" + os.path.basename(key[0]))
    if _cache_is_stale(out, require_regex=UNICODE_TOKEN_REGEX):
        import shutil
        shutil.rmtree(out, ignore_errors=True)
        docs = (_unicode_docs(spark, sf_dir)
                .repartitionByRange(8, F.col("doc_id")))
        build_index(spark, docs, out, id_cols=["doc_id"],
                    text_col="text", segment_by="input",
                    analyzer=unicode_analyzer())
    s = Searcher(IndexSnapshot(spark, out))
    _INDEXES[key] = s
    return s


def _get_searcher_sorted(spark: SparkSession, sf_dir: str):
    """Index built with sort_by="n_chars" (IndexWriterConfig.setIndexSort
    analogue): docids assigned in (n_chars, doc_id) order, enabling
    early-terminating sorted top-k (Searcher.sorted_topk)."""
    from lucene_7_x_9_x_spark.index import IndexSnapshot, build_index
    from lucene_7_x_9_x_spark.searcher import Searcher
    key = (os.path.abspath(sf_dir), "sorted")
    if key in _INDEXES:
        return _INDEXES[key]
    out = os.path.join(_CACHE_ROOT, "sorted_" + os.path.basename(key[0]))
    if _cache_is_stale(out, require_sort="n_chars"):
        import shutil
        shutil.rmtree(out, ignore_errors=True)
        docs = (_docs(spark, sf_dir)
                .repartitionByRange(8, F.col("doc_id")))
        build_index(spark, docs, out, id_cols=["doc_id"],
                    text_col="text", segment_by="input", sort_by="n_chars")
    s = Searcher(IndexSnapshot(spark, out))
    _INDEXES[key] = s
    return s


def _match_ids(spark, sf_dir, query) -> DataFrame:
    s = _get_searcher(spark, sf_dir)
    m = s.matches(query)
    dm = s.index.docmap().select("segment", "docid",
                                 F.col("doc_id").cast("long").alias("doc_id"))
    return (m.join(dm, ["segment", "docid"]).select("doc_id"))


def _topk_ids(spark, sf_dir, query, k) -> DataFrame:
    s = _get_searcher(spark, sf_dir)
    r = s.search(query, k)
    return r.select(F.col("rank").cast("long").alias("rank"),
                    F.col("doc_id").cast("long").alias("doc_id"))


def _q():
    from lucene_7_x_9_x_spark.plans import query as Q
    return Q


# ---------------------------------------------------------------------------
# the contract
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: BM25 top-10 disjunctive query via the dense top-k kernel on
    sf0.001 (index built on first call, cached under .index_cache)."""
    Q = _q()
    q = Q.BooleanQuery([(Q.Occur.SHOULD, Q.TermQuery("filter")),
                        (Q.Occur.SHOULD, Q.TermQuery("join")),
                        (Q.Occur.SHOULD, Q.TermQuery("window"))])
    return _topk_ids(spark, "/root/testdata/sf0.001", q, 10)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    Q = _q()
    O, T = Q.Occur, Q.TermQuery

    def term_docs(spark, sf):
        return _match_ids(spark, sf, T("filter"))

    def bool_and_not(spark, sf):
        return _match_ids(spark, sf, Q.BooleanQuery(
            [(O.MUST, T("filter")), (O.MUST, T("join")),
             (O.MUST_NOT, T("window"))]))

    def bool_msm2(spark, sf):
        return _match_ids(spark, sf, Q.BooleanQuery(
            [(O.SHOULD, T("group")), (O.SHOULD, T("query")),
             (O.SHOULD, T("window"))], minimum_should_match=2))

    def phrase(spark, sf):
        return _match_ids(spark, sf, Q.PhraseQuery(["the", "fast"]))

    def prefix(spark, sf):
        return _match_ids(spark, sf, Q.PrefixQuery("quer"))

    def wildcard(spark, sf):
        return _match_ids(spark, sf, Q.WildcardQuery("st*am"))

    def regexp(spark, sf):
        return _match_ids(spark, sf, Q.RegexpQuery("st(r?)eam|qu.ry"))

    def term_range(spark, sf):
        return _match_ids(spark, sf, Q.TermRangeQuery("scan", "sort"))

    def term_set(spark, sf):
        return _match_ids(spark, sf, Q.TermInSetQuery(["merge", "stream"]))

    def fuzzy(spark, sf):
        # transposition counts as ONE edit (FuzzyQuery.java:35,85):
        # 'fitler' -> 'filter' is Damerau distance 1, Levenshtein 2
        return _match_ids(spark, sf, Q.FuzzyQuery("fitler", max_edits=1))

    def numeric_range(spark, sf):
        # PointRangeQuery analogue over the stored dl doc-values column
        s = _get_searcher(spark, sf)
        return (s.numeric_range_docs(40, 60)
                .select(F.col("doc_id").cast("long"),
                        F.col("dl").cast("long")))

    def _docvals(spark, sf):
        # deterministic per-doc docvalues side-table (the stored-DocValues
        # role, like knn's vectors table): `val` present for 2 of 3 docs
        # (field-exists / set-membership target), plus an integer interval
        # [range_min, range_max] per doc (the IntRange field)
        d = _docs(spark, sf).select("doc_id", "n_chars")
        return d.select(
            "doc_id",
            F.when(F.col("doc_id") % 3 != 0,
                   F.col("n_chars") % 97).alias("val"),
            (F.col("n_chars") % 199).alias("range_min"),
            (F.col("n_chars") % 199 + F.col("doc_id") % 37)
            .alias("range_max"))

    def field_exists(spark, sf):
        # FieldExistsQuery / DocValuesFieldExistsQuery: docs that HAVE a
        # value for the field (IsNotNull pushed to the docvalues scan)
        s = _get_searcher(spark, sf)
        return (s.field_exists_docs("val", docvalues=_docvals(spark, sf))
                .select(F.col("doc_id").cast("long")))

    def point_in_set(spark, sf):
        # PointInSetQuery / SortedNumericDocValuesSetQuery: exact set
        # membership, pushed as an In(...) scan filter
        s = _get_searcher(spark, sf)
        return (s.point_in_set_docs([10, 20, 30, 40, 50], "val",
                                    docvalues=_docvals(spark, sf))
                .select(F.col("doc_id").cast("long"),
                        F.col("val").cast("long")))

    def range_field_intersects(spark, sf):
        # IntRange INTERSECTS: doc interval overlaps the query range
        s = _get_searcher(spark, sf)
        return (s.range_field_docs(50, 90, "intersects",
                                   docvalues=_docvals(spark, sf))
                .select(F.col("doc_id").cast("long"),
                        F.col("range_min").cast("long"),
                        F.col("range_max").cast("long")))

    def range_field_crosses(spark, sf):
        # IntRange CROSSES: intersects minus WITHIN minus CONTAINS
        # (RangeFieldQuery.QueryType.CROSSES)
        s = _get_searcher(spark, sf)
        return (s.range_field_docs(50, 90, "crosses",
                                   docvalues=_docvals(spark, sf))
                .select(F.col("doc_id").cast("long"),
                        F.col("range_min").cast("long"),
                        F.col("range_max").cast("long")))

    def parse_query_topk(spark, sf):
        from lucene_7_x_9_x_spark.plans.parser import parse
        # classic-parser semantics: AND retro-upgrades 'group' to MUST,
        # 'query' is MUST, OR leaves 'window' SHOULD
        return _topk_ids(spark, sf, parse("group AND query OR window"), 10)

    def parse_query_matches(spark, sf):
        from lucene_7_x_9_x_spark.plans.parser import parse
        return _match_ids(
            spark, sf, parse('filter AND (join OR "the fast") -window'))

    def simple_query_top10(spark, sf):
        # SimpleQueryParser: "a | b + c" groups right-to-left as
        # (a OR b) AND c (queryparser/simple/SimpleQueryParser.java:66-68)
        from lucene_7_x_9_x_spark.plans.simple_parser import parse_simple
        return _topk_ids(spark, sf,
                         parse_simple("filter | join + window"), 10)

    def simple_query_matches(spark, sf):
        # negation wraps as [MUST_NOT x, SHOULD MatchAll]
        from lucene_7_x_9_x_spark.plans.simple_parser import parse_simple
        return _match_ids(spark, sf, parse_simple("join + -window"))

    def unicode_term_top10(spark, sf):
        # UAX#29-class Unicode analysis end to end (StandardTokenizer
        # token types): BM25 top-10 over a CJK + kana + accented-Latin
        # corpus where ideographs tokenize one char per token
        s = _get_searcher_unicode(spark, sf)
        r = s.search(Q.BooleanQuery([(O.SHOULD, T("搜")),
                                     (O.SHOULD, T("café")),
                                     (O.SHOULD, T("カタカナ"))]), 10)
        return r.select(F.col("rank").cast("long").alias("rank"),
                        F.col("doc_id").cast("long").alias("doc_id"))

    def unicode_phrase(spark, sf):
        # per-ideograph positions: the phrase 搜索 = adjacent single-char
        # tokens (how CJK phrase search works over a UAX#29 index)
        s = _get_searcher_unicode(spark, sf)
        m = s.matches(Q.PhraseQuery(["搜", "索"]))
        dm = s.index.docmap().select(
            "segment", "docid", F.col("doc_id").cast("long").alias("doc_id"))
        return m.join(dm, ["segment", "docid"]).select("doc_id")

    def knn_filtered_top10(spark, sf):
        # Searcher-level KNN composable with an engine filter
        # (KnnFloatVectorQuery + TieBreakDocIdKNNQuery capability): top-10
        # by cosine to vec_id 0's embedding among docs whose text matches
        # TermQuery('filter'); ties (cosine desc, id asc)
        s = _get_searcher(spark, sf)
        emb = _emb(spark, sf)
        qv = [float(x) for x in
              emb.where(F.col("vec_id") == 0).first()["embedding"]]
        r = s.knn(qv, 10, filter=T("filter"), vectors=emb,
                  vec_id_col="vec_id")
        return r.select(F.col("rank").cast("long").alias("rank"),
                        F.col("vec_id").cast("long").alias("vec_id"))

    def _sparse_emb(spark, sf):
        # sparse vector field (TestSparseKNN demos): 1 in 5 docs LACKS a
        # vector — masked to NULL, double-cast like the other ANN entries
        return _emb(spark, sf).withColumn(
            "embedding",
            F.when(F.col("vec_id") % 5 != 0,
                   F.transform("embedding", lambda x: x.cast("double"))))

    def sparse_knn_top10(spark, sf):
        # KNN over a sparse vector field: null rows are not candidates
        # (IsNotNull pushed to the scan); ties (cosine desc, id asc)
        s = _get_searcher(spark, sf)
        qv = [float(x) for x in
              _emb(spark, sf).where(F.col("vec_id") == 1)
              .first()["embedding"]]
        r = s.knn(qv, 10, vectors=_sparse_emb(spark, sf),
                  vec_id_col="vec_id")
        return r.select(F.col("rank").cast("long").alias("rank"),
                        F.col("vec_id").cast("long").alias("vec_id"))

    def vector_exists_count(spark, sf):
        # count(KnnVectorFieldExistsQuery): docs that carry a vector
        s = _get_searcher(spark, sf)
        return (s.vector_exists_count(_sparse_emb(spark, sf), "vec_id")
                .select(F.col("n_vectors").cast("long")))

    def hybrid_rrf_top10(spark, sf):
        # Reciprocal Rank Fusion hybrid (TopDocs.rrf, Lucene 9.8): BM25
        # top-50 for filter OR join fused with the cosine top-50 around
        # vec_id 0's embedding; score = sum of 1/(60+rank), ties id asc
        s = _get_searcher(spark, sf)
        emb = _emb(spark, sf).withColumn(
            "embedding", F.transform("embedding",
                                     lambda x: x.cast("double")))
        qv = [float(x) for x in
              emb.where(F.col("vec_id") == 0).first()["embedding"]]
        r = s.hybrid_rrf(Q.BooleanQuery([(O.SHOULD, T("filter")),
                                         (O.SHOULD, T("join"))]),
                         qv, emb, k=10, n_each=50)
        return r.select(F.col("rank").cast("long"),
                        F.col("doc_id").cast("long"),
                        F.col("lex_rank").cast("long"),
                        F.col("vec_rank").cast("long"))

    def intervals_scored_top10(spark, sf):
        # scored IntervalQuery: sloppyFreq = f32 sum of 1/(1+gaps) over
        # the doc's MINIMAL intervals (a pair (a, next_b) is minimal only
        # when no other 'key' position lies between a and next_b), scored
        # with the summed-idf span weight. max_gaps=1 keeps the weights
        # dyadic (1, 1/2) so the f32 accumulation equals the oracle's f64
        from lucene_7_x_9_x_spark.plans.query import (IntervalOr,
                                                      IntervalOrdered,
                                                      IntervalQuery,
                                                      IntervalTerm)
        tree = IntervalOrdered(
            (IntervalTerm("key"),
             IntervalOr((IntervalTerm("hash"), IntervalTerm("row")))),
            max_gaps=1)
        return _topk_ids(spark, sf, IntervalQuery(tree), 10)

    def stem_term_top10(spark, sf):
        # Porter stemming analyzer (EnglishAnalyzer/PorterStemFilter):
        # BM25 top-10 over a stemmed index; query terms are the stemmed
        # forms (run/connect/relat), matching runner/running/connections/
        # relational... in the inflected corpus
        s = _get_searcher_stem(spark, sf)
        r = s.search(Q.BooleanQuery([(O.SHOULD, T("run")),
                                     (O.SHOULD, T("connect")),
                                     (O.SHOULD, T("relat"))]), 10)
        return r.select(F.col("rank").cast("long").alias("rank"),
                        F.col("doc_id").cast("long").alias("doc_id"))

    def unicode_numeric_top10(spark, sf):
        # UAX#29 NUM fidelity: version strings, dotted IPs and
        # comma-grouped numbers are SINGLE tokens (StandardTokenizer NUM
        # type, MidNum); BM25 top-10 over the version/IP corpus
        s = _get_searcher_num(spark, sf)
        r = s.search(Q.BooleanQuery([(O.SHOULD, T("2.4.1")),
                                     (O.SHOULD, T("192.168.0.1")),
                                     (O.SHOULD, T("3.14"))]), 10)
        return r.select(F.col("rank").cast("long").alias("rank"),
                        F.col("doc_id").cast("long").alias("doc_id"))

    def synonym_analyzer_top10(spark, sf):
        # index-time analyzer synonyms (SynonymGraphFilter posIncr-0
        # injection): quick/rapid/swift inject 'fast'; BM25 top-10 for
        # [fast, fox] sees the augmented tf/df while dl/norms and
        # collection stats stay those of the original text
        s = _get_searcher_syn(spark, sf)
        r = s.search(Q.BooleanQuery([(O.SHOULD, T("fast")),
                                     (O.SHOULD, T("fox"))]), 10)
        return r.select(F.col("rank").cast("long").alias("rank"),
                        F.col("doc_id").cast("long").alias("doc_id"))

    def payload_sum_top10(spark, sf):
        # PayloadScoreQuery(sum) over a DelimitedPayloadTokenFilter index
        # (.pay stream): score = float32 sum of 'quality' payloads per
        # doc — integral by corpus construction, so the cast is exact
        s = _get_searcher_pay(spark, sf)
        r = s.payload_score("quality", "sum", 10)
        return r.select(F.col("rank").cast("long").alias("rank"),
                        F.col("doc_id").cast("long").alias("doc_id"),
                        F.col("score").cast("long").alias("score"))

    def unicode_emoji_top10(spark, sf):
        # UAX#29 EMOJI token type: flag pairs, skin-tone sequences and
        # ZWJ joins are single index terms; BM25 top-10 over emoji terms
        s = _get_searcher_emoji(spark, sf)
        r = s.search(Q.BooleanQuery([(O.SHOULD, T("🍕")),
                                     (O.SHOULD, T("🇺🇸")),
                                     (O.SHOULD, T("👍🏻"))]), 10)
        return r.select(F.col("rank").cast("long").alias("rank"),
                        F.col("doc_id").cast("long").alias("doc_id"))

    def ascii_fold_top10(spark, sf):
        # ASCIIFoldingFilter chain stage: the index folds café/Zürich/
        # straße to ASCII at build time, so the UNACCENTED query terms
        # match; BM25 top-10 (oracle folds with the same shared tables)
        s = _get_searcher_fold(spark, sf)
        r = s.search(Q.BooleanQuery([(O.SHOULD, T("cafe")),
                                     (O.SHOULD, T("zurich")),
                                     (O.SHOULD, T("strasse"))]), 10)
        return r.select(F.col("rank").cast("long").alias("rank"),
                        F.col("doc_id").cast("long").alias("doc_id"))

    def edge_ngram_prefix_top10(spark, sf):
        # EdgeNGramTokenFilter(2,4) search-as-you-type index: typed
        # prefixes are literal terms; BM25 top-10 for three prefixes
        # (tf = count of tokens starting with the gram; dl/norms count
        # unigrams only)
        s = _get_searcher_edgegram(spark, sf)
        r = s.search(Q.BooleanQuery([(O.SHOULD, T("sca")),
                                     (O.SHOULD, T("col")),
                                     (O.SHOULD, T("qu"))]), 10)
        return r.select(F.col("rank").cast("long").alias("rank"),
                        F.col("doc_id").cast("long").alias("doc_id"))

    def ngram_infix_top10(spark, sf):
        # NGramTokenFilter(3,3) infix-match index: every length-3
        # substring is a term; BM25 top-10 for three interior grams
        s = _get_searcher_ngram(spark, sf)
        r = s.search(Q.BooleanQuery([(O.SHOULD, T("ast")),
                                     (O.SHOULD, T("olu")),
                                     (O.SHOULD, T("rea"))]), 10)
        return r.select(F.col("rank").cast("long").alias("rank"),
                        F.col("doc_id").cast("long").alias("doc_id"))

    def shingle_term_top10(spark, sf):
        # ShingleFilter: bigram tokens emitted alongside unigrams at the
        # first member's position; dl/norms count unigrams only. BM25
        # top-10 for two bigram terms over the shingled documents index
        s = _get_searcher_shingle(spark, sf)
        r = s.search(Q.BooleanQuery([(O.SHOULD, T("the fast")),
                                     (O.SHOULD, T("of the"))]), 10)
        return r.select(F.col("rank").cast("long").alias("rank"),
                        F.col("doc_id").cast("long").alias("doc_id"))

    def facet_ssdv(spark, sf):
        # SortedSetDocValues-style multi-valued facets: each matching doc
        # contributes each DISTINCT value of its [lang, source] value set
        from lucene_7_x_9_x_spark.functions.facets import ssdv_facet_counts
        s = _get_searcher(spark, sf)
        m = s.matches(T("filter"))
        dm = s.index.docmap().select(
            "segment", "docid", F.col("doc_id").cast("long").alias("doc_id"))
        attrs = (dm.join(
            _docs(spark, sf).select(F.col("doc_id").cast("long").alias(
                "doc_id"), "source", "lang"), "doc_id")
            .withColumn("vals", F.array_distinct(F.array("lang", "source"))))
        return (ssdv_facet_counts(m, attrs, "vals", 8)
                .select(F.col("rank").cast("long").alias("rank"), "label",
                        F.col("cnt").cast("long").alias("cnt")))

    def facet_taxonomy(spark, sf):
        # hierarchical taxonomy faceting (facet/taxonomy
        # getTopChildren): depth 0 = top sources among matches of
        # 'filter'; depth 1 = top langs under source 'src3'
        from lucene_7_x_9_x_spark.functions.facets import taxonomy_children
        s = _get_searcher(spark, sf)
        m = s.matches(T("filter"))
        dm = s.index.docmap().select(
            "segment", "docid", F.col("doc_id").cast("long").alias("doc_id"))
        attrs = dm.join(
            _docs(spark, sf).select(F.col("doc_id").cast("long").alias(
                "doc_id"), "source", "lang"), "doc_id")
        l0 = (taxonomy_children(m, attrs, ["source", "lang"], (), 5)
              .select(F.lit(0).cast("long").alias("depth"),
                      F.col("rank").cast("long").alias("rank"),
                      "label", F.col("cnt").cast("long").alias("cnt")))
        l1 = (taxonomy_children(m, attrs, ["source", "lang"], ("src3",), 5)
              .select(F.lit(1).cast("long").alias("depth"),
                      F.col("rank").cast("long").alias("rank"),
                      "label", F.col("cnt").cast("long").alias("cnt")))
        return l0.unionByName(l1)

    def intervals_ordered(spark, sf):
        # intervals module (minimal-interval semantics,
        # queries/intervals/): ordered(key, or(hash, row)) filtered to
        # gaps <= 4 — a nested source the classic span queries cannot
        # express (or INSIDE ordered)
        from lucene_7_x_9_x_spark.plans.query import (IntervalOr,
                                                      IntervalOrdered,
                                                      IntervalQuery,
                                                      IntervalTerm)
        tree = IntervalOrdered(
            (IntervalTerm("key"),
             IntervalOr((IntervalTerm("hash"), IntervalTerm("row")))),
            max_gaps=4)
        return _match_ids(spark, sf, IntervalQuery(tree))

    def surround_query(spark, sf):
        # queryparser/surround: AND(2N(filter, join), NOT(window)) — an
        # unordered within-2 proximity pair composed with boolean NOT,
        # parsed by plans/surround.py onto the intervals module
        from lucene_7_x_9_x_spark.plans.surround import parse_surround
        return _match_ids(spark, sf,
                          parse_surround("AND(2N(filter, join), "
                                         "NOT(window))"))

    def span_near(spark, sf):
        # ordered span-near (NearSpansOrdered): key ... hash ... row with
        # total gap <= 6
        return _match_ids(spark, sf, Q.SpanNearQuery(
            ["key", "hash", "row"], slop=6))

    def span_near_unordered(spark, sf):
        # unordered span-near (NearSpansUnordered): one occurrence of each
        # of key/hash/row in any order, window width <= 4
        return _match_ids(spark, sf, Q.SpanNearQuery(
            ["key", "hash", "row"], slop=4, in_order=False))

    def spell_correct(spark, sf):
        # DirectSpellChecker: corrections for the misspelling 'fitler'
        # from the index's own dictionary (OSA distance, score =
        # 1 - d/min(len), ordered score desc, df desc, term asc).
        # max_edits=1 because OSA == DuckDB's unrestricted
        # damerau_levenshtein ONLY at distance <= 1 — at 2 the metrics
        # can disagree, which would be an oracle divergence
        s = _get_searcher(spark, sf)
        rows = s.spell_correct("fitler", num_sug=5, max_edits=1)
        data = [(i + 1, r["term"], r["doc_freq"])
                for i, r in enumerate(rows)]
        return spark.createDataFrame(
            data, "rank long, term string, doc_freq long")

    def block_join_top10(spark, sf):
        # ToParentBlockJoinQuery (join module): children matching 'filter'
        # roll up to parent doc_id DIV 10 with ScoreMode.Total
        s = _get_searcher(spark, sf)
        r = s.to_parent_join(T("filter"),
                             F.expr("doc_id DIV 10"), "total", 10)
        return r.select(F.col("rank").cast("long"),
                        F.col("parent").cast("long"),
                        F.col("child_hits").cast("long"))

    def percolate(spark, sf):
        # monitor module (reverse search): registered queries vs the
        # document stream; one row per (query_id, matching doc)
        from lucene_7_x_9_x_spark.streaming.monitor import percolate as P
        qs = {
            "q_term": T("filter"),
            "q_conj": Q.BooleanQuery([(O.MUST, T("group")),
                                      (O.MUST, T("query"))]),
            "q_phrase": Q.PhraseQuery(["the", "fast"]),
            "q_not": Q.BooleanQuery([(O.MUST, Q.MatchAllDocsQuery()),
                                     (O.MUST_NOT, T("the"))]),
        }
        return P(_docs(spark, sf), qs).select(
            "query_id", F.col("doc_id").cast("long"))

    def percolate_indexed(spark, sf):
        # the million-query percolation shape: registered queries as TERM
        # TABLES, candidates from a relational presearcher join, per-doc
        # verify — same semantics as `percolate`, nothing broadcast
        from lucene_7_x_9_x_spark.streaming.monitor import (
            percolate_indexed as PI, register_queries)
        qs = {
            "q_term": T("filter"),
            "q_conj": Q.BooleanQuery([(O.MUST, T("group")),
                                      (O.MUST, T("query"))]),
            "q_phrase": Q.PhraseQuery(["the", "fast"]),
            "q_not": Q.BooleanQuery([(O.MUST, Q.MatchAllDocsQuery()),
                                     (O.MUST_NOT, T("the"))]),
        }
        qt, qd, ma = register_queries(spark, qs)
        return PI(_docs(spark, sf), qt, qd, ma).select(
            "query_id", F.col("doc_id").cast("long"))

    def function_score_top10(spark, sf):
        # FunctionScoreQuery.boostByValue: BM25 score of 'filter' docs
        # multiplied by the stored dl docvalue
        s = _get_searcher(spark, sf)
        r = s.function_score(Q.TermQuery("filter"), value_col="dl",
                             mode="multiply", k=10)
        return r.select(F.col("rank").cast("long"),
                        F.col("doc_id").cast("long"))

    def expr_score_top10(spark, sf):
        # Lucene expressions module (JavascriptCompiler + SimpleBindings
        # via FunctionScoreQuery): compiled arithmetic over _score and
        # the dl docvalue. The SAME compiler emits the oracle's SQL —
        # one parse tree, one operation order, both engines.
        s = _get_searcher(spark, sf)
        r = s.expression_score(Q.TermQuery("filter"), _EXPR_SRC, k=10)
        return r.select(F.col("rank").cast("long"),
                        F.col("doc_id").cast("long"))

    def join_query_top10(spark, sf):
        # JoinUtil.createJoinQuery: from-side = docs matching 'filter'
        # (BM25-scored), join field = the stored dl docvalue, ScoreMode
        # Max; to-side = every doc sharing a join value, scored by its
        # value's aggregate
        s = _get_searcher(spark, sf)
        r = s.join_query(Q.TermQuery("filter"), "dl", score_mode="max",
                         k=10)
        return r.select(F.col("rank").cast("long"),
                        F.col("doc_id").cast("long"),
                        F.col("join_value").cast("long"))

    def span_or_top10(spark, sf):
        # SpanOrQuery: union of term spans; freq = total occurrences,
        # weight = summed idfs (vs SynonymQuery's max-df pseudo-term)
        return _topk_ids(spark, sf, Q.SpanOrQuery(("merge", "stream")), 10)

    def span_first_top10(spark, sf):
        # SpanFirstQuery: occurrences among the first 20 positions;
        # freq = qualifying count (integer -> bit-safe scored oracle)
        return _topk_ids(spark, sf, Q.SpanFirstQuery("filter", 20), 10)

    def index_sorted_topk(spark, sf):
        # index-time sort (setIndexSort): docid order == (n_chars, doc_id),
        # so the sorted top-k reads only the first k docids per segment
        s = _get_searcher_sorted(spark, sf)
        r = s.sorted_topk(10)
        return r.select(F.col("rank").cast("long"),
                        F.col("doc_id").cast("long"),
                        F.col("n_chars").cast("long"))

    def span_near_scored_top10(spark, sf):
        # SpanScorer sloppyFreq scoring: slop=1 makes every span weight
        # dyadic (1 or 1/2), so the float32 freq accumulation is exactly
        # the oracle's double sum — a bit-safe scored gate
        return _topk_ids(spark, sf,
                         Q.SpanNearQuery(("key", "hash"), slop=1), 10)

    def bm25_top10(spark, sf):
        return _topk_ids(spark, sf, Q.BooleanQuery(
            [(O.SHOULD, T("filter")), (O.SHOULD, T("join")),
             (O.SHOULD, T("window"))]), 10)

    def bm25_conj_top10(spark, sf):
        return _topk_ids(spark, sf, Q.BooleanQuery(
            [(O.MUST, T("group")), (O.MUST, T("query"))]), 10)

    def bm25_synonym_top10(spark, sf):
        return _topk_ids(spark, sf, Q.SynonymQuery(["merge", "stream"]), 10)

    def lmdirichlet_top10(spark, sf):
        # third similarity: Dirichlet-smoothed language model (mu=2000)
        s = _get_searcher(spark, sf, similarity="lmdirichlet")
        r = s.search(Q.BooleanQuery(
            [(O.SHOULD, T("filter")), (O.SHOULD, T("join")),
             (O.SHOULD, T("window"))]), 10)
        return r.select(F.col("rank").cast("long"),
                        F.col("doc_id").cast("long"))

    def lmjm_top10(spark, sf):
        # fourth similarity model: Jelinek-Mercer smoothed LM (lambda=0.1)
        s = _get_searcher(spark, sf, similarity="lmjelinekmercer")
        r = s.search(Q.BooleanQuery(
            [(O.SHOULD, T("filter")), (O.SHOULD, T("join")),
             (O.SHOULD, T("window"))]), 10)
        return r.select(F.col("rank").cast("long"),
                        F.col("doc_id").cast("long"))

    def dfr_top10(spark, sf):
        # fifth scoring model: DFR I(n)L2 (BasicModelIn + AfterEffectL +
        # NormalizationH2)
        s = _get_searcher(spark, sf, similarity="dfr_inl2")
        r = s.search(Q.BooleanQuery(
            [(O.SHOULD, T("filter")), (O.SHOULD, T("join")),
             (O.SHOULD, T("window"))]), 10)
        return r.select(F.col("rank").cast("long"),
                        F.col("doc_id").cast("long"))

    def dfi_top10(spark, sf):
        # ninth scoring model: divergence from independence (chi-squared)
        s = _get_searcher(spark, sf, similarity="dfi_chisquared")
        r = s.search(Q.BooleanQuery(
            [(O.SHOULD, T("filter")), (O.SHOULD, T("join")),
             (O.SHOULD, T("window"))]), 10)
        return r.select(F.col("rank").cast("long"),
                        F.col("doc_id").cast("long"))

    def ib_top10(spark, sf):
        # seventh scoring model: information-based IB LL-DF-H2
        # (DistributionLL + LambdaDF + NormalizationH2)
        s = _get_searcher(spark, sf, similarity="ib_ll")
        r = s.search(Q.BooleanQuery(
            [(O.SHOULD, T("filter")), (O.SHOULD, T("join")),
             (O.SHOULD, T("window"))]), 10)
        return r.select(F.col("rank").cast("long"),
                        F.col("doc_id").cast("long"))

    def axiomatic_top10(spark, sf):
        # eighth scoring model: Axiomatic F2EXP (s=0.25, k=0.35)
        s = _get_searcher(spark, sf, similarity="axiomatic_f2exp")
        r = s.search(Q.BooleanQuery(
            [(O.SHOULD, T("filter")), (O.SHOULD, T("join")),
             (O.SHOULD, T("window"))]), 10)
        return r.select(F.col("rank").cast("long"),
                        F.col("doc_id").cast("long"))

    def classic_top10(spark, sf):
        # pluggable similarity: ClassicSimilarity (TF-IDF) over the same
        # index/norm bytes (IndexSearcher.setSimilarity analogue)
        s = _get_searcher(spark, sf, similarity="classic")
        r = s.search(Q.BooleanQuery(
            [(O.SHOULD, T("filter")), (O.SHOULD, T("join")),
             (O.SHOULD, T("window"))]), 10)
        return r.select(F.col("rank").cast("long"),
                        F.col("doc_id").cast("long"))

    def bm25_dismax_top10(spark, sf):
        return _topk_ids(spark, sf, Q.DisjunctionMaxQuery(
            [T("filter"), T("window")], tie_breaker=0.0), 10)

    def bm25_phrase_top10(spark, sf):
        return _topk_ids(spark, sf, Q.PhraseQuery(["the", "fast"]), 10)

    def wildcard_phrase_top10(spark, sf):
        # PhraseWildcardQuery / ComplexPhraseQueryParser: '"s* scan"' —
        # the wildcard slot expands against the terms dictionary into a
        # MultiPhraseQuery slot (6 terms at sf0.01); weight = idf of every
        # expanded term + idf(scan)
        from lucene_7_x_9_x_spark.plans.parser import parse
        return _topk_ids(spark, sf, parse('"s* scan"'), 10)

    def multi_phrase_top10(spark, sf):
        # MultiPhraseQuery: "[fast|slow] scan" — slot 0 is a positional
        # UNION of two terms; weight = idf(fast)+idf(slow)+idf(scan)
        # (every slot-term occurrence with df>0, MultiPhraseQuery.java:229)
        return _topk_ids(spark, sf, Q.MultiPhraseQuery(
            (("fast", "slow"), ("scan",))), 10)

    def field_term(spark, sf):
        # field-scoped TermQuery over the "head" extra field
        s = _get_searcher_mf(spark, sf)
        m = s.matches(T("fast", field="head"))
        dm = s.index.docmap().select(
            "segment", "docid", F.col("doc_id").cast("long").alias("doc_id"))
        return m.join(dm, ["segment", "docid"]).select("doc_id")

    def multi_field_bool(spark, sf):
        # cross-field BM25 disjunction: per-field df/doc_count/avgdl/norms
        s = _get_searcher_mf(spark, sf)
        r = s.search(Q.BooleanQuery(
            [(O.SHOULD, T("filter")), (O.SHOULD, T("fast", field="head")),
             (O.SHOULD, T("py", field="lang"))]), 10)
        return r.select(F.col("rank").cast("long"),
                        F.col("doc_id").cast("long"))

    def parse_field_query(spark, sf):
        from lucene_7_x_9_x_spark.plans.parser import parse
        s = _get_searcher_mf(spark, sf)
        m = s.matches(parse("head:fast AND lang:de"))
        dm = s.index.docmap().select(
            "segment", "docid", F.col("doc_id").cast("long").alias("doc_id"))
        return m.join(dm, ["segment", "docid"]).select("doc_id")

    def mlt_top10(spark, sf):
        # MoreLikeThis: query built from doc 7's text (tf>=2, df>=5,
        # top-25 interesting terms), searched with BM25
        s = _get_searcher(spark, sf)
        text = (_docs(spark, sf).where(F.col("doc_id") == 7)
                .select("text").collect()[0][0])
        q = s.more_like_this(text)
        return _topk_ids(spark, sf, q, 10)

    def classify_nb(spark, sf):
        # SimpleNaiveBayesClassifier, batch form: held-out docs
        # (doc_id%3==0) classified against the labeled rest (class =
        # lang); add-1 smoothing, den = avgUniqueTerms*count_c + N
        from lucene_7_x_9_x_spark.functions.classify import \
            naive_bayes_classify
        d = _docs(spark, sf)
        return naive_bayes_classify(
            d.where(F.col("doc_id") % 3 != 0),
            d.where(F.col("doc_id") % 3 == 0),
            "doc_id", "text", "lang") \
            .select(F.col("doc_id").cast("long"), "label")

    def classify_knn_top(spark, sf):
        # KNearestNeighborClassifier: MLT top-10 neighbors of doc 7's
        # text vote boost-weighted (score/maxScore sums)
        from lucene_7_x_9_x_spark.functions.classify import knn_classify
        s = _get_searcher(spark, sf)
        text = (_docs(spark, sf).where(F.col("doc_id") == 7)
                .select("text").collect()[0][0])
        return (knn_classify(s, text, _docs(spark, sf), "doc_id", "lang",
                             k=10)
                .select(F.col("rank").cast("long"), "label",
                        F.col("n_votes").cast("long")))

    def suggest(spark, sf):
        # prefix suggester over the term dictionary (docFreq-weighted)
        s = _get_searcher(spark, sf)
        return (s.suggest("s", 10)
                .select(F.col("rank").cast("long"), "term",
                        F.col("weight").cast("long")))

    def freetext_suggest_next(spark, sf):
        # FreeTextSuggester (stupid-backoff n-gram LM): trailing space
        # upgrades the grams — "the fast " asks trigram completions of
        # context (the, fast), backing off 0.4x to bigrams of (fast,)
        from lucene_7_x_9_x_spark.functions.freetext import (
            build_freetext_model, freetext_suggest)
        model = build_freetext_model(_docs(spark, sf), "text", grams=3)
        return freetext_suggest(model, "the fast ", num=10, grams=3)

    def cjk_bigram_top10(spark, sf):
        # CJKAnalyzer role: unspaced CJK indexes as overlapping
        # ideograph bigrams; query "中文" + "索引" analyzed through the
        # same chain; BM25 top-10
        s = _get_searcher_cjk(spark, sf)
        r = s.search(s.text_query("中文 索引"), 10)
        return r.select(F.col("rank").cast("long").alias("rank"),
                        F.col("doc_id").cast("long").alias("doc_id"))

    def phonetic_term_top10(spark, sf):
        # PhoneticFilter(Soundex): query "smith ashcroft" analyzed
        # through the same chain -> codes s530/a261, matching
        # smyth/ashcraft spelling variants; BM25 top-10
        s = _get_searcher_phonetic(spark, sf)
        r = s.search(s.text_query("smith ashcroft"), 10)
        return r.select(F.col("rank").cast("long").alias("rank"),
                        F.col("doc_id").cast("long").alias("doc_id"))

    def classify_knn_fuzzy(spark, sf):
        # KNearestFuzzyClassifier: typo'd text, every analyzed term
        # fuzzified (maxEdits=1, prefix 2 exact), neighbors vote by lang
        from lucene_7_x_9_x_spark.functions.classify import \
            knn_classify_fuzzy
        s = _get_searcher(spark, sf)
        return (knn_classify_fuzzy(s, "fitler joinn winodw",
                                   _docs(spark, sf), "doc_id", "lang",
                                   k=10)
                .select(F.col("rank").cast("long"), "label",
                        F.col("n_votes").cast("long")))

    def fuzzy_suggest(spark, sf):
        # FuzzySuggester: typo-tolerant completion of "sacn" (adjacent
        # transposition of "scan"); first char exact, maxEdits=1
        s = _get_searcher(spark, sf)
        return (s.suggest_fuzzy("sacn", 10)
                .select(F.col("rank").cast("long"), "term",
                        F.col("weight").cast("long")))

    def grouped_topk(spark, sf):
        # grouping module TopGroups: 2 best BM25 hits per lang for a
        # disjunctive query
        from lucene_7_x_9_x_spark.functions.facets import top_hits_per_group
        s = _get_searcher(spark, sf)
        m = s.matches(Q.BooleanQuery(
            [(O.SHOULD, T("filter")), (O.SHOULD, T("join"))]))
        dm = s.index.docmap().select(
            "segment", "docid", F.col("doc_id").cast("long").alias("doc_id"))
        docs = _docs(spark, sf).select(F.col("doc_id").cast("long"), "lang")
        meta = dm.join(docs, "doc_id")
        out = top_hits_per_group(m, meta.select("segment", "docid",
                                                "doc_id", "lang"),
                                 ["segment", "docid"], "lang", 2)
        dm2 = meta.select("segment", "docid", "doc_id")
        return (out.join(dm2, ["segment", "docid"])
                .select(F.col("grp").alias("lang"),
                        F.col("rank").cast("long"),
                        F.col("doc_id").cast("long")))

    def diversified_topk(spark, sf):
        # DiversifiedTopDocsCollector: global top-5 with at most 2 hits
        # per lang (demo lucene/collector/DiversityCollector.java)
        from lucene_7_x_9_x_spark.functions.facets import diversified_topk
        s = _get_searcher(spark, sf)
        m = s.matches(Q.BooleanQuery(
            [(O.SHOULD, T("filter")), (O.SHOULD, T("join"))]))
        dm = s.index.docmap().select(
            "segment", "docid", F.col("doc_id").cast("long").alias("doc_id"))
        docs = _docs(spark, sf).select(F.col("doc_id").cast("long"), "lang")
        meta = dm.join(docs, "doc_id")
        out = diversified_topk(m, meta.select("segment", "docid",
                                              "doc_id", "lang"),
                               ["segment", "docid"], "lang", 5,
                               max_per_key=2)
        return (out.join(meta.select("segment", "docid", "doc_id"),
                         ["segment", "docid"])
                .select(F.col("rank").cast("long"),
                        F.col("key").alias("lang"),
                        F.col("doc_id").cast("long")))

    def distinct_values_per_group(spark, sf):
        # DistinctValuesCollector: per lang-group, the distinct source
        # values among docs matching 'filter'
        from lucene_7_x_9_x_spark.functions.facets import distinct_values
        s = _get_searcher(spark, sf)
        m = s.matches(T("filter"))
        dm = s.index.docmap().select(
            "segment", "docid", F.col("doc_id").cast("long").alias("doc_id"))
        docs = _docs(spark, sf).select(F.col("doc_id").cast("long"),
                                       "lang", "source")
        meta = dm.join(docs, "doc_id")
        out = distinct_values(m, meta.select("segment", "docid", "lang",
                                             "source"), "lang", "source")
        return out.select(F.col("grp").alias("lang"),
                          F.array_join("values", ",").alias("sources"),
                          F.col("n_distinct").cast("long"))

    def facet_lang(spark, sf):
        ids = _match_ids(spark, sf, T("filter"))
        docs = _docs(spark, sf).select(F.col("doc_id").cast("long"), "lang")
        return (docs.join(ids, "doc_id").groupBy("lang")
                .agg(F.count("*").cast("long").alias("cnt")))

    def facet_drill_sideways(spark, sf):
        # DrillSideways: drill-down lang=en AND source=src1; each dim's
        # sidebar counts exclude its OWN filter but keep the other's
        from lucene_7_x_9_x_spark.functions.facets import drill_sideways
        s = _get_searcher(spark, sf)
        m = s.matches(T("filter"))
        docvals = (s.index.docmap()
                   .select("segment", "docid",
                           F.col("doc_id").cast("long").alias("doc_id"))
                   .join(_docs(spark, sf)
                         .select(F.col("doc_id").cast("long"),
                                 "lang", "source"), "doc_id"))
        return drill_sideways(m, docvals,
                              {"lang": "en", "source": "src1"})

    def facet_range(spark, sf):
        # LongRangeFacetCounts analogue: dl histogram over matching docs
        from lucene_7_x_9_x_spark.functions.facets import range_facets
        s = _get_searcher(spark, sf)
        m = s.matches(T("filter"))
        return range_facets(m, s.index.docmap(), "dl",
                            [("short", 0, 20), ("medium", 20, 60),
                             ("long", 60, 10**9)])

    def collection_stats(spark, sf):
        s = _get_searcher(spark, sf)
        st = s.index.stats
        return spark.createDataFrame(
            [(int(st["doc_count"]), int(st["sum_total_term_freq"]),
              int(st["n_terms"]))],
            "doc_count long, sum_ttf long, n_terms long")

    def norms(spark, sf):
        s = _get_searcher(spark, sf)
        dm = s.index.docmap()
        # engine-stored dl and norm byte; decode norm byte -> quantized dl
        # with a vectorized pandas UDF (distributed — never materializes
        # the docmap on the driver)
        from pyspark.sql.functions import pandas_udf

        def _qdl(n):
            import numpy as np
            import pandas as pd
            from lucene_7_x_9_x_spark.functions.smallfloat import \
                byte4_to_int
            return pd.Series(byte4_to_int(n.to_numpy(np.int64)))

        qdl_of_norm = pandas_udf(_qdl, "long")

        return dm.select(F.col("doc_id").cast("long"),
                         F.col("dl").cast("long"),
                         qdl_of_norm("norm").alias("qdl"))

    def term_stats(spark, sf):
        s = _get_searcher(spark, sf)
        return (s.index.terms()
                .where(F.col("term").isin(["filter", "join", "window",
                                           "group", "query"]))
                .select("term", F.col("doc_freq").cast("long"),
                        F.col("total_term_freq").cast("long")))

    # ---- training-data pipeline ops ------------------------------------
    def dedup_exact(spark, sf):
        from lucene_7_x_9_x_spark.pipeline.dedup import exact_dup_groups
        return (exact_dup_groups(_docs(spark, sf), "doc_id", "text")
                .select(F.col("doc_id").cast("long"), "sha",
                        F.col("dup_count").cast("long")))

    def dedup_jaccard(spark, sf):
        from lucene_7_x_9_x_spark.pipeline.dedup import ngram_jaccard_pairs
        return (ngram_jaccard_pairs(_docs(spark, sf), "doc_id", "text",
                                    n=3, threshold=0.5)
                .select(F.col("id_a").cast("long"),
                        F.col("id_b").cast("long")))

    def dedup_minhash_lsh(spark, sf):
        from lucene_7_x_9_x_spark.pipeline.dedup import minhash_lsh_pairs
        return (minhash_lsh_pairs(_docs(spark, sf), "doc_id", "text",
                                  threshold=0.5)
                .select(F.col("id_a").cast("long"),
                        F.col("id_b").cast("long")))

    def dedup_simhash(spark, sf):
        from lucene_7_x_9_x_spark.pipeline.dedup import simhash64
        return simhash64(_docs(spark, sf), "doc_id", "text").select(
            F.col("doc_id").cast("long"), "simhash")

    def dedup_embedding(spark, sf):
        from lucene_7_x_9_x_spark.pipeline.dedup import \
            embedding_neardup_pairs
        emb = _emb(spark, sf).withColumn(
            "embedding", F.transform("embedding",
                                     lambda x: x.cast("double")))
        return (embedding_neardup_pairs(emb, dim=64)
                .select(F.col("id_a").cast("long"),
                        F.col("id_b").cast("long")))

    def decontaminate(spark, sf):
        # GPT-3/PaLM-style eval decontamination: training docs sharing a
        # 4-gram with the "benchmark" slice (doc_id % 97 == 0). The
        # bench n-gram set broadcasts; the training side never shuffles.
        # (n=4 at gate scale so the overlap set is non-trivial; real
        # deployments use 8-13 on web text)
        from lucene_7_x_9_x_spark.pipeline.decontam import \
            contaminated_docs
        d = _docs(spark, sf)
        bench = d.where(F.col("doc_id") % 97 == 0)
        train = d.where(F.col("doc_id") % 97 != 0)
        return (contaminated_docs(train, bench, "doc_id", "text",
                                  "doc_id", "text", n=4)
                .select(F.col("doc_id").cast("long"),
                        F.col("n_overlap_ngrams").cast("long"),
                        F.col("n_bench_docs").cast("long")))

    def sample_fraction(spark, sf):
        # deterministic (repartition-stable) Bernoulli sample: md5-hash
        # selection, pure scan filter — Spark's rand(seed) would change
        # the sample under repartitioning
        from lucene_7_x_9_x_spark.pipeline.sampling import \
            deterministic_sample
        return (deterministic_sample(_docs(spark, sf), "doc_id", 0.2,
                                     seed=7)
                .select(F.col("doc_id").cast("long")))

    def sample_mixture(spark, sf):
        # down-sample to a target domain mixture (training-recipe data
        # mixing): binding stratum (zh) kept whole, en/de thinned to
        # 50/20/30; es/fr dropped
        from lucene_7_x_9_x_spark.pipeline.sampling import mixture_sample
        return (mixture_sample(_docs(spark, sf), "doc_id", "lang",
                               {"en": 0.5, "de": 0.2, "zh": 0.3},
                               seed=11)
                .select(F.col("doc_id").cast("long"), "lang"))

    def dup_spans(spark, sf):
        # C4-style duplicate-span flagging: per doc, how many 8-token
        # windows are verbatim-shared with at least one other doc
        from lucene_7_x_9_x_spark.pipeline.decontam import duplicate_spans
        return (duplicate_spans(_docs(spark, sf), "doc_id", "text",
                                n=8, min_docs=2)
                .select(F.col("doc_id").cast("long"),
                        F.col("n_windows").cast("long"),
                        F.col("n_dup_windows").cast("long")))

    def dup_span_ranges(spark, sf):
        # span REMOVAL ranges (Lee et al. 2021 dedup at window
        # granularity): merged half-open token ranges covered by 8-token
        # windows shared with >= 1 other doc
        from lucene_7_x_9_x_spark.pipeline.decontam import (
            duplicate_span_ranges)
        return (duplicate_span_ranges(_docs(spark, sf), "doc_id", "text",
                                      n=8, min_docs=2)
                .select(F.col("doc_id").cast("long"),
                        F.col("span_start").cast("long"),
                        F.col("span_end").cast("long")))

    def _geo_df(spark, sf):
        # deterministic md5-derived coordinates over the documents table
        # (both engines compute the identical integers, then identical
        # double arithmetic): lat in [-80, 80), lon in [-170, 170)
        d = _docs(spark, sf).select("doc_id")
        h = F.md5(F.col("doc_id").cast("string"))
        lat = (F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
               % 16000) / 100.0 - 80.0
        lon = (F.conv(F.substring(h, 9, 8), 16, 10).cast("long")
               % 34000) / 100.0 - 170.0
        return d.withColumn("lat", lat).withColumn("lon", lon)

    def geo_box_ids(spark, sf):
        # LatLonPoint.newBoxQuery with the reference's quantized edge
        # rounding (ceil on minima, floor on maxima) — integer compares,
        # bit-exact in any engine
        from lucene_7_x_9_x_spark.functions.geo import geo_box
        return (geo_box(_geo_df(spark, sf), "lat", "lon",
                        -20.0, 35.0, -50.0, 60.0)
                .select(F.col("doc_id").cast("long")))

    def geo_distance_ids(spark, sf):
        # LatLonPoint.newDistanceQuery: bounding-box prune + exact
        # haversine refine over the quantized point
        from lucene_7_x_9_x_spark.functions.geo import geo_distance
        return (geo_distance(_geo_df(spark, sf), "lat", "lon",
                             10.0, 20.0, 3_000_000.0)
                .select(F.col("doc_id").cast("long")))

    def geo_nearest_top10(spark, sf):
        # distance sort (LatLonDocValuesField.newDistanceSort role):
        # nearest 10 docs to (10, 20), ties on doc_id
        from lucene_7_x_9_x_spark.functions.geo import geo_nearest
        r = geo_nearest(_geo_df(spark, sf), "lat", "lon",
                        10.0, 20.0, 10, ["doc_id"])
        return r.select(F.col("rank").cast("long"),
                        F.col("doc_id").cast("long"))

    def geo_polygon_ids(spark, sf):
        # LatLonPoint.newPolygonQuery: bbox prune (scan-pushed) + exact
        # crossing-parity refine; the SAME generated expression string
        # runs in Spark and DuckDB (bit-reproducible decisions)
        from lucene_7_x_9_x_spark.functions.geo import geo_polygon
        return (geo_polygon(_geo_df(spark, sf), "lat", "lon",
                            _POLYGON)
                .select(F.col("doc_id").cast("long")))

    def dedup_clusters(spark, sf):
        # transitive near-dup clusters over the minhash-LSH pairs
        # (large-star/small-star connected components) + the kept
        # representative per cluster — the dedup pipeline's last mile
        from lucene_7_x_9_x_spark.pipeline.dedup import (minhash_lsh_pairs,
                                                         neardup_clusters)
        docs = _docs(spark, sf)
        pairs = minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5)
        return (neardup_clusters(docs, pairs, "doc_id")
                .select(F.col("doc_id").cast("long"),
                        F.col("component").cast("long"),
                        F.col("keep").cast("long")))

    def ann_top10(spark, sf):
        from lucene_7_x_9_x_spark.pipeline.similarity import (
            cosine_topk_bruteforce)
        emb = _emb(spark, sf)
        qv = emb.where(F.col("vec_id") == 0).select("embedding").collect()
        qvec = [float(x) for x in qv[0][0]]
        ed = emb.withColumn("embedding", F.transform(
            "embedding", lambda x: x.cast("double")))
        return (cosine_topk_bruteforce(ed, qvec, "vec_id", "embedding", 10,
                                       exclude_id=0)
                .select(F.col("rank").cast("long"),
                        F.col("vec_id").cast("long")))

    def ann_lsh_top10(spark, sf):
        # routed through the ON-DISK bucket layout (lsh_write /
        # lsh_topk_from_disk): probed bucket ids become partition filters
        # so unprobed buckets' files are never opened — the 100 TB serving
        # shape (same results as the in-memory bucketing)
        from lucene_7_x_9_x_spark.pipeline.similarity import (
            hyperplane_bucket, lsh_topk_from_disk, lsh_write)
        emb = _emb(spark, sf)
        row = emb.where(F.col("vec_id") == 0).select("embedding").collect()
        qvec = [float(x) for x in row[0][0]]
        path = os.path.join(_CACHE_ROOT,
                            "lsh_" + os.path.basename(os.path.abspath(sf)))
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            ed = emb.where(F.col("vec_id") != 0).withColumn(
                "embedding",
                F.transform("embedding", lambda x: x.cast("double")))
            lsh_write(hyperplane_bucket(ed, dim=len(qvec)), path)
        return (lsh_topk_from_disk(spark, path, qvec, dim=len(qvec), k=10)
                .select(F.col("rank").cast("long"),
                        F.col("vec_id").cast("long")))

    def ann_pq_top10(spark, sf):
        # Product quantization with externally supplied codebooks (the
        # distributed operators under test are the encode pass and the
        # ADC lookup-table search; Lloyd training is driver-side
        # preprocessing, exercised in test_pq.py). Codebook for
        # subspace s = slices of embeddings vec_id 1..16; corpus =
        # vec_id >= 17; query = vec_id 0; m=4 x dsub=16, ksub=16.
        import numpy as np
        from lucene_7_x_9_x_spark.pipeline.similarity import (pq_adc_topk,
                                                              pq_encode)
        emb = _emb(spark, sf)
        rows = (emb.where(F.col("vec_id") <= 16)
                .orderBy("vec_id").collect())
        mat = np.array([[float(x) for x in r["embedding"]] for r in rows],
                       dtype=np.float64)
        qvec, brows = mat[0], mat[1:17]
        m_sub, dsub = 4, 16
        books = np.stack([brows[:, s * dsub:(s + 1) * dsub]
                          for s in range(m_sub)])
        corpus = (emb.where(F.col("vec_id") >= 17)
                  .withColumn("embedding",
                              F.transform("embedding",
                                          lambda x: x.cast("double"))))
        codes = pq_encode(corpus, books)
        return (pq_adc_topk(codes, books, [float(x) for x in qvec], k=10)
                .select(F.col("rank").cast("long"),
                        F.col("vec_id").cast("long")))

    def ann_ivfpq_top10(spark, sf):
        # IVF-PQ with exact re-rank (the FAISS IVFADC composition):
        # coarse cells = embeddings 1..8, PQ codebooks = subspace slices
        # of embeddings 1..16, corpus = vec_id >= 17, query = vec 0;
        # nprobe=2, ADC top-30 re-ranked exactly to cosine top-10
        import numpy as np
        from lucene_7_x_9_x_spark.pipeline.similarity import (ivf_assign,
                                                              ivfpq_topk,
                                                              pq_encode)
        emb = _emb(spark, sf)
        rows = (emb.where(F.col("vec_id") <= 16)
                .orderBy("vec_id").collect())
        mat = np.array([[float(x) for x in r["embedding"]] for r in rows],
                       dtype=np.float64)
        qvec, cents, brows = mat[0], mat[1:9], mat[1:17]
        m_sub, dsub = 4, 16
        books = np.stack([brows[:, s * dsub:(s + 1) * dsub]
                          for s in range(m_sub)])
        corpus = (emb.where(F.col("vec_id") >= 17)
                  .withColumn("embedding",
                              F.transform("embedding",
                                          lambda x: x.cast("double"))))
        coded = pq_encode(ivf_assign(corpus, cents), books,
                          extra_cols=("list_id",))
        r = ivfpq_topk(coded, cents, books, [float(x) for x in qvec],
                       k=10, nprobe=2, rerank=30, vectors=corpus)
        return r.select(F.col("rank").cast("long"),
                        F.col("vec_id").cast("long"))

    def ann_ivf_top10(spark, sf):
        # IVF with externally supplied centroids (the distributed operators
        # under test are the assignment pass + probed search; Lloyd
        # training is a driver-side preprocessing step, exercised in
        # test_ivf.py). Centroids = embeddings of vec_id 0..7; corpus =
        # vec_id >= 8; query = vec_id 0; nprobe = 2.
        import numpy as np
        from lucene_7_x_9_x_spark.pipeline.similarity import (ivf_assign,
                                                              ivf_topk)
        emb = _emb(spark, sf)
        rows = (emb.where(F.col("vec_id") < 8)
                .orderBy("vec_id").collect())
        cents = np.array([[float(x) for x in r["embedding"]] for r in rows],
                         dtype=np.float64)
        qvec = [float(x) for x in rows[0]["embedding"]]
        corpus = (emb.where(F.col("vec_id") >= 8)
                  .withColumn("embedding",
                              F.transform("embedding",
                                          lambda x: x.cast("double"))))
        assigned = ivf_assign(corpus, cents)
        return (ivf_topk(assigned, cents, qvec, k=10, nprobe=2)
                .select(F.col("rank").cast("long"),
                        F.col("vec_id").cast("long")))

    def token_stats_q(spark, sf):
        from lucene_7_x_9_x_spark.pipeline.textstats import token_stats
        return token_stats(_docs(spark, sf), "doc_id", "text").select(
            F.col("doc_id").cast("long"), "n_tokens", "n_distinct",
            "n_chars")

    def quality_q(spark, sf):
        from lucene_7_x_9_x_spark.pipeline.textstats import quality_scores
        return quality_scores(_docs(spark, sf), "doc_id", "text").select(
            F.col("doc_id").cast("long"), "n_tokens", "n_stopwords",
            "n_punct", "sum_token_len")

    def lang_id_q(spark, sf):
        from lucene_7_x_9_x_spark.pipeline.textstats import lang_id
        return lang_id(_docs(spark, sf), "doc_id", "text").select(
            F.col("doc_id").cast("long"), "pred_lang")

    def split_search_top10(spark, sf):
        # PKIndexSplitter end-to-end: split the corpus index on
        # TermQuery('filter'), then BM25-search the MATCH half — its
        # re-finalized stats must equal an index built fresh from the
        # filtered corpus (the oracle scores over that subcorpus)
        from lucene_7_x_9_x_spark.index import IndexSnapshot
        from lucene_7_x_9_x_spark.operators.split import split_index
        from lucene_7_x_9_x_spark.searcher import Searcher
        key = ("split", os.path.abspath(sf))
        if key not in _INDEXES:
            base = os.path.basename(os.path.abspath(sf))
            om = os.path.join(_CACHE_ROOT, f"split_m_{base}")
            orr = os.path.join(_CACHE_ROOT, f"split_r_{base}")
            if _cache_is_stale(om) or _cache_is_stale(orr):
                import shutil
                shutil.rmtree(om, ignore_errors=True)
                shutil.rmtree(orr, ignore_errors=True)
                src = _get_searcher(spark, sf).index
                a, _b = split_index(spark, src, T("filter"), om, orr)
            else:
                a = IndexSnapshot(spark, om)
            _INDEXES[key] = Searcher(a)
        r = _INDEXES[key].search(
            Q.BooleanQuery([(O.SHOULD, T("join")), (O.SHOULD, T("group"))]),
            10)
        return r.select(F.col("rank").cast("long"),
                        F.col("doc_id").cast("long"))

    def dedup_first_wins(spark, sf):
        # batch form of the streaming exact-dedup operator: keep the
        # lowest-id doc per sha256 (the stream's first-wins rule)
        from lucene_7_x_9_x_spark.streaming.dedup_stream import (
            dedup_batch)
        return (dedup_batch(_docs(spark, sf), "doc_id", "text")
                .select(F.col("doc_id").cast("long")))

    def high_freq_terms_q(spark, sf):
        # HighFreqTerms diagnostic: top-10 default-field terms by
        # docFreq (ties term asc) straight off the terms table
        s = _get_searcher(spark, sf)
        return (s.high_freq_terms(10, by="doc_freq")
                .select(F.col("rank").cast("long"), "term",
                        "doc_freq", "total_term_freq"))

    def seq_pack_q(spark, sf):
        # concat-and-chop sequence packing into ctx=512 windows across
        # 8 md5-bucketed independent streams; all-integer layout
        from lucene_7_x_9_x_spark.pipeline.packing import pack_sequences
        return (pack_sequences(_docs(spark, sf), "doc_id", 512,
                               n_buckets=8, text_col="text")
                .select(F.col("doc_id").cast("long"),
                        F.col("bucket").cast("long"), "n_tokens",
                        "start_off", "first_seq", "last_seq", "n_seqs"))

    def pii_redact_q(spark, sf):
        # PII scrub (C4/RefinedWeb-style): testdata has no PII, so the
        # gate splices deterministic emails/IPs/SSNs/cards/phones from
        # doc_id (identical concat both engines), then redacts. The
        # oracle's regexes come from the SAME PII_RULES table.
        from lucene_7_x_9_x_spark.pipeline.redact import redact_pii
        d = _docs(spark, sf).withColumn("ptext", F.expr(_PII_SPLICE_SPARK))
        return (redact_pii(d, "doc_id", "ptext")
                .select(F.col("doc_id").cast("long"), "redacted",
                        "n_email", "n_ipv4", "n_ssn", "n_card",
                        "n_phone"))

    def repetition_stats_q(spark, sf):
        # Gopher repetition filters (Rae et al. 2021 A1.1) — testdata
        # text is single-line, so the gate derives lines by replacing
        # the frequent token ' row ' with newlines (literal replace():
        # identical left-to-right non-overlapping semantics in Spark
        # and DuckDB); synthetic text repeats heavily so both the
        # dup-line and dup-bigram branches are exercised for real
        from lucene_7_x_9_x_spark.pipeline.textstats import (
            repetition_stats)
        docs = _docs(spark, sf).withColumn(
            "mtext", F.expr("replace(text, ' row ', '\n')"))
        return repetition_stats(docs, "doc_id", "mtext").select(
            F.col("doc_id").cast("long"), "n_lines", "n_dup_lines",
            "dup_line_chars", "total_line_chars", "top_bigram_chars",
            "dup_bigram_chars", "n_token_chars")

    def fingerprint_q(spark, sf):
        from lucene_7_x_9_x_spark.pipeline.textstats import fingerprint
        return fingerprint(_docs(spark, sf), "doc_id", "text").select(
            F.col("doc_id").cast("long"), "fp")

    def term_vectors_q(spark, sf):
        from lucene_7_x_9_x_spark.pipeline.textstats import term_vectors
        return (term_vectors(_docs(spark, sf), "doc_id", "text")
                .select(F.col("doc_id").cast("long"), "term", "tf",
                        "positions"))

    def term_offsets(spark, sf):
        # index-stored character offsets (IndexOptions ..._AND_OFFSETS):
        # per matching doc, the ascending char starts of 'filter'
        s = _get_searcher(spark, sf)
        o = s.term_offsets("filter")
        dm = s.index.docmap().select(
            "segment", "docid", F.col("doc_id").cast("long").alias("doc_id"))
        return (o.join(dm, ["segment", "docid"])
                .select("doc_id",
                        F.array_join(F.col("starts"), ",")
                        .alias("starts_csv")))

    def highlight(spark, sf):
        from lucene_7_x_9_x_spark.functions.highlight import \
            highlight_snippets
        return (highlight_snippets(_docs(spark, sf), ["filter", "join"])
                .select(F.col("doc_id").cast("long"), "snippet"))

    def sort_by_field(spark, sf):
        # TopFieldCollector analogue: top-k by a stored field, native
        # Catalyst TakeOrderedAndProject (SURVEY.md §2.7)
        from pyspark.sql import Window
        top = (_docs(spark, sf)
               .select(F.col("doc_id").cast("long"),
                       F.col("n_chars").cast("long"))
               .orderBy(F.desc("n_chars"), "doc_id").limit(10))
        # rank only the 10 survivors; non-foldable constant partition
        # keeps WindowExec from logging the no-partition warning
        w = (Window.partitionBy(F.xxhash64(F.col("doc_id")) % F.lit(1))
             .orderBy(F.desc("n_chars"), "doc_id"))
        return top.withColumn("rank",
                              F.row_number().over(w).cast("long"))

    def count_fast(spark, sf):
        # Weight#count metadata fast paths (LuceneDemo9.10.0
        # TestCount.java): on a tombstone-free index MatchAll = manifest
        # max_doc and a single term = terms-dict doc_freq (driver pyarrow
        # seek) — ZERO Spark jobs; both wrapped into one 2-row frame
        s = _get_searcher(spark, sf)
        rows = [("matchall", s.count(Q.MatchAllDocsQuery())),
                ("term_filter", s.count(Q.TermQuery("filter")))]
        return spark.createDataFrame(rows, "query string, cnt long")

    def sort_dv_topk(spark, sf):
        # NumericComparator competitive-iterator sort optimization
        # (LuceneDemo9.2.0 NumericDocValuesTopNOptimization2.java): top-k
        # by the dl docvalue with a row-group-stats cutoff pushed into
        # the docmap scan (operators/sortopt.py)
        s = _get_searcher(spark, sf)
        r = s.sorted_by_docvalues("dl", k=10, ascending=False)
        return r.select(F.col("rank").cast("long"),
                        F.col("doc_id").cast("long"),
                        F.col("dl").cast("long"))

    def sort_missing_value(spark, sf):
        # SortField.setMissingValue(3L) (LuceneDemo9.0.0
        # facet/MissingValueTest.java): docs without the docvalue sort AS
        # the missing value; external docvalues side table derived from
        # doc_id arithmetic so the oracle reproduces it exactly
        s = _get_searcher(spark, sf)
        dv = _docs(spark, sf).select(
            "doc_id",
            F.when(F.col("doc_id") % 7 == 0,
                   F.lit(None).cast("long"))
            .otherwise((F.col("doc_id") * 13) % 400).alias("sv"))
        r = s.sorted_by_docvalues("sv", k=10, missing=3, docvalues=dv)
        return r.select(F.col("rank").cast("long"),
                        F.col("doc_id").cast("long"),
                        F.col("sv").cast("long"))

    def sort_str_topk(spark, sf):
        # TermOrdValComparator role (LuceneDemo9.5.0
        # TermOrdValComparatorTest.java): top-k by a STRING docvalue.
        # String stats may be length-truncated in parquet footers, so
        # sortopt refuses a cutoff (numeric-only guard) — the sort runs
        # un-pruned but stays k-bounded (TakeOrderedAndProject)
        s = _get_searcher(spark, sf)
        dv = _docs(spark, sf).select(
            "doc_id", F.concat("source", F.lit("_"), "lang").alias("sk"))
        r = s.sorted_by_docvalues("sk", k=10, missing=None, docvalues=dv)
        return r.select(F.col("rank").cast("long"),
                        F.col("doc_id").cast("long"), "sk")

    def events_windowed(spark, sf):
        # tumbling-window aggregation over the events stream table — the
        # batch form of the Structured Streaming windowed-agg surface
        # (SURVEY.md §2.9); watermarked streaming variant in
        # streaming/incremental.py
        ev = spark.read.parquet(os.path.join(sf, "events.parquet"))
        return (ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
                .agg(F.count("*").cast("long").alias("cnt"),
                     F.sum(F.col("value").cast("decimal(20,2)"))
                     .cast("decimal(20,2)").cast("string").alias("sum_value"))
                .select(F.date_format("w.start", "yyyy-MM-dd HH:mm:ss")
                        .alias("win_start"), "event_type", "cnt",
                        "sum_value"))

    def events_sessions(spark, sf):
        # gap-based sessionization (batch form of the stateful streaming
        # operator in streaming/sessions.py)
        from lucene_7_x_9_x_spark.streaming.sessions import sessionize_batch
        ev = spark.read.parquet(os.path.join(sf, "events.parquet"))
        return sessionize_batch(ev).select(
            F.col("user_id").cast("long"), "session_start", "session_end",
            "n_events")

    def multimodal_features(spark, sf):
        from lucene_7_x_9_x_spark.pipeline.multimodal import extract_features
        media = _docs(spark, sf).select(
            F.col("doc_id").cast("long").alias("id"),
            F.lit("text/fake").alias("media_type"),
            F.encode("text", "utf-8").alias("payload"),
            F.lit(0).alias("width"), F.lit(0).alias("height"),
            F.lit(0).alias("sample_rate"))
        return (extract_features(media)
                .select(F.col("id").alias("doc_id"), "n_bytes", "sha256"))

    # NOTE on ordering — standing rotation rule (adopted round 5): the
    # driver's correctness gate records only the FIRST 50 entries, so
    # (a) entries that are NEW or have never had a driver row lead,
    # (b) entries whose engine path changed this round come next,
    # (c) entries whose last driver row is two rounds old fill the rest
    #     of the window,
    # (d) entries gated LAST round sit at the tail and come back next
    #     round — every entry gets a driver row at least every two
    #     rounds.  scripts/check_entry.py still checks all entries
    #     locally regardless of position.
    return {
        # -- (a) new this round / never driver-gated --
        "edge_ngram_prefix_top10": edge_ngram_prefix_top10,
        "ngram_infix_top10": ngram_infix_top10,
        "multi_phrase_top10": multi_phrase_top10,
        "dup_span_ranges": dup_span_ranges,
        "wildcard_phrase_top10": wildcard_phrase_top10,
        "surround_query": surround_query,
        "count_fast": count_fast,
        "sort_dv_topk": sort_dv_topk,
        "sort_missing_value": sort_missing_value,
        "sort_str_topk": sort_str_topk,
        "hybrid_rrf_top10": hybrid_rrf_top10,
        "expr_score_top10": expr_score_top10,
        "repetition_stats": repetition_stats_q,
        "pii_redact": pii_redact_q,
        "seq_pack": seq_pack_q,
        "ann_pq_top10": ann_pq_top10,
        "ann_ivfpq_top10": ann_ivfpq_top10,
        "split_search_top10": split_search_top10,
        "high_freq_terms": high_freq_terms_q,
        "dedup_first_wins": dedup_first_wins,
        "decontaminate": decontaminate,
        "dup_spans": dup_spans,
        "sparse_knn_top10": sparse_knn_top10,
        "vector_exists_count": vector_exists_count,
        "freetext_suggest_next": freetext_suggest_next,
        "classify_nb": classify_nb,
        "fuzzy_suggest": fuzzy_suggest,
        "phonetic_term_top10": phonetic_term_top10,
        "cjk_bigram_top10": cjk_bigram_top10,
        "unicode_numeric_top10": unicode_numeric_top10,
        "classify_knn_top": classify_knn_top,
        "sample_fraction": sample_fraction,
        "sample_mixture": sample_mixture,
        "dedup_clusters": dedup_clusters,
        "join_query_top10": join_query_top10,
        "facet_ssdv": facet_ssdv,
        "geo_distance": geo_distance_ids,
        "geo_nearest_top10": geo_nearest_top10,
        "geo_polygon": geo_polygon_ids,
        "field_exists": field_exists,
        "point_in_set": point_in_set,
        "diversified_topk": diversified_topk,
        "distinct_values_per_group": distinct_values_per_group,
        "range_field_intersects": range_field_intersects,
        "range_field_crosses": range_field_crosses,
        "payload_sum_top10": payload_sum_top10,
        "unicode_emoji_top10": unicode_emoji_top10,
        "ascii_fold_top10": ascii_fold_top10,
        "shingle_term_top10": shingle_term_top10,
        "synonym_analyzer_top10": synonym_analyzer_top10,
        # geo_box / classify_knn_fuzzy yield their window slots to the
        # never-driver-gated facet_ssdv + unicode_numeric_top10: their
        # engine paths stay covered by geo_distance/nearest/polygon and
        # classify_knn_top within the first 50
        "geo_box": geo_box_ids,
        "classify_knn_fuzzy": classify_knn_fuzzy,
        # -- (b) engine path changed this round (fuzzy seek, facet plan) --
        "fuzzy": fuzzy,
        "spell_correct": spell_correct,
        "facet_taxonomy": facet_taxonomy,
        "grouped_topk": grouped_topk,
        # -- (c) last driver row in round 3 --
        "bm25_conj_top10": bm25_conj_top10,
        "field_term": field_term,
        "multi_field_bool": multi_field_bool,
        "mlt_top10": mlt_top10,
        "suggest": suggest,
        "span_near_scored_top10": span_near_scored_top10,
        "span_or_top10": span_or_top10,
        "span_first_top10": span_first_top10,
        "bm25_synonym_top10": bm25_synonym_top10,
        "classic_top10": classic_top10,
        "lmdirichlet_top10": lmdirichlet_top10,
        "lmjm_top10": lmjm_top10,
        "dfr_top10": dfr_top10,
        "ib_top10": ib_top10,
        "axiomatic_top10": axiomatic_top10,
        "dfi_top10": dfi_top10,
        "bm25_dismax_top10": bm25_dismax_top10,
        "bm25_phrase_top10": bm25_phrase_top10,
        "parse_field_query": parse_field_query,
        "facet_lang": facet_lang,
        "facet_range": facet_range,
        "facet_drill_sideways": facet_drill_sideways,
        "collection_stats": collection_stats,
        "norms": norms,
        "term_stats": term_stats,
        # -- (c cont.) round-4-gated entries filling the 50-window; the
        #    remainder below the cut come back in round 6 --
        "ann_ivf_top10": ann_ivf_top10,
        "term_offsets": term_offsets,
        "dedup_exact": dedup_exact,
        "dedup_jaccard": dedup_jaccard,
        "dedup_minhash_lsh": dedup_minhash_lsh,
        "dedup_simhash": dedup_simhash,
        "dedup_embedding": dedup_embedding,
        "ann_top10": ann_top10,
        "ann_lsh_top10": ann_lsh_top10,
        "token_stats": token_stats_q,
        "quality": quality_q,
        "lang_id": lang_id_q,
        "fingerprint": fingerprint_q,
        "term_vectors": term_vectors_q,
        "highlight": highlight,
        "sort_by_field": sort_by_field,
        "events_windowed": events_windowed,
        # ---------------- 50-entry driver window ends here ----------------
        # -- (d) gated green in round 4; due again round 6 --
        "events_sessions": events_sessions,
        "multimodal_features": multimodal_features,
        "term_docs": term_docs,
        "bool_and_not": bool_and_not,
        "bool_msm2": bool_msm2,
        "phrase": phrase,
        "prefix": prefix,
        "wildcard": wildcard,
        "regexp": regexp,
        "term_range": term_range,
        "term_set": term_set,
        "numeric_range": numeric_range,
        "parse_query_topk": parse_query_topk,
        "parse_query_matches": parse_query_matches,
        "simple_query_top10": simple_query_top10,
        "simple_query_matches": simple_query_matches,
        "unicode_term_top10": unicode_term_top10,
        "unicode_phrase": unicode_phrase,
        "knn_filtered_top10": knn_filtered_top10,
        "intervals_ordered": intervals_ordered,
        "stem_term_top10": stem_term_top10,
        "intervals_scored_top10": intervals_scored_top10,
        "span_near": span_near,
        "span_near_unordered": span_near_unordered,
        "function_score_top10": function_score_top10,
        "percolate": percolate,
        "percolate_indexed": percolate_indexed,
        "block_join_top10": block_join_top10,
        "index_sorted_topk": index_sorted_topk,
        "bm25_top10": bm25_top10,
    }


def _minhash_lsh_sql(shingle: str, num_hashes: int = 32, bands: int = 8,
                     threshold: float = 0.5) -> str:
    """DuckDB replica of pipeline.dedup.minhash_lsh_pairs: md5-derived
    31-bit shingle hashes, affine min-hash signatures, banded md5 bucket
    join, exact Jaccard verification. Constants come from the same
    _hash_params as the engine, so signatures match bit-for-bit."""
    from lucene_7_x_9_x_spark.pipeline.dedup import _MERSENNE, _hash_params
    a, b = _hash_params(num_hashes)
    r = num_hashes // bands
    min_cols = ", ".join(
        f"min((h * {a[i]} + {b[i]}) % {_MERSENNE}) AS m{i}"
        for i in range(num_hashes))
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {i} AS band, ('0x' || substring(md5("
        + " || ',' || ".join(f"m{j}::VARCHAR"
                             for j in range(i * r, i * r + r))
        + "), 1, 15))::BIGINT AS bh FROM sig"
        for i in range(bands))
    jac = ("len(list_intersect(a.sh, b.sh)) * 1.0 / (len(a.sh) + len(b.sh)"
           " - len(list_intersect(a.sh, b.sh)))")
    return f"""
WITH toks AS (SELECT doc_id, {TOKS} AS ts FROM documents),
sgl AS (SELECT doc_id, {shingle} AS sh FROM toks),
hs AS (SELECT doc_id, ('0x' || substring(md5(s), 1, 8))::BIGINT
                        % {_MERSENNE} AS h
       FROM (SELECT doc_id, unnest(sh) AS s FROM sgl)),
sig AS (SELECT doc_id, {min_cols} FROM hs GROUP BY doc_id),
bands AS ({band_rows}),
cand AS (SELECT l.doc_id AS id_a, r.doc_id AS id_b
         FROM bands l JOIN bands r ON l.band = r.band AND l.bh = r.bh
              AND l.doc_id < r.doc_id
         GROUP BY 1, 2)
SELECT c.id_a, c.id_b
FROM cand c JOIN sgl a ON a.doc_id = c.id_a JOIN sgl b ON b.doc_id = c.id_b
WHERE {jac} >= {threshold}"""


def _simhash_sql(bits: int = 60) -> str:
    """DuckDB replica of pipeline.dedup.simhash64 (md5-derived 60-bit token
    hash, tf-signed bit votes)."""
    v_cols = ", ".join(
        f"sum(CASE WHEN ((h >> {i}) & 1) = 1 THEN tf ELSE -tf END) AS v{i}"
        for i in range(bits))
    sim = " + ".join(
        f"(CASE WHEN v{i} > 0 THEN (1::BIGINT << {i}) ELSE 0 END)"
        for i in range(bits))
    return f"""
WITH toks AS (SELECT doc_id, {TOKS} AS ts FROM documents),
tf AS (SELECT doc_id, tok, count(*) AS tf
       FROM (SELECT doc_id, unnest(ts) AS tok FROM toks) GROUP BY 1, 2),
h AS (SELECT doc_id, tf, ('0x' || substring(md5(tok), 1, 15))::BIGINT AS h
      FROM tf),
v AS (SELECT doc_id, {v_cols} FROM h GROUP BY doc_id)
SELECT doc_id, CAST({sim} AS BIGINT) AS simhash FROM v"""


def _ann_lsh_sql(dim: int = 64, n_planes: int = 8, k: int = 10,
                 seed: int = 42) -> str:
    """DuckDB replica of pipeline.similarity.cosine_topk_lsh (multi-probe
    hamming<=1). Plane constants are the engine's own RandomState(seed)
    draws inlined via repr (round-trips to the identical double); every dot
    product is written as a left-associated sum so IEEE-754 rounding matches
    Spark's sequential F.aggregate fold at sign boundaries."""
    import numpy as np
    planes = np.random.RandomState(seed).normal(size=(n_planes, dim))

    def dot(vec: str, j: int) -> str:
        return " + ".join(f"({vec}[{i + 1}]::DOUBLE * {float(c)!r})"
                          for i, c in enumerate(planes[j]))

    def bucket(vec: str) -> str:
        return " + ".join(
            f"(CASE WHEN {dot(vec, j)} > 0 THEN {1 << j} ELSE 0 END)"
            for j in range(n_planes))

    probes = ", ".join(str(m) for m in [0] + [1 << j for j in range(n_planes)])
    return f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
qb AS (SELECT ({bucket('qv')}) AS qbits FROM q),
b AS (SELECT vec_id, embedding, ({bucket('embedding')}) AS bucket
      FROM embeddings WHERE vec_id <> 0),
cand AS (SELECT b.vec_id, b.embedding FROM b, qb
         WHERE xor(b.bucket, qb.qbits) IN ({probes}))
SELECT CAST(row_number() OVER (ORDER BY list_cosine_similarity(
         c.embedding::DOUBLE[], q.qv::DOUBLE[]) DESC, c.vec_id) AS BIGINT)
         AS rank, c.vec_id
FROM cand c, q
ORDER BY list_cosine_similarity(c.embedding::DOUBLE[], q.qv::DOUBLE[]) DESC,
         c.vec_id
LIMIT {k}"""


def _emb_neardup_sql(dim: int = 64, n_planes: int = 6,
                     threshold: float = 0.4, seed: int = 42) -> str:
    """DuckDB replica of pipeline.dedup.embedding_neardup_pairs: same
    hyperplane buckets (planes inlined via repr) and the same left-folded
    dot/norm arithmetic, so the cosine threshold test matches bit-for-bit."""
    import numpy as np
    planes = np.random.RandomState(seed).normal(size=(n_planes, dim))

    def dot(vec: str, j: int) -> str:
        return " + ".join(f"({vec}[{i + 1}]::DOUBLE * {float(c)!r})"
                          for i, c in enumerate(planes[j]))

    bucket = " + ".join(
        f"(CASE WHEN {dot('embedding', j)} > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(n_planes))
    dot_self = " + ".join(
        f"(embedding[{i + 1}]::DOUBLE * embedding[{i + 1}]::DOUBLE)"
        for i in range(dim))
    dot_pair = " + ".join(
        f"(a.embedding[{i + 1}]::DOUBLE * c.embedding[{i + 1}]::DOUBLE)"
        for i in range(dim))
    return f"""
WITH b AS (SELECT vec_id, embedding, ({bucket}) AS bucket,
                  sqrt({dot_self}) AS nrm FROM embeddings)
SELECT a.vec_id AS id_a, c.vec_id AS id_b
FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
WHERE ({dot_pair}) / (a.nrm * c.nrm) >= {threshold}"""


# DuckDB replica of queries()._docvals — the docvalues side-table the
# field-exists / point-in-set / range-field gates test against
_DOCVALS_SQL = """
dv AS (SELECT doc_id,
    CASE WHEN doc_id % 3 <> 0 THEN CAST(n_chars % 97 AS BIGINT) END AS val,
    CAST(n_chars % 199 AS BIGINT) AS range_min,
    CAST(n_chars % 199 + doc_id % 37 AS BIGINT) AS range_max
 FROM documents)"""


_POLYGON = [(0.0, -100.0), (60.0, -40.0), (30.0, 60.0),
            (-30.0, 80.0), (-60.0, -20.0)]


def _geo_sql() -> dict[str, str]:
    """DuckDB replicas of the geo gates: identical md5-derived integer
    coordinates, the same quantization constants (inlined via repr, so
    the doubles round-trip exactly), integer-compare box edges, and the
    same haversine-sort-key arithmetic with the center's trig constants
    precomputed in Python for BOTH engines."""
    import math as m

    from lucene_7_x_9_x_spark.functions.geo import (EARTH_MEAN_RADIUS_M,
                                                    LAT_SCALE, LON_SCALE)
    latlon = """
geo AS (SELECT doc_id,
    ((('0x' || substring(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 16000)
      / 100.0 - 80.0) AS lat,
    ((('0x' || substring(md5(doc_id::VARCHAR), 9, 8))::BIGINT % 34000)
      / 100.0 - 170.0) AS lon
 FROM documents)"""
    box = (f"""
WITH {latlon}
SELECT doc_id FROM geo
WHERE floor(lat * {LAT_SCALE!r}) >= {m.ceil(-20.0 * LAT_SCALE)}
  AND floor(lat * {LAT_SCALE!r}) <= {m.floor(35.0 * LAT_SCALE)}
  AND floor(lon * {LON_SCALE!r}) >= {m.ceil(-50.0 * LON_SCALE)}
  AND floor(lon * {LON_SCALE!r}) <= {m.floor(60.0 * LON_SCALE)}""")
    clat, clon = 10.0, 20.0
    x2 = m.radians(clat)
    key = (f"((1 - cos(radians(floor(lat * {LAT_SCALE!r})"
           f" * {1.0 / LAT_SCALE!r}) - {x2!r}))"
           f" + cos(radians(floor(lat * {LAT_SCALE!r})"
           f" * {1.0 / LAT_SCALE!r})) * {m.cos(x2)!r}"
           f" * (1 - cos(radians(floor(lon * {LON_SCALE!r})"
           f" * {1.0 / LON_SCALE!r} - {clon!r}))))")
    dist = (f"({2 * EARTH_MEAN_RADIUS_M!r}"
            f" * asin(least(1.0, sqrt({key} * 0.5))))")
    distance = f"""
WITH {latlon}
SELECT doc_id FROM geo WHERE {dist} <= 3000000.0"""
    nearest = f"""
WITH {latlon}
SELECT CAST(row_number() OVER (ORDER BY {key}, doc_id) AS BIGINT) AS rank,
       doc_id
FROM geo ORDER BY {key}, doc_id LIMIT 10"""
    from lucene_7_x_9_x_spark.functions.geo import polygon_crossing_sql
    lats = [v[0] for v in _POLYGON]
    lons = [v[1] for v in _POLYGON]
    polygon = f"""
WITH {latlon}
SELECT doc_id FROM geo
WHERE lat >= {min(lats)!r} AND lat <= {max(lats)!r}
  AND lon >= {min(lons)!r} AND lon <= {max(lons)!r}
  AND {polygon_crossing_sql("lat", "lon", _POLYGON)}"""
    return {"geo_box": box, "geo_distance": distance,
            "geo_nearest_top10": nearest, "geo_polygon": polygon}


def oracle_sql() -> dict[str, str]:
    shingle = ("list_distinct(list_transform(range(1, len(ts) - 1), "
               "i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]))")
    stop_list = "['the','a','of','and','to','in','is','for','on','with']"
    lang_score = {
        lang: ("len(list_filter(ts, t -> list_contains([" +
               ",".join(f"'{m}'" for m in ms) + "], t)))")
        for lang, ms in
        [("c", ["struct", "typedef", "malloc", "sizeof", "include"]),
         ("go", ["func", "chan", "defer", "goroutine", "package"]),
         ("java", ["public", "void", "static", "extends", "implements"]),
         ("py", ["def", "import", "self", "lambda", "elif"])]}
    return {
        "term_docs": _contains_sql("list_contains(ts, 'filter')"),
        "bool_and_not": _contains_sql(
            "list_contains(ts, 'filter') AND list_contains(ts, 'join') "
            "AND NOT list_contains(ts, 'window')"),
        "bool_msm2": _contains_sql(
            "(CASE WHEN list_contains(ts,'group') THEN 1 ELSE 0 END + "
            " CASE WHEN list_contains(ts,'query') THEN 1 ELSE 0 END + "
            " CASE WHEN list_contains(ts,'window') THEN 1 ELSE 0 END) >= 2"),
        "phrase": _contains_sql(
            "len(list_filter(range(1, len(ts)), "
            "i -> ts[i] = 'the' AND ts[i+1] = 'fast')) > 0"),
        "prefix": _contains_sql(
            "len(list_filter(ts, t -> t LIKE 'quer%')) > 0"),
        "wildcard": _contains_sql(
            "len(list_filter(ts, t -> regexp_matches(t, '^st.*am$'))) > 0"),
        "regexp": _contains_sql(
            "len(list_filter(ts, t -> regexp_matches(t,"
            " '^(?:st(r?)eam|qu.ry)$'))) > 0"),
        "term_range": _contains_sql(
            "len(list_filter(ts, t -> t >= 'scan' AND t <= 'sort')) > 0"),
        "term_set": _contains_sql(
            "list_contains(ts, 'merge') OR list_contains(ts, 'stream')"),
        # unrestricted Damerau == OSA at distance <= 1, so DuckDB's
        # damerau_levenshtein is an exact oracle for max_edits=1
        "fuzzy": _contains_sql(
            "len(list_filter(ts, t -> damerau_levenshtein(t, 'fitler') <= 1))"
            " > 0"),
        "numeric_range": f"""
            SELECT doc_id, CAST(dl AS BIGINT) AS dl
            FROM (SELECT doc_id, len({TOKS}) AS dl FROM documents)
            WHERE dl BETWEEN 40 AND 60""",
        "field_exists": f"""
            WITH {_DOCVALS_SQL}
            SELECT doc_id FROM dv WHERE val IS NOT NULL""",
        "point_in_set": f"""
            WITH {_DOCVALS_SQL}
            SELECT doc_id, val FROM dv
            WHERE val IN (10, 20, 30, 40, 50)""",
        "range_field_intersects": f"""
            WITH {_DOCVALS_SQL}
            SELECT doc_id, range_min, range_max FROM dv
            WHERE range_min <= 90 AND range_max >= 50""",
        "range_field_crosses": f"""
            WITH {_DOCVALS_SQL}
            SELECT doc_id, range_min, range_max FROM dv
            WHERE range_min <= 90 AND range_max >= 50
              AND NOT (range_min >= 50 AND range_max <= 90)
              AND NOT (range_min <= 50 AND range_max >= 90)""",
        "parse_query_topk": _bm25_sql(["group", "query", "window"], 10,
                                      False, cond="tf_0 > 0 AND tf_1 > 0"),
        "parse_query_matches": _contains_sql(
            "list_contains(ts, 'filter') AND (list_contains(ts, 'join') OR "
            "len(list_filter(range(1, len(ts)), "
            "i -> ts[i] = 'the' AND ts[i+1] = 'fast')) > 0) "
            "AND NOT list_contains(ts, 'window')"),
        # SimpleQueryParser right-to-left grouping: (filter OR join) AND
        # window; MUST clauses sum, so the score is the plain 3-term sum
        # restricted to ((f|j) AND w) docs
        "simple_query_top10": _bm25_sql(
            ["filter", "join", "window"], 10, False,
            cond="(tf_0 > 0 OR tf_1 > 0) AND tf_2 > 0"),
        "simple_query_matches": _contains_sql(
            "list_contains(ts, 'join') AND NOT list_contains(ts, 'window')"),
        "unicode_term_top10": _bm25_sql(
            ["搜", "café", "カタカナ"], 10, False,
            src_sql=_unicode_src_sql(), toks=_uni_toks()),
        "unicode_phrase": f"""
            WITH toks AS (SELECT doc_id, {_uni_toks()} AS ts
                          FROM ({_unicode_src_sql()}))
            SELECT doc_id FROM toks
            WHERE len(list_filter(range(1, len(ts)), i ->
                    ts[i] = '搜' AND ts[i+1] = '索')) > 0""",
        # FreeTextSuggester oracle: full stupid-backoff replica — n-gram
        # counts, per-level top with num*grams slack, higher-order dedup,
        # exact-double order key cnt*scale/ctx (scale = 2^e * 5^(2-e),
        # ALPHA=0.4=2/5 kept exact; no libm pow)
        "freetext_suggest_next": f"""
            WITH toks AS (SELECT {TOKS} AS ts FROM documents),
            gs AS (
              SELECT 1 AS n, unnest(ts) AS gram FROM toks
              UNION ALL
              SELECT 2, unnest(list_transform(range(1, len(ts)),
                       i -> ts[i] || ' ' || ts[i+1])) FROM toks
              UNION ALL
              SELECT 3, unnest(list_transform(range(1, len(ts) - 1),
                       i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]))
              FROM toks),
            c AS (SELECT n, gram, count(*) AS cnt FROM gs
                  GROUP BY n, gram),
            cand AS (SELECT n, gram, cnt,
                            row_number() OVER (PARTITION BY n
                              ORDER BY cnt DESC, gram) AS rk
                     FROM c WHERE (n = 3 AND gram LIKE 'the fast %')
                            OR (n = 2 AND gram LIKE 'fast %')),
            lv AS (SELECT n, gram, cnt,
                          list_extract(string_split(gram, ' '), n) AS word,
                          CASE WHEN n = 3 THEN 25 ELSE 10 END AS scale,
                          CASE WHEN n = 3 THEN
                            (SELECT c2.cnt FROM c c2
                             WHERE c2.n = 2 AND c2.gram = 'the fast')
                          ELSE
                            (SELECT c3.cnt FROM c c3
                             WHERE c3.n = 1 AND c3.gram = 'fast')
                          END AS ctx
                   FROM cand WHERE rk <= 30),
            ded AS (SELECT word, n,
                           CAST(cnt * scale AS DOUBLE)
                             / CAST(ctx AS DOUBLE) AS sc,
                           row_number() OVER (PARTITION BY word
                             ORDER BY n DESC) AS wr
                    FROM lv)
            SELECT CAST(row_number() OVER (ORDER BY sc DESC, word)
                     AS BIGINT) AS rank,
                   word AS suggestion
            FROM ded WHERE wr = 1
            ORDER BY sc DESC, word LIMIT 10""",
        "sparse_knn_top10": """
            WITH q AS (SELECT embedding AS qv FROM embeddings
                       WHERE vec_id = 1)
            SELECT CAST(row_number() OVER (
                     ORDER BY list_cosine_similarity(
                       e.embedding::DOUBLE[], q.qv::DOUBLE[]) DESC,
                       e.vec_id) AS BIGINT) AS rank,
                   e.vec_id
            FROM embeddings e, q WHERE e.vec_id % 5 <> 0
            ORDER BY list_cosine_similarity(
                       e.embedding::DOUBLE[], q.qv::DOUBLE[]) DESC,
                     e.vec_id
            LIMIT 10""",
        "vector_exists_count": """
            SELECT CAST(count(*) AS BIGINT) AS n_vectors
            FROM embeddings WHERE vec_id % 5 <> 0""",
        "expr_score_top10": _expr_score_sql(10),
        "pii_redact": _pii_redact_sql(),
        "ann_pq_top10": _ann_pq_sql(),
        "ann_ivfpq_top10": _ann_ivfpq_sql(),
        "dedup_first_wins": """
            SELECT CAST(min(doc_id) AS BIGINT) AS doc_id
            FROM documents GROUP BY sha256(text)""",
        "high_freq_terms": f"""
            WITH toks AS (SELECT doc_id, {TOKS} AS ts FROM documents),
            x AS (SELECT doc_id, unnest(ts) AS term FROM toks),
            g AS (SELECT term, count(DISTINCT doc_id) AS doc_freq,
                         count(*) AS total_term_freq
                  FROM x GROUP BY term)
            SELECT CAST(row_number() OVER (ORDER BY doc_freq DESC, term)
                        AS BIGINT) AS rank, term,
                   CAST(doc_freq AS BIGINT) AS doc_freq,
                   CAST(total_term_freq AS BIGINT) AS total_term_freq
            FROM g ORDER BY doc_freq DESC, term LIMIT 10""",
        # split half = the 'filter' subcorpus; BM25 stats come from the
        # SUBCORPUS only (the splitter re-finalizes them)
        "split_search_top10": _bm25_sql(
            ["join", "group"], 10, False,
            src_sql=f"SELECT doc_id, text FROM (SELECT doc_id, text, "
                    f"{TOKS} AS mts FROM documents) "
                    f"WHERE list_contains(mts, 'filter')"),
        "seq_pack": f"""
WITH t AS (SELECT doc_id, CAST(len({TOKS}) AS BIGINT) AS n_tokens
           FROM documents),
b AS (SELECT doc_id, n_tokens,
        ('0x' || substring(md5('42:' || doc_id::VARCHAR), 1, 8))::BIGINT
          % 2147483647 % 8 AS bucket
      FROM t WHERE n_tokens > 0),
packed AS (SELECT doc_id, bucket, n_tokens,
        sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
                            ROWS UNBOUNDED PRECEDING) - n_tokens
          AS start_off
      FROM b)
SELECT doc_id, CAST(bucket AS BIGINT) AS bucket, n_tokens,
  CAST(start_off AS BIGINT) AS start_off,
  CAST(start_off // 512 AS BIGINT) AS first_seq,
  CAST((start_off + n_tokens - 1) // 512 AS BIGINT) AS last_seq,
  CAST((start_off + n_tokens - 1) // 512 - start_off // 512 + 1
       AS BIGINT) AS n_seqs
FROM packed""",
        "repetition_stats": f"""
WITH base AS (SELECT doc_id, replace(text, ' row ', chr(10)) AS mtext
              FROM documents),
t2 AS (SELECT doc_id,
         list_filter(string_split(mtext, chr(10)), l -> l <> '') AS lines,
         {TOKS.replace("lower(text)", "lower(mtext)")} AS ts FROM base),
t3 AS (SELECT doc_id, lines, ts,
         list_transform(range(1, len(ts)),
                        i -> ts[i] || ' ' || ts[i+1]) AS grams
       FROM t2),
lc AS (SELECT doc_id, l, count(*) AS c
       FROM (SELECT doc_id, unnest(lines) AS l FROM t3)
       GROUP BY doc_id, l),
lagg AS (SELECT doc_id, count(*) AS n_distinct,
                sum(length(l) * (c - 1)) AS dup_line_chars
         FROM lc GROUP BY doc_id),
gc AS (SELECT doc_id, g, count(*) AS c
       FROM (SELECT doc_id, unnest(grams) AS g FROM t3)
       GROUP BY doc_id, g),
gagg AS (SELECT doc_id,
                max((length(g) - 1) * c) AS top_bigram_chars,
                sum(CASE WHEN c > 1 THEN (length(g) - 1) * c
                         ELSE 0 END) AS dup_bigram_chars
         FROM gc GROUP BY doc_id)
SELECT t3.doc_id,
  CAST(len(lines) AS BIGINT) AS n_lines,
  CAST(len(lines) - coalesce(lagg.n_distinct, 0) AS BIGINT)
    AS n_dup_lines,
  CAST(coalesce(lagg.dup_line_chars, 0) AS BIGINT) AS dup_line_chars,
  CAST(coalesce(list_sum(list_transform(lines, l -> length(l))), 0)
       AS BIGINT) AS total_line_chars,
  CAST(coalesce(gagg.top_bigram_chars, 0) AS BIGINT)
    AS top_bigram_chars,
  CAST(coalesce(gagg.dup_bigram_chars, 0) AS BIGINT)
    AS dup_bigram_chars,
  CAST(coalesce(list_sum(list_transform(ts, t -> length(t))), 0)
       AS BIGINT) AS n_token_chars
FROM t3 LEFT JOIN lagg USING (doc_id) LEFT JOIN gagg USING (doc_id)""",
        "hybrid_rrf_top10": f"""
            WITH lex AS ({_bm25_sql(["filter", "join"], 50, False)}),
            q0 AS (SELECT embedding AS qv FROM embeddings
                   WHERE vec_id = 0),
            vec AS (SELECT CAST(row_number() OVER (ORDER BY
                      list_cosine_similarity(e.embedding::DOUBLE[],
                                             q0.qv::DOUBLE[]) DESC,
                      e.vec_id) AS BIGINT) AS rank, e.vec_id
                    FROM embeddings e, q0
                    ORDER BY rank LIMIT 50),
            fused AS (SELECT coalesce(l.doc_id, v.vec_id) AS doc_id,
                      coalesce(l.rank, 0) AS lex_rank,
                      coalesce(v.rank, 0) AS vec_rank,
                      (CASE WHEN l.rank IS NULL THEN CAST(0 AS DOUBLE)
                            ELSE CAST(1 AS DOUBLE) /
                                 (CAST(60 AS DOUBLE) + l.rank) END
                       + CASE WHEN v.rank IS NULL THEN CAST(0 AS DOUBLE)
                              ELSE CAST(1 AS DOUBLE) /
                                   (CAST(60 AS DOUBLE) + v.rank) END)
                        AS s
                      FROM lex l FULL OUTER JOIN vec v
                        ON l.doc_id = v.vec_id)
            SELECT CAST(row_number() OVER (ORDER BY s DESC, doc_id)
                        AS BIGINT) AS rank, doc_id, lex_rank, vec_rank
            FROM fused ORDER BY s DESC, doc_id LIMIT 10""",
        "knn_filtered_top10": f"""
            WITH q AS (SELECT embedding AS qv FROM embeddings
                       WHERE vec_id = 0),
            toks AS (SELECT doc_id, {TOKS} AS ts FROM documents),
            m AS (SELECT doc_id FROM toks
                  WHERE list_contains(ts, 'filter')),
            cand AS (SELECT e.vec_id, e.embedding FROM embeddings e
                     JOIN m ON e.vec_id = m.doc_id)
            SELECT CAST(row_number() OVER (ORDER BY
                     list_cosine_similarity(c.embedding::DOUBLE[],
                                            q.qv::DOUBLE[]) DESC,
                     c.vec_id) AS BIGINT) AS rank, c.vec_id
            FROM cand c, q
            ORDER BY rank LIMIT 10""",
        "intervals_scored_top10": f"""
WITH toks AS (SELECT doc_id, {TOKS} AS ts FROM documents),
dl_t AS (SELECT doc_id, ts, len(ts) AS dl FROM toks),
stats AS (SELECT count(*) FILTER (WHERE dl > 0) AS doc_count,
                 sum(dl) AS sum_ttf FROM dl_t),
q AS (SELECT doc_id, ts, {QDL} AS qdl FROM dl_t),
p AS (SELECT doc_id, qdl, ts,
        list_filter(range(1, len(ts)+1), i -> ts[i] = 'key') AS pa,
        list_filter(range(1, len(ts)+1), i -> ts[i] = 'hash'
          OR ts[i] = 'row') AS px
      FROM q),
tf AS (SELECT doc_id, qdl,
         list_sum(list_transform(pa, a ->
           CASE WHEN len(list_filter(px, b -> b > a)) > 0
                 AND list_min(list_filter(px, b -> b > a)) - a <= 2
                 AND len(list_filter(pa, a2 -> a2 > a AND
                       a2 < list_min(list_filter(px, b -> b > a)))) = 0
                THEN 1.0 / (list_min(list_filter(px, b -> b > a)) - a)
                ELSE 0 END)) AS sfreq,
         len(list_filter(ts, t -> t = 'key')) AS tf_a,
         len(list_filter(ts, t -> t = 'hash')) AS tf_b,
         len(list_filter(ts, t -> t = 'row')) AS tf_c FROM p),
dfs AS (SELECT count(*) FILTER (WHERE tf_a > 0) AS df_a,
               count(*) FILTER (WHERE tf_b > 0) AS df_b,
               count(*) FILTER (WHERE tf_c > 0) AS df_c FROM tf),
scored AS (SELECT doc_id,
    (ln(1 + (s.doc_count - d.df_b + 0.5) / (d.df_b + 0.5))
     + ln(1 + (s.doc_count - d.df_a + 0.5) / (d.df_a + 0.5))
     + ln(1 + (s.doc_count - d.df_c + 0.5) / (d.df_c + 0.5))) * sfreq
      / (sfreq + {K1} * ({1 - B} + {B} * qdl * s.doc_count
         / CAST(s.sum_ttf AS DOUBLE))) AS score
    FROM tf, stats s, dfs d WHERE sfreq > 0)
SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
         AS rank, doc_id
FROM scored ORDER BY score DESC, doc_id LIMIT 10""",
        "facet_ssdv": f"""
            WITH toks AS (SELECT doc_id, {TOKS} AS ts FROM documents),
            m AS (SELECT doc_id FROM toks
                  WHERE list_contains(ts, 'filter')),
            v AS (SELECT unnest(list_distinct([d.lang, d.source]))
                    AS label
                  FROM documents d JOIN m USING (doc_id)),
            g AS (SELECT label, count(*) AS cnt FROM v GROUP BY label)
            SELECT CAST(row_number() OVER (ORDER BY cnt DESC, label)
                        AS BIGINT) AS rank, label, cnt
            FROM g QUALIFY rank <= 8
            ORDER BY rank""",
        "facet_taxonomy": f"""
            WITH toks AS (SELECT doc_id, {TOKS} AS ts FROM documents),
            m AS (SELECT doc_id FROM toks
                  WHERE list_contains(ts, 'filter')),
            j AS (SELECT d.source, d.lang FROM documents d
                  JOIN m USING (doc_id)),
            g0 AS (SELECT source AS label, count(*) AS cnt FROM j
                   GROUP BY source),
            l0 AS (SELECT CAST(0 AS BIGINT) AS depth,
                     CAST(row_number() OVER (ORDER BY cnt DESC, label)
                          AS BIGINT) AS rank, label, cnt
                   FROM g0 QUALIFY rank <= 5),
            g1 AS (SELECT lang AS label, count(*) AS cnt FROM j
                   WHERE source = 'src3' GROUP BY lang),
            l1 AS (SELECT CAST(1 AS BIGINT) AS depth,
                     CAST(row_number() OVER (ORDER BY cnt DESC, label)
                          AS BIGINT) AS rank, label, cnt
                   FROM g1 QUALIFY rank <= 5)
            SELECT depth, rank, label, cnt FROM l0
            UNION ALL SELECT depth, rank, label, cnt FROM l1""",
        "stem_term_top10": _bm25_sql(
            ["run", "connect", "relat"], 10, False,
            src_sql=_stem_src_sql(), toks=_stem_toks()),
        "cjk_bigram_top10": _bm25_sql(
            ["中文", "索引"], 10, False,
            src_sql=_cjk_src_sql(), toks=_cjk_toks()),
        "phonetic_term_top10": _bm25_sql(
            ['s530', 'a261'], 10, False,
            src_sql=_phon_src_sql(), toks=_phon_toks()),
        "synonym_analyzer_top10": _bm25_sql(
            ["fast", "fox"], 10, False,
            src_sql=_syn_src_sql(), toks=_syn_toks()),
        "ascii_fold_top10": _bm25_sql(
            ["cafe", "zurich", "strasse"], 10, False,
            src_sql=_fold_src_sql(), toks=_fold_toks()),
        "unicode_emoji_top10": _bm25_sql(
            ["🍕", "🇺🇸", "👍🏻"], 10, False,
            src_sql=_emoji_src_sql(), toks=_uni_toks()),
        "payload_sum_top10": f"""
WITH toks AS (SELECT doc_id,
              list_filter(regexp_split_to_array(lower(text), ' +'),
                          t -> t <> '') AS ts
              FROM ({_pay_src_sql()})),
pay AS (SELECT doc_id,
        list_filter(ts, t -> t = 'quality' OR t LIKE 'quality|%') AS occ
        FROM toks),
agg AS (SELECT doc_id, len(occ) AS cnt,
        list_sum(list_transform(occ, x -> CASE WHEN strpos(x, '|') > 0
            THEN COALESCE(TRY_CAST(string_split(x, '|')[2] AS BIGINT), 0)
            ELSE 0 END)) AS pay
        FROM pay)
SELECT CAST(row_number() OVER (ORDER BY pay DESC, doc_id) AS BIGINT)
         AS rank, doc_id, CAST(pay AS BIGINT) AS score
FROM agg WHERE cnt > 0
ORDER BY pay DESC, doc_id LIMIT 10""",
        "shingle_term_top10": _bm25_sql(
            ["the fast", "of the"], 10, False,
            toks=_shingle_toks(), dl_toks=TOKS),
        "wildcard_phrase_top10": f"""
WITH toks AS (SELECT doc_id, {TOKS} AS ts FROM documents),
dl_t AS (SELECT doc_id, ts, len(ts) AS dl FROM toks),
stats AS (SELECT count(*) FILTER (WHERE dl > 0) AS doc_count,
                 sum(dl) AS sum_ttf FROM dl_t),
q AS (SELECT doc_id, ts, {QDL} AS qdl FROM dl_t),
ex AS (SELECT doc_id, unnest(list_distinct(ts)) AS t FROM toks),
wdf AS (SELECT t, count(*) AS df FROM ex WHERE t LIKE 's%' GROUP BY t),
widf AS (SELECT sum(ln(1 + (s.doc_count - w.df + 0.5) / (w.df + 0.5)))
           AS idf_w
         FROM wdf w, stats s),
tf AS (SELECT doc_id, qdl,
         len(list_filter(range(1, len(ts)),
             i -> ts[i] LIKE 's%' AND ts[i+1] = 'scan')) AS tf_p,
         len(list_filter(ts, t -> t = 'scan')) AS tf_c FROM q),
dfs AS (SELECT count(*) FILTER (WHERE tf_c > 0) AS df_c FROM tf),
scored AS (SELECT doc_id,
    (wi.idf_w
     + ln(1 + (s.doc_count - d.df_c + 0.5) / (d.df_c + 0.5))) * tf_p
      / (tf_p + {K1} * ({1 - B} + {B} * qdl * s.doc_count
         / CAST(s.sum_ttf AS DOUBLE))) AS score
    FROM tf, stats s, dfs d, widf wi WHERE tf_p > 0)
SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
         AS rank, doc_id
FROM scored ORDER BY score DESC, doc_id LIMIT 10""",
        "multi_phrase_top10": f"""
WITH toks AS (SELECT doc_id, {TOKS} AS ts FROM documents),
dl_t AS (SELECT doc_id, ts, len(ts) AS dl FROM toks),
stats AS (SELECT count(*) FILTER (WHERE dl > 0) AS doc_count,
                 sum(dl) AS sum_ttf FROM dl_t),
q AS (SELECT doc_id, ts, {QDL} AS qdl FROM dl_t),
tf AS (SELECT doc_id, qdl,
         len(list_filter(range(1, len(ts)),
             i -> (ts[i] = 'fast' OR ts[i] = 'slow')
                  AND ts[i+1] = 'scan')) AS tf_p,
         len(list_filter(ts, t -> t = 'fast')) AS tf_a,
         len(list_filter(ts, t -> t = 'slow')) AS tf_b,
         len(list_filter(ts, t -> t = 'scan')) AS tf_c FROM q),
dfs AS (SELECT count(*) FILTER (WHERE tf_a > 0) AS df_a,
               count(*) FILTER (WHERE tf_b > 0) AS df_b,
               count(*) FILTER (WHERE tf_c > 0) AS df_c FROM tf),
scored AS (SELECT doc_id,
    (ln(1 + (s.doc_count - d.df_a + 0.5) / (d.df_a + 0.5))
     + ln(1 + (s.doc_count - d.df_b + 0.5) / (d.df_b + 0.5))
     + ln(1 + (s.doc_count - d.df_c + 0.5) / (d.df_c + 0.5))) * tf_p
      / (tf_p + {K1} * ({1 - B} + {B} * qdl * s.doc_count
         / CAST(s.sum_ttf AS DOUBLE))) AS score
    FROM tf, stats s, dfs d WHERE tf_p > 0)
SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
         AS rank, doc_id
FROM scored ORDER BY score DESC, doc_id LIMIT 10""",
        "edge_ngram_prefix_top10": _bm25_sql(
            ["sca", "col", "qu"], 10, False,
            toks=_edgegram_toks(), dl_toks=TOKS),
        "ngram_infix_top10": _bm25_sql(
            ["ast", "olu", "rea"], 10, False,
            toks=_ngram_toks(), dl_toks=TOKS),
        "unicode_numeric_top10": _bm25_sql(
            ["2.4.1", "192.168.0.1", "3.14"], 10, False,
            src_sql=_num_src_sql(), toks=_uni_toks()),
        "surround_query": f"""
            WITH t AS (SELECT doc_id, {TOKS} AS ts FROM documents),
            p AS (SELECT doc_id,
                    list_filter(range(1, len(ts)+1),
                                i -> ts[i] = 'filter') AS pf,
                    list_filter(range(1, len(ts)+1),
                                i -> ts[i] = 'join') AS pj,
                    len(list_filter(ts, x -> x = 'window')) AS nw
                  FROM t)
            SELECT doc_id FROM p
            WHERE nw = 0
              AND len(list_filter(pf, a ->
                    len(list_filter(pj, b -> abs(a - b) <= 2)) > 0)) > 0""",
        "intervals_ordered": f"""
            WITH t AS (SELECT doc_id, {TOKS} AS ts FROM documents),
            p AS (SELECT doc_id,
                    list_filter(range(1, len(ts)+1), i -> ts[i] = 'key')
                      AS pk,
                    list_filter(range(1, len(ts)+1), i -> ts[i] = 'hash'
                      OR ts[i] = 'row') AS px
                  FROM t)
            SELECT doc_id FROM p
            WHERE len(list_filter(pk, a ->
                    len(list_filter(px, b -> b > a AND b - a - 1 <= 4))
                    > 0)) > 0""",
        "span_near": f"""
            WITH t AS (SELECT doc_id, {TOKS} AS ts FROM documents),
            p AS (SELECT doc_id,
                    list_filter(range(1, len(ts)+1), i -> ts[i] = 'key')
                      AS pa,
                    list_filter(range(1, len(ts)+1), i -> ts[i] = 'hash')
                      AS pb,
                    list_filter(range(1, len(ts)+1), i -> ts[i] = 'row')
                      AS pc
                  FROM t)
            SELECT doc_id FROM p
            WHERE len(list_filter(pa, p1 ->
                    len(list_filter(pb, p2 -> p2 > p1 AND
                      len(list_filter(pc, p3 -> p3 > p2 AND
                        p3 - p1 - 2 <= 6)) > 0)) > 0)) > 0""",
        "span_near_unordered": f"""
            WITH t AS (SELECT doc_id, {TOKS} AS ts FROM documents),
            p AS (SELECT doc_id,
                    list_filter(range(1, len(ts)+1), i -> ts[i] = 'key')
                      AS pa,
                    list_filter(range(1, len(ts)+1), i -> ts[i] = 'hash')
                      AS pb,
                    list_filter(range(1, len(ts)+1), i -> ts[i] = 'row')
                      AS pc
                  FROM t)
            SELECT doc_id FROM p
            WHERE len(list_filter(pa, p1 ->
                    len(list_filter(pb, p2 ->
                      len(list_filter(pc, p3 ->
                        greatest(p1, p2, p3) - least(p1, p2, p3) - 2
                          <= 4)) > 0)) > 0)) > 0""",
        # DirectSpellChecker: candidates share the first char (prefix =
        # max(minPrefix, maxEdits-1) = 1), OSA distance <= 1 — at d <= 1
        # OSA and DuckDB's unrestricted damerau_levenshtein coincide
        # exactly; score = 1 - d/min(len) >= 0.5
        "spell_correct": f"""
WITH toks AS (SELECT doc_id, {TOKS} AS ts FROM documents),
ex AS (SELECT doc_id, unnest(ts) AS t FROM toks),
dfs AS (SELECT t AS term, count(DISTINCT doc_id) AS df FROM ex GROUP BY t),
cand AS (SELECT term, df, damerau_levenshtein(term, 'fitler') AS d
         FROM dfs
         WHERE substr(term, 1, 1) = 'f' AND term <> 'fitler'
           AND len(term) BETWEEN 5 AND 7
           AND damerau_levenshtein(term, 'fitler') <= 1
           AND 1.0 - damerau_levenshtein(term, 'fitler')
               / least(6.0, len(term)) >= 0.5)
SELECT CAST(row_number() OVER (ORDER BY 1.0 - d / least(6.0, len(term))
         DESC, df DESC, term) AS BIGINT) AS rank,
       term, CAST(df AS BIGINT) AS doc_freq
FROM cand
ORDER BY 1.0 - d / least(6.0, len(term)) DESC, df DESC, term LIMIT 5""",
        # block join: per-doc bm25('filter') summed per parent bucket
        "block_join_top10": f"""
WITH toks AS (SELECT doc_id, {TOKS} AS ts FROM documents),
dl_t AS (SELECT doc_id, ts, len(ts) AS dl FROM toks),
stats AS (SELECT count(*) FILTER (WHERE dl > 0) AS doc_count,
                 sum(dl) AS sum_ttf FROM dl_t),
q AS (SELECT doc_id, ts, {QDL} AS qdl FROM dl_t),
tf AS (SELECT doc_id, qdl,
         len(list_filter(ts, t -> t = 'filter')) AS tf_a FROM q),
dfs AS (SELECT count(*) FILTER (WHERE tf_a > 0) AS df_a FROM tf),
scored AS (SELECT doc_id // 10 AS parent,
    ln(1 + (s.doc_count - d.df_a + 0.5) / (d.df_a + 0.5)) * tf_a
      / (tf_a + {K1} * ({1 - B} + {B} * qdl * s.doc_count
         / CAST(s.sum_ttf AS DOUBLE))) AS score
    FROM tf, stats s, dfs d WHERE tf_a > 0),
rolled AS (SELECT parent, sum(score) AS score,
                  count(*) AS child_hits
           FROM scored GROUP BY parent)
SELECT CAST(row_number() OVER (ORDER BY score DESC, parent) AS BIGINT)
         AS rank, parent, child_hits
FROM rolled ORDER BY score DESC, parent LIMIT 10""",
        # percolation: each registered query contributes its match set
        "percolate": f"""
WITH t AS (SELECT doc_id, {TOKS} AS ts FROM documents)
SELECT 'q_term' AS query_id, doc_id FROM t
  WHERE list_contains(ts, 'filter')
UNION ALL
SELECT 'q_conj', doc_id FROM t
  WHERE list_contains(ts, 'group') AND list_contains(ts, 'query')
UNION ALL
SELECT 'q_phrase', doc_id FROM t
  WHERE len(list_filter(range(1, len(ts)),
        i -> ts[i] = 'the' AND ts[i+1] = 'fast')) > 0
UNION ALL
SELECT 'q_not', doc_id FROM t
  WHERE NOT list_contains(ts, 'the')""",
        # identical semantics through the indexed presearcher
        "percolate_indexed": f"""
WITH t AS (SELECT doc_id, {TOKS} AS ts FROM documents)
SELECT 'q_term' AS query_id, doc_id FROM t
  WHERE list_contains(ts, 'filter')
UNION ALL
SELECT 'q_conj', doc_id FROM t
  WHERE list_contains(ts, 'group') AND list_contains(ts, 'query')
UNION ALL
SELECT 'q_phrase', doc_id FROM t
  WHERE len(list_filter(range(1, len(ts)),
        i -> ts[i] = 'the' AND ts[i+1] = 'fast')) > 0
UNION ALL
SELECT 'q_not', doc_id FROM t
  WHERE NOT list_contains(ts, 'the')""",
        # FunctionScoreQuery.boostByValue: bm25(filter) * dl (exact stored
        # doc length, not the quantized norm)
        "function_score_top10": f"""
WITH toks AS (SELECT doc_id, {TOKS} AS ts FROM documents),
dl_t AS (SELECT doc_id, ts, len(ts) AS dl FROM toks),
stats AS (SELECT count(*) FILTER (WHERE dl > 0) AS doc_count,
                 sum(dl) AS sum_ttf FROM dl_t),
q AS (SELECT doc_id, ts, dl, {QDL} AS qdl FROM dl_t),
tf AS (SELECT doc_id, qdl, dl,
         len(list_filter(ts, t -> t = 'filter')) AS tf_a FROM q),
dfs AS (SELECT count(*) FILTER (WHERE tf_a > 0) AS df_a FROM tf),
scored AS (SELECT doc_id,
    ln(1 + (s.doc_count - d.df_a + 0.5) / (d.df_a + 0.5)) * tf_a
      / (tf_a + {K1} * ({1 - B} + {B} * qdl * s.doc_count
         / CAST(s.sum_ttf AS DOUBLE))) * dl AS score
    FROM tf, stats s, dfs d WHERE tf_a > 0)
SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
         AS rank, doc_id
FROM scored ORDER BY score DESC, doc_id LIMIT 10""",
        # JoinUtil: per-join-value max of the from-query's BM25 scores,
        # then every doc carrying that value scores the aggregate
        "join_query_top10": f"""
WITH toks AS (SELECT doc_id, {TOKS} AS ts FROM documents),
dl_t AS (SELECT doc_id, ts, len(ts) AS dl FROM toks),
stats AS (SELECT count(*) FILTER (WHERE dl > 0) AS doc_count,
                 sum(dl) AS sum_ttf FROM dl_t),
q AS (SELECT doc_id, ts, dl, {QDL} AS qdl FROM dl_t),
tf AS (SELECT doc_id, qdl, dl,
         len(list_filter(ts, t -> t = 'filter')) AS tf_a FROM q),
dfs AS (SELECT count(*) FILTER (WHERE tf_a > 0) AS df_a FROM tf),
scored AS (SELECT doc_id, dl,
    ln(1 + (s.doc_count - d.df_a + 0.5) / (d.df_a + 0.5)) * tf_a
      / (tf_a + {K1} * ({1 - B} + {B} * qdl * s.doc_count
         / CAST(s.sum_ttf AS DOUBLE))) AS score
    FROM tf, stats s, dfs d WHERE tf_a > 0),
vals AS (SELECT dl, max(score) AS vscore FROM scored GROUP BY dl)
SELECT CAST(row_number() OVER (ORDER BY v.vscore DESC, t.doc_id)
         AS BIGINT) AS rank, t.doc_id, CAST(t.dl AS BIGINT) AS join_value
FROM tf t JOIN vals v ON t.dl = v.dl
ORDER BY v.vscore DESC, t.doc_id LIMIT 10""",
        # SpanOrQuery: freq = tf_a + tf_b, weight = idf_a + idf_b
        "span_or_top10": f"""
WITH toks AS (SELECT doc_id, {TOKS} AS ts FROM documents),
dl_t AS (SELECT doc_id, ts, len(ts) AS dl FROM toks),
stats AS (SELECT count(*) FILTER (WHERE dl > 0) AS doc_count,
                 sum(dl) AS sum_ttf FROM dl_t),
q AS (SELECT doc_id, ts, {QDL} AS qdl FROM dl_t),
tf AS (SELECT doc_id, qdl,
         len(list_filter(ts, t -> t = 'merge')) AS tf_a,
         len(list_filter(ts, t -> t = 'stream')) AS tf_b FROM q),
dfs AS (SELECT count(*) FILTER (WHERE tf_a > 0) AS df_a,
               count(*) FILTER (WHERE tf_b > 0) AS df_b FROM tf),
scored AS (SELECT doc_id,
    (ln(1 + (s.doc_count - d.df_a + 0.5) / (d.df_a + 0.5))
     + ln(1 + (s.doc_count - d.df_b + 0.5) / (d.df_b + 0.5)))
      * (tf_a + tf_b)
      / ((tf_a + tf_b) + {K1} * ({1 - B} + {B} * qdl * s.doc_count
         / CAST(s.sum_ttf AS DOUBLE))) AS score
    FROM tf, stats s, dfs d WHERE tf_a + tf_b > 0)
SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
         AS rank, doc_id
FROM scored ORDER BY score DESC, doc_id LIMIT 10""",
        # SpanFirstQuery: freq = occurrences among the first 20 positions
        "span_first_top10": f"""
WITH toks AS (SELECT doc_id, {TOKS} AS ts FROM documents),
dl_t AS (SELECT doc_id, ts, len(ts) AS dl FROM toks),
stats AS (SELECT count(*) FILTER (WHERE dl > 0) AS doc_count,
                 sum(dl) AS sum_ttf FROM dl_t),
q AS (SELECT doc_id, ts, {QDL} AS qdl FROM dl_t),
tf AS (SELECT doc_id, qdl,
         len(list_filter(ts[1:20], t -> t = 'filter')) AS tf_p,
         len(list_filter(ts, t -> t = 'filter')) AS tf_a FROM q),
dfs AS (SELECT count(*) FILTER (WHERE tf_a > 0) AS df_a FROM tf),
scored AS (SELECT doc_id,
    ln(1 + (s.doc_count - d.df_a + 0.5) / (d.df_a + 0.5)) * tf_p
      / (tf_p + {K1} * ({1 - B} + {B} * qdl * s.doc_count
         / CAST(s.sum_ttf AS DOUBLE))) AS score
    FROM tf, stats s, dfs d WHERE tf_p > 0)
SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
         AS rank, doc_id
FROM scored ORDER BY score DESC, doc_id LIMIT 10""",
        # index-time sort: global engine order (n_chars, segment, docid)
        # == (n_chars, doc_id) because segments are doc_id-range-ordered
        # and within-segment docids sort by (n_chars, doc_id)
        "index_sorted_topk": """
            SELECT CAST(row_number() OVER (ORDER BY n_chars, doc_id)
                     AS BIGINT) AS rank, doc_id, n_chars
            FROM documents ORDER BY n_chars, doc_id LIMIT 10""",
        # SpanScorer sloppyFreq (SpanScorer.java:109): per first-term
        # anchor, the greedy next 'hash' occurrence; weight 1/(1+width);
        # weight = summed idfs (SpanWeight.buildSimWeight). slop=1 keeps
        # every addend dyadic so double == float32 accumulation exactly
        "span_near_scored_top10": f"""
WITH toks AS (SELECT doc_id, {TOKS} AS ts FROM documents),
dl_t AS (SELECT doc_id, ts, len(ts) AS dl FROM toks),
stats AS (SELECT count(*) FILTER (WHERE dl > 0) AS doc_count,
                 sum(dl) AS sum_ttf FROM dl_t),
q AS (SELECT doc_id, ts, {QDL} AS qdl FROM dl_t),
p AS (SELECT doc_id, qdl, ts,
        list_filter(range(1, len(ts)+1), i -> ts[i] = 'key') AS pa,
        list_filter(range(1, len(ts)+1), i -> ts[i] = 'hash') AS pb
      FROM q),
tf AS (SELECT doc_id, qdl,
         list_sum(list_transform(pa, p1 ->
           CASE WHEN len(list_filter(pb, p2 -> p2 > p1)) > 0
                 AND list_min(list_filter(pb, p2 -> p2 > p1)) - p1 <= 2
                THEN 1.0 / (list_min(list_filter(pb, p2 -> p2 > p1)) - p1)
                ELSE 0 END)) AS sfreq,
         len(list_filter(ts, t -> t = 'key')) AS tf_a,
         len(list_filter(ts, t -> t = 'hash')) AS tf_b FROM p),
dfs AS (SELECT count(*) FILTER (WHERE tf_a > 0) AS df_a,
               count(*) FILTER (WHERE tf_b > 0) AS df_b FROM tf),
scored AS (SELECT doc_id,
    (ln(1 + (s.doc_count - d.df_a + 0.5) / (d.df_a + 0.5))
     + ln(1 + (s.doc_count - d.df_b + 0.5) / (d.df_b + 0.5))) * sfreq
      / (sfreq + {K1} * ({1 - B} + {B} * qdl * s.doc_count
         / CAST(s.sum_ttf AS DOUBLE))) AS score
    FROM tf, stats s, dfs d WHERE sfreq > 0)
SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
         AS rank, doc_id
FROM scored ORDER BY score DESC, doc_id LIMIT 10""",
        "bm25_top10": _bm25_sql(["filter", "join", "window"], 10, False),
        "classic_top10": _classic_sql(["filter", "join", "window"], 10),
        "lmdirichlet_top10": _lmd_sql(["filter", "join", "window"], 10),
        "lmjm_top10": _lmjm_sql(["filter", "join", "window"], 10),
        "dfr_top10": _dfr_sql(["filter", "join", "window"], 10),
        "ib_top10": _ib_sql(["filter", "join", "window"], 10),
        "axiomatic_top10": _axiomatic_sql(["filter", "join", "window"], 10),
        "dfi_top10": _dfi_sql(["filter", "join", "window"], 10),
        "bm25_conj_top10": _bm25_sql(["group", "query"], 10, True),
        # synonym pseudo-term: docFreq = max over terms, freq = sum
        # (SynonymQuery.java:233-252)
        "bm25_synonym_top10": f"""
WITH toks AS (SELECT doc_id, {TOKS} AS ts FROM documents),
dl_t AS (SELECT doc_id, ts, len(ts) AS dl FROM toks),
stats AS (SELECT count(*) FILTER (WHERE dl > 0) AS doc_count,
                 sum(dl) AS sum_ttf FROM dl_t),
q AS (SELECT doc_id, ts, {QDL} AS qdl FROM dl_t),
tf AS (SELECT doc_id, qdl,
         len(list_filter(ts, t -> t = 'merge'))
           + len(list_filter(ts, t -> t = 'stream')) AS tfs,
         len(list_filter(ts, t -> t = 'merge')) AS tf_a,
         len(list_filter(ts, t -> t = 'stream')) AS tf_b FROM q),
dfs AS (SELECT greatest(count(*) FILTER (WHERE tf_a > 0),
                        count(*) FILTER (WHERE tf_b > 0)) AS df_syn FROM tf),
scored AS (SELECT doc_id,
    ln(1 + (s.doc_count - d.df_syn + 0.5) / (d.df_syn + 0.5)) * tfs
      / (tfs + {K1} * ({1 - B} + {B} * qdl * s.doc_count
         / CAST(s.sum_ttf AS DOUBLE))) AS score
    FROM tf, stats s, dfs d WHERE tfs > 0)
SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
         AS rank, doc_id
FROM scored ORDER BY score DESC, doc_id LIMIT 10""",
        # DisjunctionMaxQuery, tie_breaker=0: score = max of clause scores
        "bm25_dismax_top10": f"""
WITH toks AS (SELECT doc_id, {TOKS} AS ts FROM documents),
dl_t AS (SELECT doc_id, ts, len(ts) AS dl FROM toks),
stats AS (SELECT count(*) FILTER (WHERE dl > 0) AS doc_count,
                 sum(dl) AS sum_ttf FROM dl_t),
q AS (SELECT doc_id, ts, {QDL} AS qdl FROM dl_t),
tf AS (SELECT doc_id, qdl,
         len(list_filter(ts, t -> t = 'filter')) AS tf_a,
         len(list_filter(ts, t -> t = 'window')) AS tf_b FROM q),
dfs AS (SELECT count(*) FILTER (WHERE tf_a > 0) AS df_a,
               count(*) FILTER (WHERE tf_b > 0) AS df_b FROM tf),
scored AS (SELECT doc_id, greatest(
    CASE WHEN tf_a > 0 THEN
      ln(1 + (s.doc_count - d.df_a + 0.5) / (d.df_a + 0.5)) * tf_a
        / (tf_a + {K1} * ({1 - B} + {B} * qdl * s.doc_count
           / CAST(s.sum_ttf AS DOUBLE))) ELSE 0 END,
    CASE WHEN tf_b > 0 THEN
      ln(1 + (s.doc_count - d.df_b + 0.5) / (d.df_b + 0.5)) * tf_b
        / (tf_b + {K1} * ({1 - B} + {B} * qdl * s.doc_count
           / CAST(s.sum_ttf AS DOUBLE))) ELSE 0 END) AS score,
    tf_a + tf_b AS any_tf
    FROM tf, stats s, dfs d WHERE tf_a + tf_b > 0)
SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
         AS rank, doc_id
FROM scored ORDER BY score DESC, doc_id LIMIT 10""",
        # phrase scoring: freq = exact-phrase occurrences, idf = sum of the
        # member terms' idfs (BM25Similarity.java:172-181)
        "bm25_phrase_top10": f"""
WITH toks AS (SELECT doc_id, {TOKS} AS ts FROM documents),
dl_t AS (SELECT doc_id, ts, len(ts) AS dl FROM toks),
stats AS (SELECT count(*) FILTER (WHERE dl > 0) AS doc_count,
                 sum(dl) AS sum_ttf FROM dl_t),
q AS (SELECT doc_id, ts, {QDL} AS qdl FROM dl_t),
tf AS (SELECT doc_id, qdl,
         len(list_filter(range(1, len(ts)),
             i -> ts[i] = 'the' AND ts[i+1] = 'fast')) AS tf_p,
         len(list_filter(ts, t -> t = 'the')) AS tf_a,
         len(list_filter(ts, t -> t = 'fast')) AS tf_b FROM q),
dfs AS (SELECT count(*) FILTER (WHERE tf_a > 0) AS df_a,
               count(*) FILTER (WHERE tf_b > 0) AS df_b FROM tf),
scored AS (SELECT doc_id,
    (ln(1 + (s.doc_count - d.df_a + 0.5) / (d.df_a + 0.5))
     + ln(1 + (s.doc_count - d.df_b + 0.5) / (d.df_b + 0.5))) * tf_p
      / (tf_p + {K1} * ({1 - B} + {B} * qdl * s.doc_count
         / CAST(s.sum_ttf AS DOUBLE))) AS score
    FROM tf, stats s, dfs d WHERE tf_p > 0)
SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
         AS rank, doc_id
FROM scored ORDER BY score DESC, doc_id LIMIT 10""",
        "field_term": f"""
            SELECT doc_id
            FROM (SELECT doc_id, ({TOKS})[1:16] AS hs FROM documents)
            WHERE len(list_filter(hs, t -> t = 'fast')) > 0""",
        "multi_field_bool": _mf_bool_sql(10, 16),
        "parse_field_query": f"""
            SELECT doc_id
            FROM (SELECT doc_id, ({TOKS})[1:16] AS hs, {LANG_TOKS} AS ls
                  FROM documents)
            WHERE len(list_filter(hs, t -> t = 'fast')) > 0
              AND list_contains(ls, 'de')""",
        "mlt_top10": f"""
WITH toks AS (SELECT doc_id, {TOKS} AS ts FROM documents),
dl_t AS (SELECT doc_id, ts, len(ts) AS dl FROM toks),
stats AS (SELECT count(*) FILTER (WHERE dl > 0) AS doc_count,
                 sum(dl) AS sum_ttf FROM dl_t),
q AS (SELECT doc_id, {QDL} AS qdl FROM dl_t),
ex AS (SELECT doc_id, unnest(ts) AS t FROM toks),
src_tf AS (SELECT t, count(*) AS qtf
           FROM (SELECT unnest(ts) AS t FROM toks WHERE doc_id = 7)
           GROUP BY t HAVING count(*) >= 2),
dfs AS (SELECT t, count(DISTINCT doc_id) AS df FROM ex
        WHERE t IN (SELECT t FROM src_tf) GROUP BY t),
mlt AS (SELECT s.t, d.df FROM src_tf s JOIN dfs d ON s.t = d.t, stats st
        WHERE d.df >= 5
        ORDER BY s.qtf * (ln(st.doc_count / (d.df + 1.0)) + 1.0) DESC, s.t
        LIMIT 25),
doc_tf AS (SELECT e.doc_id, e.t, count(*) AS tf FROM ex e
           JOIN mlt m ON e.t = m.t GROUP BY 1, 2),
scored AS (SELECT dt.doc_id, sum(
    ln(1 + (st.doc_count - m.df + 0.5) / (m.df + 0.5)) * dt.tf
      / (dt.tf + {K1} * ({1 - B} + {B} * q.qdl * st.doc_count
         / CAST(st.sum_ttf AS DOUBLE)))) AS score
  FROM doc_tf dt JOIN mlt m ON dt.t = m.t JOIN q ON q.doc_id = dt.doc_id,
       stats st
  GROUP BY dt.doc_id)
SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
         AS rank, doc_id
FROM scored ORDER BY score DESC, doc_id LIMIT 10""",
        # SimpleNaiveBayesClassifier replica: doc-frequency hits,
        # add-1 smoothing, den = (sumDocFreq/N)*cnt_c + N, prior
        # ln(cnt_c)-ln(N); argmax per doc (ties: label asc)
        "classify_nb": f"""
WITH toks AS (SELECT doc_id, lang, {TOKS} AS ts FROM documents),
tr AS (SELECT * FROM toks WHERE doc_id % 3 <> 0),
te AS (SELECT doc_id, ts FROM toks WHERE doc_id % 3 = 0),
cs AS (SELECT lang AS cls, count(*) AS cnt FROM tr GROUP BY lang),
nn AS (SELECT sum(cnt) AS n FROM cs),
pairs AS (SELECT doc_id, lang AS cls, unnest(list_distinct(ts)) AS w
          FROM tr),
sdf AS (SELECT count(*) AS sdf FROM pairs),
cden AS (SELECT cs.cls, cs.cnt,
                (CAST(sdf.sdf AS DOUBLE) / CAST(nn.n AS DOUBLE))
                  * cs.cnt + nn.n AS den,
                ln(CAST(cs.cnt AS DOUBLE)) - ln(CAST(nn.n AS DOUBLE))
                  AS prior
         FROM cs, sdf, nn),
dfc AS (SELECT w, cls, count(*) AS hits FROM pairs GROUP BY w, cls),
q AS (SELECT doc_id, unnest(ts) AS w FROM te),
sc AS (SELECT q.doc_id, c.cls,
              sum(ln((coalesce(d.hits, 0) + 1.0) / c.den))
                + any_value(c.prior) AS score
       FROM q CROSS JOIN cden c
       LEFT JOIN dfc d ON d.w = q.w AND d.cls = c.cls
       GROUP BY q.doc_id, c.cls)
SELECT doc_id, cls AS label
FROM (SELECT doc_id, cls,
             row_number() OVER (PARTITION BY doc_id
               ORDER BY score DESC, cls) AS rk FROM sc)
WHERE rk = 1""",
        # fuzzy-KNN classifier: constant-score coordination counts
        # (integer-exact), then the same boost-weighted vote
        "classify_knn_fuzzy": f"""
WITH toks AS (SELECT doc_id, {TOKS} AS ts FROM documents),
ex AS (SELECT doc_id, unnest(ts) AS t FROM toks),
dict AS (SELECT DISTINCT t AS w FROM ex),
qs AS (SELECT * FROM (VALUES ('fitler'), ('joinn'), ('winodw')) q(qt)),
exp AS (SELECT qs.qt, d.w FROM dict d, qs
        WHERE substring(d.w, 1, 2) = substring(qs.qt, 1, 2)
          AND damerau_levenshtein(d.w, qs.qt) <= 1),
m AS (SELECT DISTINCT e.doc_id, x.qt FROM ex e JOIN exp x ON e.t = x.w),
sc AS (SELECT doc_id, count(*) AS score FROM m GROUP BY doc_id),
top AS (SELECT doc_id, score FROM sc
        ORDER BY score DESC, doc_id LIMIT 10),
mx AS (SELECT max(score) AS m FROM top),
v AS (SELECT d.lang,
             sum(CAST(t.score AS DOUBLE) / CAST(mx.m AS DOUBLE)) / 10.0
               AS vs,
             count(*) AS n_votes
      FROM top t JOIN documents d ON t.doc_id = d.doc_id, mx
      GROUP BY d.lang)
SELECT CAST(row_number() OVER (ORDER BY vs DESC, lang) AS BIGINT)
         AS rank,
       lang AS label, CAST(n_votes AS BIGINT) AS n_votes
FROM v ORDER BY vs DESC, lang""",
        # KNN classifier: the mlt_top10 pipeline, then boost-weighted
        # class votes sum(score/maxScore)/k over the 10 neighbors
        "classify_knn_top": f"""
WITH toks AS (SELECT doc_id, {TOKS} AS ts FROM documents),
dl_t AS (SELECT doc_id, ts, len(ts) AS dl FROM toks),
stats AS (SELECT count(*) FILTER (WHERE dl > 0) AS doc_count,
                 sum(dl) AS sum_ttf FROM dl_t),
q AS (SELECT doc_id, {QDL} AS qdl FROM dl_t),
ex AS (SELECT doc_id, unnest(ts) AS t FROM toks),
src_tf AS (SELECT t, count(*) AS qtf
           FROM (SELECT unnest(ts) AS t FROM toks WHERE doc_id = 7)
           GROUP BY t HAVING count(*) >= 2),
dfs AS (SELECT t, count(DISTINCT doc_id) AS df FROM ex
        WHERE t IN (SELECT t FROM src_tf) GROUP BY t),
mlt AS (SELECT s.t, d.df FROM src_tf s JOIN dfs d ON s.t = d.t, stats st
        WHERE d.df >= 5
        ORDER BY s.qtf * (ln(st.doc_count / (d.df + 1.0)) + 1.0) DESC, s.t
        LIMIT 25),
doc_tf AS (SELECT e.doc_id, e.t, count(*) AS tf FROM ex e
           JOIN mlt m ON e.t = m.t GROUP BY 1, 2),
scored AS (SELECT dt.doc_id, sum(
    ln(1 + (st.doc_count - m.df + 0.5) / (m.df + 0.5)) * dt.tf
      / (dt.tf + {K1} * ({1 - B} + {B} * q.qdl * st.doc_count
         / CAST(st.sum_ttf AS DOUBLE)))) AS score
  FROM doc_tf dt JOIN mlt m ON dt.t = m.t JOIN q ON q.doc_id = dt.doc_id,
       stats st
  GROUP BY dt.doc_id),
top AS (SELECT doc_id, score FROM scored
        ORDER BY score DESC, doc_id LIMIT 10),
mx AS (SELECT max(score) AS m FROM top),
v AS (SELECT d.lang, sum(t.score / mx.m) / 10.0 AS vs,
             count(*) AS n_votes
      FROM top t JOIN documents d ON t.doc_id = d.doc_id, mx
      GROUP BY d.lang)
SELECT CAST(row_number() OVER (ORDER BY vs DESC, lang) AS BIGINT)
         AS rank,
       lang AS label, CAST(n_votes AS BIGINT) AS n_votes
FROM v ORDER BY vs DESC, lang""",
        # FuzzySuggester replica: same j-range levenshtein-on-prefix
        # conditions + planning-time transposition variants
        "fuzzy_suggest": f"""
            SELECT CAST(row_number() OVER (ORDER BY weight DESC, term)
                     AS BIGINT) AS rank, term, weight
            FROM (SELECT t AS term,
                         CAST(count(DISTINCT doc_id) AS BIGINT) AS weight
                  FROM (SELECT doc_id, unnest({TOKS}) AS t FROM documents)
                  WHERE t LIKE 's%'
                    AND (levenshtein(substring(t, 1, 3), 'sacn') <= 1
                      OR levenshtein(substring(t, 1, 4), 'sacn') <= 1
                      OR levenshtein(substring(t, 1, 5), 'sacn') <= 1
                      OR t LIKE 'scan%' OR t LIKE 'sanc%')
                  GROUP BY t)
            ORDER BY weight DESC, term LIMIT 10""",
        "suggest": f"""
            SELECT CAST(row_number() OVER (ORDER BY weight DESC, term)
                     AS BIGINT) AS rank, term, weight
            FROM (SELECT t AS term,
                         CAST(count(DISTINCT doc_id) AS BIGINT) AS weight
                  FROM (SELECT doc_id, unnest({TOKS}) AS t FROM documents)
                  WHERE t LIKE 's%'
                  GROUP BY t)
            ORDER BY weight DESC, term LIMIT 10""",
        "diversified_topk": f"""
WITH toks AS (SELECT doc_id, lang, {TOKS} AS ts FROM documents),
dl_t AS (SELECT doc_id, lang, ts, len(ts) AS dl FROM toks),
stats AS (SELECT count(*) FILTER (WHERE dl > 0) AS doc_count,
                 sum(dl) AS sum_ttf FROM dl_t),
q AS (SELECT doc_id, lang, ts, {QDL} AS qdl FROM dl_t),
tf AS (SELECT doc_id, lang, qdl,
         len(list_filter(ts, t -> t = 'filter')) AS tf_0,
         len(list_filter(ts, t -> t = 'join')) AS tf_1 FROM q),
dfs AS (SELECT count(*) FILTER (WHERE tf_0 > 0) AS df_0,
               count(*) FILTER (WHERE tf_1 > 0) AS df_1 FROM tf),
scored AS (SELECT doc_id, lang,
    (CASE WHEN tf_0 > 0 THEN
       ln(1 + (s.doc_count - d.df_0 + 0.5) / (d.df_0 + 0.5)) * tf_0
         / (tf_0 + {K1} * ({1 - B} + {B} * qdl * s.doc_count
            / CAST(s.sum_ttf AS DOUBLE))) ELSE 0 END)
  + (CASE WHEN tf_1 > 0 THEN
       ln(1 + (s.doc_count - d.df_1 + 0.5) / (d.df_1 + 0.5)) * tf_1
         / (tf_1 + {K1} * ({1 - B} + {B} * qdl * s.doc_count
            / CAST(s.sum_ttf AS DOUBLE))) ELSE 0 END) AS score,
    tf_0 + tf_1 AS any_tf
    FROM tf, stats s, dfs d),
kept AS (SELECT lang, doc_id, score,
        row_number() OVER (PARTITION BY lang
                           ORDER BY score DESC, doc_id) AS kr
      FROM scored WHERE any_tf > 0)
SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
         AS rank, lang, doc_id
FROM kept WHERE kr <= 2
ORDER BY score DESC, doc_id LIMIT 5""",
        "distinct_values_per_group": f"""
WITH toks AS (SELECT doc_id, lang, source, {TOKS} AS ts FROM documents)
SELECT lang,
       array_to_string(list_sort(list(DISTINCT source)), ',') AS sources,
       CAST(count(DISTINCT source) AS BIGINT) AS n_distinct
FROM toks WHERE list_contains(ts, 'filter')
GROUP BY lang ORDER BY lang""",
        "grouped_topk": f"""
WITH toks AS (SELECT doc_id, lang, {TOKS} AS ts FROM documents),
dl_t AS (SELECT doc_id, lang, ts, len(ts) AS dl FROM toks),
stats AS (SELECT count(*) FILTER (WHERE dl > 0) AS doc_count,
                 sum(dl) AS sum_ttf FROM dl_t),
q AS (SELECT doc_id, lang, ts, {QDL} AS qdl FROM dl_t),
tf AS (SELECT doc_id, lang, qdl,
         len(list_filter(ts, t -> t = 'filter')) AS tf_0,
         len(list_filter(ts, t -> t = 'join')) AS tf_1 FROM q),
dfs AS (SELECT count(*) FILTER (WHERE tf_0 > 0) AS df_0,
               count(*) FILTER (WHERE tf_1 > 0) AS df_1 FROM tf),
scored AS (SELECT doc_id, lang,
    (CASE WHEN tf_0 > 0 THEN
       ln(1 + (s.doc_count - d.df_0 + 0.5) / (d.df_0 + 0.5)) * tf_0
         / (tf_0 + {K1} * ({1 - B} + {B} * qdl * s.doc_count
            / CAST(s.sum_ttf AS DOUBLE))) ELSE 0 END)
  + (CASE WHEN tf_1 > 0 THEN
       ln(1 + (s.doc_count - d.df_1 + 0.5) / (d.df_1 + 0.5)) * tf_1
         / (tf_1 + {K1} * ({1 - B} + {B} * qdl * s.doc_count
            / CAST(s.sum_ttf AS DOUBLE))) ELSE 0 END) AS score,
    tf_0 + tf_1 AS any_tf
    FROM tf, stats s, dfs d)
SELECT lang, CAST(rank AS BIGINT) AS rank, doc_id
FROM (SELECT lang, doc_id,
        row_number() OVER (PARTITION BY lang
                           ORDER BY score DESC, doc_id) AS rank
      FROM scored WHERE any_tf > 0)
WHERE rank <= 2""",
        "facet_lang": f"""
            SELECT lang, CAST(count(*) AS BIGINT) AS cnt
            FROM (SELECT doc_id, lang, {TOKS} AS ts FROM documents)
            WHERE list_contains(ts, 'filter') GROUP BY lang""",
        "facet_drill_sideways": f"""
            WITH m AS (SELECT doc_id, lang, source FROM
                       (SELECT doc_id, lang, source, {TOKS} AS ts
                        FROM documents)
                       WHERE list_contains(ts, 'filter'))
            SELECT 'lang' AS dim, lang AS value,
                   CAST(count(*) AS BIGINT) AS cnt
            FROM m WHERE source = 'src1' GROUP BY lang
            UNION ALL
            SELECT 'source', source, CAST(count(*) AS BIGINT)
            FROM m WHERE lang = 'en' GROUP BY source""",
        "facet_range": f"""
            WITH m AS (SELECT len({TOKS}) AS dl FROM documents
                       WHERE list_contains({TOKS}, 'filter'))
            SELECT 'short' AS range_label,
                   CAST(count(*) FILTER (WHERE dl >= 0 AND dl < 20)
                        AS BIGINT) AS cnt FROM m
            UNION ALL
            SELECT 'medium', CAST(count(*) FILTER (WHERE dl >= 20 AND
                        dl < 60) AS BIGINT) FROM m
            UNION ALL
            SELECT 'long', CAST(count(*) FILTER (WHERE dl >= 60 AND
                        dl < 1000000000) AS BIGINT) FROM m""",
        "collection_stats": f"""
            WITH toks AS (SELECT {TOKS} AS ts FROM documents)
            SELECT (SELECT CAST(count(*) FILTER (WHERE len(ts) > 0)
                               AS BIGINT) FROM toks) AS doc_count,
                   (SELECT CAST(sum(len(ts)) AS BIGINT) FROM toks)
                     AS sum_ttf,
                   (SELECT CAST(count(DISTINCT t) AS BIGINT)
                    FROM (SELECT unnest(ts) AS t FROM toks)) AS n_terms""",
        "norms": f"""
            SELECT doc_id, CAST(dl AS BIGINT) AS dl, {QDL} AS qdl
            FROM (SELECT doc_id, len({TOKS}) AS dl FROM documents)""",
        "term_stats": f"""
            SELECT t AS term, CAST(count(DISTINCT doc_id) AS BIGINT)
                     AS doc_freq,
                   CAST(count(*) AS BIGINT) AS total_term_freq
            FROM (SELECT doc_id, unnest({TOKS}) AS t FROM documents)
            WHERE t IN ('filter','join','window','group','query')
            GROUP BY t""",
        "dedup_exact": """
            SELECT doc_id, sha, CAST(cnt AS BIGINT) AS dup_count
            FROM (SELECT doc_id, sha256(text) AS sha,
                         count(*) OVER (PARTITION BY sha256(text)) AS cnt
                  FROM documents)""",
        # stop-shingle cap (df <= 1000) mirrors the engine's default
        # max_shingle_df skew guard
        "dedup_jaccard": f"""
            WITH ex AS (SELECT doc_id, unnest({shingle}) AS sg
                        FROM (SELECT doc_id, {TOKS} AS ts FROM documents)),
            s AS (SELECT doc_id, list(sg) AS sh FROM ex
                  WHERE sg IN (SELECT sg FROM ex GROUP BY sg
                               HAVING count(*) <= 1000)
                  GROUP BY doc_id)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM s a JOIN s b ON a.doc_id < b.doc_id
            WHERE len(list_intersect(a.sh, b.sh)) * 1.0
                  / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
                  >= 0.5""",
        # deterministic md5-hash Bernoulli selection (the dedup
        # md5_hash31 model); threshold floor(rate * (2^31-1)) — int()
        # truncation in Python == floor in SQL for positive rates
        "sample_fraction": """
            SELECT doc_id FROM documents
            WHERE ('0x' || substring(md5('7:' || doc_id::VARCHAR),
                                     1, 8))::BIGINT % 2147483647
                  < CAST(floor(CAST(0.2 AS DOUBLE) * 2147483647)
                         AS BIGINT)""",
        # mixture rates replicated op-for-op in doubles: nstar =
        # min(cnt/p), rate = min(1, p*nstar/cnt) — identical IEEE ops in
        # an identical order, so the kept id set hashes equal
        "sample_mixture": """
            WITH c AS (SELECT lang, count(*) AS cnt FROM documents
                       GROUP BY lang),
            p AS (SELECT * FROM (VALUES
                    ('de', CAST(0.2 AS DOUBLE)),
                    ('en', CAST(0.5 AS DOUBLE)),
                    ('zh', CAST(0.3 AS DOUBLE))) t(lang, tp)),
            ns AS (SELECT min(CAST(c.cnt AS DOUBLE) / p.tp) AS nstar
                   FROM c JOIN p USING (lang)),
            r AS (SELECT p.lang,
                         least(CAST(1.0 AS DOUBLE),
                               (p.tp * ns.nstar)
                                 / CAST(c.cnt AS DOUBLE)) AS rate
                  FROM p JOIN c USING (lang), ns)
            SELECT d.doc_id, d.lang
            FROM documents d JOIN r ON d.lang = r.lang
            WHERE ('0x' || substring(md5('11:' || d.doc_id::VARCHAR),
                                     1, 8))::BIGINT % 2147483647
                  < CAST(floor(rate * 2147483647) AS BIGINT)""",
        # 4-gram eval-overlap decontamination; bench slice doc_id%97==0.
        # Window spans via list_slice (1-based inclusive); range(1, e)
        # is empty when e <= 1, and the len guard keeps short docs out
        # on both engines.
        "decontaminate": f"""
            WITH toks AS (SELECT doc_id, {TOKS} AS ts FROM documents),
            sp AS (SELECT doc_id,
                          unnest(list_distinct(list_transform(
                            range(1, len(ts) - 2),
                            i -> array_to_string(
                                   list_slice(ts, i, i + 3), ' '))))
                            AS span
                   FROM toks WHERE len(ts) >= 4),
            b AS (SELECT DISTINCT doc_id AS bench_id, span FROM sp
                  WHERE doc_id % 97 = 0),
            t AS (SELECT DISTINCT doc_id, span FROM sp
                  WHERE doc_id % 97 <> 0)
            SELECT t.doc_id,
                   CAST(count(DISTINCT t.span) AS BIGINT)
                     AS n_overlap_ngrams,
                   CAST(count(DISTINCT b.bench_id) AS BIGINT)
                     AS n_bench_docs
            FROM t JOIN b ON t.span = b.span
            GROUP BY t.doc_id""",
        # C4-style duplicate spans: positional 8-token windows whose
        # text occurs in >= 2 distinct docs
        "dup_spans": f"""
            WITH toks AS (SELECT doc_id, {TOKS} AS ts FROM documents),
            w AS (SELECT doc_id,
                         unnest(list_transform(
                           range(1, len(ts) - 6),
                           i -> array_to_string(
                                  list_slice(ts, i, i + 7), ' ')))
                           AS span
                  FROM toks WHERE len(ts) >= 8),
            d AS (SELECT span FROM w GROUP BY span
                  HAVING count(DISTINCT doc_id) >= 2)
            SELECT w.doc_id,
                   CAST(count(*) AS BIGINT) AS n_windows,
                   CAST(count(d.span) AS BIGINT) AS n_dup_windows
            FROM w LEFT JOIN d ON w.span = d.span
            GROUP BY w.doc_id""",
        "dup_span_ranges": f"""
            WITH toks AS (SELECT doc_id, {TOKS} AS ts FROM documents),
            w AS (SELECT doc_id, i - 1 AS pos,
                         array_to_string(list_slice(ts, i, i + 7), ' ')
                           AS span
                  FROM (SELECT doc_id, ts,
                               unnest(range(1, len(ts) - 6)) AS i
                        FROM toks WHERE len(ts) >= 8)),
            d AS (SELECT span FROM w GROUP BY span
                  HAVING count(DISTINCT doc_id) >= 2),
            f AS (SELECT w.doc_id, w.pos, w.pos + 8 AS e
                  FROM w JOIN d ON w.span = d.span),
            m AS (SELECT doc_id, pos, e,
                         max(e) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING) AS prev_max
                  FROM f),
            isl AS (SELECT doc_id, pos, e,
                           sum(CASE WHEN prev_max IS NULL
                                    OR pos > prev_max THEN 1 ELSE 0 END)
                             OVER (PARTITION BY doc_id ORDER BY pos)
                             AS island
                    FROM m)
            SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
                   CAST(max(e) AS BIGINT) AS span_end
            FROM isl GROUP BY doc_id, island""",
        **_geo_sql(),
        "dedup_minhash_lsh": _minhash_lsh_sql(shingle),
        # transitive closure of the LSH pairs via a recursive CTE (the
        # oracle can afford closure at gate scale; the engine uses
        # large-star/small-star contraction, which never materializes it)
        "dedup_clusters": f"""
            WITH RECURSIVE pairs AS ({_minhash_lsh_sql(shingle)}),
            sym AS (SELECT id_a AS u, id_b AS v FROM pairs
                    UNION SELECT id_b, id_a FROM pairs),
            reach(u, v) AS (
                SELECT u, v FROM sym
                UNION
                SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
            ),
            lbl AS (SELECT u AS doc_id, least(min(v), u) AS component
                    FROM reach GROUP BY u)
            SELECT d.doc_id, coalesce(l.component, d.doc_id) AS component,
                   CAST(CASE WHEN coalesce(l.component, d.doc_id) = d.doc_id
                        THEN 1 ELSE 0 END AS BIGINT) AS keep
            FROM documents d LEFT JOIN lbl l ON d.doc_id = l.doc_id""",
        "dedup_simhash": _simhash_sql(),
        "dedup_embedding": _emb_neardup_sql(),
        "ann_lsh_top10": _ann_lsh_sql(),
        "ann_ivf_top10": """
            WITH q AS (SELECT embedding AS qv FROM embeddings
                       WHERE vec_id = 0),
            c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
                  FROM embeddings WHERE vec_id < 8),
            a AS (SELECT e.vec_id, e.embedding,
                    (SELECT c.cid FROM c
                     ORDER BY list_distance(e.embedding::DOUBLE[], c.cv),
                              c.cid LIMIT 1) AS list_id
                  FROM embeddings e WHERE e.vec_id >= 8),
            probes AS (SELECT c.cid FROM c, q
                       ORDER BY list_distance(q.qv::DOUBLE[], c.cv), c.cid
                       LIMIT 2),
            cand AS (SELECT a.vec_id, a.embedding FROM a
                     WHERE a.list_id IN (SELECT cid FROM probes))
            SELECT CAST(row_number() OVER (ORDER BY
                     list_cosine_similarity(cand.embedding::DOUBLE[],
                                            q.qv::DOUBLE[]) DESC,
                     cand.vec_id) AS BIGINT) AS rank, cand.vec_id
            FROM cand, q
            ORDER BY list_cosine_similarity(cand.embedding::DOUBLE[],
                                            q.qv::DOUBLE[]) DESC,
                     cand.vec_id
            LIMIT 10""",
        "ann_top10": """
            WITH q AS (SELECT embedding AS qv FROM embeddings
                       WHERE vec_id = 0)
            SELECT CAST(row_number() OVER (
                     ORDER BY list_cosine_similarity(
                       e.embedding::DOUBLE[], q.qv::DOUBLE[]) DESC, e.vec_id)
                     AS BIGINT) AS rank,
                   e.vec_id
            FROM embeddings e, q WHERE e.vec_id <> 0
            ORDER BY list_cosine_similarity(
                       e.embedding::DOUBLE[], q.qv::DOUBLE[]) DESC, e.vec_id
            LIMIT 10""",
        "token_stats": f"""
            SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
                   CAST(len(list_distinct(ts)) AS BIGINT) AS n_distinct,
                   CAST(length(text) AS BIGINT) AS n_chars
            FROM (SELECT doc_id, text, {TOKS} AS ts FROM documents)""",
        "quality": f"""
            SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
                   CAST(len(list_filter(ts, t -> list_contains({stop_list},
                        t))) AS BIGINT) AS n_stopwords,
                   CAST(length(text) - length(regexp_replace(text,
                        '[^\\w\\s]', '', 'g')) AS BIGINT) AS n_punct,
                   CAST(coalesce(list_sum(list_transform(ts,
                        t -> length(t))), 0) AS BIGINT) AS sum_token_len
            FROM (SELECT doc_id, text, {TOKS} AS ts FROM documents)""",
        "lang_id": f"""
            SELECT doc_id,
              CASE WHEN greatest({lang_score['c']}, {lang_score['go']},
                                 {lang_score['java']}, {lang_score['py']}) = 0
                   THEN 'unknown'
                   WHEN {lang_score['c']} = greatest({lang_score['c']},
                        {lang_score['go']}, {lang_score['java']},
                        {lang_score['py']}) THEN 'c'
                   WHEN {lang_score['go']} = greatest({lang_score['c']},
                        {lang_score['go']}, {lang_score['java']},
                        {lang_score['py']}) THEN 'go'
                   WHEN {lang_score['java']} = greatest({lang_score['c']},
                        {lang_score['go']}, {lang_score['java']},
                        {lang_score['py']}) THEN 'java'
                   ELSE 'py' END AS pred_lang
            FROM (SELECT doc_id, {TOKS} AS ts FROM documents)""",
        "fingerprint": f"""
            SELECT doc_id, array_to_string(
                     list_sort(list_transform(list_distinct(ts),
                                              t -> md5(t)))[1:4], '|') AS fp
            FROM (SELECT doc_id, {TOKS} AS ts FROM documents)""",
        "term_vectors": f"""
            SELECT doc_id, u[1] AS term,
                   CAST(count(*) AS BIGINT) AS tf,
                   array_to_string(list_sort(list(u[2])), ',')
                     AS positions
            FROM (SELECT doc_id,
                         unnest(list_zip(ts, range(len(ts)))) AS u
                  FROM (SELECT doc_id, {TOKS} AS ts FROM documents))
            GROUP BY doc_id, u[1]""",
        "term_offsets": """
            WITH p AS (SELECT doc_id,
                         ' ' || regexp_replace(lower(text), '[^a-z0-9_]',
                                               ' ', 'g') || ' ' AS pad
                       FROM documents)
            SELECT doc_id, array_to_string(list_transform(
                     list_filter(range(1, length(pad) + 1),
                                 i -> substr(pad, i, 8) = ' filter '),
                     i -> i - 1), ',') AS starts_csv
            FROM p
            WHERE strpos(pad, ' filter ') > 0""",
        "highlight": """
            SELECT doc_id,
                   regexp_replace(
                     substr(text, greatest(1, least(
                       CASE WHEN strpos(lower(text), 'filter') > 0
                            THEN strpos(lower(text), 'filter') END,
                       CASE WHEN strpos(lower(text), 'join') > 0
                            THEN strpos(lower(text), 'join') END) - 20), 80),
                     '(?i)(filter|join)', '<b>\\1</b>', 'g') AS snippet
            FROM documents
            WHERE strpos(lower(text), 'filter') > 0
               OR strpos(lower(text), 'join') > 0""",
        "sort_by_field": """
            SELECT CAST(row_number() OVER (ORDER BY n_chars DESC, doc_id)
                     AS BIGINT) AS rank,
                   doc_id, CAST(n_chars AS BIGINT) AS n_chars
            FROM documents ORDER BY n_chars DESC, doc_id LIMIT 10""",
        "count_fast": f"""
            SELECT 'matchall' AS query, CAST(count(*) AS BIGINT) AS cnt
            FROM documents
            UNION ALL
            SELECT 'term_filter' AS query, CAST(count(*) AS BIGINT) AS cnt
            FROM (SELECT {TOKS} AS ts FROM documents)
            WHERE list_contains(ts, 'filter')""",
        "sort_dv_topk": f"""
            SELECT CAST(row_number() OVER (ORDER BY dl DESC, doc_id)
                     AS BIGINT) AS rank,
                   doc_id, CAST(dl AS BIGINT) AS dl
            FROM (SELECT doc_id, len({TOKS}) AS dl FROM documents)
            ORDER BY dl DESC, doc_id LIMIT 10""",
        "sort_missing_value": """
            SELECT CAST(row_number() OVER (ORDER BY coalesce(sv, 3),
                                           doc_id) AS BIGINT) AS rank,
                   doc_id, CAST(sv AS BIGINT) AS sv
            FROM (SELECT doc_id,
                         CASE WHEN doc_id % 7 = 0 THEN NULL
                              ELSE (doc_id * 13) % 400 END AS sv
                  FROM documents)
            ORDER BY coalesce(sv, 3), doc_id LIMIT 10""",
        "sort_str_topk": """
            SELECT CAST(row_number() OVER (ORDER BY sk, doc_id)
                     AS BIGINT) AS rank, doc_id, sk
            FROM (SELECT doc_id, source || '_' || lang AS sk
                  FROM documents)
            ORDER BY sk, doc_id LIMIT 10""",
        "events_windowed": """
            SELECT strftime(time_bucket(INTERVAL '1 hour', ts),
                            '%Y-%m-%d %H:%M:%S') AS win_start,
                   event_type, CAST(count(*) AS BIGINT) AS cnt,
                   CAST(CAST(sum(CAST(value AS DECIMAL(20,2)))
                        AS DECIMAL(20,2)) AS VARCHAR) AS sum_value
            FROM events GROUP BY 1, 2""",
        # RANGE cumulative frame makes the session id tie-safe: equal-ts
        # peer rows share one cumulative value in both engines
        "events_sessions": """
            WITH d AS (SELECT user_id, ts,
                         CASE WHEN lag(ts) OVER w IS NULL
                              OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                              THEN 1 ELSE 0 END AS nw
                       FROM events
                       WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
            s AS (SELECT user_id, ts,
                    sum(nw) OVER (PARTITION BY user_id ORDER BY ts) AS sid
                  FROM d)
            SELECT user_id,
                   strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
                   strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
                   CAST(count(*) AS BIGINT) AS n_events
            FROM s GROUP BY user_id, sid""",
        "multimodal_features": """
            SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT)
                     AS n_bytes,
                   sha256(text) AS sha256
            FROM documents""",
    }
