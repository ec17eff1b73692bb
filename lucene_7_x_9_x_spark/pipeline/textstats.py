"""Text analysis operators for training-data pipelines: token counting,
quality scoring, language-ID heuristic, document fingerprinting. All
JVM-side expressions (whole-stage codegen), no Python UDFs."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, functions as F

from .dedup import TOKEN_MATCH, tokens_col

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "for", "on", "with"]

LANG_MARKERS = {
    "py": ["def", "import", "self", "lambda", "elif"],
    "java": ["public", "void", "static", "extends", "implements"],
    "c": ["struct", "typedef", "malloc", "sizeof", "include"],
    "go": ["func", "chan", "defer", "goroutine", "package"],
}


def count_tokens_in(text_col: str, words: list):
    """How many of the text's tokens (tokens_col) are one of `words`, as
    one codegen'd regexp_extract_all of the words as WHOLE tokens: the
    lookarounds forbid a token character on either side, so a match is
    exactly a maximal token run equal to a word — size(filter(ts, t ->
    array_contains(words, t))) without the interpreted lambda."""
    tok = TOKEN_MATCH.rstrip("+")  # one token character
    alt = "|".join(re.escape(w) for w in words)
    return F.size(F.regexp_extract_all(
        F.lower(F.col(text_col)),
        F.lit(f"(?<!{tok})(?:{alt})(?!{tok})"), 0))


def token_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, n_tokens, n_distinct, n_chars) — the FieldInvertState analogue
    exposed as a pipeline op."""
    ts = tokens_col(text_col)
    return df.select(
        F.col(id_col),
        F.size(ts).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(ts)).cast("long").alias("n_distinct"),
        F.length(F.col(text_col)).cast("long").alias("n_chars"))


def quality_scores(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Heuristic quality features: stopword count, punctuation count, mean
    token length (as exact rationals: numerator/denominator columns so the
    comparison with SQL oracles is float-free). Codegen'd builtins only:
    the summed token length is the length of the tokens joined."""
    ts = tokens_col(text_col)
    return df.select(
        F.col(id_col),
        F.size(ts).cast("long").alias("n_tokens"),
        count_tokens_in(text_col, STOPWORDS).cast("long")
        .alias("n_stopwords"),
        (F.length(F.col(text_col))
         - F.length(F.regexp_replace(F.col(text_col), r"[^\w\s]", "")))
        .cast("long").alias("n_punct"),
        F.length(F.array_join(ts, "")).cast("long").alias("sum_token_len"))


def lang_id(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Marker-keyword language guess. Deterministic tie order: langs in
    sorted key order, first max wins; 'unknown' when no marker hits."""
    scores = [count_tokens_in(text_col, LANG_MARKERS[lang])
              .alias(f"s_{lang}") for lang in sorted(LANG_MARKERS)]
    tmp = df.select(F.col(id_col), *scores)
    langs = sorted(LANG_MARKERS)
    best = F.greatest(*[F.col(f"s_{lg}") for lg in langs])
    pred = F.lit("unknown")
    for lg in reversed(langs):  # earlier lang wins ties -> apply last first
        pred = F.when((F.col(f"s_{lg}") == best) & (best > 0),
                      F.lit(lg)).otherwise(pred)
    return tmp.select(F.col(id_col), pred.alias("pred_lang"))


def term_vectors(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-doc term vectors — the reference's term-vectors storage
    (solr-8.4.0/.../index/TermVectorsWriter.java capability, SURVEY §2.8)
    re-expressed as a derived DataFrame: (id, term, tf, positions) with
    0-based positions joined by ','. Pure JVM expressions and fully
    NARROW: a term vector is a per-doc quantity, so the r5 explode +
    groupBy(id, term) hash-shuffled corpus-sized (id, pos, term) rows
    that were already doc-local (guide §2.4 — remove shuffles outright).
    Per doc: one O(n) position scan per distinct term; the raw text is
    repartitioned BEFORE the tokenize select so the regex split runs
    post-exchange at full parallelism (single-file corpora scan as ONE
    partition — see dedup.doc_shingles)."""
    toks = (df.select(F.col(id_col), F.col(text_col))
            .repartition(df.sparkSession.sparkContext.defaultParallelism)
            .select(F.col(id_col), tokens_col(text_col).alias("ts")))
    # per distinct term: its ascending position list. The sequence guard
    # is implicit: an empty ts has an empty array_distinct, so the lambda
    # (and the descending sequence(0, -1)) is never evaluated.
    tv = F.transform(
        F.array_distinct("ts"),
        lambda t: F.struct(
            t.alias("term"),
            F.filter(F.sequence(F.lit(0), F.size("ts") - 1),
                     lambda i: F.element_at("ts", i + 1) == t)
            .alias("_pos")))
    rows = toks.select(F.col(id_col), F.inline(tv))
    return rows.select(
        F.col(id_col), "term",
        F.size("_pos").cast("long").alias("tf"),
        F.concat_ws(",", F.transform("_pos", lambda i: i.cast("string")))
        .alias("positions"))


def repetition_stats(df: DataFrame, id_col: str,
                     text_col: str) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021,
    "Scaling Language Models", appendix A1.1 repetition filters):
    per-doc duplicate-line and top/duplicate-bigram coverage, emitted as
    exact integer numerators/denominators (the caller divides; keeping
    the output float-free makes SQL-oracle comparison exact).

      n_lines / n_dup_lines        line count, excess occurrences of
                                   repeated lines (n_lines - distinct)
      dup_line_chars               chars in occurrences BEYOND the first
                                   of each repeated line
      total_line_chars             chars across all non-empty lines
      top_bigram_chars             token chars covered by the most
                                   frequent token bigram (count x chars)
      dup_bigram_chars             token chars covered by bigrams that
                                   occur more than once (count x chars)
      n_token_chars                total token chars (denominator)

    Scale shape: pure per-row JVM array expressions — NO explode, NO
    shuffle; the whole computation stays in the scan stage. Occurrence
    counting is an O(n log n) sorted-run scan (array_sort + one
    aggregate() pass with a struct accumulator), never the
    O(distinct x items) transform-inside-filter shape — a 100k-line doc
    costs a sort, not 10^10 comparisons."""
    zero = F.lit(0).cast("long")

    def _line_run_scan(sorted_arr):
        # one pass over the sorted array: counts runs (= distinct) and
        # sums length(prev) * (run - 1) over closed runs. The ""
        # sentinel is safe — empty lines are filtered before the sort.
        init = F.struct(F.lit("").alias("prev"), zero.alias("run"),
                        zero.alias("nruns"), zero.alias("dup"))
        close = lambda acc: F.when(
            acc["run"] > 1,
            (acc["run"] - 1) * F.length(acc["prev"])).otherwise(0)

        def step(acc, x):
            return F.when(acc["prev"] == x, F.struct(
                acc["prev"].alias("prev"),
                (acc["run"] + 1).alias("run"),
                acc["nruns"].alias("nruns"),
                acc["dup"].alias("dup"))).otherwise(F.struct(
                    x.alias("prev"),
                    F.lit(1).cast("long").alias("run"),
                    (acc["nruns"] + 1).alias("nruns"),
                    (acc["dup"] + close(acc)).cast("long").alias("dup")))

        return F.aggregate(
            sorted_arr, init, step,
            lambda acc: F.struct(
                acc["nruns"].alias("nruns"),
                (acc["dup"] + close(acc)).cast("long").alias("dup")))

    def _gram_run_scan(sorted_arr):
        # bigram token chars = length - 1 (the joining space is not
        # corpus text); run == 0 contributes 0 so no first-run guard
        init = F.struct(F.lit("").alias("prev"), zero.alias("run"),
                        zero.alias("top"), zero.alias("dup"))
        chars = lambda acc: acc["run"] * (F.length(acc["prev"]) - 1)

        def step(acc, x):
            return F.when(acc["prev"] == x, F.struct(
                acc["prev"].alias("prev"),
                (acc["run"] + 1).alias("run"),
                acc["top"].alias("top"),
                acc["dup"].alias("dup"))).otherwise(F.struct(
                    x.alias("prev"),
                    F.lit(1).cast("long").alias("run"),
                    F.greatest(acc["top"], chars(acc)).cast("long")
                    .alias("top"),
                    (acc["dup"] + F.when(acc["run"] > 1, chars(acc))
                     .otherwise(0)).cast("long").alias("dup")))

        return F.aggregate(
            sorted_arr, init, step,
            lambda acc: F.struct(
                F.greatest(acc["top"], chars(acc)).cast("long")
                .alias("top"),
                (acc["dup"] + F.when(acc["run"] > 1, chars(acc))
                 .otherwise(0)).cast("long").alias("dup")))

    lines = F.filter(F.split(F.col(text_col), "\n"),
                     lambda l: l != F.lit(""))
    ts = tokens_col(text_col)
    # Spark's sequence(a, b) DESCENDS when a > b — guard short docs
    grams = F.when(
        F.size(ts) >= 2,
        F.transform(F.sequence(F.lit(1), F.size(ts) - 1),
                    lambda i: F.concat(F.element_at(ts, i), F.lit(" "),
                                       F.element_at(ts, i + 1)))
    ).otherwise(F.expr("array()").cast("array<string>"))
    lstats = _line_run_scan(F.array_sort(lines))
    gstats = _gram_run_scan(F.array_sort(grams))
    total_line_chars = F.aggregate(
        lines, zero, lambda acc, l: acc + F.length(l))
    n_token_chars = F.aggregate(ts, zero,
                                lambda acc, t: acc + F.length(t))
    out = df.select(
        F.col(id_col),
        F.size(lines).cast("long").alias("n_lines"),
        lstats.alias("_ls"), gstats.alias("_gs"),
        total_line_chars.alias("total_line_chars"),
        n_token_chars.alias("n_token_chars"))
    return out.select(
        id_col, "n_lines",
        (F.col("n_lines") - F.col("_ls.nruns")).cast("long")
        .alias("n_dup_lines"),
        F.col("_ls.dup").alias("dup_line_chars"),
        "total_line_chars",
        F.col("_gs.top").alias("top_bigram_chars"),
        F.col("_gs.dup").alias("dup_bigram_chars"),
        "n_token_chars")


def fingerprint(df: DataFrame, id_col: str, text_col: str,
                n_mins: int = 4) -> DataFrame:
    """Deterministic document fingerprint: the n_mins smallest md5s of the
    token set (winnowing-style min-hash sketch, md5 so SQL oracles agree
    bit-for-bit), joined with '|'."""
    ts = tokens_col(text_col)
    return df.select(
        F.col(id_col),
        F.concat_ws("|", F.slice(
            F.array_sort(F.transform(F.array_distinct(ts),
                                     lambda t: F.md5(t))),
            1, n_mins)).alias("fp"))
