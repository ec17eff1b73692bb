"""Sub-linear fuzzy/spell dictionary seek — the FST-intersect-automaton
role re-expressed for Spark.

The reference never scans the dictionary for a fuzzy query: it intersects
a Levenshtein automaton with the terms FST
(solr-8.4.0/lucene/core/src/java/org/apache/lucene/search/FuzzyQuery.java,
 L/util/automaton/LevenshteinAutomata.java, generator
 L/util/automaton/createLevAutomata.py), making candidate generation
sub-linear in dictionary size. The Spark-first equivalent here is a
DELETION-NEIGHBORHOOD side index (the symmetric-delete scheme): each
dictionary term is expanded ONCE, at build time, into its <=k-deletion
variants with pure JVM expressions, written range-partitioned and sorted
by variant; a query term's own <=k variants are then a driver-side
pyarrow seek of a few dozen keys. Row groups prune on the sorted variant
column, so a lookup reads a dictionary SLICE — like the FST walk — not
the dictionary.

Soundness (complete candidate superset): every OSA edit (insert, delete,
substitute, transpose) removes at most one character from EACH side of an
optimal alignment, so dist(a, b) <= k implies a common string reachable
by <= k deletions from both a and b. Joining query variants against
indexed variants therefore never misses a true candidate; candidates are
verified with the exact OSA/Levenshtein distance before use.

Cost model: a term of length L yields <= 1 + L + L(L-1)/2 variants at
k=2; with Zipf-distributed code vocabularies (mean token ~8 chars) the
side table is ~30-40x the dictionary row count — linear in dictionary
size, shardable, and written once per index generation.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, functions as F

SEEK_DIRNAME = "fuzzy_seek"
DEFAULT_K = 2

# one-deletion variants of column {c}, JVM-side only. Guard: sequence(a, b)
# DESCENDS when a > b, so the empty string must not reach the transform.
_DEL1 = ("CASE WHEN length({c}) <= 1 THEN array('') ELSE array_distinct("
         "transform(sequence(1, length({c})), i -> "
         "concat(substring({c}, 1, i - 1), "
         "substring({c}, i + 1, length({c}) - i)))) END")


def deletion_variants(term: str, k: int) -> set:
    """All strings reachable from `term` by at most k deletions
    (including term itself) — the query-side neighborhood."""
    out = {term}
    frontier = {term}
    for _ in range(k):
        nxt = set()
        for t in frontier:
            for i in range(len(t)):
                nxt.add(t[:i] + t[i + 1:])
        frontier = nxt - out
        out |= frontier
    return out


def build_fuzzy_seek(index, k: int = DEFAULT_K) -> str:
    """Build (or reuse) the deletion-variant side index for an
    IndexSnapshot's term dictionary. Idempotent: a meta file records the
    (k, batches) generation; a matching build is reused, a stale one is
    rebuilt (deletes/merges change the dictionary).

    Layout: parquet (field, variant, term) repartitionByRange(variant) +
    sortWithinPartitions(variant) — pyarrow seeks prune whole files and
    row groups on variant min/max, the planning-time pruning discipline
    used by the LSH/IVF layouts."""
    out = os.path.join(index.root, SEEK_DIRNAME)
    meta_path = os.path.join(out, "_fuzzy_meta.json")
    want = {"k": k, "batches": index.manifest["batches"]}
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            if json.load(f) == want:
                return out
    base = index.terms().select("field", "term")
    levels = [base.withColumn("variant", F.col("term"))]
    prev = base.select("field", "term",
                       F.explode(F.expr(_DEL1.format(c="term")))
                       .alias("variant")).dropDuplicates()
    levels.append(prev)
    for _ in range(k - 1):
        prev = (prev.select("field", "term",
                            F.explode(F.expr(_DEL1.format(c="variant")))
                            .alias("nv"))
                .select("field", "term", F.col("nv").alias("variant"))
                .dropDuplicates())
        levels.append(prev)
    allv = levels[0]
    for lv in levels[1:]:
        allv = allv.unionByName(lv)
    n_part = max(index.spark.sparkContext.defaultParallelism, 4)
    (allv.dropDuplicates(["field", "term", "variant"])
     .repartitionByRange(n_part, "variant")
     .sortWithinPartitions("variant")
     .write.mode("overwrite").parquet(out))
    with open(meta_path, "w") as f:
        json.dump(want, f)
    return out


def seek_candidates(index, term: str, max_edits: int,
                    field: str | None = None,
                    k_index: int = DEFAULT_K) -> list[str] | None:
    """Driver-side candidate lookup: pyarrow seek of the query term's
    deletion variants against the side index. Returns the UNVERIFIED
    candidate superset (callers apply the exact OSA/Levenshtein check),
    or None when the seek cannot answer completely (max_edits beyond the
    indexed depth) — callers then fall back to the distributed scan."""
    if max_edits > k_index:
        return None
    seek_dir = build_fuzzy_seek(index, k_index)
    import pyarrow.dataset as pads
    dset = index._pads_dataset((seek_dir,))
    vs = sorted(deletion_variants(term, max_edits))
    expr = pads.field("variant").isin(vs)
    expr = expr & (pads.field("field").is_null() if field is None
                   else (pads.field("field") == field))
    tbl = dset.to_table(filter=expr, columns=["term"])
    # length window: cheap driver-side narrowing before exact verify
    lo, hi = len(term) - max_edits, len(term) + max_edits
    return sorted({t for t in tbl["term"].to_pylist() if lo <= len(t) <= hi})
