"""Faceting — the reference facets module's counting capability
(lucene/facet: FastTaxonomyFacetCounts, LongRangeFacetCounts) re-expressed
as Catalyst aggregations over the match-joined docmap. No taxonomy
side-index is needed: the docmap IS the doc->ordinal store, and a groupBy
is the counting pass.

At scale: the match set is the small side (top-k or a filtered subset) —
join it broadcast against the docmap so faceting never shuffles per-doc
rows of the full corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def range_facets(matches: DataFrame, docmap: DataFrame, field: str,
                 ranges: list[tuple[str, float, float]],
                 broadcast_matches: bool = True) -> DataFrame:
    """LongRangeFacetCounts analogue: one row per (label, [lo, hi))
    half-open range. Ranges may overlap (each is counted independently,
    as in the reference); computed as one aggregation pass + stack."""
    m = matches.select("segment", "docid")
    if broadcast_matches:
        m = F.broadcast(m)
    j = docmap.join(m, ["segment", "docid"])
    aggs = [F.sum(F.when((F.col(field) >= lo) & (F.col(field) < hi), 1)
                  .otherwise(0)).cast("long").alias(f"r{i}")
            for i, (_, lo, hi) in enumerate(ranges)]
    row = j.agg(*aggs)
    stack_args = ", ".join(f"'{label}', r{i}"
                           for i, (label, _, _) in enumerate(ranges))
    return row.selectExpr(
        f"stack({len(ranges)}, {stack_args}) AS (range_label, cnt)")


def drill_sideways(matches: DataFrame, docvals: DataFrame, dims: dict,
                   top_n: int | None = None) -> DataFrame:
    """DrillSideways (solr-8.4.0/lucene/facet/src/java/org/apache/lucene/
    facet/DrillSideways.java): given a base match set and per-dimension
    drill-down selections {dim_field: selected_value}, compute each
    dimension's facet counts over the docs matching the base query AND
    every OTHER dimension's filter — the selected dimension's own filter
    is excluded, so its sidebar still shows the counts of the
    alternatives. matches = (segment, docid) rows (one base-query pass);
    docvals = per-doc attribute frame (segment, docid, <dim columns>) —
    typically the docmap, optionally joined with source-table columns.
    Per-dimension counting is a broadcast join + groupBy; the dims'
    predicates are plain column filters that push down to docvals' scan.
    Returns (dim, value, cnt) ordered (dim, cnt desc, value)."""
    m = F.broadcast(matches.select("segment", "docid"))
    base = docvals.join(m, ["segment", "docid"])
    outs = []
    for dim in sorted(dims):
        side = base
        for other, val in sorted(dims.items()):
            if other != dim:
                side = side.where(F.col(other) == val)
        c = (side.groupBy(F.col(dim).cast("string").alias("value"))
             .agg(F.count("*").cast("long").alias("cnt"))
             .select(F.lit(dim).alias("dim"), "value", "cnt"))
        outs.append(c.orderBy(F.desc("cnt"), "value").limit(top_n)
                    if top_n else c)
    out = outs[0]
    for c in outs[1:]:
        out = out.unionByName(c)
    return out.orderBy("dim", F.desc("cnt"), "value")


def top_hits_per_group(scored: DataFrame, meta: DataFrame,
                       join_cols: list, group_col: str,
                       k_per_group: int = 2) -> DataFrame:
    """Grouped top-k — the grouping module's TopGroups capability
    (solr-8.4.0/lucene/grouping GroupingSearch): the scored match set is
    joined to the per-doc metadata and reduced to the k best hits of each
    group with one window (score desc, docid asc within group — the same
    HitQueue tie order per group). Returns (group, rank, segment, docid,
    score)."""
    from pyspark.sql import Window
    j = scored.join(meta, join_cols)
    w = (Window.partitionBy(group_col)
         .orderBy(F.desc("score"), "segment", "docid"))
    return (j.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k_per_group)
            .select(F.col(group_col).alias("grp"), "rank", "segment",
                    "docid", "score"))


def diversified_topk(scored: DataFrame, meta: DataFrame,
                     join_cols: list, key_col: str, k: int,
                     max_per_key: int = 1) -> DataFrame:
    """Diversified top-k — the DiversifiedTopDocsCollector capability
    (demo lucene/collector/DiversityCollector.java: top songs with at
    most max_per_key entries per artist). Deterministic per-key-cap
    semantics: within each key, docs rank (score desc, segment asc,
    docid asc — the HitQueue tie order); only the best max_per_key per
    key compete for the global top-k.

    Plan shape: one keyed window over the (small) scored match set,
    then TakeOrderedAndProject for the global k, then a k-row rank
    window — never a global sort. Returns (rank, key, segment, docid,
    score)."""
    from pyspark.sql import Window
    j = scored.join(meta, join_cols)
    wk = (Window.partitionBy(key_col)
          .orderBy(F.desc("score"), "segment", "docid"))
    kept = (j.withColumn("_kr", F.row_number().over(wk))
            .where(F.col("_kr") <= max_per_key))
    top = kept.orderBy(F.desc("score"), "segment", "docid").limit(k)
    w = (Window.partitionBy(F.col("_kr") % F.lit(1))
         .orderBy(F.desc("score"), "segment", "docid"))
    return (top.withColumn("rank", F.row_number().over(w))
            .select("rank", F.col(key_col).alias("key"), "segment",
                    "docid", "score"))


def distinct_values(matches: DataFrame, attrs: DataFrame,
                    group_col: str, count_col: str) -> DataFrame:
    """DistinctValuesCollector (demo lucene/grouping/
    DistinctValueCollectorTest.java: per author-group, the distinct
    publisher values among matching docs). One hash aggregate; the
    distinct-set accumulation is exactly the collector's per-group
    HashSet. Returns (grp, values[], n_distinct) ordered by grp."""
    j = matches.join(attrs, ["segment", "docid"])
    return (j.groupBy(F.col(group_col).alias("grp"))
            .agg(F.sort_array(F.collect_set(count_col)).alias("values"),
                 F.countDistinct(count_col).cast("long")
                 .alias("n_distinct"))
            .orderBy("grp"))


def taxonomy_children(matches: DataFrame, attrs: DataFrame,
                      path_cols: list, prefix: tuple = (),
                      top_n: int = 10) -> DataFrame:
    """Hierarchical (taxonomy) faceting — the facet module's
    TaxonomyReader/FastTaxonomyFacetCounts.getTopChildren capability
    (solr-8.4.0/lucene/facet/src/java/org/apache/lucene/facet/taxonomy/:
    a dimension is a PATH like ("Publish Date", "2010", "October"); a
    facet request at a path prefix returns the top child labels one level
    below it with match counts). Spark-first shape: the taxonomy is the
    ordered list of attribute columns (`path_cols`); no ordinal
    interning is needed because the columnar attribute join plays the
    taxonomy array's role, and the per-path filter pushes down to the
    attribute scan.

    matches: (segment, docid) match set; attrs: DataFrame keyed
    (segment, docid) carrying the path columns. Returns
    (rank, label, cnt) ordered (count desc, label asc) — the
    getTopChildren ordering."""
    if len(prefix) >= len(path_cols):
        raise ValueError("prefix exhausts the taxonomy path")
    j = matches.join(attrs, ["segment", "docid"])
    for col, val in zip(path_cols, prefix):
        j = j.where(F.col(col) == val)
    child = path_cols[len(prefix)]
    agg = (j.groupBy(F.col(child).alias("label"))
           .agg(F.count("*").alias("cnt")))
    return _rank_top_labels(agg, top_n)


def ssdv_facet_counts(matches: DataFrame, attrs: DataFrame,
                      array_col: str, top_n: int = 10) -> DataFrame:
    """Multi-valued faceting — the SortedSetDocValues facet capability
    (solr-8.4.0/lucene/facet/.../sortedset/SortedSetDocValuesFacetCounts
    .java; demo SortedSetDocValuesTest.java): a doc carries MANY values
    for one dimension and contributes each DISTINCT value once. The
    array column plays the per-doc ordinal set; explode + hash aggregate
    is the counting pass. Returns (rank, label, cnt) ordered
    (count desc, label asc)."""
    j = matches.join(attrs, ["segment", "docid"])
    agg = (j.select(F.explode(F.array_distinct(F.col(array_col)))
                    .alias("label"))
           .groupBy("label").agg(F.count("*").alias("cnt")))
    return _rank_top_labels(agg, top_n)


def _rank_top_labels(agg: DataFrame, top_n: int) -> DataFrame:
    """Reduce a (label, cnt) aggregate to its ranked top_n rows the way
    getTopChildren's bounded heap does — NEVER a global window over the
    full aggregate. `.orderBy().limit()` plans as TakeOrderedAndProject
    (per-partition k-heaps + a k-row driver merge), so a high-cardinality
    dimension (URL host, author) at 100 TB stays distributed; only the k
    survivors see the rank window, partitioned by a constant so the
    single-partition WindowExec is over k rows by construction."""
    from pyspark.sql import Window
    top = agg.orderBy(F.desc("cnt"), "label").limit(top_n)
    # partition key `cnt % 1`: constant 0 for every row, but NOT foldable,
    # so Catalyst can't strip the partition spec (a bare lit(0) — and even
    # cnt*0 — is simplified away and the WindowExec degenerates to the
    # no-partition global form this function exists to avoid)
    w = (Window.partitionBy(F.col("cnt") % F.lit(1))
         .orderBy(F.desc("cnt"), "label"))
    return (top.withColumn("rank", F.row_number().over(w))
            .select("rank", "label", "cnt"))
