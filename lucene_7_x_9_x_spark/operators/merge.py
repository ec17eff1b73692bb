"""Segment merge — the SegmentMerger / TieredMergePolicy analogue.

Semantics (SURVEY.md §2.4): concatenate N source segments into M merged
segments, remapping docids by per-segment docBase offsets exactly like
Lucene's SegmentMerger (solr-8.4.0/lucene/core/src/java/org/apache/lucene/
index/SegmentMerger.java:106-173). Because rebased docid ranges are
disjoint and ordered, per-term merge is concatenation in segment order — no
k-way heap needed (Lucene needs one only because of deletions,
MultiPostingsEnum/DocIDMerger).

Scale design: rebasing is DECODE-FREE except for each row's first block
(the first stored delta absorbs the docBase shift; all other deltas are
docid differences and unchanged), so merging a posting row is O(metadata),
not O(doc_freq). Skewed terms (north rule) are handled by a salted
two-stage shuffle: stage 1 groups by (term, new_segment, salt) and
concatenates bounded subsets; stage 2 concatenates the pre-merged partials
— concat is associative, so salted == unsalted bit-for-bit, and no task
ever materializes more than ceil(G/salt) segments of a hot term
(TieredMergePolicy caps per-merge inputs the same way,
solr-8.4.0/.../index/TieredMergePolicy.java:88-101).
"""

from __future__ import annotations

import os
import time
import uuid

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession, functions as F

from ..functions import codec
from ..index import (MANIFEST, IndexSnapshot, _atomic_write_json,
                     locked_writer)
from .build import (POSTINGS_COLS, SLICED_COLS, postings_schema_ddl,
                    rewrite_postings)


def _rebase_row_arrays(row: dict, base: int) -> dict:
    """Shift one postings row's docids by +base without decoding (except
    the first block, whose first delta absorbs the shift)."""
    if base == 0 or len(row["block_ns"]) == 0:
        return row
    b0 = codec.decode_block(bytes(row["block_docs"][0]),
                            int(row["block_ns"][0]))
    b0 = b0.astype(np.uint64)
    b0[0] += np.uint64(base)
    blocks = list(row["block_docs"])
    blocks[0] = codec.encode_block(b0)
    row["block_docs"] = blocks
    row["block_max_docs"] = (np.asarray(row["block_max_docs"], np.int64)
                             + base)
    return row


def _concat_rows(rows: list[dict], term, new_segment: int,
                 fld=None) -> dict:
    """Concatenate already-rebased rows. Invariant: a standalone row's first
    delta is relative to base -1; after concatenation, block j decodes
    against block j-1's max_doc, so each subsequent row's first delta is
    re-anchored to the previous row's last max_doc (O(1 block) work)."""
    block_docs = list(rows[0]["block_docs"])
    prev_last = int(np.asarray(rows[0]["block_max_docs"], np.int64)[-1]) \
        if len(rows[0]["block_ns"]) else -1
    for r in rows[1:]:
        if len(r["block_ns"]) == 0:
            continue
        b0 = codec.decode_block(bytes(r["block_docs"][0]),
                                int(r["block_ns"][0])).astype(np.int64)
        first = b0[0] - 1  # delta was relative to -1
        b0[0] = first - prev_last
        rb = list(r["block_docs"])
        rb[0] = codec.encode_block(b0.astype(np.uint64))
        block_docs.extend(rb)
        prev_last = int(np.asarray(r["block_max_docs"], np.int64)[-1])
    out = {
        "term": term, "field": fld, "segment": new_segment,
        "doc_freq": int(sum(r["doc_freq"] for r in rows)),
        "total_term_freq": int(sum(r["total_term_freq"] for r in rows)),
        "block_max_docs": np.concatenate(
            [np.asarray(r["block_max_docs"], np.int64) for r in rows]),
        "block_ns": np.concatenate(
            [np.asarray(r["block_ns"], np.int32) for r in rows]),
        "block_docs": block_docs,
        "block_freqs": [b for r in rows for b in r["block_freqs"]],
        "imp_freqs": [x for r in rows for x in r["imp_freqs"]],
        "imp_norms": [x for r in rows for x in r["imp_norms"]],
    }
    for ocol, dcol in SLICED_COLS:
        if rows[0].get(dcol) is not None:
            offs, data, shift = [], [], 0
            for r in rows:
                o = np.asarray(r[ocol], np.int64)
                offs.append(o[:-1] + shift)
                data.append(bytes(r[dcol]))
                shift += o[-1]
            out[ocol] = np.concatenate(offs + [np.array([shift])])
            out[dcol] = b"".join(data)
        else:
            out[ocol] = None
            out[dcol] = None
    return out


def _merge_terms(pdf: pd.DataFrame, new_segment: int,
                 partial: bool = False) -> pd.DataFrame:
    """Rebase and concatenate, per (field, term), the postings rows of one
    merge group in old_segment order. A salted stage-1 (`partial`) result
    keeps old_segment (its first source, for stage-2 ordering) and
    base 0 (already rebased)."""
    pdf = pdf.sort_values("old_segment")
    pcols = [n for n, _ in POSTINGS_COLS]
    merged = {c: [] for c in pcols + (["old_segment", "base"]
                                      if partial else [])}
    # None-safe per-(field, term) grouping: pandas groupby drops null
    # keys, so the default field's NULL is mapped to a sentinel
    fk = pdf["field"].map(lambda x: x if isinstance(x, str) else "\x00")
    for (fs, term), g in pdf.groupby([fk, pdf["term"]], sort=False):
        rows = [_rebase_row_arrays(r, int(r["base"]))
                for r in g.to_dict("records")]
        m = _concat_rows(rows, term, new_segment,
                         fld=None if fs == "\x00" else fs)
        for c in pcols:
            merged[c].append(m[c])
        if partial:
            merged["old_segment"].append(int(g["old_segment"].min()))
            merged["base"].append(0)
    out = pd.DataFrame(merged)
    if len(out):
        out["segment"] = out["segment"].astype(np.int32)
    return out


def _balanced_contiguous_groups(segs: list[int], sizes: dict,
                                m: int) -> list[np.ndarray]:
    """Contiguous partition of the segments (in segment order) into m
    groups minimizing the LARGEST group's total doc count — the
    TieredMergePolicy size-scoring role (candidate merges are scored by
    skew so one oversized merge never dominates,
    solr-8.4.0/.../index/TieredMergePolicy.java:88-101,444-539) expressed
    under this engine's contiguity invariant: merges must preserve global
    (segment, docid) order so tie order and the SQL oracles stay
    bit-identical. Exact O(n^2 * m) DP (n = #segments, driver-side)."""
    n = len(segs)
    if n <= m:
        return [np.array([s]) for s in segs] + \
            [np.array([], dtype=np.int64)] * (m - n)
    w = np.array([sizes[s] for s in segs], dtype=np.int64)
    pre = np.concatenate(([0], np.cumsum(w)))
    INF = float("inf")
    # best[j][i] = minimal max-group-sum partitioning segs[:i] into j groups
    best = np.full((m + 1, n + 1), INF)
    cut = np.zeros((m + 1, n + 1), dtype=np.int64)
    best[0][0] = 0.0
    for j in range(1, m + 1):
        bprev = best[j - 1]
        for i in range(j, n + 1):
            # candidates p in [j-1, i): numpy inner loop keeps the DP
            # tractable for hundreds of segments (first-min tie-break)
            cand = np.maximum(bprev[j - 1:i],
                              (pre[i] - pre[j - 1:i]).astype(np.float64))
            t = int(np.argmin(cand))
            best[j][i], cut[j][i] = cand[t], j - 1 + t
    bounds, i = [], n
    for j in range(m, 0, -1):
        bounds.append(i)
        i = int(cut[j][i])
    bounds = [0] + bounds[::-1]
    return [np.array(segs[bounds[j]:bounds[j + 1]])
            for j in range(m)]


@locked_writer("out_dir")
def merge_index(spark: SparkSession, index: IndexSnapshot, out_dir: str,
                target_segments: int, salt: int = 1,
                term_buckets: int = 64) -> IndexSnapshot:
    """Merge the index's segments down to target_segments.

    Memory bound: the concat stages never hold a whole merged segment in
    one task — the final concat groups by (segment, hash(term) %
    term_buckets), so a task's working set is ~1/term_buckets of a segment
    (plus at most one full hot term's row, which is intrinsic to the row
    format); the salted stage additionally bounds per-term fan-in to
    ceil(sources/salt)."""
    from ..streaming.incremental import finalize
    t0 = time.time()
    os.makedirs(out_dir, exist_ok=True)
    dm = index.docmap()
    sizes = {r["segment"]: r["cnt"] for r in
             dm.groupBy("segment").agg(F.count("*").alias("cnt")).collect()}
    old_segs = sorted(sizes)
    # candidate selection weighs LIVE docs (TieredMergePolicy sizes
    # segments net of deletions, TieredMergePolicy.java:444-539 size()
    # with delete reclamation), while docid REBASING must use the total
    # docmap counts — tombstoned docids still occupy their slots until
    # compaction
    live = dict(sizes)
    dels = index.deletes()
    if dels is not None:
        for r in (dels.groupBy("segment")
                  .agg(F.count("*").alias("d")).collect()):
            live[r["segment"]] = max(
                live.get(r["segment"], 0) - int(r["d"]), 0)
    groups = _balanced_contiguous_groups(old_segs, live, target_segments)
    seg_map, base_map, rank_map = {}, {}, {}
    for new_seg, grp in enumerate(groups):
        base = 0
        for rank, s in enumerate(grp.tolist()):
            seg_map[s] = new_seg
            base_map[s] = base
            rank_map[s] = rank
            base += sizes[s]

    smap = F.create_map(*[F.lit(x) for kv in seg_map.items() for x in kv])
    bmap = F.create_map(*[F.lit(x) for kv in base_map.items() for x in kv])

    # ---- docmap: pure column arithmetic, one shuffle-free pass ----------
    new_dm = (dm.withColumn("new_segment", smap[F.col("segment")])
              .withColumn("new_docid", F.col("docid") + bmap[F.col("segment")])
              .drop("segment", "docid")
              .withColumnRenamed("new_segment", "segment")
              .withColumnRenamed("new_docid", "docid"))

    # ---- postings: rebase (narrow) then salted grouped concat -----------
    post = (index.postings()
            .withColumn("old_segment", F.col("segment"))
            .withColumn("base", bmap[F.col("segment")])
            .withColumn("segment", smap[F.col("segment")]))

    schema = postings_schema_ddl()

    def do_merge(key, pdf):
        return _merge_terms(pdf, int(key[0]))

    tb = F.pmod(F.xxhash64("field", "term"), F.lit(term_buckets))
    if salt > 1:
        # stage 1: bounded partial merges over CONTIGUOUS ranks within each
        # merge group (so stage-2 concat in old_segment order keeps docids
        # ascending); no task sees more than ceil(group/salt) segments of
        # any term
        max_grp = max(len(g) for g in groups) or 1
        span = -(-max_grp // salt)
        saltmap = F.create_map(*[F.lit(x) for s, r in rank_map.items()
                                 for x in (s, r // span)])
        stage1 = (post.withColumn("salt", saltmap[F.col("old_segment")])
                  .groupBy("segment", "field", "term", "salt"))

        def partial(key, pdf):
            return _merge_terms(pdf, int(key[0]), partial=True)

        schema1 = schema + ", old_segment int, base long"
        pre = stage1.applyInPandas(partial, schema=schema1)
        merged_post = (pre.withColumn("tb", tb).groupBy("segment", "tb")
                       .applyInPandas(do_merge, schema=schema))
    else:
        merged_post = (post.withColumn("tb", tb).groupBy("segment", "tb")
                       .applyInPandas(do_merge, schema=schema))

    # ---- write in the index layout --------------------------------------
    # range-partition by (segment, term): parallel writers per segment,
    # each file sorted by term so row-group stats still prune term lookups
    batch_dir = os.path.join(out_dir, "batch_0")
    n_write = max(target_segments * 4, 16)
    (merged_post.repartitionByRange(n_write, "segment", "field", "term")
     .sortWithinPartitions("segment", "field", "term")
     .write.mode("overwrite").parquet(os.path.join(batch_dir,
                                                   "kind=postings")))
    (new_dm.repartition("segment").sortWithinPartitions("segment", "docid")
     .write.mode("overwrite").parquet(os.path.join(batch_dir, "kind=docmap")))

    # tombstones rebase exactly like docmap rows (merge concatenates, it
    # does not compact): remap them into the merged coordinate space.
    # Hard and soft sets remap separately — a merge must not harden a
    # soft delete (SoftDeletesTest retention/undelete still applies
    # after merges).
    def _remap(df, extra_cols=()):
        return (df.withColumn("new_segment", smap[F.col("segment")])
                .withColumn("new_docid",
                            F.col("docid") + bmap[F.col("segment")])
                .select(F.col("new_segment").alias("segment"),
                        F.col("new_docid").alias("docid"), *extra_cols))

    dels = index.hard_deletes()
    new_deletes: list[str] = []
    if dels is not None:
        name = os.path.join("deletes", "del_merged")
        _remap(dels).write.mode("overwrite").parquet(
            os.path.join(out_dir, name))
        new_deletes = [name]
    soft = index.soft_deletes()
    new_soft: list[str] = []
    if soft is not None:
        name = os.path.join("soft_deletes", "soft_merged")
        _remap(soft, ("value", "seq")).write.mode("overwrite").parquet(
            os.path.join(out_dir, name))
        new_soft = [name]

    manifest = dict(index.manifest)
    manifest["deletes"] = new_deletes
    manifest["soft_deletes"] = new_soft
    # merged docmap was built from the OVERLAID view: updates materialized
    manifest["dv_updates"] = []
    # merge CONCATENATES old segments, so a merged segment is no longer
    # globally ordered by an index-time sort column — drop the flag so
    # sorted_topk cannot early-terminate incorrectly (compaction preserves
    # per-segment order and keeps it; Lucene likewise only merges sorted
    # segments through the Sorter-aware path)
    manifest["index_sort"] = None
    manifest.update({
        "run_id": uuid.uuid4().hex[:12],
        "batches": ["batch_0"],
        "num_segments": target_segments,
        "merged_from": {"source": index.root, "segments": len(old_segs),
                        "salt": salt, "secs": round(time.time() - t0, 3)},
        "checkpoints": index.manifest.get("checkpoints", []) + [{
            "stage": "merge", "status": "done",
            "segments_in": len(old_segs), "segments_out": target_segments,
            "salt": salt, "secs": round(time.time() - t0, 3)}],
    })
    _atomic_write_json(os.path.join(out_dir, MANIFEST), manifest)
    # terms, segnorms and stats commit through the one finalize; a merge
    # keeps every posting and docmap row, so a finalized source's terms
    # and stats come out unchanged
    return finalize(spark, out_dir)


@locked_writer("out_dir")
def resort_index(spark: SparkSession, index: IndexSnapshot, out_dir: str,
                 sort_by: str, attrs: DataFrame = None) -> IndexSnapshot:
    """Apply an index-time sort to an EXISTING index — the Sorter /
    SortingCodecReader capability (solr-8.4.0/.../index/Sorter.java,
    SortingCodecReader: wrap a reader with a docid permutation so the
    committed segment comes out in sort order). merge_index must clear
    index_sort (concatenation breaks per-segment order); merge_index +
    resort_index together ARE the reference's sort-aware merge path, and
    resort also upgrades an unsorted index in place.

    Per segment, in one cogroup kernel: docids re-assign by rank in
    (sort_by, id_cols) order; every term's postings decode once, map
    through the permutation, re-sort by new docid and re-encode (freqs
    and the per-doc position/offset slices ride the same permutation;
    impact frontiers recompute per new block). Docmap rows renumber, and
    terms/stats/segnorms re-finalize from the rewritten tables.

    attrs: DataFrame keyed by the index id columns supplying `sort_by`
    when the docmap doesn't already store it (an index built with
    sort_by= stores it; others don't). The column is stored in the new
    docmap either way, so sorted_topk early-termination works."""
    from ..streaming.incremental import finalize
    t0 = time.time()
    if index.deletes() is not None:
        raise ValueError("resort_index requires a tombstone-free index — "
                         "compact_index first (early termination counts "
                         "docids, not live docs)")
    os.makedirs(out_dir, exist_ok=True)
    id_cols = index.id_cols
    dm = index.docmap()
    if sort_by not in dm.columns:
        if attrs is None:
            raise ValueError(
                f"docmap has no {sort_by!r} column — pass attrs with "
                f"({', '.join(id_cols)}, {sort_by})")
        dm = dm.join(attrs.select(*id_cols, sort_by), id_cols)

    from pyspark.sql import Window
    w = Window.partitionBy("segment").orderBy(
        sort_by, *[c for c in id_cols if c != sort_by])
    ndm = dm.withColumn("new_docid",
                        F.row_number().over(w).cast("long") - 1)
    other = [c for c in dm.columns if c not in ("segment", "docid")]
    new_dm = ndm.select("segment", F.col("new_docid").alias("docid"),
                        *other)
    # permutation rides the small cogroup side: perm[old_docid] = new
    # (docids are dense 0..n-1 per segment — a check_index invariant)
    perm = (ndm.select("segment", "docid", "new_docid")
            .groupBy("segment")
            .agg(F.transform(
                F.array_sort(F.collect_list(
                    F.struct("docid", "new_docid"))),
                lambda s: s["new_docid"]).alias("perm")))

    pcols = [n for n, _ in POSTINGS_COLS]

    def kernel(key, post_pdf, side_pdf):
        if len(side_pdf) == 0 or len(post_pdf) == 0:
            return post_pdf[pcols] if len(post_pdf) else \
                pd.DataFrame({c: [] for c in pcols})
        pm = np.asarray(side_pdf["perm"].iloc[0], dtype=np.int64)

        def permute(docids):
            new_ids = pm[docids]
            order = np.argsort(new_ids)
            return order, new_ids[order]

        return rewrite_postings(int(key[0]), post_pdf, side_pdf, permute)

    post = index.postings()
    side = index.segnorms().join(perm, "segment")
    new_post = (post.groupBy("segment").cogroup(side.groupBy("segment"))
                .applyInPandas(kernel, schema=postings_schema_ddl()))
    batch_dir = os.path.join(out_dir, "batch_0")
    (new_post.repartitionByRange(
        max(int(index.manifest.get("num_segments", 8)), 8),
        "segment", "field", "term")
     .sortWithinPartitions("segment", "field", "term")
     .write.mode("overwrite").parquet(os.path.join(batch_dir,
                                                   "kind=postings")))
    (new_dm.repartition("segment")
     .sortWithinPartitions("segment", "docid")
     .write.mode("overwrite").parquet(os.path.join(batch_dir,
                                                   "kind=docmap")))
    manifest = dict(index.manifest)
    manifest.update({
        "run_id": uuid.uuid4().hex[:12],
        "batches": ["batch_0"],
        "index_sort": sort_by,
        # the new docmap was built from the OVERLAID view: updates
        # materialized (their files stay behind in the source index)
        "dv_updates": [],
        "checkpoints": index.manifest.get("checkpoints", []) + [{
            "stage": "resort", "status": "done", "sort_by": sort_by,
            "secs": round(time.time() - t0, 3)}],
    })
    _atomic_write_json(os.path.join(out_dir, MANIFEST), manifest)
    return finalize(spark, out_dir)
