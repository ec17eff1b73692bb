"""Deletes / updates — the liveDocs analogue (closes SURVEY §7.5's scoped-out
sliver).

Lucene marks deletions in per-segment liveDocs bitsets: deleted docs stop
matching immediately, but keep contributing to docFreq/totalTermFreq until a
merge rewrites the segment (IndexWriter.deleteDocuments;
solr-8.4.0/.../index/FreqProxTermsWriter.java:39-66 applies buffered deletes
at flush). This module mirrors that contract:

  - tombstones are tiny (segment, docid) parquet rows committed through the
    manifest (two-phase, snapshot-isolated: an already-open IndexSnapshot
    never sees them);
  - the Searcher filters tombstoned docs inside the per-segment kernels
    BEFORE top-k, so k semantics stay exact;
  - global stats stay unchanged until finalize()/merge, exactly like
    Lucene's docFreq-including-deletes behavior;
  - update = delete old ids + append the new docs as new segments
    (IndexWriter.updateDocument).
"""

from __future__ import annotations

import os
import time
import uuid

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..index import (MANIFEST, IndexSnapshot, _atomic_write_json,
                     locked_writer)
from ..operators.build import (POSTINGS_COLS, postings_schema_ddl,
                               rewrite_postings)


@locked_writer("index_dir")
def delete_by_ids(spark: SparkSession, index_dir: str,
                  ids: DataFrame) -> int:
    """Mark docs whose id columns appear in `ids` as deleted. Returns the
    number of tombstones written. Ids absent from the index are ignored."""
    idx = IndexSnapshot(spark, index_dir)
    tomb = (idx.docmap()
            .join(ids.select(*idx.id_cols).distinct(), idx.id_cols,
                  "leftsemi")
            .select("segment", "docid"))
    name = os.path.join("deletes", f"del_{uuid.uuid4().hex[:12]}")
    path = os.path.join(index_dir, name)
    tomb.write.mode("overwrite").parquet(path)
    n = spark.read.parquet(path).count()
    m = dict(idx.manifest)
    m["deletes"] = m.get("deletes", []) + [name]
    m["run_id"] = uuid.uuid4().hex[:12]
    m.setdefault("checkpoints", []).append(
        {"stage": "delete", "batch": name, "status": "done", "rows": n})
    _atomic_write_json(os.path.join(index_dir, MANIFEST), m)
    return n


@locked_writer("index_dir")
def soft_delete_by_ids(spark: SparkSession, index_dir: str,
                       ids: DataFrame, value: int | None = None) -> int:
    """Soft-delete — the soft-deletes DocValues field analogue
    (IndexWriterConfig.setSoftDeletesField + softUpdateDocument's
    NumericDocValuesField stamp; demos lucene.softDeletes
    .SoftDeletesTest0-10). Docs stop matching searches exactly like hard
    tombstones, but stay physically present and can be restored
    (undelete_by_ids) or retained through compaction by a retention
    policy (compact_index soft_retention) — the
    SoftDeletesRetentionMergePolicy contract. `value` is the stamp the
    reference writes into the docvalues field; a monotone `seq` is
    recorded per operation for sequence-based retention."""
    idx = IndexSnapshot(spark, index_dir)
    seq = int(idx.manifest.get("soft_seq", 0)) + 1
    tomb = (idx.docmap()
            .join(ids.select(*idx.id_cols).distinct(), idx.id_cols,
                  "leftsemi")
            .select("segment", "docid",
                    F.lit(value).cast("long").alias("value"),
                    F.lit(seq).cast("long").alias("seq")))
    name = os.path.join("soft_deletes", f"soft_{uuid.uuid4().hex[:12]}")
    path = os.path.join(index_dir, name)
    tomb.write.mode("overwrite").parquet(path)
    n = spark.read.parquet(path).count()
    m = dict(idx.manifest)
    m["soft_deletes"] = m.get("soft_deletes", []) + [name]
    m["soft_seq"] = seq
    m["run_id"] = uuid.uuid4().hex[:12]
    m.setdefault("checkpoints", []).append(
        {"stage": "soft_delete", "batch": name, "status": "done",
         "rows": n, "seq": seq})
    _atomic_write_json(os.path.join(index_dir, MANIFEST), m)
    return n


@locked_writer("index_dir")
def undelete_by_ids(spark: SparkSession, index_dir: str,
                    ids: DataFrame) -> int:
    """Remove soft tombstones for the given ids — the recovery move soft
    deletes exist for (a hard tombstone cannot be taken back; demo
    SoftDeletesTest family keeps soft-deleted docs addressable via the
    unwrapped reader). Consolidates the remaining soft tombstones into
    one file and commits it through the manifest (two-phase: file first,
    manifest rename last), so an already-open snapshot is untouched.
    Returns the number of soft tombstones removed."""
    idx = IndexSnapshot(spark, index_dir, include_soft_deleted=True)
    sd = idx.soft_deletes()
    if sd is None:
        return 0
    victims = (idx.docmap()
               .join(ids.select(*idx.id_cols).distinct(), idx.id_cols,
                     "leftsemi")
               .select("segment", "docid"))
    remaining = sd.join(victims, ["segment", "docid"], "left_anti")
    name = os.path.join("soft_deletes",
                        f"soft_{uuid.uuid4().hex[:12]}")
    path = os.path.join(index_dir, name)
    remaining.write.mode("overwrite").parquet(path)
    n_before = sd.count()
    n_after = spark.read.parquet(path).count()
    m = dict(idx.manifest)
    m["soft_deletes"] = [name]
    m["run_id"] = uuid.uuid4().hex[:12]
    m.setdefault("checkpoints", []).append(
        {"stage": "undelete", "batch": name, "status": "done",
         "removed": n_before - n_after})
    _atomic_write_json(os.path.join(index_dir, MANIFEST), m)
    return n_before - n_after


@locked_writer("index_dir")
def soft_update_docs(spark: SparkSession, index_dir: str,
                     new_docs: DataFrame, value: int | None = None,
                     refresh_stats: bool = True) -> IndexSnapshot:
    """softUpdateDocument analogue: soft-delete existing docs with the
    same ids, append the replacements as new segments."""
    from ..streaming.incremental import append_batch, finalize
    idx = IndexSnapshot(spark, index_dir)
    soft_delete_by_ids(spark, index_dir, new_docs.select(*idx.id_cols),
                       value=value)
    append_batch(spark, new_docs, index_dir)
    if refresh_stats:
        return finalize(spark, index_dir)
    return IndexSnapshot(spark, index_dir)


@locked_writer("out_dir")
def compact_index(spark: SparkSession, index: IndexSnapshot,
                  out_dir: str, soft_retention=None,
                  dels_override: DataFrame | None = None
                  ) -> IndexSnapshot:
    """Apply tombstones PHYSICALLY — the role SegmentMerger plays for
    Lucene's liveDocs (deleted docs dropped, docids renumbered densely,
    postings/norms/stats rewritten; solr-8.4.0/.../index/SegmentMerger.java
    with MergeState.DocMap). Segments keep their ids; within a segment the
    kept docs are renumbered by rank: new_id = old_id - |deleted < old_id|.

    Per-segment work runs in one cogroup kernel through the shared
    postings re-encoder (operators.build.rewrite_postings): postings
    decode, drop the deleted docs, renumber and re-encode; impact
    frontiers are recomputed from the surviving (freq, norm) pairs; kept
    position/offset/payload slices are concatenated and re-offset. Global
    terms/stats are re-finalized, so docFreq no longer counts deleted
    docs — exactly the post-merge semantics of the reference."""
    from ..streaming.incremental import finalize
    t0 = time.time()
    os.makedirs(out_dir, exist_ok=True)
    # dels_override (the index-splitting path) rewrites with a CALLER-
    # supplied drop set instead of the committed tombstones — the
    # MergeState.DocMap machinery is identical either way
    dels = dels_override if dels_override is not None else index.deletes()
    if dels is None:
        raise ValueError("index has no tombstones to compact")
    dels = dels.select("segment", "docid")
    # SoftDeletesRetentionMergePolicy: soft-deleted docs selected by the
    # retention policy survive the rewrite PHYSICALLY (and stay soft-
    # deleted in the compacted index, renumbered); the rest are dropped
    # for good, exactly like hard tombstones. `soft_retention` is a
    # callable over the soft-tombstone DataFrame (segment, docid, value,
    # seq) returning the rows to RETAIN — the retention query's role.
    retained = None
    if soft_retention is not None and index.soft_deletes() is not None:
        sd = index.soft_deletes()
        retained = soft_retention(sd).select("segment", "docid",
                                             "value", "seq")
        hard = index.hard_deletes()
        if hard is not None:
            # a doc both hard- and soft-deleted is gone: hard wins
            retained = retained.join(hard.select("segment", "docid"),
                                     ["segment", "docid"], "left_anti")
        soft_phys = sd.select("segment", "docid").join(
            retained.select("segment", "docid"),
            ["segment", "docid"], "left_anti")
        dels = soft_phys if hard is None else \
            hard.select("segment", "docid").unionByName(soft_phys)
    # tombstones are NEVER collected to the driver: compaction is the one
    # op whose whole point is a huge delete set, so each segment's sorted
    # delete array rides the segnorms side of the cogroup (one small array
    # row per segment, co-shuffled with the norms blob). Driver memory is
    # O(1) regardless of tombstone count.
    n_tombstones = dels.count()
    del_arrays = (dels.groupBy("segment")
                  .agg(F.sort_array(F.collect_set("docid")).alias("dels")))

    # ---- docmap: drop tombstoned rows, renumber densely ----------------
    dm = index.docmap().join(dels, ["segment", "docid"], "left_anti")
    other_cols = [c for c in dm.columns if c not in ("segment", "docid")]
    from pyspark.sql import Window
    w = Window.partitionBy("segment").orderBy("docid")
    renum = dm.withColumn("new_docid",
                          F.row_number().over(w).cast("long") - 1)
    new_dm = renum.select("segment", F.col("new_docid").alias("docid"),
                          *other_cols)

    # ---- postings: decode -> filter -> renumber -> re-encode -----------
    pcols = [n for n, _ in POSTINGS_COLS]

    def kernel(key, post_pdf, sn_pdf):
        if len(sn_pdf) == 0:
            return post_pdf[pcols]  # untouched segment passes through
        dval = sn_pdf["dels"].iloc[0]
        if dval is None or len(dval) == 0:
            return post_pdf[pcols]
        deleted = np.asarray(dval, dtype=np.int64)

        def drop_deleted(docids):
            keep = ~np.isin(docids, deleted, assume_unique=True)
            sel = np.nonzero(keep)[0]
            kept = docids[sel]
            return sel, kept - np.searchsorted(deleted, kept)

        return rewrite_postings(int(key[0]), post_pdf, sn_pdf, drop_deleted)

    post = index.postings()
    sn = index.segnorms().join(del_arrays, "segment", "left")
    new_post = (post.groupBy("segment").cogroup(sn.groupBy("segment"))
                .applyInPandas(kernel, schema=postings_schema_ddl()))

    batch_dir = os.path.join(out_dir, "batch_0")
    (new_post.repartitionByRange(
        max(int(index.manifest.get("num_segments", 8)), 8),
        "segment", "field", "term")
     .sortWithinPartitions("segment", "field", "term")
     .write.mode("overwrite").parquet(os.path.join(batch_dir,
                                                   "kind=postings")))
    (new_dm.repartition("segment").sortWithinPartitions("segment", "docid")
     .write.mode("overwrite").parquet(os.path.join(batch_dir,
                                                   "kind=docmap")))
    # retained soft tombstones follow their docs into the new coordinate
    # space: renumbered by the SAME rank mapping the docmap used
    new_soft: list[str] = []
    if retained is not None:
        kept = (retained.withColumnRenamed("docid", "_odoc")
                .join(renum.select("segment",
                                   F.col("docid").alias("_odoc"),
                                   "new_docid"),
                      ["segment", "_odoc"])
                .select("segment", F.col("new_docid").alias("docid"),
                        "value", "seq"))
        name = os.path.join("soft_deletes", "soft_kept")
        kept.write.mode("overwrite").parquet(os.path.join(out_dir, name))
        new_soft = [name]

    manifest = dict(index.manifest)
    manifest.update({
        "run_id": uuid.uuid4().hex[:12],
        "batches": ["batch_0"],
        "deletes": [],
        "soft_deletes": new_soft,
        "dv_updates": [],
        "checkpoints": index.manifest.get("checkpoints", []) + [{
            "stage": "compact", "status": "done",
            "tombstones": int(n_tombstones),
            "secs": round(time.time() - t0, 3)}],
    })
    _atomic_write_json(os.path.join(out_dir, MANIFEST), manifest)
    # terms dictionary + stats + segnorms all change: re-finalize
    return finalize(spark, out_dir)


@locked_writer("index_dir")
def update_docs(spark: SparkSession, index_dir: str, new_docs: DataFrame,
                *, refresh_stats: bool = True) -> IndexSnapshot:
    """updateDocument analogue: tombstone any existing docs with the same
    ids, append the new docs as new segments, then (optionally) refresh the
    global terms/stats snapshot."""
    from ..streaming.incremental import append_batch, finalize
    idx = IndexSnapshot(spark, index_dir)
    delete_by_ids(spark, index_dir, new_docs.select(*idx.id_cols))
    append_batch(spark, new_docs, index_dir)
    if refresh_stats:
        return finalize(spark, index_dir)
    return IndexSnapshot(spark, index_dir)
