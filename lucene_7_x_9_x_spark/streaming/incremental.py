"""Incremental index maintenance — the NRT-reader / openIfChanged analogue
(SURVEY.md §2.9): new corpus files become new segments appended under a new
snapshot; readers only ever see complete manifests (two-phase commit,
solr-8.4.0/lucene/core/src/java/org/apache/lucene/index/IndexWriter.java:3408).

Structured Streaming drives discovery: ``readStream`` over the corpus
directory with ``availableNow`` + ``foreachBatch`` appends each micro-batch
as a segment batch, then finalize() refreshes global terms/stats — the
Spark-idiomatic form of Lucene's flush-new-segment + commit.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..index import (MANIFEST, IndexSnapshot, _atomic_write_json,
                     _dir_bytes, _finalize_tables, _prepare_rows,
                     _write_batch, locked_writer)


@locked_writer("index_dir")
def append_batch(spark: SparkSession, corpus_batch: DataFrame,
                 index_dir: str, *, segments_in_batch: int | None = None
                 ) -> None:
    """Append one corpus micro-batch as new segments (no re-finalize),
    written by the build's own batch writer with the index's analyzers."""
    idx = IndexSnapshot(spark, index_dir)
    if idx.manifest.get("index_sort"):
        # sorted-index appends would need the sort column plumbed through
        # the docmap union; one-shot rebuilds keep the sort invariant
        raise ValueError("incremental append into a sort_by index is not "
                         "supported; rebuild with build_index(sort_by=...)")
    id_cols = idx.id_cols
    seg_base = idx.manifest["num_segments"]
    n_seg = segments_in_batch or max(
        spark.sparkContext.defaultParallelism // 4, 1)
    seg_col = (F.pmod(F.xxhash64(*[F.col(c) for c in id_cols]),
                      F.lit(n_seg)).cast("int") + F.lit(seg_base))
    batch_name = f"batch_inc_{len(idx.manifest['batches'])}"
    _write_batch(
        _prepare_rows(corpus_batch, id_cols, idx.manifest["text_col"],
                      idx.extra_fields, segment=seg_col),
        os.path.join(index_dir, batch_name), n_seg,
        id_cols=id_cols, dm_fields=idx.id_fields,
        extra_fields=idx.extra_fields, cfg=idx.analyzer,
        with_positions=idx.manifest["with_positions"],
        with_offsets=idx.manifest.get("with_offsets", False),
        field_analyzers=idx.field_analyzers)

    m = dict(idx.manifest)
    m["batches"] = m["batches"] + [batch_name]
    m["num_segments"] = seg_base + n_seg
    m["run_id"] = uuid.uuid4().hex[:12]
    m.setdefault("checkpoints", []).append({
        "stage": "append", "batch": batch_name, "status": "done",
        "bytes_compressed": _dir_bytes(os.path.join(index_dir, batch_name))})
    _atomic_write_json(os.path.join(index_dir, MANIFEST), m)


@locked_writer("index_dir")
def finalize(spark: SparkSession, index_dir: str) -> IndexSnapshot:
    """Recompute global terms/stats after appends (snapshot refresh)."""
    idx = IndexSnapshot(spark, index_dir)
    m = dict(idx.manifest)
    m["stats"] = _finalize_tables(spark, index_dir, m["batches"],
                                  idx.extra_fields, m["num_segments"])
    _atomic_write_json(os.path.join(index_dir, MANIFEST), m)
    return IndexSnapshot(spark, index_dir)


def run_incremental(spark: SparkSession, corpus_glob: str, index_dir: str,
                    corpus_schema: str, checkpoint_dir: str) -> IndexSnapshot:
    """availableNow Structured Streaming pass: index all not-yet-processed
    corpus files, then refresh the snapshot. Re-running after new files
    arrive indexes only the new ones (stream checkpoint = Lucene's
    segments_N generation tracking)."""
    stream = (spark.readStream.schema(corpus_schema)
              .parquet(corpus_glob))

    def handle(batch_df: DataFrame, batch_id: int):
        if batch_df.isEmpty():
            return
        append_batch(spark, batch_df, index_dir)

    q = (stream.writeStream.foreachBatch(handle)
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return finalize(spark, index_dir)
