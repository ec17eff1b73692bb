"""In-place DocValues updates — IndexWriter.updateNumericDocValue /
updateBinaryDocValue (demos UpdateDocValuesTest.java,
NumericDocValuesTest.java family).

The reference writes generation-stamped docvalues update files (.dvd gen
overlays) next to the segment and resolves them at read time; a merge
folds them into the rewritten segment. Same contract here:

  - an update op writes a small (segment, docid, value) parquet overlay
    and commits it through the manifest (two-phase, snapshot-isolated);
  - IndexSnapshot.docmap() applies the overlays lazily in generation
    order (last writer wins), broadcast-joined so the base docmap is
    never shuffled — merge-on-read;
  - compact_index / merge_index materialize the overlaid values into the
    rewritten docmap and clear the overlay list — merge-on-write.

Postings, norms and stats are untouched, exactly like the reference
(docvalues updates never re-invert the document)."""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession

from ..index import (MANIFEST, IndexSnapshot, _atomic_write_json,
                     locked_writer)


@locked_writer("index_dir")
def update_doc_values(spark: SparkSession, index_dir: str, field: str,
                      updates: DataFrame) -> int:
    """Update (or create) the per-doc column `field` for the docs whose
    id columns appear in `updates` (id cols + a `value` column typed as
    the field's type). Returns the number of doc rows updated. The
    index-sort field cannot be updated (the reference forbids updating
    the sort field too — it would silently break early-termination)."""
    idx = IndexSnapshot(spark, index_dir)
    if field == idx.manifest.get("index_sort"):
        raise ValueError(f"cannot update index-sort field {field!r}")
    if field in ("segment", "docid", *idx.id_cols, "norm", "dl",
                 "extra_norms"):
        raise ValueError(f"column {field!r} is structural, not docvalues")
    base = spark.read.parquet(*[
        os.path.join(index_dir, d, "kind=docmap")
        for d in idx.manifest["batches"]])
    rows = (base.join(updates.select(*idx.id_cols, "value").distinct(),
                      idx.id_cols)
            .select("segment", "docid", "value"))
    gen = int(idx.manifest.get("dv_gen", 0)) + 1
    name = os.path.join("dv_updates", f"dv_{uuid.uuid4().hex[:12]}")
    path = os.path.join(index_dir, name)
    rows.write.mode("overwrite").parquet(path)
    n = spark.read.parquet(path).count()
    m = dict(idx.manifest)
    m["dv_updates"] = m.get("dv_updates", []) + [
        {"path": name, "field": field, "gen": gen}]
    m["dv_gen"] = gen
    m["run_id"] = uuid.uuid4().hex[:12]
    m.setdefault("checkpoints", []).append(
        {"stage": "dv_update", "batch": name, "field": field,
         "status": "done", "rows": n, "gen": gen})
    _atomic_write_json(os.path.join(index_dir, MANIFEST), m)
    return n
