"""PySpark-native inverted-index + BM25 top-k query engine with the
capabilities of the reference (LuXugang/Lucene-7.x-9.x — Lucene internals).

Public surface:
  index.build_index / IndexSnapshot      — IndexWriter / DirectoryReader
  searcher.Searcher                      — IndexSearcher (dense top-k)
  plans.query                            — Query model + rewrites
  oracle.OracleEngine                    — pure-pandas reference semantics
  operators.merge.merge_index            — SegmentMerger / TieredMergePolicy
  streaming.incremental                  — NRT append / snapshot refresh
  pipeline.{dedup,similarity,textstats,multimodal} — training-data ops
"""

__version__ = "0.1.0"

from ._worker import drop_archive_importers

# In a reused pyspark worker, stop re-reading pyspark.zip on every task.
drop_archive_importers()
