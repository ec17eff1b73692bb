"""Index lifecycle: build, commit, load — the IndexWriter/DirectoryReader
analogue.

Commit semantics mirror Lucene's two-phase ``segments_N`` generation commit
(solr-8.4.0/lucene/core/src/java/org/apache/lucene/index/IndexWriter.java:3408,
SegmentInfos.java): every stage writes to a temp location and a final
``manifest.json`` is atomically renamed into place; readers only ever see a
complete manifest (Iceberg-snapshot semantics without requiring the Iceberg
runtime — the layout is a plain parquet dataset and the same code can write
through an Iceberg catalog when one is configured).

Scale design (SURVEY.md §7):
  - The corpus is shuffled ONCE (hash of doc identity -> segment), each
    segment inverted independently in one task (the DWPT analogue), and both
    postings and docmap rows come out of that single pass, written
    ``partitionBy(kind)`` so each lands in its own parquet subtree.
  - Postings are written sorted by term within each file so parquet
    row-group min/max stats prune term lookups (the FST/BlockTree seek
    analogue, SURVEY.md §3.3).
  - Resumability: segments are processed in batches; each batch commit
    writes a checkpoint JSON with lineage + metrics; a resumed build skips
    completed batches (north rule).
"""

from __future__ import annotations

import json
import os
import time
import uuid

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from .functions.analysis import AnalyzerConfig
from .operators.build import (combine_segment_rows, combined_schema_ddl,
                              invert_segment, parse_segnorms)

MANIFEST = "manifest.json"
# On-disk layout generation, stamped into every manifest.  Version 2 =
# multi-field postings/norms.  Readers refuse other generations with a
# typed error — the IndexFormatTooOld/TooNewException role
# (L/index/IndexFormatTooOldException.java; demo OldVersionTest.java):
# a clear refusal with a remedy beats decoding garbage.
FORMAT_VERSION = 2


class IndexFormatError(RuntimeError):
    """Index layout generation this reader cannot open."""


def _atomic_write_json(path: str, obj: dict):
    tmp = path + f".tmp.{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=2, default=str)
    os.replace(tmp, path)


class LockObtainFailedError(RuntimeError):
    """Another writer holds this index's write.lock —
    LockObtainFailedException (L/store/Lock.java, demos
    NativeFSLockFactory.java / LockStree.java)."""


WRITE_LOCK = "write.lock"
_HELD_LOCKS: set = set()  # same-process reentrancy (update calls delete)


class writer_lock:
    """IndexWriter single-writer guard — the write.lock role
    (L/store/NativeFSLockFactory.java, SimpleFSLockFactory.java; demo
    lucene/index/LockStree.java).  Create-exclusive lock FILE rather than
    an OS flock: the index root is a shared filesystem / object-store
    prefix on a real cluster, where O_EXCL-create is the portable
    primitive (SimpleFSLockFactory's model; object stores have no byte
    locks).  The file records {pid, host, acquired_at}; a lock whose
    owner pid is dead ON THE SAME HOST is stale and is broken
    automatically (the documented SimpleFSLockFactory crash weakness,
    resolved the way IndexWriter.unlock did).  Same-process reentrant:
    compound mutators (updateDocument = delete + add) nest freely."""

    def __init__(self, index_dir: str):
        os.makedirs(index_dir, exist_ok=True)
        self.path = os.path.join(index_dir, WRITE_LOCK)
        self._owner = False

    def __enter__(self):
        if self.path in _HELD_LOCKS:
            return self  # reentrant inner scope: outer holds it
        for attempt in (0, 1):
            try:
                fd = os.open(self.path,
                             os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                with os.fdopen(fd, "w") as f:
                    json.dump({"pid": os.getpid(), "host": os.uname()[1],
                               "acquired_at": time.time()}, f)
                self._owner = True
                _HELD_LOCKS.add(self.path)
                return self
            except FileExistsError:
                if attempt or not self._stale():
                    raise LockObtainFailedError(
                        f"write.lock held for {os.path.dirname(self.path)}"
                        " — another writer is active (delete the lock "
                        "file only if you are sure it is stale on a "
                        "remote host)") from None
                try:  # break the stale lock, then retry the O_EXCL once
                    os.unlink(self.path)
                except FileNotFoundError:
                    pass
        raise AssertionError("unreachable")

    def _stale(self) -> bool:
        try:
            with open(self.path) as f:
                owner = json.load(f)
        except (OSError, ValueError):
            return False  # unreadable/mid-write: treat as live
        if owner.get("host") != os.uname()[1]:
            return False  # liveness unknowable across hosts
        try:
            os.kill(int(owner.get("pid", -1)), 0)
            return False  # alive
        except ProcessLookupError:
            return True
        except (PermissionError, ValueError, OverflowError):
            return False

    def __exit__(self, *exc):
        if self._owner:
            _HELD_LOCKS.discard(self.path)
            try:
                os.unlink(self.path)
            except FileNotFoundError:
                pass
        return False


def locked_writer(argname: str):
    """Decorator: run the index-mutating function under the target
    directory's write.lock (IndexWriter's ensureOpen/obtainLock
    discipline).  `argname` names the parameter holding the index/output
    directory.  Readers never lock — single-writer, multi-reader."""
    import functools
    import inspect

    def deco(fn):
        sig = inspect.signature(fn)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            ba = sig.bind(*args, **kwargs)
            with writer_lock(str(ba.arguments[argname])):
                return fn(*args, **kwargs)
        return wrapper
    return deco


class IndexSnapshot:
    """Point-in-time readable view (DirectoryReader analogue)."""

    def __init__(self, spark: SparkSession, root: str,
                 include_soft_deleted: bool = False,
                 manifest_name: str = MANIFEST):
        self.spark = spark
        self.root = root
        # include_soft_deleted=True is the reader opened WITHOUT the
        # SoftDeletesDirectoryReaderWrapper (demo lucene.softDeletes.*):
        # soft-deleted docs stay visible
        self.include_soft_deleted = include_soft_deleted
        # manifest_name other than the default opens the index AT A PAST
        # COMMIT POINT (DirectoryReader.open(IndexCommit) — see
        # operators/commits.py); relative to root
        with open(os.path.join(root, manifest_name)) as f:
            self.manifest = json.load(f)
        fv = self.manifest.get("format_version", 1)
        if fv != FORMAT_VERSION:
            age = "older" if fv < FORMAT_VERSION else "newer"
            raise IndexFormatError(
                f"index at {root} has format_version {fv}; this reader "
                f"opens only {FORMAT_VERSION} ({age} layout — rebuild the "
                "index, or open it with a matching engine version)")
        self.id_fields = [tuple(x) for x in self.manifest["id_fields"]]
        self.id_cols = [n for n, _ in self.id_fields]
        # multi-field support (format_version >= 2): the default field is
        # named after its source text column; extra fields are
        # [(field_name, source_column)] in index order
        self.default_field = self.manifest["text_col"]
        self.extra_fields = [tuple(x) for x in
                             self.manifest.get("extra_fields", [])]
        self.field_names = [self.default_field] + [n for n, _ in
                                                   self.extra_fields]
        def _cfg(a: dict) -> AnalyzerConfig:
            return AnalyzerConfig(
                token_regex=a["token_regex"],
                max_token_length=a["max_token_length"],
                stopwords=frozenset(a["stopwords"]),
                stemmer=a.get("stemmer"),
                synonyms=tuple((lhs, tuple(rhs))
                               for lhs, rhs in a.get("synonyms", [])),
                synonyms_at=a.get("synonyms_at", "query"),
                ascii_fold=a.get("ascii_fold", False),
                shingles=tuple(a.get("shingles", [])),
                phonetic=a.get("phonetic"),
                cjk_bigrams=a.get("cjk_bigrams", False),
                payload_delim=a.get("payload_delim"),
                edge_ngrams=tuple(a.get("edge_ngrams", [])),
                ngrams=tuple(a.get("ngrams", [])))
        self.analyzer = _cfg(self.manifest["analyzer"])
        self.field_analyzers = {
            n: _cfg(a)
            for n, a in self.manifest.get("field_analyzers", {}).items()}

    # lazy DataFrames — memoized: re-listing parquet files and re-deriving
    # the relation per query costs driver milliseconds that dominate hot
    # low-latency paths; DataFrames are immutable lazy plans, so reuse is
    # free and safe (a snapshot is point-in-time by construction)
    def postings(self) -> DataFrame:
        if not hasattr(self, "_postings_df"):
            self._postings_df = self.spark.read.parquet(*[
                os.path.join(self.root, d, "kind=postings")
                for d in self.manifest["batches"]])
        return self._postings_df

    def docmap(self) -> DataFrame:
        if not hasattr(self, "_docmap_df"):
            dm = self.spark.read.parquet(*[
                os.path.join(self.root, d, "kind=docmap")
                for d in self.manifest["batches"]])
            # docvalues update overlays (operators.docvalues): applied
            # lazily in generation order, last writer wins — the .dvd
            # gen-file merge-on-read of the reference. The overlay side
            # is small (one update op) and broadcast, so the base docmap
            # is never shuffled; compaction/merge fold overlays in and
            # clear the list.
            for ent in self.manifest.get("dv_updates", []):
                upd = self.spark.read.parquet(
                    os.path.join(self.root, ent["path"]))
                fld = ent["field"]
                base = F.col(fld) if fld in dm.columns else \
                    F.lit(None).cast(upd.schema["value"].dataType)
                dm = (dm.join(
                        F.broadcast(upd.withColumnRenamed("value",
                                                          "_dv_upd")),
                        ["segment", "docid"], "left")
                      .withColumn(fld, F.coalesce(F.col("_dv_upd"), base))
                      .drop("_dv_upd"))
            self._docmap_df = dm
        return self._docmap_df

    def terms(self) -> DataFrame:
        """Global term dictionary: term -> (doc_freq, total_term_freq)."""
        if not hasattr(self, "_terms_df"):
            self._terms_df = self.spark.read.parquet(
                os.path.join(self.root, "terms"))
        return self._terms_df

    def _pads_dataset(self, dirs: tuple):
        """Memoized pyarrow dataset per directory tuple — dataset discovery
        (file listing + schema unification) costs tens of ms per call and
        sits on the hot driver-side seek paths (term_stats_lookup /
        impacts_lookup); a snapshot is point-in-time, so reuse is safe."""
        import pyarrow.dataset as pads
        if not hasattr(self, "_pads_cache"):
            self._pads_cache = {}
        got = self._pads_cache.get(dirs)
        if got is None:
            if len(dirs) == 1:
                got = pads.dataset(dirs[0], format="parquet")
            else:  # pyarrow accepts one dir or a union of datasets
                got = pads.dataset(
                    [pads.dataset(d, format="parquet") for d in dirs])
            self._pads_cache[dirs] = got
        return got

    def _batches_dataset(self, kind: str):
        """The pyarrow dataset of one row kind ("postings"/"docmap") over
        every batch of the snapshot."""
        return self._pads_dataset(tuple(
            os.path.join(self.root, d, f"kind={kind}")
            for d in self.manifest["batches"]))

    def segnorms(self) -> DataFrame:
        """Per-segment norms blob: (segment, max_doc, norms binary) — one
        tiny row per segment so queries need never shuffle the docmap (the
        per-leaf norms file of Lucene, SURVEY.md §2.2 norms writer)."""
        if not hasattr(self, "_segnorms_df"):
            self._segnorms_df = self.spark.read.parquet(
                os.path.join(self.root, "segnorms"))
        return self._segnorms_df

    def segnorms_parsed(self) -> dict:
        """{segment: (default norms uint8[], max_doc, {field: uint8[]})} —
        the segnorms table read with pyarrow and parsed once per snapshot
        (no Spark job); the driver-side search path and the broadcast-norms
        kernel share it."""
        if not hasattr(self, "_segnorms_parsed"):
            pdf = self._pads_dataset(
                (os.path.join(self.root, "segnorms"),)).to_table().to_pandas()
            self._segnorms_parsed = {int(seg): parse_segnorms(g)
                                     for seg, g in pdf.groupby("segment")}
        return self._segnorms_parsed

    def term_stats_lookup(self, keys) -> dict:
        """Driver-side terms-dict seek — the TermsEnum.seekExact analogue
        (solr-8.4.0/.../index/TermsEnum.java capability; Lucene's seek is a
        cheap mmap'd FST walk, NOT a cluster job). The terms table is
        written repartitionByRange(field, term) + sortWithinPartitions, so
        a direct pyarrow read with a pushed-down filter prunes whole files
        and row groups on (field, term) min/max stats and returns in
        milliseconds; scheduling a Spark job for this doubled cold-query
        latency (the round-3 two-job floor). Works against any pyarrow
        filesystem (local here; s3/hdfs via the same API at scale).

        keys: iterable of bare term strings (default field) and/or
        (field, term) tuples. Returns {key: (doc_freq, total_term_freq)}
        for the keys present in the dictionary."""
        dset = self._pads_dataset((os.path.join(self.root, "terms"),))
        expr = _key_expr(keys)
        if expr is None:
            return {}
        tbl = dset.to_table(filter=expr, columns=[
            "field", "term", "doc_freq", "total_term_freq"]).to_pydict()
        out = {}
        for f, t, df_, ttf in zip(tbl["field"], tbl["term"],
                                  tbl["doc_freq"], tbl["total_term_freq"]):
            out[t if f is None else (f, t)] = (int(df_), int(ttf))
        return out

    def impacts_lookup(self, keys) -> dict:
        """Driver-side read of the index-time IMPACT pairs of the given
        term keys — (freq, norm) frontier entries accumulated per block by
        the CompetitiveImpactAccumulator analogue (functions/codec.py;
        solr-8.4.0/.../codecs/CompetitiveImpactAccumulator.java). Every
        stored pair was observed on a REAL document, and within one
        (term, segment) all pairs belong to distinct docs — which is what
        makes the k-th best achieved impact score a SAFE driver-side
        floor for top-k pruning (see Searcher._seed_theta). Pure pyarrow
        column read (term + impact arrays only; the postings files are
        term-sorted so row groups prune) — no Spark job.

        Returns {key: (freqs int64[], norms int64[])} concatenated across
        segments and blocks."""
        dset = self._batches_dataset("postings")
        expr = _key_expr(keys)
        if expr is None:
            return {}
        tbl = dset.to_table(filter=expr, columns=[
            "field", "term", "imp_freqs", "imp_norms"]).to_pydict()
        def _flat(x):
            # imp columns are list<list<int>> (one inner list per block)
            for item in x:
                if isinstance(item, (list, tuple)):
                    yield from item
                else:
                    yield item

        acc: dict = {}
        for f, t, fr, no in zip(tbl["field"], tbl["term"],
                                tbl["imp_freqs"], tbl["imp_norms"]):
            k = t if f is None else (f, t)
            got = acc.setdefault(k, ([], []))
            got[0].extend(_flat(fr))
            got[1].extend(_flat(no))
        return {k: (np.asarray(v[0], dtype=np.int64),
                    np.asarray(v[1], dtype=np.int64))
                for k, v in acc.items()}

    def postings_rows(self, keys, columns: list):
        """Driver-side read of the postings rows of the given term keys
        (pyarrow Table of `columns`) — the same pushed-down key filter as
        impacts_lookup, so term-sorted row groups prune; no Spark job."""
        dset = self._batches_dataset("postings")
        expr = _key_expr(keys)
        if expr is None:
            return dset.schema.empty_table().select(columns)
        return dset.to_table(filter=expr, columns=columns)

    def postings_bytes(self) -> int:
        """On-disk bytes of the postings parquet files of every batch."""
        if not hasattr(self, "_postings_bytes"):
            dset = self._batches_dataset("postings")
            # a multi-batch snapshot is a UnionDataset of per-batch datasets
            parts = getattr(dset, "children", None) or [dset]
            self._postings_bytes = sum(
                fi.size for p in parts
                for fi in p.filesystem.get_file_info(p.files))
        return self._postings_bytes

    def docmap_rows(self, segments, docids, columns: list):
        """Point-read of the BASE docmap rows (no dv_updates overlay) whose
        segment is in `segments` and docid in `docids`: pyarrow Table
        (segment, docid, *columns), in file order. A superset of the
        (segment, docid) pairs — join on both keys to keep exactly them."""
        import pyarrow.dataset as pads
        dset = self._batches_dataset("docmap")
        return dset.to_table(
            filter=(pads.field("segment").isin(sorted(set(segments)))
                    & pads.field("docid").isin(sorted(set(docids)))),
            columns=["segment", "docid", *columns])

    def hard_deletes(self) -> DataFrame | None:
        """Hard-tombstoned (segment, docid) rows committed by
        operators.deletes (the liveDocs analogue), or None."""
        dirs = self.manifest.get("deletes", [])
        if not dirs:
            return None
        return self.spark.read.parquet(
            *[os.path.join(self.root, d) for d in dirs])

    def soft_deletes(self) -> DataFrame | None:
        """Soft-tombstone rows (segment, docid, value, seq) — the
        soft-deletes DocValues field analogue (IndexWriterConfig
        .setSoftDeletesField; demos lucene.softDeletes.SoftDeletesTest*):
        `value` is the NumericDocValuesField value the soft-delete was
        stamped with, `seq` a monotone operation sequence (retention
        policies select on either). None if the snapshot has none."""
        dirs = self.manifest.get("soft_deletes", [])
        if not dirs:
            return None
        return self.spark.read.parquet(
            *[os.path.join(self.root, d) for d in dirs])

    def deletes(self) -> DataFrame | None:
        """EFFECTIVE tombstones for search: hard deletes plus — unless
        this snapshot was opened with include_soft_deleted — the soft
        ones. Duplicate (segment, docid) rows are harmless to every
        consumer (anti-joins / isin membership), so no distinct here."""
        parts = []
        hd = self.hard_deletes()
        if hd is not None:
            parts.append(hd.select("segment", "docid"))
        if not self.include_soft_deleted:
            sd = self.soft_deletes()
            if sd is not None:
                parts.append(sd.select("segment", "docid"))
        if not parts:
            return None
        return parts[0] if len(parts) == 1 else \
            parts[0].unionByName(parts[1])

    @property
    def stats(self) -> dict:
        return self.manifest["stats"]

    def field_stats(self) -> dict:
        """{field_name: (doc_count, sum_total_term_freq)} for the named
        NON-default fields (the default field's stats are the top-level
        doc_count / sum_total_term_freq)."""
        return {n: (int(st["doc_count"]), int(st["sum_total_term_freq"]))
                for n, st in self.manifest["stats"].get(
                    "per_field", {}).items()}

    def checkpoints(self) -> list[dict]:
        return self.manifest.get("checkpoints", [])


def _key_expr(keys):
    """pyarrow filter selecting term KEYS from a (field, term) table:
    (field IS NULL AND term IN bare) OR (field = f AND term IN ...) per
    named field; None when there are no keys."""
    import pyarrow.dataset as pads
    bare = sorted(k for k in keys if isinstance(k, str))
    by_field: dict = {}
    for k in keys:
        if not isinstance(k, str):
            by_field.setdefault(k[0], []).append(k[1])
    expr = None
    if bare:
        expr = pads.field("term").isin(bare) & pads.field("field").is_null()
    for f, ts in sorted(by_field.items()):
        e = (pads.field("field") == f) & pads.field("term").isin(sorted(ts))
        expr = e if expr is None else expr | e
    return expr


def _analyzer_manifest(cfg: AnalyzerConfig) -> dict:
    """JSON form of an analyzer chain — persisted like the reference's
    per-field analysis configuration so searchers reconstruct the exact
    build-time chain (stemmer, synonyms) from the index alone."""
    return {"token_regex": cfg.token_regex,
            "max_token_length": cfg.max_token_length,
            "stopwords": sorted(cfg.stopwords),
            "stemmer": cfg.stemmer,
            "synonyms": [[lhs, list(rhs)] for lhs, rhs in cfg.synonyms],
            "synonyms_at": cfg.synonyms_at,
            "ascii_fold": cfg.ascii_fold,
            "shingles": list(cfg.shingles),
            "phonetic": cfg.phonetic,
            "cjk_bigrams": cfg.cjk_bigrams,
            "payload_delim": cfg.payload_delim,
            "edge_ngrams": list(cfg.edge_ngrams),
            "ngrams": list(cfg.ngrams)}


@locked_writer("out_dir")
def build_index(
    spark: SparkSession,
    corpus: DataFrame,
    out_dir: str,
    *,
    id_cols: list[str],
    text_col: str = "content",
    num_segments: int | None = None,
    num_batches: int = 1,
    analyzer: AnalyzerConfig | None = None,
    with_positions: bool = True,
    resume: bool = False,
    segment_by: str = "hash",
    extra_fields: list | None = None,
    with_offsets: bool = False,
    sort_by: str | None = None,
    field_analyzers: dict | None = None,
) -> IndexSnapshot:
    """One-shot (optionally batched + resumable) index build.

    segment_by:
      "hash"  — segment = hash(doc identity) % num_segments: one corpus
                shuffle, but segments are stable across rebuilds and input
                layouts (strict determinism; required for batched resume).
      "input" — segment = input scan partition (the Lucene DWPT model,
                DocumentsWriterPerThread.java:229: a writer thread indexes
                whatever docs it receives): ZERO corpus shuffle — at 100 TB
                this removes the single biggest data movement of the build.
                Deterministic for identical input files + scan config;
                num_segments/num_batches are ignored (segments = scan
                partitions, sized by spark.sql.files.maxPartitionBytes).

    extra_fields: [(field_name, source_column)] — indexed text fields beyond
    the default one (which is named after text_col). Each gets per-field
    postings (field column), norms (segnorms rows + docmap.extra_norms) and
    collection stats (manifest stats.per_field) — the FieldInfos /
    per-field-CollectionStatistics model of the reference
    (solr-8.4.0/.../index/FieldInfos.java, IndexSearcher.java:790-803).

    sort_by: a corpus column to assign docids by WITHIN each segment (ties
    broken by id_cols) — the index-time sort of the reference
    (solr-8.4.0/.../index/IndexWriterConfig.java setIndexSort /
    Sorter.java): Searcher.sorted_topk then early-terminates sort-field
    top-k queries by reading only the first k docids of each segment.
    The column is carried in the docmap and recorded in the manifest.
    """
    t_total = time.time()
    cfg = analyzer or AnalyzerConfig()
    os.makedirs(out_dir, exist_ok=True)
    ckpt_dir = os.path.join(out_dir, "checkpoints")
    os.makedirs(ckpt_dir, exist_ok=True)
    run_id = uuid.uuid4().hex[:12]

    if num_segments is None:
        num_segments = max(spark.sparkContext.defaultParallelism, 1)

    id_fields = [(f.name, f.dataType.simpleString())
                 for f in corpus.schema.fields if f.name in id_cols]
    extra_fields = [tuple(x) for x in (extra_fields or [])]
    col_types = {f.name: f.dataType.simpleString()
                 for f in corpus.schema.fields}
    if sort_by is not None and sort_by not in col_types:
        raise ValueError(f"sort_by column {sort_by!r} not in corpus")
    # the sort column rides the docmap (an extra stored column) unless it
    # already is an id column
    sort_extra = (sort_by is not None and sort_by not in id_cols)
    dm_fields = id_fields + ([(sort_by, col_types[sort_by])]
                             if sort_extra else [])
    keep = [sort_by] if sort_extra else []

    if segment_by == "input":
        if num_batches != 1:
            raise ValueError("batched resume requires segment_by='hash'")
        prepared = _prepare_rows(corpus, id_cols, text_col, extra_fields,
                                 keep)
        num_segments = prepared.rdd.getNumPartitions()
    else:
        # deterministic segment assignment: hash of doc identity, independent
        # of input partitioning (resume/rebuild produce identical segments)
        seg_col = F.pmod(F.xxhash64(*[F.col(c) for c in id_cols]),
                         F.lit(num_segments)).cast("int")
        prepared = _prepare_rows(corpus, id_cols, text_col, extra_fields,
                                 keep, seg_col)

    manifest_path = os.path.join(out_dir, MANIFEST)
    phase_secs: dict[str, float] = {}
    done_batches, checkpoints = [], []
    if resume:
        for b in range(num_batches):
            cp = os.path.join(ckpt_dir, f"batch_{b}.json")
            if os.path.exists(cp):
                with open(cp) as f:
                    c = json.load(f)
                if c.get("status") == "done":
                    done_batches.append(b)
                    checkpoints.append(c)

    for b in range(num_batches):
        if b in done_batches:
            continue
        t0 = time.time()
        batch_dir = os.path.join(out_dir, f"batch_{b}")
        part = prepared if num_batches == 1 else prepared.where(
            F.pmod(F.col("segment"), num_batches) == b)
        _write_batch(
            part, batch_dir,
            None if segment_by == "input"
            else max(num_segments // num_batches, 1),
            id_cols=id_cols, dm_fields=dm_fields, extra_fields=extra_fields,
            cfg=cfg, with_positions=with_positions,
            with_offsets=with_offsets, sort_by=sort_by,
            field_analyzers=field_analyzers)
        secs = time.time() - t0
        phase_secs[f"invert_write_b{b}"] = round(secs, 2)
        # metrics: one narrow aggregate over the written docmap (postings
        # totals are derived once at finalize, not per batch)
        dm = spark.read.parquet(os.path.join(batch_dir, "kind=docmap"))
        m_doc = dm.agg(F.count("*").alias("docs"),
                       F.sum("dl").alias("tokens")).collect()[0]
        ckpt = {
            "stage": "build", "batch": b, "status": "done",
            "run_id": run_id, "segments_mod": num_batches,
            "docs": m_doc["docs"] or 0, "tokens": int(m_doc["tokens"] or 0),
            "secs": round(secs, 3),
            "docs_per_sec": round((m_doc["docs"] or 0) / max(secs, 1e-9), 1),
            "tokens_per_sec": round(
                int(m_doc["tokens"] or 0) / max(secs, 1e-9), 1),
            "bytes_compressed": _dir_bytes(batch_dir),
        }
        _atomic_write_json(os.path.join(ckpt_dir, f"batch_{b}.json"), ckpt)
        checkpoints.append(ckpt)

    batches = [f"batch_{b}" for b in range(num_batches)]
    t_fin = time.time()
    stats = _finalize_tables(spark, out_dir, batches, extra_fields,
                             num_segments)
    phase_secs["finalize"] = round(time.time() - t_fin, 2)

    manifest = {
        "format_version": FORMAT_VERSION,
        "run_id": run_id,
        "created_unix": time.time(),
        "id_fields": id_fields,
        "text_col": text_col,
        "extra_fields": extra_fields,
        "index_sort": sort_by,
        "num_segments": num_segments,
        "segment_by": segment_by,
        "batches": batches,
        "with_positions": with_positions,
        "with_offsets": with_offsets,
        "with_payloads": (cfg.payload_delim is not None) or any(
            fc.payload_delim is not None
            for fc in (field_analyzers or {}).values()),
        "analyzer": _analyzer_manifest(cfg),
        # PerFieldAnalyzerWrapper model: named fields may analyze
        # differently; absent fields use the default analyzer above
        "field_analyzers": {
            n: _analyzer_manifest(fc)
            for n, fc in (field_analyzers or {}).items()},
        "stats": stats,
        "checkpoints": checkpoints,
        "build_secs": round(time.time() - t_total, 3),
        "phase_secs": phase_secs,
    }
    _atomic_write_json(manifest_path, manifest)
    return IndexSnapshot(spark, out_dir)


def _prepare_rows(corpus: DataFrame, id_cols: list, text_col: str,
                  extra_fields: list, keep=(),
                  segment=None) -> DataFrame:
    """The batch writer's input rows: the id columns (and `keep`), the
    default field's text as __text__, extra field i's source column as
    __f{i}__, the text's sha256 and, when segments come from a hash of
    the doc identity, that `segment` column."""
    return corpus.select(
        *id_cols, *keep, F.col(text_col).alias("__text__"),
        *[F.col(src).alias(f"__f{i}__")
          for i, (_, src) in enumerate(extra_fields)],
        F.sha2(F.col(text_col), 256).alias("content_sha256"),
        *([] if segment is None else [segment.alias("segment")]))


def _write_batch(prepared: DataFrame, batch_dir: str, n_parts: int | None,
                 *, id_cols: list, dm_fields: list, extra_fields: list,
                 cfg: AnalyzerConfig, with_positions: bool,
                 with_offsets: bool, sort_by: str | None = None,
                 field_analyzers: dict | None = None) -> None:
    """Invert _prepare_rows output into one batch directory — the DWPT
    flush, the one write path of build_index and streaming appends. Each
    segment is inverted in one task; its postings, docmap and segnorm
    rows come out of that single pass and are written partitionBy(kind),
    term-sorted within the segment (row-group stats prune term seeks).

    n_parts=None: every scan partition is a segment (zero corpus
    shuffle, segment_by="input"). Otherwise rows shuffle to their
    `segment` through an explicit repartition(n_parts, "segment"): a
    user-specified partition count AQE will NOT coalesce — otherwise
    adaptive coalescing (64MB advisory) would collapse small shuffle
    outputs and run the inversion UDF at parallelism ~jobsize/64MB
    instead of one task per segment."""
    xf_names = [name for name, _ in extra_fields]
    xf_inv = [(name, f"__f{i}__") for i, name in enumerate(xf_names)]
    ddl = combined_schema_ddl(dm_fields)

    def combine(seg, pdf):
        postings, docmap = invert_segment(
            pdf, segment=seg, id_cols=id_cols, text_col="__text__",
            cfg=cfg, with_positions=with_positions, extra_fields=xf_inv,
            with_offsets=with_offsets, sort_by=sort_by,
            field_analyzers=field_analyzers)
        return combine_segment_rows(postings, docmap, dm_fields, xf_names)

    if n_parts is None:
        def per_split(batches):
            from pyspark import TaskContext
            dfs = [b for b in batches if len(b)]
            if dfs:  # else an empty scan split (sub-row-group file chunk)
                yield combine(TaskContext.get().partitionId(),
                              pd.concat(dfs, ignore_index=True))

        # rows leave the UDF already sorted by term within the segment
        out = prepared.mapInPandas(per_split, schema=ddl)
    else:
        def per_segment(key, pdf):
            return combine(int(key[0]), pdf)

        out = (prepared.repartition(n_parts, "segment").groupBy("segment")
               .applyInPandas(per_segment, schema=ddl)
               .sortWithinPartitions("segment", "field", "term"))
    out.write.mode("overwrite").partitionBy("kind").parquet(batch_dir)


def _finalize_tables(spark: SparkSession, root: str, batches: list,
                     extra_fields: list, num_segments: int) -> dict:
    """Commit the global tables of the index at `root` from its batch
    directories — the one finalize of build, append and every rewrite:
    the terms dictionary (one shuffle over the postings' term projection,
    written through a temp dir and an atomic rename), the segnorms table,
    and the collection stats it returns for the manifest. The caller
    writes the manifest. Structural columns (dl, norm, extra_norms) are
    read from the raw batch docmaps: docvalues overlays cannot touch
    them."""
    import shutil

    def kind(k):
        return [os.path.join(root, d, f"kind={k}") for d in batches]

    terms = (spark.read.parquet(*kind("postings"))
             .groupBy("field", "term")
             .agg(F.sum("doc_freq").alias("doc_freq"),
                  F.sum("total_term_freq").alias("total_term_freq"))
             .persist())
    tmp_terms = os.path.join(root, "terms_new")
    (terms.repartitionByRange(max(num_segments // 4, 1), "field", "term")
     .sortWithinPartitions("field", "term")
     .write.mode("overwrite").parquet(tmp_terms))
    tstats = (terms.where(F.col("field").isNull()) if extra_fields
              else terms).agg(F.sum("doc_freq").alias("sdf"),
                              F.count("*").alias("n")).collect()[0]
    # per-extra-field sum_ttf: exact (sum over the field's term stats)
    xf_sum_ttf = {
        r["field"]: int(r["sttf"] or 0)
        for r in (terms.where(F.col("field").isNotNull()).groupBy("field")
                  .agg(F.sum("total_term_freq").alias("sttf")).collect())
    } if extra_fields else {}
    terms.unpersist()
    final_terms = os.path.join(root, "terms")
    shutil.rmtree(final_terms, ignore_errors=True)
    os.replace(tmp_terms, final_terms)

    dm = spark.read.parquet(*kind("docmap"))
    xf_counts = [
        F.sum(F.when(F.col("extra_norms")[i] != 0, 1).otherwise(0))
        .alias(f"dc_{i}") for i in range(len(extra_fields))]
    srow = dm.agg(F.count("*").alias("max_doc"),
                  F.sum(F.when(F.col("dl") > 0, 1).otherwise(0))
                  .alias("doc_count"),
                  F.sum("dl").alias("sum_ttf"), *xf_counts).collect()[0]
    # build/append passes emit kind=segnorms rows, so one tiny
    # column-pruned scan rewrites them into the segnorms table with no
    # docmap shuffle; compaction/re-sort batches have none — only then
    # pack the docmap's norms
    sn_dirs = kind("segnorms")
    if all(os.path.exists(d) for d in sn_dirs):
        (spark.read.parquet(*sn_dirs)
         .select("segment", "field",
                 F.col("docid").cast("long").alias("max_doc"),
                 F.col("pos_data").alias("norms"))
         .coalesce(1)
         .write.mode("overwrite").parquet(os.path.join(root, "segnorms")))
    else:
        write_segnorms(dm, os.path.join(root, "segnorms"),
                       extra_field_names=[n for n, _ in extra_fields])
    return {"max_doc": srow["max_doc"],
            "doc_count": int(srow["doc_count"] or 0),
            "sum_total_term_freq": int(srow["sum_ttf"] or 0),
            "sum_doc_freq": int(tstats["sdf"] or 0),
            "n_terms": tstats["n"],
            "per_field": {
                name: {"doc_count": int(srow[f"dc_{i}"] or 0),
                       "sum_total_term_freq": xf_sum_ttf.get(name, 0)}
                for i, (name, _) in enumerate(extra_fields)}}


def write_segnorms(docmap_df: DataFrame, out_path: str,
                   extra_field_names: list | None = None) -> None:
    """Pack each segment's norm bytes (docid order) into one binary row per
    FIELD: field NULL = the default field's norm column; each extra field's
    bytes come from its slot in docmap.extra_norms (per-field norms files,
    the Lucene .nvd/.nvm analogue)."""
    xf = extra_field_names or []

    def pack(key, pdf):
        pdf = pdf.sort_values("docid")
        rows = {"segment": [int(key[0])], "field": [None],
                "max_doc": [len(pdf)],
                "norms": [(pdf["norm"].to_numpy(np.int64) & 0xFF)
                          .astype(np.uint8).tobytes()]}
        if xf:
            en = np.asarray(
                [list(x) for x in pdf["extra_norms"]], dtype=np.int64
            ).reshape(len(pdf), len(xf))
            for i, name in enumerate(xf):
                rows["segment"].append(int(key[0]))
                rows["field"].append(name)
                rows["max_doc"].append(len(pdf))
                rows["norms"].append(
                    (en[:, i] & 0xFF).astype(np.uint8).tobytes())
        return pd.DataFrame(rows)

    cols = ["segment", "docid", "norm"] + (["extra_norms"] if xf else [])
    (docmap_df.select(*cols).groupBy("segment")
     .applyInPandas(pack, schema="segment int, field string, max_doc long,"
                                 " norms binary")
     .write.mode("overwrite").parquet(out_path))


def _dir_bytes(d: str) -> int:
    total = 0
    for root, _, files in os.walk(d):
        for fn in files:
            total += os.path.getsize(os.path.join(root, fn))
    return total


def check_index(spark: SparkSession, index: IndexSnapshot) -> dict:
    """Structural invariant verification — the CheckIndex analogue
    (solr-8.4.0/lucene/core/src/java/org/apache/lucene/index/
    CheckIndex.java: cross-check every index structure against every
    other). All checks are relational aggregations over the index tables
    (no decode of block payloads, which the codec roundtrip tests own):

      terms_match     global terms table == postings re-aggregation
                      (term dict vs postings cross-check, checkFields)
      stats_match     manifest collection stats == docmap aggregation
      docids_dense    per segment: docids are exactly 0..count-1
      segnorms_match  per (segment): norms blob length == segnorms max_doc
                      == docmap count (checkNorms)
      blockmeta_match per postings row: doc_freq == sum(block_ns)
                      (postings metadata self-consistency)
      deletes_valid   every tombstone points at an existing (segment,docid)

    Returns {check: bool, ..., "clean": bool}. A False anywhere means the
    index is structurally corrupt (CheckIndex.Status.clean analogue)."""
    out: dict = {}
    post = index.postings()
    # NULL field (the default field) must join as a key: coalesce to a
    # sentinel, since SQL join equality never matches null == null
    fkey = F.coalesce(F.col("field"), F.lit("\x00")).alias("fkey")
    agg = (post.groupBy(fkey, "term")
           .agg(F.sum("doc_freq").alias("df2"),
                F.sum("total_term_freq").alias("ttf2")))
    t = index.terms().select(fkey, "term", "doc_freq", "total_term_freq")
    mism = (t.join(agg, ["fkey", "term"], "full_outer")
            .where(F.col("doc_freq").isNull() | F.col("df2").isNull()
                   | (F.col("doc_freq") != F.col("df2"))
                   | (F.col("total_term_freq") != F.col("ttf2"))).count())
    out["terms_match"] = mism == 0

    dm = index.docmap()
    row = dm.agg(F.count("*").alias("n"),
                 F.sum(F.when(F.col("dl") > 0, 1).otherwise(0)).alias("dc"),
                 F.sum("dl").alias("sttf")).collect()[0]
    s = index.stats
    out["stats_match"] = (
        int(row["n"]) == s["max_doc"]
        and int(row["dc"] or 0) == s["doc_count"]
        and int(row["sttf"] or 0) == s["sum_total_term_freq"])

    seg = (dm.groupBy("segment")
           .agg(F.count("*").alias("n"), F.min("docid").alias("lo"),
                F.max("docid").alias("hi"),
                F.countDistinct("docid").alias("nd")))
    out["docids_dense"] = seg.where(
        (F.col("lo") != 0) | (F.col("hi") != F.col("n") - 1)
        | (F.col("nd") != F.col("n"))).count() == 0

    sn = index.segnorms().where(F.col("field").isNull())
    snj = (sn.select("segment", "max_doc", F.length("norms").alias("nb"))
           .join(seg.select("segment", "n"), "segment", "full_outer"))
    out["segnorms_match"] = snj.where(
        F.col("max_doc").isNull() | F.col("n").isNull()
        | (F.col("max_doc") != F.col("n"))
        | (F.col("nb") != F.col("n"))).count() == 0

    out["blockmeta_match"] = post.where(
        F.aggregate("block_ns", F.lit(0).cast("bigint"),
                    lambda a, x: a + x) != F.col("doc_freq")).count() == 0

    # impact arrays: one frequency list per block, norms parallel to
    # freqs, every entry positive (checkImpacts — structural only; the
    # max-preservation property is owned by the codec tests)
    out["impacts_match"] = post.where(
        (F.size("imp_freqs") != F.size("block_ns"))
        | (F.size("imp_norms") != F.size("imp_freqs"))
        | F.exists(F.zip_with("imp_freqs", "imp_norms",
                              lambda a, b: F.size(a) != F.size(b)),
                   lambda x: x)
        | F.exists("imp_freqs",
                   lambda l: F.exists(l, lambda v: v <= 0))).count() == 0

    # stored offsets: the per-posting offsets index must parallel the
    # positions index — one slice bound per posting plus one, both
    # monotone (checkOffsets role; blob payloads are codec-test-owned)
    if index.manifest.get("with_offsets") and "off_offsets" in post.columns:
        out["offsets_match"] = post.where(
            F.col("off_offsets").isNotNull()
            & ((F.size("off_offsets") != F.col("doc_freq") + 1)
               | F.exists(
                   F.zip_with(
                       F.slice("off_offsets", 1, F.size("off_offsets") - 1),
                       F.slice("off_offsets", 2, F.size("off_offsets") - 1),
                       lambda a, b: b < a),
                   lambda x: x))).count() == 0

    # payload stream (.pay role): per-posting slice index must hold one
    # bound per posting plus one, monotone, 4-byte aligned (raw float32
    # values), and the blob length must equal the last bound
    if index.manifest.get("with_payloads") and "pay_offsets" in post.columns:
        out["payloads_match"] = post.where(
            F.col("pay_offsets").isNotNull()
            & ((F.size("pay_offsets") != F.col("doc_freq") + 1)
               | (F.element_at("pay_offsets", -1) != F.length("pay_data"))
               | F.exists("pay_offsets", lambda v: v % 4 != 0)
               | F.exists(
                   F.zip_with(
                       F.slice("pay_offsets", 1, F.size("pay_offsets") - 1),
                       F.slice("pay_offsets", 2, F.size("pay_offsets") - 1),
                       lambda a, b: b < a),
                   lambda x: x))).count() == 0

    dels = index.deletes()
    if dels is None:
        out["deletes_valid"] = True
    else:
        out["deletes_valid"] = dels.join(
            dm.select("segment", "docid"), ["segment", "docid"],
            "left_anti").count() == 0

    out["clean"] = all(out.values())
    return out


def replicate(spark: SparkSession, index: IndexSnapshot,
              dest_dir: str) -> "IndexSnapshot":
    """Snapshot replication — the replicator module's capability
    (solr-8.4.0/lucene/replicator/: copy a COMMITTED point-in-time
    revision to a replica such that the replica is never visible in a
    half-copied state). Files are copied first; the manifest is written
    LAST with an atomic rename, so a reader of dest_dir either sees
    nothing (no manifest) or the complete replica — the same
    commit-ordering rule the builder itself uses (segments_N analogue).

    Replication is INCREMENTAL (the reference replicator ships only the
    files a revision added, ReplicationClient's per-file diff): a file
    already present at the destination with the same size and mtime is
    skipped, so re-replicating after an incremental append / deletes
    commit copies only the new segment/tombstone files — parquet parts
    are immutable-once-written, which makes (path, size, mtime) a sound
    identity. Files no longer in the source revision are removed AFTER
    the new manifest commit (the old revision's reader already re-read)."""
    import shutil
    os.makedirs(dest_dir, exist_ok=True)
    skip = {MANIFEST}
    copied = kept = 0
    wanted: set = set()
    for name in sorted(os.listdir(index.root)):
        if name in skip or name == "checkpoints":
            continue
        src_root = os.path.join(index.root, name)
        for dirpath, _, files in os.walk(src_root) \
                if os.path.isdir(src_root) else [(index.root, None,
                                                  [name])]:
            for fn in files:
                src = os.path.join(dirpath, fn)
                rel = os.path.relpath(src, index.root)
                wanted.add(rel)
                dst = os.path.join(dest_dir, rel)
                st = os.stat(src)
                if os.path.exists(dst):
                    dt = os.stat(dst)
                    if dt.st_size == st.st_size and \
                            int(dt.st_mtime) == int(st.st_mtime):
                        kept += 1
                        continue
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                shutil.copy2(src, dst)
                copied += 1
    manifest = dict(index.manifest)
    manifest["replicated_from"] = index.root
    manifest["replication"] = {"copied": copied, "reused": kept}
    _atomic_write_json(os.path.join(dest_dir, MANIFEST), manifest)
    # garbage-collect files the new revision no longer references
    for dirpath, _, files in os.walk(dest_dir):
        for fn in files:
            rel = os.path.relpath(os.path.join(dirpath, fn), dest_dir)
            if rel != MANIFEST and rel not in wanted \
                    and not rel.startswith("checkpoints"):
                os.remove(os.path.join(dirpath, fn))
    return IndexSnapshot(spark, dest_dir)


def verify_integrity(spark: SparkSession, index: IndexSnapshot,
                     corpus: DataFrame, text_col: str | None = None) -> int:
    """Re-verify sha256(content) of every indexed doc against the source
    (north-rule per-row invariant). Returns number of mismatches."""
    text_col = text_col or index.manifest["text_col"]
    ids = index.id_cols
    fresh = corpus.select(*ids, F.sha2(F.col(text_col), 256).alias("sha_now"))
    dm = index.docmap().select(*ids, "content_sha256_out")
    joined = dm.join(fresh, on=ids, how="left")
    return joined.where(
        (F.col("sha_now").isNull())
        | (F.col("sha_now") != F.col("content_sha256_out"))).count()
