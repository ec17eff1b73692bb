"""The benchmark's three closed-loop, single-client workloads over one seeded
`synth_corpus` index, their inputs and their correctness checks.

- cold_single: one query per op through a fresh `Searcher(idx)` (no cache),
  so postings are re-read from parquet and every fixed per-query cost
  (driver prep, plan/schedule, exchange, serde) is paid each time.
- hot_batch: a batch of queries per op through
  `Searcher(idx, cache_index=True).search_many`, so kernel compute over the
  persisted postings dominates.
- ingest: per op, `append_batch` of a fresh disjoint slice, `finalize`,
  reopen a `Searcher`, and one read-your-write query. hot_batch also runs
  one such commit after its measured loop, timed into its set-up.

Query terms are drawn Zipf-skewed over the term dictionary's doc-freq rank
from the benchmark seed; warm-up ops draw from a disjoint stream."""

from __future__ import annotations

import glob
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow.dataset as pads

from lucene_7_x_9_x_spark import oracle
from lucene_7_x_9_x_spark.plans.query import (BooleanQuery, Occur,
                                              PhraseQuery, TermQuery)
from lucene_7_x_9_x_spark.searcher import Searcher
from lucene_7_x_9_x_spark.sources.corpus import synth_corpus
from lucene_7_x_9_x_spark.streaming import incremental

ID_COLS = ["repo", "path", "commit"]
TEXT_COL = "content"
WARMUP, MEASURE, COMMIT = 1, 2, 3  # seed-stream ids: inputs never repeat
K = 10                  # top-k of every query
SEGMENTS = 8            # build_index num_segments (hash mode)
ZIPF_S = 1.0
COLD_BLOCK = 30         # cold_single ops per stratified term block
CROSS_CHECKS = 2        # hot_batch queries re-run through the cold path


@dataclass(frozen=True)
class Scale:
    """Input sizes; the tests shrink them."""
    docs: int = 10_000          # base index size (synth_corpus, seed 42)
    batch: int = 128            # hot_batch queries per op
    slice_docs: int = 1_000     # ingest docs per op
    warmup: dict = field(default_factory=lambda: {
        "cold_single": 16, "hot_batch": 5, "ingest": 1})


def utf8_bytes(texts) -> int:
    return sum(len(t.encode()) for t in texts)


def parquet_bytes(root: str) -> int:
    """Bytes of the index's parquet data files only: manifest, checkpoint
    JSON (timestamps, timings) and .crc side files are excluded, so the
    count is exact for a given corpus."""
    return sum(os.path.getsize(p) for p in
               glob.glob(os.path.join(root, "**", "*.parquet"),
                         recursive=True))


class TermSampler:
    """Zipf(s) over the term dictionary ranked by doc freq (ties by term),
    drawn in stratified blocks."""

    def __init__(self, index_root: str, s: float):
        tbl = pads.dataset(os.path.join(index_root, "terms"),
                           format="parquet").to_table(
            columns=["term", "doc_freq"]).to_pydict()
        ranked = sorted(zip(tbl["doc_freq"], tbl["term"]),
                        key=lambda x: (-x[0], x[1]))
        self.terms = [t for _, t in ranked]
        w = np.cumsum(1.0 / np.arange(1, len(self.terms) + 1) ** s)
        self.cdf = w / w[-1]

    def _term(self, u) -> str:
        return self.terms[min(int(np.searchsorted(self.cdf, u, "right")),
                              len(self.terms) - 1)]

    def block(self, rng: np.random.Generator, n: int,
              arity: int) -> list[list[str]]:
        """n term lists of `arity` distinct terms. Each term slot takes one
        uniform from each of n equal strata of [0, 1), in random order: the
        marginal stays Zipf, but every block holds the same share of head
        and tail terms, so the cost of a block varies far less from seed to
        seed than with independent draws."""
        u = (np.argsort(rng.random((arity, n)), axis=1)
             + rng.random((arity, n))) / n
        out = []
        for col in u.T:
            terms: list[str] = []
            for x in col:
                t = self._term(x)
                while t in terms:  # a head term twice: redraw that slot
                    t = self._term(rng.random())
                terms.append(t)
            out.append(terms)
        return out


def make_query(kind: str, terms: list[str]):
    if kind == "or3":
        return BooleanQuery([(Occur.SHOULD, TermQuery(t)) for t in terms])
    if kind == "and2":
        return BooleanQuery([(Occur.MUST, TermQuery(t)) for t in terms])
    return PhraseQuery(terms)


_ARITY = {"or3": 3, "and2": 2, "phrase2": 2}


def topk_matches_oracle(got: list[tuple], matches, k: int) -> bool:
    """got: [(doc key, score)] in rank order; matches: {doc key: float32
    oracle score} over ALL matching docs. Equal to the oracle's top-k up to
    ties at the k-th score: the scores are float32-equal to the oracle's
    top-k scores, and each returned doc really scores that in the oracle."""
    want = np.sort(np.fromiter(matches.values(), dtype=np.float32,
                               count=len(matches)))[::-1][:k]
    keys = [d for d, _ in got]
    s = np.asarray([x for _, x in got], dtype=np.float32)
    return (len(got) == len(want) and len(set(keys)) == len(keys)
            and bool(np.array_equal(s, want))
            and all(matches.get(d) == np.float32(x) for d, x in got))


class Context:
    """What every workload shares: the session, the base index and its
    corpus, the run's seed and scale, and the tracer."""

    def __init__(self, spark, root: str, idx, scale: Scale, seed: int,
                 tracer):
        self.spark, self.root, self.idx = spark, root, idx
        self.scale, self.seed, self.tracer = scale, seed, tracer
        self._oracle = None
        self._corpus = None

    def base_corpus(self):
        """The base corpus as pandas, in doc-id order (untimed; for the
        oracle and the input byte count)."""
        if self._corpus is None:
            self._corpus = synth_corpus(self.spark,
                                        self.scale.docs).toPandas()
        return self._corpus

    def rng(self, stream: int, *extra: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, stream, *extra])

    def oracle(self):
        """(OracleEngine over the base corpus, {path: oracle docid},
        {(segment, docid): path}). Built once, after the timed loop."""
        if self._oracle is None:
            pdf = self.base_corpus()
            eng = oracle.OracleEngine(*oracle.index_corpus(
                pdf, text_col=TEXT_COL))
            dm = pads.dataset(
                os.path.join(self.root, "batch_0", "kind=docmap"),
                format="parquet").to_table(
                columns=["segment", "docid", "path"]).to_pydict()
            self._oracle = (
                eng, {p: i for i, p in enumerate(pdf["path"])},
                {(int(s), int(d)): p for s, d, p in
                 zip(dm["segment"], dm["docid"], dm["path"])})
        return self._oracle

    def oracle_check(self, q, got_paths: list[tuple]) -> bool:
        eng, by_path, _ = self.oracle()
        m = eng.matches(q)
        scores = dict(zip(m.docids.tolist(),
                          m.scores.astype(np.float32)))
        got = [(by_path.get(p, -1), s) for p, s in got_paths]
        return topk_matches_oracle(got, scores, K)


class ColdSingle:
    name = "cold_single"
    kinds = ("or3", "and2", "phrase2")
    setup_commit = False  # one ingest commit after the measured loop

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.sampler = TermSampler(ctx.root, ZIPF_S)
        self._blocks: dict = {}  # (stream, block) -> term lists

    def open(self) -> None:
        pass

    def inputs(self, stream: int, i: int):
        key = (stream, i // COLD_BLOCK)
        if key not in self._blocks:
            self._blocks[key] = self.sampler.block(self.ctx.rng(*key),
                                                   COLD_BLOCK, 3)
        kind = self.kinds[i % len(self.kinds)]
        return make_query(kind,
                          self._blocks[key][i % COLD_BLOCK][:_ARITY[kind]])

    @staticmethod
    def queries(q) -> int:
        return 1

    def run(self, q):
        df = Searcher(self.ctx.idx).search(q, K)
        with self.ctx.tracer.span("spark.collect"):
            return df.collect()

    def after(self, q, rows) -> dict:
        return {"results": len(rows)}

    def verify(self, done: list) -> list[bool]:
        return [self.ctx.oracle_check(q, [(r["path"], r["score"])
                                          for r in rows])
                for q, rows in done]


class HotBatch(ColdSingle):
    name = "hot_batch"
    kinds = ("or3", "and2")
    setup_commit = True

    def open(self) -> None:
        """Persist the postings (cache_index=True) and materialize the
        cache with one query; timed by the caller as cache warm-up."""
        self.hot = Searcher(self.ctx.idx, cache_index=True)
        self.hot.search(TermQuery(self.sampler.terms[0]), K).collect()

    def inputs(self, stream: int, i: int):
        b = self.ctx.scale.batch
        terms = self.sampler.block(self.ctx.rng(stream, i), b, 3)
        kinds = [self.kinds[j % len(self.kinds)] for j in range(b)]
        return {f"q{j}": make_query(k, t[:_ARITY[k]])
                for j, (k, t) in enumerate(zip(kinds, terms))}

    @staticmethod
    def queries(batch) -> int:
        return len(batch)

    def run(self, batch):
        df = self.hot.search_many(batch, K)
        with self.ctx.tracer.span("spark.collect"):
            return df.collect()

    def verify(self, done: list) -> list[bool]:
        """Each query against the oracle; a seeded sample of queries also
        against the cold single-query path (hot and cold must return
        identical rows)."""
        _, _, by_seg = self.ctx.oracle()
        ok = []
        per_op = []
        for batch, rows in done:
            by_q: dict = {qid: [] for qid in batch}
            for r in sorted(rows, key=lambda r: (r["qid"], r["rank"])):
                by_q[r["qid"]].append(r)
            per_op.append(by_q)
            ok.append(all(
                self.ctx.oracle_check(q, [
                    (by_seg.get((r["segment"], r["docid"])), r["score"])
                    for r in by_q[qid]])
                for qid, q in batch.items()))
        rng = self.ctx.rng(MEASURE, 1 << 30)
        cold = Searcher(self.ctx.idx)
        for _ in range(min(CROSS_CHECKS, len(done))):
            op = int(rng.integers(len(done)))
            qid = sorted(done[op][0])[int(rng.integers(len(done[op][0])))]
            want = [(r["rank"], r["segment"], r["docid"], r["score"])
                    for r in cold.search(done[op][0][qid], K,
                                         with_ids=False).collect()]
            got = [(r["rank"], r["segment"], r["docid"], r["score"])
                   for r in per_op[op][qid]]
            ok[op] = ok[op] and got == want
        return ok


class Ingest:
    name = "ingest"
    setup_commit = False

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.doc_count = int(ctx.idx.stats["doc_count"])
        self.bytes_in = 0  # input bytes of every slice ingested so far

    def open(self) -> None:
        pass

    def inputs(self, stream: int, i: int):
        """A fresh slice (its own synth_corpus seed, so identities never
        collide with the base corpus or other slices) with a marker token
        only this slice holds, as a driver-side DataFrame."""
        n = self.ctx.scale.slice_docs
        sseed = int(self.ctx.rng(stream, i).integers(1 << 30)) + 100
        pdf = synth_corpus(self.ctx.spark, n, seed=sseed).toPandas()
        marker = f"ingmark{stream}x{i}x{sseed}"
        pdf[TEXT_COL] = pdf[TEXT_COL] + " " + marker
        return {"df": self.ctx.spark.createDataFrame(pdf), "marker": marker,
                "commits": set(pdf["commit"]), "docs": n,
                "bytes": utf8_bytes(pdf[TEXT_COL])}

    @staticmethod
    def queries(sl) -> int:
        return 1

    def run(self, sl):
        tr, spark, root = self.ctx.tracer, self.ctx.spark, self.ctx.root
        with tr.span("ingest.append"):
            incremental.append_batch(spark, sl["df"], root)
        with tr.span("ingest.finalize"):
            snap = incremental.finalize(spark, root)
        with tr.span("ingest.reopen"):
            s = Searcher(snap)
        with tr.span("ingest.query"):
            df = s.search(TermQuery(sl["marker"]), K)
            with tr.span("spark.collect"):
                rows = df.collect()
        self.ctx.idx = snap
        return {"rows": rows, "doc_count": int(snap.stats["doc_count"])}

    def after(self, sl, out) -> dict:
        """Untimed bookkeeping: the expected doc count and the bytes this
        op wrote (new batch + rewritten terms and segnorms)."""
        self.doc_count += sl["docs"]
        self.bytes_in += sl["bytes"]
        out["expect_docs"] = self.doc_count
        batch = self.ctx.idx.manifest["batches"][-1]
        written = sum(parquet_bytes(os.path.join(self.ctx.root, d))
                      for d in (batch, "terms", "segnorms"))
        return {"results": len(out["rows"]),
                "bytes_written_per_input_byte": written / sl["bytes"]}

    def verify(self, done: list) -> list[bool]:
        return [out["doc_count"] == out["expect_docs"]
                and len(out["rows"]) == min(K, sl["docs"])
                and all(r["commit"] in sl["commits"] for r in out["rows"])
                for sl, out in done]


WORKLOADS = {w.name: w for w in (ColdSingle, HotBatch, Ingest)}
