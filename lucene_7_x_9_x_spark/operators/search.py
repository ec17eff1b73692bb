"""Distributed query execution — the IndexSearcher analogue.

Architecture (SURVEY.md §3.2): the driver rewrites the query, gathers global
term statistics once (IndexSearcher.java:790,803), and ships per-query
constants to executors; each segment is scored independently inside
``applyInPandas`` over a cogroup of (postings rows for the query terms) with
(the segment's docmap/norms) — the leaf-slice model of
solr-8.4.0/lucene/core/src/java/org/apache/lucene/search/IndexSearcher.java:271-276.
Per-segment top-k results are reduced with Catalyst's TakeOrderedAndProject
(``ORDER BY score DESC, segment, docid LIMIT k``) — the TopDocs.merge
tie-break (solr-8.4.0/.../search/TopDocs.java:75,106).

TOP_SCORES mode runs one kernel, the dense batch accumulator (dense_topk,
the BooleanScorer strategy, solr-8.4.0/.../search/BooleanScorer.java:33,36,
done column-at-a-time): every qid of a kernel call whose query
classify_blockmax accepts is scored together, with no pruning, over a
(qid x doc) table of at most DENSE_CELLS cells. Term units decode in one
multi-block codec pass (SparkSegmentReader.prefetch) and each distinct
(term, boost) is scored once; each synonym, dismax or exact-phrase unit is
scored once by executor.evaluate on that clause's own sub-query. np.bincount
over qid*window+docid keys then sums every doc's unit scores in plan-unit
order, so each float32 score is exhaustive evaluation's bit for bit.
Segments too big for one qid's row run in doc windows, whose exact top-ks
are merged. Per-call Python does not grow with the number of (qid, segment)
pairs. WAND/ImpactsDISI pruning over the index-time impacts is not used at
query time: the dense table was faster at every segment size and batch size
measured (scripts/kernel_profile.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ..functions import bm25, codec
from ..functions.bm25 import F32
from ..plans.query import (BooleanQuery, BoostQuery, DisjunctionMaxQuery,
                           Occur, PhraseQuery, SynonymQuery, TermQuery,
                           key_field, term_key)
from .executor import (Matches, SegmentStats, _gather_ranges, evaluate,
                       top_k)


class SparkSegmentReader:
    """Executor-side reader over the pandas postings rows of ONE segment.
    Decodes lazily, a whole term at a time and many terms in one codec
    pass (the Lucene84PostingsReader.refillDocs analogue,
    solr-8.4.0/.../codecs/lucene84/Lucene84PostingsReader.java:391-432)."""

    def __init__(self, postings_pdf: pd.DataFrame, norms: np.ndarray,
                 max_doc: int, field_norms: dict | None = None):
        """norms: default-field norm bytes; field_norms: {field: uint8[]}
        for named non-default fields (per-field norms files,
        solr-8.4.0/.../index/FieldInfos.java — norms are per field).
        Postings rows with a non-null field are keyed (field, term); a
        null field means the default field (bare term key)."""
        # null field (None or NaN from Arrow) = default field: bare key
        self._rows = {
            ((r.field, r.term) if isinstance(r.field, str) else r.term): r
            for r in postings_pdf.itertuples()}
        self._norms = norms
        self._field_norms = field_norms or {}
        self._max_doc = max_doc
        self._full_cache: dict = {}

    def prefetch(self, terms) -> None:
        """Decode every block of every not-yet-decoded term in `terms` in
        ONE multi-block codec pass (codec.decode_doc_blocks /
        decode_blocks) and fill the whole-postings cache that postings()
        serves; absent terms cache as None."""
        rows = []
        for t in terms:
            if t not in self._full_cache:
                r = self._rows.get(t)
                if r is None:
                    self._full_cache[t] = None
                else:
                    rows.append((t, r))
        if not rows:
            return
        nb = np.fromiter((len(r.block_ns) for _, r in rows), np.int64,
                         len(rows))
        ns = np.concatenate([r.block_ns for _, r in rows]).astype(np.int64)
        # each block's delta base: the previous block's max docid, -1 at
        # the first block of each term
        mx = np.concatenate([r.block_max_docs for _, r in rows])
        bases = np.concatenate(([-1], mx[:-1])).astype(np.int64)
        bases[(np.cumsum(nb) - nb)[nb > 0]] = -1
        # object arrays: a plain concatenate of bytes lists would make a
        # fixed-width bytes array, which drops trailing NUL bytes
        docs = codec.decode_doc_blocks(np.concatenate(
            [np.asarray(r.block_docs, dtype=object) for _, r in rows]),
            ns, bases)
        freqs = codec.decode_blocks(np.concatenate(
            [np.asarray(r.block_freqs, dtype=object) for _, r in rows]),
            ns).astype(np.int64) + 1
        ends = np.cumsum(ns)[np.cumsum(nb) - 1].tolist()
        a = 0
        for (t, _), b in zip(rows, ends):
            self._full_cache[t] = (docs[a:b], freqs[a:b])
            a = b

    def postings(self, term):
        if term not in self._full_cache:
            self.prefetch((term,))
        return self._full_cache[term]

    def flat_positions(self, term):
        """(docids, counts, flat_pos): ALL docs' positions decoded in one
        vectorized pass. Each doc's slice of the .pos blob is independent
        delta-varbyte (first delta from 0) and varints are self-terminating,
        so one vint_decode over the whole blob yields every delta; a
        segmented cumsum (reset at doc starts, boundaries = freqs) restores
        absolute positions. No per-doc Python — the scale path the
        ExactPhraseMatcher capability needs on high-df terms."""
        key = ("__flatpos__", term)
        got = self._full_cache.get(key)
        if got is not None:
            return got
        r = self._rows.get(term)
        if r is None or getattr(r, "pos_data", None) is None:
            return None
        p = self.postings(term)
        if p is None:
            return None
        docids, freqs = p
        offs = np.asarray(r.pos_offsets, dtype=np.int64)
        data = bytes(r.pos_data)
        deltas = codec.vint_decode(
            data[offs[0]:offs[-1]]).astype(np.int64)
        counts = freqs.astype(np.int64)
        cs = np.cumsum(deltas)
        starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
        bases = np.where(starts > 0, cs[starts - 1], 0)
        flat = cs - np.repeat(bases, counts)
        out = (docids, counts, flat)
        self._full_cache[key] = out
        return out

    def flat_offsets(self, term):
        """(docids, counts, starts, ends): stored CHARACTER offsets of every
        occurrence of the term (indexes with with_offsets=True only). Same
        one-pass decode shape as flat_positions: interleaved (start delta,
        length) vints, segmented cumsum restores absolute starts."""
        key = ("__flatoff__", term)
        got = self._full_cache.get(key)
        if got is not None:
            return got
        r = self._rows.get(term)
        if r is None or getattr(r, "off_data", None) is None:
            return None
        p = self.postings(term)
        if p is None:
            return None
        docids, freqs = p
        offs = np.asarray(r.off_offsets, dtype=np.int64)
        inter = codec.vint_decode(
            bytes(r.off_data)[offs[0]:offs[-1]]).astype(np.int64)
        sd, ln = inter[0::2], inter[1::2]
        counts = freqs.astype(np.int64)
        cs = np.cumsum(sd)
        starts_idx = np.concatenate(([0], np.cumsum(counts)[:-1]))
        bases = np.where(starts_idx > 0, cs[starts_idx - 1], 0)
        starts = cs - np.repeat(bases, counts)
        out = (docids, counts, starts, starts + ln)
        self._full_cache[key] = out
        return out

    def flat_payloads(self, term):
        """(docids, counts, values): stored per-position float32 payloads
        of every occurrence of the term — the .pay stream role
        (solr-8.4.0/.../codecs/lucene84/Lucene84PostingsFormat.java:99-104)
        for DelimitedPayloadTokenFilter indexes. Values are raw
        little-endian float32, 4 bytes per occurrence, in the same stream
        order as positions."""
        key = ("__flatpay__", term)
        got = self._full_cache.get(key)
        if got is not None:
            return got
        r = self._rows.get(term)
        if r is None or getattr(r, "pay_data", None) is None:
            return None
        p = self.postings(term)
        if p is None:
            return None
        docids, freqs = p
        offs = np.asarray(r.pay_offsets, dtype=np.int64)
        vals = np.frombuffer(
            bytes(r.pay_data)[offs[0]:offs[-1]], dtype="<f4")
        out = (docids, freqs.astype(np.int64), vals)
        self._full_cache[key] = out
        return out

    def positions(self, term):
        fp = self.flat_positions(term)
        if fp is None:
            return None
        docids, counts, flat = fp
        bounds = np.cumsum(counts)[:-1]
        return docids, np.split(flat, bounds)

    def norms(self):
        return self._norms

    def norms_for(self, field: str | None):
        if field is None:
            return self._norms
        return self._field_norms[field]

    def all_docids(self):
        return np.arange(self._max_doc, dtype=np.int64)


# --------------------------------------------------------------------------
# TOP_SCORES plan shape
# --------------------------------------------------------------------------

def classify_blockmax(q) -> dict | None:
    """If the (rewritten) query is a Boolean over the block-max scoring
    UNITS — terms (WANDScorer / BlockMaxConjunctionScorer,
    Boolean2ScorerSupplier.java:100-207), synonyms (SynonymQuery.java:
    305-360), dismax-of-terms (MaxScoreSumPropagator.java:32), exact
    phrases (PhraseWeight) — return {'units': [unit], 'must_not': [keys],
    'msm': n}, which dense_topk runs; else None -> exhaustive fallback.
    A term unit carries kind/key/boost/is_must; any other unit carries
    kind/keys/query/is_must, where query is the clause's own sub-query
    (dense_topk scores it with executor.evaluate) and keys the term keys it
    reads. A FILTER term is a required term unit of boost 0: it scores
    0.0 (adding 0.0 leaves every float64 sum bit-identical) and, being
    required, makes SHOULD units optional when there is no MUST and msm
    is 0 — filter-only docs match with score 0, as Boolean2ScorerSupplier's
    required + optional split does."""
    def unit_of(sub, boost=1.0):
        if isinstance(sub, BoostQuery):
            return unit_of(sub.query, boost * sub.boost)
        if isinstance(sub, TermQuery):
            return {"kind": "term", "key": term_key(sub.field, sub.term),
                    "boost": boost * sub.boost}
        if isinstance(sub, SynonymQuery):
            return {"kind": "synonym",
                    "keys": [term_key(sub.field, t) for t in sub.terms]}
        if isinstance(sub, PhraseQuery) and sub.slop == 0 \
                and len(sub.terms) >= 2:
            return {"kind": "phrase",
                    "keys": [term_key(sub.field, t) for t in sub.terms]}
        if isinstance(sub, DisjunctionMaxQuery) and sub.queries:
            members = [unit_of(x) for x in sub.queries]
            if any(m is None or m["kind"] != "term" for m in members):
                return None
            return {"kind": "dismax", "keys": [m["key"] for m in members]}
        return None

    def clause_unit(sub, is_must):
        u = unit_of(sub)
        if u is None:
            return None
        if u["kind"] != "term":
            u["query"] = sub
        u["is_must"] = is_must
        return u

    if not isinstance(q, BooleanQuery):
        u = clause_unit(q, False)
        return None if u is None else {"units": [u], "must_not": [],
                                       "msm": 0}
    out = {"units": [], "must_not": [], "msm": q.minimum_should_match}
    filters = []
    for c in q.clauses:
        if c.occur in (Occur.SHOULD, Occur.MUST):
            u = clause_unit(c.query, c.occur == Occur.MUST)
            if u is None:
                return None
            out["units"].append(u)
        elif not isinstance(c.query, TermQuery):
            return None
        elif c.occur == Occur.FILTER:
            filters.append({"kind": "term", "boost": 0.0, "is_must": True,
                            "key": term_key(c.query.field, c.query.term)})
        else:
            out["must_not"].append(term_key(c.query.field, c.query.term))
    if not out["units"]:
        return None
    out["units"] += filters
    return out


# --------------------------------------------------------------------------
# dense batch accumulator
# --------------------------------------------------------------------------

# accumulator cells (qids x window docs) per dense_topk pass: bounds its
# scratch to ~33 bytes a cell (float64 sums, two int64 counts, the bool
# and float32 score matrices and the partition copy), ~35 MB. A segment of
# more than DENSE_CELLS docs runs one qid at a time in DENSE_CELLS-doc
# windows
DENSE_CELLS = 1 << 20


def dense_topk(reader: SparkSegmentReader, stats: SegmentStats,
               plans: list, k: int, max_doc: int,
               deleted: np.ndarray | None = None) -> list:
    """Per-segment top-k of MANY classify_blockmax plans at once — the
    BooleanScorer strategy (a dense per-window score table,
    solr-8.4.0/.../search/BooleanScorer.java:33,36) over a whole segment
    and a whole batch. Every term of the batch decodes in one multi-block
    pass (reader.prefetch); each distinct (term, boost) is scored once, all
    of them in one score_term call per field, and each distinct synonym,
    dismax or phrase unit once, by executor.evaluate on its sub-query (the
    scores exhaustive evaluation sums for that clause). Per-(qid, doc)
    float64 sums and MUST/SHOULD counts come from np.bincount over
    qid*window+docid keys whose elements are laid out in plan-unit order,
    so every doc's sum has its addends in plan-unit order; then (score
    desc, docid asc) top-k per qid by one np.partition threshold and one
    lexsort. No pruning: the exact per-segment top-k. Qids run in chunks
    of DENSE_CELLS // max_doc; a chunk of n qids runs over doc windows of
    DENSE_CELLS // n docs (one window unless the segment has more than
    DENSE_CELLS docs), and each qid's window top-ks merge into its exact
    top-k. Returns [(docids, float32 scores)] aligned with `plans`."""
    empty = (np.zeros(0, np.int64), np.zeros(0, np.float32))
    out = [empty] * len(plans)
    if k <= 0:
        return out
    reader.prefetch({kk for p in plans for kk in p["must_not"]}
                    | {kk for p in plans for u in p["units"] for kk in
                       ([u["key"]] if u["kind"] == "term" else u["keys"])})
    terms = list(dict.fromkeys(
        (u["key"], u["boost"]) for p in plans for u in p["units"]
        if u["kind"] == "term" and reader.postings(u["key"]) is not None))
    units = list(dict.fromkeys(u["query"] for p in plans
                               for u in p["units"] if u["kind"] != "term"))
    hits = [evaluate(reader, stats, q) for q in units]
    # each scored slot's index in the _score_slots arrays; a term slot is
    # keyed (key, boost), any other unit by its query
    slot = {kb: j for j, kb in enumerate(terms)}
    slot.update((q, len(terms) + j) for j, (q, m)
                in enumerate(zip(units, hits)) if len(m.docids))
    live = []  # (plan index, [(slot, is_must)], plan)
    for i, p in enumerate(plans):
        parts = []
        for u in p["units"]:
            j = slot.get((u["key"], u["boost"]) if u["kind"] == "term"
                         else u["query"])
            if j is None:
                if u["is_must"]:
                    break
                continue
            parts.append((j, u["is_must"]))
        else:
            if parts:
                live.append((i, parts, p))
    if not live:
        return out
    scored = _score_slots(reader, stats, terms, hits)
    flat_d, flat_s, _, lens = scored
    cut = None  # slot-major (slot, docid) keys, built when windows cut
    step = max(DENSE_CELLS // max(max_doc, 1), 1)
    for c in range(0, len(live), step):
        chunk = live[c:c + step]
        width = DENSE_CELLS // len(chunk)
        got = [[] for _ in chunk]
        for lo in range(0, max_doc, width):
            hi = min(lo + width, max_doc)
            win = scored
            if hi - lo < max_doc:  # each slot's postings in [lo, hi)
                if cut is None:
                    base = np.arange(len(lens)) * max_doc
                    cut = np.repeat(base, lens) + flat_d
                a = np.searchsorted(cut, base + lo)
                win = (flat_d, flat_s, a, np.searchsorted(cut, base + hi) - a)
            for g, w in zip(got, _dense_chunk(reader, chunk, win, k, lo, hi,
                                              deleted)):
                g.append(w)
        for (i, _, _), g in zip(chunk, got):
            out[i] = g[0] if len(g) == 1 else top_k(Matches(
                np.concatenate([d for d, _ in g]),
                np.concatenate([s for _, s in g])), k)
    return out


def _score_slots(reader, stats: SegmentStats, terms: list, hits: list):
    """(docids, float64 scores, starts, lens) of every slot, concatenated
    in slot order: first the postings of each (key, boost) term slot,
    weight F32(F32(boost) * idf) and one score_term call per field with a
    per-posting weight array (float32 elementwise, so each score is the one
    a per-term call gives); then each other unit's executor.evaluate
    Matches."""
    posts = [reader.postings(kk) for kk, _ in terms]
    docs = [p[0] for p in posts] + [m.docids for m in hits]
    lens = np.fromiter(map(len, docs), np.int64, len(docs))
    d = np.concatenate(docs)
    s = np.empty(len(d), np.float32)
    n_t = int(lens[:len(terms)].sum())
    if terms:
        dt, st, tl = d[:n_t], s[:n_t], lens[:len(terms)]
        f = np.concatenate([p[1] for p in posts])
        w = np.repeat(np.array([F32(F32(b) * stats.idf(kk))
                                for kk, b in terms], dtype=np.float32), tl)
        fields = [key_field(kk) for kk, _ in terms]
        for fld in set(fields):
            m = (slice(None) if len(set(fields)) == 1 else
                 np.repeat(np.array([x == fld for x in fields]), tl))
            st[m] = bm25.score_term(f[m], reader.norms_for(fld)[dt[m]],
                                    w[m], stats.cache_for(fld))
    if hits:
        s[n_t:] = np.concatenate([m.scores for m in hits])
    return d, s.astype(np.float64), np.cumsum(lens) - lens, lens


def _in_window(docids: np.ndarray, lo: int, hi: int) -> np.ndarray:
    """The sorted docids in [lo, hi), as offsets from lo."""
    return docids[np.searchsorted(docids, lo):
                  np.searchsorted(docids, hi)] - lo


def _dense_chunk(reader, chunk: list, scored, k: int, lo: int, hi: int,
                 deleted: np.ndarray | None) -> list:
    """dense_topk over one chunk of resolved plans and the doc window [lo,
    hi): one gather of the scored postings (scored's starts and lens
    select each slot's postings in the window), one (qid x doc)
    accumulator, one partition, one lexsort."""
    flat_d, flat_s, starts, lens = scored
    nq, width = len(chunk), hi - lo
    sl = np.array([j for _, parts, _ in chunk for j, _ in parts])
    pm = np.array([m for _, parts, _ in chunk for _, m in parts], bool)
    pq = np.repeat(np.arange(nq), [len(parts) for _, parts, _ in chunk])
    n = lens[sl]
    take = _gather_ranges(starts[sl], n)
    keys = flat_d[take] + np.repeat(pq * width - lo, n)
    must = np.repeat(pm, n)
    need_m = np.bincount(pq[pm], minlength=nq)
    msm = np.array([max(p["msm"], 0) for _, _, p in chunk])
    need_s = np.where(msm > 0, msm, need_m == 0)
    cells = nq * width
    # bincount adds in element order: each cell's addends in unit order
    acc = np.bincount(keys, weights=flat_s[take],
                      minlength=cells).reshape(nq, width)
    ok = np.ones((nq, width), bool)
    for sel, need in ((~must, need_s), (must, need_m)):
        if need.any():  # a count only where some qid needs it
            ok &= (np.bincount(keys[sel], minlength=cells)
                   .reshape(nq, width) >= need[:, None])
    for qi, (_, _, p) in enumerate(chunk):
        for t in p["must_not"]:
            got = reader.postings(t)
            if got is not None:
                ok[qi, _in_window(got[0], lo, hi)] = False
    if deleted is not None and len(deleted):
        ok[:, _in_window(deleted, lo, hi)] = False
    score = np.where(ok, acc.astype(np.float32), np.float32(-np.inf))
    # qids with more than k hits keep every cell scoring >= their k-th
    # best, ties included, so the docid tie-break below stays exact
    over = np.flatnonzero(ok.sum(axis=1) > k)
    if len(over):
        kth = np.partition(score[over], width - k, axis=1)[:, width - k]
        ok[over] &= score[over] >= kth[:, None]
    q, d = np.nonzero(ok)
    s = score[q, d]
    order = np.lexsort((d, -s, q))
    q, d, s = q[order], d[order], s[order]
    n_q = np.bincount(q, minlength=nq)
    first = np.cumsum(n_q) - n_q
    keep = np.arange(len(q)) - first[q] < k
    d, s = d[keep] + lo, s[keep]
    ends = np.cumsum(np.minimum(n_q, k)).tolist()
    return [(d[a:b], s[a:b]) for a, b in zip([0] + ends[:-1], ends)]
