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

TOP_SCORES mode implements block-max pruning (the WANDScorer /
BlockMaxConjunctionScorer / ImpactsDISI capability,
solr-8.4.0/.../search/WANDScorer.java:29-44,338-376, ImpactsDISI.java:95-127,
MaxScoreCache.java:61-117) in vectorized form: per-term per-block score
upper bounds come from the stored impact frontiers; the docid axis is cut
into elementary intervals at the union of all block boundaries; an interval
is skipped iff the float-safe sum of covering block bounds is below the
current top-k threshold — the same safety invariant as
ImpactsDISI.advanceTarget, so the top-k is identical to exhaustive
evaluation while only competitive blocks are decoded (SURVEY.md §7.4.3).
Within surviving intervals all docs are scored vectorized — more scoring
work per block than Lucene's per-doc pivoting, amortized by numpy.

Term-only plans take the dense batch accumulator instead (dense_topk, the
BooleanScorer strategy,
solr-8.4.0/.../search/BooleanScorer.java:33,36): all of a kernel call's
term-only qids are scored together, with no pruning. Their terms decode in
one multi-block codec pass (SparkSegmentReader.prefetch), each distinct
(term, boost) is scored once, and np.bincount over qid*max_doc+docid keys
sums every doc's unit scores in plan-unit order, so each float32 score is
blockmax_topk's bit for bit. Per-call Python then no longer grows with
the number of (qid, segment) pairs. The caller
(searcher.Searcher._topk_frame) picks the strategy per segment by max_doc
against Searcher.DENSE_MAX_DOC (DENSE_CELLS, the accumulator's cell
budget), where BooleanWeight chooses by cost (BooleanWeight.java:193-276):
the dense path was the faster one at every segment size measured, so only
its memory bounds it.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ..functions import bm25, codec
from ..functions.bm25 import F32
from ..plans.query import (BooleanQuery, BoostQuery, DisjunctionMaxQuery,
                           Occur, PhraseQuery, SynonymQuery, TermQuery,
                           key_field, term_key)
from .executor import (Matches, SegmentStats, _flat_positions,
                       _gather_ranges, _in_sorted, _POS_SHIFT, top_k)


class SparkSegmentReader:
    """Executor-side reader over the pandas postings rows of ONE segment.
    Decodes lazily, block-granular (the Lucene84PostingsReader.refillDocs
    analogue, solr-8.4.0/.../codecs/lucene84/Lucene84PostingsReader.java:391-432)."""

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
        self._block_cache: dict = {}
        self._full_cache: dict = {}
        self._blockx_cache: dict = {}
        self.blocks_decoded = 0

    def block_max_x(self, term: str, cache: np.ndarray) -> np.ndarray | None:
        """Per-block max of x = float32(freq) * cache[norm] over the stored
        impact frontier. score(f, n) = w - w/(1 + x) is weakly monotone in x
        under float32 rounding, so the block score upper bound for ANY
        weight w > 0 is w - w/(1 + max_x) — bit-identical to maximizing the
        scored pairs. Cached per term: in search_many one frontier reduction
        serves every query in the batch (the index-time MaxScoreCache
        strengthening of SURVEY §2.6, realized as a per-(segment, cache)
        memo). Returns None if any block's frontier is empty (defensive)."""
        got = self._blockx_cache.get(term)
        if got is not None and got[0] is cache:
            return got[1]
        r = self._rows.get(term)
        if r is None:
            return None
        lens = np.fromiter((len(x) for x in r.imp_freqs), dtype=np.int64,
                           count=len(r.imp_freqs))
        if len(lens) == 0 or not (lens > 0).all():
            return None
        all_f = np.concatenate([np.asarray(x, dtype=np.int64)
                                for x in r.imp_freqs])
        all_n = np.concatenate([np.asarray(x, dtype=np.int64)
                                for x in r.imp_norms])
        x = all_f.astype(np.float32) * cache[all_n & 0xFF]
        starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
        bx = np.maximum.reduceat(x, starts).astype(np.float32)
        self._blockx_cache[term] = (cache, bx)
        return bx

    def row(self, term):
        return self._rows.get(term)

    def n_blocks(self, term) -> int:
        r = self._rows.get(term)
        return 0 if r is None else len(r.block_ns)

    def decode_blocks(self, term, block_idx: np.ndarray):
        """Decode selected blocks -> (docids, freqs) concatenated in docid
        order. block_idx must be sorted ascending. The blocks not decoded
        yet go through one codec.decode_doc_blocks / decode_blocks call
        and are cached per block."""
        r = self._rows.get(term)
        if r is None:
            return None
        full = self._full_cache.get(term)
        if full is not None:  # already decoded whole: slice its blocks
            ns = np.asarray(r.block_ns, dtype=np.int64)
            take = _gather_ranges((np.cumsum(ns) - ns)[block_idx],
                                  ns[block_idx])
            return full[0][take], full[1][take]
        block_idx = np.asarray(block_idx).tolist()
        if not block_idx:
            return (np.zeros(0, np.int64), np.zeros(0, np.int64))
        todo = [j for j in block_idx if (term, j) not in self._block_cache]
        if todo:
            tn = [int(r.block_ns[j]) for j in todo]
            mx = r.block_max_docs
            docs = codec.decode_doc_blocks(
                [r.block_docs[j] for j in todo], tn,
                [int(mx[j - 1]) if j > 0 else -1 for j in todo])
            freqs = codec.decode_blocks([r.block_freqs[j] for j in todo],
                                        tn).astype(np.int64) + 1
            self.blocks_decoded += len(todo)
            a = 0
            for j, n in zip(todo, tn):
                self._block_cache[(term, j)] = (docs[a:a + n],
                                                freqs[a:a + n])
                a += n
        got = [self._block_cache[(term, j)] for j in block_idx]
        return (np.concatenate([d for d, _ in got]),
                np.concatenate([f for _, f in got]))

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
        self.blocks_decoded += len(ns)
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
    """If the (rewritten) query is a Boolean over block-max-capable scoring
    UNITS — terms (WANDScorer / BlockMaxConjunctionScorer,
    Boolean2ScorerSupplier.java:100-207), synonyms (merged member impacts,
    SynonymQuery.java:305-360), dismax-of-terms (max-score propagation,
    MaxScoreSumPropagator.java:32), exact phrases (conjunction-of-members
    approximation ceiling, PhraseWeight + ImpactsDISI) — return
    {'units': [unit], 'must_not': [keys], 'msm': n}; else None ->
    exhaustive fallback. Each unit dict carries kind/boost/is_must plus
    kind-specific keys. A FILTER term is a required term unit of boost 0
    marked 'filter': it scores 0.0 (adding 0.0 leaves every float64 sum
    bit-identical) and, being required, makes SHOULD units optional when
    there is no MUST and msm is 0 — filter-only docs match with score 0,
    as Boolean2ScorerSupplier's required + optional split does."""
    def unit_of(sub, boost=1.0):
        if isinstance(sub, BoostQuery):
            return unit_of(sub.query, boost * sub.boost)
        if isinstance(sub, TermQuery):
            return {"kind": "term", "key": term_key(sub.field, sub.term),
                    "boost": boost * sub.boost}
        if isinstance(sub, SynonymQuery):
            return {"kind": "synonym", "field": sub.field,
                    "keys": [term_key(sub.field, t) for t in sub.terms],
                    "boost": boost * sub.boost}
        if isinstance(sub, PhraseQuery) and sub.slop == 0 \
                and len(sub.terms) >= 2:
            return {"kind": "phrase", "field": sub.field,
                    "keys": [term_key(sub.field, t) for t in sub.terms],
                    "boost": boost * sub.boost}
        if isinstance(sub, DisjunctionMaxQuery) and sub.queries:
            members = [unit_of(x, boost) for x in sub.queries]
            if any(m is None or m["kind"] != "term" for m in members):
                return None
            return {"kind": "dismax", "members": members,
                    "tie": sub.tie_breaker}
        return None

    if not isinstance(q, BooleanQuery):
        u = unit_of(q)
        return None if u is None else {
            "units": [dict(u, is_must=False)], "must_not": [], "msm": 0}
    out = {"units": [], "must_not": [], "msm": q.minimum_should_match}
    filters = []
    for c in q.clauses:
        if c.occur in (Occur.SHOULD, Occur.MUST):
            u = unit_of(c.query)
            if u is None:
                return None
            out["units"].append(dict(u, is_must=c.occur == Occur.MUST))
        elif not isinstance(c.query, TermQuery):
            return None
        elif c.occur == Occur.FILTER:
            filters.append({"kind": "term", "boost": 0.0, "is_must": True,
                            "filter": True, "key": term_key(
                                c.query.field, c.query.term)})
        else:
            out["must_not"].append(term_key(c.query.field, c.query.term))
    if not out["units"]:
        return None
    out["units"] += filters
    return out


def _select_ranges(d: np.ndarray, lo: np.ndarray, hi: np.ndarray
                   ) -> np.ndarray:
    """Indices of sorted docids d that fall in any of the disjoint, sorted
    windows [lo_i, hi_i], ascending."""
    a = np.searchsorted(d, lo)
    return _gather_ranges(a, np.searchsorted(d, hi, side="right") - a)


class _Unit:
    """One scoring unit of a block-max plan: per-elementary-interval upper
    bounds + a chunk scorer whose float32 output is bit-identical to
    executor.evaluate's scoring of the same sub-query."""

    __slots__ = ("is_must", "members", "kind", "w", "field", "keys",
                 "int_block", "int_cov", "ub", "covered", "tie", "mws",
                 "_phrase_cache")

    def __init__(self, kind, is_must):
        self.kind = kind
        self.is_must = is_must
        self._phrase_cache = None


def _build_units(reader, stats: SegmentStats, plan: dict):
    """Resolve the plan's units against one segment. Returns
    (units, total_blocks) or None when a MUST unit cannot match here."""
    one = np.float32(1.0)
    units, total_blocks = [], 0
    for pu in plan["units"]:
        is_must = pu.get("is_must", False)
        kind = pu["kind"]
        if kind == "term":
            r = reader.row(pu["key"])
            if r is None:
                if is_must:
                    return None
                continue
            u = _Unit("term", is_must)
            u.keys = [pu["key"]]
            u.field = key_field(pu["key"])
            u.w = F32(F32(pu["boost"]) * stats.idf(pu["key"]))
            u.members = [(pu["key"], r)]
            total_blocks += len(r.block_ns)
        elif kind == "synonym":
            mrows = [(kk, reader.row(kk)) for kk in pu["keys"]]
            mrows = [(kk, r) for kk, r in mrows if r is not None]
            if not mrows:
                if is_must:
                    return None
                continue
            u = _Unit("synonym", is_must)
            u.field = pu["field"]
            u.keys = pu["keys"]
            df = max((stats.doc_freqs.get(kk, 0) for kk in pu["keys"]),
                     default=0)
            idf = (bm25.idf(df, stats.doc_count_for(u.field))
                   if df > 0 else F32(0.0))
            u.w = F32(F32(pu["boost"]) * idf)
            u.members = mrows
            total_blocks += sum(len(r.block_ns) for _, r in mrows)
        elif kind == "phrase":
            mrows = [(kk, reader.row(kk)) for kk in pu["keys"]]
            if any(r is None for _, r in mrows):
                if is_must:
                    return None
                continue
            u = _Unit("phrase", is_must)
            u.field = pu["field"]
            u.keys = pu["keys"]
            idf_sum = float(np.sum(np.array(
                [stats.idf(kk) for kk in pu["keys"]],
                dtype=np.float32).astype(np.float64)))
            u.w = F32(pu["boost"]) * F32(idf_sum)
            u.members = mrows
            total_blocks += sum(len(r.block_ns)
                                for _, r in {id(r): (k, r)
                                             for k, r in mrows}.values())
        elif kind == "dismax":
            mrows, mws = [], []
            for m in pu["members"]:
                r = reader.row(m["key"])
                if r is not None:
                    mrows.append((m["key"], r))
                    mws.append(F32(F32(m["boost"]) * stats.idf(m["key"])))
            if not mrows:
                if is_must:
                    return None
                continue
            u = _Unit("dismax", is_must)
            u.keys = [kk for kk, _ in mrows]
            u.members = mrows
            u.mws = mws
            u.tie = pu["tie"]
            u.field = None
            total_blocks += sum(len(r.block_ns) for _, r in mrows)
        else:  # pragma: no cover
            return None
        units.append(u)
    return units, total_blocks


def _unit_bounds(reader, stats, u: _Unit, int_hi: np.ndarray):
    """Fill u.int_block/int_cov (per member) and u.ub/u.covered (per
    elementary interval, float64 upper bound). The bound construction per
    kind:
      term:    w - w/(1 + block_max_x) — exact frontier dominance
      synonym: w - w/(1 + X·(1+eps_K)), X = Σ member max_x (the merged-
               impacts bound of SynonymQuery.java:305-360; the (1+eps_K)
               guard covers float32 sum-of-freqs vs sum-of-products
               rounding, K = member count)
      phrase:  w_p - w_p/(1 + min member max_x) — phrase freq <= every
               member's freq, so its x is dominated by each member's
               (the conjunctive approximation ceiling of PhraseWeight)
      dismax:  max_m ub_m + tie·(Σ ub_m - max) (MaxScoreSumPropagator)"""
    one = np.float32(1.0)
    n_int = len(int_hi)
    per_member = []
    for kk, r in u.members:
        ends = np.asarray(r.block_max_docs, dtype=np.int64)
        bi = np.searchsorted(ends, int_hi)
        cov = bi < len(ends)
        fld = key_field(kk)
        bx = reader.block_max_x(kk, stats.cache_for(fld))
        if bx is None:  # defensive: treat as unbounded-competitive
            bx = np.full(len(ends), np.inf, dtype=np.float32)
        per_member.append((bi, cov, bx))
    u.int_block = per_member
    if u.kind == "term":
        bi, cov, bx = per_member[0]
        w = np.float64(u.w)
        ubb = (u.w - u.w / (one + bx)).astype(np.float64)
        ub = np.zeros(n_int, dtype=np.float64)
        ub[cov] = ubb[bi[cov]]
        u.ub, u.covered = ub, cov
    elif u.kind == "synonym":
        X = np.zeros(n_int, dtype=np.float64)
        any_cov = np.zeros(n_int, dtype=bool)
        for bi, cov, bx in per_member:
            X[cov] += bx[bi[cov]].astype(np.float64)
            any_cov |= cov
        eps = 1.0 + (len(u.members) + 2) * 2.0 ** -23
        w = np.float64(u.w)
        u.ub = np.where(any_cov, w - w / (1.0 + X * eps), 0.0)
        u.covered = any_cov
    elif u.kind == "phrase":
        Xmin = np.full(n_int, np.inf, dtype=np.float64)
        all_cov = np.ones(n_int, dtype=bool)
        for bi, cov, bx in per_member:
            xm = np.zeros(n_int, dtype=np.float64)
            xm[cov] = bx[bi[cov]].astype(np.float64)
            Xmin = np.minimum(Xmin, xm)
            all_cov &= cov
        w = np.float64(u.w)
        u.ub = np.where(all_cov, w - w / (1.0 + Xmin), 0.0)
        u.covered = all_cov
    else:  # dismax
        mx = np.full(n_int, 0.0, dtype=np.float64)
        sm = np.zeros(n_int, dtype=np.float64)
        any_cov = np.zeros(n_int, dtype=bool)
        for (bi, cov, bx), w_m in zip(per_member, u.mws):
            ubb = (w_m - w_m / (one + bx)).astype(np.float64)
            v = np.zeros(n_int, dtype=np.float64)
            v[cov] = ubb[bi[cov]]
            mx = np.maximum(mx, v)
            sm += v
            any_cov |= cov
        u.ub = np.where(any_cov, mx + u.tie * (sm - mx), 0.0)
        u.covered = any_cov


def _decode_unit_member(reader, kk, bi, cov, live, lo, hi):
    """Decode the member's blocks needed by the live intervals and select
    the docs inside the interval windows. Returns (docids, freqs)."""
    need = np.unique(bi[live][cov[live]])
    if len(need) == 0:
        return None
    d, f = reader.decode_blocks(kk, need)
    take = _select_ranges(d, lo, hi)
    if len(take) == 0:
        return None
    return d[take], f[take]


def _score_unit_chunk(reader, stats, u: _Unit, live, lo, hi):
    """(docids, float32 scores) of this unit over the live intervals —
    same float32 op order as executor.evaluate for the sub-query."""
    if u.kind == "term":
        kk, _ = u.members[0]
        bi, cov, _ = u.int_block[0]
        got = _decode_unit_member(reader, kk, bi, cov, live, lo, hi)
        if got is None:
            return None
        d, f = got
        return d, bm25.score_term(f, reader.norms_for(u.field)[d], u.w,
                                  stats.cache_for(u.field))
    if u.kind == "synonym":
        parts = []
        for (kk, _), (bi, cov, _) in zip(u.members, u.int_block):
            got = _decode_unit_member(reader, kk, bi, cov, live, lo, hi)
            if got is not None:
                parts.append(got)
        if not parts:
            return None
        all_d = np.concatenate([p[0] for p in parts])
        all_f = np.concatenate([p[1] for p in parts])
        docids, inv = np.unique(all_d, return_inverse=True)
        freqs = np.zeros(len(docids), dtype=np.int64)
        np.add.at(freqs, inv, all_f)
        return docids, bm25.score_term(
            freqs, reader.norms_for(u.field)[docids], u.w,
            stats.cache_for(u.field))
    if u.kind == "dismax":
        subs = []
        for (kk, _), (bi, cov, _), w_m in zip(u.members, u.int_block, u.mws):
            got = _decode_unit_member(reader, kk, bi, cov, live, lo, hi)
            if got is None:
                continue
            d, f = got
            fld = key_field(kk)
            subs.append((d, bm25.score_term(
                f, reader.norms_for(fld)[d], w_m, stats.cache_for(fld))))
        if not subs:
            return None
        docids = np.unique(np.concatenate([d for d, _ in subs]))
        mx = np.full(len(docids), -np.inf, dtype=np.float64)
        sm = np.zeros(len(docids), dtype=np.float64)
        for d, sc in subs:
            pos = np.searchsorted(docids, d)
            np.maximum.at(mx, pos, sc.astype(np.float64))
            np.add.at(sm, pos, sc.astype(np.float64))
        return docids, (mx + u.tie * (sm - mx)).astype(np.float32)
    # phrase: one-time full flat-position decode (the .pos blob decodes in
    # one vectorized pass anyway); per chunk only the candidate docs inside
    # surviving intervals pay the (doc, pos)-key intersection
    if u._phrase_cache is None:
        flats = []
        for kk in u.keys:
            got = _flat_positions(reader, kk)
            if got is None:
                u._phrase_cache = (np.zeros(0, np.int64), [])
                break
            flats.append(got)
        else:
            cand = flats[0][0]
            for d, _, _ in flats[1:]:
                cand = cand[_in_sorted(cand, d)]
            slices = []
            for d, counts, flat in flats:
                idx = np.searchsorted(d, cand)
                starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
                slices.append((starts[idx], counts[idx], flat))
            u._phrase_cache = (cand, slices)
    cand, slices = u._phrase_cache
    if len(cand) == 0:
        return None
    sel = _select_ranges(cand, lo, hi)
    if len(sel) == 0:
        return None
    keys = []
    for starts, counts, flat in slices:
        take = _gather_ranges(starts[sel], counts[sel])
        doc_rank = np.repeat(np.arange(len(sel), dtype=np.int64),
                             counts[sel])
        keys.append((doc_rank << _POS_SHIFT) | flat[take])
    ok = keys[0]
    for i in range(1, len(keys)):
        ok = ok[_in_sorted(ok + i, keys[i])]
        if len(ok) == 0:
            return None
    freqs = np.bincount(ok >> _POS_SHIFT, minlength=len(sel))
    m = freqs > 0
    docids = cand[sel][m]
    return docids, bm25.score_term(
        freqs[m].astype(np.int64), reader.norms_for(u.field)[docids],
        u.w, stats.cache_for(u.field))


def blockmax_topk(reader: SparkSegmentReader, stats: SegmentStats,
                  plan: dict, k: int, chunk_intervals: int = 32,
                  deleted: np.ndarray | None = None,
                  theta0: float | None = None):
    """Vectorized block-max top-k, rank-identical to exhaustive evaluation.
    deleted: sorted unique docids tombstoned in this segment (liveDocs);
    they are excluded like a MUST_NOT set, before top-k, so k semantics are
    exact. theta0 seeds the competitive threshold with a score floor
    gathered OUTSIDE this segment (the MaxScoreAccumulator cross-slice
    sharing of IndexSearcher.java:399-402): any k-th-best score over a
    subset of segments lower-bounds the global k-th best, and the skip
    test stays strict (ub_safe < theta), so exactness is unaffected — the
    returned set may then hold fewer than k local docs, all globally
    competitive. Returns (docids, scores, frac_blocks_decoded)."""
    empty = (np.zeros(0, np.int64), np.zeros(0, np.float32), 0.0)
    built = _build_units(reader, stats, plan)
    if built is None:
        return empty
    units, total_blocks = built
    if not units:
        return empty
    n_must_req = sum(1 for u in units if u.is_must)

    # elementary intervals: interval i covers docids (bps[i-1], bps[i]]
    bps = np.unique(np.concatenate(
        [np.asarray(r.block_max_docs, dtype=np.int64)
         for u in units for _, r in u.members]))
    n_int = len(bps)
    int_lo = np.concatenate(([0], bps[:-1] + 1))
    int_hi = bps
    ub_int = np.zeros(n_int, dtype=np.float64)
    cover_cnt = np.zeros(n_int, dtype=np.int64)
    for u in units:
        _unit_bounds(reader, stats, u, int_hi)
        ub_int += u.ub
        if u.is_must:
            cover_cnt += u.covered.astype(np.int64)
    viable = cover_cnt == n_must_req
    ub_safe = np.nextafter(ub_int.astype(np.float32), np.float32(np.inf))

    must_not_sets = []
    for t in plan["must_not"]:
        p = reader.postings(t)
        if p is not None:
            must_not_sets.append(p[0])
    if deleted is not None and len(deleted):
        must_not_sets.append(deleted)

    msm = max(plan["msm"], 0)
    top_d = np.zeros(0, np.int64)
    top_s = np.zeros(0, np.float32)
    # min competitive score; starts at the cross-segment seed when given
    theta = None if theta0 is None else np.float32(theta0)

    # best-first interval order (a strengthening over Lucene's doc-order
    # traversal that our precomputed bounds allow): theta converges after
    # the first chunks, and because bounds are visited descending we can
    # STOP outright once the best remaining bound is non-competitive.
    # Safety unchanged: an interval is skipped only when ub_safe < theta
    # (strict), which excludes score ties, so the final (score desc, docid
    # asc) top-k is still exactly the exhaustive one.
    masked_ub = np.where(viable, ub_int, -np.inf)
    visit = np.argsort(-masked_ub, kind="stable")[: int(viable.sum())]
    # warm-up schedule: tiny first chunks establish theta before committing
    # to big decodes, then chunks grow to amortize vectorization
    cs, step = 0, 2
    while cs < len(visit):
        idx = visit[cs:cs + step]
        cs += step
        step = min(step * 2, max(chunk_intervals, 2))
        if theta is not None:
            if ub_safe[idx[0]] < theta:
                break  # descending bounds: nothing further can compete
            idx = idx[ub_safe[idx] >= theta]
        live = np.sort(idx)
        if len(live) == 0:
            continue
        lo, hi = int_lo[live], int_hi[live]
        parts_d, parts_s, parts_is_must = [], [], []
        for u in units:
            got = _score_unit_chunk(reader, stats, u, live, lo, hi)
            if got is None:
                continue
            d, sc = got
            parts_d.append(d)
            parts_s.append(sc)
            parts_is_must.append(np.full(len(d), u.is_must))
        if not parts_d:
            continue
        cd = np.concatenate(parts_d)
        csc = np.concatenate(parts_s).astype(np.float64)
        cim = np.concatenate(parts_is_must)
        docs_u, inv = np.unique(cd, return_inverse=True)
        # bincount adds in element order, like np.add.at: the same float64
        # sums, bit for bit
        n_u = len(docs_u)
        acc = np.bincount(inv, weights=csc, minlength=n_u)
        mcnt = np.bincount(inv[cim], minlength=n_u)
        scnt = np.bincount(inv[~cim], minlength=n_u)
        ok = mcnt >= n_must_req
        if msm > 0:
            ok &= scnt >= msm
        elif n_must_req == 0:
            ok &= scnt >= 1
        for nd in must_not_sets:
            ok &= ~np.isin(docs_u, nd, assume_unique=True)
        docs_u = docs_u[ok]
        if len(docs_u) == 0:
            continue
        sc_u = acc[ok].astype(np.float32)
        top_d = np.concatenate([top_d, docs_u])
        top_s = np.concatenate([top_s, sc_u])
        if len(top_d) >= k:
            top_d, top_s = top_k(Matches(top_d, top_s), k)
            if len(top_d) == k:
                theta = np.float32(top_s[-1])
    top_d, top_s = top_k(Matches(top_d, top_s), k)
    frac = reader.blocks_decoded / max(total_blocks, 1)
    return top_d, top_s, frac


# --------------------------------------------------------------------------
# dense batch accumulator (segments of at most DENSE_CELLS docs)
# --------------------------------------------------------------------------

# accumulator cells (qids x max_doc) per dense_topk pass: bounds its
# scratch to ~33 bytes a cell (float64 sums, two int64 counts, the bool
# and float32 score matrices and the partition copy), ~35 MB. Also the
# biggest segment the searcher sends here (Searcher.DENSE_MAX_DOC), so
# one qid's row always fits a pass
DENSE_CELLS = 1 << 20


def is_term_plan(plan: dict | None) -> bool:
    """Whether dense_topk can run this block-max plan: term units only."""
    return plan is not None and all(u["kind"] == "term"
                                    for u in plan["units"])


def dense_topk(reader: SparkSegmentReader, stats: SegmentStats,
               plans: list, k: int, max_doc: int,
               deleted: np.ndarray | None = None) -> list:
    """Per-segment top-k of MANY term-only block-max plans at once — the
    BooleanScorer strategy (a dense per-window score table,
    solr-8.4.0/.../search/BooleanScorer.java:33,36) over a whole
    segment and a whole batch, where blockmax_topk pays per-call Python
    per (qid, segment). Every term of the batch decodes in one
    multi-block pass (reader.prefetch); each distinct (term, boost) is
    scored once, all of them in one score_term call per field; per-(qid,
    doc) float64 sums and MUST/SHOULD counts come from np.bincount over
    qid*max_doc+docid keys whose elements are laid out in plan-unit order,
    so every doc's sum has blockmax_topk's addends in blockmax_topk's
    order (the same float32 score, bit for bit); then (score desc, docid
    asc) top-k per qid by one np.partition threshold and one lexsort. No
    pruning: the exact per-segment top-k, so no theta0. Qids run in chunks
    of DENSE_CELLS // max_doc to bound the scratch. Returns [(docids,
    float32 scores)] aligned with `plans`."""
    empty = (np.zeros(0, np.int64), np.zeros(0, np.float32))
    out = [empty] * len(plans)
    if k <= 0:
        return out
    reader.prefetch({kk for p in plans for kk in
                     [u["key"] for u in p["units"]] + p["must_not"]})
    slots: dict = {}  # (key, boost) -> its slot in the scored arrays
    live = []  # (plan index, [(slot, is_must)], plan)
    for i, p in enumerate(plans):
        parts = []
        for pu in p["units"]:
            kk, is_must = pu["key"], pu.get("is_must", False)
            if reader.postings(kk) is None:
                if is_must:
                    break
                continue
            parts.append((slots.setdefault((kk, pu["boost"]), len(slots)),
                          is_must))
        else:
            if parts:
                live.append((i, parts, p))
    if not live:
        return out
    scored = _score_slots(reader, stats, list(slots))
    step = max(DENSE_CELLS // max(max_doc, 1), 1)
    for c in range(0, len(live), step):
        chunk = live[c:c + step]
        for (i, _, _), got in zip(chunk, _dense_chunk(
                reader, chunk, scored, k, max_doc, deleted)):
            out[i] = got
    return out


def _score_slots(reader, stats: SegmentStats, slots: list):
    """(docids, float64 scores, starts, lens): the postings of every
    (key, boost) slot scored and concatenated in slot order, weight
    F32(F32(boost) * idf) as in _build_units; one score_term call per
    field, with a per-posting weight array (float32 elementwise, so each
    score is the one a per-term call gives)."""
    posts = [reader.postings(kk) for kk, _ in slots]
    lens = np.fromiter((len(p[0]) for p in posts), np.int64, len(posts))
    d = np.concatenate([p[0] for p in posts])
    f = np.concatenate([p[1] for p in posts])
    w = np.repeat(np.array([F32(F32(b) * stats.idf(kk)) for kk, b in slots],
                           dtype=np.float32), lens)
    fields = [key_field(kk) for kk, _ in slots]
    s = np.empty(len(d), np.float32)
    for fld in set(fields):
        m = (slice(None) if len(set(fields)) == 1 else
             np.repeat(np.array([x == fld for x in fields]), lens))
        s[m] = bm25.score_term(f[m], reader.norms_for(fld)[d[m]], w[m],
                               stats.cache_for(fld))
    return d, s.astype(np.float64), np.cumsum(lens) - lens, lens


def _dense_chunk(reader, chunk: list, scored, k: int, max_doc: int,
                 deleted: np.ndarray | None) -> list:
    """dense_topk over one chunk of resolved plans: one gather of the
    scored postings, one (qid x doc) accumulator, one partition, one
    lexsort."""
    flat_d, flat_s, starts, lens = scored
    nq = len(chunk)
    sl = np.array([j for _, parts, _ in chunk for j, _ in parts])
    pm = np.array([m for _, parts, _ in chunk for _, m in parts], bool)
    pq = np.repeat(np.arange(nq), [len(parts) for _, parts, _ in chunk])
    n = lens[sl]
    take = _gather_ranges(starts[sl], n)
    keys = flat_d[take] + np.repeat(pq * max_doc, n)
    must = np.repeat(pm, n)
    need_m = np.bincount(pq[pm], minlength=nq)
    msm = np.array([max(p["msm"], 0) for _, _, p in chunk])
    need_s = np.where(msm > 0, msm, need_m == 0)
    cells = nq * max_doc
    # bincount adds in element order: each cell's addends in unit order
    acc = np.bincount(keys, weights=flat_s[take],
                      minlength=cells).reshape(nq, max_doc)
    ok = np.ones((nq, max_doc), bool)
    for sel, need in ((~must, need_s), (must, need_m)):
        if need.any():  # a count only where some qid needs it
            ok &= (np.bincount(keys[sel], minlength=cells)
                   .reshape(nq, max_doc) >= need[:, None])
    for qi, (_, _, p) in enumerate(chunk):
        for t in p["must_not"]:
            got = reader.postings(t)
            if got is not None:
                ok[qi, got[0]] = False
    if deleted is not None and len(deleted):
        ok[:, deleted] = False
    score = np.where(ok, acc.astype(np.float32), np.float32(-np.inf))
    # qids with more than k hits keep every cell scoring >= their k-th
    # best, ties included, so the docid tie-break below stays exact
    over = np.flatnonzero(ok.sum(axis=1) > k)
    if len(over):
        kth = np.partition(score[over], max_doc - k, axis=1)[:, max_doc - k]
        ok[over] &= score[over] >= kth[:, None]
    q, d = np.nonzero(ok)
    s = score[q, d]
    order = np.lexsort((d, -s, q))
    q, d, s = q[order], d[order], s[order]
    n_q = np.bincount(q, minlength=nq)
    first = np.cumsum(n_q) - n_q
    keep = np.arange(len(q)) - first[q] < k
    d, s = d[keep], s[keep]
    ends = np.cumsum(np.minimum(n_q, k)).tolist()
    return [(d[a:b], s[a:b]) for a, b in zip([0] + ends[:-1], ends)]
