"""Per-segment query executor (exhaustive / COMPLETE mode), shared between
the pure-pandas oracle and the Spark segment kernel so that rank identity is
by construction.

Scoring semantics (behavior transcription):
  TermQuery weight = boost * idf, float32
    (solr-8.4.0/.../search/TermQuery.java:63-74, BM25Similarity.java:184-235)
  Phrase idf = sum of per-term float32 idfs accumulated in double, cast to
    float32 (BM25Similarity.java:172-181); phrase freq = number of exact
    phrase matches (ExactPhraseMatcher.java:36,117)
  SynonymQuery pseudo-term: docFreq = max over terms, totalTermFreq = sum
    (SynonymQuery.java:233-252); per-doc freq = sum of term freqs
  Boolean combination: per-clause float32 scores summed in double, cast to
    float32 (DisjunctionSumScorer.java:36-43, ConjunctionScorer.java:56-62)
  ConstantScoreQuery scores boost (ConstantScoreQuery.java)
  DisjunctionMaxQuery: max + tieBreaker * (sum - max)
    (solr-8.4.0/.../search/DisjunctionMaxQuery.java DisjunctionMaxScorer)
  Top-k ties: score desc, docid asc (HitQueue.java:76-81)
"""

from __future__ import annotations

import numpy as np

from ..functions import bm25
from ..functions.bm25 import F32
from ..functions.codec import gather_ranges as _gather_ranges
from ..plans.query import (BooleanQuery, BoostQuery, ConstantScoreQuery,
                           DisjunctionMaxQuery, IntervalQuery,
                           MatchAllDocsQuery,
                           MatchNoDocsQuery, MultiPhraseQuery, Occur,
                           PhraseQuery, Query,
                           SpanFirstQuery, SpanNearQuery, SpanOrQuery,
                           SynonymQuery, TermInSetQuery,
                           TermQuery, key_field, term_key)


class SegmentStats:
    """Collection + term statistics. Collection stats are GLOBAL (across all
    segments), term stats too — Lucene gathers them once per query at the
    IndexSearcher level (IndexSearcher.java:790,803).

    similarity: "bm25" (default), "classic", "boolean", "lmdirichlet",
    "lmjelinekmercer", "dfr_inl2", "ib_ll", or "axiomatic_f2exp"
    (functions/similarities.py). The dense top-k kernel is BM25-specific;
    other similarities run the exhaustive path."""

    def __init__(self, doc_count: int, sum_total_term_freq: int,
                 doc_freqs: dict, total_term_freqs: dict,
                 k1: float = bm25.DEFAULT_K1, b: float = bm25.DEFAULT_B,
                 similarity: str = "bm25", field_stats: dict | None = None):
        """doc_count / sum_total_term_freq describe the DEFAULT field;
        field_stats = {field_name: (doc_count, sum_ttf)} carries the same
        per-field collection statistics for named non-default fields
        (Lucene gathers CollectionStatistics per field,
        IndexSearcher.java:790-803). doc_freqs / total_term_freqs are keyed
        by term KEYS (plans.query.term_key)."""
        self.doc_count = doc_count
        self.sum_total_term_freq = sum_total_term_freq
        self.doc_freqs = doc_freqs
        self.total_term_freqs = total_term_freqs
        self.k1, self.b = k1, b
        self.similarity = similarity
        self.field_stats = field_stats or {}
        self.avgdl = bm25.avgdl(sum_total_term_freq, max(doc_count, 1))
        self.cache = bm25.norm_inverse_cache(k1, b, self.avgdl)
        self._field_caches: dict = {None: self.cache}
        self._sim = None
        self._lmd = None
        self._dfr = None
        if similarity == "classic":
            from ..functions.similarities import ClassicSimilarity
            self._sim = ClassicSimilarity()
        elif similarity == "boolean":
            from ..functions.similarities import BooleanSimilarity
            self._sim = BooleanSimilarity()
        elif similarity == "lmdirichlet":
            from ..functions.similarities import LMDirichletSimilarity
            self._lmd = LMDirichletSimilarity()
        elif similarity == "lmjelinekmercer":
            from ..functions.similarities import LMJelinekMercerSimilarity
            self._lmd = LMJelinekMercerSimilarity()
        elif similarity == "dfi_chisquared":
            from ..functions.similarities import DFIChiSquaredSimilarity
            self._lmd = DFIChiSquaredSimilarity()
        elif similarity == "dfr_inl2":
            from ..functions.similarities import DFRInL2Similarity
            self._dfr = DFRInL2Similarity()
        elif similarity == "ib_ll":
            from ..functions.similarities import IBSimilarityLLH2
            self._dfr = IBSimilarityLLH2()
        elif similarity == "axiomatic_f2exp":
            from ..functions.similarities import AxiomaticF2EXP
            self._dfr = AxiomaticF2EXP()
        elif similarity != "bm25":
            raise ValueError(f"unknown similarity {similarity!r}")

    @property
    def is_bm25(self) -> bool:
        return self._sim is None and self._lmd is None \
            and self._dfr is None

    def doc_count_for(self, field: str | None) -> int:
        if field is None:
            return self.doc_count
        return self.field_stats[field][0]

    def sum_ttf_for(self, field: str | None) -> int:
        if field is None:
            return self.sum_total_term_freq
        return self.field_stats[field][1]

    def cache_for(self, field: str | None) -> np.ndarray:
        """Per-field norm-inverse cache: BM25's avgdl is a per-field
        statistic (BM25Similarity.java:80-82), so each field gets its own
        256-entry cache, built lazily and memoized."""
        got = self._field_caches.get(field)
        if got is None:
            dc, sttf = self.field_stats[field]
            got = bm25.norm_inverse_cache(
                self.k1, self.b, bm25.avgdl(sttf, max(dc, 1)))
            self._field_caches[field] = got
        return got

    def idf(self, key) -> np.float32:
        df = self.doc_freqs.get(key, 0)
        if df == 0:
            return F32(0.0)
        dc = self.doc_count_for(key_field(key))
        if self._sim is not None:
            return self._sim.idf(df, dc)
        return bm25.idf(df, dc)

    def score_arr(self, freqs: np.ndarray, norm_bytes: np.ndarray,
                  weight: np.float32, field: str | None = None) -> np.ndarray:
        """Similarity-dispatched vectorized SimScorer.score (weight-folding
        similarities only)."""
        if self._sim is not None:
            return self._sim.score(freqs, norm_bytes, weight)
        return bm25.score_term(freqs, norm_bytes, weight,
                               self.cache_for(field))

    def pseudo_score(self, df: int, ttf: int, boost32: np.float32,
                     freqs: np.ndarray, norm_bytes: np.ndarray,
                     field: str | None = None) -> np.ndarray:
        """Score with explicit (pseudo-)term statistics — the path term,
        synonym, and phrase scoring share. BM25/Classic fold (boost * idf)
        into a scalar weight; LM Dirichlet needs ttf (collection
        probability), so the boost passes through unfolded."""
        if self._lmd is not None:
            return self._lmd.score(freqs, norm_bytes, ttf,
                                   self.sum_ttf_for(field), boost32)
        if self._dfr is not None:
            return self._dfr.score(freqs, norm_bytes, df,
                                   self.doc_count_for(field),
                                   self.sum_ttf_for(field), boost32)
        if df <= 0:
            return np.zeros(len(freqs), dtype=np.float32)
        dc = self.doc_count_for(field)
        base_idf = (self._sim.idf(df, dc)
                    if self._sim is not None
                    else bm25.idf(df, dc))
        return self.score_arr(freqs, norm_bytes, boost32 * base_idf, field)


class Matches:
    """A sorted docid set with aligned float32 scores."""

    __slots__ = ("docids", "scores")

    def __init__(self, docids: np.ndarray, scores: np.ndarray | None = None):
        self.docids = docids.astype(np.int64, copy=False)
        self.scores = (scores if scores is not None
                       else np.zeros(len(docids), dtype=np.float32))

    @staticmethod
    def empty():
        return Matches(np.zeros(0, np.int64), np.zeros(0, np.float32))


def _sum_aligned(base_docids: np.ndarray, parts: list[Matches]) -> np.ndarray:
    """Sum each part's scores into positions of base_docids (float64 acc)."""
    acc = np.zeros(len(base_docids), dtype=np.float64)
    for m in parts:
        pos = np.searchsorted(base_docids, m.docids)
        ok = (pos < len(base_docids))
        ok[ok] = base_docids[pos[ok]] == m.docids[ok]
        np.add.at(acc, pos[ok], m.scores[ok].astype(np.float64))
    return acc.astype(np.float32)


def _norms_for(reader, field: str | None) -> np.ndarray:
    """Per-field norms array (falls back to the default-field norms() for
    readers that predate multi-field support)."""
    if field is None:
        return reader.norms()
    return reader.norms_for(field)


def evaluate(reader, stats: SegmentStats, q: Query,
             boost: float = 1.0, needs_scores: bool = True) -> Matches:
    """Evaluate a query against one segment reader.

    reader protocol:
      reader.postings(key) -> (docids:int64[], freqs:int64[]) | None
        where key is a term KEY (plans.query.term_key): bare term for the
        default field, (field, term) tuple for named fields
      reader.positions(key) -> (docids:int64[], list_of_pos_arrays) | None
      reader.norms() -> uint8[] indexed by docid (default field)
      reader.norms_for(field) -> uint8[] (named fields)
      reader.all_docids() -> int64[]
    """
    b32 = F32(boost)

    if isinstance(q, MatchNoDocsQuery):
        return Matches.empty()

    if isinstance(q, MatchAllDocsQuery):
        d = reader.all_docids()
        return Matches(d, np.full(len(d), b32, dtype=np.float32))

    if isinstance(q, BoostQuery):
        return evaluate(reader, stats, q.query, boost * q.boost, needs_scores)

    if isinstance(q, ConstantScoreQuery):
        sub = evaluate(reader, stats, q.query, 1.0, needs_scores=False)
        return Matches(sub.docids,
                       np.full(len(sub.docids), b32, dtype=np.float32))

    if isinstance(q, TermQuery):
        key = term_key(q.field, q.term)
        p = reader.postings(key)
        if p is None:
            return Matches.empty()
        docids, freqs = p
        if not needs_scores:
            return Matches(docids)
        scores = stats.pseudo_score(
            stats.doc_freqs.get(key, 0),
            stats.total_term_freqs.get(key, 0),
            F32(b32 * F32(q.boost)), freqs,
            _norms_for(reader, q.field)[docids], field=q.field)
        return Matches(docids, scores)

    if isinstance(q, SynonymQuery):
        keys = [term_key(q.field, t) for t in q.terms]
        parts = [reader.postings(kk) for kk in keys]
        parts = [p for p in parts if p is not None]
        if not parts:
            return Matches.empty()
        all_d = np.concatenate([p[0] for p in parts])
        all_f = np.concatenate([p[1] for p in parts])
        docids, inv = np.unique(all_d, return_inverse=True)
        freqs = np.zeros(len(docids), dtype=np.int64)
        np.add.at(freqs, inv, all_f)
        if not needs_scores:
            return Matches(docids)
        # pseudo-term stats: docFreq = max, totalTermFreq = sum
        # (SynonymQuery.java:233-252)
        df = max((stats.doc_freqs.get(kk, 0) for kk in keys), default=0)
        ttf = sum(stats.total_term_freqs.get(kk, 0) for kk in keys)
        scores = stats.pseudo_score(
            df, ttf, F32(b32 * F32(q.boost)), freqs,
            _norms_for(reader, q.field)[docids], field=q.field)
        return Matches(docids, scores)

    if isinstance(q, TermInSetQuery):
        parts = [reader.postings(term_key(q.field, t)) for t in q.terms]
        parts = [p[0] for p in parts if p is not None]
        if not parts:
            return Matches.empty()
        docids = np.unique(np.concatenate(parts))
        return Matches(docids, np.full(len(docids), b32, dtype=np.float32))

    if isinstance(q, IntervalQuery):
        # intervals module (queries/intervals/IntervalQuery.java): minimal-
        # interval matching; scored like spans — sloppyFreq over intervals
        # with the summed-idf SpanWeight over the distinct leaf terms
        from .intervals import interval_match
        from ..plans.query import interval_terms
        docids, sfreqs = interval_match(reader, q)
        if len(docids) == 0:
            return Matches.empty()
        if not needs_scores:
            return Matches(docids)
        leaves = tuple(sorted(interval_terms(q.source)))
        return Matches(docids, _span_scores(
            reader, stats, leaves, q.field, docids, sfreqs,
            F32(b32 * F32(q.boost))))

    if isinstance(q, (SpanNearQuery, SpanOrQuery, SpanFirstQuery)):
        if isinstance(q, SpanOrQuery):
            docids, sfreqs = _span_or_freqs(reader, q)
        elif isinstance(q, SpanFirstQuery):
            docids, sfreqs = _span_first_freqs(reader, q)
        elif q.in_order:
            docids, sfreqs = _span_near_freqs(reader, q)
        else:
            docids, sfreqs = _span_near_unordered_freqs(
                reader, q, needs_freq=needs_scores)
        if len(docids) == 0:
            return Matches.empty()
        if not needs_scores:
            return Matches(docids)
        terms = (q.term,) if isinstance(q, SpanFirstQuery) else q.terms
        return Matches(docids, _span_scores(
            reader, stats, terms, q.field, docids, sfreqs,
            F32(b32 * F32(q.boost))))

    if isinstance(q, PhraseQuery):
        docids, freqs = _phrase_match(reader, q)
        if len(docids) == 0:
            return Matches.empty()
        if not needs_scores:
            return Matches(docids)
        if stats._lmd is not None:
            # LM phrase pseudo-term: summed member ttfs (the synonym model;
            # SimilarityBase has no phrase-idf notion to sum)
            ttf = sum(stats.total_term_freqs.get(term_key(q.field, t), 0)
                      for t in q.terms)
            scores = stats.pseudo_score(
                1, ttf, F32(b32 * F32(q.boost)), freqs,
                _norms_for(reader, q.field)[docids], field=q.field)
            return Matches(docids, scores)
        idf_sum = float(np.sum(np.array(
            [stats.idf(term_key(q.field, t)) for t in q.terms],
            dtype=np.float32,
        ).astype(np.float64)))
        w = F32(b32 * F32(q.boost)) * F32(idf_sum)
        scores = stats.score_arr(freqs, _norms_for(reader, q.field)[docids],
                                 w, field=q.field)
        return Matches(docids, scores)

    if isinstance(q, MultiPhraseQuery):
        docids, freqs = _multi_phrase_match(reader, q)
        if len(docids) == 0:
            return Matches.empty()
        if not needs_scores:
            return Matches(docids)
        # stats per (slot, term) OCCURRENCE with df > 0 — a term listed
        # in two slots contributes twice (MultiPhraseQuery.java:229-251);
        # unlike PhraseQuery, a slot alternative may be absent from the
        # index while the phrase still matches, so df==0 terms are skipped
        occ = [term_key(q.field, t)
               for slot in q.term_arrays for t in slot]
        occ = [kk for kk in occ if stats.doc_freqs.get(kk, 0) > 0]
        if stats._lmd is not None:
            ttf = sum(stats.total_term_freqs.get(kk, 0) for kk in occ)
            scores = stats.pseudo_score(
                1, ttf, F32(b32 * F32(q.boost)), freqs,
                _norms_for(reader, q.field)[docids], field=q.field)
            return Matches(docids, scores)
        idf_sum = float(np.sum(np.array(
            [stats.idf(kk) for kk in occ],
            dtype=np.float32).astype(np.float64)))
        w = F32(b32 * F32(q.boost)) * F32(idf_sum)
        scores = stats.score_arr(freqs, _norms_for(reader, q.field)[docids],
                                 w, field=q.field)
        return Matches(docids, scores)

    if isinstance(q, DisjunctionMaxQuery):
        subs = [evaluate(reader, stats, s, boost, needs_scores)
                for s in q.queries]
        subs = [m for m in subs if len(m.docids)]
        if not subs:
            return Matches.empty()
        docids = np.unique(np.concatenate([m.docids for m in subs]))
        mx = np.full(len(docids), -np.inf, dtype=np.float64)
        sm = np.zeros(len(docids), dtype=np.float64)
        for m in subs:
            pos = np.searchsorted(docids, m.docids)
            np.maximum.at(mx, pos, m.scores.astype(np.float64))
            np.add.at(sm, pos, m.scores.astype(np.float64))
        tie = q.tie_breaker
        scores = (mx + tie * (sm - mx)).astype(np.float32)
        return Matches(docids, scores)

    if isinstance(q, BooleanQuery):
        return _evaluate_boolean(reader, stats, q, boost, needs_scores)

    raise TypeError(f"unsupported query type {type(q).__name__} "
                    "(rewrite() it against the terms dictionary first)")


def _in_sorted(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Boolean mask: which elements of a are present in SORTED array b.
    One searchsorted — no per-element Python, no np.isin sort."""
    pos = np.searchsorted(b, a)
    ok = pos < len(b)
    ok[ok] = b[pos[ok]] == a[ok]
    return ok


def _flat_positions(reader, term):
    """(docids, counts, flat_pos) for a term: every doc's position list in
    one flat int64 array. Uses the reader's vectorized flat decoder when
    present (SparkSegmentReader), else flattens the per-doc list protocol
    (in-memory oracle reader)."""
    fp = getattr(reader, "flat_positions", None)
    if fp is not None:
        return fp(term)
    pp = reader.positions(term)
    if pp is None:
        return None
    d, plist = pp
    counts = np.fromiter((len(x) for x in plist), np.int64, len(plist))
    flat = (np.concatenate([np.asarray(x, dtype=np.int64) for x in plist])
            if counts.sum() else np.zeros(0, np.int64))
    return d, counts, flat


_POS_SHIFT = 32  # (candidate-doc rank << 32) | position: positions < 2^31


def _sloppy_freq_doc(pos_arrays: list, slop: int,
                     rpt_groups: list | None = None) -> np.float32:
    """One doc's sloppy phrase freq: float32 sum of sloppyWeight =
    1/(1+matchLength) over the minimal windows found by the PhraseQueue
    walk — a behavior transcription of SloppyPhraseMatcher.nextMatch
    (solr-8.4.0/.../search/SloppyPhraseMatcher.java:164-196, sloppyWeight
    :158-160) and PhraseScorer.score's float32 accumulation
    (PhraseScorer.java:74-81). pos_arrays[k] = ascending positions of
    phrase slot k; pp.position = pos - k. rpt_groups lists the slot groups
    of REPEATED terms (the single-term-repeats case of the reference:
    groups start offset-sorted and collision-free — rg[j] pre-advanced j
    steps, SloppyPhraseMatcher.java:414-445 — and a post-advance collision
    on tpPos = position+offset advances the lesser pp, :274-311). The
    priority queue is a lazy heap: entries whose snapshot position is stale
    (a repeater advanced while queued) are re-pushed on pop/peek, which is
    the re-queue dance of advanceRpts. Returns 0 when no window has
    matchLength <= slop."""
    import heapq
    F = np.float32
    n = len(pos_arrays)
    position, idx = [0] * n, [0] * n
    for k in range(n):
        position[k] = int(pos_arrays[k][0]) - k
    group_of = [-1] * n
    if rpt_groups:
        for gi, g in enumerate(rpt_groups):
            for slot in g:
                group_of[slot] = gi
        # start condition: no collisions — the j-th repeater of a group
        # starts at the j-th occurrence of the shared positions list
        for g in rpt_groups:
            for j in range(1, len(g)):
                k = g[j]
                if j >= len(pos_arrays[k]):
                    return F(0.0)  # fewer occurrences than repeats
                idx[k] = j
                position[k] = int(pos_arrays[k][j]) - k
    end = max(position)
    heap = [(position[k], k) for k in range(n)]  # order: (position, offset)
    heapq.heapify(heap)

    def advance(k: int) -> bool:
        nonlocal end
        idx[k] += 1
        if idx[k] >= len(pos_arrays[k]):
            return False
        p = int(pos_arrays[k][idx[k]]) - k
        position[k] = p
        if p > end:
            end = p
        return True

    def advance_rpts(k: int) -> bool:
        if group_of[k] < 0:
            return True
        cur = k
        while True:
            g = rpt_groups[group_of[cur]]
            tp = position[cur] + cur
            other = -1
            for r in g:
                if r != cur and position[r] + r == tp:
                    other = r
                    break
            if other < 0:
                return True
            a, b = cur, other  # advance the lesser of the colliding two
            cur = a if (position[a] < position[b]
                        or (position[a] == position[b] and a < b)) else b
            if not advance(cur):
                return False

    def pop_live():
        while True:
            pos, k = heapq.heappop(heap)
            if position[k] == pos:
                return pos, k
            heapq.heappush(heap, (position[k], k))

    def top_live():
        while True:
            pos, k = heap[0]
            if position[k] == pos:
                return pos
            heapq.heapreplace(heap, (position[k], k))

    freq = None
    positioned = True
    while positioned:
        pos0, k = pop_live()
        match_length = end - pos0
        nxt = top_live()
        matched = False
        while True:
            if not advance(k) or (rpt_groups and not advance_rpts(k)):
                positioned = False  # pps exhausted for this doc
                matched = match_length <= slop
                break
            if position[k] > nxt:  # done minimizing the current match
                heapq.heappush(heap, (position[k], k))
                if match_length <= slop:
                    matched = True
                    break
                pos0, k = pop_live()
                nxt = top_live()
                match_length = end - pos0
            else:
                ml2 = end - position[k]
                if ml2 < match_length:
                    match_length = ml2
        if matched:
            w = F(F(1.0) / (F(1.0) + F(match_length)))
            freq = w if freq is None else F(freq + w)
    return F(0.0) if freq is None else freq


def _sloppy_match_2(flats: list, cand: np.ndarray, slop: int):
    """Vectorized 2-distinct-term sloppy matcher — the dominant case.

    For two pps the PhraseQueue walk reduces to a two-pointer leapfrog
    (end == max(posA, posB) always holds): each outer iteration pops the
    minimum pointer, records ONE minimal window of length
    other_pos - pred(other_pos) where pred is the largest active-array
    element <= other_pos, then advances the active pointer to the first
    element strictly greater; it stops after the iteration in which the
    active array exhausts. We simulate that walk EXACTLY, but in lockstep
    across all candidate docs: one round = one match per still-alive doc,
    with the per-doc predecessor lookups done by a single searchsorted
    over packed (doc_rank << 32 | adjusted_pos) keys. The float32
    sloppyFreq fold happens round-by-round in match order, so results are
    bit-identical to _sloppy_freq_doc (property-tested on random inputs).
    Rounds = max matches over docs; docs drop out as they finish."""
    F = np.float32
    vals, offs, keys = [], [], []
    n = len(cand)
    for slot, (d, counts, flat) in enumerate(flats):
        idx = np.searchsorted(d, cand)
        starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
        take = _gather_ranges(starts[idx], counts[idx])
        cnt = counts[idx]
        v = (flat[take] - slot + 1).astype(np.int64)  # +1: keep >= 0
        rank = np.repeat(np.arange(n, dtype=np.int64), cnt)
        vals.append(v)
        offs.append(np.concatenate(([0], np.cumsum(cnt))))
        keys.append((rank << _POS_SHIFT) | v)
    (va, offa, ka), (vb, offb, kb) = zip(vals, offs, keys)
    ia, ea = offa[:-1].copy(), offa[1:]
    ib, eb = offb[:-1].copy(), offb[1:]
    freq = np.zeros(n, dtype=np.float32)
    alive = (ea > ia) & (eb > ib)
    one = F(1.0)
    slop64 = np.int64(slop)
    while alive.any():
        aw = np.nonzero(alive)[0]
        aval = va[ia[aw]]
        bval = vb[ib[aw]]
        amin = aval <= bval  # tie: slot 0 pops first ((position, offset))
        other = np.where(amin, bval, aval)
        q = (aw << _POS_SHIFT) | other
        # predecessor of `other` in the ACTIVE array (>= current pointer,
        # guaranteed: the active pointer's own value is <= other)
        pa = np.searchsorted(ka, q, side="right") - 1
        pb = np.searchsorted(kb, q, side="right") - 1
        predpos = np.where(amin, pa, pb)
        predval = np.where(amin, va[np.minimum(pa, len(va) - 1)],
                           vb[np.minimum(pb, len(vb) - 1)])
        mlen = other - predval
        hit = mlen <= slop64
        tgt = aw[hit]
        freq[tgt] = (freq[tgt]
                     + (one / (one + mlen[hit].astype(np.float32))))
        nxt = predpos + 1
        dead = np.where(amin, nxt >= ea[aw], nxt >= eb[aw])
        ia[aw[amin]] = nxt[amin]
        ib[aw[~amin]] = nxt[~amin]
        alive[aw[dead]] = False
    m = freq > 0
    return cand[m], freq[m]


def _sloppy_match_k(flats: list, cand: np.ndarray, slop: int):
    """Vectorized k-distinct-term sloppy matcher (k >= 3) — the
    generalization of _sloppy_match_2's lockstep rounds to k pointers.

    One round replays one pop-group of the reference PhraseQueue walk
    (SloppyPhraseMatcher.nextMatch) for every still-alive doc at once.
    The reduction: popping the min front (slot j, ties to the lower
    slot) and advancing j while position <= nxt (the second-min front)
    minimizes match_length to end - e_last, where e_last is the LARGEST
    slot-j element <= nxt — one searchsorted over slot j's rank-packed
    values. During that run `end` cannot move (every consumed value <=
    nxt <= end = max of fronts), so end is just the per-round max front;
    a pop-group whose window stays over the slop records nothing and the
    walk re-pops, so every pop-group contributes independently:
    1/(1+ml) iff ml <= slop, folded in round order — bit-identical to
    _sloppy_freq_doc's float32 accumulation (property-tested against the
    per-doc walk and the brute-force oracle). A doc dies in the round
    that exhausts one of its slots; that terminal window is still
    evaluated, like the reference's positioned=False break."""
    F = np.float32
    k = len(flats)
    n = len(cand)
    vals, keys, ptr, ends = [], [], [], []
    for slot, (d, counts, flat) in enumerate(flats):
        idx = np.searchsorted(d, cand)
        starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
        take = _gather_ranges(starts[idx], counts[idx])
        cnt = counts[idx]
        v = (flat[take] - slot + k).astype(np.int64)  # +k: keep >= 0
        rank = np.repeat(np.arange(n, dtype=np.int64), cnt)
        off = np.concatenate(([0], np.cumsum(cnt)))
        vals.append(v)
        keys.append((rank << _POS_SHIFT) | v)
        ptr.append(off[:-1].copy())
        ends.append(off[1:])
    freq = np.zeros(n, dtype=np.float32)
    alive = np.ones(n, dtype=bool)
    for s in range(k):
        alive &= ends[s] > ptr[s]
    one = F(1.0)
    slop64 = np.int64(slop)
    K64 = np.int64(k)
    while alive.any():
        aw = np.nonzero(alive)[0]
        fronts = np.stack([vals[s][ptr[s][aw]] for s in range(k)])
        packed = fronts * K64 + np.arange(k, dtype=np.int64)[:, None]
        j_min = packed.argmin(axis=0)
        nxt = np.partition(packed, 1, axis=0)[1] // K64
        end = fronts.max(axis=0)
        ml = np.empty(len(aw), dtype=np.int64)
        dead = np.zeros(len(aw), dtype=bool)
        for s in range(k):
            m = j_min == s
            if not m.any():
                continue
            q = (aw[m] << _POS_SHIFT) | nxt[m]
            pa = np.searchsorted(keys[s], q, side="right") - 1
            ml[m] = end[m] - vals[s][pa]
            nptr = pa + 1
            ptr[s][aw[m]] = nptr
            dead[m] = nptr >= ends[s][aw[m]]
        hit = ml <= slop64
        tgt = aw[hit]
        freq[tgt] = freq[tgt] + (one / (one + ml[hit].astype(np.float32)))
        alive[aw[dead]] = False
    m = freq > 0
    return cand[m], freq[m]


def _sloppy_match(flats: list, cand: np.ndarray, slop: int, terms):
    """Sloppy path: fully vectorized for DISTINCT terms (any k) — the
    2-term two-pointer leapfrog in _sloppy_match_2, its k-pointer
    generalization in _sloppy_match_k. Queries with REPEATED terms keep
    the per-candidate-doc PhraseQueue walk (the repeater-collision
    machinery is inherently sequential)."""
    if len(terms) == 2 and terms[0] != terms[1]:
        return _sloppy_match_2(flats, cand, slop)
    if len(set(terms)) == len(terms):
        return _sloppy_match_k(flats, cand, slop)
    slices = []
    for d, counts, flat in flats:
        idx = np.searchsorted(d, cand)
        starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
        slices.append((starts[idx], counts[idx], flat))
    by_term: dict = {}
    for slot, t in enumerate(terms):
        by_term.setdefault(t, []).append(slot)
    rpt_groups = [g for g in by_term.values() if len(g) > 1] or None
    out_d: list = []
    out_f: list = []
    for j in range(len(cand)):
        pls = [flat[s[j]:s[j] + c[j]] for (s, c, flat) in slices]
        f = _sloppy_freq_doc(pls, slop, rpt_groups)
        if f > 0:
            out_d.append(int(cand[j]))
            out_f.append(f)
    return (np.asarray(out_d, dtype=np.int64),
            np.asarray(out_f, dtype=np.float32))


def _phrase_match(reader, q: PhraseQuery):
    """Exact phrase (slop=0): docs where terms appear at consecutive
    positions; freq = number of phrase occurrences — fully vectorized over
    the whole segment (the ExactPhraseMatcher.java:117 advance loop becomes
    one searchsorted intersection per term over flat (doc, pos) keys).
    Sloppy (slop>0): Lucene-faithful minimal-window matching with
    sloppyFreq weighting (see _sloppy_freq_doc)."""
    empty = (np.zeros(0, np.int64), np.zeros(0, np.int64))
    flats = []
    for t in q.terms:
        got = _flat_positions(reader, term_key(q.field, t))
        if got is None:
            return empty
        flats.append(got)
    # candidate docs: sorted intersection of the terms' docid sets
    cand = flats[0][0]
    for d, _, _ in flats[1:]:
        cand = cand[_in_sorted(cand, d)]
    if len(cand) == 0:
        return empty
    if q.slop > 0 and len(q.terms) > 1:
        return _sloppy_match(flats, cand, q.slop, q.terms)
    # per term: restrict flat positions to candidate docs, key by
    # (doc rank, position) packed into one int64 so one intersection
    # handles every doc at once
    keys = []
    for d, counts, flat in flats:
        idx = np.searchsorted(d, cand)
        starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
        take = _gather_ranges(starts[idx], counts[idx])
        doc_rank = np.repeat(np.arange(len(cand), dtype=np.int64),
                             counts[idx])
        keys.append((doc_rank << _POS_SHIFT) | flat[take])
    ok = keys[0]
    for i in range(1, len(keys)):
        ok = ok[_in_sorted(ok + i, keys[i])]
        if len(ok) == 0:
            return empty
    freqs = np.bincount(ok >> _POS_SHIFT, minlength=len(cand))
    m = freqs > 0
    return cand[m], freqs[m].astype(np.int64)


def _union_flat_positions(reader, keys):
    """Positional UNION of several terms' postings — the
    UnionPostingsEnum role (MultiPhraseQuery.java:420-470): one merged
    (docids, counts, flat_pos) stream, positions sorted per doc with
    duplicates KEPT (two alternatives at the same position are two
    tokens, exactly like the reference's merged posQueue). Docids are
    segment-local (< 2^31, the Lucene segment-size bound) so one packed
    (doc << 32 | pos) sort merges every doc at once."""
    subs = [got for k in keys
            if (got := _flat_positions(reader, k)) is not None]
    if not subs:
        return None
    if len(subs) == 1:
        return subs[0]
    packed = []
    for d, counts, flat in subs:
        packed.append((np.repeat(d, counts) << _POS_SHIFT) | flat)
    allk = np.sort(np.concatenate(packed))
    docs = allk >> _POS_SHIFT
    d_unique, counts = np.unique(docs, return_counts=True)
    return d_unique, counts, allk & ((np.int64(1) << _POS_SHIFT) - 1)


def _multi_phrase_match(reader, q: MultiPhraseQuery):
    """MultiPhraseQuery matching: each slot's postings are the positional
    union of its alternatives (_union_flat_positions); the match/freq
    machinery is then EXACTLY PhraseQuery's — vectorized packed-key
    intersection when slop=0, the Lucene-faithful minimal-window walk
    when slop>0.  Repeat handling mirrors SloppyPhraseMatcher's
    repeating-pps detection only for IDENTICAL slots (same alternative
    set twice); partially overlapping distinct slots are rejected — an
    honest unsupported-shape guard, not silent wrong answers."""
    empty = (np.zeros(0, np.int64), np.zeros(0, np.int64))
    slot_keys = [tuple(dict.fromkeys(term_key(q.field, t) for t in slot))
                 for slot in q.term_arrays]
    if any(not sk for sk in slot_keys):
        return empty
    flats = []
    for sk in slot_keys:
        got = _union_flat_positions(reader, sk)
        if got is None:
            return empty
        flats.append(got)
    cand = flats[0][0]
    for d, _, _ in flats[1:]:
        cand = cand[_in_sorted(cand, d)]
    if len(cand) == 0:
        return empty
    if q.slop > 0 and len(flats) > 1:
        sigs = [tuple(sorted(map(repr, sk))) for sk in slot_keys]
        for i, a in enumerate(slot_keys):
            for j in range(i + 1, len(slot_keys)):
                if sigs[i] != sigs[j] and set(a) & set(slot_keys[j]):
                    raise NotImplementedError(
                        "sloppy MultiPhraseQuery with partially "
                        "overlapping slots is unsupported")
        return _sloppy_match(flats, cand, q.slop, sigs)
    keys = []
    for d, counts, flat in flats:
        idx = np.searchsorted(d, cand)
        starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
        take = _gather_ranges(starts[idx], counts[idx])
        doc_rank = np.repeat(np.arange(len(cand), dtype=np.int64),
                             counts[idx])
        keys.append((doc_rank << _POS_SHIFT) | flat[take])
    ok = keys[0]
    for i in range(1, len(keys)):
        ok = ok[_in_sorted(ok + i, keys[i])]
        if len(ok) == 0:
            return empty
    # duplicate union positions (two alternatives at one position) can
    # repeat a packed key: count DISTINCT phrase starts, like the
    # reference's matcher which advances past a matched start
    ok = np.unique(ok)
    freqs = np.bincount(ok >> _POS_SHIFT, minlength=len(cand))
    m = freqs > 0
    return cand[m], freqs[m].astype(np.int64)


def _span_scores(reader, stats: SegmentStats, terms, field,
                 docids: np.ndarray, sfreqs: np.ndarray,
                 total_boost: np.float32) -> np.ndarray:
    """SpanScorer.scoreCurrentDoc (spans/SpanScorer.java:74-76): score the
    slop-adjusted freq with the SpanWeight sim scorer, which is built over
    the stats of every DISTINCT query term with df > 0
    (SpanWeight.buildSimWeight). BM25/Classic sum the per-term idfs into
    one weight (BM25Similarity.idfExplain array form); the SimilarityBase
    models (LM/DFR/IB/Axiomatic) become a MultiSimilarity.MultiSimScorer
    — a float32-accumulated SUM of per-term scores at the same
    (freq, norm) (MultiSimilarity.java MultiSimScorer.score);
    BooleanSimilarity scores the boost outright."""
    keys = [kk for kk in dict.fromkeys(term_key(field, t) for t in terms)
            if stats.doc_freqs.get(kk, 0) > 0]
    norms = _norms_for(reader, field)[docids]
    if stats.similarity == "boolean":
        return np.full(len(docids), total_boost, dtype=np.float32)
    if stats._lmd is not None or stats._dfr is not None:
        acc = np.zeros(len(docids), dtype=np.float32)
        for kk in keys:  # f32 running sum, query term order
            acc = acc + stats.pseudo_score(
                stats.doc_freqs.get(kk, 0),
                stats.total_term_freqs.get(kk, 0), total_boost,
                sfreqs, norms, field=field)
        return acc
    idf_sum = float(np.sum(np.array(
        [stats.idf(kk) for kk in keys],
        dtype=np.float32).astype(np.float64)))
    w = total_boost * F32(idf_sum)
    return stats.score_arr(sfreqs, norms, w, field=field)


def _span_or_freqs(reader, q) -> tuple[np.ndarray, np.ndarray]:
    """(docids, freqs) for SpanOrQuery over term spans (spans/
    SpanOrQuery.java): the union enumeration visits every member
    occurrence (each a zero-width term span, TermSpans.width() == 0), so
    sloppyFreq = float32-accumulated sum of 1.0 per occurrence = total
    occurrence count, duplicates included (each clause contributes its own
    iterator)."""
    parts = []
    for t in q.terms:
        p = reader.postings(term_key(q.field, t))
        if p is not None:
            parts.append(p)
    if not parts:
        return np.zeros(0, np.int64), np.zeros(0, np.float32)
    docids = np.unique(np.concatenate([p[0] for p in parts]))
    acc = np.zeros(len(docids), dtype=np.int64)
    for d, f in parts:
        np.add.at(acc, np.searchsorted(docids, d), f)
    # counts are integers: the f32 running sum of 1.0s is exact up to 2^24
    return docids, acc.astype(np.float32)


def _span_first_freqs(reader, q) -> tuple[np.ndarray, np.ndarray]:
    """(docids, freqs) for SpanFirstQuery over a term span (spans/
    SpanFirstQuery.java = SpanPositionRangeQuery with start 0: keep spans
    with end() <= q.end; unit spans end at position+1, so occurrences at
    positions < q.end qualify). freq = count of qualifying occurrences
    (zero-width spans, weight 1 each)."""
    got = _flat_positions(reader, term_key(q.field, q.term))
    if got is None:
        return np.zeros(0, np.int64), np.zeros(0, np.float32)
    d, counts, flat = got
    hits = np.repeat(np.arange(len(d), dtype=np.int64),
                     counts)[flat < q.end]
    idx, per = np.unique(hits, return_counts=True)
    return d[idx], per.astype(np.float32)


def _span_freq_f32(ranks: np.ndarray, widths: np.ndarray,
                   ) -> tuple[np.ndarray, np.ndarray]:
    """(unique_ranks, float32 freqs): per-candidate SpanScorer freq from the
    (rank, width) pairs of the enumerated matching spans, IN enumeration
    order — freq = float32(freq + 1.0 / (1.0 + width)) per match (double
    addend, float32 store; spans/SpanScorer.java:109). Single-match docs
    (the common case) vectorize to one rounding; multi-match docs replay
    the sequential accumulation."""
    uniq, idx, counts = np.unique(ranks, return_index=True,
                                  return_counts=True)
    freqs = np.zeros(len(uniq), dtype=np.float32)
    one = counts == 1
    freqs[one] = (1.0 / (1.0 + widths[idx[one]])).astype(np.float32)
    for j in np.flatnonzero(~one):
        f = np.float32(0.0)
        for w in widths[idx[j]:idx[j] + counts[j]]:
            f = np.float32(np.float64(f) + 1.0 / (1.0 + float(w)))
        freqs[j] = f
    return uniq, freqs


def _span_near_freqs(reader, q: SpanNearQuery
                     ) -> tuple[np.ndarray, np.ndarray]:
    """(docids, sloppy freqs) of docs with an ordered chain p_1 < p_2 < ...
    < p_k and total gap p_k - p_1 - (k-1) <= slop (NearSpansOrdered.java:40
    width semantics, unit-length term spans). Greedy minimal chains,
    vectorized over all candidate anchors of all docs at once: one packed
    searchsorted per subsequent term finds the smallest strictly-greater
    occurrence. NearSpansOrdered enumerates exactly one stretchToOrder
    chain per first-term occurrence (forward-only sub-iterators whose
    "first position >= prev end" targets are monotone in the anchor, so
    the independent per-anchor searchsorted reproduces the walk), and
    SpanScorer accumulates 1/(1+width) over the chains with width <= slop
    — which is what this computes, in anchor order."""
    flats = []
    for t in q.terms:
        got = _flat_positions(reader, term_key(q.field, t))
        if got is None:
            return np.zeros(0, np.int64), np.zeros(0, np.float32)
        flats.append(got)
    cand = flats[0][0]
    for d, _, _ in flats[1:]:
        cand = cand[_in_sorted(cand, d)]
    if len(cand) == 0:
        return cand, np.zeros(0, np.float32)
    packed = []
    sel = []
    for d, counts, flat in flats:
        idx = np.searchsorted(d, cand)
        starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
        take = _gather_ranges(starts[idx], counts[idx])
        rank = np.repeat(np.arange(len(cand), dtype=np.int64), counts[idx])
        packed.append((rank << _POS_SHIFT) | flat[take])
        sel.append((rank, flat[take]))
    rank0, p0 = sel[0]
    prev = packed[0]
    alive = np.ones(len(prev), dtype=bool)
    for kp in packed[1:]:
        nxt = np.searchsorted(kp, prev, side="right")
        ok = nxt < len(kp)
        val = kp[np.minimum(nxt, len(kp) - 1)]
        ok &= (val >> _POS_SHIFT) == (prev >> _POS_SHIFT)
        alive &= ok
        prev = np.where(ok, val, prev)
    width = ((prev & ((np.int64(1) << _POS_SHIFT) - 1)) - p0
             - (len(flats) - 1))
    hit = alive & (width <= q.slop)
    uniq, freqs = _span_freq_f32(rank0[hit], width[hit])
    return cand[uniq], freqs


def _span_near_unordered_freqs(reader, q: SpanNearQuery,
                               needs_freq: bool = True
                               ) -> tuple[np.ndarray, np.ndarray]:
    """(docids, sloppy freqs) of docs holding one occurrence of EACH term
    (any order) inside a window with (max_p - min_p + 1) - k <= slop
    (NearSpansUnordered.atMatch, unit spans).

    The reference walk advances the min-start sub-span one step at a time
    (SpanTotalLengthEndPositionWindow.nextPosition), checks atMatch at
    every queue state, and stops when the advanced list exhausts; each
    matching state contributes 1/(1+width) with width = maxEnd - minStart
    (NearSpansUnordered.width:163-166; for unit spans the running maxEnd
    equals the current max position + 1). k=2 reproduces that walk fully
    vectorized: the visited states are exactly the merged-order elements
    up to the FIRST element that is the last of its own list, each paired
    with the next opposite-tag element. k>=3 replays the heap walk per
    candidate doc."""
    empty = (np.zeros(0, np.int64), np.zeros(0, np.float32))
    flats = []
    for t in q.terms:
        got = _flat_positions(reader, term_key(q.field, t))
        if got is None:
            return empty
        flats.append(got)
    cand = flats[0][0]
    for d, _, _ in flats[1:]:
        cand = cand[_in_sorted(cand, d)]
    if len(cand) == 0:
        return cand, np.zeros(0, np.float32)
    k = len(flats)
    sel = []
    for d, counts, flat in flats:
        idx = np.searchsorted(d, cand)
        starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
        sel.append((starts[idx], counts[idx], flat))
    # Fully vectorized for ANY k (the per-candidate-doc Python heap walk
    # this replaces measured 52 s vs ~15 s for its vectorized peers on the
    # 3 most frequent terms of a 10M-doc corpus — BENCH/scale_10m.json).
    # The reference's min-advance walk visits one state per pop, and pops
    # consume the merged position stream IN ORDER, so state m corresponds
    # 1:1 with merged element m, enumerated until the first element that
    # is the LAST of its own list (the advance past it exhausts).  At
    # state m each list's current element is its first element at merged
    # index >= m — per-tag reverse minimum-accumulates give those currents
    # without any heap; mx = max over tags of their current's position.
    keys, tags = [], []
    for tag, (starts, counts, flat) in enumerate(sel):
        take = _gather_ranges(starts, counts)
        rank = np.repeat(np.arange(len(cand), dtype=np.int64), counts)
        keys.append((rank << _POS_SHIFT) | flat[take])
        tags.append(np.full(len(take), tag, dtype=np.int8))
    ks = np.concatenate(keys)
    ts = np.concatenate(tags)
    order = np.argsort(ks, kind="stable")
    ks, ts = ks[order], ts[order]
    n = len(ks)
    if n < k:
        return empty
    MASK = (np.int64(1) << _POS_SHIFT) - 1
    r, pos = ks >> _POS_SHIFT, ks & MASK
    idxs = np.arange(n, dtype=np.int64)
    # nxt[t][m] = smallest index >= m holding tag t (n = none); the
    # sentinel column n lets next_same index with m + 1 directly
    nxt = np.empty((k, n + 1), dtype=np.int64)
    for t in range(k):
        a = np.where(ts == t, idxs, n)
        nxt[t, :n] = np.minimum.accumulate(a[::-1])[::-1]
        nxt[t, n] = n
    # popping element m advances ITS list to its next element; beyond the
    # rank group = that list is exhausted, the walk's terminal state
    next_same = nxt[ts, idxs + 1]
    tag_final = (next_same >= n) | (r[np.minimum(next_same, n - 1)] != r)
    # a state exists for element m iff no EARLIER element of its rank was
    # the last of its own list (the first terminal state is still checked
    # before the walk breaks — strictly-before count must be zero)
    grp_start = np.flatnonzero(np.r_[True, r[1:] != r[:-1]])
    gid = np.cumsum(np.r_[True, r[1:] != r[:-1]]) - 1
    cum = np.concatenate(([0], np.cumsum(tag_final)))
    finals_before = cum[idxs] - cum[grp_start[gid]]
    enumerated = finals_before == 0
    cur = nxt[:, :n]            # (k, n): current element per tag at m
    cur_c = np.minimum(cur, n - 1)
    valid = np.all((cur < n) & (r[cur_c] == r[None, :]), axis=0)
    mx = pos[cur_c].max(axis=0)  # own tag's current is m itself (= lo)
    W = mx + 1 - pos             # maxEnd - minStart over unit spans
    hit = enumerated & valid & ((W - k) <= q.slop)
    uniq, freqs = _span_freq_f32(r[hit], W[hit])
    return cand[uniq], freqs


def _evaluate_boolean(reader, stats, q: BooleanQuery, boost, needs_scores):
    musts = [c.query for c in q.clauses if c.occur == Occur.MUST]
    shoulds = [c.query for c in q.clauses if c.occur == Occur.SHOULD]
    filters = [c.query for c in q.clauses if c.occur == Occur.FILTER]
    must_nots = [c.query for c in q.clauses if c.occur == Occur.MUST_NOT]
    msm = q.minimum_should_match

    must_m = [evaluate(reader, stats, s, boost, needs_scores) for s in musts]
    should_m = [evaluate(reader, stats, s, boost, needs_scores)
                for s in shoulds]
    filter_d = [evaluate(reader, stats, s, 1.0, needs_scores=False).docids
                for s in filters]
    not_d = [evaluate(reader, stats, s, 1.0, needs_scores=False).docids
             for s in must_nots]

    # base docid set
    if musts or filters:
        base = None
        for arr in [m.docids for m in must_m] + filter_d:
            base = arr if base is None else base[
                np.isin(base, arr, assume_unique=True)]
        need_should = max(msm, 0)
    else:
        if not should_m:
            return Matches.empty()
        base = np.unique(np.concatenate([m.docids for m in should_m]))
        need_should = max(msm, 1)

    if need_should > 0 and should_m:
        cnt_d = np.unique(np.concatenate([m.docids for m in should_m]))
        cnt = np.zeros(len(cnt_d), dtype=np.int64)
        for m in should_m:
            cnt[np.searchsorted(cnt_d, m.docids)] += 1
        ok = cnt_d[cnt >= need_should]
        base = base[np.isin(base, ok, assume_unique=True)]
    elif need_should > 0 and not should_m:
        return Matches.empty()

    for arr in not_d:
        base = base[~np.isin(base, arr, assume_unique=True)]

    if len(base) == 0:
        return Matches.empty()
    scores = _sum_aligned(base, must_m + should_m) if needs_scores \
        else np.zeros(len(base), dtype=np.float32)
    return Matches(base, scores)


def top_k(matches: Matches, k: int):
    """(score desc, docid asc) top-k — HitQueue.java:76-81 tie semantics.
    Returns (docids, scores) trimmed to k."""
    n = len(matches.docids)
    if n == 0 or k <= 0:
        return np.zeros(0, np.int64), np.zeros(0, np.float32)
    s64 = matches.scores.astype(np.float64)
    if n > k * 4:
        # keep every doc scoring >= the k-th best so docid tie-break stays
        # exact (HitQueue prefers lower docid on equal score)
        kth = s64[np.argpartition(-s64, k - 1)[k - 1]]
        cand = np.nonzero(s64 >= kth)[0]
        d, s, s64 = matches.docids[cand], matches.scores[cand], s64[cand]
    else:
        d, s = matches.docids, matches.scores
    order = np.lexsort((d, -s64))[:k]
    return d[order], s[order]
