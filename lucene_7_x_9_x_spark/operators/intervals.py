"""Minimal-interval evaluation — the intervals module's per-document
algebra (solr-8.4.0/lucene/queries/src/java/org/apache/lucene/queries/
intervals/: OrderedIntervalsSource, UnorderedIntervalsSource,
DisjunctionIntervalsSource, MinimizingConjunctionIntervalsSource,
Intervals.maxgaps).

Every node yields this doc's MINIMAL intervals: sorted (start asc), no
interval containing another.  An interval is (start, end, covered) where
covered = the total leaf positions the interval accounts for, so
gaps = (end - start + 1) - covered — equal to Lucene's sum of child gaps
plus between-child gaps when children are disjoint, clamped at 0 for
overlapping unordered children.

The composition is the point (ordered inside unordered inside or — which
the classic span queries cannot express); interval_match evaluates the
algebra for every candidate doc at once on flat numpy arrays. Its per-doc
reference walk (eval_source) lives in tests/test_intervals.py."""

from __future__ import annotations

import numpy as np

from ..plans import query as Q
from ..plans.query import term_key


def _required_docids(src, term_docs: dict) -> np.ndarray:
    """Candidate docids: ordered/unordered need every child, or needs any
    (the ConjunctionDISI / DisjunctionDISI role for the interval tree)."""
    if isinstance(src, Q.IntervalTerm):
        return term_docs.get(src.term,
                             np.empty(0, dtype=np.int64))
    if isinstance(src, Q.IntervalFilter):
        return _filter_required(src, term_docs)
    parts = [_required_docids(s, term_docs) for s in src.sources]
    if isinstance(src, Q.IntervalOr):
        return np.unique(np.concatenate(parts)) if parts else \
            np.empty(0, dtype=np.int64)
    out = parts[0]
    for p in parts[1:]:
        out = np.intersect1d(out, p, assume_unique=True)
    return out


def _filter_required(src, term_docs):
    """Candidates for an IntervalFilter node: positive kinds need BOTH
    sides present; negative kinds need only the source (docs without the
    reference keep every source interval)."""
    s_req = _required_docids(src.source, term_docs)
    if src.kind in ("containing", "contained_by", "overlapping"):
        return np.intersect1d(
            s_req, _required_docids(src.reference, term_docs),
            assume_unique=True)
    return s_req


# ---- vectorized evaluation across ALL candidate docs --------------------
#
# The per-doc eval_source walk in tests/test_intervals.py is the
# specification (and the shape the 300-trial property tests brute-force
# against); interval_match evaluates the same algebra for every candidate
# doc AT ONCE on flat numpy arrays (rank, start, end, covered) packed as
# (doc_rank << 32 | value) keys — the construction that vectorized the
# unordered span walk (executor._span_near_unordered_freqs). Each node's
# result keeps the per-doc minimal-list invariant (starts strictly
# ascending AND ends strictly ascending within a rank, rows sorted by
# (rank, start)), which is what makes every step one searchsorted.

_SHIFT = 32  # positions < 2^31


def _empty4():
    z = np.zeros(0, dtype=np.int64)
    return z, z.copy(), z.copy(), z.copy()


def _minimize_flat(r, s, e, c):
    """Vectorized minimize(): sort (rank, start asc, end desc, cov asc);
    an element survives iff its end is strictly below every LATER
    element's end within its rank (suffix-min over rank-packed ends —
    later ranks pack strictly larger, so the min never leaks across)."""
    if len(r) == 0:
        return r, s, e, c
    order = np.lexsort((c, -e, s, r))
    r, s, e, c = r[order], s[order], e[order], c[order]
    pe = (r << _SHIFT) | e
    sfx = np.empty(len(pe), dtype=np.int64)
    sfx[-1] = np.iinfo(np.int64).max
    if len(pe) > 1:
        sfx[:-1] = np.minimum.accumulate(pe[::-1])[::-1][1:]
    keep = pe < sfx
    return r[keep], s[keep], e[keep], c[keep]


def _gaps_filter_flat(rsec, max_gaps):
    if max_gaps is None:
        return rsec
    r, s, e, c = rsec
    keep = np.maximum(0, e - s + 1 - c) <= max_gaps
    return r[keep], s[keep], e[keep], c[keep]


def _eval_flat(src, flats: dict, n_cand: int):
    """Minimal intervals of `src` for every candidate doc: flat arrays
    (rank, start, end, covered) sorted by (rank, start), minimal per
    rank. flats maps term -> (rank, positions) restricted to candidates."""
    if isinstance(src, Q.IntervalTerm):
        got = flats.get(src.term)
        if got is None:
            return _empty4()
        r, p = got
        return r, p, p.copy(), np.ones(len(p), dtype=np.int64)
    if isinstance(src, Q.IntervalOr):
        parts = [_eval_flat(s, flats, n_cand) for s in src.sources]
        r = np.concatenate([p[0] for p in parts])
        s = np.concatenate([p[1] for p in parts])
        e = np.concatenate([p[2] for p in parts])
        c = np.concatenate([p[3] for p in parts])
        return _minimize_flat(r, s, e, c)
    if isinstance(src, Q.IntervalOrdered):
        child = [_eval_flat(s, flats, n_cand) for s in src.sources]
        if any(len(ch[0]) == 0 for ch in child):
            return _empty4()
        # greedy earliest chain from every first-child interval: within a
        # minimal child list the first interval with start > prev_end also
        # has the least end (OrderedIntervalsSource.nextInterval), so each
        # later child costs ONE searchsorted over its rank-packed starts
        r0, s0, e_prev, cov = (a.copy() for a in child[0])
        for rk, sk, ek, ck in child[1:]:
            if len(r0) == 0:
                break
            pk = (rk << _SHIFT) | sk
            j = np.searchsorted(pk, (r0 << _SHIFT) | e_prev, side="right")
            jc = np.minimum(j, len(pk) - 1)
            ok = (j < len(pk)) & (rk[jc] == r0)
            jv = jc[ok]
            r0, s0, cov = r0[ok], s0[ok], cov[ok] + ck[jv]
            e_prev = ek[jv]
        return _gaps_filter_flat(
            _minimize_flat(r0, s0, e_prev, cov), src.max_gaps)
    if isinstance(src, Q.IntervalUnordered):
        child = [_eval_flat(s, flats, n_cand) for s in src.sources]
        if any(len(ch[0]) == 0 for ch in child):
            return _empty4()
        k = len(child)
        # plane sweep = consume intervals in merged (rank, start, tag)
        # order; state m emits (start[m], max over tags of their CURRENT
        # front's end, sum of front covs) then advances tag[m]'s list; the
        # walk ends consuming the first element that is the last of its
        # own list within the rank. Currents per tag come from reverse
        # minimum-accumulates — no heap (the unordered-span construction).
        keys, tags, ends, covs = [], [], [], []
        for tag, (rk, sk, ek, ck) in enumerate(child):
            keys.append((rk << _SHIFT) | sk)
            tags.append(np.full(len(rk), tag, dtype=np.int8))
            ends.append(ek)
            covs.append(ck)
        ks = np.concatenate(keys)
        ts = np.concatenate(tags)
        ev = np.concatenate(ends)
        cv = np.concatenate(covs)
        order = np.argsort(ks, kind="stable")
        ks, ts, ev, cv = ks[order], ts[order], ev[order], cv[order]
        n = len(ks)
        r = ks >> _SHIFT
        s = ks & ((np.int64(1) << _SHIFT) - 1)
        idxs = np.arange(n, dtype=np.int64)
        nxt = np.empty((k, n + 1), dtype=np.int64)
        for t in range(k):
            a = np.where(ts == t, idxs, n)
            nxt[t, :n] = np.minimum.accumulate(a[::-1])[::-1]
            nxt[t, n] = n
        next_same = nxt[ts, idxs + 1]
        tag_final = (next_same >= n) | (r[np.minimum(next_same, n - 1)] != r)
        grp_start = np.flatnonzero(np.r_[True, r[1:] != r[:-1]])
        gid = np.cumsum(np.r_[True, r[1:] != r[:-1]]) - 1
        cum = np.concatenate(([0], np.cumsum(tag_final)))
        enumerated = (cum[idxs] - cum[grp_start[gid]]) == 0
        cur = np.minimum(nxt[:, :n], n - 1)
        valid = np.all((nxt[:, :n] < n) & (r[cur] == r[None, :]), axis=0)
        hit = enumerated & valid
        e_out = ev[cur].max(axis=0)[hit]
        c_out = cv[cur].sum(axis=0)[hit]
        return _gaps_filter_flat(
            _minimize_flat(r[hit], s[hit], e_out, c_out), src.max_gaps)
    if isinstance(src, Q.IntervalFilter):
        sr, ss, se, sc = _eval_flat(src.source, flats, n_cand)
        if len(sr) == 0:
            return sr, ss, se, sc
        rr, rs, re, rc = _eval_flat(src.reference, flats, n_cand)
        kind = src.kind
        if len(rr) == 0:
            if kind in ("containing", "contained_by", "overlapping"):
                return _empty4()
            return sr, ss, se, sc
        ps = (rr << _SHIFT) | rs
        big = np.iinfo(np.int64).max

        def last_le(v):  # index of last reference with start <= v (per s-row)
            j = np.searchsorted(ps, (sr << _SHIFT) | v, side="right") - 1
            jc = np.maximum(j, 0)
            okj = (j >= 0) & (rr[jc] == sr)
            return jc, okj

        def first_ge(v):  # index of first reference with start >= v
            j = np.searchsorted(ps, (sr << _SHIFT) | v, side="left")
            jc = np.minimum(j, len(ps) - 1)
            okj = (j < len(ps)) & (rr[jc] == sr)
            return jc, okj

        if kind in ("containing", "not_containing"):
            # s contains some r: the first r with r.start >= s.start has
            # the LEAST end among those (ends ascend) — containment iff
            # that end <= s.end
            jc, okj = first_ge(ss)
            m = okj & (re[jc] <= se)
        elif kind in ("contained_by", "not_contained_by"):
            # some r contains s: the last r with r.start <= s.start has
            # the GREATEST end among those — containment iff end >= s.end
            jc, okj = last_le(ss)
            m = okj & (re[jc] >= se)
        else:  # overlapping / non_overlapping
            # some r with r.start <= s.end and r.end >= s.start: the last
            # r with r.start <= s.end has the greatest end among those
            jc, okj = last_le(se)
            m = okj & (re[jc] >= ss)
        if kind.startswith("not_") or kind == "non_overlapping":
            m = ~m
        return sr[m], ss[m], se[m], sc[m]
    raise TypeError(f"unknown interval source {type(src).__name__}")


def interval_match(reader, q) -> tuple:
    """(docids, sloppy_freqs) for an IntervalQuery over one segment:
    per candidate doc, freq = float32-accumulated sum of 1/(1 + gaps)
    over the source's minimal intervals (SpanScorer.java:83-121
    sloppyFreq applied to interval gaps). Fully vectorized across the
    candidate docs — the prior per-doc Python tree walk measured 8.4 s
    vs ~5 s for its vectorized span peers at the 10M-doc scale point."""
    from .executor import _flat_positions, _gather_ranges
    empty = (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float32))
    terms = sorted(Q.interval_terms(q.source))
    per_term: dict = {}
    term_docs: dict = {}
    for t in terms:
        got = _flat_positions(reader, term_key(q.field, t))
        if got is None:
            continue
        per_term[t] = got
        term_docs[t] = got[0]
    cand = _required_docids(q.source, term_docs)
    if len(cand) == 0:
        return empty
    # per-term (rank, position) arrays restricted to the candidate docs
    flats: dict = {}
    for t, (d, counts, flat) in per_term.items():
        idx = np.searchsorted(d, cand)
        idx_c = np.minimum(idx, len(d) - 1)
        present = (idx < len(d)) & (d[idx_c] == cand)
        cnt = np.where(present, counts[idx_c], 0)
        starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
        take = _gather_ranges(starts[idx_c], cnt)
        flats[t] = (np.repeat(np.arange(len(cand), dtype=np.int64), cnt),
                    flat[take].astype(np.int64))
    r, s, e, c = _eval_flat(q.source, flats, len(cand))
    if len(r) == 0:
        return empty
    gaps = np.maximum(0, e - s + 1 - c)
    w = (1.0 / (1.0 + gaps.astype(np.float64))).astype(np.float32)
    # sequential float32 fold per doc IN (rank, start) ORDER — round k
    # adds each doc's k-th interval weight, bit-identical to the per-doc
    # `acc = f32(acc + w)` loop
    change = np.r_[True, r[1:] != r[:-1]]
    starts_i = np.flatnonzero(change)
    counts_i = np.diff(np.r_[starts_i, len(r)])
    freq = np.zeros(len(starts_i), np.float32)
    for kk in range(int(counts_i.max())):
        m = counts_i > kk
        freq[m] = freq[m] + w[starts_i[m] + kk]
    return cand[r[starts_i]], freq
