"""Roundtrip tests for the posting-block codec — the model of the
reference's TestForUtil/TestPForUtil/TestForDeltaUtil
(solr-8.4.0/lucene/core/src/test/org/apache/lucene/codecs/lucene84/TestForUtil.java:34)."""

import numpy as np
import pytest

from lucene_7_x_9_x_spark.functions import codec

rng = np.random.RandomState(42)


@pytest.mark.parametrize("vals", [
    np.array([0]), np.array([1, 2, 3]),
    np.zeros(128, dtype=np.int64),
    np.full(128, 7),
    np.arange(128),
    rng.randint(0, 2, 128),
    rng.randint(0, 2**7, 128),
    rng.randint(0, 2**16, 128),
    rng.randint(0, 2**31, 128),
    np.concatenate([rng.randint(0, 4, 125), [2**20, 2**25, 2**30]]),  # pfor
])
def test_block_roundtrip(vals):
    vals = np.asarray(vals, dtype=np.uint64)
    enc = codec.encode_block(vals)
    dec = codec.decode_block(enc, len(vals))
    assert np.array_equal(dec, vals)


def test_pfor_smaller_than_for_on_skewed():
    vals = np.concatenate([rng.randint(0, 4, 125),
                           [2**20, 2**25, 2**30]]).astype(np.uint64)
    enc = codec.encode_block(vals, allow_pfor=True)
    plain = codec.encode_block(vals, allow_pfor=False)
    assert len(enc) < len(plain)
    assert np.array_equal(codec.decode_block(enc, len(vals)), vals)


def test_all_equal_block_is_tiny():
    vals = np.full(128, 1, dtype=np.uint64)  # dense docid run
    enc = codec.encode_block(vals)
    assert len(enc) <= 3  # ForDeltaUtil all-ones block collapses


def test_vint_roundtrip():
    vals = np.array([0, 1, 127, 128, 16383, 16384, 2**31 - 1, 2**40],
                    dtype=np.uint64)
    assert np.array_equal(codec.vint_decode(codec.vint_encode(vals)), vals)
    for _ in range(20):
        v = rng.randint(0, 2**31, rng.randint(1, 400)).astype(np.uint64)
        assert np.array_equal(codec.vint_decode(codec.vint_encode(v)), v)


def test_doc_blocks_roundtrip_random():
    for _ in range(25):
        n = rng.randint(1, 1000)
        docids = np.sort(rng.choice(np.arange(0, 100000), size=n,
                                    replace=False)).astype(np.int64)
        blocks, ns, max_docs = codec.encode_doc_blocks(docids)
        assert max_docs[-1] == docids[-1]
        out, base = [], -1
        for b, bn, md in zip(blocks, ns, max_docs):
            dec = codec.decode_doc_block(b, bn, base)
            out.append(dec)
            base = md
        assert np.array_equal(np.concatenate(out), docids)


def test_freq_blocks_roundtrip():
    freqs = rng.randint(1, 500, 300).astype(np.int64)
    blocks = codec.encode_freq_blocks(freqs)
    out = []
    for i, b in enumerate(blocks):
        n = min(128, len(freqs) - i * 128)
        out.append(codec.decode_freq_block(b, n))
    assert np.array_equal(np.concatenate(out), freqs)


def test_positions_roundtrip():
    pos = np.sort(rng.choice(np.arange(0, 5000), 40, replace=False))
    assert np.array_equal(codec.decode_positions(codec.encode_positions(pos)),
                          pos)
    assert np.array_equal(codec.decode_positions(codec.encode_positions(
        np.array([0]))), np.array([0]))


def test_impacts_frontier_pareto():
    freqs = np.array([1, 5, 2, 5, 9, 3])
    norms = np.array([10, 10, 3, 200, 200, 3])
    ff, nn = codec.impacts_frontier(freqs, norms)
    # distinct norms 3,10,200 -> max freqs 3,5,9 -> all strictly increasing
    assert np.array_equal(nn, [3, 10, 200])
    assert np.array_equal(ff, [3, 5, 9])
    # dominated pair dropped: norm 10 max freq 2 would be dominated by (3,3)
    ff2, nn2 = codec.impacts_frontier(np.array([3, 2]), np.array([3, 10]))
    assert np.array_equal(nn2, [3])
    assert np.array_equal(ff2, [3])


def test_impacts_frontier_bounds_scores():
    """Frontier must preserve the max achievable BM25 score (the MaxScoreCache
    guarantee, solr-8.4.0/.../search/MaxScoreCache.java:61-68)."""
    from lucene_7_x_9_x_spark.functions import bm25
    cache = bm25.norm_inverse_cache(1.2, 0.75, np.float32(25.0))
    w = np.float32(2.2)
    for _ in range(20):
        freqs = rng.randint(1, 50, 64)
        norms = rng.randint(0, 256, 64)
        full = bm25.score_term(freqs, norms, w, cache).max()
        ff, nn = codec.impacts_frontier(freqs, norms)
        front = bm25.score_term(ff, nn, w, cache).max()
        assert front == full


def _random_block(r, tag: str) -> tuple[bytes, np.ndarray]:
    """(encoded block, its values) of the given encoding."""
    n = int(r.randint(1, 129))
    if tag == "for":
        w = int(r.randint(1, 33))
        v = r.randint(0, 2**w, n, dtype=np.uint64)
        v[r.randint(n)] = 2**w - 1  # the top bit set: width exactly w
        if n == 1 or v.min() == v.max():
            v[0] = 0 if v[0] else 1
        return codec.encode_block(v, allow_pfor=False), v
    if tag == "pfor":
        n = max(n, 16)
        w = int(r.randint(1, 20))
        v = r.randint(0, 2**w, n, dtype=np.uint64)
        exc = r.choice(n, int(r.randint(1, 4)), replace=False)
        v[exc] = r.randint(2**(w + 8), 2**(w + 12), len(exc), dtype=np.uint64)
        return codec.encode_block(v), v
    if tag == "equal":
        v = np.full(n, r.randint(0, 2**31), dtype=np.uint64)
        return codec.encode_block(v), v
    if tag == "varbyte":
        v = r.randint(0, 2**int(r.randint(1, 33)), n, dtype=np.uint64)
        return bytes([codec.TAG_VARBYTE]) + codec.vint_encode(v), v
    v = np.zeros(0, np.uint64)
    return codec.encode_block(v), v


@pytest.mark.parametrize("min_blocks", [0, codec.MULTI_BLOCK_MIN])
def test_multi_block_decode_matches_decode_block(monkeypatch, min_blocks):
    """decode_blocks over a random mix of every encoding equals
    decode_block per block, concatenated: FOR widths 1-32, PFOR with 1-3
    exceptions, all-equal, varbyte and empty blocks. min_blocks=0 sends
    every call through the vectorized pass; the default sends the short
    ones through the per-block loop."""
    monkeypatch.setattr(codec, "MULTI_BLOCK_MIN", min_blocks)
    r = np.random.RandomState(7)
    tags = ["for", "pfor", "equal", "varbyte", "empty"]
    seen_widths, seen_exc = set(), set()
    for _ in range(30):
        blocks = [_random_block(r, tags[r.randint(len(tags))])
                  for _ in range(r.randint(1, 60))]
        bufs = [b for b, _ in blocks]
        ns = [len(v) for _, v in blocks]
        want = np.concatenate([codec.decode_block(b, n)
                               for b, n in zip(bufs, ns)])
        assert np.array_equal(want, np.concatenate([v for _, v in blocks]))
        got = codec.decode_blocks(bufs, ns)
        assert got.dtype == np.uint64 and np.array_equal(got, want)
        for b in bufs:
            if 1 <= b[0] <= 32:
                seen_widths.add(b[0])
            elif b[0] & 0x80:
                seen_exc.add(b[1])
    assert seen_widths == set(range(1, 33)) and seen_exc == {1, 2, 3}
    for tag in tags:  # each encoding alone, and nothing at all
        blocks = [_random_block(r, tag) for _ in range(5)]
        got = codec.decode_blocks([b for b, _ in blocks],
                                  [len(v) for _, v in blocks])
        assert np.array_equal(got, np.concatenate([v for _, v in blocks]))
    assert len(codec.decode_blocks([], [])) == 0


def test_multi_block_doc_decode_matches_decode_postings():
    """decode_doc_blocks over several multi-block terms at once rebuilds
    each term's docids through its chained block deltas, equal to
    build.decode_postings row by row."""
    from types import SimpleNamespace

    from lucene_7_x_9_x_spark.operators.build import (decode_postings,
                                                      encode_postings)
    r = np.random.RandomState(11)
    rows = []
    for n in (1, 127, 128, 129, 300, 1000, 2500):
        d = np.sort(r.choice(200_000, n, replace=False)).astype(np.int64)
        f = r.randint(1, 40, n).astype(np.int64)
        rows.append(SimpleNamespace(**encode_postings(
            d, f, r.randint(0, 256, n))))
    bufs = [b for row in rows for b in row.block_docs]
    ns = np.concatenate([row.block_ns for row in rows])
    bases = np.concatenate([np.concatenate(([-1], row.block_max_docs[:-1]))
                            for row in rows])
    want = [decode_postings(row) for row in rows]
    got = codec.decode_doc_blocks(bufs, ns, bases)
    assert np.array_equal(got, np.concatenate([d for d, _ in want]))
    fbufs = [b for row in rows for b in row.block_freqs]
    assert np.array_equal(codec.decode_blocks(fbufs, ns).astype(np.int64) + 1,
                          np.concatenate([f for _, f in want]))


@pytest.mark.parametrize("min_blocks", [0, codec.MULTI_BLOCK_MIN])
def test_reader_decode_blocks_matches_decode_postings(monkeypatch,
                                                      min_blocks):
    """SparkSegmentReader decodes the blocks of many terms in one codec
    call (prefetch): each term's postings() equal build.decode_postings,
    whether the term decoded alone, beside others (each term's first block
    restarts the docid deltas) or in a prefetch that held terms decoded
    already; an absent term gives None; through the vectorized pass and
    the short-input loop alike."""
    monkeypatch.setattr(codec, "MULTI_BLOCK_MIN", min_blocks)
    import pandas as pd

    from lucene_7_x_9_x_spark.operators.build import (decode_postings,
                                                      encode_postings)
    from lucene_7_x_9_x_spark.operators.search import SparkSegmentReader
    r = np.random.RandomState(13)
    rows = []
    for i, n in enumerate((1, 129, 1000, 2500)):
        d = np.sort(r.choice(200_000, n, replace=False)).astype(np.int64)
        rows.append({"field": None, "term": f"t{i}", **encode_postings(
            d, r.randint(1, 40, n).astype(np.int64), r.randint(0, 256, n))})
    frame = pd.DataFrame(rows)
    for prefetches in ([["t0"], ["t1", "t2", "absent"], ["t0", "t3", "t2"]],
                       [["t3", "t1", "t0", "t2"]], []):
        reader = SparkSegmentReader(frame, np.zeros(200_000, np.uint8),
                                    200_000)
        for terms in prefetches:
            reader.prefetch(terms)
        for row in frame.itertuples():
            d, f = decode_postings(row)
            got_d, got_f = reader.postings(row.term)
            assert np.array_equal(got_d, d)
            assert np.array_equal(got_f, f)
        assert reader.postings("absent") is None
