"""Posting-block codec: delta + FOR bit-packing + varbyte, numpy-vectorized.

Capability parity with the reference's postings encode path (behavior, not
byte layout — SURVEY.md §2.3):
  solr-8.4.0/lucene/core/src/java/org/apache/lucene/codecs/lucene84/ForUtil.java:33,221
    — fixed-width bit packing of 128-int blocks.
  solr-8.4.0/.../codecs/lucene84/ForDeltaUtil.java:56-82 — delta + FOR for
    increasing docids; decode fuses unpack with prefix sum; all-equal block
    collapses to a single token.
  solr-8.4.0/.../codecs/lucene84/PForUtil.java:49-113 — patched FOR: up to
    3 exceptions patched out when that lowers the base width.
  solr-8.4.0/lucene/core/src/java/org/apache/lucene/store/DataOutput.java
    (writeVInt) — variable-byte base encoding, LSB-first 7-bit groups.
  solr-8.4.0/.../codecs/CompetitiveImpactAccumulator.java:71-144 — per-block
    Pareto frontier of (freq, norm) pairs.

Our block layout (self-describing, one `bytes` per block):
  byte0 = tag:  0x00            -> all-equal block: varint(value) follows
          width (1..32)          -> FOR: ceil(n*width/8) packed bytes follow
          0x80|width, n_exc      -> PFOR: packed base bits at `width`, then
                                    n_exc * (varint(idx), varint(high_part))
Doc blocks store deltas (first delta relative to `base`, the previous
block's last docid, -1 for the first block); freq blocks store freq-1.
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128
_POW2 = (np.uint64(1) << np.arange(63, -1, -1).astype(np.uint64))


# ---------------------------------------------------------------- varbyte

def _vint1(x: int) -> bytes:
    """Scalar varint (fast path for single values)."""
    out = bytearray()
    while x >= 0x80:
        out.append((x & 0x7F) | 0x80)
        x >>= 7
    out.append(x)
    return bytes(out)


def vint_encode(vals: np.ndarray) -> bytes:
    """LSB-first 7-bit varint encode of a uint array (vectorized)."""
    v = np.asarray(vals, dtype=np.uint64)
    n = len(v)
    if n == 0:
        return b""
    if n == 1:
        return _vint1(int(v[0]))
    mx = int(v.max())
    if mx < 0x80:  # common case: all single-byte
        return v.astype(np.uint8).tobytes()
    nb = np.ones(n, dtype=np.int64)
    top_bytes = (mx.bit_length() + 6) // 7
    for k in range(1, top_bytes):
        nb += (v >= np.uint64(1 << (7 * k))).astype(np.int64)
    maxb = int(nb.max())
    mat = np.zeros((n, maxb), dtype=np.uint8)
    for j in range(maxb):
        byte = ((v >> np.uint64(7 * j)) & np.uint64(0x7F)).astype(np.uint8)
        cont = np.where(j < nb - 1, 0x80, 0).astype(np.uint8)
        mat[:, j] = byte | cont
    mask = np.arange(maxb)[None, :] < nb[:, None]
    return mat[mask].tobytes()


def vint_decode(buf: bytes | memoryview) -> np.ndarray:
    """Decode all varints in buf -> uint64 array (vectorized)."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if len(b) == 0:
        return np.zeros(0, dtype=np.uint64)
    ends = np.nonzero((b & 0x80) == 0)[0]
    starts = np.concatenate(([0], ends[:-1] + 1))
    lens = ends - starts + 1
    out = np.zeros(len(starts), dtype=np.uint64)
    for j in range(int(lens.max())):
        m = lens > j
        out[m] |= (b[starts[m] + j] & np.uint64(0x7F)).astype(np.uint64) << np.uint64(7 * j)
    return out


# ---------------------------------------------------------------- bit pack

def _pack_bits(vals: np.ndarray, width: int) -> bytes:
    v = np.ascontiguousarray(vals.astype(np.uint32)).view(np.uint8).reshape(-1, 4)
    if np.little_endian:
        v = v[:, ::-1]
    bits = np.unpackbits(v, axis=1)[:, 32 - width:]
    flat = bits.ravel()
    pad = (-len(flat)) % 8
    if pad:
        flat = np.concatenate([flat, np.zeros(pad, np.uint8)])
    return np.packbits(flat).tobytes()


def _unpack_bits(buf, width: int, n: int) -> np.ndarray:
    bits = np.unpackbits(np.frombuffer(buf, np.uint8), count=n * width).reshape(n, width)
    return bits.astype(np.uint64) @ _POW2[64 - width:]


# ---------------------------------------------------------------- blocks

def encode_block(vals: np.ndarray, allow_pfor: bool = True) -> bytes:
    """Encode one block of non-negative uint32 values."""
    v = np.asarray(vals, dtype=np.uint64)
    if len(v) == 0:
        return bytes([1])
    mx = int(v.max())
    if mx == int(v.min()):  # all-equal block: 1 token byte + varint
        return bytes([0]) + _vint1(mx)
    width = max(mx.bit_length(), 1)
    if allow_pfor and len(v) > 8:
        # patched FOR: if excluding the top <=3 values lowers the width,
        # patch their high bits out (PForUtil.java:49-96 capability).
        # base = the (k+1)-th largest value; exceptions = every value with
        # bits above its width — at most k of them, all strictly larger
        # than the base, so the selection is identical to (and bit-exact
        # with) sorting out the top k, without tiny argsorts per block
        k = min(3, len(v) - 1)
        base_max = int(np.partition(v, -k - 1)[-k - 1])
        base_width = max(base_max.bit_length(), 1)
        if base_width < width:
            exc_idx = np.flatnonzero(v >= (1 << base_width))
            if len(exc_idx) and len(exc_idx) <= 3:
                low = v.copy()
                high = (v[exc_idx] >> np.uint64(base_width)).astype(np.uint64)
                low[exc_idx] &= np.uint64((1 << base_width) - 1)
                payload = _pack_bits(low, base_width)
                exc = vint_encode(np.concatenate(
                    [exc_idx.astype(np.uint64), high]))
                cand = bytes([0x80 | base_width, len(exc_idx)]) + payload + exc
                plain = bytes([width]) + _pack_bits(v, width)
                if len(cand) < len(plain):
                    return cand
    return bytes([width]) + _pack_bits(v, width)


TAG_VARBYTE = 0x40  # single-block tail terms: varbyte payload (batch-
# encoded across all small terms of a segment in one vectorized pass)


def decode_block(buf: bytes | memoryview, n: int) -> np.ndarray:
    b = memoryview(buf)
    tag = b[0]
    if tag == TAG_VARBYTE:
        return vint_decode(b[1:])
    if tag == 0:
        val, shift = 0, 0
        for byte in b[1:]:
            val |= (byte & 0x7F) << shift
            if not byte & 0x80:
                break
            shift += 7
        return np.full(n, val, dtype=np.uint64)
    if tag & 0x80:
        width = tag & 0x7F
        n_exc = b[1]
        nbytes = (n * width + 7) // 8
        out = _unpack_bits(b[2:2 + nbytes], width, n)
        rest = vint_decode(b[2 + nbytes:])
        idx = rest[:n_exc].astype(np.int64)
        high = rest[n_exc:2 * n_exc]
        out[idx] |= high << np.uint64(width)
        return out
    width = tag
    return _unpack_bits(b[1:], width, n)


def gather_ranges(starts: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Flat indices concatenating ranges [starts[j], starts[j]+counts[j])."""
    total = int(counts.sum())
    if total == 0:
        return np.zeros(0, np.int64)
    bases = np.repeat(starts - np.concatenate(([0], np.cumsum(counts)[:-1])),
                      counts)
    return bases + np.arange(total, dtype=np.int64)


# below this many blocks, decode_blocks loops decode_block: the
# vectorized pass costs ~0.2 ms a call at any size, one block ~30 us
# (128-value doc blocks, FOR and PFOR; the two cross at 12-16 blocks)
MULTI_BLOCK_MIN = 16


def decode_blocks(bufs, ns) -> np.ndarray:
    """Many blocks at once: every block of `bufs` (block j holding ns[j]
    values) decoded and concatenated in block order — equal to
    np.concatenate([decode_block(b, n) for b, n in zip(bufs, ns)]), with
    one vectorized pass per encoding instead of a Python call per block
    from MULTI_BLOCK_MIN blocks up (fewer go through that loop).
    FOR/PFOR values are read as big-endian 64-bit windows at their bit
    offsets (width <= 32, so one window holds any value); the varint
    parts (all-equal values, varbyte payloads, PFOR exceptions) decode in
    ONE vint_decode over their gathered bytes."""
    ns = np.asarray(ns, dtype=np.int64)
    if 0 < len(ns) < MULTI_BLOCK_MIN:
        return np.concatenate([decode_block(b, n) for b, n in
                               zip(bufs, ns.tolist())]).astype(np.uint64)
    first = np.cumsum(ns) - ns
    out = np.zeros(int(ns.sum()), dtype=np.uint64)
    if len(out) == 0:
        return out
    lens = np.fromiter((len(b) for b in bufs), np.int64, len(ns))
    starts = np.cumsum(lens) - lens
    raw = np.frombuffer(b"".join(bufs), np.uint8)
    tags = raw[starts].astype(np.int64)
    is_equal = tags == 0
    is_vb = tags == TAG_VARBYTE
    is_pfor = (tags & 0x80) != 0
    width = np.where(is_pfor, tags & 0x7F, tags)

    packed = np.flatnonzero(~is_equal & ~is_vb & (ns > 0))
    if len(packed):
        pn = ns[packed]
        local = np.arange(int(pn.sum()), dtype=np.int64) - np.repeat(
            np.cumsum(pn) - pn, pn)
        w = np.repeat(width[packed], pn)
        bit = np.repeat((starts[packed] + 1 + is_pfor[packed]) * 8,
                        pn) + local * w
        win = np.lib.stride_tricks.sliding_window_view(
            np.concatenate([raw, np.zeros(8, np.uint8)]), 8)
        word = win[bit >> 3].view(">u8").ravel().astype(np.uint64)
        w = w.astype(np.uint64)
        out[np.repeat(first[packed], pn) + local] = (
            (word >> (np.uint64(64) - (bit & 7).astype(np.uint64) - w))
            & ((np.uint64(1) << w) - np.uint64(1)))

    vblk = np.flatnonzero(is_equal | is_vb | is_pfor)
    if len(vblk):
        vs, vn, vf, vw = starts[vblk], ns[vblk], first[vblk], width[vblk]
        pf, eq, vb = is_pfor[vblk], is_equal[vblk], is_vb[vblk]
        vstart = np.where(pf, vs + 2 + (vn * vw + 7) // 8, vs + 1)
        vals = vint_decode(raw[gather_ranges(vstart,
                                             vs + lens[vblk] - vstart)])
        n_exc = np.where(pf, raw[vs + pf].astype(np.int64), 0)
        cnt = np.where(eq, 1, np.where(pf, 2 * n_exc, vn))
        vo = np.cumsum(cnt) - cnt
        out[gather_ranges(vf[eq], vn[eq])] = np.repeat(vals[vo[eq]], vn[eq])
        out[gather_ranges(vf[vb], vn[vb])] = vals[gather_ranges(vo[vb],
                                                                vn[vb])]
        ne = n_exc[pf]
        if ne.sum():
            idx = vals[gather_ranges(vo[pf], ne)].astype(np.int64)
            high = vals[gather_ranges(vo[pf] + ne, ne)]
            out[np.repeat(vf[pf], ne) + idx] |= high << np.repeat(
                vw[pf], ne).astype(np.uint64)
    return out


def decode_doc_blocks(bufs, ns, bases) -> np.ndarray:
    """Docids of many doc blocks (block j's first delta relative to
    bases[j], the previous block's max_doc or -1), concatenated: the
    multi-block decode_doc_block, its prefix sums restarted per block
    (below MULTI_BLOCK_MIN blocks, decode_doc_block per block)."""
    ns = np.asarray(ns, dtype=np.int64)
    if 0 < len(ns) < MULTI_BLOCK_MIN:
        return np.concatenate([decode_doc_block(b, n, base) for b, n, base
                               in zip(bufs, ns.tolist(), list(bases))])
    cs = np.cumsum(decode_blocks(bufs, ns).astype(np.int64))
    before = np.concatenate(([0], cs))[np.cumsum(ns) - ns]
    return cs + np.repeat(np.asarray(bases, dtype=np.int64) - before, ns)


def encode_doc_blocks(docids: np.ndarray, block_size: int = BLOCK_SIZE):
    """Split sorted docids into blocks; returns (blocks:list[bytes],
    ns:list[int], max_docs:list[int]). First delta is docids[0] + 1
    (base -1)."""
    d = np.asarray(docids, dtype=np.int64)
    deltas = np.empty(len(d), dtype=np.uint64)
    if len(d):
        deltas[0] = d[0] + 1
        np.subtract(d[1:], d[:-1], out=deltas[1:], casting="unsafe")
    blocks, ns, max_docs = [], [], []
    for s in range(0, len(d), block_size):
        e = min(s + block_size, len(d))
        blocks.append(encode_block(deltas[s:e]))
        ns.append(e - s)
        max_docs.append(int(d[e - 1]))
    return blocks, ns, max_docs


def decode_doc_block(buf, n: int, base: int) -> np.ndarray:
    """Decode one doc block given `base` = previous block's max_doc (or -1).
    Fused delta-decode + prefix sum (ForDeltaUtil.decodeAndPrefixSum)."""
    deltas = decode_block(buf, n).astype(np.int64)
    return np.cumsum(deltas) + base


def encode_freq_blocks(freqs: np.ndarray, block_size: int = BLOCK_SIZE):
    f = np.asarray(freqs, dtype=np.uint64) - 1  # freq >= 1 -> store freq-1
    return [encode_block(f[s:s + block_size])
            for s in range(0, len(f), block_size)]


def decode_freq_block(buf, n: int) -> np.ndarray:
    return decode_block(buf, n).astype(np.int64) + 1


def encode_positions(pos: np.ndarray) -> bytes:
    """Delta-varbyte encode one doc's ascending position list."""
    p = np.asarray(pos, dtype=np.int64)
    return vint_encode(np.diff(p, prepend=0).astype(np.uint64))


def decode_positions(buf) -> np.ndarray:
    return np.cumsum(vint_decode(buf).astype(np.int64))


# ---------------------------------------------------------------- impacts

def impacts_frontier(freqs: np.ndarray, norms: np.ndarray):
    """Pareto frontier of (freq, norm) pairs for one block: keep pairs where
    no other pair has freq >= f and unsigned-norm <= n (strictly better on
    one axis). Norm bytes compared as unsigned (byte4ToInt is monotone in
    the unsigned byte). CompetitiveImpactAccumulator.java:97-144 capability.
    Returns (front_freqs:int64[], front_norms:int64[]) sorted by norm asc."""
    f = np.asarray(freqs, dtype=np.int64)
    n = np.asarray(norms, dtype=np.int64) & 0xFF
    if len(f) == 0:
        return np.zeros(0, np.int64), np.zeros(0, np.int64)
    if len(f) == 1:
        return f.copy(), n.copy()
    fmax = f.max()
    if fmax == f.min():  # uniform freq (tail terms): single frontier pair
        return (np.array([fmax], dtype=np.int64),
                np.array([n.min()], dtype=np.int64))
    # max freq per distinct norm
    order = np.lexsort((-f, n))
    n_s, f_s = n[order], f[order]
    first = np.concatenate(([True], n_s[1:] != n_s[:-1]))
    n_u, f_u = n_s[first], f_s[first]  # distinct norms asc, max freq each
    # keep only strictly increasing freq as norm grows
    keep = f_u > np.concatenate(([-1], np.maximum.accumulate(f_u)[:-1]))
    return f_u[keep], n_u[keep]
