"""Partition-parallel index build — the DWPT + flush analogue.

Architecture mapping (SURVEY.md §3.1): Lucene gives each indexing thread a
private DocumentsWriterPerThread that builds an independent segment with no
cross-thread coordination until flush
(solr-8.4.0/lucene/core/src/java/org/apache/lucene/index/DocumentsWriter.java:477,
 DocumentsWriterPerThread.java:229). Spark's execution model IS that design:
one task per segment group builds its segment independently inside
``applyInPandas``. The in-memory inversion
(DefaultIndexingChain.invert -> TermsHashPerField.add ->
FreqProxTermsWriterPerField, solr-8.4.0/.../index/DefaultIndexingChain.java:782,
TermsHashPerField.java:147, FreqProxTermsWriterPerField.java:107,134) becomes
a sort-based build: flatten tokens, stable-sort term-major, run-length the
(term, docid) runs. The codec encode
(Lucene84PostingsWriter.java:210-383) becomes the numpy block codec.

Everything inside the UDF is pandas/numpy — no per-row Python on the hot
path except the per-unique-term slicing loop (bounded by vocabulary size per
segment, with all inner work vectorized).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ..functions import codec
from ..functions.analysis import AnalyzerConfig, tokenize_to_flat
from ..functions.smallfloat import int_to_byte4

POSTINGS_COLS = [
    ("term", "string"),
    ("field", "string"),  # NULL = the index's default field
    ("segment", "int"),
    ("doc_freq", "long"),
    ("total_term_freq", "long"),
    ("block_max_docs", "array<long>"),
    ("block_ns", "array<int>"),
    ("block_docs", "array<binary>"),
    ("block_freqs", "array<binary>"),
    ("imp_freqs", "array<array<int>>"),
    ("imp_norms", "array<array<int>>"),
    ("pos_offsets", "array<long>"),
    ("pos_data", "binary"),
    ("off_offsets", "array<long>"),  # char-offset blob slicing (optional)
    ("off_data", "binary"),          # interleaved (start delta, len) vints
    ("pay_offsets", "array<long>"),  # payload blob slicing (optional)
    ("pay_data", "binary"),          # raw little-endian float32 per token
]


def postings_schema_ddl() -> str:
    return ", ".join(f"{n} {t}" for n, t in POSTINGS_COLS)


# the block-encoded columns of a postings row, and the per-posting blob
# streams (positions, char offsets, payloads) as (slice bounds, blob)
BLOCK_COLS = ["block_max_docs", "block_ns", "block_docs", "block_freqs",
              "imp_freqs", "imp_norms"]
SLICED_COLS = (("pos_offsets", "pos_data"), ("off_offsets", "off_data"),
               ("pay_offsets", "pay_data"))


def encode_postings(docids: np.ndarray, freqs: np.ndarray,
                    norms: np.ndarray) -> dict:
    """Block-encode one term's postings (ascending docids, their freqs and
    norm bytes): doc and freq blocks plus one impact frontier per block —
    the Lucene84PostingsWriter role, shared by the build's multi-block
    terms and every postings rewrite (compaction, re-sort)."""
    blocks, ns, max_docs = codec.encode_doc_blocks(docids)
    impf, impn = [], []
    for bs in range(0, len(docids), codec.BLOCK_SIZE):
        be = bs + codec.BLOCK_SIZE
        ff, nn = codec.impacts_frontier(freqs[bs:be], norms[bs:be])
        impf.append(ff.astype(np.int32))
        impn.append(nn.astype(np.int32))
    return {"block_max_docs": np.asarray(max_docs, dtype=np.int64),
            "block_ns": np.asarray(ns, dtype=np.int32),
            "block_docs": blocks,
            "block_freqs": codec.encode_freq_blocks(freqs),
            "imp_freqs": impf, "imp_norms": impn}


def decode_postings(row) -> tuple[np.ndarray, np.ndarray]:
    """(docids, freqs) of a whole postings row (an itertuples record)."""
    ds, fs, base = [], [], -1
    for j in range(len(row.block_ns)):
        n = int(row.block_ns[j])
        ds.append(codec.decode_doc_block(bytes(row.block_docs[j]), n, base))
        fs.append(codec.decode_freq_block(bytes(row.block_freqs[j]), n))
        base = int(row.block_max_docs[j])
    if not ds:
        return np.zeros(0, np.int64), np.zeros(0, np.int64)
    return np.concatenate(ds), np.concatenate(fs)


def reencode_postings(row, docids: np.ndarray, freqs: np.ndarray,
                      sel: np.ndarray, new_ids: np.ndarray,
                      norms: np.ndarray) -> dict:
    """Every postings column but term/field/segment after a docid remap.
    `docids`/`freqs` are the row's decoded postings, `sel` picks and
    orders the surviving ones (a keep mask's indices, an argsort),
    `new_ids` are their new docids in that order (ascending) and `norms`
    the field's norm bytes by OLD docid. Blocks and impacts re-encode;
    positions/offsets/payloads need no re-encode (per-doc slices are
    independent), so the selected slices are re-concatenated and
    re-offset."""
    f = freqs[sel]
    out = encode_postings(new_ids, f, norms[docids[sel]])
    out["doc_freq"] = len(new_ids)
    out["total_term_freq"] = int(f.sum())
    for ocol, dcol in SLICED_COLS:
        if getattr(row, dcol, None) is None:
            out[ocol] = out[dcol] = None
            continue
        offs = np.asarray(getattr(row, ocol), np.int64)
        data = bytes(getattr(row, dcol))
        parts = [data[offs[i]:offs[i + 1]] for i in sel]
        lens = np.fromiter((len(p) for p in parts), np.int64, len(parts))
        out[ocol] = np.concatenate(([0], np.cumsum(lens)))
        out[dcol] = b"".join(parts)
    return out


def rewrite_postings(segment: int, post_pdf: pd.DataFrame,
                     sn_pdf: pd.DataFrame, remap) -> pd.DataFrame:
    """One segment's postings rows rewritten through a docid remap — the
    SegmentMerger + MergeState.DocMap role (solr-8.4.0/.../index/
    SegmentMerger.java) behind compaction and index re-sort.
    `remap(docids) -> (sel, new_ids)` as in reencode_postings; `sn_pdf`
    holds the segment's segnorm rows, so impact frontiers recompute
    against each posting's own field's norms. A row left with no
    postings (a term whose every doc was dropped) disappears."""
    default_norms, _, fnorms = parse_segnorms(sn_pdf)
    norms_by_field = {None: default_norms, **fnorms}
    pcols = [n for n, _ in POSTINGS_COLS]
    out = {c: [] for c in pcols}
    for r in post_pdf.itertuples():
        fld = r.field if isinstance(r.field, str) else None
        docids, freqs = decode_postings(r)
        sel, new_ids = remap(docids)
        if len(sel) == 0:
            continue
        out["term"].append(r.term)
        out["field"].append(fld)
        out["segment"].append(segment)
        for c, v in reencode_postings(r, docids, freqs, sel, new_ids,
                                      norms_by_field[fld]).items():
            out[c].append(v)
    res = pd.DataFrame({c: pd.Series(v, dtype=object)
                        for c, v in out.items()})
    if len(res):
        res["segment"] = res["segment"].astype(np.int32)
        res["doc_freq"] = res["doc_freq"].astype(np.int64)
        res["total_term_freq"] = res["total_term_freq"].astype(np.int64)
    return res


def parse_segnorms(sn_pdf: pd.DataFrame):
    """(default_norms, max_doc, {field: norms}) from the per-(segment,
    field) segnorm rows of ONE segment (field NULL = default field)."""
    fnorms: dict = {}
    base, max_doc = None, 0
    for rr in sn_pdf.itertuples():
        arr = np.frombuffer(bytes(rr.norms), np.uint8)
        if isinstance(rr.field, str):
            fnorms[rr.field] = arr
        else:
            base, max_doc = arr, int(rr.max_doc)
    return base, max_doc, fnorms


def _vint_lengths(vals: np.ndarray) -> np.ndarray:
    nb = np.ones(len(vals), dtype=np.int64)
    v = vals.astype(np.uint64)
    for k in range(1, 10):
        nb += (v >= np.uint64(1 << (7 * k))).astype(np.int64)
    return nb


def _maybe_split_payloads(flat, cfg: AnalyzerConfig, with_offsets: bool):
    """DelimitedPayloadTokenFilter stage: split 'term<delim>x' tokens into
    (term, float32 payload) when the chain opts in; the payload stream is
    the .pay file role (Lucene84PostingsFormat.java:99-104)."""
    if cfg.payload_delim is None:
        return flat, None
    if cfg.stemmer or cfg.synonyms or cfg.shingles or cfg.edge_ngrams \
            or cfg.ngrams:
        raise ValueError("payload_delim cannot combine with "
                         "stemmer/synonyms/shingles/ngrams")
    if with_offsets:
        raise ValueError("payload_delim with with_offsets is unsupported "
                         "(offsets would span the raw delimited token)")
    from ..functions.analysis import split_payloads
    return split_payloads(flat, cfg.payload_delim)


def invert_segment(pdf: pd.DataFrame, *, segment: int, id_cols: list[str],
                   text_col: str, cfg: AnalyzerConfig,
                   with_positions: bool = True,
                   extra_fields: list | None = None,
                   with_offsets: bool = False,
                   sort_by: str | None = None,
                   field_analyzers: dict | None = None):
    """Build one segment from its documents. Returns (postings_df, docmap_df).

    docid = ordinal after a deterministic sort on id_cols (Lucene assigns by
    ingestion order per DWPT, DocumentsWriterPerThread.java:229; we fix the
    order so rebuilds and resumes are bit-identical).

    extra_fields: [(field_name, column_name)] — additional indexed text
    fields beyond the default one (the per-field FieldInfos model,
    solr-8.4.0/.../index/FieldInfos.java). Each extra field gets its own
    postings rows (field column = name) and its own norm byte per doc
    (docmap.extra_norms, aligned with extra_fields order).

    sort_by: index-time sort (IndexWriterConfig.setIndexSort analogue) —
    docids are assigned in (sort_by, id_cols) order so sorted queries can
    early-terminate; the column is carried as an extra docmap column.

    field_analyzers: {field_name: AnalyzerConfig} — per-field analysis
    chains for the NAMED extra fields (the PerFieldAnalyzerWrapper model,
    solr-8.4.0/lucene/analysis/common/.../miscellaneous/
    PerFieldAnalyzerWrapper.java); fields absent from the map use the
    default `cfg`."""
    sort_keys = id_cols if sort_by is None else (
        [sort_by] + [c for c in id_cols if c != sort_by])
    pdf = pdf.sort_values(sort_keys, kind="mergesort").reset_index(drop=True)
    n_docs = len(pdf)
    char_offs = None
    if with_offsets:
        # stored character offsets (IndexOptions ..._AND_OFFSETS analogue),
        # on the default field and every extra field alike
        from ..functions.analysis import tokenize_to_flat_with_offsets
        row_idx, pos, terms_flat, dl, c_start, c_end = \
            tokenize_to_flat_with_offsets(pdf[text_col], cfg)
        char_offs = (c_start, c_end)
    else:
        row_idx, pos, terms_flat, dl = tokenize_to_flat(pdf[text_col], cfg)
    terms_flat, payloads = _maybe_split_payloads(terms_flat, cfg,
                                                 with_offsets)
    norms = int_to_byte4(dl)

    docmap = pd.DataFrame({
        "segment": np.full(n_docs, segment, dtype=np.int32),
        "docid": np.arange(n_docs, dtype=np.int64),
    })
    for c in id_cols:
        docmap[c] = pdf[c].to_numpy()
    if sort_by is not None and sort_by not in id_cols:
        docmap[sort_by] = pdf[sort_by].to_numpy()
    docmap["dl"] = dl
    docmap["norm"] = norms.astype(np.int32)
    docmap["content_sha256"] = (
        pdf["content_sha256"].to_numpy() if "content_sha256" in pdf
        else pd.array([None] * n_docs, dtype="string"))

    if extra_fields:
        parts = [_invert_tokens(row_idx, pos, terms_flat, norms, segment,
                                with_positions, char_offs=char_offs,
                                payloads=payloads)]
        parts[0]["field"] = None
        extra_norm_cols = []
        for fname, fcol in extra_fields:
            fcfg = (field_analyzers or {}).get(fname, cfg)
            f_offs = None
            if with_offsets:
                from ..functions.analysis import (
                    tokenize_to_flat_with_offsets)
                ri, po, tf, fdl, fcs, fce = \
                    tokenize_to_flat_with_offsets(pdf[fcol], fcfg)
                f_offs = (fcs, fce)
            else:
                ri, po, tf, fdl = tokenize_to_flat(pdf[fcol], fcfg)
            tf, fpay = _maybe_split_payloads(tf, fcfg, with_offsets)
            fnorms = int_to_byte4(fdl)
            extra_norm_cols.append(fnorms.astype(np.int32))
            fp = _invert_tokens(ri, po, tf, fnorms, segment, with_positions,
                                char_offs=f_offs, payloads=fpay)
            fp["field"] = fname
            parts.append(fp)
        docmap["extra_norms"] = pd.Series(
            np.stack(extra_norm_cols, axis=1).tolist() if n_docs else [],
            dtype=object)
        cols = [c for c, _ in POSTINGS_COLS]
        postings = pd.concat([x[cols] for x in parts], ignore_index=True)
        return postings, docmap

    docmap["extra_norms"] = None
    postings = _invert_tokens(row_idx, pos, terms_flat, norms, segment,
                              with_positions, char_offs=char_offs,
                              payloads=payloads)
    postings["field"] = None
    return postings[[c for c, _ in POSTINGS_COLS]], docmap


def _invert_tokens(row_idx, pos, terms_flat, norms, segment: int,
                   with_positions: bool, char_offs=None, payloads=None):
    """Sort-based inversion of one field's flattened token stream into
    postings rows (no field column — the caller stamps it). char_offs =
    (start, end) int64 arrays aligned with the token stream: stored as a
    per-term blob of interleaved (start delta, length) vints parallel to
    the positions payload."""
    if len(terms_flat) == 0:
        return pd.DataFrame({n: pd.Series(dtype=object)
                             for n, _ in POSTINGS_COLS if n != "field"})

    # --- sort token stream term-major (stable keeps docid, pos order) ---
    tcodes, tuniq = pd.factorize(terms_flat, sort=True)
    order = np.argsort(tcodes, kind="stable")
    t_s, d_s, p_s = tcodes[order], row_idx[order], pos[order]

    # posting = (term, doc) run
    new_post = np.empty(len(t_s), dtype=bool)
    new_post[0] = True
    new_post[1:] = (t_s[1:] != t_s[:-1]) | (d_s[1:] != d_s[:-1])
    post_id = np.cumsum(new_post) - 1
    freqs = np.bincount(post_id).astype(np.int64)          # tf per posting
    post_doc = d_s[new_post]                               # docid per posting
    post_term = t_s[new_post]                              # term code per posting
    post_norm = norms[post_doc]

    # --- positions: delta-encode the whole stream at once ---
    pos_data_all = b""
    post_pos_offsets = None
    if with_positions:
        dp = np.empty(len(p_s), dtype=np.int64)
        dp[0] = p_s[0]
        dp[1:] = p_s[1:] - p_s[:-1]
        dp[new_post] = p_s[new_post]  # first position of each posting absolute
        dp_u = dp.astype(np.uint64)
        pos_data_all = codec.vint_encode(dp_u)
        byte_lens = _vint_lengths(dp_u)
        tok_off = np.concatenate(([0], np.cumsum(byte_lens)))
        # byte offset at the first token of each posting + end sentinel
        post_start = np.nonzero(new_post)[0]
        post_pos_offsets = np.concatenate(
            [tok_off[post_start], [tok_off[-1]]])

    # --- character offsets: same one-pass delta encode as positions ---
    off_data_all = b""
    post_off_offsets = None
    if char_offs is not None:
        s_s = char_offs[0][order]
        e_s = char_offs[1][order]
        dso = np.empty(len(s_s), dtype=np.int64)
        dso[0] = s_s[0]
        dso[1:] = s_s[1:] - s_s[:-1]
        dso[new_post] = s_s[new_post]  # first start per posting absolute
        inter = np.empty(2 * len(s_s), dtype=np.uint64)
        inter[0::2] = dso.astype(np.uint64)
        inter[1::2] = (e_s - s_s).astype(np.uint64)
        off_data_all = codec.vint_encode(inter)
        byte_lens_o = (_vint_lengths(inter[0::2].astype(np.int64))
                       + _vint_lengths(inter[1::2].astype(np.int64)))
        tok_off_o = np.concatenate(([0], np.cumsum(byte_lens_o)))
        post_start_o = np.nonzero(new_post)[0]
        post_off_offsets = np.concatenate(
            [tok_off_o[post_start_o], [tok_off_o[-1]]])

    # --- per-position payloads: raw float32, 4 bytes per token in the
    # same (term, doc, pos) stream order as positions ---
    pay_data_all = b""
    post_pay_offsets = None
    if payloads is not None:
        pay_s = payloads[order].astype("<f4")
        pay_data_all = pay_s.tobytes()
        post_start_p = np.nonzero(new_post)[0]
        post_pay_offsets = 4 * np.concatenate(
            [post_start_p, [len(pay_s)]]).astype(np.int64)

    # --- per-term boundaries among postings ---
    new_term = np.empty(len(post_term), dtype=bool)
    new_term[0] = True
    new_term[1:] = post_term[1:] != post_term[:-1]
    term_start = np.nonzero(new_term)[0]
    term_end = np.concatenate([term_start[1:], [len(post_term)]])
    term_codes_present = post_term[term_start]
    n_terms = len(term_start)
    term_df = term_end - term_start

    # --- batched single-block fast path (the long tail of the vocabulary):
    # doc deltas + freqs for ALL postings varbyte-encoded in ONE vectorized
    # pass; a tail term's single block is then a pure byte-slice. Segmented
    # reductions give per-term max/min freq + min norm so uniform-frequency
    # terms (the overwhelming majority) also get their impact frontier
    # without a per-term numpy call. ---
    dd = np.empty(len(post_doc), dtype=np.uint64)
    if len(post_doc):
        dd[1:] = (post_doc[1:] - post_doc[:-1]).astype(np.uint64)
        dd[term_start] = (post_doc[term_start] + 1).astype(np.uint64)
    doc_buf = codec.vint_encode(dd)
    doc_off = np.zeros(len(dd) + 1, dtype=np.int64)
    doc_off[1:] = np.cumsum(_vint_lengths(dd))
    f0 = (freqs - 1).astype(np.uint64)
    freq_buf = codec.vint_encode(f0)
    freq_off = np.zeros(len(f0) + 1, dtype=np.int64)
    freq_off[1:] = np.cumsum(_vint_lengths(f0))
    fmax = np.maximum.reduceat(freqs, term_start) if n_terms else freqs
    fmin = np.minimum.reduceat(freqs, term_start) if n_terms else freqs
    nmin = np.minimum.reduceat(post_norm.astype(np.int64), term_start) \
        if n_terms else post_norm
    max_doc_of_term = post_doc[term_end - 1]
    ttf = np.add.reduceat(freqs, term_start) if n_terms else freqs
    VB = bytes([codec.TAG_VARBYTE])

    # --- assemble per-term rows. The tail (df <= BLOCK_SIZE, the
    # overwhelming majority of the vocabulary) is built with bulk list
    # comprehensions over plain-int lists — no per-term numpy allocations
    # or list.append chains; this is the per-task memory-traffic hot spot
    # that bounds multi-core scaling of the build. Nested plain lists are
    # handed to Arrow as-is (same array<...> columns). Big terms (rare)
    # keep the explicit multi-block encode loop. ---
    mv = memoryview(pos_data_all) if with_positions else None
    mv_doc = memoryview(doc_buf)
    mv_freq = memoryview(freq_buf)

    def _fill(col: str, idx: list, values: list) -> None:
        for i, v in zip(idx, values):
            blk[col][i] = v

    blk = {c: [None] * n_terms for c in BLOCK_COLS}
    is_tail = term_df <= codec.BLOCK_SIZE
    tail = np.nonzero(is_tail)[0]
    if len(tail):
        tail_l = tail.tolist()
        ds = doc_off[term_start[tail]].tolist()
        de = doc_off[term_end[tail]].tolist()
        fs = freq_off[term_start[tail]].tolist()
        fe = freq_off[term_end[tail]].tolist()
        _fill("block_docs", tail_l,
              [[VB + bytes(mv_doc[a:b])] for a, b in zip(ds, de)])
        _fill("block_freqs", tail_l,
              [[VB + bytes(mv_freq[a:b])] for a, b in zip(fs, fe)])
        _fill("block_ns", tail_l, [[d] for d in term_df[tail].tolist()])
        _fill("block_max_docs", tail_l,
              [[m] for m in max_doc_of_term[tail].tolist()])
        uni = tail[fmax[tail] == fmin[tail]]
        _fill("imp_freqs", uni.tolist(), [[[f]] for f in fmax[uni].tolist()])
        _fill("imp_norms", uni.tolist(), [[[n]] for n in nmin[uni].tolist()])
        for ti in tail[fmax[tail] != fmin[tail]].tolist():
            s, e = term_start[ti], term_end[ti]
            ff, nn = codec.impacts_frontier(freqs[s:e], post_norm[s:e])
            blk["imp_freqs"][ti] = [ff.astype(np.int32)]
            blk["imp_norms"][ti] = [nn.astype(np.int32)]

    for ti in np.nonzero(~is_tail)[0].tolist():
        s, e = term_start[ti], term_end[ti]
        for c, v in encode_postings(post_doc[s:e], freqs[s:e],
                                    post_norm[s:e]).items():
            blk[c][ti] = v

    if with_positions:
        po = post_pos_offsets
        ps = po[term_start].tolist()
        pe = po[term_end].tolist()
        # per-term offsets rebased to 0; the slice bounds come from the
        # first token of the first/one-past-last posting
        starts_l = term_start.tolist()
        ends_l = term_end.tolist()
        col_poff: list = [po[s:e + 1] - po[s]
                          for s, e in zip(starts_l, ends_l)]
        col_pdat: list = [bytes(mv[a:b]) for a, b in zip(ps, pe)]
    else:
        col_poff = [None] * n_terms
        col_pdat = [None] * n_terms
    if char_offs is not None:
        mvo = memoryview(off_data_all)
        oo = post_off_offsets
        os_ = oo[term_start].tolist()
        oe = oo[term_end].tolist()
        col_ooff: list = [oo[s:e + 1] - oo[s]
                          for s, e in zip(term_start.tolist(),
                                          term_end.tolist())]
        col_odat: list = [bytes(mvo[a:b]) for a, b in zip(os_, oe)]
    else:
        col_ooff = [None] * n_terms
        col_odat = [None] * n_terms
    if payloads is not None:
        mvp = memoryview(pay_data_all)
        pp = post_pay_offsets
        starts_l = term_start.tolist()
        ends_l = term_end.tolist()
        col_payoff: list = [pp[s:e + 1] - pp[s]
                            for s, e in zip(starts_l, ends_l)]
        col_paydat: list = [bytes(mvp[a:b])
                            for a, b in zip(pp[term_start].tolist(),
                                            pp[term_end].tolist())]
    else:
        col_payoff = [None] * n_terms
        col_paydat = [None] * n_terms

    def S(col: list) -> pd.Series:
        # Series (always 1-D) keeps list elements as objects; a DataFrame
        # dict value that is a plain list of equal-length lists would be
        # np.array-ified into a 2-D block and rejected
        return pd.Series(col, dtype=object)

    return pd.DataFrame({
        "term": np.asarray(tuniq, dtype=object)[term_codes_present],
        "segment": np.full(n_terms, segment, dtype=np.int32),
        "doc_freq": term_df,
        "total_term_freq": ttf,
        **{c: S(v) for c, v in blk.items()},
        "pos_offsets": S(col_poff),
        "pos_data": S(col_pdat),
        "off_offsets": S(col_ooff),
        "off_data": S(col_odat),
        "pay_offsets": S(col_payoff),
        "pay_data": S(col_paydat),
    })


def combine_segment_rows(postings: pd.DataFrame, docmap: pd.DataFrame,
                         id_fields: list, xf_names: list) -> pd.DataFrame:
    """Union-table rows for one built segment, kind-discriminated:
    postings rows + docmap rows + one segnorm row per field. Column reuse
    in the union: segnorm rows carry max_doc in `docid` and the packed
    norm bytes in `pos_data` (field NULL = default field). Called only by
    the one batch writer (index._write_batch), which serves both the
    one-shot build and streaming appends."""
    postings = postings.copy()
    postings.insert(0, "kind", "postings")
    dm = pd.DataFrame({"kind": "docmap", "term": None, "field": None,
                       "segment": docmap["segment"],
                       "doc_freq": None, "total_term_freq": None})
    for c in ["block_max_docs", "block_ns", "block_docs", "block_freqs",
              "imp_freqs", "imp_norms", "pos_offsets", "pos_data",
              "off_offsets", "off_data", "pay_offsets", "pay_data"]:
        dm[c] = None
    dm["docid"] = docmap["docid"]
    for n, _ in id_fields:
        dm[n] = docmap[n]
    dm["dl"] = docmap["dl"]
    dm["norm"] = docmap["norm"]
    dm["extra_norms"] = docmap["extra_norms"]
    dm["content_sha256_out"] = docmap["content_sha256"]
    for col in ["docid", "dl", "norm", "extra_norms",
                "content_sha256_out"]:
        postings[col] = None
    for n, _ in id_fields:
        postings[n] = None
    cols = (["kind"] + [c for c, _ in POSTINGS_COLS] + ["docid"]
            + [n for n, _ in id_fields]
            + ["dl", "norm", "extra_norms", "content_sha256_out"])
    # per-(segment, field) norms blobs emitted straight from the build
    # pass (docmap is already in docid order), so finalize needs NO
    # docmap shuffle to write segnorms
    seg = int(docmap["segment"].iloc[0]) if len(docmap) else 0
    sn = pd.DataFrame({"kind": "segnorms", "term": None,
                       "field": pd.Series([None] + list(xf_names),
                                          dtype=object),
                       "segment": np.int32(seg)})
    for c in ["doc_freq", "total_term_freq", "block_max_docs",
              "block_ns", "block_docs", "block_freqs", "imp_freqs",
              "imp_norms", "pos_offsets", "off_offsets", "off_data",
              "pay_offsets", "pay_data",
              "dl", "norm", "extra_norms", "content_sha256_out"]:
        sn[c] = None
    for n, _ in id_fields:
        sn[n] = None
    sn["docid"] = np.int64(len(docmap))
    blobs = [(docmap["norm"].to_numpy(np.int64) & 0xFF)
             .astype(np.uint8).tobytes()]
    if xf_names:
        en = (np.asarray([list(x) for x in docmap["extra_norms"]],
                         dtype=np.int64).reshape(len(docmap), len(xf_names))
              if len(docmap) else
              np.zeros((0, len(xf_names)), dtype=np.int64))
        for i in range(len(xf_names)):
            blobs.append((en[:, i] & 0xFF).astype(np.uint8).tobytes())
    sn["pos_data"] = pd.Series(blobs, dtype=object)
    return pd.concat([postings[cols], dm[cols], sn[cols]],
                     ignore_index=True)


def combined_schema_ddl(id_fields: list) -> str:
    return ("kind string, " + postings_schema_ddl() + ", docid long, "
            + ", ".join(f"{n} {t}" for n, t in id_fields)
            + ", dl long, norm int, extra_norms array<int>,"
            + " content_sha256_out string")
