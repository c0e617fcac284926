"""Posting-list blob codec: FOR-packed docID deltas + varint tf/dl/rank
and positions + packed context, with per-block skip pointers and
block-max metadata.

The reference compresses posting lists with 3-tier key truncation: 18
bytes for a new termId, 12 for a new docId under the same termId, 6 for
another position of the same (termId, docId) (``Posdb.h:44-48, 228-233``;
merge-time preservation ``RdbList.cpp:2154 posdbMerge_r``), and keeps a
sparse per-file key->offset map (``RdbMap.cpp``) so scans seek instead of
reading whole files. Our equivalent (SURVEY.md §1.2, §7) is one blob per
(term_id [, salt]) laid out in 128-doc blocks, in exactly one format
(codec v4 with the frontier flag; any other version byte is rejected):

    header:   version u8 (0x44 = CODEC_VERSION | FRONTIER_FLAG) |
              varint n_docs
    block meta (13 varint arrays of nblocks entries each):
      block_base   first docId of each block (absolute)   } RdbMap analog
      bmax_tf      max tf in block                        } block-max
      bmin_dl      min doclen in block                    }   (WAND)
      doc_bytes    encoded size of the block's doc-delta span
      tfdl_bytes   encoded size of the block's tf + doclen + rank span
      pos_bytes    encoded size of the block's position-delta span
      npos         number of positions (sum tf) in block
      bctx         packed ctx-class summary: hashgroup-presence mask
                   (16b) | max density rank (5b) | max diversity rank
                   (4b) | max word-spam rank (4b) — a per-block upper
                   bound on the reference scorer's per-posting ctx
                   weight chain (getMaxPossibleScore analog,
                   PosdbTable.cpp:4052-4108: the reference reads rank
                   fields straight off the posdb key for its bound)
      bmin_pos     min position value in block } numeric sort-by lists
      bmax_pos     max position value in block } store the VALUE in the
                   position slot (Posdb.h:165-176), so these are value
                   ranges: gbmin/gbmax probes skip non-overlapping
                   blocks without stream decode
      bdl_tf2/4/8  min doclen among block docs with tf >= 2/4/8 (0 =
                   none) — the tf-band -> min-dl Pareto frontier the
                   BM25 block bound walks, so flat-tf termlists still
                   prune on doclen variance (see bm25_block_ubs)
    streams (per block, concatenated in block order):
      docs:     FOR-bitpacked deltas, [width u8][packed bits] per block;
                the first delta of each block is 0 against block_base
                (so any block decodes standalone)
      tf/dl/rank: varints, grouped per block (tf*, dl*, rank*)
      pos:      delta varints, reset at each doc start
      ctx:      3 bytes per position (hg 4b | density 5b | diversity 4b |
                wordspam 4b | syn 2b; field widths Posdb.h:64-86)

The block meta decodes in O(nblocks) without touching the streams, so a
reader can (a) skip straight to blocks intersecting a candidate docId
set (skip pointers = RdbMap seek) and (b) skip blocks whose BM25 upper
bound (from bmax_tf/bmin_dl and the frontier) can't reach the current
top-k threshold (block-max WAND, PosdbTable.cpp:4494
getMaxPossibleScore analog).

All encode/decode is numpy-vectorized; python loops only over blocks.
"""

from __future__ import annotations

import numpy as np

CODEC_VERSION = 4
# version-byte flag: the block meta carries 3 extra arrays — the
# per-block (tf >= {2,4,8}) -> min-doclen Pareto frontier. The plain
# (bmax_tf, bmin_dl) bound pairs the max tf with the min dl of
# DIFFERENT docs, which barely prunes on flat-tf termlists (tf ≈ 1-2
# everywhere: measured 541/546 blocks decoded on a 500k mid-df list);
# the frontier caps each tf band with the min dl a doc of that band
# actually has, so the block bound tracks real docs
# (PosdbTable.cpp:4494 getMaxPossibleScore reads per-doc rank fields
# for the same reason). Every blob carries it.
FRONTIER_FLAG = 0x40
_VERSION_BYTE = CODEC_VERSION | FRONTIER_FLAG
_FRONTIER_THRESHOLDS = (2, 4, 8)   # tf bands: [1,1] [2,3] [4,7] [8,inf)
_N_META_ARRAYS = 13
BLOCK = 128  # docs per block


def check_docid_codec(docid_codec: str) -> None:
    """Reject any ``docid_codec`` name but "pfor", the one format (the
    name survives for callers that still pass it)."""
    if docid_codec != "pfor":
        raise ValueError(
            f"unsupported docid_codec {docid_codec!r}: only 'pfor' "
            f"(codec v{CODEC_VERSION}) is supported")


def _frontier_arrays(tfs: np.ndarray, doclens: np.ndarray,
                     bstarts: np.ndarray) -> list[np.ndarray]:
    """Per-block min doclen among docs with tf >= {2,4,8} (0 = no such
    doc in the block) — the Pareto frontier the BM25 block bound walks."""
    out = []
    sentinel = np.uint64(1) << np.uint64(62)
    dl = doclens.astype(np.uint64)
    for thr in _FRONTIER_THRESHOLDS:
        masked = np.where(tfs >= thr, dl, sentinel)
        m = np.minimum.reduceat(masked, bstarts)
        out.append(np.where(m == sentinel, 0, m).astype(np.uint64))
    return out


def _for_pack(vals: np.ndarray) -> np.ndarray:
    """FOR-bitpack one block of deltas: [width u8][ceil(n*w/8) bytes,
    little bit order]. Width = max bit length (min 1) — plain frame-of-
    reference packing; the per-block reset against block_base already
    bounds deltas, so the patched-exception machinery of full PFOR buys
    nothing at BLOCK=128 (one outlier only inflates its own block)."""
    v = vals.astype(np.uint64)
    mx = int(v.max()) if len(v) else 0
    width = max(1, mx.bit_length())
    bits = ((v[:, None] >> np.arange(width, dtype=np.uint64))
            & np.uint64(1)).astype(np.uint8)
    return np.concatenate([
        np.frombuffer(bytes([width]), dtype=np.uint8),
        np.packbits(bits.ravel(), bitorder="little")])


def _for_unpack(buf: np.ndarray, off: int, count: int) -> np.ndarray:
    """Unpack one block's [width u8][packed bits] span (as written by
    ``_for_pack`` / ``_for_pack_many``) at a byte offset; returns uint64
    deltas."""
    width = int(buf[off])
    nbytes = (count * width + 7) // 8
    bits = np.unpackbits(buf[off + 1: off + 1 + nbytes],
                         bitorder="little", count=count * width)
    weights = np.uint64(1) << np.arange(width, dtype=np.uint64)
    return (bits.reshape(count, width).astype(np.uint64) @ weights) \
        .astype(np.uint64)


def _for_unpack_ragged(buf: np.ndarray, offs: np.ndarray,
                       counts: np.ndarray) -> np.ndarray:
    """Unpack MANY [width u8][packed bits] spans at arbitrary byte
    offsets in one vectorized bit-gather — the ragged inverse of
    ``_for_pack_many``. ``offs`` are absolute offsets of each span's
    width byte; returns the concatenated uint64 values in span order.
    No equal-count assumption, so the short last block of a blob needs
    no special case."""
    counts = counts.astype(np.int64)
    total = int(counts.sum())
    if total == 0:
        return np.empty(0, dtype=np.uint64)
    w = buf[offs.astype(np.int64)].astype(np.int64)
    vw = np.repeat(w, counts)                       # width per value
    cstart = np.cumsum(counts) - counts
    within = np.arange(total, dtype=np.int64) - np.repeat(cstart, counts)
    vstart = (np.repeat((offs.astype(np.int64) + 1) * 8, counts)
              + within * vw)                        # first bit per value
    w_max = int(w.max())
    if w_max <= 57:
        # fast path: every value's bits fit a word-sized little-endian
        # window starting at its byte ((vstart & 7) + w <= 32/64), so
        # one fancy-gather of 4 or 8 bytes per value + an int view +
        # shift/mask decodes everything — no per-bit arrays. Docid
        # deltas are <= 38 bits (the 8-byte window); dense lists fit
        # the half-traffic 4-byte one.
        win = 4 if w_max <= 25 else 8
        byte0 = vstart >> 3
        end = int(byte0.max()) + win
        b = np.concatenate([buf, np.zeros(win, dtype=np.uint8)]) \
            if end > len(buf) else buf
        mat = b[byte0[:, None] + np.arange(win, dtype=np.int64)]
        if win == 4:
            u = np.ascontiguousarray(mat).view("<u4").ravel()
            mask = ((np.uint32(1) << vw.astype(np.uint32))
                    - np.uint32(1))
            return ((u >> (vstart & 7).astype(np.uint32)) & mask) \
                .astype(np.uint64)
        u = np.ascontiguousarray(mat).view("<u8").ravel()
        mask = (np.uint64(1) << vw.astype(np.uint64)) - np.uint64(1)
        return (u >> (vstart & 7).astype(np.uint64)) & mask
    # general path (w > 57 cannot occur for real posting streams):
    # per-bit gather + segmented sum
    vw_start = np.cumsum(vw) - vw
    tot_bits = int(vw.sum())
    intra = np.arange(tot_bits, dtype=np.int64) - np.repeat(vw_start, vw)
    bit_idx = np.repeat(vstart, vw) + intra
    bits = (buf[bit_idx >> 3] >> (bit_idx & 7).astype(np.uint8)) & 1
    contrib = bits.astype(np.uint64) << intra.astype(np.uint64)
    return np.add.reduceat(contrib, vw_start)



def _bitlen_u64(v: np.ndarray) -> np.ndarray:
    """Exact integer bit length per element (floor(log2)+1, 0 -> 0):
    six vectorized shift passes — float log2 is NOT safe here (it
    rounds to the exact integer at 2^k +/- 1 boundaries for large k,
    which would pick the wrong pack width and change the blob bytes)."""
    v = v.astype(np.uint64)
    w = np.zeros(len(v), dtype=np.int64)
    x = v.copy()
    for s in (32, 16, 8, 4, 2, 1):
        m = x >= (np.uint64(1) << np.uint64(s))
        w[m] += s
        x[m] >>= np.uint64(s)
    return w + (v > 0)


def _for_pack_many(deltas: np.ndarray, blk_start: np.ndarray,
                   blk_count: np.ndarray):
    """Vectorized ragged FOR pack of MANY blocks at once: each block
    becomes [width u8][ceil(n*w/8) bytes, little bit order], width =
    max bit length of its values (min 1) — plain frame-of-reference
    packing; the per-block reset against block_base already bounds
    deltas, so the patched-exception machinery of full PFOR buys
    nothing at BLOCK=128 (one outlier only inflates its own block).
    Returns (region uint8 array holding every block's span back to
    back, per-block byte sizes uint64). Block regions are byte-aligned
    by construction so no bits cross block boundaries."""
    nd = len(deltas)
    nblk = len(blk_start)
    v64 = deltas.astype(np.uint64)
    mx = np.maximum.reduceat(v64, blk_start)
    w = np.maximum(_bitlen_u64(mx), 1)
    nbytes = 1 + (blk_count * w + 7) // 8
    boff = np.zeros(nblk + 1, dtype=np.int64)
    np.cumsum(nbytes, out=boff[1:])
    out = np.zeros(int(boff[-1]), dtype=np.uint8)
    out[boff[:-1]] = w.astype(np.uint8)
    wd = np.repeat(w, blk_count)                      # width per delta
    within = np.arange(nd, dtype=np.int64) - np.repeat(blk_start,
                                                       blk_count)
    base_bit = (np.repeat(boff[:-1], blk_count) + 1) * 8 + within * wd
    if int(w.max()) <= 57:
        # byte-contribution fast path (inverse of the windowed-gather
        # unpack): shift each value to its in-byte offset, split into
        # its <= ceil((7+w)/8) covered bytes, and OR the per-byte
        # contributions grouped by byte index — the (value, byte)
        # sequence is globally non-decreasing in byte index, so the
        # grouping is one reduceat at change points. ~8x less
        # intermediate traffic than the per-bit scatter it replaces.
        sval = v64 << (base_bit & 7).astype(np.uint64)
        nby = ((base_bit & 7) + wd + 7) // 8
        nbc = np.cumsum(nby)
        tot = int(nbc[-1])
        intra = np.arange(tot, dtype=np.int64) - np.repeat(nbc - nby,
                                                           nby)
        byte_idx = np.repeat(base_bit >> 3, nby) + intra
        vals8 = ((np.repeat(sval, nby)
                  >> (8 * intra).astype(np.uint64))
                 & np.uint64(0xFF)).astype(np.uint8)
        first = np.empty(tot, dtype=bool)
        first[0] = True
        first[1:] = byte_idx[1:] != byte_idx[:-1]
        starts = np.flatnonzero(first)
        out[byte_idx[starts]] |= np.bitwise_or.reduceat(vals8, starts)
        return out, nbytes.astype(np.uint64)
    tot_bits = int(wd.sum())
    intra = (np.arange(tot_bits, dtype=np.int64)
             - np.repeat(np.cumsum(wd) - wd, wd))
    bit_idx = np.repeat(base_bit, wd) + intra
    vals = ((np.repeat(v64, wd)
             >> intra.astype(np.uint64)) & np.uint64(1)).astype(np.uint8)
    bits = np.zeros(len(out) * 8, dtype=np.uint8)
    bits[bit_idx] = vals
    out |= np.packbits(bits, bitorder="little")
    return out, nbytes.astype(np.uint64)



def pack_block_ctx(ctx_slice: np.ndarray) -> int:
    """Pack a block's ctx-class summary (see module docstring)."""
    if len(ctx_slice) == 0:
        return 0
    c = ctx_slice.astype(np.uint32)
    hg = (c >> 15) & 0xF
    den = (c >> 10) & 0x1F
    div = (c >> 6) & 0xF
    spam = (c >> 2) & 0xF
    mask = int(np.bitwise_or.reduce(
        (np.uint32(1) << hg).astype(np.uint32)))
    return ((mask & 0xFFFF) << 13 | int(den.max()) << 8
            | int(div.max()) << 4 | int(spam.max()))


def unpack_block_ctx(bctx: np.ndarray):
    """-> (hg_mask u16, max_den, max_div, max_spam) arrays."""
    b = bctx.astype(np.uint64)
    return ((b >> np.uint64(13)) & np.uint64(0xFFFF),
            (b >> np.uint64(8)) & np.uint64(0x1F),
            (b >> np.uint64(4)) & np.uint64(0xF),
            b & np.uint64(0xF))



def _varint_encode_len(
        values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """LEB128 encode + per-value byte lengths in one pass (the bulk
    encoder needs both; computing lengths separately re-ran the
    shift-loop over the same array)."""
    v = np.asarray(values, dtype=np.uint64)
    if len(v) == 0:
        return (np.empty(0, dtype=np.uint8),
                np.empty(0, dtype=np.int64))
    nbytes = np.ones(len(v), dtype=np.int64)
    tmp = v >> np.uint64(7)
    while tmp.any():
        nbytes[tmp > 0] += 1
        np.right_shift(tmp, np.uint64(7), out=tmp)
    maxb = int(nbytes.max())
    if maxb == 1:
        # all values < 128: the encoding IS the byte values (common
        # case for delta/tf streams) — no scatter loop needed
        return v.astype(np.uint8), nbytes
    total = int(nbytes.sum())
    out = np.zeros(total, dtype=np.uint8)
    ends = np.cumsum(nbytes)
    starts = ends - nbytes
    idx = starts.copy()
    shifted = v.copy()
    for k in range(maxb):
        alive = nbytes > k
        b = (shifted[alive] & np.uint64(0x7F)).astype(np.uint8)
        more = (nbytes[alive] - 1) > k
        b[more] |= 0x80
        out[idx[alive]] = b
        idx[alive] += 1
        np.right_shift(shifted, np.uint64(7), out=shifted)
    return out, nbytes



def _varint_decode(buf: np.ndarray, count: int, offset: int,
                   end: int | None = None) -> tuple[np.ndarray, int]:
    """Vectorized LEB128 decode of `count` values starting at `offset`.
    Returns (values uint64, new_offset). Pass `end` whenever the span's
    byte length is known: the continuation-bit scan is O(end - offset),
    and without a bound each call scans to the END of the blob — which
    made per-block decoding quadratic in blob size."""
    if count == 0:
        return np.empty(0, dtype=np.uint64), offset
    data = buf[offset:end]
    cont = (data & 0x80) != 0
    term_idx = np.flatnonzero(~cont)
    if len(term_idx) < count:
        raise ValueError("varint stream truncated")
    ends = term_idx[:count]
    used = int(ends[count - 1]) + 1
    starts = np.empty(count, dtype=np.int64)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lens = ends - starts + 1
    vals = np.zeros(count, dtype=np.uint64)
    maxlen = int(lens.max())
    for k in range(maxlen):
        alive = lens > k
        b = data[starts[alive] + k].astype(np.uint64)
        vals[alive] |= (b & np.uint64(0x7F)) << np.uint64(7 * k)
    return vals, offset + used



def encode_postings(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    doclens: np.ndarray,
    positions: np.ndarray,
    ctxs: np.ndarray,
    ranks: np.ndarray,
    docid_codec: str = "pfor",
) -> bytes:
    """Encode one term's postings (inputs as in the module docstring;
    doc_ids ascending, positions ascending within each doc) into one
    v4 blob. The docs stream is FOR-bitpacked per block; tf/dl/rank and
    position deltas are varints. ``docid_codec`` accepts only "pfor".

    Written independently of ``encode_postings_many`` (one blob, one
    ``_for_pack`` per block) so the two check each other's bytes."""
    check_docid_codec(docid_codec)
    nd = len(doc_ids)
    doc_ids = doc_ids.astype(np.uint64)
    tfs = tfs.astype(np.uint64)
    doclens = doclens.astype(np.uint64)
    ranks = ranks.astype(np.uint64)
    parts = [np.frombuffer(bytes([_VERSION_BYTE]), dtype=np.uint8),
             _varint_encode_len(np.array([nd], dtype=np.uint64))[0]]
    if nd == 0:
        return b"".join(p.tobytes() for p in parts)

    # vectorized across blocks: one varint encode for the meta and one
    # for the tf/dl/rank + position streams
    nb = (nd + BLOCK - 1) // BLOCK
    bstarts = np.arange(0, nd, BLOCK, dtype=np.int64)
    counts = np.minimum(BLOCK, nd - bstarts)
    bends = bstarts + counts

    # doc deltas with per-block reset against block_base
    deltas = np.empty(nd, dtype=np.uint64)
    deltas[0] = 0
    deltas[1:] = doc_ids[1:] - doc_ids[:-1]
    deltas[bstarts] = 0  # block_base carries the absolute value
    doc_parts = [_for_pack(deltas[s:e]) for s, e in zip(bstarts, bends)]

    # position deltas, reset at each doc start
    pos = positions.astype(np.uint64)
    pos_cum = np.zeros(nd + 1, dtype=np.int64)
    pos_cum[1:] = np.cumsum(tfs).astype(np.int64)
    npos_total = int(pos_cum[-1])
    pdelta = np.empty(npos_total, dtype=np.uint64)
    if npos_total:
        pdelta[0] = pos[0]
        pdelta[1:] = pos[1:] - pos[:-1]
        pdelta[pos_cum[:nd]] = pos[pos_cum[:nd]]

    # varint streams in final layout: per-block (tf*, dl*, rank*) | pos
    cc = np.zeros(nb + 1, dtype=np.int64)
    np.cumsum(counts, out=cc[1:])
    within = np.arange(nd, dtype=np.int64) - np.repeat(cc[:-1], counts)
    base3 = np.repeat(3 * cc[:-1], counts)
    c_rep = np.repeat(counts, counts)
    tfdl_vals = np.empty(3 * nd, dtype=np.uint64)
    tfdl_vals[base3 + within] = tfs
    tfdl_vals[base3 + c_rep + within] = doclens
    tfdl_vals[base3 + 2 * c_rep + within] = ranks
    stream, s_len = _varint_encode_len(
        np.concatenate([tfdl_vals, pdelta]))
    tfdl_bytes = np.add.reduceat(s_len[:3 * nd], 3 * cc[:-1])

    # per-block stats (reduceat over block starts)
    npos_blk = (pos_cum[bends] - pos_cum[bstarts]).astype(np.uint64)
    pos_bytes = np.zeros(nb, dtype=np.uint64)
    bctx = np.zeros(nb, dtype=np.uint64)
    bmin_pos = np.zeros(nb, dtype=np.uint64)
    bmax_pos = np.zeros(nb, dtype=np.uint64)
    if npos_total:
        # guard reduceat against empty blocks (npos == 0): clip the
        # start index and zero-mask the result afterwards
        pstarts = np.minimum(pos_cum[bstarts], npos_total - 1)
        nonempty = npos_blk > 0

        def per_block(ufunc, vals):
            return np.where(nonempty, ufunc.reduceat(vals, pstarts),
                            0).astype(np.uint64)

        c32 = ctxs.astype(np.uint32)
        pos_bytes = per_block(np.add, s_len[3 * nd:])
        mask = per_block(np.bitwise_or,
                         (np.uint32(1) << ((c32 >> 15) & 0xF)))
        bctx = ((mask & np.uint64(0xFFFF)) << np.uint64(13)
                | per_block(np.maximum, (c32 >> 10) & 0x1F) << np.uint64(8)
                | per_block(np.maximum, (c32 >> 6) & 0xF) << np.uint64(4)
                | per_block(np.maximum, (c32 >> 2) & 0xF))
        bmin_pos = per_block(np.minimum, pos)
        bmax_pos = per_block(np.maximum, pos)

    meta_vals = np.concatenate([
        doc_ids[bstarts], np.maximum.reduceat(tfs, bstarts),
        np.minimum.reduceat(doclens, bstarts),
        np.array([len(p) for p in doc_parts], dtype=np.uint64),
        tfdl_bytes.astype(np.uint64), pos_bytes, npos_blk, bctx,
        bmin_pos, bmax_pos, *_frontier_arrays(tfs, doclens, bstarts)])
    parts.append(_varint_encode_len(meta_vals)[0])
    parts.extend(doc_parts)
    parts.append(stream)
    c = ctxs.astype(np.uint32)
    cb = np.empty((len(c), 3), dtype=np.uint8)
    cb[:, 0] = c & 0xFF
    cb[:, 1] = (c >> 8) & 0xFF
    cb[:, 2] = (c >> 16) & 0xFF
    parts.append(cb.ravel())
    return b"".join(p.tobytes() for p in parts)


def encode_postings_many(
    run_nd: np.ndarray,
    docs: np.ndarray,
    tfs: np.ndarray,
    doclens: np.ndarray,
    ranks: np.ndarray,
    positions: np.ndarray,
    ctxs: np.ndarray,
) -> list[bytes]:
    """Encode MANY runs of ANY length at once, fully vectorized across
    runs AND blocks — the per-run fixed cost of ~30 numpy calls
    (~0.5ms) made per-run encoding the build's hottest path (one web
    page contributes dozens of df=1 fielded terms, and every salted
    hot-term run is a separate multi-block encode; at 32 threads the
    segment stage was memory-bandwidth-bound on exactly these calls).

    Inputs are run-major concatenations: ``docs/tfs/doclens/ranks`` at
    doc level, ``positions/ctxs`` at posting level (aligned with tfs).
    Every ``run_nd[i]`` must be >= 1 (callers encode empty lists via
    ``encode_postings`` directly). Returns one bytes blob per run, in
    run order; each blob is independent of the others in the batch.
    The docs streams of every block of every run pack in ONE vectorized
    ragged FOR pack (``_for_pack_many``).
    """
    nrun = len(run_nd)
    if nrun == 0:
        return []
    run_nd = run_nd.astype(np.int64)
    docs = docs.astype(np.uint64)
    tfs = tfs.astype(np.uint64)
    doclens = doclens.astype(np.uint64)
    ranks = ranks.astype(np.uint64)
    pos = positions.astype(np.uint64)
    ndocs = len(docs)
    npos_total = len(pos)

    doc_ends = np.cumsum(run_nd)
    doc_starts = doc_ends - run_nd

    # block structure: run i splits into ceil(nd_i / BLOCK) blocks of
    # consecutive docs; blocks are globally doc-order contiguous
    run_nb = (run_nd + BLOCK - 1) // BLOCK
    nblk = int(run_nb.sum())
    blk_before = np.cumsum(run_nb) - run_nb        # blocks before run i
    blk_run = np.repeat(np.arange(nrun, dtype=np.int64), run_nb)
    blk_within = np.arange(nblk, dtype=np.int64) - blk_before[blk_run]
    blk_start = doc_starts[blk_run] + blk_within * BLOCK   # doc index
    blk_count = np.minimum(BLOCK, doc_ends[blk_run] - blk_start)
    blk_end = blk_start + blk_count

    # doc deltas, reset at block starts (block_base holds the absolute)
    deltas = np.empty(ndocs, dtype=np.uint64)
    deltas[1:] = docs[1:] - docs[:-1]
    deltas[blk_start] = 0
    block_base = docs[blk_start]

    # position deltas, reset at each DOC start
    pc = np.zeros(ndocs + 1, dtype=np.int64)
    pc[1:] = np.cumsum(tfs).astype(np.int64)
    doc_pos_start = pc[:ndocs]
    pdelta = np.empty(npos_total, dtype=np.uint64)
    if npos_total:
        pdelta[1:] = pos[1:] - pos[:-1]
        pdelta[doc_pos_start] = pos[doc_pos_start]

    # tf/dl/rank stream: per block (tf*, dl*, rank*), block-major
    cc = np.zeros(nblk + 1, dtype=np.int64)
    np.cumsum(blk_count, out=cc[1:])
    within = np.arange(ndocs, dtype=np.int64) - np.repeat(cc[:-1],
                                                          blk_count)
    base3 = np.repeat(3 * cc[:-1], blk_count)
    c_rep = np.repeat(blk_count, blk_count)
    tfdl_vals = np.empty(3 * ndocs, dtype=np.uint64)
    tfdl_vals[base3 + within] = tfs
    tfdl_vals[base3 + c_rep + within] = doclens
    tfdl_vals[base3 + 2 * c_rep + within] = ranks

    # ONE pack/encode per stream for the whole batch
    enc_d, doc_bytes_blk = _for_pack_many(deltas, blk_start, blk_count)
    enc_t, len_t = _varint_encode_len(tfdl_vals)
    enc_p, len_p = _varint_encode_len(pdelta)
    c = ctxs.astype(np.uint32)
    cb = np.empty((len(c), 3), dtype=np.uint8)
    cb[:, 0] = c & 0xFF
    cb[:, 1] = (c >> 8) & 0xFF
    cb[:, 2] = (c >> 16) & 0xFF
    enc_c = cb.ravel()

    # per-block stats + byte spans
    bmax_tf = np.maximum.reduceat(tfs, blk_start)
    bmin_dl = np.minimum.reduceat(doclens, blk_start)
    tfdl_bytes_blk = np.add.reduceat(len_t, 3 * cc[:-1]).astype(np.uint64)
    blk_pos_start = pc[blk_start]
    npos_blk = (pc[blk_end] - blk_pos_start).astype(np.uint64)
    bctx = np.zeros(nblk, dtype=np.uint64)
    bmin_pos = np.zeros(nblk, dtype=np.uint64)
    bmax_pos = np.zeros(nblk, dtype=np.uint64)
    pos_bytes_blk = np.zeros(nblk, dtype=np.uint64)
    if npos_total:
        # guard reduceat against empty blocks (npos == 0): clip the
        # start index and zero-mask the result afterwards
        pstarts = np.minimum(blk_pos_start, npos_total - 1)
        nonempty = npos_blk > 0
        pos_bytes_blk = np.where(
            nonempty, np.add.reduceat(len_p, pstarts),
            0).astype(np.uint64)
        hg_bit = (np.uint32(1) << ((c >> 15) & 0xF)).astype(np.uint32)
        mask = np.bitwise_or.reduceat(hg_bit, pstarts).astype(np.uint64)
        den = np.maximum.reduceat(
            ((c >> 10) & 0x1F).astype(np.uint64), pstarts)
        div = np.maximum.reduceat(
            ((c >> 6) & 0xF).astype(np.uint64), pstarts)
        spam = np.maximum.reduceat(
            ((c >> 2) & 0xF).astype(np.uint64), pstarts)
        bctx = np.where(
            nonempty,
            (mask & np.uint64(0xFFFF)) << np.uint64(13)
            | den << np.uint64(8) | div << np.uint64(4) | spam,
            0).astype(np.uint64)
        bmin_pos = np.where(nonempty,
                            np.minimum.reduceat(pos, pstarts),
                            0).astype(np.uint64)
        bmax_pos = np.where(nonempty,
                            np.maximum.reduceat(pos, pstarts),
                            0).astype(np.uint64)

    # meta values per run, array-major within the run: varint(nd) |
    # base*nb | bmax_tf*nb | ... — built as ONE scatter-filled array so
    # a single varint encode covers all runs' headers
    meta_arrays = (
        block_base, bmax_tf.astype(np.uint64),
        bmin_dl.astype(np.uint64), doc_bytes_blk, tfdl_bytes_blk,
        pos_bytes_blk, npos_blk, bctx, bmin_pos, bmax_pos,
        *_frontier_arrays(tfs, doclens, blk_start))
    meta_vals = np.empty(nrun + _N_META_ARRAYS * nblk, dtype=np.uint64)
    run_base = blk_before * _N_META_ARRAYS + np.arange(nrun,
                                                       dtype=np.int64)
    meta_vals[run_base] = run_nd.astype(np.uint64)
    blk_base_ix = run_base[blk_run] + 1 + blk_within
    run_nb_blk = run_nb[blk_run]
    for j, arr in enumerate(meta_arrays):
        meta_vals[blk_base_ix + j * run_nb_blk] = arr
    enc_m, len_m = _varint_encode_len(meta_vals)
    m_bytes = np.add.reduceat(len_m, run_base)

    # per-run byte spans (streams are run-contiguous)
    doc_bytes_run = (np.add.reduceat(doc_bytes_blk, blk_before)
                     .astype(np.int64))
    tfdl_bytes_run = np.add.reduceat(len_t, 3 * cc[blk_before])
    run_npos = (pc[doc_ends] - pc[doc_starts]).astype(np.int64)
    if npos_total:
        rp = np.minimum(pc[doc_starts], npos_total - 1)
        pos_bytes_run = np.where(run_npos > 0,
                                 np.add.reduceat(len_p, rp), 0)
    else:
        pos_bytes_run = np.zeros(nrun, dtype=np.int64)

    def offsets(per_run: np.ndarray) -> np.ndarray:
        out = np.zeros(nrun + 1, dtype=np.int64)
        np.cumsum(per_run, out=out[1:])
        return out

    mo = offsets(m_bytes)
    do = offsets(doc_bytes_run)
    to = offsets(tfdl_bytes_run)
    po = offsets(pos_bytes_run)
    co = offsets(run_npos * 3)

    ver = bytes([_VERSION_BYTE])
    bm = memoryview(enc_m.tobytes())
    bd = memoryview(enc_d.tobytes())
    bt = memoryview(enc_t.tobytes())
    bp = memoryview(enc_p.tobytes())
    bc = memoryview(enc_c.tobytes())
    out = []
    for i in range(nrun):
        out.append(b"".join((
            ver,
            bm[mo[i]:mo[i + 1]],
            bd[do[i]:do[i + 1]],
            bt[to[i]:to[i + 1]],
            bp[po[i]:po[i + 1]],
            bc[co[i]:co[i + 1]],
        )))
    return out


class BlockMeta:
    """Decoded block directory of a blob (O(nblocks), streams untouched)."""

    __slots__ = ("n_docs", "nblocks", "block_base", "bmax_tf", "bmin_dl",
                 "doc_bytes", "tfdl_bytes", "pos_bytes", "npos",
                 "bctx", "bmin_pos", "bmax_pos",
                 "bdl_tf2", "bdl_tf4", "bdl_tf8",
                 "streams_off", "buf")

    def __init__(self, blob: bytes):
        buf = np.frombuffer(blob, dtype=np.uint8)
        raw = int(buf[0])
        if raw != _VERSION_BYTE:
            raise ValueError(
                f"unsupported codec version byte 0x{raw:02x}: only codec "
                f"v{CODEC_VERSION} with the frontier flag "
                f"(0x{_VERSION_BYTE:02x}) is supported")
        nd_arr, off = _varint_decode(buf, 1, 1)
        self.n_docs = int(nd_arr[0])
        self.buf = buf
        nb = (self.n_docs + BLOCK - 1) // BLOCK
        self.nblocks = nb
        # all meta arrays sit back-to-back, so ONE varint decode of the
        # whole span (then split) replaces 13 separate calls — each
        # call re-scans continuation bits and pays numpy fixed costs,
        # which dominated the build's multi-blob merge loop (2.5M tiny
        # BlockMeta constructions at 200k docs)
        flat, off = _varint_decode(buf, _N_META_ARRAYS * nb, off)
        (self.block_base, self.bmax_tf, self.bmin_dl, self.doc_bytes,
         self.tfdl_bytes, self.pos_bytes, self.npos, self.bctx,
         self.bmin_pos, self.bmax_pos, self.bdl_tf2, self.bdl_tf4,
         self.bdl_tf8) = (flat[i * nb:(i + 1) * nb]
                          for i in range(_N_META_ARRAYS))
        self.streams_off = off

    def block_doc_count(self, bi: int) -> int:
        s = bi * BLOCK
        return min(BLOCK, self.n_docs - s)


def _offsets(sizes: np.ndarray) -> np.ndarray:
    """Exclusive prefix sum with the total appended (len(sizes) + 1)."""
    out = np.zeros(len(sizes) + 1, dtype=np.int64)
    out[1:] = np.cumsum(sizes).astype(np.int64)
    return out


def _abs_positions(pdelta: np.ndarray, tf: np.ndarray) -> np.ndarray:
    """Absolute positions from position deltas that reset at each doc
    start (one doc per ``tf`` entry)."""
    nd = len(tf)
    starts = np.zeros(nd, dtype=np.int64)
    starts[1:] = np.cumsum(tf[:-1]).astype(np.int64)
    csum = np.cumsum(pdelta, dtype=np.uint64)
    first = starts[np.repeat(np.arange(nd), tf.astype(np.int64))]
    return csum - (csum[first] - pdelta[first])


def _unpack_ctx(buf: np.ndarray, off: int, npos: int) -> np.ndarray:
    """``npos`` 3-byte little-endian ctx values at ``off``."""
    cb = buf[off: off + 3 * npos].reshape(npos, 3).astype(np.uint32)
    return (cb[:, 0] | (cb[:, 1] << 8) | (cb[:, 2] << 16)) \
        .astype(np.uint64)


def decode_blocks(blob: bytes, block_idx=None, with_positions: bool = False,
                  meta: BlockMeta | None = None,
                  ctx_only: bool = False) -> dict:
    """Decode the selected blocks (all when block_idx is None) into flat
    arrays. Skipped blocks cost zero stream decoding (skip pointers).
    ctx_only=True (with with_positions) reads the fixed-width ctx bytes
    but SKIPS the position varint decode, returning zeros for positions
    — the reference-scorer candidate pass needs per-posting ctx weights
    but no positions, and the position stream is the most expensive
    varint span in the blob."""
    m = meta or BlockMeta(blob)
    buf = m.buf
    if m.n_docs == 0:
        z = np.empty(0, dtype=np.uint64)
        return {"doc_ids": z, "tfs": z, "doclens": z, "ranks": z,
                "positions": z, "ctxs": z,
                "block_max_tf": m.bmax_tf, "block_min_dl": m.bmin_dl,
                "blocks_decoded": 0}
    doc_off = _offsets(m.doc_bytes)
    tfdl_off = _offsets(m.tfdl_bytes)
    pos_off = _offsets(m.pos_bytes)
    npos_off = _offsets(m.npos)

    docs_base = m.streams_off
    tfdl_base = docs_base + int(doc_off[-1])
    pos_base = tfdl_base + int(tfdl_off[-1])
    ctx_base = pos_base + int(pos_off[-1])

    if block_idx is None:
        # whole-blob fast path: ONE decode per stream region, block/doc
        # structure reconstructed with vectorized index math (the
        # per-block loop cost ~0.5ms/block in numpy call overhead)
        nd = m.n_docs
        counts = np.minimum(
            BLOCK, nd - BLOCK * np.arange(m.nblocks, dtype=np.int64))
        cc = _offsets(counts)
        # windowed ragged batch unpack: every delta's bits fit an
        # 8-byte window (widths <= 38), so one fancy-gather +
        # shift/mask decodes all blocks at once — measured ~4x faster
        # than a width-grouped unpackbits/matmul (22 vs ~90 ms on a
        # 500k-doc termlist)
        d_all = _for_unpack_ragged(
            buf, (docs_base + doc_off[:-1]).astype(np.int64), counts)
        cum = np.cumsum(d_all, dtype=np.uint64)
        # delta at each block start is 0; docs = block_base + in-block
        # cumsum = global cumsum + (block_base - cumsum at block start)
        adj = np.repeat(m.block_base.astype(np.uint64) - cum[cc[:-1]],
                        counts)
        docs = cum + adj
        tdr, _ = _varint_decode(buf, 3 * nd, tfdl_base, pos_base)
        within = (np.arange(nd, dtype=np.int64)
                  - np.repeat(cc[:-1], counts))
        base3 = np.repeat(3 * cc[:-1], counts)
        c_rep = np.repeat(counts, counts)
        tf = tdr[base3 + within]
        out = {
            "doc_ids": docs, "tfs": tf,
            "doclens": tdr[base3 + c_rep + within],
            "ranks": tdr[base3 + 2 * c_rep + within],
            "positions": np.empty(0, dtype=np.uint64),
            "ctxs": np.empty(0, dtype=np.uint64),
            "block_max_tf": m.bmax_tf, "block_min_dl": m.bmin_dl,
            "blocks_decoded": m.nblocks,
        }
        if with_positions:
            npos_total = int(npos_off[-1])
            if ctx_only:
                out["positions"] = np.zeros(npos_total, dtype=np.uint64)
            else:
                pdelta, _ = _varint_decode(buf, npos_total, pos_base,
                                           ctx_base)
                out["positions"] = _abs_positions(pdelta, tf)
            out["ctxs"] = _unpack_ctx(buf, ctx_base, npos_total)
        return out

    sel = sorted(int(b) for b in block_idx)
    out_docs, out_tfs, out_dls, out_rks = [], [], [], []
    out_pos, out_ctx = [], []
    for bi in sel:
        cnt = m.block_doc_count(bi)
        d = _for_unpack(buf, docs_base + int(doc_off[bi]), cnt)
        out_docs.append(np.cumsum(d, dtype=np.uint64) + m.block_base[bi])
        tdr, _ = _varint_decode(buf, 3 * cnt, tfdl_base + int(tfdl_off[bi]),
                                tfdl_base + int(tfdl_off[bi + 1]))
        tf = tdr[:cnt]
        out_tfs.append(tf)
        out_dls.append(tdr[cnt:2 * cnt])
        out_rks.append(tdr[2 * cnt:])
        if with_positions:
            npos = int(m.npos[bi])
            pdelta, _ = _varint_decode(buf, npos,
                                       pos_base + int(pos_off[bi]),
                                       pos_base + int(pos_off[bi + 1]))
            out_pos.append(_abs_positions(pdelta, tf))
            out_ctx.append(_unpack_ctx(
                buf, ctx_base + 3 * int(npos_off[bi]), npos))
    cat = (lambda lst: np.concatenate(lst) if lst
           else np.empty(0, dtype=np.uint64))
    return {
        "doc_ids": cat(out_docs), "tfs": cat(out_tfs),
        "doclens": cat(out_dls), "ranks": cat(out_rks),
        "positions": cat(out_pos), "ctxs": cat(out_ctx),
        "block_max_tf": m.bmax_tf, "block_min_dl": m.bmin_dl,
        "blocks_decoded": len(sel),
    }


def decode_postings(blob: bytes) -> dict:
    """Full decode -> dict of numpy arrays (inverse of encode_postings)."""
    return decode_blocks(blob, None, with_positions=True)


def decode_headers(blob: bytes) -> dict:
    """Decode doc_ids/tfs/doclens/ranks (+ block-max) for every block —
    the BM25 fast path; positions only for phrase/proximity."""
    return decode_blocks(blob, None, with_positions=False)


def blocks_for_candidates(meta: BlockMeta, candidates: np.ndarray) -> np.ndarray:
    """Indices of blocks whose docId range intersects the sorted
    candidate array (skip-pointer seek; RdbMap::getKey analog)."""
    if meta.nblocks == 0 or len(candidates) == 0:
        return np.empty(0, dtype=np.int64)
    base = meta.block_base.astype(np.uint64)
    # block bi covers [base[bi], base[bi+1]); last block open-ended
    lo = np.searchsorted(candidates, base, side="left")
    hi = np.empty(meta.nblocks, dtype=np.int64)
    hi[:-1] = np.searchsorted(candidates, base[1:], side="left")
    hi[-1] = len(candidates)
    return np.flatnonzero(hi > lo)


def bm25_block_ubs(meta: BlockMeta, idf: float, k1: float, b: float,
                   avgdl: float) -> np.ndarray:
    """Per-block BM25 upper bounds (PosdbTable.cpp:4494
    getMaxPossibleScore analog): max over tf bands of
    kernel(band_tf_cap, band_min_dl), where band_min_dl is the min dl
    among docs whose tf reaches the band threshold — each band's entry
    dominates every doc in that band (its tf <= cap, its dl >= the band
    min), and every doc falls in some band, so the max is a sound
    per-doc bound that tracks (tf, dl) pairs real docs achieve. It
    never exceeds the naive kernel(bmax_tf, bmin_dl), which pairs the
    max tf with the min dl of DIFFERENT docs, so on flat-tf termlists
    every block would bound the same and nothing would prune."""

    def kern(tf, dl):
        return (idf * (tf * (k1 + 1.0))
                / (tf + k1 * (1.0 - b + b * dl / avgdl)))

    tf_max = meta.bmax_tf.astype(np.float64)
    dl_min = meta.bmin_dl.astype(np.float64)
    # band [1,1]: tf-1 docs (dl >= block min); bands [2,3] [4,7]
    # [8,inf): capped tf with the band's own min dl (0 = band empty)
    ub = kern(np.minimum(tf_max, 1.0), dl_min)
    for cap, arr in ((3.0, meta.bdl_tf2), (7.0, meta.bdl_tf4),
                     (None, meta.bdl_tf8)):
        dl_b = arr.astype(np.float64)
        have = dl_b > 0
        if not have.any():
            continue
        tf_b = tf_max if cap is None else np.minimum(tf_max, cap)
        ub = np.where(have, np.maximum(ub, kern(tf_b, dl_b)), ub)
    return ub


def wand_prune_blocks(meta: BlockMeta, idf: float, k1: float, b: float,
                      avgdl: float, threshold: float) -> np.ndarray:
    """Block-max WAND pruning: indices of blocks whose BM25 upper bound
    reaches `threshold` (frontier-aware, see bm25_block_ubs)."""
    if meta.nblocks == 0:
        return np.empty(0, dtype=np.int64)
    return np.flatnonzero(
        bm25_block_ubs(meta, idf, k1, b, avgdl) >= threshold)


def _concat_postings(blobs: list[bytes]) -> dict:
    """Decode ``blobs`` and concatenate their arrays in blob order — the
    input side of every merge. Besides the decoded arrays (``tfs`` as
    int64) it holds ``src``, the index of each doc's source blob, and
    ``pstart``, the start of each doc's span in the concatenated
    ``positions``/``ctxs``; ``_take_postings`` gathers from it."""
    decoded = [decode_postings(b) for b in blobs]
    out = {k: (np.concatenate([d[k] for d in decoded]) if decoded
               else np.empty(0, dtype=np.uint64))
           for k in ("doc_ids", "tfs", "doclens", "ranks", "positions",
                     "ctxs")}
    tfs = out["tfs"] = out["tfs"].astype(np.int64)
    out["src"] = np.repeat(np.arange(len(decoded), dtype=np.int64),
                           [len(d["doc_ids"]) for d in decoded])
    out["pstart"] = np.cumsum(tfs) - tfs
    return out


def _take_postings(c: dict, idx: np.ndarray) -> tuple:
    """The docs at indices ``idx`` of a ``_concat_postings`` result,
    each with its position/ctx span: (doc_ids, tfs, doclens,
    positions, ctxs, ranks)."""
    tf = c["tfs"][idx]
    ends = np.cumsum(tf)
    total = int(ends[-1]) if len(ends) else 0
    pidx = (np.arange(total, dtype=np.int64) - np.repeat(ends - tf, tf)
            + np.repeat(c["pstart"][idx], tf))
    return (c["doc_ids"][idx], tf, c["doclens"][idx],
            c["positions"][pidx], c["ctxs"][pidx], c["ranks"][idx])


def _group_of_doc(groups: list[list[bytes]], c: dict) -> np.ndarray:
    """Group index of every doc of ``_concat_postings(flattened
    groups)``."""
    return np.repeat(np.arange(len(groups), dtype=np.int64),
                     [len(g) for g in groups])[c["src"]]


def _encode_groups(ngrp: int, grp: np.ndarray, docs: np.ndarray,
                   tfs: np.ndarray, doclens: np.ndarray,
                   positions: np.ndarray, ctxs: np.ndarray,
                   ranks: np.ndarray):
    """ONE bulk encode of per-group doc runs (``grp`` non-decreasing,
    docs ascending within a group, positions/ctxs aligned with tfs) ->
    ``(blobs, df, cf, max_tf)`` for groups 0..ngrp-1; a group with no
    docs gets the empty blob and zero stats."""
    df = np.bincount(grp, minlength=ngrp).astype(np.int64)
    nonempty = df > 0
    cf = np.zeros(ngrp, dtype=np.int64)
    max_tf = np.zeros(ngrp, dtype=np.int64)
    gstarts = np.cumsum(df[nonempty]) - df[nonempty]
    cf[nonempty] = np.add.reduceat(tfs, gstarts)
    max_tf[nonempty] = np.maximum.reduceat(tfs, gstarts)
    encoded = iter(encode_postings_many(df[nonempty], docs, tfs, doclens,
                                        ranks, positions, ctxs))
    z = np.empty(0, dtype=np.uint64)
    empty = encode_postings(z, z, z, z, z, z)
    blobs = [next(encoded) if ok else empty for ok in nonempty]
    return blobs, df, cf, max_tf


def merge_disjoint_blobs(blobs: list[bytes]) -> bytes:
    """Merge same-term mini-segment blobs of ONE build generation into
    one blob (duplicate docs combined as in
    ``merge_disjoint_blobs_many``). One group, one ``encode_postings``:
    the per-group reference the batched merge is tested against."""
    c = _concat_postings(blobs)
    order = np.argsort(c["doc_ids"], kind="stable")
    docs, tfs, dls, pos, ctx, rks = _take_postings(c, order)
    if not len(docs):
        return encode_postings(docs, tfs, dls, pos, ctx, rks)
    u_docs, dstarts = np.unique(docs, return_index=True)
    # re-sort each merged doc's positions ascending (ctx follows)
    porder = np.lexsort((pos, np.repeat(np.searchsorted(u_docs, docs),
                                        tfs)))
    return encode_postings(u_docs, np.add.reduceat(tfs, dstarts),
                           dls[dstarts], pos[porder], ctx[porder],
                           rks[dstarts])


def merge_disjoint_blobs_many(
    groups: list[list[bytes]],
) -> tuple[list[bytes], np.ndarray, np.ndarray, np.ndarray]:
    """Merge EVERY group of same-key mini-segment blobs of ONE build
    generation (RdbList.cpp:2154 posdbMerge_r fast path) with one shared
    sort and ONE bulk re-encode — per-group numpy fixed costs made the
    blob merge the segment stage's second-hottest path after the mini
    encode. No newest-wins resolution: a doc MAY appear in more than one
    blob of a group (its body postings come from its own partition, its
    incoming-link-text postings from the linkers' partitions), and such
    duplicates are combined — tf summed, first dl/rank kept (same doc
    -> same attrs), positions re-sorted ascending within the doc (the
    reference's mini-merge keeps each docId's positions sorted,
    PosdbTable.cpp:2879).

    Returns ``(blobs, df, cf, max_tf)`` in group order, so callers
    get the merged stats without re-parsing block directories.
    """
    c = _concat_postings([b for g in groups for b in g])
    grp = _group_of_doc(groups, c)
    # stable (group, doc) order == per-group argsort(docs, stable)
    order = np.lexsort((c["doc_ids"], grp))
    s_grp = grp[order]
    docs, tfs, dls, pos, ctx, rks = _take_postings(c, order)
    first = np.ones(len(docs), dtype=bool)
    first[1:] = (docs[1:] != docs[:-1]) | (s_grp[1:] != s_grp[:-1])
    dstarts = np.flatnonzero(first)
    if not first.all():
        doc_of_post = np.repeat(np.cumsum(first) - 1, tfs)
        porder = np.lexsort((pos, doc_of_post))
        pos = pos[porder]
        ctx = ctx[porder]
    return _encode_groups(len(groups), s_grp[dstarts], docs[dstarts],
                          np.add.reduceat(tfs, dstarts), dls[dstarts],
                          pos, ctx, rks[dstarts])


def merge_blobs_many(groups: list[list[bytes]], gens: list[list[int]],
                     live=None):
    """K-way merge of EVERY group of same-term blobs from multiple
    segment generations (``gens[i][j]`` is the generation of
    ``groups[i][j]``): newest-wins per docId within a group, after
    dropping the postings ``live(doc_ids, gens) -> bool mask`` rejects
    (negative-key annihilation, RdbList.cpp:1945-2043 /
    posdbMerge_r). One shared sort and ONE bulk re-encode; returns
    ``(blobs, df, cf, max_tf)`` in group order, a group with no
    surviving doc merging to the empty blob."""
    c = _concat_postings([b for g in groups for b in g])
    grp = _group_of_doc(groups, c)
    gen = np.array([x for g in gens for x in g], dtype=np.int64)[c["src"]]
    docs = c["doc_ids"]
    idx = (np.arange(len(docs), dtype=np.int64) if live is None
           else np.flatnonzero(live(docs, gen)))
    order = idx[np.lexsort((gen[idx], docs[idx], grp[idx]))]
    s_docs, s_grp = docs[order], grp[order]
    last = np.ones(len(order), dtype=bool)
    last[:-1] = (s_docs[:-1] != s_docs[1:]) | (s_grp[:-1] != s_grp[1:])
    keep = order[last]
    return _encode_groups(len(groups), grp[keep],
                          *_take_postings(c, keep))


def merge_blobs(blobs: list[bytes],
                deleted_doc_ids: np.ndarray | None = None,
                docid_codec: str = "pfor") -> bytes:
    """Newest-wins merge of ONE term's blobs, ordered oldest -> newest,
    dropping ``deleted_doc_ids`` — a one-group ``merge_blobs_many``.
    ``docid_codec`` accepts only "pfor"."""
    check_docid_codec(docid_codec)
    live = None
    if deleted_doc_ids is not None and len(deleted_doc_ids):
        dd = np.asarray(deleted_doc_ids, dtype=np.uint64)

        def live(docs, gens):
            return ~np.isin(docs, dd)
    return merge_blobs_many([blobs], [list(range(len(blobs)))],
                            live)[0][0]
