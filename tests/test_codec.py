"""Posting-blob codec tests (reference analog: PosdbTest.cpp key packing,
RdbListTest.cpp merge/delete scenarios)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from open_source_search_engine_spark.functions.codec import (
    BLOCK,
    BlockMeta,
    decode_blocks,
    decode_headers,
    decode_postings,
    encode_postings,
    merge_blobs,
)


def make_postings(rng, n_docs, max_tf=5):
    doc_ids = np.sort(rng.choice(1 << 38, size=n_docs, replace=False)).astype(np.uint64)
    tfs = rng.integers(1, max_tf + 1, size=n_docs).astype(np.uint64)
    doclens = rng.integers(1, 5000, size=n_docs).astype(np.uint64)
    ranks = rng.integers(0, 1024, size=n_docs).astype(np.uint64)
    pos = []
    for tf in tfs:
        p = np.sort(rng.choice(200_000, size=int(tf), replace=False))
        pos.append(p)
    positions = np.concatenate(pos).astype(np.uint64)
    ctxs = rng.integers(0, 1 << 19, size=int(tfs.sum())).astype(np.uint64)
    return doc_ids, tfs, doclens, positions, ctxs, ranks


@pytest.mark.parametrize("n_docs", [1, 7, BLOCK, BLOCK + 1, 1000])
def test_roundtrip(n_docs):
    rng = np.random.default_rng(42 + n_docs)
    arrs = make_postings(rng, n_docs)
    blob = encode_postings(*arrs)
    d = decode_postings(blob)
    np.testing.assert_array_equal(d["doc_ids"], arrs[0])
    np.testing.assert_array_equal(d["tfs"], arrs[1])
    np.testing.assert_array_equal(d["doclens"], arrs[2])
    np.testing.assert_array_equal(d["positions"], arrs[3])
    np.testing.assert_array_equal(d["ctxs"], arrs[4])
    np.testing.assert_array_equal(d["ranks"], arrs[5])


def test_headers_only_matches_full():
    rng = np.random.default_rng(7)
    arrs = make_postings(rng, 300)
    blob = encode_postings(*arrs)
    h = decode_headers(blob)
    f = decode_postings(blob)
    for k in ("doc_ids", "tfs", "doclens", "block_max_tf", "block_min_dl"):
        np.testing.assert_array_equal(h[k], f[k])


def test_block_max_metadata():
    rng = np.random.default_rng(3)
    arrs = make_postings(rng, 2 * BLOCK + 17)
    blob = encode_postings(*arrs)
    d = decode_headers(blob)
    tfs, dls = arrs[1], arrs[2]
    for bi in range(len(d["block_max_tf"])):
        lo, hi = bi * BLOCK, min((bi + 1) * BLOCK, len(tfs))
        assert d["block_max_tf"][bi] == tfs[lo:hi].max()
        assert d["block_min_dl"][bi] == dls[lo:hi].min()


def test_empty_blob():
    z = np.empty(0, dtype=np.uint64)
    blob = encode_postings(z, z, z, z, z, z)
    d = decode_postings(blob)
    assert len(d["doc_ids"]) == 0


@settings(max_examples=30, deadline=None)
@given(st.integers(1, 50), st.integers(0, 2 ** 32))
def test_roundtrip_property(n_docs, seed):
    rng = np.random.default_rng(seed)
    arrs = make_postings(rng, n_docs)
    d = decode_postings(encode_postings(*arrs))
    np.testing.assert_array_equal(d["doc_ids"], arrs[0])
    np.testing.assert_array_equal(d["positions"], arrs[3])


def _blob(doc_ids, tf=1, dl=10, base_pos=5):
    doc_ids = np.array(sorted(doc_ids), dtype=np.uint64)
    n = len(doc_ids)
    tfs = np.full(n, tf, dtype=np.uint64)
    positions = np.concatenate(
        [np.arange(base_pos, base_pos + tf, dtype=np.uint64) for _ in range(n)])
    ctxs = np.zeros(n * tf, dtype=np.uint64)
    return encode_postings(doc_ids, tfs,
                           np.full(n, dl, dtype=np.uint64), positions,
                           ctxs, np.zeros(n, dtype=np.uint64))


def test_merge_newest_wins():
    # RdbListTest MergeTestPosdbVerifyListOrder analog
    old = _blob([10, 20, 30], tf=1, dl=10)
    new = _blob([20], tf=3, dl=99)
    d = decode_postings(merge_blobs([old, new]))
    np.testing.assert_array_equal(d["doc_ids"], [10, 20, 30])
    assert d["tfs"][1] == 3  # doc 20 replaced by the newer version
    assert d["doclens"][1] == 99


def test_merge_delete_annihilates():
    # MergeTestPosdbVerifyRemoveNegRecords analog
    b = _blob([1, 2, 3, 4])
    d = decode_postings(
        merge_blobs([b], deleted_doc_ids=np.array([2, 4], dtype=np.uint64)))
    np.testing.assert_array_equal(d["doc_ids"], [1, 3])


def test_merge_multiway_order():
    b1 = _blob([5, 50])
    b2 = _blob([10, 40])
    b3 = _blob([1, 100])
    d = decode_postings(merge_blobs([b1, b2, b3]))
    np.testing.assert_array_equal(d["doc_ids"], [1, 5, 10, 40, 50, 100])

    # multi-block generations (> BLOCK docs each) whose doc sets
    # overlap, plus deletions: byte-identical to encoding the
    # newest-wins survivors directly
    rng = np.random.default_rng(17)
    universe = np.sort(rng.choice(1 << 30, size=900, replace=False))
    gens, newest = [], {}
    for g in range(3):
        docs = np.sort(rng.choice(universe, size=300 + 50 * g,
                                  replace=False)).astype(np.uint64)
        _, tfs, dls, pos, ctx, rks = make_postings(rng, len(docs))
        gens.append(encode_postings(docs, tfs, dls, pos, ctx, rks))
        starts = np.concatenate(([0], np.cumsum(tfs)))
        for i, doc in enumerate(docs.tolist()):
            span = slice(int(starts[i]), int(starts[i + 1]))
            newest[doc] = (tfs[i], dls[i], pos[span], ctx[span], rks[i])
    deleted = rng.choice(universe, size=60, replace=False).astype(
        np.uint64)
    keep = sorted(set(newest) - set(deleted.tolist()))
    assert len(keep) > 2 * BLOCK
    want = encode_postings(
        np.array(keep, dtype=np.uint64),
        np.array([newest[k][0] for k in keep], dtype=np.uint64),
        np.array([newest[k][1] for k in keep], dtype=np.uint64),
        np.concatenate([newest[k][2] for k in keep]),
        np.concatenate([newest[k][3] for k in keep]),
        np.array([newest[k][4] for k in keep], dtype=np.uint64))
    assert merge_blobs(gens, deleted_doc_ids=deleted) == want


@pytest.mark.parametrize("version", [0x43, 0x45, 0x04])
def test_removed_formats_raise_named_error(version):
    """Only codec v4 with the frontier flag (0x44) is read: a v3, v5 or
    flag-less v4 version byte raises a ValueError naming the byte,
    never a silent fallback."""
    from open_source_search_engine_spark.functions.codec import (
        CODEC_VERSION,
        FRONTIER_FLAG,
    )

    blob = _blob([3, 9, 27])
    assert blob[0] == CODEC_VERSION | FRONTIER_FLAG == 0x44
    bad = bytes([version]) + blob[1:]
    for parse in (BlockMeta, decode_postings):
        with pytest.raises(ValueError, match=f"0x{version:02x}"):
            parse(bad)


def test_only_pfor_docid_codec_accepted():
    """The docid_codec keyword names the one format; anything else
    raises instead of writing another layout."""
    import dataclasses

    from open_source_search_engine_spark.config import DEFAULT_CONF

    one = np.ones(1, dtype=np.uint64)
    args = (one * 7, one, one * 10, one * 5, one * 0, one * 0)
    assert encode_postings(*args, docid_codec="pfor") == _blob([7])
    for name in ("varint", "bogus"):
        with pytest.raises(ValueError, match=name):
            encode_postings(*args, docid_codec=name)
        with pytest.raises(ValueError, match=name):
            merge_blobs([_blob([1, 2])], docid_codec=name)
        with pytest.raises(ValueError, match=name):
            dataclasses.replace(DEFAULT_CONF, docid_codec=name)


def test_compression_is_compact():
    # a full posting (docid+tf+dl+pos+ctx+rank) must beat the reference's
    # 12B same-term key (Posdb.h:44-48); dense docid deltas cost 1 byte
    doc_ids = np.arange(100_000, 101_000, dtype=np.uint64)
    n = len(doc_ids)
    blob = _blob_from(doc_ids)
    assert len(blob) < n * 12
    # sparse docids still bounded by ~full-width varints
    sparse = np.sort(np.random.default_rng(1).choice(
        1 << 38, size=n, replace=False)).astype(np.uint64)
    assert len(_blob_from(sparse)) < n * 18


def _blob_from(doc_ids):
    n = len(doc_ids)
    one = np.ones(n, dtype=np.uint64)
    return encode_postings(doc_ids, one, one * 10,
                           np.full(n, 7, dtype=np.uint64),
                           np.zeros(n, dtype=np.uint64),
                           np.zeros(n, dtype=np.uint64))


def test_block_meta_and_selective_decode():
    from open_source_search_engine_spark.functions.codec import (
        BlockMeta,
        decode_blocks,
    )

    rng = np.random.default_rng(9)
    arrs = make_postings(rng, 3 * BLOCK + 5)
    blob = encode_postings(*arrs)
    meta = BlockMeta(blob)
    assert meta.nblocks == 4
    np.testing.assert_array_equal(
        meta.block_base, arrs[0][::BLOCK])
    # decoding only block 2 yields exactly that slice
    d = decode_blocks(blob, [2], with_positions=True, meta=meta)
    lo, hi = 2 * BLOCK, 3 * BLOCK
    np.testing.assert_array_equal(d["doc_ids"], arrs[0][lo:hi])
    np.testing.assert_array_equal(d["tfs"], arrs[1][lo:hi])
    np.testing.assert_array_equal(d["doclens"], arrs[2][lo:hi])
    np.testing.assert_array_equal(d["ranks"], arrs[5][lo:hi])
    ps = int(arrs[1][:lo].sum())
    pe = ps + int(arrs[1][lo:hi].sum())
    np.testing.assert_array_equal(d["positions"], arrs[3][ps:pe])
    np.testing.assert_array_equal(d["ctxs"], arrs[4][ps:pe])
    assert d["blocks_decoded"] == 1


def test_blocks_for_candidates_seek():
    from open_source_search_engine_spark.functions.codec import (
        BlockMeta,
        blocks_for_candidates,
    )

    doc_ids = np.arange(0, 10 * BLOCK, dtype=np.uint64) * 10
    blob = _blob_from(doc_ids)
    meta = BlockMeta(blob)
    # candidates inside blocks 0 and 7 only
    cands = np.array([int(doc_ids[5]), int(doc_ids[7 * BLOCK + 3])],
                     dtype=np.uint64)
    sel = blocks_for_candidates(meta, cands)
    assert sel.tolist() == [0, 7]
    # candidates beyond every block base: only the open-ended last block
    # is selected (its end is unknown without decoding; the row-level
    # mask removes false positives afterwards)
    tail = blocks_for_candidates(
        meta, np.array([10 * BLOCK * 10 + 5], dtype=np.uint64))
    assert tail.tolist() == [meta.nblocks - 1]
    # candidates below every docId: nothing selected
    low = blocks_for_candidates(
        meta, np.array([], dtype=np.uint64))
    assert low.tolist() == []


def test_wand_prune_blocks_bound():
    from open_source_search_engine_spark.functions.codec import (
        BlockMeta,
        wand_prune_blocks,
    )

    # block 0: tf=1, dl=100 (weak); block 1: tf=50, dl=10 (strong)
    n = 2 * BLOCK
    doc_ids = np.arange(n, dtype=np.uint64)
    tfs = np.ones(n, dtype=np.uint64)
    tfs[BLOCK:] = 50
    dls = np.full(n, 100, dtype=np.uint64)
    dls[BLOCK:] = 10
    positions = np.repeat(np.uint64(7), int(tfs.sum()))
    # positions must ascend within doc: doc tf>1 -> make them increase
    pos = []
    for tf in tfs:
        pos.extend(range(5, 5 + int(tf)))
    positions = np.array(pos, dtype=np.uint64)
    ctxs = np.zeros(int(tfs.sum()), dtype=np.uint64)
    blob = encode_postings(doc_ids, tfs, dls, positions, ctxs,
                           np.zeros(n, dtype=np.uint64))
    meta = BlockMeta(blob)
    idf, k1, b, avgdl = 1.0, 1.2, 0.75, 50.0
    tfv, dlv = 50.0, 10.0
    strong_ub = idf * (tfv * 2.2) / (tfv + k1 * (1 - b + b * dlv / avgdl))
    sel = wand_prune_blocks(meta, idf, k1, b, avgdl,
                            threshold=strong_ub - 1e-9)
    assert sel.tolist() == [1]  # weak block pruned
    sel_all = wand_prune_blocks(meta, idf, k1, b, avgdl, threshold=0.0)
    assert sel_all.tolist() == [0, 1]


def test_encode_postings_many_byte_identical():
    """Bulk encoder must produce byte-identical blobs to the per-run
    reference encoder — including MULTI-BLOCK runs (> BLOCK docs),
    which since round 3 also route through the bulk path (the per-run
    encode_postings calls were the segment stage's hottest path)."""
    import numpy as np

    from open_source_search_engine_spark.functions.codec import (
        encode_postings,
        encode_postings_many,
    )

    rng = np.random.RandomState(7)
    runs = []
    # single-block shapes, exact block boundaries (128, 256), one-over
    # (129), and large multi-block (500)
    for nd in (1, 1, 2, 5, 128, 1, 37, 129, 256, 500, 128, 3):
        docs = np.sort(np.unique(
            rng.randint(0, 1 << 38, size=nd * 3).astype(np.uint64)))[:nd]
        nd = len(docs)
        tfs = rng.randint(1, 5, size=nd).astype(np.uint64)
        dls = rng.randint(1, 5000, size=nd).astype(np.uint64)
        rks = rng.randint(0, 1024, size=nd).astype(np.uint64)
        npos = int(tfs.sum())
        pos = np.concatenate([
            np.sort(rng.randint(0, 1 << 18, size=int(t))) for t in tfs
        ]).astype(np.uint64)
        ctx = rng.randint(0, 1 << 19, size=npos).astype(np.uint64)
        runs.append((docs, tfs, dls, rks, pos, ctx))

    want = [encode_postings(d, t, dl, p, c, r)
            for d, t, dl, r, p, c in runs]
    got = encode_postings_many(
        np.array([len(r[0]) for r in runs], dtype=np.int64),
        np.concatenate([r[0] for r in runs]),
        np.concatenate([r[1] for r in runs]),
        np.concatenate([r[2] for r in runs]),
        np.concatenate([r[3] for r in runs]),
        np.concatenate([r[4] for r in runs]),
        np.concatenate([r[5] for r in runs]),
    )
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g == w


@given(st.integers(1, 400), st.integers(0, 2 ** 32))
@settings(max_examples=30, deadline=None)
def test_v3_block_bounds_property(n_docs, seed):
    """The per-block summaries must match a brute-force recompute:
    bctx packs the block's hashgroup mask + max den/div/spam ranks,
    bmin_pos/bmax_pos the block's position-value range."""
    from open_source_search_engine_spark.functions.codec import (
        BLOCK,
        BlockMeta,
        pack_block_ctx,
        unpack_block_ctx,
    )

    rng = np.random.default_rng(seed)
    arrs = make_postings(rng, n_docs)
    doc_ids, tfs, dls, poss, ctxs, ranks = arrs
    meta = BlockMeta(encode_postings(*arrs))
    pos_cum = np.concatenate(([0], np.cumsum(tfs)))
    for bi in range(meta.nblocks):
        s, e = bi * BLOCK, min((bi + 1) * BLOCK, n_docs)
        ps, pe = int(pos_cum[s]), int(pos_cum[e])
        if pe == ps:
            continue
        assert int(meta.bctx[bi]) == pack_block_ctx(ctxs[ps:pe])
        assert int(meta.bmin_pos[bi]) == int(poss[ps:pe].min())
        assert int(meta.bmax_pos[bi]) == int(poss[ps:pe].max())
        mask, mden, mdiv, mspam = unpack_block_ctx(
            meta.bctx[bi:bi + 1])
        c = ctxs[ps:pe].astype(np.uint32)
        assert int(mden[0]) == int(((c >> 10) & 0x1F).max())
        assert int(mdiv[0]) == int(((c >> 6) & 0xF).max())
        assert int(mspam[0]) == int(((c >> 2) & 0xF).max())


@given(st.integers(1, 16), st.integers(1, 48), st.integers(0, 2 ** 32),
       st.booleans())
@settings(max_examples=40, deadline=None)
def test_png_codec_property(h, w, seed, gray):
    """Stdlib PNG codec round-trips arbitrary rasters bit-exactly
    through every filter the encoder emits (row % 5 covers all five)."""
    from open_source_search_engine_spark.ops.multimodal import (
        png_decode,
        png_encode,
    )

    rng = np.random.default_rng(seed)
    shape = (h, w) if gray else (h, w, 3)
    px = rng.integers(0, 256, size=shape, dtype=np.uint8)
    assert np.array_equal(png_decode(png_encode(px)), px)


def test_merge_disjoint_blobs_many_byte_identical():
    """Batched C2 merge must produce byte-identical blobs and identical
    stats to per-group merge_disjoint_blobs — including groups with
    duplicate docs across sources (body vs inlink-text partitions) and
    multi-block results."""
    import numpy as np

    from open_source_search_engine_spark.functions.codec import (
        BlockMeta,
        encode_postings,
        merge_disjoint_blobs,
        merge_disjoint_blobs_many,
    )

    rng = np.random.RandomState(11)

    def mk(doc_lo, nd, dup_doc=None):
        docs = np.sort(rng.choice(
            np.arange(doc_lo, doc_lo + nd * 4), size=nd,
            replace=False).astype(np.uint64))
        if dup_doc is not None:
            docs[0] = dup_doc
            docs = np.sort(docs)
        tfs = rng.randint(1, 4, size=nd).astype(np.uint64)
        dls = rng.randint(10, 900, size=nd).astype(np.uint64)
        rks = rng.randint(0, 512, size=nd).astype(np.uint64)
        pos = np.concatenate([
            np.sort(rng.randint(0, 1 << 16, size=int(t)))
            for t in tfs]).astype(np.uint64)
        ctx = rng.randint(0, 1 << 19, size=int(tfs.sum())).astype(
            np.uint64)
        return encode_postings(docs, tfs, dls, pos, ctx, rks)

    groups = [
        [mk(0, 5), mk(1000, 7)],                       # disjoint, tiny
        [mk(0, 200), mk(2000, 180), mk(5000, 150)],    # multi-block out
        [mk(0, 3, dup_doc=77), mk(500, 4, dup_doc=77)],  # dup doc
        [mk(0, 1), mk(10, 1), mk(20, 1)],
    ]
    want = [merge_disjoint_blobs(g) for g in groups]
    got, df, cf, mx = merge_disjoint_blobs_many(groups)
    assert len(got) == len(want)
    for w, g in zip(want, got):
        assert w == g
    for i, b in enumerate(want):
        m = BlockMeta(b)
        assert df[i] == m.n_docs
        assert cf[i] == int(m.npos.sum())
        assert mx[i] == int(m.bmax_tf.max())


def test_merge_disjoint_combines_duplicate_docs():
    """A doc present in several sources of one generation (body vs
    inlink-text partitions) merges into ONE posting: tf summed, dl and
    rank kept, positions (with their ctx) ascending — checked against a
    dict-built expectation, for the per-group and the batched merge."""
    from open_source_search_engine_spark.functions.codec import (
        merge_disjoint_blobs,
        merge_disjoint_blobs_many,
    )

    rng = np.random.default_rng(23)
    universe = np.sort(rng.choice(1 << 30, size=400, replace=False))
    attrs = {int(d): (int(rng.integers(1, 5000)), int(rng.integers(0, 1024)))
             for d in universe}
    want_docs: dict[int, list] = {}
    sources = []
    for s in range(3):
        docs = np.sort(rng.choice(universe, size=150 + 40 * s,
                                  replace=False))
        tfs = rng.integers(1, 6, size=len(docs))
        pos, ctx = [], []
        for d, t in zip(docs.tolist(), tfs.tolist()):
            # interleaved across sources so the merge must re-sort
            p = np.sort(rng.choice(5000, size=t, replace=False)) * 3 + s
            c = rng.integers(0, 1 << 19, size=t)
            pos.append(p)
            ctx.append(c)
            want_docs.setdefault(d, []).extend(zip(p.tolist(), c.tolist()))
        sources.append(encode_postings(
            docs.astype(np.uint64), tfs.astype(np.uint64),
            np.array([attrs[d][0] for d in docs.tolist()], np.uint64),
            np.concatenate(pos).astype(np.uint64),
            np.concatenate(ctx).astype(np.uint64),
            np.array([attrs[d][1] for d in docs.tolist()], np.uint64)))
    keep = sorted(want_docs)
    assert len(keep) > 2 * BLOCK and len(keep) < sum(
        len(decode_postings(b)["doc_ids"]) for b in sources)
    posts = [sorted(want_docs[d]) for d in keep]
    want = encode_postings(
        np.array(keep, dtype=np.uint64),
        np.array([len(p) for p in posts], dtype=np.uint64),
        np.array([attrs[d][0] for d in keep], dtype=np.uint64),
        np.array([x for p in posts for x, _ in p], dtype=np.uint64),
        np.array([c for p in posts for _, c in p], dtype=np.uint64),
        np.array([attrs[d][1] for d in keep], dtype=np.uint64))
    assert merge_disjoint_blobs(sources) == want
    other = [_blob([1, 2, 3])]
    blobs, df, cf, mx = merge_disjoint_blobs_many([other, sources])
    assert blobs[1] == want
    assert (df[1], cf[1], mx[1]) == (
        len(keep), sum(len(p) for p in posts), max(len(p) for p in posts))


@pytest.mark.parametrize("with_events", [False, True])
def test_compact_merge_bulk_and_per_run_agree(with_events):
    """Compaction's merge body gives the same rows whether it merges a
    batch's runs in one call (bulk) or one run per call (the wide-node
    setting of ``_bulk_merge_ok``)."""
    import pandas as pd

    from open_source_search_engine_spark.index.build import (
        make_compact_merge,
    )

    rng = np.random.default_rng(29)
    universe = np.sort(rng.choice(1 << 30, size=500, replace=False))
    rows = []
    for term in range(6):
        for gen in range(1 + term % 3):
            docs = np.sort(rng.choice(universe, size=40 + 60 * gen,
                                      replace=False)).astype(np.uint64)
            _, tfs, dls, pos, ctx, rks = make_postings(rng, len(docs))
            b = encode_postings(docs, tfs, dls, pos, ctx, rks)
            rows.append((term % 2, term, 0, gen, len(docs),
                         int(tfs.sum()), int(tfs.max()), len(b), b))
    pdf = pd.DataFrame(rows, columns=["bucket", "term_id", "salt", "gen",
                                      "df", "cf", "max_tf", "n_bytes",
                                      "postings"])
    edocs = np.empty(0, dtype=np.uint64)
    egens = np.empty(0, dtype=np.int64)
    if with_events:
        edocs = np.sort(rng.choice(universe, size=80, replace=False))
        egens = rng.integers(-1, 3, size=80)
    out = {bulk: pd.concat(make_compact_merge(edocs, egens, bulk)(
        iter([pdf.iloc[:7], pdf.iloc[7:]])), ignore_index=True)
        for bulk in (True, False)}
    assert len(out[True]) > 0
    pd.testing.assert_frame_equal(out[True], out[False])


def _pinned_postings(nd):
    """Deterministic multi-block postings (no RNG, so the inputs cannot
    drift): doc ids above 2^32, tf 1..11, positions and doc lengths
    needing multi-byte varints."""
    i = np.arange(nd, dtype=np.int64)
    docs = (1 << 33) + np.cumsum(1 + (i * i * 7919) % 5000)
    tfs = 1 + (i * 5) % 11
    k = np.repeat(i, tfs)
    pos = (np.arange(len(k)) - np.repeat(np.cumsum(tfs) - tfs, tfs)) \
        * (1 + k % 200) + k % 97
    ctx = (np.arange(len(k)) * 40503) % (1 << 19)
    return tuple(a.astype(np.uint64) for a in (
        docs, tfs, 20 + (i * 37) % 3000, pos, ctx, (i * 13) % 1024))


# sha256 of the v4+frontier blobs of _pinned_postings(nd); they pin the
# on-disk format, so both encoders must keep producing these bytes
_PINNED_SHA256 = {
    0: "8cd4ae7da223953050b55b0ee9e4d3830f3b35138a0e1b6cc5f6e6b1e52d1314",
    1: "956498368a6dfbd237329e35b7b072e1696f88d562b408f455d61ef29b7b349a",
    3: "fd33668f9c483612a642bba0f312e380588dafb6801c25c419ae6ca9f44e9639",
    300: "5837e576771969f0549764bdcb7f13d62faf88f8486016b0f767f0334e54fb84",
}


def test_v4_blob_bytes_pinned():
    """Format fixture: the scalar and the bulk encoder both write the
    exact bytes of the pinned blobs (one fully spelled out)."""
    import hashlib

    from open_source_search_engine_spark.functions.codec import (
        encode_postings_many,
    )

    def sha(b):
        return hashlib.sha256(b).hexdigest()

    assert encode_postings(*_pinned_postings(1)).hex() == (
        "4401818080802001140203010180400000000000010001140000000000")
    for nd, want in _PINNED_SHA256.items():
        assert sha(encode_postings(*_pinned_postings(nd))) == want
    runs = [_pinned_postings(nd) for nd in (1, 3, 300)]
    got = encode_postings_many(
        np.array([len(r[0]) for r in runs], dtype=np.int64),
        *(np.concatenate([r[j] for r in runs]) for j in (0, 1, 2, 5, 3, 4)))
    assert [sha(b) for b in got] == [_PINNED_SHA256[n] for n in (1, 3, 300)]


def test_merge_disjoint_blobs_many_all_empty_groups():
    """Every blob in every group empty: the batched merge returns empty
    blobs and zero stats instead of raising from an empty concatenate
    (ADVICE r3 — public codec API, even though mini rows never hit it)."""
    import numpy as np

    from open_source_search_engine_spark.functions.codec import (
        encode_postings,
        merge_disjoint_blobs_many,
    )

    e = np.empty(0, dtype=np.uint64)
    empty_blob = encode_postings(e, e, e, e, e, e)
    groups = [[empty_blob], [empty_blob, empty_blob]]
    blobs, df, cf, mx = merge_disjoint_blobs_many(groups)
    assert len(blobs) == 2
    assert list(df) == [0, 0]
    assert list(cf) == [0, 0]
    assert list(mx) == [0, 0]


def test_merge_disjoint_blobs_many_one_empty_group():
    """A mixed batch where ONE group decodes empty: the other groups'
    results must match merge_disjoint_blobs."""
    import numpy as np

    from open_source_search_engine_spark.functions.codec import (
        encode_postings,
        merge_disjoint_blobs,
        merge_disjoint_blobs_many,
    )

    e = np.empty(0, dtype=np.uint64)
    empty_blob = encode_postings(e, e, e, e, e, e)
    docs = np.array([3, 9], dtype=np.uint64)
    tfs = np.array([1, 2], dtype=np.uint64)
    dls = np.array([10, 20], dtype=np.uint64)
    pos = np.array([4, 1, 7], dtype=np.uint64)
    ctx = np.array([0, 0, 0], dtype=np.uint64)
    rks = np.array([5, 6], dtype=np.uint64)
    full = encode_postings(docs, tfs, dls, pos, ctx, rks)
    groups = [[empty_blob], [full]]
    blobs, df, cf, mx = merge_disjoint_blobs_many(groups)
    assert blobs[1] == merge_disjoint_blobs([full])
    assert list(df) == [0, 2]
    assert list(cf) == [0, 3]
    assert mx[1] == 2


def test_merge_empty_blob_lists():
    """ADVICE r4: merging no blobs (or only empty blobs) returns a
    well-formed empty blob instead of a numpy concatenate ValueError —
    both the per-group and the batched merge."""
    from open_source_search_engine_spark.functions.codec import (
        decode_postings,
        encode_postings,
        merge_disjoint_blobs,
        merge_disjoint_blobs_many,
    )

    z = np.empty(0, dtype=np.uint64)
    empty_blob = encode_postings(z, z, z, z, z, z)

    for blobs in ([], [empty_blob], [empty_blob, empty_blob]):
        out = merge_disjoint_blobs(blobs)
        assert len(decode_postings(out)["doc_ids"]) == 0

    blobs, df, cf, mtf = merge_disjoint_blobs_many([[], [empty_blob]])
    assert list(df) == [0, 0] and list(cf) == [0, 0]
    assert all(len(decode_postings(b)["doc_ids"]) == 0 for b in blobs)

    # mixed: one real group + one all-empty group still round-trips
    rng = np.random.default_rng(7)
    d, t, dl, p, c, r = make_postings(rng, 5)
    real = encode_postings(d, t, dl, p, c, r)
    blobs, df, cf, mtf = merge_disjoint_blobs_many([[real], []])
    assert list(df) == [5, 0]
    assert np.array_equal(decode_postings(blobs[0])["doc_ids"], d)
    assert len(decode_postings(blobs[1])["doc_ids"]) == 0
