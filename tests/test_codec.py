from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from neural_search_spark.index.codec import (
    bm25_term_bound,
    decode_ints,
    decode_position_lists,
    decode_postings,
    encode_doc_ids,
    encode_posting_blocks,
    varint_decode,
    varint_encode,
)


def _doc_ids(buf: bytes, base: int, count: int) -> np.ndarray:
    """One delta stream back to ids: the per-block step of the chain."""
    return np.cumsum(decode_ints(buf, count).astype(np.int64)) + base


def _chain_reference(blocks: list[dict], base: int):
    """(doc_ids, tfs, position lists) of one (term, shard) chain, decoded one
    block at a time with ``decode_ints`` — the reference that
    ``decode_postings`` must equal."""
    ids, tfs, pos = [], [], []
    prev = base
    for blk in sorted(blocks, key=lambda b: b["block_id"]):
        n = blk["n_docs"]
        ids.append(_doc_ids(blk["deltas"], prev, n))
        prev = int(ids[-1][-1])
        tfs.append(decode_ints(blk["tfs"], n).astype(np.int64))
        if "positions" in blk:
            pos.extend(decode_position_lists(blk["positions"], tfs[-1]))
    return np.concatenate(ids), np.concatenate(tfs), pos


def _block_table(chains: dict, rng=None) -> pd.DataFrame:
    """{(term, shard): blocks} as one block-row frame, rows shuffled."""
    rows = [
        {"term": term, "shard": shard, **blk}
        for (term, shard), blocks in chains.items()
        for blk in blocks
    ]
    if rng is not None:
        rows = [rows[i] for i in rng.permutation(len(rows))]
    return pd.DataFrame(rows)


def test_varint_roundtrip_basic():
    vals = np.array([0, 1, 127, 128, 129, 16383, 16384, 2**32, 2**63 - 1], dtype=np.uint64)
    assert (varint_decode(varint_encode(vals)) == vals).all()


def test_varint_empty():
    assert varint_encode(np.array([], dtype=np.uint64)) == b""
    assert varint_decode(b"").size == 0


@given(st.lists(st.integers(min_value=0, max_value=2**40), max_size=500))
@settings(max_examples=50, deadline=None)
def test_varint_roundtrip_property(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert (varint_decode(varint_encode(arr), len(vals)) == arr).all()


def test_varint_against_manual_leb128():
    # 300 = 0b100101100 -> 0xAC 0x02
    assert varint_encode(np.array([300], dtype=np.uint64)) == b"\xac\x02"
    assert varint_encode(np.array([1, 300], dtype=np.uint64)) == b"\x01\xac\x02"


@given(
    st.lists(st.integers(min_value=0, max_value=10**7), min_size=1, max_size=300, unique=True)
)
@settings(max_examples=30, deadline=None)
def test_doc_id_delta_roundtrip(ids):
    ids = np.array(sorted(ids), dtype=np.int64)
    base = int(ids[0]) - 1 if ids[0] > 0 else 0
    # delta coding requires first >= base
    buf = encode_doc_ids(ids, 0)
    assert (_doc_ids(buf, 0, len(ids)) == ids).all()


def test_posting_block_roundtrip_and_bounds():
    from neural_search_spark.index.codec import block_score_bound

    rng = np.random.default_rng(7)
    n = 1000
    doc_ids = np.sort(rng.choice(np.arange(100000, 165536), size=n, replace=False))
    tfs = rng.integers(1, 30, size=n)
    dls = rng.integers(20, 400, size=n)
    blocks = encode_posting_blocks(doc_ids, tfs, dls, shard_base=100000, block_size=128)
    got = decode_postings(_block_table({("t", 1): blocks}), docs_per_shard=100000)
    got_ids, got_tfs = got[("t", 1)]
    assert (got_ids == doc_ids).all()
    assert (got_tfs == tfs).all()
    # stats-independent metadata: max_tf / min_dl are block extrema, and the
    # query-time bound dominates every per-posting score for ANY stats
    for idf, k1, b, avgdl in [(2.5, 1.5, 0.75, 210.0), (0.4, 1.2, 0.75, 57.0)]:
        scores = bm25_term_bound(tfs, dls, idf, k1, b, avgdl)
        for i, blk in enumerate(blocks):
            sl = slice(i * 128, (i + 1) * 128)
            assert blk["max_tf"] == tfs[sl].max()
            assert blk["min_dl"] == dls[sl].min()
            assert blk["first_doc_id"] == doc_ids[sl][0]
            assert blk["last_doc_id"] == doc_ids[sl][-1]
            bound = block_score_bound(
                np.array([blk["max_tf"]]), np.array([blk["min_dl"]]), idf, k1, b, avgdl
            )[0]
            assert bound >= scores[sl].max() - 1e-12


def test_compression_is_compact():
    # dense consecutive ids: all deltas are 1 -> bit-packed at 1 bit/delta
    ids = np.arange(50000, 51000, dtype=np.int64)
    buf = encode_doc_ids(ids, 50000 - 1)
    assert len(buf) == 2 + 1000 // 8  # scheme byte + width byte + packed bits
    assert (_doc_ids(buf, 50000 - 1, 1000) == ids).all()


def test_bitpack_roundtrip():
    from neural_search_spark.index.codec import pack_bits, unpack_bits

    rng = np.random.default_rng(3)
    for width in (1, 4, 7, 13, 32, 56):
        vals = rng.integers(0, 2**width, size=257, dtype=np.uint64)
        assert (unpack_bits(pack_bits(vals, width), width, 257) == vals).all()


@given(st.lists(st.integers(min_value=0, max_value=2**40), max_size=400))
@settings(max_examples=50, deadline=None)
def test_encode_ints_roundtrip_property(vals):
    from neural_search_spark.index.codec import decode_ints, encode_ints

    arr = np.array(vals, dtype=np.uint64)
    assert (decode_ints(encode_ints(arr), len(vals)) == arr).all()


def test_encode_ints_picks_smaller_scheme():
    from neural_search_spark.index.codec import decode_ints, encode_ints

    # dense small deltas: packed (4 bits/val) beats varint (8 bits/val)
    dense = np.full(128, 9, dtype=np.uint64)
    b = encode_ints(dense)
    assert b[0] == 1 and len(b) == 2 + 64  # scheme+width + 128*4 bits
    assert (decode_ints(b, 128) == dense).all()
    # one huge outlier blows up the fixed width -> varint wins
    sparse = np.array([1, 2, 3, 2**50], dtype=np.uint64)
    b2 = encode_ints(sparse)
    assert b2[0] == 0
    assert (decode_ints(b2, 4) == sparse).all()


def test_patched_pfor_wins_on_outlier_blocks():
    from neural_search_spark.index.codec import decode_ints, encode_ints, pack_bits, varint_encode

    # the PFor sweet spot: a block of tiny gaps with a few large outliers —
    # fixed-width must widen every slot, varint pays a byte per tiny value
    rng = np.random.default_rng(11)
    v = np.concatenate(
        [rng.integers(1, 8, 120), rng.integers(2**20, 2**30, 8)]
    ).astype(np.uint64)
    b = encode_ints(v)
    assert b[0] == 2, "patched scheme should win this block shape"
    assert (decode_ints(b, len(v)) == v).all()
    assert len(b) < 1 + len(varint_encode(v))
    assert len(b) < 2 + len(pack_bits(v, int(v.max()).bit_length()))
    # a large first delta against the shard base (block 0 of a late shard)
    first = np.concatenate([[2**34], rng.integers(1, 4, 127)]).astype(np.uint64)
    bf = encode_ints(first)
    assert bf[0] == 2
    assert (decode_ints(bf, 128) == first).all()


@given(
    st.lists(st.integers(min_value=0, max_value=2**12), min_size=4, max_size=300),
    st.lists(st.integers(min_value=2**30, max_value=2**55), min_size=1, max_size=10),
)
@settings(max_examples=50, deadline=None)
def test_patched_pfor_roundtrip_property(small, outliers):
    from neural_search_spark.index.codec import decode_ints, encode_ints

    arr = np.array(small + outliers, dtype=np.uint64)
    assert (decode_ints(encode_ints(arr), len(arr)) == arr).all()


@given(
    st.lists(
        st.lists(
            st.integers(min_value=1, max_value=500_000), min_size=1, max_size=40
        ),
        min_size=0,
        max_size=30,
    )
)
@settings(max_examples=80, deadline=None)
def test_position_lists_roundtrip_property(raw_lists):
    """Position streams roundtrip for arbitrary per-doc position lists
    (sorted+deduped to the strictly-increasing invariant the tokenizer
    guarantees)."""
    from neural_search_spark.index.codec import (
        decode_position_lists,
        encode_position_lists,
    )

    pos_lists = [np.unique(np.asarray(xs, dtype=np.int64)) for xs in raw_lists]
    tfs = np.array([len(p) for p in pos_lists], dtype=np.int64)
    got = decode_position_lists(encode_position_lists(pos_lists), tfs)
    assert len(got) == len(pos_lists)
    for a, b in zip(got, pos_lists):
        assert np.array_equal(a, b)


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=100_000),  # doc id offsets
            st.integers(min_value=1, max_value=50),       # tf
            st.integers(min_value=1, max_value=400),      # doc_len
        ),
        min_size=1,
        max_size=120,
        unique_by=lambda t: t[0],
    ),
    st.integers(min_value=2, max_value=64),
)
@settings(max_examples=40, deadline=None)
def test_positional_block_roundtrip_property(rows, block_size):
    base = 1_000_000
    rows = sorted(rows)
    ids = np.array([base + r[0] for r in rows], dtype=np.int64)
    tfs = np.array([r[1] for r in rows], dtype=np.int64)
    dls = np.array([max(r[1], r[2]) for r in rows], dtype=np.int64)
    rng = np.random.default_rng(0)
    pos = [
        np.sort(rng.choice(np.arange(1, 10_000), size=t, replace=False))
        for t in tfs
    ]
    blocks = encode_posting_blocks(
        ids, tfs, dls, shard_base=base, block_size=block_size, pos_lists=pos
    )
    [(gi, gt, gp)] = decode_postings(_block_table({("t", 1): blocks}), base).values()
    assert np.array_equal(gi, ids) and np.array_equal(gt, tfs)
    for a, b in zip(gp, pos):
        assert np.array_equal(a, b)


def _chain_ids(rng, style: str, base: int, span: int) -> np.ndarray:
    """Sorted doc ids of one chain, shaped to pick one int scheme."""
    if style == "dense":  # every gap is 1: bit-packed
        start = int(rng.integers(0, span // 2))
        return base + start + np.arange(int(rng.integers(1, 300)))
    if style == "outliers":  # tiny gaps plus a few jumps: patched
        gaps = rng.integers(1, 4, size=int(rng.integers(64, 300)))
        gaps[rng.choice(gaps.size, 3, replace=False)] = rng.integers(1 << 14, 1 << 16, 3)
        return base + np.cumsum(gaps)
    # a far first doc and at most two close ones: varint
    start = int(rng.integers(1 << 16, span // 2))
    return base + start + np.cumsum(rng.integers(0, 3, size=int(rng.integers(1, 4))))


@pytest.mark.parametrize("arrow", [False, True])
@pytest.mark.parametrize("positional", [False, True])
def test_decode_postings_equals_block_chain(positional, arrow):
    """``decode_postings`` equals the per-block ``decode_ints`` chain for
    many terms and shards, blocks of every int scheme, shuffled rows, with
    and without positions, from a pandas frame or an Arrow table."""
    span = 1 << 20
    rng = np.random.default_rng(5)
    styles = ["dense", "outliers", "varint"]
    chains: dict = {}
    for i, term in enumerate(["w1", "w0", "w3", "w2", "w5", "w4"]):
        for j, shard in enumerate(rng.choice(5, size=3, replace=False).tolist()):
            ids = _chain_ids(rng, styles[(i + j) % 3], shard * span, span)
            tfs = rng.integers(1, 9, size=ids.size)
            pos = (
                [np.sort(rng.choice(np.arange(1, 5000), t, replace=False)) for t in tfs]
                if positional
                else None
            )
            chains[(term, shard)] = encode_posting_blocks(
                ids, tfs, tfs + 10, shard * span,
                block_size=int(rng.choice([8, 32, 128])), pos_lists=pos,
            )
    schemes = {blk["deltas"][0] for blocks in chains.values() for blk in blocks}
    assert schemes == {0, 1, 2}
    table = _block_table(chains, rng)
    if arrow:
        table = pa.Table.from_pandas(table, preserve_index=False)
    got = decode_postings(table, span)
    assert list(got) == sorted(chains)
    for (term, shard), blocks in chains.items():
        ref_ids, ref_tfs, ref_pos = _chain_reference(blocks, shard * span)
        chain = got[(term, shard)]
        assert len(chain) == (3 if positional else 2)
        assert chain[0].dtype == np.int64 and np.array_equal(chain[0], ref_ids)
        assert chain[1].dtype == np.int64 and np.array_equal(chain[1], ref_tfs)
        if positional:
            assert len(chain[2]) == len(ref_pos)
            assert all(np.array_equal(a, b) for a, b in zip(chain[2], ref_pos))
    assert decode_postings(table.slice(0, 0) if arrow else table.iloc[:0], span) == {}


@given(st.text(alphabet="abcdefgisuvy", min_size=0, max_size=12))
@settings(max_examples=300, deadline=None)
def test_s_stem_idempotent_property(word):
    """Stemming is a projection: stem(stem(w)) == stem(w) for any word —
    required because query-side folding may see already-folded terms (e.g.
    a stemmed index queried through the stemmed suggest path)."""
    from neural_search_spark.functions.stem import s_stem_py

    once = s_stem_py(word)
    assert s_stem_py(once) == once


@given(
    st.text(alphabet="abcdxyz*?.[]()", min_size=0, max_size=10),
    st.text(alphabet="abcdxyz.", min_size=0, max_size=12),
)
@settings(max_examples=300, deadline=None)
def test_wildcard_regex_matches_fnmatch(pattern, candidate):
    """The wildcard->regex translation agrees with Python's fnmatch on the
    * and ? semantics for any pattern/candidate pair (fnmatchcase has no
    other special chars in these alphabets except [] — excluded there)."""
    import fnmatch
    import re

    from neural_search_spark.query.prefix import wildcard_regex

    if "[" in pattern or "]" in pattern:
        # fnmatch treats [] as char classes; our wildcard language does not
        return
    want = fnmatch.fnmatchcase(candidate, pattern)
    got = re.fullmatch(wildcard_regex(pattern)[1:-1], candidate) is not None
    assert got == want, (pattern, candidate)


def test_decode_ints_many_equals_per_buffer():
    """Batched decode == per-buffer decode across every scheme mix: varint
    (sparse), bit-packed (dense same-width runs), patched PFor (outliers),
    empty and size-1 streams."""
    import numpy as np

    from neural_search_spark.index.codec import (
        decode_ints,
        decode_ints_many,
        encode_ints,
    )

    rng = np.random.default_rng(7)
    arrays = [
        rng.integers(0, 6, size=128).astype(np.uint64),          # packed
        rng.integers(0, 6, size=128).astype(np.uint64),          # packed same shape
        rng.integers(0, 1 << 40, size=32).astype(np.uint64),     # varint-ish
        np.concatenate(                                          # patched
            [rng.integers(0, 4, size=120), rng.integers(1 << 20, 1 << 30, size=8)]
        ).astype(np.uint64),
        np.zeros(0, dtype=np.uint64),                            # empty
        np.array([0], dtype=np.uint64),                          # single zero
        rng.integers(0, 3, size=77).astype(np.uint64),           # packed odd count
    ]
    bufs = [encode_ints(a) for a in arrays]
    counts = [a.size for a in arrays]
    got = decode_ints_many(bufs, counts)
    for g, buf, c, a in zip(got, bufs, counts, arrays):
        ref = decode_ints(buf, c)
        assert g.dtype == np.uint64 and np.array_equal(g, ref) and np.array_equal(g, a)
