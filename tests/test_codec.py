from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from neural_search_spark.index.codec import (
    bm25_saturation,
    bm25_score_range,
    bm25_term_bound,
    decode_blocks,
    decode_ints,
    decode_postings,
    encode_ints_many,
    encode_postings,
    varint_decode,
    varint_encode,
)


def pack_bits(values: np.ndarray, width: int) -> bytes:
    """Fixed-width little-endian bit-packing of one stream."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0 or width == 0:
        return b""
    bits = ((v[:, None] >> np.arange(width, dtype=np.uint64)) & np.uint64(1)).astype(
        np.uint8
    )
    return np.packbits(bits.ravel(), bitorder="little").tobytes()


def _pfor_encode(v: np.ndarray, width: int) -> bytes | None:
    """Scheme-2 payload [width u8][exc_len u16 LE][varint: n_exc, position
    gaps, highs][packed low bits], or None when the exception bytes do not
    fit the u16 header."""
    highs = v >> np.uint64(width)
    pos = np.flatnonzero(highs)
    exc_stream = np.concatenate(
        (
            np.array([pos.size], dtype=np.uint64),
            np.diff(pos, prepend=0).astype(np.uint64),
            highs[pos],
        )
    )
    exc = varint_encode(exc_stream)
    if len(exc) > 0xFFFF:
        return None
    packed = pack_bits(v & np.uint64((1 << width) - 1), width)
    return bytes([width]) + len(exc).to_bytes(2, "little") + exc + packed


def _candidates(values) -> list[bytes]:
    """Every encoding the int codec considers for one stream, in its trial
    order: varint; packed at the max width (<= 56 bits); patched at the
    distinct 50th/75th/90th-percentile widths below it, in set order."""
    v = np.asarray(values, dtype=np.uint64)
    out = [bytes([0]) + varint_encode(v)]
    if v.size == 0:
        return out
    max_width = max(1, int(v.max()).bit_length())
    if max_width <= 56:
        out.append(bytes([1, max_width]) + pack_bits(v, max_width))
        if v.size >= 4:
            widths = {
                max(1, int(np.partition(v, k)[k]).bit_length())
                for k in (v.size // 2, (3 * v.size) // 4, (9 * v.size) // 10)
            }
            cands = (_pfor_encode(v, w) for w in widths if w < max_width)
            out += [bytes([2]) + c for c in cands if c is not None]
    return out


def encode_ints_ref(values) -> bytes:
    """The scalar reference encoder: the first smallest candidate (a later
    candidate wins only if strictly smaller). ``encode_ints_many`` must
    match it byte for byte."""
    return min(_candidates(values), key=len)


def decode_position_lists(buf: bytes, tfs: np.ndarray) -> list[np.ndarray]:
    """One block's position stream back to per-doc lists; ``tfs`` gives
    the segment lengths."""
    tfs = np.asarray(tfs, dtype=np.int64)
    if tfs.size == 0:
        return []
    vals = decode_ints(buf, int(tfs.sum())).astype(np.int64)
    return [np.cumsum(seg) for seg in np.split(vals, np.cumsum(tfs)[:-1])]


def _blocks(ids, tfs, dls, shard, span, block_size=128, pos=None) -> list[dict]:
    """One (term, shard) chain's block rows from ``encode_postings``, in
    block_id order."""
    frame = pd.DataFrame(
        {"shard": shard, "term": "t", "doc_id": ids, "tf": tfs, "doc_len": dls}
    )
    if pos is not None:
        frame["positions"] = pd.Series(list(pos), dtype=object)
    blocks = encode_postings(frame, span, block_size)
    return blocks.drop(columns=["shard", "term"]).to_dict("records")


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
    [blk] = _blocks(ids, 1, 1, 1, 0, block_size=len(ids))
    buf = blk["deltas"]
    assert (_doc_ids(buf, 0, len(ids)) == ids).all()


def test_posting_block_roundtrip_and_bounds():
    from neural_search_spark.index.codec import block_score_bound

    rng = np.random.default_rng(7)
    n = 1000
    doc_ids = np.sort(rng.choice(np.arange(100000, 165536), size=n, replace=False))
    tfs = rng.integers(1, 30, size=n)
    dls = rng.integers(20, 400, size=n)
    blocks = _blocks(doc_ids, tfs, dls, 1, 100000, block_size=128)
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
    [blk] = _blocks(ids, 1, 1, 1, 50000 - 1, block_size=len(ids))
    buf = blk["deltas"]
    assert len(buf) == 2 + 1000 // 8  # scheme byte + width byte + packed bits
    assert (_doc_ids(buf, 50000 - 1, 1000) == ids).all()


def test_bitpack_roundtrip():
    from neural_search_spark.index.codec import unpack_bits

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
    from neural_search_spark.index.codec import decode_ints, encode_ints

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
    pos_lists = [np.unique(np.asarray(xs, dtype=np.int64)) for xs in raw_lists]
    tfs = np.array([len(p) for p in pos_lists], dtype=np.int64)
    # every list one posting of one block; no postings, no block
    blocks = _blocks(np.arange(tfs.size), tfs, tfs, 0, 1, max(1, tfs.size), pos_lists)
    got = decode_position_lists(blocks[0]["positions"] if blocks else b"", tfs)
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
    blocks = _blocks(ids, tfs, dls, 1, base, block_size=block_size, pos=pos)
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
            chains[(term, shard)] = _blocks(
                ids, tfs, tfs + 10, shard, span,
                block_size=int(rng.choice([8, 32, 128])), pos=pos,
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


@given(
    st.integers(min_value=0, max_value=2**32 - 1),
    st.integers(min_value=1, max_value=6),
    st.booleans(),
    st.booleans(),
)
@settings(max_examples=30, deadline=None)
def test_decode_blocks_by_row_group_equals_decode_postings(seed, n_groups, shuffle, positional):
    """Posting blocks cut into row groups (rows shuffled or in (shard,
    term, block_id) order) and decoded group by group with
    ``decode_blocks`` reassemble to exactly ``decode_postings``' chains,
    which equal the encoded postings. Local ids and tfs (positions, on a
    positional index) reach past 65,535, so the uint32 outputs are used."""
    rng = np.random.default_rng(seed)
    span = 1 << 17
    rows = []
    for term in ("a", "b", "c", "d"):
        for shard in rng.choice(3, size=int(rng.integers(1, 4)), replace=False).tolist():
            n = int(rng.integers(1, 300))
            local = np.sort(rng.choice(span, size=n, replace=False))
            tfs = rng.integers(1, 4 if positional else 1 << 17, size=n)
            for d, tf in zip(local.tolist(), tfs.tolist()):
                row = {"shard": shard, "term": term, "doc_id": shard * span + d,
                       "tf": tf, "doc_len": tf}
                if positional:
                    row["positions"] = np.sort(rng.choice(1 << 17, tf, replace=False)) + 1
                rows.append(row)
    frame = pd.DataFrame(rows)
    blocks = encode_postings(frame, span, int(rng.choice([4, 16, 128])))
    if shuffle:
        blocks = blocks.iloc[rng.permutation(len(blocks))].reset_index(drop=True)
    cuts = np.sort(rng.choice(np.arange(1, len(blocks) + 1), n_groups - 1))
    parts: dict = {}
    for lo, hi in zip(np.concatenate(([0], cuts)), np.concatenate((cuts, [len(blocks)]))):
        g = blocks.iloc[lo:hi]
        shard = g["shard"].to_numpy()
        flat = decode_blocks(
            g["first_doc_id"].to_numpy(), g["n_docs"].to_numpy(),
            g["deltas"].tolist(), g["tfs"].tolist(),
            *([g["positions"].tolist()] if positional else []), base=shard * span,
        )
        assert len(flat) == (3 if positional else 2)
        for arr in flat:
            top = int(arr.max()) if arr.size else 0
            assert arr.dtype == (np.uint16 if top < 1 << 16 else np.uint32)
        ends = np.cumsum(g["n_docs"].to_numpy())
        pos_ends = np.cumsum(flat[1].astype(np.int64))
        for (t, sh, e, n) in zip(g["term"], shard.tolist(), ends.tolist(), g["n_docs"]):
            ids = flat[0][e - n : e].astype(np.int64) + sh * span
            tfs = flat[1][e - n : e].astype(np.int64)
            part = [(i, f) for i, f in zip(ids.tolist(), tfs.tolist())]
            if positional:
                p_end = pos_ends[e - n : e]
                part = [
                    (i, f, flat[2][pe - f : pe].astype(np.int64).tolist())
                    for i, f, pe in zip(ids.tolist(), tfs.tolist(), p_end.tolist())
                ]
            parts.setdefault((t, sh), []).extend(part)
    want = decode_postings(blocks, span)
    assert sorted(parts) == list(want)
    for key, chain in want.items():
        got = sorted(parts[key])
        assert [p[0] for p in got] == chain[0].tolist()
        assert [p[1] for p in got] == chain[1].tolist()
        if positional:
            assert [p[2] for p in got] == [x.tolist() for x in chain[2]]
    src = frame.sort_values(["term", "shard", "doc_id"])
    assert np.concatenate([c[0] for c in want.values()]).tolist() == src["doc_id"].tolist()
    assert np.concatenate([c[1] for c in want.values()]).tolist() == src["tf"].tolist()


def score_range_ref(chains, doc_len, lo, hi, k1, b, avgdl, positive_only):
    """Per-term accumulation over a zeroed dense array, terms in sorted
    order: the scorer ``bm25_score_range`` must equal bit for bit."""
    scores = np.zeros(hi - lo, dtype=np.float64)
    touched = np.zeros(hi - lo, dtype=bool)
    for term in sorted(chains):
        ids, tfs, weight = chains[term]
        keep = (ids >= lo) & (ids < hi)
        loc = ids[keep] - lo
        scores[loc] += bm25_term_bound(tfs[keep], doc_len[loc], weight, k1, b, avgdl)
        touched[loc] = True
    cand = np.flatnonzero(touched)
    s = scores[cand]
    if positive_only:
        cand, s = cand[s > 0], s[s > 0]
    return cand + lo, s


@st.composite
def _score_ranges(draw):
    """Chains over a small doc universe (so they overlap), weights that may
    be zero or negative (match mode), and a range that cuts them."""
    rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
    base = draw(st.sampled_from([0, 64, 1 << 20]))
    n = draw(st.integers(1, 60))
    chains = {}
    for term in draw(st.permutations("qwertyu"))[: draw(st.integers(1, 7))]:
        local = np.flatnonzero(rng.random(n) < draw(st.floats(0.0, 1.0)))
        sign = draw(st.sampled_from([0.0, -0.0, -1.0, 1.0]))
        chains[term] = (base + local, rng.integers(1, 30, local.size), sign * rng.uniform(0.1, 12))
    a, z = sorted(draw(st.lists(st.integers(0, n), min_size=2, max_size=2)))
    doc_len = rng.integers(1, 400, n).astype(np.float64)
    return chains, doc_len, base, base + a, base + z


@given(_score_ranges(), st.booleans(), st.sampled_from([(1.2, 0.75), (0.9, 0.4), (2.0, 1.0)]))
@settings(max_examples=300, deadline=None)
def test_bm25_score_range_matches_dense_accumulation(case, positive_only, params):
    """``bm25_score_range`` over ``bm25_saturation`` chains returns the
    same candidates and bit-identical scores as ``bm25_term_bound`` summed
    into a zeroed array with one ``+=`` per sorted term, for any order the
    chains come in: zero-score docs stay candidates in match mode, and a
    chain cut by the range contributes only its in-range ids."""
    chains, doc_len, base, lo, hi = case
    k1, b = params
    want_ids, want = score_range_ref(
        chains, doc_len[lo - base : hi - base], lo, hi, k1, b, 37.5, positive_only
    )
    # saturations over each whole chain, ids outside [lo, hi) included, as
    # the replica caches them
    saturated = {
        t: (ids, bm25_saturation(tfs, doc_len[ids - base], k1, b, 37.5), weight)
        for t, (ids, tfs, weight) in chains.items()
    }
    for order in (list(saturated), sorted(saturated, reverse=True)):
        got_ids, got = bm25_score_range(
            {t: saturated[t] for t in order}, lo, hi, positive_only
        )
        assert got_ids.dtype == np.int64 and got.dtype == np.float64
        assert np.array_equal(got_ids, want_ids)
        assert np.array_equal(got.view(np.int64), want.view(np.int64))


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


def _outlier_stream(small: list, outliers: list, at: list) -> list:
    """Tiny values with a few large ones inserted at drawn indices."""
    out = list(small)
    for x, i in zip(outliers, at):
        out.insert(i % (len(out) + 1), x)
    return out


_STREAMS = st.one_of(
    st.just([]),
    st.integers(1, 200).map(lambda n: [0] * n),
    st.lists(st.integers(0, 2**64 - 1), min_size=1, max_size=3),
    st.builds(
        _outlier_stream,
        st.lists(st.integers(0, 7), min_size=4, max_size=200),
        st.lists(st.integers(2**8, 2**56), min_size=1, max_size=5),
        st.lists(st.integers(0, 200), min_size=5, max_size=5),
    ),
    # max widths 55, 56 (packed and patched allowed) and 57-64 (varint only)
    st.integers(55, 64).flatmap(
        lambda w: st.lists(st.integers(0, 2**w - 1), max_size=40).map(
            lambda xs: xs + [2 ** (w - 1)]
        )
    ),
    # few distinct bit lengths: candidates often tie on size
    st.tuples(st.integers(0, 7), st.integers(8, 15), st.integers(16, 40)).flatmap(
        lambda ws: st.lists(st.sampled_from(ws), min_size=4, max_size=40).map(
            lambda bs: [(1 << b) - 1 for b in bs]
        )
    ),
)


@given(st.lists(_STREAMS, max_size=12))
@settings(max_examples=200, deadline=None)
def test_encode_ints_many_matches_reference(streams):
    """Each stream of one batched call is byte-identical to the scalar
    reference encoder, and decodes back."""
    from neural_search_spark.index.codec import decode_ints_many

    arrays = [np.array(s, dtype=np.uint64) for s in streams]
    lens = [a.size for a in arrays]
    values = np.concatenate(arrays) if arrays else np.zeros(0, dtype=np.uint64)
    got = encode_ints_many(values, lens)
    assert len(got) == len(arrays)
    for g, a in zip(got, arrays):
        assert g == encode_ints_ref(a), a.tolist()
    for d, a in zip(decode_ints_many(list(got), lens), arrays):
        assert np.array_equal(d, a)


def test_encode_ints_many_breaks_ties_like_the_reference():
    """Equal-size candidates: the first in trial order wins. Here the
    patched widths 1 and 8 tie, and the set the widths are tried from
    iterates 8 before 1, against their numeric order."""
    v = np.array(
        [255, 0, 255, 255, 0, 0, 0, 255, 2**30 - 1, 0, 0, 255, 255, 0, 0, 255,
         255, 0, 255, 0, 0, 2**30 - 1, 255, 0, 255, 0, 0, 0],
        dtype=np.uint64,
    )
    sizes = {c[1]: len(c) for c in _candidates(v) if c[0] == 2}
    assert sizes[1] == sizes[8] == min(len(c) for c in _candidates(v))
    assert encode_ints_many(v, [v.size])[0] == encode_ints_ref(v)
    rng = np.random.default_rng(0)
    streams = [
        (1 << rng.choice([0, 1, 8, 30], size=int(rng.integers(4, 40)))) - 1
        for _ in range(2000)
    ]
    got = encode_ints_many(np.concatenate(streams), [s.size for s in streams])
    assert [g for g in got] == [encode_ints_ref(s) for s in streams]


def test_patched_candidate_over_u16_header_is_skipped():
    """A patched candidate whose exception bytes overflow the u16 header is
    not tried: the stream still encodes and round-trips."""
    from neural_search_spark.index.codec import encode_ints

    v = np.zeros(100_000, dtype=np.uint64)
    v[::3] = 1 << 20
    b = encode_ints(v)
    assert b == encode_ints_ref(v)
    assert np.array_equal(decode_ints(b, v.size), v)


@pytest.mark.parametrize("positional", [False, True])
def test_encode_kernel_blocks_equal_reference(positional):
    """The build's (shard, bucket) kernel on a fixed group: every block's
    streams equal the reference encoding of its slice of the input, and its
    metadata equals the slice's values. Terms of 1, block_size and
    block_size + 1 postings, a chain long enough for a patched delta
    stream, a nonzero shard base, rows in shuffled order."""
    from neural_search_spark.index.build import POSTINGS_SCHEMA, _encode_kernel

    span, bs, shard = 1 << 16, 128, 3
    base = shard * span
    rng = np.random.default_rng(4)
    ids = {
        "t1": base + rng.choice(span, 1, replace=False),
        "t128": base + rng.choice(span, bs, replace=False),
        "t129": base + rng.choice(span, bs + 1, replace=False),
        "tjump": base + 5 + np.arange(2 * bs + 3) + (np.arange(2 * bs + 3) > 60) * 40_000,
    }
    frame = pd.DataFrame(
        [(t, int(d)) for t, ds in ids.items() for d in ds], columns=["term", "doc_id"]
    )
    frame["tf"] = rng.integers(1, 6, len(frame))
    frame["doc_len"] = frame["tf"] + rng.integers(0, 300, len(frame))
    if positional:
        frame["positions"] = pd.Series(
            [np.sort(rng.choice(np.arange(1, dl + 1), tf, replace=False))
             for tf, dl in zip(frame["tf"], frame["doc_len"])],
            dtype=object,
        )
    frame = frame.sample(frac=1.0, random_state=1).assign(shard=shard, bucket=7)
    out = _encode_kernel(span, bs)(frame)
    cols = [c.split()[0] for c in POSTINGS_SCHEMA.split(", ")]
    assert list(out.columns) == cols + ["positions"] * positional
    assert len(out) == sum(-(-len(ds) // bs) for ds in ids.values())
    assert (out["shard"] == shard).all() and (out["bucket"] == 7).all()
    for row in out.itertuples():
        g = frame[frame["term"] == row.term].sort_values("doc_id")
        lo = row.block_id * bs
        sl = g.iloc[lo : lo + bs]
        prev = base if lo == 0 else int(g["doc_id"].iloc[lo - 1])
        d = sl["doc_id"].to_numpy()
        assert row.deltas == encode_ints_ref(np.diff(d, prepend=prev))
        assert row.tfs == encode_ints_ref(sl["tf"])
        if positional:
            gaps = np.concatenate([np.diff(p, prepend=0) for p in sl["positions"]])
            assert row.positions == encode_ints_ref(gaps)
        assert (row.first_doc_id, row.last_doc_id, row.n_docs) == (d[0], d[-1], d.size)
        assert (row.max_tf, row.min_dl) == (sl["tf"].max(), sl["doc_len"].min())
    assert set(out["deltas"].str[0]) == {0, 1, 2}
