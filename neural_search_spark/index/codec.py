"""Posting-block codec: docID-delta + varint, with per-block WAND metadata.

Pure-numpy bit twiddling (no per-element Python in the hot loops): the varint
encoder expands each uint64 into its 7-bit groups with vectorized shifts and a
flat ``np.cumsum``-based scatter; the decoder reconstructs values with a
segment-id trick over the continuation bits. Runs inside the build-side
``applyInPandas`` and the query-side kernels (SURVEY.md §4.2.1).

Block layout (one parquet row per block, flat — columnar-friendly):
    term, shard, block_id, first_doc_id, n_docs, max_tf, min_dl, deltas, tfs
A (term, shard)'s blocks form a chain in ``block_id`` order: block 0's
``deltas[0]`` is ``doc_id[0] - shard_base``, every later block's is relative
to the previous block's last id, and the rest are plain gaps (no -1 offset)
to keep the codec trivial to verify. ``decode_postings`` is the one owner of
that chain: the serving replica, the WAND kernel, phrase retrieval and the
maintenance decoder all decode through it.

WAND metadata is **stats-independent**: blocks store ``max_tf`` (max term
frequency in the block) and ``min_dl`` (min doc length among the block's
docs); the per-block score bound is computed at QUERY time as
``idf * max_tf*(k1+1)/(max_tf + k1*(1-b+b*min_dl/avgdl))`` — a valid upper
bound because the BM25 contribution is increasing in tf and decreasing in dl.
This keeps posting blocks immutable under corpus growth: appends/deletes
shift every idf (the epsilon-floor couples the whole vocabulary through
``average_idf``) and shift ``avgdl``, but only the small stats tables need
rewriting — the compressed postings of untouched shards stay valid. At 10^12
docs that is the difference between an O(vocabulary) metadata refresh and an
O(index) rewrite per ingest batch.
"""

from __future__ import annotations

import numpy as np

_BLOCK = 128


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode a uint64 array, fully vectorized."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    # number of 7-bit groups per value (at least 1)
    nbits = np.zeros(v.shape, dtype=np.int64)
    tmp = v.copy()
    nz = tmp > 0
    while nz.any():
        nbits[nz] += 1
        tmp = tmp >> np.uint64(7)
        nz = tmp > 0
    nbytes = np.maximum(nbits, 1)
    total = int(nbytes.sum())
    out = np.zeros(total, dtype=np.uint8)
    # positions: for value i, its bytes occupy [start[i], start[i]+nbytes[i])
    starts = np.concatenate(([0], np.cumsum(nbytes)[:-1]))
    # byte index within each value: build flat arrays
    flat_val_idx = np.repeat(np.arange(v.size), nbytes)
    within = np.arange(total) - np.repeat(starts, nbytes)
    shifted = v[flat_val_idx] >> (within.astype(np.uint64) * np.uint64(7))
    payload = (shifted & np.uint64(0x7F)).astype(np.uint8)
    # continuation bit on all but the last byte of each value
    last_byte = within == (nbytes[flat_val_idx] - 1)
    out[:] = payload | np.where(last_byte, 0, 0x80).astype(np.uint8)
    return out.tobytes()


def varint_decode(buf: bytes, count: int | None = None) -> np.ndarray:
    """Decode LEB128 bytes back to a uint64 array, fully vectorized."""
    raw = np.frombuffer(buf, dtype=np.uint8)
    if raw.size == 0:
        return np.zeros(0, dtype=np.uint64)
    is_last = (raw & 0x80) == 0
    # segment id: which value each byte belongs to
    seg = np.zeros(raw.size, dtype=np.int64)
    seg[1:] = np.cumsum(is_last)[:-1]
    n_values = int(is_last.sum())
    # position of byte within its segment
    seg_starts = np.zeros(n_values, dtype=np.int64)
    last_pos = np.flatnonzero(is_last)
    seg_starts[1:] = last_pos[:-1] + 1
    within = np.arange(raw.size) - seg_starts[seg]
    contrib = (raw & 0x7F).astype(np.uint64) << (within.astype(np.uint64) * np.uint64(7))
    out = np.zeros(n_values, dtype=np.uint64)
    np.add.at(out, seg, contrib)
    if count is not None:
        assert n_values == count, f"decoded {n_values} values, expected {count}"
    return out


def pack_bits(values: np.ndarray, width: int) -> bytes:
    """Fixed-width little-endian bit-packing (the PFor-style dense scheme)."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0 or width == 0:
        return b""
    bits = ((v[:, None] >> np.arange(width, dtype=np.uint64)) & np.uint64(1)).astype(
        np.uint8
    )
    return np.packbits(bits.ravel(), bitorder="little").tobytes()


def unpack_bits(buf: bytes, width: int, count: int) -> np.ndarray:
    if count == 0 or width == 0:
        return np.zeros(count, dtype=np.uint64)
    bits = np.unpackbits(np.frombuffer(buf, dtype=np.uint8), bitorder="little")
    bits = bits[: count * width].reshape(count, width).astype(np.uint64)
    return (bits << np.arange(width, dtype=np.uint64)).sum(axis=1, dtype=np.uint64)


# int-sequence envelope: 1 scheme byte, then payload.
#   scheme 0 = LEB128 varint (sparse-friendly: rare big gaps stay cheap)
#   scheme 1 = fixed-width bit-packing, width in the second byte (dense-
#              friendly: 128 small deltas at 4 bits beat 128 varint bytes)
#   scheme 2 = patched bit-packing (PForDelta): low ``width`` bits of every
#              value packed densely; the few values that overflow ``width``
#              store their high bits as varint exceptions. Wins exactly where
#              0 and 1 both lose — a block of tiny gaps with a handful of
#              outliers (e.g. a large first-delta against the shard base, or
#              one doc-id jump across a deleted range): scheme 1 must widen
#              EVERY slot to the outlier's width, scheme 0 pays >=1 byte per
#              tiny value; scheme 2 pays neither.
# The encoder picks whichever is smallest for the block — the per-block
# scheme choice is the practical core of PForDelta-family codecs.
_SCHEME_VARINT = 0
_SCHEME_PACKED = 1
_SCHEME_PATCHED = 2


def _pfor_encode(v: np.ndarray, width: int) -> bytes:
    """scheme-2 payload for a fixed low-bit width:
    [width u8][exc_len u16 LE][varint: n_exc, exc_positions (delta), exc_highs]
    [packed low bits].  Positions are gap-encoded (strictly increasing), highs
    are ``value >> width`` (>=1 by construction)."""
    mask = np.uint64((1 << width) - 1)
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
    packed = pack_bits(v & mask, width)
    return bytes([width]) + len(exc).to_bytes(2, "little") + exc + packed


def _pfor_decode(buf: bytes, count: int) -> np.ndarray:
    width = buf[0]
    exc_len = int.from_bytes(buf[1:3], "little")
    exc = varint_decode(buf[3 : 3 + exc_len])
    out = unpack_bits(buf[3 + exc_len :], width, count)
    n_exc = int(exc[0])
    if n_exc:
        pos = np.cumsum(exc[1 : 1 + n_exc].astype(np.int64))
        out[pos] |= exc[1 + n_exc :] << np.uint64(width)
    return out


def encode_ints(values: np.ndarray) -> bytes:
    v = np.asarray(values, dtype=np.uint64)
    var = varint_encode(v)
    if v.size == 0:
        return bytes([_SCHEME_VARINT]) + var
    best = bytes([_SCHEME_VARINT]) + var
    max_width = max(1, int(v.max()).bit_length())
    if max_width <= 56:
        packed = pack_bits(v, max_width)
        if 2 + len(packed) < len(best):
            best = bytes([_SCHEME_PACKED, max_width]) + packed
        # patched candidates: low widths covering the 50th/75th/90th
        # percentile values — exceptions absorb the tail
        if v.size >= 4:
            widths = {
                max(1, int(np.partition(v, k)[k]).bit_length())
                for k in (v.size // 2, (3 * v.size) // 4, (9 * v.size) // 10)
            }
            for w in widths:
                if w >= max_width:
                    continue
                cand = _pfor_encode(v, w)
                if 1 + len(cand) < len(best):
                    best = bytes([_SCHEME_PATCHED]) + cand
    return best


def decode_ints(buf: bytes, count: int | None = None) -> np.ndarray:
    buf = bytes(buf)
    scheme = buf[0]
    if scheme == _SCHEME_VARINT:
        return varint_decode(buf[1:], count)
    assert count is not None, "packed/patched schemes require the element count"
    if scheme == _SCHEME_PATCHED:
        return _pfor_decode(buf[1:], count)
    width = buf[1]
    return unpack_bits(buf[2:], width, count)


def decode_ints_many(bufs: list, counts: list[int]) -> list[np.ndarray]:
    """Decode MANY independent int streams in one pass — same results as
    ``[decode_ints(b, c) for b, c in zip(bufs, counts)]`` (pinned in
    tests/test_codec.py), but the per-call numpy ceremony is amortized:

    * all varint streams concatenate into ONE ``varint_decode`` (LEB128 is
      self-delimiting, so the only bookkeeping is the value-count split);
    * bit-packed streams group by (width, count) and decode as a single 2D
      unpack — the common case is a full run of same-size blocks;
    * patched (PFor) streams stay per-buffer (they are the rare tail).

    This is the serving replica's cold-read hot path: a head term at 100K
    docs spans ~600 blocks x 2 streams, and per-block decode overhead was
    ~85% of uncached query latency.
    """
    out: list = [None] * len(bufs)
    var_idx: list[int] = []
    var_parts: list[bytes] = []
    # (width, count) -> [(out_index, low_bits_payload, exceptions_or_None)]
    packed_groups: dict[tuple[int, int], list[tuple]] = {}
    patched: list[tuple[int, bytes]] = []
    for i, raw in enumerate(bufs):
        buf = bytes(raw)
        scheme = buf[0]
        if scheme == _SCHEME_VARINT:
            var_idx.append(i)
            var_parts.append(buf[1:])
        elif scheme == _SCHEME_PATCHED:
            patched.append((i, buf))
        else:
            packed_groups.setdefault((buf[1], counts[i]), []).append(
                (i, buf[2:], None)
            )
    if var_idx:
        concat = b"".join(var_parts)
        vals = varint_decode(concat)
        cs = np.array([counts[i] for i in var_idx], dtype=np.int64)
        # per-STREAM count check, matching decode_ints' per-call assert: a
        # LEB128 value ends on its terminator byte (high bit clear), so each
        # stream's actual value count is its terminator count — compensating
        # errors across streams (one short, the next long) must fail loudly,
        # not silently shift values between streams at the split below.
        raw8 = np.frombuffer(concat, dtype=np.uint8)
        cum = np.concatenate(
            ([0], np.cumsum(((raw8 & 0x80) == 0).astype(np.int64)))
        )
        ends = np.cumsum(np.array([len(p) for p in var_parts], dtype=np.int64))
        actual = cum[ends] - cum[ends - np.array([len(p) for p in var_parts], dtype=np.int64)]
        assert np.array_equal(actual, cs), "varint per-stream count mismatch"
        for i, arr in zip(var_idx, np.split(vals, np.cumsum(cs)[:-1])):
            out[i] = arr
    if patched:
        # batch the exception varint streams: byte lengths are in the header,
        # per-stream VALUE counts come from counting terminator bytes per
        # segment (reduceat over the continuation bits) — one varint_decode
        # for every exception stream of every patched block
        exc_parts = []
        exc_meta = []  # (out_index, width, low_payload)
        for i, buf in patched:
            width = buf[1]
            exc_len = int.from_bytes(buf[2:4], "little")
            exc_parts.append(buf[4 : 4 + exc_len])
            exc_meta.append((i, width, buf[4 + exc_len :]))
        exc_concat = b"".join(exc_parts)
        raw8 = np.frombuffer(exc_concat, dtype=np.uint8)
        is_last = (raw8 & 0x80) == 0
        lens = np.array([len(p) for p in exc_parts], dtype=np.int64)
        starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
        nvals = np.add.reduceat(is_last.astype(np.int64), starts) if raw8.size else np.zeros(len(exc_parts), dtype=np.int64)
        all_vals = varint_decode(exc_concat)
        exc_arrays = np.split(all_vals, np.cumsum(nvals)[:-1])
        for (i, width, lows), exc in zip(exc_meta, exc_arrays):
            packed_groups.setdefault((width, counts[i]), []).append((i, lows, exc))
    for (width, count), entries in packed_groups.items():
        if width == 0 or count == 0:
            for i, _lows, _exc in entries:
                out[i] = np.zeros(count, dtype=np.uint64)
            continue
        nbytes = (count * width + 7) // 8
        stack = np.frombuffer(
            b"".join(lows[:nbytes] for _i, lows, _e in entries), dtype=np.uint8
        ).reshape(len(entries), nbytes)
        bits = np.unpackbits(stack, axis=1, bitorder="little")[:, : count * width]
        vals2d = (
            bits.reshape(len(entries), count, width).astype(np.uint64)
            << np.arange(width, dtype=np.uint64)
        ).sum(axis=2, dtype=np.uint64)
        for j, (i, _lows, exc) in enumerate(entries):
            row = vals2d[j]
            if exc is not None and exc.size and int(exc[0]):
                n_exc = int(exc[0])
                pos = np.cumsum(exc[1 : 1 + n_exc].astype(np.int64))
                row = row.copy()
                row[pos] |= exc[1 + n_exc :] << np.uint64(width)
            out[i] = row
    return out


def encode_doc_ids(doc_ids: np.ndarray, base: int) -> bytes:
    """Delta-encode a sorted doc_id array relative to ``base``."""
    d = np.asarray(doc_ids, dtype=np.int64)
    deltas = np.empty(d.shape, dtype=np.uint64)
    if d.size:
        deltas[0] = np.uint64(d[0] - base)
        deltas[1:] = np.diff(d).astype(np.uint64)
    return encode_ints(deltas)


def encode_position_lists(pos_lists: list) -> bytes:
    """Encode per-doc position lists (1-based, strictly increasing) as one
    delta stream: each list's first element is absolute, the rest are gaps.
    Segment lengths are NOT stored — they are the block's tfs, which the
    posting block already carries (Lucene's .prx makes the same bet)."""
    if not pos_lists:
        return encode_ints(np.zeros(0, dtype=np.uint64))
    lens = np.array([len(p) for p in pos_lists], dtype=np.int64)
    p_all = np.concatenate([np.asarray(p, dtype=np.int64) for p in pos_lists])
    prev = np.concatenate(([0], p_all[:-1]))
    starts = np.cumsum(lens) - lens
    prev[starts] = 0
    return encode_ints((p_all - prev).astype(np.uint64))


def decode_position_lists(buf: bytes, tfs: np.ndarray) -> list[np.ndarray]:
    """Inverse of ``encode_position_lists``; ``tfs`` gives segment lengths."""
    tfs = np.asarray(tfs, dtype=np.int64)
    total = int(tfs.sum())
    if total == 0:
        return [np.zeros(0, dtype=np.int64) for _ in tfs]
    return _split_position_lists(decode_ints(buf, total).astype(np.int64), tfs)


def _split_position_lists(vals: np.ndarray, tfs: np.ndarray) -> list[np.ndarray]:
    """Per-doc absolute positions from a decoded positions stream: segment
    lengths are ``tfs``, each segment's first value is absolute and the rest
    are gaps. Streams of consecutive blocks concatenate cleanly, because
    every segment restarts from an absolute value."""
    ends = np.cumsum(tfs)
    c = np.cumsum(vals)
    seg_offsets = np.concatenate(([0], c[ends[:-1] - 1]))
    abs_pos = c - np.repeat(seg_offsets, tfs)
    return np.split(abs_pos, ends[:-1])


def bm25_term_bound(
    tf: np.ndarray, doc_len: np.ndarray, idf: float, k1: float, b: float, avgdl: float
) -> np.ndarray:
    """Exact per-posting BM25 contribution of one query term.

    The one spelling of the BM25 term formula for every numpy scorer (the
    serving replica, the WAND window loop, the block bounds). A term that
    occurs ``qtf`` times in the query passes ``qtf * idf`` as ``idf``: that
    keeps the product order of ``qtf * idf * (tf * (k1 + 1) / denom)``, so
    scores stay bit-identical across scorers."""
    tf = np.asarray(tf, dtype=np.float64)
    denom = tf + k1 * (1.0 - b + b * np.asarray(doc_len, dtype=np.float64) / avgdl)
    return idf * (tf * (k1 + 1.0) / denom)


def block_score_bound(
    max_tf: np.ndarray, min_dl: np.ndarray, idf: float, k1: float, b: float, avgdl: float
) -> np.ndarray:
    """Per-block upper bound of the term's BM25 contribution, from the
    stats-independent block metadata and the CURRENT global stats.

    Valid because the contribution is monotone increasing in tf and monotone
    decreasing in dl: every doc in the block has tf <= max_tf and dl >= min_dl,
    so bound(max_tf, min_dl) >= score(tf, dl). (For negative floored idfs the
    query kernel clamps bounds at 0 — a doc *lacking* the term scores higher.)
    """
    return bm25_term_bound(max_tf, min_dl, idf, k1, b, avgdl)


def encode_posting_blocks(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    doc_lens: np.ndarray,
    shard_base: int,
    block_size: int = _BLOCK,
    pos_lists: list | None = None,
) -> list[dict]:
    """Split one term's sorted shard postings into compressed blocks.

    Returns a list of dicts ready to become parquet rows:
    {block_id, first_doc_id, last_doc_id, n_docs, max_tf, min_dl, deltas, tfs
    [, positions]}. Blocks depend only on the shard's own (doc_id, tf,
    doc_len) — never on global stats — so incremental maintenance touches
    only changed shards. ``pos_lists`` (aligned with the input arrays) adds
    a per-block positions stream (``encode_position_lists``) for
    phrase/proximity serving.
    """
    order = np.argsort(doc_ids, kind="stable")
    doc_ids = np.asarray(doc_ids, dtype=np.int64)[order]
    tfs = np.asarray(tfs, dtype=np.int64)[order]
    doc_lens = np.asarray(doc_lens, dtype=np.int64)[order]
    if pos_lists is not None:
        pos_lists = [pos_lists[i] for i in order]
    out = []
    for bi, start in enumerate(range(0, len(doc_ids), block_size)):
        sl = slice(start, start + block_size)
        ids = doc_ids[sl]
        row = {
            "block_id": bi,
            "first_doc_id": int(ids[0]),
            "last_doc_id": int(ids[-1]),
            "n_docs": int(len(ids)),
            "max_tf": int(tfs[sl].max()),
            "min_dl": int(doc_lens[sl].min()),
            "deltas": encode_doc_ids(ids, shard_base if start == 0 else int(doc_ids[start - 1])),
            "tfs": encode_ints(tfs[sl].astype(np.uint64)),
        }
        if pos_lists is not None:
            row["positions"] = encode_position_lists(pos_lists[sl])
        out.append(row)
    return out


def decode_postings(blocks, docs_per_shard: int) -> dict:
    """Decode posting-block chains: {(term, shard): (doc_ids, tfs[, positions])}.

    The one decoder of the block chain; every query path and the
    maintenance decoder call it. ``blocks`` is a pyarrow Table or a pandas
    DataFrame with one row per block and columns term, shard, block_id,
    n_docs, deltas, tfs, plus positions on a positional read; rows may come
    in any order. Keys come out in ascending (term, shard) order; doc_ids
    and tfs are int64 and, with a positions column, the third element is
    the per-doc list of 1-based position arrays.

    A (term, shard) chain is its blocks in block_id order: block 0's first
    delta is relative to the shard base (``shard * docs_per_shard``) and
    every later block's first delta to the previous block's last id, so one
    cumsum over the chain's concatenated deltas rebuilds every id. All
    delta and tf streams decode in one ``decode_ints_many`` call; position
    streams take a second, since their value counts are the block tf sums.
    """
    arrow = hasattr(blocks, "column_names")
    positional = "positions" in (blocks.column_names if arrow else blocks.columns)
    cols = [
        blocks[n].to_pylist() if arrow else blocks[n].tolist()
        for n in ["term", "shard", "block_id", "n_docs", "deltas", "tfs"]
        + ["positions"] * positional
    ]
    term, shard, block_id, n_docs, deltas, tfs = cols[:6]
    order = sorted(range(len(term)), key=lambda i: (term[i], shard[i], block_id[i]))
    # sorted chain key -> [first, last + 1) range of its blocks in `order`
    spans: dict = {}
    for j, i in enumerate(order):
        spans.setdefault((term[i], int(shard[i])), [j, 0])[1] = j + 1
    counts = [int(n_docs[i]) for i in order]
    nb = len(order)
    streams = decode_ints_many(
        [deltas[i] for i in order] + [tfs[i] for i in order], counts + counts
    )
    if positional:
        pos_streams = decode_ints_many(
            [cols[6][i] for i in order], [int(t.sum()) for t in streams[nb:]]
        )
    out: dict = {}
    for (t, sh), (lo, hi) in spans.items():
        deltas_run = np.concatenate(streams[lo:hi]).astype(np.int64)
        chain = (
            np.cumsum(deltas_run) + sh * docs_per_shard,
            np.concatenate(streams[nb + lo : nb + hi]).astype(np.int64),
        )
        if positional:
            vals = np.concatenate(pos_streams[lo:hi]).astype(np.int64)
            chain += (_split_position_lists(vals, chain[1]),)
        out[(t, sh)] = chain
    return out
