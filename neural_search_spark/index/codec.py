"""Posting-block codec: docID-delta + varint, with per-block WAND metadata.

Pure-numpy bit twiddling (no per-element Python in the hot loops): the varint
encoder expands each uint64 into its 7-bit groups with vectorized shifts and a
flat ``np.cumsum``-based scatter; the decoder reconstructs values with a
segment-id trick over the continuation bits. Both directions are batched:
``encode_postings`` sorts a build group's postings once and encodes every
stream of every block in one ``encode_ints_many`` call (per-stream scheme
choice by segment reductions, one varint pass, one ``packbits``), and
``decode_blocks`` decodes any set of blocks back into flat arrays, a fixed
number of rows per ``decode_ints_many`` call. Runs inside the build-side
``applyInPandas``, the query-side kernels (SURVEY.md §4.2.1) and the serving
replica, which decodes each posting row group once.

Block layout (one parquet row per block, flat — columnar-friendly):
    term, shard, block_id, first_doc_id, n_docs, max_tf, min_dl, deltas, tfs
A (term, shard)'s blocks form a chain in ``block_id`` order: block 0's
``deltas[0]`` is ``doc_id[0] - shard_base``, every later block's is relative
to the previous block's last id, and the rest are plain gaps (no -1 offset)
to keep the codec trivial to verify. Every block also stores its
``first_doc_id``, so ``decode_blocks`` anchors each block there and never
needs the chain's earlier blocks: a chain cut by a row-group boundary
decodes part by part. It is the one rebuilder of doc ids; the serving
replica calls it per row group, ``IndexReader.term_vector`` per covering
block, and ``decode_postings`` (the WAND kernel, phrase retrieval and the
maintenance decoder) per whole chain.

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

from typing import TYPE_CHECKING

import numpy as np
import pyarrow as pa

if TYPE_CHECKING:
    import pandas as pd

_BLOCK = 128
# rows (blocks, or streams of one bit-unpack) decoded per step
_DECODE_ROWS = 256
_POW2 = np.uint64(1) << np.arange(64, dtype=np.uint64)


def _bit_length(v: np.ndarray) -> np.ndarray:
    """``int.bit_length`` of every value: a search over the powers of two,
    exact at any uint64 magnitude."""
    return np.searchsorted(_POW2, np.asarray(v, dtype=np.uint64), side="right")


def _varint_len(v: np.ndarray) -> np.ndarray:
    """LEB128 byte count of every value."""
    return np.maximum(1, (_bit_length(v) + 6) // 7)


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode a uint64 array, fully vectorized: each value's 7-bit
    groups, low first, the continuation bit set on all but the last."""
    v = np.asarray(values, dtype=np.uint64)
    nbytes = _varint_len(v)
    idx = np.repeat(np.arange(v.size), nbytes)
    within = np.arange(idx.size) - np.repeat(np.cumsum(nbytes) - nbytes, nbytes)
    payload = (v[idx] >> (within.astype(np.uint64) * np.uint64(7))) & np.uint64(0x7F)
    more = (within < nbytes[idx] - 1).astype(np.uint8) << 7
    return (payload.astype(np.uint8) | more).tobytes()


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


def _unpack_rows(stack: np.ndarray, width: int, count: int) -> np.ndarray:
    """Row i of the uint8 matrix ``stack`` holds ``count`` little-endian
    ``width``-bit values; returns them as a (rows, count) uint64 array.
    Each value's bits are padded to the next of 8/16/32/64 and packed back
    into a little-endian word, so the transient is one byte per padded
    bit."""
    rows = stack.shape[0]
    bits = np.unpackbits(stack, axis=1, bitorder="little")[:, : count * width]
    word = 8 << max(0, (width - 1).bit_length() - 3)
    padded = np.zeros((rows, count, word), dtype=np.uint8)
    padded[:, :, :width] = bits.reshape(rows, count, width)
    packed = np.packbits(padded, axis=2, bitorder="little")
    return packed.view(f"<u{word // 8}").reshape(rows, count).astype(np.uint64)


def unpack_bits(buf: bytes, width: int, count: int) -> np.ndarray:
    if count == 0 or width == 0:
        return np.zeros(count, dtype=np.uint64)
    stack = np.frombuffer(buf, dtype=np.uint8)[: (count * width + 7) // 8]
    return _unpack_rows(stack[None, :], width, count)[0]


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
#              tiny value; scheme 2 pays neither. Payload: [width u8]
#              [exc_len u16 LE][varint: n_exc, exception position gaps,
#              highs (value >> width)][packed low bits].
# The encoder picks whichever is smallest for the block — the per-block
# scheme choice is the practical core of PForDelta-family codecs.
_SCHEME_VARINT = 0
_SCHEME_PACKED = 1
_SCHEME_PATCHED = 2


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


def _ranges(starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Concatenated ``arange(s, s + n)`` for every ``(s, n)`` pair."""
    return np.repeat(starts - (np.cumsum(lens) - lens), lens) + np.arange(lens.sum())


def _exceptions(v, seg, pos, width):
    """Patched-scheme exceptions of values ``v`` (of stream ``seg``, at
    index ``pos`` in it) under per-value low-bit ``width``: the stream,
    position gap and high bits of each value that overflows its width."""
    high = v >> width.astype(np.uint64)
    x = np.flatnonzero(high)
    s, p = seg[x], pos[x]
    prev = np.where(np.diff(s, prepend=-1) != 0, 0, np.roll(p, 1))
    return s, (p - prev).astype(np.uint64), high[x]


def encode_ints(values: np.ndarray) -> bytes:
    """One int stream; the inverse of ``decode_ints``."""
    v = np.asarray(values, dtype=np.uint64)
    return encode_ints_many(v, [v.size])[0]


def encode_ints_many(values: np.ndarray, lengths) -> np.ndarray:
    """Encode many int streams in one pass; stream i is the next
    ``lengths[i]`` entries of ``values``. Returns an object array of
    ``bytes``, the input of ``decode_ints_many``.

    Each stream takes its smallest candidate: varint; bit-packed at its max
    width if that is <= 56 bits; patched at the bit widths of its
    50th/75th/90th-percentile values (streams of >= 4 values, widths below
    the max, exception bytes that fit the u16 header). Sizes come from
    segment reductions over all streams. On equal sizes the first wins, in
    the order varint, packed, then the patched widths in the iteration
    order of a ``set`` built in percentile order: the scalar reference in
    tests/test_codec.py, which pins the bytes. One ``varint_encode`` and
    one ``packbits`` write every payload.
    """
    v = np.asarray(values, dtype=np.uint64)
    lens = np.asarray(lengths, dtype=np.int64)
    n, rows = lens.size, np.arange(lens.size)
    starts = np.cumsum(lens) - lens
    seg = np.repeat(rows, lens)
    pos = np.arange(v.size) - starts[seg]
    bits = _bit_length(v)
    cost = np.full((n, 5), np.iinfo(np.int64).max)
    cost[:, 0] = 1 + np.bincount(seg, _varint_len(v), n).astype(np.int64)
    max_w = np.zeros(n, dtype=np.int64)
    max_w[lens > 0] = np.maximum(1, np.maximum.reduceat(bits, starts[lens > 0]))
    packable = (lens > 0) & (max_w <= 56)
    cost[packable, 1] = 2 + (lens * max_w + 7)[packable] // 8
    # percentile widths: bit length (<= 64) is monotone, so sort it within
    # streams; each distinct width triple is tried in its set's order
    pat = np.flatnonzero(packable & (lens >= 4))
    sorted_bits = np.sort(seg * 65 + bits) - seg * 65
    m = lens[pat, None]
    k = starts[pat, None] + np.concatenate((m // 2, 3 * m // 4, 9 * m // 10), axis=1)
    key = np.maximum(1, sorted_bits[k]) @ np.array([4096, 64, 1])
    trip, inv = np.unique(key, return_inverse=True)
    order = [(list({t >> 12, t >> 6 & 63, t & 63}) + [0, 0])[:3] for t in trip.tolist()]
    cand = np.zeros((n, 3), dtype=np.int64)
    cand[pat] = np.array(order, dtype=np.int64).reshape(-1, 3)[inv.ravel()]
    cand[cand >= max_w[:, None]] = 0
    exc_len = np.zeros((n, 3), dtype=np.int64)
    for c in range(3):
        el = (cand[:, c] > 0)[seg]
        s, gaps, highs = _exceptions(v[el], seg[el], pos[el], cand[seg[el], c])
        exc_len[:, c] = _varint_len(np.bincount(s, minlength=n)) + np.bincount(
            s, _varint_len(gaps) + _varint_len(highs), n
        ).astype(np.int64)
        ok = (cand[:, c] > 0) & (exc_len[:, c] <= 0xFFFF)
        cost[ok, 2 + c] = 4 + exc_len[ok, c] + (lens * cand[:, c] + 7)[ok] // 8
    pick = np.argmin(cost, axis=1)
    size = cost[rows, pick]
    off = np.cumsum(size) - size
    var, packs, patched = pick == 0, pick >= 1, pick >= 2
    width = np.where(patched, cand[rows, np.clip(pick - 2, 0, 2)], max_w)
    exc = np.where(patched, exc_len[rows, np.clip(pick - 2, 0, 2)], 0)
    out = np.zeros(int(size.sum()), dtype=np.uint8)
    out[off] = np.minimum(pick, _SCHEME_PATCHED)
    out[off[packs] + 1] = width[packs]
    out[off[patched] + 2] = exc[patched] & 0xFF
    out[off[patched] + 3] = exc[patched] >> 8
    # one varint pass: the varint streams, then the exception streams
    el = patched[seg]
    s, gaps, highs = _exceptions(v[el], seg[el], pos[el], width[seg[el]])
    cnt = np.bincount(s, minlength=n)
    xlen = np.where(patched, 1 + 2 * cnt, 0)
    xs = np.zeros(int(xlen.sum()), dtype=np.uint64)
    xo = np.cumsum(xlen) - xlen
    xs[xo[patched]] = cnt[patched]
    r = xo[s] + 1 + np.arange(s.size) - (np.cumsum(cnt) - cnt)[s]
    xs[r], xs[r + cnt[s]] = gaps, highs
    dest = (_ranges(off[var] + 1, size[var] - 1), _ranges(off[patched] + 4, exc[patched]))
    varints = varint_encode(np.concatenate((v[var[seg]], xs)))
    out[np.concatenate(dest)] = np.frombuffer(varints, dtype=np.uint8)
    # one packbits pass: the low ``width`` bits of every packed or patched
    # stream's values, each stream's payload starting on a byte
    el = packs[seg]
    w = width[seg[el]]
    plen = np.where(packs, (lens * width + 7) // 8, 0)
    bit0 = ((np.cumsum(plen) - plen) * 8)[seg[el]] + pos[el] * w
    j = np.arange(w.sum()) - np.repeat(np.cumsum(w) - w, w)
    bitbuf = np.zeros(int(plen.sum()) * 8, dtype=np.uint8)
    bitbuf[np.repeat(bit0, w) + j] = (np.repeat(v[el], w) >> j.astype(np.uint64)) & np.uint64(1)
    dest = np.where(patched, off + 4 + exc, off + 2)
    out[_ranges(dest[packs], plen[packs])] = np.packbits(bitbuf, bitorder="little")
    ends = pa.py_buffer(np.concatenate(([0], np.cumsum(size))))
    binary = pa.Array.from_buffers(pa.large_binary(), n, [None, ends, pa.py_buffer(out)])
    return binary.to_numpy(zero_copy_only=False)


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
    * patched (PFor) streams stay per-buffer (they are the rare tail);
    * every stream decodes into its slice of one flat array, and the
      returned arrays are views of it.

    ``decode_blocks`` calls it for a fixed number of blocks at a time: the
    serving replica decodes each posting row group through it once.
    """
    cs = np.asarray(counts, dtype=np.int64)
    stop = np.cumsum(cs)
    off = stop - cs
    # every stream decodes into its slice of one flat array
    flat = np.zeros(int(stop[-1]) if cs.size else 0, dtype=np.uint64)
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
        vi = np.array(var_idx)
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
        assert np.array_equal(actual, cs[vi]), "varint per-stream count mismatch"
        flat[_ranges(off[vi], cs[vi])] = vals
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
            continue  # all zeros
        nbytes = (count * width + 7) // 8
        # a fixed number of streams at a time bounds the unpack's transient
        for c0 in range(0, len(entries), _DECODE_ROWS):
            chunk = entries[c0 : c0 + _DECODE_ROWS]
            stack = np.frombuffer(
                b"".join(lows[:nbytes] for _i, lows, _e in chunk), dtype=np.uint8
            ).reshape(len(chunk), nbytes)
            idx = np.array([i for i, _lows, _exc in chunk])
            flat[_ranges(off[idx], cs[idx])] = _unpack_rows(stack, width, count).ravel()
            for i, _lows, exc in chunk:
                if exc is not None and exc.size and int(exc[0]):
                    n_exc = int(exc[0])
                    pos = off[i] + np.cumsum(exc[1 : 1 + n_exc].astype(np.int64))
                    flat[pos] |= exc[1 + n_exc :] << np.uint64(width)
    return [flat[a:b] for a, b in zip(off.tolist(), stop.tolist())]


def _narrow(values: np.ndarray) -> np.ndarray:
    """Non-negative ``values`` in uint16 if they fit, else uint32, else
    uint64."""
    top = int(values.max()) if values.size else 0
    return values.astype(
        np.uint16 if top < 1 << 16 else np.uint32 if top < 1 << 32 else np.uint64
    )


def decode_blocks(first_doc_id, n_docs, deltas, tfs, positions=None, *, base) -> tuple:
    """Flat postings of posting blocks, rows in the given order: ``(ids -
    base, tfs)``, plus every posting's absolute positions, concatenated, if
    the blocks' ``positions`` streams are given. ``first_doc_id`` and
    ``n_docs`` are per-row arrays, ``deltas``/``tfs``/``positions`` per-row
    sequences of encoded streams, ``base`` a scalar or per-row array.

    The one rebuilder of doc ids from delta streams: every block is
    anchored at its own ``first_doc_id`` (its first delta is relative to
    whatever preceded it in the chain, which is not needed), so any subset
    of a chain's blocks decodes, in any order. Each output array is in
    the narrowest unsigned dtype that holds its maximum (``uint16``, else
    ``uint32``, else ``uint64``). Rows decode ``_DECODE_ROWS`` at a time,
    which bounds the transient uint64/int64 arrays.
    """
    first = np.asarray(first_doc_id, dtype=np.int64) - np.asarray(base, dtype=np.int64)
    counts = np.asarray(n_docs, dtype=np.int64)
    out: tuple = ([], []) + (([],) if positions is not None else ())
    for lo in range(0, counts.size, _DECODE_ROWS):
        c = counts[lo : lo + _DECODE_ROWS]
        streams = decode_ints_many(
            list(deltas[lo : lo + c.size]) + list(tfs[lo : lo + c.size]), c.tolist() * 2
        )
        run = np.cumsum(np.concatenate(streams[: c.size]).astype(np.int64))
        tf = np.concatenate(streams[c.size :]).astype(np.int64)
        starts = np.cumsum(c) - c
        out[0].append(_narrow(run - np.repeat(run[starts] - first[lo : lo + c.size], c)))
        out[1].append(_narrow(tf))
        if positions is not None:
            # a block's positions stream: one segment of tf values per
            # posting, the first absolute, the rest gaps
            vals = decode_ints_many(
                list(positions[lo : lo + c.size]), np.add.reduceat(tf, starts).tolist()
            )
            gaps = np.concatenate(vals).astype(np.int64)
            acc = np.cumsum(gaps)
            seg = np.cumsum(tf) - tf  # each posting's first value
            out[2].append(_narrow(acc - np.repeat(acc[seg] - gaps[seg], tf)))
    return tuple(
        np.concatenate(parts) if parts else np.zeros(0, dtype=np.uint16) for parts in out
    )


def bm25_saturation(
    tf: np.ndarray, doc_len: np.ndarray, k1: float, b: float, avgdl: float
) -> np.ndarray:
    """Per-posting BM25 tf saturation ``tf*(k1+1)/(tf + k1*(1-b+b*dl/avgdl))``.
    It depends only on the snapshot, not the query: the replica caches it
    with a term's ids, the WAND kernel computes it once per chain per batch."""
    tf = np.asarray(tf, dtype=np.float64)
    denom = tf + k1 * (1.0 - b + b * np.asarray(doc_len, dtype=np.float64) / avgdl)
    return tf * (k1 + 1.0) / denom


def bm25_term_bound(
    tf: np.ndarray, doc_len: np.ndarray, idf: float, k1: float, b: float, avgdl: float
) -> np.ndarray:
    """Exact per-posting BM25 contribution of one query term, ``idf *
    bm25_saturation(...)``: a term that occurs ``qtf`` times in the query
    passes ``qtf * idf`` as ``idf``, the product order every scorer keeps."""
    return idf * bm25_saturation(tf, doc_len, k1, b, avgdl)


def bm25_score_range(
    chains: dict, lo: int, hi: int, positive_only: bool
) -> tuple[np.ndarray, np.ndarray]:
    """Exact BM25 scores of the docs in ``[lo, hi)``: the one accumulator of
    the replica (a range per shard) and the WAND kernel (one per window).

    ``chains`` maps each query term to its ``(ids, bm25_saturation, qtf *
    idf)``, ids ascending, possibly past the range. Returns ``(doc ids,
    scores)`` of every doc a chain reaches in the range, ids ascending, cut
    to scores > 0 if ``positive_only``. Each posting adds ``weight * sat``
    (``bm25_term_bound``'s product order), terms in sorted-term order
    whatever the caller's, and ``bincount`` sums each doc in input order
    from 0.0, like a zeroed array and one ``+=`` per term: every caller's
    scores agree bit for bit."""
    locs, parts = [], []
    for term in sorted(chains):
        ids, sat, weight = chains[term]
        i0, i1 = ids.searchsorted((lo, hi)).tolist()
        locs.append(ids[i0:i1] - lo)
        parts.append(weight * sat[i0:i1])
    loc = np.concatenate(locs)
    if loc.size == 0:
        return loc, np.zeros(0)
    scores = np.bincount(loc, np.concatenate(parts))
    if positive_only:  # unreached bins hold exactly 0.0 and fail the cut too
        cand = np.flatnonzero(scores > 0)
    else:
        touched = np.zeros(scores.size, dtype=bool)
        touched[loc] = True
        cand = np.flatnonzero(touched)
    return cand + lo, scores[cand]


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


def encode_postings(frame, docs_per_shard: int, block_size: int = _BLOCK) -> pd.DataFrame:
    """Posting blocks of many (term, shard) chains; the inverse of
    ``decode_postings``.

    ``frame`` is a pandas DataFrame with one row per posting, in any order:
    shard, term, doc_id, tf, doc_len, plus positions (the posting's ``tf``
    increasing 1-based positions) for a positional index; other columns are
    ignored. Returns one row per block in (shard, term, block_id) order:
    shard, term, block_id, first_doc_id, last_doc_id, n_docs, max_tf,
    min_dl, deltas, tfs [, positions]. Blocks depend only on the shard's
    own postings, never on global stats, so maintenance re-encodes only the
    shards that changed.

    One sort by (shard, term, doc_id) lines the chains up; a block starts
    at every ``block_size``-th posting of a chain. The delta stream is the
    chain's ``diff``, taken from the shard base at the chain's start; a
    position stream gap-codes each posting's list from an absolute first
    position. All streams encode in one ``encode_ints_many`` call. pandas
    is imported here, not at module level: the serving replica imports this
    module and never encodes.
    """
    import pandas as pd

    codes, terms = pd.factorize(frame["term"].to_numpy(), sort=True)
    cols = (frame[c].to_numpy(dtype=np.int64) for c in ("shard", "doc_id", "tf", "doc_len"))
    shard, ids, tf, dl = cols
    order = np.lexsort((ids, codes, shard))
    codes, shard, ids, tf, dl = (a[order] for a in (codes, shard, ids, tf, dl))
    n = ids.size
    chain0 = np.flatnonzero((np.diff(codes, prepend=-1) != 0) | (np.diff(shard, prepend=-1) != 0))
    rank = np.arange(n) - np.repeat(chain0, np.diff(chain0, append=n))
    b0 = np.flatnonzero(rank % block_size == 0)
    n_docs = np.diff(b0, append=n)
    deltas = np.diff(ids, prepend=0)
    deltas[chain0] = ids[chain0] - shard[chain0] * docs_per_shard
    values, lengths = [deltas, tf], [n_docs, n_docs]
    positional = "positions" in frame.columns
    if positional and n:
        flat = np.concatenate(frame["positions"].to_numpy()[order]).astype(np.int64)
        first = np.cumsum(tf) - tf
        values.append(np.diff(flat, prepend=0))
        values[-1][first] = flat[first]
        lengths.append(np.add.reduceat(tf, b0))
    streams = encode_ints_many(np.concatenate(values), np.concatenate(lengths))
    out = pd.DataFrame({
        "shard": shard[b0], "term": terms[codes[b0]], "block_id": rank[b0] // block_size,
        "first_doc_id": ids[b0], "last_doc_id": ids[b0 + n_docs - 1], "n_docs": n_docs,
        "max_tf": np.maximum.reduceat(tf, b0), "min_dl": np.minimum.reduceat(dl, b0),
        "deltas": streams[: b0.size], "tfs": streams[b0.size : 2 * b0.size],
    })
    if positional:
        out["positions"] = streams[2 * b0.size :]
    return out


def decode_postings(blocks, docs_per_shard: int) -> dict:
    """Decode posting-block chains: {(term, shard): (doc_ids, tfs[, positions])}.

    The whole-chain decoder of the WAND kernel, phrase retrieval and the
    maintenance decoder. ``blocks`` is a pyarrow Table or a pandas
    DataFrame with one row per block and columns term, shard, block_id,
    first_doc_id, n_docs, deltas, tfs, plus positions on a positional read;
    rows may come in any order. Keys come out in ascending (term, shard)
    order; doc_ids and tfs are int64 and, with a positions column, the
    third element is the per-doc list of 1-based position arrays.

    Rows are put in (term, shard, block_id) order and decoded by
    ``decode_blocks`` relative to each row's shard base (``shard *
    docs_per_shard``); a chain is then a contiguous run of the flat arrays.
    """
    arrow = hasattr(blocks, "column_names")
    positional = "positions" in (blocks.column_names if arrow else blocks.columns)
    cols = [
        blocks[n].to_pylist() if arrow else blocks[n].tolist()
        for n in ["term", "shard", "block_id", "first_doc_id", "n_docs", "deltas", "tfs"]
        + ["positions"] * positional
    ]
    term, shard, block_id = cols[:3]
    order = sorted(range(len(term)), key=lambda i: (term[i], shard[i], block_id[i]))
    # sorted chain key -> [first, last + 1) range of its blocks in `order`
    spans: dict = {}
    for j, i in enumerate(order):
        spans.setdefault((term[i], int(shard[i])), [j, 0])[1] = j + 1
    first, n_docs, deltas, tfs, *pos = ([c[i] for i in order] for c in cols[3:])
    flat = decode_blocks(
        first, n_docs, deltas, tfs, *pos,
        base=np.array([shard[i] for i in order], dtype=np.int64) * docs_per_shard,
    )
    ids, tf = (a.astype(np.int64) for a in flat[:2])
    off = np.concatenate(([0], np.cumsum(n_docs, dtype=np.int64)))
    if positional:
        pos = flat[2].astype(np.int64)
        pos_off = np.concatenate(([0], np.cumsum(tf)))
    out: dict = {}
    for (t, s), (lo, hi) in spans.items():
        a, b = off[lo], off[hi]
        chain = (ids[a:b] + s * docs_per_shard, tf[a:b])
        if positional:
            vals = pos[pos_off[a] : pos_off[b]]
            chain += (np.split(vals, np.cumsum(chain[1])[:-1]),)
        out[(t, s)] = chain
    return out
