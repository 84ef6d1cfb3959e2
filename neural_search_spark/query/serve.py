"""Low-latency BM25 serving over the physical index — no Spark job per query.

The reference serves queries from in-process state: rank-bm25 arrays + FAISS
resident in the API worker (``/root/reference/src/neural_search/api/
search.py:21-135``), giving per-query millisecond latency but coupling
serving memory to corpus size and rebuilding everything on restart. Here the
durable artifact is the sharded compressed parquet index the Spark cluster
builds (index/build.py); ``IndexReader`` answers a query by reading ONLY the
posting row groups whose ``term`` min/max covers a query term (a row-group
directory taken from the file footers at ``refresh()``), decoding each
group once with ``codec.decode_blocks`` (the one rebuilder of doc ids from
delta streams, under the WAND kernel's, phrase retrieval's and maintenance's
``codec.decode_postings`` too), turning tfs into BM25 saturations once per
snapshot, and scoring each shard with one
``codec.bm25_score_range`` call, the accumulator the WAND kernel runs per
window: terms add in sorted-term order on both paths, so scores are
bit-identical to ``bm25_topk_wand`` and ranks identical to the DataFrame
batch path (asserted in tests/test_serve.py).

Deployment shape at scale:
  * one reader per serving replica; replicas are stateless — everything
    durable lives in the index files, so restart = reopen, and maintenance
    commits (index/maintenance.py) are picked up with ``refresh()``;
  * the term dictionary (term -> idf, vocabulary-sized) and corpus stats are
    cached in memory; per-shard doc_len arrays are loaded on first touch,
    through the docmap files ``refresh()`` opened, and cached
    (docs_per_shard x 8 bytes — bounded, shard-granular);
  * posting bytes are fetched on demand, a posting row group at a time. The
    build writes one term-sorted file per shard, so a query needs about one
    row group per query term per shard (more only for a term whose blocks
    span row groups), never a full scan. A row group read from a file is
    decoded once into flat arrays (sorted distinct terms, per-term posting
    offsets, local doc ids and tfs in uint16 or uint32, and on a positional
    read the positions with per-posting offsets) and kept in a bounded LRU
    (``POSTINGS_ROW_GROUP_CACHE_BYTES`` of decoded bytes, the storage
    engine's block cache): a later query for any term of that group reads
    and decodes nothing, its postings are a ``searchsorted`` and array
    slices. The cache belongs to the snapshot: ``refresh()`` and
    ``close()`` empty it.
    On an index written before the term sort (several unsorted files per
    shard) most row groups span most terms: answers stay the same, but the
    first reads degrade to a scan of the postings;
  * optionally, a ``TtlLruCache`` (query/cache.py, the reference's
    ``utils/cache.py`` analog) caches each term's doc ids plus their
    snapshot BM25 saturations, and whole search results, keyed by the index
    snapshot token so a maintenance commit + ``refresh()`` invalidates
    immediately (MultiReader's global avgdl bypasses it).

This closes the serving story without a cluster in the loop: Spark owns
build/maintenance/batch analytics; serving needs only the parquet files.
"""

from __future__ import annotations

import hashlib
import os
from collections import OrderedDict
from dataclasses import dataclass, field

import numpy as np

from ..config import MAX_TOP_K, float_field, int_field
from ..functions.tokenize import _TOKEN_RE, tokenize_py
from ..index import codec
from .cache import TtlLruCache

# Memory budget of the replica's decoded posting row groups
# (``IndexReader._read_chains``), in bytes of their arrays (``_RowGroup``).
# The newest group is always kept, so the cache can exceed the budget by at
# most one row group.
POSTINGS_ROW_GROUP_CACHE_BYTES = 64 << 20


def round_half_up(values: np.ndarray, digits: int) -> np.ndarray:
    """Element-wise HALF_UP decimal rounding, identical to Spark's ``F.round``.

    Spark rounds via ``BigDecimal.valueOf(double)`` (shortest decimal
    representation) with HALF_UP; ``Decimal(repr(x))`` is the same shortest
    representation, so quantizing it HALF_UP reproduces Spark bit-for-bit —
    numpy's ``round`` (half-to-even on binary floats) does not. Used only in
    engine-equivalence mode (``score_rounding``), not in the raw hot path.
    """
    from decimal import ROUND_HALF_UP, Decimal

    q = Decimal(1).scaleb(-digits)
    return np.array(
        [float(Decimal(repr(float(v))).quantize(q, rounding=ROUND_HALF_UP)) for v in values],
        dtype=np.float64,
    )


def _unique_ids(ids) -> np.ndarray | None:
    """A caller's doc-id filter as sorted distinct int64 ids (None stays
    None): the form ``_score`` filters with and the cache key digests."""
    if ids is None:
        return None
    return np.unique(np.asarray(list(ids), dtype=np.int64))


def _deletion_variants(term: str) -> set[str]:
    """The term plus every drop-one-character string (SymSpell distance-1
    neighborhood; mirrors query/suggest.py:deletion_variants)."""
    return {term} | {term[:i] + term[i + 1 :] for i in range(len(term))}


def _levenshtein(s: str, t: str) -> int:
    d = list(range(len(t) + 1))
    for i, cs in enumerate(s, 1):
        prev, d[0] = d[0], i
        for j, ct in enumerate(t, 1):
            prev, d[j] = d[j], min(d[j] + 1, d[j - 1] + 1, prev + (cs != ct))
    return d[-1]


@dataclass
class _ShardState:
    doc_len: np.ndarray  # dense doc_len array indexed by local doc id
    host: np.ndarray | None = None  # dense url-host array, loaded lazily


@dataclass
class _PostingFile:
    shard: int
    handle: object  # pyarrow.parquet.ParquetFile, open for the snapshot


@dataclass
class _RowGroup:
    """One posting row group, decoded once. ``terms`` holds its distinct
    terms as sorted UTF-8 bytes (numpy ``S``: compact, and ordered like the
    parquet term statistics); term ``i``'s postings are ``[starts[i],
    starts[i + 1])`` of ``ids`` (doc id minus the shard base) and ``tfs``,
    in doc-id order. A positional read also holds every posting's absolute
    positions, posting ``j``'s at ``[pos_starts[j], pos_starts[j + 1])``.
    ``nbytes`` counts exactly these arrays."""

    terms: np.ndarray
    starts: np.ndarray
    ids: np.ndarray
    tfs: np.ndarray
    positions: np.ndarray | None
    pos_starts: np.ndarray | None
    nbytes: int

    @classmethod
    def of(cls, table, base: int) -> "_RowGroup":
        import pyarrow as pa

        terms = np.asarray(
            table.column("term").cast(pa.binary()).to_numpy(), dtype="S"
        )
        first = table.column("first_doc_id").to_numpy()
        # the build writes term-sorted groups; an index written before the
        # term sort has unsorted ones, and this one order covers both
        order = np.lexsort((first, terms))
        counts = table.column("n_docs").to_numpy()[order]
        streams = [
            table.column(c).take(order).to_pylist()
            for c in ("deltas", "tfs", "positions") if c in table.column_names
        ]
        ids, tfs, *pos = codec.decode_blocks(first[order], counts, *streams, base=base)
        terms, head = np.unique(terms[order], return_index=True)
        block_starts = np.concatenate(([0], np.cumsum(counts, dtype=np.int64)))
        starts = block_starts[np.append(head, order.size)]
        positions = pos_starts = None
        if pos:
            positions = pos[0]
            pos_starts = np.concatenate(([0], np.cumsum(tfs, dtype=np.int64)))
        arrays = (terms, starts, ids, tfs, positions, pos_starts)
        return cls(*arrays, sum(x.nbytes for x in arrays if x is not None))

    def find(self, needles: np.ndarray) -> list[tuple[str, int, int]]:
        """(term, start, end) of each term of ``needles`` (sorted ``S``
        array) that the group holds."""
        i = np.searchsorted(self.terms, needles)
        held = i < self.terms.size
        held[held] = self.terms[i[held]] == needles[held]
        return [
            (t.decode(), int(self.starts[k]), int(self.starts[k + 1]))
            for t, k in zip(needles[held].tolist(), i[held].tolist())
        ]


@dataclass
class IndexReader:
    root: str
    cache: TtlLruCache | None = None
    corpus_path: str | None = None
    stats: dict = field(init=False)
    idf: dict = field(init=False)
    df: dict = field(init=False)
    docs_per_shard: int = field(init=False)
    _suggest_index: dict | None = field(init=False, default=None)
    snapshot: str = field(init=False, default="")
    _shards: dict = field(init=False, default_factory=dict)
    # the snapshot's posting files and their row-group directory: one entry
    # per row group, in (file, row group) order; a row group without term
    # statistics (parquet writers drop min/max values over a size limit) is
    # always read
    _files: list = field(init=False, default_factory=list)
    _rg_file: np.ndarray = field(init=False, default=None)
    _rg_index: np.ndarray = field(init=False, default=None)
    _rg_min: np.ndarray = field(init=False, default=None)
    _rg_max: np.ndarray = field(init=False, default=None)
    _rg_nostats: np.ndarray = field(init=False, default=None)
    # decoded row groups, (file index, row group, positional) -> _RowGroup
    # in LRU order; emptied with the files it was read from
    _rg_cache: OrderedDict = field(init=False, default_factory=OrderedDict)
    # the snapshot's docmap files, shard -> [ParquetFile]
    _docmap: dict = field(init=False, default_factory=dict)
    postings_read: dict = field(init=False, default_factory=lambda: {
        "row_groups_read": 0, "row_group_hits": 0, "row_groups_total": 0,
        "files": 0, "row_group_cache_bytes": 0})

    def __post_init__(self) -> None:
        self.refresh()

    # -- loading ------------------------------------------------------------

    def refresh(self) -> None:
        """(Re)load stats + term dictionary + posting row-group directory;
        drop cached shard state and row groups and close the previous
        snapshot's files.

        Call after a maintenance commit to serve the new snapshot. The
        snapshot token (md5 of the checkpoint manifest, whose atomic rename
        is the index's commit point — index/build.py:_write_checkpoint)
        scopes every cache key, so entries for the previous snapshot can
        never be served again; they age out of the LRU."""
        import pyarrow.parquet as pq

        ckpt = os.path.join(self.root, "_checkpoint.json")
        if os.path.exists(ckpt):
            with open(ckpt, "rb") as f:
                self.snapshot = hashlib.md5(f.read()).hexdigest()
        else:
            self.snapshot = ""
        srow = pq.read_table(os.path.join(self.root, "corpus_stats")).to_pylist()[0]
        self.stats = srow
        self.docs_per_shard = int(srow["docs_per_shard"])
        terms = pq.read_table(
            os.path.join(self.root, "term_stats"), columns=["term", "df", "idf"]
        )
        # one key list for both dicts: each vocabulary string exists once
        keys = terms.column("term").to_pylist()
        self.idf = dict(zip(keys, terms.column("idf").to_pylist()))
        self.df = dict(zip(keys, terms.column("df").to_pylist()))
        self._shards = {}
        self._suggest_index = None
        self._open_snapshot()

    def _shard_files(self, kind: str):
        """(shard, ParquetFile) for every ``<kind>/shard=K/*.parquet``."""
        import glob

        import pyarrow.parquet as pq

        pattern = os.path.join(self.root, kind, "shard=*", "*.parquet")
        for path in sorted(glob.glob(pattern)):
            shard = int(os.path.basename(os.path.dirname(path))[len("shard="):])
            yield shard, pq.ParquetFile(path)

    def _open_snapshot(self) -> None:
        """Close the previous snapshot's files and empty its row-group
        cache, then open every ``postings/shard=K/*.parquet`` and
        ``docmap/shard=K/*.parquet`` once and record each posting row
        group's ``term`` min/max from its footer. Queries read through these
        handles until the next ``refresh()``, so a maintenance commit that
        replaces shard files cannot mix into the snapshot being served."""
        self.close()
        self._files = []
        self._docmap = {}
        for shard, pf in self._shard_files("docmap"):
            self._docmap.setdefault(shard, []).append(pf)
        rg_file, rg_index, lo, hi, nostats = [], [], [], [], []
        for shard, pf in self._shard_files("postings"):
            md = pf.metadata
            col = md.schema.names.index("term")
            for i in range(md.num_row_groups):
                st = md.row_group(i).column(col).statistics
                ok = st is not None and st.has_min_max
                rg_file.append(len(self._files))
                rg_index.append(i)
                lo.append(st.min if ok else "")
                hi.append(st.max if ok else "")
                nostats.append(not ok)
            self._files.append(_PostingFile(shard, pf))
        self._rg_file = np.array(rg_file, dtype=np.int64)
        self._rg_index = np.array(rg_index, dtype=np.int64)
        self._rg_min = np.array(lo, dtype=str)
        self._rg_max = np.array(hi, dtype=str)
        self._rg_nostats = np.array(nostats, dtype=bool)

    def close(self) -> None:
        """Close the snapshot's posting and docmap files and empty the
        row-group cache. Queries that need postings fail until the next
        ``refresh()`` reopens them."""
        for f in self._files:
            f.handle.close()
        for files in self._docmap.values():
            for pf in files:
                pf.close()
        self._rg_cache.clear()
        self.postings_read["row_group_cache_bytes"] = 0

    def _docmap_table(self, shard: int, columns: list[str]):
        """The snapshot's docmap rows of one shard (None for a shard the
        docmap does not hold), read through the handles ``refresh()``
        opened."""
        import pyarrow as pa

        files = self._docmap.get(shard)
        if not files:
            return None
        return pa.concat_tables(
            [pf.read(columns=columns, use_threads=False) for pf in files]
        )

    def _shard_state(self, shard: int) -> _ShardState:
        st = self._shards.get(shard)
        if st is None:
            t = self._docmap_table(shard, ["doc_id", "doc_len"])
            dl = np.zeros(self.docs_per_shard, dtype=np.float64)
            local = np.asarray(t.column("doc_id"), dtype=np.int64) - shard * self.docs_per_shard
            dl[local] = np.asarray(t.column("doc_len"), dtype=np.float64)
            st = _ShardState(doc_len=dl)
            self._shards[shard] = st
        return st

    def _hosts_for(self, ids: np.ndarray) -> np.ndarray:
        """URL host per doc_id (same extraction rule as
        ``functions/urls.py:RE_HOST``; non-URL ids get ''), via lazily
        cached dense per-shard host arrays from the docmap."""
        import re

        from ..functions.urls import RE_HOST

        host_re = re.compile(RE_HOST)
        span = self.docs_per_shard
        out = np.empty(ids.shape, dtype=object)
        for shard in np.unique(ids // span):
            st = self._shard_state(int(shard))
            if st.host is None:
                t = self._docmap_table(int(shard), ["doc_id", "url"])
                dense = np.full(span, "", dtype=object)
                local = (
                    np.asarray(t.column("doc_id"), dtype=np.int64) - shard * span
                )
                hosts = [
                    (m.group(1) if (m := host_re.match(u or "")) else "")
                    for u in t.column("url").to_pylist()
                ]
                dense[local] = hosts
                st.host = dense
            sel = ids // span == shard
            out[sel] = st.host[ids[sel] - shard * span]
        return out

    def _postings_for(self, terms: list[str], avgdl: float | None = None) -> dict:
        """term -> [(shard, doc_ids, saturation)] (shards ascending), each
        posting's ``codec.bm25_saturation`` under the snapshot's stats, so a
        query scores it with one multiply. Cached terms skip the read, the
        decode and the saturation (see ``_read_chains``). An ``avgdl`` not
        the snapshot's (MultiReader's global one) gets fresh saturations,
        and the cache is neither read nor written for it."""
        return self._read_chains(terms, "", avgdl)

    def _positions_for(self, terms: list[str]) -> dict:
        """term -> {doc_id: positions} from a positional index.

        Same row-group-pruned read as ``_postings_for`` plus the
        positions stream; cached under a ``pos:``-prefixed keyspace so flat
        posting entries never collide."""
        return {
            t: {d: p for _shard, ids, _tfs, plists in chains
                for d, p in zip(ids.tolist(), plists)}
            for t, chains in self._read_chains(terms, "pos:").items()
        }

    def _read_chains(self, terms: list[str], prefix: str, avgdl: float | None = None) -> dict:
        """term -> [(shard, ids, saturation)] for ``_postings_for`` ("";
        saturations under ``avgdl``, by default the snapshot's) and
        [(shard, ids, tfs, position lists)] for ``_positions_for`` ("pos:"),
        shards ascending. Cached terms skip the read. The cache is bypassed
        for an ``avgdl`` not the snapshot's. For the rest, the row-group
        directory picks the row groups whose [term min, term max] covers a
        missing term. Each picked group comes from the row-group cache or,
        on a miss, is read once from the snapshot's open file, decoded and
        cached (``_read_row_group``); a missing term's postings are then a
        ``searchsorted`` and array slices of the decoded group, widened to
        int64 plus the shard base. A chain cut by a row-group boundary
        joins its parts in doc-id order, which also merges the interleaved
        blocks of an index written before the term sort: the selection is
        conservative for any row order, so such an index answers the same,
        only reading more row groups.
        ``postings_read`` counts row groups read from files, row groups
        served from the cache, row groups in the directory and files read,
        and holds the cache's current bytes."""
        own = float(self.stats["avgdl"])
        avgdl = own if avgdl is None else float(avgdl)
        cache = self.cache if avgdl == own else None
        out: dict = {}
        missing: list[str] = []
        for t in terms:
            if cache is not None:
                hit = cache.get(
                    TtlLruCache.make_postings_key(prefix + t, self.snapshot)
                )
                if hit is not None:
                    out[t] = hit
                    continue
            missing.append(t)
        if not missing:
            return out
        want = np.array(sorted(missing), dtype=str)
        # first wanted term >= each row group's min; a hit if it is <= max
        first = np.minimum(np.searchsorted(want, self._rg_min), want.size - 1)
        hit = self._rg_nostats | (
            (want[first] >= self._rg_min) & (want[first] <= self._rg_max)
        )
        self.postings_read["row_groups_total"] += int(hit.size)
        needles = np.array([t.encode() for t in want.tolist()], dtype="S")
        files_read: set[int] = set()
        parts: dict = {}  # (term, shard) -> [(group, start, end)]
        for fi, rg in zip(self._rg_file[hit].tolist(), self._rg_index[hit].tolist()):
            key = (fi, rg, bool(prefix))
            group = self._rg_cache.get(key)
            if group is None:
                group = self._read_row_group(key)
                files_read.add(fi)
            else:
                self._rg_cache.move_to_end(key)
                self.postings_read["row_group_hits"] += 1
            for t, lo, hi in group.find(needles):
                parts.setdefault((t, self._files[fi].shard), []).append((group, lo, hi))
        self.postings_read["files"] += len(files_read)
        for t in missing:
            out[t] = []
        k1, b = float(self.stats["k1"]), float(self.stats["b"])
        for (t, shard), runs in sorted(parts.items()):
            local = np.concatenate([g.ids[lo:hi] for g, lo, hi in runs])
            tfs = np.concatenate([g.tfs[lo:hi] for g, lo, hi in runs])
            if prefix:
                plists = [
                    p for g, lo, hi in runs
                    for p in np.split(
                        g.positions[g.pos_starts[lo] : g.pos_starts[hi]].astype(np.int64),
                        np.cumsum(g.tfs[lo:hi], dtype=np.int64)[:-1],
                    )
                ]
            if len(runs) > 1:
                order = np.argsort(local, kind="stable")
                local, tfs = local[order], tfs[order]
                if prefix:
                    plists = [plists[i] for i in order.tolist()]
            ids = local.astype(np.int64) + shard * self.docs_per_shard
            if prefix:
                out[t].append((shard, ids, tfs.astype(np.int64), plists))
            else:
                dl = self._shard_state(shard).doc_len[local]
                out[t].append((shard, ids, codec.bm25_saturation(tfs, dl, k1, b, avgdl)))
        if cache is not None:
            for t in missing:
                key = TtlLruCache.make_postings_key(prefix + t, self.snapshot)
                cache.set(key, out[t])
        return out

    def _read_row_group(self, key: tuple[int, int, bool]) -> _RowGroup:
        """Read, decode and cache row group ``rg`` of posting file ``fi``
        (``key = (fi, rg, positional)``; a positional read also decodes the
        positions column, so it is cached under its own key). Least
        recently used groups are evicted while the cache holds more than
        ``POSTINGS_ROW_GROUP_CACHE_BYTES`` and more than this group."""
        fi, rg, positional = key
        cols = ["term", "first_doc_id", "n_docs", "deltas", "tfs"] + (
            ["positions"] if positional else []
        )
        # one small row group: pyarrow's thread pool costs more than it
        # saves here
        f = self._files[fi]
        group = _RowGroup.of(
            f.handle.read_row_group(rg, columns=cols, use_threads=False),
            f.shard * self.docs_per_shard,
        )
        counters, cache = self.postings_read, self._rg_cache
        counters["row_groups_read"] += 1
        cache[key] = group
        held = counters["row_group_cache_bytes"] + group.nbytes
        while held > POSTINGS_ROW_GROUP_CACHE_BYTES and len(cache) > 1:
            held -= cache.popitem(last=False)[1].nbytes
        counters["row_group_cache_bytes"] = held
        return group

    def query_phrase(self, text: str, top_k: int = 10) -> list[tuple[int, int]]:
        """[(doc_id, phrase_tf)] — exact-phrase retrieval from the positional
        index, (phrase_tf desc, doc_id asc), identical semantics to the
        cluster operator ``query/phrase.py:phrase_topk`` (parity pinned in
        tests/test_serve.py). Requires an index built with
        ``store_positions=True``; query tokens pass through the index's
        bound analyzer like every other surface."""
        if not bool(self.stats.get("positional")):
            raise ValueError(
                "index stores no positions; rebuild with store_positions=True"
            )
        from ..functions.analyzers import analyze_tokens

        toks = analyze_tokens(
            tokenize_py(text), self.stats.get("analyzer") or ""
        )
        if not toks:
            return []
        distinct = sorted(set(toks))
        if any(t not in self.idf for t in distinct):
            return []  # a phrase containing an unknown term matches nothing
        by_term = self._positions_for(distinct)
        # candidates: docs containing every distinct phrase term
        cand = set.intersection(*(set(by_term[t]) for t in distinct))
        hits: list[tuple[int, int]] = []
        for d in cand:
            inter: np.ndarray | None = None
            for off, t in enumerate(toks):
                shifted = by_term[t][d] - off
                inter = shifted if inter is None else np.intersect1d(
                    inter, shifted, assume_unique=True
                )
                if inter.size == 0:
                    break
            if inter is not None and inter.size:
                hits.append((d, int(inter.size)))
        hits.sort(key=lambda x: (-x[1], x[0]))
        return hits[:top_k]

    def query_near(
        self, text: str, max_span: int, top_k: int = 10, ordered: bool = False
    ) -> list[tuple[int, int]]:
        """[(doc_id, min_window)] — proximity (NEAR) from the positional
        index: smallest token window containing every distinct query term
        (``ordered=False``, the unordered min-cover of
        ``query/phrase.py:proximity_topk``) or the query terms IN ORDER
        (``ordered=True``, the chain DP of ``ordered_near_topk``); kept iff
        <= ``max_span``; (min_window asc, doc_id asc). Parity with the
        cluster operators pinned in tests/test_serve.py."""
        if not bool(self.stats.get("positional")):
            raise ValueError(
                "index stores no positions; rebuild with store_positions=True"
            )
        from ..functions.analyzers import analyze_tokens

        toks = analyze_tokens(
            tokenize_py(text), self.stats.get("analyzer") or ""
        )
        terms = sorted(set(toks))
        if not terms or any(t not in self.idf for t in terms):
            return []
        by_term = self._positions_for(terms)
        cand = set.intersection(*(set(by_term[t]) for t in terms))
        hits: list[tuple[int, int]] = []
        if ordered:
            # slots follow the QUERY token order (repeats = separate slots)
            slots = toks
            n = len(slots)
            for d in cand:
                occ = sorted(
                    (int(p), -slot)
                    for slot, t in enumerate(slots)
                    for p in by_term[t][d]
                )
                starts = [-1] * n
                best = None
                for p, nslot in occ:
                    slot = -nslot
                    prev = p if slot == 0 else starts[slot - 1]
                    if prev < 0:
                        continue
                    if starts[slot] < prev:
                        starts[slot] = prev
                    if slot == n - 1:
                        w = p - prev + 1
                        if best is None or w < best:
                            best = w
                if best is not None and best <= max_span:
                    hits.append((d, best))
        else:
            n = len(terms)
            for d in cand:
                occ = sorted(
                    (int(p), tid)
                    for tid, t in enumerate(terms)
                    for p in by_term[t][d]
                )
                last = [-1] * n
                best = None
                for p, tid in occ:
                    last[tid] = p
                    mn = min(last)
                    if mn >= 0:
                        w = p - mn + 1
                        if best is None or w < best:
                            best = w
                if best is not None and best <= max_span:
                    hits.append((d, best))
        hits.sort(key=lambda x: (x[1], x[0]))
        return hits[:top_k]

    def term_vector(self, doc_id: int, positions: bool = False) -> dict:
        """The ES ``_termvectors`` analog: a document's terms with tf (and,
        on a positional index, 1-based positions) recovered from the index
        alone — the posting blocks are lossless, so no document store is
        needed. Reads exactly one shard's posting files (the doc's shard,
        through the snapshot's open handles), decodes every block whose
        [first_doc_id, last_doc_id] range covers the doc with
        ``codec.decode_blocks``, and the blocks that hold the doc once
        more with their positions.

        Returns {"doc_id", "doc_len", "terms": {term: tf | [positions]}};
        unknown doc_ids return an empty terms dict.
        """
        import pyarrow as pa
        import pyarrow.compute as pc

        if positions and not bool(self.stats.get("positional")):
            raise ValueError(
                "index stores no positions; rebuild with store_positions=True"
            )
        span = self.docs_per_shard
        shard = int(doc_id) // span
        files = [f.handle for f in self._files if f.shard == shard]
        if not files:
            return {"doc_id": int(doc_id), "doc_len": 0, "terms": {}}
        cols = ["term", "first_doc_id", "last_doc_id", "n_docs", "deltas",
                "tfs"] + (["positions"] if positions else [])
        table = pa.concat_tables(
            [pf.read(columns=cols, use_threads=False) for pf in files]
        ).filter(
            (pc.field("first_doc_id") <= doc_id) & (pc.field("last_doc_id") >= doc_id)
        )
        terms: dict = {}
        if table.num_rows:
            local = int(doc_id) - shard * span
            counts = table.column("n_docs").to_numpy()
            ids, tfs = codec.decode_blocks(
                table.column("first_doc_id").to_numpy(), counts,
                table.column("deltas").to_pylist(), table.column("tfs").to_pylist(),
                base=shard * span,
            )
            rows = np.flatnonzero(ids == local)  # at most one per block
            blocks = np.searchsorted(np.cumsum(counts), rows, side="right")
            names = table.column("term").take(blocks).to_pylist()
            if positions:
                # the blocks that hold the doc, decoded again with positions
                held = table.take(blocks)
                ids, tfs, pos = codec.decode_blocks(
                    held.column("first_doc_id").to_numpy(), held.column("n_docs").to_numpy(),
                    *(held.column(c).to_pylist() for c in ("deltas", "tfs", "positions")),
                    base=shard * span,
                )
                mine = ids == local
                vals = [
                    pos[e - n : e].astype(np.int64).tolist()
                    for e, n in zip(np.cumsum(tfs)[mine].tolist(), tfs[mine].tolist())
                ]
            else:
                vals = tfs[rows].tolist()
            terms = dict(zip(names, vals))
        dl = self._shard_state(shard).doc_len[int(doc_id) - shard * span]
        return {"doc_id": int(doc_id), "doc_len": int(dl), "terms": terms}

    def explain(self, text: str, doc_id: int) -> dict:
        """The ES ``_explain`` analog, replica-side: why does ``doc_id``
        score what it scores for ``text``? Per-query-term tf / df / idf /
        length-normalized contribution rows, recovered from the index alone
        (one shard's posting blocks via ``term_vector`` + the term
        dictionary already in memory) — no Spark job, no document store.

        Returns {"doc_id", "doc_len", "score", "terms": [{term, tf, df,
        qtf, idf, contrib}, ...]} with the cluster operator's rounding
        contract (idf 6dp, contrib/score 4dp); rows match
        ``query/explain.py:bm25_explain`` for the same (query, doc) pair
        (pinned in tests/test_serve.py). Query tokens fold through the
        index's bound analyzer, exactly like ``query``.
        """
        from ..functions.analyzers import analyze_tokens

        counts: dict[str, int] = {}
        for t in analyze_tokens(tokenize_py(text), self.stats.get("analyzer") or ""):
            counts[t] = counts.get(t, 0) + 1
        tv = self.term_vector(int(doc_id))
        dl = float(tv["doc_len"])
        k1, b = float(self.stats["k1"]), float(self.stats["b"])
        avgdl = float(self.stats["avgdl"])
        rows = []
        score = 0.0
        for term in sorted(counts):
            if term not in self.idf or term not in tv["terms"]:
                continue
            tf = float(tv["terms"][term])
            qtf = counts[term]
            idf = float(self.idf[term])
            contrib = qtf * idf * float(codec.bm25_saturation(tf, dl, k1, b, avgdl))
            score += contrib
            rows.append(
                {
                    "term": term,
                    "tf": int(tf),
                    "df": int(self.df[term]),
                    "qtf": int(qtf),
                    "idf": float(round_half_up(np.array([idf]), 6)[0]),
                    "contrib": float(round_half_up(np.array([contrib]), 4)[0]),
                }
            )
        return {
            "doc_id": int(doc_id),
            "doc_len": int(tv["doc_len"]),
            "score": float(round_half_up(np.array([score]), 4)[0]),
            "terms": rows,
        }

    def query_dsl(self, request: dict, positive_only: bool = False) -> list:
        """One declarative request object served replica-side — the SAME
        shape ``query/dsl.py:search_dsl`` compiles cluster-side (match /
        bool / match_phrase / prefix / wildcard / more_like_this, plus
        top_k / offset / search_after), so a caller's JSON runs on either
        tier with identical semantics (parity pinned in tests/test_serve.py).

        Forms that need document attributes or another similarity
        (``collapse`` / ``function_score`` / ``rescore`` / ``filter`` /
        ``similarity: lm_dirichlet``) stay cluster-side and raise here —
        route those requests to a Spark session.
        """
        q = request.get("query")
        if not isinstance(q, dict) or len(q) != 1:
            raise ValueError("request['query'] must be exactly one query kind")
        blocked = {"collapse", "function_score", "rescore", "filter"} & set(request)
        if blocked:
            raise ValueError(f"cluster-side-only request parts: {sorted(blocked)}")
        # request-boundary bound, mirroring the reference's api/schemas.py:58-73
        # (top_k ∈ [1,100]); internal callers with a legitimate larger fetch
        # (e.g. the tie-margin) use the method APIs, not the request object
        top_k = int_field(request.get("top_k", 10), "top_k", 1, MAX_TOP_K)
        offset = int_field(request.get("offset", 0), "offset", 0)
        sa = request.get("search_after")
        if sa is not None:
            if not (isinstance(sa, (list, tuple)) and len(sa) == 2):
                raise ValueError("search_after must be [score, doc_id]")
            sa = (float_field(sa[0], "search_after[0]"), int_field(sa[1], "search_after[1]"))
        (kind, body), = q.items()
        if kind in ("match", "match_phrase"):
            text = body["query"] if isinstance(body, dict) else str(body)
            if not isinstance(text, str):
                raise ValueError(
                    f"{kind}.query must be a string, got {type(text).__name__}"
                )
        if kind == "match":
            if isinstance(body, dict) and body.get("similarity", "bm25") != "bm25":
                raise ValueError("only the bm25 similarity serves replica-side")
            return self.query(
                text, top_k=top_k, positive_only=positive_only,
                offset=offset, search_after=sa,
            )
        if kind == "bool":
            # boundary validation: a non-object body is a client error, not
            # an AttributeError (which the serve loop answers as internal)
            if not isinstance(body, dict):
                raise ValueError("bool query body must be an object")
            text = " ".join(
                ["+" + t for t in body.get("must", [])]
                + ["-" + t for t in body.get("must_not", [])]
                + list(body.get("should", []))
            )
            return self.query_bool(
                text, top_k=top_k, positive_only=positive_only,
                offset=offset, search_after=sa,
                min_should_match=int_field(
                    body.get("minimum_should_match", 0), "minimum_should_match", 0
                ),
            )
        if kind == "match_phrase":
            slop = int_field(body.get("slop", 0), "slop", 0) if isinstance(body, dict) else 0
            if slop == 0:
                return self.query_phrase(text, top_k=top_k)
            n = len(tokenize_py(text))
            return self.query_near(text, max_span=n + slop, top_k=top_k, ordered=True)
        if kind in ("prefix", "wildcard"):
            if kind == "prefix":
                matched = sorted(t for t in self.idf if t.startswith(str(body)))
            else:
                import re as _re

                from .prefix import wildcard_regex

                rx = _re.compile(wildcard_regex(str(body)))
                matched = sorted(t for t in self.idf if rx.match(t))
            # same zero-idf gating as query(); each matched term scores once
            # with its own idf (the Lucene scoring-rewrite, = the cluster
            # expansion join with qtf=1)
            qterms = {
                t: (1, self.idf[t])
                for t in matched
                if self.idf[t] != 0.0 or not positive_only
            }
            if not qterms:
                return []
            return self._score(
                qterms, top_k, positive_only, None, None,
                offset=offset, search_after=sa,
            )
        if kind == "more_like_this":
            return self.more_like_this(int_field(body, "more_like_this"), top_k=top_k)
        raise ValueError(f"unsupported query kind: {kind}")

    # -- result hydration ----------------------------------------------------

    def hydrate(
        self,
        doc_ids: list[int],
        query: str | None = None,
        snippet_window: int | None = None,
    ) -> dict[int, dict]:
        """doc_id -> {"url", "content" [, "snippet", "snippet_hits"]}.

        The reference's search API returns each hit's full ``content``
        (``/root/reference/src/neural_search/api/search.py:112-128``); the
        replica reproduces that by joining results back through the docmap
        (doc_id -> url, shard-pruned reads) and the corpus parquet
        (url -> text, pushdown-filtered) — the index itself stays
        text-free. With ``query`` + ``snippet_window``, each doc also gets
        the best-window snippet, same semantics as the cluster operator
        ``functions/snippets.py:best_snippets`` (candidate starts at
        matched-term positions, hits = distinct query terms in window,
        earliest-start ties).
        """
        if self.corpus_path is None:
            raise ValueError("no corpus_path configured; pass corpus_path= "
                             "or serve --corpus to enable hydration")
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        span = self.docs_per_shard
        urls: dict[int, str] = {}
        for s in sorted({d // span for d in doc_ids if d >= 0}):
            t = self._docmap_table(s, ["doc_id", "url"])
            if t is None:
                continue  # unknown ids resolve to no doc, not an error
            m = dict(
                zip(t.column("doc_id").to_pylist(), t.column("url").to_pylist())
            )
            for d in doc_ids:
                if d in m:
                    urls[d] = m[d]
        if not urls:
            return {}
        tbl = pq.read_table(
            self.corpus_path,
            columns=["url", "text"],
            filters=pc.field("url").isin(sorted(set(urls.values()))),
        )
        text_by_url = dict(
            zip(tbl.column("url").to_pylist(), tbl.column("text").to_pylist())
        )
        qterms = sorted(set(tokenize_py(query))) if query else []
        out: dict[int, dict] = {}
        for d in doc_ids:
            u = urls.get(d)
            if u is None or u not in text_by_url:
                continue
            text = text_by_url[u]
            rec: dict = {"url": u, "content": text}
            if qterms and snippet_window:
                from ..functions.snippets import _best_window

                toks = _TOKEN_RE.findall(text.lower()) if text else []
                bw = _best_window(toks, qterms, snippet_window)
                if bw is not None:
                    start, hits = bw
                    rec["snippet"] = " ".join(
                        toks[start - 1 : start - 1 + snippet_window]
                    )
                    rec["snippet_hits"] = hits
            out[d] = rec
        return out

    def more_like_this(
        self,
        doc_id: int,
        m: int = 10,
        top_k: int = 10,
        positive_only: bool = False,
        score_rounding: int | None = 4,
    ) -> list[tuple[int, float]]:
        """Serving twin of ``query/mlt.py:more_like_this`` (parity pinned in
        tests/test_serve.py): select the source doc's top-m terms by
        HALF_UP-rounded tf*idf (ties by term), run them as a one-occurrence
        BM25 bag, exclude the source. The term vector comes from the index
        itself (one shard read); scores rank on 4dp-rounded values by
        default — the cluster operator's contract."""
        tv = self.term_vector(int(doc_id))["terms"]
        if not tv:
            return []
        terms = sorted(tv)
        weights = round_half_up(
            np.array([float(tv[t]) * self.idf.get(t, 0.0) for t in terms]), 4
        )
        order = sorted(range(len(terms)), key=lambda i: (-weights[i], terms[i]))
        qterms = {
            t: (1, self.idf[t])
            for t in (terms[i] for i in order[:m])
            if t in self.idf
        }
        if not qterms:
            return []
        return self._score(
            qterms, top_k, positive_only, score_rounding, None,
            excluded=np.array([int(doc_id)], dtype=np.int64),
        )

    # -- suggestion ---------------------------------------------------------

    def suggest(
        self, term: str, n: int = 3, max_dist: int = 1
    ) -> list[tuple[str, int, int]]:
        """Top-n fuzzy vocabulary suggestions: [(suggestion, distance, df)].

        The serving-side twin of ``query/suggest.py:term_suggest`` — same
        SymSpell deletion-1 candidate generation (complete for
        levenshtein <= 1), same exact-distance verify, same deterministic
        (distance asc, df desc, term asc) order; parity is pinned in
        tests/test_serve.py. The variant dict is built lazily per snapshot
        (vocabulary-bounded, same order of memory as the idf dict) and
        dropped on refresh().
        """
        if self._suggest_index is None:
            idx: dict[str, list[str]] = {}
            for t in self.idf:
                for v in _deletion_variants(t):
                    idx.setdefault(v, []).append(t)
            self._suggest_index = idx
        cands: set[str] = set()
        for v in _deletion_variants(term):
            cands.update(self._suggest_index.get(v, ()))
        scored = [
            (d, -self.df[t], t)
            for t in cands
            if (d := _levenshtein(term, t)) <= max_dist
        ]
        return [(t, d, -ndf) for d, ndf, t in sorted(scored)[:n]]

    # -- querying -----------------------------------------------------------

    def _search_key(
        self, text, top_k, positive_only, score_rounding, allowed, offset,
        search_after, **options,
    ) -> str:
        """The result-cache key of one request on this snapshot: the id-set
        digest of ``allowed``, the page position and every request option
        that changes the page (a falsy option is left out of the key)."""
        fkey = {}
        if allowed is not None:
            fkey["ids"] = hashlib.md5(allowed.tobytes()).hexdigest()
        if offset:
            fkey["offset"] = offset
        if search_after is not None:
            fkey["after"] = f"{search_after[0]!r}:{int(search_after[1])}"
        fkey.update((k, v) for k, v in options.items() if v)
        return TtlLruCache.make_search_key(
            text, top_k, positive_only, self.snapshot,
            filters=fkey or None, score_rounding=score_rounding,
        )

    def query(
        self,
        text: str,
        top_k: int = 10,
        positive_only: bool = True,
        score_rounding: int | None = None,
        allowed_docs=None,
        offset: int = 0,
        search_after: tuple[float, int] | None = None,
        collapse_hosts: int = 0,
    ) -> list[tuple[int, float]]:
        """[(doc_id, score)] — exact BM25 top-k, (score desc, doc_id asc).

        ``collapse_hosts=n`` is ES field collapsing on the URL host (the
        webtext "at most n results per domain" policy): at most n docs per
        host survive, chosen best-first in the same total order, BEFORE
        pagination — so offset / search_after page through the collapsed
        sequence. Same semantics as the cluster op
        ``query/rescore.py:collapse_topk`` keyed on the parsed host
        (parity pinned in tests/test_serve.py).

        ``offset`` paginates: ranks offset+1 .. offset+top_k of the SAME
        deterministic total order (page 2 of a query is stable across
        requests on one snapshot). Past-the-end offsets return [].

        ``search_after`` is the Elasticsearch-style deep-pagination cursor:
        the (score, doc_id) of the LAST hit the client received; the next
        page is the top_k docs strictly after that position in the total
        order. Equivalent to offset paging on a fixed snapshot but O(1) in
        page depth on the client protocol (no growing offset), and the two
        tile identically (pinned in tests/test_serve.py).

        Identical semantics to ``bm25_topk_wand(positive_only=...)`` for a
        single query. With a ``cache`` attached, a repeated query string is
        a whole-result hit and a repeated query *term* skips the posting
        read, decode and saturation; both are snapshot-scoped (see ``refresh``).

        ``score_rounding`` mirrors ``SearchEngine.search(score_rounding=)``:
        the positive cut stays on raw scores, then scores are HALF_UP
        rounded BEFORE the rank cut, so rank boundaries agree bit-for-bit
        with the cluster engine (and its DuckDB oracle) in equivalence mode.

        ``allowed_docs`` is the serving leg of metadata filters (the
        reference's ``filter_conditions``, api/search.py): an iterable/array
        of doc_ids that may appear in results, applied BEFORE the rank cut
        (same semantics as ``SearchEngine.search(filters=...)``'s pre-rank
        semi-join — a filtered search returns the top-k OF the allowed set,
        not the survivors of an unfiltered top-k). The caller resolves
        metadata -> ids once (e.g. a cluster job materializes the allowed-id
        set per filter expression, or a replica-local metadata sidecar);
        at serve time the filter is one vectorized ``np.isin`` over the
        already-scored candidates. Cached results are keyed by the id-set
        digest, so distinct filters never collide.
        """
        allowed = _unique_ids(allowed_docs)
        if self.cache is not None:
            skey = self._search_key(
                text, top_k, positive_only, score_rounding, allowed, offset,
                search_after, collapse=collapse_hosts,
            )
            hit = self.cache.get(skey)
            if hit is not None:
                return hit

        from ..functions.analyzers import analyze_tokens

        counts: dict[str, int] = {}
        for t in analyze_tokens(tokenize_py(text), self.stats.get("analyzer") or ""):
            counts[t] = counts.get(t, 0) + 1
        qterms = {
            t: (c, self.idf[t])
            for t, c in counts.items()
            if t in self.idf and (self.idf[t] != 0.0 or not positive_only)
        }
        result = (
            self._score(
                qterms, top_k, positive_only, score_rounding, allowed,
                offset=offset, search_after=search_after,
                collapse_hosts=collapse_hosts,
            )
            if qterms
            else []
        )
        if self.cache is not None:
            self.cache.set(skey, result)
        return result

    def query_bool(
        self,
        text: str,
        top_k: int = 10,
        positive_only: bool = False,
        score_rounding: int | None = None,
        allowed_docs=None,
        offset: int = 0,
        search_after: tuple[float, int] | None = None,
        min_should_match: int = 0,
    ) -> list[tuple[int, float]]:
        """Boolean serving twin of ``query/boolean.py:bm25_topk_bool``:
        ``+term`` must appear, ``-term`` must not, bare terms score
        optionally — same eligibility and scoring semantics as the cluster
        operator (parity pinned in tests/test_serve.py).
        ``min_should_match`` requires >= n distinct should terms per doc
        (Lucene setMinimumNumberShouldMatch), counted on the same posting
        id arrays the must intersection uses.

        Must-eligibility is the numpy intersection of the must terms'
        posting id arrays (folded into ``_score``'s pre-rank ``allowed``
        filter, composing with caller ``allowed_docs``); must_not is an
        ``excluded`` id drop. An unknown must term returns [] immediately
        (no doc can contain it). Results are whole-result cached under a
        ``bool:`` keyspace so flat queries never collide.
        """
        from .boolean import parse_bool_query

        allowed = _unique_ids(allowed_docs)
        if self.cache is not None:
            skey = self._search_key(
                f"bool:{text}", top_k, positive_only, score_rounding, allowed,
                offset, search_after, msm=min_should_match,
            )
            hit = self.cache.get(skey)
            if hit is not None:
                return hit

        from ..functions.analyzers import analyze_tokens

        ana = self.stats.get("analyzer") or ""
        counts: dict[tuple[str, str], int] = {}
        for clause, term in parse_bool_query(text):
            term = analyze_tokens([term], ana)[0]
            counts[(clause, term)] = counts.get((clause, term), 0) + 1
        must_terms = sorted({t for c, t in counts if c == "must"})
        not_terms = sorted({t for c, t in counts if c == "must_not"})
        should_terms = (
            sorted({t for c, t in counts if c == "should" and t in self.idf})
            if min_should_match > 0
            else []
        )
        if any(t not in self.idf for t in must_terms) or (
            min_should_match > 0 and len(should_terms) < min_should_match
        ):
            result: list[tuple[int, float]] = []
        else:
            # qtf sums across must+should clauses (per-occurrence semantics,
            # identical to the clause-table join in the cluster operator)
            qterms: dict[str, tuple[int, float]] = {}
            for (clause, term), qtf in counts.items():
                if clause == "must_not" or term not in self.idf:
                    continue
                if self.idf[term] == 0.0 and positive_only:
                    continue
                prev = qterms.get(term, (0, self.idf[term]))
                qterms[term] = (prev[0] + qtf, prev[1])

            post = self._postings_for(
                sorted(set(must_terms) | set(not_terms) | set(should_terms))
            )

            def _ids_of(term: str) -> np.ndarray:
                parts = [ids for _shard, ids, _sat in post[term]]
                return (
                    np.concatenate(parts) if parts else np.empty(0, dtype=np.int64)
                )

            for t in must_terms:
                have = _ids_of(t)
                allowed = have if allowed is None else np.intersect1d(allowed, have)
            if min_should_match > 0:
                # each term's id array is unique within the term, so the
                # concat's multiplicity IS the distinct-should-match count
                cat = np.concatenate([_ids_of(t) for t in should_terms])
                ids_u, n_match = np.unique(cat, return_counts=True)
                sat = ids_u[n_match >= min_should_match]
                allowed = sat if allowed is None else np.intersect1d(allowed, sat)
            excluded = (
                np.unique(np.concatenate([_ids_of(t) for t in not_terms]))
                if not_terms
                else None
            )
            empty_allowed = allowed is not None and allowed.size == 0
            result = (
                self._score(
                    qterms, top_k, positive_only, score_rounding, allowed, excluded,
                    offset=offset, search_after=search_after,
                )
                if qterms and not empty_allowed
                else []
            )
        if self.cache is not None:
            self.cache.set(skey, result)
        return result

    def warm(
        self, queries: list[str] | None = None, preload_postings: bool = False
    ) -> dict:
        """Eliminate replica cold-start before it enters the serving pool.

        The serving analog of the reference's model pre-cache (S8,
        ``scripts/download_models.py:15-38`` — download once so the first
        request doesn't pay it): loads every shard's docmap state, optionally
        streams the posting files through the OS page cache, and runs any
        given queries through the normal path so their term postings (and
        results) are cached under the current snapshot. Returns what was
        warmed; call again after ``refresh()`` for a new snapshot.
        """
        import time

        t0 = time.perf_counter()
        shards = sorted(self._docmap)
        for s in shards:
            self._shard_state(s)
        posting_bytes = 0
        if preload_postings:
            pdir = os.path.join(self.root, "postings")
            for dirpath, _dirs, files in os.walk(pdir):
                for fn in files:
                    if not fn.endswith(".parquet"):
                        continue
                    with open(os.path.join(dirpath, fn), "rb") as f:
                        while chunk := f.read(1 << 20):
                            posting_bytes += len(chunk)
        for q in queries or []:
            self.query(q, top_k=10)
        return {
            "snapshot": self.snapshot,
            "n_shards": len(shards),
            "n_terms": len(self.idf),
            "posting_bytes_touched": posting_bytes,
            "n_warm_queries": len(queries or []),
            "elapsed_s": round(time.perf_counter() - t0, 4),
        }

    def _score(
        self,
        qterms: dict,
        top_k: int,
        positive_only: bool,
        score_rounding: int | None = None,
        allowed: np.ndarray | None = None,
        excluded: np.ndarray | None = None,
        offset: int = 0,
        search_after: tuple[float, int] | None = None,
        avgdl_override: float | None = None,
        collapse_hosts: int = 0,
    ) -> list[tuple[int, float]]:
        if offset < 0:
            raise ValueError(f"offset must be >= 0, got {offset}")
        span = self.docs_per_shard
        # each shard's chains score in one codec.bm25_score_range call over
        # the shard's span, which fixes the term order. override =
        # scatter-gather mode (MultiReader): saturations under the GLOBAL
        # avgdl, so partial-index scores equal merged-index scores
        by_shard: dict[int, dict] = {}
        for term, parts in self._postings_for(sorted(qterms), avgdl_override).items():
            qtf, idf = qterms[term]
            for shard, ids, sat in parts:
                by_shard.setdefault(shard, {})[term] = (ids, sat, qtf * idf)
        if not by_shard:
            return []
        hits = [
            codec.bm25_score_range(chains, shard * span, (shard + 1) * span, positive_only)
            for shard, chains in by_shard.items()
        ]
        ids, scores = map(np.concatenate, zip(*hits))
        if allowed is not None:
            keep = np.isin(ids, allowed, assume_unique=False)
            ids, scores = ids[keep], scores[keep]
            if ids.size == 0:
                return []
        if excluded is not None and excluded.size:
            keep = ~np.isin(ids, excluded, assume_unique=False)
            ids, scores = ids[keep], scores[keep]
            if ids.size == 0:
                return []
        if score_rounding is not None:
            scores = round_half_up(scores, score_rounding)
        if collapse_hosts:
            # sort once into the final (score desc, id asc) order, then keep
            # the first `collapse_hosts` rows of each host — vectorized
            # per-group cumcount, no Python loop over candidates
            order = np.lexsort((ids, -scores))
            ids, scores = ids[order], scores[order]
            inv = np.unique(self._hosts_for(ids), return_inverse=True)[1]
            counts = np.bincount(inv)
            starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
            gorder = np.argsort(inv, kind="stable")
            pos = np.empty(inv.size, dtype=np.int64)
            pos[gorder] = np.arange(inv.size) - np.repeat(starts, counts)
            keep = pos < collapse_hosts
            ids, scores = ids[keep], scores[keep]
        if search_after is not None:
            # cursor = the (score, doc_id) of the last hit the client saw, in
            # the representation this reader emits (post-rounding): keep only
            # docs STRICTLY after it in the (score desc, doc_id asc) order.
            # Comparing emitted-score == stored-score is exact (same floats).
            a_score, a_id = float(search_after[0]), int(search_after[1])
            keep = (scores < a_score) | ((scores == a_score) & (ids > a_id))
            ids, scores = ids[keep], scores[keep]
            if ids.size == 0:
                return []
        if collapse_hosts:
            # already in final order (masks preserve it); just paginate
            sl = slice(offset, offset + top_k)
            return [(int(d), float(s)) for d, s in zip(ids[sl], scores[sl])]
        # top-(offset+top_k) selection, not a full candidate sort: partition
        # for the need-th largest score, keep only candidates at or above it
        # (ALL ties at the threshold survive, so the (score desc, doc_id asc)
        # lexsort of the survivors is exact), then sort the small remainder.
        # Head-term queries at 100K docs have ~N candidates; this turns the
        # dominant O(N log N) rank step into O(N) + O(k' log k').
        need = offset + top_k
        if 0 < need < scores.size:
            kth = np.partition(scores, scores.size - need)[scores.size - need]
            keep = scores >= kth
            ids, scores = ids[keep], scores[keep]
        sel = np.lexsort((ids, -scores))
        sel = sel[offset : offset + top_k]
        return [(int(ids[i]), float(scores[i])) for i in sel]
