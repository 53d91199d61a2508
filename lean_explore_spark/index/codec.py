"""Posting-list codec: delta-gap + LEB128 varint, block-max metadata.

The reference keeps postings implicit (rebuilt per query inside
rank_bm25, local/search.py:674); our explicit artifact follows the
north_rule: sorted posting lists, delta-gap + varint compressed, with
per-block max-score metadata for block-max WAND (Ding & Suel 2011).

Layout per (term, doc-shard) row:

  payload = block_0_gaps ‖ block_0_tfs ‖ block_1_gaps ‖ ...  (binary)

* blocks hold up to ``block_size`` postings, doc_ids ascending;
* gaps are RANK deltas within the shard's sorted doc-id array (the
  same ``dl_ids`` slice every reader already loads for doc lengths),
  NOT raw id deltas: doc_ids are 2^62-scale url hashes, so id gaps
  cost 8-9 varint bytes while rank gaps are 1-2 (measured 8.1 →
  ~2.3 B/posting at 400k docs).  The first gap of a block is 0 and
  the block's absolute position is recovered by binary-searching
  ``block_first`` (an EXTERNAL id, kept for WAND's directory
  galloping) in ``dl_ids`` — so every block still decodes
  independently, which block-max skipping requires;
* per-block directory arrays (kept as typed parquet columns, NOT in
  the binary payload, so Catalyst can prune them): first/last doc,
  posting count, gap/tf byte lengths, and ``max_score`` = the maximum
  of the BM25 tf-part  tf·(k1+1)/(k1·(1−b+b·dl/avgdl)+tf)  over the
  block's postings, computed at build time with true doc lengths.
  Multiplying by idf (known only at query time from the dictionary)
  gives the exact per-term block upper bound.

Encoder and decoder are numpy-vectorized — no per-posting Python in
the hot path (input_hint: vectorized Arrow UDFs, no per-row Python).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import List

import numpy as np

BLOCK_SIZE = 128
K1 = 1.5
B = 0.75


def varint_encode_sized(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """LEB128-encode a uint64 array, vectorized; also return the
    per-value byte counts so callers can slice the stream into blocks
    (one encode call per task instead of two per block — the packer's
    hot path)."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    if v.size == 0:
        return b"", np.zeros(0, dtype=np.int64)
    nbytes = np.ones(v.size, dtype=np.int64)
    tmp = v >> np.uint64(7)
    while tmp.any():
        nbytes += (tmp > 0).astype(np.int64)
        tmp = tmp >> np.uint64(7)
    offsets = np.zeros(v.size + 1, dtype=np.int64)
    np.cumsum(nbytes, out=offsets[1:])
    out = np.zeros(offsets[-1], dtype=np.uint8)
    cur = v.copy()
    idx = offsets[:-1].copy()
    remaining = nbytes.copy()
    for _ in range(int(nbytes.max())):
        mask = remaining > 0
        byte = (cur & np.uint64(0x7F)).astype(np.uint8)
        byte[remaining > 1] |= 0x80
        out[idx[mask]] = byte[mask]
        idx += 1
        cur = cur >> np.uint64(7)
        remaining -= 1
    return out.tobytes(), nbytes


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode a uint64 array, vectorized."""
    return varint_encode_sized(values)[0]


def varint_decode(buf: bytes, count: int | None = None) -> np.ndarray:
    """Decode LEB128 bytes back to uint64, vectorized."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.zeros(0, dtype=np.uint64)
    # fast path: no continuation bits → every byte is one value
    # (true for nearly all gap/tf blocks on natural text)
    if not (b & 0x80).any():
        if count is not None and count != b.size:
            raise ValueError(f"expected {count} values, payload holds {b.size}")
        return b.astype(np.uint64)
    is_last = (b & 0x80) == 0
    n = int(is_last.sum())
    if count is not None and count != n:
        raise ValueError(f"expected {count} values, payload holds {n}")
    val_idx = np.zeros(b.size, dtype=np.int64)
    np.cumsum(is_last[:-1], out=val_idx[1:])
    ends = np.flatnonzero(is_last)
    starts = np.empty(n, dtype=np.int64)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    pos = (np.arange(b.size, dtype=np.int64) - starts[val_idx]).astype(np.uint64)
    vals = np.zeros(n, dtype=np.uint64)
    np.add.at(vals, val_idx, (b & np.uint64(0x7F)).astype(np.uint64) << (np.uint64(7) * pos))
    return vals


def bm25_tf_part(
    tfs: np.ndarray, doc_lens: np.ndarray, avgdl: float, k1: float = K1, b: float = B
) -> np.ndarray:
    """The idf-independent BM25 factor, float64, same expression tree as
    the oracle (oracle/bm25.py get_scores)."""
    tf = tfs.astype(np.float64)
    dl_norm = k1 * (1.0 - b + b * doc_lens.astype(np.float64) / avgdl)
    return (tf * (k1 + 1.0)) / (dl_norm + tf)


@dataclass(slots=True)
class PackedPostings:
    """One (term, shard) posting list, packed.  Slotted: a preloaded
    engine holds one per (term, shard) row."""

    count: int
    block_first: np.ndarray  # int64[n_blocks]
    block_last: np.ndarray  # int64[n_blocks]
    block_count: np.ndarray  # int32[n_blocks]
    block_gap_bytes: np.ndarray  # int32[n_blocks]
    block_tf_bytes: np.ndarray  # int32[n_blocks]
    block_max_score: np.ndarray  # float64[n_blocks] (tf-part max)
    block_max_tf: np.ndarray  # int32[n_blocks]
    payload: "bytes | np.ndarray"  # uint8; readers hold numpy views


def pack_postings(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    doc_lens: np.ndarray,
    avgdl: float,
    block_size: int = BLOCK_SIZE,
    ranks: np.ndarray | None = None,
) -> PackedPostings:
    """Pack one posting list (already sorted by doc_id ascending).

    ``ranks`` = each posting's index in the shard's sorted doc-id
    universe (``np.searchsorted(dl_ids, doc_ids)``); the payload
    encodes rank gaps.  Callers that already looked ranks up for the
    doc-length join pass them in; otherwise they are synthesized as
    0..n-1 ONLY when the list is its own universe (tests)."""
    n = len(doc_ids)
    doc_ids = np.ascontiguousarray(doc_ids, dtype=np.int64)
    tfs = np.ascontiguousarray(tfs, dtype=np.int64)
    if n and np.any(np.diff(doc_ids) <= 0):
        raise ValueError("doc_ids must be strictly ascending")
    if ranks is None:
        ranks = np.arange(n, dtype=np.int64)
    else:
        ranks = np.ascontiguousarray(ranks, dtype=np.int64)
    scores = bm25_tf_part(tfs, np.ascontiguousarray(doc_lens), avgdl)

    n_blocks = (n + block_size - 1) // block_size
    firsts = np.empty(n_blocks, dtype=np.int64)
    lasts = np.empty(n_blocks, dtype=np.int64)
    counts = np.empty(n_blocks, dtype=np.int32)
    gap_bytes = np.empty(n_blocks, dtype=np.int32)
    tf_bytes = np.empty(n_blocks, dtype=np.int32)
    max_scores = np.empty(n_blocks, dtype=np.float64)
    max_tfs = np.empty(n_blocks, dtype=np.int32)
    chunks: List[bytes] = []
    for bi in range(n_blocks):
        lo, hi = bi * block_size, min((bi + 1) * block_size, n)
        ids = doc_ids[lo:hi]
        gaps = np.empty(hi - lo, dtype=np.uint64)
        gaps[0] = 0
        gaps[1:] = np.diff(ranks[lo:hi]).astype(np.uint64)
        g = varint_encode(gaps)
        t = varint_encode(tfs[lo:hi].astype(np.uint64))
        firsts[bi] = ids[0]
        lasts[bi] = ids[-1]
        counts[bi] = hi - lo
        gap_bytes[bi] = len(g)
        tf_bytes[bi] = len(t)
        max_scores[bi] = float(scores[lo:hi].max())
        max_tfs[bi] = int(tfs[lo:hi].max())
        chunks.append(g)
        chunks.append(t)
    return PackedPostings(
        count=n,
        block_first=firsts,
        block_last=lasts,
        block_count=counts,
        block_gap_bytes=gap_bytes,
        block_tf_bytes=tf_bytes,
        block_max_score=max_scores,
        block_max_tf=max_tfs,
        payload=b"".join(chunks),
    )


def unpack_block(
    packed: PackedPostings, block_idx: int, dl_ids: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Decode one block → (doc_ids int64, tfs int64).

    ``dl_ids`` = the shard's sorted doc-id array (the doc-length join
    key every reader already holds); the block's absolute rank comes
    from binary-searching its external ``block_first``."""
    off = int(
        packed.block_gap_bytes[:block_idx].sum()
        + packed.block_tf_bytes[:block_idx].sum()
    )
    g_len = int(packed.block_gap_bytes[block_idx])
    t_len = int(packed.block_tf_bytes[block_idx])
    cnt = int(packed.block_count[block_idx])
    gaps = varint_decode(packed.payload[off : off + g_len], cnt)
    tfs = varint_decode(packed.payload[off + g_len : off + g_len + t_len], cnt)
    first_rank = int(
        np.searchsorted(dl_ids, packed.block_first[block_idx])
    )
    ranks = first_rank + np.cumsum(gaps.astype(np.int64))
    # first gap is 0 → cumsum starts at the block's first rank
    return dl_ids[ranks], tfs.astype(np.int64)


def unpack_all(
    packed: PackedPostings, dl_ids: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Decode the whole list → (doc_ids, tfs)."""
    ids: List[np.ndarray] = []
    tfs: List[np.ndarray] = []
    for bi in range(len(packed.block_first)):
        i, t = unpack_block(packed, bi, dl_ids)
        ids.append(i)
        tfs.append(t)
    if not ids:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.int64)
    return np.concatenate(ids), np.concatenate(tfs)


def unpack_for(
    packed: PackedPostings, want_ids: np.ndarray, dl_ids: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Decode only postings for a sorted candidate id array.

    Blocks whose [block_first, block_last] span contains no candidate
    are skipped via the block directory (no varint decode) — the
    candidate-set scorer touches O(|cands| / span · blocks) payload
    instead of the whole list.  Returns (doc_ids, tfs) restricted to
    ``want_ids``.
    """
    ids: List[np.ndarray] = []
    tfs: List[np.ndarray] = []
    for bi in range(len(packed.block_first)):
        lo = int(np.searchsorted(want_ids, packed.block_first[bi], "left"))
        hi = int(np.searchsorted(want_ids, packed.block_last[bi], "right"))
        if lo >= hi:
            continue
        d, t = unpack_block(packed, bi, dl_ids)
        pos = np.searchsorted(want_ids, d)
        pos_c = np.minimum(pos, len(want_ids) - 1)
        mask = want_ids[pos_c] == d
        if mask.any():
            ids.append(d[mask])
            tfs.append(t[mask])
    if not ids:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.int64)
    return np.concatenate(ids), np.concatenate(tfs)


def unpack_selected(
    packed: PackedPostings, block_indices: np.ndarray, dl_ids: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Decode only the given block indices (ascending) — the block-max
    bulk scorer's partial decode.  Offsets are cumsummed once."""
    sizes = packed.block_gap_bytes.astype(np.int64) + packed.block_tf_bytes.astype(
        np.int64
    )
    offs = np.zeros(len(sizes) + 1, dtype=np.int64)
    np.cumsum(sizes, out=offs[1:])
    ids: List[np.ndarray] = []
    tfs: List[np.ndarray] = []
    for bi in block_indices:
        bi = int(bi)
        off = int(offs[bi])
        g_len = int(packed.block_gap_bytes[bi])
        t_len = int(packed.block_tf_bytes[bi])
        cnt = int(packed.block_count[bi])
        gaps = varint_decode(packed.payload[off : off + g_len], cnt)
        t = varint_decode(packed.payload[off + g_len : off + g_len + t_len], cnt)
        first_rank = int(np.searchsorted(dl_ids, packed.block_first[bi]))
        ids.append(dl_ids[first_rank + np.cumsum(gaps.astype(np.int64))])
        tfs.append(t.astype(np.int64))
    if not ids:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.int64)
    return np.concatenate(ids), np.concatenate(tfs)
