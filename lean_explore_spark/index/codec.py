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
* six per-block directory arrays (kept as typed parquet columns, NOT
  in the binary payload, so Catalyst can prune them): ``block_first``
  and ``block_last`` (first/last doc id), ``block_count`` (postings),
  ``block_gap_bytes`` and ``block_tf_bytes`` (byte lengths), and
  ``block_max_score`` = the maximum of the BM25 tf-part  tf·(k1+1)/(k1·(1−b+b·dl/avgdl)+tf)  over the
  block's postings, computed at build time with true doc lengths.
  Multiplying by idf (known only at query time from the dictionary)
  gives the exact per-term block upper bound.

Encoding: the builder's packer (index/builder.py) encodes every
payload of a pack task in one ``varint_encode_sized`` pass; ``pack_postings``
here packs one list block by block (the reference the tests use).
Decoding: ``_decode_blocks`` is the one reader of the layout.  It
decodes any ascending set of a list's blocks in one vectorized
``varint_decode`` pass and checks every gap and tf range against
``block_count``; ``unpack_all``, ``unpack_selected``, ``unpack_for``
and the WAND cursor all call it — no per-posting or per-block Python
in the decode path (input_hint: vectorized Arrow UDFs, no per-row
Python).
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


def varint_decode(buf: "bytes | np.ndarray") -> np.ndarray:
    """Decode LEB128 bytes back to uint64, vectorized.  ``buf`` must
    end on a value's terminal byte (``_decode_blocks`` checks that)."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.zeros(0, dtype=np.uint64)
    # fast path: no continuation bits → every byte is one value
    # (true for nearly all gap/tf blocks on natural text)
    if b.max() < 0x80:
        return b.astype(np.uint64)
    is_last = (b & 0x80) == 0
    n = int(is_last.sum())
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
        payload=b"".join(chunks),
    )


def _decode_blocks(
    packed: PackedPostings, blocks, dl_ids: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Decode the given block indices (ascending) → (doc_ids, tfs),
    int64 — the one reader of the payload layout.

    The selected blocks' byte ranges go through ONE ``varint_decode``;
    the values are split into gaps and tfs by ``block_count``, and each
    block's first rank is one ``searchsorted`` of its ``block_first`` in
    ``dl_ids`` plus a cumsum of its gaps, restarted per block.  Each gap
    range and each tf range must hold exactly ``block_count`` values and
    end on a value boundary, else ``ValueError`` — a directory that
    disagrees with its payload never decodes into another block."""
    blocks = np.asarray(blocks, dtype=np.int64)
    if blocks.size == 0:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.int64)
    payload = np.frombuffer(packed.payload, dtype=np.uint8)
    # array methods, not np.* wrappers: a decode is dozens of calls on
    # tiny arrays, so call cost counts
    block_bytes = packed.block_gap_bytes + packed.block_tf_bytes
    ends = block_bytes.cumsum(dtype=np.int64)  # each block's end in the payload
    if ends[-1] > payload.size:
        raise ValueError(
            f"directory spans {ends[-1]} payload bytes, payload holds {payload.size}"
        )
    # the selected blocks' bytes in order: one slice for a contiguous run
    first, last = int(blocks[0]), int(blocks[-1])
    if last - first + 1 == blocks.size:
        start = int(ends[first - 1]) if first else 0
        buf = payload[start : ends[last]]
        buf_end = ends[first : last + 1] - start  # each block's end in ``buf``
    else:
        sizes = block_bytes[blocks].astype(np.int64)
        buf_end = sizes.cumsum()
        buf = payload[np.arange(buf_end[-1]) + (ends[blocks] - buf_end).repeat(sizes)]
    # block j holds cnt_j gap values then cnt_j tf values, so with cc_j
    # postings through block j its tf range must end on the last byte
    # of value 2·cc_j and its gap range on the last byte of value
    # 2·cc_j − cnt_j
    cnt = packed.block_count[blocks].astype(np.int64)
    cc = cnt.cumsum()
    value_end = (buf < 0x80).nonzero()[0]  # each value's last byte
    tf_value_end = 2 * cc - 1
    gap_byte_end = buf_end - packed.block_tf_bytes[blocks]
    if cnt.min() < 1 or len(value_end) != 2 * cc[-1] or (
        (value_end[tf_value_end] != buf_end - 1)
        | (value_end[tf_value_end - cnt] != gap_byte_end - 1)
    ).any():
        raise ValueError("block counts disagree with the payload's varint ranges")
    vals = varint_decode(buf)
    head = cc - cnt  # each block's first posting
    gap_at = np.arange(cc[-1]) + head.repeat(cnt)  # block j's gaps start at 2·head_j
    gaps = vals[gap_at].astype(np.int64)
    tfs = vals[gap_at + cnt.repeat(cnt)].astype(np.int64)
    # rank = block's first rank + cumsum of the block's own gaps
    csum = gaps.cumsum()
    first_rank = dl_ids.searchsorted(packed.block_first[blocks])
    ranks = csum + (first_rank - (csum[head] - gaps[head])).repeat(cnt)
    return dl_ids[ranks], tfs


def unpack_all(
    packed: PackedPostings, dl_ids: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Decode the whole list → (doc_ids, tfs)."""
    return _decode_blocks(packed, np.arange(len(packed.block_first)), dl_ids)


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
    lo = np.searchsorted(want_ids, packed.block_first, "left")
    hi = np.searchsorted(want_ids, packed.block_last, "right")
    d, t = _decode_blocks(packed, np.flatnonzero(lo < hi), dl_ids)
    if len(d) == 0:
        return d, t
    pos = np.minimum(np.searchsorted(want_ids, d), len(want_ids) - 1)
    mask = want_ids[pos] == d
    return d[mask], t[mask]


def unpack_selected(
    packed: PackedPostings, block_indices: np.ndarray, dl_ids: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Decode only the given block indices (ascending) — the block-max
    bulk scorer's partial decode."""
    return _decode_blocks(packed, block_indices, dl_ids)
