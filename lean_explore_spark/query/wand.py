"""Block-max WAND top-k over packed posting lists (Ding & Suel 2011).

Custom operator (SURVEY.md §4 "needs custom work" #3): DAAT traversal
with term-upper-bound pivoting and block-level skipping, not
expressible as DataFrame ops.  Runs per doc-shard; shards partition
the doc space into ascending disjoint ranges, so a shared top-k heap
sweeps shards in order (the fork-pool and Spark executors score units
on separate heaps and merge top-k — same algorithm, see
query/search.py).

Kernels (one call per unit: a (segment, shard) pair, or a whole
segment whose every shard takes the exhaustive kernel, its lists then
spanning every shard against the segment's concatenated doc ids;
``search._score_unit`` builds the cursors and picks one):

* ``bulk_score_shard`` — exhaustive and vectorized: every block of
  every list kept;
* ``blockmax_bulk_shard`` — block-max pruning at block granularity
  (``keep`` per list), then the same body on the surviving blocks;
* ``wand_shard`` — the per-doc DAAT cross-check kernel; the only one
  that walks a ``TermCursor`` block by block.

Both bulk kernels share one body, ``_score_kept``: decode through
``codec.unpack_all`` / ``codec.unpack_selected`` → touched-row remap →
X fill → ``QueryContext.score_rows`` → the call's top k (every tie at
the k-th score kept) pushed best-first.  A ``TermCursor`` decodes
nothing until ``wand_shard`` starts its scan.

Exactness contract (rank-identity, SURVEY.md §2.9):

* A scored doc's BM25Plus value is computed with the oracle's exact
  expression tree and token-sequence-major accumulation —
  ``s += idf·(delta + x)`` per query-token occurrence — so scores are
  bit-identical to oracle/bm25.get_scores.
* Pruning bounds are computed separately (any float shape) and
  inflated by (1+1e-9)+1e-12 before comparison, so a bound's last-ulp
  wobble can never prune a doc whose exact score would qualify.
* The delta-floor (reference search.py:674-678 via BM25Plus) means
  every doc scores at least C0 = Σ idf·delta; docs outside all
  posting lists are implicit C0 candidates handled by the caller's
  fill step.  While the heap floor θ equals C0 we never block-skip
  (ties at C0 must resolve by doc_id, and doc order is preserved by
  DAAT's ascending sweep).
"""

from __future__ import annotations

import heapq
from dataclasses import dataclass
from typing import List, Optional, Tuple

import numpy as np

from lean_explore_spark.index import codec

_INF = np.iinfo(np.int64).max


def _inflate(ub: float) -> float:
    return ub * (1.0 + 1e-9) + 1e-12


class TermCursor:
    """One term's packed posting list in a unit (its row in one shard,
    or its rows in every shard of a segment) and its query term index.
    Construction decodes nothing: the bulk kernels decode the list
    through ``codec``, and ``wand_shard`` starts the doc-at-a-time scan
    (``_load_block(0)``) itself, decoding one block at a time and
    skipping blocks via the directory."""

    __slots__ = (
        "packed",
        "uterm",
        "dl_ids",
        "n_blocks",
        "bi",
        "pos",
        "ids",
        "tfs",
        "doc",
    )

    def __init__(
        self,
        packed: codec.PackedPostings,
        uterm: int,
        dl_ids: np.ndarray,
    ):
        """``dl_ids`` = the unit's sorted doc-id array: rank gaps in
        the payload dereference through it (codec docstring)."""
        self.packed = packed
        self.uterm = uterm
        self.dl_ids = dl_ids
        self.n_blocks = len(packed.block_first)
        self.bi = -1
        self.pos = 0
        self.ids: Optional[np.ndarray] = None
        self.tfs: Optional[np.ndarray] = None
        self.doc = -1

    def _load_block(self, bi: int) -> None:
        if bi >= self.n_blocks:
            self.bi = self.n_blocks
            self.ids = None
            self.doc = _INF
            return
        self.ids, self.tfs = codec._decode_blocks(self.packed, [bi], self.dl_ids)
        self.bi = bi
        self.pos = 0
        self.doc = int(self.ids[0])

    def block_ub(self) -> float:
        """Max tf-part within the current block."""
        if self.bi >= self.n_blocks:
            return 0.0
        return float(self.packed.block_max_score[self.bi])

    def cur_tf(self) -> int:
        return int(self.tfs[self.pos])

    def advance(self) -> None:
        """Move to the next posting."""
        self.pos += 1
        if self.pos < len(self.ids):
            self.doc = int(self.ids[self.pos])
        else:
            self._load_block(self.bi + 1)

    def advance_to(self, target: int) -> None:
        """Move to the first posting with doc >= target (block skip)."""
        if self.doc >= target:
            return
        p = self.packed
        bi = self.bi
        if int(p.block_last[bi]) < target:
            # galloping over the block directory, no decode
            bi = int(np.searchsorted(p.block_last, target, side="left"))
            if bi >= self.n_blocks:
                self.bi = self.n_blocks
                self.ids = None
                self.doc = _INF
                return
            self._load_block(bi)
            if self.doc >= target:
                return
        self.pos = int(np.searchsorted(self.ids, target, side="left"))
        if self.pos < len(self.ids):
            self.doc = int(self.ids[self.pos])
        else:  # pragma: no cover - block_last guard makes this unreachable
            self._load_block(self.bi + 1)

    def exhausted(self) -> bool:
        return self.bi >= self.n_blocks


@dataclass
class QueryContext:
    """Per-query scoring constants shared across shards."""

    token_uterm: List[int]  # unique-term index per query token, in order
    idfs: np.ndarray  # float64 per unique term
    k1: float
    b: float
    delta: float
    avgdl: float

    def score_doc(self, x: np.ndarray) -> float:
        """Exact BM25Plus: token-sequence-major accumulation (oracle
        parity; x[u] = tf-part for unique term u, 0 if unmatched)."""
        s = 0.0
        idfs = self.idfs
        delta = self.delta
        for u in self.token_uterm:
            s += idfs[u] * (delta + x[u])
        return s

    def score_rows(self, X: np.ndarray) -> np.ndarray:
        """``score_doc`` of every row of X (docs × unique terms), the
        same token-sequence-major float64 sum — what the bulk kernels
        and candidate scoring use."""
        score = np.zeros(len(X), dtype=np.float64)
        for u in self.token_uterm:  # token order, like the oracle
            score += self.idfs[u] * (self.delta + X[:, u])
        return score

    @property
    def c0(self) -> float:
        return self.score_doc(np.zeros(len(self.idfs), dtype=np.float64))


def x_value(tf: int, doc_len: int, avgdl: float, k1: float, b: float) -> float:
    """Scalar twin of codec.bm25_tf_part / oracle dl_norm expression."""
    dl_norm = k1 * (1.0 - b + b * float(doc_len) / avgdl)
    return (tf * (k1 + 1.0)) / (dl_norm + tf)


def wand_shard(
    cursors: List[TermCursor],
    ctx: QueryContext,
    dl_ids: np.ndarray,
    dl_lens: np.ndarray,
    heap: List[Tuple[float, int, int]],
    k: int,
) -> None:
    """Run block-max WAND over one shard, updating the shared heap.

    heap entries are (score, -doc_id, doc_id) min-heap tuples so the
    worst entry is lowest score, then largest doc_id.
    """
    n_u = len(ctx.idfs)
    c0 = ctx.c0
    # per-unique-term WAND upper bound contribution (term-level max),
    # weighted by the number of times the term occurs in the query
    tok_counts = np.zeros(n_u, dtype=np.float64)
    for u in ctx.token_uterm:
        tok_counts[u] += 1.0
    term_ub = np.zeros(n_u, dtype=np.float64)
    for cur in cursors:
        cur._load_block(0)  # start the scan: the cursor decodes lazily
        max_x = float(cur.packed.block_max_score.max()) if cur.n_blocks else 0.0
        term_ub[cur.uterm] = tok_counts[cur.uterm] * ctx.idfs[cur.uterm] * max_x

    live = [c for c in cursors if not c.exhausted()]
    x = np.zeros(n_u, dtype=np.float64)

    while live:
        live.sort(key=lambda c: c.doc)
        theta = heap[0][0] if len(heap) >= k else -np.inf
        prune_on = len(heap) >= k and theta > c0  # never skip at the C0 tier

        # find pivot: smallest doc where optimistic score could beat theta
        acc = c0
        pivot_idx = -1
        for i, cur in enumerate(live):
            acc += term_ub[cur.uterm]
            if not prune_on or _inflate(acc) >= theta:
                pivot_idx = i
                break
        if pivot_idx < 0:
            return  # no remaining doc can beat theta
        pivot_doc = live[pivot_idx].doc
        if pivot_doc == _INF:
            return

        if live[0].doc == pivot_doc:
            # all leading cursors aligned on pivot_doc
            aligned = [c for c in live if c.doc == pivot_doc]
            # block-max refinement: exact current-block bound
            if prune_on:
                block_acc = c0
                for cur in aligned:
                    block_acc += (
                        tok_counts[cur.uterm] * ctx.idfs[cur.uterm] * cur.block_ub()
                    )
                if _inflate(block_acc) < theta:
                    for cur in aligned:
                        cur.advance()
                    live = [c for c in live if not c.exhausted()]
                    continue
            # exact scoring
            dl_pos = int(np.searchsorted(dl_ids, pivot_doc))
            doc_len = int(dl_lens[dl_pos])
            x[:] = 0.0
            for cur in aligned:
                x[cur.uterm] = x_value(
                    cur.cur_tf(), doc_len, ctx.avgdl, ctx.k1, ctx.b
                )
            s = ctx.score_doc(x)
            entry = (s, -pivot_doc, pivot_doc)
            if len(heap) < k:
                heapq.heappush(heap, entry)
            elif entry > heap[0]:
                heapq.heapreplace(heap, entry)
            for cur in aligned:
                cur.advance()
            live = [c for c in live if not c.exhausted()]
        else:
            # advance the largest-UB cursor strictly before pivot_doc
            # (one at pivot_doc would make advance_to a no-op → no
            # progress); live is sorted, so live[0].doc < pivot_doc here
            lead = max(
                (c for c in live[:pivot_idx] if c.doc < pivot_doc),
                key=lambda c: term_ub[c.uterm],
            )
            lead.advance_to(pivot_doc)
            live = [c for c in live if not c.exhausted()]


def _score_kept(
    cursors: List[TermCursor],
    keep: List[Optional[np.ndarray]],
    ctx: QueryContext,
    dl_ids: np.ndarray,
    dl_lens: np.ndarray,
    heap: List[Tuple[float, int, int]],
    k: int,
) -> None:
    """The vectorized scoring body of both bulk kernels: decode each
    cursor's kept blocks (``keep[i]`` ascending block indices, None =
    every block), score the touched docs, push them best-first.

    This is literally the oracle's computation (oracle/bm25.py
    get_scores) restricted to the shard's touched docs: per unique
    term, x is filled into a (docs × terms) matrix and the score
    accumulates token-sequence-major over columns — float64 results
    are bit-identical to both the oracle and wand_shard.
    """
    # touched-row discovery via a span-bounded bool mask + remap array
    # — replaces the old np.unique SORT over every decoded posting
    # (the p95 cost on hot Zipf terms) without allocating a
    # universe × terms matrix
    decoded = []  # (uterm, pos, x)
    touched = np.zeros(len(dl_ids), dtype=bool)
    for cur, blocks in zip(cursors, keep):
        if blocks is None:
            d, t = codec.unpack_all(cur.packed, dl_ids)
        else:
            d, t = codec.unpack_selected(cur.packed, blocks, dl_ids)
        if len(d) == 0:
            continue
        pos = np.searchsorted(dl_ids, d)
        x = codec.bm25_tf_part(t, dl_lens[pos], ctx.avgdl, ctx.k1, ctx.b)
        decoded.append((cur.uterm, pos, x))
        touched[pos] = True
    if not decoded:
        return
    rows = np.flatnonzero(touched)  # ascending → doc ids ascending
    remap = np.empty(len(dl_ids), dtype=np.int64)
    remap[rows] = np.arange(len(rows))
    Xt = np.zeros((len(rows), len(ctx.idfs)), dtype=np.float64)
    for uterm, pos, x in decoded:
        Xt[remap[pos], uterm] = x
    score = ctx.score_rows(Xt)
    uniq = dl_ids[rows]
    # only this call's top k can enter a k-heap: once they are pushed,
    # the heap's floor is at least this call's k-th entry.  Keep every
    # tie at the k-th score (which of them ranks k-th is the doc-id
    # order's call), then sort just those
    if len(score) > k:
        top = np.flatnonzero(score >= np.partition(score, -k)[-k])
        score, uniq = score[top], uniq[top]
    # best-first by (score desc, doc asc); stop pushing once the heap
    # is full and the next candidate cannot enter
    order = np.lexsort((uniq, -score))
    for s, d in zip(score[order].tolist(), uniq[order].tolist()):
        entry = (s, -d, d)
        if len(heap) < k:
            heapq.heappush(heap, entry)
        elif entry > heap[0]:
            heapq.heapreplace(heap, entry)
        else:
            break  # sorted order: nothing later can enter either


def bulk_score_shard(
    cursors: List[TermCursor],
    ctx: QueryContext,
    dl_ids: np.ndarray,
    dl_lens: np.ndarray,
    heap: List[Tuple[float, int, int]],
    k: int,
) -> None:
    """Vectorized exhaustive scorer for one shard — used when WAND
    cannot prune enough to pay for its per-doc Python loop (small
    total posting count, or single dense term at sub-corpus k): the
    shared body with every block of every list kept."""
    _score_kept(cursors, [None] * len(cursors), ctx, dl_ids, dl_lens, heap, k)


def _windowed_max(vals: np.ndarray, lo: np.ndarray, hi: np.ndarray) -> np.ndarray:
    """max(vals[lo_i:hi_i]) per i for MONOTONE non-decreasing windows
    (block ranges advance with doc ranges) — amortized O(n) via a
    monotone deque; empty windows yield 0."""
    from collections import deque

    out = np.zeros(len(lo), dtype=np.float64)
    dq: deque = deque()  # indices, vals decreasing
    nxt = 0
    for i in range(len(lo)):
        h = int(hi[i])
        while nxt < h:
            v = vals[nxt]
            while dq and vals[dq[-1]] <= v:
                dq.pop()
            dq.append(nxt)
            nxt += 1
        start = int(lo[i])
        while dq and dq[0] < start:
            dq.popleft()
        if dq and dq[0] < h:
            out[i] = vals[dq[0]]
    return out


def blockmax_bulk_shard(
    cursors: List[TermCursor],
    ctx: QueryContext,
    dl_ids: np.ndarray,
    dl_lens: np.ndarray,
    heap: List[Tuple[float, int, int]],
    k: int,
    theta0: Optional[float] = None,
) -> None:
    """Block-max pruned vectorized scorer: WAND's bound logic applied
    at BLOCK granularity, with surviving blocks scored in bulk (the
    PISA/Lucene SIMD shape — no per-doc Python loop).

    Soundness of skipping the per-doc correction: a block b of term t
    is pruned only when  inflate(c0 + w_t·max_x(b) +
    Σ_{t'≠t} w_{t'}·max_x(t' blocks overlapping b's doc range)) < θ —
    an upper bound on the TRUE score of every doc in b.  Contributions
    are non-negative, so a doc inside any pruned block has true score
    < θ, and its PARTIAL score (decoded from kept blocks only) is
    ≤ true < θ — it can never displace a heap entry.  Docs in no
    pruned block have complete scores.  Pruning only activates once
    the heap holds k entries with θ > C0 (same gate as wand_shard), so
    the delta-floor fill semantics are untouched.

    ``theta0`` (r8, the fan-out seeding): a caller-supplied LOWER
    BOUND on the true global k-th score — e.g. the k-th score of one
    fully-scored shard (a subset's k-th best can only be ≤ the
    global's).  It lets parallel per-shard scoring prune from the
    start instead of losing the sequential θ cascade; any doc pruned
    by theta0 has true score < theta0 ≤ global θ, so it can never be
    in the global top-k.  Callers must only pass it when ≥ k matched
    docs exist globally (the seeding shard's heap reached k), which
    keeps the delta-floor gate intact.
    """
    n_u = len(ctx.idfs)
    c0 = ctx.c0
    theta = heap[0][0] if len(heap) >= k else -np.inf
    prune_on = len(heap) >= k and theta > c0
    if theta0 is not None and theta0 > theta:
        theta = theta0
        prune_on = theta > c0
    tok_counts = np.zeros(n_u, dtype=np.float64)
    for u in ctx.token_uterm:
        tok_counts[u] += 1.0
    w = [tok_counts[cur.uterm] * ctx.idfs[cur.uterm] for cur in cursors]

    keep: List[Optional[np.ndarray]] = [None] * len(cursors)  # None = all
    if prune_on and cursors:
        for i, cur in enumerate(cursors):
            p = cur.packed
            bound = c0 + w[i] * p.block_max_score
            for j, other in enumerate(cursors):
                if j == i:
                    continue
                q = other.packed
                lo = np.searchsorted(q.block_last, p.block_first, "left")
                hi = np.searchsorted(q.block_first, p.block_last, "right")
                bound = bound + w[j] * _windowed_max(q.block_max_score, lo, hi)
            keep[i] = np.flatnonzero(
                bound * (1.0 + 1e-9) + 1e-12 >= theta
            )

    _score_kept(cursors, keep, ctx, dl_ids, dl_lens, heap, k)


def finalize_topk(
    heap: List[Tuple[float, int, int]],
    ctx: QueryContext,
    k: int,
    unmatched_doc_iter,
) -> List[Tuple[int, float]]:
    """Merge WAND winners with implicit C0-scored unmatched docs.

    ``unmatched_doc_iter`` yields doc_ids (ascending) that appear in no
    query-term posting list; consumed only if the heap can't fill k or
    C0 ties reach the cut.  (If the heap never filled, pruning never
    activated, so every matched doc is already in the heap — the
    caller can treat heap doc_ids as the complete matched set.)
    """
    winners = sorted(heap, key=lambda e: (-e[0], e[2]))
    c0 = ctx.c0
    need_fill = len(winners) < k or (winners and winners[-1][0] <= c0)
    if not need_fill:
        return [(e[2], e[0]) for e in winners[:k]]

    # merge: winners with score > c0 keep their slots; the C0 tier is
    # ordered by doc_id across matched-at-c0 and unmatched docs
    above = [(e[2], e[0]) for e in winners if e[0] > c0]
    at_c0 = sorted(e[2] for e in winners if e[0] <= c0)
    out = above[:k]
    slots = k - len(out)
    if slots <= 0:
        return out
    merged: List[int] = []
    it = iter(unmatched_doc_iter)
    nxt = next(it, None)
    mi = 0
    while slots > len(merged) and (nxt is not None or mi < len(at_c0)):
        if nxt is None or (mi < len(at_c0) and at_c0[mi] < nxt):
            merged.append(at_c0[mi])
            mi += 1
        else:
            merged.append(nxt)
            nxt = next(it, None)
    out.extend((d, c0) for d in merged)
    return out
