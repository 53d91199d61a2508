"""Codec round-trip + block-metadata property tests (SURVEY.md §5 plan #1)."""

import dataclasses

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from lean_explore_spark.index import codec
from lean_explore_spark.query import wand


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=300))
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip(values):
    arr = np.array(values, dtype=np.uint64)
    assert np.array_equal(codec.varint_decode(codec.varint_encode(arr)), arr)


def test_varint_known_bytes():
    assert codec.varint_encode(np.array([0], dtype=np.uint64)) == b"\x00"
    assert codec.varint_encode(np.array([127], dtype=np.uint64)) == b"\x7f"
    assert codec.varint_encode(np.array([128], dtype=np.uint64)) == b"\x80\x01"
    assert codec.varint_encode(np.array([300], dtype=np.uint64)) == b"\xac\x02"


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10**9),
            st.integers(min_value=1, max_value=500),
            st.integers(min_value=1, max_value=10_000),
        ),
        min_size=0,
        max_size=700,
        unique_by=lambda t: t[0],
    ),
    st.integers(min_value=4, max_value=256),
    st.data(),
)
@settings(max_examples=100, deadline=None)
def test_pack_roundtrip(postings, block_size, data):
    postings.sort()
    ids = np.array([p[0] for p in postings], dtype=np.int64)
    tfs = np.array([p[1] for p in postings], dtype=np.int64)
    dls = np.array([p[2] for p in postings], dtype=np.int64)
    packed = codec.pack_postings(ids, tfs, dls, avgdl=100.0, block_size=block_size)
    # ranks default to 0..n-1 -> the list is its own doc universe
    got_ids, got_tfs = codec.unpack_all(packed, ids)
    assert np.array_equal(got_ids, ids)
    assert np.array_equal(got_tfs, tfs)
    # any ascending subset of blocks decodes to its slice of the full list
    n_blocks = len(packed.block_first)
    subset = sorted(
        data.draw(st.sets(st.integers(0, max(n_blocks - 1, 0)), max_size=n_blocks))
    )
    in_subset = np.isin(np.arange(len(ids)) // block_size, subset)
    sel_ids, sel_tfs = codec.unpack_selected(packed, subset, ids)
    assert np.array_equal(sel_ids, ids[in_subset])
    assert np.array_equal(sel_tfs, tfs[in_subset])
    # block metadata invariants
    scores = codec.bm25_tf_part(tfs, dls, 100.0)
    for bi in range(len(packed.block_first)):
        lo = bi * block_size
        hi = min(lo + block_size, len(ids))
        assert packed.block_first[bi] == ids[lo]
        assert packed.block_last[bi] == ids[hi - 1]
        assert packed.block_max_score[bi] == scores[lo:hi].max()
        # upper bound property: no posting in the block beats max_score
        assert np.all(scores[lo:hi] <= packed.block_max_score[bi])


def test_single_block_decode_independent():
    ids = np.arange(0, 1000, 3, dtype=np.int64)
    tfs = np.ones(len(ids), dtype=np.int64)
    dls = np.full(len(ids), 50, dtype=np.int64)
    packed = codec.pack_postings(ids, tfs, dls, avgdl=50.0, block_size=64)
    d, t = codec.unpack_selected(packed, [2], ids)
    assert d[0] == packed.block_first[2]
    assert np.array_equal(d, ids[128:192])


def test_rejects_unsorted():
    with pytest.raises(ValueError):
        codec.pack_postings(
            np.array([5, 3], dtype=np.int64),
            np.array([1, 1], dtype=np.int64),
            np.array([10, 10], dtype=np.int64),
            avgdl=10.0,
        )


def test_unpack_for_block_pruned_candidates():
    """Candidate-restricted decode: equals the brute-force filter of a
    full decode, for candidate sets hitting one, several, or no
    blocks — and for ids absent from the list."""
    rng = np.random.default_rng(3)
    universe = np.sort(rng.choice(1 << 55, size=4000, replace=False)).astype(
        np.int64
    )
    sel = np.sort(rng.choice(4000, size=900, replace=False))
    ids = universe[sel]
    tfs = rng.integers(1, 9, size=900).astype(np.int64)
    dls = rng.integers(10, 300, size=900).astype(np.int64)
    packed = codec.pack_postings(
        ids, tfs, dls, avgdl=100.0, block_size=64, ranks=sel.astype(np.int64)
    )
    full_ids, full_tfs = codec.unpack_all(packed, universe)
    assert np.array_equal(full_ids, ids)
    for want in (
        ids[::7],  # spread across blocks
        ids[5:9],  # single block
        np.setdiff1d(universe, ids)[:50],  # present in universe, not in list
        np.array([1, 2, 3], dtype=np.int64),  # absent everywhere
    ):
        want = np.unique(want)
        got_i, got_t = codec.unpack_for(packed, want, universe)
        mask = np.isin(ids, want)
        assert np.array_equal(got_i, ids[mask])
        assert np.array_equal(got_t, tfs[mask])


def _corrupted(n, block, how):
    """A list of ``n`` postings (block size 64, 2-byte rank gaps and
    tfs) whose directory disagrees with its payload in ``block``."""
    universe = np.arange(0, 1000 * n, 5, dtype=np.int64)
    ranks = np.arange(0, 150 * n, 150, dtype=np.int64)  # 2-byte gaps
    ids = universe[ranks]
    tfs = np.arange(200, 200 + n, dtype=np.int64)
    packed = codec.pack_postings(
        ids, tfs, np.full(n, 50), avgdl=50.0, block_size=64, ranks=ranks
    )
    count = packed.block_count.copy()
    gap_b = packed.block_gap_bytes.copy()
    tf_b = packed.block_tf_bytes.copy()
    if how == "count+1":
        count[block] += 1
    elif how == "count-1":
        count[block] -= 1
    else:  # counts still match, but the gap range ends inside a tf
        gap_b[block] += 1
        tf_b[block] -= 1
    bad = dataclasses.replace(
        packed, block_count=count, block_gap_bytes=gap_b, block_tf_bytes=tf_b
    )
    return bad, ids, universe


@pytest.mark.parametrize("how", ["count+1", "count-1", "split"])
@pytest.mark.parametrize("n,block", [(40, 0), (200, 1)])
def test_corrupted_directory_raises(n, block, how):
    """A block directory that disagrees with the payload must raise
    ValueError from every reader — never decode into shifted postings."""
    bad, ids, universe = _corrupted(n, block, how)
    with pytest.raises(ValueError):
        codec.unpack_all(bad, universe)
    with pytest.raises(ValueError):
        codec.unpack_selected(bad, [block], universe)
    with pytest.raises(ValueError):
        codec.unpack_for(bad, ids[64 * block : 64 * block + 3], universe)
    ctx = wand.QueryContext([0], np.array([1.0]), codec.K1, codec.B, 1.0, 50.0)
    cursor = wand.TermCursor(bad, 0, universe)
    lens = np.full(len(universe), 50, dtype=np.int64)
    with pytest.raises(ValueError):
        wand.wand_shard([cursor], ctx, universe, lens, [], k=len(universe))


def _segment_table(lists, dirs=None):
    """A postings table of one shard, one row per ``(term, packed)``,
    in the reader's column layout; ``dirs`` overrides a term's
    block-directory arrays."""
    import pyarrow as pa

    dirs = dirs or {}
    cols = {"shard": pa.array([0] * len(lists), pa.int32()),
            "term": [t for t, _ in lists],
            "df_shard": pa.array([p.count for _, p in lists], pa.int64())}
    for f in dataclasses.fields(codec.PackedPostings):
        if f.name.startswith("block_"):
            cols[f.name] = [
                dirs.get(t, {}).get(f.name, getattr(p, f.name)).tolist()
                for t, p in lists
            ]
    cols["payload"] = pa.array([bytes(p.payload) for _, p in lists], pa.binary())
    return pa.table(cols)


@pytest.mark.parametrize("how", ["next_row_block", "count+1", "bytes+1"])
def test_corrupted_row_in_segment_never_reads_its_neighbour(how):
    """In a segment's flat payload buffer every row's bytes sit next to
    the next row's.  A directory that overstates its row's bytes or
    counts must raise ValueError when that row is decoded, never decode
    the neighbour's bytes — here the worst case too: a phantom block
    whose directory entry is exactly the next row's, which a view not
    bounded by its own row would decode cleanly into the next row's
    postings.  The neighbours still decode exactly."""
    from lean_explore_spark.query.search import SegmentPostings

    universe = np.arange(0, 5000, 5, dtype=np.int64)
    lists, want = [], {}
    for i, t in enumerate(["alpha", "bravo", "charlie"]):
        ranks = np.arange(i, 900, 7 + i, dtype=np.int64)
        tfs = np.arange(1, len(ranks) + 1, dtype=np.int64) % 5 + 1
        lists.append((t, codec.pack_postings(
            universe[ranks], tfs, np.full(len(ranks), 50), avgdl=50.0,
            block_size=64, ranks=ranks,
        )))
        want[t] = (universe[ranks], tfs)
    bad = {name: getattr(lists[1][1], name).copy() for name in (
        "block_first", "block_last", "block_count", "block_gap_bytes",
        "block_tf_bytes", "block_max_score")}
    if how == "next_row_block":
        nxt = lists[2][1]
        bad = {k: np.concatenate([v, getattr(nxt, k)[:1]]) for k, v in bad.items()}
    elif how == "count+1":
        bad["block_count"][-1] += 1
    else:
        bad["block_tf_bytes"][-1] += 1
    seg = SegmentPostings(_segment_table(lists, {"bravo": bad}))
    [rows] = seg.by_shard(["alpha", "bravo", "charlie"]).values()
    rows = dict(rows)
    assert set(rows) == {"alpha", "bravo", "charlie"}
    last = len(rows["bravo"].block_first) - 1
    with pytest.raises(ValueError):
        codec.unpack_all(rows["bravo"], universe)
    with pytest.raises(ValueError):
        codec.unpack_selected(rows["bravo"], [last], universe)
    for t in ("alpha", "charlie"):
        d, tf = codec.unpack_all(rows[t], universe)
        assert np.array_equal(d, want[t][0]) and np.array_equal(tf, want[t][1])
    # a row whose directory columns disagree on its block count is
    # refused when the segment is built
    short = dict(bad, block_max_score=bad["block_max_score"][:-1])
    with pytest.raises(ValueError):
        SegmentPostings(_segment_table(lists, {"bravo": short}))


def test_cursor_construction_decodes_nothing(monkeypatch):
    """A TermCursor is a view: constructing one decodes nothing, and a
    bulk kernel decodes each list exactly once."""
    ids = np.arange(0, 600, 3, dtype=np.int64)
    packed = codec.pack_postings(
        ids, np.ones(len(ids), dtype=np.int64), np.full(len(ids), 50),
        avgdl=50.0, block_size=64,
    )

    def boom(*args):
        raise AssertionError("decoded at construction")

    monkeypatch.setattr(codec, "varint_decode", boom)
    cursors = [wand.TermCursor(packed, u, ids) for u in range(2)]
    monkeypatch.undo()
    calls = []
    decode = codec.varint_decode

    def counting(buf):
        calls.append(len(buf))
        return decode(buf)

    monkeypatch.setattr(codec, "varint_decode", counting)
    ctx = wand.QueryContext([0, 1], np.ones(2), codec.K1, codec.B, 1.0, 50.0)
    lens = np.full(len(ids), 50, dtype=np.int64)
    wand.bulk_score_shard(cursors, ctx, ids, lens, [], k=10)
    assert len(calls) == len(cursors)
